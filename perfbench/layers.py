"""Per-layer probes of a traced run.

Each probe times calls into one engine module's public functions, or
reads what the engine writes, from outside: nothing here changes
engine code. Layer names follow the package's modules (``session``,
``operators.tokens``, ``operators.corpus_stats``,
``operators.postings``, ``operators.codec``, ``plans.build``,
``operators.wand``, ``api``). The query decomposition follows
``tools/latency_floor_bench.py``: job floor, scan, identity kernel,
in-kernel time, then the full query.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

import indexfiles
from gen import Corpus
from ops import K, Oracle, corpus_frame, hits, kw, kw_batch

REPS = 3  # samples per probe after one warm call; each reports the median
N_APPEND = 400  # docs per lifecycle append (ids disjoint from the base)


def p50(fn, reps: int = REPS) -> float:
    fn()  # warm
    xs = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t)
    return statistics.median(xs)


def span_counts(span: dict) -> dict:
    return {k: span[k] for k in ("jobs", "tasks", "failed_tasks")}


def span_seconds(span: dict) -> float:
    """The call's own time: a span's bounds exclude its bookkeeping."""
    return span["end"] - span["start"]


def _median_of(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


# -- plans.build and the build operators ---------------------------------------
def build_stage_metrics(bench, recs: list[dict]) -> None:
    """Stage times and sizes of this run's measured builds."""
    n = len(recs)
    bench.layer("tokens.tf_stage_s", _median_of(recs, "tf_stage_s"), "s", n)
    bench.layer("corpus_stats.stats_stage_s", _median_of(recs, "stats_stage_s"), "s", n)
    bench.layer("postings.stage_s", _median_of(recs, "postings_stage_s"), "s", n)
    bench.layer("postings.blocks", _median_of(recs, "postings_blocks"), "count", n)
    bench.layer("postings.bytes", _median_of(recs, "postings_bytes"), "bytes", n)
    bench.layer("build.manifest_stage_s", _median_of(recs, "manifest_stage_s"), "s", n)
    bench.layer("build.jobs", _median_of(recs, "jobs"), "count", n)
    bench.layer("build.tasks", _median_of(recs, "tasks"), "count", n)
    bench.layer("build.failed_tasks", _median_of(recs, "failed_tasks"), "count", n)


def facade_index(bench, docs, path: str):
    """Facade constructor plus ``build_index`` at ``path`` (timed as
    ``api.setup_build_s``); resumes an index already built there."""
    from top2vec_spark import Top2VecSpark

    t = time.perf_counter()
    eng = Top2VecSpark(bench.spark, docs)
    op, index, _ = bench.run_op("api.setup_build", lambda: eng.build_index(path))
    bench.layer("api.setup_build_s", time.perf_counter() - t, "s")
    return eng, index, op


# -- session -------------------------------------------------------------------
def job_floor(bench) -> None:
    trivial = bench.spark.range(0, bench.nproc, 1, bench.nproc)
    bench.layer("session.job_floor_s", p50(trivial.count, 9), "s", 9)


# -- operators.wand ------------------------------------------------------------
def _identity(pdf: pd.DataFrame) -> pd.DataFrame:
    """Zero-work shard kernel: Arrow in, one row out."""
    return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "n": [len(pdf)]})


@contextmanager
def count_decoded():
    """Count the blocks this process passes to ``codec.decode_blocks``
    (the WAND kernel looks the function up on every call)."""
    from top2vec_spark.operators import codec

    orig = codec.decode_blocks
    box = [0]

    def counting(doc_bytes_list, tf_bytes_list, counts):
        box[0] += len(doc_bytes_list)
        return orig(doc_bytes_list, tf_bytes_list, counts)

    codec.decode_blocks = counting
    try:
        yield box
    finally:
        codec.decode_blocks = orig


def wand_decomposition(bench, eng, index, q):
    """Split one query over ``wand_topk`` into plan, scan, dispatch,
    kernel and the full top-k. Returns the full top-k as a call."""
    from pyspark.sql import functions as F

    from top2vec_spark.operators.bm25 import resolve_query_terms
    from top2vec_spark.operators.wand import make_shard_kernel, tomb_fingerprint, wand_topk

    spark, globs, cfg = bench.spark, eng.globals, eng.cfg
    qterms = resolve_query_terms(eng.vocab_map, list(q[0]), list(q[1]))

    def plan():
        return wand_topk(spark, index, qterms, globs, K, cfg=cfg)

    plan_s = p50(plan)
    topk_s = p50(lambda: plan().collect())
    full = [(r["doc_id"], r["score"]) for r in plan().collect()]

    qinfo = {
        int(tid): (float(sign), math.log(1.0 + (globs.n_docs - df + 0.5) / (df + 0.5)))
        for _, tid, df, sign in qterms
    }
    tids = sorted(qinfo)
    blocks = index.postings.filter(
        F.col("bucket").isin(sorted({t % index.n_buckets for t in tids}))
        & F.col("term_id").isin(tids)
    )
    scan_s = p50(blocks.count)
    ident = blocks.groupBy("shard").applyInPandas(_identity, "shard int, n long")
    ident_s = p50(ident.collect)

    # the real shard kernel, in this process, over the same blocks
    pdf = blocks.toPandas()
    tomb = index.tombstones_path
    kernel = make_shard_kernel(
        qinfo, K, cfg.k1, cfg.b, globs.avgdl, frozenset(), index.doc_stats_path,
        fresh_stats=index.stats_fresh, build_id=index.build_id,
        tomb_path=tomb, tomb_version=tomb_fingerprint(tomb),
    )
    shards = [g for _, g in pdf.groupby("shard")]

    def run_kernel():
        t, outs = 0.0, []
        for g in shards:
            t0 = time.perf_counter()
            outs.append(kernel(g))
            t += time.perf_counter() - t0
        return t, outs

    run_kernel()  # warm the dl side-read
    kernel_s = statistics.median(run_kernel()[0] for _ in range(REPS))
    with count_decoded() as decoded:
        _, outs = run_kernel()
    merged = pd.concat(outs).sort_values(["score", "doc_id"], ascending=[False, True]).head(K)
    bench.verify(
        list(zip(merged["doc_id"].tolist(), merged["score"].tolist())) == full,
        "in-process shard kernels disagree with wand_topk",
    )

    bench.layer("wand.plan_s", plan_s, "s", REPS)
    bench.layer("wand.scan_s", scan_s, "s", REPS)
    bench.layer("wand.dispatch_s", ident_s - scan_s, "s", REPS)
    bench.layer("wand.kernel_s", kernel_s, "s", REPS)
    bench.layer("wand.topk_s", topk_s, "s", REPS)
    bench.layer("wand.blocks_scanned", len(pdf), "count")
    bench.layer("wand.blocks_decoded", decoded[0], "count")
    bench.layer("wand.decode_ratio", decoded[0] / max(len(pdf), 1), "ratio")
    bench.note("wand.kernel_share_of_topk", kernel_s / topk_s, "ratio")
    return lambda: plan().collect()


# -- api -----------------------------------------------------------------------
def api_probes(bench, eng, pool, oracle: Oracle, topk) -> None:
    """The three facade ops on the two-head-term query (pool[0]):
    facade cost over the same query's ``wand_topk`` (``topk``), run
    alternately with it; fetch-back cost; jobs per op. Then the
    tracing overhead: the same ``kw`` with tracing off."""
    head = pool[0]
    runs = {"topk": [], "kw": [], "kw_docs": [], "kw_batch": []}
    picks = [i % len(pool) for i in range(32)]
    for _ in range(REPS):
        runs["topk"].append(bench.run_op("probe.topk", topk))
        runs["kw"].append(bench.run_op("probe.kw", lambda: kw(eng, head)))
    for kind, fn in (
        ("kw_docs", lambda: kw(eng, head, return_documents=True)),
        ("kw_batch", lambda: kw_batch(eng, pool, picks)),
    ):
        for _ in range(REPS):
            runs[kind].append(bench.run_op(f"probe.{kind}", fn))
    for op, rows, _ in runs["topk"] + runs["kw"] + runs["kw_docs"]:
        if rows is not None:
            bench.check(op, hits(rows) == oracle(head), "probe kw != brute force")
    for op, rows, _ in runs["kw_batch"]:
        if rows is not None:
            ok = all(rows[f"q{i}"] == oracle(pool[j]) for i, j in enumerate(picks))
            bench.check(op, ok, "probe kw_batch != brute force")

    def med(kind):
        return statistics.median(map(span_seconds, bench.tracer.of(f"probe.{kind}")))

    def jobs(kind):
        return statistics.median(s["jobs"] for s in bench.tracer.of(f"probe.{kind}"))

    bench.layer("api.overhead_s", med("kw") - med("topk"), "s", REPS)
    bench.layer("api.project_s", med("kw_docs") - med("kw"), "s", REPS)
    bench.layer("api.kw_docs_p50_s", med("kw_docs"), "s", REPS)
    bench.layer("api.jobs_per_kw", jobs("kw"), "count", REPS)
    bench.layer("api.jobs_per_kw_docs", jobs("kw_docs"), "count", REPS)
    bench.layer("api.jobs_per_batch", jobs("kw_batch"), "count", REPS)

    # traced minus untraced wall time of one kw, alternating the two
    walls = {True: [], False: []}
    for _ in range(REPS):
        for traced in (True, False):
            bench.tracer.enabled = traced
            op, rows, dt = bench.run_op("probe.kw_overhead", lambda: kw(eng, head))
            walls[traced].append(dt)
            if rows is not None:
                bench.check(op, hits(rows) == oracle(head), "probe kw != brute force")
    bench.tracer.enabled = True
    overhead = statistics.median(walls[True]) - statistics.median(walls[False])
    bench.layer("trace.overhead_s", overhead, "s", REPS)


# -- operators.codec -----------------------------------------------------------
def codec_probes(bench, index, head_tids: list[int]) -> None:
    """Decode the head terms' stored blocks with ``codec.decode_blocks``
    and re-encode them with ``postings.encode_sorted_run``; the
    re-encoded bytes must equal the stored ones."""
    import pyarrow.dataset as ds

    from top2vec_spark.config import POSTING_BLOCK_SIZE
    from top2vec_spark.operators.codec import decode_blocks
    from top2vec_spark.operators.postings import encode_sorted_run

    tab = indexfiles.postings_dataset(index.path).to_table(
        filter=ds.field("term_id").isin(head_tids),
        columns=["term_id", "shard", "block_id", "n", "doc_ids", "tfs"],
    )
    pdf = tab.to_pandas().sort_values(["term_id", "shard", "block_id"], ignore_index=True)
    doc_b, tf_b, counts = pdf["doc_ids"].tolist(), pdf["tfs"].tolist(), pdf["n"].tolist()
    stored = sum(map(len, doc_b)) + sum(map(len, tf_b))
    decode_s = p50(lambda: decode_blocks(doc_b, tf_b, counts), 9)
    decoded = decode_blocks(doc_b, tf_b, counts)

    runs = []
    for (tid, shard), g in pdf.groupby(["term_id", "shard"], sort=True):
        parts = [decoded[i] for i in g.index]
        d = np.concatenate([p[0] for p in parts])
        t = np.concatenate([p[1] for p in parts])
        runs.append((int(tid), int(shard), d, t))

    def encode():
        out: list = []
        for tid, shard, d, t in runs:
            encode_sorted_run(
                tid, shard, d, t, np.zeros(d.size), np.ones(d.size, dtype=np.int64),
                POSTING_BLOCK_SIZE, out,
            )
        return out

    encode_s = p50(encode, 9)
    enc = encode()
    bench.verify(
        [r[4] for r in enc] == doc_b and [r[5] for r in enc] == tf_b,
        "re-encoded head-term blocks differ from the stored blocks",
    )
    bench.layer("codec.encode_mb_per_s", stored / 1e6 / encode_s, "MB/s", 9)
    bench.layer("codec.decode_mb_per_s", stored / 1e6 / decode_s, "MB/s", 9)


# -- plans.build: the index lifecycle ------------------------------------------
def lifecycle(bench, eng, index_path: str, vocab, pool, n_base: int) -> None:
    """One append, one delete and one compaction through the facade,
    each followed by two keyword queries (the first pays lazy
    re-derivation) on the uncached index the mutation returns, checked
    against the brute-force path of the mutated engine."""
    new = Corpus(vocab, N_APPEND, bench.seed, first_id=n_base)
    new_docs = corpus_frame(bench, new, "append")
    rng = np.random.default_rng([bench.seed, 5])
    first, after = [], []

    def queries(e, q, deleted=frozenset(), cache=False):
        oracle = Oracle(e, deleted, cache)
        for i in range(2):
            op, rows, dt = bench.run_op("lifecycle.kw", lambda: kw(e, q))
            (after if i else first).append(dt)
            if rows is not None:
                bench.check(op, hits(rows) == oracle(q), "kw after write != brute force")

    _, eng1, append_s = bench.run_op("lifecycle.append", lambda: eng.add_documents(new_docs))
    queries(eng1, pool[1], cache=True)  # the delete check reuses them
    dels = sorted(int(i) for i in rng.choice(n_base, max(1, n_base // 100), replace=False))
    _, _, delete_s = bench.run_op("lifecycle.delete", lambda: eng1.delete_documents(dels))
    queries(eng1, pool[2], dels)
    epochs = indexfiles.epoch_dirs(index_path)
    _, _, compact_s = bench.run_op("lifecycle.compact", lambda: eng1.compact_index())
    queries(eng1, pool[3], dels)

    (app,) = bench.tracer.of("lifecycle.append")
    (dele,) = bench.tracer.of("lifecycle.delete")
    (comp,) = bench.tracer.of("lifecycle.compact")
    bench.layer("lifecycle.append_s", append_s, "s")
    bench.layer("lifecycle.delete_s", delete_s, "s")
    bench.layer("lifecycle.compact_s", compact_s, "s")
    bench.layer("lifecycle.kw_first_after_write_s", statistics.median(first), "s", len(first))
    bench.layer("lifecycle.kw_after_write_p50_s", statistics.median(after), "s", len(after))
    bench.layer("lifecycle.append_jobs", app["jobs"], "count")
    bench.layer("lifecycle.append_tasks", app["tasks"], "count")
    bench.layer("lifecycle.delete_jobs", dele["jobs"], "count")
    bench.layer("lifecycle.compact_jobs", comp["jobs"], "count")
    bench.layer("lifecycle.compact_tasks", comp["tasks"], "count")
    bench.layer(
        "lifecycle.compact_postings_stage_s",
        indexfiles.stage_seconds(index_path, None)["postings_stage_s"],
        "s",
    )
    bench.layer("lifecycle.epoch_dirs", epochs, "count")


# -- all probes of a traced run ------------------------------------------------
def common_probes(bench, eng, index, corpus, vocab, pool, oracle=None) -> None:
    """Every per-layer probe that needs a facade engine over a built
    index. Order matters: the lifecycle mutates the index last."""
    oracle = oracle or Oracle(eng)
    oracle.prefetch(pool, bench.nproc)
    job_floor(bench)
    topk = wand_decomposition(bench, eng, index, pool[0])
    api_probes(bench, eng, pool, oracle, topk)
    vmap = eng.vocab_map
    codec_probes(bench, index, [vmap[w][0] for w in pool[0][0]])
    lifecycle(bench, eng, index.path, vocab, pool, len(corpus))
