"""The ``build`` and ``serve`` workloads.

Each runner sets up (generate, write parquet, build, warm up), marks
the end of set-up, runs its closed loop of ops for ``bench.seconds``
(one client: this thread), checks every result outside the timed
ops, and records its metrics. A traced run then adds the per-layer
probes of ``layers.py``.
"""

from __future__ import annotations

import shutil
import statistics
import time

import numpy as np

import indexfiles
import layers
from gen import Corpus, QueryMix, Vocabulary
from ops import Oracle, corpus_frame, hits, kw, kw_batch

BUILD_DOCS = 1_000  # corpus of each timed build
MIN_BUILDS = 5  # timed builds per untraced run, even past --seconds
WARMUP_DOCS = 500  # corpus of build's untimed warm-up build
SERVE_DOCS = 1_000  # served corpus; its cold set-up build dominates a run
POOL = 16  # distinct keyword queries per serve run
BATCH = 32  # queries per kw_batch op: every pool query twice
# serve's closed loop repeats this op cycle. Most ops are kw, the op
# of op_p50_s (on a 4-vCPU VM a kw takes ~0.35 s, a kw_docs ~1.1 s and
# a kw_batch ~0.5 s)
CYCLE = ("kw_docs",) + ("kw",) * 6 + ("kw_batch",) + ("kw",) * 6


def timed_build(bench, docs, corpus: Corpus, path: str, kind: str) -> dict:
    """One full ``IndexBuilder.build_from_docs`` (the spark-submit
    path) into a fresh dir, then its checks and stage record."""
    from top2vec_spark.plans.build import IndexBuilder

    wall0 = time.time()
    op, _, dt = bench.run_op(
        kind,
        lambda: IndexBuilder(bench.spark, path).build_from_docs(docs, resume=False),
    )
    rec = indexfiles.build_record(path, wall0, len(corpus), corpus.text_bytes)
    rec["seconds"] = dt
    for why in rec.pop("errors"):
        bench.fail(op, why)
    if bench.traced:
        rec.update(layers.span_counts(bench.tracer.of(kind)[-1]))
    return rec


# -- build -------------------------------------------------------------------
def run_build(bench) -> None:
    vocab = Vocabulary(bench.seed)
    corpus = Corpus(vocab, BUILD_DOCS, bench.seed)
    docs = corpus_frame(bench, corpus, "corpus")
    # one untimed build of a small corpus: JIT compilation and Python
    # worker start-up happen here, not in the first timed build
    small = Corpus(vocab, WARMUP_DOCS, bench.seed, first_id=BUILD_DOCS)
    warm = corpus_frame(bench, small, "warmup")
    timed_build(bench, warm, small, f"{bench.work}/idx_warmup", "setup.build")
    shutil.rmtree(f"{bench.work}/idx_warmup", ignore_errors=True)
    bench.setup_done()

    recs: list[dict] = []
    start = time.perf_counter()
    # a traced run measures layers, not the end-to-end median: it
    # takes its stage metrics from the builds of one window
    min_builds = 1 if bench.traced else MIN_BUILDS
    while len(recs) < min_builds or time.perf_counter() - start < bench.seconds:
        path = f"{bench.work}/idx_{len(recs)}"
        recs.append(timed_build(bench, docs, corpus, path, "plans.build"))
        if len(recs) > 1:
            shutil.rmtree(f"{bench.work}/idx_{len(recs) - 2}", ignore_errors=True)

    secs = [r["seconds"] for r in recs]
    ratio = statistics.median(r["index_bytes"] for r in recs) / corpus.text_bytes
    bench.e2e("setup_s", bench.setup_s, "s")
    bench.e2e("op_p50_s", statistics.median(secs), "s", len(secs))
    # docs indexed per second of the median build
    bench.e2e("throughput_per_s", len(corpus) / statistics.median(secs), "1/s", len(secs))
    bench.e2e("index_bytes_per_input_byte", ratio, "ratio", len(recs))

    if bench.traced:
        layers.build_stage_metrics(bench, recs)
        # the facade adopts the last timed build: build_index resumes
        # every stage from its markers (same docs, same parameters)
        eng, index, _ = layers.facade_index(bench, docs, f"{bench.work}/idx_{len(recs) - 1}")
        pool = QueryMix(vocab, corpus.doc_freq(), bench.seed).pool(POOL)
        layers.common_probes(bench, eng, index, corpus, vocab, pool)


# -- serve -------------------------------------------------------------------
def run_serve(bench) -> None:
    vocab = Vocabulary(bench.seed)
    corpus = Corpus(vocab, SERVE_DOCS, bench.seed)
    docs = corpus_frame(bench, corpus, "corpus")
    pool = QueryMix(vocab, corpus.doc_freq(), bench.seed).pool(POOL)
    batch = list(range(POOL)) * (BATCH // POOL)

    path = f"{bench.work}/serve_idx"
    wall0 = time.time()
    eng, index, op = layers.facade_index(bench, docs, path)
    rec = indexfiles.build_record(path, wall0, len(corpus), corpus.text_bytes)
    for why in rec.pop("errors"):
        bench.fail(op, why)
    if bench.traced:
        rec.update(layers.span_counts(bench.tracer.of("api.setup_build")[-1]))
    t = time.perf_counter()
    index.cache()
    bench.note("setup.cache_s", time.perf_counter() - t, "s")

    rng = np.random.default_rng([bench.seed, 4])

    # warm-up: the first query derives the driver vocab map, globals
    # and id bounds; the first of each op type starts its code path
    t = time.perf_counter()
    kw(eng, pool[0])
    kw(eng, pool[0], return_documents=True)
    kw_batch(eng, pool, batch)
    bench.note("setup.warmup_s", time.perf_counter() - t, "s")
    bench.setup_done()

    oracle = Oracle(eng)
    todo = list(pool)  # queries the check still needs a brute-force answer for
    check_s = 0.0
    lat: dict[str, list[float]] = {"kw": [], "kw_docs": [], "kw_batch": []}
    seen: list[tuple[int, str, object, object]] = []  # (op, kind, picks, rows)
    busy = 0.0  # seconds in timed ops: the window
    # whole cycles, so every window has the same op mix. A traced run
    # measures layers, not the end-to-end medians: one cycle
    while not seen or (not bench.traced and busy < bench.seconds):
        for kind in CYCLE:
            if kind == "kw_batch":
                picks = batch
                op, rows, dt = bench.run_op("api.kw_batch", lambda: kw_batch(eng, pool, batch))
            else:
                picks = int(rng.integers(0, POOL))
                docs_too = kind == "kw_docs"
                op, rows, dt = bench.run_op(
                    f"api.{kind}",
                    lambda: kw(eng, pool[picks], return_documents=docs_too),
                )
            lat[kind].append(dt)
            busy += dt
            seen.append((op, kind, picks, rows))
        # between cycles, untimed: a share of the check's brute-force
        # answers. The host's speed drifts over tens of seconds, and
        # the gaps spread the window's samples over more of that drift
        t = time.perf_counter()
        oracle.prefetch(todo[: bench.nproc], bench.nproc)
        del todo[: bench.nproc]
        check_s += time.perf_counter() - t

    # correctness, outside the timed ops: every result against the
    # brute-force answer of its query (rank and float64 score identical)
    t = time.perf_counter()
    oracle.prefetch(todo, bench.nproc)
    for op, kind, picks, rows in seen:
        if rows is None:
            continue
        if kind == "kw_batch":
            for i, j in enumerate(picks):
                bench.check(op, rows[f"q{i}"] == oracle(pool[j]), f"kw_batch q{i} != brute force")
            continue
        bench.check(op, hits(rows) == oracle(pool[picks]), f"{kind} != brute force")
        if kind == "kw_docs":
            bench.check(
                op,
                all(r["text"] == corpus.texts[r["doc_id"]] for r in rows),
                "kw_docs returned the wrong text",
            )

    bench.note("check_s", check_s + time.perf_counter() - t, "s")
    kw_s = lat["kw"]
    bench.note("kw_min_s", min(kw_s), "s", len(kw_s))
    bench.e2e("setup_s", bench.setup_s, "s")
    bench.e2e("op_p50_s", statistics.median(kw_s), "s", len(kw_s))
    # queries answered per second spent in timed ops, all op types
    answered = len(lat["kw"]) + len(lat["kw_docs"]) + BATCH * len(lat["kw_batch"])
    bench.e2e("throughput_per_s", answered / busy, "1/s", len(seen))
    bench.note("batch_qps", BATCH / statistics.median(lat["kw_batch"]), "1/s", len(lat["kw_batch"]))
    bench.e2e("index_bytes_per_input_byte", rec["index_bytes"] / corpus.text_bytes, "ratio")
    if len(kw_s) >= 20:
        # highest percentile with at least ten samples beyond it
        pct = min(90, int(100 * (1 - 10 / len(kw_s))))
        bench.note(f"kw_p{pct}_s", float(np.percentile(kw_s, pct)), "s", len(kw_s))
    bench.note("kw_docs_p50_s", statistics.median(lat["kw_docs"]), "s", len(lat["kw_docs"]))
    if bench.traced:
        layers.build_stage_metrics(bench, [rec])
        layers.common_probes(bench, eng, index, corpus, vocab, pool, oracle)


RUNNERS = {"build": run_build, "serve": run_serve}
