"""Block-max WAND top-k over the compressed postings (SURVEY.md §7.2
step 7; replaces the reference's brute dense scan, top2vec.py:1276-1282).

Distributed shape: the index is document-partitioned by contiguous
doc_id shards (operators/postings.py), so every shard holds a complete
sub-index for its doc range. The query plan is:

    postings.filter(bucket ∈ Q ∧ term_id ∈ Q)     <- partition-pruned scan
      groupBy(shard).applyInPandas(shard kernel)   -> ≤k rows/shard
      ORDER BY score DESC, doc_id LIMIT k          <- TakeOrderedAndProject

With a bucketed serving table (PostingsIndex.register_bucketed:
bucketBy(shard) + partitionBy(bucket)), the scan's HashPartitioning
already satisfies the groupBy's ClusteredDistribution, so the plan has
NO Exchange at all between scan and kernel (pinned by
tests/test_wand.py::test_bucketed_serving_no_exchange) — matching
blocks are read where they live instead of reshuffled per query, which
is the difference between O(query-blocks moved) and O(0 moved) on a
head-term query at 10^12 docs.

Document lengths (dl) are NOT shuffled per query: the index build
writes doc_stats partitioned by shard (plans/build.py), and the kernel
side-reads only its own shard's parquet file — the Spark analogue of
the memory-mapped doc-length sidecar every IR engine keeps per shard.
Cogrouping doc_stats instead would shuffle N rows per query — fatal at
10^12 docs. The only data movement is each shard's ≤k-row result to
the driver merge.

Shard kernel = vectorized block-max pruning, mathematically the BMW
invariant (a doc is skipped only when its block-max upper bound is
below the current kth score θ — admissible, hence exact):

1. Seed θ: fully score the docs of the top seed blocks by
   block_max_score.
2. Build the positive-term upper-bound step function from
   (first_doc_id, last_doc_id, block_max_score) block metadata.
3. Keep blocks intersecting regions with UB >= θ; decode only those.
4. Exactly score the surviving candidates: per term, covering block
   via searchsorted on block firsts, tf via searchsorted inside the
   decoded block; accumulate in ascending-term_id order (bit-identical
   to the brute scorer's sorted aggregate).
5. Negative terms never raise a score, so they are excluded from the
   bound (admissible) and only looked up at scoring time.

Everything inside the kernel is numpy over Arrow batches — no per-row
Python.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top2vec_spark.config import BM25Config
from top2vec_spark.operators.corpus_stats import CorpusGlobals

_SEED_BLOCKS = 4  # blocks fully scored to seed the pruning threshold

# dl sidecar cache: Spark reuses Python workers across queries
# (spark.python.worker.reuse), so warm queries skip the per-shard
# parquet read. Keyed by (stats_path, build_id, shard): appends create
# NEW shards (existing entries stay valid), and a full REBUILD at the
# same path gets a fresh build_id, so stale doc lengths from a prior
# corpus can never serve a rebuilt index.
_DL_CACHE: dict = {}


def _score_tf(tf, dl, idf, k1, b, avgdl):
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


# tombstone sidecar cache, same lifecycle as _DL_CACHE but keyed by a
# driver-computed fingerprint of the tombstone file set: deletes APPEND
# files, so the fingerprint changes and stale cached arrays never serve
_TOMB_CACHE: dict = {}


def tomb_fingerprint(tomb_path: str | None) -> str:
    """Driver-side tombstone-set version: hash of the sorted parquet
    file names under the dir (one cheap local listdir per query plan).
    Empty string when no tombstones exist."""
    if not tomb_path or not os.path.isdir(tomb_path):
        return ""
    names = []
    for root, _, files in os.walk(tomb_path):
        rel = os.path.relpath(root, tomb_path)
        names += [f"{rel}/{f}" for f in files if f.endswith(".parquet")]
    if not names:
        return ""
    return hashlib.md5("|".join(sorted(names)).encode()).hexdigest()


def _load_tomb_sidecar(
    tomb_path: str | None, version: str, shard: int
) -> np.ndarray:
    """This shard's tombstoned doc_ids, worker-cached. The exclusion
    set never rides in the task closure: each kernel reads only its
    own shard's partition of the tombstone table (like the dl
    sidecar), so 10^8 accumulated deletes don't serialize into every
    query."""
    if not tomb_path or not version:
        return np.empty(0, dtype=np.int64)
    key = (tomb_path, version, shard)
    got = _TOMB_CACHE.get(key)
    if got is not None:
        return got
    sub = f"{tomb_path}/shard={shard}"
    if os.path.isdir(sub):
        arr = np.unique(
            pd.read_parquet(sub, columns=["doc_id"])["doc_id"].to_numpy(
                np.int64
            )
        )
    else:
        arr = np.empty(0, dtype=np.int64)
    if len(_TOMB_CACHE) > 256:
        _TOMB_CACHE.clear()
    _TOMB_CACHE[key] = arr
    return arr


def _shard_exclude(
    exclude: frozenset, tomb_path: str | None, version: str, shard: int
) -> np.ndarray:
    """Query-side exclusions (tiny, closure-shipped) ∪ this shard's
    tombstones (side-read) as one sorted int64 array."""
    q = (
        np.fromiter(exclude, dtype=np.int64)
        if exclude
        else np.empty(0, dtype=np.int64)
    )
    t = _load_tomb_sidecar(tomb_path, version, shard)
    if t.size and q.size:
        return np.union1d(q, t)
    return t if t.size else np.unique(q)


def _load_dl_sidecar(stats_path: str, build_id: str, shard: int):
    """Shard dl lookup arrays, worker-cached (see _DL_CACHE)."""
    cache_key = (stats_path, build_id, shard)
    cached = _DL_CACHE.get(cache_key)
    if cached is not None:
        return cached
    stats_pdf = pd.read_parquet(
        f"{stats_path}/shard={shard}", columns=["doc_id", "dl"]
    )
    if stats_pdf.empty:
        return None
    s_ids = stats_pdf["doc_id"].to_numpy().astype(np.int64)
    s_order = np.argsort(s_ids)
    s_ids = s_ids[s_order]
    s_dl = stats_pdf["dl"].to_numpy().astype(np.float64)[s_order]
    if len(_DL_CACHE) > 256:
        _DL_CACHE.clear()
    _DL_CACHE[cache_key] = (s_ids, s_dl)
    return s_ids, s_dl


def _build_term_structs(
    blocks_pdf: pd.DataFrame,
    idf_of: dict[int, float],
    fresh_stats: bool,
    k1: float,
    b: float,
    avgdl: float,
) -> dict[int, dict]:
    """Per-term block metadata + decode cache — QUERY-INDEPENDENT
    (idf depends only on the index + globals; sign is per query and
    lives in qinfo). Shared across all queries of a batched call, so
    a block is decoded at most once per shard per job.

    ``fresh_stats=False`` (after incremental appends shifted
    N/avgdl/df): stored block_max_score values were computed under OLD
    stats and may UNDER-estimate current scores — pruning with them
    would be unsound; admissible bounds are recomputed from the
    stat-independent (block_max_tf, block_min_dl) metadata under the
    CURRENT idf/avgdl."""
    terms: dict[int, dict] = {}
    for tid, grp in blocks_pdf.groupby("term_id"):
        grp = grp.sort_values(["shard", "block_id"], kind="stable")
        idf = idf_of[int(tid)]
        if fresh_stats:
            maxs = grp["block_max_score"].to_numpy().astype(np.float64)
        else:
            mtf = grp["block_max_tf"].to_numpy().astype(np.float64)
            mdl = grp["block_min_dl"].to_numpy().astype(np.float64)
            maxs = _score_tf(mtf, mdl, idf, k1, b, avgdl)
        terms[int(tid)] = {
            "idf": idf,
            "firsts": grp["first_doc_id"].to_numpy().astype(np.int64),
            "lasts": grp["last_doc_id"].to_numpy().astype(np.int64),
            "maxs": maxs,
            "n": grp["n"].to_numpy().astype(np.int64),
            "doc_bytes": grp["doc_ids"].tolist(),
            "tf_bytes": grp["tfs"].tolist(),
            "cache": {},
        }
    return terms


def _ensure_blocks(t: dict, idxs) -> None:
    """Batch-decode every not-yet-cached block index in ``idxs`` in a
    single codec pass (per-block decode overhead dominated the query
    kernel; batching cut it ~6x)."""
    from top2vec_spark.operators.codec import decode_blocks

    missing = [int(j) for j in idxs if int(j) not in t["cache"]]
    if not missing:
        return
    decoded = decode_blocks(
        [t["doc_bytes"][j] for j in missing],
        [t["tf_bytes"][j] for j in missing],
        [int(t["n"][j]) for j in missing],
    )
    for j, got in zip(missing, decoded):
        t["cache"][j] = got


def _blk_docs(t: dict, j: int) -> tuple[np.ndarray, np.ndarray]:
    got = t["cache"].get(j)
    if got is None:
        _ensure_blocks(t, [j])
        got = t["cache"][j]
    return got


def _query_shard_topk(
    terms_all: dict[int, dict],
    qinfo: dict[int, tuple[float, float]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    exclude: np.ndarray,
    dl_lookup,
) -> pd.DataFrame:
    """One query's exact top-k within one shard — the block-max WAND
    core (seed theta -> positive-term UB step function -> decode only
    surviving blocks -> exact ascending-term_id scoring)."""
    s_ids, s_dl = dl_lookup
    terms = {
        tid: t for tid, t in terms_all.items() if tid in qinfo
    }
    if not terms:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
    sign_of = {tid: qinfo[tid][0] for tid in terms}
    pos_terms = {tid: t for tid, t in terms.items() if sign_of[tid] > 0}
    sorted_tids = sorted(terms)

    def dl_of(docs: np.ndarray) -> np.ndarray:
        return s_dl[np.searchsorted(s_ids, docs)]

    def exact_scores(cands: np.ndarray) -> np.ndarray:
        """Exact BM25 of candidate docs, ascending-term_id
        accumulation (bit-identical to the brute scorer).

        cands is sorted and blocks cover disjoint ascending doc
        ranges, so the per-candidate covering-block index j is
        NON-DECREASING: candidates of one block form a contiguous
        slice. Processing per contiguous segment makes this
        O(n_cands log blk + n_blocks) — the previous full-array mask
        per block (O(n_blocks * n_cands)) dominated the kernel at
        ~1000 blocks/shard (0.54 s -> ~0.03 s per shard measured)."""
        dl = dl_of(cands)
        score = np.zeros(cands.shape, dtype=np.float64)
        for tid in sorted_tids:
            t = terms[tid]
            j = np.searchsorted(t["firsts"], cands, side="right") - 1
            valid = (j >= 0) & (cands <= t["lasts"][np.maximum(j, 0)])
            vi = np.flatnonzero(valid)
            if vi.size == 0:
                continue
            jv = j[vi]
            seg_starts = np.concatenate(
                ([0], np.flatnonzero(jv[1:] != jv[:-1]) + 1)
            )
            seg_ends = np.concatenate((seg_starts[1:], [jv.size]))
            _ensure_blocks(t, np.unique(jv[seg_starts]))
            tf = np.zeros(cands.shape, dtype=np.float64)
            for s, e in zip(seg_starts, seg_ends):
                bdocs, btfs = _blk_docs(t, int(jv[s]))
                sel = vi[s:e]
                p = np.minimum(
                    np.searchsorted(bdocs, cands[sel]), bdocs.size - 1
                )
                hit = bdocs[p] == cands[sel]
                tf[sel[hit]] = btfs[p[hit]]
            has = tf > 0
            if has.any():
                score[has] += sign_of[tid] * _score_tf(
                    tf[has], dl[has], t["idf"], k1, b, avgdl
                )
        return score

    def topk_of(cands: np.ndarray, scores: np.ndarray) -> pd.DataFrame:
        order = np.lexsort((cands, -scores))[:k]
        return pd.DataFrame({"doc_id": cands[order], "score": scores[order]})

    # ---- seed θ from the most promising positive blocks --------------
    # Vectorized selection: one argpartition over the concatenated
    # per-term block maxima, instead of a Python loop + sort over
    # every block of the shard's query terms (O(blocks log blocks)
    # per query-shard; the tie order among equal maxima is
    # irrelevant — seeds only set the initial pruning θ, the final
    # top-k stays exact for any seed choice).
    seed_docs = []
    pos_list = list(pos_terms.items())
    if pos_list:
        all_maxs = np.concatenate([t["maxs"] for _, t in pos_list])
        all_ti = np.repeat(
            np.arange(len(pos_list)),
            [t["maxs"].size for _, t in pos_list],
        )
        all_j = np.concatenate(
            [np.arange(t["maxs"].size) for _, t in pos_list]
        )
        nseed = min(_SEED_BLOCKS, all_maxs.size)
        if nseed:
            top = np.argpartition(-all_maxs, nseed - 1)[:nseed]
            for i in top:
                tid = pos_list[int(all_ti[i])][0]
                seed_docs.append(_blk_docs(terms[tid], int(all_j[i]))[0])
    cands0 = (
        np.unique(np.concatenate(seed_docs)) if seed_docs else
        np.empty(0, dtype=np.int64)
    )
    if exclude.size:
        cands0 = cands0[~np.isin(cands0, exclude)]
    scores0 = exact_scores(cands0) if cands0.size else np.empty(0)
    theta = (
        float(np.partition(scores0, -k)[-k]) if scores0.size >= k else -math.inf
    )

    # ---- positive-term UB step function -------------------------------
    # events at block boundaries; UB(d) = Σ_t blockmax of t's block
    # covering d (0 where no block covers)
    surviving: list[tuple[int, int]] = []  # (tid, block_idx)
    if theta <= 0:
        # No pruning possible. theta == -inf: fewer than k seed
        # docs. theta <= 0 finite: every positive region is hot
        # (positive block maxima are >= 0 >= theta), AND docs
        # matching ONLY negative terms (score < 0, upper bound 0)
        # may still belong in the top-k — the positive-term step
        # function cannot see them, so negative-term blocks must
        # be candidate sources too. Take every block of every
        # term (still exact; just no skipping this query).
        for tid, t in terms.items():
            surviving += [(tid, j) for j in range(t["firsts"].size)]
    else:
        bounds = []
        for tid, t in pos_terms.items():
            bounds.append((t["firsts"], t["lasts"], t["maxs"]))
        evs_x = np.concatenate(
            [f for f, _, _ in bounds] + [l + 1 for _, l, _ in bounds]
        )
        evs_d = np.concatenate(
            [m for _, _, m in bounds] + [-m for _, _, m in bounds]
        )
        ox = np.argsort(evs_x, kind="stable")
        xs = evs_x[ox]
        ub = np.cumsum(evs_d[ox])
        # collapse duplicate xs: UB after processing all events at x
        keep = np.concatenate((xs[1:] != xs[:-1], [True]))
        xs, ub = xs[keep], ub[keep]
        # region r covers [xs[r], xs[r+1]); keep regions with ub >= θ
        hot = ub >= theta - 1e-12  # guard float slack in cumsum
        if not hot.any():
            return topk_of(cands0, scores0)
        hot_lo = xs[hot]
        nxt = np.append(xs[1:], np.int64(2**62))
        hot_hi = nxt[hot] - 1
        for tid, t in pos_terms.items():
            # block [f,l] intersects any hot region?
            ri = np.searchsorted(hot_lo, t["lasts"], side="right") - 1
            ok = (ri >= 0) & (t["firsts"] <= hot_hi[np.maximum(ri, 0)])
            # also catch region starting inside the block
            ri2 = np.searchsorted(hot_lo, t["firsts"], side="left")
            ri2c = np.minimum(ri2, hot_lo.size - 1)
            ok |= (ri2 < hot_lo.size) & (hot_lo[ri2c] <= t["lasts"])
            surviving += [(tid, j) for j in np.flatnonzero(ok)]

    cand_parts = [cands0] if cands0.size else []
    by_tid: dict[int, list] = {}
    for tid, j in surviving:
        by_tid.setdefault(tid, []).append(j)
    for tid, js in by_tid.items():  # batch decode per term
        _ensure_blocks(terms[tid], js)
    for tid, j in surviving:
        cand_parts.append(_blk_docs(terms[tid], j)[0])
    if not cand_parts:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
    cands = np.unique(np.concatenate(cand_parts))
    if exclude.size:
        cands = cands[~np.isin(cands, exclude)]
    if cands.size == 0:
        return pd.DataFrame(
            {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
        )
    scores = exact_scores(cands)
    return topk_of(cands, scores)


def make_multi_shard_kernel(
    qinfos: dict[str, dict[int, tuple[float, float]]],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    exclude: frozenset[int],
    stats_path: str,
    fresh_stats: bool = True,
    build_id: str = "",
    tomb_path: str | None = None,
    tomb_version: str = "",
):
    """The per-shard WAND kernel: every query in ``qinfos`` (query_id
    -> term_id -> (sign, idf)) against one shard in one pass.
    ``stats_path`` is the shard-partitioned doc_stats parquet dir; the
    kernel reads only its shard's file (dl sidecar). ``exclude``
    carries only QUERY-side exclusions (≤k ids); tombstones come from
    the per-shard sidecar at ``tomb_path``.

    Term structs and block decodes are shared across queries —
    a block touched by Q queries is decoded once, and the fixed
    per-query cost is amortized across the whole batch. That cost, not
    the kernel (~0.01 s), is the floor of a warm single query. On a
    4-core host it is a JVM job of about 0.07 s plus the dispatch of
    the Python task that runs the kernel, ~0.05 s once
    ``session.gate_zip_invalidation`` stops each task re-reading the
    worker's zip archives (~0.26 s before). Emits (query_id, doc_id,
    score) with <= k rows per (query, shard)."""

    def kernel(blocks_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": pd.Series(dtype="object"),
                "doc_id": pd.Series(dtype="int64"),
                "score": pd.Series(dtype="float64"),
            }
        )
        if blocks_pdf.empty:
            return empty
        shard = int(blocks_pdf["shard"].iloc[0])
        dl_lookup = _load_dl_sidecar(stats_path, build_id, shard)
        if dl_lookup is None:
            return empty
        ex = _shard_exclude(exclude, tomb_path, tomb_version, shard)
        idf_of: dict[int, float] = {}
        for qinfo in qinfos.values():
            for tid, (_, idf) in qinfo.items():
                idf_of[tid] = idf
        terms = _build_term_structs(
            blocks_pdf, idf_of, fresh_stats, k1, b, avgdl
        )
        outs = []
        for qid, qinfo in qinfos.items():
            res = _query_shard_topk(
                terms, qinfo, k, k1, b, avgdl, ex, dl_lookup
            )
            if len(res):
                res.insert(0, "query_id", qid)
                outs.append(res)
        return pd.concat(outs, ignore_index=True) if outs else empty

    return kernel


def make_shard_kernel(
    qinfo: dict[int, tuple[float, float]], k: int, *args, **kwargs
):
    """The per-shard kernel for ONE query (qinfo: term_id -> (sign,
    idf)): :func:`make_multi_shard_kernel` over ``{"": qinfo}``, with
    the same remaining arguments, emitting (doc_id, score)."""
    kernel = make_multi_shard_kernel({"": qinfo}, k, *args, **kwargs)
    return lambda blocks_pdf: kernel(blocks_pdf).drop(columns="query_id")


def _plan(
    spark: SparkSession,
    index,
    queries: dict,
    globs: CorpusGlobals,
    cfg: BM25Config,
    exclude_doc_ids: Sequence[int],
):
    """Planning shared by :func:`wand_topk` and :func:`wand_topk_many`.
    ``queries``: query_id -> list of (term, term_id, df, sign) tuples.
    Returns ``(qinfos, blocks, kernel_kw)``: each query's term_id ->
    (sign, idf), the posting blocks of every query term (bucket and
    term pruned), and the kernel factories' arguments after
    ``qinfo(s), k``."""
    qinfos = {
        qid: {
            int(term_id): (
                float(sign),
                math.log(1.0 + (globs.n_docs - df + 0.5) / (df + 0.5)),
            )
            for _, term_id, df, sign in rows
        }
        for qid, rows in queries.items()
    }
    term_ids = sorted({t for qi in qinfos.values() for t in qi})
    buckets = sorted({t % index.n_buckets for t in term_ids})
    # bucketed serving table (PostingsIndex.register_bucketed): the
    # scan's hash distribution on shard satisfies the kernel's
    # groupBy, so the per-query Exchange of posting blocks is elided
    src = (
        spark.table(index.bucketed_table)
        if getattr(index, "bucketed_table", None)
        else index.postings
    )
    blocks = src.filter(
        F.col("bucket").isin(buckets) & F.col("term_id").isin(term_ids)
    )
    # tombstoned docs (U2 deletes) are excluded exactly like
    # query-side exclusions — skipped at scoring, never returned. The
    # tombstone SET never rides in the closure: kernels side-read
    # their own shard's partition (per-shard sidecar, like dl)
    tomb_path = getattr(index, "tombstones_path", None)
    kernel_kw = dict(
        k1=cfg.k1,
        b=cfg.b,
        avgdl=globs.avgdl,
        exclude=frozenset(int(x) for x in exclude_doc_ids),
        stats_path=index.doc_stats_path,
        fresh_stats=getattr(index, "stats_fresh", True),
        build_id=getattr(index, "build_id", ""),
        tomb_path=tomb_path,
        tomb_version=tomb_fingerprint(tomb_path),
    )
    return qinfos, blocks, kernel_kw


def wand_topk(
    spark: SparkSession,
    index,
    weights,
    globs: CorpusGlobals,
    k: int,
    cfg: BM25Config = BM25Config(),
    exclude_doc_ids: Sequence[int] = (),
) -> DataFrame:
    """Query the PostingsIndex: returns (doc_id, score), k rows,
    ordered (score DESC, doc_id ASC) — same contract as
    bm25_topk_bruteforce.

    ``weights`` is either the term_weights DataFrame or a plain list
    of (term, term_id, df, sign) tuples (resolve_query_terms) — the
    list form skips a driver round-trip per query.
    """
    qrows = weights if isinstance(weights, list) else [
        (r["term"], r["term_id"], r["df"], r["sign"]) for r in weights.collect()
    ]
    qinfos, blocks, kernel_kw = _plan(
        spark, index, {"": qrows}, globs, cfg, exclude_doc_ids
    )
    kernel = make_shard_kernel(qinfos[""], k, **kernel_kw)
    per_shard = blocks.groupBy("shard").applyInPandas(
        lambda pdf: kernel(pdf), "doc_id long, score double"
    )
    return per_shard.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def wand_topk_many(
    spark: SparkSession,
    index,
    queries: dict,
    globs: CorpusGlobals,
    k: int,
    cfg: BM25Config = BM25Config(),
    exclude_doc_ids: Sequence[int] = (),
) -> DataFrame:
    """Batched top-k: MANY queries answered in ONE Spark job.
    ``queries``: query_id -> list of (term, term_id, df, sign) tuples
    (resolve_query_terms output). Returns (query_id, doc_id, score),
    <= k rows per query, each ordered (score DESC, doc_id ASC) and
    rank/score-identical to per-query wand_topk (pytest-pinned).

    Why this exists: a warm single query pays a fixed floor regardless
    of data size, the JVM job plus the Python task dispatch (see
    :func:`make_multi_shard_kernel`), more on a busy cluster. A
    serving/offline-eval workload with hundreds of queries pays that
    once here — the shard kernel shares block decodes across queries,
    the scan unions all terms' partition filters, and the final
    per-query top-k is one window over <= k * shards * |Q| tiny rows.
    """
    from pyspark.sql import Window as W

    qinfos, blocks, kernel_kw = _plan(
        spark,
        index,
        {str(qid): rows for qid, rows in queries.items()},
        globs,
        cfg,
        exclude_doc_ids,
    )
    kernel = make_multi_shard_kernel(qinfos, k, **kernel_kw)
    per_shard = blocks.groupBy("shard").applyInPandas(
        lambda pdf: kernel(pdf), "query_id string, doc_id long, score double"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        per_shard.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("query_id", F.col("score").desc(), F.col("doc_id").asc())
    )
