"""Posting-list construction (SURVEY.md §7.2 steps 4-5).

Pipeline (all DataFrame ops + one Arrow-grouped encoder):

    tokens ──groupBy(doc_id, term)──> tf
      ⋈ vocab(term -> term_id, df)      (broadcast-able dimension)
      ⋈ doc_stats(doc_id -> dl)
      withColumn shard = doc_id // docs_per_shard     <- THE SALT
      repartition(term_id, shard)                     <- salted
        .sortWithinPartitions          repartition-by-term (north rule)
        .mapInPandas(encode)   every run of a partition in one pass
      -> postings blocks, written partitionBy(bucket(term_id))

Skew design: a head term (Zipf "the") has rows in EVERY doc-shard, so
its encode work spreads across (term, shard) groups instead of
hot-spotting one reducer — the salt count per term is automatically
proportional to its df (north rule: "salting factor ∝ df"). Because
shards are CONTIGUOUS doc_id ranges, per-(term, shard) runs are
disjoint and ordered, so the global per-term posting list is the
shard-ordered concatenation — the de-salt "merge" is logical (zero
extra shuffle), and queries run document-partitioned WAND per shard
(operators/wand.py) with a final top-k merge.

Block layout per row: <=block_size entries, docID-delta varint +
Elias-gamma tfs (operators/codec.py), skip pointers every
SKIP_EVERY entries as (doc_id, byte_offset into doc_ids bytes),
block_max_tf and block_max_score (exact BM25 contribution upper
bound, computed with true dl at build time) for block-max WAND.

Replaces: the reference has no index — keyword search is a dense
matmul scan (top2vec/top2vec.py:1276-1282); this table + WAND is the
engine's scale path (SURVEY.md J5/K1).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from top2vec_spark.config import BM25Config, POSTING_BLOCK_SIZE
from top2vec_spark.operators.codec import (
    _varint_nbytes,
    encode_gamma_many,
    encode_varint,
)
from top2vec_spark.operators.corpus_stats import CorpusGlobals

SKIP_EVERY = 16
DEFAULT_DOCS_PER_SHARD = 131_072
DEFAULT_N_BUCKETS = 64
# vocab sizes up to this ride the driver as a broadcast df map
DF_BROADCAST_CAP = 5_000_000

POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("doc_ids", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField(
            "skips",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("doc_id", T.LongType(), False),
                        T.StructField("offset", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("block_max_tf", T.IntegerType(), False),
        T.StructField("block_max_score", T.DoubleType(), False),
        # min dl in the block: stat-INDEPENDENT, so WAND can recompute
        # an admissible bound idf*tfpart(block_max_tf, block_min_dl)
        # under current globals after incremental appends shift
        # N/avgdl/df (block_max_score is exact but frozen at encode
        # time — unsound for pruning once stats drift)
        T.StructField("block_min_dl", T.LongType(), False),
    ]
)


def _encode_blocks(
    tid: np.ndarray,
    shard: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    contrib: np.ndarray,
    dl: np.ndarray,
    block_size: int,
) -> pd.DataFrame:
    """Encode postings rows into block rows (POSTINGS_SCHEMA columns),
    every (term_id, shard) run of the input at once.

    The rows hold each run contiguously with its doc_ids ascending; the
    runs themselves may come in any order (term-major or shard-major).
    Run and block boundaries are vectorized masks, and the whole input
    goes through ONE varint encode, ONE varint length pass and ONE
    gamma encode; each block's bytes are then sliced out by offset.
    Codec calls per run would cost ~0.6 ms each in numpy call
    overhead, and a partition holds thousands of mostly tiny runs.
    Bytes are identical to encoding each block on its own (varint
    streams self-terminate, gamma streams pad to a byte per block)."""
    n = doc.size
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1])
    run_starts = np.flatnonzero(new_run)
    pos = np.arange(n) - np.repeat(run_starts, np.diff(np.append(run_starts, n)))
    in_block = pos % block_size
    starts = np.flatnonzero(in_block == 0)
    ends = np.append(starts[1:], n)
    counts = ends - starts

    # doc_id deltas restart at every block: its first doc_id is absolute
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = doc[0]
    deltas[1:] = np.diff(doc)
    deltas[starts] = doc[starts]
    deltas = deltas.astype(np.uint64)
    blob = encode_varint(deltas)
    byte_end = np.cumsum(_varint_nbytes(deltas))
    byte_start = np.append(0, byte_end[:-1])
    doc_bytes = [
        blob[lo:hi]
        for lo, hi in zip(byte_start[starts].tolist(), byte_end[ends - 1].tolist())
    ]
    tf_bytes = encode_gamma_many(tf.astype(np.uint64), counts)

    # a skip every SKIP_EVERY entries: (doc_id, byte offset in the block)
    skip = np.flatnonzero(in_block % SKIP_EVERY == 0)
    block_of = np.cumsum(in_block == 0) - 1
    skip_off = byte_start[skip] - byte_start[starts][block_of[skip]]
    entries = [
        {"doc_id": d, "offset": o}
        for d, o in zip(doc[skip].tolist(), skip_off.tolist())
    ]
    skip_end = np.cumsum((counts + SKIP_EVERY - 1) // SKIP_EVERY).tolist()
    skips = [entries[lo:hi] for lo, hi in zip([0] + skip_end[:-1], skip_end)]

    return pd.DataFrame(
        {
            "term_id": tid[starts],
            "shard": shard[starts],
            "block_id": pos[starts] // block_size,
            "n": counts,
            "doc_ids": doc_bytes,
            "tfs": tf_bytes,
            "skips": skips,
            "first_doc_id": doc[starts],
            "last_doc_id": doc[ends - 1],
            "block_max_tf": np.maximum.reduceat(tf, starts),
            "block_max_score": np.maximum.reduceat(contrib, starts),
            "block_min_dl": np.minimum.reduceat(dl, starts).astype(np.int64),
        }
    )


def encode_sorted_run(
    term_id: int,
    shard: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    contrib: np.ndarray,
    dls: np.ndarray,
    block_size: int,
    out: list,
) -> None:
    """Append the block rows (tuples in POSTINGS_SCHEMA column order)
    of ONE (term_id, shard) run whose doc_ids are sorted ascending;
    ``contrib`` is each posting's BM25 contribution. A per-run view of
    the partition encoder's batched core, for callers that hold single
    runs (codec round-trip probes, reference loops in tests)."""
    n = len(doc_ids)
    blocks = _encode_blocks(
        np.full(n, term_id, dtype=np.int64),
        np.full(n, shard, dtype=np.int64),
        np.asarray(doc_ids, dtype=np.int64),
        np.asarray(tfs, dtype=np.int64),
        np.asarray(contrib, dtype=np.float64),
        np.asarray(dls),
        block_size,
    )
    out.extend(blocks.itertuples(index=False, name=None))


def _encode_scored(
    tid: np.ndarray,
    shard: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    df_map,
    block_size: int,
    k1: float,
    b: float,
    n_docs: int,
    avgdl: float,
) -> Iterator[pd.DataFrame]:
    """Score and encode one partition's sorted postings rows (int64
    term_id/shard/doc_id/tf, float64 dl); ``df_map[term_id]`` gives a
    term's df (a dict, or an array indexed by term_id). Yields the
    partition's block rows as one frame, or nothing when it is empty.

    idf is ``math.log`` once per distinct term, not ``np.log`` per row:
    the two can differ by an ulp, and the stored block maxima must
    exactly dominate the WAND kernel's math.log-based scores."""
    if tid.size == 0:
        return
    terms, term_of = np.unique(tid, return_inverse=True)
    idf = np.array(
        [
            math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for df in (int(df_map[t]) for t in terms.tolist())
        ]
    )
    tf_part = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    yield _encode_blocks(
        tid, shard, doc, tf, idf[term_of] * tf_part, dl, block_size
    )


def _concat(pdfs) -> pd.DataFrame | None:
    """One frame from a partition's Arrow batches (a run may straddle
    batches); None for a partition without rows."""
    chunks = list(pdfs)
    if not chunks:
        return None
    pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    return pdf if len(pdf) else None


def _int64(pdf: pd.DataFrame, col: str) -> np.ndarray:
    return pdf[col].to_numpy().astype(np.int64)


def encode_partition(
    pdfs,
    block_size: int,
    k1: float,
    b: float,
    n_docs: int,
    avgdl: float,
    df_map=None,
):
    """mapInPandas kernel: one shuffle partition holds many complete
    (term_id, shard) runs, sorted by (term_id, shard, doc_id) via
    sortWithinPartitions, each row carrying its dl. df either arrives
    as a broadcast ``df_map`` (term_id -> df) or, for a vocab over the
    broadcast cap, shuffles as a ``df`` column. The partition's runs
    encode in one batched pass (``_encode_blocks``)."""
    pdf = _concat(pdfs)
    if pdf is None:
        return
    tid = _int64(pdf, "term_id")
    if df_map is None:
        terms, first = np.unique(tid, return_index=True)
        df_map = dict(zip(terms.tolist(), _int64(pdf, "df")[first].tolist()))
    yield from _encode_scored(
        tid,
        _int64(pdf, "shard"),
        _int64(pdf, "doc_id"),
        _int64(pdf, "tf"),
        pdf["dl"].to_numpy().astype(np.float64),
        df_map,
        block_size,
        k1,
        b,
        n_docs,
        avgdl,
    )


def encode_partition_sidecar(
    pdfs,
    block_size: int,
    k1: float,
    b: float,
    n_docs: int,
    avgdl: float,
    df_map,
    stats_path: str,
):
    """Slim-shuffle encode kernel: rows arrive as
    (term_id int32, shard int32, doc_id int64, tf int32) — HALF the
    bytes of the dl-carrying form — sorted SHARD-MAJOR
    (shard, term_id, doc_id). Document lengths are side-read from the
    shard-partitioned doc_stats sidecar exactly like the WAND query
    kernel: shard-major ordering means one sidecar (a few MB) is live
    at a time, read once per contiguous shard segment — bounded
    memory at any scale, zero dl bytes through the big shuffle. The
    partition's runs then encode in one batched pass."""
    pdf = _concat(pdfs)
    if pdf is None:
        return
    shard = _int64(pdf, "shard")
    doc = _int64(pdf, "doc_id")
    dl = np.empty(doc.size, dtype=np.float64)
    bounds = np.flatnonzero(np.diff(shard)) + 1
    for lo, hi in zip([0, *bounds.tolist()], [*bounds.tolist(), doc.size]):
        stats = pd.read_parquet(
            f"{stats_path}/shard={int(shard[lo])}", columns=["doc_id", "dl"]
        )
        ids = stats["doc_id"].to_numpy().astype(np.int64)
        order = np.argsort(ids)
        s_dl = stats["dl"].to_numpy().astype(np.float64)[order]
        dl[lo:hi] = s_dl[np.searchsorted(ids[order], doc[lo:hi])]
    yield from _encode_scored(
        _int64(pdf, "term_id"),
        shard,
        doc,
        _int64(pdf, "tf"),
        dl,
        df_map,
        block_size,
        k1,
        b,
        n_docs,
        avgdl,
    )


def broadcast_df_rows(vocab: DataFrame) -> list | None:
    """The vocab's (term_id, df) rows when it has at most
    DF_BROADCAST_CAP terms, else None. The count runs on the executors
    (two small jobs), so an over-cap vocab never ships to the driver:
    a limit(cap+1) collect would move 5M+1 rows just to learn that."""
    if vocab.count() > DF_BROADCAST_CAP:
        return None
    return vocab.select("term_id", "df").collect()


def build_postings_from_tf(
    tf: DataFrame,
    vocab: DataFrame,
    globs: CorpusGlobals,
    cfg: BM25Config = BM25Config(),
    docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
    block_size: int = POSTING_BLOCK_SIZE,
    stats_path: str | None = None,
    df_rows: list | None = None,
) -> tuple[DataFrame, int]:
    """tf(doc_id, term, tf, dl) + vocab -> (compressed postings
    (unsaved), their partition count). The only join is the vocab
    dimension (broadcast) and the only shuffle is the repartition on
    (term_id, shard) — the salted repartition-by-term. The partition
    count is sized from the exact postings row count; writers size
    their own shuffle by it.

    ``df_rows``: the vocab's (term_id, df) rows when the caller
    already holds them (``broadcast_df_rows``) — the index builder
    harvests them inside its vocab stage thread so this planning-time
    job is already paid when the postings stage starts.

    Shuffle-row slimming, in preference order:
    - ``stats_path`` given (the index build: doc_stats is already on
      disk) + vocab under the broadcast cap: rows shrink to
      (term_id int32, shard int32, doc_id int64, tf int32) = 20 bytes
      — df rides a broadcast dict, dl is side-read per shard from the
      doc_stats sidecar inside the encode kernel (shard-major sort
      keeps exactly one sidecar live at a time).
    - no stats_path, vocab under cap: dl travels as a column, df via
      broadcast dict.
    - vocab over cap: both df and dl travel as columns (degenerate).
    """
    spark = tf.sparkSession
    k1, b, n_docs, avgdl = cfg.k1, cfg.b, globs.n_docs, globs.avgdl

    df_bc = None
    vrows = df_rows if df_rows is not None else broadcast_df_rows(vocab)
    small_vocab = vrows is not None
    if small_vocab:
        df_map = {int(r["term_id"]): int(r["df"]) for r in vrows}
        df_bc = spark.sparkContext.broadcast(df_map)
    del vrows

    # THE salted repartition-by-term (north rule): hash-shuffle on
    # (term_id, shard) spreads head terms across partitions; the
    # within-partition sort lines up complete runs so ONE mapInPandas
    # pass encodes every run with vectorized boundary detection —
    # groupBy().applyInPandas() here would build a pandas frame per
    # (term, shard) group, whose constant cost dominates when salting
    # makes groups small (measured 3x slower at fixture scale).
    #
    # Partition count is SCALE-ADAPTIVE, not a constant: 4x
    # overpartitioning vs cores smooths run-size skew stragglers on
    # big inputs (measured: 34s -> 19s at 400k docs / local[32]), but
    # on small inputs the per-task Arrow/Python fixed cost dominates
    # (measured at 50k docs / local[32]: 128 parts 2.4s vs 32 parts
    # 1.3s for the same encode). The exact postings row count is FREE
    # here — sum(df) over the vocab rows already collected for the
    # broadcast — so size partitions to ~64k postings rows each,
    # clamped to [cores, 4*cores]. Over the broadcast cap (no df rows
    # in hand) keep the 4x straggler-smoothing default.
    _cores = max(tf.sparkSession.sparkContext.defaultParallelism, 2)
    if small_vocab:
        n_rows = sum(df_map.values())
        n_encode_parts = max(
            min(_cores * 4, (n_rows + 65_535) // 65_536), _cores, 8
        )
    else:
        n_encode_parts = max(_cores * 4, 8)

    if small_vocab and stats_path is not None:
        enriched = (
            tf.join(F.broadcast(vocab.select("term", "term_id")), "term")
            .select(
                F.col("term_id").cast("int").alias("term_id"),
                (F.col("doc_id") / F.lit(docs_per_shard))
                .cast("int")
                .alias("shard"),
                "doc_id",
                F.col("tf").cast("int").alias("tf"),
            )
        )
        shuffled = enriched.repartition(
            n_encode_parts, "term_id", "shard"
        ).sortWithinPartitions("shard", "term_id", "doc_id")

        def encode_slim(pdfs):
            yield from encode_partition_sidecar(
                pdfs, block_size, k1, b, n_docs, avgdl, df_bc.value, stats_path
            )

        return shuffled.mapInPandas(encode_slim, POSTINGS_SCHEMA), n_encode_parts

    if small_vocab:
        enriched = (
            tf.join(F.broadcast(vocab.select("term", "term_id")), "term")
            .withColumn(
                "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int")
            )
            .select("term_id", "shard", "doc_id", "tf", "dl")
        )
    else:
        enriched = (
            tf.join(vocab.select("term", "term_id", "df"), "term")
            .withColumn(
                "shard", (F.col("doc_id") / F.lit(docs_per_shard)).cast("int")
            )
            .select("term_id", "shard", "doc_id", "tf", "df", "dl")
        )

    shuffled = enriched.repartition(
        n_encode_parts, "term_id", "shard"
    ).sortWithinPartitions("term_id", "shard", "doc_id")

    def encode(pdfs):
        yield from encode_partition(
            pdfs,
            block_size,
            k1,
            b,
            n_docs,
            avgdl,
            df_map=df_bc.value if df_bc is not None else None,
        )

    return shuffled.mapInPandas(encode, POSTINGS_SCHEMA), n_encode_parts


def bucket_col(term_col: str = "term_id", n_buckets: int = DEFAULT_N_BUCKETS):
    return F.pmod(F.col(term_col), F.lit(n_buckets)).cast("int")
