"""The postings encode kernels encode a whole partition in one batched
pass. Pinned here: every column of their output equals a per-run
reference loop over ``encode_sorted_run`` (idf by ``math.log`` once
per term), and ``encode_sorted_run`` equals block-by-block
``encode_block`` encodes with skip offsets counted in Python."""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from top2vec_spark.operators import postings as P
from top2vec_spark.operators.codec import encode_block, encode_varint

K1, B = 1.2, 0.75
BLOCK = 128
DPS = 1 << 16  # several shards, and room for doc-id gaps >= 2^14
COLS = [f.name for f in P.POSTINGS_SCHEMA.fields]


def _rows(seed: int = 0) -> pd.DataFrame:
    """(term_id, doc_id, tf, df, dl) postings rows, unsorted."""
    rng = np.random.default_rng(seed)
    n_doc_space = 5 * DPS
    dl_of = rng.integers(1, 3000, n_doc_space)
    rows = []
    # run lengths straddling block and SKIP_EVERY boundaries, inside one
    # shard, then terms spread over every shard
    for t, n in enumerate([1, 127, 128, 129, 2 * BLOCK + 45, 16, 17]):
        docs = np.sort(rng.choice(DPS, n, replace=False)) + DPS * (t % 5)
        rows.append((t, docs))
    for t in range(7, 40):
        n = int(rng.integers(1, 2000))
        rows.append((t, np.sort(rng.choice(n_doc_space, n, replace=False))))
    # doc-id gaps of 2^14 or more: multi-byte varints
    rows.append((40, np.arange(3, n_doc_space, 20_011)))
    rows.append((41, np.array([n_doc_space - 1])))
    frames = []
    for t, docs in rows:
        tf = rng.integers(1, 4, docs.size)
        big = rng.random(docs.size) < 0.1
        tf[big] = rng.integers(100, 70_000, int(big.sum()))  # long gamma codes
        frames.append(
            pd.DataFrame({"term_id": t, "doc_id": docs, "tf": tf, "dl": dl_of[docs]})
        )
    pdf = pd.concat(frames, ignore_index=True)
    pdf["df"] = pdf.groupby("term_id")["doc_id"].transform("size") + 3
    pdf["shard"] = pdf["doc_id"] // DPS
    return pdf


N_DOCS = 5 * DPS
AVGDL = 1500.5


def _reference(pdf: pd.DataFrame) -> pd.DataFrame:
    """The per-run loop: rows already in kernel order."""
    tid = pdf["term_id"].to_numpy().astype(np.int64)
    shard = pdf["shard"].to_numpy().astype(np.int64)
    doc = pdf["doc_id"].to_numpy().astype(np.int64)
    tf = pdf["tf"].to_numpy().astype(np.int64)
    dl = pdf["dl"].to_numpy().astype(np.float64)
    df = pdf["df"].to_numpy().astype(np.int64)
    tf_part = (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / AVGDL))
    change = np.flatnonzero((tid[1:] != tid[:-1]) | (shard[1:] != shard[:-1]))
    out: list = []
    for s, e in zip([0, *(change + 1)], [*(change + 1), tid.size]):
        idf = math.log(1.0 + (N_DOCS - int(df[s]) + 0.5) / (int(df[s]) + 0.5))
        P.encode_sorted_run(
            int(tid[s]), int(shard[s]), doc[s:e], tf[s:e],
            idf * tf_part[s:e], dl[s:e], BLOCK, out,
        )
    return pd.DataFrame(out, columns=COLS)


def _assert_identical(got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert list(got.columns) == COLS
    assert len(got) == len(want)
    for col in COLS:
        if col == "block_max_score":
            assert np.array_equal(
                got[col].to_numpy(np.float64).view(np.int64),
                want[col].to_numpy(np.float64).view(np.int64),
            )
        else:
            assert got[col].tolist() == want[col].tolist(), col


def _chunks(pdf: pd.DataFrame) -> list:
    """Several batches whose boundaries cut through runs."""
    return [pdf.iloc[i : i + 3_331] for i in range(0, len(pdf), 3_331)]


def _collect(frames) -> pd.DataFrame:
    frames = list(frames)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


@pytest.fixture(scope="module")
def rows():
    pdf = _rows()
    assert len(pdf) > 10_000 and pdf["shard"].nunique() == 5
    return pdf


def test_term_major_kernel_matches_per_run_reference(rows):
    pdf = rows.sort_values(["term_id", "shard", "doc_id"], ignore_index=True)
    want = _reference(pdf)
    df_map = dict(zip(pdf["term_id"], pdf["df"]))
    chunks = _chunks(pdf[["term_id", "shard", "doc_id", "tf", "dl"]])
    got = _collect(P.encode_partition(iter(chunks), BLOCK, K1, B, N_DOCS, AVGDL, df_map))
    _assert_identical(got, want)
    # df shuffled as a column instead of broadcast (vocab over the cap)
    chunks = _chunks(pdf[["term_id", "shard", "doc_id", "tf", "df", "dl"]])
    got = _collect(P.encode_partition(iter(chunks), BLOCK, K1, B, N_DOCS, AVGDL))
    _assert_identical(got, want)


def test_sidecar_kernel_matches_per_run_reference(rows, tmp_path):
    pdf = rows.sort_values(["shard", "term_id", "doc_id"], ignore_index=True)
    want = _reference(pdf)
    stats = rows.drop_duplicates("doc_id")
    for shard, g in stats.groupby("shard"):
        os.makedirs(tmp_path / f"shard={shard}")
        g = g.sample(frac=1.0, random_state=1)  # sidecars are unsorted
        pq.write_table(
            pa.table({"doc_id": g["doc_id"].to_numpy(), "dl": g["dl"].to_numpy()}),
            tmp_path / f"shard={shard}" / "part-0.parquet",
        )
    slim = pdf[["term_id", "shard", "doc_id", "tf"]].astype(
        {"term_id": "int32", "shard": "int32", "tf": "int32"}
    )
    df_map = dict(zip(pdf["term_id"], pdf["df"]))
    got = _collect(
        P.encode_partition_sidecar(
            iter(_chunks(slim)), BLOCK, K1, B, N_DOCS, AVGDL, df_map, str(tmp_path)
        )
    )
    _assert_identical(got, want)


def test_empty_partition_encodes_nothing():
    empty = pd.DataFrame(
        {c: pd.Series(dtype="int64") for c in ["term_id", "shard", "doc_id", "tf"]}
    ).assign(dl=pd.Series(dtype="float64"))
    for pdfs in ([], [empty], [empty, empty]):
        assert list(P.encode_partition(iter(pdfs), BLOCK, K1, B, 10, 5.0, {})) == []
        assert list(
            P.encode_partition_sidecar(iter(pdfs), BLOCK, K1, B, 10, 5.0, {}, "/nonexistent")
        ) == []


@pytest.mark.parametrize("n", [1, 15, 16, 17, 127, 128, 129, 2 * BLOCK + 1, 1000])
def test_sorted_run_matches_per_block_encode(n):
    rng = np.random.default_rng(n)
    doc = np.cumsum(rng.integers(1, 40_000, n)) + 12_345
    tf = np.where(rng.random(n) < 0.2, rng.integers(50, 10**6, n), 1)
    contrib = rng.random(n) * 7.0
    dl = rng.integers(1, 500, n)
    out: list = []
    P.encode_sorted_run(9, 3, doc, tf, contrib, dl, BLOCK, out)
    assert len(out) == -(-n // BLOCK)
    for blk, row in enumerate(out):
        lo, hi = blk * BLOCK, min((blk + 1) * BLOCK, n)
        d, t = doc[lo:hi], tf[lo:hi]
        deltas = np.diff(d, prepend=0).astype(np.uint64)
        deltas[0] = d[0]
        skips = [
            {"doc_id": int(d[i]), "offset": len(encode_varint(deltas[:i]))}
            for i in range(0, hi - lo, P.SKIP_EVERY)
        ]
        assert row == (
            9, 3, blk, hi - lo, *encode_block(d, t), skips, int(d[0]), int(d[-1]),
            int(t.max()), float(contrib[lo:hi].max()), int(dl[lo:hi].min()),
        )


def test_spark_partition_of_several_arrow_batches(spark, rows):
    """One Spark partition larger than maxRecordsPerBatch reaches the
    kernel as several Arrow batches; the output is the same."""
    batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    assert len(rows) > batch
    pdf = rows.sort_values(["term_id", "shard", "doc_id"], ignore_index=True)
    want = _reference(pdf)
    df_map = dict(zip(pdf["term_id"].tolist(), pdf["df"].tolist()))

    def kernel(pdfs):
        chunks = list(pdfs)
        assert len(chunks) > 1
        yield from P.encode_partition(iter(chunks), BLOCK, K1, B, N_DOCS, AVGDL, df_map)

    sdf = (
        spark.createDataFrame(pdf[["term_id", "shard", "doc_id", "tf", "dl"]])
        .repartition(1)
        .sortWithinPartitions("term_id", "shard", "doc_id")
    )
    got = sdf.mapInPandas(kernel, P.POSTINGS_SCHEMA).toPandas()
    got["skips"] = [[dict(s) for s in sk] for sk in got["skips"]]
    got["doc_ids"] = got["doc_ids"].map(bytes)
    got["tfs"] = got["tfs"].map(bytes)
    _assert_identical(got, want)
