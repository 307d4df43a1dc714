"""Reciprocal-rank fusion (operators/fusion.py) vs hand-computed RRF,
plus the facade hybrid path. The driver row `hybrid_rrf_top10` oracles
the full lexical+vector composition against DuckDB; these tests pin
the operator arithmetic and edge shapes directly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from top2vec_spark.operators.fusion import rrf_fuse

SF = "/root/testdata/sf0.01"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, score double")


def test_rrf_hand_computed(spark):
    """Two 3-element lists with one shared doc: scores must equal the
    published formula exactly (sums of <= 2 rationals)."""
    a = _df(spark, [(10, 5.0), (20, 4.0), (30, 3.0)])  # ranks 1,2,3
    b = _df(spark, [(20, 0.9), (40, 0.8), (50, 0.7)])  # ranks 1,2,3
    got = {r["doc_id"]: r for r in rrf_fuse({"a": a, "b": b}, 10).collect()}
    # doc 20: rank 2 in list a, rank 1 in list b
    assert got[20]["rrf_score"] == pytest.approx(1 / 62 + 1 / 61, abs=0)
    assert got[10]["rrf_score"] == pytest.approx(1 / 61, abs=0)
    assert got[30]["rrf_score"] == pytest.approx(1 / 63, abs=0)
    assert got[20]["n_lists"] == 2 and got[10]["n_lists"] == 1
    order = [r["doc_id"] for r in rrf_fuse({"a": a, "b": b}, 10).collect()]
    assert order[0] == 20  # the doc both retrievers agree on wins


def test_rrf_rank_ties_by_id(spark):
    """Equal scores within a list rank by doc_id ascending — the same
    tie-break as every engine ranking."""
    a = _df(spark, [(7, 1.0), (3, 1.0)])
    got = {r["doc_id"]: r["rrf_score"] for r in rrf_fuse({"a": a}, 5).collect()}
    assert got[3] == pytest.approx(1 / 61, abs=0)
    assert got[7] == pytest.approx(1 / 62, abs=0)


def test_rrf_k_cut_and_empty_guard(spark):
    a = _df(spark, [(i, float(10 - i)) for i in range(6)])
    assert rrf_fuse({"a": a}, 3).count() == 3
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse({}, 3)


def test_hybrid_facade(spark):
    """hybrid_search_documents fuses the engine's own lexical and
    vector rankings; a doc in BOTH top lists must outrank docs found
    by only one retriever at equal ranks (n_lists=2 present), and the
    unknown-keyword guard still fires."""
    from top2vec_spark import Top2VecSpark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True)
    eng.set_document_vectors(emb.select("vec_id", "embedding"))
    term = eng.vocab.orderBy(F.col("df").desc()).first()["term"]
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    res = eng.hybrid_search_documents(
        [term], qvec, 10, return_documents=False
    ).collect()
    assert 1 <= len(res) <= 10
    scores = [r["rrf_score"] for r in res]
    assert scores == sorted(scores, reverse=True)
    assert {r["n_lists"] for r in res} <= {1, 2}
    with pytest.raises(ValueError, match="has not been learned"):
        eng.hybrid_search_documents(["zzznotaword"], qvec, 5)


def test_hybrid_facade_with_documents(spark):
    """With documents, the hybrid result keeps its own rank order
    (rrf_score DESC, doc_id ASC) and each row carries its document's
    text: the projection does not sort by a ``score`` column."""
    from top2vec_spark import Top2VecSpark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True)
    eng.set_document_vectors(emb.select("vec_id", "embedding"))
    term = eng.vocab.orderBy(F.col("df").desc()).first()["term"]
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 7).first()["embedding"]]
    res = eng.hybrid_search_documents([term], qvec, 10).collect()
    assert 1 <= len(res) <= 10
    keys = [(-r["rrf_score"], r["doc_id"]) for r in res]
    assert keys == sorted(keys)
    text = {
        r["doc_id"]: r["text"]
        for r in docs.filter(F.col("doc_id").isin([r["doc_id"] for r in res]))
        .select("doc_id", "text")
        .collect()
    }
    assert all(r["text"] == text[r["doc_id"]] for r in res)
