"""P6 validation-message parity: the engine raises the REFERENCE's
error messages (top2vec.py:1349-1477) for the validated conditions —
list-type checks, vector type/dim checks, num_* bounds, topic_num
range, keyword membership. Each assertion pins the exact wording so a
future gate on error text passes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def engine(spark):
    from top2vec_spark import Top2VecSpark

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True)
    eng.compute_topics(emb)
    return eng


@pytest.fixture(scope="module")
def a_term(engine):
    return engine.vocab.orderBy(F.col("df").desc()).first()["term"]


# -- list-type checks (reference top2vec.py:1403-1432) -------------------


def test_keywords_must_be_list(engine):
    with pytest.raises(ValueError, match=r"keywords must be a list of strings\."):
        engine.search_documents_by_keywords("notalist", 5)


def test_keywords_neg_must_be_list(engine, a_term):
    with pytest.raises(
        ValueError, match=r"keywords_neg must be a list of strings\."
    ):
        engine.search_documents_by_keywords([a_term], 5, keywords_neg="x")


def test_doc_ids_must_be_list(engine):
    with pytest.raises(
        ValueError, match=r"doc_ids must be a list of string or int\."
    ):
        engine.search_documents_by_documents(3, 5)


def test_doc_ids_neg_must_be_list(engine):
    with pytest.raises(
        ValueError, match=r"doc_ids_neg must be a list of string or int\."
    ):
        engine.search_documents_by_documents([0], 5, doc_ids_neg=1)


# -- query type (reference _validate_query, top2vec.py:1468-1470) --------


def test_query_must_be_string(engine):
    with pytest.raises(ValueError, match=r"Query needs to be a string\."):
        engine.query_documents(123, 5)


# -- vector checks (reference _validate_vector, top2vec.py:1472-1477) ----


def test_vector_type_message(engine):
    with pytest.raises(
        ValueError, match=r"Vector needs to be a numpy array\."
    ):
        engine.search_documents_by_vector("not a vector", 5)


def test_vector_dim_message(engine):
    dim = engine._vector_dim(engine._doc_vectors)
    assert dim > 0
    with pytest.raises(
        ValueError, match=rf"Vector needs to be of {dim} dimensions\."
    ):
        engine.search_documents_by_vector(np.zeros(dim + 1), 5)


def test_vector_dim_topics(engine):
    rows = engine.topic_centroids.limit(1).collect()
    dim = len(rows[0]["centroid"])
    with pytest.raises(
        ValueError, match=rf"Vector needs to be of {dim} dimensions\."
    ):
        engine.search_topics_by_vector(np.zeros(dim + 2), 1)
    # correct dim passes through to results
    assert engine.search_topics_by_vector(np.zeros(dim), 1).count() == 1


def test_vector_words(engine, spark):
    wv = spark.createDataFrame(
        [("alpha", [1.0, 0.0, 0.0]), ("beta", [0.0, 1.0, 0.0])],
        "term string, embedding array<double>",
    )
    engine.set_word_vectors(wv)
    with pytest.raises(
        ValueError, match=r"Vector needs to be of 3 dimensions\."
    ):
        engine.search_words_by_vector(np.zeros(5), 1)
    res = engine.search_words_by_vector(np.array([1.0, 0.0, 0.0]), 1).collect()
    assert res[0]["term"] == "alpha"


# -- num bounds (reference top2vec.py:1350-1367) --------------------------


def test_num_docs_negative_message(engine, a_term):
    with pytest.raises(ValueError, match=r"num_docs cannot be less than 0\."):
        engine.search_documents_by_keywords([a_term], -1)


def test_num_docs_exceeds_message(engine, a_term):
    n = engine._doc_id_bounds()[1]
    with pytest.raises(
        ValueError,
        match=rf"num_docs cannot exceed the number of documents: {n}\.",
    ):
        engine.search_documents_by_keywords([a_term], n + 1)


def test_num_topics_exceeds_message(engine):
    n = engine.get_num_topics()
    with pytest.raises(
        ValueError,
        match=rf"num_topics cannot exceed the number of topics: {n}\.",
    ):
        engine.get_topics(n + 1)


def test_topic_num_range_message(engine):
    n = engine.get_num_topics()
    with pytest.raises(
        ValueError, match=r"topic_num cannot be less than 0\."
    ):
        engine.search_documents_by_topic(-1, 1)
    with pytest.raises(ValueError, match=r"Invalid topic number"):
        engine.search_documents_by_topic(n, 1)


# -- keyword membership (reference top2vec.py:1420-1432) ------------------


def test_keyword_membership_message(engine):
    with pytest.raises(ValueError, match=r"has not been learned"):
        engine.search_documents_by_keywords(["zzzznotaword"], 2)


def test_hierarchical_reduction_guard_message(engine):
    with pytest.raises(
        ValueError,
        match=r"Hierarchical topic reduction has not been performed\.",
    ):
        engine.get_topic_hierarchy()
