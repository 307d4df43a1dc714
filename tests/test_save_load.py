"""Full-model save/load (reference Top2Vec.save/load,
top2vec.py:894-1012): the engine's tables + manifest roundtrip. Pins
that a FRESH engine loaded from disk answers every layer identically —
topic queries, the reduced mirror, the WAND lexical path, ANN vector
search — and that the custom-tokenizer contract is enforced."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

DIM = 16


@pytest.fixture(scope="module")
def saved(spark, tmp_path_factory):
    from top2vec_spark import Top2VecSpark

    rng = np.random.default_rng(5)
    letters = "abc"
    doc_rows, emb_rows = [], []
    for did in range(90):
        c = did % 3
        doc_rows.append(
            (did, f"marker{letters[c]} words about subject{letters[c]} "
                  f"filler item{letters[did % 3]} common corpus text")
        )
        center = np.zeros(DIM)
        center[c] = 5.0
        emb_rows.append(
            (did, (center + rng.normal(scale=0.1, size=DIM)).tolist())
        )
    docs = spark.createDataFrame(doc_rows, "doc_id long, text string")
    emb = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    eng = Top2VecSpark(spark, docs, min_count=1, ascii_fast_path=True)
    base = tmp_path_factory.mktemp("saveload")
    eng.build_index(str(base / "index"))
    eng.discover_topics(emb, hdbscan_args={"min_cluster_size": 10})
    eng.hierarchical_topic_reduction(2)
    eng.index_document_vectors()
    eng.save(str(base / "model"))
    return eng, str(base / "model"), spark


@pytest.fixture(scope="module")
def loaded(saved):
    from top2vec_spark import Top2VecSpark

    eng, path, spark = saved
    return Top2VecSpark.load(spark, path)


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_topic_layer_roundtrip(saved, loaded):
    eng, _, _ = saved
    assert _rows(loaded.doc_topic, "doc_id", "topic_id") == _rows(
        eng.doc_topic, "doc_id", "topic_id"
    )
    assert _rows(
        loaded.get_topic_sizes(), "topic_id", "topic_size"
    ) == _rows(eng.get_topic_sizes(), "topic_id", "topic_size")
    # derived c-TF-IDF topic words recompute identically
    assert _rows(
        loaded.get_topics(), "topic_id", "rank", "term", "ctfidf"
    ) == _rows(eng.get_topics(), "topic_id", "rank", "term", "ctfidf")
    got = loaded.search_documents_by_topic(0, 5).collect()
    want = eng.search_documents_by_topic(0, 5).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_reduced_mirror_roundtrip(saved, loaded):
    eng, _, _ = saved
    assert loaded.get_topic_hierarchy() == eng.get_topic_hierarchy()
    assert _rows(
        loaded.get_topic_sizes(reduced=True), "topic_id", "topic_size"
    ) == _rows(eng.get_topic_sizes(reduced=True), "topic_id", "topic_size")
    for t, v in eng._centroids_reduced.items():
        np.testing.assert_allclose(loaded._centroids_reduced[t], v)


def test_lexical_index_roundtrip(saved, loaded):
    eng, _, _ = saved
    q = ["markera", "subjecta"]
    got = loaded.search_documents_by_keywords(q, 5).collect()
    want = eng.search_documents_by_keywords(q, 5).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    assert loaded._index is not None  # WAND path, not brute fallback


def test_ann_index_roundtrip(saved, loaded):
    eng, _, spark = saved
    qv = [0.0] * DIM
    qv[0] = 5.0
    got = loaded.search_documents_by_vector(qv, 5, use_index=True, ef=200)
    want = eng.search_documents_by_vector(qv, 5, use_index=True, ef=200)
    assert [(r["doc_id"], r["score"]) for r in got.collect()] == [
        (r["doc_id"], r["score"]) for r in want.collect()
    ]


def test_custom_tokenizer_contract(spark, tmp_path):
    from top2vec_spark import Top2VecSpark

    tok = lambda s: s.upper().split()  # noqa: E731
    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(6)],
        "doc_id long, text string",
    )
    eng = Top2VecSpark(spark, docs, min_count=1, tokenizer=tok)
    eng.save(str(tmp_path / "m"))
    with pytest.raises(ValueError, match="custom tokenizer"):
        Top2VecSpark.load(spark, str(tmp_path / "m"))
    back = Top2VecSpark.load(spark, str(tmp_path / "m"), tokenizer=tok)
    assert _rows(back.vocab, "term", "df") == _rows(eng.vocab, "term", "df")


def test_ngram_phrases_roundtrip(spark, tmp_path):
    """An ngram_vocab engine saves the phrases its index was built
    with: after an append brings a new frequent bigram, the loaded
    engine does not mine it from the saved docs, so every term of its
    tokens is a term of its index."""
    from top2vec_spark import Top2VecSpark

    fill = [f"f{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(600)]

    def docs(lead, stride, n):
        rows = [
            (i, f"{lead} " + " ".join(fill[(stride * i + j) % 600] for j in range(8)))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    eng = Top2VecSpark(
        spark, docs("machine learning", 7, 60), min_count=0,
        ngram_vocab=True, phrase_threshold=1.0,
    )
    eng.build_index(str(tmp_path / "idx"), resume=False, docs_per_shard=64, n_buckets=8)
    out = eng.add_documents(docs("deep network", 11, 30))
    out.save(str(tmp_path / "m"))
    back = Top2VecSpark.load(spark, str(tmp_path / "m"))
    terms = {r["term"] for r in back.tokens.select("term").distinct().collect()}
    assert "machine learning" in terms
    assert terms <= set(back.vocab_map)
