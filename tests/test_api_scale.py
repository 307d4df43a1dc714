"""Scale-shape regressions for the query/mutation hot paths: O(k)
projection join-back, driver-side dense-id validation, tokenizer
consistency across incremental appends, and rebuild hygiene for
append/tombstone state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from top2vec_spark import Top2VecSpark
from top2vec_spark.operators.tokens import assign_doc_ids
from top2vec_spark.plans.build import IndexBuilder
from top2vec_spark.sources.pages import generate_pages_pdf


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    """Docs persisted to parquet so PushedFilters are observable."""
    pdf = generate_pages_pdf(200, seed=61)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    p = str(tmp_path_factory.mktemp("docs") / "docs.parquet")
    docs.write.parquet(p)
    return spark.read.parquet(p)


def test_projection_is_pushed_isin_not_full_scan(spark, parquet_docs, monkeypatch):
    """_project must fetch url/text for the <=k hits via a pushed
    doc_id IN (...) filter on the docs scan — not stream the whole
    corpus through a join (a full-table read per query at 10^12).
    The returned frame is local, so the plan is the fetch's own."""
    eng = Top2VecSpark(spark, parquet_docs, ascii_fast_path=True)
    plans = []
    cls = type(parquet_docs)
    orig = cls.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig(self)

    monkeypatch.setattr(cls, "collect", spy)
    res = eng.search_documents_by_keywords(["wa"], 5, return_documents=True)
    monkeypatch.undo()
    # the one action that reads url/text from the docs scan
    fetch = [p for p in plans if "url:string" in p]
    assert len(fetch) == 1, plans
    assert "PushedFilters: [In(doc_id" in fetch[0], fetch[0]
    rows = res.collect()
    assert len(rows) == 5
    assert all(r["text"] is not None for r in rows)


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out = fn()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(set(sc.statusTracker().getJobIdsForGroup(None)) - before)


def test_projection_job_counts(spark, parquet_docs, tmp_path):
    """On a cached index, a keyword search that returns documents runs
    the top-k and one fetch (two jobs), so does the same search without
    documents on a (doc_id, url, text) corpus, and collecting the
    returned frame runs none."""
    eng = Top2VecSpark(spark, parquet_docs, ascii_fast_path=True)
    eng.build_index(str(tmp_path / "jidx"), docs_per_shard=64, n_buckets=8)
    eng._index.cache()
    eng.search_documents_by_keywords(["wa", "wb"], 5)  # warm planning state
    for docs in (True, False):
        res, n = _jobs(
            spark,
            lambda: eng.search_documents_by_keywords(
                ["wa", "wb"], 5, return_documents=docs
            ),
        )
        assert n <= 2, (docs, n)
        rows, n = _jobs(spark, res.collect)
        assert n == 0 and len(rows) == 5
        assert ("text" in res.columns) == docs and "url" in res.columns


def test_projection_over_cap_streams_every_row(spark, parquet_docs, monkeypatch):
    """Above _PROJECT_COLLECT_CAP hits the result streams through a join
    with ``docs``: keyword and hybrid searches still return every row,
    in rank order, with the right text."""
    eng = Top2VecSpark(spark, parquet_docs, ascii_fast_path=True)
    vecs = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 5) % 13), 1.0]) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    eng.set_document_vectors(vecs)
    text = {r["doc_id"]: r["text"] for r in parquet_docs.collect()}
    calls = {
        "kw": lambda: eng.search_documents_by_keywords(["wa", "wb"], 10),
        "hybrid": lambda: eng.hybrid_search_documents(
            ["wa", "wb"], [1.0, 2.0, 1.0], 10
        ),
    }
    under = {name: [tuple(r) for r in call().collect()] for name, call in calls.items()}
    monkeypatch.setattr(Top2VecSpark, "_PROJECT_COLLECT_CAP", 3)
    for name, call in calls.items():
        rows = [tuple(r) for r in call().collect()]
        assert rows == under[name] and len(rows) == 10, name
        assert all(r[-1] == text[r[0]] for r in rows), name


def test_dense_id_validation_runs_driver_side(spark, parquet_docs):
    """With dense 0..n-1 ids (the assign_doc_ids contract), repeat
    doc_id validation must not scan the corpus: after the one cached
    bounds aggregate, validation succeeds even if the docs relation
    becomes unreadable."""
    eng = Top2VecSpark(spark, parquet_docs, ascii_fast_path=True)
    eng._validate_doc_ids([0, 1, 2])  # warms the bounds cache
    real_docs = eng.docs
    eng.docs = None  # poison: any fallback scan would raise
    try:
        eng._validate_doc_ids([0, 199])
        with pytest.raises(ValueError, match="is not a valid document id"):
            eng._validate_doc_ids([10**9])
    finally:
        eng.docs = real_docs


def test_append_uses_engine_tokenizer(spark, tmp_path):
    """ADVICE round 2: appended docs must be indexed under the SAME
    tokenization as the base build. A custom tokenizer keeps digit-
    containing tokens the contract tokenizer would split; terms seen
    only in appended docs must still be searchable."""

    def tok(s: str) -> list[str]:
        return s.lower().split()

    base = spark.createDataFrame(
        [(i, f"alpha beta q7x gamma w{i % 5}") for i in range(40)],
        "doc_id long, text string",
    )
    eng = Top2VecSpark(spark, base, tokenizer=tok)
    eng.build_index(str(tmp_path / "tokidx"))
    assert eng.search_documents_by_keywords(["q7x"], 3).count() == 3

    new = spark.createDataFrame(
        [(i, "alpha m3y q7x fresh words") for i in range(5)],
        "doc_id long, text string",
    )
    eng2 = eng.add_documents(new)
    # m3y exists ONLY in appended docs: postings + vocab must carry it
    hits = eng2.search_documents_by_keywords(
        ["m3y"], 5, return_documents=False
    ).collect()
    assert len(hits) == 5
    appended_ids = {r["doc_id"] for r in hits}
    assert all(i >= 40 for i in appended_ids)


def test_rebuild_clears_append_and_tombstone_state(spark, tmp_path):
    """ADVICE round 2: a full rebuild at the same path must clear
    _appends/tf_appends/tombstones from the prior corpus — otherwise a
    post-rebuild append reusing an epoch id (restarted stream) silently
    no-ops on the stale .done marker, and old-corpus tombstones leak."""
    path = str(tmp_path / "ridx")

    def mkdocs(n, off=0, word="orig"):
        return spark.createDataFrame(
            [(i, f"{word} common words w{i % 7}") for i in range(off, off + n)],
            "doc_id long, text string",
        )

    idx = IndexBuilder(spark, path, docs_per_shard=32).build_from_docs(
        mkdocs(64), resume=False
    )
    idx = idx.append_documents(mkdocs(16, off=64), epoch_id=0)
    assert idx.globs.n_docs == 80
    idx.delete_documents([0, 1, 2])
    assert len(idx.tombstones) == 3

    # full rebuild, NEW corpus, same path
    idx2 = IndexBuilder(spark, path, docs_per_shard=32).build_from_docs(
        mkdocs(50, word="fresh"), resume=False
    )
    assert idx2.globs.n_docs == 50
    assert idx2.tombstones == frozenset()
    # epoch 0 again: must APPLY (stale marker would silently no-op)
    idx3 = idx2.append_documents(mkdocs(10, off=64, word="fresh"), epoch_id=0)
    assert idx3.globs.n_docs == 60


def test_reference_message_parity(spark, parquet_docs):
    """P6: the validated error conditions raise the reference's exact
    messages (top2vec.py:1349-1477)."""
    eng = Top2VecSpark(spark, parquet_docs, ascii_fast_path=True)
    with pytest.raises(ValueError, match=r"num_docs cannot be less than 0\."):
        eng.search_documents_by_keywords(["wa"], -1)
    with pytest.raises(
        ValueError, match=r"num_docs cannot exceed the number of documents: 200\."
    ):
        eng.search_documents_by_keywords(["wa"], 201)
    with pytest.raises(
        ValueError,
        match=r"'zzznotaword' has not been learned by the model so it "
        r"cannot be searched\.",
    ):
        eng.search_documents_by_keywords(["zzznotaword"], 5)
    with pytest.raises(ValueError, match=r"Query needs to be a string\."):
        eng.query_documents(123, 5)
    with pytest.raises(ValueError, match=r"42424242 is not a valid document id\."):
        eng.search_documents_by_documents([42424242], 5)
    with pytest.raises(
        ValueError, match=r"Hierarchical topic reduction has not been performed\."
    ):
        eng.get_topic_hierarchy()


def test_reference_message_parity_topics(spark):
    from top2vec_spark import Top2VecSpark as Engine

    rng = __import__("numpy").random.default_rng(17)
    rows = [
        (i, [float(x) for x in rng.normal(size=6)], i % 3) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    docs = spark.createDataFrame(
        [(i, f"doc {i} words") for i in range(30)], "doc_id long, text string"
    )
    eng = Engine(spark, docs, ascii_fast_path=True)
    eng.compute_topics(emb)
    with pytest.raises(
        ValueError, match=r"num_topics cannot exceed the number of topics: 3\."
    ):
        eng.search_topics_by_vector([0.0] * 6, 4)
    with pytest.raises(
        ValueError,
        match=r"Invalid topic number: valid original topics numbers are 0 to 2\.",
    ):
        eng.search_documents_by_topic(3, 1, return_documents=False)
    with pytest.raises(
        ValueError,
        match=r"Invalid number of documents: original topic 0 only has \d+ documents\.",
    ):
        eng.search_documents_by_topic(0, 1000, return_documents=False)
    with pytest.raises(
        ValueError, match=r"Number of topics must be less than 3\."
    ):
        eng.hierarchical_topic_reduction(3)
