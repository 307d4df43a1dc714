"""One source of corpus statistics: an engine with an index scores
with the index's N, avgdl, df and dl on every path (pre-delete until
compaction, identical across save/load and after appends), builds no
table at construction, and keeps a cached index cached across an
append."""

from __future__ import annotations

import pytest

from top2vec_spark import Top2VecSpark
from top2vec_spark.operators.corpus_stats import (
    build_doc_stats,
    build_vocab,
    compute_globals,
)
from top2vec_spark.operators.tokens import assign_doc_ids
from top2vec_spark.sources.pages import generate_pages_pdf

DPS, NB = 64, 8


def _jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    import time

    sc = spark.sparkContext
    group = f"stats-source-{time.time_ns()}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def pages(spark):
    pdf = generate_pages_pdf(200, seed=71)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    return docs.cache(), pdf


def _new_docs(spark, pdf, n=30):
    """``n`` docs that all carry a term the base corpus lacks: a fresh
    (df desc, term asc) numbering moves every term with df < n, while
    an append keeps the stored ids."""
    rows = [(i, f"{t} zzqfresh") for i, t in enumerate(pdf["text"].iloc[:n])]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _engine(spark, docs, path, **kw):
    eng = Top2VecSpark(spark, docs, min_count=0, **kw)
    eng.build_index(path, resume=False, docs_per_shard=DPS, n_buckets=NB)
    return eng


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _stats(eng, vocab_cols=("term", "term_id", "df", "cf")):
    return (
        eng.globals,
        _rows(eng.vocab, *vocab_cols),
        _rows(eng.doc_stats, "doc_id", "dl"),
    )


def _fresh(eng, vocab_cols=("term", "term_id", "df", "cf")):
    """The same statistics derived from ``eng.tokens`` from scratch."""
    ds = build_doc_stats(eng.tokens)
    return (
        compute_globals(ds),
        _rows(build_vocab(eng.tokens, min_count=eng.min_count), *vocab_cols),
        _rows(ds, "doc_id", "dl"),
    )


def _hits(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _query(eng, n=4):
    """Mid-frequency terms: their ids move when a fresh numbering
    differs from the index's."""
    terms = [
        r["term"]
        for r in eng.vocab.filter("df >= 3 AND df < 30")
        .orderBy("df", "term")
        .collect()
    ]
    return terms[:: max(1, len(terms) // n)][:n]


def test_constructor_and_indexed_globals_run_no_job(spark, pages, tmp_path):
    docs, _ = pages
    eng, n = _jobs(spark, lambda: Top2VecSpark(spark, docs, min_count=0))
    assert n == 0
    eng.build_index(str(tmp_path / "i"), resume=False, docs_per_shard=DPS, n_buckets=NB)
    g, n = _jobs(spark, lambda: eng.globals)
    assert n == 0 and g == eng._index.globs


def test_add_documents_constructor_runs_no_job(spark, pages, tmp_path, monkeypatch):
    docs, pdf = pages
    eng = _engine(spark, docs, str(tmp_path / "a"))
    counts = []
    init = Top2VecSpark.__init__

    def counted(self, *a, **kw):
        counts.append(_jobs(spark, lambda: init(self, *a, **kw))[1])

    monkeypatch.setattr(Top2VecSpark, "__init__", counted)
    out = eng.add_documents(_new_docs(spark, pdf))
    monkeypatch.undo()
    assert counts == [0]
    assert out.globals == out._index.globs


def test_statistics_equal_a_fresh_derivation(spark, pages, tmp_path):
    """After build, append (min_count=0, no delete) and compaction the
    facade's statistics bit-equal a derivation from its tokens; a
    delete keeps the index's pre-delete values. Appends keep stored
    term ids (new terms numbered after them), so after one only
    (term, df, cf) is compared."""
    docs, pdf = pages
    eng = _engine(spark, docs, str(tmp_path / "f"))
    assert _stats(eng) == _fresh(eng)

    out = eng.add_documents(_new_docs(spark, pdf))
    cols = ("term", "df", "cf")
    assert _stats(out, cols) == _fresh(out, cols)
    assert out.globals.n_docs == 230

    before = _stats(out)
    out.delete_documents([0, 1, 2, 3, 4])
    assert _stats(out) == before
    assert out.globals == out._index.globs

    out.compact_index()
    assert out.globals.n_docs == 225
    assert _stats(out) == _fresh(out)


def test_save_load_after_delete_scores_identically(spark, pages, tmp_path):
    """delete -> save -> load: the loaded engine scores with the same
    (pre-delete) statistics, so its top-k equals the saved engine's in
    rank and float64 score."""
    docs, _ = pages
    eng = _engine(spark, docs, str(tmp_path / "s"))
    q = _query(eng)
    victims = [d for d, _ in _hits(eng.search_documents_by_keywords(
        q, 2, return_documents=False))]
    eng.delete_documents(victims)
    want = _hits(eng.search_documents_by_keywords(q, 5, return_documents=False))
    eng.save(str(tmp_path / "model"))
    back = Top2VecSpark.load(spark, str(tmp_path / "model"))
    assert back.globals == eng.globals
    assert _hits(back.search_documents_by_keywords(q, 5, return_documents=False)) == want


def test_delete_then_append_uses_index_globals(spark, pages, tmp_path):
    docs, pdf = pages
    eng = _engine(spark, docs, str(tmp_path / "d"))
    eng.delete_documents([3, 4])
    out = eng.add_documents(_new_docs(spark, pdf))
    assert out.globals == out._index.globs
    assert out.globals.n_docs == 230


def test_over_cap_vocab_after_append_resolves_index_ids(spark, pages, tmp_path, monkeypatch):
    """Over the driver vocab cap, queries resolve term ids from the
    vocab table: after an append it must be the index's (stored ids),
    not a renumbered copy, or WAND scores other terms' postings."""
    docs, pdf = pages
    out = _engine(spark, docs, str(tmp_path / "c")).add_documents(
        _new_docs(spark, pdf)
    )
    q = _query(out)
    monkeypatch.setattr(Top2VecSpark, "_VOCAB_DRIVER_CAP", 0)
    assert out.vocab_map is None
    over = _hits(out.search_documents_by_keywords(q, 5, return_documents=False))
    monkeypatch.undo()
    del out._vocab_map
    assert out.vocab_map is not None
    under = _hits(out.search_documents_by_keywords(q, 5, return_documents=False))
    brute = _hits(out.search_documents_by_keywords(
        q, 5, return_documents=False, use_index=False))
    assert over == under == brute


def test_append_keeps_a_cached_index_cached(spark, pages, tmp_path):
    """A cached serving index stays cached across add_documents, so a
    keyword search on the new engine runs one job (no per-query
    Exchange); the source engine keeps its own cache."""
    docs, pdf = pages
    # no url column: a search without documents then projects nothing
    eng = _engine(spark, docs.select("doc_id", "text"), str(tmp_path / "k"))
    eng._index.cache()
    out = eng.add_documents(_new_docs(spark, pdf))
    assert eng._index._postings.is_cached
    assert out._index._postings.is_cached

    def kw():
        return out.search_documents_by_keywords(
            ["wa", "zzqfresh"], 5, return_documents=False
        ).collect()

    kw()  # derives the vocab map and the id bounds
    _, n = _jobs(spark, kw)
    assert n == 1


def test_ngram_append_keeps_the_index_tokenization(spark, tmp_path):
    """An indexed ngram_vocab engine's add_documents result tokenizes
    with its source's phrases, the ones the appended index used: its
    tokens derive the index's statistics, and a bigram frequent only in
    the new docs is a term of neither."""
    fill = ["f" + chr(97 + i // 26 // 26) + chr(97 + i // 26 % 26) + chr(97 + i % 26)
            for i in range(600)]

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
    eng.build_index(str(tmp_path / "g"), resume=False, docs_per_shard=DPS, n_buckets=NB)
    assert "machine learning" in eng.vocab_map
    out = eng.add_documents(docs("deep network", 11, 30))
    cols = ("term", "df", "cf")
    assert _fresh(out, cols)[1] == _rows(out._index.vocab, *cols)
    assert "deep network" not in out.vocab_map
