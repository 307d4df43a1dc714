"""Query-language parser + mixed executor vs independent oracles."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from top2vec_spark.config import BM25Config
from top2vec_spark.functions.querylang import parse_query
from top2vec_spark.operators.bm25 import bm25_topk_bruteforce, idf, term_weights
from top2vec_spark.operators.corpus_stats import (
    build_doc_stats,
    build_vocab,
    compute_globals,
)
from top2vec_spark.operators.positional import mixed_query_topk, phrase_topk
from top2vec_spark.operators.tokens import tokenize_docs

from tests.test_positional import CORPUS, _py_phrase_occ, _pytoks


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------
def test_parse_terms_and_signs():
    assert parse_query("Spark -slow") == [
        (1.0, ("spark",), False, None, None, None, None, None),
        (-1.0, ("slow",), False, None, None, None, None, None),
    ]


def test_parse_phrases():
    assert parse_query('"Fast Table" scan -"slow scan"') == [
        (1.0, ("fast", "table"), False, None, None, None, None, None),
        (1.0, ("scan",), False, None, None, None, None, None),
        (-1.0, ("slow", "scan"), False, None, None, None, None, None),
    ]


def test_parse_duplicates_kept():
    assert parse_query("a a") == [(1.0, ("a",), False, None, None, None, None, None), (1.0, ("a",), False, None, None, None, None, None)]


@pytest.mark.parametrize(
    "bad",
    ["", "   ", '"unclosed', '""', "- x", "-", 42],
)
def test_parse_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


# ---------------------------------------------------------------------------
# Executor
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def env(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    tokens = tokenize_docs(docs, ascii_fast_path=True).cache()
    vocab = build_vocab(tokens, min_count=0)
    ds = build_doc_stats(tokens)
    g = compute_globals(ds)
    return tokens, vocab, ds, g


def test_terms_only_equals_brute_bm25(spark, env):
    tokens, vocab, ds, g = env
    atoms = parse_query("fast -slow")
    got = mixed_query_topk(spark, tokens, ds, g, vocab, atoms, 10).collect()
    w = term_weights(spark, vocab, ["fast"], ["slow"])
    want = bm25_topk_bruteforce(tokens, ds, g, w, 10).collect()
    assert [(r["doc_id"], round(r["score"], 10)) for r in got] == [
        (r["doc_id"], round(r["score"], 10)) for r in want
    ]


def test_phrase_only_equals_phrase_topk(spark, env):
    tokens, vocab, ds, g = env
    atoms = parse_query('"fast table"')
    got = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(spark, tokens, ds, g, vocab, atoms, 10).collect()
    }
    want = {
        r["doc_id"]: r["score"]
        for r in phrase_topk(tokens, ds, g, ["fast", "table"], 10).collect()
    }
    assert set(got) == set(want)
    for d in want:
        assert math.isclose(got[d], want[d], rel_tol=1e-12)


def test_mixed_query_matches_python(spark, env):
    tokens, vocab, ds, g = env
    atoms = parse_query('"fast table" spark -slow')
    rows = mixed_query_topk(spark, tokens, ds, g, vocab, atoms, 10).collect()
    # python oracle
    cfg = BM25Config()
    dls = {d: len(_pytoks(t)) for d, t in CORPUS}
    dls = {d: v for d, v in dls.items() if v > 0}
    avgdl = sum(dls.values()) / len(dls)

    def bm25(tf, df_, dl):
        return (
            idf(g.n_docs, df_)
            * (tf * (cfg.k1 + 1))
            / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dl / avgdl))
        )

    exp: dict[int, float] = {}
    occ = _py_phrase_occ(["fast", "table"])
    by_doc: dict[int, int] = {}
    for d, _ in occ:
        by_doc[d] = by_doc.get(d, 0) + 1
    for d, tf in by_doc.items():
        exp[d] = exp.get(d, 0.0) + bm25(tf, len(by_doc), dls[d])
    for term, sign in (("spark", 1.0), ("slow", -1.0)):
        dfq = sum(1 for _, t in CORPUS if term in _pytoks(t))
        for d, t in CORPUS:
            tf = _pytoks(t).count(term)
            if tf:
                exp[d] = exp.get(d, 0.0) + sign * bm25(tf, dfq, dls[d])
    got = {r["doc_id"]: r["score"] for r in rows}
    assert set(got) == set(exp)
    for d in exp:
        assert math.isclose(got[d], exp[d], rel_tol=1e-9), (d, got[d], exp[d])
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_repeated_atom_boosts(spark, env):
    tokens, vocab, ds, g = env
    one = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast"), 10
        ).collect()
    }
    two = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast fast"), 10
        ).collect()
    }
    for d in one:
        assert math.isclose(two[d], 2 * one[d], rel_tol=1e-12)


def test_unknown_word_raises(spark, env):
    tokens, vocab, ds, g = env
    with pytest.raises(ValueError, match="not in vocabulary"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query('"fast zebra"'), 10
        )


def test_parse_prefix():
    assert parse_query("St* -slow") == [
        (1.0, ("st*",), False, None, None, None, None, None),
        (-1.0, ("slow",), False, None, None, None, None, None),
    ]


def test_parse_boosts():
    assert parse_query('Spark^2 -slow^0.5 "Fast Table"^3 st*^1.5 a^.25') == [
        (2.0, ("spark",), False, None, None, None, None, None),
        (-0.5, ("slow",), False, None, None, None, None, None),
        (3.0, ("fast", "table"), False, None, None, None, None, None),
        (1.5, ("st*",), False, None, None, None, None, None),
        (0.25, ("a",), False, None, None, None, None, None),
    ]


def test_parse_must():
    got = parse_query('+Spark -slow +"Fast Table"^2 +st* wb')
    assert got == [
        (1.0, ("spark",), True, None, None, None, None, None),
        (-1.0, ("slow",), False, None, None, None, None, None),
        (2.0, ("fast", "table"), True, None, None, None, None, None),
        (1.0, ("st*",), True, None, None, None, None, None),
        (1.0, ("wb",), False, None, None, None, None, None),
    ]
    assert [a.must for a in got] == [True, False, True, True, False]


@pytest.mark.parametrize("bad", ["+", "+ x", "+-a", "-+a", "a +"])
def test_parse_must_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def test_must_filters_but_scores_identically(spark, env):
    """'+fast slow' returns ONLY docs containing fast, each scored
    exactly as by the unfiltered 'fast slow'; '+fast +slow' keeps
    exactly the docs containing both (Lucene must-clause semantics)."""
    tokens, vocab, ds, g = env

    def scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 50
            ).collect()
        }

    free = scores("fast slow")
    has_fast = {d for d, t in CORPUS if "fast" in _pytoks(t)}
    has_slow = {d for d, t in CORPUS if "slow" in _pytoks(t)}
    got = scores("+fast slow")
    assert set(got) == set(free) & has_fast
    for d in got:
        assert math.isclose(got[d], free[d], rel_tol=1e-12)
    both = scores("+fast +slow")
    assert set(both) == has_fast & has_slow
    for d in both:
        assert math.isclose(both[d], free[d], rel_tol=1e-12)


def test_must_phrase_and_prefix(spark, env):
    tokens, vocab, ds, g = env

    def scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 50
            ).collect()
        }

    free = scores('"fast table" slow')
    phrase_docs = {d for d, _ in _py_phrase_occ(["fast", "table"])}
    got = scores('+"fast table" slow')
    assert set(got) == phrase_docs
    for d in got:
        assert math.isclose(got[d], free[d], rel_tol=1e-12)
    # must-prefix: any expansion of s* satisfies the clause
    s_docs = {
        d for d, t in CORPUS if any(w.startswith("s") for w in _pytoks(t))
    }
    free_p = scores("s* fast")
    got_p = scores("+s* fast")
    assert set(got_p) == set(free_p) & s_docs
    for d in got_p:
        assert math.isclose(got_p[d], free_p[d], rel_tol=1e-12)


@pytest.mark.parametrize(
    "bad",
    [
        "a^",          # empty boost
        "a^x",         # non-numeric
        "a^2^3",       # double caret
        "a^-1",        # negative
        "a^0",         # zero (silent atom delete -> explicit error)
        "a^1e3",       # exponent form rejected (oracle-exact decimals only)
        "a^inf",
        "^2",          # dangling caret
        '"a b"x',      # junk after closing quote
        '"a b"^',      # empty phrase boost
        "a^2*",        # star after boost
    ],
)
def test_parse_boost_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def test_boost_scales_scores(spark, env):
    """'fast^2' must score exactly like 'fast fast' (Lucene repeated-
    term additivity) and 2x 'fast'; a boosted phrase scales the same
    way; '-slow^0.5' is half a negation."""
    tokens, vocab, ds, g = env

    def scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 20
            ).collect()
        }

    one, boosted, doubled = scores("fast"), scores("fast^2"), scores("fast fast")
    assert set(one) == set(boosted) == set(doubled)
    for d in one:
        assert math.isclose(boosted[d], 2 * one[d], rel_tol=1e-12)
        assert math.isclose(boosted[d], doubled[d], rel_tol=1e-12)

    p1, p3 = scores('"fast table"'), scores('"fast table"^3')
    assert set(p1) == set(p3)
    for d in p1:
        assert math.isclose(p3[d], 3 * p1[d], rel_tol=1e-12)

    mixed = scores('fast^2 -slow^0.5')
    neg = scores("slow")
    for d in mixed:
        want = 2 * one.get(d, 0.0) - 0.5 * neg.get(d, 0.0)
        assert math.isclose(mixed[d], want, rel_tol=1e-9), (d, mixed[d], want)


def test_boosted_prefix_scales(spark, env):
    tokens, vocab, ds, g = env

    def scores(q):
        return {
            r["doc_id"]: r["score"]
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 20
            ).collect()
        }

    plain, boosted = scores("s*"), scores("s*^2")
    assert set(plain) == set(boosted)
    for d in plain:
        assert math.isclose(boosted[d], 2 * plain[d], rel_tol=1e-12)


# "a*b" became a legal mid-term wildcard (F19); star-only, leading
# wildcards, and in-phrase wildcards still reject
@pytest.mark.parametrize("bad", ["*", "-*", '"fast ta*"', "*abc", "?ab"])
def test_parse_prefix_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def test_prefix_expansion_matches_manual_or(spark, env):
    """'s*' must score exactly like spelling out every vocab term that
    starts with s as individual atoms."""
    tokens, vocab, ds, g = env
    expansions = sorted(
        r["term"]
        for r in vocab.filter(F.col("term").startswith("s")).collect()
    )
    assert len(expansions) >= 3  # scan, slow, sorted, spark...
    via_prefix = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("s*"), 20
        ).collect()
    }
    spelled = " ".join(expansions)
    via_terms = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query(spelled), 20
        ).collect()
    }
    assert set(via_prefix) == set(via_terms)
    for d in via_terms:
        assert math.isclose(via_prefix[d], via_terms[d], rel_tol=1e-12)


def test_prefix_no_match_and_cap(spark, env):
    tokens, vocab, ds, g = env
    with pytest.raises(ValueError, match="no vocabulary terms match"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("zzz*"), 5
        )
    with pytest.raises(ValueError, match="more than"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("s*"), 5,
            max_expansions=1,
        )


def test_facade_search_prefix(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    rows = eng.search("fa* -slow", 5, return_documents=False).collect()
    assert rows and all("score" in r.asDict() for r in rows)


def test_facade_search(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    rows = eng.search('"fast table" spark -slow', 5, return_documents=False)
    got = rows.collect()
    assert got and got[0]["score"] >= got[-1]["score"]
    with pytest.raises(ValueError):
        eng.search("", 5)
    with pytest.raises(ValueError):
        eng.search('"fast zebra"', 5)
    # + gate through the facade: every returned doc contains 'fast'
    has_fast = {d for d, t in CORPUS if "fast" in _pytoks(t)}
    must = eng.search("+fast slow", 5, return_documents=False).collect()
    assert must and {r["doc_id"] for r in must} <= has_fast


# ---------------------------------------------------------------------------
# Fuzzy terms (~N)
# ---------------------------------------------------------------------------
def test_parse_fuzzy():
    assert parse_query("sprk~ word~1 -oops~2^0.5 exact~0") == [
        (1.0, ("sprk",), False, 2, None, None, None, None),
        (1.0, ("word",), False, 1, None, None, None, None),
        (-0.5, ("oops",), False, 2, None, None, None, None),
        (1.0, ("exact",), False, 0, None, None, None, None),
    ]


@pytest.mark.parametrize(
    "bad", ["a~3", "a~10", "a~x", "~1", "- a~", "st*~1", "a~1.5"]
)
def test_parse_fuzzy_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def _lev(a: str, b: str) -> int:
    """Classic Levenshtein (insert/delete/substitute, no transposition)
    — the independent oracle for Spark's levenshtein()."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_expansion_matches_manual_or(spark, env):
    """'sprk~2' must score exactly like spelling out every vocab term
    within classic edit distance 2 — pinning both the expansion rule
    and that Spark's levenshtein is the classic metric."""
    tokens, vocab, ds, g = env
    expansions = sorted(
        r["term"]
        for r in vocab.collect()
        if _lev(r["term"], "sprk") <= 2
    )
    assert "spark" in expansions and len(expansions) >= 1
    via_fuzzy = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("sprk~2"), 20
        ).collect()
    }
    via_terms = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query(" ".join(expansions)), 20
        ).collect()
    }
    assert set(via_fuzzy) == set(via_terms)
    for d in via_terms:
        assert math.isclose(via_fuzzy[d], via_terms[d], rel_tol=1e-12)


def test_fuzzy_zero_is_exact(spark, env):
    tokens, vocab, ds, g = env
    a = mixed_query_topk(
        spark, tokens, ds, g, vocab, parse_query("fast~0"), 10
    ).collect()
    b = mixed_query_topk(
        spark, tokens, ds, g, vocab, parse_query("fast"), 10
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_fuzzy_boost_scales(spark, env):
    tokens, vocab, ds, g = env
    base = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("sprk~2"), 20
        ).collect()
    }
    boosted = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("sprk~2^3"), 20
        ).collect()
    }
    assert set(base) == set(boosted)
    for d in base:
        assert math.isclose(boosted[d], 3.0 * base[d], rel_tol=1e-12)


def test_fuzzy_no_match_and_cap(spark, env):
    tokens, vocab, ds, g = env
    with pytest.raises(ValueError, match="no vocabulary terms within"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("zzzzzzzzzz~1"), 5
        )
    with pytest.raises(ValueError, match="matches more than"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("sprk~2"), 5,
            max_expansions=0,
        )


def test_fuzzy_word_skips_vocab_validation(spark):
    """A misspelled fuzzy word must NOT hit keyword validation — it
    validates at expansion instead (that's the point of fuzzy)."""
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    rows = eng.search("sprk~2 -slow", 5, return_documents=False).collect()
    assert rows and rows[0]["score"] >= rows[-1]["score"]


def test_fuzzy_must_gates(spark, env):
    """'+sprk~2' gates to docs matching ANY expansion of the fuzzy
    atom, scores unchanged."""
    tokens, vocab, ds, g = env
    free = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("sprk~2 fast"), 20
        ).collect()
    }
    gated = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("+sprk~2 fast"), 20
        ).collect()
    }
    expansions = {
        r["term"] for r in vocab.collect() if _lev(r["term"], "sprk") <= 2
    }
    match = {d for d, t in CORPUS if expansions & set(_pytoks(t))}
    assert set(gated) == set(free) & match
    for d in gated:
        assert math.isclose(gated[d], free[d], rel_tol=1e-12)


# ---------------------------------------------------------------------------
# field:value filters
# ---------------------------------------------------------------------------
META = [(d, t, ["en", "de", "en", "fr", "en", "de", "fr"][d]) for d, t in CORPUS]


def test_parse_filters():
    # filter VALUES keep their case (keyword-field exact match);
    # scoring terms still lowercase (T4)
    assert parse_query("Spark lang:EN -source:Spam") == [
        (1.0, ("spark",), False, None, None, None, None, None),
        (1.0, ("EN",), False, None, "lang", None, None, None),
        (-1.0, ("Spam",), False, None, "source", None, None, None),
    ]


@pytest.mark.parametrize(
    "bad",
    ["lang:", ":en", "lang:en^2", "lang:en~1", "lang:e*", "+lang:en",
     "lang:a:b", "0lang:en"],
)
def test_parse_filter_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


@pytest.fixture(scope="module")
def meta_env(spark):
    docs = spark.createDataFrame(META, "doc_id long, text string, lang string")
    tokens = tokenize_docs(docs, ascii_fast_path=True).cache()
    vocab = build_vocab(tokens, min_count=0)
    ds = build_doc_stats(tokens)
    g = compute_globals(ds)
    return docs, tokens, vocab, ds, g


def test_filter_gates_without_scoring(spark, meta_env):
    """lang:en restricts the result to en docs; surviving scores are
    bit-identical to the unfiltered query (filters never score)."""
    docs, tokens, vocab, ds, g = meta_env
    free = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast -slow"), 20
        ).collect()
    }
    en = {d for d, _, l in META if l == "en"}
    got = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast -slow lang:en"), 20, doc_meta=docs,
        ).collect()
    }
    assert set(got) == set(free) & en
    for d in got:
        assert got[d] == free[d]


def test_filter_or_within_field_and_negation(spark, meta_env):
    docs, tokens, vocab, ds, g = meta_env
    free = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    both = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:en lang:fr"), 20, doc_meta=docs,
        ).collect()
    }
    keep = {d for d, _, l in META if l in ("en", "fr")}
    assert both == free & keep
    excl = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table -lang:de"), 20, doc_meta=docs,
        ).collect()
    }
    assert excl == free & {d for d, _, l in META if l != "de"}


def test_filter_exact_case(spark, meta_env):
    """Keyword-field semantics: 'lang:EN' does NOT match 'en' metadata
    (exact match keeps the predicate pushable into the parquet scan)."""
    docs, tokens, vocab, ds, g = meta_env
    got = mixed_query_topk(
        spark, tokens, ds, g, vocab,
        parse_query("fast lang:EN"), 20, doc_meta=docs,
    ).collect()
    assert got == []


def test_filter_predicate_pushdown(spark, meta_env):
    """The metadata predicate must stay pushable: the allowed-docs
    branch is Filter(plain column IN ...) directly over the relation —
    no lower()/udf wrap (which would silently block parquet pushdown
    and force a full metadata read)."""
    from top2vec_spark.operators.positional import _filter_allowed_docs

    docs, _, _, _, _ = meta_env
    allowed = _filter_allowed_docs(
        docs, [(1.0, "en", "lang"), (-1.0, "de", "lang")]
    )
    plan = allowed._jdf.queryExecution().optimizedPlan().toString()
    assert "lang#" in plan
    assert "lower(" not in plan and "LOWER(" not in plan


def test_filter_errors(spark, meta_env):
    docs, tokens, vocab, ds, g = meta_env
    with pytest.raises(ValueError, match="need document metadata"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast lang:en"), 5,
        )
    with pytest.raises(ValueError, match="unknown filter field"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast nosuch:x"), 5, doc_meta=docs,
        )
    # filter-only queries without metadata still need doc_meta
    with pytest.raises(ValueError, match="need document metadata"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("lang:en"), 5
        )


def test_filter_only_query_is_filter_context(spark, meta_env):
    """A query of ONLY filters is ES bool-filter context: every doc
    passing the filters matches at constant score 0.0 (match_all
    gated by metadata) — no token scan, ranking degenerates to
    doc_id ASC."""
    docs, tokens, vocab, ds, g = meta_env
    got = mixed_query_topk(
        spark, tokens, ds, g, vocab,
        parse_query("lang:en"), 20, doc_meta=docs,
    ).collect()
    en = sorted(d for d, _, l in META if l == "en")
    assert [r["doc_id"] for r in got] == en
    assert all(r["score"] == 0.0 for r in got)
    # value-group sugar composes: lang:(en de) = lang:en OR lang:de
    got2 = mixed_query_topk(
        spark, tokens, ds, g, vocab,
        parse_query("lang:(en de)"), 20, doc_meta=docs,
    ).collect()
    assert [r["doc_id"] for r in got2] == sorted(
        d for d, _, l in META if l in ("en", "de")
    )


def test_facade_search_filtered(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(META, "doc_id long, text string, lang string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    rows = eng.search("fast lang:en", 5, return_documents=True).collect()
    en = {d for d, _, l in META if l == "en"}
    assert rows and {r["doc_id"] for r in rows} <= en
    # text projection still works alongside the filter
    assert all(r["text"] for r in rows)
    # filter-only search through the facade: match_all gated by lang
    only = eng.search("lang:en", 3, return_documents=False).collect()
    assert [r["doc_id"] for r in only] == sorted(en)[:3]
    assert all(r["score"] == 0.0 for r in only)
    # facets over a filter-only query (the classic ES drill-down)
    fc = {r["key"]: r["doc_count"] for r in
          eng.facet_counts("lang:(en de)", "lang", 10).collect()}
    from collections import Counter
    want = Counter(l for _, _, l in META if l in ("en", "de"))
    assert fc == dict(want)


# ---------------------------------------------------------------------------
# Sloppy phrases ("a b"~N — unordered span-near)
# ---------------------------------------------------------------------------
def test_parse_slop():
    assert parse_query('"Fast Table"~2 -"slow scan"~0^1.5 "a b"~10') == [
        (1.0, ("fast", "table"), False, None, None, 2, None, None),
        (-1.5, ("slow", "scan"), False, None, None, 0, None, None),
        (1.0, ("a", "b"), False, None, None, 10, None, None),
    ]
    # must combines with slop; exact phrase stays slop=None
    got = parse_query('+"fast table"~1 "fast table"')
    assert got[0].must and got[0].slop == 1
    assert got[1].slop is None


@pytest.mark.parametrize(
    "bad",
    ['"a b"~', '"a b"~x', '"a b"~1.5', '"a b"~2x', '"a b"~-1', '"a b"~2~3'],
)
def test_parse_slop_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def _py_span_near_tf(terms, slop):
    """Brute oracle: tf per doc = count of hit positions p whose
    window [p, p+limit] contains every distinct term."""
    uniq = list(dict.fromkeys(terms))
    limit = len(uniq) - 1 + slop
    out = {}
    for doc_id, text in CORPUS:
        toks = _pytoks(text)
        hits = [i for i, t in enumerate(toks) if t in uniq]
        tf = 0
        for p in hits:
            window = set(toks[p : p + limit + 1])
            if all(t in window for t in uniq):
                tf += 1
        if tf:
            out[doc_id] = tf
    return out


@pytest.mark.parametrize(
    "terms,slop",
    [
        (["fast", "table"], 0),
        (["fast", "table"], 1),
        (["fast", "table"], 2),
        (["fast", "table", "scan"], 1),
        (["fast", "table", "scan"], 3),
        (["window", "merge"], 0),
        (["spark"], 2),
    ],
)
def test_span_near_tf_matches_brute(spark, env, terms, slop):
    from top2vec_spark.operators.positional import span_near_tf

    tokens, vocab, ds, g = env
    got = {
        r["doc_id"]: r["tf"]
        for r in span_near_tf(tokens, terms, slop).collect()
    }
    assert got == _py_span_near_tf(terms, slop)


def test_slop_zero_is_unordered_adjacency(spark, env):
    """Documented delta vs Lucene: slop 0 means "adjacent in any
    order" (SpanNear inOrder=false), so '"merge window"~0' counts
    windows the exact phrase scan does not."""
    from top2vec_spark.operators.positional import span_near_tf

    tokens, vocab, ds, g = env
    # doc 4 = "window merge window merge spark spark"
    near = {
        r["doc_id"]: r["tf"]
        for r in span_near_tf(tokens, ["merge", "window"], 0).collect()
    }
    occ = _py_phrase_occ(["merge", "window"])
    assert near[4] == 3  # starts at 0, 1, 2
    assert [p for d, p in occ if d == 4] == [1]  # exact ordered scan


def test_slop_scoring_matches_python(spark, env):
    """'"fast table"~1' scores as ONE pseudo-term with tf = span-near
    match count and df over matching docs — recompute the BM25 sum in
    plain Python."""
    tokens, vocab, ds, g = env
    cfg = BM25Config()
    tfs = _py_span_near_tf(["fast", "table"], 1)
    dls = {d: len(_pytoks(t)) for d, t in CORPUS}
    n = len(CORPUS)
    avgdl = sum(dls.values()) / n
    df = len(tfs)
    w = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    want = {
        d: w * (tf * (cfg.k1 + 1)) / (tf + cfg.k1 * (1 - cfg.b + cfg.b * dls[d] / avgdl))
        for d, tf in tfs.items()
    }
    got = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query('"fast table"~1'), 10
        ).collect()
    }
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_slop_boost_and_must(spark, env):
    tokens, vocab, ds, g = env
    base = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query('"fast table"~1 spark'), 10
        ).collect()
    }
    boosted = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query('"fast table"~1^2 spark'), 10,
        ).collect()
    }
    slop_docs = set(_py_span_near_tf(["fast", "table"], 1))
    # boost only scales the sloppy-phrase contribution
    for d in base:
        if d not in slop_docs:
            assert boosted[d] == pytest.approx(base[d], rel=1e-12)
    gated = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query('+"fast table"~1 spark'), 10,
        ).collect()
    }
    assert gated == slop_docs


# ---------------------------------------------------------------------------
# Range filters (field:[lo TO hi])
# ---------------------------------------------------------------------------
def test_parse_ranges():
    got = parse_query("spark n_chars:[100 TO 900] -source:{srcA TO srcB] lang:[* TO en}")
    assert got[1] == (1.0, (), False, None, "n_chars", None, ("100", "900", True, True), None)
    assert got[2] == (-1.0, (), False, None, "source", None, ("srcA", "srcB", False, True), None)
    assert got[3] == (1.0, (), False, None, "lang", None, (None, "en", True, False), None)


@pytest.mark.parametrize(
    "bad",
    [
        "f:[1 TO ]", "f:[ TO 2]", "f:[1 to 2]", "f:[1 TO 2]x", "f:[1 TO 2",
        "f:[1]", "+f:[1 TO 2]", "f:[a* TO b]", 'f:[a" TO b]', "f:[1 TO 2 TO 3]",
    ],
)
def test_parse_range_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


@pytest.fixture(scope="module")
def range_env(spark):
    rows = [
        (d, t, ["en", "de", "en", "fr", "en", None, "fr"][d], len(t))
        for d, t in CORPUS
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    tokens = tokenize_docs(docs, ascii_fast_path=True).cache()
    vocab = build_vocab(tokens, min_count=0)
    ds = build_doc_stats(tokens)
    g = compute_globals(ds)
    return rows, docs, tokens, vocab, ds, g


def test_range_numeric_gates_without_scoring(spark, range_env):
    rows, docs, tokens, vocab, ds, g = range_env
    free = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    got = {
        r["doc_id"]: r["score"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table n_chars:[20 TO 40]"), 20, doc_meta=docs,
        ).collect()
    }
    keep = {d for d, t, _, nc in rows if 20 <= nc <= 40}
    assert set(got) == set(free) & keep
    for d in got:
        assert got[d] == free[d]


def test_range_string_lex_and_exclusive(spark, range_env):
    rows, docs, tokens, vocab, ds, g = range_env
    free = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    langs = {d: l for d, _, l, _ in rows}
    incl = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:[de TO en]"), 20, doc_meta=docs,
        ).collect()
    }
    assert incl == {d for d in free if langs[d] in ("de", "en")}
    excl = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:{de TO fr}"), 20, doc_meta=docs,
        ).collect()
    }
    assert excl == {d for d in free if langs[d] == "en"}


def test_range_open_ends_and_exists(spark, range_env):
    rows, docs, tokens, vocab, ds, g = range_env
    free = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    langs = {d: l for d, _, l, _ in rows}
    upto = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:[* TO en]"), 20, doc_meta=docs,
        ).collect()
    }
    assert upto == {d for d in free if langs[d] in ("de", "en")}
    # [* TO *] = field exists (NULL lang excluded)
    exists = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:[* TO *]"), 20, doc_meta=docs,
        ).collect()
    }
    assert exists == {d for d in free if langs[d] is not None}
    # NULL never survives an exclusion either: -lang:[* TO *] keeps
    # nothing with NULL lang (and drops every lang'd doc)
    not_exists = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table -lang:[* TO *]"), 20, doc_meta=docs,
        ).collect()
    }
    assert not_exists == set()


def test_range_mixed_with_exact_ors_within_field(spark, range_env):
    """An exact value and a range on the SAME field OR together."""
    rows, docs, tokens, vocab, ds, g = range_env
    free = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    langs = {d: l for d, _, l, _ in rows}
    got = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table lang:fr lang:[de TO de]"), 20,
            doc_meta=docs,
        ).collect()
    }
    assert got == {d for d in free if langs[d] in ("fr", "de")}


def test_range_type_errors(spark, range_env):
    rows, docs, tokens, vocab, ds, g = range_env
    with pytest.raises(ValueError, match="not an integer"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast n_chars:[a TO 5]"), 5, doc_meta=docs,
        ).collect()
    with pytest.raises(ValueError, match="unknown filter field"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast nosuch:[1 TO 5]"), 5, doc_meta=docs,
        ).collect()


def test_range_predicate_pushdown(spark, range_env):
    from top2vec_spark.operators.positional import _filter_allowed_docs

    rows, docs, tokens, vocab, ds, g = range_env
    allowed = _filter_allowed_docs(
        docs,
        [(1.0, None, "n_chars", ("20", "40", True, False)),
         (-1.0, "de", "lang", None)],
    )
    plan = allowed._jdf.queryExecution().optimizedPlan().toString()
    assert "n_chars#" in plan and "lang#" in plan
    # numeric bounds became typed literals — no string-cast wrap on
    # the column (which would block parquet pushdown)
    assert "cast(n_chars" not in plan.lower()
    assert "lower(" not in plan.lower()


# ---------------------------------------------------------------------------
# facet_counts (ES terms-aggregation shape)
# ---------------------------------------------------------------------------
def test_facet_counts_matches_python(spark, range_env):
    from top2vec_spark.api import Top2VecSpark

    rows, docs, _, _, _, _ = range_env
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    matched = {
        r["doc_id"]
        for r in eng.search("fast table", 7, return_documents=False).collect()
    }
    langs = {d: l for d, _, l, _ in rows}
    from collections import Counter

    want = Counter(langs[d] for d in matched if langs[d] is not None)
    got = eng.facet_counts("fast table", "lang", 10).collect()
    assert [(r["key"], r["doc_count"]) for r in got] == sorted(
        want.items(), key=lambda kv: (-kv[1], kv[0])
    )


def test_facet_counts_respects_filters_and_errors(spark, range_env):
    from top2vec_spark.api import Top2VecSpark

    rows, docs, _, _, _, _ = range_env
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    got = {
        r["key"]: r["doc_count"]
        for r in eng.facet_counts("fast table lang:[de TO en]", "lang", 10).collect()
    }
    assert set(got) <= {"de", "en"}
    with pytest.raises(ValueError, match="unknown facet field"):
        eng.facet_counts("fast", "nosuch", 5)
    with pytest.raises(ValueError):
        eng.facet_counts("fast", "lang", 0)


# ---------------------------------------------------------------------------
# more_like_this (Lucene MLT) and count_matches (total hits)
# ---------------------------------------------------------------------------
def _py_mlt_terms(doc_id, max_terms):
    """Brute MLT selection: tf x idf rounded to 6, ties term ASC."""
    dls = {d: _pytoks(t) for d, t in CORPUS}
    n = len(CORPUS)
    dfs = {}
    for toks in dls.values():
        for t in set(toks):
            dfs[t] = dfs.get(t, 0) + 1
    from collections import Counter

    tfs = Counter(dls[doc_id])
    ranked = sorted(
        (
            (-round(tf * math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5)), 6), t)
            for t, tf in tfs.items()
        ),
    )
    return [t for _, t in ranked[:max_terms]]


def test_mlt_top_terms_matches_python(spark, env):
    from top2vec_spark.operators.bm25 import mlt_top_terms

    tokens, vocab, ds, g = env
    for doc_id in (0, 2, 4):
        for cap in (2, 5, 25):
            got = mlt_top_terms(tokens, vocab, g, doc_id, cap)
            assert got == _py_mlt_terms(doc_id, cap), (doc_id, cap)


def test_more_like_this_excludes_source(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    rows = eng.more_like_this(0, 5, return_documents=False).collect()
    assert rows and all(r["doc_id"] != 0 for r in rows)
    # MLT over doc 0's selected terms == keyword search over the same
    # terms with doc 0 excluded
    terms = _py_mlt_terms(0, 25)
    want = [
        (r["doc_id"], r["score"])
        for r in eng.search_documents_by_keywords(
            terms, 6, return_documents=False
        ).collect()
        if r["doc_id"] != 0
    ][:5]
    assert [(r["doc_id"], r["score"]) for r in rows] == want
    with pytest.raises(ValueError):
        eng.more_like_this(999, 5)
    with pytest.raises(ValueError, match="max_terms"):
        eng.more_like_this(0, 5, max_terms=0)


def test_more_like_this_cap_binds(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    got = {
        r["doc_id"]
        for r in eng.more_like_this(0, 6, max_terms=1, return_documents=False).collect()
    }
    # with only the single most distinctive term, the match set is
    # exactly the other docs containing that term
    term = _py_mlt_terms(0, 1)[0]
    want = {d for d, t in CORPUS if term in _pytoks(t) and d != 0}
    assert got == want


def test_count_matches(spark, range_env):
    from top2vec_spark.api import Top2VecSpark

    rows, docs, _, _, _, _ = range_env
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    toks = {d: _pytoks(t) for d, t in CORPUS}
    # bag-of-words OR (negative-only matches count: keywords_neg
    # ranking contract)
    assert eng.count_matches("fast -slow") == len(
        {d for d, ts in toks.items() if "fast" in ts or "slow" in ts}
    )
    # must gates
    assert eng.count_matches("+fast slow") == len(
        {d for d, ts in toks.items() if "fast" in ts}
    )
    # filters gate
    langs = {d: l for d, _, l, _ in rows}
    assert eng.count_matches("fast lang:en") == len(
        {d for d, ts in toks.items() if "fast" in ts and langs[d] == "en"}
    )


# ---------------------------------------------------------------------------
# Boolean operator keywords (UPPERCASE AND / OR / NOT)
# ---------------------------------------------------------------------------
def test_parse_boolean_keywords():
    assert parse_query("a AND b") == parse_query("+a +b")
    assert parse_query("a OR b") == parse_query("a b")
    assert parse_query("NOT b a") == parse_query("-b a")
    assert parse_query("a AND NOT b") == parse_query("+a -b")
    assert parse_query('a AND "x y"^2') == parse_query('+a +"x y"^2')
    assert parse_query("NOT lang:en a") == parse_query("-lang:en a")
    # AND next to a filter: the filter is left as-is (always gates),
    # the scoring side is upgraded
    got = parse_query("a AND lang:en")
    assert got[0].must and got[1].field == "lang" and not got[1].must
    # prohibited neighbors stay prohibited (Lucene clause conversion)
    got = parse_query("-a AND b")
    assert got[0].sign == -1.0 and not got[0].must and got[1].must
    # lowercase forms are ordinary terms
    assert [a.terms for a in parse_query("and or not")] == [
        ("and",), ("or",), ("not",)
    ]


@pytest.mark.parametrize(
    "bad",
    ["AND a", "a AND", "a OR", "OR a", "NOT", "a NOT", "NOT NOT a",
     "a AND AND b", "a OR OR b", "a OR AND b", "a AND OR b", "NOT -a",
     "NOT +a", "a NOT AND b"],
)
def test_parse_boolean_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def test_boolean_keywords_execute_like_explicit(spark, env):
    tokens, vocab, ds, g = env

    def run(q):
        return [
            (r["doc_id"], round(r["score"], 10))
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 10
            ).collect()
        ]

    assert run("fast AND table NOT slow") == run("+fast +table -slow")
    assert run("fast OR spark") == run("fast spark")


# ---------------------------------------------------------------------------
# Parenthesized groups (parse-time lowering)
# ---------------------------------------------------------------------------
def test_parse_group_distribution():
    # boost and sign distribute multiplicatively into every member
    assert parse_query("(a b)^2") == parse_query("a^2 b^2")
    assert parse_query("-(a b)") == parse_query("-a -b")
    assert parse_query("NOT (a b)") == parse_query("-a -b")
    assert parse_query('-("x y"^2 a)^0.5') == parse_query('-"x y"^1.0 -a^0.5')
    # nesting composes: ((a b)^2 c)^3 -> a,b x6, c x3
    assert parse_query("((a b)^2 c)^3") == parse_query("a^6 b^6 c^3")
    # inner atom kinds survive grouping untouched
    got = parse_query('(sprk~1 st* "p q"~2 f:[1 TO 2])^2')
    assert got[0].fuzz == 1 and got[0].sign == 2.0
    assert got[1].terms == ("st*",) and got[1].sign == 2.0
    assert got[2].slop == 2 and got[2].sign == 2.0
    # filters never score: sign distributes (an exclusion under -),
    # but boost has no scoring meaning on them — parity with bare atoms
    assert got[3].field == "f" and got[3].rng == ("1", "2", True, True)
    # a singleton group is transparent
    assert parse_query("(a) (b)^2") == parse_query("a b^2")


def test_parse_group_must():
    # +(...) = disjunctive must: members share ONE group id
    got = parse_query("+(a b) c")
    assert got[0].group == got[1].group == 0
    assert not got[0].must and not got[1].must and got[2].group is None
    # a singleton required group degenerates to a plain must
    assert parse_query("+(a) b") == parse_query("+a b")
    # AND adjacency requires a group exactly like '+'
    assert parse_query("(a b) AND c") == parse_query("+(a b) +c")
    assert parse_query("a AND (b c)") == parse_query("+a +(b c)")
    # retro-apply onto an already-required group is a no-op
    assert parse_query("+(a b) AND c") == parse_query("+(a b) +c")
    # two required groups get distinct ids
    got = parse_query("+(a b) +(c d)")
    assert got[0].group == 0 and got[2].group == 1
    # prohibited members stay prohibited, only positives join the group
    got = parse_query("+(a -b c)")
    assert got[0].group == 0 and got[2].group == 0
    assert got[1].sign == -1.0 and got[1].group is None
    # field grouping: field:(v1 v2) == field:v1 field:v2
    assert parse_query("lang:(en fr) a") == parse_query("lang:en lang:fr a")
    assert parse_query("-lang:(en fr) a") == parse_query("-lang:en -lang:fr a")


@pytest.mark.parametrize(
    "bad",
    ["(", ")", "()", "( )", "(a", "a)", "(a))", "(a)x", "(a)^x", "(a)^0",
     "(+a b)", "(a AND b)", "((a b) AND c)", "+(lang:en)", "+(-a)",
     "lang:()", "lang:(en", "lang:(en fr)x", "lang:(e*)", "(a OR)",
     "(OR a)", "(NOT)", '("unclosed)', "fast(slow)", "f:[a( TO b]"],
)
def test_parse_group_errors(bad):
    with pytest.raises(ValueError):
        parse_query(bad)


def test_group_scoring_matches_distributed(spark, env):
    """(fast table)^2 -(slow scan) scores bit-identically to the
    hand-distributed query — grouping is pure parse-time lowering."""
    tokens, vocab, ds, g = env

    def run(q):
        return [
            (r["doc_id"], r["score"])
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 10
            ).collect()
        ]

    assert run("(fast table)^2 -(slow scan)") == run("fast^2 table^2 -slow -scan")
    assert run('("fast table" spark)^0.5') == run('"fast table"^0.5 spark^0.5')


def test_group_must_gates_disjunctively(spark, env):
    """+(fast wb) keeps every doc matching fast OR wb (scored like the
    ungated query), drops the rest; contrast with +fast +wb (AND)."""
    tokens, vocab, ds, g = env

    def run(q):
        return {
            r["doc_id"]: round(r["score"], 10)
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 100
            ).collect()
        }

    free = run("fast window slow")
    either = run("+(fast window) slow")
    both = run("+fast +window slow")
    fast_docs = {r["doc_id"] for r in tokens.filter(F.col("term") == "fast").select("doc_id").distinct().collect()}
    win_docs = {r["doc_id"] for r in tokens.filter(F.col("term") == "window").select("doc_id").distinct().collect()}
    assert set(either) == (fast_docs | win_docs) & set(free)
    assert set(both) == fast_docs & win_docs & set(free)
    for d, s in either.items():
        assert s == free[d]  # gating never changes scores
    # two groups AND together
    two = run("+(fast window) +(slow fast) table")
    assert set(two) <= set(either)


def test_group_facade_and_keywords(spark):
    """The facade search accepts grouped queries end-to-end."""
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    got = eng.search("(fast table)^2 AND spark", 5, return_documents=False)
    want = eng.search("fast^2 table^2 AND spark", 5, return_documents=False)
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in want.collect()
    ]


# ---------------------------------------------------------------------------
# Cursor pagination (ES search_after)
# ---------------------------------------------------------------------------
def test_search_after_pages_partition_the_ranking(spark):
    """Pages chain with no overlap and no gap: page1 ++ page2 ++ page3
    == the one-shot top-7, scores identical; past the end -> empty."""
    from tests.test_positional import CORPUS
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    q = "fast table -slow"
    full = eng.search(q, 7, return_documents=False).collect()
    pages = []
    cursor = None
    for _ in range(3):
        rows = eng.search(
            q, 3, return_documents=False, search_after=cursor
        ).collect()
        if not rows:
            break
        pages.extend(rows)
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
    assert [(r["doc_id"], r["score"]) for r in pages] == [
        (r["doc_id"], r["score"]) for r in full
    ]
    # cursor past the last row -> empty page, not an error
    last = full[-1]
    assert (
        eng.search(
            q, 3, return_documents=False,
            search_after=(last["score"], last["doc_id"]),
        ).count()
        == 0
        or len(full) < 7  # corpus smaller than 7 matches: already drained
    )


def test_search_after_validates_cursor(spark):
    from tests.test_positional import CORPUS
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    for bad in [(1.0,), "cursor", (1.0, 2, 3)]:
        with pytest.raises(ValueError):
            eng.search("fast", 3, search_after=bad)


# ---------------------------------------------------------------------------
# explain() — Lucene IndexSearcher.explain parity
# ---------------------------------------------------------------------------
def test_explain_breakdown_sums_to_score(spark, env):
    """Per-atom contributions of the top doc sum to its search score
    (ULP-exact regroup of the engine's fold); n_terms counts prefix
    expansion hits; a non-matching doc explains to an empty frame."""
    from top2vec_spark.operators.positional import (
        mixed_query_explain,
        mixed_query_topk,
    )

    tokens, vocab, ds, g = env
    atoms = parse_query('"fast table"^2 s* -slow')
    top = mixed_query_topk(spark, tokens, ds, g, vocab, atoms, 3).collect()
    rows = mixed_query_explain(
        spark, tokens, ds, g, vocab, atoms, top[0]["doc_id"]
    ).collect()
    assert sum(r["contrib"] for r in rows) == top[0]["score"]
    assert [r["atom_id"] for r in rows] == sorted(r["atom_id"] for r in rows)
    # doc 0: 'scan slow sorted...' — s* matches scan+slow (+...?); at
    # minimum the prefix atom aggregates >= 2 expansion terms there
    by_atom = {r["atom_id"]: r for r in rows}
    if 1 in by_atom:
        assert by_atom[1]["n_terms"] >= 1
    # a doc with no query terms -> empty breakdown (Lucene's
    # "failure to match")
    assert (
        mixed_query_explain(spark, tokens, ds, g, vocab, atoms, 5).count()
        == 0
    )


def test_explain_facade_labels_and_guards(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(META, "doc_id long, text string, lang string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    top = eng.search('"fast table" spark~1 -slow lang:en', 3,
                     return_documents=False).collect()
    ex = eng.explain('"fast table" spark~1 -slow lang:en', top[0]["doc_id"])
    rows = ex.collect()
    assert list(ex.columns) == ["atom_id", "atom", "sign", "n_terms", "contrib"]
    labels = {r["atom_id"]: r["atom"] for r in rows}
    assert labels.get(0) == '"fast table"' or 0 not in labels
    if 1 in labels:
        assert labels[1] == "spark~1"
    assert sum(r["contrib"] for r in rows) == top[0]["score"]
    # filter-only queries have nothing to explain
    with pytest.raises(ValueError, match="no scoring atoms to explain"):
        eng.explain("lang:en", 0)


# ---------------------------------------------------------------------------
# sort-by-field, histogram aggregation, suggest
# ---------------------------------------------------------------------------
def test_sort_by_field_and_histogram_and_suggest(spark):
    META4 = [(d, t, l, n) for (d, t), l, n in zip(
        CORPUS,
        ["en", "de", "en", "fr", "en", "de", "fr"],
        [54, 38, 32, 44, 37, 29, 10],
    )]
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(
        META4, "doc_id long, text string, lang string, n_chars long"
    )
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    # sort: metadata order replaces relevance; matches unchanged
    rel = {r["doc_id"] for r in
           eng.search("fast table", 5, return_documents=False).collect()}
    srt = eng.search("fast table", 5, return_documents=False,
                     sort=[("n_chars", "desc")]).collect()
    assert {r["doc_id"] for r in srt} == rel
    vals = [r["n_chars"] for r in srt]
    assert vals == sorted(vals, reverse=True)
    # multi-key with tiebreak ASC: (lang asc, n_chars asc)
    srt2 = eng.search("fast table", 5, return_documents=False,
                      sort=[("lang", "asc"), ("n_chars", "asc")]).collect()
    keys = [(r["lang"], r["n_chars"], r["doc_id"]) for r in srt2]
    assert keys == sorted(keys)
    # histogram: python oracle
    match = {r["doc_id"] for r in
             eng.search("fast table", 7, return_documents=False).collect()}
    nc = {d: n for d, _, _, n in META4}
    from collections import Counter
    want = Counter((nc[d] // 20) * 20 for d in match)
    got = {r["bucket"]: r["doc_count"] for r in
           eng.histogram_counts("fast table", "n_chars", 20).collect()}
    assert got == dict(want)
    # suggest: df-ordered prefix completion from the vocabulary
    sugg = [r["term"] for r in eng.suggest("s", 4).collect()]
    vocab = {r["term"]: r["df"] for r in eng.vocab.collect()}
    want_terms = sorted(
        (t for t in vocab if t.startswith("s")),
        key=lambda t: (-vocab[t], t),
    )[:4]
    assert sugg == want_terms
    with pytest.raises(ValueError):
        eng.histogram_counts("fast", "n_chars", 0)
    with pytest.raises(ValueError):
        eng.suggest("   ", 3)


# ---------------------------------------------------------------------------
# minimum_should_match + general wildcards
# ---------------------------------------------------------------------------
def test_min_should_match_gates_without_scoring(spark, env):
    from top2vec_spark.operators.positional import mixed_query_scores

    tokens, vocab, ds, g = env
    atoms = parse_query("fast window spark -slow")

    def run(msm):
        return {
            r["doc_id"]: r["score"]
            for r in mixed_query_scores(
                spark, tokens, ds, g, vocab, atoms, min_should_match=msm
            ).collect()
        }

    free = run(None)
    m2 = run(2)
    count = {
        d: sum(1 for w in ("fast", "window", "spark") if w in _pytoks(t))
        for d, t in CORPUS
    }
    assert set(m2) == {d for d in free if count[d] >= 2}
    for d, s in m2.items():
        assert s == free[d]  # gating never changes scores
    assert run(4) == {}  # msm above the should count matches nothing
    # must atoms are NOT should atoms: '+fast window spark' has 2
    # should atoms; msm=2 requires both window and spark
    atoms2 = parse_query("+fast window spark")
    got = {
        r["doc_id"]
        for r in mixed_query_scores(
            spark, tokens, ds, g, vocab, atoms2, min_should_match=2
        ).collect()
    }
    assert got == {
        d for d, t in CORPUS
        if "fast" in _pytoks(t)
        and "window" in _pytoks(t) and "spark" in _pytoks(t)
    }
    with pytest.raises(ValueError, match="positive integer"):
        mixed_query_scores(
            spark, tokens, ds, g, vocab, atoms, min_should_match=0
        )


def test_wildcards_expand_like_spelled_terms(spark, env):
    """'t?ble' == 'table'; 's*w' == 'slow'; multi-wildcard and
    wildcard+boost compose; no-match and leading-wild reject."""
    from top2vec_spark.operators.positional import mixed_query_topk

    tokens, vocab, ds, g = env

    def run(q):
        return [
            (r["doc_id"], r["score"])
            for r in mixed_query_topk(
                spark, tokens, ds, g, vocab, parse_query(q), 10
            ).collect()
        ]

    assert run("t?ble") == run("table")
    assert run("s*w") == run("slow")
    assert run("w?nd*") == run("window")
    assert run("t?ble^2 -s*w") == run("table^2 -slow")
    with pytest.raises(ValueError, match="no vocabulary terms match"):
        run("zz*q")
    with pytest.raises(ValueError, match="leading wildcards"):
        parse_query("*able")


def test_stats_agg_matches_python(spark):
    META5 = [(d, t, n) for (d, t), n in zip(
        CORPUS, [54, 38, 32, 44, 37, 29, 10])]
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(META5, "doc_id long, text string, n_chars long")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    match = {r["doc_id"] for r in
             eng.search("fast table", 7, return_documents=False).collect()}
    nc = [n for d, _, n in META5 if d in match]
    row = eng.stats_agg("fast table", "n_chars").collect()[0]
    assert row["doc_count"] == len(nc)
    assert row["min"] == min(nc) and row["max"] == max(nc)
    assert row["sum"] == sum(nc)
    assert abs(row["avg"] - sum(nc) / len(nc)) < 1e-12
    with pytest.raises(ValueError, match="not numeric"):
        eng.stats_agg("fast", "text")
    with pytest.raises(ValueError, match="unknown stats field"):
        eng.stats_agg("fast", "nope")


def test_plain_query_routes_to_wand_index(spark, tmp_path):
    """A plain ±terms query through search() is served by the WAND
    index (same rows as search_documents_by_keywords) and stays
    rank/score-consistent with the mixed executor path; any non-plain
    feature falls back to the mixed path and still answers."""
    from top2vec_spark import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    before = [
        (r["doc_id"], r["score"])
        for r in eng.search("fast table -slow", 5,
                            return_documents=False).collect()
    ]
    eng.build_index(str(tmp_path / "qlidx"))
    assert eng._index is not None
    after = [
        (r["doc_id"], r["score"])
        for r in eng.search("fast table -slow", 5,
                            return_documents=False).collect()
    ]
    kw = [
        (r["doc_id"], r["score"])
        for r in eng.search_documents_by_keywords(
            ["fast", "table"], 5, keywords_neg=["slow"],
            return_documents=False,
        ).collect()
    ]
    assert after == kw  # the index path IS the keywords path
    assert [(d, round(s, 9)) for d, s in after] == [
        (d, round(s, 9)) for d, s in before
    ]  # WAND ≡ mixed executor on plain queries
    # non-plain shapes still answer (mixed path) with the index live
    assert eng.search('"fast table" -slow', 3,
                      return_documents=False).count() > 0
    assert eng.search("fast^2 table", 3, return_documents=False).count() > 0


def test_highlights_from_query(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    hl = eng.highlights('"fast table" spark -slow s?an', width=4).collect()
    want = eng.get_search_snippets(
        ["fast", "table", "spark"], width=4
    ).collect()
    assert [r.asDict() for r in hl] == [r.asDict() for r in want]
    with pytest.raises(ValueError, match="no concrete positive terms"):
        eng.highlights("-slow s?an")


def test_sort_on_projected_and_key_fields(spark):
    """Sorting by url/text/doc_id — the columns _project re-adds or
    the join key itself — must not produce duplicate-column
    ambiguity (regression: the sort join used to carry them into the
    projection join)."""
    from top2vec_spark.api import Top2VecSpark

    META6 = [(d, f"u{9 - d}", t, n) for (d, t), n in zip(
        CORPUS, [54, 38, 32, 44, 37, 29, 10])]
    docs = spark.createDataFrame(
        META6, "doc_id long, url string, text string, n_chars long"
    )
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    r = eng.search("fast table", 5, return_documents=True,
                   sort=[("url", "desc")]).collect()
    urls = [x["url"] for x in r]
    assert urls == sorted(urls, reverse=True) and len(urls) >= 3
    r2 = eng.search("fast table", 5, return_documents=False,
                    sort=[("doc_id", "desc")]).collect()
    ids = [x["doc_id"] for x in r2]
    assert ids == sorted(ids, reverse=True)
    r3 = eng.search("fast table", 5, return_documents=True,
                    sort=[("text", "asc")]).collect()
    texts = [x["text"] for x in r3]
    assert texts == sorted(texts)


def test_facet_stats_matches_python(spark):
    from collections import defaultdict

    from top2vec_spark.api import Top2VecSpark

    META7 = [(d, t, l, n) for (d, t), l, n in zip(
        CORPUS,
        ["en", "de", "en", "fr", "en", "de", "fr"],
        [54, 38, 32, 44, 37, 29, 10],
    )]
    docs = spark.createDataFrame(
        META7, "doc_id long, text string, lang string, n_chars long"
    )
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    match = {r["doc_id"] for r in
             eng.search("fast table", 7, return_documents=False).collect()}
    by_lang = defaultdict(list)
    for d, _, l, n in META7:
        if d in match:
            by_lang[l].append(n)
    got = {r["key"]: (r["doc_count"], r["min"], r["max"], r["avg"], r["sum"])
           for r in eng.facet_stats("fast table", "lang", "n_chars").collect()}
    want = {l: (len(v), min(v), max(v), sum(v) / len(v), sum(v))
            for l, v in by_lang.items()}
    assert set(got) == set(want)
    for k in got:
        assert got[k][:3] == want[k][:3] and got[k][4] == want[k][4]
        assert abs(got[k][3] - want[k][3]) < 1e-12
    with pytest.raises(ValueError, match="not numeric"):
        eng.facet_stats("fast", "lang", "text")


def test_collapse_and_range_agg(spark):
    from collections import defaultdict

    from top2vec_spark.api import Top2VecSpark

    META8 = [(d, t, l, n) for (d, t), l, n in zip(
        CORPUS,
        ["en", "de", "en", "fr", "en", "de", "fr"],
        [54, 38, 32, 44, 37, 29, 10],
    )]
    docs = spark.createDataFrame(
        META8, "doc_id long, text string, lang string, n_chars long"
    )
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    free = {r["doc_id"]: r["score"] for r in
            eng.search("fast table", 7, return_documents=False).collect()}
    langs = {d: l for d, _, l, _ in META8}
    best = {}
    for d, s in free.items():
        l = langs[d]
        if l not in best or (s, -d) > (best[l][1], -best[l][0]):
            best[l] = (d, s)
    want = sorted(best.values(), key=lambda x: (-x[1], x[0]))
    got = eng.collapse_search("fast table", "lang", 5,
                              return_documents=False).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    assert [r["lang"] for r in got] == [langs[d] for d, _ in want]
    # range agg: ES semantics — from inclusive, to exclusive, empty
    # buckets kept, overlaps allowed, requested order preserved
    nc = {d: n for d, _, _, n in META8}
    m = set(free)

    def cnt(lo, hi):
        return sum(
            1 for d in m
            if (lo is None or nc[d] >= lo) and (hi is None or nc[d] < hi)
        )

    r = eng.range_agg("fast table", "n_chars",
                      [(None, 30), (30, 40), (40, None), (90, 99)]).collect()
    assert [(x["bucket"], x["doc_count"]) for x in r] == [
        ("*-30", cnt(None, 30)), ("30-40", cnt(30, 40)),
        ("40-*", cnt(40, None)), ("90-99", 0),
    ]
    with pytest.raises(ValueError, match="at least one bound"):
        eng.range_agg("fast", "n_chars", [(None, None)])
    with pytest.raises(ValueError, match="unknown collapse field"):
        eng.collapse_search("fast", "nope", 3)


def test_significant_terms_matches_python(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    match = {r["doc_id"] for r in
             eng.search("spark window", 7, return_documents=False).collect()}
    toks = {d: set(_pytoks(t)) for d, t in CORPUS}
    n_fg, n_bg = len(match), len([d for d, t in CORPUS if _pytoks(t)])
    want = []
    vocab_terms = {w for s in toks.values() for w in s}
    for w in vocab_terms:
        fg = sum(1 for d in match if w in toks[d])
        bg = sum(1 for s in toks.values() if w in s)
        if fg == 0:
            continue
        fg_pct, bg_pct = fg / n_fg, bg / n_bg
        score = (fg_pct - bg_pct) * (fg_pct / bg_pct)
        if score > 0:
            want.append((w, fg, bg, score))
    want.sort(key=lambda x: (-x[3], x[0]))
    got = eng.significant_terms("spark window", 10).collect()
    assert [(r["term"], r["fg_count"], r["bg_count"]) for r in got] == [
        (w, fg, bg) for w, fg, bg, _ in want[:10]
    ]
    for r, (_, _, _, sc) in zip(got, want):
        assert abs(r["score"] - sc) < 1e-12
    # the characterizing terms of a spark/window result set are the
    # query terms themselves plus their co-occurring vocabulary
    assert "spark" in {r["term"] for r in got}


def test_rescore_two_phase(spark):
    """rescore == query_weight*first + rescore_weight*second over the
    first pass's top-window docs; non-matching window docs keep their
    first-pass score (total mode); window bounds the result."""
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    first = {r["doc_id"]: r["score"] for r in
             eng.search("fast table", 7, return_documents=False).collect()}
    second = {r["doc_id"]: r["score"] for r in
              eng.search('"fast table"', 7, return_documents=False).collect()}
    want = sorted(
        ((d, 1.0 * s + 2.0 * second.get(d, 0.0)) for d, s in first.items()),
        key=lambda x: (-x[1], x[0]),
    )[:4]
    got = eng.rescore("fast table", '"fast table"', 4, window_size=7,
                      query_weight=1.0, rescore_weight=2.0,
                      return_documents=False).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == want
    # a small window excludes docs outside it entirely
    got2 = eng.rescore("fast table", '"fast table"', 2, window_size=2,
                       return_documents=False).collect()
    top2 = sorted(first.items(), key=lambda x: (-x[1], x[0]))[:2]
    assert {r["doc_id"] for r in got2} <= {d for d, _ in top2}
    with pytest.raises(ValueError, match="window_size"):
        eng.rescore("fast", "table", 5, window_size=3)


def test_rescore_plain_first_pass_uses_wand_and_matches(spark, tmp_path):
    """r06: a PLAIN first query routes the rescore window through the
    WAND index (index-speed first pass) — results identical to the
    mixed-executor first pass."""
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.rescore(
            "fast table", '"fast table"', 4, window_size=7,
            query_weight=1.0, rescore_weight=2.0, return_documents=False,
        ).collect()
    ]
    eng.build_index(str(tmp_path / "idx_rsc"))
    assert eng._plain_query_terms("fast table") is not None
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.rescore(
            "fast table", '"fast table"', 4, window_size=7,
            query_weight=1.0, rescore_weight=2.0, return_documents=False,
        ).collect()
    ]
    assert got == want
    # non-plain first query still takes the mixed-executor pass
    assert eng._plain_query_terms('"fast table"') is None


def test_agg_field_doc_id_rejected(spark):
    """facet/histogram/stats/collapse/range with field='doc_id' raise
    a clean ValueError instead of an ambiguous-reference crash."""
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    for call in (
        lambda: eng.facet_counts("fast", "doc_id"),
        lambda: eng.histogram_counts("fast", "doc_id", 10),
        lambda: eng.stats_agg("fast", "doc_id"),
        lambda: eng.facet_stats("fast", "doc_id", "doc_id"),
        lambda: eng.collapse_search("fast", "doc_id", 5),
        lambda: eng.range_agg("fast", "doc_id", [(0, 10)]),
    ):
        with pytest.raises(ValueError, match="join key"):
            call()


def test_suggest_strips_padded_prefix(spark):
    from top2vec_spark.api import Top2VecSpark

    docs = spark.createDataFrame(CORPUS, "doc_id long, text string")
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    clean = [(r["term"], r["df"]) for r in eng.suggest("fa", 5).collect()]
    assert clean  # 'fast' is in the corpus
    padded = [(r["term"], r["df"]) for r in eng.suggest(" fa ", 5).collect()]
    assert padded == clean


def test_numeric_exact_filter_typed(spark, range_env):
    """field:value on a NUMERIC column compares typed literals (the
    pushdown guarantee) and rejects non-numeric text loudly."""
    rows, docs, tokens, vocab, ds, g = range_env
    want = {d for d, t, lang, n in rows if n == 11}
    got = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast table n_chars:11"), 20, doc_meta=docs,
        ).collect()
    }
    free = {
        r["doc_id"]
        for r in mixed_query_topk(
            spark, tokens, ds, g, vocab, parse_query("fast table"), 20
        ).collect()
    }
    assert got == (want & free)
    with pytest.raises(ValueError, match="not an integer"):
        mixed_query_topk(
            spark, tokens, ds, g, vocab,
            parse_query("fast n_chars:abc"), 20, doc_meta=docs,
        ).collect()


def test_every_aggregation_honours_deletes(spark, range_env, tmp_path):
    """Delete the top match of a query: every match-set method —
    count_matches, the six metadata aggregations, significant_terms,
    collapse_search and rescore — answers over the live documents
    only, and count_matches drops by exactly the deleted matches."""
    from collections import Counter

    from top2vec_spark.api import Top2VecSpark

    rows, docs, _, _, _, _ = range_env
    eng = Top2VecSpark(spark, docs, ascii_fast_path=True, min_count=0)
    eng.build_index(str(tmp_path / "aggdel"))
    q = "fast table"
    toks = {d: _pytoks(t) for d, t in CORPUS}
    match = {d for d, ts in toks.items() if "fast" in ts or "table" in ts}
    n_before = eng.count_matches(q)
    assert n_before == len(match)
    gone = eng.search(q, 1, return_documents=False).collect()[0]["doc_id"]
    eng.delete_documents([gone])
    live = match - {gone}
    lang = {d: l for d, _, l, _ in rows}
    n_chars = {d: n for d, _, _, n in rows}

    assert eng.count_matches(q) == n_before - 1
    assert {
        r["key"]: r["doc_count"] for r in eng.facet_counts(q, "lang").collect()
    } == Counter(lang[d] for d in live if lang[d] is not None)
    assert {
        r["bucket"]: r["doc_count"]
        for r in eng.histogram_counts(q, "n_chars", 10).collect()
    } == Counter(n_chars[d] // 10 * 10 for d in live)
    st = eng.stats_agg(q, "n_chars").collect()[0]
    assert (st["doc_count"], st["sum"]) == (
        len(live), sum(n_chars[d] for d in live)
    )
    assert {
        r["key"]: (r["doc_count"], r["sum"])
        for r in eng.facet_stats(q, "lang", "n_chars").collect()
    } == {
        l: (sum(1 for d in live if lang[d] == l),
            sum(n_chars[d] for d in live if lang[d] == l))
        for l in {lang[d] for d in live} - {None}
    }
    cut = sorted(n_chars[d] for d in match)[len(match) // 2]
    assert [
        r["doc_count"]
        for r in eng.range_agg(q, "n_chars", [(None, cut), (cut, None)]).collect()
    ] == [
        sum(1 for d in live if n_chars[d] < cut),
        sum(1 for d in live if n_chars[d] >= cut),
    ]
    collapsed = eng.collapse_search(q, "lang", 5, return_documents=False).collect()
    assert gone not in {r["doc_id"] for r in collapsed}
    assert {r["lang"] for r in collapsed} == {lang[d] for d in live} - {None}
    for r in eng.significant_terms(q, 50).collect():
        assert r["fg_count"] == sum(1 for d in live if r["term"] in toks[d])
    rescored = eng.rescore("+fast table", "scan", 3, window_size=5,
                           return_documents=False).collect()
    assert rescored and gone not in {r["doc_id"] for r in rescored}
    searched = eng.search("+fast table", 5, return_documents=False).collect()
    assert {r["doc_id"] for r in searched} == {
        d for d in live if "fast" in toks[d]
    }
