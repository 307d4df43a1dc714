"""U2 tombstone deletes: queries skip deleted docs immediately;
conservation invariant mirrors the reference suite
(test_top2vec.py:183-205)."""

from __future__ import annotations

import pytest

from top2vec_spark.operators.bm25 import resolve_query_terms
from top2vec_spark.operators.tokens import assign_doc_ids
from top2vec_spark.operators.wand import wand_topk
from top2vec_spark.plans.build import IndexBuilder, PostingsIndex
from top2vec_spark.sources.pages import generate_pages_pdf


def test_tombstone_delete(spark, tmp_path):
    pdf = generate_pages_pdf(200, seed=51)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "didx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:3]]

    idx.delete_documents(victims)
    after = wand_topk(spark, idx, q, idx.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in after})
    assert len(after) == 10
    # survivors keep their relative order and scores
    surv_before = [(r["doc_id"], r["score"]) for r in before if r["doc_id"] not in victims]
    assert [(r["doc_id"], r["score"]) for r in after[: len(surv_before)]] == surv_before

    # idempotent + persisted across load
    idx.delete_documents(victims)
    loaded = PostingsIndex.load(spark, path)
    assert set(victims) <= loaded.tombstones
    again = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in after]


def test_api_delete_with_index(spark, tmp_path):
    from top2vec_spark import Top2VecSpark

    pdf = generate_pages_pdf(150, seed=52)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]]))
    eng = Top2VecSpark(spark, docs)
    eng.build_index(str(tmp_path / "aidx"))
    top = eng.search_documents_by_keywords(["wa"], 3, return_documents=False).collect()
    gone = top[0]["doc_id"]
    eng.delete_documents([gone])
    res = eng.search_documents_by_keywords(["wa"], 3, return_documents=False).collect()
    assert gone not in {r["doc_id"] for r in res}
    assert eng.docs.filter(f"doc_id = {gone}").count() == 0
    with pytest.raises(ValueError):
        eng.delete_documents([10**9])


def test_tombstone_sidecar_scales(spark, tmp_path):
    """Tombstones are a per-shard parquet sidecar, NOT task-closure
    freight: with 10^5 tombstoned ids the kernel closure carries only
    query-side exclusions, and results still skip every deleted doc."""
    import os

    from top2vec_spark.operators import wand as wand_mod

    pdf = generate_pages_pdf(200, seed=53)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "sidx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:3]]

    # mass delete: the 3 real victims + 10^5 ids beyond the corpus
    idx.delete_documents(victims + list(range(10**6, 10**6 + 100_000)))

    # layout: shard-partitioned dirs, so kernels prune to their own
    shard_dirs = [
        d for d in os.listdir(f"{path}/tombstones") if d.startswith("shard=")
    ]
    assert len(shard_dirs) > 1

    # the closure-side exclusion set stays tiny: spy on the kernel maker
    captured = {}
    orig = wand_mod.make_shard_kernel

    def spy(qinfo, k, k1, b, avgdl, exclude, *a, **kw):
        captured["exclude"] = exclude
        return orig(qinfo, k, k1, b, avgdl, exclude, *a, **kw)

    wand_mod.make_shard_kernel = spy
    try:
        after = wand_topk(spark, idx, q, idx.globs, 10).collect()
    finally:
        wand_mod.make_shard_kernel = orig
    assert captured["exclude"] == frozenset()  # tombstones NOT in closure
    assert not (set(victims) & {r["doc_id"] for r in after})
    surv = [(r["doc_id"], r["score"]) for r in before if r["doc_id"] not in victims]
    assert [(r["doc_id"], r["score"]) for r in after[: len(surv)]] == surv


def test_flat_tombstone_layout_migrates(spark, tmp_path):
    """An index persisted BEFORE the shard-sidecar change (flat
    part-*.parquet under tombstones/) migrates on load: deleted docs
    stay deleted and further deletes don't break partition discovery."""
    pdf = generate_pages_pdf(150, seed=54)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    path = str(tmp_path / "flidx")
    idx = IndexBuilder(spark, path, docs_per_shard=64, n_buckets=8).build_from_docs(
        docs, resume=False
    )
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    q = resolve_query_terms(vmap, ["wa", "wb"], [])
    before = wand_topk(spark, idx, q, idx.globs, 10).collect()
    victims = [r["doc_id"] for r in before[:2]]

    # simulate the pre-sidecar layout: flat parquet at the dir root
    spark.createDataFrame([(int(v),) for v in victims], "doc_id long").write.mode(
        "overwrite"
    ).parquet(f"{path}/tombstones")

    loaded = PostingsIndex.load(spark, path)  # migrates
    import os

    assert any(
        d.startswith("shard=") for d in os.listdir(f"{path}/tombstones")
    )
    after = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in after})
    # further deletes append cleanly to the migrated layout
    more = after[0]["doc_id"]
    loaded.delete_documents([more])
    assert set(victims) | {more} <= loaded.tombstones
    final = wand_topk(spark, loaded, q, loaded.globs, 10).collect()
    assert more not in {r["doc_id"] for r in final}


def test_wand_topk_many_honors_tombstones(spark, tmp_path):
    """Batched serving must skip deleted docs exactly like the single-
    query kernel (both read the same per-shard tombstone sidecar)."""
    from top2vec_spark.operators.wand import wand_topk_many

    pdf = generate_pages_pdf(200, seed=53)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    idx = IndexBuilder(
        spark, str(tmp_path / "midx"), docs_per_shard=64, n_buckets=8
    ).build_from_docs(docs, resume=False)
    vmap = {r["term"]: (r["term_id"], r["df"]) for r in idx.vocab.collect()}
    batch = {
        "a": resolve_query_terms(vmap, ["wa", "wb"], []),
        "b": resolve_query_terms(vmap, ["wc"], []),
    }
    before = wand_topk_many(spark, idx, batch, idx.globs, 10).collect()
    victims = sorted({r["doc_id"] for r in before})[:4]
    idx.delete_documents(victims)

    many = wand_topk_many(spark, idx, batch, idx.globs, 10).collect()
    assert not (set(victims) & {r["doc_id"] for r in many})
    by_q = {}
    for r in many:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in batch.items():
        single = [
            (r["doc_id"], r["score"])
            for r in wand_topk(spark, idx, q, idx.globs, 10).collect()
        ]
        assert by_q[qid] == single


def test_flat_tombstone_migration_crash_recovery(spark, tmp_path):
    """A crash between the aside-rename and the swap must not lose
    tombstones: on the next load the migration finds the .__old__ dir,
    restores it, and completes (plans/build.py _migrate_flat_tombstones
    crash-safe swap)."""
    import os
    import shutil

    from top2vec_spark.plans.build import IndexBuilder

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta doc{chr(97 + i % 26)}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    index = IndexBuilder(spark, path, docs_per_shard=16).build_from_docs(docs)
    # fabricate the legacy FLAT layout (pre-sidecar): part files at root
    tpath = index.tombstones_path
    spark.createDataFrame([(3,), (17,)], "doc_id long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(tpath)
    assert any(f.endswith(".parquet") for f in os.listdir(tpath))
    # simulate a crash mid-swap: live dir renamed aside, new dir lost
    os.rename(tpath, f"{tpath}.__old__")
    assert not os.path.isdir(tpath)
    # next mutation triggers migration -> recovery -> partitioned layout
    index.delete_documents([5])
    assert os.path.isdir(tpath)
    assert any(d.startswith("shard=") for d in os.listdir(tpath))
    gone = {3, 17, 5}
    from top2vec_spark.operators.bm25 import resolve_query_terms

    vmap = {r["term"]: (r["term_id"], r["df"]) for r in index.vocab.collect()}
    from top2vec_spark.operators.wand import wand_topk

    q = resolve_query_terms(vmap, ["alpha"], [])
    hits = {
        r["doc_id"]
        for r in wand_topk(spark, index, q, index.globs, 40).collect()
    }
    assert hits.isdisjoint(gone)
    assert len(hits) == 40 - len(gone)


def test_stale_old_dir_cleaned_after_completed_migration(spark, tmp_path):
    """A crash AFTER the swap but BEFORE the old-dir delete leaves a
    stale tombstones.__old__ next to the live partitioned dir. The next
    migration check must delete it — otherwise a later loss of the live
    dir would let the crash-recovery path restore the stale
    pre-migration set, resurrecting documents deleted since
    (round-4 advice, plans/build.py _migrate_flat_tombstones)."""
    import os

    from top2vec_spark.plans.build import IndexBuilder

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{chr(97 + i % 26)}") for i in range(40)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    index = IndexBuilder(spark, path, docs_per_shard=16).build_from_docs(docs)
    index.delete_documents([3])  # live partitioned tombstone dir exists
    tpath = index.tombstones_path
    assert any(d.startswith("shard=") for d in os.listdir(tpath))
    # fabricate the post-swap crash debris: a stale __old__ with a
    # DIFFERENT (pre-migration) tombstone set, plus a half-written tmp
    os.makedirs(f"{tpath}.__old__", exist_ok=True)
    with open(f"{tpath}.__old__/part-stale.parquet", "w") as f:
        f.write("stale")
    os.makedirs(f"{tpath}.__migrating__", exist_ok=True)
    index.delete_documents([7])  # any mutation runs the migration check
    assert not os.path.isdir(f"{tpath}.__old__")
    assert not os.path.isdir(f"{tpath}.__migrating__")
    # and the live set still holds both deletes
    assert {3, 7} <= set(index.tombstones)


def _api_engine(spark, path, n_docs=150, seed=52):
    from top2vec_spark import Top2VecSpark

    pdf = generate_pages_pdf(n_docs, seed=seed)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    eng = Top2VecSpark(spark, docs)
    eng.build_index(path, docs_per_shard=64, n_buckets=8)
    return eng, pdf


def test_live_count_after_delete_then_append(spark, tmp_path):
    """The num_docs bound is the LIVE count: deleted docs leave
    ``docs`` already, so an engine derived from it (add_documents)
    must not subtract the tombstones a second time."""
    eng, pdf = _api_engine(spark, str(tmp_path / "la"))
    # all 150 valid before the delete (this also caches the bounds)
    eng.search_documents_by_keywords(["wa"], 150, return_documents=False)
    eng.delete_documents([0, 1, 2, 3, 4])
    with pytest.raises(ValueError, match="number of documents: 145"):
        eng.search_documents_by_keywords(["wa"], 146)
    new = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pdf["text"].iloc[:10])],
        "doc_id long, text string",
    )
    out = eng.add_documents(new)
    assert out.docs.count() == 155
    out.search_documents_by_keywords(["wa"], 155, return_documents=False)
    with pytest.raises(ValueError, match="number of documents: 155"):
        out.search_documents_by_keywords(["wa"], 156)


def test_live_count_and_ids_after_delete_then_compact(spark, tmp_path):
    """Compaction clears the tombstones, so bounds cached before it
    (whose dense range relied on them) must not survive it: the
    deleted id stays invalid and num_docs stays bounded by the live
    count."""
    eng, _ = _api_engine(spark, str(tmp_path / "lc"))
    eng._validate_doc_ids([0])  # caches the dense bounds
    eng.delete_documents([0, 1, 2, 3, 4])
    eng.compact_index()
    with pytest.raises(ValueError, match="0 is not a valid document id"):
        eng._validate_doc_ids([0])
    with pytest.raises(ValueError, match="number of documents: 145"):
        eng.search_documents_by_keywords(["wa"], 150)
    eng._validate_doc_ids([5, 149])
    assert len(
        eng.search_documents_by_keywords(["wa"], 145, return_documents=False)
        .collect()
    ) <= 145


def _max_in_list(plan: str) -> int:
    """Literal count of the longest IN / INSET list in a plan string
    (Spark turns a long ``isin`` into INSET)."""
    import re

    lists = re.findall(r"INSET ([-\d, ]+)", plan)
    lists += re.findall(r" IN \(([^()]*)\)", plan)
    return max((len(m.split(",")) for m in lists), default=0)


def _max_limit(plan: str) -> int:
    """Largest row limit in a plan string (a top-k is a Limit over a
    Sort), 0 when the plan has none."""
    import re

    return max(map(int, re.findall(r"Limit (\d+)", plan)), default=0)


def test_mass_delete_plans_anti_join_not_id_lists(spark, tmp_path, monkeypatch):
    """With 10^5 tombstones every query-language and aggregation plan
    drops deleted docs through one LeftAnti join, never an IN list of
    the ids; repeated deletes keep ONE anti-join on ``docs``, which
    still executes once compaction has deleted the tombstone files."""
    from pyspark.sql import DataFrame

    eng, _ = _api_engine(spark, str(tmp_path / "mp"), n_docs=200, seed=53)
    top = eng.search_documents_by_keywords(["wa"], 1, return_documents=False)
    gone = top.collect()[0]["doc_id"]
    # a partitioned tombstone write of 10^5 ids beyond the corpus, on
    # the raw index: ``docs`` itself carries no anti-join, so every
    # LeftAnti below is the query path's own
    eng._index.delete_documents([gone, *range(10**6, 10**6 + 100_000)])
    eng._doc_id_bounds()  # warm: the plans below are the calls' own

    def plans_of(call):
        """Optimized plan of every frame the call executes."""
        seen = []
        cls = type(eng.docs)  # the concrete (classic) DataFrame class
        for name in ("collect", "count", "localCheckpoint"):
            orig = getattr(cls, name)

            def spy(self, *a, _orig=orig, **kw):
                seen.append(self._jdf.queryExecution().optimizedPlan().toString())
                return _orig(self, *a, **kw)

            monkeypatch.setattr(cls, name, spy)
        try:
            out = call()
        finally:
            monkeypatch.undo()
        if isinstance(out, DataFrame):
            seen.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out, seen

    calls = {
        "facet_counts": lambda: eng.facet_counts("wa wb", "url", 5),
        "count_matches": lambda: eng.count_matches("wa wb"),
        "search": lambda: eng.search("+wa wb", 5),
        "significant_terms": lambda: eng.significant_terms("wa", 5),
        "phrase": lambda: eng.search_documents_by_phrase(["wa", "wb"], 5),
        "and": lambda: eng.search_documents_by_keywords_all(["wa", "wb"], 5),
    }
    for name, call in calls.items():
        out, plans = plans_of(call)
        assert plans, name
        assert any("LeftAnti" in p for p in plans), name
        assert max(_max_in_list(p) for p in plans) <= 1000, name
        if name in ("phrase", "and"):  # a top-k of k, not k + tombstones
            assert max(_max_limit(p) for p in plans) <= 5, name
        if isinstance(out, DataFrame) and "doc_id" in out.columns:
            assert gone not in {r["doc_id"] for r in out.collect()}, name

    assert "LeftAnti" not in eng.docs._jdf.queryExecution().analyzed().toString()
    more = [
        r["doc_id"]
        for r in eng.search_documents_by_keywords(["wb"], 3, return_documents=False)
        .collect()
    ]
    for d in more:
        eng.delete_documents([d])
    analyzed = eng.docs._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("LeftAnti") <= 1
    assert _max_in_list(analyzed) <= 1000
    eng.compact_index()
    assert eng.docs.count() == 200 - 4


def test_phrase_and_topk_after_delete_drop_only_the_deleted(
    spark, tmp_path, monkeypatch
):
    """Phrase and AND top-k after a delete are the pre-delete top-(k+d)
    without the d deleted docs, cut to k: the same ranks and float64
    scores (statistics stay pre-delete), and neither search reads the
    tombstone id set."""
    eng, _ = _api_engine(spark, str(tmp_path / "pa"), n_docs=200, seed=57)
    k, d = 5, 3
    calls = {
        "phrase": lambda n: eng.search_documents_by_phrase(
            ["wa", "wb"], n, return_documents=False
        ),
        "and": lambda n: eng.search_documents_by_keywords_all(
            ["wa", "wb"], n, return_documents=False
        ),
    }
    before = {name: [tuple(r) for r in call(k + d).collect()] for name, call in calls.items()}
    gone = {before["phrase"][0][0], before["and"][1][0], before["and"][3][0]}
    eng.delete_documents(sorted(gone))
    eng._doc_id_bounds()  # the bounds read tombstones once, not the searches

    def no_tombstones(self):
        raise AssertionError("search read PostingsIndex.tombstones")

    monkeypatch.setattr(PostingsIndex, "tombstones", property(no_tombstones))
    for name, call in calls.items():
        want = [r for r in before[name] if r[0] not in gone][:k]
        assert len(want) == k, name
        assert [tuple(r) for r in call(k).collect()] == want, name
