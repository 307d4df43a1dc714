"""The per-task Python floor: ``importlib.invalidate_caches()``, which
PySpark calls before every Python task, must not re-parse an unchanged
zip archive on ``sys.path`` (``session.gate_zip_invalidation``), and
doc-id validation must not run a Spark job once its bounds are cached."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import top2vec_spark  # noqa: F401  (installs the gate)
from top2vec_spark import session

gated_python = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ invalidates zip caches lazily"
)


def _count_reads(monkeypatch, archive):
    """Patch ``zipimport._read_directory`` to record its calls for
    ``archive``; returns the record."""
    calls = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return orig(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding ``wf_mod_a`` on ``sys.path``, removed afterwards
    with its importer and modules."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("wf_mod_a.py", "VALUE = 'a'\n")
    sys.path.insert(0, archive)
    try:
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for name in ("wf_mod_a", "wf_mod_b"):
            sys.modules.pop(name, None)


@gated_python
def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    assert importlib.import_module("wf_mod_a").VALUE == "a"
    importlib.invalidate_caches()  # the importer's first stamp
    calls = _count_reads(monkeypatch, zip_on_path)
    for _ in range(3):
        importlib.invalidate_caches()
    assert calls == []


@gated_python
def test_rewritten_archive_is_reread(zip_on_path, monkeypatch):
    importlib.import_module("wf_mod_a")
    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("wf_mod_a.py", "VALUE = 'a'\n")
        z.writestr("wf_mod_b.py", "VALUE = 'b'\n")
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert calls == [zip_on_path]
    assert importlib.import_module("wf_mod_b").VALUE == "b"


@gated_python
def test_missing_archive_rereads_every_time(zip_on_path, monkeypatch):
    """No stamp to trust: a vanished archive is re-read (and so
    dropped) on every invalidation, as without the gate."""
    import os

    importlib.import_module("wf_mod_a")
    importlib.invalidate_caches()
    os.remove(zip_on_path)
    calls = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert calls == [zip_on_path, zip_on_path]
    assert sys.path_importer_cache[zip_on_path]._files == {}


@gated_python
def test_gate_installs_once():
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.stat_gated
    session.gate_zip_invalidation()
    importlib.reload(session).gate_zip_invalidation()
    assert zipimport.zipimporter.invalidate_caches is gated
    # the wrapped method is the stdlib one, not an earlier wrapper
    (reread,) = (c.cell_contents for c in gated.__closure__)
    assert not getattr(reread, "stat_gated", False)


@gated_python
def test_reused_worker_skips_archive_rereads(spark):
    """A worker that has imported the package runs its next Python task
    without re-parsing the pyspark/py4j zips and the Spark jar."""

    def probe(pdf):
        """Was the package imported before this task, and how many
        archive re-reads does one invalidation make? (Nested, so the
        worker gets it pickled by value.)"""
        import importlib
        import sys
        import zipimport

        import pandas as pd

        preloaded = "top2vec_spark" in sys.modules
        import top2vec_spark  # noqa: F401

        calls = [0]
        orig = zipimport._read_directory

        def counting(path):
            calls[0] += 1
            return orig(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        n_zip = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        return pd.DataFrame(
            {"preloaded": [preloaded], "reads": [calls[0]], "zipimporters": [n_zip]}
        )

    df = spark.range(1, numPartitions=1).groupBy("id").applyInPandas(
        probe, "preloaded boolean, reads long, zipimporters long"
    )
    # one-partition jobs until one lands on a worker that had already
    # imported the package (the first job on a fresh worker cannot)
    for _ in range(10):
        row = df.collect()[0]
        if row["preloaded"]:
            break
    assert row["preloaded"], "no Python worker was reused"
    assert row["reads"] == 0, (row["reads"], row["zipimporters"])


def test_validation_after_append_runs_no_job(spark, tmp_path):
    """After build -> delete -> add_documents the ids are dense only per
    shard (appends start at the next shard boundary): validation checks
    them on the driver, with no Spark job once the runs are cached."""
    from top2vec_spark import Top2VecSpark
    from top2vec_spark.operators.tokens import assign_doc_ids
    from top2vec_spark.sources.pages import generate_pages_pdf

    pdf = generate_pages_pdf(150, seed=52)
    docs = assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]])).select(
        "doc_id", "url", "text"
    )
    eng = Top2VecSpark(spark, docs)
    eng.build_index(str(tmp_path / "va"), docs_per_shard=64, n_buckets=8)
    eng.delete_documents([0, 1, 2, 3, 4])
    new = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pdf["text"].iloc[:10])],
        "doc_id long, text string",
    )
    out = eng.add_documents(new)  # ids 192..201
    out._validate_doc_ids([5])  # caches the runs and the tombstones
    sc = spark.sparkContext
    group = f"validate-{tmp_path.name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out._validate_doc_ids([5, 63, 64, 149, 192, 201])
        for bad in (0, 4, 150, 191, 202, -1, 10**6):
            with pytest.raises(ValueError, match=f"^{bad} is not a valid document id"):
                out._validate_doc_ids([5, bad, 192])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    with pytest.raises(ValueError, match="number of documents: 155"):
        out.search_documents_by_keywords(["wa"], 156)


def test_sparse_run_probes_only_its_ids(spark):
    """Ids in a shard whose run has holes still validate exactly,
    through the pushed isin probe; the smallest invalid id is named."""
    from top2vec_spark import Top2VecSpark

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{chr(97 + i % 26)}") for i in (0, 1, 2, 5, 7)],
        "doc_id long, text string",
    )
    eng = Top2VecSpark(spark, docs)
    eng._validate_doc_ids([0, 2, 5, 7])
    with pytest.raises(ValueError, match="^3 is not a valid document id"):
        eng._validate_doc_ids([7, 3, 8])
    with pytest.raises(ValueError, match="^8 is not a valid document id"):
        eng._validate_doc_ids([8, 7])
