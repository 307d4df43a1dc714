"""Index-build stage behaviour: an over-cap vocabulary builds the same
index as one under the cap, a failing concurrent stage cancels its
siblings' jobs and fails the build promptly, and every postings
bucket/epoch dir holds one file through build, append and compaction."""

from __future__ import annotations

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from top2vec_spark.operators import postings as P
from top2vec_spark.operators.tokens import assign_doc_ids
from top2vec_spark.plans import build as build_mod
from top2vec_spark.plans.build import IndexBuilder
from top2vec_spark.sources.pages import generate_pages_pdf

DPS = 64


def _docs(spark, n, seed):
    pdf = generate_pages_pdf(n, seed=seed)
    return (
        assign_doc_ids(spark.createDataFrame(pdf[["url", "text"]]))
        .select("doc_id", "text")
        .cache()
    )


def _postings(idx):
    return sorted(
        (
            r["term_id"], r["shard"], r["block_id"], r["n"], bytes(r["doc_ids"]),
            bytes(r["tfs"]), tuple(tuple(s) for s in r["skips"]), r["first_doc_id"],
            r["last_doc_id"], r["block_max_tf"], r["block_max_score"], r["block_min_dl"],
        )
        for r in idx.postings.collect()
    )


def test_over_cap_vocab_builds_the_same_index(spark, tmp_path, monkeypatch):
    docs = _docs(spark, 150, seed=51)
    under = IndexBuilder(spark, str(tmp_path / "under"), docs_per_shard=DPS).build_from_docs(
        docs, resume=False
    )
    n_terms = under.vocab.count()
    monkeypatch.setattr(P, "DF_BROADCAST_CAP", n_terms // 3)
    over = IndexBuilder(spark, str(tmp_path / "over"), docs_per_shard=DPS).build_from_docs(
        docs, resume=False
    )
    assert P.broadcast_df_rows(over.vocab) is None
    assert sorted(map(tuple, over.vocab.collect())) == sorted(
        map(tuple, under.vocab.collect())
    )
    assert _postings(over) == _postings(under)


class StageFailed(Exception):
    pass


def test_failed_stage_cancels_sibling_jobs(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    group = f"long-sibling-{time.time_ns()}"
    running = threading.Event()

    def sleep_rows(pdfs):
        for pdf in pdfs:
            time.sleep(120)
            yield pdf

    def long_globals(doc_stats):
        # a job group only names the job for the status tracker; the
        # build's cancel goes by its per-stage job tag
        sc.setJobGroup(group, "long sibling job", True)
        running.set()
        spark.range(0, 2, 1, 2).mapInPandas(sleep_rows, "id long").count()
        raise AssertionError("the sibling's long job was not cancelled")

    class FailingBuilder(IndexBuilder):
        def _mark(self, stage, **metrics):
            if stage == "doc_stats":
                assert running.wait(60)
                deadline = time.monotonic() + 60
                while not sc.statusTracker().getJobIdsForGroup(group):
                    assert time.monotonic() < deadline
                    time.sleep(0.05)
                raise StageFailed(stage)
            super()._mark(stage, **metrics)

    monkeypatch.setattr(build_mod, "compute_globals", long_globals)
    docs = _docs(spark, 60, seed=52)
    t0 = time.monotonic()
    with pytest.raises(StageFailed):
        FailingBuilder(spark, str(tmp_path / "idx"), docs_per_shard=DPS).build_from_docs(
            docs, resume=False
        )
    assert time.monotonic() - t0 < 60  # the sibling's job alone sleeps 120 s

    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert jobs
    assert all(sc.statusTracker().getJobInfo(j).status == "FAILED" for j in jobs)


def _assert_one_file_per_bucket_dir(path: str, epochs: set) -> None:
    root = f"{path}/postings"
    buckets = [d for d in os.listdir(root) if d.startswith("bucket=")]
    assert len(buckets) > 8  # more bucket dirs than this build's write tasks
    seen = set()
    for bucket in buckets:
        for epoch in os.listdir(f"{root}/{bucket}"):
            files = [
                f for f in os.listdir(f"{root}/{bucket}/{epoch}") if f.endswith(".parquet")
            ]
            assert len(files) == 1, (bucket, epoch, files)
            seen.add(epoch)
    assert seen == epochs


def test_one_file_per_bucket_dir_through_append_and_compact(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = IndexBuilder(spark, path, docs_per_shard=DPS).build_from_docs(
        _docs(spark, 200, seed=53), resume=False
    )
    _assert_one_file_per_bucket_dir(path, {"epoch=base"})

    lo = idx.next_doc_id()
    new = _docs(spark, 80, seed=54).withColumn(
        "doc_id", (F.col("doc_id") + F.lit(lo)).cast("long")
    )
    idx = idx.append_documents(new, epoch_id="ep1")
    _assert_one_file_per_bucket_dir(path, {"epoch=base", "epoch=ep_ep1"})

    idx.compact()
    _assert_one_file_per_bucket_dir(path, {"epoch=base"})
