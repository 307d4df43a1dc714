"""Postings construction: decoded blocks == per-(term, doc) counts
oracle; block invariants (FIXTURES.md §4)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from top2vec_spark.config import BM25Config
from top2vec_spark.functions.tokenizer import reference_tokenize
from top2vec_spark.operators.codec import decode_block
from top2vec_spark.operators.corpus_stats import (
    build_doc_stats,
    build_vocab,
    compute_globals,
)
from top2vec_spark.operators.postings import build_postings_from_tf
from top2vec_spark.operators.tokens import explode_packed_tf, pack_tokens, tokenize_docs
from top2vec_spark.sources.pages import generate_pages_pdf

BLOCK = 16
DPS = 128  # docs per shard — small to force multi-shard


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_pages_pdf(400, seed=7)
    docs = spark.createDataFrame(pdf[["url", "text"]]).selectExpr(
        "monotonically_increasing_id() as _x", "url", "text"
    )
    # deterministic dense ids by url
    from top2vec_spark.operators.tokens import assign_doc_ids

    docs = assign_doc_ids(docs.select("url", "text")).select("doc_id", "url", "text")
    return docs.cache(), pdf


@pytest.fixture(scope="module")
def built(spark, corpus):
    docs, _ = corpus
    tokens = tokenize_docs(docs).cache()
    vocab = build_vocab(tokens).cache()
    ds = build_doc_stats(tokens).cache()
    g = compute_globals(ds)
    postings, _ = build_postings_from_tf(
        explode_packed_tf(pack_tokens(tokens)),
        vocab,
        g,
        docs_per_shard=DPS,
        block_size=BLOCK,
    )
    postings = postings.cache()
    return tokens, vocab, ds, g, postings


def test_decoded_postings_match_tf_oracle(built):
    tokens, vocab, ds, g, postings = built
    # oracle: (term_id, doc_id) -> tf from the tokens table
    tid = {r["term"]: r["term_id"] for r in vocab.collect()}
    oracle = Counter()
    for r in tokens.collect():
        oracle[(tid[r["term"]], r["doc_id"])] += 1

    got = {}
    for r in postings.collect():
        d, t = decode_block(bytes(r["doc_ids"]), bytes(r["tfs"]), r["n"])
        assert r["n"] <= BLOCK
        assert (np.diff(d) > 0).all() if d.size > 1 else True
        assert d[0] == r["first_doc_id"] and d[-1] == r["last_doc_id"]
        assert t.max() == r["block_max_tf"]
        # all docs within the shard's range
        assert (d // DPS == r["shard"]).all()
        for di, ti in zip(d, t):
            key = (r["term_id"], int(di))
            assert key not in got, f"duplicate posting {key}"
            got[key] = int(ti)
    assert got == dict(oracle)


def test_block_max_score_is_upper_bound(built):
    """block_max_score must dominate every entry's true contribution."""
    import math

    tokens, vocab, ds, g, postings = built
    cfg = BM25Config()
    dfs = {r["term_id"]: r["df"] for r in vocab.collect()}
    dls = {r["doc_id"]: r["dl"] for r in ds.collect()}
    for r in postings.collect():
        d, t = decode_block(bytes(r["doc_ids"]), bytes(r["tfs"]), r["n"])
        idf = math.log(1.0 + (g.n_docs - dfs[r["term_id"]] + 0.5) / (dfs[r["term_id"]] + 0.5))
        for di, ti in zip(d, t):
            s = idf * (ti * (cfg.k1 + 1.0)) / (
                ti + cfg.k1 * (1.0 - cfg.b + cfg.b * dls[int(di)] / g.avgdl)
            )
            assert s <= r["block_max_score"] + 1e-12


def test_skip_pointers(built):
    *_, postings = built
    for r in postings.collect():
        skips = r["skips"]
        assert skips[0]["doc_id"] == r["first_doc_id"]
        assert skips[0]["offset"] == 0
        assert len(skips) == (r["n"] + 15) // 16
        offs = [s["offset"] for s in skips]
        assert offs == sorted(offs)


def test_head_term_spreads_across_shards(built):
    """Zipf head terms must appear in many (term, shard) groups — the
    salted repartition actually spreads the skew."""
    *_, postings = built
    from pyspark.sql import functions as F

    head = (
        postings.groupBy("term_id")
        .agg(F.countDistinct("shard").alias("n_shards"), F.sum("n").alias("df"))
        .orderBy(F.desc("df"))
        .first()
    )
    assert head["n_shards"] == 400 // DPS + 1  # head term in every shard


def test_zipf_head_term_no_encode_straggler(spark):
    """Adversarial skew-stress for the build (round-4 verdict item 8;
    SURVEY §4 head-term salting claim): a corpus where ONE term occurs
    in ~50% of all documents. The salt is the doc-shard: the encode
    shuffle of ``build_postings_from_tf`` hashes on (term_id, shard),
    so the head term's postings work spreads over every partition
    instead of hot-spotting one reducer the way a plain
    repartition-by-term would. Pins, per encode partition, (a)
    input-row balance (deterministic for this fixture) and (b)
    measured kernel wall time within a straggler bound of the median
    (loose vs the ~2x target to absorb host co-tenant noise;
    BENCH/SKEW_r5.md records actuals)."""
    import statistics
    import string
    import time

    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql import functions as F

    from top2vec_spark.operators import postings as P
    from top2vec_spark.operators.corpus_stats import (
        build_doc_stats,
        build_vocab,
        compute_globals,
    )

    def w(j):  # letter-only term names (digits terminate tokens)
        s = ""
        j = int(j)
        while True:
            s += string.ascii_lowercase[j % 26]
            j //= 26
            if j == 0:
                return "w" + s

    n_docs, dps = 4096, 16
    rows = []
    for i in range(n_docs):
        toks = []
        if i % 2 == 0:
            toks += ["headword"] * 2          # the 50%-df head term
        toks += [w(i % 40)] * 3               # zipf body
        toks += [w(40 + i % 400)] * 2
        toks += [w(440 + i)]                  # singleton tail
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)

    toks = tokenize_docs(docs, ascii_fast_path=True)
    vocab = build_vocab(toks).cache()
    globs = compute_globals(build_doc_stats(toks))
    tf = explode_packed_tf(pack_tokens(toks)).cache()

    # the head term really is in ~50% of docs
    head_df = vocab.filter(F.col("term") == "headword").first()["df"]
    assert head_df == n_docs // 2

    out, n_parts = P.build_postings_from_tf(tf, vocab, globs, docs_per_shard=dps)
    out = out.cache()
    # input rows per encode partition, read off the build's own output:
    # mapInPandas keeps the shuffle's partitioning, and each block
    # carries its n postings rows
    built = {
        r["p"]: r["rows"]
        for r in out.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.sum("n").alias("rows"))
        .collect()
    }
    assert len(built) >= 8  # work really spread over many partitions
    row_counts = list(built.values())
    med_rows = statistics.median(row_counts)
    # deterministic for this fixture (dense ids, fixed hash): the head
    # term adds one row per even doc, spread uniformly
    assert max(row_counts) <= 2.0 * med_rows, row_counts

    # kernel wall time per partition: the same (term_id, shard)
    # repartition the build plans (same keys, types and partition
    # count, proven by equal per-partition row counts), timed around
    # the production encode kernel
    vrows = vocab.select("term", "term_id", "df").collect()
    df_map = {int(r["term_id"]): int(r["df"]) for r in vrows}
    n, avgdl = globs.n_docs, globs.avgdl
    shuffled = (
        tf.join(F.broadcast(vocab.select("term", "term_id")), "term")
        .withColumn("shard", (F.col("doc_id") / F.lit(dps)).cast("int"))
        .select("term_id", "shard", "doc_id", "tf", "dl")
        .repartition(n_parts, "term_id", "shard")
        .sortWithinPartitions("term_id", "shard", "doc_id")
    )

    def timed(pdfs):
        chunks = list(pdfs)
        nrows = sum(len(c) for c in chunks)
        t0 = time.perf_counter()
        nblocks = 0
        for blocks in P.encode_partition(
            iter(chunks), 128, 1.2, 0.75, n, avgdl, df_map=df_map
        ):
            nblocks += len(blocks)
        yield pd.DataFrame(
            {"p": [TaskContext.get().partitionId()],
             "sec": [time.perf_counter() - t0], "rows": [nrows]}
        )

    stats = shuffled.mapInPandas(timed, "p int, sec double, rows long").collect()
    assert {r["p"]: r["rows"] for r in stats if r["rows"] > 0} == built
    secs = [r["sec"] for r in stats if r["rows"] > 0]
    med = statistics.median(secs)
    # target ~2x; assert 3x + 150 ms absolute slack (host co-tenant
    # noise on sub-100ms kernels), record actuals in BENCH/SKEW_r5.md
    assert max(secs) <= max(3.0 * med, med + 0.15), secs

    # and the head term's postings landed in EVERY shard (the salt
    # spread the skew; a term-keyed shuffle would put all of these in
    # one task)
    head_id = next(int(r["term_id"]) for r in vrows if r["term"] == "headword")
    n_shards_head = (
        out.filter(F.col("term_id") == head_id)
        .select("shard").distinct().count()
    )
    assert n_shards_head == n_docs // dps
