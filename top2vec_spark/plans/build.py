"""Checkpoint-resumable index build with per-partition lineage +
metrics manifest (north rule; SURVEY.md §7.2 step 6).

The index IS tables (no joblib blob like reference top2vec.py:939):

    {path}/tf/           doc_id, term, tf, dl — the ONE materialized
                         tokenization pass (fused tokenize+count,
                         operators/tokens.doc_term_counts); vocab,
                         doc_stats and postings all derive from it, so
                         the expensive text scan happens exactly once
    {path}/vocab/        term, term_id, df, cf (appends publish new
                         versions vocab_v_<epoch> + atomic pointer
                         flip in globals.json)
    {path}/doc_stats/    partitioned by shard -> doc_id, dl (the dl
                         sidecar WAND kernels side-read per shard)
    {path}/postings/     partitioned by (bucket=pmod(term_id,
                         n_buckets), epoch) -> compressed block rows
                         (operators/postings.py); base build = epoch
                         "base", each append its own epoch dir
    {path}/tf_appends/   per-epoch packed tf of incremental appends
    {path}/manifest/     partition_id, docs_tokenized, postings_emitted,
                         bytes_compressed, checkpoint_path, lineage
    {path}/globals.json  n_docs, avgdl, docs_per_shard, n_buckets, k1, b
    {path}/_stages/      one marker JSON per completed stage

Resume semantics: each stage writes its table, THEN its marker (the
marker records a params fingerprint). ``build(resume=True)`` skips any
stage whose marker exists with a matching fingerprint — kill the job
after any stage and a restart reuses completed work, producing an
identical index (tests/test_build_resume.py). Task-level retries
within a stage are handled by Spark's job-commit protocol (parquet
output committer publishes atomically); the marker-after-data ordering
makes the stage boundary itself exactly-once.

Save/load ≡ table paths (replaces reference save/load,
top2vec.py:894-1012 — SURVEY.md S3/S4).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from top2vec_spark.config import BM25Config, POSTING_BLOCK_SIZE
from top2vec_spark.operators.corpus_stats import CorpusGlobals, compute_globals
from top2vec_spark.operators.postings import (
    DEFAULT_DOCS_PER_SHARD,
    DEFAULT_N_BUCKETS,
    bucket_col,
    build_postings_from_tf,
)


def _atomic_json(path: str, obj: dict) -> None:
    """Atomic publish for small metadata files: write a temp sibling,
    then os.replace (atomic on POSIX) — readers never observe a
    partial/destroyed file even if the writer dies mid-publish."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


@dataclass
class PostingsIndex:
    spark: SparkSession
    path: str
    globs: CorpusGlobals
    docs_per_shard: int
    n_buckets: int
    stats_fresh: bool = True  # False after appends shift N/avgdl/df
    build_id: str = ""  # fresh per full build; keys worker-side caches
    vocab_dir: str = "vocab"  # current vocab version (appends flip it)
    _postings: DataFrame = None

    @property
    def postings(self) -> DataFrame:
        if self._postings is None:
            self._postings = self.spark.read.parquet(f"{self.path}/postings")
        return self._postings

    def cache(self) -> "PostingsIndex":
        """Pin the postings blocks in executor memory for warm query
        serving (a long-lived query cluster would do exactly this).

        The cached frame is REPARTITIONED BY SHARD first: the
        InMemoryRelation preserves that HashPartitioning, which
        satisfies the ClusteredDistribution the per-shard WAND kernel
        (groupBy(shard).applyInPandas) requires — so warm queries on
        the cached index run with NO per-query Exchange of posting
        blocks, the same zero-shuffle plan shape register_bucketed
        buys on disk (plan pinned in tests/test_wand.py). One shuffle
        at cache time replaces one shuffle per query."""
        n_shards = max(
            1,
            -(-self.globs.n_docs // max(self.docs_per_shard, 1)),
        )
        n = max(
            1, min(self.spark.sparkContext.defaultParallelism, n_shards)
        )
        self._postings = self.postings.repartition(n, "shard").cache()
        self._postings.count()
        return self

    def register_bucketed(
        self,
        table_name: str | None = None,
        shard_buckets: int = 32,
        cache: bool = False,
    ) -> str:
        """Publish the postings as a Spark BUCKETED table (bucketBy
        shard, partitionBy bucket) for query serving: a bucketed scan
        already satisfies the ClusteredDistribution that the per-shard
        WAND kernel requires, so `groupBy(shard).applyInPandas` runs
        with NO Exchange — the per-query shuffle of posting blocks
        (the round-1 plan's scale-limiting step: a head term's blocks
        re-shuffled on EVERY query) disappears; only a local sort
        remains. Partition pruning on `bucket` still applies.

        The table is a snapshot: it is registered on THIS index
        instance only, and an append returns a new instance without
        it, so queries can never silently serve a stale snapshot —
        re-register after appending. One rewrite of the compressed
        blocks (tiny vs raw corpus) buys shuffle-free queries
        afterwards; a long-lived serving cluster does exactly this.
        """
        name = table_name or (
            "t2v_postings_" + "".join(c if c.isalnum() else "_" for c in self.path)
        )
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            # read the postings FRESH from parquet rather than through
            # self.postings: the warm serving cache is repartitioned
            # down to n_shards partitions (2 at small corpora), which
            # would serialize this write, and scanning the
            # deserialized InMemoryRelation measured slower than the
            # columnar parquet read at every SF tried (file-split
            # parallelism comes free from the scan)
            self.spark.read.parquet(f"{self.path}/postings")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .bucketBy(shard_buckets, "shard")
            .sortBy("shard", "term_id")
            .format("parquet")
            .saveAsTable(name)
        )
        self.bucketed_table = name
        if cache:
            # warm serving: pin the bucketed blocks in executor
            # memory — the InMemoryRelation PRESERVES the bucketed
            # output partitioning, so queries stay Exchange-free AND
            # read from memory
            self.spark.catalog.cacheTable(name)
            self.spark.table(name).count()
        return name

    @property
    def vocab(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/{self.vocab_dir}")

    @property
    def doc_stats(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/doc_stats")

    @property
    def doc_stats_path(self) -> str:
        return f"{self.path}/doc_stats"

    @property
    def manifest(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/manifest")

    @property
    def packed_tf(self) -> DataFrame:
        """The complete packed tf lineage: the base build's tf plus
        every applied append epoch's staged tf (epochs are recorded in
        globals.json at publish time, so a crashed half-applied epoch
        is never included)."""
        with open(f"{self.path}/globals.json") as f:
            eps = json.load(f).get("appends", [])
        paths = [f"{self.path}/tf"] + [
            f"{self.path}/tf_appends/{e}" for e in eps
        ]
        return self.spark.read.parquet(*paths)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PostingsIndex":
        with open(f"{path}/globals.json") as f:
            g = json.load(f)
        out = cls(
            spark=spark,
            path=path,
            globs=CorpusGlobals(
                n_docs=g["n_docs"],
                avgdl=g["avgdl"],
                sum_dl=g.get("sum_dl", round(g["avgdl"] * g["n_docs"])),
            ),
            docs_per_shard=g["docs_per_shard"],
            n_buckets=g["n_buckets"],
            stats_fresh=g.get("stats_fresh", True),
            build_id=g.get("build_id", ""),
            vocab_dir=g.get("vocab_dir", "vocab"),
        )
        out._migrate_flat_tombstones()
        return out

    # -- tombstone delete (U2, reference delete_documents
    # top2vec.py:2063-2122 / hnswlib mark_deleted) ---------------------------
    @property
    def tombstones(self) -> frozenset[int]:
        """doc_ids marked deleted. Mirrors the reference's ANN
        mark_deleted semantics: postings keep the entries, queries
        skip them; corpus stats keep pre-delete values until a
        rebuild compacts (documented, matches the reference which
        also does not retrain after deletes).

        A driver-side set for doc-id validation only; no query reads
        it and no query plan carries its ids. Queries drop deleted docs
        through :meth:`_live` (an anti-join) or, in the WAND kernels,
        by side-reading their shard's partition of the tombstone table
        (operators/wand._load_tomb_sidecar)."""
        if not hasattr(self, "_tombstones"):
            tpath = f"{self.path}/tombstones"
            if os.path.isdir(tpath):
                rows = self.spark.read.parquet(tpath).collect()
                self._tombstones = frozenset(int(r["doc_id"]) for r in rows)
            else:  # no probe-by-exception: keeps logs clean
                self._tombstones = frozenset()
        return self._tombstones

    @property
    def tombstones_path(self) -> str:
        return f"{self.path}/tombstones"

    def _tomb_frame(self) -> DataFrame | None:
        """The deleted doc_ids as a lazy local checkpoint, None when
        nothing is deleted (no job runs then). Rebuilt only when the
        tombstone file set changes (``wand.tomb_fingerprint``). A
        checkpoint rather than a scan of ``tombstones/``, because
        compaction deletes that directory."""
        from top2vec_spark.operators.wand import tomb_fingerprint

        fp = tomb_fingerprint(self.tombstones_path)
        if not fp:
            return None
        if getattr(self, "_tomb_ids", (None,))[0] != fp:
            # the schema is known: no footer-reading inference job
            ids = (
                self.spark.read.schema("doc_id long, shard int")
                .parquet(self.tombstones_path)
                .select("doc_id")
            )
            self._tomb_ids = (fp, ids.localCheckpoint(eager=False))
        return self._tomb_ids[1]

    def _live(self, df: DataFrame, on: str = "doc_id") -> DataFrame:
        """``df`` without its deleted documents: a left anti-join on
        ``on`` against :meth:`_tomb_frame` (AQE broadcasts the small
        side), or ``df`` itself when nothing is deleted. No plan
        carries an id list."""
        tombs = self._tomb_frame()
        if tombs is None:
            return df
        if on != "doc_id":
            tombs = tombs.withColumnRenamed("doc_id", on)
        return df.join(tombs, on, "left_anti")

    def _migrate_flat_tombstones(self) -> None:
        """One-time migration of a pre-sidecar tombstone table (flat
        part-*.parquet at the dir root) to the shard-partitioned
        layout the WAND kernel side-reads. Without this, an index
        persisted before the sidecar change would silently resurrect
        deleted docs (kernels find no shard= dirs), and appending
        partitioned files next to flat ones breaks partition
        discovery."""
        tpath = self.tombstones_path
        # Recover from a crash mid-swap: if the live dir vanished but
        # the aside copy survives, restore it and re-run the migration.
        if not os.path.isdir(tpath) and os.path.isdir(f"{tpath}.__old__"):
            os.rename(f"{tpath}.__old__", tpath)
        if not os.path.isdir(tpath):
            return
        flat = [
            f for f in os.listdir(tpath)
            if f.endswith(".parquet") and os.path.isfile(f"{tpath}/{f}")
        ]
        if not flat:
            # The live dir exists and is already partitioned — any
            # leftover __old__/__migrating__ is debris from a crash
            # AFTER the swap completed. Delete it here, or a much
            # later loss of the live dir would let the line-228
            # recovery restore the stale pre-migration set,
            # resurrecting documents deleted since.
            import shutil

            shutil.rmtree(f"{tpath}.__old__", ignore_errors=True)
            shutil.rmtree(f"{tpath}.__migrating__", ignore_errors=True)
            return
        ids = sorted(
            int(r["doc_id"])
            for r in self.spark.read.parquet(
                *[f"{tpath}/{f}" for f in flat]
            ).collect()
        )
        import shutil

        # Crash-safe swap: write the partitioned table to a temp dir,
        # rename the flat dir aside, move the new one into place, THEN
        # delete the old — a crash at any step leaves a complete
        # tombstone set on disk (either the old flat one, which this
        # migration re-finds on the next load, or the new partitioned
        # one), never a window where deletes are silently resurrected.
        tmp = f"{tpath}.__migrating__"
        old = f"{tpath}.__old__"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        if ids:
            dps = self.docs_per_shard
            self.spark.createDataFrame(
                [(i, i // dps) for i in ids], "doc_id long, shard int"
            ).write.mode("overwrite").partitionBy("shard").parquet(tmp)
            os.rename(tpath, old)
            os.rename(tmp, tpath)
            shutil.rmtree(old)
        else:
            # Nothing to carry over — drop the empty flat table via
            # rename-then-delete so a crash can't leave a half-deleted dir.
            os.rename(tpath, old)
            shutil.rmtree(old)
        if hasattr(self, "_tombstones"):
            del self._tombstones

    def delete_documents(self, doc_ids) -> "PostingsIndex":
        """Mark doc_ids deleted (idempotent append to the tombstone
        table). O(len(doc_ids)) — no partition rewrites.

        Stored PARTITIONED BY SHARD (doc_id // docs_per_shard) so the
        WAND kernel side-reads only its own shard's tombstones, exactly
        like the dl sidecar — the exclusion set never rides in the task
        closure, so 10^8 accumulated deletes cost each query only the
        per-shard files it touches (worker-cached between queries)."""
        ids = sorted({int(x) for x in doc_ids})
        if not ids:
            return self
        self._migrate_flat_tombstones()
        dps = self.docs_per_shard
        self.spark.createDataFrame(
            [(i, i // dps) for i in ids], "doc_id long, shard int"
        ).write.mode("append").partitionBy("shard").parquet(
            self.tombstones_path
        )
        if hasattr(self, "_tombstones"):
            del self._tombstones
        return self

    def compact(self, min_count: int = 0, cfg=None) -> "PostingsIndex":
        """Fold every applied append epoch and all tombstones into a
        fresh base index — see ``compact_index`` below."""
        return compact_index(
            self.spark, self.path, min_count=min_count, cfg=cfg
        )

    # -- incremental append (U1, reference add_documents
    # top2vec.py:1960-2061) ------------------------------------------------
    def next_doc_id(self) -> int:
        """First doc_id for appended documents: aligned UP to the next
        shard boundary, so appends create only NEW doc-shards and
        never rewrite an existing doc_stats/postings partition
        (doc_id is a surrogate — gaps are free)."""
        row = self.doc_stats.agg(F.max("doc_id").alias("m")).collect()[0]
        hi = int(row["m"]) + 1 if row["m"] is not None else 0
        dps = self.docs_per_shard
        return ((hi + dps - 1) // dps) * dps

    def epoch_base_doc_id(self, epoch_id) -> int:
        """Stable first doc_id for a named append epoch: recorded in a
        marker on first call, replayed from it afterwards — so a
        foreachBatch retry of the same epoch reuses the SAME id range
        even if a previous attempt already appended doc_stats (which
        would otherwise advance next_doc_id and duplicate the batch
        under fresh ids)."""
        os.makedirs(f"{self.path}/_appends", exist_ok=True)
        m = f"{self.path}/_appends/{epoch_id}.base.json"
        if os.path.exists(m):
            with open(m) as f:
                return int(json.load(f)["base_doc_id"])
        lo = self.next_doc_id()
        _atomic_json(m, {"base_doc_id": lo})
        return lo

    def append_documents(
        self, new_docs: DataFrame, cfg=None, epoch_id=None, packed_tf=None
    ) -> "PostingsIndex":
        """Incremental index append: tokenize ONLY the new docs, write
        their tf/doc_stats/postings into new shard partitions, merge
        the new batch's term counts into the stored vocabulary
        (existing term_ids stay stable — new terms get ids after the
        old max, a documented deviation from the fresh-build
        df-ordering so bucket pruning keeps working), and update
        globals EXACTLY (old sum_dl + new batch's long sum — identical
        to a full recompute). Marks stats_fresh=False: WAND switches
        to stat-independent (block_max_tf, block_min_dl) pruning
        bounds; exact scores are always computed under CURRENT
        globals, so query results equal a full rebuild's
        (pytest-pinned).

        Cost is O(new batch): nothing re-reads the existing tf/vocab
        history beyond one broadcast-sized vocab merge join.

        Crash safety / idempotency (per-epoch staging):
        - ``epoch_id`` names the append (streaming passes the batch
          id; default is a fresh timestamp = apply-once semantics).
        - A replayed epoch whose ``.done`` marker exists is a no-op
          (exactly-once per micro-batch under foreachBatch retries).
        - Each sub-step is individually resumable: the new packed tf
          lands in an epoch-private dir (overwrite = idempotent
          retry), doc_stats/postings use dynamic-partition OVERWRITE
          of the epoch's own partitions (appends only ever create new
          doc-shards, and postings carry an epoch partition column),
          and the vocab is published as a new versioned directory with
          an atomic pointer flip in globals.json — a crash at any
          point leaves the live index readable and the retry
          converges to the same state.

        ``new_docs`` must carry doc_id >= next_doc_id() (use
        epoch_base_doc_id / assign-then-offset) and a text column.

        ``packed_tf``: optional pre-tokenized packed tf for the new
        docs (doc_id, terms, tfs, dl) — pass it when the base build
        used a CUSTOM tokenizer or a phrase-augmented vocabulary, so
        appended docs are indexed under the SAME tokenization as the
        base corpus (api.add_documents threads its tokenizer/phrase
        pipeline through here). Default: the built-in contract
        tokenizer.
        """
        from top2vec_spark.config import BM25Config
        from top2vec_spark.operators.tokens import (
            doc_term_counts_packed,
            explode_packed_tf,
        )

        cfg = cfg or BM25Config()
        p = self.path
        spark = self.spark
        ep = str(epoch_id) if epoch_id is not None else f"t{time.time_ns()}"
        adir = f"{p}/_appends"
        os.makedirs(adir, exist_ok=True)
        if os.path.exists(f"{adir}/{ep}.done.json"):
            return PostingsIndex.load(spark, p)  # epoch already applied

        def sub_done(name: str) -> bool:
            return os.path.exists(f"{adir}/{ep}.{name}.json")

        def sub_mark(name: str, **metrics) -> None:
            _atomic_json(f"{adir}/{ep}.{name}.json", {"epoch": ep, **metrics})

        def sub_read(name: str) -> dict:
            with open(f"{adir}/{ep}.{name}.json") as f:
                return json.load(f)

        tf_dir = f"{p}/tf_appends/{ep}"
        if not sub_done("tf"):
            # validate only on the first attempt: a retry after the
            # doc_stats sub-step would see an advanced next_doc_id
            lo = self.next_doc_id()
            bad = new_docs.filter(F.col("doc_id") < lo).limit(1).count()
            if bad:
                raise ValueError(
                    f"appended doc_ids must be >= {lo} (next shard boundary)"
                )
            tf_new = (
                packed_tf
                if packed_tf is not None
                else doc_term_counts_packed(new_docs)
            )
            tf_new.select("doc_id", "terms", "tfs", "dl").write.mode(
                "overwrite"
            ).parquet(tf_dir)
            sub_mark("tf")
        packed_new = spark.read.parquet(tf_dir)

        # merge ONLY the new batch's counts into the stored vocab
        # (never re-aggregates tf history — O(batch), not O(corpus))
        vocab_dir_new = f"vocab_v_{ep}"
        if not sub_done("vocab"):
            from top2vec_spark.operators.corpus_stats import number_vocab

            old_vocab = self.vocab
            max_id = old_vocab.agg(F.max("term_id")).collect()[0][0] or 0
            new_counts = (
                explode_packed_tf(packed_new)
                .groupBy("term")
                .agg(
                    F.sum("tf").alias("cf_new"),
                    F.count(F.lit(1)).alias("df_new"),
                )
            )
            joined = old_vocab.join(new_counts, "term", "full_outer").select(
                "term",
                "term_id",
                (
                    F.coalesce(F.col("df"), F.lit(0))
                    + F.coalesce(F.col("df_new"), F.lit(0))
                ).alias("df"),
                (
                    F.coalesce(F.col("cf"), F.lit(0))
                    + F.coalesce(F.col("cf_new"), F.lit(0))
                ).alias("cf"),
            )
            # existing terms keep their ids; BRAND-NEW terms get dense
            # ids above max_id by (df desc, term asc) — two-phase
            # parallel numbering over only the new terms, not a global
            # window over the whole merged vocab
            kept = joined.filter(F.col("term_id").isNotNull())
            fresh = number_vocab(
                joined.filter(F.col("term_id").isNull()).drop("term_id"),
                start=int(max_id) + 1,
            )
            merged = kept.select("term", "term_id", "df", "cf").unionByName(
                fresh
            )
            merged.write.mode("overwrite").parquet(f"{p}/{vocab_dir_new}")
            sub_mark("vocab")
        vocab_t = spark.read.parquet(f"{p}/{vocab_dir_new}")

        # new doc_stats shards: dynamic-partition overwrite touches
        # ONLY the epoch's (new) shard dirs — idempotent on retry
        if not sub_done("doc_stats"):
            agg = packed_new.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
            ).collect()[0]
            self._overwrite_partitions(
                packed_new.select("doc_id", "dl")
                .withColumn(
                    "shard",
                    (F.col("doc_id") / F.lit(self.docs_per_shard)).cast("int"),
                )
                .repartition("shard"),
                ["shard"],
                f"{p}/doc_stats",
            )
            sub_mark(
                "doc_stats", n_new=int(agg["n"]), sum_dl_new=int(agg["s"] or 0)
            )
        dsm = sub_read("doc_stats")

        # exact incremental globals (== full recompute: long sums)
        n_docs = self.globs.n_docs + int(dsm["n_new"])
        sum_dl = self.globs.sum_dl + int(dsm["sum_dl_new"])
        globs = CorpusGlobals(
            n_docs=n_docs,
            avgdl=sum_dl / n_docs if n_docs else 0.0,
            sum_dl=sum_dl,
        )

        # encode ONLY the new shards' postings into the epoch's own
        # (bucket, epoch) partitions — dynamic overwrite = idempotent
        if not sub_done("postings"):
            postings_new, n_parts = build_postings_from_tf(
                explode_packed_tf(packed_new),
                vocab_t,
                globs,
                cfg=cfg,
                docs_per_shard=self.docs_per_shard,
                block_size=POSTING_BLOCK_SIZE,
                stats_path=f"{p}/doc_stats",
            )
            self._overwrite_partitions(
                # same bucket write as the base build (see there)
                postings_new.withColumn(
                    "bucket", bucket_col("term_id", self.n_buckets)
                )
                .withColumn("epoch", F.lit(f"ep_{ep}"))
                .repartition(min(self.n_buckets, n_parts), "bucket"),
                ["bucket", "epoch"],
                f"{p}/postings",
            )
            sub_mark("postings")

        # atomic publish: flip vocab pointer + stats in one rename
        with open(f"{p}/globals.json") as f:
            gj = json.load(f)
        gj.update(
            {
                "n_docs": globs.n_docs,
                "avgdl": globs.avgdl,
                "sum_dl": globs.sum_dl,
                "stats_fresh": False,
                "vocab_dir": vocab_dir_new,
                "appends": gj.get("appends", []) + [ep],
            }
        )
        _atomic_json(f"{p}/globals.json", gj)
        sub_mark("done")

        return PostingsIndex(
            spark=spark,
            path=p,
            globs=globs,
            docs_per_shard=self.docs_per_shard,
            n_buckets=self.n_buckets,
            stats_fresh=False,
            build_id=gj.get("build_id", ""),
            vocab_dir=vocab_dir_new,
        )

    def _overwrite_partitions(
        self, df: DataFrame, part_cols: list, path: str
    ) -> None:
        """mode=overwrite under dynamic partitionOverwriteMode:
        replaces exactly the partitions present in ``df`` (retry-safe
        append of brand-new partitions), leaving all others intact."""
        conf = self.spark.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = conf.get(key, "static")
        conf.set(key, "dynamic")
        try:
            df.write.mode("overwrite").partitionBy(*part_cols).parquet(path)
        finally:
            conf.set(key, prev)


def _run_concurrent_stages(sc, stages: dict) -> None:
    """Run independent build stages (name -> no-arg callable), one
    driver thread each. Every Spark job a stage starts carries the
    job tag ``build:<name>:<run id>``. The first stage to fail cancels
    the other stages' jobs, and its exception is re-raised once every
    thread has ended — a sibling's long job never holds a failed
    build open. A cancelled job fails the action that started it, so
    a cancelled stage ends at its current job; the cancel repeats until
    then, for a stage that was between two jobs when it was first
    cancelled."""
    from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

    run_id = time.time_ns()
    tags = {name: f"build:{name}:{run_id}" for name in stages}

    def run(name: str) -> None:
        sc.addJobTag(tags[name])
        sc.setInterruptOnCancel(True)
        try:
            stages[name]()
        finally:
            sc.removeJobTag(tags[name])

    with ThreadPoolExecutor(max_workers=len(stages)) as pool:
        futs = {pool.submit(run, name): name for name in stages}
        done, pending = wait(futs, return_when=FIRST_EXCEPTION)
        failed = [f for f in done if f.exception() is not None]
        while failed and pending:
            for f in pending:
                sc.cancelJobsWithTag(tags[futs[f]])
            _, pending = wait(pending, timeout=0.5)
    if failed:
        raise failed[0].exception()


class IndexBuilder:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cfg: BM25Config = BM25Config(),
        docs_per_shard: int = DEFAULT_DOCS_PER_SHARD,
        n_buckets: int = DEFAULT_N_BUCKETS,
        block_size: int = POSTING_BLOCK_SIZE,
        input_fingerprint: str | None = None,
    ) -> None:
        """``input_fingerprint``: an identity of the INPUT DATA (e.g.
        row count + xxhash64 aggregate, or source file mtimes). Folded
        into the stage fingerprint so ``resume=True`` can never reuse
        an index built from different data at the same path.

        ``docs_per_shard`` trades build throughput against
        single-query serving latency (measured at 1.6M docs,
        BENCH/LATENCY_FLOOR_r5.md): ~128k maximizes build rate
        (23.5k docs/s there), ~50k halves the per-query kernel
        max-task and cuts warm bucketed p50 0.80 -> 0.63 s and
        batched serving 0.157 -> 0.108 s/query (build 18.2k docs/s).
        Pick by deployment; the default favors build."""
        if not path:
            raise ValueError("IndexBuilder requires an index path")
        self.spark = spark
        self.path = path
        self.cfg = cfg
        self.docs_per_shard = docs_per_shard
        self.n_buckets = n_buckets
        self.block_size = block_size
        self.input_fingerprint = input_fingerprint
        os.makedirs(f"{path}/_stages", exist_ok=True)

    # -- stage markers -------------------------------------------------------
    def _fingerprint(self) -> dict:
        return {
            "k1": self.cfg.k1,
            "b": self.cfg.b,
            "docs_per_shard": self.docs_per_shard,
            "n_buckets": self.n_buckets,
            "block_size": self.block_size,
            "layout": "epoch-v3",  # invalidates pre-epoch-layout indexes
            "input": self.input_fingerprint,
        }

    def _marker(self, stage: str) -> str:
        return f"{self.path}/_stages/{stage}.json"

    def _done(self, stage: str) -> bool:
        m = self._marker(stage)
        if not os.path.exists(m):
            return False
        with open(m) as f:
            return json.load(f).get("fingerprint") == self._fingerprint()

    def _mark(self, stage: str, **metrics) -> None:
        with open(self._marker(stage), "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "fingerprint": self._fingerprint(),
                    "completed_at": time.time(),
                    **metrics,
                },
                f,
            )

    # -- build ---------------------------------------------------------------
    def build_from_docs(
        self,
        docs: DataFrame,
        min_count: int = 0,
        resume: bool = True,
    ) -> PostingsIndex:
        """Primary entry: docs(doc_id, text) -> index. One fused
        tokenize+count Arrow pass materialized as the packed `tf`
        stage (one row/doc with term/tf arrays — ~56x fewer rows than
        the long format through Arrow/parquet/shuffle, which was the
        top non-scaling cost)."""
        from top2vec_spark.operators.tokens import doc_term_counts_packed

        # Compact parquet inputs coalesce into very few splits
        # (spark.sql.files.maxPartitionBytes), starving the
        # CPU-heavy tokenize UDF of parallelism — fan out first.
        # (At petabyte scale inputs arrive in thousands of splits and
        # this is a no-op.)
        # exactly one task per core: the tokenize pass is CPU-bound and
        # near-uniform per doc, so one wave beats two (2x cores
        # measured 0.95 s vs 0.61 s at 50k docs / local[32] — per-task
        # Arrow overhead, no straggler tail to smooth); at petabyte
        # scale inputs arrive in thousands of splits and this branch
        # is a no-op.
        target = self.spark.sparkContext.defaultParallelism
        if docs.rdd.getNumPartitions() < target:
            # hash on doc_id, not round-robin: a keyless repartition(n)
            # pays a local sort of its input (sortBeforeRepartition)
            # and re-draws row placement on task retry; the doc_id
            # hash is deterministic and sort-free (guide §2.5)
            docs = docs.repartition(target, "doc_id")

        return self._build_from_packed(
            lambda: doc_term_counts_packed(docs),
            min_count=min_count,
            resume=resume,
        )

    def build(
        self,
        tokens: DataFrame,
        vocab: DataFrame = None,
        doc_stats: DataFrame = None,
        min_count: int = 0,
        resume: bool = True,
    ) -> PostingsIndex:
        """Build from a long-format tokens(doc_id, pos, term) table.
        vocab/doc_stats args are accepted for backward compatibility
        but recomputed from the materialized tf stage (strict-'>'
        min_count, SURVEY.md P1) so tokenization runs once."""
        from top2vec_spark.operators.tokens import pack_tokens

        return self._build_from_packed(
            lambda: pack_tokens(tokens), min_count=min_count, resume=resume
        )

    def build_from_packed_tf(
        self, packed: DataFrame, min_count: int = 0, resume: bool = True
    ) -> PostingsIndex:
        """Build from an ALREADY-TOKENIZED packed tf table
        (doc_id, terms, tfs, dl) — the compaction path
        (``compact_index`` below) and any caller with a pre-tokenized
        corpus. Skips the text scan entirely; everything downstream
        (vocab numbering, doc_stats, globals, postings encode,
        manifest) is identical to a text build."""
        return self._build_from_packed(
            lambda: packed, min_count=min_count, resume=resume
        )

    def _build_from_packed(
        self, make_packed, min_count: int, resume: bool
    ) -> PostingsIndex:
        from top2vec_spark.operators.tokens import explode_packed_tf

        p = self.path

        if not (resume and self._done("tf")):
            # Full (re)build: clear state from any PRIOR corpus at this
            # path. Stale append markers would make a post-rebuild
            # append that reuses an epoch id (e.g. a restarted stream
            # whose batch ids restart at 0) silently no-op on its
            # .done.json, and stale tombstones/tf_appends belong to the
            # old corpus's doc_ids.
            import shutil

            for stale in ("_appends", "tf_appends", "tombstones"):
                shutil.rmtree(f"{p}/{stale}", ignore_errors=True)
            make_packed().write.mode("overwrite").parquet(f"{p}/tf")
            self._mark("tf")
        packed_t = self.spark.read.parquet(f"{p}/tf")
        tf_t = explode_packed_tf(packed_t)

        # vocab, doc_stats and globals all derive from the materialized
        # tf and are INDEPENDENT — submit them from three driver threads
        # so each job's tasks back-fill executors idled by another's
        # straggler tail (guide: overlap independent jobs; Spark's
        # scheduler runs concurrent jobs FIFO, which is exactly the
        # back-fill behaviour wanted). Stage markers/resume semantics
        # are per-stage and unchanged: each thread writes its table
        # THEN its marker.
        df_rows_box: list = []  # (term_id, df) rows harvested in-thread

        def _vocab_stage() -> None:
            from top2vec_spark.operators.postings import (
                DF_BROADCAST_CAP,
                broadcast_df_rows,
            )

            if resume and self._done("vocab"):
                # prefetch the postings stage's broadcast rows while
                # the doc_stats thread still runs
                df_rows_box.append(
                    broadcast_df_rows(self.spark.read.parquet(f"{p}/vocab"))
                )
                return
            counts = (
                tf_t.groupBy("term")
                .agg(
                    F.sum("tf").alias("cf"),
                    F.count(F.lit(1)).alias("df"),
                )
                .filter(F.col("cf") > min_count)
                # the cap probe below and, over the cap, the numbering
                # both read it: aggregate the corpus once. A lazy local
                # checkpoint keeps the probe at its two jobs; persist()
                # would add a cache-materializing job and lose AQE's
                # partition coalescing on every build (measured)
                .localCheckpoint(eager=False)
            )
            # a vocab under the broadcast cap is collected to the
            # driver ANYWAY for the postings df map — numbering it
            # here (same total order as number_vocab: df desc,
            # term asc, dense from 0) turns the ~6 tiny jobs of
            # the distributed two-phase numbering (persist, range
            # sample, checkpoint, counts, join, write) into ONE
            # agg-collect + ONE write, and the postings broadcast
            # rows come free. Over the cap: the scale-safe
            # two-phase path, unchanged.
            rows = counts.limit(DF_BROADCAST_CAP + 1).collect()
            if len(rows) <= DF_BROADCAST_CAP:
                import pandas as pd

                # python sort == Spark's (df desc, term asc):
                # UTF-8 byte order preserves code-point order
                rows.sort(key=lambda r: (-r["df"], r["term"]))
                pdf = pd.DataFrame(
                    {
                        "term": [r["term"] for r in rows],
                        "term_id": list(range(len(rows))),
                        "df": [int(r["df"]) for r in rows],
                        "cf": [int(r["cf"]) for r in rows],
                    }
                )
                (
                    self.spark.createDataFrame(
                        pdf,
                        "term string, term_id long, df long, cf long",
                    )
                    # right-sized files (~500k rows each), order
                    # preserved so term/df row-group stats stay
                    # useful to pruned vocab scans
                    .coalesce(max(1, len(rows) // 500_000))
                    .write.mode("overwrite")
                    .parquet(f"{p}/vocab")
                )
                df_rows_box.append(
                    [
                        {"term_id": i, "df": int(r["df"])}
                        for i, r in enumerate(rows)
                    ]
                )
            else:
                from top2vec_spark.operators.corpus_stats import (
                    number_vocab,
                )

                del rows
                number_vocab(counts).write.mode("overwrite").parquet(
                    f"{p}/vocab"
                )
            self._mark("vocab")

        def _ds_stage() -> None:
            if resume and self._done("doc_stats"):
                return
            (
                packed_t.select("doc_id", "dl")
                .withColumn(
                    "shard",
                    (F.col("doc_id") / F.lit(self.docs_per_shard)).cast(
                        "int"
                    ),
                )
                # fixed-num repartition: cols-only pays an AQE
                # re-optimization stage (measured 0.50 vs 0.36 s at
                # 50k docs); cores-many writers is right at any scale
                # (cluster defaultParallelism = total cores)
                .repartition(
                    max(self.spark.sparkContext.defaultParallelism, 1),
                    "shard",
                )
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(f"{p}/doc_stats")
            )
            self._mark("doc_stats")

        def _globals_stage() -> None:
            if resume and self._done("globals"):
                return
            # computed from the SAME materialized packed tf the
            # doc_stats write projects — identical (doc_id, dl) rows,
            # so n/avgdl/sum_dl equal the old read-back-from-parquet
            # computation exactly (long sums, order-independent), and
            # the stage no longer serializes behind the doc_stats
            # write
            g = compute_globals(packed_t.select("doc_id", "dl"))
            _atomic_json(
                f"{p}/globals.json",
                {
                    "n_docs": g.n_docs,
                    "avgdl": g.avgdl,
                    "sum_dl": g.sum_dl,
                    "docs_per_shard": self.docs_per_shard,
                    "n_buckets": self.n_buckets,
                    "block_size": self.block_size,
                    "k1": self.cfg.k1,
                    "b": self.cfg.b,
                    # fresh per build: keys worker-side dl caches so a
                    # rebuild at the same path never serves stale stats
                    "build_id": f"b{time.time_ns()}",
                    "vocab_dir": "vocab",
                },
            )
            self._mark("globals")

        _run_concurrent_stages(
            self.spark.sparkContext,
            {
                "vocab": _vocab_stage,
                "doc_stats": _ds_stage,
                "globals": _globals_stage,
            },
        )
        vocab_t = self.spark.read.parquet(f"{p}/vocab")
        with open(f"{p}/globals.json") as f:
            gj = json.load(f)
        globs = CorpusGlobals(
            n_docs=gj["n_docs"],
            avgdl=gj["avgdl"],
            sum_dl=gj.get("sum_dl", round(gj["avgdl"] * gj["n_docs"])),
        )

        if not (resume and self._done("postings")):
            # JVM explode + repartition-by-(term,shard): Tungsten owns
            # the sort/shuffle.
            postings, n_parts = build_postings_from_tf(
                explode_packed_tf(packed_t),
                vocab_t,
                globs,
                cfg=self.cfg,
                docs_per_shard=self.docs_per_shard,
                block_size=self.block_size,
                # doc_stats is on disk by now: slim-shuffle path
                # (dl side-read per shard, not shuffled per row)
                stats_path=f"{p}/doc_stats",
                df_rows=df_rows_box[0] if df_rows_box else None,
            )
            (
                postings.withColumn(
                    "bucket", bucket_col("term_id", self.n_buckets)
                )
                # epoch partition column: the base build is epoch
                # "base"; each incremental append writes its own
                # (bucket, epoch=ep_*) dirs, so append retries can
                # dynamic-overwrite ONLY their epoch (crash-safe)
                .withColumn("epoch", F.lit("base"))
                # hash-partitioning on the bucket value puts each
                # bucket in exactly one write task, so every
                # bucket=*/epoch=* dir gets one file. The task count
                # follows the encode's own partition count (sized from
                # the exact postings row count), capped at n_buckets:
                # a small build writes in a few tasks instead of
                # paying n_buckets task set-ups. A fixed-num
                # repartition also skips the AQE re-optimization
                # stage a cols-only one pays (measured 2.2 -> 1.7 s
                # for the encode+write at 50k docs).
                .repartition(min(self.n_buckets, n_parts), "bucket")
                .write.mode("overwrite")
                .partitionBy("bucket", "epoch")
                .parquet(f"{p}/postings")
            )
            self._mark("postings")

        if not (resume and self._done("manifest")):
            self._write_manifest(globs)
            self._mark("manifest")

        return PostingsIndex(
            spark=self.spark,
            path=p,
            globs=globs,
            docs_per_shard=self.docs_per_shard,
            n_buckets=self.n_buckets,
            stats_fresh=gj.get("stats_fresh", True),
            build_id=gj.get("build_id", ""),
            vocab_dir=gj.get("vocab_dir", "vocab"),
        )

    def _write_manifest(self, globs: CorpusGlobals) -> None:
        """Per-partition lineage + metrics (north rule): one row per
        postings bucket partition, counting postings emitted and
        compressed bytes; docs_tokenized comes from the shard-level
        doc_stats (docs that produced >= 1 token)."""
        p = self.path
        postings = self.spark.read.parquet(f"{p}/postings")
        ds = self.spark.read.parquet(f"{p}/doc_stats")
        lineage = json.dumps(
            {
                "stages": ["tf", "vocab", "doc_stats", "globals", "postings"],
                "fingerprint": self._fingerprint(),
                "n_docs": globs.n_docs,
                "avgdl": globs.avgdl,
            }
        )
        per_bucket = postings.groupBy("bucket").agg(
            F.sum("n").alias("postings_emitted"),
            (
                F.sum(F.length("doc_ids")) + F.sum(F.length("tfs"))
            ).alias("bytes_compressed"),
        )
        docs_per_shard_df = ds.groupBy("shard").agg(
            F.count(F.lit(1)).alias("docs_tokenized")
        )
        total_docs = globs.n_docs
        manifest = per_bucket.select(
            F.col("bucket").cast("int").alias("partition_id"),
            F.lit(total_docs).cast("long").alias("docs_tokenized"),
            F.col("postings_emitted").cast("long"),
            F.col("bytes_compressed").cast("long"),
            F.concat(F.lit(f"{p}/postings/bucket="), F.col("bucket")).alias(
                "checkpoint_path"
            ),
            F.lit(lineage).alias("lineage"),
        ).unionByName(
            docs_per_shard_df.select(
                F.col("shard").cast("int").alias("partition_id"),
                F.col("docs_tokenized").cast("long"),
                F.lit(0).cast("long").alias("postings_emitted"),
                F.lit(0).cast("long").alias("bytes_compressed"),
                F.concat(F.lit(f"{p}/doc_stats/shard="), F.col("shard")).alias(
                    "checkpoint_path"
                ),
                F.lit(lineage).alias("lineage"),
            )
        )
        manifest.write.mode("overwrite").parquet(f"{p}/manifest")


def compact_index(
    spark: SparkSession, path: str, min_count: int = 0, cfg=None
) -> PostingsIndex:
    """Compaction: fold every applied append epoch AND all tombstones
    into a fresh single-epoch base index, WITHOUT re-reading or
    re-tokenizing raw text.

    Why it exists (10^12-doc scale): each streaming append adds a
    (bucket, epoch=ep_*) postings partition and each delete only masks
    doc_ids at query time, so a long-lived index accumulates thousands
    of small epoch dirs per bucket (more files listed + opened per
    query) and ever-growing tombstone side-reads, while corpus
    statistics stay frozen at pre-delete values (stats_fresh=False
    weakens WAND's pruning bounds to the stat-independent form). The
    only remedy used to be a full rebuild — whose dominant cost at web
    scale is the raw-text scan + tokenize (BENCH/SCALING_WEBTEXT_r5.md).
    Compaction skips exactly that cost: its input is the stored packed
    tf lineage (base {path}/tf + every applied {path}/tf_appends/<ep>,
    PostingsIndex.packed_tf) minus tombstoned docs (left_anti join —
    AQE broadcasts the tombstone side while it is small), and it runs
    the SAME build stages (vocab renumbered df-desc over survivors,
    doc_stats, exact globals, postings encode, manifest). Hence the
    invariant pinned by tests/test_compact.py: the compacted index is
    byte-identical in postings and rank/score-identical in queries to
    a FRESH build over the surviving documents, with stats_fresh back
    to True — deletes finally leave the statistics, which the
    reference only achieves by retraining (top2vec.py:2104-2110 keeps
    serving pre-delete stats forever).

    Crash safety: the new index is built by a stage-resumable
    IndexBuilder at '{path}.__compact__' (a killed compaction resumes
    stage-by-stage — the input fingerprint folds the source build_id,
    applied epochs, and a tombstone aggregate, so a source index that
    changed since invalidates the half-built temp), then a
    _COMPACT_COMPLETE marker is published atomically, then the swap:
    rename live aside -> rename temp in -> delete old. A crash at any
    point is recovered by calling compact_index again: marker present
    + source unchanged finishes the swap; marker present + source
    CHANGED (an append landed after the interrupted attempt) discards
    the stale temp and compacts fresh; mid-swap (live dir missing)
    completes the rename. Queries are briefly unserveable during the
    two renames — compaction is an offline maintenance op, like a
    Lucene forceMerge."""
    import shutil

    tmp, old = f"{path}.__compact__", f"{path}.__precompact__"
    marker = f"{tmp}/_COMPACT_COMPLETE.json"

    def _src_state() -> dict:
        with open(f"{path}/globals.json") as f:
            gj = json.load(f)
        tpath = f"{path}/tombstones"
        tomb_fp = [0, 0]
        if os.path.isdir(tpath):
            row = (
                spark.read.parquet(tpath)
                .agg(F.count(F.lit(1)), F.sum("doc_id"))
                .collect()[0]
            )
            tomb_fp = [int(row[0] or 0), int(row[1] or 0)]
        return {
            "build_id": gj.get("build_id", ""),
            "appends": gj.get("appends", []),
            "tombstones": tomb_fp,
            "min_count": min_count,
        }

    def _swap() -> PostingsIndex:
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return PostingsIndex.load(spark, path)

    if os.path.exists(marker):
        with open(marker) as f:
            done_state = json.load(f)
        if not os.path.exists(f"{path}/globals.json"):
            # crashed between the two swap renames: the live dir (or
            # its __precompact__ alias) holds the pre-compact index,
            # the temp holds the complete compacted one — finish
            return _swap()
        if done_state.get("source") == _src_state():
            return _swap()  # crashed after build, before swap
        # the live index changed since that attempt — stale temp
        shutil.rmtree(tmp, ignore_errors=True)

    if not os.path.exists(f"{path}/globals.json"):
        raise ValueError(f"no index to compact at {path}")
    src = PostingsIndex.load(spark, path)
    with open(f"{path}/globals.json") as f:
        gj = json.load(f)
    cfg = cfg or BM25Config(k1=gj.get("k1", 1.2), b=gj.get("b", 0.75))
    state = _src_state()

    surviving = src._live(src.packed_tf.select("doc_id", "terms", "tfs", "dl"))

    builder = IndexBuilder(
        spark,
        tmp,
        cfg=cfg,
        docs_per_shard=src.docs_per_shard,
        n_buckets=src.n_buckets,
        block_size=gj.get("block_size", POSTING_BLOCK_SIZE),
        input_fingerprint=json.dumps(state, sort_keys=True),
    )
    builder.build_from_packed_tf(surviving, min_count=min_count, resume=True)
    _atomic_json(marker, {"source": state, "completed_at": time.time()})
    return _swap()
