"""SparkSession construction helpers.

Local-mode sessions sized per the sandbox (local[N] threads, single
JVM); on a real cluster the same code runs unchanged under
spark-submit --py-files because nothing here assumes local mode —
these configs are safe cluster-side too.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def gate_zip_invalidation() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches`` only
    when its ``(st_mtime_ns, st_size)`` stamp changed or ``os.stat``
    fails. PySpark invalidates before every Python task; before 3.12
    (gh-103200) each ``zipimporter`` on a worker's ``sys.path``
    (pyspark.zip, py4j, the Spark jar) then re-parses its archive in
    pure Python, 0.16-0.24 s per task. Idempotent; no-op on >= 3.12."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or getattr(reread, "stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            reread(self)
            self._dir_stamp = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def get_spark(
    parallelism: int | None = None,
    app_name: str = "top2vec_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism None -> respect an already-running session or
    local[*]. Explicit N -> local[N] (used by the two-cluster-size
    scaling proxy, BASELINE.md).
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = shuffle_partitions or cpus or 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # v2 committer: task outputs move to the destination at task
        # commit instead of a serial driver-side rename pass at job
        # commit — the v1 rename loop is a hidden Amdahl term that
        # caps multi-core scaling of write-heavy stages
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    # shuffle/spill on tmpfs when available — the single-box analogue
    # of per-node SSD scratch (disk ext4 serializes at high core counts)
    if os.path.isdir("/dev/shm"):
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
