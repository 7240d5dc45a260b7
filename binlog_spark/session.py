"""SparkSession factory with scale-minded defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gb = max(4, min(48, int(total * 0.4 / (1 << 30))))
    except (ValueError, OSError):
        gb = 4
    return f"{gb}g"


def _default_scratch() -> str:
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return "/tmp"


def get_spark(app_name: str = "binlog-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # runtime re-planning: coalesce small shuffles, split skewed ones
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for pandas UDF / mapInPandas decode stages
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # NOTE deliberately NOT setting spark.sql.mapKeyDedupPolicy: the
        # LWW fold dedupes map keys itself (lww kernel dedup) and must
        # stay correct under the EXCEPTION default — running the whole suite on the default policy is the
        # regression guard for the r4 DUPLICATED_MAP_KEY crash
        # canonical temporal rendering is UTC-pinned
        .config("spark.sql.session.timeZone", "UTC")
        # v2 file committer: task outputs move into place at task commit,
        # which skips the driver-side job-commit rename walk. On the lake
        # side only rollup (delta layers, compaction) still uses Spark's
        # committer; LakeTable writes its own bucket files. Rollup writes
        # fresh version dirs, so v2's weaker failure atomicity is covered
        # by the manifest commit being the real atomicity point
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        # local mode = one JVM for driver+executor: size the heap for the
        # concurrent task count (N tasks × sort/agg buffers), not for a
        # driver-only role — but never beyond ~40% of system RAM so the
        # default stays safe on small hosts
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_heap()))
        # shuffle/spill scratch on tmpfs when it is present AND roomy:
        # local-mode disk commit latency otherwise dominates small
        # batches; small-RAM hosts keep the disk default
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS", _default_scratch()))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
