"""SparkSession factory tuned for the engine.

Reference parity notes (SURVEY §1.2, §4):
- DuckDB staging models use TRY_CAST (malformed -> NULL); with
  ``spark.sql.ansi.enabled=false`` plain CAST matches that semantics engine-wide
  (Spark 4 defaults ANSI on, so we disable explicitly).
- DuckDB TIMESTAMP is timezone-naive; pinning the session to UTC makes Spark's
  TIMESTAMP_LTZ behave identically for parquet-borne microsecond timestamps.
- AQE is enabled so runtime stats drive broadcast/skew decisions at scale; the
  static broadcast threshold is raised because every reference dim table
  (region/nation/lookups) is tiny relative to facts.

Scale posture: shuffle partitions default to 2x local cores for local runs but
should be overridden (``spark.sql.shuffle.partitions``) to ~2-3x total cluster
cores on a real deployment; AQE coalesces small post-shuffle partitions either
way, so over-provisioning is safe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "ecom-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    # One shuffle partition per core locally; AQE coalesces further when
    # post-shuffle data is small. On a real cluster override to ~2-3x total
    # executor cores — AQE makes over-provisioning safe.
    shuffle_partitions = shuffle_partitions or max(cores, 16)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.caseSensitive", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Trust bucketed tables' sortBy order when each bucket holds one
        # file (sources.bucketed writes exactly that): windows/merge-joins
        # keyed on the sort columns then skip their SortExec entirely.
        # Spark re-verifies the one-file-per-bucket precondition at plan
        # time, so multi-file buckets still sort correctly.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    # Local-mode shuffle files on tmpfs: a single-JVM local master has no
    # network and spills/shuffles are transient, so RAM-backed local.dir
    # avoids this environment's slow disk path (measured 2x on shuffle-heavy
    # queries). Real-cluster deployments should override spark.local.dir to
    # fast node-local storage (NVMe) instead. A caller that sets its own
    # spark.local.dir gets neither the default nor an empty shm directory.
    extra_conf = extra_conf or {}
    if (
        "spark.local.dir" not in extra_conf
        and master.startswith("local")
        and os.path.isdir("/dev/shm")
    ):
        shm = "/dev/shm/spark-local"
        try:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
        except OSError:
            pass
    for key, value in extra_conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
