"""SparkSession factory.

The reference connects to an external DBMS per request
(NLP_SQLizer/backend/app/main.py:95-133); here the "connection" is a
SparkSession configured for the execution profile we want at scale:

- AQE on (runtime re-plan: skew joins, dynamic coalesce) — replaces the
  reference's reliance on the remote planner.
- CBO on — the profiler (operators/profiler.py) doubles as stats
  collection so the cost gate (plans/cost_gate.py) has row estimates,
  mirroring the reference's EXPLAIN gate (app/routes_ai.py:279-285).
- shuffle.partitions sized for the deployment (32 locally; on a real
  cluster set ~2-3x total executor cores, or rely on AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbt-nlp-sqlizer-spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized
        # reader rejects; read as raw nanos (sources/parquet.py truncates
        # to micros). Set at session build, not inside read functions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # A 100+-query session compiles hundreds of whole-stage-codegen
        # classes; the JVM's default 240MB code cache fills, the JIT
        # disables itself, and LATE queries silently run interpreted
        # 3-5x slower (measured: the last entries of a 60-query bench
        # sweep inflated from 0.8s to 5s, position-dependent, fine in
        # isolation). Raise the cache and let flushing reclaim cold
        # compiled code.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Local profile: the testdata files are single-digit-MB, so the
        # default 128MB split size scans them with 1-3 tasks while 32
        # cores idle (measured 2.8x on the scan-bound headline queries).
        # On a real cluster with 100 GB+ files RAISE these back via env
        # (128MB splits amortize task overhead there).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "2097152"),
        )
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_OPEN_COST_BYTES", "1048576"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps every Column/DataFrame op in a call-site
        # capture (errors/utils._with_origin): a conf read + origin
        # set/clear — ~3 extra py4j roundtrips PER expression node —
        # purely to decorate error messages with user line numbers.
        # Through this environment's ~1-2 ms gateway that tripled plan
        # construction cost (measured: q198 build 0.79 s → 0.48 s,
        # q146 0.77 s → 0.39 s with it off). Guide §5: the driver
        # should do almost no work. Overridable for interactive
        # debugging sessions via env.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_DF_DEBUGGING", "false"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# The pinned-memo lives as a sentinel attribute ON the session object
# (not a module-level id() set: id() values are reused after GC, so a
# stopped session could mask a fresh one and leave nanosAsLong/UTC
# unset — the exact silent corruption this guard exists to prevent).
# A conf, once set by this guard, stays set for the session's life —
# the two conf round-trips per events load are pure overhead after the
# first call, ~2 ms each through this environment's py4j gateway.
_EVENT_CONFS_SENTINEL = "_dbt_nlp_event_confs_pinned"


# Free tmpfs space below which scratch goes to disk instead. A fixed,
# conservative floor rather than a per-run estimate: a small or busy
# tmpfs (e.g. a container's 64 MB default) never gets the staging.
_SHM_MIN_FREE_BYTES = 4 << 30


def scratch_dir_base() -> str:
    """Fast local scratch for per-run streaming work dirs (file-drop
    stages, checkpoints, staged snapshots). These are EPHEMERAL
    per-process artifacts — recreated on entry, deleted at exit — so a
    RAM-backed tmpfs is the right default where one exists: the
    crash-safety contracts (rename-aside swap, checkpoint replay)
    protect against process crashes, and a machine reboot clears the
    whole run anyway. A deployment that needs durable checkpoints or
    snapshots passes explicit paths to the operators (run_cdc_stream
    and the export sinks take them as parameters); this helper only
    picks where the REGISTRY entries put their throwaway work.
    tmpfs is capped (typically half of RAM), so it is chosen only with
    at least ``_SHM_MIN_FREE_BYTES`` free; otherwise the disk-backed
    ``tempfile.gettempdir()``. Override via SPARK_GRAFT_SCRATCH."""
    import shutil
    import tempfile

    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if (
        os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
        and shutil.disk_usage("/dev/shm").free >= _SHM_MIN_FREE_BYTES
    ):
        return "/dev/shm"
    return tempfile.gettempdir()


def ensure_event_time_confs(spark: SparkSession) -> None:
    """Pin the two session confs event-time correctness depends on.

    ``get_spark`` sets both at build time; sessions the engine does NOT
    own (the driver harness builds its own) arrive unpinned, so every
    events entry point — batch ``load_table`` and streaming
    ``read_events_stream`` — funnels through this one function instead
    of mutating confs ad hoc. UTC is part of the engine contract for
    event timestamps: the NTZ→timestamp normalization reinterprets the
    naive wall clock in the session timezone, and the DuckDB oracles'
    ``strftime``/``epoch_us`` render instants as UTC, so a non-UTC
    session would silently shift every formatted bucket boundary.
    """
    if getattr(spark, _EVENT_CONFS_SENTINEL, False):
        return
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        # TIMESTAMP(NANOS) is rejected by the vectorized reader; read raw
        # nanos and let the loaders truncate to micros (DuckDB-identical).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    setattr(spark, _EVENT_CONFS_SENTINEL, True)
