"""Parquet source registry for the driver's testdata star schema.

The reference discovers tables dynamically via SQLAlchemy's inspector
(NLP_SQLizer/backend/app/ai/nl2sql.py:14-21); here the analog is
registering parquet-backed DataFrames as temp views so the whole engine
(SQL safety layer, executor, profiler) sees a normal Spark catalog.

Scale note: at 100 TB these would be partitioned/bucketed external
tables (e.g. orders bucketed by o_custkey, lineitem by l_orderkey) so
FK joins co-locate without a shuffle; parquet scans still get predicate
pushdown + column pruning from Catalyst either way.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def data_fingerprint(path: str) -> tuple:
    """(path, size, mtime_ns) of every file at or under ``path``, sorted.

    A plain file costs one ``os.stat``; a directory is walked recursively
    (``os.walk``), so an in-place rewrite of a nested part file, such as a
    hive-partitioned ``k=v/part-*.parquet``, changes the fingerprint even
    though no directory's own stat moves. Raises ``OSError`` when ``path``
    does not exist. Keys both the schema cache below and the executor's
    result cache.
    """
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            fst = os.stat(fp)
            out.append((fp, fst.st_size, fst.st_mtime_ns))
    return tuple(out)


# Per-session count of register_views calls, kept on the session object
# like the temp views it counts: the executor's result cache keys on it,
# because the views a SQL string resolves against may have changed.
_VIEWS_GENERATION = "_dbt_nlp_views_generation"
_generation_lock = threading.Lock()


def views_generation(spark: SparkSession) -> int:
    return getattr(spark, _VIEWS_GENERATION, 0)


# Parquet-footer schema cache: the driver-side footer read + schema
# inference costs ~130-270 ms per `spark.read.parquet` call in this
# environment vs ~20-40 ms with an explicit schema (guide §6: file
# listing/metadata work is driver-side, single-process, and paid per
# query without a catalog). A real deployment registers these tables in
# a catalog exactly so that query N never re-infers what query 1
# already knew; this cache is that catalog's schema entry. The key is
# the path's :func:`data_fingerprint`, so it invalidates on any in-place
# regeneration of the corpus, nested part files included — same
# contract as operators/dedup._sf_tag. The key also carries the
# nanosAsLong conf value inference depends on, so a schema inferred
# before the event-time guard pinned the conf can never be served after
# it. No data rows are cached: every query still scans parquet.
_SCHEMA_CACHE: dict[tuple, object] = {}

_NANOS_CONF_MEMO = "_dbt_nlp_nanos_as_long_conf"


def _nanos_conf(spark: SparkSession) -> str:
    """nanosAsLong conf value, memoized on the session object.

    The only in-engine mutator (``session.ensure_event_time_confs``)
    refreshes this memo when it pins the conf, so the memo tracks the
    live value without a py4j conf read per table load.
    """
    v = getattr(spark, _NANOS_CONF_MEMO, None)
    if v is None:
        v = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        setattr(spark, _NANOS_CONF_MEMO, v)
    return v


def _read_with_cached_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (data_fingerprint(path), _nanos_conf(spark))
    except OSError:
        return spark.read.parquet(path)  # missing file: loud error as before
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


# Ceiling for the opt-in post-scan spread below: tables past this size
# parallelize natively at the scan (many splits/row groups), so the
# spread exchange would be a pointless full shuffle — the check is what
# makes the knob scale-adaptive rather than a local[32] constant.
_SPREAD_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_SPREAD_MAX_BYTES", str(64 * 1024 * 1024))
)


def _spread_small(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin the rows of a TINY single-row-group scan across the
    configured partition count. The testdata parquet files are one row
    group each, so a scan is read by exactly ONE task no matter how
    split sizes are tuned — and an operator whose cost is per-row CPU
    (tokenization folds, n-gram maps, quality scoring) then runs
    single-threaded on a 32-core session (guide §2.5: input skew;
    measured q119 1.63 s → 1.01 s, q99 1.83 s → 0.96 s). The shuffle
    this inserts moves only the tiny file's bytes; above
    ``_SPREAD_MAX_BYTES`` the scan already parallelizes and the spread
    is skipped, so at deployment scale this is a no-op. Opt-in per
    operator: only per-row-CPU-bound consumers ask for it (a cheap
    filter/limit path must keep the bare scan)."""
    try:
        total = sum(size for _, size, _ in data_fingerprint(path))
    except OSError:
        return df
    if total >= _SPREAD_MAX_BYTES:
        return df
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a testdata table, normalizing physical-type quirks.

    The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; we read it as raw nanos
    (``nanosAsLong``) and truncate to microseconds — the same truncation
    DuckDB applies, so both engines see identical values. For sessions
    not built by ``get_spark`` (e.g. the driver harness) the event-time
    confs are pinned via the one shared setup path,
    ``session.ensure_event_time_confs`` — the streaming reader applies
    the same guard.

    ``spread=True`` (opt-in, for per-row-CPU-bound consumers) round-
    robins a tiny single-row-group scan across the configured partition
    count — see :func:`_spread_small` for the scale-adaptive contract.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        from ..session import ensure_event_time_confs

        ensure_event_time_confs(spark)
    df = _read_with_cached_schema(spark, table_path(sf_dir, name))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer division: `/` promotes to double, and nanos-since-epoch
        # (~1.7e18) exceeds double's exact-integer range (2^53), which
        # skews individual timestamps by up to ±1 microsecond
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # TIMESTAMP(MICROS) with isAdjustedToUTC=false infers as NTZ,
        # which unix_micros/window-state functions reject; the session
        # timezone is pinned to UTC so this cast is value-identical to
        # what DuckDB's epoch_us sees.
        df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if spread:
        df = _spread_small(spark, df, table_path(sf_dir, name))
    return df


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> list[str]:
    """Register every available parquet table as a temp view; returns names.

    Bumps the session's :func:`views_generation` once the views are in
    place, so results cached against the old views miss."""
    registered = []
    for t in tables:
        if os.path.exists(table_path(sf_dir, t)):
            load_table(spark, sf_dir, t).createOrReplaceTempView(t)
            registered.append(t)
    with _generation_lock:
        setattr(spark, _VIEWS_GENERATION, views_generation(spark) + 1)
    return registered
