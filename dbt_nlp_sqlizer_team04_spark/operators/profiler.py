"""Schema profiler — the Spark-native crawler (SURVEY.md §2.A, A2-A8).

The reference crawls a live DB with one SQL query per statistic
(row count crawler.py:200-201, per-column distinct :243-246, categorical
domain :248-252, numeric min/max/avg :254-271, samples :204-220). Here the
whole per-table profile is ONE DataFrame aggregation pass (all columns
batched into a single ``agg``), plus one bounded pass for categorical
domains — at 100 TB that's one scan instead of O(columns) scans.

Differences by design:
- ``approx_count_distinct`` (HLL) instead of exact COUNT(DISTINCT) — at
  scale an exact distinct per column is a full shuffle each; HLL is a
  map-side sketch. ``exact_distinct=True`` restores parity for tests.
- PK/FK are *inferred* (parquet has no declared constraints): PK = a
  ``*key``/``id``-named column whose distinct count == row count; FK by
  TPC-H-style naming convention (x_nationkey → nation.n_nationkey),
  mirroring how the reference gets them from the DB inspector
  (crawler.py:176-199).

The profile doubles as the stats source for the cost gate
(plans/cost_gate.py), the role ANALYZE TABLE plays for CBO.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog.metadata import ColumnInfo, FKRelationship, SchemaMetadata, TableInfo
from ..sources.parquet import TABLES, load_table

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)

MAX_CATEGORICAL = 100  # crawler.py:248 keeps domains only when ≤100 distinct


def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def profile_table(
    df: DataFrame,
    name: str,
    sample_size: int = 100,
    exact_distinct: bool = False,
) -> TableInfo:
    """Profile one table in a single aggregation pass (+1 for domains)."""
    fields = df.schema.fields
    distinct_fn = F.countDistinct if exact_distinct else F.approx_count_distinct

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for f in fields:
        c = f.name
        atomic = isinstance(f.dataType, T.AtomicType)
        if atomic:
            aggs.append(distinct_fn(F.col(c)).alias(f"__dc__{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nc__{c}"))
        if _is_numeric(f.dataType):
            aggs.append(F.min(c).alias(f"__min__{c}"))
            aggs.append(F.max(c).alias(f"__max__{c}"))
            aggs.append(F.avg(c).alias(f"__avg__{c}"))
    stats = df.agg(*aggs).collect()[0].asDict()
    row_count = stats["__rows"]

    cols: list[ColumnInfo] = []
    categorical_candidates: list[str] = []
    for f in fields:
        c = f.name
        dc_raw = stats.get(f"__dc__{c}", -1)  # -1: complex type, not profiled
        dc = int(dc_raw) if dc_raw is not None else -1
        info = ColumnInfo(
            name=c,
            type_str=f.dataType.simpleString(),
            nullable=f.nullable,
            distinct_count=dc,
            # F.sum over zero rows is NULL → coerce to 0 (empty table)
            null_count=int(stats[f"__nc__{c}"] or 0),
            min_value=stats.get(f"__min__{c}"),
            max_value=stats.get(f"__max__{c}"),
            avg_value=stats.get(f"__avg__{c}"),
        )
        if isinstance(f.dataType, T.StringType) and 0 < dc <= MAX_CATEGORICAL:
            categorical_candidates.append(c)
        cols.append(info)

    # Categorical domains (crawler.py:248-252): one pass for all candidates
    # via collect_set on the *filtered* small-cardinality columns.
    if categorical_candidates:
        domain_aggs = [
            F.array_sort(F.collect_set(c)).alias(c) for c in categorical_candidates
        ]
        domains = df.agg(*domain_aggs).collect()[0].asDict()
        by_name = {c.name: c for c in cols}
        for c in categorical_candidates:
            by_name[c].unique_values = list(domains[c])[:MAX_CATEGORICAL]

    # PK inference: *key/id-named column with distinct == rows, no nulls.
    # Under HLL (exact_distinct=False, ~5% rsd) the estimate rarely equals
    # row_count exactly beyond small tables, so candidates within 10% are
    # confirmed with ONE exact countDistinct — O(1) extra passes instead
    # of silently losing the PK (and with it the FK graph) at scale.
    pk: list[str] = []
    for c in cols:
        if row_count <= 0 or not re.search(r"(key|id)$", c.name):
            continue
        if (c.null_count or 0) != 0 or c.distinct_count < 0:
            continue
        if exact_distinct:
            is_pk = c.distinct_count == row_count
        elif c.distinct_count >= 0.9 * row_count:
            exact = df.agg(F.countDistinct(F.col(c.name)).alias("dc")).collect()[0]["dc"]
            is_pk = exact == row_count
            if is_pk:
                c.distinct_count = exact
        else:
            is_pk = False
        if is_pk:
            c.is_primary_key = True
            pk = [c.name]
            break

    samples = [r.asDict() for r in df.limit(sample_size).collect()]
    return TableInfo(
        name=name, columns=cols, primary_key=pk,
        sample_rows=samples, row_count=row_count,
    )


def infer_relationships(tables: dict[str, TableInfo]) -> list[FKRelationship]:
    """Convention-based FK graph. Two naming conventions are walked —
    both replacing the DB inspector's declared-FK walk
    (crawler.py:176-199), which had real constraints to read:

    1. TPC-H style: a column ``x_<stem>key`` in table A points at table
       B when B has PK ``<p>_<stem>key`` (``o_custkey`` →
       ``customer.c_custkey``).
    2. Spider style: a column ``<entity>_id`` points at a table named
       ``<entity>`` (or its plural) whose PK is ``id``
       (``enrollments.student_id`` → ``students.id``) — the naming the
       reference's own eval schemas (school/store, FIXTURES.md) use.
       The generic stem rule can't express this: stripping the prefix
       of ``student_id`` leaves the ambiguous stem ``id``.
    """
    rels: list[FKRelationship] = []
    pk_by_stem: dict[str, tuple[str, str]] = {}
    for tname, info in tables.items():
        for pkcol in info.primary_key:
            stem = re.sub(r"^[a-z]+_", "", pkcol)
            if stem != "id":  # bare-id PKs are resolved by rule 2
                pk_by_stem[stem] = (tname, pkcol)
    # table -> its id-style PK: a bare ``id`` OR a self-named
    # ``<entity>_id`` (students.student_id) — both resolve rule-2
    # references; the bare-id form matches any ``<entity>_id`` column,
    # the self-named form only a column spelled exactly like the PK
    id_pk: dict[str, str] = {}
    for tname, info in tables.items():
        if info.primary_key == ["id"]:
            id_pk[tname] = "id"
        elif len(info.primary_key) == 1 and info.primary_key[0].endswith(
            "_id"
        ):
            id_pk[tname] = info.primary_key[0]
    for tname, info in tables.items():
        for col in info.columns:
            if col.is_primary_key:
                continue
            target = pk_by_stem.get(re.sub(r"^[a-z]+_", "", col.name))
            if target is None and col.name.endswith("_id"):
                entity = col.name[:-3]
                for cand in (entity, entity + "s", entity + "es"):
                    pk_name = id_pk.get(cand)
                    if (
                        pk_name is not None
                        and cand != tname
                        and pk_name in ("id", col.name)
                    ):
                        target = (cand, pk_name)
                        break
            if target and target[0] != tname:
                col.is_foreign_key = True
                rels.append(FKRelationship(tname, col.name, target[0], target[1]))
    return rels


def extract_synonyms(metadata: SchemaMetadata) -> dict[str, list[str]]:
    """Name-variant synonym mining (crawler.py:278-311 behavior): snake_case
    → spaced, plural↔singular, trailing ``_id``/key-prefix stripping.
    Driver-side pure Python — the input is metadata-sized, not data-sized.
    """
    syn: dict[str, list[str]] = {}

    def variants(name: str) -> list[str]:
        out = set()
        spaced = name.replace("_", " ").strip()
        if spaced != name:
            out.add(spaced)
        if name.endswith("s") and len(name) > 2:
            out.add(name[:-1])
        else:
            out.add(name + "s")
        if name.endswith("_id"):
            out.add(name[:-3])
        m = re.match(r"^[a-z]{1,2}_(.+)$", name)  # TPC-H prefixes: o_, l_, c_…
        if m:
            out.add(m.group(1))
        out.discard(name)
        return sorted(out)

    for tname, info in metadata.tables.items():
        v = variants(tname)
        if v:
            syn[tname] = v
        for col in info.columns:
            v = variants(col.name)
            if v:
                syn[col.name] = v
    return syn


def crawl_schema(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TABLES,
    sample_size: int = 100,
    exact_distinct: bool = False,
) -> SchemaMetadata:
    """Full crawl (crawler.py:142-234 behavior): profile every table, infer
    the FK graph, mine synonyms.

    Tables are profiled concurrently, largest file first, on a thread pool
    of ``spark.sparkContext.defaultParallelism`` threads: each table's few
    small jobs leave most cores idle when run one after another. ``infos``
    keeps ``tables`` order, which the schema dict and linking tie-breaks
    read."""
    import os
    from concurrent.futures import ThreadPoolExecutor

    from ..sources.parquet import data_fingerprint, table_path

    present = [t for t in tables if os.path.exists(table_path(sf_dir, t))]

    def size(t: str) -> int:
        return sum(f[1] for f in data_fingerprint(table_path(sf_dir, t)))

    def profile(t: str) -> TableInfo:
        return profile_table(
            load_table(spark, sf_dir, t), t,
            sample_size=sample_size, exact_distinct=exact_distinct,
        )

    workers = max(1, min(len(present), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futures = {t: pool.submit(profile, t)
                   for t in sorted(present, key=size, reverse=True)}
        infos: dict[str, TableInfo] = {t: futures[t].result() for t in present}
    meta = SchemaMetadata(tables=infos)
    meta.relationships = infer_relationships(infos)
    for t, info in infos.items():
        info.foreign_keys = [r for r in meta.relationships if r.from_table == t]
    meta.synonyms = extract_synonyms(meta)
    return meta


# --------------------------------------------------- numeric histograms
def numeric_histogram(
    df: DataFrame, col: str, n_bins: int = 20
) -> DataFrame:
    """Equi-width histogram of a numeric column — the profiler-plane
    distribution view one step past min/max/avg (A7): per-bucket counts
    with exact bounds, the input to skew diagnosis and bucketing
    decisions.

    Plan: one 1-row min/max aggregate broadcast back over the scan
    (the BM25/TF-IDF corpus-stats shape), bucket assignment as a pure
    floor expression, one groupBy on the ≤ n_bins bucket key. Two
    narrow scans total, shuffle bounded by n_bins rows per map task.
    Exact — not approx_percentile: both engines floor the identical
    doubles, so the histogram is oracle-checkable bit-for-bit.
    The max value lands in the last bucket (least() clamp); a constant
    column degenerates to one bucket at width 0.
    """
    c = F.col(col).cast("double")
    stats = df.agg(
        F.min(c).alias("__mn"), F.max(c).alias("__mx")
    )
    width = (F.col("__mx") - F.col("__mn")) / F.lit(float(n_bins))
    bucket = F.when(
        F.col("__mx") > F.col("__mn"),
        F.least(
            F.floor((c - F.col("__mn")) / width), F.lit(n_bins - 1)
        ),
    ).otherwise(F.lit(0))
    return (
        df.crossJoin(F.broadcast(stats))
        .select(
            bucket.cast("int").alias("bucket"),
            F.round(F.col("__mn") + bucket * width, 4).alias("lo"),
            F.round(F.col("__mn") + (bucket + 1) * width, 4).alias("hi"),
        )
        .groupBy("bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def q81_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of orders.o_totalprice
    (oracle-checked)."""
    return numeric_histogram(
        load_table(spark, sf_dir, "orders"), "o_totalprice", n_bins=20
    )


def numeric_histogram_oracle_sql(
    table: str = "orders", col: str = "o_totalprice", n_bins: int = 20
) -> str:
    """DuckDB twin of :func:`numeric_histogram` (same floor/clamp
    arithmetic over identical doubles)."""
    return f"""
        WITH stats AS (
          SELECT CAST(min({col}) AS DOUBLE) AS mn,
                 CAST(max({col}) AS DOUBLE) AS mx
          FROM {table}
        ), b AS (
          SELECT CASE WHEN mx > mn
                      THEN least(floor((CAST({col} AS DOUBLE) - mn)
                                       / ((mx - mn) / {n_bins}.0)),
                                 {n_bins - 1})
                      ELSE 0 END AS bucket,
                 mn, mx
          FROM {table}, stats
        )
        SELECT CAST(bucket AS INT) AS bucket,
               round(mn + bucket * ((mx - mn) / {n_bins}.0), 4) AS lo,
               round(mn + (bucket + 1) * ((mx - mn) / {n_bins}.0), 4) AS hi,
               count(*) AS n
        FROM b
        GROUP BY bucket, lo, hi
        ORDER BY bucket
    """


# ------------------------------------------------ correlation profiling
def numeric_correlations(
    df: DataFrame, pairs: tuple[tuple[str, str], ...]
) -> DataFrame:
    """Pearson correlation + sample covariance for chosen column pairs —
    the profiler-plane dependence view (A7 one step further): feeds
    join-selectivity intuition and feature-redundancy pruning before a
    training run.

    ONE aggregation pass computes every pair's moments (Spark fuses the
    corr/covar aggregates over a single scan); the unpivot to one row
    per pair is driver-side arithmetic on a 1-row result. Rounded to 4
    so the oracle's streaming co-moment order differences (last-ulp)
    can't flip the hash.
    """
    aggs = []
    for a, b in pairs:
        aggs.append(F.corr(a, b).alias(f"corr_{a}_{b}"))
        aggs.append(F.covar_samp(a, b).alias(f"cov_{a}_{b}"))
    row = df.agg(*aggs).first()
    out = [
        (a, b, round(row[f"corr_{a}_{b}"], 4), round(row[f"cov_{a}_{b}"], 4))
        for a, b in pairs
    ]
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, corr double, covar double"
    ).orderBy("col_a", "col_b")


def q90_lineitem_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation profile of the lineitem measures (oracle-checked)."""
    return numeric_correlations(
        load_table(spark, sf_dir, "lineitem"),
        (
            ("l_quantity", "l_extendedprice"),
            ("l_discount", "l_extendedprice"),
            ("l_discount", "l_tax"),
        ),
    )


def correlations_oracle_sql() -> str:
    """DuckDB twin of :func:`q90_lineitem_correlations`."""
    rows = []
    for a, b in (
        ("l_quantity", "l_extendedprice"),
        ("l_discount", "l_extendedprice"),
        ("l_discount", "l_tax"),
    ):
        rows.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"round(corr({a}, {b}), 4) AS corr, "
            f"round(covar_samp({a}, {b}), 4) AS covar FROM lineitem"
        )
    return " UNION ALL ".join(rows) + " ORDER BY col_a, col_b"


# ------------------------------------------------------- skew diagnosis
def key_skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Join-key skew diagnosis: per-key frequency summary + the hottest
    keys — the measurement that decides between a plain shuffle join,
    AQE skew splitting, and explicit salting (operators/skew.py). One
    count aggregate keyed on the join key, then metadata-sized
    reductions over the (key, cnt) frame.

    Output: one ``__summary__`` row (key count, max/avg frequency, the
    max/avg skew factor, p99 frequency) followed by the ``top_k``
    hottest keys — the direct input to a salting-factor decision.
    """
    cnt = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("cnt"))
    summary = cnt.agg(
        F.lit("__summary__").alias("key"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.round(F.avg("cnt"), 4).alias("avg_cnt"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_factor"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_cnt"),
    )
    top = cnt.select(
        F.col(key_col).cast("string").alias("key"),
        F.col("cnt").cast("long").alias("cnt"),
        F.col("cnt").cast("long").alias("max_cnt"),
        F.col("cnt").cast("double").alias("avg_cnt"),
        F.lit(None).cast("double").alias("skew_factor"),
        F.lit(None).cast("double").alias("p99_cnt"),
    ).orderBy(F.desc("cnt"), "key").limit(top_k)
    return summary.unionByName(top)


def q91_custkey_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew report for the orders→customer join key (oracle-checked)."""
    return key_skew_report(load_table(spark, sf_dir, "orders"), "o_custkey")


def key_skew_oracle_sql(top_k: int = 10) -> str:
    """DuckDB twin of :func:`q91_custkey_skew`."""
    return f"""
        WITH cnt AS (
          SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY k
        ), summary AS (
          SELECT '__summary__' AS key,
                 CAST(count(*) AS BIGINT) AS cnt,
                 CAST(max(cnt) AS BIGINT) AS max_cnt,
                 round(avg(cnt), 4) AS avg_cnt,
                 round(max(cnt) / avg(cnt), 4) AS skew_factor,
                 round(quantile_cont(cnt, 0.99), 4) AS p99_cnt
          FROM cnt
        ), top AS (
          SELECT CAST(k AS VARCHAR) AS key,
                 CAST(cnt AS BIGINT) AS cnt,
                 CAST(cnt AS BIGINT) AS max_cnt,
                 CAST(cnt AS DOUBLE) AS avg_cnt,
                 CAST(NULL AS DOUBLE) AS skew_factor,
                 CAST(NULL AS DOUBLE) AS p99_cnt
          FROM cnt ORDER BY cnt DESC, key LIMIT {top_k}
        )
        SELECT * FROM summary UNION ALL SELECT * FROM top
    """


# ------------------------------------------------ cross-modal label profile
def label_profile(docs: DataFrame, embs: DataFrame) -> DataFrame:
    """Per-cluster-label document profile: the text and vector planes
    joined on the shared id (doc_id == vec_id in the corpus contract),
    rolled up by the embedding's cluster label — the "what is IN each
    embedding cluster" audit that decides whether a cluster is worth
    keeping, downsampling, or dropping in curation.

    Scale: both sides are projected to slim columns BEFORE the id join
    (text never moves); the join shuffles on the 8-byte id (bucketing
    both tables on id makes it shuffle-free), and the rollup is
    |labels| rows. Quality averages ride the exact integer-micro trick
    (sum of round(q*1e6) as BIGINT) so partial-sum order can't flip a
    rounded digit between engines.
    """
    from .text import quality_score_expr

    d = docs.select(
        "doc_id",
        F.col("n_chars"),
        quality_score_expr(F.col("text")).alias("quality"),
    )
    e = embs.select(F.col("vec_id").alias("doc_id"), "label")
    return (
        d.join(e, "doc_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias(
                "avg_chars"
            ),
            F.round(
                F.sum(F.round(F.col("quality") * 1_000_000).cast("long"))
                / F.count(F.lit(1))
                / 1_000_000.0,
                6,
            ).alias("avg_quality"),
        )
        .orderBy("label")
    )


def q104_label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_profile(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def label_profile_oracle_sql() -> str:
    """DuckDB twin of :func:`label_profile` (same quality expression as
    the q31/q82/q92/q100 oracles)."""
    return """
        WITH s AS (
          SELECT doc_id, n_chars,
                 round(least(len(string_split_regex(trim(lower(text)), '\\s+')) / 50.0, 1.0) * 0.5
                       + (1.0 - (length(text)
                              - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                             / greatest(length(text), 1)) * 0.3
                       + len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                         x -> list_contains(['the', 'a', 'an', 'of', 'and', 'to', 'in', 'is', 'that', 'it', 'was', 'for', 'on', 'with', 'as', 'at', 'by', 'this', 'from'], x)))
                             / greatest(len(string_split_regex(trim(lower(text)), '\\s+')), 1) * 0.2, 6)
                     AS quality
          FROM documents
        )
        SELECT label, count(*) AS n_docs,
               round(sum(n_chars) / count(*), 4) AS avg_chars,
               round(sum(CAST(round(quality * 1000000) AS BIGINT))
                     / count(*) / 1000000.0, 6) AS avg_quality
        FROM s JOIN embeddings ON s.doc_id = vec_id
        GROUP BY label
        ORDER BY label
    """


# ------------------------------------------- incremental profile refresh
def profile_partial(df: DataFrame, col: str, part: str) -> DataFrame:
    """Mergeable per-column profile partial over one corpus slice:
    (n, n_nonnull, sum as exact cents, min, max) — every field composes
    associatively, so partials from any partitioning merge to the exact
    full-corpus profile. The profiling analog of q64's rollup partials:
    at 100 TB the nightly refresh profiles ONLY the new partition and
    merges, never rescanning history. (Averages derive at read time;
    distinct counts ride HLL sketches in the same pattern but merge
    approximately, so they are kept out of this exactness contract.)"""
    return df.agg(
        F.lit(part).alias("part"),
        F.count(F.lit(1)).alias("n"),
        F.count(col).alias("n_nonnull"),
        F.sum(F.round(F.col(col) * 100).cast("long")).alias("sum_cents"),
        F.min(col).alias("min_v"),
        F.max(col).alias("max_v"),
    )


def profile_merge(partials: DataFrame) -> DataFrame:
    """Merge profile partials into the corpus profile (exact)."""
    return partials.agg(
        F.sum("n").alias("n"),
        F.sum("n_nonnull").alias("n_nonnull"),
        F.round(F.sum("sum_cents") / 100.0, 2).alias("sum_v"),
        F.round(
            (F.sum("sum_cents") / F.sum("n_nonnull")) / 100.0, 4
        ).alias("avg_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def q111_incremental_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge==rebuild contract for profile maintenance: the orders
    table is profiled as two halves (an 'existing corpus' and a 'new
    delivery', split on orderdate) whose partials merge; the oracle is
    the single-pass whole-table profile — identical by associativity
    and exact-cents arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    old = profile_partial(
        o.filter(F.col("o_orderdate") < "1998-01-01"), "o_totalprice", "old"
    )
    new = profile_partial(
        o.filter(F.col("o_orderdate") >= "1998-01-01"), "o_totalprice", "new"
    )
    return profile_merge(old.unionByName(new))


def incremental_profile_oracle_sql() -> str:
    """DuckDB twin: the SINGLE-PASS profile the merged partials must
    equal bit-for-bit."""
    return """
        SELECT count(*) AS n,
               count(o_totalprice) AS n_nonnull,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     / 100.0, 2) AS sum_v,
               round((sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      / count(o_totalprice)) / 100.0, 4) AS avg_v,
               min(o_totalprice) AS min_v,
               max(o_totalprice) AS max_v
        FROM orders
    """


# ---------------------------------------------- data-quality expectations
def expectation_suite(orders: DataFrame) -> DataFrame:
    """Deequ-style declarative data-quality gate over the orders feed —
    the validation pass a training-data pipeline runs BEFORE ingesting a
    batch (the reference validates *queries*; a 100 TB pipeline must
    also validate *data*). Five constraint families in ONE scan:
    completeness (FK not null), uniqueness (PK distinct == rows), range
    (price strictly positive), set membership (status domain), and
    temporal sanity (no dates past the corpus horizon).

    Returns one row per check: ``(check_name, metric, passed)`` with
    ``passed`` already 0/1 so the report is engine-portable.

    Scale: ALL metrics ride a single aggregate — one scan, one 1-row
    shuffle (the exact PK distinct adds Spark's expand for the single
    distinct agg; at 100 TB swap in ``approx_count_distinct`` and a
    tolerance, the same trade ``profile_table`` documents). The check
    fan-out happens on the 1-row result via ``stack``, not a second
    scan per constraint.
    """
    m = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("nn_cust"),
        F.countDistinct("o_orderkey").alias("d_key"),
        F.min("o_totalprice").alias("min_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1).otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(F.col("o_orderdate") >= F.lit("2002-01-01"), 1).otherwise(0)
        ).alias("future_dates"),
    )
    return m.select(
        F.expr(
            """stack(5,
              'completeness_custkey',
                  round(CAST(nn_cust AS DOUBLE) / n, 6),
                  CAST(nn_cust = n AS INT),
              'unique_orderkey',
                  round(CAST(d_key AS DOUBLE) / n, 6),
                  CAST(d_key = n AS INT),
              'totalprice_positive',
                  round(min_price, 2),
                  CAST(min_price > 0 AS INT),
              'status_in_domain',
                  CAST(bad_status AS DOUBLE),
                  CAST(bad_status = 0 AS INT),
              'orderdate_in_bounds',
                  CAST(future_dates AS DOUBLE),
                  CAST(future_dates = 0 AS INT)
            ) AS (check_name, metric, passed)"""
        )
    ).orderBy("check_name")


def q128_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return expectation_suite(load_table(spark, sf_dir, "orders"))


def expectation_suite_oracle_sql() -> str:
    return """
    WITH m AS (
      SELECT count(*)                       AS n,
             count(o_custkey)               AS nn_cust,
             count(DISTINCT o_orderkey)     AS d_key,
             min(o_totalprice)              AS min_price,
             sum(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                      THEN 1 ELSE 0 END)    AS bad_status,
             sum(CASE WHEN o_orderdate >= TIMESTAMP '2002-01-01'
                      THEN 1 ELSE 0 END)    AS future_dates
      FROM orders
    )
    SELECT check_name, metric, passed FROM (
      SELECT 'completeness_custkey' AS check_name,
             round(CAST(nn_cust AS DOUBLE) / n, 6) AS metric,
             CAST(nn_cust = n AS INT) AS passed FROM m
      UNION ALL
      SELECT 'unique_orderkey',
             round(CAST(d_key AS DOUBLE) / n, 6),
             CAST(d_key = n AS INT) FROM m
      UNION ALL
      SELECT 'totalprice_positive', round(min_price, 2),
             CAST(min_price > 0 AS INT) FROM m
      UNION ALL
      SELECT 'status_in_domain', CAST(bad_status AS DOUBLE),
             CAST(bad_status = 0 AS INT) FROM m
      UNION ALL
      SELECT 'orderdate_in_bounds', CAST(future_dates AS DOUBLE),
             CAST(future_dates = 0 AS INT) FROM m
    ) ORDER BY check_name
    """


class CheckSuite:
    """Declarative Deequ-style constraint builder — the generalization
    of :func:`expectation_suite`'s hardcoded checks. Each ``is_*`` /
    ``has_*`` call registers (metric expression, pass predicate); ALL
    metrics compile into ONE aggregate scan and the per-check fan-out
    happens on the 1-row result, so a 20-constraint suite costs exactly
    one pass at any scale.

    >>> CheckSuite().is_complete("o_custkey").is_unique("o_orderkey")\\
    ...     .has_min("o_totalprice", gt=0).run(orders)
    """

    def __init__(self) -> None:
        # name -> (metric Column producing ONE value, pass Column over
        # the aggregated row)
        self._checks: list[tuple[str, object, object]] = []

    def _add(self, name: str, metric, passed, verdict=None) -> "CheckSuite":
        """``metric`` is the DISPLAYED value; ``verdict`` (optional) is
        a separate aggregated expression the pass/fail lambda judges —
        used when the display rounds but the verdict must not (has_min:
        a rounded boundary min would flip the verdict)."""
        if any(n == name for n, *_ in self._checks):
            raise ValueError(f"duplicate check name: {name}")
        self._checks.append((name, metric, passed, verdict))
        return self

    def is_complete(self, col: str) -> "CheckSuite":
        frac = F.round(
            F.count(col).cast("double") / F.count(F.lit(1)), 6
        )
        return self._add(
            f"complete_{col}", frac, lambda m: m == F.lit(1.0)
        )

    def is_unique(self, col: str) -> "CheckSuite":
        frac = F.round(
            F.countDistinct(col).cast("double") / F.count(F.lit(1)), 6
        )
        return self._add(
            f"unique_{col}", frac, lambda m: m == F.lit(1.0)
        )

    def has_min(self, col: str, gt: float) -> "CheckSuite":
        # verdict on the RAW min (rounding first would flip boundary
        # cases: true min 0.004 rounds to 0.0 and 0.0 > 0 fails even
        # though every value is positive — the oracle SQL already
        # passes on the raw min); the 2dp round is display-only
        return self._add(
            f"min_{col}",
            F.round(F.min(col), 2),
            lambda v, g=gt: v > F.lit(g),
            verdict=F.min(col),
        )

    def is_in(self, col: str, allowed: list[str]) -> "CheckSuite":
        bad = F.sum(
            F.when(~F.col(col).isin(*allowed), 1).otherwise(0)
        ).cast("double")
        return self._add(
            f"domain_{col}", bad, lambda m: m == F.lit(0.0)
        )

    def max_below(self, col: str, bound: str) -> "CheckSuite":
        over = F.sum(
            F.when(F.col(col) >= F.lit(bound), 1).otherwise(0)
        ).cast("double")
        return self._add(
            f"bound_{col}", over, lambda m: m == F.lit(0.0)
        )

    def satisfies(self, name: str, predicate) -> "CheckSuite":
        """Cross-field row predicate: metric = number of VIOLATING rows
        (predicate false or null), passes at zero."""
        bad = F.sum(
            F.when(F.coalesce(predicate, F.lit(False)), 0).otherwise(1)
        ).cast("double")
        return self._add(name, bad, lambda m: m == F.lit(0.0))

    def run(self, df: DataFrame) -> DataFrame:
        """ONE scan: every metric in a single agg, checks unpacked from
        the aggregated row as ``(check_name, metric, passed)``."""
        if not self._checks:
            raise ValueError("empty check suite")
        aggs = []
        for i, (_, m, _, verdict) in enumerate(self._checks):
            aggs.append(m.cast("double").alias(f"__m_{i}"))
            if verdict is not None:
                aggs.append(verdict.cast("double").alias(f"__v_{i}"))
        row = df.agg(*aggs)
        parts = []
        for i, (name, _, passed, verdict) in enumerate(self._checks):
            m = F.col(f"__m_{i}")
            judged = F.col(f"__v_{i}") if verdict is not None else m
            parts.append(
                F.struct(
                    F.lit(name).alias("check_name"),
                    m.alias("metric"),
                    passed(judged).cast("int").alias("passed"),
                )
            )
        return (
            row.select(F.explode(F.array(*parts)).alias("c"))
            .select("c.check_name", "c.metric", "c.passed")
            .orderBy("check_name")
        )


def q134_doc_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents-plane expectation suite via the declarative builder —
    incl. a cross-field consistency constraint (the recorded n_chars
    must equal the actual text length; a drifted ingest pipeline breaks
    exactly this kind of invariant first). Oracle: one-CTE SQL twin."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        CheckSuite()
        .is_complete("text")
        .is_unique("doc_id")
        .is_in("lang", ["en", "fr", "de", "es", "xx"])
        .satisfies(
            "nchars_matches_text", F.col("n_chars") == F.length("text")
        )
        .run(docs)
    )


def doc_expectations_oracle_sql() -> str:
    return """
    WITH m AS (
      SELECT count(*)                             AS n,
             count(text)                          AS nn_text,
             count(DISTINCT doc_id)               AS d_id,
             sum(CASE WHEN lang NOT IN ('en','fr','de','es','xx')
                      THEN 1 ELSE 0 END)          AS bad_lang,
             sum(CASE WHEN n_chars = length(text) THEN 0 ELSE 1 END)
                                                  AS bad_nchars
      FROM documents
    )
    SELECT check_name, metric, passed FROM (
      SELECT 'complete_text' AS check_name,
             round(CAST(nn_text AS DOUBLE) / n, 6) AS metric,
             CAST(nn_text = n AS INT) AS passed FROM m
      UNION ALL
      SELECT 'unique_doc_id',
             round(CAST(d_id AS DOUBLE) / n, 6),
             CAST(d_id = n AS INT) FROM m
      UNION ALL
      SELECT 'domain_lang', CAST(bad_lang AS DOUBLE),
             CAST(bad_lang = 0 AS INT) FROM m
      UNION ALL
      SELECT 'nchars_matches_text', CAST(bad_nchars AS DOUBLE),
             CAST(bad_nchars = 0 AS INT) FROM m
    ) ORDER BY check_name
    """


# ------------------------------------------------ distribution drift
PSI_BUCKETS = 10
PSI_EPS = 1e-4


def drift_psi(events: DataFrame, n_buckets: int = PSI_BUCKETS) -> DataFrame:
    """Population Stability Index per event type: how far the value
    distribution of the LATER half of the time range has drifted from
    the EARLIER half — the standard go/no-go gate before retraining on
    (or alerting about) a shifted feed. PSI = Σ (q−p)·ln(q/p) over
    equi-width value buckets, shares clamped at ``PSI_EPS`` so empty
    buckets contribute a large-but-finite term (the industry convention;
    an unclamped empty bucket is ±∞).

    Plan shape: ONE slim stats aggregate (ts/value min-max — column-
    pruned scan, 1 row, broadcast) fixes the period midpoint and bucket
    width content-deterministically, then the main scan buckets every
    row in codegen and shuffles only (type, period, bucket) counts —
    map-side combine collapses each partition to ≤ types×2×buckets
    rows, so at 100 TB the exchange carries kilobytes. The per-type
    share totals and the PSI fold are arithmetic over that tiny frame.
    """
    stats = events.agg(
        F.min(F.col("ts").cast("double")).alias("t0"),
        F.max(F.col("ts").cast("double")).alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    )
    b = (
        events.select("event_type", "ts", "value")
        .crossJoin(F.broadcast(stats))
        .select(
            "event_type",
            (F.col("ts").cast("double") <= (F.col("t0") + F.col("t1")) / 2)
            .cast("int")
            .alias("is_ref"),
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    # zero-range guard: a constant-valued feed makes
                    # v1 == v0; without the epsilon floor the width is
                    # 0 and every bucket is NULL (engine-dependent in
                    # the oracle) instead of the expected PSI of 0
                    / (F.greatest(F.col("v1") - F.col("v0"),
                                  F.lit(PSI_EPS)) / n_buckets)
                ),
                F.lit(n_buckets - 1),
            )
            .cast("int")
            .alias("bucket"),
        )
    )
    counts = b.groupBy("event_type", "bucket").agg(
        F.sum("is_ref").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).alias("n_cur"),
    )
    w_tot = Window.partitionBy("event_type")
    shares = counts.select(
        "event_type",
        "bucket",
        F.greatest(
            F.col("n_ref") / F.sum("n_ref").over(w_tot), F.lit(PSI_EPS)
        ).alias("p"),
        F.greatest(
            F.col("n_cur") / F.sum("n_cur").over(w_tot), F.lit(PSI_EPS)
        ).alias("q"),
        "n_ref",
        "n_cur",
    )
    return (
        shares.groupBy("event_type")
        .agg(
            F.round(
                F.sum((F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))),
                4,
            ).alias("psi"),
            F.sum("n_ref").alias("n_ref"),
            F.sum("n_cur").alias("n_cur"),
        )
        .orderBy("event_type")
    )


def q145_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value-distribution drift, later half vs earlier half
    (oracle-checked DuckDB twin)."""
    return drift_psi(load_table(spark, sf_dir, "events"))


def drift_psi_oracle_sql(
    n_buckets: int = PSI_BUCKETS, eps: float = PSI_EPS
) -> str:
    """DuckDB twin of :func:`drift_psi` — identical double arithmetic
    (epoch(ts) has the same fractional seconds as Spark's double cast)."""
    return f"""
        WITH s AS (
          SELECT min(epoch(ts)) AS t0, max(epoch(ts)) AS t1,
                 min(value) AS v0, max(value) AS v1
          FROM events
        ), b AS (
          SELECT event_type,
                 CASE WHEN epoch(ts) <= (s.t0 + s.t1) / 2
                      THEN 1 ELSE 0 END AS is_ref,
                 least(CAST(floor((value - s.v0)
                                  / (greatest(s.v1 - s.v0, {eps})
                                     / {n_buckets})) AS INT),
                       {n_buckets - 1}) AS bucket
          FROM events, s
        ), c AS (
          SELECT event_type, bucket,
                 sum(is_ref)     AS n_ref,
                 sum(1 - is_ref) AS n_cur
          FROM b GROUP BY event_type, bucket
        ), sh AS (
          SELECT event_type, bucket, n_ref, n_cur,
                 greatest(n_ref / (sum(n_ref) OVER (PARTITION BY event_type)),
                          {eps}) AS p,
                 greatest(n_cur / (sum(n_cur) OVER (PARTITION BY event_type)),
                          {eps}) AS q
          FROM c
        )
        SELECT event_type,
               round(sum((q - p) * ln(q / p)), 4) AS psi,
               sum(n_ref)::BIGINT AS n_ref,
               sum(n_cur)::BIGINT AS n_cur
        FROM sh
        GROUP BY event_type
        ORDER BY event_type
    """
