"""Fuzzy linking (A9/A14), profiler (A2-A8), catalog round-trip."""

from __future__ import annotations

import random
import sys
from concurrent.futures import ThreadPoolExecutor
from difflib import SequenceMatcher

from dbt_nlp_sqlizer_team04_spark.catalog.metadata import SchemaMetadata, generate_schema_id
from dbt_nlp_sqlizer_team04_spark.operators.profiler import crawl_schema
from dbt_nlp_sqlizer_team04_spark.plans.linking import (
    MEMO_MAX_CHARS,
    MEMO_MAX_ENTRIES,
    keyword_match,
    partial_ratio,
    select_relevant,
)

SCHEMA = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
}


def test_partial_ratio_basics():
    assert partial_ratio("orders", "orders") == 100.0
    assert partial_ratio("order", "count of orders per priority") > 80.0
    assert partial_ratio("zebra", "count of orders") < 50.0


def test_select_relevant_prunes():
    rel = select_relevant(SCHEMA, "total price of orders per status", k_tables=2)
    assert "orders" in rel
    assert len(rel) == 2
    assert len(rel["orders"]) <= 9  # 8 + id fallback


# --------------------------------------------- partial_ratio memo
def _reference_partial_ratio(a: str, b: str) -> float:
    """Frozen copy of the uncached scorer, before the memo: the memoized
    ``partial_ratio`` must equal it on every input."""
    a, b = a.lower(), b.lower()
    if not a or not b:
        return 0.0
    shorter, longer = (a, b) if len(a) <= len(b) else (b, a)
    sm = SequenceMatcher(None, shorter, longer, autojunk=False)
    best = 0.0
    for block in sm.get_matching_blocks():
        start = max(block.b - block.a, 0)
        window = longer[start : start + len(shorter)]
        r = SequenceMatcher(None, shorter, window, autojunk=False).ratio()
        if r > best:
            best = r
            if best == 1.0:
                break
    return best * 100.0


def _reference_select_relevant(schema, question, k_tables=4, k_columns=8):
    """Frozen copy of ``select_relevant`` before it kept the first
    pass's column scores (each column was scored twice)."""
    table_scores = []
    for t, cols in schema.items():
        best_name, score = t, _reference_partial_ratio(t, question)
        for c in cols:
            s = _reference_partial_ratio(c, question)
            if s > score or (s == score and len(c) > len(best_name)):
                best_name, score = c, s
        table_scores.append((t, score, len(best_name)))
    table_scores.sort(key=lambda x: (-x[1], -x[2], x[0]))
    out = {}
    for t in [t for t, _, _ in table_scores[:k_tables]]:
        cols = schema[t]
        best = sorted(cols, key=lambda c: (-_reference_partial_ratio(c, question), c))
        best = best[:k_columns]
        for fallback in ("id", f"{t}_id"):
            if fallback in cols and fallback not in best:
                best.append(fallback)
        out[t] = best
    return out


TPCH = {
    "region": ["r_regionkey", "r_name", "r_comment"],
    "nation": ["n_nationkey", "n_name", "n_regionkey", "n_comment"],
    "customer": ["c_custkey", "c_name", "c_address", "c_nationkey", "c_phone",
                 "c_acctbal", "c_mktsegment", "c_comment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority", "o_clerk", "o_shippriority",
               "o_comment"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate", "l_commitdate",
                 "l_receiptdate", "l_shipinstruct", "l_shipmode", "l_comment"],
    "part": ["p_partkey", "p_name", "p_mfgr", "p_brand", "p_type", "p_size",
             "p_container", "p_retailprice", "p_comment"],
    "supplier": ["s_suppkey", "s_name", "s_address", "s_nationkey", "s_phone",
                 "s_acctbal", "s_comment"],
    "events": ["event_id", "user_id", "event_type", "ts", "value"],
    "documents": ["_id", "doc_id", "text", "source", "lang", "n_chars"],
    "id_table": ["id", "id_table_id", "name"],
}

QUESTIONS = [
    "count of orders per orderpriority",
    "average acctbal per mktsegment in customer",
    "top 5 orders by totalprice",
    "how many lineitem rows are there",
    "count of customers per region name",
    "count of orders per month",
    "sum of totalprice per orderstatus in orders",
    "unique mktsegment values from customer",
    "count of orders with orderstatus F per orderpriority",
    "average totalprice of urgent orders",
    "count of customers per nation name",
    "count of orders with totalprice over 400000 per orderpriority",
    "number of BUILDING segment customers per nation name",
    "top 3 mktsegments by average acctbal",
    "customers with no orders",
    "share of lineitem quantity per shipmode",
    "how many events per event_type",
    "count of documents with text containing spark per lang",
]

ODD = [
    "", "a", "A", "id", "ID", "Straße", "STRASSE", "İstanbul", "ǅemal",
    "ÉCOLE école", "naïve café", "数据 查询 订单", "emoji 🙂 orders 🙂",
    "ΣΊΣΥΦΟΣ", "o_ORDERkey", "   ", "order_", "_order",
]


def _exactness_pairs() -> list[tuple[str, str]]:
    rng = random.Random(7)

    def mixed(s: str) -> str:
        return "".join(ch.upper() if rng.random() < 0.3 else ch for ch in s)

    idents = sorted({x for t, cols in TPCH.items() for x in (t, *cols)})
    words = sorted({w for q in QUESTIONS for w in q.split()})
    texts = QUESTIONS + words + ODD
    pairs = []
    for ident in idents + ODD:
        for text in texts:
            pairs.append((ident, text))
            pairs.append((mixed(text), mixed(ident)))
    # equal-length pairs, in both orders
    by_len: dict[int, list[str]] = {}
    for s in idents + words:
        by_len.setdefault(len(s), []).append(s)
    for group in by_len.values():
        for a in group[:12]:
            for b in group[:12]:
                pairs.append((a, b))
    # above the memo's length bypass
    long_q = " and ".join(QUESTIONS)
    assert len(long_q) > MEMO_MAX_CHARS
    for ident in idents:
        pairs.append((ident, long_q))
        pairs.append((long_q[:MEMO_MAX_CHARS - len(ident)], ident))
        pairs.append((long_q[:MEMO_MAX_CHARS - len(ident) + 1], ident))
    return pairs


def test_partial_ratio_memo_matches_frozen_reference():
    pairs = _exactness_pairs()
    assert len(pairs) >= 10_000
    partial_ratio.cache_clear()
    want = [_reference_partial_ratio(a, b) for a, b in pairs]
    # twice: the first pass fills the memo, the second answers from it
    assert [partial_ratio(a, b) for a, b in pairs] == want
    assert [partial_ratio(a, b) for a, b in pairs] == want
    assert partial_ratio.cache_info().hits > 0


def test_partial_ratio_memo_is_bounded():
    partial_ratio.cache_clear()
    n = MEMO_MAX_ENTRIES + 500
    for i in range(n):
        partial_ratio(f"c{i}", "orders")
    info = partial_ratio.cache_info()
    assert info.maxsize == MEMO_MAX_ENTRIES
    assert info.misses == n
    assert info.currsize == MEMO_MAX_ENTRIES


def test_partial_ratio_long_pair_bypasses_memo():
    partial_ratio.cache_clear()
    question = "orders " * 40
    assert len(question) + len("o_orderkey") > MEMO_MAX_CHARS
    assert partial_ratio("o_orderkey", question) == _reference_partial_ratio(
        "o_orderkey", question
    )
    info = partial_ratio.cache_info()
    assert (info.currsize, info.hits, info.misses) == (0, 0, 0)
    # the bound is on the lower-cased lengths, and it is inclusive
    at_bound = "x" * (MEMO_MAX_CHARS - len("ab"))
    partial_ratio("AB", at_bound.upper())
    assert partial_ratio.cache_info().currsize == 1


def test_partial_ratio_memo_concurrent_matches_serial():
    pairs = _exactness_pairs()[:4000]
    partial_ratio.cache_clear()
    serial = [partial_ratio(a, b) for a, b in pairs]
    partial_ratio.cache_clear()
    chunks = [pairs[i::8] for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: races show sooner
    try:
        with ThreadPoolExecutor(8) as pool:
            scored = pool.map(
                lambda ps: [partial_ratio(a, b) for a, b in ps], chunks, timeout=300
            )
            got = list(scored)
    finally:
        sys.setswitchinterval(interval)
    assert got == [serial[i::8] for i in range(8)]


def test_select_relevant_matches_frozen_reference():
    for q in QUESTIONS + ["orders " * 40, ""]:
        for k in (1, 2, 4):
            assert select_relevant(TPCH, q, k_tables=k) == _reference_select_relevant(
                TPCH, q, k_tables=k
            )


def _reference_select_relevant_collections(schema, question, k_collections=4, k_fields=8):
    """Frozen copy of ``nl2doc.select_relevant_collections`` before it
    kept the first pass's field scores."""
    scored = []
    for coll, fields in schema.items():
        s = max(
            _reference_partial_ratio(coll, question),
            max((_reference_partial_ratio(f, question) for f in fields), default=0.0),
        )
        scored.append((coll, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    out = {}
    for coll, _ in scored[:k_collections]:
        fields = schema[coll]
        best = sorted(fields, key=lambda f: (-_reference_partial_ratio(f, question), f))
        best = best[:k_fields]
        if "_id" in fields and "_id" not in best:
            best.insert(0, "_id")
        out[coll] = best
    return out


def test_select_relevant_collections_matches_frozen_reference():
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import select_relevant_collections

    schema = {**TPCH, "empty": []}
    for q in QUESTIONS + ["documents " * 30, ""]:
        for k in (1, 2, 4):
            got = select_relevant_collections(schema, q, k_collections=k, k_fields=3)
            assert got == _reference_select_relevant_collections(
                schema, q, k_collections=k, k_fields=3
            )


def test_keyword_match():
    rel = keyword_match(SCHEMA, "show customer c_acctbal")
    assert "customer" in rel
    assert "c_acctbal" in rel["customer"]


def test_profiler_crawl(spark, sf_smoke):
    meta = crawl_schema(spark, sf_smoke, ("region", "nation", "customer", "orders"),
                        sample_size=5, exact_distinct=True)
    assert meta.tables["region"].row_count == 5
    n = meta.tables["nation"]
    assert n.primary_key == ["n_nationkey"]
    # FK inference: customer.c_nationkey -> nation.n_nationkey
    fks = {(r.from_table, r.from_column, r.to_table) for r in meta.relationships}
    assert ("customer", "c_nationkey", "nation") in fks
    assert ("orders", "o_custkey", "customer") in fks
    # categorical domain captured
    seg = next(c for c in meta.tables["customer"].columns if c.name == "c_mktsegment")
    assert seg.unique_values and "BUILDING" in seg.unique_values
    # numeric stats present
    bal = next(c for c in meta.tables["customer"].columns if c.name == "c_acctbal")
    assert bal.min_value is not None and bal.avg_value is not None
    # synonyms mined (A8)
    assert "orders" in meta.synonyms


def test_concurrent_crawl_matches_serial_profile_loop(spark, sf_smoke):
    """crawl_schema profiles tables on a thread pool, largest first; the
    result equals a serial profile_table loop field for field, in
    ``tables`` order, with a missing table skipped."""
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import (
        extract_synonyms,
        infer_relationships,
        profile_table,
    )
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import TABLES, load_table

    tables = TABLES + ("no_such_table",)
    meta = crawl_schema(spark, sf_smoke, tables, sample_size=5)
    infos = {t: profile_table(load_table(spark, sf_smoke, t), t, sample_size=5)
             for t in TABLES}
    serial = SchemaMetadata(tables=infos)
    serial.relationships = infer_relationships(infos)
    for t, info in infos.items():
        info.foreign_keys = [r for r in serial.relationships if r.from_table == t]
    serial.synonyms = extract_synonyms(serial)
    assert list(meta.tables) == list(TABLES)
    assert meta == serial
    assert meta.to_json() == serial.to_json()


def test_metadata_roundtrip(spark, sf_smoke):
    meta = crawl_schema(spark, sf_smoke, ("region", "nation"), sample_size=2)
    again = SchemaMetadata.from_json(meta.to_json())
    assert again.schema_dict() == meta.schema_dict()
    assert generate_schema_id(again) == generate_schema_id(meta)
    assert len(generate_schema_id(meta)) == 16


def test_profile_empty_table(spark):
    # ADVICE(low): F.sum over zero rows is NULL — empty tables must
    # profile to zeros, not crash.
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import profile_table

    df = spark.createDataFrame([], "a_key long, name string, val double")
    info = profile_table(df, "empty")
    assert info.row_count == 0
    assert all((c.null_count or 0) == 0 for c in info.columns)
    assert info.primary_key == []


def test_pk_inference_survives_approx_distinct(spark, sf_smoke):
    # ADVICE(low): HLL estimates rarely equal row_count exactly; the PK
    # (and the FK graph built on it) must survive exact_distinct=False.
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import profile_table
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    info = profile_table(
        load_table(spark, sf_smoke, "orders"), "orders", exact_distinct=False
    )
    assert info.primary_key == ["o_orderkey"]


# ------------------------------------------------------------ CheckSuite
def test_check_suite_planted_violations(spark):
    """Every constraint type trips on planted bad data and passes on
    clean data; the whole suite is ONE aggregate scan."""
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import CheckSuite
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "a", 5.0, "X", 1),
            (2, "b", -1.0, "Y", 2),     # negative value, n != len
            (2, None, 4.0, "Z", 9),     # dup id, null name, bad domain,
                                        # n != len
        ],
        "id long, name string, val double, cat string, n long",
    )
    out = (
        CheckSuite()
        .is_complete("name")
        .is_unique("id")
        .has_min("val", gt=0)
        .is_in("cat", ["X", "Y"])
        .satisfies("n_matches_len", F.col("n") == F.length("name"))
        .run(df)
    )
    rows = {r["check_name"]: (r["metric"], r["passed"]) for r in out.collect()}
    assert rows["complete_name"] == (round(2 / 3, 6), 0)
    assert rows["unique_id"] == (round(2 / 3, 6), 0)
    assert rows["min_val"] == (-1.0, 0)
    assert rows["domain_cat"] == (1.0, 0)
    # row 3: NULL name -> predicate null -> violation; row 2: 2 != 1
    assert rows["n_matches_len"] == (2.0, 0)

    clean = spark.createDataFrame(
        [(1, "a", 5.0, "X", 1), (2, "bb", 4.0, "Y", 2)],
        "id long, name string, val double, cat string, n long",
    )
    out2 = (
        CheckSuite()
        .is_complete("name").is_unique("id").has_min("val", gt=0)
        .is_in("cat", ["X", "Y"])
        .satisfies("n_matches_len", F.col("n") == F.length("name"))
        .run(clean)
    )
    assert all(r["passed"] == 1 for r in out2.collect())
    # single-scan contract (final physical plan only — AQE's string
    # repeats the scan in its "Initial Plan" section)
    plan = out2._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("Scan ExistingRDD") + plan.count("FileScan") == 1

    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate check name"):
        CheckSuite().is_complete("name").is_complete("name")
    with _pytest.raises(ValueError, match="empty"):
        CheckSuite().run(clean)


def test_drift_psi_detects_planted_shift(spark):
    """A type whose later-half values shift to a disjoint range gets a
    large PSI; a type with an identical distribution in both halves
    stays near zero (and below the conventional 0.1 alert line)."""
    import datetime as dt

    from dbt_nlp_sqlizer_team04_spark.operators.profiler import drift_psi

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(400):
        early = i < 200
        ts = base + dt.timedelta(hours=i)
        # stable: same uniform 0..100 pattern in both halves
        rows.append((eid, ts, 1, "stable", float(i % 100), None)); eid += 1
        # drifted: 0..100 early, 300..400 late (disjoint support)
        v = float(i % 100) if early else 300.0 + (i % 100)
        rows.append((eid, ts, 1, "drifted", v, None)); eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = {r["event_type"]: r for r in drift_psi(df).collect()}
    assert out["stable"]["psi"] < 0.1
    assert out["drifted"]["psi"] > 1.0
    assert out["drifted"]["n_ref"] + out["drifted"]["n_cur"] == 400


def test_drift_psi_constant_value_feed_is_zero(spark):
    """A constant-valued feed (v1 == v0) must yield PSI = 0, not NULL
    buckets from a zero bucket width (the r5 ADVICE divide-by-zero)."""
    import datetime as dt

    from dbt_nlp_sqlizer_team04_spark.operators.profiler import drift_psi

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), 1, "flat", 42.0, None)
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    out = drift_psi(df).collect()
    assert len(out) == 1
    assert out[0]["psi"] == 0.0
    assert out[0]["n_ref"] + out[0]["n_cur"] == 40


def test_fk_inference_self_named_id_pk():
    """Rule 2 resolves <entity>_id references against BOTH bare-id PKs
    (students.id) and self-named PKs (students.student_id) — the two
    Spider-style conventions; a bare-id stem never rides rule 1."""
    from dbt_nlp_sqlizer_team04_spark.catalog.metadata import (
        ColumnInfo, TableInfo,
    )
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import (
        infer_relationships,
    )

    def t(name, cols, pk):
        infos = [
            ColumnInfo(name=c, type_str="bigint", nullable=False,
                       distinct_count=10, null_count=0)
            for c in cols
        ]
        for i in infos:
            i.is_primary_key = i.name in pk
        return TableInfo(name=name, columns=infos, primary_key=pk,
                         sample_rows=[], row_count=10)

    tables = {
        "students": t("students", ["student_id", "name"], ["student_id"]),
        "courses": t("courses", ["id", "title"], ["id"]),
        "enrollments": t(
            "enrollments",
            ["enroll_id", "student_id", "course_id"],
            ["enroll_id"],
        ),
    }
    rels = {
        (r.from_table, r.from_column, r.to_table, r.to_column)
        for r in infer_relationships(tables)
    }
    assert ("enrollments", "student_id", "students", "student_id") in rels
    assert ("enrollments", "course_id", "courses", "id") in rels
