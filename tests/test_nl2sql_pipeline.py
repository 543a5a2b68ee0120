"""End-to-end NL2SQL pipeline (SURVEY.md §3.1) incl. executor gates —
re-creation of the reference's pilot eval (BASELINE.md: success ≥83%,
unsafe rate 0)."""

from __future__ import annotations

import pytest

from dbt_nlp_sqlizer_team04_spark.plans.executor import ResultCache, run_readonly
from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import (
    TEMPLATE_RULES,
    NL2SQLEngine,
    explain_query,
)


@pytest.fixture(scope="module")
def engine(spark, sf_smoke):
    return NL2SQLEngine.from_sf_dir(spark, sf_smoke, sample_size=5)


@pytest.fixture()
def cache(sf_smoke):
    return ResultCache(sf_smoke)


EVAL_QUESTIONS = [
    "count of orders per orderpriority",
    "average acctbal per mktsegment in customer",
    "unique mktsegment values from customer",
    "show me all customers",
    "top 5 orders by totalprice",
    "how many lineitem rows are there",
    "sum of totalprice per orderstatus in orders",
    "max acctbal per nationkey in customer",
]


def test_eval_success_rate(engine, cache):
    ok = 0
    for q in EVAL_QUESTIONS:
        res = engine.ask(q, cache=cache)
        if res.ok and res.rowcount >= 1:
            ok += 1
    # reference pilot: 10/12 (83%) — require >= 85% here
    assert ok / len(EVAL_QUESTIONS) >= 0.85, f"only {ok}/{len(EVAL_QUESTIONS)} succeeded"


def test_grouped_count_sql_shape(engine, cache):
    res = engine.ask("count of orders per orderpriority", cache=cache)
    assert res.ok
    assert "GROUP BY o_orderpriority" in res.sql
    assert res.rowcount == 5
    assert res.columns == ["o_orderpriority", "cnt"]


def test_unsafe_rate_zero(engine, spark, cache):
    """Adversarial probes through the run (execute) verb must all fail
    closed — the 10/10 blocked parity."""
    probes = [
        "DROP TABLE customer",
        "DELETE FROM orders",
        "INSERT INTO orders VALUES (1)",
        "UPDATE customer SET c_acctbal = 0",
        "TRUNCATE TABLE lineitem",
        "CREATE TABLE x (a INT)",
        "ALTER TABLE orders ADD y INT",
        "MERGE INTO orders USING orders ON 1=1",
        "SELECT 1; DROP TABLE orders",
        "GRANT ALL ON orders TO PUBLIC",
    ]
    blocked = sum(
        1
        for p in probes
        if not run_readonly(
            spark, p, allowed_tables=["orders", "customer"], cache=cache
        ).ok
    )
    assert blocked == len(probes)


def test_unbounded_select_gets_limit(engine, spark, cache):
    res = run_readonly(
        spark, "SELECT * FROM lineitem", allowed_tables=["lineitem"], cache=cache
    )
    assert res.ok
    assert res.rowcount <= 100
    assert "LIMIT 100" in res.sql


def test_table_allowlist_enforced(spark, cache):
    res = run_readonly(
        spark, "SELECT * FROM lineitem", allowed_tables=["orders"], cache=cache
    )
    assert not res.ok
    assert "not allowed" in res.error


def test_jsonable_rows(engine, cache):
    res = engine.ask("show me all orders", cache=cache)
    assert res.ok
    # o_orderdate must be ISO string, not datetime
    date_idx = res.columns.index("o_orderdate")
    assert isinstance(res.rows[0][date_idx], str)


def test_explain_prose():
    txt = explain_query(
        "SELECT n_name, count(*) FROM orders JOIN nation ON 1=1 GROUP BY n_name",
        {"orders": [], "nation": []},
    )
    assert "joins related tables" in txt and "groups results" in txt


def test_cost_gate_rejects_huge_estimate(spark, sf_check):
    """A deliberately unbounded cross join must trip the S7 gate."""
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import register_views

    register_views(spark, sf_check, ("lineitem", "orders"))
    res = run_readonly(
        spark,
        "SELECT * FROM lineitem a JOIN orders b LIMIT 200",
        allowed_tables=["lineitem", "orders"],
        max_estimated_rows=100_000,
        cache=ResultCache(sf_check),
    )
    # either blocked by the cost gate or (if stats estimate is tiny) runs
    # bounded — but it must never return unbounded output
    if res.ok:
        assert res.rowcount <= 200


def test_llm_multi_candidate_parsing(engine, cache, monkeypatch):
    """A 3-candidate QUERY:-prefixed response (inference.py:199-206
    shape) must put all 3 into the ladder, ranked with the templates."""
    from dbt_nlp_sqlizer_team04_spark.plans import nl2sql as N

    canned = (
        "QUERY: SELECT o_orderpriority, COUNT(*) AS cnt FROM orders "
        "GROUP BY o_orderpriority;\n"
        "QUERY: SELECT COUNT(*) FROM orders\n"
        "SELECT o_orderkey FROM orders LIMIT 5\n"
        "some trailing prose the parser must ignore\n"
    )
    monkeypatch.setattr(N, "chat_complete", lambda *a, **k: canned)
    cands = engine.generate("count of orders per orderpriority")
    llm = [c for c in cands if c.method == "llm"]
    assert len(llm) == 3
    assert any("GROUP BY o_orderpriority" in c.sql for c in llm)
    # ladder still executes end-to-end with the LLM rungs present
    res = engine.ask("count of orders per orderpriority", cache=cache)
    assert res.ok


def test_parse_llm_candidates_prose_fallback():
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import parse_llm_candidates

    prose = "```sql\nSELECT 1 AS x\n```"
    assert parse_llm_candidates(prose) == ["SELECT 1 AS x"]
    assert parse_llm_candidates("no sql at all") == []
    # cap at 5
    many = "\n".join(f"QUERY: SELECT {i}" for i in range(9))
    assert len(parse_llm_candidates(many)) == 5


def test_fk_join_grouped_template(spark, sf_smoke):
    """The group phrase resolves across the FK graph: 'customers per
    region name' must traverse customer->nation->region, and a
    same-table grouping question must NOT grow a join."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("count of customers per region name")
    s = " ".join(sql.split()).lower()
    assert "join nation" in s and "join region" in s
    assert "group by region.r_name" in s
    # single-table question stays single-table (regression guard)
    _df, sql = eng.query_df("count of orders per orderpriority")
    assert "join" not in sql.lower()
    # 1-hop variant
    _df, sql = eng.query_df("count of customers per nation name")
    s = " ".join(sql.split()).lower()
    assert "join nation" in s and "join region" not in s


def test_temporal_grain_template(spark, sf_smoke):
    """'per month' means a calendar grain, not a categorical column."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("count of orders per month")
    s = " ".join(sql.split()).lower()
    assert "date_format(o_orderdate, 'yyyy-mm')" in s
    assert "group by month_key" in s
    _df, sql = eng.query_df("number of orders per year")
    assert "'yyyy'" in sql and "year_key" in sql
    # a categorical 'per X' must NOT trigger the temporal template
    _df, sql = eng.query_df("count of orders per orderpriority")
    assert "date_format" not in sql


def test_domain_grounded_filters(spark, sf_smoke):
    """Equality filters fire only on unambiguous categorical-domain
    evidence, and compose with grouping and joins."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df(
        "count of orders with orderstatus F per orderpriority"
    )
    assert "WHERE o_orderstatus = 'F'" in sql
    _df, sql = eng.query_df("average totalprice of urgent orders")
    assert "WHERE o_orderpriority = '1-URGENT'" in sql
    # filter + FK join in one question
    _df, sql = eng.query_df(
        "number of BUILDING segment customers per nation name"
    )
    s = " ".join(sql.split())
    assert "JOIN nation" in s and "WHERE c_mktsegment = 'BUILDING'" in s
    # ambiguous domains ('per brand' matches every Brand#NN) emit nothing
    _df, sql = eng.query_df("how many parts per brand")
    assert "WHERE" not in sql


def test_numeric_comparison_filters(spark, sf_smoke):
    """'<column> over/below <number>' phrases compile to comparison
    predicates; comparator-free questions stay unfiltered."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df(
        "count of orders with totalprice over 400000 per orderpriority"
    )
    assert "WHERE o_totalprice > 400000" in sql
    _df, sql = eng.query_df(
        "count of customers with acctbal below 0 per mktsegment"
    )
    assert "WHERE c_acctbal < 0" in sql
    _df, sql = eng.query_df("count of orders per orderpriority")
    assert "WHERE" not in sql


def test_year_filter_template(spark, sf_smoke):
    """'from <year>' compiles to a calendar-year predicate on the best
    date column; a bare number without a temporal preposition does
    not."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("count of orders from 1995 per orderpriority")
    assert "WHERE year(o_orderdate) = 1995" in sql
    # dateless tables can't year-filter: no such predicate appears
    _df, sql = eng.query_df("count of customers per mktsegment")
    assert "year(" not in sql


def test_like_filter_template(spark, sf_smoke):
    """'<column> containing <tok>' compiles to an ILIKE predicate, and
    predicate evidence without an aggregate intent compiles to the
    PK-ordered filtered listing (outranking the generic join
    fallback)."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("show customers with name containing 19")
    assert "c_name ILIKE '%19%'" in sql
    assert "ORDER BY c_custkey" in sql and "JOIN" not in sql.upper()
    rows = df.collect()
    assert rows and all("19" in r["c_name"] for r in rows)
    # composes with grouped aggregation
    _df, sql = eng.query_df(
        "count of customers with name containing 19 per mktsegment"
    )
    s = " ".join(sql.split())
    assert "c_name ILIKE '%19%'" in s and "GROUP BY c_mktsegment" in s


def test_multi_key_grouping_template(spark, sf_smoke):
    """'per X and Y' groups on BOTH resolved keys; a single 'per X'
    stays single-key."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("count of orders per orderstatus and orderpriority")
    s = " ".join(sql.split())
    assert "GROUP BY o_orderstatus, o_orderpriority" in s
    _df, sql = eng.query_df("count of orders per orderpriority")
    assert "o_orderstatus" not in sql


def test_between_filter_template(spark, sf_smoke):
    """'between A and B' compiles to a BETWEEN predicate and is masked
    from the single-comparator pass; the 'and' does not trigger the
    compound-group split."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df(
        "count of orders with totalprice between 100000 and 200000"
        " per orderpriority"
    )
    s = " ".join(sql.split())
    assert "WHERE o_totalprice BETWEEN 100000 AND 200000" in s
    assert "GROUP BY o_orderpriority" in s and "o_orderstatus" not in s


def test_multi_aggregate_template(spark, sf_smoke):
    """A question naming two aggregates compiles BOTH; single-agg
    questions are unaffected."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df(
        "count of orders and average totalprice per orderpriority"
    )
    s = " ".join(sql.split())
    assert "COUNT(*) AS cnt" in s and "AVG(o_totalprice)" in s
    _df, sql = eng.query_df("count of orders per orderpriority")
    assert "AVG" not in sql


def test_topn_grouped_template(spark, sf_smoke):
    """'top N <group> by <func> <measure>' re-links across tables even
    when the fuzzy pruner's first table is wrong."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("top 3 mktsegments by average acctbal")
    s = " ".join(sql.split())
    assert "FROM customer" in s and "AVG(c_acctbal)" in s
    assert "ORDER BY avg_c_acctbal DESC" in s and "LIMIT 3" in s


def test_superlative_template(spark, sf_smoke):
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("which orderpriority has the most orders")
    s = " ".join(sql.split())
    assert "ORDER BY cnt DESC" in s and "LIMIT 1" in s
    assert df.count() == 1


def test_count_distinct_template(spark, sf_smoke):
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("count of distinct custkey values in orders")
    assert "COUNT(DISTINCT o_custkey)" in sql
    # plain distinct listing unaffected
    _df, sql = eng.query_df("unique mktsegment values from customer")
    assert "SELECT DISTINCT c_mktsegment" in sql


def test_recency_sort_template(spark, sf_smoke):
    """Recency phrasing sorts on the DATE column (not the numeric-best
    surrogate key), extracts adjacent counts, and oldest/latest pick
    opposite directions."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("top 10 most recent orders")
    assert "ORDER BY o_orderdate DESC" in sql and "LIMIT 10" in sql
    _df, sql = eng.query_df("oldest 3 orders")
    s = " ".join(sql.split())
    assert "ORDER BY o_orderdate, o_orderkey LIMIT 3" in s
    _df, sql = eng.query_df("latest 5 events")
    assert "ORDER BY ts DESC" in sql and "LIMIT 5" in sql


def test_year_range_filter_template(spark, sf_smoke):
    """Year ranges compile to year() BETWEEN and are claimed away from
    both the numeric BETWEEN and the single-year extractors."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    for phrasing in (
        "count of orders between 1995 and 1997 per orderpriority",
        "count of orders from 1995 to 1997 per orderpriority",
    ):
        _df, sql = eng.query_df(phrasing)
        assert "WHERE year(o_orderdate) BETWEEN 1995 AND 1997" in sql
        assert "o_orderkey BETWEEN" not in sql
    # numeric BETWEEN on a real measure is untouched
    _df, sql = eng.query_df(
        "count of orders with totalprice between 100000 and 200000"
        " per orderpriority"
    )
    assert "o_totalprice BETWEEN 100000 AND 200000" in sql


def test_measure_entity_anchors_base_table(spark, sf_smoke):
    """'number of orders per customer name' counts ORDERS grouped by
    the customer dimension's name — the counted entity anchors the fact
    table even when the pruner ranked a dimension first, and the group
    phrase's table mention picks c_name over same-fuzzy name columns."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("number of orders per customer name")
    s = " ".join(sql.split())
    assert "FROM orders JOIN customer" in s
    assert "GROUP BY customer.c_name" in s
    # an explicit local qualifier keeps grouping local (nl07 shape)
    _df, sql = eng.query_df("maximum acctbal per nation in customer")
    assert "JOIN" not in sql.upper() and "c_nationkey" in sql


def test_percentage_template(spark, sf_smoke):
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("percentage of orders per orderstatus")
    assert "SUM(COUNT(*)) OVER ()" in sql
    rows = df.collect()
    assert abs(sum(r["pct"] for r in rows) - 100.0) < 0.01


def test_percentage_filtered_template(spark, sf_smoke):
    """r11 (nl74's SQL surface): a comparison phrase narrows BOTH the
    numerator and the denominator of the grouped share — share within
    the filtered set. The entity-anchored form ("orders over 400000")
    remaps the table word to the VALUE column (o_totalprice), never
    the surrogate key the fuzzy column pass would land on; the
    named-column and year forms ride the shared extractors; the
    unfiltered question keeps its original shape."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, s1 = eng.query_df("percentage of orders over 400000 per priority")
    assert "WHERE o_totalprice > 400000" in " ".join(s1.split())
    assert "o_orderkey" not in s1
    _df, s2 = eng.query_df(
        "percentage of orders with totalprice over 400000 per orderpriority"
    )
    assert "WHERE o_totalprice > 400000" in " ".join(s2.split())
    df3, s3 = eng.query_df(
        "percentage of orders before 1997 per orderpriority"
    )
    assert "WHERE year(o_orderdate) < 1997" in " ".join(s3.split())
    rows = df3.collect()
    assert abs(sum(r["pct"] for r in rows) - 100.0) < 0.01
    _df, s4 = eng.query_df("percentage of orders per orderstatus")
    assert "WHERE" not in s4.upper()


def test_anti_join_template(spark, sf_smoke):
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("customers without orders")
    s = " ".join(sql.split())
    assert "NOT EXISTS" in s
    assert "orders.o_custkey = customer.c_custkey" in s


def test_having_templates(spark, sf_smoke):
    """HAVING tier: count thresholds (same-table and through an FK
    join) and aggregate thresholds compile to GROUP BY + HAVING."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("orderpriorities with more than 10 orders")
    assert "GROUP BY o_orderpriority" in sql
    assert "HAVING COUNT(*) > 10" in sql

    _df, sql = eng.query_df("nations with at least 2 customers")
    assert "JOIN nation" in sql and "HAVING COUNT(*) >= 2" in sql
    assert "GROUP BY n_name" in sql

    _df, sql = eng.query_df("segments with average acctbal above 4500")
    assert "HAVING AVG(c_acctbal) > 4500" in sql
    assert "GROUP BY c_mktsegment" in sql

    _df, sql = eng.query_df("segments with at most 300 customers")
    assert "HAVING COUNT(*) <= 300" in sql


def test_multi_agg_reanchors_on_group_measure_fit(spark, sf_smoke):
    """'min and max acctbal per mktsegment' must land on customer even
    when the whole-question pruner ranks another table first."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("minimum and maximum acctbal per mktsegment")
    assert "FROM customer" in sql
    assert "MIN(c_acctbal)" in sql and "MAX(c_acctbal)" in sql
    assert "GROUP BY c_mktsegment" in sql


def test_bare_entity_grain_counts(spark, sf_smoke):
    """A bare entity + calendar grain implies a count rollup; weekly
    keys truncate to ISO week starts."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("orders per week")
    assert "date_trunc('week', o_orderdate)" in sql
    assert "COUNT(*)" in sql and "GROUP BY week_key" in sql

    _df, sql = eng.query_df("events per day")
    assert "GROUP BY day_key" in sql


def test_mid_phrase_year_filter(spark, sf_smoke):
    """'of 1996 orders' carries the same calendar filter as 'from
    1996'."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df(
        "average totalprice of 1996 orders per orderpriority"
    )
    assert "year(o_orderdate) = 1996" in sql


def test_batch2_templates(spark, sf_smoke):
    """Late-r4 batch 2: FK-dimension pct, year comparisons, bottom-N,
    and FK superlative aggregates (incl. the column-entity fallback)."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("share of customers per nation name")
    assert "JOIN nation" in sql and "GROUP BY n_name" in sql

    _df, sql = eng.query_df("orders placed before 1997")
    assert "year(o_orderdate) < 1997" in sql

    _df, sql = eng.query_df("orders placed after 1999")
    assert "year(o_orderdate) > 1999" in sql

    _df, sql = eng.query_df("lowest 5 orders by totalprice")
    assert "ORDER BY o_totalprice, o_orderkey LIMIT 5" in sql

    _df, sql = eng.query_df("which nation has the highest average acctbal")
    assert "JOIN nation" in sql and "ORDER BY avg_c_acctbal DESC" in sql
    assert "LIMIT 1" in sql

    _df, sql = eng.query_df(
        "which orderpriority has the highest average totalprice"
    )
    assert "GROUP BY o_orderpriority" in sql and "LIMIT 1" in sql


def test_having_with_domain_filter_and_topn_count(spark, sf_smoke):
    """HAVING composes with a domain-value filter ('BUILDING' between
    the threshold and the entity), and 'top N dims by number of
    entities' ranks FK counts."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("segments with more than 20 BUILDING customers")
    assert "WHERE c_mktsegment = 'BUILDING'" in sql
    assert "HAVING COUNT(*) > 20" in sql

    _df, sql = eng.query_df("top 3 nations by number of customers")
    assert "JOIN nation" in sql
    assert "ORDER BY n_customer DESC, n_name LIMIT 3" in sql


def test_reference_eval_shapes(spark, sf_smoke):
    """FIXTURES.md §6's eval question shapes mapped to this schema all
    compile to their intended surfaces (B9/B10/B14/B15 + entity top-N)."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    _df, sql = eng.query_df("top 5 parts by average retailprice")
    assert "FROM part" in sql and "GROUP BY p_partkey" in sql

    _df, sql = eng.query_df(
        "orders with totalprice greater than the average totalprice"
    )
    assert "(SELECT AVG(o_totalprice) FROM orders)" in sql

    _df, sql = eng.query_df("customers or suppliers named like 19")
    assert "UNION" in sql and "ILIKE '%19%'" in sql

    _df, sql = eng.query_df(
        "customers along with the average acctbal per nation"
    )
    assert "OVER (PARTITION BY c_nationkey)" in sql

    _df, sql = eng.query_df("rank orders by totalprice descending")
    assert "RANK() OVER (ORDER BY o_totalprice DESC)" in sql


def test_null_filter_template(spark, sf_smoke):
    """NULL_HANDLING compiles to template SQL (the reference detects the
    intent, query_intent.py:244-254, but only its LLM tier could answer
    it): 'with X recorded' -> IS NOT NULL listing; 'X is missing' /
    'without a X' -> IS NULL. A 'without <table>' phrasing stays the FK
    anti-join's business."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("show customers with acctbal recorded")
    s = " ".join(sql.split())
    assert "c_acctbal IS NOT NULL" in s and "ORDER BY c_custkey" in s
    assert df.count() > 0

    df, sql = eng.query_df("customers where mktsegment is missing")
    s = " ".join(sql.split())
    assert "c_mktsegment IS NULL" in s
    assert df.count() == 0  # the corpus is NULL-free; shape is the test

    _df, sql = eng.query_df("customers without a mktsegment")
    assert "c_mktsegment IS NULL" in " ".join(sql.split())

    # table-resolving 'without' keeps the anti-join template
    _df, sql = eng.query_df("customers without orders")
    assert "NOT EXISTS" in sql and "IS NULL" not in sql


def test_case_bucket_template(spark, sf_smoke):
    """CONDITIONAL compiles to a CASE-bucket grouped count (the
    reference only declares the intent and keeps CASE tokens in its
    LLM-SQL extractor, nl2sql.py:121): an explicit comparator becomes
    the threshold; without one the corpus mean does (scalar
    subquery)."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df(
        "categorize orders as big or small with totalprice over 150000"
    )
    s = " ".join(sql.split())
    assert "CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END" in s
    assert "GROUP BY category" in s
    rows = {r["category"]: r["cnt"] for r in df.collect()}
    assert set(rows) == {"big", "small"} and all(v > 0 for v in rows.values())

    _df, sql = eng.query_df("classify orders as high or low by totalprice")
    s = " ".join(sql.split())
    assert "(SELECT AVG(o_totalprice) FROM orders)" in s
    assert "'high'" in s and "'low'" in s


def test_facet_breakdown_template(spark, sf_smoke):
    """Multi-facet breakdown compiles to ONE GROUPING SETS statement
    (the SQL twin of NL2Doc's $facet tier): each 'by <word>' resolves
    to a categorical column, the facet discriminator rides GROUPING(),
    and a single 'by' (or no breakdown cue) keeps the plain grouped
    count."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("break down orders by status and by priority")
    s = " ".join(sql.split())
    assert "GROUPING SETS ((o_orderstatus), (o_orderpriority))" in s
    assert "GROUPING(o_orderstatus)" in s
    rows = df.collect()
    facets = {r["facet"] for r in rows}
    assert facets == {"by_o_orderstatus", "by_o_orderpriority"}
    n_status = sum(r["n"] for r in rows if r["facet"] == "by_o_orderstatus")
    n_prio = sum(r["n"] for r in rows if r["facet"] == "by_o_orderpriority")
    assert n_status == n_prio  # each facet partitions the same corpus

    # negative: breakdown cue with ONE 'by' → not a grouping-sets plan
    _df, sql1 = eng.query_df("count of orders by priority")
    assert "GROUPING SETS" not in sql1


def test_calendar_trend_templates(spark, sf_smoke):
    """Trend phrasings compile to a window OVER a calendar rollup (a
    compositional shape: aggregate subquery + analytic window — the
    reference's DATE_TIME intent, query_intent.py:183-195, only ever
    detected the grain)."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df(
        "month over month change in total totalprice for orders"
    )
    s = " ".join(sql.split())
    assert "LAG(total) OVER (ORDER BY month_key)" in s
    assert "GROUP BY month_key" in s and "AS delta" in s
    rows = df.collect()
    assert len(rows) > 1
    assert rows[0]["delta"] is None  # no previous month for the first row
    assert all(r["delta"] is not None for r in rows[1:])

    df, sql = eng.query_df("running total of totalprice by month for orders")
    s = " ".join(sql.split())
    assert "SUM(total) OVER (ORDER BY month_key ROWS UNBOUNDED PRECEDING)" in s
    rows = df.collect()
    # cumulative column is non-decreasing and ends at the grand total
    cums = [float(r["running_total"]) for r in rows]
    assert all(b >= a for a, b in zip(cums, cums[1:]))
    assert abs(cums[-1] - sum(float(r["total"]) for r in rows)) < 0.05

    # year-over-year phrasing picks the year grain
    _df, sql = eng.query_df(
        "year over year change in total totalprice for orders"
    )
    assert "year_key" in sql and "LAG(total)" in sql


def test_trend_and_histogram_paraphrases(spark, sf_smoke):
    """Paraphrases of the trend/histogram phrasings land in the same
    template (same compiled shape), so the tiers aren't keyed to one
    magic sentence."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    trend_variants = [
        "month over month change in total totalprice for orders",
        "change from the previous month in total totalprice for orders",
        "change vs previous month of total totalprice for orders",
    ]
    shapes = set()
    for v in trend_variants:
        _df, sql = eng.query_df(v)
        assert "LAG(total) OVER (ORDER BY month_key)" in " ".join(sql.split())
        shapes.add(" ".join(sql.split()))
    assert len(shapes) == 1  # identical SQL from every paraphrase

    cumulative_variants = [
        "running total of totalprice by month for orders",
        "cumulative sum of totalprice by month for orders",
    ]
    for v in cumulative_variants:
        _df, sql = eng.query_df(v)
        assert "ROWS UNBOUNDED PRECEDING" in sql

    hist_variants = [
        "histogram of totalprice for orders in buckets of 50000",
        "distribution of totalprice for orders in bins of 50000",
    ]
    for v in hist_variants:
        _df, sql = eng.query_df(v)
        assert "FLOOR(o_totalprice / 50000) * 50000" in sql


def test_predicate_ratio_template(spark, sf_smoke):
    """A percent cue with no 'per <g>' breakdown and one domain-grounded
    value compiles to an ungrouped CASE ratio; a 'per' phrasing keeps
    the grouped share-of-total shape."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("what percentage of orders are urgent")
    s = " ".join(sql.split())
    assert "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END" in s
    assert "GROUP BY" not in s
    row = df.collect()[0]
    assert row["n_total"] > 0 and 0.0 < row["pct"] < 100.0
    assert abs(row["pct"] - 100.0 * row["n_match"] / row["n_total"]) < 0.01

    _df, sql = eng.query_df("share of customers per mktsegment")
    assert "GROUP BY c_mktsegment" in " ".join(sql.split())


def test_equidepth_template(spark, sf_smoke):
    """'decile/quartile breakdown of <m>' compiles to the NTILE
    equi-depth shape with the crawled primary key pinning tie order
    (the q153 shape from NL); tile count follows the word."""
    from dbt_nlp_sqlizer_team04_spark.queries import _engine_for

    eng = _engine_for(spark, sf_smoke)
    df, sql = eng.query_df("decile breakdown of totalprice in orders")
    s = " ".join(sql.split())
    assert "NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)" in s
    rows = df.collect()
    assert [r["tile"] for r in rows] == list(range(1, 11))
    assert sum(r["cnt"] for r in rows) > 0

    _df, sql4 = eng.query_df("quartile distribution of acctbal in customer")
    assert "NTILE(4)" in sql4


def test_repeated_generate_does_no_fuzzy_work(spark, engine, matcher_count):
    """Fuzzy scoring is memoized: once a question has been generated,
    generating it again constructs no SequenceMatcher at all. A fresh
    engine over the same metadata: the shared one has the questions in
    its front-end memo already."""
    cold = NL2SQLEngine(spark, engine.metadata)
    for q in EVAL_QUESTIONS:
        before = matcher_count()
        first = [c.sql for c in cold.generate(q)]
        assert matcher_count() > before, q  # the counter sees a cold question
        before = matcher_count()
        assert [c.sql for c in cold.generate(q)] == first
        assert matcher_count() == before, q


def test_rank_is_pure(engine):
    """Ranking returns re-scored copies: the input list and its
    candidates are unchanged, so ranking the same list twice gives the
    same confidences and order."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import Candidate

    relevant = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}
    cands = [
        Candidate("SELECT * FROM orders LIMIT 100", "template", 0.5),
        Candidate("SELECT * FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey",
                  "template_join", 0.6),
        Candidate("SELECT COUNT(*) AS cnt FROM customer", "template_count", 0.9),
    ]
    before = [(c.sql, c.method, c.confidence) for c in cands]
    first = [(c.sql, c.method, c.confidence) for c in engine.rank(cands, relevant)]
    second = [(c.sql, c.method, c.confidence) for c in engine.rank(cands, relevant)]
    assert first == second
    assert [(c.sql, c.method, c.confidence) for c in cands] == before
    # +0.1 per relevant table referenced, +0.1 for JOIN
    assert [m for _s, m, _c in first] == ["template_count", "template_join", "template"]
    assert [c for _s, _m, c in first] == pytest.approx([1.0, 0.9, 0.6])


def test_last_method_is_per_thread(engine):
    """``last_method`` reports the tier that won the calling thread's
    own ``query_df``: 8 threads all finish their ``query_df`` before any
    reads it back, and each still reads the serial run's tier."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    questions = [
        "count of orders per orderpriority",
        "unique mktsegment values from customer",
        "show me all customers",
        "top 5 orders by totalprice",
        "how many lineitem rows are there",
        "count of orders per month",
        "top 3 mktsegments by average acctbal",
        "sum of totalprice per orderstatus in orders",
    ]
    serial = {}
    for q in questions:
        engine.query_df(q)
        serial[q] = engine.last_method
    assert len(set(serial.values())) >= 6  # distinct tiers, or the test shows nothing

    # each pool worker runs one request per round; all 8 meet here
    # between their query_df and their read of last_method
    barrier = threading.Barrier(8, timeout=300)

    def winner(q):
        engine.query_df(q)
        barrier.wait()
        return engine.last_method

    work = questions * 3
    with ThreadPoolExecutor(8) as pool:
        got = list(pool.map(winner, work, timeout=600))
    assert got == [serial[q] for q in work]


# One question per template rule that the ladder (query_df, reported by
# last_method) answers with that rule, on the sf0.001 engine; the
# entity-join listing's question runs on the parity school fixture with
# no LLM tier.
RULE_WINNERS = {
    "template_facet_breakdown": "break down orders by status and by priority",
    "template_predicate_ratio": "what percentage of orders are urgent",
    "template_pct_of_total": "percentage of orders per orderstatus",
    "template_anti_join": "customers without orders",
    "template_topn_entity": "top 5 parts by average retailprice",
    "template_topn_grouped": "top 3 mktsegments by average acctbal",
    "template_topn_count": "top 3 nations by number of customers",
    "template_superlative": "which orderpriority has the most orders",
    "template_bottom_n": "lowest 5 orders by totalprice",
    "template_scalar_subquery": "orders with totalprice greater than the average totalprice",
    "template_union_named": "customers or suppliers named like 19",
    "template_rank": "rank orders by totalprice descending",
    "template_superlative_agg": "which nation has the highest average acctbal",
    "template_having_count": "orderpriorities with more than 10 orders",
    "template_time_count": "orders per week",
    "template_time_trend": "month over month change in total totalprice for orders",
    "template_time_cumulative": "running total of totalprice by month for orders",
    "template_histogram": "histogram of totalprice for orders in buckets of 50000",
    "template_equidepth": "decile breakdown of totalprice in orders",
    "template_having_agg": "segments with average acctbal above 4500",
    "template_count_distinct": "count of distinct custkey values in orders",
    "template_time_grouped_agg": "count of orders per month",
    "template_join_grouped_agg": "count of customers per region name",
    "template_multi_agg": "count of orders and average totalprice per orderpriority",
    "template_multi_grouped_agg": "count of orders per orderstatus and orderpriority",
    "template_grouped_agg": "count of orders per orderpriority",
    "template_global_agg": "how many lineitem rows are there",
    "template_window": "customers along with the average acctbal per nation",
    "template_distinct": "unique mktsegment values from customer",
    "template_sorted": "top 5 orders by totalprice",
    "template_case_bucket": "categorize orders as big or small with totalprice over 150000",
    "template_filtered_select": "show customers with name containing 19",
    "template": "truncate the lineitem table",
    "template_join": "show me all customers",
}
SCHOOL_RULE_WINNERS = {
    "template_entity_join_listing":
        "List students who received a C but have a numeric score above 75",
}


@pytest.fixture(scope="module")
def school_engine(spark, tmp_path_factory):
    from dbt_nlp_sqlizer_team04_spark.plans import parity_eval as pe

    child = spark.newSession()  # the parity fixtures get their own catalog
    d = str(tmp_path_factory.mktemp("school"))
    pe.build_school_fixture(child, d)
    return NL2SQLEngine.from_sf_dir(child, d, tables=pe.SCHOOL_TABLES)


@pytest.mark.parametrize("method", [m for m, _rule in TEMPLATE_RULES])
def test_every_template_rule_wins_the_ladder(method, engine, school_engine):
    """Every rule of the template table answers some question: its
    candidate is the first the ladder validates and analyzes."""
    if method in SCHOOL_RULE_WINNERS:
        eng, question = school_engine, SCHOOL_RULE_WINNERS[method]
    else:
        eng, question = engine, RULE_WINNERS[method]
    eng.query_df(question)
    assert eng.last_method == method, question
