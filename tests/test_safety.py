"""Safety layer (S1-S6) — mirrors the reference's adversarial probes
(BASELINE.md: 10/10 DDL/WRITE blocked, 10/10 unbounded SELECT bounded)."""

from __future__ import annotations

import pytest

from dbt_nlp_sqlizer_team04_spark.plans import safety
from dbt_nlp_sqlizer_team04_spark.plans.safety import (
    VERDICT_MEMO_MAX_CHARS,
    VERDICT_MEMO_MAX_ENTRIES,
    SQLSafetyError,
    enforce_limit,
    ensure_select_only,
    ensure_tables_allowed,
    extract_sql_from_response,
    referenced_tables,
    validate,
    validate_aggregation_requirements,
    validate_query_structure,
)

ADVERSARIAL = [
    "DROP TABLE students",
    "DELETE FROM orders",
    "DELETE all orders",
    "UPDATE customer SET c_name = 'x'",
    "INSERT INTO orders VALUES (1)",
    "TRUNCATE TABLE lineitem",
    "ALTER TABLE orders ADD COLUMN x INT",
    "CREATE TABLE evil (x INT)",
    "MERGE INTO orders USING x ON 1=1",
    "GRANT ALL ON orders TO PUBLIC",
    "SELECT 1; DROP TABLE orders",
    "SELECT * FROM orders; DELETE FROM orders",
]


@pytest.mark.parametrize("sql", ADVERSARIAL)
def test_adversarial_blocked(sql):
    with pytest.raises(SQLSafetyError):
        ensure_select_only(sql)


def test_blocked_keyword_in_string_literal_ok():
    ensure_select_only("SELECT 'please DROP TABLE x' AS note FROM orders")


def test_replace_function_allowed():
    ensure_select_only("SELECT replace(c_name, 'a', 'b') FROM customer")


def test_comment_smuggling_blocked():
    with pytest.raises(SQLSafetyError):
        ensure_select_only("SELECT 1 /* */ ; DROP TABLE x")


def test_cte_and_union_allowed():
    ensure_select_only("WITH x AS (SELECT 1 AS a) SELECT * FROM x")
    ensure_select_only("SELECT c_name FROM customer UNION SELECT s_name FROM supplier")


def test_referenced_tables():
    assert referenced_tables("SELECT * FROM orders JOIN customer ON 1=1") == [
        "customer",
        "orders",
    ]
    # CTE names are not base tables
    assert referenced_tables(
        "WITH x AS (SELECT * FROM orders) SELECT * FROM x JOIN nation ON 1=1"
    ) == ["nation", "orders"]
    # dotted names resolve to the last segment
    assert referenced_tables("SELECT * FROM db.orders") == ["orders"]


def test_allowlist():
    ensure_tables_allowed("SELECT * FROM orders", ["orders", "customer"])
    with pytest.raises(SQLSafetyError):
        ensure_tables_allowed("SELECT * FROM secret", ["orders"])


def test_limit_injection():
    assert enforce_limit("SELECT * FROM orders").endswith("LIMIT 100")
    assert enforce_limit("SELECT * FROM orders LIMIT 5") == "SELECT * FROM orders LIMIT 5"
    # LIMIT inside a subquery does not count as top-level
    out = enforce_limit("SELECT * FROM (SELECT * FROM orders LIMIT 5) t")
    assert out.endswith("LIMIT 100")


def test_extract_sql_from_markdown():
    resp = "Here you go:\n```sql\nSELECT a\nFROM t\n```\nHope that helps!"
    assert extract_sql_from_response(resp) == "SELECT a FROM t"


def test_extract_sql_with_prose():
    resp = "SELECT a FROM t WHERE x = 1;\nThis query filters by x."
    assert extract_sql_from_response(resp) == "SELECT a FROM t WHERE x = 1"


def test_aggregation_requirements():
    validate_aggregation_requirements(
        "average price per category", "SELECT category, AVG(price) FROM t GROUP BY category"
    )
    with pytest.raises(SQLSafetyError):
        validate_aggregation_requirements("average price", "SELECT price FROM t")
    with pytest.raises(SQLSafetyError):
        validate_aggregation_requirements("how many orders", "SELECT * FROM orders")
    # 'totalprice' must NOT trigger the sum requirement (word-boundary fix)
    validate_aggregation_requirements(
        "top orders by totalprice", "SELECT o_orderkey FROM orders ORDER BY o_totalprice"
    )


def test_structure_distinct_required():
    with pytest.raises(SQLSafetyError):
        validate_query_structure("unique segments", "SELECT c_mktsegment FROM customer")
    validate_query_structure("unique segments", "SELECT DISTINCT c_mktsegment FROM customer")


def test_validate_full_gate():
    out = validate(
        "SELECT c_name FROM customer",
        question="show customers",
        allowed_tables=["customer"],
    )
    assert out.endswith("LIMIT 100")


# ---------------------------------------------------------------- round-2
# regression tests for the judge/advisor findings (VERDICT.md, ADVICE.md)

def test_cte_scan_does_not_excuse_select_list_identifiers():
    # ADVICE(high): identifiers after a comma in the SELECT list must NOT
    # be harvested as CTE names (table-allowlist bypass).
    sql = "WITH a AS (SELECT 1) SELECT o_orderkey, secret.x FROM secret"
    assert referenced_tables(sql) == ["secret"]
    with pytest.raises(SQLSafetyError):
        ensure_tables_allowed(sql, ["orders", "customer"])


def test_cte_chain_still_excused():
    sql = (
        "WITH a AS (SELECT * FROM orders), b AS (SELECT * FROM a) "
        "SELECT * FROM b JOIN customer ON 1=1"
    )
    assert referenced_tables(sql) == ["customer", "orders"]


def test_comma_from_list_all_tables_collected():
    sql = "SELECT * FROM orders o, customer c WHERE o.o_custkey = c.c_custkey"
    assert referenced_tables(sql) == ["customer", "orders"]
    with pytest.raises(SQLSafetyError):
        ensure_tables_allowed("SELECT * FROM orders, secret", ["orders"])


def test_enforce_limit_survives_trailing_comment():
    # ADVICE(medium): LIMIT must not be swallowed by a trailing -- comment
    out = enforce_limit("SELECT * FROM orders -- note")
    assert out.endswith("LIMIT 100")
    assert "-- note" not in out.rsplit("LIMIT", 1)[-1]
    out2 = enforce_limit("SELECT * FROM orders; -- note")
    assert out2.endswith("LIMIT 100") and ";" not in out2


def test_enforce_limit_union_branch_gap_closed():
    # VERDICT "What's wrong" #2: LIMIT bound to one union branch must not
    # suppress the outer bound.
    out = enforce_limit("SELECT 1 LIMIT 5 UNION SELECT 2")
    assert out.strip().lower().startswith("select * from (")
    assert out.rstrip().endswith("LIMIT 100")
    # tail LIMIT after the set-op already bounds the whole statement
    assert enforce_limit("SELECT 1 UNION SELECT 2 LIMIT 5").rstrip().endswith("LIMIT 5")


def test_enforce_limit_clamps_oversized_and_all():
    """r2 ADVICE: a pre-existing top-level LIMIT larger than max_rows
    (or LIMIT ALL) must be clamped, not trusted."""
    from dbt_nlp_sqlizer_team04_spark.plans.safety import enforce_limit

    out = enforce_limit("SELECT * FROM orders LIMIT 100000000", max_rows=100)
    assert out.strip().endswith("LIMIT 100") and "__bounded" in out
    out = enforce_limit("SELECT * FROM orders LIMIT ALL", max_rows=100)
    assert out.strip().endswith("LIMIT 100") and "__bounded" in out
    # small limits are left alone
    out = enforce_limit("SELECT * FROM orders LIMIT 5", max_rows=100)
    assert out.strip().endswith("LIMIT 5") and "__bounded" not in out
    # equal to the cap is fine too
    out = enforce_limit("SELECT * FROM orders LIMIT 100", max_rows=100)
    assert "__bounded" not in out


# ------------------------------------------------------ verdict memo
def _verdict(fn, *args, **kwargs):
    try:
        return "ok", fn(*args, **kwargs)
    except SQLSafetyError as e:
        assert type(e) is SQLSafetyError
        return "refused", str(e)


def test_validate_memo_matches_unmemoized(spark, sf_smoke):
    """The memoized verdict equals the gate run without the memo, on the
    first and the second call, over refusal SQL, the adversarial probes,
    bounding cases and every generated candidate of the corpus questions
    (with the question, allowlist and schema context the ladder passes)."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import NL2SQLEngine
    from tests.nl_corpus import perfbench_workload
    from tests.test_nl2sql_pipeline import EVAL_QUESTIONS

    refusals = [tpl.format(n=n) for tpl in perfbench_workload()._REFUSALS for n in (1, 77)]
    allowed = ["orders", "customer", "lineitem", "nation", "region"]
    cases = [((sql,), {"allowed_tables": allowed}) for sql in refusals + ADVERSARIAL]
    cases += [((sql,), {}) for sql in ADVERSARIAL]
    cases += [
        (("SELECT * FROM orders",), {"max_rows": 7}),
        (("SELECT * FROM orders",), {"max_rows": 7.0}),
        (("SELECT * FROM orders LIMIT 100000000",), {"max_rows": 100}),
        (("SELECT * FROM orders LIMIT 5 UNION SELECT * FROM orders",), {}),
        (("SELECT o_orderkey FROM orders",), {"question": "average totalprice"}),
    ]
    engine = NL2SQLEngine.from_sf_dir(spark, sf_smoke, sample_size=5)
    questions = EVAL_QUESTIONS + [
        "count of orders and average totalprice per orderpriority",
        "unique mktsegment values from customer",
        "orders with their customers",
        "give me everything in customer",
    ]
    for q in questions:
        relevant = engine.link(q)[0]
        for cand in engine.generate(q):
            cases.append(((cand.sql,), {
                "question": q, "allowed_tables": list(engine.schema),
                "max_rows": 100, "schema_context": relevant,
            }))
    validate.cache_clear()
    for _ in range(2):
        for args, kwargs in cases:
            assert _verdict(validate, *args, **kwargs) == _verdict(
                safety._validate, *args, **kwargs
            ), (args, kwargs)
    info = validate.cache_info()
    assert info.hits >= len(cases) and info.maxsize == VERDICT_MEMO_MAX_ENTRIES
    verdicts = {_verdict(validate, *a, **kw)[0] for a, kw in cases}
    assert verdicts == {"ok", "refused"}


def test_validate_memo_copies_mutable_arguments():
    """The key is built from copies: mutating the caller's allowlist or
    schema context after a call does not leak into the memo."""
    allowed = ["orders", "customer"]
    sql = "SELECT * FROM customer"
    assert validate(sql, allowed_tables=allowed).startswith(sql)
    allowed.remove("customer")
    with pytest.raises(SQLSafetyError, match="Table not allowed in context: customer"):
        validate(sql, allowed_tables=allowed)
    allowed.append("customer")
    assert validate(sql, allowed_tables=allowed).startswith(sql)

    q = "orders with their customers"
    join_sql = "SELECT * FROM orders, customer"
    ctx = {"orders": ["o_orderkey"], "customer": ["c_custkey"]}
    with pytest.raises(SQLSafetyError, match="no JOIN"):
        validate(join_sql, question=q, schema_context=ctx)
    ctx.pop("customer")
    assert validate(join_sql, question=q, schema_context=ctx).startswith(join_sql)
    ctx["customer"] = ["c_custkey"]
    with pytest.raises(SQLSafetyError, match="no JOIN"):
        validate(join_sql, question=q, schema_context=ctx)


def test_validate_memo_bypass_and_errors():
    """Over-long input is gated without the memo; exceptions other than
    SQLSafetyError propagate and are not stored."""
    validate.cache_clear()
    long_sql = "SELECT " + ", ".join(f"{i} AS c{i}" for i in range(800))
    assert len(long_sql) > VERDICT_MEMO_MAX_CHARS
    for _ in range(2):
        assert validate(long_sql) == safety._validate(long_sql)
        with pytest.raises(SQLSafetyError, match="Multiple statements"):
            validate(long_sql + "; DROP TABLE orders")
    assert validate.cache_info().currsize == 0
    for _ in range(2):
        with pytest.raises(TypeError):
            validate("SELECT 1 LIMIT 5", max_rows="many")
    assert validate.cache_info().currsize == 0
