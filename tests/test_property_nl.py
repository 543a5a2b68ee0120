"""Property sweep over the NL compilers (r9 verdict task 6): phrasings
generated from the template grammars (aggregate × measure × filter ×
group combos) must (a) compile, (b) pass the safety gate on every
produced candidate, (c) execute, and (d) — for the seeded sample each
run draws — agree value-for-value with a DuckDB gold twin composed
from the same fragments. The r9 format-string sweep found a real
rendering bug; phrasing space is the biggest remaining untested input
surface, so this sweeps BOTH planes:

- NL2SQL (plans/nl2sql.py) over the orders table;
- NL2Doc (plans/nl2doc.py) over the events collection.

Only combos the grammar PROMISES are generated (filter field, measure
field, and group field all distinct — the evidence-spent rule means
"average balance of customers with balance over N" is deliberately
out of contract)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_nlp_sqlizer_team04_spark.plans.executor import ResultCache

SF = "/root/testdata/sf0.001"

_AGGS = {
    "count": ("count of orders", "COUNT(*)"),
    "avg": ("average totalprice of orders", "AVG(o_totalprice)"),
    "sum": ("total totalprice of orders", "SUM(o_totalprice)"),
    "max": ("maximum totalprice of orders", "MAX(o_totalprice)"),
    "min": ("minimum totalprice of orders", "MIN(o_totalprice)"),
}
_GROUPS = {
    "priority": "o_orderpriority",
    "status": "o_orderstatus",
}
_DATE_FILTERS = {
    None: "",
    "before 1995-06-01": "o_orderdate < DATE '1995-06-01'",
    "after 1996-03-15": "o_orderdate > DATE '1996-03-15'",
    "since 1997-01-01": "o_orderdate >= DATE '1997-01-01'",
}

_DOC_AGGS = {
    "count": ("count", "COUNT(*)"),
    "avg": ("average value", "AVG(value)"),
    "sum": ("total value", "SUM(value)"),
    "max": ("max value", "MAX(value)"),
    "min": ("min value", "MIN(value)"),
}
_DOC_FILTERS = {
    None: "",
    "before 2024-01-15": "ts < '2024-01-15'",
    "since 2024-01-20": "ts >= '2024-01-20'",
}


@pytest.fixture(scope="module")
def sql_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import crawl_schema
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import NL2SQLEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import register_views

    register_views(spark, SF, ("customer", "orders"))
    metadata = crawl_schema(
        spark, SF, tables=("customer", "orders"),
        sample_size=5, exact_distinct=True,
    )
    return NL2SQLEngine(spark, metadata)


@pytest.fixture(scope="module")
def doc_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    store = DocumentStore(spark)
    store.register("events", load_table(spark, SF, "events"))
    store.register("documents", load_table(spark, SF, "documents"))
    return NL2DocEngine(store)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for t in ("orders", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return con


def _norm(rows, val_idx):
    out = set()
    for r in rows:
        r = list(r)
        v = r[val_idx]
        r[val_idx] = round(float(v), 4) if v is not None else None
        out.add(tuple(str(x) for x in r))
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    agg=st.sampled_from(sorted(_AGGS)),
    grp=st.sampled_from(sorted(_GROUPS)),
    flt=st.sampled_from(sorted(_DATE_FILTERS, key=str)),
)
def test_nl2sql_grammar_sweep(sql_engine, oracle, agg, grp, flt):
    """Every grammar combo compiles, every candidate passes the safety
    gate, the winning SQL carries the injected LIMIT, and the values
    match the DuckDB twin built from the same fragments."""
    from dbt_nlp_sqlizer_team04_spark.plans.safety import (
        ensure_select_only,
        ensure_tables_allowed,
    )

    phrase, gold_agg = _AGGS[agg]
    question = f"{phrase} per {grp}" + (f" {flt}" if flt else "")

    # (b) every generated candidate must clear the HARD safety gate
    # (SELECT-only + table allowlist). The aggregation-requirement
    # check is deliberately NOT asserted per-candidate: the retry
    # ladder uses it to reject weaker fallback candidates, so only the
    # WINNING SQL must satisfy it (validated below through res.ok,
    # which routes every execution through the full validate()).
    for cand in sql_engine.generate(question):
        ensure_select_only(cand.sql)
        ensure_tables_allowed(cand.sql, list(sql_engine.schema))

    res = sql_engine.ask(question, cache=ResultCache(SF))
    assert res.ok, f"{question!r} failed: {res.error}"
    assert "limit" in res.sql.lower()  # S3 injection present

    gcol = _GROUPS[grp]
    where = f"WHERE {_DATE_FILTERS[flt]}" if flt else ""
    gold = oracle.execute(
        f"SELECT {gcol}, {gold_agg} FROM orders {where} GROUP BY {gcol}"
    ).fetchall()

    # map the engine's output columns: the group key is the column
    # whose values live in the gold group domain; the aggregate is the
    # other one
    assert len(res.columns) == 2, (question, res.columns)
    domain = {g for g, _ in gold}
    gi = 0 if all(r[0] in domain for r in res.rows) else 1
    got = _norm([(r[gi], r[1 - gi]) for r in res.rows], 1)
    assert got == _norm(gold, 1), question


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    agg=st.sampled_from(sorted(_DOC_AGGS)),
    flt=st.sampled_from(sorted(_DOC_FILTERS, key=str)),
)
def test_nl2doc_grammar_sweep(doc_engine, oracle, agg, flt):
    """Every document-plane grammar combo compiles to a query dict,
    executes through the store, and matches the DuckDB twin."""
    phrase, gold_agg = _DOC_AGGS[agg]
    question = f"{phrase} per event_type for events" + (
        f" {flt}" if flt else ""
    )
    q = doc_engine.template_query(question)
    assert q["collection"] == "events", question

    df, compiled = doc_engine.ask(question)
    rows = df.collect()
    assert rows, question
    assert compiled["collection"] == "events"

    where = f"WHERE {_DOC_FILTERS[flt]}" if flt else ""
    gold = oracle.execute(
        f"SELECT event_type, {gold_agg} FROM events {where} "
        "GROUP BY event_type"
    ).fetchall()
    domain = {g for g, _ in gold}
    cols = df.columns
    gi = next(i for i, c in enumerate(cols)
              if all(r[c] in domain for r in rows))
    vi = next(i for i in range(len(cols)) if i != gi)
    got = _norm([(r[cols[gi]], r[cols[vi]]) for r in rows], 1)
    assert got == _norm(gold, 1), question


def test_nl2sql_iso_date_filter_regression(sql_engine, oracle):
    """Named regression for the bug this sweep found: 'after
    1996-03-15' used to compile as the bare YEAR filter 'after 1996'
    (_YEAR_CMP_RE claimed the ISO literal's year prefix), silently
    dropping the month/day. The full-date tier must win and the year
    tier must not double-claim."""
    res = sql_engine.ask(
        "count of orders per priority after 1996-03-15", cache=ResultCache(SF)
    )
    assert res.ok
    s = res.sql.lower()
    assert "date '1996-03-15'" in s
    assert "year(" not in s
    gold = dict(oracle.execute(
        "SELECT o_orderpriority, COUNT(*) FROM orders "
        "WHERE o_orderdate > DATE '1996-03-15' GROUP BY 1"
    ).fetchall())
    got = dict((r[0], r[1]) if r[0] in gold else (r[1], r[0])
               for r in res.rows)
    assert got == gold


_LATEST_WORDS = {"latest": True, "newest": True, "earliest": False,
                 "oldest": False}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    word=st.sampled_from(sorted(_LATEST_WORDS)),
    n=st.sampled_from([None, 2, 3]),
    grp=st.sampled_from(["user_id", "event_type"]),
)
def test_nl2doc_latest_per_group_sweep(doc_engine, oracle, word, n, grp):
    """The latest/earliest[-N]-per-group grammar family: every combo
    compiles to the sort-then-group $first/$firstN idiom and matches
    the DuckDB ordered-list twin (scalar for the 1-form, JSON array
    for the N-form through the executor's S10 coercion)."""
    import json as _json

    q = f"{word} {f'{n} ' if n else ''}event_id per {grp} for events"
    df, compiled = doc_engine.ask(q)
    rows = {r["_id"]: r for r in df.collect()}
    assert rows
    desc = _LATEST_WORDS[word]
    order = f"ts {'DESC' if desc else 'ASC'}, event_id"
    stem = "latest" if desc else "earliest"
    if n:
        gold = oracle.execute(
            f"SELECT {grp}, to_json((list(event_id ORDER BY {order}))"
            f"[1:{n}]) FROM events GROUP BY {grp}"
        ).fetchall()
        col = f"{stem}{n}_event_id"
        for g, arr in gold:
            assert _json.loads(rows[g][col]) == _json.loads(arr), q
    else:
        gold = oracle.execute(
            f"SELECT {grp}, (list(event_id ORDER BY {order}))[1] "
            f"FROM events GROUP BY {grp}"
        ).fetchall()
        col = f"{stem}_event_id"
        for g, v in gold:
            assert rows[g][col] == v, q


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    fam=st.one_of(
        st.tuples(st.just("topn"), st.sampled_from([2, 3, 5]),
                  st.sampled_from(["user_id", "event_type"])),
        st.tuples(st.just("median"), st.none(), st.none()),
        st.tuples(st.just("pct"), st.sampled_from([25, 50, 90, 99]),
                  st.none()),
    )
)
def test_nl2doc_topn_and_percentile_sweep(doc_engine, oracle, fam):
    """The top-N-per-group and median/percentile grammar families
    against DuckDB ordered-list-slice / quantile_cont twins (the
    engine computes the exact interpolated percentile)."""
    import json as _json

    kind, p1, p2 = fam
    if kind == "topn":
        n, grp = p1, p2
        q = f"top {n} event_id by value per {grp} for events"
        df, _c = doc_engine.ask(q)
        rows = {r["_id"]: r for r in df.collect()}
        gold = oracle.execute(
            f"SELECT {grp}, to_json((list(event_id "
            f"ORDER BY value DESC, event_id))[1:{n}]) "
            f"FROM events GROUP BY {grp}"
        ).fetchall()
        col = f"top{n}_event_id"
        for g, arr in gold:
            assert _json.loads(rows[g][col]) == _json.loads(arr), q
        return
    if kind == "median":
        q = "median value per event_type for events"
        col, gold_expr = "median_value", "quantile_cont(value, 0.5)"
    else:
        q = f"{p1}th percentile of value per event_type for events"
        col, gold_expr = f"p{p1}_value", f"quantile_cont(value, {p1/100})"
    df, _c = doc_engine.ask(q)
    rows = {r["_id"]: r for r in df.collect()}
    gold = oracle.execute(
        f"SELECT event_type, {gold_expr} FROM events GROUP BY event_type"
    ).fetchall()
    assert rows
    for g, v in gold:
        assert round(rows[g][col], 6) == round(v, 6), q


_SALAD = [
    "count", "of", "orders", "events", "documents", "per", "priority",
    "status", "total", "average", "sum", "distinct", "unique", "latest",
    "earliest", "3", "5", "top", "percentage", "share", "matching",
    "'a+'", "'[0-9'", "containing", "a", "number", "median", "90th",
    "percentile", "buckets", "by", "sample", "page", "second", "combine",
    "with", "before", "after", "1995-06-01", "1996", "running", "total",
    "exponential", "moving", "day", "ancestors", "descendants", "of",
    "450", "levels", "up", "to", "how", "many", "missing", "days",
    "daily", "year-month", "month", "as", "yyyy-mm", "value", "balance",
    "user_id", "event_type", "totalprice", "for", "their", "counts",
    "over", "under", "between", "and", "without", "$where", "--", ";",
]


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(words=st.lists(st.sampled_from(_SALAD), min_size=1, max_size=12))
def test_nl_compilers_never_crash_on_word_salad(
    sql_engine, doc_engine, words
):
    """Robustness: arbitrary keyword-salad questions — tier-regex
    fragments colliding in any order, broken quotes, SQL-comment
    tokens — must either compile (a query dict / candidate list) or
    raise the modules' typed ValueErrors. Never an IndexError,
    KeyError, TypeError, or re.error out of the compilers. A compiled
    document pipeline is also BUILT (Column construction, no job):
    the r11 ADVICE case — a user-quoted malformed regex like '[0-9'
    riding the nl71 tier — must surface as the typed
    DocumentQueryError at build, never a raw Spark exception."""
    q = " ".join(words)
    try:
        out = doc_engine.template_query(q)
        assert isinstance(out, dict)
        if out.get("pipeline") is not None:
            doc_engine.store.aggregate(out["collection"], out["pipeline"])
    except ValueError:
        pass  # typed compiler errors (incl. DocumentQueryError) allowed
    cands = sql_engine.generate(q)
    for c in cands:
        assert isinstance(c.sql, str) and c.sql
