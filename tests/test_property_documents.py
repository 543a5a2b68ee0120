"""Property-based differential test of the Mongo aggregation expression
dialect (operators/documents._ref, which compiles an expression document
to one SQL expression): random expression trees must evaluate
identically under the compiled Catalyst expression and a direct
Python reference interpreter of the Mongo semantics. The unit tests pin
hand-picked shapes; this sweeps the composition space ($cond over
comparisons over arithmetic over string ops, arbitrary nesting)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

ROWS = [
    {"a": 3, "b": 7, "s": "Hello"},
    {"a": -2, "b": 0, "s": "x"},
    {"a": 10, "b": 10, "s": "Spark SQL"},
    {"a": 0, "b": -5, "s": ""},
]


# ---- reference interpreter (Mongo semantics over non-null scalars) ----
def _ref_eval(spec, row):
    if isinstance(spec, str) and spec.startswith("$"):
        return row[spec[1:]]
    if not isinstance(spec, dict):
        return spec
    (op, operands), = spec.items()
    if op == "$cond":
        c, t, e = (_ref_eval(x, row) for x in operands)
        return t if c else e
    args = [
        _ref_eval(x, row)
        for x in (operands if isinstance(operands, list) else [operands])
    ]
    if op == "$eq":
        return args[0] == args[1]
    if op == "$ne":
        return args[0] != args[1]
    if op == "$gt":
        return args[0] > args[1]
    if op == "$gte":
        return args[0] >= args[1]
    if op == "$lt":
        return args[0] < args[1]
    if op == "$lte":
        return args[0] <= args[1]
    if op == "$add":
        return sum(args)
    if op == "$subtract":
        return args[0] - args[1]
    if op == "$multiply":
        out = 1
        for x in args:
            out *= x
        return out
    if op == "$toUpper":
        return args[0].upper()
    if op == "$toLower":
        return args[0].lower()
    if op == "$concat":
        return "".join(args)
    if op == "$strLenCP":
        return len(args[0])
    raise AssertionError(op)


# ---- strategies: typed expression trees ----
def _num(depth: int):
    leaf = st.one_of(
        st.sampled_from(["$a", "$b"]), st.integers(-20, 20)
    )
    if depth <= 0:
        return leaf
    sub = _num(depth - 1)
    return st.one_of(
        leaf,
        st.builds(lambda x, y: {"$add": [x, y]}, sub, sub),
        st.builds(lambda x, y: {"$subtract": [x, y]}, sub, sub),
        st.builds(lambda x, y: {"$multiply": [x, y]}, sub, sub),
        st.builds(lambda s: {"$strLenCP": [s]}, _strng(depth - 1)),
        st.builds(
            lambda c, t, e: {"$cond": [c, t, e]},
            _boolean(depth - 1), sub, sub,
        ),
    )


def _strng(depth: int):
    leaf = st.one_of(
        st.just("$s"),
        st.text(
            alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
            max_size=5,
        ),
    )
    if depth <= 0:
        return leaf
    sub = _strng(depth - 1)
    return st.one_of(
        leaf,
        st.builds(lambda x: {"$toUpper": [x]}, sub),
        st.builds(lambda x: {"$toLower": [x]}, sub),
        st.builds(lambda x, y: {"$concat": [x, y]}, sub, sub),
    )


def _boolean(depth: int):
    n = _num(max(depth - 1, 0))
    ops = st.sampled_from(["$eq", "$ne", "$gt", "$gte", "$lt", "$lte"])
    return st.builds(lambda o, x, y: {o: [x, y]}, ops, n, n)


@pytest.fixture(scope="module")
def fixture_df(spark):
    return spark.createDataFrame(
        [(r["a"], r["b"], r["s"]) for r in ROWS],
        "a long, b long, s string",
    ).cache()


@settings(max_examples=25, deadline=None)
@given(spec=_num(3))
def test_expr_dialect_matches_reference(spark, fixture_df, spec):
    from dbt_nlp_sqlizer_team04_spark.operators.documents import _ref

    got = [
        r["out"]
        for r in fixture_df.select(
            "a", _ref(spec).alias("out")
        ).orderBy("a").collect()
    ]
    want = [
        _ref_eval(spec, row) for row in sorted(ROWS, key=lambda r: r["a"])
    ]
    assert got == want, spec


# ---- r9: %-format translator property --------------------------------
_SPEC_EXPECT = {
    "%Y": "2026", "%m": "03", "%d": "05", "%H": "07", "%M": "08",
    "%S": "09", "%L": "123", "%j": "064", "%%": "%",
}
# literal alphabet deliberately includes Spark datetime pattern letters
# (y/M/d/H/m/s), the quote char, and separators — the translator must
# quote literal runs so none of them are interpreted as pattern fields
_LITERALS = list("yMdHmsT 'Z:/-_.!")


@settings(max_examples=20, deadline=None)
@given(st.lists(
    st.one_of(
        st.sampled_from(sorted(_SPEC_EXPECT)),
        st.sampled_from(_LITERALS),
    ),
    min_size=1, max_size=12,
))
def test_date_to_string_format_translation(spark, tokens):
    """$dateToString renders any mix of supported %-specifiers and
    literal text (including pattern letters and quotes) exactly as the
    spec-level expansion predicts — the literal-quoting in
    _mongo_datetime_fmt is what this sweeps."""
    import datetime

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentStore,
    )

    fmt = "".join(tokens)
    expected = "".join(
        _SPEC_EXPECT.get(t, t) for t in tokens
    )
    s = DocumentStore(spark)
    s.register("t1", spark.createDataFrame(
        [(datetime.datetime(2026, 3, 5, 7, 8, 9, 123000),)],
        "ts timestamp"))
    row = s.aggregate("t1", [{"$addFields": {
        "out": {"$dateToString": {"format": fmt, "date": "$ts"}}}}]
    ).collect()[0]
    assert row["out"] == expected, (fmt, row["out"], expected)
