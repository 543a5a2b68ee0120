"""Fixed inputs for the Mongo expression compiler's pinned reference
(tests/expr_compiler_reference.json): small deterministic frames, the
correlated-$lookup specs and the reserved-name hygiene specs, plus the
plan/row renderings the reference stores. The reference holds the
canonicalized optimized plan and the rows each spec produced under the
per-node Column compiler that the SQL-text emitter replaced; it is data
from that compiler and is never regenerated from the current code."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import DataFrame, SparkSession

REFERENCE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "expr_compiler_reference.json")

_WORDS = ["the", "quick", "brown", "fox", "jumping", "over", "lazy", "dogs",
          "singing", "and", "a", "spark", "engine", "reading", "parquet"]


def battery_frame(spark: SparkSession) -> DataFrame:
    """The documents-shaped frame every battery spec runs over: the
    columns the specs read (text, lang, source, n_chars, ts), 24 rows,
    checkpointed so the plan's leaf is a plain scan."""
    langs = ["en", "de", "fr", "en-gb", "es", "de"]
    rows = []
    for i in range(24):
        words = [_WORDS[(i * 7 + j * 3) % len(_WORDS)] for j in range(3 + i % 6)]
        rows.append((
            i,
            " ".join(words),
            langs[i % len(langs)],
            f"src{i % 4}",
            10 + (i * 37) % 600,
            dt.datetime(2024, 1 + i % 12, 1 + (i * 5) % 28,
                        (i * 3) % 24, (i * 11) % 60, (i * 13) % 60),
        ))
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long, ts timestamp",
    )
    return df.localCheckpoint()


def lookup_frames(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """customer/orders-shaped frames for the correlated $lookup specs:
    customers 0..7, orders for customers 0..5 (6 and 7 match nothing)."""
    customers = spark.createDataFrame(
        [(k, f"c{k}", float(1000 - 37 * k)) for k in range(8)],
        "c_custkey long, c_name string, c_acctbal double",
    ).localCheckpoint()
    orders = spark.createDataFrame(
        [(o, o % 6, "FOP"[o % 3], 50000.0 + 9000.0 * o,
          dt.datetime(2023, 1 + o % 12, 1 + o % 27))
         for o in range(30)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp",
    ).localCheckpoint()
    return customers, orders


# The $lookup specs of the correlated registry entries (q168, q177,
# q178, q181), plus shapes that put let-literals, lambdas and
# expression keys under the correlated resolver.
LOOKUP_SPECS = {
    "q168": {
        "from": "orders", "let": {"cid": "$c_custkey"},
        "pipeline": [{"$match": {"$expr": {"$and": [
            {"$eq": ["$o_custkey", "$$cid"]},
            {"$gt": ["$o_totalprice", 100000]},
        ]}}}],
        "as": "big_orders",
    },
    "q177": {
        "from": "orders", "let": {"cid": "$c_custkey"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$o_custkey", "$$cid"]}}},
            {"$sort": {"o_orderdate": -1, "o_orderkey": 1}},
            {"$limit": 3},
            {"$project": {"o_orderkey": 1, "o_totalprice": 1}},
        ],
        "as": "recent",
    },
    "q178": {
        "from": "orders", "let": {"cid": "$c_custkey"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$o_custkey", "$$cid"]}}},
            {"$group": {"_id": None, "n": {"$sum": 1},
                        "spend": {"$sum": "$o_totalprice"}}},
        ],
        "as": "stats",
    },
    "q181": {
        "from": "orders", "let": {"cid": "$c_custkey"},
        "pipeline": [
            {"$match": {"$expr": {"$eq": ["$o_custkey", "$$cid"]}}},
            {"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1},
                        "spend": {"$sum": "$o_totalprice"}}},
        ],
        "as": "by_status",
    },
    "let_literal_lambda": {
        "from": "orders", "let": {"cid": "$c_custkey", "floor": 100000},
        "pipeline": [{"$match": {"$expr": {"$and": [
            {"$eq": ["$o_custkey", "$$cid"]},
            {"$gt": [{"$size": {"$filter": {
                "input": {"$literal": [1, 2, 3]}, "as": "e",
                "cond": {"$lt": ["$$e", "$$cid"]}}}}, 0]},
            {"$gte": ["$o_totalprice", "$$floor"]},
        ]}}}],
        "as": "hits",
    },
    "keyed_expr_group": {
        "from": "orders", "localField": "c_custkey",
        "foreignField": "o_custkey",
        "pipeline": [
            {"$match": {"$expr": {"$lt": ["$o_orderkey", 25]}}},
            {"$group": {"_id": {"$toLower": "$o_orderstatus"},
                        "top": {"$max": "$o_totalprice"},
                        "keys": {"$push": {"$add": ["$o_orderkey", "$$cid"]}},
                        "avg": {"$avg": {"$multiply": [
                            "$o_totalprice", 2]}}}},
        ],
        "let": {"cid": "$c_custkey"},
        "as": "per_status",
    },
}


# Every lambda the compiler introduces, with the user's variable '$$N'
# spliced into its operands. N is bound around it by a $map ('as') or a
# $let ('vars'), for each name the compiler's own templates once used.
RESERVED_NAMES = ["this", "value", "e", "i", "m", "acc", "later", "x", "y"]


def _inner_ops(ref: str) -> dict[str, dict]:
    return {
        "$map": {"$map": {"input": {"$literal": ["p", "q"]}, "as": "z",
                          "in": {"$concat": ["$$z", ref]}}},
        "$filter": {"$filter": {"input": {"$literal": ["ab", "zz", "cd"]},
                                "as": "z", "cond": {"$eq": ["$$z", ref]}}},
        "$reduce": {"$reduce": {"input": {"$literal": ["p", "q"]},
                                "initialValue": "",
                                "in": {"$concat": ["$$value", "$$this", ref]}}},
        "$let": {"$let": {"vars": {"z": {"$concat": [ref, "!"]}},
                          "in": {"$concat": ["$$z", ref]}}},
        "$arrayToObject": {"$arrayToObject": [[{"k": ref, "v": "1"},
                                               {"k": "k2", "v": ref}]]},
        "$objectToArray": {"$objectToArray": {
            "$arrayToObject": [[{"k": ref, "v": ref}]]}},
        "$mergeObjects": {"$mergeObjects": [
            {"$arrayToObject": [[{"k": "a", "v": ref}]]},
            {"$arrayToObject": [[{"k": ref, "v": "z"}]]}]},
        "$regexFindAll": {"$regexFindAll": {
            "input": {"$concat": [ref, "x"]}, "regex": "[a-z]"}},
        "$zip": {"$zip": {"inputs": [[ref], [ref, "y"]],
                          "useLongestLength": True}},
        "$anyElementTrue": {"$anyElementTrue": [[{"$eq": [ref, "ab"]},
                                                 False]]},
        "$allElementsTrue": {"$allElementsTrue": [[{"$eq": [ref, "ab"]},
                                                   True]]},
    }


def hygiene_specs() -> dict[str, dict]:
    """label → spec, over :func:`hygiene_frame` (xs=[1, 2], s='ab')."""
    out = {
        # the two reported captures
        "repro/arrayToObject": {"$map": {
            "input": "$xs", "as": "e",
            "in": {"$arrayToObject": [[{"k": "$$e", "v": "1"}]]}}},
        "repro/regexFindAll": {"$map": {
            "input": {"$literal": ["ab", "cd"]}, "as": "m",
            "in": {"$regexFindAll": {
                "input": {"$concat": ["$$m", "x"]}, "regex": "[a-z]"}}}},
    }
    for name in RESERVED_NAMES:
        for op, inner in _inner_ops("$$" + name).items():
            out[f"map/{name}/{op}"] = {"$map": {
                "input": {"$literal": ["ab", "cd"]}, "as": name,
                "in": inner}}
            out[f"let/{name}/{op}"] = {"$let": {
                "vars": {name: "$s"}, "in": inner}}
    return out


def hygiene_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [([1, 2], "ab")], "xs array<long>, s string"
    ).localCheckpoint()


def spec_key(spec) -> str:
    return json.dumps(spec, sort_keys=True)


def canonical_plan(df: DataFrame) -> str:
    return (df._jdf.queryExecution().optimizedPlan()  # noqa: SLF001
            .canonicalized().toString())


def rows_text(df: DataFrame) -> list[str]:
    return sorted(repr(r) for r in df.collect())


def load_reference() -> dict:
    with open(REFERENCE_PATH) as fh:
        return json.load(fh)
