"""Fixed inputs for the SQL template tier's pinned reference
(tests/nl2sql_template_reference.json): the engines, the question sets
and the rendering the reference stores.

For each question the reference holds two lists of (sql, method,
confidence): ``NL2SQLEngine.template_candidates`` in emission order and
``generate()`` in ranked order. It is data from the single-method
template compiler that the rule table replaced and is never
regenerated from the current code.

The question sets, per engine:

- ``smoke`` (the sf0.001 corpus, ``sample_size=5``, as the pipeline
  tests build it): every question literal of tests/test_nl2sql_pipeline.py
  and the shared corpus (tests/nl_corpus.py);
- ``property`` (customer + orders with exact distinct counts, as the NL
  property sweep builds it): the full aggregate x group x date-filter
  product and ``SALAD_DRAWS`` seeded word salads over its vocabulary;
- ``school`` and ``store`` (the parity fixtures, with the parity run's
  canned LLM double): the parity questions and safety probes.
"""

from __future__ import annotations

import ast
import json
import os
import random

from dbt_nlp_sqlizer_team04_spark.plans.intent import analyze_query_intent
from tests.conftest import SF_SMOKE

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE_PATH = os.path.join(HERE, "nl2sql_template_reference.json")

SALAD_SEED = 8
SALAD_DRAWS = 300

# the test-module calls whose first argument is a question
_QUESTION_VERBS = {"query_df", "ask", "generate"}


def _is_question(node) -> bool:
    # SQL probes ("DROP TABLE customer") lead with an upper-case verb;
    # single tokens ("$first", "cnt") are column or operator names
    return (isinstance(node, ast.Constant) and isinstance(node.value, str)
            and " " in node.value.strip() and not node.value.split()[0].isupper())


def question_literals(path: str, verbs: set[str]) -> list[str]:
    """Every question literal of the Python file at ``path``: first
    arguments of calls to a method named in ``verbs``, and string lists
    or tuples bound to a name or looped over, in source order and
    without repeats."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    out: list[str] = []
    for node in ast.walk(tree):
        found = []
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in verbs and node.args):
            found = [node.args[0]]
        elif isinstance(node, (ast.Assign, ast.For)):
            seq = node.value if isinstance(node, ast.Assign) else node.iter
            if isinstance(seq, (ast.List, ast.Tuple)) and seq.elts and all(
                isinstance(e, ast.Constant) and isinstance(e.value, str)
                for e in seq.elts
            ):
                found = seq.elts
        out += [e.value for e in found if _is_question(e)]
    return list(dict.fromkeys(out))


def smoke_questions() -> list[str]:
    from tests.nl_corpus import corpus_questions

    pipeline = question_literals(os.path.join(HERE, "test_nl2sql_pipeline.py"), _QUESTION_VERBS)
    return list(dict.fromkeys(pipeline + corpus_questions()))


def property_questions() -> list[str]:
    from tests.test_property_nl import _AGGS, _DATE_FILTERS, _GROUPS, _SALAD

    product = [
        f"{_AGGS[agg][0]} per {grp}" + (f" {flt}" if flt else "")
        for agg in sorted(_AGGS)
        for grp in sorted(_GROUPS)
        for flt in sorted(_DATE_FILTERS, key=str)
    ]
    rng = random.Random(SALAD_SEED)
    salads = [
        " ".join(rng.choice(_SALAD) for _ in range(rng.randint(1, 12)))
        for _ in range(SALAD_DRAWS)
    ]
    return list(dict.fromkeys(product + salads))


def parity_questions() -> list[str]:
    from dbt_nlp_sqlizer_team04_spark.plans import parity_eval as pe

    return [q.question for q in pe.QUESTIONS] + [p for _c, p in pe.SAFETY_PROBES]


def smoke_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import NL2SQLEngine

    return NL2SQLEngine.from_sf_dir(spark, SF_SMOKE, sample_size=5)


def property_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.profiler import crawl_schema
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import NL2SQLEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import register_views

    register_views(spark, SF_SMOKE, ("customer", "orders"))
    metadata = crawl_schema(
        spark, SF_SMOKE, tables=("customer", "orders"),
        sample_size=5, exact_distinct=True,
    )
    return NL2SQLEngine(spark, metadata)


def parity_engines(spark, root: str) -> dict:
    """The school and store engines on a child session (the store
    fixture re-uses the name ``orders``)."""
    from dbt_nlp_sqlizer_team04_spark.plans import parity_eval as pe
    from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import NL2SQLEngine

    child = spark.newSession()
    out = {}
    for name, build, tables in (
        ("school", pe.build_school_fixture, pe.SCHOOL_TABLES),
        ("store", pe.build_store_fixture, pe.STORE_TABLES),
    ):
        d = os.path.join(root, name)
        build(child, d)
        out[name] = NL2SQLEngine.from_sf_dir(child, d, tables=tables)
    return out


def _rows(cands) -> list:
    return [[c.sql, c.method, c.confidence] for c in cands]


def render(engine, question: str) -> dict:
    """The two stored lists of one question; an exception is stored as
    ``["error", <class name>, <message>]`` in place of the list."""
    out = {}
    for key in ("templates", "generate"):
        try:
            if key == "templates":
                relevant, scores = engine.link(question)
                analysis = analyze_query_intent(question, relevant)
                cands = engine.template_candidates(question, analysis, relevant, scores)
            else:
                cands = engine.generate(question)
            out[key] = _rows(cands)
        except Exception as e:  # noqa: BLE001 — an error must repeat exactly too
            out[key] = ["error", type(e).__name__, str(e)]
    return out


def dumps(entry: dict) -> str:
    return json.dumps(entry, sort_keys=True)


def load_reference() -> dict:
    with open(REFERENCE_PATH) as fh:
        return json.load(fh)
