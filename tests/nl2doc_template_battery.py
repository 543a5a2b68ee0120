"""Fixed inputs for the Mongo template tier's pinned reference
(tests/nl2doc_template_reference.json): the stores, the question sets
and the rendering the reference stores.

For each question the reference holds ``NL2DocEngine.template_query``'s
query dict. It is data from the single-method template compiler that
the rule table replaced and is never regenerated from the current code.

The question sets, per engine:

- ``fixture`` (documents + events at sf0.01, as tests/test_documents.py
  builds its store): every question literal of tests/test_documents.py;
- ``registry``: every question the registry's document entries ask
  (dbt_nlp_sqlizer_team04_spark/queries.py), on the fixture store, or on
  the derived ``doc_tree`` store for the graph-traversal questions;
- ``property`` (events + documents at sf0.001, as the NL property sweep
  builds it): the full aggregate x filter product, the latest/earliest
  and top-N/median/percentile families, and ``SALAD_DRAWS`` seeded word
  salads over the sweep's vocabulary;
- ``semantic``: the fixture and registry questions on the fixture store
  with the crawl-trained schema model attached.

Key order is part of the output (a ``$sort`` dict's order is the sort
priority, a ``$group``/``$project`` dict's order is the column order),
so entries are compared as ``json.dumps`` text without ``sort_keys``.
"""

from __future__ import annotations

import json
import os
import random

from tests.conftest import SF_CHECK, SF_SMOKE
from tests.nl2sql_template_battery import question_literals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REFERENCE_PATH = os.path.join(HERE, "nl2doc_template_reference.json")

SALAD_SEED = 9
SALAD_DRAWS = 300


def fixture_questions() -> list[str]:
    return question_literals(
        os.path.join(HERE, "test_documents.py"), {"template_query", "ask"}
    )


def registry_questions() -> list[str]:
    return question_literals(
        os.path.join(ROOT, "dbt_nlp_sqlizer_team04_spark", "queries.py"), {"ask"}
    )


def property_questions() -> list[str]:
    from tests.test_property_nl import _DOC_AGGS, _DOC_FILTERS, _LATEST_WORDS, _SALAD

    product = [
        f"{_DOC_AGGS[agg][0]} per event_type for events" + (f" {flt}" if flt else "")
        for agg in sorted(_DOC_AGGS)
        for flt in sorted(_DOC_FILTERS, key=str)
    ]
    latest = [
        f"{word} {f'{n} ' if n else ''}event_id per {grp} for events"
        for word in sorted(_LATEST_WORDS)
        for n in (None, 2, 3)
        for grp in ("user_id", "event_type")
    ]
    ranked = [
        f"top {n} event_id by value per {grp} for events"
        for n in (2, 3, 5)
        for grp in ("user_id", "event_type")
    ] + ["median value per event_type for events"] + [
        f"{p}th percentile of value per event_type for events"
        for p in (25, 50, 90, 99)
    ]
    rng = random.Random(SALAD_SEED)
    salads = [
        " ".join(rng.choice(_SALAD) for _ in range(rng.randint(1, 12)))
        for _ in range(SALAD_DRAWS)
    ]
    return list(dict.fromkeys(product + latest + ranked + salads))


def semantic_questions() -> list[str]:
    return list(dict.fromkeys(
        fixture_questions() + [q for q in registry_questions() if not uses_tree(q)]
    ))


def uses_tree(question: str) -> bool:
    """The registry's graph-traversal entries ask over ``doc_tree``."""
    return "doc_tree" in question


def fixture_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    store = DocumentStore(spark)
    store.register("documents", load_table(spark, SF_CHECK, "documents"))
    store.register("events", load_table(spark, SF_CHECK, "events"))
    return NL2DocEngine(store)


def tree_engine(spark):
    """The registry's derived 4-ary document forest (nl66/nl69)."""
    from pyspark.sql import functions as F

    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    docs = load_table(spark, SF_CHECK, "documents")
    tree = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") > 0,
            F.floor((F.col("doc_id") - 1) / 4).cast("long"),
        ).alias("parent"),
        "source",
    )
    store = DocumentStore(spark)
    store.register("doc_tree", tree)
    return NL2DocEngine(store)


def property_engine(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    store = DocumentStore(spark)
    store.register("events", load_table(spark, SF_SMOKE, "events"))
    store.register("documents", load_table(spark, SF_SMOKE, "documents"))
    return NL2DocEngine(store)


def semantic_engine(spark, model_dir: str):
    """The fixture store with the crawl-trained model attached, as
    tests/test_documents.py::test_doc_semantic_linking_beats_fuzzy
    trains it."""
    from dbt_nlp_sqlizer_team04_spark.models.trainer import ModelTrainer
    from dbt_nlp_sqlizer_team04_spark.operators.documents import crawl_document_schema
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    store = fixture_engine(spark).store
    meta = crawl_document_schema(store, sample_size=5)
    model = ModelTrainer(model_dir).train(meta, use_llm=False)
    return NL2DocEngine(store, model=model)


def render(engine, question: str):
    """The stored entry of one question: the query dict, or
    ``["error", <class name>, <message>]`` when the tier raises."""
    try:
        return engine.template_query(question)
    except Exception as e:  # noqa: BLE001 — an error must repeat exactly too
        return ["error", type(e).__name__, str(e)]


def dumps(entry) -> str:
    # no sort_keys: key order is sort priority and output column order
    return json.dumps(entry)


def load_reference() -> dict:
    with open(REFERENCE_PATH) as fh:
        return json.load(fh)
