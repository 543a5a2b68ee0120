"""The Mongo template tier reproduces the pinned reference byte for
byte: for every stored question, ``NL2DocEngine.template_query``'s query
dict (key order included) or its raised error. The reference and its
inputs are described in tests/nl2doc_template_battery.py; it is never
regenerated from the current code."""

from __future__ import annotations

import pytest

from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import DOC_TEMPLATE_RULES
from tests import nl2doc_template_battery as B


@pytest.fixture(scope="module")
def reference() -> dict:
    return B.load_reference()["sets"]


@pytest.fixture(scope="module")
def fixture_engine(spark):
    return B.fixture_engine(spark)


@pytest.fixture(scope="module")
def tree_engine(spark):
    return B.tree_engine(spark)


@pytest.fixture(scope="module")
def property_engine(spark):
    return B.property_engine(spark)


@pytest.fixture(scope="module")
def semantic_engine(spark, tmp_path_factory):
    return B.semantic_engine(spark, str(tmp_path_factory.mktemp("doc_model")))


def _assert_matches(engine_for, pinned: dict) -> None:
    bad = [q for q, entry in pinned.items()
           if B.dumps(B.render(engine_for(q), q)) != B.dumps(entry)]
    assert not bad, f"{len(bad)} of {len(pinned)} questions differ, first: {bad[:5]}"


def test_reference_holds_every_question_set(reference):
    assert sorted(reference) == ["fixture", "property", "registry", "semantic"]
    assert all(len(qs) >= 20 for qs in reference.values())


def test_fixture_questions_match_reference(fixture_engine, reference):
    _assert_matches(lambda q: fixture_engine, reference["fixture"])


def test_registry_questions_match_reference(fixture_engine, tree_engine, reference):
    _assert_matches(lambda q: tree_engine if B.uses_tree(q) else fixture_engine,
                    reference["registry"])


def test_property_grammar_and_salads_match_reference(property_engine, reference):
    _assert_matches(lambda q: property_engine, reference["property"])


def test_semantic_linking_matches_reference(semantic_engine, reference):
    _assert_matches(lambda q: semantic_engine, reference["semantic"])


# One pinned question per rule of DOC_TEMPLATE_RULES that the rule wins,
# on the fixture store (the graph rule on the registry's doc_tree store);
# the twin of tests/test_nl2sql_pipeline.py::RULE_WINNERS.
DOC_RULE_WINNERS = {
    "doc_pagination": "page 2 of documents by doc_id, 20 per page",
    "doc_union":
        "combine text containing data with n_chars over 500 for documents, counts per lang",
    "doc_lookup_counts": "5 longest documents by n_chars with their lang counts",
    "doc_running_total": "running total of n_chars by doc_id per source for documents",
    "doc_rate_of_change": "hourly rate of change of value for events per event_type",
    "doc_graph_lookup": "all ancestors of doc 450 up to 3 levels for doc_tree",
    "doc_exp_moving_avg": "7 day exponential moving average of value per event_type for events",
    "doc_latest_per_group": "latest 3 event_id per user_id for events",
    "doc_daily_gapfill": "daily count of events with value over 300, missing days as zero",
    "doc_month_grain": "total value per month as YYYY-MM for events",
    "doc_regex_predicate": "documents whose text matches 'data.*data' per lang",
    "doc_having_measure": "event_types with average value above 50",
    "doc_having_count": "langs with more than 72 documents",
    "doc_pct_of_total": "percentage of events per event_type",
    "doc_count_distinct": "how many distinct user_id per event_type for events",
    "doc_sample": "random sample of 25 documents",
    "doc_equal_buckets": "split documents into 4 equal buckets by n_chars",
    "doc_facet_breakdown": "break down documents by lang and by source",
    "doc_histogram": "histogram of chars for documents in buckets of 150",
    "doc_topn_per_group": "top 3 event_id by value per event_type for events",
    "doc_percentile": "90th percentile of value per event_type for events",
    "doc_measure_agg": "sum of value per event_type",
    "doc_count": "how many events per event_type",
    "doc_extreme_n": "5 shortest documents by n_chars",
    "doc_sorted": "top 5 documents by n_chars",
    "doc_find": "show me documents",
}


@pytest.mark.parametrize("method", [m for m, _rule in DOC_TEMPLATE_RULES])
def test_every_doc_template_rule_wins(method, fixture_engine, tree_engine, reference):
    """Every rule of the table answers some pinned question: it is the
    first rule that builds a dict, and template_query returns that dict."""
    question = DOC_RULE_WINNERS[method]
    assert question in reference["fixture"] or question in reference["registry"]
    eng = tree_engine if B.uses_tree(question) else fixture_engine
    ev = eng._evidence(question, eng._link(question))
    winner, query = next((m, q) for m, rule in DOC_TEMPLATE_RULES if (q := rule(ev)) is not None)
    assert winner == method, question
    assert B.dumps(query) == B.dumps(eng.template_query(question))
