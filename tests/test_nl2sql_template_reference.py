"""The template tier's rule table (plans/nl2sql.py TEMPLATE_RULES)
reproduces the pinned reference byte for byte: for every stored question,
``template_candidates`` in emission order and ``generate()`` in ranked
order, each as (sql, method, confidence). The reference and its inputs
are described in tests/nl2sql_template_battery.py; it is never
regenerated from the current code."""

from __future__ import annotations

import pytest

from dbt_nlp_sqlizer_team04_spark.plans import nl2sql
from tests import nl2sql_template_battery as B


@pytest.fixture(scope="module")
def reference() -> dict:
    return B.load_reference()["sets"]


def _assert_matches(engine, pinned: dict) -> None:
    bad = [q for q, entry in pinned.items() if B.dumps(B.render(engine, q)) != B.dumps(entry)]
    assert not bad, f"{len(bad)} of {len(pinned)} questions differ, first: {bad[:5]}"


def test_reference_holds_every_question_set(reference):
    assert sorted(reference) == ["property", "school", "smoke", "store"]
    assert all(len(qs) >= 20 for qs in reference.values())


def test_smoke_corpus_matches_reference(spark, reference):
    _assert_matches(B.smoke_engine(spark), reference["smoke"])


def test_property_grammar_and_salads_match_reference(spark, reference):
    _assert_matches(B.property_engine(spark), reference["property"])


def test_parity_fixtures_match_reference(spark, reference, tmp_path, monkeypatch):
    from dbt_nlp_sqlizer_team04_spark.plans import parity_eval as pe

    monkeypatch.setattr(nl2sql, "chat_complete", pe._canned_llm_double())
    for name, engine in B.parity_engines(spark, str(tmp_path)).items():
        _assert_matches(engine, reference[name])
