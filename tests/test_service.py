"""Service façade: the reference's endpoint shapes as library verbs
(app/main.py:262-331 generate/run split; routes_models.py:145-318
training lifecycle)."""

from __future__ import annotations

import time

import pytest

from dbt_nlp_sqlizer_team04_spark.service import SQLizerService


@pytest.fixture(scope="module")
def svc(spark, sf_smoke, tmp_path_factory):
    return SQLizerService(
        spark, sf_smoke, model_dir=str(tmp_path_factory.mktemp("svc_models"))
    )


def test_nl2sql_generates_without_executing(svc):
    out = svc.nl2sql("count of orders per orderpriority")
    assert out["ok"] and out["sql"].lower().startswith("select")
    assert "orders" in out["slice"]
    assert "rows" not in out  # generate-only: no execution happened


def test_nl2sql_missing_question(svc):
    assert svc.nl2sql("")["ok"] is False


def test_run_revalidates_and_executes(svc):
    out = svc.run("SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority")
    assert out["ok"] and out["rowcount"] == 5
    assert out["columns"] == ["o_orderpriority", "cnt"]
    # the safety pass runs again on the direct-run path
    bad = svc.run("DROP TABLE orders")
    assert bad["ok"] is False
    big = svc.run("SELECT o_orderkey FROM orders LIMIT 100000000", max_rows=10)
    assert big["ok"] and big["rowcount"] <= 10


def test_ask_full_pipeline(svc):
    out = svc.ask("count of orders per orderpriority")
    assert out["ok"] and out["rowcount"] == 5


def test_repeated_ask_does_no_front_end_work(svc, monkeypatch, matcher_count):
    """A repeated ask reuses the engine's front-end memo and the safety
    verdict memo: no intent analysis, no template tier, no SQL
    tokenizing and no fuzzy scoring. Clearing both memos brings the work
    back, so the counters do see it."""
    from collections import Counter

    from dbt_nlp_sqlizer_team04_spark.plans import nl2sql, safety

    q = "count of orders with orderstatus F per orderpriority"
    first = svc.ask(q)
    assert first["ok"]
    calls = Counter()

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)
        return wrapper

    monkeypatch.setattr(nl2sql, "analyze_query_intent",
                        counted("intent", nl2sql.analyze_query_intent))
    monkeypatch.setattr(nl2sql.NL2SQLEngine, "template_candidates",
                        counted("templates", nl2sql.NL2SQLEngine.template_candidates))
    monkeypatch.setattr(safety, "tokenize", counted("tokenize", safety.tokenize))
    before = matcher_count()
    second = svc.ask(q)
    assert calls == Counter() and matcher_count() == before
    assert second["cached"] and second["rows"] == first["rows"]
    assert second["sql"] == first["sql"]

    svc._engine.clear_memo()
    safety.validate.cache_clear()
    assert svc.ask(q)["rows"] == first["rows"]
    assert calls["intent"] and calls["templates"] and calls["tokenize"]


def test_nl2sql_slice_is_a_copy(svc):
    """Mutating a response's slice cannot change a later response."""
    q = "count of orders per orderpriority"
    first = svc.nl2sql(q)
    expected = {t: list(cols) for t, cols in first["slice"].items()}
    for cols in first["slice"].values():
        cols.append("bogus_col")
    first["slice"]["bogus_table"] = ["x"]
    again = svc.nl2sql(q)
    assert again["slice"] == expected and again["sql"] == first["sql"]


def test_train_lifecycle(svc):
    # synchronous first train (use_llm off: deterministic templates)
    r = svc.train(use_llm_for_training=False, background=False)
    sid = r["schema_id"]
    assert r["status"] == "trained"
    assert svc.model_status(sid)["status"] == "trained"
    assert svc.list_models()["models"] == [sid]
    assert svc.get_model(sid)["ok"]
    assert svc.training_progress(sid)["progress"]["percent"] == 100
    # second train short-circuits on the existing artifact
    assert svc.train(background=False)["status"] == "exists"
    # background retrain reaches completion
    r = svc.train(force_retrain=True, use_llm_for_training=False)
    assert r["status"] == "training"
    for _ in range(100):
        if svc.model_status(sid)["status"] == "trained":
            break
        time.sleep(0.1)
    assert svc.model_status(sid)["status"] == "trained"
    # delete
    assert svc.delete_model(sid)["ok"]
    assert svc.model_status(sid)["status"] == "untrained"
    assert svc.delete_model(sid)["ok"] is False


def test_trained_model_improves_linking(svc):
    """After train(), the engine answers the synonym phrasing the fuzzy
    tier cannot (the reference's headline trained-model behavior)."""
    svc.train(use_llm_for_training=False, background=False)
    out = svc.ask("average customer balance per market segment")
    assert out["ok"] and out["rowcount"] == 5
