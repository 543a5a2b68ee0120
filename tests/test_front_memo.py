"""The per-engine front-end memo (plans/nl2sql.py module docstring):
a repeated question reuses its link result, intent analysis and
template-tier candidates, and every answer equals a fresh engine's."""

from __future__ import annotations

import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

from dbt_nlp_sqlizer_team04_spark.plans import nl2sql
from dbt_nlp_sqlizer_team04_spark.plans.nl2sql import (
    FRONT_MEMO_MAX_CHARS,
    FRONT_MEMO_MAX_ENTRIES,
    NL2SQLEngine,
)
from tests.nl_corpus import corpus_questions
from tests.test_nl2sql_pipeline import EVAL_QUESTIONS


def _out(engine: NL2SQLEngine, q: str):
    """(SQL, method, confidence) of each ranked candidate, in order."""
    try:
        return [(c.sql, c.method, c.confidence) for c in engine.generate(q)]
    except Exception as e:  # noqa: BLE001 — an error must repeat exactly too
        return (type(e).__name__, str(e))


def _fresh(engine: NL2SQLEngine, questions) -> dict:
    """Each question's output from its own new engine: no memo hit."""
    return {q: _out(NL2SQLEngine(engine.spark, engine.metadata), q) for q in questions}


def _assert_memo_exact(engine: NL2SQLEngine, questions: list[str]) -> None:
    fresh = _fresh(engine, questions)
    memo = NL2SQLEngine(engine.spark, engine.metadata)
    assert {q: _out(memo, q) for q in questions} == fresh  # first call
    _ = {q: _out(memo, q) for q in questions}
    assert {q: _out(memo, q) for q in questions} == fresh  # third call
    assert memo._front_memo.cache_info().hits >= 2 * len(set(questions))


@pytest.fixture(scope="module")
def engine(spark, sf_smoke):
    return NL2SQLEngine.from_sf_dir(spark, sf_smoke, sample_size=5)


def test_memo_matches_fresh_engine_on_corpus_questions(engine):
    questions = corpus_questions()
    assert len(questions) >= 70  # 8 eval + 24 ask + 7 probes + 36 unique
    _assert_memo_exact(engine, questions)


def test_memo_matches_fresh_engine_on_parity_set(spark, tmp_path, monkeypatch):
    """The parity eval's school and store engines, its 12 questions and
    its probes, with its canned LLM double: the LLM tier runs on every
    call and is ranked together with the memoized templates."""
    from dbt_nlp_sqlizer_team04_spark.plans import parity_eval as pe

    monkeypatch.setattr(nl2sql, "chat_complete", pe._canned_llm_double())
    child = spark.newSession()  # the store fixture re-uses the name `orders`
    questions = [q.question for q in pe.QUESTIONS] + [p for _c, p in pe.SAFETY_PROBES]
    methods = set()
    for name, build, tables in (
        ("school", pe.build_school_fixture, pe.SCHOOL_TABLES),
        ("store", pe.build_store_fixture, pe.STORE_TABLES),
    ):
        d = str(tmp_path / name)
        build(child, d)
        eng = NL2SQLEngine.from_sf_dir(child, d, tables=tables)
        _assert_memo_exact(eng, questions)
        outs = [_out(eng, q) for q in questions]
        methods |= {c[1] for out in outs if isinstance(out, list) for c in out}
    assert "llm" in methods and "template" in methods


def test_memo_concurrent_matches_serial(engine):
    questions = EVAL_QUESTIONS + [
        "count of orders per month",
        "top 3 mktsegments by average acctbal",
        "which nation has the highest average acctbal",
        "customers without orders",
    ]
    serial = _fresh(engine, questions)
    memo = NL2SQLEngine(engine.spark, engine.metadata)
    work = questions * 6
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: races show sooner
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(lambda q: _out(memo, q), work, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [serial[q] for q in work]


def test_memo_is_bounded(engine, monkeypatch):
    default = NL2SQLEngine(engine.spark, engine.metadata)
    assert default._link_memo.cache_info().maxsize == FRONT_MEMO_MAX_ENTRIES
    assert default._front_memo.cache_info().maxsize == FRONT_MEMO_MAX_ENTRIES

    monkeypatch.setattr(nl2sql, "FRONT_MEMO_MAX_ENTRIES", 3)
    small = NL2SQLEngine(engine.spark, engine.metadata)
    fresh = _fresh(engine, EVAL_QUESTIONS)
    for _ in range(2):
        assert {q: _out(small, q) for q in EVAL_QUESTIONS} == fresh
        assert small._link_memo.cache_info().currsize == 3
        assert small._front_memo.cache_info().currsize == 3


def test_long_question_bypasses_memo(engine):
    q = "count of orders per orderpriority " + "please " * (FRONT_MEMO_MAX_CHARS // 7)
    assert len(q) > FRONT_MEMO_MAX_CHARS
    memo = NL2SQLEngine(engine.spark, engine.metadata)
    fresh = _fresh(engine, [q])[q]
    assert _out(memo, q) == fresh and _out(memo, q) == fresh
    assert memo.link(q) == NL2SQLEngine(engine.spark, engine.metadata).link(q)
    assert memo._link_memo.cache_info().currsize == 0
    assert memo._front_memo.cache_info().currsize == 0


def test_mutating_an_answer_cannot_change_a_later_one(engine):
    q = "count of orders with orderstatus F per orderpriority"
    fresh_engine = NL2SQLEngine(engine.spark, engine.metadata)
    ref_link, ref = fresh_engine.link(q), _out(fresh_engine, q)
    memo = NL2SQLEngine(engine.spark, engine.metadata)

    slice_, scores = memo.link(q)
    first = next(iter(slice_))
    slice_[first].append("bogus_col")
    slice_["bogus_table"] = ["x"]
    scores["bogus_table"] = {"x": 1.0}
    cands = memo.generate(q)
    cands[0].sql = "SELECT 1"
    cands[0].confidence = 0.0
    cands[0].meta["poisoned"] = True
    memo.rank(memo.generate(q), slice_)
    memo.link(q)[0].clear()

    assert memo.link(q) == ref_link
    for _ in range(2):
        got = memo.generate(q)
        assert [(c.sql, c.method, c.confidence) for c in got] == ref
        assert all(c.meta == {} for c in got)


def test_clear_memo_empties_both(engine):
    memo = NL2SQLEngine(engine.spark, engine.metadata)
    memo.generate(EVAL_QUESTIONS[0])
    assert memo._front_memo.cache_info().currsize == 1
    memo.clear_memo()
    assert memo._link_memo.cache_info().currsize == 0
    assert memo._front_memo.cache_info().currsize == 0
