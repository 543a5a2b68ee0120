"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute each); the rest are pure
Python.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import spans as sp  # noqa: E402
import workload as wl  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_benchmark_json_matches_the_runner():
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert e2e == run.E2E_UNITS
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert layer == {k: run.unit_of(k) for k in run.PER_LAYER}
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)


@pytest.mark.parametrize("name", ["ask_repeat", "generate_unique"])
def test_stream_is_deterministic_per_seed(name):
    def texts(seed):
        return [(r.path, json.dumps(r.body)) for r in wl.stream(name, seed, 300)]

    assert texts(7) == texts(7)
    assert texts(7) != texts(8)


def test_generate_unique_never_repeats():
    reqs = wl.stream("generate_unique", 3, 3000)
    bodies = [json.dumps(r.body) for r in reqs]
    assert len(set(bodies)) == len(bodies)
    refusals = sum(r.kind == "refusal" for r in reqs) / len(reqs)
    assert 0.15 < refusals < 0.25


def test_ask_cycle_mix_is_seed_independent():
    def answers(seed):
        cyc = wl.ask_cycle(random.Random(seed))
        return sorted(r.body["question"] for r in cyc if r.kind == "answer")

    assert answers(1) == answers(2)
    cyc = wl.ask_cycle(random.Random(1))
    probes = sum(r.kind != "answer" for r in cyc) / len(cyc)
    assert 0.03 < probes < 0.07
    top = answers(1).count(wl.ASK_POOL[0][0])
    assert top > answers(1).count(wl.ASK_POOL[-1][0])


def test_ask_cycle_repeat_share():
    # the numbers README.md gives for the ask_repeat mix
    cyc = wl.ask_cycle(random.Random(1))
    asks = [r.body["question"] for r in cyc if r.kind == "answer"]
    assert (len(cyc), len(asks), len(set(asks))) == (100, 95, 24)
    assert asks.count(wl.ASK_POOL[0][0]) == 29


@pytest.mark.parametrize("status, resp, blocked", [
    (400, {"ok": False, "error": "safety: write verb DROP"}, True),
    (400, {"ok": False, "error": "no candidates generated"}, True),
    (400, {"ok": False, "error": "[TABLE_OR_VIEW_NOT_FOUND] x"}, False),
    (500, {"ok": False, "error": "safety: write verb DROP"}, False),
    (0, {"ok": False, "error": "TimeoutError()"}, False),
])
def test_only_a_refusal_blocks_a_probe(status, resp, blocked):
    sys.path.insert(0, ROOT)
    probe = wl.Request("/ai/ask", {"question": "drop table customer"}, "probe")
    assert (run.check(probe, status, resp, {}) is None) == blocked


def test_corpus_is_deterministic(tmp_path):
    datagen.generate(str(tmp_path / "a"), 0.001)
    datagen.generate(str(tmp_path / "b"), 0.001)
    for name in os.listdir(tmp_path / "a"):
        a = pq.read_table(tmp_path / "a" / name)
        b = pq.read_table(tmp_path / "b" / name)
        assert a.equals(b), name


def _span(sid, parent, start, end, name="x"):
    return sp.Span("r", sid, parent, name, start, end)


def test_self_time_arithmetic():
    # root 0..10; a 1..4 with child c 2..3; b 3.5..6 overlaps a's tail
    tree = [_span(0, None, 0, 10), _span(1, 0, 1, 4), _span(2, 1, 2, 3),
            _span(3, 0, 3.5, 6)]
    st = sp.self_times(tree)
    assert st[0] == pytest.approx(10 - 5)  # children cover 1..6
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2.5)


def test_clip_makes_self_times_sum_to_root():
    # the server span outlasts the client's view of the request
    tree = [_span(0, None, 0, 10), _span(1, 0, 0.5, 10.4), _span(2, 1, 1, 9)]
    clipped = sp.clip(tree)
    assert sum(sp.self_times(clipped).values()) == pytest.approx(10)
    assert sum(sp.self_times(tree).values()) > 10


def test_recorder_nests_spans_per_request():
    rec = sp.Recorder()
    rec.begin_request("r1")
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    rec.begin_request(None)
    with rec.span("ignored"):
        pass
    assert len(rec.spans) == 2
    by_name = {s.name: s for s in rec.spans}
    outer, inner = by_name["outer"], by_name["inner"]
    assert inner.parent == outer.sid and outer.parent is None
    assert {s.rid for s in rec.spans} == {"r1"}


def _run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["ask_repeat", "registry_sweep"])
def test_smoke_names_every_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_names_every_layer_metric():
    res = _run("ask_repeat", 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["trace.sum_error_ms"] < 1e-6
    assert m["execute.jobs_per_request"] > 0
