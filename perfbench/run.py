"""Service and registry benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):

- ``ask_repeat``: ``/ai/ask`` from closed-loop clients, Zipf-skewed
  repeated questions plus about 5% safety probes (sf0.1 corpus);
- ``generate_unique``: ``/ai/nl2sql`` from closed-loop clients, no
  question ever repeated, one request in five an ``/ai/run`` the safety
  layer must refuse (sf0.1 corpus);
- ``registry_sweep``: a fixed subset of ``bench.HEADLINE`` run serially
  in a seeded order (sf0.01 corpus).

Everything the run writes goes under ``.perfbench_work/`` in the
checkout; the per-run directory (scratch, temp files, model dir, the
service's warehouse) is deleted at exit; the generated corpora and the
registry's index warehouse are kept for later runs.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``; the line before it carries run context (cpus,
sample counts, setup split, failures).
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import re
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import spans as sp  # noqa: E402
import workload as wl  # noqa: E402

SERVICE_SF = 0.1
REGISTRY_SF = 0.01
WORKLOADS = ("ask_repeat", "generate_unique", "registry_sweep")
# the whole run must end within 180 s
START_TIMEOUT_S = 100.0
WARMUP_TIMEOUT_S = 30.0

# latency_ms is the median request latency on the service workloads and
# the geometric mean of the entries' latencies on registry_sweep (one
# sample per entry: its median jumps between neighbouring entries). The
# tails are in the context line: a 10 s run holds 55-110 requests or one
# registry pass, and their run-to-run spread went past the bound.
E2E_UNITS = {"setup_s": "s", "latency_ms": "ms", "throughput_rps": "1/s"}
MODULES = ("relational", "documents", "queries", "text", "similarity", "dedup",
           "profiler", "sampling", "packing", "funnel", "retrieval", "cdc",
           "multimodal")
INGEST = ("minhash", "ngram", "pairs", "ivf", "knn", "chunk_index", "ivfpq",
          "sign_codes")
SERVICE_LAYER = (
    "server.self_ms", "service.verb_ms", "service.self_ms", "linking.ms",
    "linking.calls_per_request", "intent.ms", "candidates.ms",
    "candidates.per_request", "safety.ms", "safety.refused_ratio",
    "analysis.ms", "cost_gate.ms", "cost_gate.refused_ratio", "execute.ms",
    "execute.jobs_per_request", "execute.tasks_per_request", "executor.self_ms",
    "ladder.attempts_per_answer", "trace.overhead_ms", "trace.sum_error_ms",
    "setup.register_views_s", "setup.crawl_schema_s",
)
REGISTRY_LAYER = (
    "build.ms", "build.eager_jobs", "build.eager_job_ms", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.ms", "exec.jobs",
    "exec.stages", "exec.tasks",
) + tuple(f"{m}.{k}" for m in MODULES for k in ("build_ms", "exec_ms")) + tuple(
    f"ingest.{b}_s" for b in INGEST)
PER_LAYER = ("setup.session_s", "peak_rss_mb") + SERVICE_LAYER + REGISTRY_LAYER


def unit_of(name: str) -> str:
    if name == "peak_rss_mb":
        return "MB"
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def child_env(run_dir: str, cpus: int) -> dict:
    """Hermetic environment: no LLM endpoint, every temp path in the run
    directory, the checkout on the Python path (Spark's Python workers
    import the package too)."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SQLIZER_LLM_")}
    tmp = os.path.join(run_dir, "tmp")
    scratch = os.path.join(run_dir, "scratch")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(scratch, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_SCRATCH=scratch,
        SPARK_GRAFT_CPUS=str(cpus),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
    )
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill a child's whole process group (Python + JVM), reap the child
    and wait until no process of the group is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.perf_counter() + 10
    while time.perf_counter() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def readline(proc: subprocess.Popen, timeout: float) -> str:
    ready, _, _ = select.select([proc.stdout], [], [], timeout)
    if not ready:
        raise TimeoutError("child process did not answer in time")
    line = proc.stdout.readline()
    if not line:
        raise RuntimeError(f"child process exited with code {proc.wait()}")
    return line


# ------------------------------------------------------------------ gold
def gold_rows(data_dir: str) -> dict[str, list[tuple]]:
    """DuckDB answers for every ask_repeat question (outside any timed
    region). Timestamps are rendered the way the service renders them."""
    import datetime

    import duckdb

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")

    def cell(v):
        if isinstance(v, (datetime.datetime, datetime.date)):
            return v.isoformat()
        return v

    return {q: [tuple(cell(v) for v in r) for r in con.execute(sql).fetchall()]
            for q, sql in wl.ASK_POOL}


# ----------------------------------------------------------------- check
_WRITE_VERB = re.compile(r"\b(drop|delete|alter|truncate|update|insert|merge|grant|create)\b")
_LIMIT = re.compile(r"\blimit\s+\d+", re.I)
# The server answers a refusal (ok: false) with 400.
REFUSED_STATUS = 400


def refused(status: int, resp: dict) -> bool:
    """True for a refusal by the safety layer or by the candidate ladder
    finding nothing to run; a crash, a timeout or an execution error is
    not a refusal."""
    err = str(resp.get("error", ""))
    return (status == REFUSED_STATUS and not resp.get("ok")
            and (err.startswith("safety:") or err == "no candidates generated"))


def check(req: wl.Request, status: int, resp: dict, gold: dict) -> str | None:
    """None when the response is correct for its request kind, else why."""
    from dbt_nlp_sqlizer_team04_spark.plans.parity_eval import result_f1
    from dbt_nlp_sqlizer_team04_spark.plans.safety import (
        SQLSafetyError, referenced_tables, validate)
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import TABLES

    ok = bool(resp.get("ok"))
    sql = resp.get("sql") or ""
    if req.kind == "refusal":
        if not refused(status, resp) or not resp["error"].startswith("safety:"):
            return "not refused by safety"
        return None
    if req.kind == "probe" and refused(status, resp):
        return None  # a refused probe is blocked
    if status != 200 or not ok:
        return f"HTTP {status}: {str(resp.get('error'))[:120]}"
    if req.kind == "answer":
        f1 = result_f1(resp.get("rows") or [], gold[req.body["question"]])
        return None if f1 == 1.0 else f"f1={f1:.3f}"
    if req.kind in ("probe", "bounded"):
        if not _LIMIT.search(sql) or resp.get("rowcount", 0) > 100:
            return "unbounded"
        return "write verb" if _WRITE_VERB.search(sql.lower()) else None
    try:  # generate: the SQL must re-pass safety on allowlisted tables
        validate(sql)
        extra = set(referenced_tables(sql)) - set(TABLES)
    except SQLSafetyError as e:
        return f"unsafe: {e}"
    return f"tables {sorted(extra)}" if extra else None


# --------------------------------------------------------------- service
class Client:
    """Closed-loop clients sharing one request stream."""

    def __init__(self, port: int, stream: list[wl.Request]):
        self.port, self.stream, self.next = port, stream, 0
        self.lock = threading.Lock()

    def take(self) -> tuple[int, wl.Request | None]:
        with self.lock:
            i = self.next
            self.next += 1
        return i, self.stream[i] if i < len(self.stream) else None

    def call(self, rid: str, req: wl.Request, traced: bool) -> tuple[int, dict]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("POST", req.path, body=json.dumps(req.body), headers={
                "Content-Type": "application/json", "X-Bench-Request": rid,
                "X-Bench-Trace": "1" if traced else "0"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read() or b"{}")
        finally:
            conn.close()

    def run(self, seconds: float, threads: int, trace: bool = False) -> list[dict]:
        """Send requests from ``threads`` closed-loop clients for
        ``seconds`` (or until a finite stream is used up); with ``trace``
        every other request is traced."""
        out: list[dict] = []
        deadline = time.perf_counter() + seconds
        self.deadline = deadline

        def loop():
            while time.perf_counter() < deadline:
                i, req = self.take()
                if req is None:
                    return
                rid = str(i)
                traced = trace and i % 2 == 1
                t0 = time.perf_counter()
                try:
                    status, body = self.call(rid, req, traced)
                except (OSError, http.client.HTTPException, ValueError) as e:
                    status, body = 0, {"ok": False, "error": repr(e)}
                t1 = time.perf_counter()
                with self.lock:
                    out.append({"rid": rid, "req": req, "status": status,
                                "resp": body, "start": t0, "end": t1,
                                "traced": traced})

        ts = [threading.Thread(target=loop) for _ in range(threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return out


def layer_metrics(records: list[dict], spans: list[sp.Span]) -> dict[str, float]:
    """Per-layer numbers of the traced requests: mean self time per request
    for each layer, and the counts and ratios named in README.md."""
    by_rid: dict[str, list[sp.Span]] = {}
    for s in spans:
        by_rid.setdefault(s.rid, []).append(s)
    self_ms: dict[str, float] = {}
    counts: dict[str, float] = {}
    errors: dict[str, int] = {}
    dur_ms: dict[str, float] = {}
    sum_err = 0.0
    asks_ok = attempts = 0
    n = len(records)
    for r in records:
        server = by_rid.get(r["rid"], [])
        root = sp.Span(r["rid"], 0, None, "client", r["start"], r["end"])
        tree = sp.clip([root] + [
            sp.Span(s.rid, s.sid, 0 if s.parent is None else s.parent, s.name,
                    s.start, s.end, s.attrs) for s in server])
        st = sp.self_times(tree)
        sum_err = max(sum_err, abs(root.dur - sum(st.values())) * 1000)
        for s in tree:
            self_ms[s.name] = self_ms.get(s.name, 0.0) + st[s.sid] * 1000
            dur_ms[s.name] = dur_ms.get(s.name, 0.0) + s.dur * 1000
            counts[s.name] = counts.get(s.name, 0) + 1
            if s.attrs.get("error") == "SQLSafetyError":
                errors[s.name] = errors.get(s.name, 0) + 1
            for k in ("n", "jobs", "tasks"):
                if k in s.attrs:
                    counts[f"{s.name}.{k}"] = counts.get(f"{s.name}.{k}", 0) + s.attrs[k]
        if r["req"].path == "/ai/ask" and r["resp"].get("ok"):
            asks_ok += 1
            attempts += sum(1 for s in server if s.name == "executor")

    def per(name: str) -> float:
        return self_ms.get(name, 0.0) / n

    def ratio(name: str) -> float:
        return errors.get(name, 0) / counts[name] if counts.get(name) else 0.0

    return {
        "server.self_ms": per("client") + per("server"),
        "service.verb_ms": dur_ms.get("service.verb", 0.0) / n,
        "service.self_ms": per("service.verb"),
        "linking.ms": per("linking"),
        "linking.calls_per_request": counts.get("linking", 0) / n,
        "intent.ms": per("intent"),
        "candidates.ms": per("candidates"),
        "candidates.per_request": counts.get("candidates.n", 0) / n,
        "safety.ms": per("safety"),
        "safety.refused_ratio": ratio("safety"),
        "analysis.ms": per("analysis"),
        "cost_gate.ms": per("cost_gate"),
        "cost_gate.refused_ratio": ratio("cost_gate"),
        "execute.ms": per("execute"),
        "execute.jobs_per_request": counts.get("execute.jobs", 0) / n,
        "execute.tasks_per_request": counts.get("execute.tasks", 0) / n,
        "executor.self_ms": per("executor"),
        "ladder.attempts_per_answer": attempts / asks_ok if asks_ok else 0.0,
        "trace.sum_error_ms": sum_err,
    }


def run_service(name: str, seed: int, seconds: float, trace: bool, cpus: int,
                run_dir: str, sf: float) -> tuple[dict, dict]:
    import datagen

    data = datagen.ensure(os.path.join(WORK, "data"), sf)
    gold = gold_rows(data) if name == "ask_repeat" else {}
    stream = wl.stream(name, seed, 20000)
    warm = wl.warmup(name, seed)  # untimed: compiles every shape's plans
    out_file = os.path.join(run_dir, "server.json")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "serve.py"), "--data", data,
         "--work", run_dir, "--out", out_file, "--cpus", str(cpus),
         "--trace", str(int(trace))],
        cwd=run_dir, env=child_env(run_dir, cpus), stdin=subprocess.PIPE,
        stdout=subprocess.PIPE, stderr=open(os.path.join(run_dir, "server.log"), "w"),
        text=True, start_new_session=True)
    try:
        ready = json.loads(readline(proc, START_TIMEOUT_S))
        port = ready["port"]
        Client(port, warm).run(WARMUP_TIMEOUT_S, cpus)
        client = Client(port, stream)
        done = client.run(seconds, cpus, trace)
        proc.stdin.write("stop\n")
        proc.stdin.flush()
        proc.stdin.close()
        proc.wait(timeout=20)
    finally:
        stop_group(proc)
    with open(out_file) as f:
        server = json.load(f)

    failures = []
    for r in done:
        why = check(r["req"], r["status"], r["resp"], gold)
        if why:
            failures.append({"request": r["req"].body, "why": why})
    lat = [(r["end"] - r["start"]) * 1000 for r in done]
    setup = ready["setup"]
    e2e = {
        "setup_s": setup["setup_s"],
        "latency_ms": percentile(lat, 50),
        "throughput_rps": sum(r["end"] <= client.deadline for r in done) / seconds,
    }
    layer = {
        "setup.session_s": setup["session_s"],
        "setup.register_views_s": setup.get("register_views_s", 0.0),
        "setup.crawl_schema_s": setup.get("crawl_schema_s", 0.0),
        "peak_rss_mb": server["peak_rss_mb"],
    }
    if trace:
        traced = [r for r in done if r["traced"]]
        layer.update(layer_metrics(traced, [sp.Span(*r) for r in server["spans"]]))
        layer["trace.overhead_ms"] = percentile(
            [(r["end"] - r["start"]) * 1000 for r in traced], 50) - percentile(
            [(r["end"] - r["start"]) * 1000 for r in done if not r["traced"]], 50)
    context = {"sf": sf, "samples": len(done), "clients": cpus,
               "p90_ms": percentile(lat, 90),
               "setup": setup, "failures": failures[:5]}
    return {"e2e": e2e, "layer": layer, "attempted": len(done),
            "failed": len(failures)}, context


# -------------------------------------------------------------- registry
def run_registry(seed: int, seconds: float, trace: bool, cpus: int,
                 run_dir: str, sf: float) -> tuple[dict, dict]:
    import datagen

    data = datagen.ensure(os.path.join(WORK, "data"), sf)
    # Untimed runs keep the ingested index tables between runs, as
    # bench.py's spark-warehouse/ does, so their set-up adopts them;
    # traced runs ingest into a fresh warehouse so ingest.<index>_s
    # times the builds.
    warehouse = os.path.join(run_dir if trace else WORK, f"warehouse-sf{sf}")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "sweep.py"), "--data", data,
         "--warehouse", warehouse, "--seed", str(seed), "--seconds", str(seconds), "--cpus", str(cpus),
         "--trace", str(int(trace))],
        cwd=run_dir, env=child_env(run_dir, cpus), stdout=subprocess.PIPE,
        stderr=open(os.path.join(run_dir, "sweep.log"), "w"), text=True,
        start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=160)
    finally:
        stop_group(proc)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"registry sweep failed (exit {proc.returncode})")
    res = json.loads(lines[-1])
    entries = [e for p in res["passes"] for e in p]
    failures = [{"entry": e["name"], "why": e["error"]} for e in entries if "error" in e]
    # each entry's latency is its median over the passes, so one slow
    # collect (a GC pause, a neighbour's burst) moves no percentile
    by_name: dict[str, list[float]] = {}
    for e in entries:
        by_name.setdefault(e["name"], []).append(e["ms"])
    lat = [statistics.median(v) for v in by_name.values()]
    sweep_s = sum(lat) / 1000
    setup = res["setup"]
    e2e = {
        "setup_s": setup["setup_s"],
        "latency_ms": statistics.geometric_mean(lat),
        "throughput_rps": len(lat) / sweep_s,
    }
    layer = {"setup.session_s": setup["session_s"], "peak_rss_mb": res["peak_rss_mb"]}
    for b in INGEST:
        layer[f"ingest.{b}_s"] = setup.get(f"ingest.{b}_s", 0.0)
    if trace:
        ok = [e for e in entries if "error" not in e]
        n = len(ok)

        def mean(f) -> float:
            return sum(f(e) for e in ok) / n if n else 0.0

        layer.update({
            "build.ms": mean(lambda e: e["build_ms"]),
            "build.eager_jobs": mean(lambda e: e["eager"]["jobs"]),
            "build.eager_job_ms": mean(lambda e: e["eager"]["ms"]),
            "exec.ms": mean(lambda e: e["exec_ms"]),
            "exec.jobs": mean(lambda e: e["exec"]["jobs"]),
            "exec.stages": mean(lambda e: e["exec"]["stages"]),
            "exec.tasks": mean(lambda e: e["exec"]["tasks"]),
        })
        for ph in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{ph}_ms"] = mean(lambda e, ph=ph: e["catalyst"][ph])
        for m in MODULES:
            mine = [e for e in ok if e["module"] == m]
            for k in ("build_ms", "exec_ms"):
                layer[f"{m}.{k}"] = (sum(e[k] for e in mine) / len(mine)
                                     if mine else 0.0)
    context = {"sf": sf, "samples": len(entries), "passes": len(res["passes"]),
               "sweep_s": sweep_s,
               "entry_p50_ms": percentile(lat, 50), "entry_p90_ms": percentile(lat, 90),
               "calib_sec": res["calib_sec"], "setup": setup,
               "failures": failures[:5]}
    return {"e2e": e2e, "layer": layer, "attempted": len(entries),
            "failed": len(failures)}, context


# ------------------------------------------------------------------ main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="corpus scale override (the smoke tests use 0.001)")
    args = ap.parse_args()
    for needed in ("bench.py", "dbt_nlp_sqlizer_team04_spark/service.py",
                   "tests/oracle_harness.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found next to perfbench/; run it "
                  "from a checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        if args.workload == "registry_sweep":
            res, context = run_registry(args.seed, args.seconds, bool(args.trace),
                                        cpus, run_dir, args.sf or REGISTRY_SF)
        else:
            res, context = run_service(args.workload, args.seed, args.seconds,
                                       bool(args.trace), cpus, run_dir,
                                       args.sf or SERVICE_SF)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed = res["attempted"], res["failed"]
    if args.trace:
        layer = res["layer"]
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": unit_of(k)}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(v), "unit": E2E_UNITS[k]}
                   for k, v in res["e2e"].items()}
    context.update(workload=args.workload, seed=args.seed, cpus=cpus,
                   failed_ratio=failed / attempted if attempted else 1.0)
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
