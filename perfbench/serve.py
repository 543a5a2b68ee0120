"""Service launcher: builds the real ``SQLizerService`` behind the real
``server.make_handler`` and serves it on an ephemeral localhost port.

Prints one JSON line ``{"port", "setup"}`` on stdout once the server
accepts requests. On ``stop`` (or end of input) on stdin it stops
serving, writes the spans and the peak RSS to ``--out`` and exits.

With ``--trace 1`` the public functions of each layer are wrapped
(before the server starts), and each request that carries a
``X-Bench-Trace: 1`` header records a span tree; without it nothing is
wrapped.

Usage: python3 perfbench/serve.py --data DIR --work DIR --out FILE
       [--cpus N] [--trace 0|1]
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from http.server import ThreadingHTTPServer  # noqa: E402

from spans import Recorder, timed, wrap  # noqa: E402

# Headers the benchmark client sends: the request id server-side spans
# join, and whether to record this request's spans.
REQUEST_HEADER = "X-Bench-Request"
TRACE_HEADER = "X-Bench-Trace"


def instrument(rec: Recorder, spark, svc_cls, handler_cls) -> None:
    """Wrap each layer's public functions with span recording."""
    from dbt_nlp_sqlizer_team04_spark import service
    from dbt_nlp_sqlizer_team04_spark.models import inference
    from dbt_nlp_sqlizer_team04_spark.plans import executor, nl2sql, safety

    def count(out, attrs):
        attrs["n"] = len(out)

    def outcome(out, attrs):
        attrs["ok"] = bool(out.ok)

    for verb in ("ask", "nl2sql", "run"):
        wrap(rec, svc_cls, verb, "service.verb")
    wrap(rec, nl2sql, "select_relevant", "linking")
    wrap(rec, inference.SemanticLinker, "relevant", "linking")
    wrap(rec, nl2sql, "analyze_query_intent", "intent")
    wrap(rec, nl2sql.NL2SQLEngine, "template_candidates", "candidates", count)
    wrap(rec, nl2sql.NL2SQLEngine, "llm_candidates", "candidates", count)
    wrap(rec, nl2sql.NL2SQLEngine, "rank", "candidates")
    wrap(rec, safety, "validate", "safety")
    wrap(rec, executor, "validate", "safety")
    wrap(rec, spark, "sql", "analysis")
    wrap(rec, executor, "cost_gate", "cost_gate")
    wrap(rec, executor, "run_readonly", "executor", outcome)
    wrap(rec, nl2sql, "run_readonly", "executor", outcome)
    wrap(rec, service, "run_readonly", "executor", outcome)

    # collect_with_timeout names its own job group; remember it per
    # thread so the execute span can count that group's jobs and tasks
    sc = spark.sparkContext
    groups = threading.local()
    set_group = sc.setJobGroup

    def remember_group(gid, *a, **kw):
        if gid:
            groups.gid = gid
        return set_group(gid, *a, **kw)

    sc.setJobGroup = remember_group

    def jobs(_out, attrs):
        gid = getattr(groups, "gid", None)
        tracker = sc.statusTracker()
        n_jobs = n_tasks = 0
        for jid in tracker.getJobIdsForGroup(gid) if gid else []:
            n_jobs += 1
            info = tracker.getJobInfo(jid)
            for stage in info.stageIds if info else []:
                st = tracker.getStageInfo(stage)
                n_tasks += st.numTasks if st else 0
        attrs["jobs"], attrs["tasks"] = n_jobs, n_tasks

    wrap(rec, executor, "collect_with_timeout", "execute", jobs)

    dispatch = handler_cls._dispatch

    def traced_dispatch(self, method):
        traced = self.headers.get(TRACE_HEADER) == "1"
        rec.begin_request(self.headers.get(REQUEST_HEADER) if traced else None)
        with rec.span("server"):
            dispatch(self, method)
        rec.begin_request(None)

    handler_cls._dispatch = traced_dispatch


def peak_rss_mb() -> float:
    """Peak RSS of this process plus its child processes (the JVM), MB."""
    total = 0
    pids = [str(os.getpid())]
    try:
        with open(f"/proc/{os.getpid()}/task/{os.getpid()}/children") as f:
            pids += f.read().split()
    except OSError:
        pass
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from dbt_nlp_sqlizer_team04_spark import server, service
    from dbt_nlp_sqlizer_team04_spark.session import get_spark

    setup: dict[str, float] = {}
    spark = get_spark("perfbench-service", master=f"local[{args.cpus}]")
    setup["session_s"] = time.perf_counter() - T0
    timed(service, "register_views", setup, "register_views_s")
    timed(service, "crawl_schema", setup, "crawl_schema_s")
    svc = service.SQLizerService(spark, args.data,
                                 model_dir=os.path.join(args.work, "models"))
    handler = server.make_handler(svc)
    rec = Recorder()
    if args.trace:
        instrument(rec, spark, service.SQLizerService, handler)
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    setup["setup_s"] = time.perf_counter() - T0
    print(json.dumps({"port": httpd.server_address[1], "setup": setup}),
          flush=True)

    for line in sys.stdin:
        if line.strip() == "stop":
            break
    httpd.shutdown()
    with open(args.out, "w") as f:
        json.dump({"spans": [s.as_list() for s in rec.spans],
                   "peak_rss_mb": peak_rss_mb()}, f)
    # the JVM exits when its gateway's stdin closes with this process;
    # the caller reaps the whole process group
    os._exit(0)


if __name__ == "__main__":
    main()
