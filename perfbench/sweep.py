"""Registry sweep: runs a fixed subset of ``bench.HEADLINE`` serially,
each entry built fresh and ``collect()``ed, in a seeded order, and
checks every result against its ``ORACLE_SQL`` with the oracle
harness's comparison rule (rows-only where no oracle exists).

Set-up is what ``bench.py`` does before it times anything: session,
the lineitem/``SELECT 1`` warm-up, and ``bench.ingest``. The index
tables ``bench.ingest`` builds live in ``--warehouse``; like
``bench.py``'s ``spark-warehouse/``, a warehouse that already holds
them is adopted, not rebuilt. Then one untimed pass (entries run
concurrently, ``--cpus`` at a time) compiles every
plan, and whole timed passes run while the next one should end within
``--seconds`` (at least one pass).

With ``--trace 1`` every build and every collect runs in its own job
group, and the entry records its eager jobs (jobs run while the plan
is built), the Catalyst phase times of the final plan, and the jobs,
stages and tasks of its execution.

Prints one JSON line with the results on stdout.

Usage: python3 perfbench/sweep.py --data DIR --warehouse DIR --seed N
       --seconds S [--cpus N] [--trace 0|1]
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from spans import covered, timed  # noqa: E402

# One entry from each of the 13 registry modules, chosen among the
# cheaper ones so that the warm-up pass and a timed pass fit a run (a
# pass took 8-17 s at sf0.01 on a shared 4-core host). nl69 stands for the
# eager-job entries (its graph lookup checkpoints each round while the
# plan is built); q159, q147 and q172 (2-3.5 s each) would take a third
# of a pass on their own.
SUBSET = [
    "q118_grouping_sets",        # relational
    "q167_doc_pagination",       # documents
    "nl69_doc_descendants",      # queries (eager jobs)
    "q71_vocab_head",            # text
    "q28_near_dup_minhash",      # dedup
    "q66_doc_chunks",            # packing
    "q128_expectation_suite",    # profiler
    "q50_train_val_test_split",  # sampling
    "q43_ann_ivf_topk",          # similarity
    "q75_bm25_topk",             # retrieval
    "q87_conversion_funnel",     # funnel
    "q136_scd2_intervals",       # cdc
    "q84_media_decode_rollup",   # multimodal
]

INGEST_INDEXES = {
    "operators.dedup": ["minhash_table_for", "ngram_table_for", "pairs_table_for"],
    "operators.retrieval": ["chunk_index_for"],
    "operators.similarity": ["ivf_table_for", "knn_table_for",
                             "ivfpq_table_for", "sign_codes_table_for"],
}


def _timed_ingest(setup: dict) -> None:
    """Time each index build function ``bench.ingest`` calls (it imports them
    from their modules at call time)."""
    import importlib

    for mod, names in INGEST_INDEXES.items():
        m = importlib.import_module(f"dbt_nlp_sqlizer_team04_spark.{mod}")
        for name in names:
            key = name.removesuffix("_table_for").removesuffix("_for")
            timed(m, name, setup, f"ingest.{key}_s")


def _job_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and the busy time (union of job intervals, ms)
    of one job group, from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    n_jobs = n_stages = n_tasks = 0
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        job = store.job(jid)
        n_jobs += 1
        n_stages += job.stageIds().size()
        n_tasks += job.numTasks()
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime(),
                              job.completionTime().get().getTime()))
    return {"jobs": n_jobs, "stages": n_stages, "tasks": n_tasks,
            "ms": covered(intervals)}


def _phases(df) -> dict:
    tracker = df._jdf.queryExecution().tracker()
    phases = tracker.phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    sf_dir = args.data

    import bench
    from serve import peak_rss_mb
    from dbt_nlp_sqlizer_team04_spark.queries import ORACLE_SQL, SPARK_QUERIES
    from dbt_nlp_sqlizer_team04_spark.session import get_spark
    from tests.oracle_harness import _dtype_kind_diffs, normalize, run_oracle

    setup: dict[str, float] = {}
    spark = get_spark("perfbench-registry", master=f"local[{args.cpus}]",
                      extra_conf={"spark.sql.warehouse.dir": args.warehouse})
    setup["session_s"] = time.perf_counter() - T0
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).limit(1000).collect()
    spark.sql("SELECT 1").collect()
    _timed_ingest(setup)
    bench.ingest(spark, sf_dir)
    setup["setup_s"] = time.perf_counter() - T0

    missing = [n for n in SUBSET if n not in bench.HEADLINE or n not in SPARK_QUERIES]
    if missing:
        raise SystemExit(f"subset entries not in bench.HEADLINE: {missing}")
    oracles = {}
    for name in SUBSET:
        sql = ORACLE_SQL.get(name)
        if sql is not None:
            cols, rows, kinds = run_oracle(sf_dir, sql)
            oracles[name] = (normalize(cols, rows), kinds)

    def check(name, df, rows) -> str | None:
        if name not in oracles:
            return None  # rows-only: the collect itself is the check
        (ocols, orows), kinds = oracles[name]
        if _dtype_kind_diffs(df.schema, kinds):
            return "dtype"
        scols, srows = normalize(df.columns, [tuple(r) for r in rows])
        if scols != ocols:
            return "schema"
        return None if srows == orows else "values"

    def run_entry(name: str, tag: str) -> dict:
        fn = SPARK_QUERIES[name]
        sc = spark.sparkContext
        rec: dict = {"name": name,
                     "module": fn.__module__.rsplit(".", 1)[-1]}
        if args.trace:
            sc.setJobGroup(f"pb-build-{tag}", name)
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            if args.trace:
                sc.setJobGroup(f"pb-exec-{tag}", name)
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 — a failing entry is counted
            rec.update(ms=(time.perf_counter() - t0) * 1000, error=repr(e)[:200])
            return rec
        finally:
            if args.trace:
                sc.setJobGroup("", "")
        rec["ms"] = (t2 - t0) * 1000
        rec["build_ms"] = (t1 - t0) * 1000
        rec["exec_ms"] = (t2 - t1) * 1000
        err = check(name, df, rows)
        if err:
            rec["error"] = err
        if args.trace:
            rec["eager"] = _job_stats(spark, f"pb-build-{tag}")
            rec["exec"] = _job_stats(spark, f"pb-exec-{tag}")
            rec["catalyst"] = _phases(df)
        return rec

    rng = random.Random(f"registry_sweep:{args.seed}")
    # Compile every plan outside the timed region. The JVM's first run of
    # a plan is mostly JIT and codegen work (about 3x a warm run), so the
    # entries warm concurrently, which roughly halves this untimed step.
    with ThreadPoolExecutor(args.cpus) as pool:
        list(pool.map(lambda n: run_entry(n, f"warm-{n}"), SUBSET))
    calib = None
    if args.trace:
        def _calib() -> float:  # bench.py's calibration job
            t = time.perf_counter()
            spark.range(0, 200_000_000, 1, 32).selectExpr(
                "shiftright(xxhash64(id), 32) AS h").groupBy().sum("h").collect()
            return time.perf_counter() - t
        _calib()
        calib = min(_calib(), _calib())

    passes = []
    start = time.perf_counter()
    while True:  # whole passes; another only if it should end in time
        t = time.perf_counter()
        order = SUBSET[:]
        rng.shuffle(order)
        passes.append([run_entry(n, f"{len(passes)}-{n}") for n in order])
        now = time.perf_counter()
        if now - start + (now - t) > args.seconds:
            break
    print(json.dumps({"setup": setup, "passes": passes, "calib_sec": calib,
                      "peak_rss_mb": peak_rss_mb()}), flush=True)
    os._exit(0)  # as in serve.py: the caller reaps the process group


if __name__ == "__main__":
    sys.exit(main())
