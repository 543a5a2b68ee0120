"""Result cache of the read-only executor (plans/executor.py): a hit
equals a miss, every input change misses, volatile SQL and failures are
never stored, hits re-validate and share no mutable state, the LRU
bound holds, and concurrent asks answer as serial ones do. Also the
recursive data fingerprint both caches key on (sources/parquet.py)."""

from __future__ import annotations

import os
import shutil
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_nlp_sqlizer_team04_spark.plans import executor
from dbt_nlp_sqlizer_team04_spark.plans.executor import ResultCache, run_readonly
from dbt_nlp_sqlizer_team04_spark.plans.safety import SQLSafetyError
from dbt_nlp_sqlizer_team04_spark.service import SQLizerService
from dbt_nlp_sqlizer_team04_spark.sources import parquet
from dbt_nlp_sqlizer_team04_spark.sources.parquet import (
    TABLES,
    data_fingerprint,
    register_views,
)

from .test_nl2sql_pipeline import EVAL_QUESTIONS

TABLE_NAMES = list(TABLES)
GROUPED = "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority"


@pytest.fixture(scope="module")
def data_dir(spark, sf_smoke, tmp_path_factory):
    """A private copy of the smoke corpus, so its files may be touched;
    the views go back to the shared corpus afterwards."""
    d = str(tmp_path_factory.mktemp("cache_data") / "sf")
    shutil.copytree(sf_smoke, d)
    yield d
    register_views(spark, sf_smoke)


@pytest.fixture(scope="module")
def svc(spark, data_dir, tmp_path_factory):
    return SQLizerService(
        spark, data_dir, model_dir=str(tmp_path_factory.mktemp("cache_models"))
    )


@pytest.fixture()
def cache(spark, data_dir):
    register_views(spark, data_dir)
    return ResultCache(data_dir)


def run(spark, cache, sql, **kw):
    kw.setdefault("allowed_tables", TABLE_NAMES)
    return run_readonly(spark, sql, cache=cache, **kw)


def test_hit_equals_miss(spark, cache):
    miss = run(spark, cache, GROUPED)
    hit = run(spark, cache, GROUPED)
    assert miss.ok and not miss.cached
    assert hit.ok and hit.cached
    assert (hit.sql, hit.columns, hit.rows, hit.rowcount) == (
        miss.sql, miss.columns, miss.rows, miss.rowcount)
    assert hit.explain == miss.explain and "Physical Plan" in hit.explain
    assert len(cache) == 1


def test_service_verbs_report_cached(svc):
    first = svc.run(GROUPED)
    second = svc.run(GROUPED)
    assert first["ok"] and second["ok"] and second["cached"]
    assert second["rows"] == first["rows"] and second["columns"] == first["columns"]
    svc.ask("count of orders per orderpriority")
    again = svc.ask("count of orders per orderpriority")
    assert again["ok"] and again["cached"] and again["rowcount"] == 5


def test_rewritten_table_file_misses(spark, cache, data_dir):
    assert not run(spark, cache, GROUPED).cached
    assert run(spark, cache, GROUPED).cached
    path = os.path.join(data_dir, "orders.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    again = run(spark, cache, GROUPED)
    assert again.ok and not again.cached
    assert run(spark, cache, GROUPED).cached


def test_register_views_misses(spark, cache, data_dir):
    assert not run(spark, cache, GROUPED).cached
    assert run(spark, cache, GROUPED).cached
    register_views(spark, data_dir)
    assert not run(spark, cache, GROUPED).cached


@pytest.mark.parametrize("sql", [
    "SELECT r_name, rand() AS x FROM region",
    "SELECT r_name, uuid() AS x FROM region",
    "SELECT r_name, shuffle(array(1, 2, 3)) AS x FROM region",
    "SELECT r_name, current_date AS x FROM region",
    "SELECT r_name, current_timestamp() AS x FROM region",
    "SELECT r_name, now() AS x FROM region",
    "SELECT r_name FROM region WHERE r_regionkey < (SELECT 10 * rand())",
    "SELECT r_name FROM region WHERE DATE 'today' > DATE '2000-01-01'",
    "SELECT r_name, CAST(' Now ' AS TIMESTAMP) AS x FROM region",
    "SELECT r_name, DATE 'yesterday' AS x FROM region",
])
def test_volatile_sql_never_cached(spark, cache, sql):
    for _ in range(2):
        res = run(spark, cache, sql)
        assert res.ok, res.error
        assert not res.cached
    assert len(cache) == 0


def test_failures_never_cached(spark, cache, monkeypatch):
    bad = run(spark, cache, "SELECT no_such_column FROM region")
    assert not bad.ok
    big = "SELECT * FROM lineitem"
    refused = run(spark, cache, big, max_estimated_rows=1)
    assert not refused.ok and "cost gate" in refused.error

    def timed_out(df, timeout_ms):
        raise SQLSafetyError(f"Query cancelled after {timeout_ms} ms timeout")

    with monkeypatch.context() as m:
        m.setattr(executor, "collect_with_timeout", timed_out)
        late = run(spark, cache, GROUPED, timeout_ms=1)
    assert not late.ok and "timeout" in late.error
    assert len(cache) == 0
    # the same SQL runs, and is stored, once nothing fails
    assert run(spark, cache, GROUPED).ok and len(cache) == 1


def test_hit_revalidates_allowlist(spark, cache):
    sql = "SELECT r_name FROM region"
    assert run(spark, cache, sql).ok
    assert run(spark, cache, sql).cached
    refused = run(spark, cache, sql, allowed_tables=["orders"])
    assert not refused.ok and refused.error.startswith("safety:")


@pytest.mark.parametrize("sql", [
    "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "SELECT r_regionkey, array(r_regionkey, 7) AS a, map('k', r_name) AS m "
    "FROM region ORDER BY r_regionkey",
])
def test_mutating_a_hit_leaves_the_entry(spark, cache, sql):
    miss = run(spark, cache, sql)
    expect = (list(miss.columns), [list(map(_copy_cell, r)) for r in miss.rows])
    for res in (miss, run(spark, cache, sql)):
        res.rows[0][0] = "changed"
        for cell in res.rows[1]:
            if isinstance(cell, list):
                cell.append(99)
            elif isinstance(cell, dict):
                cell["k"] = "changed"
        res.rows.append(["extra"])
        res.columns.append("extra")
    hit = run(spark, cache, sql)
    assert hit.cached
    assert (hit.columns, hit.rows) == expect


def _copy_cell(v):
    return list(v) if isinstance(v, list) else dict(v) if isinstance(v, dict) else v


def test_lru_evicts_at_bound(spark, cache, monkeypatch):
    monkeypatch.setattr(executor, "CACHE_MAX_ENTRIES", 3)

    def q(i):
        return f"SELECT r_regionkey + {i} AS x FROM region"

    for i in range(3):
        run(spark, cache, q(i))
    assert run(spark, cache, q(0)).cached  # 0 is now the most recent
    run(spark, cache, q(3))  # evicts 1, the least recently used
    assert len(cache) == 3
    assert run(spark, cache, q(0)).cached
    assert not run(spark, cache, q(1)).cached


def test_concurrent_asks_match_serial(svc, data_dir):
    engine = svc._engine  # noqa: SLF001
    serial = {}
    for q in EVAL_QUESTIONS:
        r = engine.ask(q, cache=ResultCache(data_dir))
        serial[q] = (r.ok, r.sql, r.columns, r.rows)
    work = EVAL_QUESTIONS * 3  # first round mostly misses, later rounds hit
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # switch threads often: races show sooner
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(pool.map(svc.ask, work, timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert any(r["cached"] for r in got)
    for q, r in zip(work, got):
        assert (r["ok"], r["sql"], r["columns"], r["rows"]) == serial[q], q


# ------------------------------------------------- data fingerprint
def test_fingerprint_of_a_plain_file_is_one_stat(sf_smoke):
    path = os.path.join(sf_smoke, "region.parquet")
    st = os.stat(path)
    assert data_fingerprint(path) == ((path, st.st_size, st.st_mtime_ns),)


def test_schema_cache_misses_on_nested_part_rewrite(spark, tmp_path):
    root = tmp_path / "hive.parquet"
    part = root / "k=1" / "part-00000.parquet"
    part.parent.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), str(part))
    first = parquet._read_with_cached_schema(spark, str(root))
    assert first.columns == ["a", "k"]
    before = data_fingerprint(str(root))
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), str(part))
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert data_fingerprint(str(root)) != before
    second = parquet._read_with_cached_schema(spark, str(root))
    assert second.columns == ["a", "b", "k"]
    assert second.orderBy("a").collect()[0]["b"] == "x"
