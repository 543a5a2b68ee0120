"""Read-only executor with gates — S7-S10 (SURVEY.md §2.B safety table).

Replaces the reference's ``execute_readonly`` (app/ai/nl2sql.py:332-360):
- statement timeout: Postgres ``SET LOCAL statement_timeout`` becomes a
  Spark job-group watchdog — ``setJobGroup`` + timer →
  ``cancelJobGroup`` (S8). Cancellation is cooperative (long codegen
  stages can overshoot), documented gap per SURVEY.md §7.
- row caps: ``df.limit(k)`` before collect (S9; default 100, MAX_ROWS
  500 per README.md:114-117).
- serialization: Decimal→float, date/time→ISO strings (S10,
  nl2sql.py:325-330 parity).
- cost gate on the optimized plan before submission (S7).

Result cache. ``run_readonly(..., cache=ResultCache(data_dir))`` reuses
earlier answers; every caller passes one (``SQLizerService`` owns the
service's). The contract:

- ``validate`` (SELECT-only, the denylist, the table allowlist, LIMIT
  injection) runs on every call, before the lookup, so a hit is never
  served for SQL the current allowlist refuses.
- The key is the validated SQL, ``limit``, ``max_estimated_rows``, the
  :func:`~..sources.parquet.data_fingerprint` of ``data_dir`` (path,
  size and ``mtime_ns`` of every file under it) and the session's
  :func:`~..sources.parquet.views_generation` counter that every
  ``register_views`` call bumps. Rewriting a table file or
  re-registering the views therefore misses. Temp views replaced by
  other means are not seen. A missing ``data_dir`` is an error result.
- A hit skips Spark analysis, the cost-gate estimate and the collect,
  and returns a copy marked ``cached=True``: new row lists (nested
  array/map cells are deep-copied), so mutating it never changes the
  stored entry. The ``explain`` string is built once, on the miss.
- Only ``ok`` results are stored, and only when the analyzed plan is
  deterministic and the SQL calls no clock- or session-dependent
  function (``_VOLATILE_FUNCTIONS``) and holds no relative datetime
  string (``DATE 'today'``, ``TIMESTAMP 'now'``: ``_VOLATILE_LITERALS``).
  Spark marks both deterministic; it folds the strings to constants at
  parse time. Errors, timeouts and cost-gate refusals are never stored.
- At most ``CACHE_MAX_ENTRIES`` entries; the least recently used goes
  first. Safe to share between threads.
"""

from __future__ import annotations

import copy
import threading
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field, replace
from datetime import date, datetime, time
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..sources.parquet import data_fingerprint, views_generation
from .cost_gate import DEFAULT_MAX_ESTIMATED_ROWS, cost_gate
from .safety import SQLSafetyError, Token, tokenize, validate

DEFAULT_LIMIT = 100  # routes_ai.py:134
MAX_ROWS = 500  # README.md:115
DEFAULT_TIMEOUT_MS = 5000  # routes_ai.py:135
CACHE_MAX_ENTRIES = 256

# Read the clock or the session rather than the data. Spark's plan flag
# calls them deterministic, so they are matched by name.
_VOLATILE_FUNCTIONS = frozenset({
    "current_date", "current_time", "current_timestamp", "current_timezone",
    "current_user", "current_catalog", "current_schema", "current_database",
    "curdate", "now", "localtimestamp", "session_user", "user",
    "unix_timestamp",
})
# Special datetime strings Spark resolves against the clock when it
# parses them, e.g. DATE 'today' or CAST('now' AS TIMESTAMP).
_VOLATILE_LITERALS = frozenset({"now", "today", "yesterday", "tomorrow"})


@dataclass
class ExecutionResult:
    """(columns, rows) result shape of the reference (nl2sql.py:349-360)
    plus the plan metadata its API returns (routes_ai.py:308-317)."""

    ok: bool
    sql: str
    columns: list[str] = field(default_factory=list)
    rows: list[list[Any]] = field(default_factory=list)
    rowcount: int = 0
    estimated_rows: int | None = None
    estimate_source: str = "none"
    explain: str = ""
    error: str | None = None
    cached: bool = False


def jsonable(v: Any) -> Any:
    """JSON-safe coercion (nl2sql.py:325-330 parity)."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date, time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return [jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: jsonable(x) for k, x in v.items()}
    return v


def collect_with_timeout(
    df: DataFrame, timeout_ms: int = DEFAULT_TIMEOUT_MS
) -> list:
    """Collect under a job-group watchdog (S8)."""
    sc = df.sparkSession.sparkContext
    group = f"sqlizer-{uuid.uuid4().hex[:8]}"
    cancelled = threading.Event()

    def _cancel() -> None:
        cancelled.set()
        try:
            sc.cancelJobGroup(group)
        except Exception:
            pass

    timer = threading.Timer(timeout_ms / 1000.0, _cancel)
    sc.setJobGroup(group, "sqlizer read-only execution", interruptOnCancel=True)
    timer.start()
    try:
        return df.collect()
    except Exception:
        if cancelled.is_set():
            raise SQLSafetyError(f"Query cancelled after {timeout_ms} ms timeout")
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "")


def _volatile(t: Token) -> bool:
    if t.kind == "word":
        return t.value in _VOLATILE_FUNCTIONS
    if t.kind == "str":
        words = t.value[1:-1].lower().split()
        return bool(words) and words[0] in _VOLATILE_LITERALS
    return False


def _cacheable(df: DataFrame, sql: str) -> bool:
    if not df._jdf.queryExecution().analyzed().deterministic():
        return False
    return not any(_volatile(t) for t in tokenize(sql))


class ResultCache:
    """Bounded LRU of ``ok`` results over the data under ``data_dir``;
    the contract is in the module docstring."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self._entries: OrderedDict[tuple, tuple[ExecutionResult, bool]] = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def key(
        self, spark: SparkSession, sql: str, limit: int, max_estimated_rows: int
    ) -> tuple:
        return (sql, limit, max_estimated_rows, data_fingerprint(self.data_dir),
                views_generation(spark))

    def get(self, key: tuple) -> ExecutionResult | None:
        with self._lock:
            hit = self._entries.get(key)
            if hit is None:
                return None
            self._entries.move_to_end(key)
        entry, nested = hit
        rows = copy.deepcopy(entry.rows) if nested else entry.rows
        return replace(entry, columns=list(entry.columns),
                       rows=[list(r) for r in rows], cached=True)

    def put(self, key: tuple, res: ExecutionResult) -> None:
        rows = [tuple(r) for r in res.rows]
        nested = any(isinstance(v, (list, dict)) for r in rows for v in r)
        if nested:
            rows = copy.deepcopy(rows)
        entry = replace(res, columns=tuple(res.columns), rows=rows)
        with self._lock:
            self._entries[key] = (entry, nested)
            self._entries.move_to_end(key)
            while len(self._entries) > CACHE_MAX_ENTRIES:
                self._entries.popitem(last=False)


def run_readonly(
    spark: SparkSession,
    sql: str,
    question: str | None = None,
    allowed_tables=None,
    limit: int = DEFAULT_LIMIT,
    timeout_ms: int = DEFAULT_TIMEOUT_MS,
    max_estimated_rows: int = DEFAULT_MAX_ESTIMATED_ROWS,
    schema_context: dict[str, list[str]] | None = None,
    *,
    cache: ResultCache,
) -> ExecutionResult:
    """The engine's ``run`` verb: validate → plan → cost-gate → execute.

    Mirrors the /ai/run path (app/main.py:298-331): re-validates the SQL,
    injects LIMIT, gates on estimated rows, executes read-only with a
    timeout, returns JSON-safe (columns, rows). A ``cache`` hit after
    validation returns the stored result (module docstring).
    """
    limit = min(limit, MAX_ROWS)
    try:
        final_sql = validate(
            sql,
            question=question,
            allowed_tables=allowed_tables,
            max_rows=limit,
            schema_context=schema_context,
        )
        key = cache.key(spark, final_sql, limit, max_estimated_rows)
        hit = cache.get(key)
        if hit is not None:
            return hit
        df = spark.sql(final_sql)  # lazy — Spark parses, Catalyst optimizes
        est, source = cost_gate(df, max_estimated_rows)
        df = df.limit(limit)
        rows = collect_with_timeout(df, timeout_ms)
        res = ExecutionResult(
            ok=True,
            sql=final_sql,
            columns=df.columns,
            rows=[[jsonable(v) for v in r] for r in rows],
            rowcount=len(rows),
            estimated_rows=est,
            estimate_source=source,
            explain=df._jdf.queryExecution().simpleString(),
        )
        if _cacheable(df, final_sql):
            cache.put(key, res)
        return res
    except SQLSafetyError as e:
        return ExecutionResult(ok=False, sql=sql, error=f"safety: {e}")
    except Exception as e:  # parse/analysis/execution errors
        return ExecutionResult(ok=False, sql=sql, error=str(e)[:500])
