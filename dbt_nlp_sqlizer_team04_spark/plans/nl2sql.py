"""NL→SQL pipeline — A15-A18 over Spark SQL (SURVEY.md §3.1).

The reference's flow (app/routes_ai.py:91-317): schema link → intent →
candidates (LLM with 90 s timeout, template fallback) → rank → validate →
cost-gate → execute, with a retry ladder across candidates. Here the
executor is Spark and the *template tier is intent-driven*: instead of
only ``SELECT first-5-cols LIMIT 100`` (inference.py:215-246), templates
compile the detected intent (agg function, group column, sort, limit,
distinct) against profiled metadata into real SQL — so the deterministic
no-LLM path answers the reference's eval questions (FIXTURES.md §6).

Determinism contract for cross-engine checks: template aggregates are
wrapped in ROUND (4dp for AVG, 2dp for SUM) with predictable aliases
(``avg_<col>``, ``sum_<col>``, ``cnt``), so results hash-match a DuckDB
oracle running the same SQL (one renderer, ``_agg_expr``).

Rule table. The template tier is :data:`TEMPLATE_RULES`, an ordered
tuple of (method, rule) pairs in the style of Catalyst's rule batches
(Spark SQL, SIGMOD 2015):

- A rule is a pure function of one :class:`Evidence` (the question, its
  intent analysis and linked slice, the anchor table and the
  score-bound column helpers) returning its (sql, confidence) pairs,
  possibly none. Every candidate a rule emits carries its method name.
- :meth:`NL2SQLEngine.template_candidates` concatenates the rules'
  candidates in table order. That order is the tie-break: ``rank``
  sorts stably, so between equal scores the earlier rule wins.
- Confidences are the named ``CONF_*`` levels; the comment above
  :meth:`NL2SQLEngine.rank` explains the inflation they are set against.
- tests/nl2sql_template_reference.json pins every rule's output, from
  before the table existed, over the repository's question corpus.

Front-end memo. The deterministic front end of a question (the
:meth:`NL2SQLEngine.link` result, the intent analysis and the
template-tier candidates) is memoized per engine, so a repeated
question skips linking, intent and the template tier:

- Keys: ``link`` keys on the exact question string; the intent analysis
  and the template tier key on the question and its frozen link result.
  ``metadata`` is fixed per engine, so nothing else feeds them.
- Bound: each memo is an LRU of ``FRONT_MEMO_MAX_ENTRIES`` (1,024)
  entries. A question longer than ``FRONT_MEMO_MAX_CHARS`` (1,024)
  characters bypasses both, so a huge posted question cannot grow them.
- Invalidation: :meth:`NL2SQLEngine.attach_model` replaces both memos
  (the linker changes; ``clear_memo`` does the same by hand).
- Every call hands out fresh copies (slice dicts, score dicts, the
  ``IntentAnalysis`` and its lists, ``Candidate`` objects), so mutating
  an answer never changes a stored entry. Exceptions are not stored.
- Per request still run: the LLM tier, :meth:`NL2SQLEngine.rank`, the
  candidate ladder and, through the executor, the safety verdict and
  the result-cache key.
"""

from __future__ import annotations

import copy
import re
import threading
from collections.abc import Callable
from dataclasses import dataclass, field, replace
from functools import cached_property, lru_cache, partial

from pyspark.sql import SparkSession

from ..catalog.metadata import SchemaMetadata
from .executor import (
    DEFAULT_LIMIT,
    DEFAULT_TIMEOUT_MS,
    ExecutionResult,
    ResultCache,
    run_readonly,
)
from .intent import IntentAnalysis, QueryIntent, analyze_query_intent, build_enhanced_prompt
from .linking import partial_ratio, select_relevant
from .llm import LLMNotConfigured, chat_complete
from .safety import extract_sql_from_response

# crawler.py:255's numeric-type substring set, extended with Spark's names.
_NUMERIC_SUBSTR = ("int", "numeric", "decimal", "float", "double", "real", "long")

_GRAIN_RE = re.compile(
    r"\b(?:per|by|each|every)\s+(month|year|day|week)\b"
    r"|\b(monthly|yearly|annually|daily|weekly)\b"
)
_GRAIN_WORDS = {
    "monthly": "month", "yearly": "year", "annually": "year",
    "daily": "day", "weekly": "week",
}


_CMP_RE = re.compile(
    r"\b([a-z_]+)\s+"
    r"(over|above|under|below|greater than|more than|less than|"
    r"at least|at most|exceeding)\s+"
    r"(\d[\d,]*(?:\.\d+)?)\b"
)
_CMP_OPS = {
    "over": ">", "above": ">", "greater than": ">", "more than": ">",
    "exceeding": ">", "under": "<", "below": "<", "less than": "<",
    "at least": ">=", "at most": "<=",
}

# "totalprice between 100000 and 200000" — a closed numeric range on a
# fuzzy-resolved numeric column
_BETWEEN_RE = re.compile(
    r"\b([a-z_]+)\s+between\s+(\d[\d,]*(?:\.\d+)?)"
    r"\s+and\s+(\d[\d,]*(?:\.\d+)?)\b"
)

# "per orderstatus and orderpriority" — a compound group phrase; split
# on ' and ' and resolve each part independently
_PER_PHRASE_RE = re.compile(
    r"\b(?:per|for each|each|every)\s+([a-z_][a-z_ ]*)"
)

# "top 3 mktsegments by average acctbal" — ranked grouped aggregate with
# an explicit result bound; the group and measure phrases resolve over
# EVERY crawled table (the fuzzy table pruner can misfire on plural
# group words, so this template re-links from its own evidence)
_TOPN_GROUP_RE = re.compile(
    r"\btop\s+(\d+)\s+([a-z_][a-z_ ]*?)\s+by\s+"
    r"(average|avg|mean|total|sum|max|maximum|min|minimum)\s+"
    r"([a-z_][a-z_ ]*)"
)

# "which orderpriority has the most orders" — superlative group question
_SUPERLATIVE_RE = re.compile(
    r"\bwhich\s+([a-z_][a-z_ ]*?)\s+has\s+the\s+(most|fewest)\b"
)

# "which nation has the highest average acctbal" — superlative over an
# AGGREGATED measure, possibly living one FK hop away from the entity
_SUPERLATIVE_AGG_RE = re.compile(
    r"\bwhich\s+([a-z_]+)\s+has\s+the\s+"
    r"(highest|lowest|largest|smallest)\s+"
    r"(?:(average|avg|mean|total|sum)\s+)?([a-z_]+)\b"
)

# "lowest 5 orders by totalprice" — bottom-N entity listing (the intent
# layer reads 'lowest' as MIN and never sets SORTED)
_BOTTOM_N_RE = re.compile(
    r"\b(lowest|cheapest|smallest|bottom)\s+(\d+)\s+"
    r"([a-z_]+?)s?\s+by\s+([a-z_]+)\b"
)

# "orders with totalprice greater than the average totalprice" — the
# scalar-subquery comparison (B15's eval shape)
_SCALAR_CMP_RE = re.compile(
    r"\b([a-z_]+)\s+(greater|more|higher|larger|less|lower|smaller)\s+"
    r"than\s+the\s+(?:average|avg|mean)\s+([a-z_]+)\b"
)

# "customers or suppliers named like mall" — UNION of name columns
# (B14's eval shape)
_UNION_NAMED_RE = re.compile(
    r"\b([a-z_]+?)s?\s+or\s+([a-z_]+?)s?\s+"
    r"(?:named|names?)\s+like\s+'?%?([a-z0-9]+)%?'?"
)

# "rank orders by totalprice descending" — explicit RANK() ask (B10)
_RANK_RE = re.compile(
    r"\brank\s+([a-z_]+?)s?\s+by\s+([a-z_]+)"
    r"(\s+desc(?:ending)?)?\b"
)

# "orders placed before 1997" — a comparison year filter
_YEAR_CMP_RE = re.compile(
    r"\b(before|after|since|until|through)\s+((?:19|20)\d{2})\b"
)
_YEAR_CMP_OPS = {
    "before": "<", "after": ">", "since": ">=",
    "until": "<=", "through": "<=",
}

# "orders after 1996-03-15" — a full-date predicate (the document
# plane's before/after/since tier on the SQL side). Extracted and
# MASKED before the year tier runs: _YEAR_CMP_RE would otherwise
# silently claim the year prefix of the ISO literal and drop the
# month/day — found by the r10 NL property sweep.
_DATE_CMP_RE = re.compile(
    r"\b(before|after|since|until|through)\s+(\d{4}-\d{2}-\d{2})\b"
)

# "priorities with more than 3000 orders" — aggregate-filtered groups
# (the HAVING tier): a count threshold over an entity, grouped by the
# leading noun phrase
_HAVING_COUNT_RE = re.compile(
    r"\b([a-z_][a-z_ ]*?)\s+with\s+"
    r"(more than|at least|over|fewer than|less than|at most)\s+"
    r"(\d+)\s+(?:[a-z_]+\s+)??([a-z_]+)\b(?!\s+[a-z_])"
)

# "top 3 nations by number of customers" — ranked count through the
# FK graph (the measure is a row count, not a numeric column)
_TOPN_COUNT_RE = re.compile(
    r"\btop\s+(\d+)\s+([a-z_]+?)s?\s+by\s+"
    r"(?:number|count)\s+of\s+([a-z_]+)\b"
)

# "segments with average acctbal above 4500" — HAVING on an aggregate
# of a numeric measure
_HAVING_AGG_RE = re.compile(
    r"\b([a-z_][a-z_ ]*?)\s+with\s+"
    r"(average|avg|mean|total|sum|maximum|max|minimum|min)\s+"
    r"([a-z_]+)\s+"
    r"(above|over|more than|greater than|below|under|less than)\s+"
    r"(\d+(?:\.\d+)?)\b"
)

_HAVING_OPS = {
    "more than": ">", "over": ">", "above": ">", "greater than": ">",
    "at least": ">=",
    "fewer than": "<", "less than": "<", "below": "<", "under": "<",
    "at most": "<=",
}

# "count/number of <entity>" — the counted ENTITY names the fact table;
# the fuzzy pruner can rank a dimension first when its columns match
# other question words ("number of orders per customer name")
_MEASURE_ENTITY_RE = re.compile(
    r"\b(?:count|number|sum|total|average|avg)\s+of\s+([a-z_]+)"
)

# "percentage of orders per X" — share-of-total grouped rollup
_PERCENT_RE = re.compile(r"\b(?:percentage|percent|share|proportion)\b")
_BREAKDOWN_RE = re.compile(r"\bbreak\s*down\b|\bbreakdown\b|\bfacet")
_BY_WORD_RE = re.compile(r"\bby\s+([a-z_]+)")

# "customers without orders" — FK anti-join (NOT EXISTS)
_WITHOUT_RE = re.compile(r"\b([a-z_]+?)s?\s+without\s+(?:any\s+)?([a-z_]+?)s?\b")

# recency phrasing: the sort key is a DATE column, not the best numeric
_RECENCY_DESC = ("most recent", "recent", "recently", "latest", "newest")
_RECENCY_ASC = ("oldest", "earliest")

# "oldest 3 orders" — the intent layer's limit regex only sees "top N"/
# "first N"; a count adjacent to a recency word is the same ask
_RECENCY_N_RE = re.compile(
    r"\b(?:oldest|latest|newest|earliest|most recent|recent)\s+(\d+)\b"
)

_FUNC_WORDS = {
    "average": "AVG", "avg": "AVG", "mean": "AVG",
    "total": "SUM", "sum": "SUM",
    "max": "MAX", "maximum": "MAX", "min": "MIN", "minimum": "MIN",
}

# multi-aggregate detection ("count of orders and average totalprice"):
# ordered scan so the emitted column order follows the question
_AGG_KEYWORDS: tuple[tuple[str, str], ...] = (
    (r"\b(?:count|how many|number of)\b", "COUNT"),
    (r"\b(?:average|avg|mean)\b", "AVG"),
    (r"\b(?:sum|total)\b", "SUM"),
    (r"\b(?:max|maximum|highest)\b", "MAX"),
    (r"\b(?:min|minimum|lowest)\b", "MIN"),
)

# "orders between 1995 and 1997" / "from 1995 to 1997" — a calendar
# YEAR RANGE on the best date column; takes precedence over both the
# single-year and the numeric BETWEEN extractors
_YEAR_RANGE_RE = re.compile(
    r"\b(?:between|from|in)\s+((?:19|20)\d{2})\s+(?:and|to)\s+"
    r"((?:19|20)\d{2})\b"
)
_YEAR_LIT_RE = re.compile(r"(?:19|20)\d{2}")

# "orders from 1995" / "shipped in 1997" — a bare 4-digit year after a
# temporal preposition filters the best date column by calendar year
_YEAR_RE = re.compile(r"\b(?:in|from|during|for|of)\s+((?:19|20)\d{2})\b")

# "name containing 19" / "comment starting with foo" — substring filters
# on a fuzzy-resolved STRING column; ILIKE (both engines support it) so
# question-case tokens match stored-case values
_LIKE_RE = re.compile(
    r"\b([a-z_]+)\s+(containing|contains|starting with|ending with)\s+"
    r"'?([a-z0-9#]+)'?"
)

# NULL_HANDLING compilation (the reference DETECTS this intent —
# query_intent.py:244-254 — but its template tier never compiles it;
# doing so is the template program's parity-plus convention).
# "phone is null / is missing / is not set" and "missing phone" /
# "without a phone" → IS NULL; "phone is not null/empty" and "with
# phone recorded/present" → IS NOT NULL.
_NULL_IS_RE = re.compile(
    r"\b([a-z_]+)\s+is\s+(?:null|empty|missing|blank|unset|not\s+set)\b"
)
_NULL_NOT_RE = re.compile(
    r"\b([a-z_]+)\s+is\s+not\s+(?:null|empty|missing|blank)\b"
    r"|\b(?:with|have|has|having)\s+(?:a\s+|an\s+)?([a-z_]+)\s+"
    r"(?:recorded|present|filled|populated)\b"
)
_NULL_MISSING_RE = re.compile(
    r"\b(?:missing|without)\s+(?:a\s+|an\s+|any\s+)?([a-z_]+)\b"
)

# CONDITIONAL (CASE-bucket) compilation: "categorize orders as big or
# small ..." — the reference only declares the intent (enum) and keeps
# CASE tokens in its LLM-SQL extractor (nl2sql.py:121); here the bucket
# labels and the threshold compile deterministically.
_CASE_BUCKET_RE = re.compile(
    r"\b(?:categori[sz]e|classify|label|bucket|flag)\s+(?:the\s+)?"
    r"([a-z_]+?)s?\s+as\s+([a-z_]+)\s+or\s+([a-z_]+)\b"
)

# "orders with totalprice greater than …": the entity before 'with'
_ENTITY_WITH_RE = re.compile(r"\b([a-z_]+?)s?\s+with\b")

# calendar trends: "month over month change" (LAG) and "running /
# cumulative total" (SUM OVER) window over a calendar rollup
_TREND_RE = re.compile(
    r"\b(month|week|year|day) over \1\b"
    r"|\bchange (?:from|vs|versus|over) (?:the )?previous "
    r"(month|week|year|day)\b"
)
_RUNNING_RE = re.compile(r"\b(?:running|cumulative)\s+(?:total|sum|count)\b")

# "histogram/distribution of <m> in buckets of N" — equi-width buckets
_HISTOGRAM_RE = re.compile(
    r"\b(?:histogram|distribution) of (\w+)\b.*?"
    r"\b(?:buckets|bins|steps) of (\d+)\b"
)

# "decile/quintile/quartile (breakdown/distribution) of <m>" — equi-depth
_NTILE_RE = re.compile(
    r"\b(decile|quintile|quartile)s?\b"
    r"(?: breakdown| distribution)? of (\w+)\b"
)
_NTILES = {"decile": 10, "quintile": 5, "quartile": 4}

# Template confidences, before rank's inflation (NL2SQLEngine.rank).
CONF_ENTITY_JOIN = 0.9  # entity listing through an FK-linked predicate table
CONF_SHAPE = 0.85  # the compiled shape is the whole ask: facets, ratio, trends,
# histogram, equi-depth tiles, CASE buckets, a window asked "along with"
CONF_INTENT = 0.8  # an intent template: ties the FK-join fallback, wins on order
CONF_JOIN_AGG = 0.78  # FK-join grouped aggregate, on clear foreign evidence only
CONF_SINGLE_AGG = 0.75  # single-key grouped aggregate; bare-grain count
CONF_PLAIN = 0.7  # ungrouped aggregate, distinct values, a window as a hint
CONF_WEAK = 0.6  # unbounded sort; the FK-join fallback (template_join)
CONF_LISTING = 0.5  # the reference's first-five-columns listing


def _sql_str(v: str) -> str:
    """A single-quoted SQL string literal."""
    return "'" + v.replace("'", "''") + "'"


def _where(conds: list[str]) -> str:
    return " WHERE " + " AND ".join(conds) if conds else ""


def _limit(n: int | None) -> str:
    return f" LIMIT {n}" if n else ""


def _agg_expr(func: str, col: str | None) -> tuple[str, str]:
    """(expression, alias) of one template aggregate: the module
    docstring's determinism contract (AVG rounded to 4 places, SUM to 2,
    a row count as ``cnt``)."""
    if func == "COUNT":
        return "COUNT(*)", "cnt"
    if func == "AVG":
        return f"ROUND(AVG({col}), 4)", f"avg_{col}"
    if func == "SUM":
        return f"ROUND(SUM({col}), 2)", f"sum_{col}"
    return f"{func}({col})", f"{func.lower()}_{col}"


def _join_path_sql(path: list[tuple[str, str, str, str]]) -> str:
    """``JOIN … ON …`` clauses along an FK path of (tbl_a, col_a, tbl_b,
    col_b) edges (:meth:`NL2SQLEngine._fk_path`)."""
    return " ".join(f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}" for ta, ca, tb, cb in path)


def _grain_key(grain: str, dcol: str) -> str:
    """Calendar bucket key of a date column: ISO week starts for weeks."""
    if grain == "week":
        return f"date_format(date_trunc('week', {dcol}), 'yyyy-MM-dd')"
    fmt = {"month": "yyyy-MM", "year": "yyyy", "day": "yyyy-MM-dd"}[grain]
    return f"date_format({dcol}, '{fmt}')"


def _is_numeric(col) -> bool:
    return any(s in col.type_str.lower() for s in _NUMERIC_SUBSTR)


def _is_string(col) -> bool:
    ts = col.type_str.lower()
    return "string" in ts or "char" in ts or "text" in ts


def _names_table(table: str, tokens: set[str]) -> bool:
    """The question tokens name ``table`` (singular or plural)."""
    return table in tokens or table.rstrip("s") in tokens or f"{table}s" in tokens


def _temporal_grain(question: str) -> str | None:
    """Calendar grain the question groups on, if any ("per month",
    "daily", ...)."""
    m = _GRAIN_RE.search(question.lower())
    if not m:
        return None
    return m.group(1) or _GRAIN_WORDS[m.group(2)]


SYS_PROMPT = (
    "Generate ONLY SQL SELECT queries. NO explanations, NO markdown. "
    "Start with SELECT. SELECT only (no INSERT/UPDATE/DELETE/DDL). "
    "Use explicit JOIN ... ON. Use exact column names from the schema. "
    "Spark SQL syntax. If asked for multiple queries, prefix each line "
    'with "QUERY:".'
)

MAX_LLM_CANDIDATES = 5  # inference.py:155's max_candidates cap


def parse_llm_candidates(resp: str, max_candidates: int = MAX_LLM_CANDIDATES) -> list[str]:
    """Parse N SQL candidates out of one LLM response
    (inference.py:199-206 behavior): every line starting with ``QUERY:``
    or ``SELECT`` is a candidate (prefix stripped, trailing semicolon
    dropped). When no line matches — prose or fenced single-statement
    responses — fall back to the S6 extractor for one candidate. Gives
    the retry ladder the same number of rungs as the reference's."""
    out: list[str] = []
    for line in resp.split("\n"):
        s = line.strip()
        if s.upper().startswith("QUERY:"):
            s = s[len("QUERY:"):].strip()
        elif not s.lower().startswith("select"):
            continue
        s = s.rstrip(";").strip()
        if s.lower().startswith("select") and s not in out:
            out.append(s)
    if not out:
        single = extract_sql_from_response(resp)
        if single.lower().startswith("select"):
            out = [single]
    return out[:max_candidates]


# (schema slice, per-table column scores) of one question: NL2SQLEngine.link
Linked = tuple[dict[str, list[str]], dict[str, dict[str, float]]]

FRONT_MEMO_MAX_ENTRIES = 1024
FRONT_MEMO_MAX_CHARS = 1024


def _freeze_linked(linked: Linked) -> tuple:
    slice_, scores = linked
    return (
        tuple((t, tuple(cols)) for t, cols in slice_.items()),
        tuple((t, tuple(cs.items())) for t, cs in scores.items()),
    )


def _thaw_linked(frozen: tuple) -> Linked:
    slice_, scores = frozen
    return {t: list(cols) for t, cols in slice_}, {t: dict(cs) for t, cs in scores}


@dataclass
class Candidate:
    sql: str
    method: str
    confidence: float
    meta: dict = field(default_factory=dict)


class NL2SQLEngine:
    """Generate + execute pipeline bound to a SparkSession and a profiled
    schema (the SchemaMetadata sidecar is the 'trained model' analog)."""

    def __init__(self, spark: SparkSession, metadata: SchemaMetadata, model=None):
        self.spark = spark
        self.metadata = metadata
        self.schema = metadata.schema_dict()
        # Trained-model path (routes_ai.py:173-226): when a SchemaModel is
        # attached, linking goes semantic-first with fuzzy fallback.
        self.model = model
        self._linker = None
        if model is not None:
            from ..models.inference import SemanticLinker

            self._linker = SemanticLinker(model)
        # per thread: the server's request threads share one engine
        self._last = threading.local()
        self.clear_memo()

    def clear_memo(self) -> None:
        """Start empty front-end memos (module docstring). The old ones
        are dropped whole, so a call already running can only store into
        a memo no later call reads."""
        self._link_memo = lru_cache(maxsize=FRONT_MEMO_MAX_ENTRIES)(
            lambda question: _freeze_linked(self._link(question))
        )
        self._front_memo = lru_cache(maxsize=FRONT_MEMO_MAX_ENTRIES)(
            lambda question, frozen: self._front(question, *_thaw_linked(frozen))
        )

    @property
    def last_method(self) -> str | None:
        """Which ladder tier (llm / template / template_join / ...) won
        this thread's latest :meth:`query_df`; None before one succeeds.
        The parity harness records it per question so the LLM→template
        fallback path is measurable."""
        return getattr(self._last, "method", None)

    @classmethod
    def from_sf_dir(cls, spark: SparkSession, sf_dir: str, tables=None, **kw):
        from ..operators.profiler import crawl_schema
        from ..sources.parquet import TABLES, register_views

        tables = tables or TABLES
        register_views(spark, sf_dir, tables)
        meta = crawl_schema(spark, sf_dir, tables, **kw)
        return cls(spark, meta)

    def attach_model(self, model) -> None:
        from ..models.inference import SemanticLinker

        self.model = model
        self._linker = SemanticLinker(model)
        self.clear_memo()

    def link(self, question: str) -> Linked:
        """Linking ladder: trained semantic tier (top-20 cosine ≥ 0.3,
        inference.py:70-118) when a model is attached, else — or when the
        semantic tier finds nothing — the fuzzy tier (nl2sql.py:23-46).

        Returns (slice, column scores): the scores are the linker's raw
        per-column cosines (empty without a model), so the template tier
        can rank columns on semantic evidence even when it fell below the
        linking threshold. Memoized on the question; every call returns
        new dicts (module docstring)."""
        if len(question) > FRONT_MEMO_MAX_CHARS:
            return self._link(question)
        return _thaw_linked(self._link_memo(question))

    def _link(self, question: str) -> Linked:
        if self._linker is not None:
            rel = self._linker.relevant(question)
            slice_ = rel.as_slice() or select_relevant(self.schema, question)
            return slice_, rel.column_scores()
        return select_relevant(self.schema, question), {}

    # ---------------- column selection helpers ----------------
    def _cols(self, table: str):
        return self.metadata.tables[table].columns if table in self.metadata.tables else []

    def _column_score(
        self,
        table: str,
        name: str,
        fuzzy: float,
        preferred: list[str] | None,
        scores: dict[str, dict[str, float]],
    ) -> float:
        """Blend the linking evidence into a 0-100-ish column score.

        Trained-model path: the trained cosine is the primary signal and
        character fuzz is halved — the reference's trained path doesn't
        consult fuzzy matching at all (inference.py:70-118), we keep it
        only as a tie-breaker. No model: fuzzy score plus a positional
        boost for slice membership."""
        table_scores = scores.get(table)
        if table_scores:
            return 0.5 * fuzzy + 100.0 * max(table_scores.get(name, 0.0), 0.0)
        if preferred and name in preferred:
            return fuzzy + 25.0 - 2.0 * preferred.index(name)
        return fuzzy

    def _best_column(
        self,
        table: str,
        question: str,
        numeric: bool | None = None,
        preferred: list[str] | None = None,
        *,
        scores: dict[str, dict[str, float]],
    ) -> str | None:
        """Highest-scoring column: fuzzy score (synonym-aware via the
        profiler's A8 map) plus a boost for columns the linking tier
        already ranked relevant; optionally restricted to numeric/
        non-numeric types."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            if numeric is not None and _is_numeric(c) != numeric:
                continue
            fuzzy = self._fuzzy(c.name, question)
            score = self._column_score(table, c.name, fuzzy, preferred, scores)
            if score > best_score:
                best, best_score = c.name, score
        return best

    def _group_column(
        self,
        table: str,
        question: str,
        preferred: list[str] | None = None,
        exclude: str | None = None,
        *,
        scores: dict[str, dict[str, float]],
    ) -> str | None:
        scored = self._group_column_scored(
            table, question, preferred, exclude, scores=scores
        )
        return scored[0] if scored else None

    def _fk_path(
        self, src: str, dst: str, max_hops: int = 2
    ) -> list[tuple[str, str, str, str]] | None:
        """Shortest FK join chain src→dst as (tbl_a, col_a, tbl_b,
        col_b) edges, walking the crawled relationship graph in either
        direction (A2's FK inference feeds this, the same way the
        reference's template_join consults metadata relationships)."""
        from collections import deque

        adj: dict[str, list[tuple[str, str, str]]] = {}
        for r in self.metadata.relationships:
            adj.setdefault(r.from_table, []).append(
                (r.to_table, r.from_column, r.to_column)
            )
            adj.setdefault(r.to_table, []).append(
                (r.from_table, r.to_column, r.from_column)
            )
        q = deque([(src, [])])
        seen = {src}
        while q:
            t, path = q.popleft()
            if t == dst:
                return path
            if len(path) >= max_hops:
                continue
            for nt, c_here, c_there in adj.get(t, []):
                if nt not in seen:
                    seen.add(nt)
                    q.append((nt, path + [(t, c_here, nt, c_there)]))
        return None

    def _group_column_scored(
        self,
        table: str,
        question: str,
        preferred: list[str] | None = None,
        exclude: str | None = None,
        numeric: bool | None = None,
        *,
        scores: dict[str, dict[str, float]],
    ) -> tuple[str, float] | None:
        """Grouping key with its score: prefer low-cardinality
        (categorical) columns, fuzzy-matched against the question,
        linking-slice boosted. ``exclude`` bars the aggregation measure
        from doubling as the group key ("max acctbal per nation" must
        not GROUP BY acctbal); ``numeric=False`` restricts to
        non-numeric columns (the join template's dimension keys)."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            if exclude is not None and c.name == exclude:
                continue
            if numeric is not None and _is_numeric(c) != numeric:
                continue
            fuzzy = self._fuzzy(c.name, question)
            score = self._column_score(table, c.name, fuzzy, preferred, scores)
            if c.unique_values is not None:  # profiled categorical
                score += 15.0
            if c.is_primary_key:
                score -= 30.0
            if score > best_score:
                best, best_score = c.name, score
        return (best, best_score) if best is not None else None

    def _extract_filters(
        self, table: str, question: str, exclude: set[str] | None = None
    ) -> list[tuple[str, str]]:
        """Equality filters grounded in the PROFILED categorical
        domains (A6): a filter is emitted only when exactly one of a
        column's unique values matches the question — by exact
        case-insensitive token, or by a ≥4-char question token equal to
        a word of the value ("urgent" → '1-URGENT'). String domains
        only: numeric domains would false-match quantities like
        "top 5". Ambiguous columns (several values match) emit
        nothing — the evidence rule that keeps categorical questions
        like "per orderpriority" filter-free."""
        q_tokens = set(re.findall(r"[a-z0-9#]+", question.lower()))
        long_tokens = {t for t in q_tokens if len(t) >= 4}
        # single-char domains (grade letters A-F) match CASE-SENSITIVELY
        # against standalone uppercase tokens, so "received a C" grounds
        # grade_letter='C' without the article "a" also matching 'A'
        upper_chars = set(re.findall(r"\b[A-Z]\b", question))
        out: list[tuple[str, str]] = []
        for c in self._cols(table):
            if exclude and c.name in exclude:
                continue
            if not c.unique_values:
                continue
            matched = []
            for v in c.unique_values:
                if not isinstance(v, str):
                    break  # numeric/other domain: skip the column
                vl = v.lower()
                if len(v) == 1:
                    if v in upper_chars:
                        matched.append(v)
                    continue
                parts = set(re.findall(r"[a-z0-9#]+", vl))
                if vl in q_tokens or (parts & long_tokens):
                    matched.append(v)
            if len(matched) == 1:
                out.append((c.name, matched[0]))
        return out

    def _extract_numeric_filters(
        self, table: str, question: str
    ) -> list[str]:
        """Comparison predicates from ``<column-word> <comparator>
        <number>`` phrases ("totalprice over 400000" →
        ``o_totalprice > 400000``). The column word must fuzzy-resolve
        to a NUMERIC column of the table; otherwise the phrase is
        ignored — no guessing."""
        out: list[str] = []
        ql = question.lower()
        for word, lo, hi in _BETWEEN_RE.findall(ql):
            # a range whose both bounds read as calendar years belongs
            # to the year-range extractor when a date column exists
            if (
                _YEAR_LIT_RE.fullmatch(lo)
                and _YEAR_LIT_RE.fullmatch(hi)
                and self._date_column(table, question) is not None
            ):
                continue
            best = self._best_numeric_column(table, word)
            if best is not None:
                out.append(
                    f"{best} BETWEEN {lo.replace(',', '')}"
                    f" AND {hi.replace(',', '')}"
                )
        # mask matched ranges so 'between 1 and 2' can't also feed the
        # single-comparator pass below
        ql = _BETWEEN_RE.sub(" ", ql)
        for word, cmp_word, num in _CMP_RE.findall(ql):
            best = self._best_numeric_column(table, word)
            if best is not None:
                out.append(f"{best} {_CMP_OPS[cmp_word]} {num.replace(',', '')}")
        return out

    def _value_numeric_column(self, table: str) -> str | None:
        """The table's VALUE column for entity-anchored comparisons
        ("orders over 400000" — the word names the table, not a
        column): the best numeric non-key column scored against the
        monetary vocabulary. None when nothing clears the shared ≥70
        bar — the phrase is then ignored, the no-guessing rule."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            if not _is_numeric(c):
                continue
            if c.name.lower().endswith("key"):
                continue  # surrogate keys are never the asked measure
            f = max(
                partial_ratio(c.name, w)
                for w in ("price", "total", "amount", "value", "balance")
            )
            for syn in self.metadata.synonyms.get(c.name, []):
                f = max(f, partial_ratio(syn, "value"))
            if f > best_score:
                best, best_score = c.name, f
        return best if best is not None and best_score >= 70.0 else None

    def _share_comparison_filters(
        self, table: str, question: str
    ) -> list[str]:
        """Comparison predicates for the share-of-total tier (r11):
        ``<col-word> over <n>`` via the shared numeric extractor's
        resolution, EXCEPT that a word naming the base table itself
        ("orders over 400000") remaps to the table's value column —
        the fuzzy column pass would land on a surrogate key. Year/date
        phrases ride the shared year extractor."""
        out: list[str] = []
        ql = question.lower()
        for word, cmp_word, num in _CMP_RE.findall(ql):
            if self._entity_table(word) == table:
                col = self._value_numeric_column(table)
            else:
                col = self._best_numeric_column(table, word)
            if col is not None:
                out.append(
                    f"{col} {_CMP_OPS[cmp_word]} {num.replace(',', '')}"
                )
        out.extend(self._extract_year_filters(table, question))
        return out

    def _entity_table(self, word: str, among=None) -> str | None:
        """Resolve a question word to a TABLE (of ``among``, default every
        crawled table) by stem equality or fuzzy affinity ≥ 90 (the
        shared convention of the entity-anchored templates)."""
        w = word.strip()
        for c_t in self.metadata.tables if among is None else among:
            if c_t.rstrip("s") == w.rstrip("s") or partial_ratio(c_t, w) >= 90.0:
                return c_t
        return None

    def _remote_measure(self, entity: str, phrase: str) -> tuple | None:
        """The numeric column ``phrase`` names in another table that
        reaches ``entity`` in at most two FK hops, best name match first:
        (table, column, path to ``entity``), or None."""
        best = None
        for cand_t in self.metadata.tables:
            if cand_t == entity:
                continue
            col = self._best_numeric_column(cand_t, phrase.strip())
            if col is None:
                continue
            path = self._fk_path(cand_t, entity, max_hops=2)
            if path is None:
                continue
            score = partial_ratio(col, phrase)
            if best is None or score > best[0]:
                best = (score, cand_t, col, path)
        return best and best[1:]

    def _fuzzy(self, name: str, text: str) -> float:
        """Fuzzy affinity of a column name, or of its best profiled
        synonym (the A8 map), to ``text``."""
        return max(
            [partial_ratio(name, text)]
            + [partial_ratio(syn, text) for syn in self.metadata.synonyms.get(name, [])]
        )

    def _resolve_column(self, table: str, word: str, accept=lambda c: True) -> str | None:
        """The column of ``table`` passing ``accept`` that a question word
        names: best fuzzy affinity, if it clears the shared ≥70 bar —
        otherwise None, the no-guessing rule."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            if not accept(c):
                continue
            f = self._fuzzy(c.name, word)
            if f > best_score:
                best, best_score = c.name, f
        return best if best is not None and best_score >= 70.0 else None

    def _best_numeric_column(self, table: str, word: str) -> str | None:
        return self._resolve_column(table, word, _is_numeric)

    def _extract_year_filters(self, table: str, question: str) -> list[str]:
        """Calendar-year predicates against the fuzzy-best date column:
        ranges first ("between 1995 and 1997" → ``year(c) BETWEEN``),
        then bare years ("from 1995" → ``year(c) = 1995``) with claimed
        range spans masked; tables with no date column but an INTEGER
        column named like "year" (the school eval schema's
        ``enrollments.year``, FIXTURES.md §1) predicate that column
        directly; neither → no filter."""
        out: list[str] = []
        ql = question.lower()
        dcol = self._date_column(table, question)
        expr = None
        if dcol is not None:
            expr = f"year({dcol})"
        else:
            ycol = next(
                (
                    c.name
                    for c in self._cols(table)
                    if "int" in c.type_str.lower()
                    and re.search(r"(?:^|_)year$", c.name)
                ),
                None,
            )
            if ycol is not None:
                # table-qualified: joined shapes may carry a same-named
                # year column on both sides (courses.year vs
                # enrollments.year)
                expr = f"{table}.{ycol}"
        if expr is None:
            return out
        if dcol is not None:
            for word, iso in _DATE_CMP_RE.findall(ql):
                out.append(f"{dcol} {_YEAR_CMP_OPS[word]} DATE '{iso}'")
            ql = _DATE_CMP_RE.sub(" ", ql)
        for a, b in _YEAR_RANGE_RE.findall(ql):
            out.append(f"{expr} BETWEEN {a} AND {b}")
        ql = _YEAR_RANGE_RE.sub(" ", ql)
        for word, y in _YEAR_CMP_RE.findall(ql):
            out.append(f"{expr} {_YEAR_CMP_OPS[word]} {y}")
        ql = _YEAR_CMP_RE.sub(" ", ql)
        for y in _YEAR_RE.findall(ql):
            out.append(f"{expr} = {y}")
        return out

    def _extract_like_filters(self, table: str, question: str) -> list[str]:
        """Substring predicates from ``<column-word>
        containing/starting with/ending with <token>`` phrases. The
        column word must fuzzy-resolve to a STRING column (≥70, the
        numeric-filter convention); otherwise the phrase is ignored."""
        out: list[str] = []
        for word, mode, tok in _LIKE_RE.findall(question.lower()):
            best = self._resolve_column(table, word, _is_string)
            if best is None:
                continue
            tok = tok.replace("'", "''")
            pat = {
                "containing": f"%{tok}%", "contains": f"%{tok}%",
                "starting with": f"{tok}%", "ending with": f"%{tok}",
            }[mode]
            out.append(f"{best} ILIKE '{pat}'")
        return out

    def _extract_null_filters(self, table: str, question: str) -> list[str]:
        """Nullability predicates from NULL_HANDLING phrasings
        ("customers without a phone" → ``c_phone IS NULL``, "with phone
        recorded" → ``c_phone IS NOT NULL``). The column word must
        fuzzy-resolve to a column of the table (≥70, the numeric-filter
        convention) and must NOT resolve to a TABLE — "orders without
        lineitems" is the FK anti-join template's business, not a
        column-null check."""
        out: list[str] = []
        ql = question.lower()
        seen: set[str] = set()

        def resolve(word: str) -> str | None:
            if not word or self._entity_table(word) is not None:
                return None
            return self._resolve_column(table, word)

        # NOT-null first, then mask, so "is not null" can't also feed
        # the IS NULL pass (whose regex would otherwise match a
        # different alternation of the same phrase)
        for m in _NULL_NOT_RE.finditer(ql):
            col = resolve(m.group(1) or m.group(2))
            if col is not None and col not in seen:
                seen.add(col)
                out.append(f"{col} IS NOT NULL")
        ql = _NULL_NOT_RE.sub(" ", ql)
        for rx in (_NULL_IS_RE, _NULL_MISSING_RE):
            for m in rx.finditer(ql):
                col = resolve(m.group(1))
                if col is not None and col not in seen:
                    seen.add(col)
                    out.append(f"{col} IS NULL")
        return out

    def _equality_predicates(
        self, table: str, question: str, exclude: set | None = None
    ) -> list[str]:
        return [
            f"{c} = {_sql_str(v)}"
            for c, v in self._extract_filters(table, question, exclude)
        ]

    def _predicates(
        self, table: str, question: str, exclude: set | None = None
    ) -> list[str]:
        """Every predicate the question grounds on ``table``: domain
        equality (``exclude`` bars the measure), numeric comparison,
        calendar, substring and nullability filters."""
        return (
            self._equality_predicates(table, question, exclude)
            + self._extract_numeric_filters(table, question)
            + self._extract_year_filters(table, question)
            + self._extract_like_filters(table, question)
            + self._extract_null_filters(table, question)
        )

    def _date_column(self, table: str, question: str) -> str | None:
        """Best date/timestamp-typed column, fuzzy-ranked against the
        question (the temporal-grouping template's truncation target)."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            ts = c.type_str.lower()
            if "date" not in ts and "timestamp" not in ts:
                continue
            fuzzy = partial_ratio(c.name, question)
            if fuzzy > best_score:
                best, best_score = c.name, fuzzy
        return best

    # ---------------- candidate generation ----------------
    def template_candidates(
        self,
        question: str,
        analysis: IntentAnalysis,
        relevant: dict[str, list[str]],
        col_scores: dict[str, dict[str, float]],
    ) -> list[Candidate]:
        """Deterministic intent-compiled templates (extends
        inference.py:215-246's two templates): the candidates of every
        rule in :data:`TEMPLATE_RULES`, in table order (module
        docstring). ``col_scores`` are the linker's per-column cosines
        for this question (see :meth:`link`)."""
        tables = list(relevant)
        if not tables:
            return []
        # "count of orders per customer name": the counted entity is the
        # base/fact table even when the pruner ranked a dimension first
        # on other word matches
        em = _MEASURE_ENTITY_RE.search(question.lower())
        t = (em and self._entity_table(em.group(1).rstrip("s"), among=tables)) or tables[0]
        ev = Evidence(
            eng=self,
            question=question,
            ql=question.lower(),
            analysis=analysis,
            relevant=relevant,
            t=t,
            all_cols=[c.name for c in self._cols(t)],
            limit_n=analysis.limit_n,
            best_column=partial(self._best_column, scores=col_scores),
            group_column=partial(self._group_column, scores=col_scores),
            group_scored=partial(self._group_column_scored, scores=col_scores),
        )
        return [
            Candidate(sql, method, conf)
            for method, rule in TEMPLATE_RULES
            for sql, conf in rule(ev)
        ]

    def llm_candidates(
        self, question: str, analysis: IntentAnalysis, relevant: dict[str, list[str]]
    ) -> list[Candidate]:
        prompt = build_enhanced_prompt(question, relevant, analysis)
        try:
            resp = chat_complete(SYS_PROMPT, prompt)
        except LLMNotConfigured:
            return []
        except Exception:
            return []  # network failure → template fallback (routes_ai.py:205-226)
        return [
            Candidate(sql, "llm", 0.8)
            for sql in parse_llm_candidates(resp, MAX_LLM_CANDIDATES)
        ]

    # Rank inflation, which the CONF_* levels are set against. Every
    # candidate gains +0.1 for each linked table its SQL names and +0.1
    # when it contains a JOIN, capped at 1.0; the sort is stable, so
    # equal scores keep generation order (LLM candidates first, then
    # TEMPLATE_RULES order). The FK-join fallback names two linked
    # tables and joins them, so it inflates itself from CONF_WEAK (0.6)
    # to 0.9. A one-table intent template at CONF_INTENT (0.8) reaches
    # the same 0.9 and wins the tie because intent rules come before the
    # fallback; two-table intent templates meet it at the cap. The
    # entity-join listing starts at CONF_ENTITY_JOIN (0.9) for the same
    # reason: its own two tables and JOIN take it to the cap, where the
    # fallback cannot pass it. The FK-join grouped aggregate (0.78) ranks
    # above the single-table grouped aggregate (0.75), which stays in
    # the ladder as its fallback.
    def rank(self, candidates: list[Candidate], relevant: dict[str, list[str]]) -> list[Candidate]:
        """Confidence heuristics port (inference.py:283-313): +0.1 per
        relevant table referenced, +0.1 for JOIN, sort desc. Returns
        re-scored copies; the input candidates are left unchanged."""
        scored = []
        for cand in candidates:
            s = cand.sql.lower()
            score = cand.confidence
            for table in relevant:
                if re.search(rf"\b{re.escape(table)}\b", s):
                    score += 0.1
            if "join" in s:
                score += 0.1
            scored.append(replace(cand, confidence=min(score, 1.0)))
        return sorted(scored, key=lambda c: -c.confidence)

    def _front(
        self,
        question: str,
        relevant: dict[str, list[str]],
        col_scores: dict[str, dict[str, float]],
    ) -> tuple[IntentAnalysis, list[Candidate]]:
        analysis = analyze_query_intent(question, relevant)
        return analysis, self.template_candidates(question, analysis, relevant, col_scores)

    def generate(
        self, question: str, max_candidates: int = 5, linked: Linked | None = None
    ) -> list[Candidate]:
        """Ranked candidates; ``linked`` is this question's :meth:`link`
        result when the caller already has it. The intent analysis and
        the template tier are memoized (module docstring)."""
        relevant, col_scores = linked = linked or self.link(question)
        if len(question) > FRONT_MEMO_MAX_CHARS:
            analysis, templates = self._front(question, relevant, col_scores)
        else:
            analysis, stored = self._front_memo(question, _freeze_linked(linked))
            analysis = replace(
                analysis,
                all_intents=list(analysis.all_intents),
                required_clauses=list(analysis.required_clauses),
                required_functions=list(analysis.required_functions),
                hints=list(analysis.hints),
            )
            templates = [replace(c, meta=copy.deepcopy(c.meta)) for c in stored]
        cands = self.llm_candidates(question, analysis, relevant)
        cands += templates
        return self.rank(cands, relevant)[:max_candidates]

    def query_df(
        self, question: str, limit: int = DEFAULT_LIMIT, linked: Linked | None = None
    ):
        """Generate-only verb (the reference's /ai/nl2sql split endpoint,
        app/main.py:262-296): returns the lazy (DataFrame, final_sql) for
        the best candidate that passes validation + Spark analysis —
        collection is left to the caller. ``linked`` as in :meth:`generate`."""
        from .safety import validate

        linked = linked or self.link(question)
        relevant = linked[0]
        last_err: Exception | None = None
        self._last.method = None
        for cand in self.generate(question, linked=linked):
            try:
                final = validate(
                    cand.sql,
                    question=question,
                    allowed_tables=list(self.schema),
                    max_rows=limit,
                    schema_context=relevant,
                )
                df = self.spark.sql(final)
                df.schema  # force analysis so bad candidates fall through
                self._last.method = cand.method
                return df, final
            except Exception as e:  # noqa: BLE001
                last_err = e
        raise ValueError(f"no viable candidate for {question!r}: {last_err}")

    def ask(
        self,
        question: str,
        limit: int = DEFAULT_LIMIT,
        timeout_ms: int = DEFAULT_TIMEOUT_MS,
        *,
        cache: ResultCache,
    ) -> ExecutionResult:
        """Full pipeline with the candidate retry ladder
        (routes_ai.py:205-226): first candidate that validates + executes
        wins. ``cache`` is passed to :func:`run_readonly`."""
        linked = self.link(question)
        relevant = linked[0]
        last: ExecutionResult | None = None
        for cand in self.generate(question, linked=linked):
            res = run_readonly(
                self.spark,
                cand.sql,
                question=question,
                allowed_tables=list(self.schema),
                limit=limit,
                timeout_ms=timeout_ms,
                schema_context=relevant,
                cache=cache,
            )
            if res.ok:
                res.explain = f"[{cand.method} conf={cand.confidence:.2f}] " + (
                    explain_query(cand.sql, self.schema) or ""
                )
                return res
            last = res
        return last or ExecutionResult(ok=False, sql="", error="no candidates generated")


# ---------------- the template tier: an ordered rule table ----------------
# (sql, confidence) pairs: what one rule emits for one question
Emitted = list[tuple[str, float]]


@dataclass(frozen=True)
class Evidence:
    """What the template rules know about one question: the question
    as asked and lower-cased, its intent analysis and linked slice, the
    anchor table ``t`` (the counted entity's table when the question
    names one, else the first linked table), its columns, the asked
    row bound and the column helpers bound to this question's linker
    scores. Derived facts that several rules share are computed once,
    on first use."""

    eng: NL2SQLEngine
    question: str
    ql: str
    analysis: IntentAnalysis
    relevant: dict[str, list[str]]
    t: str
    all_cols: list[str]
    limit_n: int | None
    best_column: Callable[..., str | None]
    group_column: Callable[..., str | None]
    group_scored: Callable[..., tuple[str, float] | None]

    @property
    def tables(self) -> list[str]:
        return list(self.relevant)

    def has(self, intent: QueryIntent) -> bool:
        return intent in self.analysis.all_intents

    @property
    def aggregate_ask(self) -> bool:
        """The primary intent is an aggregate: the listing rules stay out."""
        return self.analysis.intent in (
            QueryIntent.AGGREGATION, QueryIntent.GROUPED_AGGREGATION,
        )

    @cached_property
    def predicates(self) -> list[str]:
        """Every predicate the question grounds on the anchor table."""
        return self.eng._predicates(self.t, self.question)

    @cached_property
    def agg(self) -> _AggPlan | None:
        return _agg_plan(self)


@dataclass(frozen=True)
class _AggPlan:
    """The decisions the grouped-aggregation rules share: the measure
    (picked first, so the group key can exclude it — "max acctbal per
    nation" must not GROUP BY the measure), its aggregate expression,
    the single-table group key, the WHERE clause, the calendar grain
    and the FK-join group key as (column, score, table, path)."""

    expr: str
    alias: str
    measure: str | None
    group: str | None
    where: str
    grain: str | None
    join: tuple | None


def _agg_plan(ev: Evidence) -> _AggPlan | None:
    a = ev.analysis
    grouped = ev.has(QueryIntent.GROUPED_AGGREGATION)
    if not a.agg_func or not (grouped or ev.has(QueryIntent.AGGREGATION)):
        return None
    preferred = ev.relevant.get(ev.t)
    measure = None
    if a.agg_func != "COUNT":
        measure = ev.best_column(ev.t, ev.question, numeric=True, preferred=preferred)
    expr, alias = _agg_expr(a.agg_func if measure else "COUNT", measure)
    group = (
        ev.group_column(ev.t, ev.question, preferred=preferred, exclude=measure)
        if grouped
        else None
    )
    where = _where(ev.eng._predicates(ev.t, ev.question, exclude={measure}))
    grain = _temporal_grain(ev.question)
    join = _join_group(ev, measure, grain) if grouped else None
    return _AggPlan(expr, alias, measure, group, where, grain, join)


def _join_group(ev: Evidence, measure: str | None, grain: str | None) -> tuple | None:
    """The FK-join group key: the group phrase resolves to a DIFFERENT
    linked table reachable over the crawled FK graph ("count of
    customers per region name" → customer JOIN nation JOIN region
    GROUP BY r_name). Only on clear foreign evidence: the foreign
    column must beat the best local one by more than 10 points, so a
    near-tie never turns a one-table question into a two-table plan."""
    t = ev.t
    pm = _PER_PHRASE_RE.search(ev.ql)
    group_text = pm.group(1) if pm else ev.question
    local = ev.group_scored(t, group_text, preferred=ev.relevant.get(t), exclude=measure)
    g_tokens = set(re.findall(r"[a-z_]+", group_text))
    # a calendar-grain group phrase ("per month") belongs to the
    # temporal rule — never a dimension join
    if grain is not None and group_text.split()[:1] in (
        ["month"], ["year"], ["day"], ["week"],
    ):
        g_tokens = set()
        group_text = ""
    # the base table gets the SAME name-affinity bonus when the question
    # names it ("max acctbal per nation IN CUSTOMER" must stay local)
    if local is not None and _names_table(t, set(re.findall(r"[a-z_]+", ev.ql))):
        local = (local[0], local[1] + 50.0)
    best = None
    for other in ev.tables if group_text else []:
        if other == t:
            continue
        path = ev.eng._fk_path(t, other)
        if not path:
            continue
        # dimension keys are non-numeric by construction, and are scored
        # against the GROUP PHRASE only, so other question words cannot
        # pull in an unrelated dimension; a phrase that NAMES the table
        # ("per customer name") is decisive evidence for its column
        scored = ev.group_scored(
            other, group_text, preferred=ev.relevant.get(other), numeric=False
        )
        if scored is None:
            continue
        score = scored[1] + (50.0 if _names_table(other, g_tokens) else 0.0)
        if best is None or score > best[1]:
            best = (scored[0], score, other, path)
    if best is not None and local is not None and best[1] <= local[1] + 10.0:
        return None
    return best


def _dimension_group(ev: Evidence, base: str, phrase: str) -> tuple | None:
    """The categorical column of a DIMENSION table that ``phrase`` names
    (table-name affinity ≥ 70) and that ``base`` reaches in at most two
    FK hops, best group score first: (table, column, path from
    ``base``), or None ("share of customers per nation name" groups by
    nation.n_name, not by a customer column)."""
    best = None
    for cand_t in ev.eng.metadata.tables:
        if cand_t == base or partial_ratio(cand_t, phrase) < 70.0:
            continue
        scored = ev.group_scored(cand_t, phrase, numeric=False)
        if scored is None:
            continue
        path = ev.eng._fk_path(base, cand_t, max_hops=2)
        if path is None:
            continue
        if best is None or scored[1] > best[0]:
            best = (scored[1], cand_t, scored[0], path)
    return best and best[1:]


def _agg_order(ev: Evidence, alias: str, key: str) -> str:
    """A sort-intent aggregate orders on its value, any other on its key."""
    if ev.has(QueryIntent.SORTED):
        return f" ORDER BY {alias}" + (" DESC" if ev.analysis.sort_desc else "")
    return f" ORDER BY {key}"


def _facet_breakdown(ev: Evidence) -> Emitted:
    """"break down orders by status and by priority": each 'by <word>'
    resolves to a categorical column; N facets compile to ONE
    grouping-sets pass (one scan + one shuffle, the q118 lattice — the
    SQL twin of NL2Doc's $facet tier)."""
    if not _BREAKDOWN_RE.search(ev.ql):
        return []
    keys: list[str] = []
    for w in _BY_WORD_RE.findall(ev.ql):
        sc = ev.group_scored(ev.t, w, numeric=False)
        if sc is not None and sc[0] not in keys:
            keys.append(sc[0])
    if len(keys) < 2:
        return []
    facet_case = "CASE " + " ".join(
        f"WHEN GROUPING({k}) = 0 THEN 'by_{k}'" for k in keys
    ) + " END"
    coal = ", ".join(f"CAST({k} AS STRING)" for k in keys)
    sets = ", ".join(f"({k})" for k in keys)
    sql = (
        f"SELECT {facet_case} AS facet, "
        f"COALESCE({coal}) AS grp, COUNT(*) AS n "
        f"FROM {ev.t} GROUP BY GROUPING SETS ({sets}) "
        f"ORDER BY facet, grp"
    )
    return [(sql, CONF_SHAPE)]


def _predicate_ratio(ev: Evidence) -> Emitted:
    """"what percentage of orders are urgent": a percent cue with NO
    'per <g>' breakdown and exactly one domain-grounded value compiles
    to an ungrouped CASE ratio (the question asks ONE number about ONE
    predicate)."""
    if not _PERCENT_RE.search(ev.ql) or _PER_PHRASE_RE.search(ev.ql):
        return []
    flt = ev.eng._extract_filters(ev.t, ev.question)
    if len(flt) != 1:
        return []
    fc, fv = flt[0]
    hit = f"CASE WHEN {fc} = {_sql_str(fv)} THEN 1 ELSE 0 END"
    sql = (
        f"SELECT COUNT(*) AS n_total, "
        f"SUM({hit}) AS n_match, "
        f"CAST(ROUND(100.0 * SUM({hit}) / COUNT(*), 4) "
        f"AS DOUBLE) AS pct FROM {ev.t}"
    )
    return [(sql, CONF_SHAPE)]


def _pct_of_total(ev: Evidence) -> Emitted:
    """"percentage of orders per orderstatus": share-of-total per group,
    grouped by a dimension up to two FK hops away when the 'per' phrase
    names one, and by a local column as well."""
    if not _PERCENT_RE.search(ev.ql):
        return []

    def share(g: str, frm: str) -> str:
        # CAST to DOUBLE: ANSI decimal literal arithmetic would type pct
        # as DECIMAL(..,4) and serialize '33.9200'
        return (
            f"SELECT {g}, COUNT(*) AS cnt, "
            f"CAST(ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 4)"
            f" AS DOUBLE) AS pct FROM {frm} "
            f"GROUP BY {g} ORDER BY {g}"
        )

    out = []
    pmp = _PER_PHRASE_RE.search(ev.ql)
    dim = _dimension_group(ev, ev.t, pmp.group(1)) if pmp else None
    if dim is not None:
        _dim_t, dim_c, path = dim
        out.append((share(dim_c, f"{ev.t} {_join_path_sql(path)}"), CONF_INTENT))
    g0 = ev.group_column(ev.t, ev.question, preferred=ev.relevant.get(ev.t))
    if g0 is not None:
        # a "<col> over <n>" / "before <year>" phrase narrows BOTH the
        # numerator and the denominator: share within the filtered set
        where = _where(ev.eng._share_comparison_filters(ev.t, ev.question))
        out.append((share(g0, f"{ev.t}{where}"), CONF_INTENT))
    return out


def _anti_join(ev: Evidence) -> Emitted:
    """"customers without orders": FK anti-join (NOT EXISTS)."""
    wm = _WITHOUT_RE.search(ev.ql)
    if not wm:
        return []
    base_t, sub_t = (ev.eng._entity_table(w) for w in wm.groups())
    if not (base_t and sub_t and base_t != sub_t):
        return []
    edge = next(
        (r for r in ev.eng.metadata.relationships
         if r.from_table == sub_t and r.to_table == base_t),
        None,
    )
    if edge is None:
        return []
    bcols = [c.name for c in ev.eng._cols(base_t)][:5]
    sql = (
        f"SELECT {', '.join(bcols)} FROM {base_t} "
        f"WHERE NOT EXISTS (SELECT 1 FROM {sub_t} "
        f"WHERE {sub_t}.{edge.from_column} = "
        f"{base_t}.{edge.to_column}) "
        f"ORDER BY {bcols[0]} LIMIT {ev.limit_n or 100}"
    )
    return [(sql, CONF_INTENT)]


def _topn_entity(ev: Evidence) -> Emitted:
    """"top 5 parts by average retailprice": the group phrase names an
    ENTITY TABLE. An own-table measure compiles to a PK-grain aggregate
    (the entity sort, shaped as the aggregate the question names so the
    semantic gate's asked-aggregate check passes); a measure up to two
    FK hops away to a grouped aggregate over the join, with the measure
    table's predicates ("top 5 courses by average score in 2024")."""
    tm = _TOPN_GROUP_RE.search(ev.ql)
    if not tm:
        return []
    n_top, g_phrase, f_word, m_phrase = tm.groups()
    func = _FUNC_WORDS[f_word]
    eng = ev.eng
    ent = eng._entity_table(g_phrase)
    if ent is None:
        return []
    m = eng._best_numeric_column(ent, m_phrase.strip())
    if m is not None:
        cols = [c.name for c in eng._cols(ent)]
        pk = next((c.name for c in eng._cols(ent) if c.is_primary_key), cols[0])
        label = next((c for c in cols if c not in (pk, m)), pk)
        expr, alias = _agg_expr(func, m)
        sql = (
            f"SELECT {pk}, {label}, {expr} AS {alias} "
            f"FROM {ent} GROUP BY {pk}, {label} "
            f"ORDER BY {alias} DESC, {pk} LIMIT {int(n_top)}"
        )
        return [(sql, CONF_INTENT)]
    remote = eng._remote_measure(ent, m_phrase)
    g = ev.group_scored(ent, g_phrase, numeric=False)
    if remote is None or g is None:
        return []
    m_tbl, m, path = remote
    expr, alias = _agg_expr(func, m)
    where = _where(
        eng._equality_predicates(m_tbl, ev.question, exclude={m})
        + eng._extract_year_filters(m_tbl, ev.question)
    )
    sql = (
        f"SELECT {g[0]}, {expr} AS {alias} "
        f"FROM {m_tbl} {_join_path_sql(path)}{where} "
        f"GROUP BY {g[0]} "
        f"ORDER BY {alias} DESC, {g[0]} "
        f"LIMIT {int(n_top)}"
    )
    return [(sql, CONF_INTENT)]


def _topn_grouped(ev: Evidence) -> Emitted:
    """"top 3 mktsegments by average acctbal": the ranked grouped
    aggregate re-links over EVERY crawled table on the (group, measure)
    pair's joint fit — the fuzzy table pruner can misfire on plural
    group words."""
    tm = _TOPN_GROUP_RE.search(ev.ql)
    if not tm:
        return []
    n_top, g_phrase, f_word, m_phrase = tm.groups()
    best = None  # (fit, table, group, measure)
    for cand_t in ev.eng.metadata.tables:
        gsc = ev.group_scored(cand_t, g_phrase)
        if gsc is None:
            continue
        m = ev.eng._best_numeric_column(cand_t, m_phrase.strip())
        if m is None or m == gsc[0]:
            continue
        fit = gsc[1] + partial_ratio(m, m_phrase)
        if best is None or fit > best[0]:
            best = (fit, cand_t, gsc[0], m)
    if best is None:
        return []
    _fit, t2, g, m = best
    expr, alias = _agg_expr(_FUNC_WORDS[f_word], m)
    sql = (
        f"SELECT {g}, {expr} AS {alias} FROM {t2} "
        f"GROUP BY {g} ORDER BY {alias} DESC, {g} "
        f"LIMIT {int(n_top)}"
    )
    return [(sql, CONF_INTENT)]


def _topn_count(ev: Evidence) -> Emitted:
    """"top 3 nations by number of customers": a ranked row count
    through the FK graph."""
    tcm = _TOPN_COUNT_RE.search(ev.ql)
    if not tcm:
        return []
    n_top, dim_w, ent_w = tcm.groups()
    ent_t, dim_t = ev.eng._entity_table(ent_w), ev.eng._entity_table(dim_w)
    if ent_t is None or dim_t is None or ent_t == dim_t:
        return []
    gd = ev.group_scored(dim_t, dim_w, numeric=False)
    path = ev.eng._fk_path(ent_t, dim_t, max_hops=2)
    if gd is None or not path:
        return []
    sql = (
        f"SELECT {gd[0]}, COUNT(*) AS n_{ent_t} "
        f"FROM {ent_t} {_join_path_sql(path)} GROUP BY {gd[0]} "
        f"ORDER BY n_{ent_t} DESC, {gd[0]} "
        f"LIMIT {int(n_top)}"
    )
    return [(sql, CONF_INTENT)]


def _superlative(ev: Evidence) -> Emitted:
    """"which orderpriority has the most orders"."""
    sm = _SUPERLATIVE_RE.search(ev.ql)
    if not sm:
        return []
    g_phrase, direction = sm.groups()
    gsc = ev.group_scored(ev.t, g_phrase, preferred=ev.relevant.get(ev.t))
    if gsc is None:
        return []
    order = "DESC" if direction == "most" else "ASC"
    sql = (
        f"SELECT {gsc[0]}, COUNT(*) AS cnt FROM {ev.t} "
        f"GROUP BY {gsc[0]} ORDER BY cnt {order}, {gsc[0]} "
        f"LIMIT 1"
    )
    return [(sql, CONF_INTENT)]


def _bottom_n(ev: Evidence) -> Emitted:
    """"lowest 5 orders by totalprice": bottom-N entity listing."""
    bm = _BOTTOM_N_RE.search(ev.ql)
    if not bm:
        return []
    _word, n_b, ent_w, m_word = bm.groups()
    ent_t = ev.eng._entity_table(ent_w)
    m = ev.eng._best_numeric_column(ent_t, m_word) if ent_t else None
    if m is None:
        return []
    cols = [c.name for c in ev.eng._cols(ent_t)][:5]
    sql = (
        f"SELECT {', '.join(cols)} FROM {ent_t} "
        f"ORDER BY {m}, {cols[0]} LIMIT {int(n_b)}"
    )
    return [(sql, CONF_INTENT)]


def _scalar_subquery(ev: Evidence) -> Emitted:
    """"orders with totalprice greater than the average totalprice"
    (B15): the entity before 'with' anchors the table, else ``t``."""
    scm = _SCALAR_CMP_RE.search(ev.ql)
    if not scm:
        return []
    m_w1, dir_w, m_w2 = scm.groups()
    ent_m = _ENTITY_WITH_RE.search(ev.ql)
    t_s = (ev.eng._entity_table(ent_m.group(1)) if ent_m else None) or ev.t
    m1 = ev.eng._best_numeric_column(t_s, m_w1)
    m2 = ev.eng._best_numeric_column(t_s, m_w2)
    if m1 is None or m2 is None:
        return []
    op = ">" if dir_w in ("greater", "more", "higher", "larger") else "<"
    cols = [c.name for c in ev.eng._cols(t_s)][:5]
    sql = (
        f"SELECT {', '.join(cols)} FROM {t_s} "
        f"WHERE {m1} {op} (SELECT AVG({m2}) FROM {t_s}) "
        f"ORDER BY {cols[0]} LIMIT {ev.limit_n or 100}"
    )
    return [(sql, CONF_INTENT)]


def _union_named(ev: Evidence) -> Emitted:
    """"customers or suppliers named like mall" (B14 UNION)."""
    um = _UNION_NAMED_RE.search(ev.ql)
    if not um:
        return []
    w_a, w_b, tok = um.groups()
    t_a, t_b = ev.eng._entity_table(w_a), ev.eng._entity_table(w_b)
    if not (t_a and t_b and t_a != t_b):
        return []
    n_a = ev.best_column(t_a, "name", numeric=False)
    n_b = ev.best_column(t_b, "name", numeric=False)
    if not (n_a and n_b):
        return []
    sql = (
        f"SELECT {n_a} AS name FROM {t_a} "
        f"WHERE {n_a} ILIKE '%{tok}%' "
        f"UNION "
        f"SELECT {n_b} AS name FROM {t_b} "
        f"WHERE {n_b} ILIKE '%{tok}%' "
        f"ORDER BY name LIMIT {ev.limit_n or 100}"
    )
    return [(sql, CONF_INTENT)]


def _rank(ev: Evidence) -> Emitted:
    """"rank orders by totalprice descending" (B10 RANK)."""
    rm = _RANK_RE.search(ev.ql)
    if not rm or not ev.has(QueryIntent.RANKING):
        return []
    ent_w, m_w, desc = rm.groups()
    t_r = ev.eng._entity_table(ent_w) or ev.t
    m = ev.eng._best_numeric_column(t_r, m_w)
    if m is None:
        return []
    d = " DESC" if (desc or ev.analysis.sort_desc) else ""
    cols = [c.name for c in ev.eng._cols(t_r)][:4]
    sql = (
        f"SELECT {', '.join(cols)}, "
        f"RANK() OVER (ORDER BY {m}{d}) AS rnk "
        f"FROM {t_r} "
        f"ORDER BY rnk, {cols[0]} LIMIT {ev.limit_n or 100}"
    )
    return [(sql, CONF_INTENT)]


def _superlative_agg(ev: Evidence) -> Emitted:
    """"which nation has the highest average acctbal": the measure may
    live up to two FK hops from the entity; an entity word that names a
    COLUMN ("which orderpriority has the highest average totalprice")
    picks the table where both the group word and the measure word
    resolve."""
    sam = _SUPERLATIVE_AGG_RE.search(ev.ql)
    if not sam:
        return []
    ent_w, dir_word, f_word, m_word = sam.groups()
    direction = "DESC" if dir_word in ("highest", "largest") else "ASC"
    func = (
        _FUNC_WORDS[f_word] if f_word else ("MAX" if direction == "DESC" else "MIN")
    )
    eng = ev.eng
    ent_t = eng._entity_table(ent_w)
    if ent_t is None:
        best = None
        for cand_t in eng.metadata.tables:
            gc = ev.group_scored(cand_t, ent_w, numeric=False)
            mc = eng._best_numeric_column(cand_t, m_word)
            if gc is None or mc is None or partial_ratio(gc[0], ent_w) < 70.0:
                continue
            fit = gc[1] + partial_ratio(mc, m_word)
            if best is None or fit > best[0]:
                best = (fit, cand_t)
        if best is None:
            return []
        ent_t = best[1]
    gsc = ev.group_scored(ent_t, ent_w, numeric=False)
    m_t, m, path = ent_t, eng._best_numeric_column(ent_t, m_word), []
    if m is None:
        m_t, m, path = eng._remote_measure(ent_t, m_word) or (m_t, m, path)
    if gsc is None or m is None:
        return []
    expr, alias = _agg_expr(func, m)
    frm = f"{m_t} {_join_path_sql(path)}".strip()
    sql = (
        f"SELECT {gsc[0]}, {expr} AS {alias} "
        f"FROM {frm} GROUP BY {gsc[0]} "
        f"ORDER BY {alias} {direction}, {gsc[0]} LIMIT 1"
    )
    return [(sql, CONF_INTENT)]


def _having_count(ev: Evidence) -> Emitted:
    """"<groups> with more than N <entity>s": a count threshold, grouped
    by a DIMENSION the group phrase names ("nations with … customers"
    groups by nation.n_name through the FK), else by the entity's own
    column ("priorities with … orders")."""
    hm = _HAVING_COUNT_RE.search(ev.ql)
    if not hm:
        return []
    g_phrase, op_word, n_str, ent_w = hm.groups()
    ent_t = ev.eng._entity_table(ent_w)
    if ent_t is None:
        return []
    dim = _dimension_group(ev, ent_t, g_phrase)
    if dim is not None:
        _dim_t, g, path = dim
        frm = f"{ent_t} {_join_path_sql(path)}"
    else:
        gsc = ev.group_scored(ent_t, g_phrase)
        if gsc is None:
            return []
        g, frm = gsc[0], ent_t
    where = _where(ev.eng._equality_predicates(ent_t, ev.question))
    sql = (
        f"SELECT {g}, COUNT(*) AS n_{ent_t} "
        f"FROM {frm}{where} GROUP BY {g} "
        f"HAVING COUNT(*) {_HAVING_OPS[op_word]} {int(n_str)} "
        f"ORDER BY {g}"
    )
    return [(sql, CONF_INTENT)]


def _time_count(ev: Evidence) -> Emitted:
    """Bare entity + calendar grain ("orders per week"): no aggregate
    word, but the grain implies a count rollup (the listing fallback
    would emit ungrouped SQL the semantic gate rejects)."""
    grain = _temporal_grain(ev.question)
    if grain is None or ev.analysis.agg_func is not None:
        return []
    dcol = ev.eng._date_column(ev.t, ev.question)
    if dcol is None:
        return []
    sql = (
        f"SELECT {_grain_key(grain, dcol)} AS {grain}_key, "
        f"COUNT(*) AS cnt FROM {ev.t} "
        f"GROUP BY {grain}_key ORDER BY {grain}_key"
    )
    return [(sql, CONF_SINGLE_AGG)]


def _trend_rollup(ev: Evidence, grain: str | None) -> tuple[str, str] | None:
    """(calendar rollup subquery, its total column) that the trend rules
    window over — a compositional shape: the reference's DATE_TIME
    intent (query_intent.py:183-195) only ever detected the grain."""
    dcol = ev.eng._date_column(ev.t, ev.question) if grain else None
    if not (grain and dcol):
        return None
    m = ev.eng._best_numeric_column(ev.t, ev.question)
    if ev.analysis.agg_func == "COUNT" or m is None:
        inner_agg, total_sel = "COUNT(*)", "total"
    else:
        inner_agg = f"{ev.analysis.agg_func or 'SUM'}({m})"
        total_sel = "ROUND(total, 2) AS total"
    inner = (
        f"SELECT {_grain_key(grain, dcol)} AS {grain}_key, {inner_agg} AS total "
        f"FROM {ev.t} GROUP BY {grain}_key"
    )
    return inner, total_sel


def _time_trend(ev: Evidence) -> Emitted:
    """"month over month change": LAG over a calendar rollup."""
    tm = _TREND_RE.search(ev.ql)
    if not tm:
        return []
    grain = tm.group(1) or tm.group(2)
    rollup = _trend_rollup(ev, grain)
    if rollup is None:
        return []
    inner, total_sel = rollup
    sql = (
        f"SELECT {grain}_key, {total_sel}, "
        f"ROUND(total - LAG(total) OVER "
        f"(ORDER BY {grain}_key), 2) AS delta "
        f"FROM ({inner}) ORDER BY {grain}_key"
    )
    return [(sql, CONF_SHAPE)]


def _time_cumulative(ev: Evidence) -> Emitted:
    """"running/cumulative total": SUM OVER a calendar rollup (a trend
    phrasing takes precedence)."""
    if _TREND_RE.search(ev.ql) or not _RUNNING_RE.search(ev.ql):
        return []
    grain = _temporal_grain(ev.ql)
    rollup = _trend_rollup(ev, grain)
    if rollup is None:
        return []
    inner, total_sel = rollup
    sql = (
        f"SELECT {grain}_key, {total_sel}, "
        f"ROUND(SUM(total) OVER (ORDER BY {grain}_key "
        f"ROWS UNBOUNDED PRECEDING), 2) AS running_total "
        f"FROM ({inner}) ORDER BY {grain}_key"
    )
    return [(sql, CONF_SHAPE)]


def _histogram(ev: Evidence) -> Emitted:
    """"histogram/distribution of <m> in buckets of N": equi-width
    floor-division buckets labeled by their lower bound (the SQL twin of
    NL2Doc's $bucket tier; one aggregate, no boundary-table join)."""
    hm = _HISTOGRAM_RE.search(ev.ql)
    if not hm:
        return []
    m_word, width_s = hm.groups()
    m = ev.eng._best_numeric_column(ev.t, m_word)
    width = int(width_s)
    if m is None or width <= 0:
        return []
    sql = (
        f"SELECT CAST(FLOOR({m} / {width}) * {width} AS BIGINT)"
        f" AS bucket_lo, COUNT(*) AS cnt "
        f"FROM {ev.t} GROUP BY bucket_lo ORDER BY bucket_lo"
    )
    return [(sql, CONF_SHAPE)]


def _equidepth(ev: Evidence) -> Emitted:
    """"decile/quintile/quartile (breakdown/distribution) of <m>": NTILE
    over an order whose ties the crawled primary key breaks, so both
    engines assign identical tiles (the q153 shape from NL)."""
    dm = _NTILE_RE.search(ev.ql)
    if not dm:
        return []
    tile_word, m_word = dm.groups()
    m = ev.eng._best_numeric_column(ev.t, m_word)
    pk = ev.eng.metadata.tables[ev.t].primary_key
    if m is None or not pk:
        return []
    sql = (
        f"SELECT tile, COUNT(*) AS cnt, "
        f"MIN({m}) AS lo, MAX({m}) AS hi "
        f"FROM (SELECT {m}, NTILE({_NTILES[tile_word]}) OVER "
        f"(ORDER BY {m}, {pk[0]}) AS tile FROM {ev.t}) "
        f"GROUP BY tile ORDER BY tile"
    )
    return [(sql, CONF_SHAPE)]


def _having_agg(ev: Evidence) -> Emitted:
    """"<groups> with avg <measure> above N": HAVING on an aggregate;
    the measure must really match a column (≥ 70)."""
    am = _HAVING_AGG_RE.search(ev.ql)
    if not am:
        return []
    g_phrase, f_word, m_word, op_word, n_str = am.groups()
    func = _FUNC_WORDS[f_word]
    best = None  # (fit, table, group, measure)
    for cand_t in ev.eng.metadata.tables:
        m = ev.eng._best_numeric_column(cand_t, m_word)
        if m is None:
            continue
        msc = partial_ratio(m, m_word)
        if msc < 70.0:
            continue
        gsc = ev.group_scored(cand_t, g_phrase, exclude=m)
        if gsc is None:
            continue
        fit = gsc[1] + msc
        if best is None or fit > best[0]:
            best = (fit, cand_t, gsc[0], m)
    if best is None:
        return []
    _f, t3, g, m = best
    expr, alias = _agg_expr(func, m)
    sql = (
        f"SELECT {g}, {expr} AS {alias} FROM {t3} "
        f"GROUP BY {g} "
        f"HAVING {func}({m}) {_HAVING_OPS[op_word]} {n_str} "
        f"ORDER BY {g}"
    )
    return [(sql, CONF_INTENT)]


def _count_distinct(ev: Evidence) -> Emitted:
    """"count of distinct X" asks for the cardinality, not the values."""
    if ev.analysis.agg_func != "COUNT" or not ev.has(QueryIntent.DISTINCT):
        return []
    c = ev.best_column(ev.t, ev.question, preferred=ev.relevant.get(ev.t))
    if c is None:
        return []
    sql = f"SELECT COUNT(DISTINCT {c}) AS n_distinct_{c} FROM {ev.t}"
    return [(sql, CONF_INTENT)]


def _time_grouped_agg(ev: Evidence) -> Emitted:
    """"per month"/"yearly"/...: a calendar grain, not a categorical
    column — truncate the best date column (the reference's DATE_TIME
    intent, query_intent.py:183-195, never generated the GROUP BY)."""
    p = ev.agg
    if p is None or p.grain is None:
        return []
    dcol = ev.eng._date_column(ev.t, ev.question)
    if dcol is None:
        return []
    key = f"{p.grain}_key"
    sql = (
        f"SELECT {_grain_key(p.grain, dcol)} AS {key}, "
        f"{p.expr} AS {p.alias} FROM {ev.t}{p.where} "
        f"GROUP BY {key} ORDER BY {key}"
    ) + _limit(ev.limit_n)
    return [(sql, CONF_INTENT)]


def _join_grouped_agg(ev: Evidence) -> Emitted:
    """The grouped aggregate over the FK-join group key (:func:`_join_group`)."""
    p = ev.agg
    if p is None or p.join is None:
        return []
    g, _score, other, path = p.join
    sql = (
        f"SELECT {other}.{g} AS {g}, {p.expr} AS {p.alias} "
        f"FROM {ev.t} {_join_path_sql(path)}{p.where} GROUP BY {other}.{g}"
    ) + _agg_order(ev, p.alias, g) + _limit(ev.limit_n)
    return [(sql, CONF_JOIN_AGG)]


def _multi_agg(ev: Evidence) -> Emitted:
    """Several aggregate functions in one question ("count of orders AND
    average totalprice per X"; the intent layer carries one agg_func).
    The (group, measure) pair re-anchors on the table where both fit
    together when that fit beats the local one by more than 20 points
    ("min and max acctbal per mktsegment" belongs to customer even when
    the pruner ranked another table first)."""
    p = ev.agg
    if p is None or not p.group:
        return []
    eng, t, question = ev.eng, ev.t, ev.question
    hits = [
        (m.start(), fn)
        for pat, fn in _AGG_KEYWORDS
        for m in [re.search(pat, ev.ql)]
        if m
    ]
    funcs = [fn for _pos, fn in sorted(hits)]
    if len(funcs) < 2:
        return []
    t_m, g_m = t, p.group
    pm = _PER_PHRASE_RE.search(ev.ql)
    if pm:
        best = None  # (fit, table, group, measure)
        for cand_t in eng.metadata.tables:
            m = eng._best_numeric_column(cand_t, question)
            if m is None:
                continue
            gsc = ev.group_scored(cand_t, pm.group(1), exclude=m)
            if gsc is None:
                continue
            fit = gsc[1] + partial_ratio(m, question)
            if best is None or fit > best[0]:
                best = (fit, cand_t, gsc[0], m)
        if best is not None and best[1] != t:
            local_m = ev.best_column(
                t, question, numeric=True, preferred=ev.relevant.get(t)
            )
            lg = ev.group_scored(t, pm.group(1), exclude=local_m)
            local_fit = (lg[1] if lg else 0.0) + (
                partial_ratio(local_m, question) if local_m else 0.0
            )
            if best[0] > local_fit + 20.0:
                t_m, g_m = best[1], best[2]
    mcol = ev.best_column(t_m, question, numeric=True, preferred=ev.relevant.get(t_m))
    sel = [
        "%s AS %s" % _agg_expr(fn, mcol)
        for fn in funcs
        if fn == "COUNT" or (mcol is not None and mcol != g_m)
    ]
    if len(sel) < 2:
        return []
    where = p.where if t_m == t else _where(
        eng._predicates(t_m, question, exclude={mcol})
    )
    sql = (
        f"SELECT {g_m}, {', '.join(sel)} "
        f"FROM {t_m}{where} "
        f"GROUP BY {g_m} ORDER BY {g_m}"
    ) + _limit(ev.limit_n)
    return [(sql, CONF_INTENT)]


def _multi_grouped_agg(ev: Evidence) -> Emitted:
    """"per X and Y" groups on BOTH resolved keys (the reference's intent
    layer saw only one)."""
    p = ev.agg
    if p is None or not ev.has(QueryIntent.GROUPED_AGGREGATION):
        return []
    pm = _PER_PHRASE_RE.search(ev.ql)
    if not pm or " and " not in pm.group(1):
        return []
    keys: list[str] = []
    for part in pm.group(1).split(" and "):
        gc = ev.group_column(
            ev.t, part.strip(), preferred=ev.relevant.get(ev.t), exclude=p.measure
        )
        if gc is None or gc in keys:
            return []
        keys.append(gc)
    if len(keys) < 2:
        return []
    klist = ", ".join(keys)
    sql = (
        f"SELECT {klist}, {p.expr} AS {p.alias} FROM {ev.t}"
        f"{p.where} GROUP BY {klist} ORDER BY {klist}"
    ) + _limit(ev.limit_n)
    return [(sql, CONF_INTENT)]


def _grouped_agg(ev: Evidence) -> Emitted:
    """SELECT g, F(c) FROM t GROUP BY g — the single-table variant."""
    p = ev.agg
    if p is None or not p.group:
        return []
    sql = (
        f"SELECT {p.group}, {p.expr} AS {p.alias} FROM {ev.t}{p.where} "
        f"GROUP BY {p.group}"
    ) + _agg_order(ev, p.alias, p.group) + _limit(ev.limit_n)
    return [(sql, CONF_SINGLE_AGG)]


def _global_agg(ev: Evidence) -> Emitted:
    """An ungrouped aggregate, when neither group key resolved."""
    p = ev.agg
    if p is None or p.group or p.join is not None:
        return []
    sql = f"SELECT {p.expr} AS {p.alias} FROM {ev.t}{p.where}"
    return [(sql, CONF_PLAIN)]


def _window(ev: Evidence) -> Emitted:
    """Rows alongside a partitioned aggregate; the partition key excludes
    the measure ("average acctbal per nation" scored acctbal highest for
    both)."""
    func = ev.analysis.agg_func
    if not ev.has(QueryIntent.WINDOW_FUNCTION) or not func:
        return []
    preferred = ev.relevant.get(ev.t)
    c = ev.best_column(ev.t, ev.question, numeric=True, preferred=preferred)
    g = ev.group_column(ev.t, ev.question, preferred=preferred, exclude=c)
    if not (g and c and g != c):
        return []
    sql = (
        f"SELECT {', '.join(ev.all_cols[:4])}, "
        f"ROUND({func}({c}) OVER (PARTITION BY {g}), 4) "
        f"AS {func.lower()}_{c}_per_{g} FROM {ev.t} "
        f"ORDER BY {ev.all_cols[0]}"
    )
    # "along with" = the window is the ask; as a secondary hint it stays
    # under the grouped aggregate
    conf = CONF_SHAPE if ev.analysis.intent == QueryIntent.WINDOW_FUNCTION else CONF_PLAIN
    return [(sql, conf)]


def _distinct(ev: Evidence) -> Emitted:
    if not ev.has(QueryIntent.DISTINCT):
        return []
    c = ev.best_column(
        ev.t, ev.question, numeric=False, preferred=ev.relevant.get(ev.t)
    ) or ev.all_cols[0]
    sql = f"SELECT DISTINCT {c} FROM {ev.t} ORDER BY {c}"
    return [(sql, CONF_PLAIN)]


def _sorted(ev: Evidence) -> Emitted:
    """Ranking / sorted top-N listing. Recency phrasing sorts on the
    DATE column (the numeric-best pick would order by a surrogate key)
    and takes an adjacent count ("oldest 3 orders") as the bound."""
    if not (
        ev.has(QueryIntent.RANKING) or ev.has(QueryIntent.SORTED)
    ) or ev.analysis.intent == QueryIntent.GROUPED_AGGREGATION:
        return []
    ql = ev.ql
    recency = (
        "desc" if any(w in ql for w in _RECENCY_DESC)
        else "asc" if any(w in ql for w in _RECENCY_ASC)
        else None
    )
    c = (recency and ev.eng._date_column(ev.t, ev.question)) or ev.best_column(
        ev.t, ev.question, numeric=True, preferred=ev.relevant.get(ev.t)
    )
    bound = ev.limit_n
    if bound is None:
        nm = _RECENCY_N_RE.search(ql)
        if nm:
            bound = int(nm.group(1))
    if not c:
        return []
    desc = recency == "desc" or (recency is None and ev.analysis.sort_desc)
    sql = (
        f"SELECT {', '.join(ev.all_cols[:5])} FROM {ev.t}"
        f" ORDER BY {c}{' DESC' if desc else ''}, {ev.all_cols[0]}"
        f" LIMIT {bound or 100}"
    )
    # an explicit bound or recency phrasing is the ask; a bare sort is
    # weaker evidence than the FK-join fallback
    conf = CONF_INTENT if (bound or recency) else CONF_WEAK
    return [(sql, conf)]


def _case_bucket(ev: Evidence) -> Emitted:
    """"categorize orders as big or small with totalprice over 150000":
    CASE-threshold buckets with per-bucket counts. The threshold is the
    question's own comparator when present, else the corpus mean via a
    scalar subquery (the reference only declares the CONDITIONAL intent
    and keeps CASE tokens in its LLM-SQL extractor, nl2sql.py:121)."""
    cm = _CASE_BUCKET_RE.search(ev.ql)
    if not cm or not ev.has(QueryIntent.CONDITIONAL):
        return []
    ent_w, lab_hi, lab_lo = cm.groups()
    case_t = ev.eng._entity_table(ent_w) or ev.t
    cond = None
    for word, cmp_word, num in _CMP_RE.findall(ev.ql):
        col = ev.eng._best_numeric_column(case_t, word)
        if col is not None:
            cond = f"{col} {_CMP_OPS[cmp_word]} {num.replace(',', '')}"
            break
    if cond is None:
        col = ev.eng._best_numeric_column(case_t, ev.question)
        if col is None:
            return []
        cond = f"{col} >= (SELECT AVG({col}) FROM {case_t})"
    sql = (
        f"SELECT category, COUNT(*) AS cnt FROM "
        f"(SELECT CASE WHEN {cond} THEN '{lab_hi}' ELSE '{lab_lo}' END "
        f"AS category FROM {case_t}) "
        f"AS bucketed GROUP BY category ORDER BY category"
    )
    return [(sql, CONF_SHAPE)]


def _entity_join_listing(ev: Evidence) -> Emitted:
    """"list students who received a C with score above 75": the anchor
    entity carries no predicate evidence itself, but an FK-linked table
    does; compile the reference's demo shape (README.md:168-179 gold):
    entity PK + label joined to the predicate table's columns."""
    if ev.aggregate_ask or ev.predicates:
        return []
    eng, t = ev.eng, ev.t
    t_cols = {c.name for c in eng._cols(t)}
    for ft in ev.tables[1:]:
        edge = next(
            (r for r in eng.metadata.relationships
             if r.from_table == ft and r.to_table == t),
            None,
        )
        if edge is None:
            continue
        conds = eng._predicates(ft, ev.question)
        # unqualified predicates must be unambiguous after the join
        if not conds or any(cond.split()[0] in t_cols for cond in conds):
            continue
        pk = next((c.name for c in eng._cols(t) if c.is_primary_key), ev.all_cols[0])
        label = next(
            (c.name for c in eng._cols(t)
             if c.name != pk and "string" in c.type_str.lower()),
            None,
        )
        proj = [f"{t}.{pk}"] + ([f"{t}.{label}"] if label else []) + [
            f"{ft}.{c.name}" for c in eng._cols(ft) if c.name != edge.from_column
        ]
        join = _join_path_sql([(ft, edge.from_column, t, edge.to_column)])
        sql = (
            f"SELECT {', '.join(proj)} FROM {ft} {join} "
            f"WHERE {' AND '.join(conds)} "
            f"ORDER BY {t}.{pk} LIMIT {ev.limit_n or 100}"
        )
        return [(sql, CONF_ENTITY_JOIN)]
    return []


def _filtered_select(ev: Evidence) -> Emitted:
    """Predicate evidence without an aggregate intent: a WHERE'd
    projection, ordered on the first column for a deterministic set."""
    if ev.aggregate_ask or not ev.predicates:
        return []
    sql = (
        f"SELECT {', '.join(ev.all_cols[:5])} FROM {ev.t}"
        f" WHERE {' AND '.join(ev.predicates)}"
        f" ORDER BY {ev.all_cols[0]} LIMIT {ev.limit_n or 100}"
    )
    return [(sql, CONF_INTENT)]


def _listing(ev: Evidence) -> Emitted:
    """The reference's first template (inference.py:215-246)."""
    sql = f"SELECT {', '.join(ev.all_cols[:5])} FROM {ev.t} LIMIT 100"
    return [(sql, CONF_LISTING)]


def _fk_join(ev: Evidence) -> Emitted:
    """The reference's second template: the first crawled FK edge
    between two linked tables."""
    tables = ev.tables
    for rel in ev.eng.metadata.relationships if len(tables) >= 2 else []:
        if rel.from_table in tables and rel.to_table in tables:
            sql = (
                f"SELECT * FROM {rel.from_table} f "
                f"JOIN {rel.to_table} t ON f.{rel.from_column} = t.{rel.to_column} "
                f"LIMIT 100"
            )
            return [(sql, CONF_WEAK)]
    return []


# The template tier: (method, rule) pairs. Rules run in this order and
# their candidates are concatenated; the order is the tie-break that
# rank's stable sort keeps between equal scores, so a rule that must win
# a tie comes first.
TEMPLATE_RULES: tuple[tuple[str, Callable[[Evidence], Emitted]], ...] = (
    ("template_facet_breakdown", _facet_breakdown),
    ("template_predicate_ratio", _predicate_ratio),
    ("template_pct_of_total", _pct_of_total),
    ("template_anti_join", _anti_join),
    ("template_topn_entity", _topn_entity),
    ("template_topn_grouped", _topn_grouped),
    ("template_topn_count", _topn_count),
    ("template_superlative", _superlative),
    ("template_bottom_n", _bottom_n),
    ("template_scalar_subquery", _scalar_subquery),
    ("template_union_named", _union_named),
    ("template_rank", _rank),
    ("template_superlative_agg", _superlative_agg),
    ("template_having_count", _having_count),
    ("template_time_count", _time_count),
    ("template_time_trend", _time_trend),
    ("template_time_cumulative", _time_cumulative),
    ("template_histogram", _histogram),
    ("template_equidepth", _equidepth),
    ("template_having_agg", _having_agg),
    ("template_count_distinct", _count_distinct),
    ("template_time_grouped_agg", _time_grouped_agg),
    ("template_join_grouped_agg", _join_grouped_agg),
    ("template_multi_agg", _multi_agg),
    ("template_multi_grouped_agg", _multi_grouped_agg),
    ("template_grouped_agg", _grouped_agg),
    ("template_global_agg", _global_agg),
    ("template_window", _window),
    ("template_distinct", _distinct),
    ("template_sorted", _sorted),
    ("template_case_bucket", _case_bucket),
    ("template_entity_join_listing", _entity_join_listing),
    ("template_filtered_select", _filtered_select),
    ("template", _listing),
    ("template_join", _fk_join),
)


def explain_query(sql: str, schema: dict[str, list[str]]) -> str:
    """Template prose explanation (inference.py:337-369 parity)."""
    s = sql.lower()
    parts = []
    for t in schema:
        if re.search(rf"\b{re.escape(t)}\b", s):
            parts.append(f"queries the {t} table")
    if "join" in s:
        parts.append("joins related tables")
    if any(op in s for op in ("count(", "sum(", "avg(", "max(", "min(")):
        parts.append("performs aggregations")
    if "where" in s:
        parts.append("applies filters")
    if "group by" in s:
        parts.append("groups results")
    if "order by" in s:
        parts.append("sorts results")
    if parts:
        return "This query " + ", ".join(parts) + "."
    return "This query retrieves data from the database."
