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
oracle running the same SQL.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import partial

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


def _temporal_grain(question: str) -> str | None:
    """Calendar grain the question groups on, if any ("per month",
    "daily", ...)."""
    m = _GRAIN_RE.search(question.lower())
    if not m:
        return None
    return m.group(1) or _GRAIN_WORDS[m.group(2)]
# crawler.py:255's numeric-type substring set, extended with Spark's names.

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

    def link(self, question: str) -> Linked:
        """Linking ladder: trained semantic tier (top-20 cosine ≥ 0.3,
        inference.py:70-118) when a model is attached, else — or when the
        semantic tier finds nothing — the fuzzy tier (nl2sql.py:23-46).

        Returns (slice, column scores): the scores are the linker's raw
        per-column cosines (empty without a model), so the template tier
        can rank columns on semantic evidence even when it fell below the
        linking threshold. Nothing is stored on the engine, which
        concurrent requests share."""
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
            is_num = any(s in c.type_str.lower() for s in _NUMERIC_SUBSTR)
            if numeric is True and not is_num:
                continue
            if numeric is False and is_num:
                continue
            fuzzy = partial_ratio(c.name, question)
            for syn in self.metadata.synonyms.get(c.name, []):
                fuzzy = max(fuzzy, partial_ratio(syn, question))
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
            if numeric is not None:
                is_num = any(
                    s in c.type_str.lower() for s in _NUMERIC_SUBSTR
                )
                if is_num != numeric:
                    continue
            fuzzy = partial_ratio(c.name, question)
            for syn in self.metadata.synonyms.get(c.name, []):
                fuzzy = max(fuzzy, partial_ratio(syn, question))
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
            if not any(s in c.type_str.lower() for s in _NUMERIC_SUBSTR):
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

    def _entity_table(self, word: str) -> str | None:
        """Resolve a question word to a TABLE by stem equality or high
        fuzzy affinity (the shared convention of the entity-anchored
        templates)."""
        w = word.strip()
        for c_t in self.metadata.tables:
            if c_t.rstrip("s") == w.rstrip("s") or partial_ratio(c_t, w) >= 90.0:
                return c_t
        return None

    def _best_numeric_column(self, table: str, word: str) -> str | None:
        """Fuzzy-resolve a question word to a NUMERIC column (≥70, the
        shared comparison-filter convention)."""
        best, best_score = None, -1.0
        for c in self._cols(table):
            if not any(s in c.type_str.lower() for s in _NUMERIC_SUBSTR):
                continue
            f = partial_ratio(c.name, word)
            for syn in self.metadata.synonyms.get(c.name, []):
                f = max(f, partial_ratio(syn, word))
            if f > best_score:
                best, best_score = c.name, f
        return best if best is not None and best_score >= 70.0 else None

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
            best, best_score = None, -1.0
            for c in self._cols(table):
                ts = c.type_str.lower()
                if not ("string" in ts or "char" in ts or "text" in ts):
                    continue
                f = partial_ratio(c.name, word)
                for syn in self.metadata.synonyms.get(c.name, []):
                    f = max(f, partial_ratio(syn, word))
                if f > best_score:
                    best, best_score = c.name, f
            if best is None or best_score < 70.0:
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
            best, best_score = None, -1.0
            for c in self._cols(table):
                f = partial_ratio(c.name, word)
                for syn in self.metadata.synonyms.get(c.name, []):
                    f = max(f, partial_ratio(syn, word))
                if f > best_score:
                    best, best_score = c.name, f
            return best if best is not None and best_score >= 70.0 else None

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
        inference.py:215-246's two templates). ``col_scores`` are the
        linker's per-column cosines for this question (see :meth:`link`)."""
        best_column = partial(self._best_column, scores=col_scores)
        group_column = partial(self._group_column, scores=col_scores)
        group_column_scored = partial(self._group_column_scored, scores=col_scores)
        out: list[Candidate] = []
        tables = list(relevant)
        if not tables:
            return out
        t = tables[0]
        # "count of orders per customer name": the counted entity is
        # the base/fact table even when the pruner ranked a dimension
        # first on other word matches
        em = _MEASURE_ENTITY_RE.search(question.lower())
        if em:
            entity = em.group(1).rstrip("s")
            for cand_t in tables:
                if cand_t.rstrip("s") == entity or partial_ratio(
                    cand_t, entity
                ) >= 90.0:
                    t = cand_t
                    break
        all_cols = [c.name for c in self._cols(t)]
        limit_n = analysis.limit_n

        def order_clause(col: str | None) -> str:
            if col is None:
                return ""
            return f" ORDER BY {col}" + (" DESC" if analysis.sort_desc else "")

        # --- multi-facet breakdown → GROUPING SETS -------------------
        # "break down orders by status and by priority": each 'by
        # <word>' resolves to a categorical column; N facets compile to
        # ONE grouping-sets pass (one scan + one shuffle, the q118
        # lattice — the SQL twin of NL2Doc's $facet tier)
        if _BREAKDOWN_RE.search(question.lower()):
            keys: list[str] = []
            for w in _BY_WORD_RE.findall(question.lower()):
                sc = group_column_scored(t, w, numeric=False)
                if sc is not None and sc[0] not in keys:
                    keys.append(sc[0])
            if len(keys) >= 2:
                facet_case = "CASE " + " ".join(
                    f"WHEN GROUPING({k}) = 0 THEN 'by_{k}'" for k in keys
                ) + " END"
                coal = ", ".join(f"CAST({k} AS STRING)" for k in keys)
                sets = ", ".join(f"({k})" for k in keys)
                sql = (
                    f"SELECT {facet_case} AS facet, "
                    f"COALESCE({coal}) AS grp, COUNT(*) AS n "
                    f"FROM {t} GROUP BY GROUPING SETS ({sets}) "
                    f"ORDER BY facet, grp"
                )
                out.append(Candidate(sql, "template_facet_breakdown", 0.85))

        # --- share-of-total: "percentage of X per g" ----------------
        if _PERCENT_RE.search(question.lower()):
            # predicate ratio: "what percentage of orders are urgent" —
            # a percent cue with NO "per <g>" breakdown but with exactly
            # one domain-grounded value match compiles to an ungrouped
            # CASE ratio (the grouped share would pick some categorical
            # column and leave the reader to find the row; the question
            # asks ONE number about ONE predicate)
            if not _PER_PHRASE_RE.search(question.lower()):
                flt = self._extract_filters(t, question)
                if len(flt) == 1:
                    fc, fv = flt[0]
                    fv_esc = fv.replace(chr(39), chr(39) * 2)
                    hit = f"CASE WHEN {fc} = '{fv_esc}' THEN 1 ELSE 0 END"
                    sql = (
                        f"SELECT COUNT(*) AS n_total, "
                        f"SUM({hit}) AS n_match, "
                        f"CAST(ROUND(100.0 * SUM({hit}) / COUNT(*), 4) "
                        f"AS DOUBLE) AS pct FROM {t}"
                    )
                    out.append(
                        Candidate(sql, "template_predicate_ratio", 0.85)
                    )
            # the group phrase can name a DIMENSION one FK hop away
            # ("share of customers per nation name" groups by
            # nation.n_name, not a customer column)
            pmp = _PER_PHRASE_RE.search(question.lower())
            if pmp:
                g_ph = pmp.group(1)
                best_pd = None
                for cand_t in self.metadata.tables:
                    if cand_t == t:
                        continue
                    if partial_ratio(cand_t, g_ph) < 70.0:
                        continue
                    dsc = group_column_scored(
                        cand_t, g_ph, numeric=False
                    )
                    if dsc is None:
                        continue
                    path = self._fk_path(t, cand_t, max_hops=2)
                    if path is None:
                        continue
                    if best_pd is None or dsc[1] > best_pd[0]:
                        best_pd = (dsc[1], cand_t, dsc[0], path)
                if best_pd is not None:
                    _s, dim_t, dim_c, path = best_pd
                    joins = " ".join(
                        f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}"
                        for ta, ca, tb, cb in path
                    )
                    sql = (
                        f"SELECT {dim_c}, COUNT(*) AS cnt, "
                        f"CAST(ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) "
                        f"OVER (), 4) AS DOUBLE) AS pct "
                        f"FROM {t} {joins} GROUP BY {dim_c} "
                        f"ORDER BY {dim_c}"
                    )
                    out.append(
                        Candidate(sql, "template_pct_of_total", 0.8)
                    )
            g0 = group_column(t, question, preferred=relevant.get(t))
            if g0 is not None:
                # comparison-filtered share (r11, nl74's surface): a
                # "<col> over <n>" / "before <year>" phrase narrows
                # BOTH the numerator and the denominator — share
                # within the filtered set, the nl73 doc-plane contract
                where = self._share_comparison_filters(t, question)
                wsql = f" WHERE {' AND '.join(where)}" if where else ""
                # CAST to DOUBLE: ANSI decimal literal arithmetic would
                # type pct as DECIMAL(..,4) and serialize '33.9200'
                sql = (
                    f"SELECT {g0}, COUNT(*) AS cnt, "
                    f"CAST(ROUND(100.0 * COUNT(*) / SUM(COUNT(*)) OVER (), 4)"
                    f" AS DOUBLE) AS pct FROM {t}{wsql} "
                    f"GROUP BY {g0} ORDER BY {g0}"
                )
                out.append(Candidate(sql, "template_pct_of_total", 0.8))

        # --- FK anti-join: "<base> without <sub>" -------------------
        wm = _WITHOUT_RE.search(question.lower())
        if wm:
            base_w, sub_w = wm.groups()

            def resolve_table(word: str) -> str | None:
                for cand_t in self.metadata.tables:
                    if cand_t.rstrip("s") == word.rstrip("s") or partial_ratio(
                        cand_t, word
                    ) >= 90.0:
                        return cand_t
                return None

            base_t, sub_t = resolve_table(base_w), resolve_table(sub_w)
            if base_t and sub_t and base_t != sub_t:
                rel_edge = next(
                    (
                        r
                        for r in self.metadata.relationships
                        if r.from_table == sub_t and r.to_table == base_t
                    ),
                    None,
                )
                if rel_edge is not None:
                    bcols = [c.name for c in self._cols(base_t)][:5]
                    sql = (
                        f"SELECT {', '.join(bcols)} FROM {base_t} "
                        f"WHERE NOT EXISTS (SELECT 1 FROM {sub_t} "
                        f"WHERE {sub_t}.{rel_edge.from_column} = "
                        f"{base_t}.{rel_edge.to_column}) "
                        f"ORDER BY {bcols[0]} LIMIT {limit_n or 100}"
                    )
                    out.append(Candidate(sql, "template_anti_join", 0.8))

        # --- "top N <group> by <func> <measure>" ranked aggregate ----
        tm = _TOPN_GROUP_RE.search(question.lower())
        if tm:
            n_top, g_phrase, f_word, m_phrase = tm.groups()
            func2 = _FUNC_WORDS[f_word]
            # the group phrase can name an ENTITY TABLE ("top 5 parts
            # by average retailprice"): own-table measure → entity-level
            # sort (each row is its own group); measure one FK hop away
            # → grouped aggregate over the join ("top 5 nations by
            # average acctbal")
            ent_t5 = self._entity_table(g_phrase)
            if ent_t5 is not None:
                m6 = self._best_numeric_column(ent_t5, m_phrase.strip())
                if m6 is not None:
                    # PK-grain aggregate: semantically the entity sort
                    # (one row per entity) but SHAPED as the aggregate
                    # the question names, so the S4 semantic gate's
                    # asked-aggregate check passes
                    cols5 = [c.name for c in self._cols(ent_t5)]
                    pk5 = next(
                        (
                            c.name
                            for c in self._cols(ent_t5)
                            if c.is_primary_key
                        ),
                        cols5[0],
                    )
                    label5 = next(
                        (c for c in cols5 if c not in (pk5, m6)), pk5
                    )
                    if func2 == "AVG":
                        expr6, alias6 = f"ROUND(AVG({m6}), 4)", f"avg_{m6}"
                    elif func2 == "SUM":
                        expr6, alias6 = f"ROUND(SUM({m6}), 2)", f"sum_{m6}"
                    else:
                        expr6 = f"{func2}({m6})"
                        alias6 = f"{func2.lower()}_{m6}"
                    sql = (
                        f"SELECT {pk5}, {label5}, {expr6} AS {alias6} "
                        f"FROM {ent_t5} GROUP BY {pk5}, {label5} "
                        f"ORDER BY {alias6} DESC, {pk5} LIMIT {int(n_top)}"
                    )
                    out.append(
                        Candidate(sql, "template_topn_entity", 0.8)
                    )
                else:
                    best_e = None
                    for cand_t in self.metadata.tables:
                        if cand_t == ent_t5:
                            continue
                        mc7 = self._best_numeric_column(
                            cand_t, m_phrase.strip()
                        )
                        if mc7 is None:
                            continue
                        p7 = self._fk_path(cand_t, ent_t5, max_hops=2)
                        if p7 is None:
                            continue
                        msc7 = partial_ratio(mc7, m_phrase)
                        if best_e is None or msc7 > best_e[0]:
                            best_e = (msc7, cand_t, mc7, p7)
                    ge = group_column_scored(
                        ent_t5, g_phrase, numeric=False
                    )
                    if best_e is not None and ge is not None:
                        _s7, m_tbl, m7, p7 = best_e
                        if func2 == "AVG":
                            expr7 = f"ROUND(AVG({m7}), 4)"
                            alias7 = f"avg_{m7}"
                        elif func2 == "SUM":
                            expr7 = f"ROUND(SUM({m7}), 2)"
                            alias7 = f"sum_{m7}"
                        else:
                            expr7 = f"{func2}({m7})"
                            alias7 = f"{func2.lower()}_{m7}"
                        joins7 = " ".join(
                            f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}"
                            for ta, ca, tb, cb in p7
                        )
                        # compose measure-table predicates ("top 5
                        # courses by average score in 2024" filters the
                        # fact rows before ranking)
                        conds7 = (
                            [
                                f"{c} = '{v.replace(chr(39), chr(39)*2)}'"
                                for c, v in self._extract_filters(
                                    m_tbl, question, exclude={m7}
                                )
                            ]
                            + self._extract_year_filters(m_tbl, question)
                        )
                        where7 = (
                            f" WHERE {' AND '.join(conds7)}" if conds7 else ""
                        )
                        sql = (
                            f"SELECT {ge[0]}, {expr7} AS {alias7} "
                            f"FROM {m_tbl} {joins7}{where7} "
                            f"GROUP BY {ge[0]} "
                            f"ORDER BY {alias7} DESC, {ge[0]} "
                            f"LIMIT {int(n_top)}"
                        )
                        out.append(
                            Candidate(sql, "template_topn_entity", 0.8)
                        )
            best_fit = None  # (score, table, g, m)
            for cand_t in self.metadata.tables:
                gsc = group_column_scored(cand_t, g_phrase)
                if gsc is None:
                    continue
                m2 = self._best_numeric_column(cand_t, m_phrase.strip())
                if m2 is None or m2 == gsc[0]:
                    continue
                msc = partial_ratio(m2, m_phrase)
                fit = gsc[1] + msc
                if best_fit is None or fit > best_fit[0]:
                    best_fit = (fit, cand_t, gsc[0], m2)
            if best_fit is not None:
                _fit, t2, g2, m2 = best_fit
                if func2 == "AVG":
                    expr2, alias2 = f"ROUND(AVG({m2}), 4)", f"avg_{m2}"
                elif func2 == "SUM":
                    expr2, alias2 = f"ROUND(SUM({m2}), 2)", f"sum_{m2}"
                else:
                    expr2, alias2 = f"{func2}({m2})", f"{func2.lower()}_{m2}"
                sql = (
                    f"SELECT {g2}, {expr2} AS {alias2} FROM {t2} "
                    f"GROUP BY {g2} ORDER BY {alias2} DESC, {g2} "
                    f"LIMIT {int(n_top)}"
                )
                # 0.8 cap-tie convention: generated before every
                # fallback, so it wins the tie at 1.0
                out.append(Candidate(sql, "template_topn_grouped", 0.8))

        # --- "top N <dim>s by number of <entity>s" ranked count ------
        tcm = _TOPN_COUNT_RE.search(question.lower())
        if tcm:
            n_top, dim_w, ent_w = tcm.groups()
            ent_t = next(
                (
                    c_t
                    for c_t in self.metadata.tables
                    if c_t.rstrip("s") == ent_w.rstrip("s")
                    or partial_ratio(c_t, ent_w) >= 90.0
                ),
                None,
            )
            dim_t = next(
                (
                    c_t
                    for c_t in self.metadata.tables
                    if c_t.rstrip("s") == dim_w.rstrip("s")
                    or partial_ratio(c_t, dim_w) >= 90.0
                ),
                None,
            )
            if ent_t is not None and dim_t is not None and ent_t != dim_t:
                gd = group_column_scored(dim_t, dim_w, numeric=False)
                path_tc = self._fk_path(ent_t, dim_t, max_hops=2)
                if gd is not None and path_tc:
                    joins_tc = " ".join(
                        f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}"
                        for ta, ca, tb, cb in path_tc
                    )
                    sql = (
                        f"SELECT {gd[0]}, COUNT(*) AS n_{ent_t} "
                        f"FROM {ent_t} {joins_tc} GROUP BY {gd[0]} "
                        f"ORDER BY n_{ent_t} DESC, {gd[0]} "
                        f"LIMIT {int(n_top)}"
                    )
                    out.append(Candidate(sql, "template_topn_count", 0.8))

        # --- "which <group> has the most/fewest <rows>" superlative --
        sm = _SUPERLATIVE_RE.search(question.lower())
        if sm:
            g_phrase, direction = sm.groups()
            gsc = group_column_scored(
                t, g_phrase, preferred=relevant.get(t)
            )
            if gsc is not None:
                order = "DESC" if direction == "most" else "ASC"
                sql = (
                    f"SELECT {gsc[0]}, COUNT(*) AS cnt FROM {t} "
                    f"GROUP BY {gsc[0]} ORDER BY cnt {order}, {gsc[0]} "
                    f"LIMIT 1"
                )
                out.append(Candidate(sql, "template_superlative", 0.8))

        # --- "lowest 5 orders by totalprice" bottom-N listing --------
        bm = _BOTTOM_N_RE.search(question.lower())
        if bm:
            _word, n_b, ent_w, m_word = bm.groups()
            ent_t = next(
                (
                    c_t
                    for c_t in self.metadata.tables
                    if c_t.rstrip("s") == ent_w.rstrip("s")
                    or partial_ratio(c_t, ent_w) >= 90.0
                ),
                None,
            )
            if ent_t is not None:
                mb = self._best_numeric_column(ent_t, m_word)
                if mb is not None:
                    cols_b = [c.name for c in self._cols(ent_t)][:5]
                    sql = (
                        f"SELECT {', '.join(cols_b)} FROM {ent_t} "
                        f"ORDER BY {mb}, {cols_b[0]} LIMIT {int(n_b)}"
                    )
                    out.append(Candidate(sql, "template_bottom_n", 0.8))

        # --- "<entity> with <m> greater than the average <m>" (B15) --
        scm = _SCALAR_CMP_RE.search(question.lower())
        if scm:
            m_w1, dir_w, m_w2 = scm.groups()
            # entity before 'with' anchors the table; fall back to t
            ent_m = re.search(r"\b([a-z_]+?)s?\s+with\b", question.lower())
            t_s = (
                self._entity_table(ent_m.group(1)) if ent_m else None
            ) or t
            m1 = self._best_numeric_column(t_s, m_w1)
            m2s = self._best_numeric_column(t_s, m_w2)
            if m1 is not None and m2s is not None:
                op_s = ">" if dir_w in ("greater", "more", "higher", "larger") else "<"
                cols_s = [c.name for c in self._cols(t_s)][:5]
                sql = (
                    f"SELECT {', '.join(cols_s)} FROM {t_s} "
                    f"WHERE {m1} {op_s} (SELECT AVG({m2s}) FROM {t_s}) "
                    f"ORDER BY {cols_s[0]} LIMIT {limit_n or 100}"
                )
                out.append(Candidate(sql, "template_scalar_subquery", 0.8))

        # --- "customers or suppliers named like mall" (B14 UNION) ----
        um = _UNION_NAMED_RE.search(question.lower())
        if um:
            w_a, w_b, tok = um.groups()
            t_a, t_b = self._entity_table(w_a), self._entity_table(w_b)
            if t_a and t_b and t_a != t_b:
                n_a = best_column(t_a, "name", numeric=False)
                n_b = best_column(t_b, "name", numeric=False)
                if n_a and n_b:
                    sql = (
                        f"SELECT {n_a} AS name FROM {t_a} "
                        f"WHERE {n_a} ILIKE '%{tok}%' "
                        f"UNION "
                        f"SELECT {n_b} AS name FROM {t_b} "
                        f"WHERE {n_b} ILIKE '%{tok}%' "
                        f"ORDER BY name LIMIT {limit_n or 100}"
                    )
                    out.append(Candidate(sql, "template_union_named", 0.8))

        # --- "rank orders by totalprice descending" (B10 RANK) -------
        rm = _RANK_RE.search(question.lower())
        if rm and QueryIntent.RANKING in analysis.all_intents:
            ent_w8, m_w8, desc8 = rm.groups()
            t_r = self._entity_table(ent_w8) or t
            m8 = self._best_numeric_column(t_r, m_w8)
            if m8 is not None:
                d8 = " DESC" if (desc8 or analysis.sort_desc) else ""
                cols_r = [c.name for c in self._cols(t_r)][:4]
                sql = (
                    f"SELECT {', '.join(cols_r)}, "
                    f"RANK() OVER (ORDER BY {m8}{d8}) AS rnk "
                    f"FROM {t_r} "
                    f"ORDER BY rnk, {cols_r[0]} LIMIT {limit_n or 100}"
                )
                out.append(Candidate(sql, "template_rank", 0.8))

        # --- "which nation has the highest average acctbal": the
        # superlative measure may live one FK hop from the entity -----
        sam = _SUPERLATIVE_AGG_RE.search(question.lower())
        if sam:
            ent_w, dir_word, f_word, m_word = sam.groups()
            direction = "DESC" if dir_word in ("highest", "largest") else "ASC"
            func4 = (
                _FUNC_WORDS[f_word]
                if f_word
                else ("MAX" if direction == "DESC" else "MIN")
            )
            ent_t = next(
                (
                    c_t
                    for c_t in self.metadata.tables
                    if c_t.rstrip("s") == ent_w.rstrip("s")
                    or partial_ratio(c_t, ent_w) >= 90.0
                ),
                None,
            )
            if ent_t is None:
                # the entity names a COLUMN, not a table ("which
                # orderpriority has the highest average totalprice"):
                # pick the table where BOTH the group word and the
                # measure word resolve
                best_c = None
                for cand_t in self.metadata.tables:
                    gc6 = group_column_scored(
                        cand_t, ent_w, numeric=False
                    )
                    mc6 = self._best_numeric_column(cand_t, m_word)
                    if gc6 is None or mc6 is None:
                        continue
                    if partial_ratio(gc6[0], ent_w) < 70.0:
                        continue
                    fit6 = gc6[1] + partial_ratio(mc6, m_word)
                    if best_c is None or fit6 > best_c[0]:
                        best_c = (fit6, cand_t)
                if best_c is not None:
                    ent_t = best_c[1]
            if ent_t is not None:
                gsc5 = group_column_scored(
                    ent_t, ent_w, numeric=False
                )
                m5 = self._best_numeric_column(ent_t, m_word)
                m_t = ent_t
                path5: list | None = []
                if m5 is None:
                    # the measure lives elsewhere — find the table whose
                    # numeric column matches, reachable over the FK graph
                    best_m = None
                    for cand_t in self.metadata.tables:
                        if cand_t == ent_t:
                            continue
                        mc = self._best_numeric_column(cand_t, m_word)
                        if mc is None:
                            continue
                        p5 = self._fk_path(cand_t, ent_t, max_hops=2)
                        if p5 is None:
                            continue
                        msc5 = partial_ratio(mc, m_word)
                        if best_m is None or msc5 > best_m[0]:
                            best_m = (msc5, cand_t, mc, p5)
                    if best_m is not None:
                        _s5, m_t, m5, path5 = best_m
                if gsc5 is not None and m5 is not None:
                    if func4 == "AVG":
                        expr5 = f"ROUND(AVG({m5}), 4)"
                        alias5 = f"avg_{m5}"
                    elif func4 == "SUM":
                        expr5 = f"ROUND(SUM({m5}), 2)"
                        alias5 = f"sum_{m5}"
                    else:
                        expr5 = f"{func4}({m5})"
                        alias5 = f"{func4.lower()}_{m5}"
                    joins5 = " ".join(
                        f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}"
                        for ta, ca, tb, cb in (path5 or [])
                    )
                    frm = f"{m_t} {joins5}".strip()
                    sql = (
                        f"SELECT {gsc5[0]}, {expr5} AS {alias5} "
                        f"FROM {frm} GROUP BY {gsc5[0]} "
                        f"ORDER BY {alias5} {direction}, {gsc5[0]} LIMIT 1"
                    )
                    out.append(
                        Candidate(sql, "template_superlative_agg", 0.8)
                    )

        # --- HAVING tier 1: "<groups> with more than N <entity>s" ----
        hm = _HAVING_COUNT_RE.search(question.lower())
        if hm:
            g_phrase, op_word, n_str, ent_w = hm.groups()
            op = _HAVING_OPS[op_word]
            ent_t = next(
                (
                    c_t
                    for c_t in self.metadata.tables
                    if c_t.rstrip("s") == ent_w.rstrip("s")
                    or partial_ratio(c_t, ent_w) >= 90.0
                ),
                None,
            )
            if ent_t is not None:
                conds_h = [
                    f"{c} = '{v.replace(chr(39), chr(39) * 2)}'"
                    for c, v in self._extract_filters(ent_t, question)
                ]
                where_h = (
                    " WHERE " + " AND ".join(conds_h) if conds_h else ""
                )
                # same-table grouping first ("priorities with … orders"
                # groups orders itself)...
                gsc = group_column_scored(ent_t, g_phrase)
                best_dim = None  # (score, dim_t, dim_col, join path)
                # ...but a DIMENSION whose group column matches the
                # phrase better wins ("nations with … customers" must
                # group by nation.n_name through the FK, not by a
                # customer column)
                for cand_t in self.metadata.tables:
                    if cand_t == ent_t:
                        continue
                    dsc = group_column_scored(
                        cand_t, g_phrase, numeric=False
                    )
                    if dsc is None:
                        continue
                    if partial_ratio(cand_t, g_phrase) < 70.0:
                        continue  # the phrase must name the dimension
                    path = self._fk_path(ent_t, cand_t, max_hops=2)
                    if path is None:
                        continue
                    if best_dim is None or dsc[1] > best_dim[0]:
                        best_dim = (dsc[1], cand_t, dsc[0], path)
                if best_dim is not None:
                    _s, dim_t, dim_c, path = best_dim
                    joins = " ".join(
                        f"JOIN {tb} ON {ta}.{ca} = {tb}.{cb}"
                        for ta, ca, tb, cb in path
                    )
                    sql = (
                        f"SELECT {dim_c}, COUNT(*) AS n_{ent_t} "
                        f"FROM {ent_t} {joins}{where_h} "
                        f"GROUP BY {dim_c} "
                        f"HAVING COUNT(*) {op} {int(n_str)} "
                        f"ORDER BY {dim_c}"
                    )
                    out.append(Candidate(sql, "template_having_count", 0.8))
                elif gsc is not None:
                    sql = (
                        f"SELECT {gsc[0]}, COUNT(*) AS n_{ent_t} "
                        f"FROM {ent_t}{where_h} GROUP BY {gsc[0]} "
                        f"HAVING COUNT(*) {op} {int(n_str)} "
                        f"ORDER BY {gsc[0]}"
                    )
                    out.append(Candidate(sql, "template_having_count", 0.8))

        # --- bare entity + calendar grain ("orders per week"): no agg
        # keyword, but the grain implies a count rollup — without this
        # the listing fallback emits ungrouped SQL that S4 rightly
        # rejects (question asks grouping, SQL has none)
        grain0 = _temporal_grain(question)
        if grain0 is not None and analysis.agg_func is None:
            dcol0 = self._date_column(t, question)
            if dcol0 is not None:
                if grain0 == "week":
                    key_expr0 = (
                        f"date_format(date_trunc('week', {dcol0}), "
                        f"'yyyy-MM-dd')"
                    )
                else:
                    fmt0 = {"month": "yyyy-MM", "year": "yyyy",
                            "day": "yyyy-MM-dd"}[grain0]
                    key_expr0 = f"date_format({dcol0}, '{fmt0}')"
                sql = (
                    f"SELECT {key_expr0} AS {grain0}_key, "
                    f"COUNT(*) AS cnt FROM {t} "
                    f"GROUP BY {grain0}_key ORDER BY {grain0}_key"
                )
                out.append(Candidate(sql, "template_time_count", 0.75))

        # --- calendar-trend tier: "month over month change" → LAG over
        # a calendar rollup; "running/cumulative total" → SUM OVER the
        # rollup. Both compile to a window OVER an aggregate — a
        # compositional shape none of the single-layer templates emit
        # (the reference's DATE_TIME intent, query_intent.py:183-195,
        # only ever detected the grain; it never generated trend SQL).
        ql = question.lower()
        tm = re.search(
            r"\b(month|week|year|day) over \1\b"
            r"|\bchange (?:from|vs|versus|over) (?:the )?previous "
            r"(month|week|year|day)\b",
            ql,
        )
        rt = re.search(r"\b(?:running|cumulative)\s+(?:total|sum|count)\b", ql)
        if tm or rt:
            grain_t = (
                (tm.group(1) or tm.group(2)) if tm else _temporal_grain(ql)
            )
            dcol_t = self._date_column(t, question) if grain_t else None
            if grain_t and dcol_t:
                if grain_t == "week":
                    key_t = (
                        f"date_format(date_trunc('week', {dcol_t}), "
                        f"'yyyy-MM-dd')"
                    )
                else:
                    fmt_t = {"month": "yyyy-MM", "year": "yyyy",
                             "day": "yyyy-MM-dd"}[grain_t]
                    key_t = f"date_format({dcol_t}, '{fmt_t}')"
                m_t = self._best_numeric_column(t, question)
                if analysis.agg_func == "COUNT" or m_t is None:
                    inner_agg, total_sel = "COUNT(*)", "total"
                else:
                    inner_agg = f"{analysis.agg_func or 'SUM'}({m_t})"
                    total_sel = "ROUND(total, 2) AS total"
                inner = (
                    f"SELECT {key_t} AS {grain_t}_key, {inner_agg} AS total "
                    f"FROM {t} GROUP BY {grain_t}_key"
                )
                if tm:
                    sql = (
                        f"SELECT {grain_t}_key, {total_sel}, "
                        f"ROUND(total - LAG(total) OVER "
                        f"(ORDER BY {grain_t}_key), 2) AS delta "
                        f"FROM ({inner}) ORDER BY {grain_t}_key"
                    )
                    out.append(Candidate(sql, "template_time_trend", 0.85))
                else:
                    sql = (
                        f"SELECT {grain_t}_key, {total_sel}, "
                        f"ROUND(SUM(total) OVER (ORDER BY {grain_t}_key "
                        f"ROWS UNBOUNDED PRECEDING), 2) AS running_total "
                        f"FROM ({inner}) ORDER BY {grain_t}_key"
                    )
                    out.append(
                        Candidate(sql, "template_time_cumulative", 0.85)
                    )

        # --- histogram tier: "histogram/distribution of <m> in buckets
        # of N" → equi-width floor-division buckets labeled by their
        # lower bound (the SQL twin of NL2Doc's $bucket tier). One
        # aggregate, map-side combine; the bucket id is a codegen
        # projection, never a join against a boundary table.
        hm = re.search(
            r"\b(?:histogram|distribution) of (\w+)\b.*?"
            r"\b(?:buckets|bins|steps) of (\d+)\b",
            ql,
        )
        if hm:
            m_word, width_s = hm.groups()
            m_h = self._best_numeric_column(t, m_word)
            width = int(width_s)
            if m_h is not None and width > 0:
                sql = (
                    f"SELECT CAST(FLOOR({m_h} / {width}) * {width} AS BIGINT)"
                    f" AS bucket_lo, COUNT(*) AS cnt "
                    f"FROM {t} GROUP BY bucket_lo ORDER BY bucket_lo"
                )
                out.append(Candidate(sql, "template_histogram", 0.85))

        # --- equi-depth tier: "decile/quintile/quartile (breakdown/
        # distribution) of <m>" → NTILE over a PK-tie-pinned order
        # (the q153 shape from NL; equi-DEPTH complements the
        # equi-width histogram tier above). The tiebreak uses the
        # crawled primary key so both engines assign identical tiles.
        dm = re.search(
            r"\b(decile|quintile|quartile)s?\b"
            r"(?: breakdown| distribution)? of (\w+)\b",
            ql,
        )
        if dm:
            tile_word, m_word = dm.groups()
            n_tiles = {"decile": 10, "quintile": 5, "quartile": 4}[tile_word]
            m_d = self._best_numeric_column(t, m_word)
            pk = self.metadata.tables[t].primary_key
            if m_d is not None and pk:
                order = f"{m_d}, {pk[0]}"
                sql = (
                    f"SELECT tile, COUNT(*) AS cnt, "
                    f"MIN({m_d}) AS lo, MAX({m_d}) AS hi "
                    f"FROM (SELECT {m_d}, NTILE({n_tiles}) OVER "
                    f"(ORDER BY {order}) AS tile FROM {t}) "
                    f"GROUP BY tile ORDER BY tile"
                )
                out.append(Candidate(sql, "template_equidepth", 0.85))

        # --- HAVING tier 2: "<groups> with avg <measure> above N" ----
        am = _HAVING_AGG_RE.search(question.lower())
        if am:
            g_phrase, f_word, m_word, op_word, n_str = am.groups()
            func3 = _FUNC_WORDS[f_word]
            op = _HAVING_OPS[op_word]
            best_fit = None  # (score, table, g, m)
            for cand_t in self.metadata.tables:
                m3 = self._best_numeric_column(cand_t, m_word)
                if m3 is None:
                    continue
                msc = partial_ratio(m3, m_word)
                if msc < 70.0:
                    continue  # the measure must really match a column
                gsc3 = group_column_scored(
                    cand_t, g_phrase, exclude=m3
                )
                if gsc3 is None:
                    continue
                fit = gsc3[1] + msc
                if best_fit is None or fit > best_fit[0]:
                    best_fit = (fit, cand_t, gsc3[0], m3)
            if best_fit is not None:
                _f, t3, g3, m3 = best_fit
                if func3 == "AVG":
                    expr3, alias3 = f"ROUND(AVG({m3}), 4)", f"avg_{m3}"
                elif func3 == "SUM":
                    expr3, alias3 = f"ROUND(SUM({m3}), 2)", f"sum_{m3}"
                else:
                    expr3, alias3 = f"{func3}({m3})", f"{func3.lower()}_{m3}"
                sql = (
                    f"SELECT {g3}, {expr3} AS {alias3} FROM {t3} "
                    f"GROUP BY {g3} "
                    f"HAVING {func3}({m3}) {op} {n_str} "
                    f"ORDER BY {g3}"
                )
                out.append(Candidate(sql, "template_having_agg", 0.8))

        # --- COUNT(DISTINCT c) — "count of distinct X" asks for the
        # cardinality, not the value list
        if (
            analysis.agg_func == "COUNT"
            and QueryIntent.DISTINCT in analysis.all_intents
        ):
            c0 = best_column(t, question, preferred=relevant.get(t))
            if c0 is not None:
                sql = (
                    f"SELECT COUNT(DISTINCT {c0}) AS n_distinct_{c0} FROM {t}"
                )
                out.append(Candidate(sql, "template_count_distinct", 0.8))

        # --- grouped aggregation: SELECT g, F(c) FROM t GROUP BY g ---
        if analysis.agg_func and (
            QueryIntent.GROUPED_AGGREGATION in analysis.all_intents
            or QueryIntent.AGGREGATION in analysis.all_intents
        ):
            # measure first, THEN the group key excluding the measure —
            # "max acctbal per nation" must not GROUP BY the measure
            func = analysis.agg_func
            measure = None
            if func == "COUNT":
                expr, alias = "COUNT(*)", "cnt"
            else:
                c = best_column(t, question, numeric=True, preferred=relevant.get(t))
                if c is None:
                    expr, alias = "COUNT(*)", "cnt"
                    func = "COUNT"
                else:
                    measure = c
                    if func == "AVG":
                        expr, alias = f"ROUND(AVG({c}), 4)", f"avg_{c}"
                    elif func == "SUM":
                        expr, alias = f"ROUND(SUM({c}), 2)", f"sum_{c}"
                    else:
                        expr, alias = f"{func}({c})", f"{func.lower()}_{c}"
            g = (
                group_column(
                    t, question, preferred=relevant.get(t), exclude=measure
                )
                if QueryIntent.GROUPED_AGGREGATION in analysis.all_intents
                else None
            )
            # --- domain-grounded equality filters ("orderstatus F",
            # "urgent orders") shared by every aggregate variant below
            conds = (
                [
                    f"{c} = '{v.replace(chr(39), chr(39) * 2)}'"
                    for c, v in self._extract_filters(
                        t, question, exclude={measure} if measure else None
                    )
                ]
                + self._extract_numeric_filters(t, question)
                + self._extract_year_filters(t, question)
                + self._extract_like_filters(t, question)
                + self._extract_null_filters(t, question)
            )
            where = " WHERE " + " AND ".join(conds) if conds else ""

            # --- temporal grouping: "per month"/"yearly"/... means a
            # calendar grain, not a categorical column — truncate the
            # best date column (the reference's DATE_TIME intent,
            # query_intent.py:183-195, never generated the GROUP BY)
            grain = _temporal_grain(question)
            if grain is not None:
                dcol = self._date_column(t, question)
                if dcol is not None:
                    key = f"{grain}_key"
                    if grain == "week":
                        key_expr = (
                            f"date_format(date_trunc('week', {dcol}), "
                            f"'yyyy-MM-dd')"
                        )
                    else:
                        fmt = {"month": "yyyy-MM", "year": "yyyy",
                               "day": "yyyy-MM-dd"}[grain]
                        key_expr = f"date_format({dcol}, '{fmt}')"
                    sql = (
                        f"SELECT {key_expr} AS {key}, "
                        f"{expr} AS {alias} FROM {t}{where} "
                        f"GROUP BY {key} ORDER BY {key}"
                    )
                    if limit_n:
                        sql += f" LIMIT {limit_n}"
                    out.append(Candidate(sql, "template_time_grouped_agg", 0.8))

            # --- FK-join grouped agg: the group phrase resolves to a
            # DIFFERENT relevant table reachable over the crawled FK
            # graph ("count of customers per region name" → customer
            # JOIN nation JOIN region GROUP BY r_name). Only outranks
            # the single-table template when the foreign group column
            # scores strictly higher than any local candidate.
            join_cand = None
            if QueryIntent.GROUPED_AGGREGATION in analysis.all_intents:
                pm_loc = _PER_PHRASE_RE.search(question.lower())
                local = group_column_scored(
                    t,
                    pm_loc.group(1) if pm_loc else question,
                    preferred=relevant.get(t),
                    exclude=measure,
                )
                pm2 = _PER_PHRASE_RE.search(question.lower())
                group_text = pm2.group(1) if pm2 else question
                g_tokens = set(re.findall(r"[a-z_]+", group_text))
                # a calendar-grain group phrase ("per month") belongs to
                # the temporal template — never a dimension join
                if grain is not None and group_text.split()[:1] in (
                    ["month"], ["year"], ["day"], ["week"],
                ):
                    g_tokens = set()
                    group_text = ""
                q_tokens = set(re.findall(r"[a-z_]+", question.lower()))
                # the base table gets the SAME name-affinity bonus when
                # the question names it ("max acctbal per nation IN
                # CUSTOMER" must stay local to customer)
                local_bonus = (
                    50.0
                    if (t in q_tokens or t.rstrip("s") in q_tokens
                        or f"{t}s" in q_tokens)
                    else 0.0
                )
                if local is not None:
                    local = (local[0], local[1] + local_bonus)
                for other in (tables if group_text else []):
                    if other == t:
                        continue
                    path = self._fk_path(t, other)
                    if not path:
                        continue
                    # dimension keys are non-numeric by construction;
                    # a numeric foreign column is a measure, not a key.
                    # Score against the GROUP PHRASE ("per customer
                    # name"), not the whole question — other question
                    # words must not pull in an unrelated dimension —
                    # and a phrase that NAMES the table ("per customer
                    # name") is decisive evidence for that table's
                    # column over a same-fuzzy column elsewhere
                    scored = group_column_scored(
                        other,
                        group_text,
                        preferred=relevant.get(other),
                        numeric=False,
                    )
                    if scored is None:
                        continue
                    tbonus = (
                        50.0
                        if (
                            other in g_tokens
                            or other.rstrip("s") in g_tokens
                            or f"{other}s" in g_tokens
                        )
                        else 0.0
                    )
                    score2 = scored[1] + tbonus
                    if join_cand is None or score2 > join_cand[1]:
                        join_cand = (scored[0], score2, other, path)
                # the join only fires on CLEAR foreign evidence — a
                # near-tie must not turn a one-table question into a
                # two-table plan
                if join_cand is not None and (
                    local is not None and join_cand[1] <= local[1] + 10.0
                ):
                    join_cand = None
            if join_cand is not None:
                g2, _s, other, path = join_cand
                joins = " ".join(
                    f"JOIN {b} ON {a}.{ca} = {b}.{cb}" for a, ca, b, cb in path
                )
                sql = (
                    f"SELECT {other}.{g2} AS {g2}, {expr} AS {alias} "
                    f"FROM {t} {joins}{where} GROUP BY {other}.{g2}"
                )
                if QueryIntent.SORTED in analysis.all_intents:
                    sql += f" ORDER BY {alias}" + (" DESC" if analysis.sort_desc else "")
                else:
                    sql += f" ORDER BY {g2}"
                if limit_n:
                    sql += f" LIMIT {limit_n}"
                out.append(Candidate(sql, "template_join_grouped_agg", 0.78))

            # --- multiple aggregate functions in one question ("count
            # of orders AND average totalprice per X") — the intent
            # layer carries a single agg_func, so without this branch
            # the second ask is dropped and S4 rejects every candidate
            if g:
                hits = [
                    (m.start(), fn)
                    for pat, fn in _AGG_KEYWORDS
                    for m in [re.search(pat, question.lower())]
                    if m
                ]
                funcs = [fn for _pos, fn in sorted(hits)]
                if len(funcs) >= 2:
                    # re-anchor check: the pruner ranks tables by WHOLE-
                    # question affinity, which can pick a table whose
                    # columns match other words; the (group, measure)
                    # pair must fit TOGETHER ("min and max acctbal per
                    # mktsegment" belongs to customer even when the
                    # pruner ranked events first)
                    t_m, g_m = t, g
                    pm3 = _PER_PHRASE_RE.search(question.lower())
                    if pm3:
                        best4 = None
                        for cand_t in self.metadata.tables:
                            m4 = self._best_numeric_column(cand_t, question)
                            if m4 is None:
                                continue
                            gsc4 = group_column_scored(
                                cand_t, pm3.group(1), exclude=m4
                            )
                            if gsc4 is None:
                                continue
                            fit = gsc4[1] + partial_ratio(m4, question)
                            if best4 is None or fit > best4[0]:
                                best4 = (fit, cand_t, gsc4[0], m4)
                        if best4 is not None and best4[1] != t:
                            local_m = best_column(
                                t, question, numeric=True,
                                preferred=relevant.get(t),
                            )
                            lg = group_column_scored(
                                t, pm3.group(1), exclude=local_m
                            )
                            local_fit = (lg[1] if lg else 0.0) + (
                                partial_ratio(local_m, question)
                                if local_m
                                else 0.0
                            )
                            # decisive-margin rule, as the FK-join
                            # template: a near-tie stays local
                            if best4[0] > local_fit + 20.0:
                                t_m, g_m = best4[1], best4[2]
                    mcol = best_column(
                        t_m, question, numeric=True,
                        preferred=relevant.get(t_m),
                    )
                    sel: list[str] = []
                    for fn2 in funcs:
                        if fn2 == "COUNT":
                            sel.append("COUNT(*) AS cnt")
                        elif mcol is not None and mcol != g_m:
                            if fn2 == "AVG":
                                sel.append(f"ROUND(AVG({mcol}), 4) AS avg_{mcol}")
                            elif fn2 == "SUM":
                                sel.append(f"ROUND(SUM({mcol}), 2) AS sum_{mcol}")
                            else:
                                sel.append(
                                    f"{fn2}({mcol}) AS {fn2.lower()}_{mcol}"
                                )
                    if len(sel) >= 2:
                        where_m = where
                        if t_m != t:
                            conds_m = (
                                [
                                    f"{c} = '{v.replace(chr(39), chr(39) * 2)}'"
                                    for c, v in self._extract_filters(
                                        t_m, question,
                                        exclude={mcol} if mcol else None,
                                    )
                                ]
                                + self._extract_numeric_filters(t_m, question)
                                + self._extract_year_filters(t_m, question)
                                + self._extract_like_filters(t_m, question)
                            )
                            where_m = (
                                " WHERE " + " AND ".join(conds_m)
                                if conds_m
                                else ""
                            )
                        sql = (
                            f"SELECT {g_m}, {', '.join(sel)} "
                            f"FROM {t_m}{where_m} "
                            f"GROUP BY {g_m} ORDER BY {g_m}"
                        )
                        if limit_n:
                            sql += f" LIMIT {limit_n}"
                        # 0.8: the every-ask-answered candidate must
                        # outrank the single-agg template (0.75), which
                        # S4 rejects anyway when the question names two
                        out.append(
                            Candidate(sql, "template_multi_agg", 0.8)
                        )

            # --- compound group phrase: "per X and Y" groups on BOTH
            # resolved keys (the reference's intent layer saw only one)
            if QueryIntent.GROUPED_AGGREGATION in analysis.all_intents:
                pm = _PER_PHRASE_RE.search(question.lower())
                if pm and " and " in pm.group(1):
                    parts = [p.strip() for p in pm.group(1).split(" and ")]
                    keys: list[str] | None = []
                    for part in parts:
                        gc = group_column(
                            t, part, preferred=relevant.get(t), exclude=measure
                        )
                        if gc is None or gc in (keys or []):
                            keys = None
                            break
                        keys.append(gc)
                    if keys and len(keys) >= 2:
                        klist = ", ".join(keys)
                        sql = (
                            f"SELECT {klist}, {expr} AS {alias} FROM {t}"
                            f"{where} GROUP BY {klist} ORDER BY {klist}"
                        )
                        if limit_n:
                            sql += f" LIMIT {limit_n}"
                        # 0.8: must outrank the single-key template (0.75)
                        # whose group column only captures ONE of the
                        # asked-for keys
                        out.append(
                            Candidate(sql, "template_multi_grouped_agg", 0.8)
                        )

            # the single-table variants stay in the ladder as fallbacks
            # below the join candidate's 0.78
            if g:
                sql = f"SELECT {g}, {expr} AS {alias} FROM {t}{where} GROUP BY {g}"
                if QueryIntent.SORTED in analysis.all_intents:
                    sql += f" ORDER BY {alias}" + (" DESC" if analysis.sort_desc else "")
                else:
                    sql += f" ORDER BY {g}"
                if limit_n:
                    sql += f" LIMIT {limit_n}"
                out.append(Candidate(sql, "template_grouped_agg", 0.75))
            elif join_cand is None:
                sql = f"SELECT {expr} AS {alias} FROM {t}{where}"
                out.append(Candidate(sql, "template_global_agg", 0.7))

        # --- window function: rows alongside partitioned aggregate ---
        if QueryIntent.WINDOW_FUNCTION in analysis.all_intents and analysis.agg_func:
            c = best_column(t, question, numeric=True, preferred=relevant.get(t))
            # exclude the measure from the partition-key pick — the
            # fuzzy-best group otherwise IS the measure ("average
            # acctbal per nation" scored acctbal highest for both)
            g = group_column(
                t, question, preferred=relevant.get(t), exclude=c
            )
            if g and c and g != c:
                sql = (
                    f"SELECT {', '.join(all_cols[:4])}, "
                    f"ROUND({analysis.agg_func}({c}) OVER (PARTITION BY {g}), 4) "
                    f"AS {analysis.agg_func.lower()}_{c}_per_{g} FROM {t} "
                    f"ORDER BY {all_cols[0]}"
                )
                out.append(
                    Candidate(
                        sql,
                        "template_window",
                        # "along with" = the WINDOW surface is the ask;
                        # as a secondary hint it stays under grouped agg
                        0.85
                        if analysis.intent == QueryIntent.WINDOW_FUNCTION
                        else 0.7,
                    )
                )

        # --- distinct values ---
        if QueryIntent.DISTINCT in analysis.all_intents:
            c = best_column(t, question, numeric=False, preferred=relevant.get(t)) or all_cols[0]
            sql = f"SELECT DISTINCT {c} FROM {t} ORDER BY {c}"
            out.append(Candidate(sql, "template_distinct", 0.7))

        # --- ranking / sorted top-N ---
        if (
            QueryIntent.RANKING in analysis.all_intents
            or QueryIntent.SORTED in analysis.all_intents
        ) and analysis.intent not in (QueryIntent.GROUPED_AGGREGATION,):
            ql = question.lower()
            recency = (
                "desc"
                if any(w in ql for w in _RECENCY_DESC)
                else "asc"
                if any(w in ql for w in _RECENCY_ASC)
                else None
            )
            if recency is not None:
                # "most recent orders" sorts on the date column; the
                # numeric-best pick would order by a surrogate key
                c = self._date_column(t, question) or best_column(
                    t, question, numeric=True, preferred=relevant.get(t)
                )
            else:
                c = best_column(
                    t, question, numeric=True, preferred=relevant.get(t)
                )
            eff_limit = limit_n
            if eff_limit is None:
                nm = _RECENCY_N_RE.search(ql)
                if nm:
                    eff_limit = int(nm.group(1))
            if c:
                direction = (
                    " DESC"
                    if (recency == "desc" or (recency is None and analysis.sort_desc))
                    else ""
                )
                sql = (
                    f"SELECT {', '.join(all_cols[:5])} FROM {t}"
                    f" ORDER BY {c}{direction}, {all_cols[0]}"
                    f" LIMIT {eff_limit or 100}"
                )
                # an explicit "top N" is a stronger signal than the
                # generic FK-join fallback, whose rank self-inflates by
                # +0.1 per table it itself joins — 0.8 ties it at the
                # cap and wins on candidate order (intent templates are
                # generated before fallbacks)
                out.append(
                    Candidate(
                        sql,
                        "template_sorted",
                        # explicit bound or recency phrasing both beat
                        # the self-inflating join fallback (cap-tie)
                        0.8 if (eff_limit or recency) else 0.6,
                    )
                )

        # --- CASE-bucket grouped count: "categorize orders as big or
        # small with totalprice over 150000" → CASE WHEN threshold
        # buckets + per-bucket counts. Threshold comes from the
        # question's own comparator when present; otherwise the corpus
        # mean via a scalar subquery ("above average" phrasing). 0.85 so
        # the compiled CASE outranks the 0.8 filtered listing the same
        # comparator evidence would also produce.
        cm = _CASE_BUCKET_RE.search(question.lower())
        if cm and QueryIntent.CONDITIONAL in analysis.all_intents:
            ent_w, lab_hi, lab_lo = cm.groups()
            case_t = self._entity_table(ent_w) or t
            cexpr = None
            for word, cmp_word, num in _CMP_RE.findall(question.lower()):
                ccol = self._best_numeric_column(case_t, word)
                if ccol is not None:
                    cexpr = (
                        f"CASE WHEN {ccol} {_CMP_OPS[cmp_word]} "
                        f"{num.replace(',', '')} THEN '{lab_hi}' "
                        f"ELSE '{lab_lo}' END"
                    )
                    break
            if cexpr is None:
                ccol = self._best_numeric_column(case_t, question)
                if ccol is not None:
                    cexpr = (
                        f"CASE WHEN {ccol} >= (SELECT AVG({ccol}) FROM "
                        f"{case_t}) THEN '{lab_hi}' ELSE '{lab_lo}' END"
                    )
            if cexpr is not None:
                sql = (
                    f"SELECT category, COUNT(*) AS cnt FROM "
                    f"(SELECT {cexpr} AS category FROM {case_t}) "
                    f"AS bucketed GROUP BY category ORDER BY category"
                )
                out.append(Candidate(sql, "template_case_bucket", 0.85))

        # --- entity listing with fact-table predicates: "list students
        # who received a C with score above 75" — the head entity (t)
        # carries no predicate evidence itself, but an FK-linked
        # relevant table does; compile the reference's own demo shape
        # (README.md:168-179 gold): entity PK + label joined to the
        # predicate table's detail columns. 0.9 pre-rank so the +0.3
        # two-table/JOIN rank boost can't let the generic join fallback
        # tie it.
        if analysis.intent not in (
            QueryIntent.AGGREGATION,
            QueryIntent.GROUPED_AGGREGATION,
        ):
            t_cols = {c.name for c in self._cols(t)}
            t_own_conds = (
                self._extract_filters(t, question)
                or self._extract_numeric_filters(t, question)
                or self._extract_year_filters(t, question)
                or self._extract_like_filters(t, question)
                or self._extract_null_filters(t, question)
            )
            for ft in tables[1:] if not t_own_conds else []:
                edge = next(
                    (
                        r
                        for r in self.metadata.relationships
                        if r.from_table == ft and r.to_table == t
                    ),
                    None,
                )
                if edge is None:
                    continue
                ft_conds = (
                    [
                        f"{c} = '{v.replace(chr(39), chr(39) * 2)}'"
                        for c, v in self._extract_filters(ft, question)
                    ]
                    + self._extract_numeric_filters(ft, question)
                    + self._extract_year_filters(ft, question)
                    + self._extract_like_filters(ft, question)
                    + self._extract_null_filters(ft, question)
                )
                # unqualified predicates must be unambiguous post-join
                if not ft_conds or any(
                    cond.split()[0] in t_cols for cond in ft_conds
                ):
                    continue
                ecols = [c.name for c in self._cols(t)]
                pk_e = next(
                    (c.name for c in self._cols(t) if c.is_primary_key),
                    ecols[0],
                )
                label_e = next(
                    (
                        c.name
                        for c in self._cols(t)
                        if c.name != pk_e
                        and "string" in c.type_str.lower()
                    ),
                    None,
                )
                proj = [f"{t}.{pk_e}"] + (
                    [f"{t}.{label_e}"] if label_e else []
                ) + [
                    f"{ft}.{c.name}"
                    for c in self._cols(ft)
                    if c.name != edge.from_column
                ]
                sql = (
                    f"SELECT {', '.join(proj)} FROM {ft} "
                    f"JOIN {t} ON {ft}.{edge.from_column} = "
                    f"{t}.{edge.to_column} "
                    f"WHERE {' AND '.join(ft_conds)} "
                    f"ORDER BY {t}.{pk_e} LIMIT {limit_n or 100}"
                )
                out.append(Candidate(sql, "template_entity_join_listing", 0.9))
                break

        # --- filtered listing: extracted predicate evidence without an
        # aggregate intent compiles to a WHERE'd projection (PK-ordered
        # for a deterministic result set)
        if analysis.intent not in (
            QueryIntent.AGGREGATION,
            QueryIntent.GROUPED_AGGREGATION,
        ):
            conds = (
                [
                    f"{c} = '{v.replace(chr(39), chr(39) * 2)}'"
                    for c, v in self._extract_filters(t, question)
                ]
                + self._extract_numeric_filters(t, question)
                + self._extract_year_filters(t, question)
                + self._extract_like_filters(t, question)
                + self._extract_null_filters(t, question)
            )
            if conds:
                sql = (
                    f"SELECT {', '.join(all_cols[:5])} FROM {t}"
                    f" WHERE {' AND '.join(conds)}"
                    f" ORDER BY {all_cols[0]} LIMIT {limit_n or 100}"
                )
                # 0.8: the template_sorted convention — predicate
                # evidence must outrank the FK-join fallback, whose
                # rank() self-inflates +0.1 per table + 0.1 for JOIN;
                # at the 1.0 cap ties break on generation order
                out.append(Candidate(sql, "template_filtered_select", 0.8))

        # --- reference parity templates (inference.py:215-246) ---
        cols5 = ", ".join(all_cols[:5])
        out.append(Candidate(f"SELECT {cols5} FROM {t} LIMIT 100", "template", 0.5))
        if len(tables) >= 2 and self.metadata.relationships:
            for rel in self.metadata.relationships:
                if rel.from_table in tables and rel.to_table in tables:
                    sql = (
                        f"SELECT * FROM {rel.from_table} f "
                        f"JOIN {rel.to_table} t ON f.{rel.from_column} = t.{rel.to_column} "
                        f"LIMIT 100"
                    )
                    out.append(Candidate(sql, "template_join", 0.6))
                    break
        return out

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

    def rank(self, candidates: list[Candidate], relevant: dict[str, list[str]]) -> list[Candidate]:
        """Confidence heuristics port (inference.py:283-313): +0.1 per
        relevant table referenced, +0.1 for JOIN, sort desc."""
        for cand in candidates:
            s = cand.sql.lower()
            score = cand.confidence
            for table in relevant:
                if re.search(rf"\b{re.escape(table)}\b", s):
                    score += 0.1
            if "join" in s:
                score += 0.1
            cand.confidence = min(score, 1.0)
        return sorted(candidates, key=lambda c: -c.confidence)

    def generate(
        self, question: str, max_candidates: int = 5, linked: Linked | None = None
    ) -> list[Candidate]:
        """Ranked candidates; ``linked`` is this question's :meth:`link`
        result when the caller already has it."""
        relevant, col_scores = linked or self.link(question)
        analysis = analyze_query_intent(question, relevant)
        cands = self.llm_candidates(question, analysis, relevant)
        cands += self.template_candidates(question, analysis, relevant, col_scores)
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
        self.last_method: str | None = None
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
                # which ladder tier won (llm / template / template_join):
                # the parity harness records this per question so the
                # LLM→template fallback path is measurable
                self.last_method = cand.method
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
