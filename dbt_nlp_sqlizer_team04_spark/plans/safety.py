"""SQL safety layer — S1-S6 of SURVEY.md §2.B.

The reference gates LLM-generated SQL with a sqlglot AST (SELECT-only +
class denylist, app/ai/nl2sql.py:176,280-290; table allowlist :292-313;
LIMIT injection :299-306; prose extraction :87-138; aggregation/structure
validators :178-278). sqlglot isn't available here, so the same contract
is enforced with a purpose-built SQL *tokenizer*: statements are reduced
to a keyword/identifier token stream (string literals, quoted identifiers
and comments removed), and every check runs on tokens — so ``DROP``
inside a string literal doesn't trip the gate, while ``SELECT...; DROP``
smuggled after a semicolon does. The executed dialect is Spark SQL
(Spark's own parser is the final arbiter at plans/executor.py).

Behavioral parity targets (tested in tests/test_safety.py):
- write/DDL statements rejected (BLOCK_KINDS, nl2sql.py:176) — 10/10
  adversarial probes blocked per BASELINE.md;
- multiple statements rejected;
- LIMIT injected when absent at the top level (nl2sql.py:299-306);
- every referenced table must be in the allowed context (:292-297);
- question-driven aggregation/DISTINCT requirements enforced (:178-278).

``validate``'s verdict is memoized. The gate reads nothing but its
arguments, so the verdict is a pure function of ``(sql, question,
tuple(allowed_tables), max_rows, schema_context)``, with the
schema-context dict frozen to ``((table, (column, ...)), ...)``; the
memo never needs invalidation. One module-level LRU of
``VERDICT_MEMO_MAX_ENTRIES`` (4,096) entries stores either the finalized
SQL or the ``SQLSafetyError`` message, and a refused call raises a fresh
``SQLSafetyError`` with that message. Other exceptions propagate and are
not stored. A call whose ``sql`` and ``question`` together exceed
``VERDICT_MEMO_MAX_CHARS`` (4,096) characters runs the gate without the
memo, so a huge posted statement cannot grow it. The key is built from copies, so a
caller that later mutates its allowlist or schema context cannot change
a stored verdict. ``validate.cache_info``/``cache_clear`` expose the
memo.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from functools import lru_cache


class SQLSafetyError(Exception):
    """Raised when a query violates the read-only/structure contract."""


# Statement kinds the reference denies (nl2sql.py:176) plus Spark-specific
# write/DDL/session verbs a Spark executor must also refuse.
BLOCKED_KEYWORDS = frozenset({
    "insert", "update", "delete", "create", "drop", "alter", "truncate",
    "merge", "grant", "revoke", "replace", "copy", "call", "exec",
    "execute", "set", "reset", "use", "analyze", "vacuum", "optimize",
    "refresh", "cache", "uncache", "msck", "load",
})

_ALLOWED_FIRST = frozenset({"select", "with", "("})


@dataclass
class Token:
    kind: str  # 'word' | 'num' | 'str' | 'op' | 'punct'
    value: str  # lowercased for words
    depth: int  # paren nesting depth at this token
    end: int = -1  # end offset in the source SQL (for tail-safe rewrites)


_TOKEN_RE = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<lcomment>--[^\n]*)
    | (?P<bcomment>/\*.*?\*/)
    | (?P<str>'(?:[^']|'')*')
    | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
    | (?P<num>\d+(?:\.\d*)?(?:[eE][+-]?\d+)?)
    | (?P<word>[A-Za-z_][A-Za-z0-9_$]*)
    | (?P<op><=|>=|<>|!=|::|\|\||->>|->|[-+*/%<>=~^])
    | (?P<punct>[(),.;\[\]{}:])
    """,
    re.VERBOSE | re.DOTALL,
)


def tokenize(sql: str) -> list[Token]:
    """Lex SQL into tokens, dropping whitespace and comments; tracks paren
    depth so 'top level' checks (LIMIT, semicolons) are possible."""
    tokens: list[Token] = []
    depth = 0
    pos = 0
    n = len(sql)
    while pos < n:
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            raise SQLSafetyError(f"SQL lex error at offset {pos}: {sql[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind in ("ws", "lcomment", "bcomment"):
            continue
        if kind == "punct":
            if text == "(":
                tokens.append(Token("punct", text, depth, pos))
                depth += 1
                continue
            if text == ")":
                depth -= 1
                if depth < 0:
                    raise SQLSafetyError("Unbalanced parentheses in SQL")
        if kind == "word":
            tokens.append(Token("word", text.lower(), depth, pos))
        elif kind == "qident":
            tokens.append(
                Token("word", text[1:-1].replace('""', '"').lower(), depth, pos)
            )
        else:
            tokens.append(Token(kind, text, depth, pos))
    if depth != 0:
        raise SQLSafetyError("Unbalanced parentheses in SQL")
    return tokens


def ensure_select_only(sql: str) -> list[Token]:
    """S1 — parse + SELECT-only gate (nl2sql.py:280-290 parity).

    Rejects: empty SQL, statements not starting with SELECT/WITH, any
    blocked write/DDL verb anywhere in the token stream (conservative:
    stricter than the reference's top-level-kind check), and multiple
    statements separated by ';'.
    """
    tokens = tokenize(sql)
    if not tokens:
        raise SQLSafetyError("Empty SQL")
    first = tokens[0]
    if not (first.kind == "punct" and first.value == "(") and first.value not in _ALLOWED_FIRST:
        raise SQLSafetyError(f"Only SELECT statements are allowed (got {first.value!r})")
    for i, t in enumerate(tokens):
        if t.kind == "word" and t.value in BLOCKED_KEYWORDS:
            # A blocked verb used as a *function call* (e.g. replace(x, …))
            # is legitimate SELECT-side usage; a bare statement verb is not.
            nxt = tokens[i + 1] if i + 1 < len(tokens) else None
            if not (nxt and nxt.kind == "punct" and nxt.value == "("):
                raise SQLSafetyError(f"Blocked keyword in SQL: {t.value.upper()}")
        if t.kind == "punct" and t.value == ";" and i < len(tokens) - 1:
            raise SQLSafetyError("Multiple statements are not allowed")
    return tokens


def _skip_parens(tokens: list[Token], i: int) -> int:
    """Given tokens[i] == '(', return the index just past its matching ')'.

    The tokenizer records '(' at the pre-increment depth and ')' at the
    post-decrement depth, so the matching close is the first ')' with the
    same depth as the open.
    """
    d = tokens[i].depth
    j = i + 1
    n = len(tokens)
    while j < n and not (
        tokens[j].kind == "punct" and tokens[j].value == ")" and tokens[j].depth == d
    ):
        j += 1
    return j + 1


# Keywords that cannot be a table alias in FROM-list position; seeing one
# ends the comma-separated FROM item scan.
_FROM_STOP_WORDS = frozenset({
    "where", "join", "inner", "left", "right", "full", "cross", "outer",
    "on", "using", "group", "order", "having", "limit", "offset", "union",
    "intersect", "except", "window", "qualify", "lateral", "natural",
    "semi", "anti", "when", "then", "else", "end", "and", "or",
})


def _harvest_ctes(tokens: list[Token]) -> set[str]:
    """Collect CTE names from the WITH prologue ONLY.

    A name is registered only when it is followed by an optional column
    list and ``AS (``; scanning continues past a CTE body only when a
    top-level comma appears immediately after its closing paren. This
    prevents identifiers elsewhere in the statement (e.g. the SELECT
    list) from being excused from the table allowlist.
    """
    ctes: set[str] = set()
    if not (tokens and tokens[0].kind == "word" and tokens[0].value == "with"):
        return ctes
    i = 1
    if i < len(tokens) and tokens[i].kind == "word" and tokens[i].value == "recursive":
        i += 1
    while i < len(tokens):
        if tokens[i].kind != "word":
            break
        name = tokens[i].value
        i += 1
        # optional explicit column list: name (c1, c2) AS (...)
        if i < len(tokens) and tokens[i].kind == "punct" and tokens[i].value == "(":
            i = _skip_parens(tokens, i)
        if not (i < len(tokens) and tokens[i].kind == "word" and tokens[i].value == "as"):
            break  # prologue over (or malformed): stop harvesting
        i += 1
        if not (i < len(tokens) and tokens[i].kind == "punct" and tokens[i].value == "("):
            break
        ctes.add(name)
        i = _skip_parens(tokens, i)
        # continue only for "…) , next_cte AS (…" — comma immediately after
        if (
            i < len(tokens)
            and tokens[i].kind == "punct"
            and tokens[i].value == ","
            and tokens[i].depth == 0
        ):
            i += 1
            continue
        break
    return ctes


def referenced_tables(sql: str) -> list[str]:
    """S2 support — tables referenced in FROM/JOIN position, minus CTE
    names (nl2sql.py:292-297 referenced_tables parity, CTE-aware).
    Handles comma-separated FROM lists and skips derived-table
    subqueries (their inner FROMs are scanned by the same loop)."""
    tokens = ensure_select_only(sql)
    names: set[str] = set()
    ctes = _harvest_ctes(tokens)

    for i, t in enumerate(tokens):
        if not (t.kind == "word" and t.value in ("from", "join")):
            continue
        from_depth = t.depth
        j = i + 1
        while j < len(tokens):
            if tokens[j].kind == "punct" and tokens[j].value == "(":
                # derived table / subquery: its tables are harvested when
                # the outer loop reaches the inner FROM token
                j = _skip_parens(tokens, j)
            elif tokens[j].kind == "word":
                name = tokens[j].value
                # dotted: db.table — take last part
                while (
                    j + 2 < len(tokens)
                    and tokens[j + 1].kind == "punct"
                    and tokens[j + 1].value == "."
                    and tokens[j + 2].kind == "word"
                ):
                    j += 2
                    name = tokens[j].value
                names.add(name)
                j += 1
            else:
                break
            # optional alias: [AS] word (stop words end the FROM item)
            if j < len(tokens) and tokens[j].kind == "word" and tokens[j].value == "as":
                j += 1
            if (
                j < len(tokens)
                and tokens[j].kind == "word"
                and tokens[j].value not in _FROM_STOP_WORDS
            ):
                j += 1
            # comma at the FROM's own depth → another table in the list
            if (
                t.value == "from"
                and j < len(tokens)
                and tokens[j].kind == "punct"
                and tokens[j].value == ","
                and tokens[j].depth == from_depth
            ):
                j += 1
                continue
            break
    return sorted(names - ctes)


def ensure_tables_allowed(sql: str, allowed) -> None:
    """S2 — table allowlist (nl2sql.py:308-313 parity)."""
    allowed_set = set(allowed)
    for t in referenced_tables(sql):
        if t not in allowed_set:
            raise SQLSafetyError(f"Table not allowed in context: {t}")


def enforce_limit(sql: str, max_rows: int = 100) -> str:
    """S3 — LIMIT injection (nl2sql.py:299-306 parity): bound the whole
    statement at ``max_rows`` unless an existing top-level LIMIT already
    does.

    Robustness fixes over the naive "append if no LIMIT token":
    - the statement body is cut at the last real token (trailing line
      comments and semicolons can't swallow the appended LIMIT);
    - the appended LIMIT goes on its own line;
    - a top-level LIMIT only counts when it appears *after* the last
      top-level set operator — ``SELECT … LIMIT 5 UNION SELECT …`` binds
      the LIMIT to one branch, so the whole union gets wrapped in a
      bounded outer SELECT instead.
    """
    tokens = ensure_select_only(sql)
    # cut at the last non-semicolon token: comments/';' after it vanish
    body_tokens = list(tokens)
    while body_tokens and body_tokens[-1].kind == "punct" and body_tokens[-1].value == ";":
        body_tokens.pop()
    if not body_tokens:
        raise SQLSafetyError("Empty SQL")
    base = sql[: body_tokens[-1].end].strip()

    set_op_idx = -1
    limit_idx = -1
    for i, t in enumerate(body_tokens):
        if t.kind != "word" or t.depth != 0:
            continue
        if t.value in ("union", "intersect", "except"):
            set_op_idx = i
        elif t.value == "limit":
            limit_idx = i
    if limit_idx >= 0 and limit_idx > set_op_idx:
        # statement-tail LIMIT bounds everything — but only accept it
        # when its operand is a plain number ≤ max_rows. Adversarial/LLM
        # SQL like `... LIMIT 100000000` or `LIMIT ALL` would otherwise
        # pass unbounded.
        operand = (
            body_tokens[limit_idx + 1] if limit_idx + 1 < len(body_tokens) else None
        )
        if (
            operand is not None
            and operand.kind == "num"
            and float(operand.value) <= max_rows
        ):
            return base
        return f"SELECT * FROM (\n{base}\n) AS __bounded\nLIMIT {max_rows}"
    if limit_idx >= 0:
        # LIMIT binds to an earlier branch only: bound the whole statement
        return f"SELECT * FROM (\n{base}\n) AS __bounded\nLIMIT {max_rows}"
    return f"{base}\nLIMIT {max_rows}"


# ---------------------------------------------------------------- S6
def extract_sql_from_response(response: str) -> str:
    """S6 — pull a SELECT statement out of LLM prose/markdown
    (nl2sql.py:87-138 behavior): strip code fences, collect from the first
    SELECT, stop at ';' or prose, drop the trailing semicolon."""
    response = response.strip()
    if response.startswith("```"):
        lines = response.split("\n")[1:]
        if lines and lines[-1].strip().startswith("```"):
            lines = lines[:-1]
        response = "\n".join(lines)

    sql_keywords = (
        "select", "from", "where", "join", "group", "order", "limit",
        "having", "union", "with", "as", "on", "and", "or", "in",
        "exists", "case", "when", "then", "else", "end", "is", "null",
        "not", "like", "ilike", "avg", "count", "sum", "max", "min",
        "over", "partition", "by", "distinct",
    )
    out: list[str] = []
    in_sql = False
    for line in response.split("\n"):
        s = line.strip()
        if s.startswith("```"):  # fence boundary anywhere: skip or stop
            if in_sql:
                break
            continue
        if not in_sql and s.upper().startswith("SELECT"):
            in_sql = True
            out.append(s)
            if s.endswith(";"):
                break
        elif in_sql:
            looks_sql = any(k in s.lower() for k in sql_keywords) or any(
                ch in s for ch in "(),=<>"
            )
            if s and not looks_sql and s[0].isupper() and not s.startswith("--") \
                    and '"' not in s and "'" not in s:
                break
            out.append(s)
            if s.endswith(";"):
                break
    if out:
        return " ".join(out).strip().rstrip(";").strip()
    return response.strip().rstrip(";")


# ------------------------------------------------------------- S4 / S5
_AGG_NEED_KEYWORDS = (
    "average", "avg", "mean", "count", "how many", "number of", "sum",
    "total", "max", "maximum", "min", "minimum", "grouped by", "group by",
    "per", "for each", "aggregate", "aggregation", "along with the",
    "with the average", "compared to", "compared with",
)


def _kw_hit(q: str, kw: str) -> bool:
    """Word-boundary match for single words, substring for phrases (keeps
    'total' from firing inside 'totalprice'; see plans/intent.py)."""
    if " " in kw or not kw.isalpha():
        return kw in q
    return re.search(rf"\b{re.escape(kw)}\b", q) is not None


def detect_aggregation_needed(question: str) -> bool:
    """(nl2sql.py:50-63 parity)"""
    q = question.lower()
    return any(_kw_hit(q, k) for k in _AGG_NEED_KEYWORDS)


def validate_aggregation_requirements(
    question: str, sql: str, schema_context=None
) -> None:
    """S4 — reject SQL missing the aggregation the question asks for
    (nl2sql.py:178-219 parity). Schema-aware twin of the intent
    detector's disambiguation: a keyword that IS a column name of the
    linked schema ("total" when orders.total exists) is column
    evidence, not an aggregate demand — "show orders with total over
    400" may legitimately compile to a filter, not a SUM."""
    if not detect_aggregation_needed(question):
        return
    col_words: set[str] = set()
    if schema_context:
        for cols in schema_context.values():
            col_words.update(c.lower() for c in cols)
    q, s = question.lower(), sql.lower()
    has = {
        "avg": "avg(" in s,
        "count": "count(" in s,
        "sum": "sum(" in s,
        "group": "group by" in s,
        "window": "over (" in s or "over(" in s or "partition by" in s,
    }

    def asks(*kws: str) -> bool:
        return any(_kw_hit(q, k) for k in kws if k not in col_words)

    if asks("average", "avg", "mean") and not has["avg"]:
        raise SQLSafetyError("Question asks for average but SQL has no AVG()")
    if asks("count", "how many", "number of") and not has["count"]:
        raise SQLSafetyError("Question asks for a count but SQL has no COUNT()")
    if asks("sum", "total") and not has["sum"]:
        raise SQLSafetyError("Question asks for a sum but SQL has no SUM()")
    if asks("grouped by", "group by", "per", "for each") and not (
        has["group"] or has["window"]
    ):
        raise SQLSafetyError("Question asks for grouping but SQL has no GROUP BY/window")


def validate_query_structure(question: str, sql: str, schema_context=None) -> None:
    """S5 — JOIN-required and DISTINCT-required checks
    (nl2sql.py:222-278 parity; WHERE/ORDER BY remain advisory there too)."""
    q, s = question.lower(), sql.lower()
    if schema_context and len(schema_context) >= 2:
        join_indicators = ("and their", "with their", "together", "join")
        if any(k in q for k in join_indicators):
            refs = sum(1 for t in schema_context if re.search(rf"\b{re.escape(t)}\b", s))
            if refs >= 2 and "join" not in s:
                raise SQLSafetyError(
                    "Question mentions multiple tables but SQL has no JOIN"
                )
    distinct_kw = ("unique", "distinct", "no duplicates", "different values")
    if any(k in q for k in distinct_kw) and "distinct" not in s:
        raise SQLSafetyError("Question asks for unique values but SQL has no DISTINCT")


def _validate(sql: str, question: str | None = None, allowed_tables=None,
              max_rows: int = 100, schema_context=None) -> str:
    """Full gate: S1 → S2 → S4 → S5 → S3; returns the finalized SQL."""
    ensure_select_only(sql)
    if allowed_tables is not None:
        ensure_tables_allowed(sql, allowed_tables)
    if question is not None:
        validate_aggregation_requirements(question, sql, schema_context)
        validate_query_structure(question, sql, schema_context)
    return enforce_limit(sql, max_rows)


VERDICT_MEMO_MAX_ENTRIES = 4096
VERDICT_MEMO_MAX_CHARS = 4096


def _verdict(sql, question, allowed_tables, max_rows, schema_context):
    """(True, finalized SQL) or (False, refusal message) of the frozen
    arguments :func:`validate` keys its memo on."""
    if schema_context is not None:
        schema_context = {t: list(cols) for t, cols in schema_context}
    try:
        return True, _validate(sql, question, allowed_tables, max_rows, schema_context)
    except SQLSafetyError as e:
        return False, str(e)


# typed: max_rows 100 and 100.0 inject different LIMIT text
_verdict_memo = lru_cache(maxsize=VERDICT_MEMO_MAX_ENTRIES, typed=True)(_verdict)


def validate(sql: str, question: str | None = None, allowed_tables=None,
             max_rows: int = 100, schema_context=None) -> str:
    """Full gate: S1 → S2 → S4 → S5 → S3; returns the finalized SQL.
    The verdict is memoized (contract in the module docstring)."""
    if len(sql) + len(question or "") > VERDICT_MEMO_MAX_CHARS:
        return _validate(sql, question, allowed_tables, max_rows, schema_context)
    ok, out = _verdict_memo(
        sql,
        question,
        None if allowed_tables is None else tuple(allowed_tables),
        max_rows,
        None if schema_context is None
        else tuple((t, tuple(cols)) for t, cols in schema_context.items()),
    )
    if ok:
        return out
    raise SQLSafetyError(out)


validate.cache_info = _verdict_memo.cache_info
validate.cache_clear = _verdict_memo.cache_clear
