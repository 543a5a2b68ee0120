"""Schema linking — fuzzy tier (A9/A10/A14, SURVEY.md §2.A).

The reference scores tables/columns against the question with rapidfuzz
``partial_ratio`` (app/ai/nl2sql.py:23-46) and falls back to substring
keyword matching (app/models/inference.py:120-149). rapidfuzz isn't
available, so ``partial_ratio`` is implemented on stdlib difflib: slide
the shorter string over the longer via SequenceMatcher matching blocks
and take the best window ratio — the classic fuzzywuzzy algorithm.

``partial_ratio`` is memoized. It is a pure function of its two
arguments, so the memo never needs invalidation: both arguments are
lower-cased, and the ordered pair ``(a, b)`` keys one module-level LRU
cache of ``MEMO_MAX_ENTRIES`` (16,384) entries. A pair whose lower-cased
lengths sum to more than ``MEMO_MAX_CHARS`` (256) is scored without the
memo, so a huge posted question cannot grow it. ``_partial_ratio`` is
the scorer itself; the memo only stores its results. Every caller (the
linkers here and in ``nl2doc``, the template tier's column scoring in
``nl2sql``) shares the memo, so a repeated question, or a word already
scored against an identifier, does no difflib work.

Driver-side pure Python: schema metadata is KB-sized, never data-sized.
The embedding tier (A12/A13) lives in models/; at 100 TB the same
linking runs over a persisted (key, vector) parquet via LSH
(operators/similarity.py).
"""

from __future__ import annotations

from difflib import SequenceMatcher
from functools import lru_cache

MEMO_MAX_ENTRIES = 16384
MEMO_MAX_CHARS = 256


def _partial_ratio(a: str, b: str) -> float:
    """Best-window similarity of the shorter string inside the longer,
    0-100 (rapidfuzz.fuzz.partial_ratio semantics)."""
    a, b = a.lower(), b.lower()
    if not a or not b:
        return 0.0
    shorter, longer = (a, b) if len(a) <= len(b) else (b, a)
    sm = SequenceMatcher(None, shorter, longer, autojunk=False)
    best = 0.0
    for block in sm.get_matching_blocks():
        start = max(block.b - block.a, 0)
        window = longer[start : start + len(shorter)]
        r = SequenceMatcher(None, shorter, window, autojunk=False).ratio()
        if r > best:
            best = r
            if best == 1.0:
                break
    return best * 100.0


_memo = lru_cache(maxsize=MEMO_MAX_ENTRIES)(_partial_ratio)


def partial_ratio(a: str, b: str) -> float:
    """:func:`_partial_ratio`, memoized on the lower-cased ordered pair
    (contract in the module docstring)."""
    a, b = a.lower(), b.lower()
    if len(a) + len(b) > MEMO_MAX_CHARS:
        return _partial_ratio(a, b)
    return _memo(a, b)


partial_ratio.cache_info = _memo.cache_info
partial_ratio.cache_clear = _memo.cache_clear


def select_relevant(
    schema: dict[str, list[str]],
    question: str,
    k_tables: int = 4,
    k_columns: int = 8,
) -> dict[str, list[str]]:
    """Fuzzy-prune the schema to top-k tables / top-k columns + id
    fallbacks (nl2sql.py:23-46 parity; defaults 4/8 per BASELINE.md)."""
    table_scores = []
    col_scores: dict[str, dict[str, float]] = {}
    for t, cols in schema.items():
        # track WHICH identifier matched best: a tie at score 100 between
        # a 2-char column ("ts" ⊂ "parts") and a full table name ("part")
        # must go to the longer, more specific identifier
        best_name, score = t, partial_ratio(t, question)
        col_scores[t] = scores = {c: partial_ratio(c, question) for c in cols}
        for c, s in scores.items():
            if s > score or (s == score and len(c) > len(best_name)):
                best_name, score = c, s
        table_scores.append((t, score, len(best_name)))
    table_scores.sort(key=lambda x: (-x[1], -x[2], x[0]))
    chosen = [t for t, _, _ in table_scores[:k_tables]]

    out: dict[str, list[str]] = {}
    for t in chosen:
        cols = schema[t]
        scores = col_scores[t]
        scored = sorted(cols, key=lambda c: (-scores[c], c))
        best = scored[:k_columns]
        for fallback in ("id", f"{t}_id"):
            if fallback in cols and fallback not in best:
                best.append(fallback)
        out[t] = best
    return out


def keyword_match(
    schema: dict[str, list[str]],
    question: str,
    max_tables: int = 5,
    max_columns: int = 10,
) -> dict[str, list[str]]:
    """Substring-containment fallback linking (inference.py:120-149
    parity): tables/columns literally mentioned in the question."""
    q = question.lower()
    out: dict[str, list[str]] = {}
    for t, cols in schema.items():
        if len(out) >= max_tables:
            break
        t_hit = t.lower() in q or t.lower().rstrip("s") in q
        hit_cols = [c for c in cols if c.lower() in q][:max_columns]
        if t_hit or hit_cols:
            out[t] = hit_cols or cols[:max_columns]
    return out
