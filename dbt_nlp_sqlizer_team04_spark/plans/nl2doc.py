"""NL → document-query pipeline — the Mongo branch of the reference's
/ai/ask (NLP_SQLizer/backend/app/routes_ai.py:150-156, 320-394).

Mirrors the reference ladder on the DocumentStore executor:

- A10 collection linking: fuzzy prune to top-k collections/fields with
  ``_id`` always kept (app/ai/nl2mongo.py:37-59), or the trained
  semantic slice when a schema model is attached. :meth:`NL2DocEngine.ask`
  links once and hands the same slice to both tiers below;
- LLM tier: MONGO_SYS-style prompt asking for a query-dict JSON
  (nl2mongo.py:62-74), tolerant JSON extraction (:86-112) — optional,
  exactly like the SQL path;
- deterministic template tier (the CI path): intent analysis compiles
  count/grouped-count/find dicts, so no LLM is needed for the eval set;
- execution via DocumentStore.execute (limit injection, safety by
  construction: the dict dialect has no write verbs at all).

Rule table. The template tier is :data:`DOC_TEMPLATE_RULES`, an ordered
tuple of (method, rule) pairs in the style of Catalyst's rule batches
(Spark SQL, SIGMOD 2015):

- A rule is a pure function of one :class:`DocEvidence` (the question,
  the linked collection and its fields, the intent analysis, the filter
  prelude, the ``per``-phrase split and the scope-bound ``best_field``)
  returning a query dict, or ``None`` when it does not apply.
- First match wins: :meth:`NL2DocEngine.template_query` returns the
  first dict in table order, so order is priority. The last rule, the
  find fallback, always matches.
- Every rule but one only builds a dict. The histogram rule runs one
  eager ``max()`` job to derive its bucket boundaries, and only when
  the table reaches it.
- tests/nl2doc_template_reference.json pins every rule's output, from
  before the table existed, over the repository's question corpus.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.documents import (
    DocumentStore,
    filter_condition,
    flatten_for_display,
    parse_query_json,
)
from .intent import IntentAnalysis, QueryIntent, analyze_query_intent
from .linking import partial_ratio
from .llm import LLMNotConfigured, chat_complete
from .nl2sql import (
    _BREAKDOWN_RE,
    _BY_WORD_RE,
    _CMP_OPS,
    _CMP_RE,
    _FUNC_WORDS,
    _HAVING_OPS,
    _LIKE_RE,
    _RECENCY_DESC,
    _YEAR_CMP_OPS,
)

MONGO_SYS_PROMPT = (
    'Generate ONLY MongoDB query JSON. NO explanations, NO markdown. '
    'Format: {"collection": "name", "pipeline": [...]} OR '
    '{"collection": "name", "find": {...}, "limit": 100} '
    "Use pipeline for aggregations/grouping. Use find for simple queries. "
    "Supported stages: $match $group $sort $limit $skip $project $count "
    "$unwind $lookup $unionWith $facet $bucket $bucketAuto $sortByCount "
    "$setWindowFields $densify $fill $graphLookup $sample $replaceRoot "
    "$addFields $set $unset. "
    "Accumulators incl. $first/$last (after $sort), $topN/$bottomN/"
    "$minN/$maxN, $median/$percentile (method approximate); window ops "
    "incl. $derivative/$integral/$expMovingAvg/$locf/$linearFill. "
    "READ-only ($out/$merge refused). LIMIT 100."
)


def select_relevant_collections(
    schema: dict[str, list[str]],
    question: str,
    k_collections: int = 4,
    k_fields: int = 8,
) -> dict[str, list[str]]:
    """A10 — fuzzy collection/field pruning with ``_id`` kept
    (nl2mongo.py:37-59 parity)."""
    scored = []
    field_scores: dict[str, dict[str, float]] = {}
    for coll, fields in schema.items():
        field_scores[coll] = scores = {f: partial_ratio(f, question) for f in fields}
        s = max(partial_ratio(coll, question), max(scores.values(), default=0.0))
        scored.append((coll, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    out: dict[str, list[str]] = {}
    for coll, _ in scored[:k_collections]:
        fields = schema[coll]
        scores = field_scores[coll]
        best = sorted(fields, key=lambda f: (-scores[f], f))[:k_fields]
        if "_id" in fields and "_id" not in best:
            best.insert(0, "_id")
        out[coll] = best
    return out


_NUMERIC_TYPE_SUBSTR = ("int", "long", "float", "double", "decimal", "bigint")
_AGG_ACCUMULATORS = {"AVG": "$avg", "SUM": "$sum", "MAX": "$max", "MIN": "$min"}
# the SQL tier's comparison symbols (_CMP_OPS, _HAVING_OPS, _YEAR_CMP_OPS)
# as query-dict operators
_MONGO_OPS = {">": "$gt", ">=": "$gte", "<": "$lt", "<=": "$lte"}

# "events before 2024-01-10" — ISO-date comparisons on the date field
_ISO_CMP_RE = re.compile(r"\b(before|after|since|until)\s+(\d{4}-\d{2}-\d{2})\b")


class _Link(NamedTuple):
    """One read of the store's schema and the linked slice of it, with
    the trained per-field cosines (empty without a model)."""

    schema: dict[str, list[str]]
    relevant: dict[str, list[str]]
    scores: dict[str, dict[str, float]]


class NL2DocEngine:
    """Question → query dict → DataFrame over a DocumentStore.

    With a trained :class:`SchemaModel` attached (built from
    ``crawl_document_schema``'s uniform SchemaMetadata — the
    mongodb_adapter.py:227-295 bridge), linking goes SEMANTIC-first with
    fuzzy fallback, exactly like the relational engine: the reference
    trains one model over both planes because the Mongo adapter emits
    the same metadata shape (routes_models.py trains on either dialect).
    Without a model, the fuzzy/template ladder is unchanged.
    """

    def __init__(self, store: DocumentStore, model=None):
        self.store = store
        self.model = model
        self._linker = None
        if model is not None:
            from ..models.inference import SemanticLinker

            self._linker = SemanticLinker(model)

    def attach_model(self, model) -> None:
        from ..models.inference import SemanticLinker

        self.model = model
        self._linker = SemanticLinker(model)

    def _schema(self) -> dict[str, list[str]]:
        return {
            name: self.store.collection(name).columns
            for name in self.store.list_collections()
        }

    # --------------------------------------------------------- linking
    def _link(self, question: str) -> _Link:
        """Linking ladder (mirror of NL2SQLEngine.link): trained
        semantic tier when a model is attached — restricted to actually
        registered collections — else, or when it finds nothing, the
        fuzzy tier. The raw per-field cosines let the template tier
        rank fields on semantic evidence."""
        schema = self._schema()
        if self._linker is not None:
            rel = self._linker.relevant(question)
            slice_ = {
                t: cols for t, cols in rel.as_slice().items() if t in schema
            }
            return _Link(
                schema,
                slice_ or select_relevant_collections(schema, question),
                rel.column_scores(),
            )
        return _Link(schema, select_relevant_collections(schema, question), {})

    def _field_score(
        self,
        coll: str,
        name: str,
        question: str,
        scores: dict[str, dict[str, float]],
    ) -> float:
        """Fuzzy score blended with trained-cosine evidence — same
        weights as the relational engine's _column_score (trained cosine
        primary, character fuzz halved to a tie-breaker)."""
        fuzzy = partial_ratio(name, question)
        if self.model is not None:
            for syn in self.model.metadata.synonyms.get(name, []):
                fuzzy = max(fuzzy, partial_ratio(syn, question))
        coll_scores = scores.get(coll)
        if coll_scores:
            return 0.5 * fuzzy + 100.0 * max(coll_scores.get(name, 0.0), 0.0)
        return fuzzy

    def _is_numeric(self, coll: str, name: str) -> bool:
        """Typed-measure gate — only possible when crawled metadata is
        attached (the fuzzy tier sees bare column names, like the
        reference's model-less Mongo path)."""
        if self.model is None:
            return True
        info = self.model.metadata.tables.get(coll)
        if info is None:
            return True
        for c in info.columns:
            if c.name == name:
                t = c.type_str.lower()
                return any(s in t for s in _NUMERIC_TYPE_SUBSTR)
        return False

    def _date_field(self, coll: str) -> str | None:
        """First timestamp/date column straight off the registered
        DataFrame's schema — no trained metadata needed (the store
        holds the real frames, unlike the reference's bare pymongo
        listing)."""
        for f, t in self.store.collection(coll).dtypes:
            if t in ("timestamp", "date", "timestamp_ntz"):
                return f
        return None

    def _extract_filters(self, coll: str, fields: list[str], question: str) -> dict:
        """Filter compilation for the document dialect — the NL2SQL
        tier's evidence rules re-expressed as query-dict operators:
        substring phrases ("text containing spark") become ``$regex``
        and comparison phrases ("n_chars over 200") become
        ``$gt``/``$lt``/... The field word must fuzzy-resolve (≥70, the
        relational convention) against ``fields``, the collection's
        fields; comparison targets are type-gated when crawled metadata
        is attached."""
        fields = [f for f in fields if f != "_id"]

        def resolve(word: str, numeric: bool | None = None) -> str | None:
            best, best_score = None, -1.0
            for f in fields:
                if numeric is not None and self._is_numeric(coll, f) != numeric:
                    continue
                sc = partial_ratio(f, word)
                if sc > best_score:
                    best, best_score = f, sc
            return best if best is not None and best_score >= 70.0 else None

        match: dict = {}
        for word, mode, tok in _LIKE_RE.findall(question.lower()):
            f = resolve(word)
            if f is None:
                continue
            pat = {
                "containing": tok, "contains": tok,
                "starting with": f"^{tok}", "ending with": f"{tok}$",
            }[mode]
            match[f] = {"$regex": pat}
        for word, cmp_word, num in _CMP_RE.findall(question.lower()):
            f = resolve(word, numeric=True)
            if f is None:
                continue
            n = num.replace(",", "")
            match[f] = {_MONGO_OPS[_CMP_OPS[cmp_word]]: float(n) if "." in n else int(n)}
        # ISO-date comparisons target the collection's date field (Spark
        # coerces the string literal)
        for word, iso in _ISO_CMP_RE.findall(question.lower()):
            dfld = self._date_field(coll)
            if dfld is None:
                continue
            match[dfld] = {_MONGO_OPS[_YEAR_CMP_OPS[word]]: iso}
        return match

    # ------------------------------------------------------- candidates
    def _evidence(self, question: str, link: _Link) -> DocEvidence:
        if not link.relevant:
            raise ValueError("no collections registered")
        coll = next(iter(link.relevant))
        fields = link.schema[coll]
        ql = question.lower()
        # the SQL tier's phrase scoping: group keys resolve against the
        # text after 'per', measures against the text before it —
        # "sum of value per event_type" must not swap the two fields
        # that both match the question literally
        pm = _PER_RE.search(ql)
        # filter fields are evidence already SPENT on the predicate —
        # "text containing spark per lang" must group by lang, not text
        match = self._extract_filters(coll, fields, question)
        return DocEvidence(
            eng=self,
            question=question,
            ql=ql,
            coll=coll,
            fields=fields,
            scores=link.scores,
            analysis=analyze_query_intent(question, link.relevant),
            match=match,
            filtered=frozenset(match),
            prelude=[{"$match": match}] if match else [],
            per_phrase=pm.group(1) if pm else None,
            group_text=pm.group(1) if pm else question,
            measure_text=ql.replace(pm.group(0), " ") if pm else question,
        )

    def template_query(self, question: str, link: _Link | None = None) -> dict:
        """Deterministic template tier: the first query dict a rule of
        :data:`DOC_TEMPLATE_RULES` builds. ``link`` is this question's
        linking result when the caller already has it."""
        ev = self._evidence(question, link or self._link(question))
        return next(q for _method, rule in DOC_TEMPLATE_RULES if (q := rule(ev)) is not None)

    def llm_query(
        self, question: str, relevant: dict[str, list[str]] | None = None
    ) -> dict | None:
        """LLM tier (optional, nl2mongo.py:76-112 ladder); the prompt
        carries ``relevant``, the linked slice (linked here if None)."""
        if relevant is None:
            relevant = self._link(question).relevant
        ctx = "\n".join(f"- {c}({', '.join(fs)})" for c, fs in relevant.items())
        try:
            resp = chat_complete(
                MONGO_SYS_PROMPT,
                f"Q: {question}\nSchema: {ctx}\nGenerate MongoDB query JSON only.",
            )
            return parse_query_json(resp)
        except (LLMNotConfigured, OSError, TimeoutError, RuntimeError,
                ValueError):
            # Only the failure modes the reference's ladder tolerates fall
            # through to templates (unconfigured client, network errors,
            # unparseable JSON); programming errors in an injected LLM
            # double propagate (twin of models/trainer.py's catch).
            return None

    # -------------------------------------------------------- execution
    def ask(self, question: str, flatten: bool = True) -> tuple[DataFrame, dict]:
        """LLM-first with template fallback (routes_ai.py ladder);
        returns (DataFrame, query_dict actually executed). Both tiers
        share one linking pass. A candidate that fails to execute falls
        through to the next tier (the reference's routes_ai.py:205-226
        fall-through), but the LAST failure is carried as the raised
        error's __cause__ so a doomed question reports WHY its best
        candidate died (dialect gap vs typo'd collection) instead of a
        bare 'no viable query'."""
        link = self._link(question)
        last_exc: Exception | None = None
        for q in (self.llm_query(question, link.relevant),
                  self.template_query(question, link)):
            if q is None:
                continue
            try:
                df = self.store.execute(q)
                return (flatten_for_display(df) if flatten else df), q
            except Exception as exc:  # noqa: BLE001
                last_exc = exc
                continue
        raise ValueError(
            f"no viable document query for {question!r}"
        ) from last_exc


# ---------------- the template tier: an ordered rule table ----------------
_PER_RE = re.compile(r"\bper\s+([a-z_][a-z_ ]*)")


@dataclass(frozen=True)
class DocEvidence:
    """What the template rules know about one question: the question as
    asked and lower-cased, the linked collection ``coll``, its fields and
    the trained link scores, the intent analysis, the filter ``match``
    (its fields ``filtered`` are spent evidence) and its ``prelude``
    stage, and the ``per``-phrase split: ``per_phrase`` is the text after
    'per' (None without one), ``group_text`` the scope group keys resolve
    against and ``measure_text`` the scope measures resolve against."""

    eng: NL2DocEngine
    question: str
    ql: str
    coll: str
    fields: list[str]
    scores: dict[str, dict[str, float]]
    analysis: IntentAnalysis
    match: dict
    filtered: frozenset[str]
    prelude: list[dict]
    per_phrase: str | None
    group_text: str
    measure_text: str

    def best_field(
        self,
        exclude_id: bool = True,
        numeric: bool | None = None,
        exclude: set[str] | frozenset[str] | None = None,
        text: str | None = None,
    ) -> str | None:
        """The field scoring best against ``text`` (default: the whole
        question) among the fields not excluded; ties (a short name fully
        contained in the text) break toward the longer, more specific
        name."""
        scope = text if text is not None else self.question
        cands = [
            f
            for f in self.fields
            if not (exclude_id and f.endswith("id"))
            and f not in (exclude or set())
            and (numeric is None or self.eng._is_numeric(self.coll, f) == numeric)
        ]
        if not cands:
            return None
        return max(
            cands,
            key=lambda f: (self.eng._field_score(self.coll, f, scope, self.scores), len(f)),
        )

    def partition_word(self, p_word: str | None) -> str | None:
        """A window's partition word: its own adjacent 'per' phrase, else
        the question's first 'per' word ("… of value FOR EVENTS per
        event_type" — the phrase need not be adjacent)."""
        if p_word is None and self.per_phrase is not None:
            return self.per_phrase.split()[0]
        return p_word

    @property
    def grouped(self) -> bool:
        return QueryIntent.GROUPED_AGGREGATION in self.analysis.all_intents

    @cached_property
    def id_field(self) -> str | None:
        """The first id-suffixed field: the unique tie-break key."""
        return next((f for f in self.fields if f.endswith("id")), None)

    @cached_property
    def date_field(self) -> str | None:
        return self.eng._date_field(self.coll)

    def pipeline(self, *stages: dict) -> dict:
        """The aggregate query: the filter prelude, then ``stages``."""
        return {"collection": self.coll, "pipeline": self.prelude + list(stages)}

    def sort_with_id(self, key: str, direction: int = 1) -> dict[str, int]:
        """A sort on ``key`` plus the id tie-break, so an injected limit
        sees a deterministic row set."""
        sort = {key: direction}
        if self.id_field and self.id_field != key:
            sort[self.id_field] = 1
        return sort

    def window(self, sort_key: str, measure: str, part: str | None, output: dict,
               with_id: bool = True) -> dict:
        """One $setWindowFields over (``part``, ``sort_key``), the
        projection of its inputs and outputs (plus the id field when
        ``with_id``), and the window sort repeated with the id tie-break."""
        swf: dict = {"sortBy": {sort_key: 1}, "output": output}
        proj = {sort_key: 1, measure: 1, **dict.fromkeys(output, 1)}
        if part:
            swf["partitionBy"] = f"${part}"
            proj[part] = 1
        if with_id and self.id_field:
            proj[self.id_field] = 1
        return self.pipeline({"$setWindowFields": swf}, {"$project": proj},
                             {"$sort": self.sort_with_id(sort_key)})


def _count_group(key: str | None) -> dict:
    return {"$group": {"_id": key, "n": {"$sum": 1}}}


# "5 shortest documents by n_chars": N rows by an extreme of a field
_N_EXTREME_RE = re.compile(
    r"\b(\d+)\s+(shortest|longest|smallest|largest|cheapest|lowest|highest)"
    r"\s+[a-z_]+?s?\s+by\s+([a-z_]+)\b"
)
_ASCENDING_WORDS = ("shortest", "smallest", "cheapest", "lowest")

# "page N of ..." / "second page of ..." (+ "M per page", default 25):
# the find form's sort/skip/limit (q167's $skip surface). The "by <field>"
# key wins, else the first id-suffixed field, else the first field
_PAGE_RE = re.compile(r"\b(?:page\s+(\d+)|(first|second|third|fourth|fifth)\s+page)\s+of\b")
_PAGE_ORDINALS = {"first": 1, "second": 2, "third": 3, "fourth": 4, "fifth": 5}
_PAGE_SIZE_RE = re.compile(r"\b(\d+)\s+per\s+page\b")


def _pagination(ev: DocEvidence) -> dict | None:
    if not (pg := _PAGE_RE.search(ev.ql)):
        return None
    n_page = int(pg.group(1)) if pg.group(1) else _PAGE_ORDINALS[pg.group(2)]
    size = int(ps.group(1)) if (ps := _PAGE_SIZE_RE.search(ev.ql)) else 25
    bym = _BY_WORD_RE.search(ev.ql)
    f = ev.best_field(exclude_id=False, text=bym.group(1)) if bym else None
    return {"collection": ev.coll, "find": ev.match, "sort": {f or ev.id_field or ev.fields[0]: 1},
            "skip": (n_page - 1) * size, "limit": size}


# "combine <A> with <B>[, counts per <f>]": the second filtered scan of
# the SAME collection appended via $unionWith (q169's surface; UNION ALL,
# overlapping documents counted twice). Both sides compile through the
# filter extractor, so both scans push their filters and concatenate with
# no shuffle before the optional count rollup
_UNION_RE = re.compile(r"\bcombine\s+(.+?)\s+with\s+(.+?)(?:,\s*counts?\s+per\s+([a-z_]+)\b.*)?$")


def _union(ev: DocEvidence) -> dict | None:
    if not (um := _UNION_RE.search(ev.ql)):
        return None
    fa, fb = (ev.eng._extract_filters(ev.coll, ev.fields, side) for side in um.group(1, 2))
    if not (fa and fb):
        return None
    pipe = [{"$match": fa}, {"$unionWith": {"coll": ev.coll, "pipeline": [{"$match": fb}]}}]
    if um.group(3):
        key = ev.best_field(exclude=set(fa) | set(fb), text=um.group(3))
        if key is not None:
            pipe += [_count_group(f"${key}"), {"$sort": {"_id": 1}}]
    return {"collection": ev.coll, "pipeline": pipe}


# "... with their <g> counts": the uncorrelated $lookup pipeline form
# (q157's shape: the per-<g> counts aggregate runs ONCE and broadcasts
# onto the shortlisted rows), then $unwind + a computed $project flatten
# the payload for display
_LOOKUP_COUNTS_RE = re.compile(r"\bwith (?:their|the) ([a-z_]+) counts\b")


def _lookup_counts(ev: DocEvidence) -> dict | None:
    if not (lm := _LOOKUP_COUNTS_RE.search(ev.ql)):
        return None
    if (g := ev.best_field(exclude=ev.filtered, text=lm.group(1))) is None:
        return None
    nm = _N_EXTREME_RE.search(ev.ql)
    measure = ev.best_field(numeric=True, exclude=ev.filtered | {g},
                            text=nm.group(3) if nm else ev.question)
    if measure is None:
        return None
    direction = 1 if nm and nm.group(2) in _ASCENDING_WORDS else -1
    as_name = f"{g}_counts"
    proj: dict = dict.fromkeys(ev.fields, 1)
    proj[f"{g}_value"] = f"${as_name}._id"
    proj[f"{g}_n"] = f"${as_name}.n"
    return ev.pipeline(
        {"$sort": ev.sort_with_id(measure, direction)},
        {"$limit": int(nm.group(1)) if nm else 5},
        {"$lookup": {"from": ev.coll, "as": as_name, "pipeline": [_count_group(f"${g}")]}},
        {"$unwind": f"${as_name}"},
        {"$project": proj},
    )


# "running total of <m> by <s> [per <p>]": one framed $sum over the
# (partition, sort) window (q170's $setWindowFields surface)
_RUNNING_TOTAL_RE = re.compile(r"\brunning total of ([a-z_]+) by ([a-z_]+)(?:\s+per\s+([a-z_]+))?")


def _running_total(ev: DocEvidence) -> dict | None:
    if not (rt := _RUNNING_TOTAL_RE.search(ev.ql)):
        return None
    m_word, s_word, p_word = rt.groups()
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=m_word)
    skey = ev.best_field(exclude_id=False, text=s_word)
    if measure is None or skey is None:
        return None
    part = ev.best_field(exclude=ev.filtered | {measure, skey}, text=p_word) if p_word else None
    return ev.window(skey, measure, part, {"running_total": {
        "$sum": f"${measure}", "window": {"documents": ["unbounded", "current"]},
    }}, with_id=False)


# "<hourly|daily|weekly|per-minute|per-second> rate of change of <m> [per
# <p>]": $derivative over the date field (q185's surface), the
# consecutive-pair slope (documents [-1, current]) in the cadence's unit
_RATE_RE = re.compile(
    r"\b(hourly|daily|weekly|per[- ]minute|per[- ]second)\s+"
    r"rate of change of ([a-z_]+)(?:\s+per\s+([a-z_]+))?"
)
_RATE_UNITS = {"hourly": "hour", "daily": "day", "weekly": "week",
               "per minute": "minute", "per second": "second"}


def _rate_of_change(ev: DocEvidence) -> dict | None:
    if not (rc := _RATE_RE.search(ev.ql)):
        return None
    cadence, m_word, p_word = rc.groups()
    p_word = ev.partition_word(p_word)
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=m_word)
    if measure is None or ev.date_field is None:
        return None
    part = ev.best_field(exclude=ev.filtered | {measure}, text=p_word) if p_word else None
    unit = _RATE_UNITS[cadence.replace("-", " ")]
    return ev.window(ev.date_field, measure, part, {"rate": {
        "$derivative": {"input": f"${measure}", "unit": unit},
        "window": {"documents": [-1, "current"]},
    }})


# "all <ancestors|descendants> of <idword> <value> [up to <n> levels]":
# $graphLookup (q172/q179's walker) from the anchored row along the
# collection's self-referential parent field; n levels = maxDepth n-1
# (Mongo's depth is 0-based); $unwind + $addFields flatten (anchor, node,
# depth) rows in a deterministic sort
_GRAPH_RE = re.compile(
    r"\ball (ancestors|descendants) of (?:([a-z_]+)\s+)?(\d+)(?:\s+up to (\d+) levels?)?"
)


def _graph_lookup(ev: DocEvidence) -> dict | None:
    if not (gl := _GRAPH_RE.search(ev.ql)):
        return None
    kind, id_word, id_val, levels = gl.groups()
    parent = next((f for f in ev.fields if "parent" in f.lower()), None)
    idf = ev.best_field(exclude_id=False, exclude=({parent} if parent else set()) | ev.filtered,
                        text=id_word or "id")
    if parent is None or idf is None or idf == parent:
        return None
    if kind == "ancestors":
        start, c_from, c_to = f"${parent}", parent, idf
    else:
        start, c_from, c_to = f"${idf}", idf, parent
    gspec: dict = {"from": ev.coll, "startWith": start, "connectFromField": c_from,
                   "connectToField": c_to, "as": "chain", "depthField": "depth"}
    if levels:
        gspec["maxDepth"] = int(levels) - 1
    return ev.pipeline(
        {"$match": {idf: int(id_val)}},
        {"$graphLookup": gspec},
        {"$unwind": "$chain"},
        {"$addFields": {"node": f"$chain.{idf}", "depth": "$chain.depth"}},
        {"$project": {idf: 1, "node": 1, "depth": 1}},
        {"$sort": {idf: 1, "depth": 1, "node": 1}},
    )


# "<n>-day|point exponential (moving) average of <m> [per <p>]":
# $expMovingAvg over the date field (q186's surface), N from the span
# word (Mongo's α = 2/(N+1))
_EMA_RE = re.compile(
    r"\b(\d+)[- ](?:day|point|document)\s+exponential"
    r"(?:\s+moving)?\s+average of ([a-z_]+)(?:\s+per\s+([a-z_]+))?"
)


def _exp_moving_avg(ev: DocEvidence) -> dict | None:
    if not (em := _EMA_RE.search(ev.ql)):
        return None
    n_span, m_word, p_word = em.groups()
    p_word = ev.partition_word(p_word)
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=m_word)
    if measure is None or ev.date_field is None or int(n_span) < 1:
        return None
    part = (ev.best_field(exclude_id=False, exclude=ev.filtered | {measure}, text=p_word)
            if p_word else None)
    alias = f"ema{n_span}_{measure}"
    return ev.window(ev.date_field, measure, part,
                     {alias: {"$expMovingAvg": {"input": f"${measure}", "N": int(n_span)}}})


# "<latest|most recent|newest|earliest|oldest> [N] <field> per <g>": the
# sort-then-group idiom, $sort {date ∓1, field 1} → $group {$first} +
# count (q190's surface), or $firstN with a count (q194's)
_LATEST_RE = re.compile(
    r"\b(latest|most recent|newest|earliest|oldest)\s+(?:(\d+)\s+)?([a-z_]+)\s+per\s+([a-z_]+)"
)


def _latest_per_group(ev: DocEvidence) -> dict | None:
    if not (lt := _LATEST_RE.search(ev.ql)):
        return None
    word, n_s, f_word, g_word = lt.groups()
    # exclude_id=False: "per user_id" names an id-suffixed group key
    g = ev.best_field(exclude_id=False, exclude=ev.filtered, text=g_word)
    pick = ev.best_field(exclude_id=False, exclude=ev.filtered | ({g} if g else set()),
                         text=f_word)
    dfld = ev.date_field
    if dfld is None or g is None or pick is None or pick == dfld:
        return None
    desc = word in _RECENCY_DESC
    stem = "latest" if desc else "earliest"
    if n_s:
        label = f"{stem}{n_s}_{pick}"
        acc: dict = {"$firstN": {"input": f"${pick}", "n": int(n_s)}}
    else:
        label, acc = f"{stem}_{pick}", {"$first": f"${pick}"}
    return ev.pipeline(
        {"$sort": {dfld: -1 if desc else 1, pick: 1}},
        {"$group": {"_id": f"${g}", label: acc, "n": {"$sum": 1}}},
        {"$sort": {"_id": 1}},
    )


# "daily count of <coll> ... missing days": $dateTrunc → $group →
# $densify (full bounds, 1 day) → $fill (count 0), q171's surface
_DAILY_COUNT_RE = re.compile(r"\bdaily (?:count|number)\b")
_GAPLESS_RE = re.compile(r"\bmissing days?\b|\bgaps? filled\b|\bgapless\b")


def _daily_gapfill(ev: DocEvidence) -> dict | None:
    if not (_DAILY_COUNT_RE.search(ev.ql) and _GAPLESS_RE.search(ev.ql)) or not ev.date_field:
        return None
    return ev.pipeline(
        {"$addFields": {"day": {"$dateTrunc": {"date": f"${ev.date_field}", "unit": "day"}}}},
        _count_group("$day"),
        {"$densify": {"field": "_id", "range": {"step": 1, "unit": "day", "bounds": "full"}}},
        {"$fill": {"sortBy": {"_id": 1}, "output": {"n": {"value": 0}}}},
        {"$sort": {"_id": 1}},
    )


# "… per month as YYYY-MM" / "… by year-month": a $dateToString group key
# (q193's render surface, the SQL plane's nl13 grain) with the count and
# an optional "total <m>" sum
_MONTH_GRAIN_RE = re.compile(r"\bper\s+month\s+as\s+yyyy-mm\b|\bby\s+year-month\b")
_TOTAL_RE = re.compile(r"\b(?:total|sum of)\s+([a-z_]+)")


def _month_grain(ev: DocEvidence) -> dict | None:
    if not _MONTH_GRAIN_RE.search(ev.ql) or ev.date_field is None:
        return None
    group = _count_group("$month")
    if tm := _TOTAL_RE.search(ev.ql):
        m_f = ev.best_field(numeric=True, exclude=ev.filtered, text=tm.group(1))
        if m_f is not None:
            group["$group"][f"total_{m_f}"] = {"$sum": f"${m_f}"}
    return ev.pipeline(
        {"$addFields": {"month": {"$dateToString": {"format": "%Y-%m",
                                                    "date": f"${ev.date_field}"}}}},
        group,
        {"$sort": {"_id": 1}},
    )


# "<field> matching '<pattern>'" (the pattern read case-sensitively from
# the RAW question) or "<field> containing a number": $regexMatch inside
# an $expr $match (q193's predicate surface) with the count rollup, per
# group after a 'per <g>' phrase
_REGEX_MATCH_RE = re.compile(r"\b([a-z_]+?)s?\s+match(?:es|ing)\s+'([^']+)'", re.IGNORECASE)
_HAS_NUMBER_RE = re.compile(r"\b([a-z_]+?)s?\s+containing\s+a\s+number\b")


def _regex_predicate(ev: DocEvidence) -> dict | None:
    rxm = _REGEX_MATCH_RE.search(ev.question)
    nsug = _HAS_NUMBER_RE.search(ev.ql)
    if not (rxm or nsug):
        return None
    f_word = (rxm.group(1) if rxm else nsug.group(1)).lower()
    # no `filtered` exclusion: the phrase names its field, which the
    # filter extractor may have spent on the substring evidence dropped
    # below; the regex needs a real string column (the store's dtype, not
    # the model-gated _is_numeric, whose no-model default is True)
    f = ev.best_field(exclude_id=False, text=f_word)
    if f is None or dict(ev.eng.store.collection(ev.coll).dtypes).get(f) != "string":
        return None
    # "containing a number" also reads as substring-'a' evidence on the
    # same field: that evidence is this rule's, so it leaves the prelude
    m2 = {k: v for k, v in ev.match.items() if k != f}
    g = (ev.best_field(exclude_id=False, exclude=ev.filtered | {f}, text=ev.group_text)
         if ev.per_phrase is not None else None)
    pat = rxm.group(2) if rxm else "[0-9]"
    return {"collection": ev.coll, "pipeline": ([{"$match": m2}] if m2 else []) + [
        {"$match": {"$expr": {"$regexMatch": {"input": f"${f}", "regex": pat}}}},
        _count_group(f"${g}" if g is not None else None),
        {"$sort": {"_id": 1}},
    ]}


# "<g>s with average <m> above N": $group {$avg/$sum/$max/$min} + a
# post-group $match on the RAW aggregate, rounded after the threshold
# (the SQL plane's nl30 HAVING surface, one shuffle)
_HAVING_MEASURE_RE = re.compile(
    r"\b([a-z_]+?)s?\s+with\s+(?:an?\s+)?"
    r"(average|avg|mean|total|sum of|maximum|max|minimum|min)\s+([a-z_]+)\s+"
    r"(above|over|more than|at least|below|under|less than|at most)\s+(\d+(?:\.\d+)?)\b"
)


def _having_measure(ev: DocEvidence) -> dict | None:
    if not (hvm := _HAVING_MEASURE_RE.search(ev.ql)):
        return None
    g_word, agg_word, m_word, cmp_word, n_word = hvm.groups()
    f = ev.best_field(exclude_id=False, numeric=True, text=m_word)
    g = ev.best_field(exclude_id=False, exclude={f} if f else None, text=g_word)
    if f is None or g is None or f == g:
        return None
    acc = _AGG_ACCUMULATORS[_FUNC_WORDS[agg_word.split()[0]]]
    label = f"{acc[1:]}_{f}"
    n_val = float(n_word) if "." in n_word else int(n_word)
    return {"collection": ev.coll, "pipeline": [
        {"$group": {"_id": f"${g}", label: {acc: f"${f}"}}},
        {"$match": {label: {_MONGO_OPS[_HAVING_OPS[cmp_word]]: n_val}}},
        {"$addFields": {label: {"$round": [f"${label}", 4]}}},
        {"$sort": {"_id": 1}},
    ]}


# "<g>s with <cmp> N <coll>" ("sources with at least 20 documents"):
# $group + a post-group $match on the count (the SQL plane's nl29 HAVING
# surface), filtered after the single shuffle. The counted noun must name
# the collection; "with <field> over N" is a row filter
_HAVING_COUNT_RE = re.compile(
    r"\b([a-z_]+?)s?\s+with\s+(at least|more than|over|at most|fewer than|less than|under)"
    r"\s+(\d+)\s+([a-z_]+?)s?\b"
)


def _having_count(ev: DocEvidence) -> dict | None:
    hv = _HAVING_COUNT_RE.search(ev.ql)
    # removesuffix, NOT rstrip: rstrip("s") strips EVERY trailing 's'
    # ("address" -> "addre"); the noun is the collection or its singular
    if not hv or hv.group(4) not in (ev.coll, ev.coll.removesuffix("s")):
        return None
    if (g := ev.best_field(exclude_id=False, text=hv.group(1))) is None:
        return None
    label = f"n_{ev.coll}"
    return {"collection": ev.coll, "pipeline": [
        {"$group": {"_id": f"${g}", label: {"$sum": 1}}},
        {"$match": {label: {_MONGO_OPS[_HAVING_OPS[hv.group(2)]]: int(hv.group(3))}}},
        {"$sort": {"_id": 1}},
    ]}


# "percentage of <coll> per <g>": group counts + an uncorrelated $lookup
# of the one-row total (broadcast-bounded, q157's machinery) + a computed
# pct — never a global window (the SQL plane's nl53). The filter prelude
# narrows both the groups and the total
_SHARE_RE = re.compile(r"\b(?:percentage|percent|share|proportion)\s+of\b")


def _pct_of_total(ev: DocEvidence) -> dict | None:
    if not _SHARE_RE.search(ev.ql) or ev.per_phrase is None:
        return None
    g = ev.best_field(exclude_id=False, exclude=ev.filtered, text=ev.group_text)
    if g is None:
        return None
    total = ev.prelude + [{"$group": {"_id": None, "total": {"$sum": 1}}}]
    return ev.pipeline(
        _count_group(f"${g}"),
        {"$lookup": {"from": ev.coll, "as": "__tot", "pipeline": total}},
        {"$unwind": "$__tot"},
        {"$addFields": {"pct": {"$round": [
            {"$multiply": [{"$divide": ["$n", "$__tot.total"]}, 100]}, 6]}}},
        {"$project": {"_id": 1, "n": 1, "pct": 1}},
        {"$sort": {"_id": 1}},
    )


# "how many distinct <f> [per <g>]": $addToSet → $size (the SQL plane's
# nl24 COUNT DISTINCT); collect_set combines map-side, so the shuffle
# carries per-group sets, never rows
_DISTINCT_RE = re.compile(
    r"\b(?:how many|number of|count of)\s+(?:distinct|unique)\s+"
    r"([a-z_]+?)s?(?:\s+per\s+([a-z_]+))?(?:\s+for\b|$)"
)


def _count_distinct(ev: DocEvidence) -> dict | None:
    if not (dc := _DISTINCT_RE.search(ev.ql)):
        return None
    f_word, g_word = dc.groups()
    if (f := ev.best_field(exclude_id=False, exclude=ev.filtered, text=f_word)) is None:
        return None
    g = ev.best_field(exclude_id=False, exclude=ev.filtered | {f}, text=g_word) if g_word else None
    label = f"n_distinct_{f}"
    return ev.pipeline(
        {"$group": {"_id": f"${g}" if g else None, "__set": {"$addToSet": f"${f}"}}},
        {"$addFields": {label: {"$size": "$__set"}}},
        {"$project": {"_id": 1, label: 1}},
        {"$sort": {"_id": 1}},
    )


# "(random) sample of N": $sample (q174's deterministic md5 draw)
_SAMPLE_RE = re.compile(r"\b(?:random\s+)?sample\s+of\s+(\d+)\b")


def _sample(ev: DocEvidence) -> dict | None:
    if not (sm := _SAMPLE_RE.search(ev.ql)):
        return None
    return ev.pipeline({"$sample": {"size": int(sm.group(1))}})


# "N equal(-count) buckets by <m>": equi-depth $bucketAuto (q173's
# surface); "buckets of <step>" stays the equi-width histogram
_EQUAL_BUCKETS_RE = re.compile(
    r"\b(\d+)\s+equal(?:[- ]count|[- ]sized?)?\s+buckets?\s+(?:of|by)\s+([a-z_]+)"
)


def _equal_buckets(ev: DocEvidence) -> dict | None:
    if not (eb := _EQUAL_BUCKETS_RE.search(ev.ql)):
        return None
    n_b = int(eb.group(1))
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=eb.group(2))
    if measure is None or n_b <= 0:
        return None
    return ev.pipeline(
        {"$bucketAuto": {"groupBy": f"${measure}", "buckets": n_b}},
        {"$addFields": {"lo": "$_id.min", "hi": "$_id.max"}},
        {"$project": {"_id": 0, "lo": 1, "hi": 1, "count": 1}},
        {"$sort": {"lo": 1}},
    )


# a breakdown cue + two or more "by <field>" phrases ("break down
# documents by lang and by source"): $facet, ONE grouping-sets scan
# (operators/documents.py:facet_group)
def _facet_breakdown(ev: DocEvidence) -> dict | None:
    if not _BREAKDOWN_RE.search(ev.ql):
        return None
    keys: list[str] = []
    for w in _BY_WORD_RE.findall(ev.ql):
        f = ev.best_field(exclude=ev.filtered | set(keys), text=w)
        if f is not None and f not in keys:
            keys.append(f)
    if len(keys) < 2:
        return None
    return ev.pipeline({"$facet": {f"by_{k}": [_count_group(f"${k}")] for k in keys}})


# "histogram of <m> in buckets of <step>": $bucket over equi-width
# boundaries, multiples of the step wide enough for the data; values out
# of range fall in the "other" default. The table's one eager rule: the
# boundaries need ONE max() job at compile time (the planner-side bounded
# action q156's cut-point collect documents), over the prelude-filtered
# frame
_HISTOGRAM_RE = re.compile(
    r"\b(?:histogram|distribution) of ([a-z_]+)\b.*?\b(?:buckets|bins|steps) of (\d+)\b"
)


def _histogram(ev: DocEvidence) -> dict | None:
    if not (hm := _HISTOGRAM_RE.search(ev.ql)):
        return None
    step = int(hm.group(2))
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=hm.group(1))
    if measure is None or step <= 0:
        return None
    frame = ev.eng.store.collection(ev.coll)
    if ev.match:
        frame = frame.filter(filter_condition(ev.match))
    hi = frame.agg(F.max(measure).alias("m")).collect()[0]["m"]
    n_b = int(hi // step) + 1 if hi is not None else 1
    return ev.pipeline(
        {"$bucket": {"groupBy": f"${measure}", "boundaries": [i * step for i in range(n_b + 1)],
                     "default": "other", "output": {"n": {"$sum": 1}}}},
        {"$sort": {"_id": 1}},
    )


# "top <n> <o> by <m> per <g>": the $topN accumulator (q187's surface),
# one map-side-combinable aggregate, never a window
_TOPN_RE = re.compile(r"\btop\s+(\d+)\s+([a-z_]+)\s+by\s+([a-z_]+)\s+per\s+([a-z_]+)")


def _topn_per_group(ev: DocEvidence) -> dict | None:
    if not (tn := _TOPN_RE.search(ev.ql)):
        return None
    n_top, o_word, m_word, g_word = tn.groups()
    pick = ev.best_field(exclude_id=False, exclude=ev.filtered, text=o_word)
    measure = ev.best_field(numeric=True, exclude=ev.filtered | ({pick} if pick else set()),
                            text=m_word)
    g = ev.best_field(exclude_id=False, text=g_word,
                      exclude=ev.filtered | {f for f in (pick, measure) if f is not None})
    if pick is None or measure is None or g is None:
        return None
    return ev.pipeline(
        {"$group": {"_id": f"${g}", f"top{n_top}_{pick}": {"$topN": {
            "output": f"${pick}", "sortBy": {measure: -1}, "n": int(n_top)}}}},
        {"$sort": {"_id": 1}},
    )


# "median <m> [per <g>]" / "<P>th percentile of <m> [per <g>]": the
# $median/$percentile accumulators (q187's surface; exact interpolated
# percentile), the $percentile array unwrapped by $arrayElemAt
_PERCENTILE_RE = re.compile(
    r"\b(?:median|(\d{1,2})(?:st|nd|rd|th)\s+percentile)(?:\s+of)?\s+([a-z_]+)"
)


def _percentile(ev: DocEvidence) -> dict | None:
    if not (mp := _PERCENTILE_RE.search(ev.ql)):
        return None
    pc_word, m_word = mp.groups()
    if (measure := ev.best_field(numeric=True, exclude=ev.filtered, text=m_word)) is None:
        return None
    g = (ev.best_field(exclude=ev.filtered | {measure}, text=ev.group_text)
         if ev.per_phrase is not None else None)
    if pc_word:
        alias = f"p{pc_word}_{measure}"
        acc: dict = {"$percentile": {"input": f"${measure}", "p": [int(pc_word) / 100.0],
                                     "method": "approximate"}}
    else:
        alias = f"median_{measure}"
        acc = {"$median": {"input": f"${measure}", "method": "approximate"}}
    stages: list[dict] = [{"$group": {"_id": f"${g}" if g else None, alias: acc}}]
    if pc_word:
        stages.append({"$addFields": {alias: {"$arrayElemAt": [f"${alias}", 0]}}})
    if g:
        stages.append({"$sort": {"_id": 1}})
    return ev.pipeline(*stages)


# AVG/SUM/MAX/MIN over a measure ($group accumulators, nl2mongo
# dialect), type-gated when metadata is attached; with no group key left
# (the measure was the only usable field) the ungrouped aggregate, never
# a nonexistent "$None" key
def _measure_agg(ev: DocEvidence) -> dict | None:
    if (acc := _AGG_ACCUMULATORS.get(ev.analysis.agg_func or "")) is None:
        return None
    measure = ev.best_field(numeric=True, exclude=ev.filtered, text=ev.measure_text)
    if measure is None:
        return None
    alias = f"{ev.analysis.agg_func.lower()}_{measure}"
    g = ev.best_field(exclude=ev.filtered | {measure}, text=ev.group_text) if ev.grouped else None
    if g is None:
        return ev.pipeline({"$group": {"_id": None, alias: {acc: f"${measure}"}}})
    return ev.pipeline({"$group": {"_id": f"${g}", alias: {acc: f"${measure}"}}},
                       {"$sort": {"_id": 1}})


def _count(ev: DocEvidence) -> dict | None:
    if not (ev.analysis.agg_func == "COUNT" or QueryIntent.AGGREGATION in ev.analysis.all_intents):
        return None
    g = ev.best_field(exclude=ev.filtered, text=ev.group_text) if ev.grouped else None
    if g is None:  # the measure rule's $None guard
        return ev.pipeline(_count_group(None))
    return ev.pipeline(_count_group(f"${g}"), {"$sort": {"_id": 1}})


def _extreme_n(ev: DocEvidence) -> dict | None:
    if not (nm := _N_EXTREME_RE.search(ev.ql)):
        return None
    n_lim, dir_word, f_word = nm.groups()
    if (f := ev.best_field(numeric=True, text=f_word) or ev.best_field(text=f_word)) is None:
        return None
    return {"collection": ev.coll, "find": ev.match,
            "sort": {f: 1 if dir_word in _ASCENDING_WORDS else -1}, "limit": int(n_lim)}


def _sorted(ev: DocEvidence) -> dict | None:
    if QueryIntent.SORTED not in ev.analysis.all_intents:
        return None
    return {"collection": ev.coll, "find": ev.match,
            "sort": {ev.best_field(): -1 if ev.analysis.sort_desc else 1},
            "limit": ev.analysis.limit_n or 100}


def _find(ev: DocEvidence) -> dict:
    return {"collection": ev.coll, "find": ev.match, "limit": ev.analysis.limit_n or 100}


# The template tier: (method, rule) pairs, tried in this order; the first
# rule that builds a dict answers, so a rule that must win an overlap
# comes first. _find always matches and stays last.
DOC_TEMPLATE_RULES: tuple[tuple[str, Callable[[DocEvidence], dict | None]], ...] = (
    ("doc_pagination", _pagination),
    ("doc_union", _union),
    ("doc_lookup_counts", _lookup_counts),
    ("doc_running_total", _running_total),
    ("doc_rate_of_change", _rate_of_change),
    ("doc_graph_lookup", _graph_lookup),
    ("doc_exp_moving_avg", _exp_moving_avg),
    ("doc_latest_per_group", _latest_per_group),
    ("doc_daily_gapfill", _daily_gapfill),
    ("doc_month_grain", _month_grain),
    ("doc_regex_predicate", _regex_predicate),
    ("doc_having_measure", _having_measure),
    ("doc_having_count", _having_count),
    ("doc_pct_of_total", _pct_of_total),
    ("doc_count_distinct", _count_distinct),
    ("doc_sample", _sample),
    ("doc_equal_buckets", _equal_buckets),
    ("doc_facet_breakdown", _facet_breakdown),
    ("doc_histogram", _histogram),
    ("doc_topn_per_group", _topn_per_group),
    ("doc_percentile", _percentile),
    ("doc_measure_agg", _measure_agg),
    ("doc_count", _count),
    ("doc_extreme_n", _extreme_n),
    ("doc_sorted", _sorted),
    ("doc_find", _find),
)
