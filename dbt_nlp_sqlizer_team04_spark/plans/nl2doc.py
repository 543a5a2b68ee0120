"""NL → document-query pipeline — the Mongo branch of the reference's
/ai/ask (NLP_SQLizer/backend/app/routes_ai.py:150-156, 320-394).

Mirrors the reference ladder on the DocumentStore executor:

- A10 collection linking: fuzzy prune to top-k collections/fields with
  ``_id`` always kept (app/ai/nl2mongo.py:37-59);
- LLM tier: MONGO_SYS-style prompt asking for a query-dict JSON
  (nl2mongo.py:62-74), tolerant JSON extraction (:86-112) — optional,
  exactly like the SQL path;
- deterministic template tier (the CI path): intent analysis compiles
  count/grouped-count/find dicts, so no LLM is needed for the eval set;
- execution via DocumentStore.execute (limit injection, safety by
  construction: the dict dialect has no write verbs at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.documents import DocumentStore, flatten_for_display, parse_query_json
from .intent import QueryIntent, analyze_query_intent
from .linking import partial_ratio
from .llm import LLMNotConfigured, chat_complete

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
    def _relevant(
        self, question: str
    ) -> tuple[dict[str, list[str]], dict[str, dict[str, float]]]:
        """Linking ladder (mirror of NL2SQLEngine.link): trained
        semantic tier when a model is attached — restricted to actually
        registered collections — else, or when it finds nothing, the
        fuzzy tier. Returns (slice, raw per-field cosines) so the
        template tier can rank fields on semantic evidence."""
        schema = self._schema()
        if self._linker is not None:
            rel = self._linker.relevant(question)
            slice_ = {
                t: cols for t, cols in rel.as_slice().items() if t in schema
            }
            return (
                slice_ or select_relevant_collections(schema, question),
                rel.column_scores(),
            )
        return select_relevant_collections(schema, question), {}

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

    def _extract_filters(self, coll: str, question: str) -> dict:
        """Filter compilation for the document dialect — the NL2SQL
        tier's evidence rules re-expressed as query-dict operators:
        substring phrases ("text containing spark") become ``$regex``
        and comparison phrases ("n_chars over 200") become
        ``$gt``/``$lt``/... The field word must fuzzy-resolve (≥70, the
        relational convention); comparison targets are type-gated when
        crawled metadata is attached."""
        from .nl2sql import _CMP_OPS, _CMP_RE, _LIKE_RE

        fields = [f for f in self._schema().get(coll, []) if f != "_id"]

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
        mongo_ops = {">": "$gt", "<": "$lt", ">=": "$gte", "<=": "$lte"}
        for word, cmp_word, num in _CMP_RE.findall(question.lower()):
            f = resolve(word, numeric=True)
            if f is None:
                continue
            n = num.replace(",", "")
            match[f] = {mongo_ops[_CMP_OPS[cmp_word]]: float(n) if "." in n else int(n)}
        # "events before 2024-01-10" — ISO-date comparisons target the
        # collection's date field (Spark coerces the string literal)
        import re as _re2

        for word, iso in _re2.findall(
            r"\b(before|after|since|until)\s+(\d{4}-\d{2}-\d{2})\b",
            question.lower(),
        ):
            dfld = self._date_field(coll)
            if dfld is None:
                continue
            op = {"before": "$lt", "after": "$gt",
                  "since": "$gte", "until": "$lte"}[word]
            match[dfld] = {op: iso}
        return match

    # ------------------------------------------------------- candidates
    def template_query(self, question: str) -> dict:
        """Deterministic template tier: intent-compiled query dicts."""
        schema = self._schema()
        relevant, col_scores = self._relevant(question)
        if not relevant:
            raise ValueError("no collections registered")
        coll = next(iter(relevant))
        fields = schema[coll]
        analysis = analyze_query_intent(question, relevant)

        # the SQL tier's phrase scoping: group keys resolve against the
        # text after 'per', measures against the text before it —
        # "sum of value per event_type" must not swap the two fields
        # that both match the question literally
        import re as _re

        pm = _re.search(r"\bper\s+([a-z_][a-z_ ]*)", question.lower())
        group_text = pm.group(1) if pm else question
        measure_text = (
            question.lower().replace(pm.group(0), " ") if pm else question
        )

        def best_field(
            exclude_id: bool = True,
            numeric: bool | None = None,
            exclude: set[str] | None = None,
            text: str | None = None,
        ) -> str | None:
            scope = text if text is not None else question
            cands = [
                f
                for f in fields
                if not (exclude_id and f.endswith("id"))
                and f not in (exclude or set())
                and (numeric is None or self._is_numeric(coll, f) == numeric)
            ]
            if not cands:
                return None
            # ties (a short name fully contained in the question) break
            # toward the longer, more specific field name
            return max(
                cands,
                key=lambda f: (self._field_score(coll, f, scope, col_scores), len(f)),
            )

        # filter fields are evidence already SPENT on the predicate —
        # "text containing spark per lang" must group by lang, not text
        match = self._extract_filters(coll, question)
        filtered = set(match)
        prelude = [{"$match": match}] if match else []

        # pagination phrasing — "page N of ..." / "second page of ..."
        # (+ optional "M per page", default 25) compiles to the find
        # form's sort/skip/limit (q167's $skip surface): a unique-ish
        # sort key keeps pages stable — the "by <field>" phrase wins,
        # else the first id-suffixed field, else the first field
        ql = question.lower()
        pg = _re.search(
            r"\b(?:page\s+(\d+)|(first|second|third|fourth|fifth)\s+page)"
            r"\s+of\b",
            ql,
        )
        if pg:
            n_page = (
                int(pg.group(1))
                if pg.group(1)
                else {"first": 1, "second": 2, "third": 3,
                      "fourth": 4, "fifth": 5}[pg.group(2)]
            )
            ps = _re.search(r"\b(\d+)\s+per\s+page\b", ql)
            size = int(ps.group(1)) if ps else 25
            bym = _re.search(r"\bby\s+([a-z_]+)", ql)
            f = (
                best_field(exclude_id=False, text=bym.group(1))
                if bym
                else None
            )
            if f is None:
                f = next(
                    (x for x in fields if x.endswith("id")), fields[0]
                )
            return {
                "collection": coll,
                "find": match,
                "sort": {f: 1},
                "skip": (n_page - 1) * size,
                "limit": size,
            }

        # union phrasing — "combine <A> with <B>[, counts per <f>]"
        # appends the second filtered scan of the SAME collection via
        # $unionWith (q169's surface from NL): UNION ALL semantics,
        # overlapping documents counted twice; each side's phrase
        # compiles through the ordinary filter extractor, so both
        # pushed-filter scans concatenate with no shuffle before the
        # optional trailing count rollup
        um = _re.search(
            r"\bcombine\s+(.+?)\s+with\s+(.+?)"
            r"(?:,\s*counts?\s+per\s+([a-z_]+)\b.*)?$",
            ql,
        )
        if um:
            fa = self._extract_filters(coll, um.group(1))
            fb = self._extract_filters(coll, um.group(2))
            if fa and fb:
                pipe: list[dict] = [
                    {"$match": fa},
                    {"$unionWith": {"coll": coll,
                                    "pipeline": [{"$match": fb}]}},
                ]
                if um.group(3):
                    key = best_field(
                        exclude=set(fa) | set(fb), text=um.group(3)
                    )
                    if key is not None:
                        pipe += [
                            {"$group": {"_id": f"${key}",
                                        "n": {"$sum": 1}}},
                            {"$sort": {"_id": 1}},
                        ]
                return {"collection": coll, "pipeline": pipe}

        # join phrasing — "... with their <g> counts" compiles to the
        # uncorrelated $lookup pipeline form (q157's shape: the
        # per-<g> counts aggregate runs ONCE over the collection and
        # broadcasts onto the shortlisted rows), then $unwind + a
        # computed $project flatten the payload for display
        lm = _re.search(r"\bwith (?:their|the) ([a-z_]+) counts\b", ql)
        if lm:
            g = best_field(exclude=filtered, text=lm.group(1))
            if g is not None:
                nm2 = _re.search(
                    r"\b(\d+)\s+(shortest|longest|smallest|largest|"
                    r"cheapest|lowest|highest)\s+[a-z_]+?s?\s+by\s+"
                    r"([a-z_]+)\b",
                    ql,
                )
                n_lim = int(nm2.group(1)) if nm2 else 5
                measure = best_field(
                    numeric=True,
                    exclude=filtered | {g},
                    text=nm2.group(3) if nm2 else question,
                )
                if measure is not None:
                    direction = (
                        1
                        if nm2
                        and nm2.group(2)
                        in ("shortest", "smallest", "cheapest", "lowest")
                        else -1
                    )
                    idf = next(
                        (x for x in fields if x.endswith("id")), None
                    )
                    sort: dict[str, int] = {measure: direction}
                    if idf and idf != measure:
                        sort[idf] = 1
                    as_name = f"{g}_counts"
                    proj: dict = {fld: 1 for fld in fields}
                    proj[f"{g}_value"] = f"${as_name}._id"
                    proj[f"{g}_n"] = f"${as_name}.n"
                    return {
                        "collection": coll,
                        "pipeline": prelude + [
                            {"$sort": sort},
                            {"$limit": n_lim},
                            {"$lookup": {
                                "from": coll,
                                "as": as_name,
                                "pipeline": [{"$group": {
                                    "_id": f"${g}",
                                    "n": {"$sum": 1},
                                }}],
                            }},
                            {"$unwind": f"${as_name}"},
                            {"$project": proj},
                        ],
                    }

        # running-total phrasing — "running total of <m> by <s>
        # [per <p>]" compiles to $setWindowFields (q170's surface): one
        # framed $sum over the (partition, sort) window; the final sort
        # repeats the window sort (+ id tiebreak) so the injected limit
        # sees a deterministic row set
        rt = _re.search(
            r"\brunning total of ([a-z_]+) by ([a-z_]+)"
            r"(?:\s+per\s+([a-z_]+))?",
            ql,
        )
        if rt:
            m_word, s_word, p_word = rt.groups()
            measure = best_field(numeric=True, exclude=filtered, text=m_word)
            skey = best_field(exclude_id=False, text=s_word)
            if measure is not None and skey is not None:
                part = (
                    best_field(exclude=filtered | {measure, skey},
                               text=p_word)
                    if p_word
                    else None
                )
                swf: dict = {
                    "sortBy": {skey: 1},
                    "output": {"running_total": {
                        "$sum": f"${measure}",
                        "window": {"documents": ["unbounded", "current"]},
                    }},
                }
                if part:
                    swf["partitionBy"] = f"${part}"
                proj = {skey: 1, measure: 1, "running_total": 1}
                if part:
                    proj[part] = 1
                sort: dict[str, int] = {skey: 1}
                idf = next(
                    (x for x in fields if x.endswith("id")), None
                )
                if idf and idf != skey:
                    sort[idf] = 1
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$setWindowFields": swf},
                        {"$project": proj},
                        {"$sort": sort},
                    ],
                }

        # rate-of-change phrasing — "<hourly|daily|weekly|per-minute|
        # per-second> rate of change of <m> [per <p>]" compiles to
        # $setWindowFields $derivative over the collection's date field
        # (q185's surface from NL): consecutive-pair slope (documents
        # [-1, current] frame), unit from the cadence word; the final
        # sort repeats the (unique) date sort so the injected limit
        # sees a deterministic row set
        rc = _re.search(
            r"\b(hourly|daily|weekly|per[- ]minute|per[- ]second)\s+"
            r"rate of change of ([a-z_]+)(?:\s+per\s+([a-z_]+))?",
            ql,
        )
        if rc:
            cadence, m_word, p_word = rc.groups()
            if p_word is None and pm:
                # "… of value FOR EVENTS per event_type" — the partition
                # phrase need not be adjacent; reuse the global 'per'
                # scoping already extracted for measure/group resolution
                p_word = pm.group(1).split()[0]
            unit = {"hourly": "hour", "daily": "day", "weekly": "week",
                    "per minute": "minute",
                    "per second": "second"}[cadence.replace("-", " ")]
            measure = best_field(numeric=True, exclude=filtered,
                                 text=m_word)
            dfld = self._date_field(coll)
            if measure is not None and dfld is not None:
                part = (
                    best_field(exclude=filtered | {measure}, text=p_word)
                    if p_word
                    else None
                )
                swf: dict = {
                    "sortBy": {dfld: 1},
                    "output": {"rate": {
                        "$derivative": {"input": f"${measure}",
                                        "unit": unit},
                        "window": {"documents": [-1, "current"]},
                    }},
                }
                if part:
                    swf["partitionBy"] = f"${part}"
                idf = next(
                    (x for x in fields if x.endswith("id")), None
                )
                proj = {dfld: 1, measure: 1, "rate": 1}
                if part:
                    proj[part] = 1
                if idf:
                    proj[idf] = 1
                sort: dict[str, int] = {dfld: 1}
                if idf and idf != dfld:
                    sort[idf] = 1
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$setWindowFields": swf},
                        {"$project": proj},
                        {"$sort": sort},
                    ],
                }

        # graph-traversal phrasing — "all <ancestors|descendants> of
        # <idword> <value> [up to <n> levels]" compiles to $graphLookup
        # (q172/q179's walker from NL): BFS from the anchored row along
        # the collection's self-referential parent field; the depth
        # phrase caps maxDepth (Mongo's 0-based depth ⇒ n levels =
        # maxDepth n-1); $unwind + $addFields flatten (anchor, node,
        # depth) rows in a deterministic sort
        gl = _re.search(
            r"\ball (ancestors|descendants) of (?:([a-z_]+)\s+)?(\d+)"
            r"(?:\s+up to (\d+) levels?)?",
            ql,
        )
        if gl:
            kind, id_word, id_val, levels = gl.groups()
            parent = next(
                (f for f in fields if "parent" in f.lower()), None
            )
            idf = best_field(
                exclude_id=False,
                exclude=({parent} if parent else set()) | filtered,
                text=id_word or "id",
            )
            if parent is not None and idf is not None and idf != parent:
                if kind == "ancestors":
                    start, c_from, c_to = f"${parent}", parent, idf
                else:
                    start, c_from, c_to = f"${idf}", idf, parent
                gspec: dict = {
                    "from": coll,
                    "startWith": start,
                    "connectFromField": c_from,
                    "connectToField": c_to,
                    "as": "chain",
                    "depthField": "depth",
                }
                if levels:
                    gspec["maxDepth"] = int(levels) - 1
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$match": {idf: int(id_val)}},
                        {"$graphLookup": gspec},
                        {"$unwind": "$chain"},
                        {"$addFields": {"node": f"$chain.{idf}",
                                        "depth": "$chain.depth"}},
                        {"$project": {idf: 1, "node": 1, "depth": 1}},
                        {"$sort": {idf: 1, "depth": 1, "node": 1}},
                    ],
                }

        # smoothing phrasing — "<n>-day|point exponential (moving)
        # average of <m> [per <p>]" compiles to $setWindowFields
        # $expMovingAvg (q186's surface from NL): N from the span word
        # (Mongo's α = 2/(N+1)), partition from the (possibly
        # non-adjacent) 'per' phrase, sorted by the collection's date
        # field; the final unique sort keeps the injected limit
        # deterministic
        em = _re.search(
            r"\b(\d+)[- ](?:day|point|document)\s+exponential"
            r"(?:\s+moving)?\s+average of ([a-z_]+)"
            r"(?:\s+per\s+([a-z_]+))?",
            ql,
        )
        if em:
            n_span, m_word, p_word = em.groups()
            if p_word is None and pm:
                p_word = pm.group(1).split()[0]
            measure = best_field(numeric=True, exclude=filtered,
                                 text=m_word)
            dfld = self._date_field(coll)
            if measure is not None and dfld is not None \
                    and int(n_span) >= 1:
                part = (
                    best_field(exclude_id=False,
                               exclude=filtered | {measure},
                               text=p_word)
                    if p_word
                    else None
                )
                alias = f"ema{n_span}_{measure}"
                swf: dict = {
                    "sortBy": {dfld: 1},
                    "output": {alias: {"$expMovingAvg": {
                        "input": f"${measure}", "N": int(n_span)}}},
                }
                if part:
                    swf["partitionBy"] = f"${part}"
                idf = next(
                    (x for x in fields if x.endswith("id")), None
                )
                proj = {dfld: 1, measure: 1, alias: 1}
                if part:
                    proj[part] = 1
                if idf:
                    proj[idf] = 1
                sort: dict[str, int] = {dfld: 1}
                if idf and idf != dfld:
                    sort[idf] = 1
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$setWindowFields": swf},
                        {"$project": proj},
                        {"$sort": sort},
                    ],
                }

        # latest-per-group phrasing — "<latest|most recent|newest|
        # earliest|oldest> <field> per <g>" compiles to the
        # sort-then-group $first idiom (q190's surface from NL):
        # $sort {date ∓1, field 1} → $group {$first} + count
        # an optional count widens the idiom to the N-form: "latest 3
        # event_id per user_id" → $firstN over the same threaded sort
        # (q194's surface from NL)
        lt = _re.search(
            r"\b(latest|most recent|newest|earliest|oldest)\s+"
            r"(?:(\d+)\s+)?([a-z_]+)\s+per\s+([a-z_]+)",
            ql,
        )
        if lt:
            word, n_s, f_word, g_word = lt.groups()
            dfld = self._date_field(coll)
            # exclude_id=False: "per user_id" names an id-suffixed
            # group key, which the default resolver filters out
            g = best_field(exclude_id=False, exclude=filtered,
                           text=g_word)
            pick = best_field(exclude_id=False,
                              exclude=filtered | ({g} if g else set()),
                              text=f_word)
            if dfld is not None and g is not None and pick is not None \
                    and pick != dfld:
                desc = word in ("latest", "most recent", "newest")
                stem = "latest" if desc else "earliest"
                if n_s:
                    label = f"{stem}{n_s}_{pick}"
                    acc: dict = {"$firstN": {"input": f"${pick}",
                                             "n": int(n_s)}}
                else:
                    label = f"{stem}_{pick}"
                    acc = {"$first": f"${pick}"}
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$sort": {dfld: -1 if desc else 1, pick: 1}},
                        {"$group": {"_id": f"${g}",
                                    label: acc,
                                    "n": {"$sum": 1}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # gap-filled daily series — "daily count of <coll> ...
        # missing days ..." compiles to $dateTrunc → $group → $densify
        # (bounds full, step 1 day) → $fill (count 0) — q171's surface
        # from NL; filters ("value over 300") ride the ordinary prelude
        if _re.search(r"\bdaily (?:count|number)\b", ql) and _re.search(
            r"\bmissing days?\b|\bgaps? filled\b|\bgapless\b", ql
        ):
            dfld = self._date_field(coll)
            if dfld is not None:
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$addFields": {"day": {"$dateTrunc": {
                            "date": f"${dfld}", "unit": "day"}}}},
                        {"$group": {"_id": "$day", "n": {"$sum": 1}}},
                        {"$densify": {"field": "_id",
                                      "range": {"step": 1, "unit": "day",
                                                "bounds": "full"}}},
                        {"$fill": {"sortBy": {"_id": 1},
                                   "output": {"n": {"value": 0}}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # date-formatted grain — "… per month as YYYY-MM" / "… by
        # year-month" compiles to a $dateToString group key (q193's
        # render surface from NL): $addFields the formatted month, then
        # the ordinary count (plus "total <m>" sum) rollup — the SQL
        # plane's nl13 date_format grain, on the document plane
        if _re.search(
            r"\bper\s+month\s+as\s+yyyy-mm\b|\bby\s+year-month\b", ql
        ):
            dfld = self._date_field(coll)
            if dfld is not None:
                group: dict = {"_id": "$month", "n": {"$sum": 1}}
                tm = _re.search(r"\b(?:total|sum of)\s+([a-z_]+)", ql)
                if tm:
                    m_f = best_field(numeric=True, exclude=filtered,
                                     text=tm.group(1))
                    if m_f is not None:
                        group[f"total_{m_f}"] = {"$sum": f"${m_f}"}
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$addFields": {"month": {"$dateToString": {
                            "format": "%Y-%m", "date": f"${dfld}"}}}},
                        {"$group": group},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # regex-predicate phrasing — "<field> matching '<pattern>'"
        # (pattern read case-sensitively from the RAW question) or the
        # "containing a number" sugar compiles to $regexMatch inside a
        # $expr $match (q193's predicate surface from NL), with the
        # usual count rollup — per-group when a 'per <g>' phrase
        # follows, else one total row
        rxm = _re.search(
            r"\b([a-z_]+?)s?\s+match(?:es|ing)\s+'([^']+)'",
            question,
            _re.IGNORECASE,
        )
        nsug = _re.search(r"\b([a-z_]+?)s?\s+containing\s+a\s+number\b", ql)
        if rxm or nsug:
            f_word = (rxm.group(1) if rxm else nsug.group(1)).lower()
            pat = rxm.group(2) if rxm else "[0-9]"
            # no `filtered` exclusion here: the phrase names its target
            # field directly, and the filter extractor may have already
            # spent that very field on the spurious substring evidence
            # this tier subtracts below
            f = best_field(exclude_id=False, text=f_word)
            # the regex needs a real string column — read the store's
            # actual dtype (the _date_field convention), not the
            # model-gated _is_numeric heuristic whose no-model default
            # is permissive-True
            if f is not None and dict(
                self.store.collection(coll).dtypes
            ).get(f) == "string":
                # the generic filter extractor reads "containing a
                # number" as substring-'a' evidence on the same field —
                # that evidence is THIS tier's, so drop it from the
                # prelude rather than double-filtering
                m2 = {k: v for k, v in match.items() if k != f}
                cond: dict = {"$expr": {"$regexMatch": {
                    "input": f"${f}", "regex": pat}}}
                g = (
                    best_field(exclude_id=False,
                               exclude=filtered | {f}, text=group_text)
                    if pm
                    else None
                )
                gid = f"${g}" if g is not None else None
                return {
                    "collection": coll,
                    "pipeline": ([{"$match": m2}] if m2 else []) + [
                        {"$match": cond},
                        {"$group": {"_id": gid, "n": {"$sum": 1}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # aggregate-threshold (HAVING) on a MEASURE — "<g>s with
        # average <m> above N" ("event_types with average value above
        # 50") compiles to $group {$avg/$sum/$max/$min} + a post-group
        # $match on the RAW aggregate (the rounded render ships after
        # the threshold, nl30's convention) — the SQL plane's nl30
        # surface on the document plane. Same single-shuffle shape as
        # the count form below.
        hvm = _re.search(
            r"\b([a-z_]+?)s?\s+with\s+(?:an?\s+)?"
            r"(average|avg|mean|total|sum of|maximum|max|minimum|min)"
            r"\s+([a-z_]+)\s+"
            r"(above|over|more than|at least|below|under|less than|"
            r"at most)\s+(\d+(?:\.\d+)?)\b",
            ql,
        )
        if hvm:
            g_word, agg_word, m_word, cmp_word, n_word = hvm.groups()
            f = best_field(exclude_id=False, numeric=True, text=m_word)
            g = best_field(exclude_id=False,
                           exclude={f} if f else None, text=g_word)
            if f is not None and g is not None and f != g:
                acc = {"average": "$avg", "avg": "$avg", "mean": "$avg",
                       "total": "$sum", "sum of": "$sum",
                       "maximum": "$max", "max": "$max",
                       "minimum": "$min", "min": "$min"}[agg_word]
                cmp_op = {"above": "$gt", "over": "$gt",
                          "more than": "$gt", "at least": "$gte",
                          "below": "$lt", "under": "$lt",
                          "less than": "$lt", "at most": "$lte"}[cmp_word]
                n_val = float(n_word) if "." in n_word else int(n_word)
                label = f"{acc[1:]}_{f}"
                return {
                    "collection": coll,
                    "pipeline": [
                        {"$group": {"_id": f"${g}",
                                    label: {acc: f"${f}"}}},
                        {"$match": {label: {cmp_op: n_val}}},
                        {"$addFields": {label: {"$round": [f"${label}",
                                                           4]}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # aggregate-threshold (HAVING) phrasing — "<g>s with <cmp> N
        # <coll>" ("sources with at least 20 documents") compiles to
        # $group + a post-group $match on the count — the SQL plane's
        # nl29/nl30 HAVING surface on the document plane (r11 verdict
        # task 7). Spark shape: the count aggregates map-side and the
        # threshold filters AFTER the single hash shuffle — never a
        # self-join or second scan. The counted noun must name the
        # collection itself (otherwise "with <field> over N" is a
        # row-level comparison and belongs to the filter extractor).
        hv = _re.search(
            r"\b([a-z_]+?)s?\s+with\s+"
            r"(at least|more than|over|at most|fewer than|less than|"
            r"under)\s+(\d+)\s+([a-z_]+?)s?\b",
            ql,
        )
        # removesuffix, NOT rstrip: rstrip("s") strips EVERY trailing
        # 's' ("address" -> "addre"), so a double-s collection could
        # never match its counted noun and the tier silently failed to
        # fire (r13 advice find). Accept the noun matching either the
        # collection or its singular.
        if hv and hv.group(4) in (coll, coll.removesuffix("s")):
            g = best_field(exclude_id=False, text=hv.group(1))
            if g is not None:
                cmp_op = {"at least": "$gte", "more than": "$gt",
                          "over": "$gt", "at most": "$lte",
                          "fewer than": "$lt", "less than": "$lt",
                          "under": "$lt"}[hv.group(2)]
                label = f"n_{coll}"
                return {
                    "collection": coll,
                    "pipeline": [
                        {"$group": {"_id": f"${g}",
                                    label: {"$sum": 1}}},
                        {"$match": {label: {cmp_op: int(hv.group(3))}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # share-of-total phrasing — "percentage of <coll> per <g>"
        # compiles to group counts + an uncorrelated $lookup of the
        # one-row total (broadcast-bounded, q157's machinery) +
        # $unwind + a computed pct — never a global window, so the
        # pinned allowlist stays closed; the SQL plane's nl53 surface
        # on the document plane. A filter prelude applies to BOTH the
        # groups and the total (share within the filtered set).
        if _re.search(
            r"\b(?:percentage|percent|share|proportion)\s+of\b", ql
        ) and pm:
            g = best_field(exclude_id=False, exclude=filtered,
                           text=group_text)
            if g is not None:
                tot_pipe: list[dict] = (
                    [{"$match": match}] if match else []
                ) + [{"$group": {"_id": None, "total": {"$sum": 1}}}]
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$group": {"_id": f"${g}", "n": {"$sum": 1}}},
                        {"$lookup": {"from": coll, "as": "__tot",
                                     "pipeline": tot_pipe}},
                        {"$unwind": "$__tot"},
                        {"$addFields": {"pct": {"$round": [
                            {"$multiply": [
                                {"$divide": ["$n", "$__tot.total"]},
                                100]}, 6]}}},
                        {"$project": {"_id": 1, "n": 1, "pct": 1}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # distinct-count phrasing — "how many distinct <f> [per <g>]"
        # compiles to $addToSet → $size (the SQL plane's nl24 COUNT
        # DISTINCT on the document plane): collect_set map-side
        # combines like a partial distinct-aggregate, so the shuffle
        # carries per-group sets, never rows
        dc = _re.search(
            r"\b(?:how many|number of|count of)\s+(?:distinct|unique)\s+"
            r"([a-z_]+?)s?(?:\s+per\s+([a-z_]+))?(?:\s+for\b|$)",
            ql,
        )
        if dc:
            f_word, g_word = dc.groups()
            f = best_field(exclude_id=False, exclude=filtered,
                           text=f_word)
            if f is not None:
                g = (
                    best_field(exclude_id=False,
                               exclude=filtered | {f}, text=g_word)
                    if g_word
                    else None
                )
                label = f"n_distinct_{f}"
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$group": {"_id": f"${g}" if g else None,
                                    "__set": {"$addToSet": f"${f}"}}},
                        {"$addFields": {label: {"$size": "$__set"}}},
                        {"$project": {"_id": 1, label: 1}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # sample phrasing — "(random) sample of N <coll>" compiles to
        # $sample (q174's deterministic md5 draw; "random" is accepted
        # in the phrasing, determinism is the engine's documented
        # sampling contract)
        sm = _re.search(r"\b(?:random\s+)?sample\s+of\s+(\d+)\b", ql)
        if sm:
            return {
                "collection": coll,
                "pipeline": prelude + [
                    {"$sample": {"size": int(sm.group(1))}},
                ],
            }

        # equi-depth phrasing — "N equal(-count) buckets by <m>"
        # compiles to $bucketAuto (q173's surface from NL; the
        # explicit-boundary "buckets of <step>" phrasing below stays
        # the equi-WIDTH $bucket tier)
        eb = _re.search(
            r"\b(\d+)\s+equal(?:[- ]count|[- ]sized?)?\s+buckets?\s+"
            r"(?:of|by)\s+([a-z_]+)",
            ql,
        )
        if eb:
            n_b, m_word = int(eb.group(1)), eb.group(2)
            measure = best_field(numeric=True, exclude=filtered, text=m_word)
            if measure is not None and n_b > 0:
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$bucketAuto": {"groupBy": f"${measure}",
                                         "buckets": n_b}},
                        {"$addFields": {"lo": "$_id.min",
                                        "hi": "$_id.max"}},
                        {"$project": {"_id": 0, "lo": 1, "hi": 1,
                                      "count": 1}},
                        {"$sort": {"lo": 1}},
                    ],
                }

        # multi-facet breakdown: an explicit breakdown cue + two or more
        # "by <field>" phrases compile to $facet (ONE grouping-sets scan
        # — operators/documents.py:facet_group), e.g. "break down
        # documents by lang and by source"
        if _re.search(r"\bbreak\s*down\b|\bbreakdown\b|\bfacet", question.lower()):
            by_words = _re.findall(r"\bby\s+([a-z_]+)", question.lower())
            keys: list[str] = []
            for w in by_words:
                f = best_field(exclude=filtered | set(keys), text=w)
                if f is not None and f not in keys:
                    keys.append(f)
            if len(keys) >= 2:
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {
                            "$facet": {
                                f"by_{k}": [
                                    {"$group": {"_id": f"${k}",
                                                "n": {"$sum": 1}}}
                                ]
                                for k in keys
                            }
                        }
                    ],
                }

        # histogram phrasing → $bucket over equi-width boundaries built
        # from the requested step ("histogram of length in buckets of
        # 150" — the document-plane twin of NL2SQL's histogram tier):
        # boundary list = multiples of the step wide enough for the
        # corpus; out-of-range values fall in the "other" default.
        # NOTE: unlike every other template tier (plan-only), this one
        # runs ONE eager max() aggregate at COMPILE time — the boundary
        # list must be data-derived before the $bucket stage can be
        # emitted (the same planner-side bounded action q156's cut-point
        # collect documents). The max is taken over the PRELUDE-FILTERED
        # frame, so a $match narrows the boundary list with the data.
        hm = _re.search(
            r"\b(?:histogram|distribution) of ([a-z_]+)\b.*?"
            r"\b(?:buckets|bins|steps) of (\d+)\b",
            question.lower(),
        )
        if hm:
            m_word, step_s = hm.groups()
            step = int(step_s)
            measure = best_field(numeric=True, exclude=filtered, text=m_word)
            if measure is not None and step > 0:
                from ..operators.documents import filter_condition

                frame = self.store.collection(coll)
                if match:
                    frame = frame.filter(filter_condition(match))
                hi = frame.agg(
                    F.max(measure).alias("m")
                ).collect()[0]["m"]
                n_b = int(hi // step) + 1 if hi is not None else 1
                bounds = [i * step for i in range(n_b + 1)]
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {
                            "$bucket": {
                                "groupBy": f"${measure}",
                                "boundaries": bounds,
                                "default": "other",
                                "output": {"n": {"$sum": 1}},
                            }
                        },
                        {"$sort": {"_id": 1}},
                    ],
                }

        # top-N-per-group phrasing — "top <n> <o> by <m> per <g>"
        # compiles to the $topN accumulator (q187's surface from NL):
        # one map-side-combinable aggregate, never a window or
        # per-group re-sort
        tn = _re.search(
            r"\btop\s+(\d+)\s+([a-z_]+)\s+by\s+([a-z_]+)\s+per\s+"
            r"([a-z_]+)",
            ql,
        )
        if tn:
            n_top, o_word, m_word, g_word = tn.groups()
            pick = best_field(exclude_id=False, exclude=filtered,
                              text=o_word)
            measure = best_field(
                numeric=True,
                exclude=filtered | ({pick} if pick else set()),
                text=m_word,
            )
            g = best_field(
                exclude_id=False,
                exclude=filtered
                | {f for f in (pick, measure) if f is not None},
                text=g_word,
            )
            if pick is not None and measure is not None and g is not None:
                alias = f"top{n_top}_{pick}"
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$group": {"_id": f"${g}",
                                    alias: {"$topN": {
                                        "output": f"${pick}",
                                        "sortBy": {measure: -1},
                                        "n": int(n_top)}}}},
                        {"$sort": {"_id": 1}},
                    ],
                }

        # median / percentile phrasing — "median <m> [per <g>]" /
        # "<P>th percentile of <m> [per <g>]" compiles to the Mongo 7.0
        # $median/$percentile accumulators (q187's surface from NL;
        # the engine computes the EXACT interpolated percentile). The
        # $percentile array is unwrapped to a scalar via $arrayElemAt
        # for display.
        mp = _re.search(
            r"\b(?:median|(\d{1,2})(?:st|nd|rd|th)\s+percentile)"
            r"(?:\s+of)?\s+([a-z_]+)",
            ql,
        )
        if mp:
            pc_word, m_word = mp.groups()
            measure = best_field(numeric=True, exclude=filtered,
                                 text=m_word)
            if measure is not None:
                g = (
                    best_field(exclude=filtered | {measure},
                               text=group_text)
                    if pm
                    else None
                )
                if pc_word:
                    alias = f"p{pc_word}_{measure}"
                    acc_spec: dict = {"$percentile": {
                        "input": f"${measure}",
                        "p": [int(pc_word) / 100.0],
                        "method": "approximate",
                    }}
                else:
                    alias = f"median_{measure}"
                    acc_spec = {"$median": {"input": f"${measure}",
                                            "method": "approximate"}}
                pipe: list[dict] = [
                    {"$group": {"_id": f"${g}" if g else None,
                                alias: acc_spec}},
                ]
                if pc_word:
                    pipe.append({"$addFields": {
                        alias: {"$arrayElemAt": [f"${alias}", 0]}}})
                if g:
                    pipe.append({"$sort": {"_id": 1}})
                return {"collection": coll, "pipeline": prelude + pipe}

        acc = _AGG_ACCUMULATORS.get(analysis.agg_func or "")
        if acc is not None:
            # AVG/SUM/MAX/MIN over a measure field ($group accumulators,
            # nl2mongo dialect); measure is type-gated when metadata is
            # attached — the model-less tier has only names to go on.
            measure = best_field(
                numeric=True, exclude=filtered, text=measure_text
            )
            if measure is not None:
                alias = f"{analysis.agg_func.lower()}_{measure}"
                g = (
                    best_field(
                        exclude=filtered | {measure}, text=group_text
                    )
                    if QueryIntent.GROUPED_AGGREGATION in analysis.all_intents
                    else None
                )
                # no group-key candidate left (the measure was the only
                # usable field) → fall back to the ungrouped aggregate
                # rather than emitting a nonexistent "$None" key
                if g is not None:
                    return {
                        "collection": coll,
                        "pipeline": prelude + [
                            {"$group": {"_id": f"${g}", alias: {acc: f"${measure}"}}},
                            {"$sort": {"_id": 1}},
                        ],
                    }
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$group": {"_id": None, alias: {acc: f"${measure}"}}}
                    ],
                }
        if analysis.agg_func == "COUNT" or QueryIntent.AGGREGATION in analysis.all_intents:
            g = (
                best_field(exclude=filtered, text=group_text)
                if QueryIntent.GROUPED_AGGREGATION in analysis.all_intents
                else None
            )
            if g is not None:  # same $None guard as the measure branch
                return {
                    "collection": coll,
                    "pipeline": prelude + [
                        {"$group": {"_id": f"${g}", "n": {"$sum": 1}}},
                        {"$sort": {"_id": 1}},
                    ],
                }
            return {
                "collection": coll,
                "pipeline": prelude
                + [{"$group": {"_id": None, "n": {"$sum": 1}}}],
            }
        nm = _re.search(
            r"\b(\d+)\s+(shortest|longest|smallest|largest|cheapest|"
            r"lowest|highest)\s+[a-z_]+?s?\s+by\s+([a-z_]+)\b",
            question.lower(),
        )
        if nm:
            n_lim, dir_word, f_word = nm.groups()
            f = best_field(numeric=True, text=f_word) or best_field(
                text=f_word
            )
            if f is not None:
                direction = (
                    1
                    if dir_word in ("shortest", "smallest", "cheapest",
                                    "lowest")
                    else -1
                )
                return {
                    "collection": coll,
                    "find": match,
                    "sort": {f: direction},
                    "limit": int(n_lim),
                }
        if QueryIntent.SORTED in analysis.all_intents:
            f = best_field()
            return {
                "collection": coll,
                "find": match,
                "sort": {f: -1 if analysis.sort_desc else 1},
                "limit": analysis.limit_n or 100,
            }
        return {
            "collection": coll, "find": match, "limit": analysis.limit_n or 100
        }

    def llm_query(self, question: str) -> dict | None:
        """LLM tier (optional, nl2mongo.py:76-112 ladder)."""
        schema = self._schema()
        relevant = select_relevant_collections(schema, question)
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
        returns (DataFrame, query_dict actually executed). A candidate
        that fails to execute falls through to the next tier (the
        reference's routes_ai.py:205-226 fall-through), but the LAST
        failure is carried as the raised error's __cause__ so a doomed
        question reports WHY its best candidate died (dialect gap vs
        typo'd collection) instead of a bare 'no viable query'."""
        last_exc: Exception | None = None
        for q in (self.llm_query(question), self.template_query(question)):
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
