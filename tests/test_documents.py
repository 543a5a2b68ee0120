"""Document (Mongo-analog) path — C1-C9 behavior tests, mirroring the
reference's find/aggregate/flatten/infer semantics
(app/ai/nl2mongo.py, app/mongodb_adapter.py)."""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from dbt_nlp_sqlizer_team04_spark.operators.documents import (
    DEFAULT_LIMIT,
    DocumentQueryError,
    DocumentStore,
    flatten_for_display,
    parse_query_json,
)
from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def store(spark, sf_check):
    s = DocumentStore(spark)
    s.register("documents", load_table(spark, sf_check, "documents"))
    s.register("events", load_table(spark, sf_check, "events"))
    return s


def test_find_filter_operators(store):
    out = store.find(
        "documents",
        {"lang": {"$in": ["en", "de"]}, "n_chars": {"$gte": 100, "$lte": 300}},
        limit=1000,
    ).collect()
    assert out
    assert all(r["lang"] in ("en", "de") and 100 <= r["n_chars"] <= 300 for r in out)


def test_find_default_limit_injected(store):
    # nl2mongo.py:188 parity: no limit → DEFAULT_LIMIT
    assert store.find("documents").count() == DEFAULT_LIMIT


def test_pipeline_limit_injected(store):
    out = store.aggregate("events", [{"$match": {"value": {"$gt": 0}}}])
    assert out.count() == DEFAULT_LIMIT


def test_not_and_exists(store):
    out = store.find(
        "documents", {"lang": {"$not": {"$eq": "en"}}, "text": {"$exists": True}},
        limit=10000,
    ).collect()
    assert out and all(r["lang"] != "en" for r in out)


def test_group_struct_id_and_null_id(store, spark):
    # dict _id → struct key
    df = store.aggregate(
        "events",
        [
            {"$group": {"_id": {"et": "$event_type"}, "n": {"$sum": 1}}},
            {"$sort": {"_id": 1}},
        ],
    )
    rows = df.collect()
    assert rows and rows[0]["_id"].asDict().keys() == {"et"}
    # _id: None → single global group
    tot = store.aggregate("events", [{"$group": {"_id": None, "n": {"$sum": 1}}}])
    r = tot.collect()
    assert len(r) == 1 and r[0]["_id"] is None and r[0]["n"] == 10000


def test_unwind_and_project(spark):
    s = DocumentStore(spark)
    s.register_json(
        "posts",
        [
            json.dumps({"_id": 1, "tags": ["a", "b"], "meta": {"k": 1}}),
            json.dumps({"_id": 2, "tags": ["c"], "meta": {"k": 2}}),
        ],
    )
    out = s.aggregate(
        "posts", [{"$unwind": "$tags"}, {"$project": {"_id": 1, "tags": 1}}]
    ).collect()
    assert sorted((r["_id"], r["tags"]) for r in out) == [(1, "a"), (1, "b"), (2, "c")]


def test_flatten_for_display(spark):
    s = DocumentStore(spark)
    s.register_json(
        "posts", [json.dumps({"_id": 1, "zz": 5, "meta": {"k": 1}, "tags": ["a"]})]
    )
    flat = flatten_for_display(s.collection("posts"))
    # _id first, rest sorted; nested rendered as JSON strings
    assert flat.columns == ["_id", "meta", "tags", "zz"]
    row = flat.collect()[0]
    assert json.loads(row["meta"]) == {"k": 1}
    assert json.loads(row["tags"]) == ["a"]
    assert row["zz"] == 5


def test_schema_inference_by_sampling(spark):
    s = DocumentStore(spark)
    s.register_json(
        "posts",
        [
            json.dumps({"_id": 1, "title": "x", "score": 3}),
            json.dumps({"_id": 2, "title": None, "score": 4}),
        ],
    )
    schema = s.collection_schema("posts")
    cols = {c["name"]: c for c in schema["columns"]}
    assert schema["row_count"] == 2
    assert cols["title"]["nullable"] is True
    assert "int" in cols["score"]["type"]


def test_execute_db_prefix_and_errors(store):
    # db.collection prefix accepted (nl2mongo.py:135-139)
    assert store.execute(
        {"collection": "app.documents", "find": {"lang": "en"}}
    ).count() > 0
    with pytest.raises(DocumentQueryError):
        store.execute({"collection": "nope", "find": {}})
    with pytest.raises(DocumentQueryError):
        store.execute({"collection": "documents"})
    with pytest.raises(DocumentQueryError):
        store.find("documents", {"lang": {"$frob": 1}})


def test_explain_returns_plan(store):
    plan = store.explain({"collection": "documents", "find": {"lang": "en"}})
    assert "Physical Plan" in plan or "Scan" in plan


def test_parse_query_json_fenced_and_prose():
    q = parse_query_json('```json\n{"collection": "c", "find": {}}\n```')
    assert q["collection"] == "c"
    q2 = parse_query_json('Here you go: {"collection": "d", "find": {"a": 1}} done')
    assert q2["collection"] == "d"
    with pytest.raises(DocumentQueryError):
        parse_query_json("no json here")


def test_find_filter_pushed_to_parquet(store):
    # the Mongo-dialect filter must reach the parquet scan as a pushed
    # predicate — the whole point of translating to native DataFrame ops
    df = store.find("documents", {"lang": "en"}, {"doc_id": 1, "lang": 1})
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "PushedFilters" in plan and "lang" in plan


# ------------------------------------------------------------- NL2Doc path
def test_nl2doc_collection_linking_keeps_id(spark):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import select_relevant_collections

    schema = {
        "events": ["_id", "event_type", "value", "ts"],
        "documents": ["_id", "text", "lang"],
    }
    rel = select_relevant_collections(schema, "total value of events")
    assert "events" in rel
    assert rel["events"][0] == "_id" or "_id" in rel["events"]


def test_nl2doc_template_grouped_count(store):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask("how many events per event_type")
    assert q["collection"] == "events"
    assert q["pipeline"][0]["$group"]["_id"] == "$event_type"
    rows = {r["_id"]: r["n"] for r in df.collect()}
    assert sum(rows.values()) == 10000 and len(rows) == 5


def test_nl2doc_repeated_question_does_no_fuzzy_work(store, matcher_count):
    """Collection linking and field scoring are memoized: a question the
    engine has seen constructs no SequenceMatcher the second time."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    for q in (
        "how many events per event_type",
        "count of documents with text containing spark per lang",
        "documents with n_chars over 200",
    ):
        before = matcher_count()
        first = eng.template_query(q)
        assert matcher_count() > before, q
        before = matcher_count()
        assert eng.template_query(q) == first
        assert matcher_count() == before, q


def test_nl2doc_template_global_count(store):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    df, q = NL2DocEngine(store).ask("how many documents are there")
    assert q["collection"] == "documents"
    assert df.collect()[0]["n"] == 10000 or df.collect()[0]["n"] == 500


def test_nl2doc_find_fallback(store):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    df, q = NL2DocEngine(store).ask("show me documents")
    assert "find" in q
    assert df.count() == 100  # default limit injected


def test_negated_ops_match_null_fields(spark):
    """Mongo null semantics (r2 ADVICE): $ne/$nin/$not match documents
    whose field is null — Spark's != would drop them as NULL."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import filter_condition

    fx = spark.createDataFrame(
        [(1, "en"), (2, "fr"), (3, None)], "doc_id int, lang string"
    )
    ne = {r["doc_id"] for r in fx.filter(filter_condition({"lang": {"$ne": "en"}})).collect()}
    assert ne == {2, 3}
    nin = {r["doc_id"] for r in fx.filter(filter_condition({"lang": {"$nin": ["en", "fr"]}})).collect()}
    assert nin == {3}
    nt = {r["doc_id"] for r in fx.filter(filter_condition({"lang": {"$not": {"$eq": "en"}}})).collect()}
    assert nt == {2, 3}


def test_include_projection_keeps_id(spark):
    """Mongo includes _id by default in include projections; {_id: 0}
    alongside includes is the allowed pymongo special case."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError,
        apply_projection,
    )
    import pytest as _pytest

    fx = spark.createDataFrame([(1, "a", 2)], "_id int, name string, x int")
    assert apply_projection(fx, {"name": 1}).columns == ["_id", "name"]
    assert apply_projection(fx, {"name": 1, "_id": 0}).columns == ["name"]
    # true mixes still rejected
    with _pytest.raises(DocumentQueryError):
        apply_projection(fx, {"name": 1, "x": 0})
    # no _id column → unchanged behavior
    fx2 = spark.createDataFrame([(1, "a")], "doc_id int, name string")
    assert apply_projection(fx2, {"name": 1}).columns == ["name"]


# ------------------------------------------------ uniform crawl adapter
def test_crawl_document_schema_adapter(spark, store):
    """DocumentStore → SchemaMetadata (mongodb_adapter.py:227-295
    parity): collections as tables, _id marked PK when present, sampled
    field types, synonyms mined, JSON round-trip like the SQL crawl."""
    from dbt_nlp_sqlizer_team04_spark.catalog.metadata import SchemaMetadata
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        crawl_document_schema,
    )

    s = DocumentStore(spark)
    for name in store.list_collections():
        s.register(name, store.collection(name))
    s.register_json(
        "users",
        [json.dumps({"_id": i, "name": f"u{i}", "age": 20 + i}) for i in range(5)],
    )
    meta = crawl_document_schema(s, sample_size=5)
    assert set(meta.tables) == {"documents", "events", "users"}
    users = meta.tables["users"]
    assert users.primary_key == ["_id"]
    assert next(c for c in users.columns if c.name == "_id").is_primary_key
    docs = meta.tables["documents"]
    assert {c.name for c in docs.columns} == {
        "doc_id", "text", "lang", "source", "n_chars",
    }
    n_chars = next(c for c in docs.columns if c.name == "n_chars")
    assert "int" in n_chars.type_str.lower()
    assert docs.row_count > 0 and docs.sample_rows
    assert "chars" in meta.synonyms.get("n_chars", [])
    rt = SchemaMetadata.from_json(meta.to_json())
    assert set(rt.tables) == set(meta.tables)
    assert rt.tables["users"].primary_key == ["_id"]


def test_nl2doc_ask_links_once_for_both_tiers(store, tmp_path, monkeypatch, matcher_count):
    """``ask`` links once and hands the same slice to the LLM prompt and
    the template tier: without a model the prompt's schema lines are the
    fuzzy pruner's (the prompt is unchanged), with one they are the
    semantic slice, and the LLM tier adds no fuzzy work."""
    from dbt_nlp_sqlizer_team04_spark.models.trainer import ModelTrainer
    from dbt_nlp_sqlizer_team04_spark.operators.documents import crawl_document_schema
    from dbt_nlp_sqlizer_team04_spark.plans import nl2doc
    from dbt_nlp_sqlizer_team04_spark.plans.linking import partial_ratio

    question = "average characters per source of documents"
    prompts: list[str] = []
    monkeypatch.setattr(
        nl2doc, "chat_complete", lambda _sys, user: prompts.append(user) or "no json"
    )
    links: list[str] = []
    real_link = nl2doc.NL2DocEngine._link
    monkeypatch.setattr(
        nl2doc.NL2DocEngine, "_link", lambda self, q: links.append(q) or real_link(self, q)
    )
    model = ModelTrainer(str(tmp_path)).train(
        crawl_document_schema(store, sample_size=5), use_llm=False
    )
    fuzzy_slice = nl2doc.select_relevant_collections(
        {c: store.collection(c).columns for c in store.list_collections()}, question
    )
    for eng in (nl2doc.NL2DocEngine(store), nl2doc.NL2DocEngine(store, model=model)):
        prompts.clear(), links.clear()
        eng.ask(question)
        assert links == [question]
        relevant = real_link(eng, question).relevant
        ctx = "\n".join(f"- {c}({', '.join(fs)})" for c, fs in relevant.items())
        assert prompts == [f"Q: {question}\nSchema: {ctx}\nGenerate MongoDB query JSON only."]
        assert (relevant == fuzzy_slice) == (eng.model is None)

        partial_ratio.cache_clear()
        before = matcher_count()
        eng.template_query(question)
        tier = matcher_count() - before
        partial_ratio.cache_clear()
        before = matcher_count()
        eng.ask(question)
        assert matcher_count() - before == tier


def test_doc_semantic_linking_beats_fuzzy(spark, store, tmp_path):
    """The nl09 scenario on the document plane: 'characters' names no
    field, so the fuzzy tier aggregates the string field `source` and
    groups by `n_chars`; the trained tier (uniform crawl → same trainer)
    bridges characters→n_chars and type-gates the measure."""
    from dbt_nlp_sqlizer_team04_spark.models.trainer import ModelTrainer
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        crawl_document_schema,
    )
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    question = "average characters per source of documents"
    meta = crawl_document_schema(store, sample_size=5)
    model = ModelTrainer(str(tmp_path)).train(meta, use_llm=False)

    fuzzy_q = NL2DocEngine(store).template_query(question)
    sem_eng = NL2DocEngine(store, model=model)
    sem_q = sem_eng.template_query(question)
    # fuzzy latches onto the verbatim 'source' as the measure — wrong
    fuzzy_group = fuzzy_q["pipeline"][0]["$group"]
    assert "$avg" in str(fuzzy_group) and "$source" in str(fuzzy_group)
    # trained tier: group by source, avg over the numeric n_chars
    sem_group = sem_q["pipeline"][0]["$group"]
    assert sem_group["_id"] == "$source"
    assert sem_group["avg_n_chars"] == {"$avg": "$n_chars"}
    # end-to-end: matches the direct DataFrame aggregate
    got = {
        (r["_id"], round(r["avg_n_chars"], 4))
        for r in sem_eng.ask(question)[0].collect()
    }
    want = {
        (r["source"], round(r["avg"], 4))
        for r in store.collection("documents")
        .groupBy("source")
        .agg(F.avg("n_chars").alias("avg"))
        .collect()
    }
    assert got == want


def test_nl2doc_filter_compilation(store):
    """Substring phrases compile to a $match $regex stage, and the
    spent filter field is excluded from the group key ("per lang" must
    group by lang even though 'text' scores highest)."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query(
        "count of documents with text containing spark per lang"
    )
    stages = q.get("pipeline", [])
    assert stages and stages[0]["$match"] == {"text": {"$regex": "spark"}}
    group = [st for st in stages if "$group" in st][0]["$group"]
    assert group["_id"] == "$lang"


def test_nl2doc_comparison_filter(store):
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query(
        "how many documents with n_chars over 200 per source"
    )
    stages = q.get("pipeline", [])
    assert stages and stages[0]["$match"] == {"n_chars": {"$gt": 200}}
    group = [st for st in stages if "$group" in st][0]["$group"]
    assert group["_id"] == "$source"


def test_nl2doc_filtered_find(store):
    """A non-aggregate question with predicate evidence compiles the
    filter into the find dict; execution applies it."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("documents with text starting with key")
    assert q.get("find", {}).get("text") == {"$regex": "^key"}
    df = store.execute(q)
    texts = [r["text"] for r in df.select("text").collect()]
    assert texts and all(t.startswith("key") for t in texts)


def test_nl2doc_measure_group_not_swapped(store):
    """'sum of value per event_type' must sum value grouped by
    event_type — phrase scoping keeps the two literal matches on their
    own side of 'per'."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("sum of value per event_type")
    group = [st for st in q["pipeline"] if "$group" in st][0]["$group"]
    assert group["_id"] == "$event_type"
    assert group["sum_value"] == {"$sum": "$value"}


def test_lookup_left_outer_semantics(spark):
    """$lookup: Mongo's left-outer equi-join into an array column —
    matches collect, non-matches keep an empty array, and $unwind after
    $lookup flattens to the inner-join rows."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore

    store = DocumentStore(spark)
    store.register(
        "users",
        spark.createDataFrame(
            [(1, "ann"), (2, "bo"), (3, "cy")], "uid long, name string"
        ),
    )
    store.register(
        "posts",
        spark.createDataFrame(
            [(10, 1, "hi"), (11, 1, "yo"), (12, 2, "ok")],
            "pid long, author long, title string",
        ),
    )
    out = store.aggregate(
        "users",
        [
            {"$lookup": {"from": "posts", "localField": "uid",
                         "foreignField": "author", "as": "posts"}},
            {"$sort": {"uid": 1}},
        ],
    ).collect()
    by_uid = {r["uid"]: r for r in out}
    assert len(by_uid[1]["posts"]) == 2
    assert len(by_uid[2]["posts"]) == 1
    assert by_uid[3]["posts"] == []  # left outer: empty array, not null

    unwound = store.aggregate(
        "users",
        [
            {"$lookup": {"from": "posts", "localField": "uid",
                         "foreignField": "author", "as": "posts"}},
            {"$unwind": "$posts"},
            {"$sort": {"uid": 1}},
        ],
    ).collect()
    assert len(unwound) == 3  # user 3 drops out, user 1 doubles
    assert {r["posts"]["pid"] for r in unwound} == {10, 11, 12}


def test_nl2doc_date_filter_and_bottom_n(store):
    """ISO-date comparisons resolve to the collection's timestamp field
    (straight off the DataFrame schema), and 'N shortest X by f'
    compiles an ascending sort+limit."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("how many events per event_type before 2024-01-10")
    stages = q.get("pipeline", [])
    assert stages and stages[0]["$match"] == {"ts": {"$lt": "2024-01-10"}}

    q2 = eng.template_query("5 shortest documents by n_chars")
    assert q2["sort"] == {"n_chars": 1} and q2["limit"] == 5

    q3 = eng.template_query("events since 2024-01-20")
    assert q3["find"] == {"ts": {"$gte": "2024-01-20"}}


# ----------------------------------------------------------------- $facet
def test_facet_single_scan_values(spark):
    import pytest as _pytest

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError, facet_group,
    )

    df = spark.createDataFrame(
        [
            ("en", "web", 10),
            ("en", "book", 20),
            ("fr", "web", 30),
        ],
        "lang string, source string, n_chars long",
    )
    out = facet_group(
        df,
        {
            "by_lang": [{"$group": {"_id": "$lang", "n": {"$sum": 1},
                                    "avg_c": {"$avg": "$n_chars"}}}],
            "by_source": [{"$group": {"_id": "$source", "n": {"$sum": 1},
                                      "avg_c": {"$avg": "$n_chars"}}}],
        },
    )
    rows = {(r["facet"], r["_id"]): (r["n"], r["avg_c"]) for r in out.collect()}
    assert rows[("by_lang", "en")] == (2, 15.0)
    assert rows[("by_lang", "fr")] == (1, 30.0)
    assert rows[("by_source", "web")] == (2, 20.0)
    assert rows[("by_source", "book")] == (1, 20.0)
    # the single-scan contract is visible in the plan: one Expand, and
    # only one aggregate pair (partial+final), never one per facet
    plan = out._jdf.queryExecution().toString()
    assert "Expand" in plan

    # contract violations are loud
    with _pytest.raises(DocumentQueryError, match="single \\$group"):
        facet_group(df, {"bad": [{"$match": {"lang": "en"}}]})
    with _pytest.raises(DocumentQueryError, match="distinct fields"):
        facet_group(df, {
            "a": [{"$group": {"_id": "$lang", "n": {"$sum": 1}}}],
            "b": [{"$group": {"_id": "$lang", "n": {"$sum": 1}}}],
        })

    # DIFFERENT accumulator sets per facet (r6 relaxation): still one
    # scan; the flattened schema is the union with NULLs where a facet
    # doesn't define the accumulator
    mixed = facet_group(df, {
        "a": [{"$group": {"_id": "$lang", "n": {"$sum": 1}}}],
        "b": [{"$group": {"_id": "$source", "m": {"$max": "$n_chars"}}}],
    })
    got = {(r["facet"], r["_id"]): (r["n"], r["m"]) for r in mixed.collect()}
    assert got == {
        ("a", "en"): (2, None), ("a", "fr"): (1, None),
        ("b", "web"): (None, 30), ("b", "book"): (None, 20),
    }
    assert "Expand" in mixed._jdf.queryExecution().toString()


def test_nl2doc_facet_breakdown_compiles(store):
    """'break down ... by X and by Y' compiles to a $facet pipeline
    with one count sub-pipeline per resolved field, and executes as the
    flattened (facet, _id, n) long form."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    df, q = NL2DocEngine(store).ask(
        "break down documents by lang and by source"
    )
    stage = q["pipeline"][-1]
    assert "$facet" in stage
    facets = stage["$facet"]
    assert set(facets) == {"by_lang", "by_source"}
    for sub in facets.values():
        assert len(sub) == 1 and "$group" in sub[0]
        assert sub[0]["$group"]["n"] == {"$sum": 1}
    rows = df.collect()
    facets_seen = {r["facet"] for r in rows}
    assert facets_seen == {"by_lang", "by_source"}
    # each facet's counts partition the corpus
    total = sum(r["n"] for r in rows if r["facet"] == "by_lang")
    assert total == sum(r["n"] for r in rows if r["facet"] == "by_source")


def test_nl2doc_pagination_compiles(store):
    """'page N of ... by <key>, M per page' compiles to the find form's
    sort/skip/limit; ordinal words and the page-size default work; no
    'page' cue means no skip."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask("page 2 of documents by doc_id, 20 per page")
    assert q == {"collection": "documents", "find": {},
                 "sort": {"doc_id": 1}, "skip": 20, "limit": 20}
    assert [r["doc_id"] for r in df.collect()] == list(range(20, 40))

    q2 = eng.template_query("third page of documents by doc_id")
    assert q2["skip"] == 50 and q2["limit"] == 25  # default 25/page

    q3 = eng.template_query("documents by doc_id")
    assert "skip" not in q3


def test_nl2doc_lookup_counts_compiles(store):
    """'... with their <g> counts' compiles to the uncorrelated $lookup
    pipeline form + $unwind + computed $project, and the executed frame
    carries each shortlisted row once per corpus <g> value."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    df, q = NL2DocEngine(store).ask(
        "5 longest documents by n_chars with their lang counts"
    )
    stages = [next(iter(s)) for s in q["pipeline"]]
    assert stages == ["$sort", "$limit", "$lookup", "$unwind", "$project"]
    lk = q["pipeline"][2]["$lookup"]
    assert lk["from"] == "documents" and "let" not in lk
    assert lk["pipeline"] == [{"$group": {"_id": "$lang", "n": {"$sum": 1}}}]
    assert q["pipeline"][0]["$sort"] == {"n_chars": -1, "doc_id": 1}
    rows = df.collect()
    n_langs = store.collection("documents").select("lang").distinct().count()
    assert len(rows) == 5 * n_langs
    # every shortlisted doc carries the SAME corpus-wide counts
    counts = {(r["lang_value"], r["lang_n"]) for r in rows}
    assert len(counts) == n_langs


def test_nl2doc_single_by_not_faceted(store):
    """One 'by' phrase (or no breakdown cue) must NOT trigger $facet —
    the plain grouped count keeps its shape."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    _df, q = NL2DocEngine(store).ask("how many events per event_type")
    assert all("$facet" not in st for st in q.get("pipeline", []))


def test_bucket_histogram_default_and_errors(store, spark):
    """$bucket labels with the LOWER boundary, routes out-of-range
    values to the default, and rejects bad specs at plan build."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError, DocumentStore,
    )

    st = DocumentStore(spark)
    st.register(
        "vals",
        spark.createDataFrame(
            [(1, 5), (2, 15), (3, 25), (4, 99)], "id long, v long"
        ),
    )
    out = st.aggregate(
        "vals",
        [{"$bucket": {"groupBy": "$v", "boundaries": [0, 10, 30],
                      "default": "other"}}],
    ).collect()
    got = {r["_id"]: r["count"] for r in out}
    assert got == {"0": 1, "10": 2, "other": 1}

    with pytest.raises(DocumentQueryError):
        st.aggregate(
            "vals",
            [{"$bucket": {"groupBy": "$v", "boundaries": [0, 10]}}],
        )
    with pytest.raises(DocumentQueryError):
        st.aggregate(
            "vals",
            [{"$bucket": {"groupBy": "$v", "boundaries": [10, 0],
                          "default": "d"}}],
        )


def test_nl2doc_histogram_compiles_to_bucket(store):
    """Histogram phrasing compiles to a $bucket pipeline with
    step-derived boundaries and a default bucket (the document-plane
    twin of the NL2SQL histogram tier)."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query(
        "histogram of chars for documents in buckets of 150"
    )
    stages = q["pipeline"]
    bucket = next(st["$bucket"] for st in stages if "$bucket" in st)
    assert bucket["groupBy"] == "$n_chars"
    assert bucket["default"] == "other"
    bounds = bucket["boundaries"]
    assert bounds[0] == 0 and all(b == i * 150 for i, b in enumerate(bounds))
    df, _ = eng.ask("histogram of chars for documents in buckets of 150")
    rows = df.collect()
    assert sum(r["n"] for r in rows) == store.collection("documents").count()


def test_sort_by_count_stage(store):
    """$sortByCount = group+count+desc sort with deterministic ties."""
    out = store.aggregate(
        "documents", [{"$sortByCount": "$lang"}, {"$limit": 3}]
    ).collect()
    assert len(out) == 3
    counts = [r["count"] for r in out]
    assert counts == sorted(counts, reverse=True)
    with pytest.raises(DocumentQueryError):
        store.aggregate("documents", [{"$sortByCount": "lang"}])


def test_push_and_add_to_set_accumulators(store, spark):
    """$push / $addToSet collect per-group arrays (sorted for
    determinism — the documented divergence from Mongo's unspecified
    order), and duplicates collapse only under $addToSet."""
    st = DocumentStore(spark)
    st.register(
        "t",
        spark.createDataFrame(
            [(1, "a"), (1, "b"), (1, "a"), (2, "c")], "g long, v string"
        ),
    )
    out = {
        r["_id"]: r
        for r in st.aggregate(
            "t",
            [
                {
                    "$group": {
                        "_id": "$g",
                        "all_v": {"$push": "$v"},
                        "set_v": {"$addToSet": "$v"},
                    }
                }
            ],
        ).collect()
    }
    assert out[1]["all_v"] == ["a", "a", "b"]
    assert out[1]["set_v"] == ["a", "b"]
    assert out[2]["all_v"] == ["c"] and out[2]["set_v"] == ["c"]


def test_expression_dialect_cond_and_arith(store, spark):
    """$addFields + $cond/$eq/$multiply/$concat compile to native
    Column expressions, and $cond rides a $sum accumulator (the
    conditional-count shape every Mongo ratio query uses)."""
    st = DocumentStore(spark)
    st.register(
        "t",
        spark.createDataFrame(
            [(1, "en", 10), (2, "fr", 20), (3, "en", 30)],
            "id long, lang string, n long",
        ),
    )
    out = st.aggregate(
        "t",
        [
            {"$addFields": {
                "double_n": {"$multiply": ["$n", 2]},
                "tag": {"$concat": [{"$toUpper": "$lang"}, "-x"]},
            }},
            {"$group": {
                "_id": None,
                "n_en": {"$sum": {"$cond": [{"$eq": ["$lang", "en"]}, 1, 0]}},
                "total_doubled": {"$sum": "$double_n"},
            }},
        ],
    ).collect()[0]
    assert out["n_en"] == 2
    assert out["total_doubled"] == 120

    rows = st.aggregate(
        "t",
        [{"$addFields": {"tag": {"$concat": [{"$toUpper": "$lang"}, "-x"]}}},
         {"$sort": {"id": 1}}, {"$limit": 3}],
    ).collect()
    assert [r["tag"] for r in rows] == ["EN-x", "FR-x", "EN-x"]

    with pytest.raises(DocumentQueryError):
        st.aggregate("t", [{"$addFields": {"bad": {"$nope": ["$n"]}}}])


def test_expr_filter_and_computed_projection(store, spark):
    """$expr enables cross-field $match predicates, and $project grows
    Mongo's computed-field form ({alias: expression}) on the same
    dialect."""
    st = DocumentStore(spark)
    st.register(
        "t",
        spark.createDataFrame(
            [(1, 5, 12), (2, 10, 8), (3, 4, 9)], "id long, a long, b long"
        ),
    )
    out = st.find("t", {"$expr": {"$gt": ["$b", {"$multiply": ["$a", 2]}]}})
    assert sorted(r["id"] for r in out.collect()) == [1, 3]  # b > 2a

    rows = st.aggregate(
        "t",
        [
            {"$project": {"id": 1, "ratio": {"$divide": ["$b", "$a"]}}},
            {"$sort": {"id": 1}},
            {"$limit": 3},
        ],
    ).collect()
    assert [round(r["ratio"], 2) for r in rows] == [2.4, 0.8, 2.25]


def test_lookup_pipeline_form_and_let_contract(spark):
    """$lookup uncorrelated-pipeline form: the sub-pipeline runs once
    over the foreign collection and EVERY local row receives the full
    result array; 'let' (correlated) and the concise correlated form
    raise the documented error instead of mis-executing."""
    import pytest as _pytest

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError,
        DocumentStore,
    )

    store = DocumentStore(spark)
    store.register(
        "users",
        spark.createDataFrame(
            [(1, "ann"), (2, "bo")], "uid long, name string"
        ),
    )
    store.register(
        "posts",
        spark.createDataFrame(
            [(10, 1, "hi"), (11, 1, "yo"), (12, 2, "ok")],
            "pid long, author long, title string",
        ),
    )
    out = store.aggregate(
        "users",
        [
            {
                "$lookup": {
                    "from": "posts",
                    "as": "per_author",
                    "pipeline": [
                        {"$group": {"_id": "$author", "n": {"$sum": 1}}}
                    ],
                }
            },
            {"$sort": {"uid": 1}},
        ],
    ).collect()
    assert len(out) == 2
    for r in out:  # every local row carries the SAME full aggregate
        assert [(x["_id"], x["n"]) for x in r["per_author"]] == [(1, 2), (2, 1)]

    # narrowed error contract (r7): 'let' without a correlating $match
    # and sub-pipeline stages beyond $match(+$project) stay loud errors
    with _pytest.raises(DocumentQueryError, match="let"):
        store.aggregate(
            "users",
            [{"$lookup": {"from": "posts", "let": {"u": "$uid"},
                          "pipeline": [], "as": "x"}}],
        )
    # $limit is now a supported sub-stage — but only after a $sort (an
    # unsorted per-group page is nondeterministic), so the bare form
    # still fails loudly, with the narrower message
    with _pytest.raises(DocumentQueryError, match="requires a preceding"):
        store.aggregate(
            "users",
            [{"$lookup": {"from": "posts", "localField": "uid",
                          "foreignField": "author",
                          "pipeline": [{"$limit": 1}], "as": "x"}}],
        )
    with _pytest.raises(DocumentQueryError, match="not defined"):
        store.aggregate(
            "users",
            [{"$lookup": {"from": "posts", "let": {"u": "$uid"},
                          "pipeline": [{"$match": {"$expr": {
                              "$eq": ["$author", "$$nope"]}}}],
                          "as": "x"}}],
        )


def test_lookup_correlated_let_and_concise_forms(spark):
    """Correlated $lookup de-correlates to ONE left outer join: the
    classic let/$expr form, the concise form (equi + extra predicate),
    the empty-array contract for unmatched rows, and the $project
    payload narrowing."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore

    store = DocumentStore(spark)
    store.register(
        "users",
        spark.createDataFrame(
            [(1, "ann"), (2, "bo"), (3, "cy")], "uid long, name string"
        ),
    )
    store.register(
        "posts",
        spark.createDataFrame(
            [(10, 1, 5), (11, 1, 1), (12, 2, 7)],
            "pid long, author long, score long",
        ),
    )
    # classic correlated form: per-user posts with score above a bound
    out = store.aggregate(
        "users",
        [
            {"$lookup": {
                "from": "posts",
                "let": {"u": "$uid"},
                "pipeline": [{"$match": {"$expr": {"$and": [
                    {"$eq": ["$author", "$$u"]},
                    {"$gt": ["$score", 2]},
                ]}}}],
                "as": "good_posts",
            }},
            {"$sort": {"uid": 1}},
        ],
    ).collect()
    by_uid = {r["uid"]: sorted(p["pid"] for p in r["good_posts"]) for r in out}
    assert by_uid == {1: [10], 2: [12], 3: []}  # cy: EMPTY array, not null

    # concise correlated form + include-only $project payload
    out2 = store.aggregate(
        "users",
        [
            {"$lookup": {
                "from": "posts",
                "localField": "uid",
                "foreignField": "author",
                "pipeline": [
                    {"$match": {"$expr": {"$gt": ["$score", 2]}}},
                    {"$project": {"pid": 1}},
                ],
                "as": "good_posts",
            }},
            {"$sort": {"uid": 1}},
        ],
    ).collect()
    by_uid2 = {r["uid"]: sorted(p["pid"] for p in r["good_posts"]) for r in out2}
    assert by_uid2 == {1: [10], 2: [12], 3: []}
    nonempty = next(r for r in out2 if r["uid"] == 1)
    assert list(nonempty["good_posts"][0].asDict()) == ["pid"]  # projected

    # the de-correlated plan is a real equi-join, not a nested loop
    plan_df = store.aggregate(
        "users",
        [{"$lookup": {
            "from": "posts",
            "let": {"u": "$uid"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$author", "$$u"]}}}],
            "as": "p",
        }}],
    )
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_facet_match_prelude_single_scan(spark, sf_check):
    """Per-facet $match preludes: values match per-facet filtered
    groupBys, groups fully excluded by a prelude are dropped, and the
    whole $facet still compiles to ONE scan of the collection (the
    masked-aggregate grouping-sets plan, not one scan per facet)."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentStore, facet_group,
    )

    df = spark.createDataFrame(
        [
            ("en", "web", 10),
            ("en", "book", 400),
            ("fr", "web", 500),
            ("de", "zine", 50),
        ],
        "lang string, source string, n_chars long",
    )
    out = facet_group(
        df,
        {
            "long_by_lang": [
                {"$match": {"n_chars": {"$gte": 300}}},
                {"$group": {"_id": "$lang", "n": {"$sum": 1},
                            "avg_c": {"$avg": "$n_chars"}}},
            ],
            "en_by_source": [
                {"$match": {"lang": "en"}},
                {"$group": {"_id": "$source", "n": {"$sum": 1},
                            "avg_c": {"$avg": "$n_chars"}}},
            ],
        },
    ).collect()
    got = {(r["facet"], r["_id"]): (r["n"], r["avg_c"]) for r in out}
    # 'de' never matches either prelude → no row at all
    assert got == {
        ("long_by_lang", "en"): (1, 400.0),
        ("long_by_lang", "fr"): (1, 500.0),
        ("en_by_source", "web"): (1, 10.0),
        ("en_by_source", "book"): (1, 400.0),
    }

    # single-scan plan contract on the real corpus query (q158)
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        q158_doc_facet_prefiltered,
    )

    plan = q158_doc_facet_prefiltered(spark, sf_check)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1  # one scan serves BOTH facets
    assert "Expand" in plan


def test_bucket_rejects_non_strict_boundaries(spark):
    """Mongo requires strictly increasing $bucket boundaries; a
    duplicate must error, not silently create a dead bucket."""
    import pytest as _pytest

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError, bucket_group,
    )

    df = spark.createDataFrame([(5,), (15,)], "v long")
    with _pytest.raises(DocumentQueryError, match="boundaries"):
        bucket_group(df, {"groupBy": "$v", "boundaries": [0, 10, 10, 20],
                          "default": "other"})


def test_ask_ladder_carries_failure_cause(store):
    """A doomed question raises 'no viable document query' WITH the
    last candidate's failure as __cause__ (dialect gap vs typo'd
    collection is no longer hidden by the fall-through)."""
    import pytest as _pytest

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError,
    )
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    # candidate tiers: LLM emits a query against a typo'd collection,
    # template has nothing — the raised error must chain the cause
    eng.llm_query = lambda q, relevant=None: {"collection": "documentz", "find": {}}
    eng.template_query = lambda q, link=None: None
    with _pytest.raises(ValueError, match="no viable") as ei:
        eng.ask("gibberish question")
    assert isinstance(ei.value.__cause__, DocumentQueryError)
    assert "documentz" in str(ei.value.__cause__)


def test_unwind_options(spark):
    """$unwind's options document: preserveNullAndEmptyArrays keeps
    rows whose array is null/empty (NULL element — explode_outer), and
    includeArrayIndex adds the position column (posexplode)."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore

    store = DocumentStore(spark)
    store.register(
        "t",
        spark.createDataFrame(
            [(1, ["a", "b"]), (2, []), (3, None)],
            "id long, tags array<string>",
        ),
    )
    plain = store.aggregate(
        "t", [{"$unwind": "$tags"}, {"$sort": {"id": 1}}]
    ).collect()
    assert [(r["id"], r["tags"]) for r in plain] == [(1, "a"), (1, "b")]

    preserved = store.aggregate(
        "t",
        [{"$unwind": {"path": "$tags",
                      "preserveNullAndEmptyArrays": True}},
         {"$sort": {"id": 1}}],
    ).collect()
    assert [(r["id"], r["tags"]) for r in preserved] == [
        (1, "a"), (1, "b"), (2, None), (3, None)]

    indexed = store.aggregate(
        "t",
        [{"$unwind": {"path": "$tags", "includeArrayIndex": "pos",
                      "preserveNullAndEmptyArrays": True}},
         {"$sort": {"id": 1, "pos": 1}}],
    ).collect()
    assert [(r["id"], r["pos"], r["tags"]) for r in indexed] == [
        (1, 0, "a"), (1, 1, "b"), (2, None, None), (3, None, None)]


def test_write_stages_denied(store):
    """$out/$merge get the read-only denial (document-plane twin of the
    SQL gate's write/DDL denial), not a generic unsupported error."""
    import pytest as _pytest

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentQueryError,
    )

    for stage in ({"$out": "evil"}, {"$merge": {"into": "evil"}}):
        with _pytest.raises(DocumentQueryError, match="read-only"):
            store.aggregate("documents", [stage])


def test_lookup_pipeline_preserves_sort_order(spark):
    """Mongo's array-order contract: the 'as' array follows the
    sub-pipeline's $sort (a review found the first translation
    re-sorted by struct field order, flipping descending sorts)."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import DocumentStore

    store = DocumentStore(spark)
    store.register(
        "users", spark.createDataFrame([(1, "ann")], "uid long, name string")
    )
    store.register(
        "posts",
        spark.createDataFrame(
            [(10, 1, "hi"), (11, 1, "yo"), (12, 2, "ok")],
            "pid long, author long, title string",
        ),
    )
    out = store.aggregate(
        "users",
        [
            {
                "$lookup": {
                    "from": "posts",
                    "as": "per_author",
                    "pipeline": [
                        {"$group": {"_id": "$author", "n": {"$sum": 1}}},
                        {"$sort": {"n": -1, "_id": 1}},
                    ],
                }
            }
        ],
    ).collect()
    assert [(x["_id"], x["n"]) for x in out[0]["per_author"]] == [(1, 2), (2, 1)]

    # descending by _id: the array must flip with the sort
    out2 = store.aggregate(
        "users",
        [
            {
                "$lookup": {
                    "from": "posts",
                    "as": "per_author",
                    "pipeline": [
                        {"$group": {"_id": "$author", "n": {"$sum": 1}}},
                        {"$sort": {"_id": -1}},
                    ],
                }
            }
        ],
    ).collect()
    assert [x["_id"] for x in out2[0]["per_author"]] == [2, 1]


def test_skip_and_replace_root(store, spark):
    """$skip paginates (sort-stable, before $limit), find(skip=) rides
    the same offset, and $replaceRoot promotes a struct to the root."""
    page = store.aggregate(
        "documents",
        [{"$sort": {"doc_id": 1}}, {"$skip": 10}, {"$limit": 5},
         {"$project": {"doc_id": 1}}],
    ).collect()
    assert [r["doc_id"] for r in page] == [10, 11, 12, 13, 14]

    via_find = store.execute(
        {"collection": "documents", "find": {},
         "projection": {"doc_id": 1}, "sort": {"doc_id": 1},
         "skip": 10, "limit": 5}
    ).collect()
    assert [r["doc_id"] for r in via_find] == [10, 11, 12, 13, 14]

    s = DocumentStore(spark)
    s.register(
        "wrapped",
        spark.createDataFrame([(1,)], "x long").selectExpr(
            "named_struct('a', x, 'b', 'y') AS doc", "x"
        ),
    )
    out = s.aggregate("wrapped", [{"$replaceRoot": {"newRoot": "$doc"}},
                                  {"$limit": 5}]).collect()
    assert out[0].asDict() == {"a": 1, "b": "y"}

    # $replaceWith (Mongo 4.2) is the shorthand alias — operand IS the
    # newRoot expression
    out2 = s.aggregate("wrapped", [{"$replaceWith": "$doc"},
                                   {"$limit": 5}]).collect()
    assert out2[0].asDict() == {"a": 1, "b": "y"}
    with pytest.raises(DocumentQueryError, match="replaceWith expects"):
        s.aggregate("wrapped", [{"$replaceWith": 7}])

    with pytest.raises(DocumentQueryError, match="not a document"):
        s.aggregate("wrapped", [{"$replaceRoot": {"newRoot": "$x"}}])

    # missing / dotted-nested fields raise the dialect's TYPED error
    # (bare KeyError would break ask()'s __cause__ reporting)
    with pytest.raises(DocumentQueryError, match="unknown field"):
        s.aggregate("wrapped", [{"$replaceRoot": {"newRoot": "$nope"}}])
    with pytest.raises(DocumentQueryError, match="unknown field"):
        s.aggregate("wrapped", [{"$replaceRoot": {"newRoot": "$doc.a"}}])


def test_facet_reserved_alias_rejected(store):
    """Accumulator aliases shaped like the facet compiler's internal
    '__n'/'__g_*'/'*__<idx>' namespace are refused at parse time with a
    typed error instead of an ambiguous-column AnalysisException."""
    for bad in ("__n", "__g_lang", "cnt__0"):
        with pytest.raises(DocumentQueryError, match="reserved"):
            store.aggregate(
                "documents",
                [{"$facet": {
                    "by_lang": [{"$group": {"_id": "$lang",
                                            bad: {"$sum": 1}}}],
                    "by_source": [{"$group": {"_id": "$source",
                                              "n2": {"$sum": 1}}}],
                }}],
            )


def test_union_with_semantics_and_drift_contract(store, spark):
    """$unionWith keeps duplicates (UNION ALL), accepts the bare-name
    and sub-pipelined forms, refuses schema drift loudly, and the
    read-only denial reaches write stages inside its sub-pipeline."""
    # bare name: documents ∪ documents = every doc twice
    n = store.collection("documents").count()
    out = store.aggregate(
        "documents",
        [{"$project": {"doc_id": 1}},
         {"$unionWith": {"coll": "documents",
                         "pipeline": [{"$project": {"doc_id": 1}}]}},
         {"$group": {"_id": None, "n": {"$sum": 1}}}],
    ).collect()
    assert out[0]["n"] == 2 * n

    with pytest.raises(DocumentQueryError, match="schema drift"):
        store.aggregate(
            "documents",
            [{"$project": {"doc_id": 1}},
             {"$unionWith": {"coll": "documents",
                             "pipeline": [{"$project": {"lang": 1}}]}}],
        )
    with pytest.raises(DocumentQueryError, match="read-only"):
        store.aggregate(
            "documents",
            [{"$unionWith": {"coll": "documents",
                             "pipeline": [{"$out": "evil"}]}}],
        )
    with pytest.raises(DocumentQueryError, match="unionWith expects"):
        store.aggregate("documents", [{"$unionWith": 42}])


def test_set_window_fields_semantics_and_plan(store, spark):
    """$setWindowFields: rank/denseRank/documentNumber, framed and
    frame-less accumulators, range windows, $shift in both directions —
    values pinned against a hand-built window twin, and the shared
    (partition, sort) compiles to ONE exchange + ONE sort."""
    out = store.aggregate(
        "documents",
        [{"$setWindowFields": {
            "partitionBy": "$source",
            "sortBy": {"n_chars": -1, "doc_id": 1},
            "output": {
                "rnk": {"$rank": {}},
                "rn": {"$documentNumber": {}},
                "run": {"$sum": "$n_chars",
                        "window": {"documents": ["unbounded", "current"]}},
                "tot": {"$sum": "$n_chars"},
                "nxt": {"$shift": {"output": "$doc_id", "by": 1}},
                "prv": {"$shift": {"output": "$doc_id", "by": -1,
                                   "default": -1}},
            },
        }},
         {"$match": {"rn": {"$lte": 3}}},
         {"$limit": 10000}],
    )
    rows = out.collect()
    from pyspark.sql import Window

    docs = store.collection("documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    twin = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id",
            F.rank().over(w).alias("rnk"),
            F.row_number().over(w).alias("rn"),
            F.sum("n_chars").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("run"),
            F.sum("n_chars").over(Window.partitionBy("source")).alias("tot"),
            F.lead("doc_id", 1).over(w).alias("nxt"),
            F.coalesce(F.lag("doc_id", 1).over(w), F.lit(-1)).alias("prv"),
        ).collect()
    }
    assert rows
    for r in rows:
        t = twin[r["doc_id"]]
        for c in ("rnk", "rn", "run", "tot", "nxt", "prv"):
            assert r[c] == t[c], (r["doc_id"], c, r[c], t[c])
    # AQE plan strings repeat the tree under "== Initial Plan ==" —
    # count only the final plan: ONE hash exchange for all six fields.
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1

    # rank-only pipeline: the rank predicate is pushed below the
    # shuffle as a WindowGroupLimit (per-partition top-k before the
    # exchange) — the partition-wide accumulators above correctly
    # block this pushdown, a rank-only stage gets it
    ranked = store.aggregate(
        "documents",
        [{"$setWindowFields": {
            "partitionBy": "$source",
            "sortBy": {"n_chars": -1, "doc_id": 1},
            "output": {"rnk": {"$rank": {}}},
        }},
         {"$match": {"rnk": {"$lte": 3}}},
         {"$limit": 10000}],
    )
    rplan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in rplan.split("== Initial Plan ==")[0]

    # range window: cumulative count of docs with n_chars <= mine
    rng = store.aggregate(
        "documents",
        [{"$setWindowFields": {
            "sortBy": {"n_chars": 1},
            "output": {"n_le": {"$count": {},
                                "window": {"range": ["unbounded", "current"]}}},
        }},
         {"$sort": {"doc_id": 1}}, {"$limit": 50}],
    ).collect()
    by_id = {r["doc_id"]: r["n_le"] for r in rng}
    chars = dict(
        docs.select("doc_id", "n_chars").limit(0).collect()
    )  # placeholder keeps lints quiet
    sample = docs.select("doc_id", "n_chars").collect()
    all_chars = [r["n_chars"] for r in sample]
    for r in sample:
        if r["doc_id"] in by_id:
            assert by_id[r["doc_id"]] == sum(
                1 for c in all_chars if c <= r["n_chars"]
            )
    assert chars == {}

    # error contracts
    with pytest.raises(DocumentQueryError, match="requires sortBy"):
        store.aggregate(
            "documents",
            [{"$setWindowFields": {"output": {"r": {"$rank": {}}}}}],
        )
    with pytest.raises(DocumentQueryError, match="no window frame"):
        store.aggregate(
            "documents",
            [{"$setWindowFields": {
                "sortBy": {"doc_id": 1},
                "output": {"r": {"$rank": {},
                                 "window": {"documents": [0, 1]}}},
            }}],
        )
    with pytest.raises(DocumentQueryError, match="ascending sortBy"):
        store.aggregate(
            "documents",
            [{"$setWindowFields": {
                "sortBy": {"n_chars": -1},
                "output": {"s": {"$sum": "$n_chars",
                                 "window": {"range": [-10, 0]}}},
            }}],
        )
    # $median joined the compiled table in r8 — a bare ref now trips
    # its method contract, and a truly unknown op stays loud
    with pytest.raises(DocumentQueryError, match="method"):
        store.aggregate(
            "documents",
            [{"$setWindowFields": {
                "sortBy": {"doc_id": 1},
                "output": {"s": {"$median": "$n_chars"}},
            }}],
        )
    with pytest.raises(DocumentQueryError, match="Unsupported window"):
        store.aggregate(
            "documents",
            [{"$setWindowFields": {
                "sortBy": {"doc_id": 1},
                "output": {"s": {"$mode": "$n_chars"}},
            }}],
        )


def test_densify_bounds_forms_and_guards(spark):
    """$densify: partition/full/literal bounds over numeric and date
    fields — generated rows carry partition keys + nulls, originals
    (even off-grid) pass through, literal bounds are half-open."""
    s = DocumentStore(spark)
    rows = [("a", 1, 10.0), ("a", 4, 40.0), ("a", 7, 70.0),
            ("b", 2, 20.0), ("b", 3, 25.0)]
    s.register("m", spark.createDataFrame(rows, "g string, x long, v double"))

    # bounds partition, step 1: a fills 2,3,5,6; b fills nothing
    out = s.aggregate(
        "m",
        [{"$densify": {"field": "x", "partitionByFields": ["g"],
                       "range": {"step": 1, "bounds": "partition"}}},
         {"$limit": 100}],
    ).collect()
    a = sorted((r["x"], r["v"]) for r in out if r["g"] == "a")
    assert a == [(1, 10.0), (2, None), (3, None), (4, 40.0), (5, None),
                 (6, None), (7, 70.0)]
    assert sorted(r["x"] for r in out if r["g"] == "b") == [2, 3]

    # bounds full: both partitions span the global 1..7
    out = s.aggregate(
        "m",
        [{"$densify": {"field": "x", "partitionByFields": ["g"],
                       "range": {"step": 1, "bounds": "full"}}},
         {"$limit": 100}],
    ).collect()
    assert sorted(r["x"] for r in out if r["g"] == "b") == [1, 2, 3, 4, 5, 6, 7]

    # literal bounds are [lo, hi): 10 is NOT generated; off-grid
    # originals (x=4 with step 3 from 0) still pass through
    out = s.aggregate(
        "m",
        [{"$match": {"g": "a"}},
         {"$densify": {"field": "x", "range": {"step": 3,
                                               "bounds": [0, 10]}}},
         {"$limit": 100}],
    ).collect()
    assert sorted(r["x"] for r in out) == [0, 1, 3, 4, 6, 7, 9]

    # error contracts
    with pytest.raises(DocumentQueryError, match="positive int"):
        s.aggregate("m", [{"$densify": {"field": "x",
                                        "range": {"step": 0.5,
                                                  "bounds": "full"}}}])
    with pytest.raises(DocumentQueryError, match="unknown field"):
        s.aggregate("m", [{"$densify": {"field": "zz",
                                        "range": {"step": 1,
                                                  "bounds": "full"}}}])
    with pytest.raises(DocumentQueryError, match="requires partitionByFields"):
        s.aggregate("m", [{"$densify": {"field": "x",
                                        "range": {"step": 1,
                                                  "bounds": "partition"}}}])
    # runaway-spine guard fires at RUN time (assert_true woven into the
    # bound column — unprunable because sequence() consumes it)
    import pyspark.errors

    s.register("wide", spark.createDataFrame(
        [(0,), (100_000_000,)], "x long"))
    with pytest.raises(pyspark.errors.PySparkException):
        s.aggregate("wide", [
            {"$densify": {"field": "x",
                          "range": {"step": 1, "bounds": "full"}}},
            {"$group": {"_id": None, "n": {"$sum": 1}}},
        ]).collect()


def test_fill_value_locf_linear(spark):
    """$fill: literal value, locf carry-forward, and linear
    interpolation between bracketing neighbours (leading/trailing
    nulls stay null); methods require sortBy."""
    s = DocumentStore(spark)
    rows = [
        ("a", 0, None), ("a", 1, 10.0), ("a", 2, None), ("a", 3, None),
        ("a", 4, 40.0), ("a", 6, None),
        ("b", 0, 5.0), ("b", 1, None),
    ]
    s.register("t", spark.createDataFrame(rows, "g string, x long, v double"))
    out = s.aggregate(
        "t",
        [{"$fill": {"partitionByFields": ["g"], "sortBy": {"x": 1},
                    "output": {"v": {"method": "linear"}}}},
         {"$limit": 100}],
    ).collect()
    got = {(r["g"], r["x"]): r["v"] for r in out}
    assert got[("a", 0)] is None            # leading null stays
    assert got[("a", 2)] == 20.0            # 10 + (40-10)*(2-1)/(4-1)
    assert got[("a", 3)] == 30.0
    assert got[("a", 6)] is None            # trailing null stays
    assert got[("b", 1)] is None            # no right bracket

    out = s.aggregate(
        "t",
        [{"$fill": {"partitionByFields": ["g"], "sortBy": {"x": 1},
                    "output": {"v": {"method": "locf"}}}},
         {"$limit": 100}],
    ).collect()
    got = {(r["g"], r["x"]): r["v"] for r in out}
    assert got[("a", 2)] == 10.0 and got[("a", 6)] == 40.0
    assert got[("b", 1)] == 5.0

    out = s.aggregate(
        "t",
        [{"$fill": {"output": {"v": {"value": -1}}}}, {"$limit": 100}],
    ).collect()
    assert all(r["v"] is not None for r in out)

    with pytest.raises(DocumentQueryError, match="requires sortBy"):
        s.aggregate("t", [{"$fill": {"output": {"v": {"method": "locf"}}}}])
    with pytest.raises(DocumentQueryError, match="single ascending"):
        s.aggregate("t", [{"$fill": {"sortBy": {"x": -1},
                                     "output": {"v": {"method": "linear"}}}}])
    with pytest.raises(DocumentQueryError, match="unknown field"):
        s.aggregate("t", [{"$fill": {"sortBy": {"x": 1},
                                     "output": {"zz": {"method": "locf"}}}}])


def test_graph_lookup_bfs_semantics(spark):
    """$graphLookup: first-discovery depth, cycle termination via the
    visited set, maxDepth bounding, restrictSearchWithMatch pushdown,
    the empty-array contract for unmatched rows, and error contracts."""
    s = DocumentStore(spark)
    # a -> b -> c -> a cycle plus an isolated node z
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("z", None)]
    s.register("g", spark.createDataFrame(edges, "id string, nxt string"))

    out = s.aggregate(
        "g",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt",
                           "connectToField": "id",
                           "as": "chain", "depthField": "d"}},
         {"$limit": 10}],
    ).collect()
    assert len(out) == 1
    chain = {(r["id"], r["d"]) for r in out[0]["chain"]}
    # walks b (depth 0), c (1), back to a (2) — then the visited set
    # stops the cycle; every doc appears ONCE at first-discovery depth
    assert chain == {("b", 0), ("c", 1), ("a", 2)}

    # maxDepth: 0 = only the first lookup
    out = s.aggregate(
        "g",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt",
                           "connectToField": "id",
                           "as": "chain", "maxDepth": 0}},
         {"$limit": 10}],
    ).collect()
    assert [r["id"] for r in out[0]["chain"]] == ["b"]

    # unmatched start → empty array, not null (Mongo contract)
    out = s.aggregate(
        "g",
        [{"$match": {"id": "z"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt",
                           "connectToField": "id", "as": "chain"}},
         {"$limit": 10}],
    ).collect()
    assert out[0]["chain"] == []

    # restrictSearchWithMatch prunes the foreign side before the walk:
    # excluding c cuts the chain after b
    out = s.aggregate(
        "g",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt",
                           "connectToField": "id", "as": "chain",
                           "restrictSearchWithMatch": {
                               "id": {"$ne": "c"}}}},
         {"$limit": 10}],
    ).collect()
    assert [r["id"] for r in out[0]["chain"]] == ["b"]

    with pytest.raises(DocumentQueryError, match="missing"):
        s.aggregate("g", [{"$graphLookup": {"from": "g",
                                            "startWith": "$nxt"}}])
    with pytest.raises(DocumentQueryError, match="must exist"):
        s.aggregate("g", [{"$graphLookup": {
            "from": "g", "startWith": "$nxt", "connectFromField": "zz",
            "connectToField": "id", "as": "c"}}])
    # maps/structs (and arrays of non-atomic elements) stay refused;
    # arrays of scalars are walked element-wise (r8) — see
    # test_graph_lookup_array_connect_fields
    s.register("mp", spark.createDataFrame(
        [("a", {"k": "b"})], "id string, nxt map<string,string>"))
    with pytest.raises(DocumentQueryError, match="scalar or an"):
        s.aggregate("mp", [{"$graphLookup": {
            "from": "mp", "startWith": "$id", "connectFromField": "nxt",
            "connectToField": "id", "as": "c"}}])
    s.register("nested", spark.createDataFrame(
        [("a", [["b"]])], "id string, nxt array<array<string>>"))
    with pytest.raises(DocumentQueryError, match="atomic"):
        s.aggregate("nested", [{"$graphLookup": {
            "from": "nested", "startWith": "$id", "connectFromField": "nxt",
            "connectToField": "id", "as": "c"}}])


def test_nl2doc_running_total_compiles(store):
    """'running total of <m> by <s> per <p>' compiles to
    $setWindowFields with a cumulative documents frame; without 'per'
    the window is unpartitioned."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask(
        "running total of n_chars by doc_id per source for documents"
    )
    swf = q["pipeline"][0]["$setWindowFields"]
    assert swf["partitionBy"] == "$source"
    assert swf["sortBy"] == {"doc_id": 1}
    assert swf["output"]["running_total"] == {
        "$sum": "$n_chars",
        "window": {"documents": ["unbounded", "current"]},
    }
    rows = df.collect()
    # per-source cumulative sums reproduce by hand
    seen: dict[str, int] = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        seen[r["source"]] = seen.get(r["source"], 0) + r["n_chars"]
        assert r["running_total"] == seen[r["source"]]

    q2 = eng.template_query("running total of n_chars by doc_id")
    assert "partitionBy" not in q2["pipeline"][0]["$setWindowFields"]


def test_nl2doc_daily_gapfill_compiles(store):
    """'daily count ... missing days ...' compiles to
    $dateTrunc → $group → $densify → $fill, the comparison filter rides
    the prelude, and generated days carry n=0."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    df, q = NL2DocEngine(store).ask(
        "daily count of events with value over 300, missing days as zero"
    )
    stages = [next(iter(s)) for s in q["pipeline"]]
    assert stages == ["$match", "$addFields", "$group", "$densify",
                      "$fill", "$sort"]
    assert q["pipeline"][0]["$match"] == {"value": {"$gt": 300}}
    assert q["pipeline"][3]["$densify"]["range"]["unit"] == "day"
    rows = df.collect()
    days = [r["_id"] for r in rows]
    # gapless axis: every day between min and max present exactly once
    assert len(days) == (max(days) - min(days)).days + 1
    assert len(set(days)) == len(days)
    assert any(r["n"] == 0 for r in rows)  # filled gap days exist
    assert all(r["n"] is not None for r in rows)


def test_bucket_auto_ties_and_contracts(spark):
    """$bucketAuto: ~equal counts, equal values never split, half-open
    boundaries with an inclusive last max, default count output, and
    the granularity/validation error contracts."""
    s = DocumentStore(spark)
    # 12 docs over values 1,1,1,1,2,2,3,3,3,3,4,5 — a tie block (1s)
    # exactly fills bucket 0; the 3s straddle a stride boundary and
    # must stay together
    vals = [1, 1, 1, 1, 2, 2, 3, 3, 3, 3, 4, 5]
    s.register("b", spark.createDataFrame([(v,) for v in vals], "x long"))
    out = s.aggregate(
        "b",
        [{"$bucketAuto": {"groupBy": "$x", "buckets": 4}},
         {"$limit": 100}],
    ).collect()
    got = sorted(
        ((r["_id"]["min"], r["_id"]["max"], r["count"]) for r in out)
    )
    # start indices: 1→0 (b0), 2→4 (b1), 3→6 (b2), 4→10, 5→11 (b3);
    # all four 3s land in ONE bucket, last max is inclusive (5)
    assert got == [(1, 2, 4), (2, 3, 2), (3, 4, 4), (4, 5, 2)]

    # custom accumulators + null groupBy values excluded (documented)
    s.register("bn", spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (None, 99.0)], "x long, v double"))
    out = s.aggregate(
        "bn",
        [{"$bucketAuto": {"groupBy": "$x", "buckets": 2,
                          "output": {"n": {"$sum": 1},
                                     "sv": {"$sum": "$v"}}}},
         {"$limit": 100}],
    ).collect()
    assert sum(r["n"] for r in out) == 2        # the null row is out
    assert sum(r["sv"] for r in out) == 30.0

    with pytest.raises(DocumentQueryError, match="granularity"):
        s.aggregate("b", [{"$bucketAuto": {"groupBy": "$x", "buckets": 2,
                                           "granularity": "R5"}}])
    with pytest.raises(DocumentQueryError, match="bad buckets"):
        s.aggregate("b", [{"$bucketAuto": {"groupBy": "$x", "buckets": 0}}])
    with pytest.raises(DocumentQueryError, match="requires groupBy"):
        s.aggregate("b", [{"$bucketAuto": {"buckets": 2}}])


def test_sample_deterministic_and_top_n_plan(store):
    """$sample: same draw every run (the reproducible-sampling
    contract), a subset of the collection, size honored, size 0 empty,
    and the physical plan is TakeOrdered — never a full global sort."""
    pipe = [{"$project": {"_id": 0, "doc_id": 1}}, {"$sample": {"size": 10}}]
    a = sorted(r["doc_id"] for r in store.aggregate("documents", pipe).collect())
    b = sorted(r["doc_id"] for r in store.aggregate("documents", pipe).collect())
    assert a == b and len(a) == 10
    all_ids = {r["doc_id"]
               for r in store.collection("documents").select("doc_id").collect()}
    assert set(a) <= all_ids

    df = store.aggregate("documents", pipe)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan

    assert store.aggregate(
        "documents",
        [{"$sample": {"size": 0}}],
    ).count() == 0
    with pytest.raises(DocumentQueryError, match="sample expects"):
        store.aggregate("documents", [{"$sample": {"size": -1}}])
    with pytest.raises(DocumentQueryError, match="sample expects"):
        store.aggregate("documents", [{"$sample": 10}])


def test_new_stage_edge_contracts(spark):
    """Edge contracts added after self-review: $graphLookup overwrites
    an existing 'as' field (Mongo semantics, not an ambiguous-column
    crash); $bucketAuto rejects reserved output aliases; $fill linear
    rejects non-numeric sort keys loudly instead of no-op filling."""
    s = DocumentStore(spark)
    s.register("g2", spark.createDataFrame(
        [("a", "b", 1), ("b", None, 2)], "id string, nxt string, chain int"))
    out = s.aggregate(
        "g2",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g2", "startWith": "$nxt",
                           "connectFromField": "nxt",
                           "connectToField": "id", "as": "chain"}},
         {"$limit": 10}],
    ).collect()
    assert [r["id"] for r in out[0]["chain"]] == ["b"]  # int col replaced

    s.register("b2", spark.createDataFrame([(1,), (2,)], "x long"))
    with pytest.raises(DocumentQueryError, match="reserved"):
        s.aggregate("b2", [{"$bucketAuto": {
            "groupBy": "$x", "buckets": 2,
            "output": {"__b": {"$sum": 1}}}}])
    with pytest.raises(DocumentQueryError, match="reserved"):
        s.aggregate("b2", [{"$bucketAuto": {
            "groupBy": "$x", "buckets": 2,
            "output": {"_id": {"$sum": 1}}}}])

    s.register("f2", spark.createDataFrame(
        [("a", 1.0), ("b", None)], "k string, v double"))
    with pytest.raises(DocumentQueryError, match="must be numeric"):
        s.aggregate("f2", [{"$fill": {"sortBy": {"k": 1},
                                      "output": {"v": {"method": "linear"}}}}])


def test_set_window_fields_time_unit_range(spark):
    """Time-unit range windows: a trailing 2-day range over a SPARSE
    day axis sums only days inside the interval (absent days contribute
    nothing — the semantics a documents frame would get wrong), and the
    unit validation is loud."""
    import datetime as dt

    s = DocumentStore(spark)
    rows = [
        (dt.date(2024, 1, 1), 10.0),
        (dt.date(2024, 1, 2), 20.0),
        (dt.date(2024, 1, 5), 40.0),   # 2-day gap before this row
        (dt.date(2024, 1, 6), 80.0),
    ]
    s.register("dd", spark.createDataFrame(rows, "d date, v double"))
    out = s.aggregate(
        "dd",
        [{"$setWindowFields": {
            "sortBy": {"d": 1},
            "output": {"t": {"$sum": "$v",
                             "window": {"range": [-1, 0], "unit": "day"}}},
        }},
         {"$limit": 10}],
    ).collect()
    got = {r["d"]: r["t"] for r in out}
    assert got[dt.date(2024, 1, 1)] == 10.0
    assert got[dt.date(2024, 1, 2)] == 30.0    # 1+2 inside 2 days
    assert got[dt.date(2024, 1, 5)] == 40.0    # gap: jan 4 absent
    assert got[dt.date(2024, 1, 6)] == 120.0   # 5+6

    with pytest.raises(DocumentQueryError, match="bad unit"):
        s.aggregate("dd", [{"$setWindowFields": {
            "sortBy": {"d": 1},
            "output": {"t": {"$sum": "$v",
                             "window": {"range": [-1, 0],
                                        "unit": "month"}}}}}])
    with pytest.raises(DocumentQueryError, match="applies to range"):
        s.aggregate("dd", [{"$setWindowFields": {
            "sortBy": {"d": 1},
            "output": {"t": {"$sum": "$v",
                             "window": {"documents": [-1, 0],
                                        "unit": "day"}}}}}])


def test_nl2doc_equal_buckets_compiles(store):
    """'N equal buckets by <m>' compiles to $bucketAuto with flattened
    bounds; counts are ~equal and cover the corpus; the equi-WIDTH
    'buckets of <step>' phrasing still hits the $bucket tier."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask("split documents into 4 equal buckets by n_chars")
    assert q["pipeline"][0]["$bucketAuto"] == {
        "groupBy": "$n_chars", "buckets": 4,
    }
    rows = df.collect()
    total = store.collection("documents").count()
    assert sum(r["count"] for r in rows) == total
    assert len(rows) <= 4
    assert max(r["count"] for r in rows) <= total // 4 + total // 10

    q2 = eng.template_query("histogram of chars for documents in buckets of 150")
    assert "$bucket" in q2["pipeline"][-2] or any(
        "$bucket" in s for s in q2["pipeline"]
    )


def test_unset_stage(store):
    """$unset: string and list forms drop columns (exclusion-projection
    sugar); unknown fields are a loud typed error."""
    out = store.aggregate(
        "documents",
        [{"$unset": "text"}, {"$limit": 5}],
    )
    assert "text" not in out.columns and "doc_id" in out.columns
    out = store.aggregate(
        "documents",
        [{"$unset": ["text", "lang"]}, {"$limit": 5}],
    )
    assert set(out.columns) == {"doc_id", "source", "n_chars"}
    with pytest.raises(DocumentQueryError, match="unknown fields"):
        store.aggregate("documents", [{"$unset": "zz"}])
    with pytest.raises(DocumentQueryError, match="expects a field"):
        store.aggregate("documents", [{"$unset": 5}])


def test_nl2doc_sample_compiles(store):
    """'(random) sample of N <coll>' compiles to $sample; the draw is
    the engine's deterministic md5 contract (same rows every ask)."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask("random sample of 25 documents")
    assert q["pipeline"][-1] == {"$sample": {"size": 25}}
    a = sorted(r["doc_id"] for r in df.collect())
    b = sorted(
        r["doc_id"]
        for r in eng.ask("random sample of 25 documents")[0].collect()
    )
    assert a == b and len(a) == 25


def test_lookup_correlated_sort_limit(spark):
    """Correlated $lookup with per-group $sort/$limit: the array comes
    back IN the sub-pipeline's sort order, the limit applies per local
    row, unmatched rows keep the empty-array contract, and $limit
    without $sort / unknown sort fields raise loudly."""
    s = DocumentStore(spark)
    s.register("u", spark.createDataFrame(
        [(1,), (2,), (3,)], "uid long"))
    s.register("ev", spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "c"), (1, 20, "b"), (2, 5, "x")],
        "uid long, ts long, tag string"))
    out = s.aggregate(
        "u",
        [{"$lookup": {
            "from": "ev",
            "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$sort": {"ts": -1}},
                {"$limit": 2},
                {"$project": {"ts": 1, "tag": 1}},
            ],
            "as": "recent",
        }},
         {"$limit": 10}],
    ).collect()
    by_uid = {r["uid"]: [(e["ts"], e["tag"]) for e in r["recent"]]
              for r in out}
    assert by_uid[1] == [(30, "c"), (20, "b")]   # newest-first, top-2
    assert by_uid[2] == [(5, "x")]
    assert by_uid[3] == []                        # unmatched stays empty

    with pytest.raises(DocumentQueryError, match="requires a preceding"):
        s.aggregate("u", [{"$lookup": {
            "from": "ev", "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$limit": 2},
            ],
            "as": "r"}}])
    with pytest.raises(DocumentQueryError, match="sort unknown fields"):
        s.aggregate("u", [{"$lookup": {
            "from": "ev", "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$sort": {"zz": 1}},
            ],
            "as": "r"}}])


def test_lookup_correlated_group(spark):
    """Correlated $lookup with a trailing $group: per-correlation
    aggregates with foreign-side field refs, [] for unmatched rows
    (Mongo: $group over zero docs emits nothing), and missing-_id /
    non-final $group are loud errors."""
    s = DocumentStore(spark)
    s.register("u2", spark.createDataFrame([(1,), (2,), (3,)], "uid long"))
    s.register("ev2", spark.createDataFrame(
        [(1, 10.0), (1, 30.0), (2, 5.0)], "uid long, v double"))
    out = s.aggregate(
        "u2",
        [{"$lookup": {
            "from": "ev2", "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$group": {"_id": None, "total": {"$sum": "$v"},
                            "n": {"$sum": 1}, "mx": {"$max": "$v"}}},
            ],
            "as": "agg"}},
         {"$limit": 10}],
    ).collect()
    got = {r["uid"]: r["agg"] for r in out}
    assert got[1][0]["total"] == 40.0 and got[1][0]["n"] == 2
    assert got[1][0]["mx"] == 30.0
    assert got[2][0]["total"] == 5.0 and got[2][0]["n"] == 1
    assert got[3] == []

    # a $group with NO _id at all stays refused; keyed _id is supported
    # since r8 (test_lookup_correlated_keyed_group)
    with pytest.raises(DocumentQueryError, match="needs an _id"):
        s.aggregate("u2", [{"$lookup": {
            "from": "ev2", "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$group": {"n": {"$sum": 1}}},
            ],
            "as": "a"}}])
    with pytest.raises(DocumentQueryError, match="final sub-stage"):
        s.aggregate("u2", [{"$lookup": {
            "from": "ev2", "let": {"u": "$uid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                {"$group": {"_id": None, "n": {"$sum": 1}}},
                {"$sort": {"n": 1}},
            ],
            "as": "a"}}])


def test_densify_timestamp_hours(spark):
    """$densify steps TIMESTAMP fields by sub-day units too (interval k
    hour), not just the date/day path q171 exercises."""
    import datetime as dt

    s = DocumentStore(spark)
    rows = [(dt.datetime(2024, 1, 1, 0), 1.0),
            (dt.datetime(2024, 1, 1, 3), 2.0)]
    s.register("ts", spark.createDataFrame(rows, "t timestamp, v double"))
    out = s.aggregate(
        "ts",
        [{"$densify": {"field": "t",
                       "range": {"step": 1, "unit": "hour",
                                 "bounds": "full"}}},
         {"$limit": 10}],
    ).collect()
    hours = sorted(r["t"].hour for r in out)
    assert hours == [0, 1, 2, 3]
    assert sum(1 for r in out if r["v"] is None) == 2  # generated rows


def test_lookup_correlated_group_alias_guard(spark):
    """A $group alias shadowing a local field (or the __* namespace) is
    refused at parse time — it would otherwise be ambiguous in the agg
    and the post-array drop would take the local column with it."""
    s = DocumentStore(spark)
    s.register("u3", spark.createDataFrame([(1,)], "uid long"))
    s.register("e3", spark.createDataFrame([(1, 2.0)], "uid long, v double"))
    for bad in ("uid", "__nm"):
        with pytest.raises(DocumentQueryError, match="collides"):
            s.aggregate("u3", [{"$lookup": {
                "from": "e3", "let": {"u": "$uid"},
                "pipeline": [
                    {"$match": {"$expr": {"$eq": ["$uid", "$$u"]}}},
                    {"$group": {"_id": None, bad: {"$sum": 1}}},
                ],
                "as": "a"}}])


# ------------------------------------------ r8: array $graphLookup


def test_graph_lookup_array_connect_fields(spark):
    """Array connectFrom/connectTo/startWith: element-wise walk,
    emit-once at FIRST discovery depth when a doc is reachable through
    several of its to-nodes, cycle termination, maxDepth."""
    s = DocumentStore(spark)
    # adjacency lists with a cycle a->b->c->a and a diamond to d
    s.register("g", spark.createDataFrame(
        [("a", ["b", "c"]), ("b", ["d"]), ("c", ["d"]), ("d", ["a"])],
        "id string, nxt array<string>"))
    s.register("start", spark.createDataFrame([("a",)], "root string"))

    out = s.aggregate(
        "start",
        [{"$graphLookup": {"from": "g", "startWith": "$root",
                           "connectFromField": "nxt", "connectToField": "id",
                           "as": "reach", "depthField": "d"}},
         {"$limit": 10}],
    ).collect()
    depths = {r["id"]: r["d"] for r in out[0]["reach"]}
    # a(0) -> b,c(1) -> d(2) -> back to a: visited set terminates the cycle
    assert depths == {"a": 0, "b": 1, "c": 1, "d": 2}

    # array startWith seeds every element at depth 0
    out = s.aggregate(
        "g",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt", "connectToField": "id",
                           "as": "reach", "depthField": "d", "maxDepth": 0}},
         {"$limit": 10}],
    ).collect()
    assert {r["id"]: r["d"] for r in out[0]["reach"]} == {"b": 0, "c": 0}

    # array connectToField: one doc reachable via two member nodes at
    # DIFFERENT depths is emitted once, at the first-discovery depth
    s.register("groups", spark.createDataFrame(
        [("g1", ["a"], "b"), ("g2", ["a", "b"], "z")],
        "gid string, members array<string>, nxt string"))
    out = s.aggregate(
        "start",
        [{"$graphLookup": {"from": "groups", "startWith": "$root",
                           "connectFromField": "nxt",
                           "connectToField": "members",
                           "as": "gs", "depthField": "d"}},
         {"$limit": 10}],
    ).collect()
    got = {r["gid"]: r["d"] for r in out[0]["gs"]}
    # g2 matches via member a at depth 0 AND via member b (g1's nxt) at
    # depth 1 — emitted once at depth 0
    assert got == {"g1": 0, "g2": 0}

    # array connectTo + a map payload column cannot dedup -> loud error
    s.register("gm", spark.createDataFrame(
        [("g1", ["a"], {"k": "v"})],
        "gid string, members array<string>, meta map<string,string>"))
    with pytest.raises(DocumentQueryError, match="map columns"):
        s.aggregate("start", [{"$graphLookup": {
            "from": "gm", "startWith": "$root", "connectFromField": "gid",
            "connectToField": "members", "as": "c"}}])


def test_graph_lookup_scalar_plan_unchanged(spark):
    """The scalar path must not pay the array path's explode/dedup: no
    Generate (explode) node and ONE aggregate pass over matches."""
    s = DocumentStore(spark)
    s.register("g", spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", None)], "id string, nxt string"))
    out = s.aggregate(
        "g",
        [{"$match": {"id": "a"}},
         {"$graphLookup": {"from": "g", "startWith": "$nxt",
                           "connectFromField": "nxt", "connectToField": "id",
                           "as": "chain"}},
         {"$limit": 10}],
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan  # no explode on the scalar path


# ---------------------------- r8: $setWindowFields accumulator table


def test_window_fields_first_last_sorted(spark):
    """Frame-less $first/$last read the first/last row IN SORT ORDER
    (Mongo requires sortBy; an unordered partition read would be
    nondeterministic) — and refuse loudly without sortBy."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 30), (2, "a", 10), (3, "b", 5)], "id int, g string, v int"))
    rows = s.aggregate(
        "t",
        [{"$setWindowFields": {"partitionBy": "$g", "sortBy": {"v": 1},
                               "output": {"fv": {"$first": "$v"},
                                          "lv": {"$last": "$v"}}}},
         {"$sort": {"id": 1}}, {"$limit": 10}],
    ).collect()
    assert [(r["fv"], r["lv"]) for r in rows] == [(10, 30), (10, 30), (5, 5)]
    for op in ("$first", "$last"):
        with pytest.raises(DocumentQueryError, match="requires sortBy"):
            s.aggregate("t", [{"$setWindowFields": {
                "partitionBy": "$g", "output": {"x": {op: "$v"}}}}])


def test_window_fields_stats_and_collect(spark):
    """$push/$addToSet (sorted arrays), $stdDevSamp/Pop, and the
    two-operand $covarianceSamp/Pop; $expMovingAvg/$derivative/$integral
    stay documented refusals; $covariance needs a 2-list."""
    import math

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10, 1.0), (2, "a", 30, 3.0), (3, "a", 10, 5.0)],
        "id int, g string, v int, w double"))
    rows = s.aggregate(
        "t",
        [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"p": {"$push": "$v"}, "u": {"$addToSet": "$v"},
                       "sds": {"$stdDevSamp": "$v"},
                       "sdp": {"$stdDevPop": "$v"},
                       "cs": {"$covarianceSamp": ["$v", "$w"]},
                       "cp": {"$covariancePop": ["$v", "$w"]}}}},
         {"$sort": {"id": 1}}, {"$limit": 10}],
    ).collect()
    r = rows[0]
    assert r["p"] == [10, 10, 30] and r["u"] == [10, 30]
    assert math.isclose(r["sds"], 11.547005383792515)
    assert math.isclose(r["sdp"], 9.428090415820634)
    # covar_samp([10,30,10],[1,3,5]) = sum((v-m)(w-m))/2 = 10/2... manual:
    # mv=50/3, mw=3: (10-50/3)(1-3)+(30-50/3)(3-3)+(10-50/3)(5-3) = 0
    assert math.isclose(r["cs"], 0.0, abs_tol=1e-9)
    assert math.isclose(r["cp"], 0.0, abs_tol=1e-9)
    for op in ("$expMovingAvg", "$derivative", "$integral"):
        # the calculus trio takes a {input: ...} spec, not a bare ref
        with pytest.raises(DocumentQueryError, match="spec"):
            s.aggregate("t", [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"id": 1},
                "output": {"x": {op: "$v"}}}}])
    with pytest.raises(DocumentQueryError, match="two-element"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g",
            "output": {"x": {"$covarianceSamp": "$v"}}}}])


def test_window_fields_push_framed(spark):
    """$push over a documents frame collects the frame's values (array
    sorted per the dialect convention)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, 5), (2, 3), (3, 9)], "id int, v int"))
    rows = s.aggregate(
        "t",
        [{"$setWindowFields": {
            "sortBy": {"id": 1},
            "output": {"tr": {"$push": "$v",
                              "window": {"documents": [-1, "current"]}}}}},
         {"$sort": {"id": 1}}, {"$limit": 10}],
    ).collect()
    assert [r["tr"] for r in rows] == [[5], [3, 5], [3, 9]]


# -------------------------- r8: correlated $lookup keyed $group


def test_lookup_correlated_keyed_group(spark):
    """{_id: '$k', accs}: per-key aggregate docs regrouped to a sorted
    array; empty array for unmatched rows; a REAL null foreign key
    still forms a group."""
    s = DocumentStore(spark)
    s.register("c", spark.createDataFrame(
        [(1,), (2,), (3,)], "cid int"))
    s.register("o", spark.createDataFrame(
        [(1, "A", 5.0), (1, "B", 7.0), (1, "A", 3.0), (2, None, 1.0)],
        "cid int, st string, p double"))
    rows = s.aggregate(
        "c",
        [{"$lookup": {
            "from": "o", "let": {"k": "$cid"},
            "pipeline": [
                {"$match": {"$expr": {"$eq": ["$cid", "$$k"]}}},
                {"$group": {"_id": "$st", "n": {"$sum": 1},
                            "tot": {"$sum": "$p"}}},
            ],
            "as": "by_st"}},
         {"$sort": {"cid": 1}}, {"$limit": 10}],
    ).collect()
    by = {r["cid"]: [(d["_id"], d["n"], d["tot"]) for d in r["by_st"]]
          for r in rows}
    assert by[1] == [("A", 2, 8.0), ("B", 1, 7.0)]
    assert by[2] == [(None, 1, 1.0)]  # real null key forms a group
    assert by[3] == []  # unmatched -> empty array


def test_lookup_correlated_reserved_out_name(spark):
    """Alias == the $lookup's own 'as' name is refused (the final drop
    would swallow the output); an existing LOCAL column named by 'as'
    is overwritten, not duplicated (Mongo's contract) — on both the
    $group and the plain array paths."""
    s = DocumentStore(spark)
    s.register("c", spark.createDataFrame([(1, "x")], "cid int, tag string"))
    s.register("o", spark.createDataFrame([(1, 2.0)], "cid int, p double"))
    with pytest.raises(DocumentQueryError, match="'as' name"):
        s.aggregate("c", [{"$lookup": {
            "from": "o", "let": {"k": "$cid"},
            "pipeline": [{"$match": {"$expr": {"$eq": ["$cid", "$$k"]}}},
                         {"$group": {"_id": None, "stats": {"$sum": "$p"}}}],
            "as": "stats"}}])
    for pipe in (
        [{"$match": {"$expr": {"$eq": ["$cid", "$$k"]}}}],
        [{"$match": {"$expr": {"$eq": ["$cid", "$$k"]}}},
         {"$group": {"_id": None, "n": {"$sum": 1}}}],
    ):
        out = s.aggregate("c", [{"$lookup": {
            "from": "o", "let": {"k": "$cid"}, "pipeline": pipe,
            "as": "tag"}}, {"$limit": 5}])
        assert out.columns.count("tag") == 1
        assert out.collect()[0]["tag"] != "x"  # overwritten


# ------------------------------- r8: $unionWith type drift contract


def test_union_with_type_drift_is_loud(spark):
    s = DocumentStore(spark)
    s.register("a", spark.createDataFrame([(1, "x")], "id int, v string"))
    s.register("b", spark.createDataFrame([(2, 3.5)], "id int, v double"))
    with pytest.raises(DocumentQueryError, match="type drift.*v.*String"):
        s.aggregate("a", [{"$unionWith": "b"}])


# --------------------------------- r8: $dateTrunc week start-of-week


def test_date_trunc_week_sunday_default(spark):
    """Mongo's $dateTrunc defaults startOfWeek to SUNDAY (Spark's
    date_trunc('week') is ISO-Monday — deliberately not used); an
    explicit startOfWeek is honored, a bad one refused."""
    import datetime

    s = DocumentStore(spark)
    s.register("d", spark.createDataFrame(
        [(datetime.date(2026, 8, 12),),   # Wednesday
         (datetime.date(2026, 8, 9),),    # Sunday (fixpoint)
         (datetime.date(2026, 8, 10),)],  # Monday
        "d date"))
    rows = s.aggregate("d", [
        {"$addFields": {
            "wk": {"$dateTrunc": {"date": "$d", "unit": "week"}},
            "wkm": {"$dateTrunc": {"date": "$d", "unit": "week",
                                   "startOfWeek": "monday"}}}},
        {"$sort": {"d": 1}}, {"$limit": 10}]).collect()
    assert [str(r["wk"]) for r in rows] == ["2026-08-09"] * 3
    assert [str(r["wkm"]) for r in rows] == [
        "2026-08-03", "2026-08-10", "2026-08-10"]
    with pytest.raises(DocumentQueryError, match="startOfWeek"):
        s.aggregate("d", [{"$addFields": {"x": {"$dateTrunc": {
            "date": "$d", "unit": "week", "startOfWeek": "caturday"}}}}])


# ----------------------------------- r8: $fill linear dtype contract


def test_fill_linear_dtype_promotion(spark):
    """linear promotes int columns to double (documented divergence —
    one column type; values preserved exactly), and leaves an
    already-double column's non-null values bit-identical."""
    s = DocumentStore(spark)
    s.register("ti", spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "x int, v int"))
    out = s.aggregate("ti", [
        {"$fill": {"sortBy": {"x": 1}, "output": {"v": {"method": "linear"}}}},
        {"$sort": {"x": 1}}, {"$limit": 10}])
    assert dict(out.dtypes)["v"] == "double"
    assert [r["v"] for r in out.collect()] == [10.0, 20.0, 30.0]
    s.register("td", spark.createDataFrame(
        [(1, 0.1), (2, None), (3, 0.3)], "x int, v double"))
    out = s.aggregate("td", [
        {"$fill": {"sortBy": {"x": 1}, "output": {"v": {"method": "linear"}}}},
        {"$sort": {"x": 1}}, {"$limit": 10}])
    vals = [r["v"] for r in out.collect()]
    assert vals[0] == 0.1 and vals[2] == 0.3  # untouched, no cast round-trip


def test_nl2doc_union_compiles(store):
    """'combine <A> with <B>, counts per <f>' compiles to $match →
    $unionWith{coll, pipeline:[$match]} → $group/$sort (q169's shape);
    without the counts clause the pipeline stops at the union."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    df, q = eng.ask(
        "combine text containing data with n_chars over 500 for "
        "documents, counts per lang"
    )
    ops = [next(iter(s)) for s in q["pipeline"]]
    assert ops == ["$match", "$unionWith", "$group", "$sort"]
    uw = q["pipeline"][1]["$unionWith"]
    assert uw["coll"] == "documents"
    assert uw["pipeline"] == [{"$match": {"n_chars": {"$gt": 500}}}]
    assert q["pipeline"][0]["$match"] == {"text": {"$regex": "data"}}
    assert q["pipeline"][2]["$group"]["_id"] == "$lang"
    # UNION ALL semantics: the union count is >= either single side
    n_union = sum(r["n"] for r in df.collect())
    n_en = store.find("documents", {"n_chars": {"$gt": 500}},
                      limit=10**9).count()
    assert n_union >= n_en

    _df2, q2 = eng.ask(
        "combine text containing data with n_chars over 500 for documents"
    )
    assert [next(iter(s)) for s in q2["pipeline"]] == ["$match", "$unionWith"]


def test_r8_entry_plan_contracts(spark, sf_check):
    """Physical-plan shapes of the r8 registry entries stay what the
    docstrings promise: q180's window fields share one pass (two Window
    operators — sorted frame + frame-less base — and no extra exchange
    beyond the shortlist's own), q181's keyed lookup-$group is ONE join
    plus two logical aggregates (4 physical partial/final), and neither
    plans a cartesian product."""
    import re

    from dbt_nlp_sqlizer_team04_spark.operators import documents as DOC

    def head(df):
        # AQE repeats the tree under "== Initial Plan ==" — split first
        # or every operator double-counts (the r7 lesson)
        return (df._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])

    p = head(DOC.q180_doc_window_stats(spark, sf_check))
    assert len(re.findall(r"\bWindow\b", p)) == 2
    assert p.count("Exchange") <= 1
    assert "Cartesian" not in p

    p = head(DOC.q181_doc_lookup_group_keyed(spark, sf_check))
    assert len(re.findall(r"Join", p)) == 1
    assert len(re.findall(r"HashAggregate|ObjectHashAggregate|SortAggregate",
                          p)) <= 4
    assert "Cartesian" not in p

    # q179's BFS supersteps stay equi-joins — the optimized plan of the
    # walk carries no cartesian/nested-loop stage
    out = DOC.q179_doc_graph_lookup_array(spark, sf_check)
    p = head(out)
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p


# --------------------------------- r8: expression dialect extensions


def test_expr_dialect_r8_values(spark):
    """The r8 expression operators: HALF_EVEN $round (bround, NOT
    HALF_UP), $trunc toward zero, $split literal delimiter (regex
    metachars escaped), 0-based $substrCP/$arrayElemAt (negative from
    the end), $slice both forms, $filter/$map/$reduce $$-variable
    bodies, $switch with default, $ifNull/$in/set ops, $dateDiff
    boundary-crossing day/month, $dateAdd/$dateSubtract, date parts."""
    import datetime

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, 2.345, "a.b.c", [3, 1, 2], datetime.date(2026, 1, 31),
          datetime.datetime(2026, 8, 15, 13, 45))],
        "id int, x double, s string, arr array<int>, d date, ts timestamp"))
    r = s.aggregate("t", [{"$addFields": {
        "r_even": {"$round": [2.345, 2]},      # HALF_EVEN -> 2.34
        "r_up_would_be": {"$round": [2.335, 2]},  # -> 2.34 (even)
        "tr": {"$trunc": [-2.39, 1]},          # toward zero -> -2.3
        "sp": {"$split": ["$s", "."]},         # literal dot, not regex
        "sub": {"$substrCP": ["$s", 2, 3]},    # 0-based -> "b.c"
        "el": {"$arrayElemAt": ["$arr", -1]},  # -> 2
        "el0": {"$arrayElemAt": ["$arr", 0]},  # -> 3
        "sl2": {"$slice": ["$arr", -2]},       # last 2 -> [1,2]
        "sl3": {"$slice": ["$arr", 1, 2]},     # from idx 1 -> [1,2]
        "fl": {"$filter": {"input": "$arr",
                           "cond": {"$gte": ["$$this", 2]}}},
        "mp": {"$map": {"input": "$arr", "as": "v",
                        "in": {"$multiply": ["$$v", 10]}}},
        "rd": {"$reduce": {"input": "$arr", "initialValue": 100,
                           "in": {"$add": ["$$value", "$$this"]}}},
        "sw": {"$switch": {"branches": [
            {"case": {"$gt": ["$x", 10]}, "then": "big"}],
            "default": "small"}},
        "swnull": {"$switch": {"branches": [
            {"case": {"$gt": ["$x", 10]}, "then": "big"}]}},
        "ifn": {"$ifNull": [None, "$id"]},
        "inn": {"$in": [9, "$arr"]},
        "su": {"$setUnion": ["$arr", [2, 9]]},
        "sd": {"$setDifference": ["$arr", [1]]},
        "dd": {"$dateDiff": {"startDate": "$d", "endDate": "$ts",
                             "unit": "day"}},
        "dm": {"$dateDiff": {"startDate": "$d", "endDate": "$ts",
                             "unit": "month"}},
        "da": {"$dateAdd": {"startDate": "$d", "unit": "month",
                            "amount": 1}},
        "ds": {"$dateSubtract": {"startDate": "$d", "unit": "day",
                                 "amount": 31}},
        "yy": {"$year": "$ts"}, "hh": {"$hour": "$ts"},
    }}])
    row = r.collect()[0].asDict()
    assert row["r_even"] == 2.34 and row["r_up_would_be"] == 2.34
    assert row["tr"] == -2.3
    assert row["sp"] == ["a", "b", "c"] and row["sub"] == "b.c"
    assert row["el"] == 2 and row["el0"] == 3
    assert row["sl2"] == [1, 2] and row["sl3"] == [1, 2]
    assert row["fl"] == [3, 2] and row["mp"] == [30, 10, 20]
    assert row["rd"] == 106
    assert row["sw"] == "small" and row["swnull"] is None  # documented
    assert row["ifn"] == 1 and row["inn"] is False
    assert row["su"] == [1, 2, 3, 9] and row["sd"] == [2, 3]
    assert row["dd"] == 196 and row["dm"] == 7
    assert str(row["da"]) == "2026-02-28"
    assert str(row["ds"]) == "2025-12-31"
    assert row["yy"] == 2026 and row["hh"] == 13


def test_expr_dialect_r8_errors(spark):
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1.0, "a-b", [1])],
                                          "x double, s string, a array<int>"))
    cases = [
        ({"$switch": {"branches": []}}, "Bad \\$switch"),
        ({"$round": ["$x", "two"]}, "integer literal"),
        ({"$split": ["$s", "$s"]}, "literal delimiter"),
        ({"$substrCP": ["$s", 1]}, "3 operands"),
        ({"$arrayElemAt": ["$a"]}, "2 operands"),
        ({"$slice": ["$a", 1, 0]}, "positive"),
        ({"$filter": {"input": "$a"}}, "needs 'cond'"),
        ({"$reduce": {"input": "$a", "in": 1}}, "Bad \\$reduce"),
        ({"$dateDiff": {"unit": "fortnight", "startDate": "$x",
                        "endDate": "$x"}}, "bad unit"),
        ({"$dateAdd": {"startDate": "$x", "unit": "day"}},
         "needs startDate\\+amount"),
    ]
    for bad, msg in cases:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$addFields": {"z": bad}}]).collect()
    # an unbound $$var inside a lambda body is loud, not a silent null
    with pytest.raises(DocumentQueryError, match="Unbound"):
        s.aggregate("t", [{"$addFields": {"z": {"$map": {
            "input": "$a", "as": "v", "in": "$$nope"}}}}]).collect()


# --------------------------------- r9: expression dialect extensions


def test_expr_dialect_r9_values(spark):
    """The r9 expression operators: $dateToString (%-specifiers, %%
    escape, literal-run quoting, onNull), $dateFromString (format,
    onError vs onNull precedence), $regexMatch options, $regexFind's
    {match, idx, captures} document and no-match null, $let, $getField
    (both forms), $replaceAll, $indexOfCP (plain, start, and the
    [start, end)-containment bound), and document literals feeding
    $arrayToObject → $objectToArray round-trips."""
    import datetime

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "foo123bar", "a-b-c", datetime.date(2026, 1, 31), "abcabc")],
        "id int, s string, h string, d date, q string"))
    r = s.aggregate("t", [{"$addFields": {
        "dts": {"$dateToString": {"format": "%Y-%m-%d %j",
                                  "date": "$d"}},
        "dts_pct": {"$dateToString": {"format": "%d%%", "date": "$d"}},
        "dts_lit": {"$dateToString": {"format": "on %Y year",
                                      "date": "$d"}},
        "dts_onnull": {"$dateToString": {"format": "%Y",
                                         "date": {"$toDate": None},
                                         "onNull": "missing"}},
        "dfs": {"$toDate": {"$dateFromString": {
            "dateString": "2026/01/31", "format": "%Y/%m/%d"}}},
        "dfs_onerr": {"$toDate": {"$dateFromString": {
            "dateString": "$h", "format": "%Y/%m/%d",
            "onError": {"$toDate": "1999-01-01"}}}},
        "dfs_onnull": {"$toDate": {"$dateFromString": {
            "dateString": {"$toString": None},
            "onError": {"$toDate": "1999-01-01"},
            "onNull": {"$toDate": "2000-01-01"}}}},
        "rm_ci": {"$regexMatch": {"input": "$h", "regex": "A-B",
                                  "options": "i"}},
        "rm_cs": {"$regexMatch": {"input": "$h", "regex": "A-B"}},
        "rf": {"$regexFind": {"input": "$s",
                              "regex": "([0-9]+)([a-z]+)"}},
        "rf_none": {"$regexFind": {"input": "$s", "regex": "zz"}},
        "lt": {"$let": {"vars": {"a": 2, "b": {"$add": ["$id", 2]}},
                        "in": {"$multiply": ["$$a", "$$b"]}}},
        "gf_short": {"$getField": "id"},
        "ra": {"$replaceAll": {"input": "$h", "find": "-",
                               "replacement": "+"}},
        "ix": {"$indexOfCP": ["$q", "bc"]},
        "ix_start": {"$indexOfCP": ["$q", "bc", 2]},
        "ix_out": {"$indexOfCP": ["$q", "bc", 0, 2]},
        "ix_in": {"$indexOfCP": ["$q", "bc", 0, 3]},
        "kv": {"$arrayToObject": [[{"k": "x", "v": 1},
                                   {"k": "y", "v": 2}]]},
    }}, {"$addFields": {
        "rf_match": {"$getField": {"field": "match", "input": "$rf"}},
        "rf_idx": {"$getField": {"field": "idx", "input": "$rf"}},
        "rf_caps": {"$getField": {"field": "captures", "input": "$rf"}},
        "kv_entries": {"$objectToArray": "$kv"},
        "kv_y": {"$getField": {"field": "y", "input": "$kv"}},
    }}])
    row = r.collect()[0].asDict()
    assert row["dts"] == "2026-01-31 031"
    assert row["dts_pct"] == "31%"
    assert row["dts_lit"] == "on 2026 year"
    assert row["dts_onnull"] == "missing"
    assert str(row["dfs"]) == "2026-01-31"
    assert str(row["dfs_onerr"]) == "1999-01-01"
    assert str(row["dfs_onnull"]) == "2000-01-01"
    assert row["rm_ci"] is True and row["rm_cs"] is False
    assert row["rf_match"] == "123bar" and row["rf_idx"] == 3
    assert row["rf_caps"] == ["123", "bar"]
    assert row["rf_none"] is None
    assert row["lt"] == 6
    assert row["gf_short"] == 1
    assert row["ra"] == "a+b+c"
    assert row["ix"] == 1 and row["ix_start"] == 4
    assert row["ix_out"] == -1 and row["ix_in"] == 1
    assert [e.asDict() for e in row["kv_entries"]] == [
        {"k": "x", "v": 1}, {"k": "y", "v": 2}]
    assert row["kv_y"] == 2


def test_expr_dialect_r9_errors(spark):
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1.0, "a-b", [1])], "x double, s string, a array<int>"))
    cases = [
        ({"$dateToString": {"format": "%Q", "date": "$x"}},
         "unsupported format specifier"),
        ({"$dateToString": {"format": "%Y-%", "date": "$x"}},
         "dangling"),
        ({"$dateToString": {"format": "%Y", "date": "$x",
                            "timezone": "America/New_York"}},
         "timezone"),
        ({"$dateFromString": {"dateString": "$s", "format": "$s"}},
         "literal"),
        # adjacent identical specifiers merge into one longer pattern
        # field on the single-pattern PARSE side — refused loudly (the
        # render side concatenates per-specifier pieces instead)
        ({"$dateFromString": {"dateString": "$s", "format": "%m%m"}},
         "adjacent identical"),
        ({"$regexMatch": {"input": "$s", "regex": "$s"}},
         "literal string"),
        ({"$regexMatch": {"input": "$s", "regex": "a",
                          "options": "iz"}}, "bad options"),
        ({"$regexFind": {"input": "$s", "regex": "("}}, "bad pattern"),
        ({"$let": {"vars": {"a": 1}}}, "Bad \\$let"),
        ({"$getField": {"field": "$s", "input": "$s"}},
         "literal string"),
        ({"$getField": "a.b"}, "dotted"),
        ({"$indexOfCP": ["$s", "$s"]}, "literal string"),
        ({"$indexOfCP": ["$s", "b", -1]}, ">= 0"),
        ({"$ifNull": [{}, 1]}, "empty document literal"),
        ({"$ifNull": [{"a": 1, "$bad": 2}, 1]}, "may not start"),
    ]
    for bad, msg in cases:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$addFields": {"z": bad}}]).collect()
    # $let vars evaluate in the ENCLOSING scope: a sibling reference
    # is unbound (Mongo's rule), not silently resolved
    with pytest.raises(DocumentQueryError, match="Unbound"):
        s.aggregate("t", [{"$addFields": {"z": {"$let": {
            "vars": {"a": 1, "b": "$$a"},
            "in": "$$b"}}}}]).collect()


def test_expr_dialect_r9b_values(spark):
    """The r9 wave-2 operators: $cmp/$strcasecmp trichotomy,
    $anyElementTrue/$allElementsTrue, $indexOfArray, $sortArray,
    $range (end-exclusive, empty-safe, negative step), $zip (shortest
    + longest), set predicates, trig/$log/bit ops, byte lengths, the
    date-part zoo ($dayOfYear/$week/iso fields/$millisecond/
    $dateToParts), $mergeObjects later-wins, $replaceOne first-only,
    chars-form trims, and $literal verbatim."""
    import datetime
    import math

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a-b-a", datetime.date(2027, 1, 1),
          datetime.datetime(2026, 1, 3, 7, 8, 9, 123456))],
        "id int, h string, d date, ts timestamp"))
    r = s.aggregate("t", [{"$addFields": {
        "c_lt": {"$cmp": [3, 5]}, "c_eq": {"$cmp": [5, 5]},
        "c_gt": {"$cmp": ["b", "a"]},
        "sc": {"$strcasecmp": ["Hello", "hello"]},
        "anyt": {"$anyElementTrue": [[0, 1]]},
        "allt": {"$allElementsTrue": [[1, 0]]},
        "ia": {"$indexOfArray": [["a", "b", "c"], "b"]},
        "ia_miss": {"$indexOfArray": [["a"], "z"]},
        "sa": {"$sortArray": {"input": [3, 1, 2], "sortBy": -1}},
        "rg": {"$range": [0, 10, 3]},
        "rg_neg": {"$range": [5, 0, -2]},
        "rg_empty": {"$range": [3, 3]},
        "zp": {"$zip": {"inputs": [[1, 2, 3], [10, 20]]}},
        "zp_long": {"$zip": {"inputs": [[1, 2, 3], [10, 20]],
                             "useLongestLength": True}},
        "se": {"$setEquals": [[1, 2, 2], [2, 1]]},
        "ss": {"$setIsSubset": [[1, 2], [1, 2, 3]]},
        "rad": {"$degreesToRadians": 180},
        "lg": {"$log": [8, 2]},
        "ba": {"$bitAnd": [12, 10]}, "bo": {"$bitOr": [12, 10]},
        "bx": {"$bitXor": [12, 10]}, "bn": {"$bitNot": 5},
        "blen": {"$strLenBytes": "héllo"},
        "doy": {"$dayOfYear": "$d"},
        "iw": {"$isoWeek": "$d"}, "idw": {"$isoDayOfWeek": "$d"},
        "iwy": {"$isoWeekYear": "$d"},
        "wk0": {"$week": "$ts"},
        "ms": {"$millisecond": "$ts"},
        "parts": {"$dateToParts": {"date": "$ts"}},
        "mo": {"$mergeObjects": [
            {"$arrayToObject": [[{"k": "x", "v": 1}, {"k": "y", "v": 2}]]},
            {"$arrayToObject": [[{"k": "y", "v": 9}, {"k": "z", "v": 3}]]},
        ]},
        "ro": {"$replaceOne": {"input": "$h", "find": "a",
                               "replacement": "Z"}},
        "ro_miss": {"$replaceOne": {"input": "$h", "find": "q",
                                    "replacement": "Z"}},
        "tc": {"$trim": {"input": "xxhixx", "chars": "x"}},
        "tl": {"$ltrim": {"input": "xxhi", "chars": "x"}},
        "tr": {"$rtrim": {"input": "hixx", "chars": "x"}},
        "litv": {"$literal": "$not_a_field"},
        "cv_s": {"$convert": {"input": 42, "to": "string"}},
        "cv_i": {"$convert": {"input": "17", "to": "int"}},
        "cv_err": {"$convert": {"input": "$h", "to": "int",
                                "onError": -1}},
        "cv_null": {"$convert": {"input": {"$toString": None},
                                 "to": "int", "onError": -1,
                                 "onNull": -9}},
        "cv_id": {"$convert": {"input": 3.7, "to": 16}},
    }}, {"$addFields": {
        "mo_y": {"$getField": {"field": "y", "input": "$mo"}},
        "mo_n": {"$size": {"$objectToArray": "$mo"}},
        "p_day": {"$getField": {"field": "day", "input": "$parts"}},
        "p_ms": {"$getField": {"field": "millisecond",
                               "input": "$parts"}},
    }}])
    row = r.collect()[0].asDict()
    assert (row["c_lt"], row["c_eq"], row["c_gt"]) == (-1, 0, 1)
    assert row["sc"] == 0
    assert row["anyt"] is True and row["allt"] is False
    assert row["ia"] == 1 and row["ia_miss"] == -1
    assert row["sa"] == [3, 2, 1]
    assert row["rg"] == [0, 3, 6, 9] and row["rg_neg"] == [5, 3, 1]
    assert row["rg_empty"] == []
    assert row["zp"] == [[1, 10], [2, 20]]
    assert row["zp_long"] == [[1, 10], [2, 20], [3, None]]
    assert row["se"] is True and row["ss"] is True
    assert math.isclose(row["rad"], math.pi)
    assert math.isclose(row["lg"], 3.0)
    assert (row["ba"], row["bo"], row["bx"], row["bn"]) == (8, 14, 6, -6)
    assert row["blen"] == 6
    assert row["doy"] == 1
    # 2027-01-01 is a Friday: ISO week 53 of ISO year 2026
    assert row["iw"] == 53 and row["idw"] == 5 and row["iwy"] == 2026
    # 2026-01-03 is a Saturday before the year's first Sunday: week 0
    assert row["wk0"] == 0
    assert row["ms"] == 123
    assert row["mo_y"] == 9 and row["mo_n"] == 3
    assert row["p_day"] == 3 and row["p_ms"] == 123
    assert row["ro"] == "Z-b-a" and row["ro_miss"] == "a-b-a"
    assert row["tc"] == "hi" and row["tl"] == "hi" and row["tr"] == "hi"
    assert row["litv"] == "$not_a_field"
    assert row["cv_s"] == "42" and row["cv_i"] == 17
    assert row["cv_err"] == -1 and row["cv_null"] == -9
    assert row["cv_id"] == 3  # BSON id 16 = int; cast truncates


def test_expr_dialect_r9b_errors(spark):
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([("a",)], "s string"))
    cases = [
        ({"$sortArray": {"input": [1], "sortBy": 2}}, "sortBy 1\\|-1"),
        ({"$range": [0, 5, 0]}, "nonzero"),
        ({"$zip": {"inputs": [[1], [2], [3]]}}, "exactly 2"),
        ({"$replaceOne": {"input": "$s", "find": "$s",
                          "replacement": "x"}}, "literal string"),
        ({"$trim": {"input": "$s", "chars": "$s"}}, "literal"),
        ({"$dateToParts": {"date": "$s", "iso8601": True}},
         "not compiled"),
        ({"$convert": {"input": "$s", "to": "uuid"}}, "bad 'to'"),
    ]
    for bad, msg in cases:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$addFields": {"z": bad}}]).collect()


def test_expr_dialect_r9_random_sweep(spark):
    """Seeded 300-row differential sweep of the r9 operators whose
    semantics have exact stdlib references: $indexOfCP (plain/start/
    [start,end)-containment) vs str.find, $range vs range(),
    $replaceOne vs str.replace(…, 1), and the calendar zoo
    ($dayOfYear/$isoWeek/$isoDayOfWeek/$isoWeekYear vs isocalendar,
    Mongo's Sunday-based $week vs the first-Sunday count, $mod's
    dividend-sign contract vs math.fmod, HALF_EVEN $round vs Decimal,
    $trunc toward zero) — one Spark job, row-wise equality."""
    import datetime
    import math
    import random
    from decimal import ROUND_HALF_EVEN, Decimal

    rng = random.Random(1234)
    rows = []
    for i in range(300):
        s = "".join(rng.choice("abcx-") for _ in range(rng.randrange(13)))
        a = rng.randrange(-5, 16)
        b = rng.randrange(-5, 16)
        d = datetime.date(1990, 1, 1) + datetime.timedelta(
            days=rng.randrange(0, 365 * 40))
        rows.append((i, s, a, b, d))
    s_ = DocumentStore(spark)
    s_.register("t", spark.createDataFrame(
        rows, "i int, s string, a int, b int, d date"))
    out = {r["i"]: r for r in s_.aggregate("t", [{"$addFields": {
        "ix0": {"$indexOfCP": ["$s", "a"]},
        "ix1": {"$indexOfCP": ["$s", "bc", 2]},
        "ix2": {"$indexOfCP": ["$s", "bc", 0, 4]},
        "ix3": {"$indexOfCP": ["$s", "x-", 1, 6]},
        "rg1": {"$range": ["$a", "$b"]},
        "rg2": {"$range": ["$a", "$b", 3]},
        "rg3": {"$range": ["$a", "$b", -2]},
        "ro": {"$replaceOne": {"input": "$s", "find": "bc",
                               "replacement": "+"}},
        "doy": {"$dayOfYear": "$d"},
        "iw": {"$isoWeek": "$d"},
        "idw": {"$isoDayOfWeek": "$d"},
        "iwy": {"$isoWeekYear": "$d"},
        "wk": {"$week": "$d"},
        # $mod keeps the DIVIDEND's sign (Java %, = Mongo, = C fmod —
        # NOT Python's flooring %)
        "md1": {"$mod": ["$a", 7]},
        "md2": {"$mod": ["$a", -4]},
        "rnd": {"$round": [{"$divide": ["$a", 7]}, 2]},
        "trc": {"$trunc": [{"$divide": ["$a", 7]}, 2]},
    }}, {"$limit": 1000}]).collect()}
    for i, s, a, b, d in rows:
        r = out[i]
        assert r["ix0"] == s.find("a"), (s,)
        assert r["ix1"] == s.find("bc", 2), (s,)
        assert r["ix2"] == s.find("bc", 0, 4), (s,)
        assert r["ix3"] == s.find("x-", 1, 6), (s,)
        assert r["rg1"] == list(range(a, b)), (a, b)
        assert r["rg2"] == list(range(a, b, 3)), (a, b)
        assert r["rg3"] == list(range(a, b, -2)), (a, b)
        assert r["ro"] == s.replace("bc", "+", 1), (s,)
        assert r["doy"] == d.timetuple().tm_yday, (d,)
        iso = d.isocalendar()
        assert r["iw"] == iso[1] and r["idw"] == iso[2], (d,)
        assert r["iwy"] == iso[0], (d,)
        jan1 = datetime.date(d.year, 1, 1)
        first_sunday = jan1 + datetime.timedelta(
            days=(6 - jan1.weekday()) % 7)
        expect_wk = (0 if d < first_sunday
                     else (d - first_sunday).days // 7 + 1)
        assert r["wk"] == expect_wk, (d, r["wk"], expect_wk)
        assert r["md1"] == int(math.fmod(a, 7)), (a,)
        assert r["md2"] == int(math.fmod(a, -4)), (a,)
        q = a / 7
        assert r["rnd"] == float(
            Decimal(repr(q)).quantize(Decimal("0.01"),
                                      rounding=ROUND_HALF_EVEN)), (a,)
        assert r["trc"] == math.trunc(q * 100) / 100, (a,)
    # render → parse round-trip across format shapes (incl. the
    # no-separator yyyyMMdd form — adjacent DIFFERENT fields are fine,
    # only same-field adjacency is refused)
    rts = s_.aggregate("t", [{"$addFields": {
        f"rt{j}": {"$toDate": {"$dateFromString": {
            "dateString": {"$dateToString": {"format": f,
                                             "date": "$d"}},
            "format": f}}}
        for j, f in enumerate(("%Y/%m/%d", "%d-%m-%Y", "%Y%m%d"))
    }}, {"$limit": 1000}]).collect()
    for r in rts:
        assert r["rt0"] == r["d"] and r["rt1"] == r["d"] \
            and r["rt2"] == r["d"], r


def test_expr_dialect_datediff_trunc_random_sweep(spark):
    """Seeded 300-pair sweep of the calendar arithmetic: $dateDiff
    (day/month/week/hour boundary-crossing semantics) and $dateTrunc
    week under each startOfWeek, against direct datetime references —
    the boundary conventions (Sunday default, crossings not spans) are
    exactly where hand reasoning slips."""
    import datetime
    import random

    rng = random.Random(999)
    rows = []
    for i in range(300):
        a = datetime.datetime(2000, 1, 1) + datetime.timedelta(
            days=rng.randrange(0, 365 * 30), hours=rng.randrange(24),
            minutes=rng.randrange(60))
        b = a + datetime.timedelta(days=rng.randrange(-900, 900),
                                   hours=rng.randrange(24))
        rows.append((i, a, b))
    s_ = DocumentStore(spark)
    s_.register("t", spark.createDataFrame(
        rows, "i int, a timestamp, b timestamp"))
    out = {r["i"]: r for r in s_.aggregate("t", [{"$addFields": {
        "dd": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "day"}},
        "dm": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "month"}},
        "dw": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "week"}},
        "dh": {"$dateDiff": {"startDate": "$a", "endDate": "$b",
                             "unit": "hour"}},
        "tw_sun": {"$dateTrunc": {"date": "$a", "unit": "week"}},
        "tw_mon": {"$dateTrunc": {"date": "$a", "unit": "week",
                                  "startOfWeek": "monday"}},
        "tw_thu": {"$dateTrunc": {"date": "$a", "unit": "week",
                                  "startOfWeek": "thu"}},
    }}, {"$limit": 1000}]).collect()}

    def last_dow(d: datetime.date, dow: int) -> datetime.date:
        # most recent date with weekday() == dow (Mon=0..Sun=6)
        return d - datetime.timedelta(days=(d.weekday() - dow) % 7)

    for i, a, b in rows:
        r = out[i]
        assert r["dd"] == (b.date() - a.date()).days, (a, b)
        assert r["dm"] == (b.year - a.year) * 12 + (b.month - a.month)
        sun_a, sun_b = last_dow(a.date(), 6), last_dow(b.date(), 6)
        assert r["dw"] == (sun_b - sun_a).days // 7, (a, b)
        # the engine casts the fractional hour count to long —
        # truncation toward zero, not floor (matters for negatives)
        eh = int((b - a).total_seconds() / 3600)
        assert r["dh"] == eh, (a, b, r["dh"], eh)
        assert r["tw_sun"] == last_dow(a.date(), 6), (a,)
        assert r["tw_mon"] == last_dow(a.date(), 0), (a,)
        assert r["tw_thu"] == last_dow(a.date(), 3), (a,)


def test_expr_dialect_string_array_random_sweep(spark):
    """Seeded 300-row differential sweep of the string/array dialect
    against exact stdlib references: chars-form trims vs str.strip
    family (set semantics on both sides), $split vs str.split
    (empties kept), $regexFind match/idx vs re.search, $slice /
    $arrayElemAt vs list slicing, and the set operators vs sorted
    set algebra."""
    import random
    import re as _re

    rng = random.Random(4321)
    rows = []
    for i in range(300):
        s = "".join(rng.choice("abx-") for _ in range(rng.randrange(12)))
        rows.append((i, s))
    s_ = DocumentStore(spark)
    s_.register("t", spark.createDataFrame(rows, "i int, s string"))
    split = {"$split": ["$s", "-"]}
    out = {r["i"]: r for r in s_.aggregate("t", [{"$addFields": {
        "tc": {"$trim": {"input": "$s", "chars": "x-"}},
        "tl": {"$ltrim": {"input": "$s", "chars": "x-"}},
        "tr": {"$rtrim": {"input": "$s", "chars": "x-"}},
        "sp": split,
        "rf": {"$regexFind": {"input": "$s", "regex": "[ab]+"}},
        "sl": {"$slice": [split, 1, 2]},
        "el": {"$arrayElemAt": [split, -1]},
        "su": {"$setUnion": [split, ["ab", "x"]]},
        "si": {"$setIntersection": [split, ["ab", "x", ""]]},
        "sd": {"$setDifference": [split, [""]]},
    }}, {"$limit": 1000}]).collect()}
    for i, s in rows:
        r = out[i]
        assert r["tc"] == s.strip("x-"), (s,)
        assert r["tl"] == s.lstrip("x-") and r["tr"] == s.rstrip("x-")
        parts = s.split("-")
        assert r["sp"] == parts, (s,)
        m = _re.search("[ab]+", s)
        if m is None:
            assert r["rf"] is None, (s,)
        else:
            assert r["rf"]["match"] == m.group(0), (s,)
            assert r["rf"]["idx"] == m.start(), (s,)
        assert r["sl"] == parts[1:3], (s,)
        assert r["el"] == parts[-1], (s,)
        assert r["su"] == sorted(set(parts) | {"ab", "x"}), (s,)
        assert r["si"] == sorted(set(parts) & {"ab", "x", ""}), (s,)
        assert r["sd"] == sorted(set(parts) - {""}), (s,)


def test_find_array_query_operators(spark):
    """r9 find/$match additions: $all, query-form $size, $mod, and
    operator-dict $elemMatch over array columns; malformed specs are
    the dialect's typed errors."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [2, 4]), (3, []), (4, [7])],
        "id int, a array<int>"))

    def ids(flt):
        return sorted(r["id"] for r in s.find("t", flt).collect())

    assert ids({"a": {"$all": [2, 3]}}) == [1]
    assert ids({"a": {"$all": [2]}}) == [1, 2]
    assert ids({"a": {"$size": 2}}) == [2]
    assert ids({"a": {"$size": 0}}) == [3]
    assert ids({"id": {"$mod": [2, 0]}}) == [2, 4]
    assert ids({"a": {"$elemMatch": {"$gte": 3, "$lt": 5}}}) == [1, 2]
    assert ids({"a": {"$elemMatch": {"$gt": 10}}}) == []
    for bad, msg in [
        ({"a": {"$all": []}}, "non-empty"),
        ({"a": {"$size": "x"}}, "integer literal"),
        ({"id": {"$mod": [0, 1]}}, "nonzero"),
        ({"a": {"$elemMatch": {"x": 1}}}, "operator-dict"),
        ({"a": {"$elemMatch": {"$exists": True}}},
         "unsupported operators"),
    ]:
        with pytest.raises(DocumentQueryError, match=msg):
            s.find("t", bad).collect()


def test_find_text_comment_where(spark):
    """$text OR-of-terms whole-token matching over the text column,
    $comment as a semantic no-op (alone or alongside predicates), and
    the $where JavaScript refusal."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "spark joins data"), (2, "fast scans"), (3, "slow Spark")],
        "id int, text string"))

    def ids(flt):
        return sorted(r["id"] for r in s.find("t", flt).collect())

    assert ids({"$text": {"$search": "spark"}}) == [1, 3]
    assert ids({"$text": {"$search": "spark scans"}}) == [1, 2, 3]
    assert ids({"$text": {"$search": "spar"}}) == []  # whole tokens
    assert ids({"$comment": "why not"}) == [1, 2, 3]
    assert ids({"id": {"$gte": 2}, "$comment": "x"}) == [2, 3]
    # $nor: fails every clause (null sub-conditions count as no-match)
    assert ids({"$nor": [{"id": 1}, {"text": {"$regex": "scans"}}]}) \
        == [3]
    with pytest.raises(DocumentQueryError, match="expects"):
        s.find("t", {"$text": {"$search": "  "}}).collect()
    with pytest.raises(DocumentQueryError, match="JavaScript"):
        s.find("t", {"$where": "this.id > 1"}).collect()


def test_group_stddev_accumulators(spark):
    """$stdDevSamp/$stdDevPop in $group (and inside $facet's masked
    form) — the same accumulator table serves both."""
    import math

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [("a", 10.0), ("a", 30.0), ("b", 7.0)], "g string, v double"))
    rows = {r["_id"]: r for r in s.aggregate("t", [
        {"$group": {"_id": "$g", "sds": {"$stdDevSamp": "$v"},
                    "sdp": {"$stdDevPop": "$v"}}},
        {"$sort": {"_id": 1}}]).collect()}
    assert math.isclose(rows["a"]["sds"], 14.142135623730951)
    assert math.isclose(rows["a"]["sdp"], 10.0)
    assert rows["b"]["sds"] is None and rows["b"]["sdp"] == 0.0


def test_window_fields_derivative_integral(spark):
    """$derivative/$integral over numeric and timestamp sortBy: exact
    trapezoid/slope values, null for one-document frames, unit algebra
    (hour), and the loud contracts (unit required for dates / forbidden
    for numerics, single ascending sortBy, month refused, __ names)."""
    import datetime as dt

    s = DocumentStore(spark)
    rows = [
        (i, "a" if i < 4 else "b",
         dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i * i))
        for i in range(8)
    ]
    s.register("t", spark.createDataFrame(
        rows, "id int, g string, ts timestamp, v double"))
    out = s.aggregate("t", [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"ts": 1},
            "output": {
                "dv": {"$derivative": {"input": "$v", "unit": "hour"},
                       "window": {"documents": [-1, "current"]}},
                "iv": {"$integral": {"input": "$v", "unit": "hour"},
                       "window": {"documents": ["unbounded", "current"]}},
            }}},
        {"$sort": {"id": 1}}, {"$limit": 20},
    ]).collect()
    got = [(r["id"], r["dv"], r["iv"]) for r in out]
    # v = i^2 on an hourly grid: slope between consecutive hours is
    # i^2-(i-1)^2 = 2i-1; running trapezoid area accumulates
    # (v_i+v_{i-1})/2 per hour step; partition heads: null slope, 0 area
    assert got == [
        (0, None, 0.0), (1, 1.0, 0.5), (2, 3.0, 3.0), (3, 5.0, 9.5),
        (4, None, 0.0), (5, 9.0, 20.5), (6, 11.0, 51.0), (7, 13.0, 93.5),
    ]
    # numeric sortBy: no unit, raw value deltas; derivative over the
    # whole partition (frame-less) = (last-first)/(id span)
    out2 = s.aggregate("t", [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"dv": {"$derivative": {"input": "$v"}}}}},
        {"$sort": {"id": 1}}, {"$limit": 20},
    ]).collect()
    assert [r["dv"] for r in out2] == [3.0] * 4 + [11.0] * 4  # (9-0)/3, (49-16)/3
    # a range frame works for $integral (the cumulative endpoint-diff
    # shape — a rows shift could not express it)
    out3 = s.aggregate("t", [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"iv": {"$integral": {"input": "$v"},
                              "window": {"range": [-2, 0]}}}}},
        {"$sort": {"id": 1}}, {"$limit": 20},
    ]).collect()
    # ids 0..3 in g=a: frame [-2,0] at id=2 holds ids 0..2 ->
    # (0+1)/2+(1+4)/2 = 3.0; at id=3 holds 1..3 -> (1+4)/2+(4+9)/2 = 9.0
    assert [r["iv"] for r in out3][:4] == [0.0, 0.5, 3.0, 9.0]
    for bad, msg in [
        ({"$derivative": {"input": "$v"}}, "requires a fixed-width unit"),
        ({"$derivative": {"input": "$v", "unit": "month"}},
         "requires a fixed-width unit"),
    ]:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"ts": 1},
                "output": {"x": bad}}}])
    with pytest.raises(DocumentQueryError, match="only to date"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"x": {"$integral": {"input": "$v",
                                           "unit": "hour"}}}}}])
    with pytest.raises(DocumentQueryError, match="single ascending"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"ts": -1},
            "output": {"x": {"$derivative": {"input": "$v",
                                             "unit": "hour"}}}}}])
    with pytest.raises(DocumentQueryError, match="must be numeric or date"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"g": 1},
            "output": {"x": {"$derivative": {"input": "$v"}}}}}])
    with pytest.raises(DocumentQueryError, match="reserved __"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"__x": {"$sum": "$v"}}}}])


def test_window_fields_exp_moving_avg(spark):
    """$expMovingAvg: Mongo's recursion (ema_1 = x_1, ema_i = α·x_i +
    (1-α)·ema_{i-1}) in both the N and alpha forms, plus the loud
    contracts (sortBy required, no frame, N xor alpha, bad N/alpha)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 4.0), (2, "a", 8.0), (3, "a", 2.0), (4, "b", 10.0)],
        "id int, g string, v double"))
    out = s.aggregate("t", [
        {"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {
                "e3": {"$expMovingAvg": {"input": "$v", "N": 3}},
                "eh": {"$expMovingAvg": {"input": "$v", "alpha": 0.5}},
            }}},
        {"$sort": {"id": 1}}, {"$limit": 10},
    ]).collect()
    got = [(r["id"], r["e3"], r["eh"]) for r in out]
    # N=3 -> alpha 0.5 here too: 4, 6, 4 ; partition b: 10
    assert got == [(1, 4.0, 4.0), (2, 6.0, 6.0), (3, 4.0, 4.0),
                   (4, 10.0, 10.0)]
    for bad, msg in [
        ({"input": "$v"}, "exactly one of N / alpha"),
        ({"input": "$v", "N": 3, "alpha": 0.5}, "exactly one of N / alpha"),
        ({"input": "$v", "N": 0}, "bad N"),
        ({"input": "$v", "alpha": 1.5}, "bad alpha"),
    ]:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"id": 1},
                "output": {"x": {"$expMovingAvg": bad}}}}])
    with pytest.raises(DocumentQueryError, match="requires sortBy"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g",
            "output": {"x": {"$expMovingAvg": {"input": "$v", "N": 3}}}}}])
    with pytest.raises(DocumentQueryError, match="takes no window frame"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"x": {"$expMovingAvg": {"input": "$v", "N": 3},
                             "window": {"documents": [-1, 0]}}}}}])


def test_nl2doc_rate_of_change_compiles(store):
    """'<cadence> rate of change of <m> [per <p>]' compiles to
    $setWindowFields $derivative with the consecutive-pair frame; the
    partition phrase may sit non-adjacent ('... for events per
    event_type'); daily cadence maps to unit day; without 'per' the
    window is unpartitioned. (The tier needs a date field, so it
    targets events — documents has none and falls through.)"""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query(
        "hourly rate of change of value for events per event_type"
    )
    swf = q["pipeline"][0]["$setWindowFields"]
    assert swf["partitionBy"] == "$event_type"
    assert swf["sortBy"] == {"ts": 1}
    assert swf["output"]["rate"] == {
        "$derivative": {"input": "$value", "unit": "hour"},
        "window": {"documents": [-1, "current"]},
    }
    q2 = eng.template_query("daily rate of change of value for events")
    swf2 = q2["pipeline"][0]["$setWindowFields"]
    assert "partitionBy" not in swf2
    assert swf2["output"]["rate"]["$derivative"]["unit"] == "day"


def test_group_selection_accumulators(spark):
    """$topN/$bottomN/$top/$bottom (comparator sort, ties -> output
    ascending), $minN/$maxN (value order), exact $median/$percentile;
    the loud contracts ($firstN/$lastN refusal, method required, bad n,
    bad sortBy, bad p)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 20.0), (4, "a", 5.0),
         (5, "b", 7.0)],
        "id int, g string, v double"))
    r = {row["_id"]: row for row in s.aggregate("t", [
        {"$group": {
            "_id": "$g",
            "top2": {"$topN": {"output": "$id", "sortBy": {"v": -1},
                               "n": 2}},
            "bot2": {"$bottomN": {"output": "$id", "sortBy": {"v": -1},
                                  "n": 2}},
            "t1": {"$top": {"output": "$id", "sortBy": {"v": -1}}},
            "b1": {"$bottom": {"output": "$id", "sortBy": {"v": -1}}},
            "min2": {"$minN": {"input": "$v", "n": 2}},
            "max2": {"$maxN": {"input": "$v", "n": 2}},
            "med": {"$median": {"input": "$v", "method": "approximate"}},
            "pct": {"$percentile": {"input": "$v", "p": [0.25, 0.5],
                                    "method": "approximate"}},
        }}, {"$sort": {"_id": 1}},
    ]).collect()}
    a = r["a"]
    # v desc sequence in group a: ids [2(30), 3(20), 1(10), 4(5)]
    assert a["top2"] == [2, 3] and a["bot2"] == [1, 4]
    assert a["t1"] == 2 and a["b1"] == 4
    assert a["min2"] == [5.0, 10.0] and a["max2"] == [30.0, 20.0]
    assert a["med"] == 15.0 and a["pct"] == [8.75, 15.0]
    b = r["b"]
    assert b["top2"] == [5] and b["bot2"] == [5] and b["med"] == 7.0
    # ties on the sort key break toward the OUTPUT ascending
    s.register("ties", spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 10.0), (4, 20.0)], "id int, v double"))
    row = s.aggregate("ties", [
        {"$group": {"_id": None,
                    "top2": {"$topN": {"output": "$id",
                                       "sortBy": {"v": -1}, "n": 2}},
                    "bot2": {"$bottomN": {"output": "$id",
                                          "sortBy": {"v": -1}, "n": 2}}}},
    ]).collect()[0]
    assert row["top2"] == [4, 1]       # 20 first, then tie -> id asc
    assert row["bot2"] == [2, 1]       # reversed ascending slice
    import pytest as _pt
    for bad, msg in [
        # r9: unsorted $firstN/$lastN now point at the sorted form
        # ($group's dispatch routes them to _first_last_agg); the
        # document-order refusal message survives on the masked/$facet
        # path only
        ({"$firstN": {"input": "$v", "n": 2}}, "preceding .sort"),
        ({"$lastN": {"input": "$v", "n": 2}}, "preceding .sort"),
        ({"$median": {"input": "$v"}}, "method"),
        ({"$percentile": {"input": "$v", "p": [0.5]}}, "method"),
        ({"$percentile": {"input": "$v", "p": [1.5],
                          "method": "approximate"}}, "fractions"),
        ({"$topN": {"output": "$id", "sortBy": {"v": -1}}}, "positive int"),
        ({"$topN": {"output": "$id", "sortBy": {"v": 0}, "n": 2}},
         "bad sortBy"),
        ({"$minN": {"n": 2}}, "needs input"),
    ]:
        with _pt.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$group": {"_id": "$g", "x": bad}}])


def test_nl2doc_median_percentile_compiles(store):
    """'median <m> per <g>' / '<P>th percentile of <m>' compile to the
    $median/$percentile accumulators; the percentile form unwraps its
    array via $arrayElemAt; ungrouped median gets _id None."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("median value per event_type for events")
    g = q["pipeline"][0]["$group"]
    assert g["_id"] == "$event_type"
    assert g["median_value"] == {
        "$median": {"input": "$value", "method": "approximate"}}
    q2 = eng.template_query(
        "90th percentile of value per event_type for events")
    g2 = q2["pipeline"][0]["$group"]
    assert g2["p90_value"] == {"$percentile": {
        "input": "$value", "p": [0.9], "method": "approximate"}}
    assert q2["pipeline"][1] == {"$addFields": {
        "p90_value": {"$arrayElemAt": ["$p90_value", 0]}}}
    q3 = eng.template_query("median n_chars for documents")
    assert q3["pipeline"][0]["$group"]["_id"] is None


def test_window_fields_nselect(spark):
    """Window-form $firstN/$lastN (sort-order frame slices) and
    $minN/$maxN (value order), framed and frame-less; loud contracts
    (sortBy required for first/last, literal positive n)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 20.0), (4, "a", 5.0),
         (5, "b", 7.0)],
        "id int, g string, v double"))
    rows = s.aggregate("t", [
        {"$setWindowFields": {"partitionBy": "$g", "sortBy": {"id": 1},
                              "output": {
            "f2": {"$firstN": {"input": "$v", "n": 2}},
            "l2": {"$lastN": {"input": "$v", "n": 2}},
            "m2": {"$minN": {"input": "$v", "n": 2}},
            "x2t": {"$maxN": {"input": "$v", "n": 2},
                    "window": {"documents": [-2, "current"]}},
        }}},
        {"$sort": {"id": 1}}, {"$limit": 10},
    ]).collect()
    r1, r3 = rows[0], rows[2]
    assert r1["f2"] == [10.0, 30.0] and r1["l2"] == [20.0, 5.0]
    assert r1["m2"] == [5.0, 10.0] and r1["x2t"] == [10.0]
    assert r3["x2t"] == [30.0, 20.0]
    assert rows[4]["l2"] == [7.0]  # short partition returns whole
    with pytest.raises(DocumentQueryError, match="requires sortBy"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g",
            "output": {"x": {"$firstN": {"input": "$v", "n": 2}}}}}])
    with pytest.raises(DocumentQueryError, match="positive int"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": 1},
            "output": {"x": {"$minN": {"input": "$v", "n": 0}}}}}])
    # rank-selection window forms: the op's OWN sortBy orders the
    # selection inside the frame
    rows2 = s.aggregate("t", [
        {"$setWindowFields": {"partitionBy": "$g", "sortBy": {"id": 1},
                              "output": {
            "t2": {"$topN": {"output": "$id", "sortBy": {"v": -1},
                             "n": 2}},
            "b1": {"$bottom": {"output": "$id", "sortBy": {"v": -1}},
                   "window": {"documents": [-1, "current"]}},
        }}},
        {"$sort": {"id": 1}}, {"$limit": 10},
    ]).collect()
    # whole-partition top2 by v desc in g=a: ids [2(30), 3(20)]
    assert rows2[0]["t2"] == [2, 3]
    # trailing-pair bottom (lowest v of {prev, current}): id1 alone -> 1;
    # {1(10),2(30)} -> 1; {2(30),3(20)} -> 3; {3(20),4(5)} -> 4
    assert [r["b1"] for r in rows2] == [1, 1, 3, 4, 5]


def test_window_fields_locf_linearfill_percentile(spark):
    """$locf (running last non-null), $linearFill (bracketing
    interpolation; boundary nulls stay null), window $median/$percentile
    (exact; framed + frame-less); loud contracts (no frame for
    locf/linearFill, method required, single ascending sortBy)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "a", None), (4, "a", 40.0),
         (5, "a", None), (6, "b", 7.0)],
        "id int, g string, v double"))
    rows = s.aggregate("t", [
        {"$setWindowFields": {"partitionBy": "$g", "sortBy": {"id": 1},
                              "output": {
            "lo": {"$locf": "$v"},
            "lf": {"$linearFill": "$v"},
            "md": {"$median": {"input": "$v", "method": "approximate"}},
            "pt": {"$percentile": {"input": "$v", "p": [0.5],
                                   "method": "approximate"},
                   "window": {"documents": [-1, "current"]}},
        }}},
        {"$sort": {"id": 1}}, {"$limit": 10},
    ]).collect()
    assert [r["lo"] for r in rows] == [10.0, 10.0, 10.0, 40.0, 40.0, 7.0]
    # id2 = 10 + 30*(2-1)/(4-1) = 20; id3 = 30; trailing null stays null
    assert [r["lf"] for r in rows] == [10.0, 20.0, 30.0, 40.0, None, 7.0]
    assert rows[0]["md"] == 25.0 and rows[5]["md"] == 7.0
    assert rows[1]["pt"] == [10.0] and rows[2]["pt"] is None
    for bad, msg in [
        ({"x": {"$locf": "$v", "window": {"documents": [-1, 0]}}},
         "no window frame"),
        ({"x": {"$linearFill": "$v", "window": {"documents": [-1, 0]}}},
         "no window frame"),
        ({"x": {"$median": {"input": "$v"}}}, "method"),
        ({"x": {"$percentile": {"input": "$v", "p": [2.0],
                                "method": "approximate"}}}, "fractions"),
    ]:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$setWindowFields": {
                "partitionBy": "$g", "sortBy": {"id": 1},
                "output": bad}}])
    with pytest.raises(DocumentQueryError, match="single ascending"):
        s.aggregate("t", [{"$setWindowFields": {
            "partitionBy": "$g", "sortBy": {"id": -1},
            "output": {"x": {"$linearFill": "$v"}}}}])
    # array-form $cond accepts a literal-null branch (q189's gappy
    # column); the dict form keeps its strict missing-key guard
    got = s.aggregate("t", [
        {"$addFields": {"gap": {"$cond": [{"$gt": ["$v", 20]},
                                          None, "$v"]}}},
        {"$sort": {"id": 1}}, {"$limit": 2},
    ]).collect()
    assert got[0]["gap"] == 10.0
    with pytest.raises(DocumentQueryError, match="if/then/else"):
        s.aggregate("t", [{"$addFields": {"gap": {"$cond": {
            "if": {"$gt": ["$v", 20]}, "then": None}}}}])


def test_group_first_last_sort_idiom(spark):
    """$first/$last in $group compile against the immediately preceding
    $sort's keys (min_by/max_by over a direction-normalized struct);
    $match between $sort and $group preserves the context; missing
    $sort, descending string keys, and projected-away keys are loud."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10.0, "x"), (2, "a", 30.0, "y"), (3, "a", 20.0, "z"),
         (4, "b", 7.0, "w")],
        "id int, g string, v double, tag string"))
    rows = s.aggregate("t", [
        {"$sort": {"v": -1}},
        {"$group": {"_id": "$g", "best": {"$first": "$id"},
                    "worst": {"$last": "$id"},
                    "best_tag": {"$first": "$tag"},
                    "n": {"$sum": 1}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    assert [(r["_id"], r["best"], r["worst"], r["best_tag"], r["n"])
            for r in rows] == [("a", 2, 1, "y", 3), ("b", 4, 4, "w", 1)]
    got = s.aggregate("t", [
        {"$sort": {"v": 1}},
        {"$match": {"v": {"$gt": 8}}},
        {"$group": {"_id": "$g", "lo": {"$first": "$v"}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    assert [(r["_id"], r["lo"]) for r in got] == [("a", 10.0)]
    with pytest.raises(DocumentQueryError, match="preceding .sort"):
        s.aggregate("t", [{"$group": {"_id": "$g",
                                      "x": {"$first": "$id"}}}])
    with pytest.raises(DocumentQueryError, match="no order inversion"):
        s.aggregate("t", [{"$sort": {"tag": -1}},
                          {"$group": {"_id": "$g",
                                      "x": {"$first": "$id"}}}])
    with pytest.raises(DocumentQueryError, match="preceding .sort"):
        s.aggregate("t", [
            {"$sort": {"v": -1}},
            {"$project": {"g": 1, "id": 1}},
            {"$group": {"_id": "$g", "x": {"$first": "$id"}}}])


def test_lookup_uncorrelated_broadcast_bound(spark):
    """The uncorrelated $lookup pipeline form materializes its payload
    on the driver before broadcasting; a hostile sub-pipeline (no
    $limit, huge foreign collection) must hit the threshold-derived
    row cap as a loud typed error — one bounded fetch, not a driver
    OOM. A shaped ($sort+$limit) sub-pipeline under the same threshold
    still works."""
    s = DocumentStore(spark)
    s.register("l", spark.createDataFrame([(1,)], "id int"))
    s.register("f", spark.range(1100).selectExpr("id", "id * 2 AS v"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16384")
    try:
        with pytest.raises(DocumentQueryError,
                           match="broadcast payload bound"):
            s.aggregate("l", [{"$lookup": {
                "from": "f", "pipeline": [], "as": "all_rows"}}])
        r = s.aggregate("l", [{"$lookup": {
            "from": "f",
            "pipeline": [{"$sort": {"id": 1}}, {"$limit": 5}],
            "as": "top"}}]).collect()
        assert [x["id"] for x in r[0]["top"]] == [0, 1, 2, 3, 4]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_group_first_last_n_sorted(spark):
    """$firstN/$lastN in $group under the sort-then-group idiom (r9):
    head/tail slices in the preceding $sort's order, clamped on small
    groups, descending keys normalized; unsorted stays the loud
    document-order refusal; n must be a literal positive int."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "a", 20.0), (4, "b", 7.0)],
        "id int, g string, v double"))
    rows = s.aggregate("t", [
        {"$sort": {"v": -1}},
        {"$group": {"_id": "$g",
                    "top2": {"$firstN": {"input": "$id", "n": 2}},
                    "tail2": {"$lastN": {"input": "$id", "n": 2}},
                    "vals3": {"$firstN": {"input": "$v", "n": 3}}}},
        {"$sort": {"_id": 1}},
    ]).collect()
    got = {r["_id"]: r for r in rows}
    assert got["a"]["top2"] == [2, 3]            # v desc: 30, 20
    assert got["a"]["tail2"] == [3, 1]           # last two, IN order
    assert got["a"]["vals3"] == [30.0, 20.0, 10.0]
    assert got["b"]["top2"] == [4] and got["b"]["tail2"] == [4]
    with pytest.raises(DocumentQueryError, match="preceding .sort"):
        s.aggregate("t", [{"$group": {
            "_id": "$g", "x": {"$firstN": {"input": "$id", "n": 2}}}}])
    with pytest.raises(DocumentQueryError, match="positive integer"):
        s.aggregate("t", [{"$sort": {"v": 1}}, {"$group": {
            "_id": "$g", "x": {"$lastN": {"input": "$id", "n": 0}}}}])


def test_group_merge_objects_sorted(spark):
    """$mergeObjects in $group rides the same sort-threading as
    $first/$firstN: later documents (in sort order) win on key
    collisions, null documents are ignored, and the unsorted form
    raises the preceding-$sort contract. Wrong operand counts on
    fixed-arity expression ops surface as the dialect's typed error."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", [[1, 10], [2, 20]]),
         (2, "a", [[2, 99], [3, 30]]),
         (3, "b", [[7, 70]])],
        "id int, g string, kvs array<array<int>>"))
    # build a map column from the kv pairs through the dialect itself
    mapped = [
        {"$addFields": {"m": {"$arrayToObject": {"$map": {
            "input": "$kvs", "as": "p",
            "in": {"k": {"$toString": {"$arrayElemAt": ["$$p", 0]}},
                   "v": {"$arrayElemAt": ["$$p", 1]}}}}}}},
    ]
    rows = {r["_id"]: r for r in s.aggregate("t", mapped + [
        {"$sort": {"id": 1}},
        {"$group": {"_id": "$g", "mo": {"$mergeObjects": "$m"}}},
        {"$sort": {"_id": 1}},
    ]).collect()}
    assert rows["a"]["mo"] == {"1": 10, "2": 99, "3": 30}
    assert rows["b"]["mo"] == {"7": 70}
    with pytest.raises(DocumentQueryError, match="preceding .sort"):
        s.aggregate("t", mapped + [
            {"$group": {"_id": "$g", "mo": {"$mergeObjects": "$m"}}}])
    with pytest.raises(DocumentQueryError, match="bad operand count"):
        s.aggregate("t", [{"$addFields": {
            "z": {"$atan2": [1.0, 2.0, 3.0]}}}])


def test_nl2doc_latest_per_group_compiles(store):
    """'<latest|earliest> <field> per <g>' compiles to $sort + $group
    $first (q190's idiom); 'earliest' flips the date direction."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("latest event_id per user_id for events")
    assert q["pipeline"][0] == {"$sort": {"ts": -1, "event_id": 1}}
    g = q["pipeline"][1]["$group"]
    assert g["_id"] == "$user_id"
    assert g["latest_event_id"] == {"$first": "$event_id"}
    q2 = eng.template_query("earliest event_id per event_type for events")
    assert q2["pipeline"][0] == {"$sort": {"ts": 1, "event_id": 1}}
    assert q2["pipeline"][1]["$group"]["earliest_event_id"] == {
        "$first": "$event_id"}
    # the optional count widens the idiom to the sorted $firstN N-form
    q3 = eng.template_query("latest 3 event_id per user_id for events")
    assert q3["pipeline"][0] == {"$sort": {"ts": -1, "event_id": 1}}
    assert q3["pipeline"][1]["$group"]["latest3_event_id"] == {
        "$firstN": {"input": "$event_id", "n": 3}}


def test_nl2doc_graph_traversal_compiles(store):
    """'all ancestors/descendants of X [up to N levels]' compiles to
    $graphLookup along the collection's self-referential parent field;
    the depth phrase becomes maxDepth (N levels → maxDepth N-1), and
    descendants swap the walk direction."""
    from pyspark.sql import SparkSession

    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        DocumentStore,
    )
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    spark = SparkSession.getActiveSession()
    s = DocumentStore(spark)
    s.register("doc_tree", spark.createDataFrame(
        [(1, 0, "a")], "doc_id long, parent long, source string"))
    eng = NL2DocEngine(s)
    q = eng.template_query("all ancestors of doc 450 up to 3 levels "
                           "for doc_tree")
    assert q["pipeline"][0] == {"$match": {"doc_id": 450}}
    g = q["pipeline"][1]["$graphLookup"]
    assert g["startWith"] == "$parent"
    assert g["connectFromField"] == "parent"
    assert g["connectToField"] == "doc_id"
    assert g["maxDepth"] == 2 and g["depthField"] == "depth"
    q2 = eng.template_query("all descendants of doc 7 for doc_tree")
    g2 = q2["pipeline"][1]["$graphLookup"]
    assert g2["startWith"] == "$doc_id"
    assert g2["connectFromField"] == "doc_id"
    assert g2["connectToField"] == "parent"
    assert "maxDepth" not in g2


def test_nl2doc_ema_compiles(store):
    """'<N> day exponential moving average of <m> per <g>' compiles to
    $setWindowFields $expMovingAvg with N from the span word, the date
    sortBy, and a unique final sort for the injected limit."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query(
        "7 day exponential moving average of value per event_type "
        "for events")
    swf = q["pipeline"][0]["$setWindowFields"]
    assert swf["partitionBy"] == "$event_type"
    assert swf["sortBy"] == {"ts": 1}
    assert swf["output"]["ema7_value"] == {
        "$expMovingAvg": {"input": "$value", "N": 7}}
    assert q["pipeline"][-1] == {"$sort": {"ts": 1, "event_id": 1}}


def test_r8_window_ops_plan_contracts(spark):
    """Machine-checked 100 TB plan shapes for the r8 window/group
    additions: the calculus trio + N-selection share ONE hash exchange
    and ONE sort (Window operators chain on the same spec); the EMA
    stage is one exchange + one Arrow group pass; $first/$last in
    $group ride the ordinary partial→final aggregate (one hash
    exchange, no window, no join)."""
    import datetime as dt

    s = DocumentStore(spark)
    rows = [
        (i, "a" if i % 2 == 0 else "b",
         dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), float(i))
        for i in range(12)
    ]
    s.register("t", spark.createDataFrame(
        rows, "id int, g string, ts timestamp, v double"))

    def final_plan(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return p.split("== Initial Plan ==")[0]

    calc = s.aggregate("t", [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"ts": 1},
        "output": {
            "dv": {"$derivative": {"input": "$v", "unit": "hour"},
                   "window": {"documents": [-2, "current"]}},
            "iv": {"$integral": {"input": "$v", "unit": "hour"}},
            "f2": {"$firstN": {"input": "$v", "n": 2}},
            "m2": {"$minN": {"input": "$v", "n": 2},
                   "window": {"documents": [-2, "current"]}},
        }}}])
    fp = final_plan(calc)
    assert fp.count("Exchange hashpartitioning") == 1, fp
    assert fp.count("+- Sort ") == 1, fp

    ema = s.aggregate("t", [{"$setWindowFields": {
        "partitionBy": "$g", "sortBy": {"ts": 1},
        "output": {"e": {"$expMovingAvg": {"input": "$v", "N": 3}}}}}])
    fp = final_plan(ema)
    assert fp.count("Exchange hashpartitioning") == 1, fp
    assert fp.count("FlatMapGroupsInPandas") == 1, fp

    fl = s.aggregate("t", [
        {"$sort": {"v": -1}},
        {"$group": {"_id": "$g", "best": {"$first": "$id"},
                    "n": {"$sum": 1}}},
    ])
    fp = final_plan(fl)
    assert fp.count("Exchange hashpartitioning") == 1, fp
    assert "Window" not in fp and "Join" not in fp, fp


def test_r9_ops_plan_contracts(spark):
    """Machine-checked 100 TB plan shapes for the r9 additions: both
    expression-dialect waves compile to projections with ZERO
    exchanges, zero Python evals, and zero joins over the scan (pure
    whole-stage codegen); $firstN/$lastN in $group ride the ordinary
    partial→final aggregate — exactly one hash exchange, no window, no
    join, and map-side partial aggregation present."""
    import datetime as dt

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", dt.date(2026, 1, 1 + i),
          float(i), f"{i}-WORD")
         for i in range(8)],
        "id int, g string, d date, v double, h string"))

    def final_plan(df):
        p = df._jdf.queryExecution().executedPlan().toString()
        return p.split("== Initial Plan ==")[0]

    proj = s.aggregate("t", [{"$addFields": {
        "ds": {"$dateToString": {"format": "%Y/%m", "date": "$d"}},
        "rm": {"$regexMatch": {"input": "$h", "regex": "WORD$"}},
        "rf": {"$getField": {"field": "idx", "input": {"$regexFind": {
            "input": "$h", "regex": "([0-9]+)"}}}},
        "lt": {"$let": {"vars": {"t": {"$divide": ["$v", 7]}},
                        "in": {"$add": ["$$t", "$$t"]}}},
        "wk": {"$week": "$d"}, "iwy": {"$isoWeekYear": "$d"},
        "rg": {"$range": [0, "$id"]},
        "zp": {"$zip": {"inputs": [["a"], ["b"]]}},
        "ro": {"$replaceOne": {"input": "$h", "find": "-",
                               "replacement": ":"}},
    }}])
    fp = final_plan(proj)
    assert "Exchange" not in fp, fp
    assert "BatchEvalPython" not in fp and "ArrowEvalPython" not in fp, fp
    assert "Join" not in fp, fp

    fl = s.aggregate("t", [
        {"$sort": {"v": -1}},
        {"$group": {"_id": "$g",
                    "top2": {"$firstN": {"input": "$id", "n": 2}},
                    "tail2": {"$lastN": {"input": "$id", "n": 2}}}},
    ])
    fp = final_plan(fl)
    assert fp.count("Exchange hashpartitioning") == 1, fp
    assert "Window" not in fp and "Join" not in fp, fp
    assert "partial_" in fp or "ObjectHashAggregate" in fp, fp


def test_nl2doc_topn_per_group_compiles(store):
    """'top <n> <o> by <m> per <g>' compiles to the $topN accumulator
    with the measure descending."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    eng = NL2DocEngine(store)
    q = eng.template_query("top 3 event_id by value per event_type for events")
    g = q["pipeline"][0]["$group"]
    assert g["_id"] == "$event_type"
    assert g["top3_event_id"] == {"$topN": {
        "output": "$event_id", "sortBy": {"value": -1}, "n": 3}}


def test_javascript_surface_pointed_refusals(spark):
    """$function/$accumulator/$redact get one-line redirects (the $where
    precedent): each names the alternative instead of the generic
    unsupported-operator error."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1, 2.0)], "id int, v double"))
    with pytest.raises(DocumentQueryError, match="expression operators"):
        s.aggregate("t", [{"$project": {
            "x": {"$function": {"body": "f", "args": [], "lang": "js"}}
        }}]).collect()
    with pytest.raises(DocumentQueryError, match="built-in accumulators"):
        s.aggregate("t", [{"$group": {"_id": None, "x": {
            "$accumulator": {"init": "f", "lang": "js"}
        }}}]).collect()
    with pytest.raises(DocumentQueryError, match=r"\$match.*\$project"):
        s.aggregate("t", [{"$redact": "$$PRUNE"}]).collect()


def test_text_without_text_column_typed_error(spark):
    """$text on a collection lacking the conventional ``text`` column
    raises the module's typed error (naming the available columns), not
    a raw Spark AnalysisException."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1, "x")], "id int, body string"))
    with pytest.raises(DocumentQueryError, match="'text' column"):
        s.find("t", {"$text": {"$search": "spark"}})
    # aggregate $match goes through the same guard
    with pytest.raises(DocumentQueryError, match="'text' column"):
        s.aggregate("t", [{"$match": {"$text": {"$search": "spark"}}}])


def test_logical_operators_empty_list_typed_error(spark):
    """$and/$or/$nor with an empty (or non-array) clause list raise the
    typed error, mirroring Mongo's validation — not an IndexError."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1,)], "id int"))
    for op in ("$and", "$or", "$nor"):
        with pytest.raises(DocumentQueryError, match="non-empty array"):
            s.find("t", {op: []})
        with pytest.raises(DocumentQueryError, match="non-empty array"):
            s.find("t", {op: {"id": 1}})


def test_on_null_takes_precedence_over_on_error(spark):
    """Null INPUT is not a parse/cast failure: $dateFromString and
    $convert return onNull (default null) for null inputs even when
    onError is present — onError claims parse failures only."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "2024-03-05 00:00:00", "7"), (2, None, None), (3, "bogus", "x")],
        "id int, ds string, n string"))
    rows = {r["id"]: r for r in s.aggregate("t", [
        {"$project": {
            "id": 1,
            "d_err": {"$dateFromString": {
                "dateString": "$ds",
                "onError": {"$toDate": "1999-01-01 00:00:00"}}},
            "d_both": {"$dateFromString": {
                "dateString": "$ds",
                "onError": {"$toDate": "1999-01-01 00:00:00"},
                "onNull": {"$toDate": "2001-01-01 00:00:00"}}},
            "n_err": {"$convert": {"input": "$n", "to": "int",
                                   "onError": -1}},
            "n_both": {"$convert": {"input": "$n", "to": "int",
                                    "onError": -1, "onNull": -2}},
        }},
        {"$sort": {"id": 1}},
    ]).collect()}
    assert rows[1]["d_err"].year == 2024 and rows[1]["n_err"] == 7
    # null input: onNull (default null) wins over onError
    assert rows[2]["d_err"] is None and rows[2]["n_err"] is None
    assert rows[2]["d_both"].year == 2001 and rows[2]["n_both"] == -2
    # genuine parse/cast failure: onError
    assert rows[3]["d_err"].year == 1999 and rows[3]["n_err"] == -1
    assert rows[3]["d_both"].year == 1999 and rows[3]["n_both"] == -1


def test_array_to_object_duplicate_keys_last_wins(spark):
    """$arrayToObject follows Mongo's documented last-value-wins on
    duplicate keys (Spark's map_from_entries default would throw)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1,)], "id int"))
    out = s.aggregate("t", [{"$project": {
        "m": {"$arrayToObject": {"$literal": [
            {"k": "a", "v": 1}, {"k": "b", "v": 2}, {"k": "a", "v": 3},
        ]}},
    }}]).collect()
    assert out[0]["m"] == {"a": 3, "b": 2}


def test_date_from_parts(spark):
    """$dateFromParts: full parts, defaults (year-only → Jan 1), null
    year → onNull-or-null even with onError, try-mode onError for
    out-of-range parts, and the pointed refusals (ISO week-date form,
    timezone, unknown fields); the strict tier throws loudly on a bad
    month (ANSI make_timestamp — documented divergence from Mongo's
    carry)."""
    import datetime as dt

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, 2024, 3, 5), (2, 2023, None, 9), (3, None, 1, 1)],
        "id int, y int, mo int, d int"))
    rows = {r["id"]: r for r in s.aggregate("t", [
        {"$project": {
            "id": 1,
            "full": {"$dateFromParts": {
                "year": "$y", "month": "$mo", "day": "$d",
                "hour": 7, "minute": 45, "second": 30,
                "millisecond": 250, "onNull": {"$toDate": "2001-01-01"}}},
            "y_only": {"$dateFromParts": {"year": {"$ifNull": ["$y", 1999]}}},
            "guarded": {"$dateFromParts": {
                "year": {"$ifNull": ["$y", 1999]},
                "month": {"$multiply": [{"$ifNull": ["$mo", 1]}, 5]},
                "onError": {"$toDate": "1990-06-15"}}},
        }},
        {"$sort": {"id": 1}}]).collect()}
    assert rows[1]["full"] == dt.datetime(2024, 3, 5, 7, 45, 30, 250000)
    assert rows[1]["y_only"] == dt.datetime(2024, 1, 1)
    # month 3*5=15 out of range -> onError; month 1*5=5 fine (row 3)
    assert rows[1]["guarded"] == dt.datetime(1990, 6, 15)
    assert rows[3]["guarded"] == dt.datetime(1999, 5, 1)
    # null month propagates null through make_timestamp
    assert rows[2]["full"] is None
    # null YEAR -> onNull wins (not onError, not a throw)
    assert rows[3]["full"] == dt.datetime(2001, 1, 1)
    # strict tier: out-of-range month throws at execution (ANSI)
    with pytest.raises(Exception):
        s.aggregate("t", [{"$project": {"x": {"$dateFromParts": {
            "year": 2024, "month": 13}}}}]).collect()
    for bad, msg in [
        ({"isoWeekYear": 2024}, "ISO week-date"),
        ({"year": 2024, "timezone": "UTC"}, "timezone"),
        ({"year": 2024, "frobs": 1}, "unknown fields"),
        ({"month": 5}, "needs year"),
    ]:
        with pytest.raises(DocumentQueryError, match=msg):
            s.aggregate("t", [{"$project": {
                "x": {"$dateFromParts": bad}}}]).collect()


def test_regex_find_all(spark):
    """$regexFindAll: every match as {match, idx, captures}, exact
    0-based offsets for repeated matches, capture-group alignment,
    [] on null input and on no-match, empty-match advance, and the
    left-context-assertion refusal (while '^' inside a character
    class — negation — stays allowed)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "ab ab cab"), (2, "no digits"), (3, None)],
        "id int, txt string"))
    rows = {r["id"]: r for r in s.aggregate("t", [
        {"$project": {
            "id": 1,
            "all": {"$regexFindAll": {"input": "$txt",
                                      "regex": "a(b)"}},
            "negcls": {"$map": {
                "input": {"$regexFindAll": {"input": "$txt",
                                            "regex": "[^ ]+"}},
                "as": "m",
                "in": {"$getField": {"field": "idx", "input": "$$m"}}}},
        }},
        {"$sort": {"id": 1}}]).collect()}
    got = [(m["match"], m["idx"], list(m["captures"]))
           for m in rows[1]["all"]]
    assert got == [("ab", 0, ["b"]), ("ab", 3, ["b"]), ("ab", 7, ["b"])]
    assert list(rows[1]["negcls"]) == [0, 3, 6]
    assert list(rows[2]["all"]) == []   # no match -> []
    assert list(rows[3]["all"]) == []   # null input -> [] (Mongo)
    for pat in ("^a", r"\bword", r"x\By", "(?<=a)b"):
        with pytest.raises(DocumentQueryError, match="left-context"):
            s.aggregate("t", [{"$project": {"x": {"$regexFindAll": {
                "input": "$txt", "regex": pat}}}}]).collect()
    # lookAHEAD consults right context only — allowed and exact
    out = s.aggregate("t", [
        {"$match": {"id": 1}},
        {"$project": {"x": {"$regexFindAll": {
            "input": "$txt", "regex": "a(?=b)"}}}}]).collect()
    assert [(m["match"], m["idx"]) for m in out[0]["x"]] \
        == [("a", 0), ("a", 3), ("a", 7)]


def test_substr_bytes_and_type_introspection(spark):
    """$substrBytes slices UTF-8 bytes (2-byte é shifts following
    bytes); $isNumber/$type map the column type per row with a null
    gate."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "héllo", 2.5, [1, 2]), (2, "plain", None, None)],
        "id int, txt string, v double, arr array<int>"))
    rows = {r["id"]: r for r in s.aggregate("t", [
        {"$project": {
            "id": 1,
            "sb": {"$substrBytes": ["$txt", 3, 3]},
            "nbytes": {"$toLong": {"$strLenBytes": "$txt"}},
            "in_v": {"$isNumber": "$v"},
            "in_txt": {"$isNumber": "$txt"},
            "t_v": {"$type": "$v"},
            "t_id": {"$type": "$id"},
            "t_txt": {"$type": "$txt"},
            "t_arr": {"$type": "$arr"},
        }},
        {"$sort": {"id": 1}}]).collect()}
    # "héllo" = h(1) é(2) l l o -> bytes 3..5 are "llo"
    assert rows[1]["sb"] == "llo" and rows[1]["nbytes"] == 6
    assert rows[2]["sb"] == "in"  # ASCII: bytes==chars, 2 bytes left
    assert rows[1]["in_v"] is True and rows[1]["in_txt"] is False
    assert rows[2]["in_v"] is False            # null is not a number
    assert rows[1]["t_v"] == "double" and rows[2]["t_v"] == "null"
    assert rows[1]["t_id"] == "int" and rows[1]["t_txt"] == "string"
    assert rows[1]["t_arr"] == "array" and rows[2]["t_arr"] == "null"


def test_nl2doc_monthly_grain_compile_shape(spark):
    """'per month as YYYY-MM' compiles to the $dateToString group key
    ($addFields month render → $group count/total → sort), and the
    'by year-month' synonym reaches the same tier."""
    import datetime as dt

    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("events", spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5), 10.0),
         (2, dt.datetime(2024, 1, 20), 5.0),
         (3, dt.datetime(2024, 3, 2), 7.0)],
        "event_id int, ts timestamp, value double"))
    eng = NL2DocEngine(s)
    q = eng.template_query("total value per month as YYYY-MM for events")
    stages = q["pipeline"]
    assert stages[0] == {"$addFields": {"month": {"$dateToString": {
        "format": "%Y-%m", "date": "$ts"}}}}
    assert stages[1]["$group"] == {
        "_id": "$month", "n": {"$sum": 1}, "total_value": {"$sum": "$value"}}
    q2 = eng.template_query("counts by year-month for events")
    assert q2["pipeline"][0]["$addFields"]["month"]["$dateToString"][
        "format"] == "%Y-%m"
    rows = {r["_id"]: r for r in s.aggregate("events", stages).collect()}
    assert rows["2024-01"]["n"] == 2 and rows["2024-01"]["total_value"] == 15.0
    assert rows["2024-03"]["n"] == 1


def test_nl2doc_regex_predicate_compile_shape(spark):
    """"<field> matching '<pattern>'" compiles to $regexMatch inside an
    $expr $match (pattern read case-SENSITIVELY from the raw question),
    per-group when a 'per' phrase follows; the 'containing a number'
    sugar maps to [0-9] and drops the filter extractor's spurious
    substring-'a' evidence; a numeric target field refuses the tier
    (falls through, no $regexMatch)."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "Call 911 now", "en"), (2, "no digits here", "de"),
         (3, "agent 007", "de")],
        "id int, body string, lang string"))
    eng = NL2DocEngine(s)
    q = eng.template_query("t rows whose body matches 'Call [0-9]+' per lang")
    assert q["pipeline"][0] == {"$match": {"$expr": {"$regexMatch": {
        "input": "$body", "regex": "Call [0-9]+"}}}}
    assert q["pipeline"][1]["$group"]["_id"] == "$lang"
    out = {r["_id"]: r["n"] for r in s.aggregate("t", q["pipeline"]).collect()}
    assert out == {"en": 1}
    # sugar: 'containing a number' -> [0-9], total row when no 'per'
    q2 = eng.template_query("count of t rows with body containing a number")
    assert q2["pipeline"][0]["$match"]["$expr"]["$regexMatch"]["regex"] \
        == "[0-9]"
    assert q2["pipeline"][1]["$group"]["_id"] is None
    assert s.aggregate("t", q2["pipeline"]).collect()[0]["n"] == 2
    # numeric field: the tier declines
    q3 = eng.template_query("t rows whose id matches '42' per lang")
    assert "$regexMatch" not in str(q3)


def test_documents_stage(spark):
    """$documents (Mongo 5.1): db-level aggregate over literal docs —
    schema = first-seen key order with the dialect's type rules
    (int→long, long+double widens, missing→null, nested dict→struct);
    works as the coll-less $unionWith source; every misuse is a loud
    typed error (mid-pipeline, against a collection, expression
    values, field paths, drift)."""
    s = DocumentStore(spark)
    out = s.aggregate(None, [
        {"$documents": [
            {"k": "a", "v": 1, "tags": ["x", "y"]},
            {"k": "b", "v": 2.5, "extra": {"deep": 7}},
        ]},
        {"$sort": {"k": 1}},
    ])
    assert [f.name for f in out.schema.fields] == ["k", "v", "tags", "extra"]
    assert str(out.schema["v"].dataType) == "DoubleType()"
    rows = out.collect()
    assert rows[0]["k"] == "a" and rows[0]["v"] == 1.0
    assert rows[0]["extra"] is None and list(rows[0]["tags"]) == ["x", "y"]
    assert rows[1]["extra"]["deep"] == 7 and rows[1]["tags"] is None
    # groupable like any collection
    [tot] = s.aggregate(None, [
        {"$documents": [{"v": 1}, {"v": 2}, {"v": 3}]},
        {"$group": {"_id": None, "total": {"$sum": "$v"}}},
    ]).collect()
    assert tot["total"] == 6
    # coll-less $unionWith whose sub-pipeline starts with $documents
    s.register("t", spark.createDataFrame([(1, "real")], "v long, k string"))
    got = s.aggregate("t", [
        {"$unionWith": {"pipeline": [
            {"$documents": [{"k": "lit", "v": 9}]},
            {"$project": {"v": 1, "k": 1}},
        ]}},
        {"$sort": {"v": 1}},
    ]).collect()
    assert [(r["v"], r["k"]) for r in got] == [(1, "real"), (9, "lit")]
    # error contracts
    with pytest.raises(DocumentQueryError, match="first stage"):
        s.aggregate(None, [{"$documents": [{"a": 1}]},
                           {"$documents": [{"a": 2}]}])
    with pytest.raises(DocumentQueryError, match="database"):
        s.aggregate("t", [{"$documents": [{"a": 1}]}])
    with pytest.raises(DocumentQueryError, match="start with"):
        s.aggregate(None, [{"$match": {"a": 1}}])
    with pytest.raises(DocumentQueryError, match="LITERAL"):
        s.aggregate(None, [{"$documents": [{"a": {"$add": [1, 2]}}]}])
    with pytest.raises(DocumentQueryError, match="field path"):
        s.aggregate(None, [{"$documents": [{"a": "$b"}]}])
    with pytest.raises(DocumentQueryError, match="type drift"):
        s.aggregate(None, [{"$documents": [{"a": 1}, {"a": "x"}]}])
    with pytest.raises(DocumentQueryError, match="non-empty"):
        s.aggregate(None, [{"$documents": []}])
    # r12 advice closure: a non-string key would get a str()-named
    # field whose value silently dropped to null — loud error instead
    with pytest.raises(DocumentQueryError, match="must be strings"):
        s.aggregate(None, [{"$documents": [{1: "x"}]}])
    with pytest.raises(DocumentQueryError, match="must be strings"):
        s.aggregate(None, [{"$documents": [{"a": {2: "y"}}]}])


def test_regex_bad_pattern_typed_error(spark):
    """ADVICE r11: a malformed regex raises the module's typed error
    for EVERY $regex* op — including $regexMatch, which needs no group
    count — instead of a raw Spark execution exception; the nl71 NL
    tier feeds user-quoted patterns straight through this path."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "abc", "en")], "id int, body string, lang string"))
    for op in ("$regexMatch", "$regexFind", "$regexFindAll"):
        with pytest.raises(DocumentQueryError, match="bad pattern"):
            s.aggregate("t", [{"$project": {"x": {op: {
                "input": "$body", "regex": "["}}}}])
    # end-to-end: the NL tier compiles the quoted pattern verbatim and
    # execution surfaces the typed error, never a py4j traceback
    eng = NL2DocEngine(s)
    q = eng.template_query("t rows whose body matches '[' per lang")
    if "$regexMatch" in str(q):
        with pytest.raises(DocumentQueryError, match="bad pattern"):
            s.aggregate(q["collection"], q["pipeline"])


def test_regex_java_python_dialect_bridge(spark):
    """ADVICE r12: execution is JAVA regex, so the compile-time probe
    bridges dialects instead of narrowing the surface — Java named
    groups ``(?<y>...)`` and backrefs ``\\k<y>`` VALIDATE and RUN
    (previously rejected by the raw Python-re probe), lookbehind is
    untouched by the rewrite, and Python-only ``(?P<y>...)`` spelling
    is refused with a typed error naming the Java form (previously it
    passed validation and died with the raw Spark exception)."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "12-URGENT")], "id int, body string"))
    row = s.aggregate("t", [{"$project": {
        "named": {"$regexMatch": {
            "input": "$body", "regex": "(?<num>[0-9]+)-[A-Z]+"}},
        "backref": {"$regexMatch": {
            "input": "$body", "regex": "(?<d>[0-9])\\k<d>?"}},
        "behind": {"$regexMatch": {
            "input": "$body", "regex": "(?<=12-)URGENT"}},
        "found": {"$regexFind": {
            "input": "$body", "regex": "(?<num>[0-9]+)"}},
    }}]).collect()[0]
    assert row["named"] is True
    assert row["backref"] is True
    assert row["behind"] is True
    assert row["found"]["match"] == "12"
    for bad in ("(?P<y>[0-9]+)", "(?P=y)"):
        with pytest.raises(DocumentQueryError, match="Python-only"):
            s.aggregate("t", [{"$project": {"x": {"$regexMatch": {
                "input": "$body", "regex": bad}}}}])
    # r13 advice fix: an ESCAPED backslash followed by plain-text k<x>
    # (pattern chars \\k<x>) is valid Java regex and must NOT be
    # rewritten as a named backref — the naive rewrite produced an
    # uncompilable probe and a false typed rejection. It validates and
    # runs (no row contains a literal backslash, so it matches False),
    # while a REAL backref after an escaped backslash still rewrites.
    s2 = DocumentStore(spark)
    s2.register("u", spark.createDataFrame(
        [(1, "\\k<x>"), (2, "a77b")], "id int, body string"))
    rows = {r["id"]: r for r in s2.aggregate("u", [{"$project": {
        "id": 1,
        "lit_bs": {"$regexMatch": {
            "input": "$body", "regex": "\\\\k<x>"}},
        "bs_then_backref": {"$regexMatch": {
            "input": "$body", "regex": "(?<d>[0-9])\\\\?\\k<d>"}},
    }}]).collect()}
    assert rows[1]["lit_bs"] is True and rows[2]["lit_bs"] is False
    assert rows[2]["bs_then_backref"] is True


def test_shift_default_must_be_constant_scalar(spark):
    """ADVICE r11: $shift's 'default' is a CONSTANT scalar (Mongo
    rejects non-constant expressions loudly) — expression documents,
    arrays, and '$field' paths get the typed error instead of being
    silently treated as Python literals or dying in py4j; a bare
    {$literal: scalar} unwraps."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, 10), (2, 20)], "id int, v int"))

    def swf(default):
        return [{"$setWindowFields": {
            "sortBy": {"id": 1},
            "output": {"nxt": {"$shift": {
                "output": "$v", "by": 1, "default": default}}},
        }}, {"$sort": {"id": 1}}]

    for bad in ({"$add": [1, 2]}, "$v", [1], {"$literal": {"a": 1}}):
        with pytest.raises(DocumentQueryError, match="constant scalar"):
            s.aggregate("t", swf(bad))
    rows = s.aggregate("t", swf({"$literal": -1})).collect()
    assert [r["nxt"] for r in rows] == [20, -1]
    rows2 = s.aggregate("t", swf(-1)).collect()
    assert [r["nxt"] for r in rows2] == [20, -1]


def test_rand_sample_rate_pointed_refusals(spark):
    """$rand (expression) and $sampleRate ($match operator) are
    nondeterministic — both get pointed redirects to the engine's
    deterministic $sample contract."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame([(1,)], "id int"))
    with pytest.raises(DocumentQueryError, match="deterministic"):
        s.aggregate("t", [{"$project": {"r": {"$rand": {}}}}]).collect()
    with pytest.raises(DocumentQueryError, match="deterministic"):
        s.find("t", {"$sampleRate": 0.3})


def test_nl2doc_distinct_count_compile_shape(spark):
    """'how many distinct <f> per <g>' compiles to $addToSet → $size
    (nl24's COUNT DISTINCT surface on the document plane); the
    group-less form collapses to one total row."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "u1", "click"), (2, "u2", "click"), (3, "u1", "view"),
         (4, "u1", "click")],
        "id int, who string, kind string"))
    eng = NL2DocEngine(s)
    q = eng.template_query("how many distinct who per kind for t")
    g = q["pipeline"][0]["$group"]
    assert g["_id"] == "$kind" and g["__set"] == {"$addToSet": "$who"}
    rows = {r["_id"]: r["n_distinct_who"]
            for r in s.aggregate("t", q["pipeline"]).collect()}
    assert rows == {"click": 2, "view": 1}
    q2 = eng.template_query("number of unique kind for t")
    assert q2["pipeline"][0]["$group"]["_id"] is None
    assert s.aggregate("t", q2["pipeline"]).collect()[0][
        "n_distinct_kind"] == 2


def test_nl2doc_pct_share_compile_shape(spark):
    """'percentage of <coll> per <g>' compiles to group counts + an
    uncorrelated one-row-total $lookup + computed pct (no global
    window); a filter prelude applies to both the groups and the
    total."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 400)],
        "id int, kind string, v int"))
    eng = NL2DocEngine(s)
    q = eng.template_query("percentage of t per kind")
    stages = q["pipeline"]
    assert stages[0]["$group"] == {"_id": "$kind", "n": {"$sum": 1}}
    assert stages[1]["$lookup"]["pipeline"][-1]["$group"]["total"] == {
        "$sum": 1}
    rows = {r["_id"]: r for r in s.aggregate("t", stages).collect()}
    assert rows["a"]["pct"] == 50.0 and rows["b"]["n"] == 2
    # filtered form: share within the filtered set (both sides match)
    q2 = eng.template_query("percentage of t with v over 15 per kind")
    assert q2["pipeline"][0] == {"$match": {"v": {"$gt": 15}}}
    lk = [st for st in q2["pipeline"] if "$lookup" in st][0]
    assert lk["$lookup"]["pipeline"][0] == {"$match": {"v": {"$gt": 15}}}
    rows2 = {r["_id"]: r for r in s.aggregate("t", q2["pipeline"]).collect()}
    assert rows2["a"]["n"] == 1 and rows2["b"]["n"] == 2
    assert round(rows2["a"]["pct"], 4) == round(100 / 3, 4)


def test_nl2doc_having_count_compile_shape(spark):
    """'<g>s with <cmp> N <coll>' (nl75, r12) compiles to $group + a
    post-group $match on the count — the SQL plane's nl29/nl30 HAVING
    surface on the document plane. The counted noun must name the
    COLLECTION ('kinds with at least 2 t'); 'with <field> over N'
    phrasing stays a row-level comparison (nl74's lane, no $group
    threshold), and every comparison word maps to its operator."""
    from dbt_nlp_sqlizer_team04_spark.plans.nl2doc import NL2DocEngine

    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)],
        "id int, kind string, v int"))
    eng = NL2DocEngine(s)
    q = eng.template_query("kinds with at least 2 ts")
    assert q["pipeline"][0] == {
        "$group": {"_id": "$kind", "n_t": {"$sum": 1}}}
    assert q["pipeline"][1] == {"$match": {"n_t": {"$gte": 2}}}
    rows = s.aggregate("t", q["pipeline"]).collect()
    assert [(r["_id"], r["n_t"]) for r in rows] == [("a", 2)]
    for word, op in (("more than", "$gt"), ("over", "$gt"),
                     ("at most", "$lte"), ("fewer than", "$lt"),
                     ("under", "$lt")):
        q2 = eng.template_query(f"kinds with {word} 1 ts")
        assert q2["pipeline"][1] == {"$match": {"n_t": {op: 1}}}, word
    # row-level comparison phrasing is NOT captured by this tier
    q3 = eng.template_query("percentage of t with v over 15 per kind")
    assert q3["pipeline"][0] == {"$match": {"v": {"$gt": 15}}}
    # measure form (nl76): "<g>s with average <m> above N" -> $group
    # $avg + post-group $match on the RAW aggregate, rounded render
    # after the threshold (nl30's convention on the document plane)
    q4 = eng.template_query("kinds with average v above 12")
    assert q4["pipeline"][0] == {
        "$group": {"_id": "$kind", "avg_v": {"$avg": "$v"}}}
    assert q4["pipeline"][1] == {"$match": {"avg_v": {"$gt": 12}}}
    assert q4["pipeline"][2] == {
        "$addFields": {"avg_v": {"$round": ["$avg_v", 4]}}}
    rows4 = s.aggregate("t", q4["pipeline"]).collect()
    assert [(r["_id"], r["avg_v"]) for r in rows4] == [
        ("a", 15.0), ("b", 30.0)]
    for word, acc in (("total", "$sum"), ("maximum", "$max"),
                      ("min", "$min")):
        q5 = eng.template_query(f"kinds with {word} v at least 20")
        assert q5["pipeline"][0]["$group"][f"{acc[1:]}_v"] == {
            acc: "$v"}, word
        assert q5["pipeline"][1] == {
            "$match": {f"{acc[1:]}_v": {"$gte": 20}}}, word


def test_expr_dialect_r10_random_sweep(spark):
    """Seeded 300-row differential sweep of the r10 operators whose
    semantics have exact stdlib references: $regexFindAll's
    match/idx/captures triples vs re.finditer (incl. empty-matchable
    patterns — the one-position advance — alternation whose branches
    reorder the leftmost match, non-participating capture groups
    mapped to '' per the documented regexp_extract convention, a
    right-context $ anchor, which the left-context guard allows, AND
    astral-plane input: a second string column carries U+1F600, so idx
    parity vs Python's m.start() pins Mongo's CODE-POINT offset
    contract — a UTF-16 implementation would report emoji as 2
    positions and fail here. The one empty-matchable pattern (p10) is
    swept on the BMP column only: Java's code-unit advance after an
    empty match adds a spurious zero-length match inside each
    surrogate pair — the documented residual divergence. Also
    $dateFromParts vs datetime() over valid random parts — one Spark
    job, row-wise equality."""
    import datetime
    import random
    import re as _re

    rng = random.Random(4321)
    rows = []
    for i in range(300):
        s = "".join(rng.choice("aabbc x") for _ in range(rng.randrange(16)))
        sx = "".join(
            rng.choice("aabbc x\U0001f600") for _ in range(rng.randrange(16))
        )
        y = rng.randrange(1, 9999)
        mo = rng.randrange(1, 13)
        d = rng.randrange(1, 29)
        h = rng.randrange(0, 24)
        rows.append((i, s, sx, y, mo, d, h))
    pats = {
        "p0": "a",
        "p1": "a+",
        "p2": "a*b",
        "p3": "[ab]+",
        "p4": "a|bb",
        "p5": "(a)(b+)?",
        "p6": "a.b",
        "p7": "(ab)+",
        "p8": "a{2,3}",
        "p9": "b+$",
        "p10": "a*",  # empty-matchable: pins the advance-one rule
        "p11": "c(?= )",  # lookAHEAD (right context) stays allowed
    }
    s_ = DocumentStore(spark)
    s_.register("t", spark.createDataFrame(
        rows, "i int, s string, sx string, y int, mo int, d int, h int"))
    fields = {
        k: {"$regexFindAll": {"input": "$s", "regex": p}}
        for k, p in pats.items()
    }
    # astral column: every pattern except the empty-matchable p10
    # (Java's code-unit advance — documented residual divergence)
    fields |= {
        f"{k}x": {"$regexFindAll": {"input": "$sx", "regex": p}}
        for k, p in pats.items() if k != "p10"
    }
    fields["ts"] = {"$dateFromParts": {
        "year": "$y", "month": "$mo", "day": "$d", "hour": "$h",
        "minute": 30, "second": 15}}
    out = {r["i"]: r for r in s_.aggregate(
        "t", [{"$addFields": fields}, {"$limit": 1000}]
    ).collect()}

    def ref(p, text):
        return [
            (m.group(0), m.start(),
             [g if g is not None else "" for g in m.groups()])
            for m in _re.finditer(p, text)
        ]

    for i, s, sx, y, mo, d, h in rows:
        r = out[i]
        for k, p in pats.items():
            got = [(m["match"], m["idx"], list(m["captures"]))
                   for m in r[k]]
            assert got == ref(p, s), (p, s, got)
            if k != "p10":
                gotx = [(m["match"], m["idx"], list(m["captures"]))
                        for m in r[f"{k}x"]]
                assert gotx == ref(p, sx), (p, sx, gotx)
        assert r["ts"] == datetime.datetime(y, mo, d, h, 30, 15), (i,)


def test_binary_size(spark):
    """$binarySize: UTF-8 byte size for strings, raw length for binary
    columns, null-propagating."""
    s = DocumentStore(spark)
    s.register("t", spark.createDataFrame(
        [(1, "héllo", b"\x00\x01\x02"), (2, None, None)],
        "id int, txt string, blob binary"))
    rows = {r["id"]: r for r in s.aggregate("t", [
        {"$project": {"id": 1,
                      "bs": {"$binarySize": "$txt"},
                      "bb": {"$binarySize": "$blob"}}},
        {"$sort": {"id": 1}}]).collect()}
    assert rows[1]["bs"] == 6 and rows[1]["bb"] == 3
    assert rows[2]["bs"] is None and rows[2]["bb"] is None


# ------------------------------------------- expression compiler battery
# Mongo expression documents compile to one SQL string (documents._ref).
# The pinned reference (tests/expr_compiler_reference.json, inputs in
# tests/expr_battery.py) holds the canonicalized optimized plan and the
# rows of every spec below, and of the correlated-$lookup shapes, as the
# per-node Column compiler the SQL compiler replaced built them; the
# compiler must reproduce both exactly. The reference is data from that
# earlier compiler and is never regenerated from the current one.
_FAST_PATH_SPECS = [
    # comparisons / boolean / cond
    {"$eq": ["$n_chars", 100]},
    {"$ne": ["$lang", "en"]},
    {"$gt": ["$n_chars", {"$add": [100, 1]}]},
    {"$and": [{"$gte": ["$n_chars", 10]}, {"$lt": ["$n_chars", 500]}]},
    {"$or": [{"$eq": ["$lang", "en"]}, {"$eq": ["$lang", "de"]}]},
    {"$not": [{"$eq": ["$lang", "en"]}]},
    {"$cond": [{"$gt": ["$n_chars", 100]}, "big", "small"]},
    {"$cond": [{"$gt": ["$n_chars", 100]}, 1, None]},
    {"$cond": {"if": {"$gt": ["$n_chars", 100]}, "then": 1, "else": 0}},
    {"$switch": {"branches": [
        {"case": {"$lt": ["$n_chars", 50]}, "then": "xs"},
        {"case": {"$lt": ["$n_chars", 200]}, "then": "m"}],
        "default": "xl"}},
    {"$switch": {"branches": [
        {"case": {"$lt": ["$n_chars", 50]}, "then": "xs"}]}},
    {"$cmp": ["$n_chars", 150]},
    {"$strcasecmp": ["$lang", "EN"]},
    {"$ifNull": ["$lang", "??"]},
    # arithmetic / math
    {"$add": ["$n_chars", 1, 2.5]},
    {"$subtract": ["$n_chars", 7]},
    {"$multiply": ["$n_chars", 2, 3]},
    {"$divide": ["$n_chars", 4]},
    {"$mod": ["$n_chars", 10]},
    {"$abs": {"$subtract": ["$n_chars", 200]}},
    {"$ceil": {"$divide": ["$n_chars", 7]}},
    {"$floor": {"$divide": ["$n_chars", 7]}},
    {"$round": [{"$divide": ["$n_chars", 7]}, 2]},
    {"$trunc": [{"$divide": ["$n_chars", 7]}, 1]},
    {"$pow": ["$n_chars", 2]},
    {"$sqrt": "$n_chars"},
    {"$exp": {"$divide": ["$n_chars", 1000]}},
    {"$ln": "$n_chars"},
    {"$log10": "$n_chars"},
    {"$log": ["$n_chars", 2]},
    {"$sin": "$n_chars"}, {"$cos": "$n_chars"}, {"$tan": "$n_chars"},
    {"$atan2": ["$n_chars", 3]},
    {"$degreesToRadians": "$n_chars"},
    {"$bitAnd": ["$n_chars", 12, 6]},
    {"$bitOr": ["$n_chars", 1]},
    {"$bitXor": ["$n_chars", 255]},
    {"$bitNot": "$n_chars"},
    # strings
    {"$toUpper": "$lang"}, {"$toLower": "$text"},
    {"$concat": ["$lang", "-", "$source"]},
    {"$strLenCP": "$text"}, {"$strLenBytes": "$text"},
    {"$binarySize": "$text"},
    {"$trim": " x "}, {"$ltrim": " x "}, {"$rtrim": " x "},
    {"$trim": {"input": "$lang", "chars": "ne"}},
    {"$split": ["$text", " "]},
    {"$substrCP": ["$text", 2, 5]},
    {"$substrBytes": ["$text", 0, 4]},
    {"$indexOfCP": ["$text", "the"]},
    {"$indexOfCP": ["$text", "the", 2, 40]},
    {"$replaceAll": {"input": "$lang", "find": "e", "replacement": "E"}},
    {"$replaceOne": {"input": "$text", "find": "the",
                     "replacement": "THE"}},
    # casts
    {"$toString": "$n_chars"}, {"$toInt": {"$divide": ["$n_chars", 2]}},
    {"$toLong": "$n_chars"}, {"$toDouble": "$n_chars"},
    {"$toBool": {"$mod": ["$n_chars", 2]}},
    {"$toDecimal": "$n_chars"},
    {"$toDate": "2024-01-02"},
    # arrays / sets / lambdas
    {"$size": {"$split": ["$text", " "]}},
    {"$in": ["$lang", ["en", "de", "fr"]]},
    {"$arrayElemAt": [{"$split": ["$text", " "]}, 1]},
    {"$arrayElemAt": [{"$split": ["$text", " "]}, -1]},
    {"$slice": [{"$split": ["$text", " "]}, 3]},
    {"$slice": [{"$split": ["$text", " "]}, -2]},
    {"$slice": [{"$split": ["$text", " "]}, 1, 2]},
    {"$concatArrays": [{"$split": ["$lang", "-"]}, ["x"]]},
    {"$reverseArray": {"$split": ["$text", " "]}},
    {"$sortArray": {"input": {"$split": ["$text", " "]}, "sortBy": 1}},
    {"$sortArray": {"input": {"$split": ["$text", " "]}, "sortBy": -1}},
    {"$indexOfArray": [{"$split": ["$text", " "]}, "the"]},
    {"$setEquals": [{"$split": ["$lang", "-"]}, ["en"]]},
    {"$setIsSubset": [["en"], {"$split": ["$lang", "-"]}]},
    {"$setUnion": [{"$split": ["$lang", "-"]}, ["xx"]]},
    {"$setIntersection": [{"$split": ["$lang", "-"]}, ["en", "de"]]},
    {"$setDifference": [{"$split": ["$lang", "-"]}, ["en"]]},
    {"$anyElementTrue": [{"$map": {
        "input": {"$split": ["$text", " "]}, "as": "w",
        "in": {"$gt": [{"$strLenCP": "$$w"}, 5]}}}]},
    {"$allElementsTrue": [{"$map": {
        "input": {"$split": ["$text", " "]}, "as": "w",
        "in": {"$gt": [{"$strLenCP": "$$w"}, 0]}}}]},
    {"$filter": {"input": {"$split": ["$text", " "]}, "as": "w",
                 "cond": {"$gt": [{"$strLenCP": "$$w"}, 3]}}},
    {"$map": {"input": {"$split": ["$text", " "]},
              "in": {"$toUpper": "$$this"}}},
    {"$reduce": {"input": {"$split": ["$text", " "]},
                 "initialValue": 0,
                 "in": {"$add": ["$$value", {"$strLenCP": "$$this"}]}}},
    {"$reduce": {"input": {"$split": ["$text", " "]},
                 "initialValue": "",
                 "in": {"$concat": ["$$value", "$$this"]}}},
    {"$zip": {"inputs": [{"$split": ["$text", " "]},
                         {"$split": ["$lang", "-"]}]}},
    {"$zip": {"inputs": [{"$split": ["$text", " "]},
                         {"$split": ["$lang", "-"]}],
              "useLongestLength": True}},
    {"$range": [0, {"$mod": ["$n_chars", 5]}]},
    {"$range": [5, 0, -2]},
    {"$let": {"vars": {"half": {"$divide": ["$n_chars", 2]}},
              "in": {"$add": ["$$half", "$$half"]}}},
    # literals and document literals
    {"$literal": [1, 2, 3]},
    {"$literal": ["a", "b"]},
    {"$literal": [True, False]},
    {"$literal": [1.5, 2.5]},
    {"$literal": {"k": 1, "s": "x"}},
    {"$cond": [{"$gt": ["$n_chars", 100]},
               {"k": "$lang", "n": {"$add": ["$n_chars", 1]}},
               {"k": "x", "n": 0}]},
    # dates
    {"$year": "$ts"}, {"$month": "$ts"}, {"$dayOfMonth": "$ts"},
    {"$hour": "$ts"}, {"$minute": "$ts"}, {"$second": "$ts"},
    {"$millisecond": "$ts"}, {"$dayOfWeek": "$ts"},
    {"$dayOfYear": "$ts"}, {"$week": "$ts"}, {"$isoWeek": "$ts"},
    {"$isoDayOfWeek": "$ts"}, {"$isoWeekYear": "$ts"},
    {"$dateTrunc": {"date": "$ts", "unit": "day"}},
    {"$dateTrunc": {"date": "$ts", "unit": "hour"}},
    {"$dateTrunc": {"date": "$ts", "unit": "week"}},
    {"$dateTrunc": {"date": "$ts", "unit": "week",
                    "startOfWeek": "monday"}},
    {"$dateToParts": {"date": "$ts"}},
    {"$dateToString": {"date": "$ts", "format": "%Y-%m (%d)"}},
    {"$dateToString": {"date": "$ts", "onNull": "missing"}},
    {"$dateFromString": {"dateString": {"$concat": [
        {"$dateToString": {"date": "$ts", "format": "%Y-%m-%d"}},
        " 00:00:00"]}}},
    {"$dateFromString": {"dateString": "2024-13-01 00:00:00",
                         "onError": {"$toDate": "1999-01-01"}}},
    {"$dateDiff": {"startDate": "$ts", "endDate": "$ts", "unit": "day"}},
    {"$dateDiff": {"startDate": "$ts", "endDate": "$ts", "unit": "month"}},
    {"$dateDiff": {"startDate": "$ts", "endDate": "$ts", "unit": "week"}},
    {"$dateDiff": {"startDate": "$ts", "endDate": "$ts", "unit": "hour"}},
    {"$dateAdd": {"startDate": "$ts", "unit": "month", "amount": 2}},
    {"$dateAdd": {"startDate": "$ts", "unit": "quarter", "amount": 1}},
    {"$dateSubtract": {"startDate": "$ts", "unit": "day", "amount": 3}},
    {"$dateFromParts": {"year": {"$year": "$ts"},
                        "month": {"$month": "$ts"}, "day": 5,
                        "hour": 6, "minute": 30, "second": 15}},
    {"$dateFromParts": {"year": {"$year": "$ts"}}},
    {"$dateFromParts": {"year": {"$year": "$ts"},
                        "month": {"$add": [{"$month": "$ts"}, 9]},
                        "onError": {"$toDate": "1999-01-01"}}},
    # regex
    {"$regexMatch": {"input": "$text", "regex": "[a-z]+ing"}},
    {"$regexFind": {"input": "$text", "regex": "([a-z]+)ing"}},
    {"$regexFindAll": {"input": "$lang", "regex": "[a-z]+"}},
    {"$regexFindAll": {"input": "$text", "regex": "([a-z])([a-z]+)"}},
    # conversion / introspection
    {"$convert": {"input": "$n_chars", "to": "string"}},
    {"$convert": {"input": "$lang", "to": "int", "onError": -1}},
    {"$convert": {"input": "$lang", "to": "int", "onError": -1,
                  "onNull": 0}},
    {"$convert": {"input": {"$toString": "$ts"}, "to": "date",
                  "onError": {"$toDate": "1999-01-01"}}},
    {"$isNumber": "$n_chars"}, {"$isNumber": "$lang"},
    {"$type": "$n_chars"}, {"$type": "$lang"},
    {"$getField": {"field": "match",
                   "input": {"$regexFind": {"input": "$text",
                                            "regex": "[a-z]+"}}}},
    # object/map ops over $objectToArray round-trips
    {"$objectToArray": {"$arrayToObject": {"$map": {
        "input": {"$split": ["$text", " "]}, "as": "w",
        "in": {"k": "$$w", "v": "$$w"}}}}},
    {"$mergeObjects": [
        {"$arrayToObject": [[{"k": "a", "v": "1"}]]},
        {"$arrayToObject": [[{"k": "a", "v": "2"}, {"k": "b", "v": "3"}]]},
    ]},
]


def test_sql_fast_path_tree_equivalence(spark):
    from dbt_nlp_sqlizer_team04_spark.operators.documents import (
        _ref,
        lookup_correlated,
    )
    from tests import expr_battery as B

    ref = B.load_reference()
    pinned = {B.spec_key(e["spec"]): e for e in ref["battery"]}
    df = B.battery_frame(spark)
    failures = []
    for spec in _FAST_PATH_SPECS:
        want = pinned.get(B.spec_key(spec))
        out = df.select(_ref(spec).alias("out"))
        if want is None:
            failures.append((spec, "no pinned reference"))
        elif B.canonical_plan(out) != want["plan"]:
            failures.append((spec, "plan mismatch"))
        elif B.rows_text(out) != want["rows"]:
            failures.append((spec, "row mismatch"))
    # correlated $lookup: $expr conditions, let bindings and grouped
    # accumulators compile through the side-binding resolver
    cust, orders = B.lookup_frames(spark)
    assert [e["label"] for e in ref["lookup"]] == list(B.LOOKUP_SPECS)
    for want in ref["lookup"]:
        spec = B.LOOKUP_SPECS[want["label"]]
        assert B.spec_key(spec) == B.spec_key(want["spec"])
        out = lookup_correlated(cust, orders, spec)
        if B.canonical_plan(out) != want["plan"]:
            failures.append((want["label"], "plan mismatch"))
        elif B.rows_text(out) != want["rows"]:
            failures.append((want["label"], "row mismatch"))
    assert not failures, failures


def test_sql_fast_path_falls_back_not_breaks(spark):
    """Typed-error contract: malformed specs raise DocumentQueryError
    while the SQL text is rendered, never a raw Spark error later."""
    import dbt_nlp_sqlizer_team04_spark.operators.documents as D
    from tests import expr_battery as B

    for bad in [
        {"$cond": [1, 2]},                      # wrong arity
        {"$dateTrunc": {"date": "$ts", "unit": "fortnight"}},
        {"$split": ["$text", "$lang"]},         # field-path delimiter
        {"$rand": {}},
        {"$convert": {"input": "$x", "to": "date", "onError": "oops"}},
        {"$eq": ["$a", "$b", "$c"]},            # operand count
        {"$add": []},
    ]:
        with pytest.raises(DocumentQueryError):
            D._ref(bad)
    # unbound $$var stays a typed error, not an emitted SQL ref
    with pytest.raises(DocumentQueryError, match="Unbound"):
        D._ref("$$loose")
    # a field under the compiler's lambda-parameter prefix is refused
    # (Spark matches names case-insensitively), never silently
    # shadowed by a lambda parameter
    for bad in ["$__m_0", "$__M_3.k",
                {"$map": {"input": "$xs", "in": {"$add": ["$$this",
                                                          "$__m_0"]}}}]:
        with pytest.raises(DocumentQueryError, match="reserved"):
            D._ref(bad)
    # correlated $lookup: an undefined $$var is refused by the resolver
    cust, orders = B.lookup_frames(spark)
    with pytest.raises(DocumentQueryError, match="not defined"):
        D.lookup_correlated(cust, orders, {
            "from": "orders", "let": {"cid": "$c_custkey"},
            "pipeline": [{"$match": {"$expr": {"$eq": [
                "$o_custkey", "$$nope"]}}}],
            "as": "hits"})
    with pytest.raises(DocumentQueryError, match="reserved"):
        D.lookup_correlated(cust, orders, {
            "from": "orders", "let": {"cid": "$__m_1"},
            "pipeline": [{"$match": {"$expr": {"$eq": [
                "$o_custkey", "$$cid"]}}}],
            "as": "hits"})


def test_expr_lambda_names_are_hygienic(spark):
    """Every op that introduces a lambda ($map, $filter, $reduce, $let,
    $arrayToObject, $objectToArray, $mergeObjects, $regexFindAll, $zip,
    $anyElementTrue, $allElementsTrue), with the user's '$$name'
    spliced into its operands, for each name the compiler's templates
    once bound themselves (this, value, e, i, m, acc, later, x, y) —
    bound by a $map 'as' and by $let 'vars'. Each must return the
    pinned reference rows: a template parameter that captured the
    user's variable failed analysis, failed at run time or silently
    read the wrong value."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import _ref
    from tests import expr_battery as B

    pinned = {e["label"]: e for e in B.load_reference()["hygiene"]}
    specs = B.hygiene_specs()
    assert set(specs) == set(pinned)
    frame = B.hygiene_frame(spark)
    failures = []
    for label, spec in specs.items():
        assert B.spec_key(spec) == B.spec_key(pinned[label]["spec"])
        try:
            got = B.rows_text(frame.select(_ref(spec).alias("out")))
        except Exception as exc:  # noqa: BLE001 — report every label
            failures.append((label, type(exc).__name__))
            continue
        if got != pinned[label]["rows"]:
            failures.append((label, got))
    assert not failures, failures
    # the two reported captures, spelled out
    assert pinned["repro/arrayToObject"]["rows"] == [
        "Row(out=[{1: '1'}, {2: '1'}])"]
    assert pinned["repro/regexFindAll"]["rows"] == [
        "Row(out=[[Row(match='a', idx=0, captures=[]), "
        "Row(match='b', idx=1, captures=[]), "
        "Row(match='x', idx=2, captures=[])], "
        "[Row(match='c', idx=0, captures=[]), "
        "Row(match='d', idx=1, captures=[]), "
        "Row(match='x', idx=2, captures=[])]])"]


def test_expr_string_literals_are_not_substituted(spark):
    """The SQL parser substitutes ${var} references in its input text;
    user strings must come back verbatim, and identifiers that would
    carry one are refused."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import _ref

    txt = "x${spark.app.name}|${env:HOME}|a\\{b}"
    row = spark.range(1).select(
        _ref({"$concat": [txt, {"$literal": txt}]}).alias("s"),
        _ref({"$regexMatch": {"input": txt, "regex": "^x\\$\\{spark"}})
        .alias("m"),
    ).collect()[0]
    assert row["s"] == txt + txt and row["m"] is True
    with pytest.raises(DocumentQueryError, match="may not contain"):
        _ref("$a.${env:HOME}")
    with pytest.raises(DocumentQueryError, match="may not contain"):
        _ref({"k": 1, "a${env:HOME}": 2})


@pytest.mark.parametrize("value", [
    dt.date(2024, 1, 2),
    dt.datetime(2024, 1, 2, 3, 4, 5),
    b"\x00\x01",
    float("nan"),
    float("inf"),
    float("-inf"),
    "tab\there",
    "line\nbreak",
    2**63,
    -(2**63) - 1,
    Decimal("1.5"),
], ids=["date", "datetime", "bytes", "nan", "inf", "-inf", "tab",
        "newline", "int64+1", "int64-1", "decimal"])
def test_expr_literal_kinds_without_rendering_are_typed_errors(value):
    """Literal kinds the SQL compiler has no exact F.lit-typed rendering
    for are refused at compile time, in operand and $literal position."""
    from dbt_nlp_sqlizer_team04_spark.operators.documents import _ref

    for spec in ({"$eq": ["$x", value]}, {"$literal": [value]},
                 {"$ifNull": ["$x", {"k": value, "n": 1}]}):
        with pytest.raises(DocumentQueryError,
                           match="no expression-dialect rendering"):
            _ref(spec)
