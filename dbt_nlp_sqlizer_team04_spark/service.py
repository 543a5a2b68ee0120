"""Thin service façade — the reference's HTTP entry-point shapes as a
library class. ``server.py`` binds every verb to its reference route
over stdlib ``http.server`` (no web framework in this container), so
the endpoint layer is runnable end-to-end.

Verbs and their reference routes:

- ``healthz`` / ``connect_test`` / ``schema_overview`` / ``schema_id``
                           → GET /healthz, /connect/test,
  /schema/overview (app/main.py:53-260), POST /models/schema-id
  (routes_models.py:97-142).
- ``model_query(id, q)``   → POST /models/{id}/query
  (routes_models.py:320-369): generate-only through a trained model.
- ``nl2sql(question)``     → POST /ai/nl2sql  (app/main.py:262-296):
  generate-only — schema slice, candidate ladder, safety gates; returns
  the final SQL WITHOUT executing it.
- ``run(sql)``             → POST /ai/run     (app/main.py:298-331):
  re-validates (safety pass again "if someone calls /ai/run directly"),
  bounds, cost-gates, executes read-only with a timeout.
- ``ask(question)``        → POST /ai/ask     (routes_ai.py:91-317):
  the full pipeline, generate + execute with the retry ladder.
- ``train(...)``           → POST /models/train (routes_models.py:145-226):
  crawl → dedupe on schema_id → background-thread training with staged
  progress; "exists" / "training" short-circuits match the reference.
- ``training_progress`` / ``model_status`` / ``list_models`` /
  ``get_model`` / ``delete_model``
                           → routes_models.py:228-318.

Every verb returns a JSON-safe dict in the reference's response shape so
a FastAPI wrapper would be a few-line adapter.

``run`` and ``ask`` share one result cache over ``sf_dir``
(``plans.executor.ResultCache``); their responses say whether the
answer came from it (``cached``).
"""

from __future__ import annotations

import os
import shutil
import threading
from typing import Any

from pyspark.sql import SparkSession

from .catalog.metadata import generate_schema_id
from .models import progress
from .models.trainer import ModelTrainer, SchemaModel
from .operators.profiler import crawl_schema
from .plans.executor import ResultCache, run_readonly
from .plans.nl2sql import NL2SQLEngine
from .plans.safety import SQLSafetyError
from .sources.parquet import register_views


class SQLizerService:
    """One service instance per (SparkSession, data dir, model dir)."""

    def __init__(
        self, spark: SparkSession, sf_dir: str, model_dir: str = "models"
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        self.model_dir = model_dir
        register_views(spark, sf_dir)
        self._metadata = crawl_schema(spark, sf_dir, sample_size=5)
        self._trainer = ModelTrainer(model_dir)
        self._engine = NL2SQLEngine(spark, self._metadata)
        self._cache = ResultCache(sf_dir)
        self._lock = threading.Lock()
        # per-schema_id engines for the trained model_query path;
        # invalidated on retrain/delete
        self._model_engines: dict[str, NL2SQLEngine] = {}

    # ----------------------------------------------------- introspection
    def healthz(self) -> dict[str, Any]:
        """GET /healthz (app/main.py:53-55) — same response shape."""
        return {"ok": True, "service": "backend", "message": "healthy"}

    def connect_test(self) -> dict[str, Any]:
        """GET|POST /connect/test (app/main.py:162-196): prove the
        engine end-to-end with a trivial query, report the 'dialect'
        and a safe connection string analog."""
        try:
            self.spark.sql("SELECT 1").collect()
        except Exception as e:  # noqa: BLE001
            return {"ok": False, "error": f"Connection failed: {e}"}
        return {
            "ok": True,
            "dialect": "spark-sql",
            "url": f"spark://{self.sf_dir}",
            "message": "connection ok",
        }

    def schema_overview(self) -> dict[str, Any]:
        """GET|POST /schema/overview (app/main.py:198-260): lightweight
        { ok, dialect, tables: [ { table, columns: [ { name, type,
        nullable } ] } ] } map from the crawled metadata."""
        tables = [
            {
                "table": tname,
                "columns": [
                    {
                        "name": c.name,
                        "type": c.type_str,
                        "nullable": bool(c.nullable),
                    }
                    for c in tinfo.columns
                ],
            }
            for tname, tinfo in sorted(self._metadata.tables.items())
        ]
        return {"ok": True, "dialect": "spark-sql", "tables": tables}

    def schema_id(self) -> dict[str, Any]:
        """POST /models/schema-id (routes_models.py:97-142): the stable
        hash a caller uses to check model existence before training."""
        return {
            "ok": True,
            "schema_id": generate_schema_id(self._metadata),
            "tables_count": len(self._metadata.tables),
        }

    # ------------------------------------------------------------ query
    def nl2sql(self, question: str) -> dict[str, Any]:
        """Generate-only: {ok, sql, slice, warnings} — never executes."""
        question = (question or "").strip()
        if not question:
            return {"ok": False, "error": "Missing 'question'"}
        linked = self._engine.link(question)
        try:
            _df, sql = self._engine.query_df(question, linked=linked)
        except (SQLSafetyError, ValueError) as e:
            return {"ok": False, "error": f"Validation failed: {e}"}
        return {"ok": True, "sql": sql, "slice": linked[0], "warnings": []}

    def run(
        self, sql: str, timeout_ms: int = 5000, max_rows: int = 100
    ) -> dict[str, Any]:
        """Validate-again-and-execute: {ok, columns, rows, rowcount,
        explain, cached} (the safety pass re-runs here like /ai/run's
        does, cache hit or not)."""
        sql = (sql or "").strip()
        if not sql:
            return {"ok": False, "error": "Missing 'sql'"}
        res = run_readonly(
            self.spark,
            sql,
            allowed_tables=list(self._engine.schema),
            limit=max_rows,
            timeout_ms=timeout_ms,
            cache=self._cache,
        )
        if not res.ok:
            return {"ok": False, "error": res.error, "sql": res.sql}
        return {
            "ok": True,
            "sql": res.sql,
            "columns": res.columns,
            "rows": res.rows,
            "rowcount": res.rowcount,
            "explain": res.explain,
            "cached": res.cached,
        }

    def ask(self, question: str) -> dict[str, Any]:
        """Full pipeline: generate + execute with the retry ladder."""
        res = self._engine.ask(question, cache=self._cache)
        out = {
            "ok": res.ok,
            "sql": res.sql,
            "columns": res.columns,
            "rows": res.rows,
            "rowcount": res.rowcount,
            "cached": res.cached,
        }
        if res.error:
            out["error"] = res.error
        return out

    # --------------------------------------------------------- training
    def train(
        self,
        force_retrain: bool = False,
        use_llm_for_training: bool = True,
        background: bool = True,
    ) -> dict[str, Any]:
        """Training lifecycle head (routes_models.py:145-226): returns
        {ok, schema_id, status} with status one of exists / training /
        trained. ``background=False`` trains synchronously (tests)."""
        schema_id = generate_schema_id(self._metadata)
        if not force_retrain and SchemaModel.exists(self.model_dir, schema_id):
            return {
                "ok": True,
                "schema_id": schema_id,
                "status": "exists",
                "message": f"Model already exists for schema {schema_id}",
            }
        with self._lock:
            if progress.is_training(schema_id):
                return {
                    "ok": True,
                    "schema_id": schema_id,
                    "status": "training",
                    "message": "Training already in progress",
                }
            progress.set_progress(schema_id, "queued", 0, "training queued")

        def train_task() -> None:
            try:
                model = self._trainer.train(
                    self._metadata, use_llm=use_llm_for_training
                )
                self._engine.attach_model(model)
                self._model_engines.pop(schema_id, None)  # force reload
            except Exception as e:  # noqa: BLE001
                progress.set_error(schema_id, str(e))

        if background:
            t = threading.Thread(target=train_task, daemon=True)
            t.start()
            return {
                "ok": True,
                "schema_id": schema_id,
                "status": "training",
                "message": "Training started in background",
            }
        train_task()
        return {"ok": True, "schema_id": schema_id, "status": "trained"}

    def training_progress(self, schema_id: str) -> dict[str, Any]:
        """Progress polling (routes_models.py:228-250): live map first,
        then 'completed' if the artifact exists on disk."""
        p = progress.get_progress(schema_id)
        if p:
            return {"ok": True, "schema_id": schema_id, "progress": p}
        if SchemaModel.exists(self.model_dir, schema_id):
            return {
                "ok": True,
                "schema_id": schema_id,
                "progress": {"stage": "completed", "percent": 100},
            }
        return {"ok": False, "schema_id": schema_id, "error": "not found"}

    def model_status(self, schema_id: str) -> dict[str, Any]:
        if progress.is_training(schema_id):
            return {"ok": True, "schema_id": schema_id, "status": "training"}
        if SchemaModel.exists(self.model_dir, schema_id):
            return {"ok": True, "schema_id": schema_id, "status": "trained"}
        return {"ok": True, "schema_id": schema_id, "status": "untrained"}

    def list_models(self) -> dict[str, Any]:
        models = []
        if os.path.isdir(self.model_dir):
            for sid in sorted(os.listdir(self.model_dir)):
                if SchemaModel.exists(self.model_dir, sid):
                    models.append(sid)
        return {"ok": True, "models": models}

    def get_model(self, schema_id: str) -> dict[str, Any]:
        if not SchemaModel.exists(self.model_dir, schema_id):
            return {"ok": False, "error": f"Model {schema_id} not found"}
        model = SchemaModel.load(self.model_dir, schema_id)
        return {
            "ok": True,
            "model": {
                **model.model_info,
                "schema_id": model.schema_id,
                "n_training_examples": len(model.training_examples),
            },
        }

    def delete_model(self, schema_id: str) -> dict[str, Any]:
        path = os.path.join(self.model_dir, schema_id)
        if not os.path.isdir(path):
            return {"ok": False, "error": f"Model {schema_id} not found"}
        shutil.rmtree(path)
        self._model_engines.pop(schema_id, None)
        return {"ok": True, "message": f"Model {schema_id} deleted"}

    def model_query(self, schema_id: str, question: str) -> dict[str, Any]:
        """POST /models/{schema_id}/query (routes_models.py:320-369):
        generate-only through a TRAINED model — { ok, sql, explanation,
        confidence, metadata }; never executes."""
        from .plans.nl2sql import explain_query
        from .plans.safety import validate

        question = (question or "").strip()
        if not question:
            return {"ok": False, "error": "Missing 'question'"}
        if not SchemaModel.exists(self.model_dir, schema_id):
            self._model_engines.pop(schema_id, None)
            return {"ok": False, "error": f"Model {schema_id} not found"}
        engine = self._model_engines.get(schema_id)
        if engine is None:
            # model load + engine build once per schema_id, not per
            # request (train/delete invalidate the cache)
            model = SchemaModel.load(self.model_dir, schema_id)
            engine = NL2SQLEngine(self.spark, self._metadata)
            engine.attach_model(model)
            self._model_engines[schema_id] = engine
        linked = engine.link(question)
        relevant = linked[0]
        last: Exception | None = None
        for cand in engine.generate(question, linked=linked):
            try:
                final = validate(
                    cand.sql,
                    question=question,
                    allowed_tables=list(engine.schema),
                    max_rows=100,
                    schema_context=relevant,
                )
                self.spark.sql(final).schema  # analysis gate only
            except Exception as e:  # noqa: BLE001
                last = e
                continue
            return {
                "ok": True,
                "sql": final,
                "explanation": explain_query(cand.sql, engine.schema),
                "confidence": cand.confidence,
                "metadata": {"method": cand.method, "schema_id": schema_id},
            }
        return {"ok": False, "error": f"Query generation failed: {last}"}
