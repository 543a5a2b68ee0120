"""Structured Streaming events path — the micro-batch result must match
the batch q19 rollup on the same data (kappa parity), with watermarked
state (VERDICT next-round #9's bar)."""

from __future__ import annotations

import pytest

from dbt_nlp_sqlizer_team04_spark.operators.relational import q19_events_hourly
from dbt_nlp_sqlizer_team04_spark.streaming.events import (
    hourly_agg,
    hourly_rollup_stream,
    run_to_memory_sink,
)


def test_stream_matches_batch(spark, sf_smoke):
    batch = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["avg_value"])
        for r in q19_events_hourly(spark, sf_smoke).collect()
    }
    streamed = run_to_memory_sink(spark, sf_smoke, table_name="t_stream_parity")
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], r["sum_value"], r["avg_value"])
        for r in streamed.collect()
    }
    assert got == batch
    assert len(got) > 0


def test_stream_plan_is_stateful_with_watermark(spark, sf_smoke):
    df = hourly_rollup_stream(spark, sf_smoke)
    assert df.isStreaming
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "extended"
    )
    assert "watermark" in plan.lower()


def test_hourly_agg_shared_shape(spark, sf_smoke):
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    batch_df = hourly_agg(load_table(spark, sf_smoke, "events"), streaming=False)
    assert batch_df.columns == [
        "hour_start", "event_type", "n_events", "sum_value", "avg_value",
    ]
    assert not batch_df.isStreaming


def test_session_window_stream_matches_batch(spark, sf_smoke):
    """Streaming session_window must produce exactly the batch q55
    session set on the same data (kappa parity for sessions)."""
    from dbt_nlp_sqlizer_team04_spark.operators.timeseries import (
        q55_session_window_details,
    )
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        sessions_stream_to_memory,
    )

    batch = sorted(
        tuple(r)
        for r in q55_session_window_details(spark, sf_smoke).collect()
    )
    streamed = sessions_stream_to_memory(
        spark, sf_smoke, table_name="t_sessions_parity"
    )
    got = sorted(
        (r["user_id"], r["start_us"], r["end_us"], r["n_events"], r["sum_value"])
        for r in streamed.collect()
    )
    assert got == batch and got


def test_apply_in_pandas_with_state_running_totals(spark, sf_smoke, tmp_path):
    """Custom stateful operator: per-user running totals must carry
    state ACROSS micro-batches — the events file is split into two
    parquet drops replayed one file per trigger, and the final emitted
    totals must equal a batch aggregation over the union."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.stateful import running_totals

    events = load_table(spark, sf_smoke, "events").limit(2000).cache()
    half = events.where(F.col("event_id") % 2 == 0)
    other = events.where(F.col("event_id") % 2 == 1)
    drop = tmp_path / "drops"
    half.write.parquet(str(drop / "b0"))
    other.write.parquet(str(drop / "b1"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(drop) + "/*")
    )
    q = (
        running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    # final state per user = the row with the highest running count
    final: dict = {}
    for r in spark.table("t_running_totals").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(final) == set(want)
    for u, (n, tv) in want.items():
        assert final[u][0] == n
        assert final[u][1] == _pytest.approx(tv, rel=1e-9)


def test_stream_dedup_drops_redelivered_events(spark, sf_smoke, tmp_path):
    """dropDuplicatesWithinWatermark: replay the same events file twice
    (at-least-once delivery) — the deduped stream must equal the batch
    single-copy event set."""
    from pyspark.sql import functions as F

    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        dedup_events_stream,
    )

    events = load_table(spark, sf_smoke, "events").limit(1000).cache()
    drop = tmp_path / "redelivered"
    raw = events.withColumn("ts", F.unix_micros("ts") * 1000)  # nanos-long layout
    raw.write.parquet(str(drop / "d0"))
    raw.write.parquet(str(drop / "d1"))  # the duplicate delivery

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(drop) + "/*")
    )
    q = (
        dedup_events_stream(stream)
        .select("event_id")
        .writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(r["event_id"] for r in spark.table("t_dedup_stream").collect())
    want = sorted(r["event_id"] for r in events.select("event_id").collect())
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, sf_smoke, tmp_path):
    """Stream-stream attribution join: clicks and purchases replayed as
    separate multi-batch file streams must produce exactly the batch
    twin's pairs (same shared builder, streaming=False)."""
    from pyspark.sql import functions as F

    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        click_purchase_interval_join,
    )

    events = load_table(spark, sf_smoke, "events").limit(3000).cache()
    clicks_b = events.filter(F.col("event_type") == "click")
    purch_b = events.filter(F.col("event_type") == "purchase")
    want = sorted(
        tuple(r)
        for r in click_purchase_interval_join(
            clicks_b, purch_b, streaming=False
        ).collect()
    )

    drops = {}
    for name, side in (("clicks", clicks_b), ("purchases", purch_b)):
        d = tmp_path / name
        # two drops per side -> multi-microbatch replay on both inputs
        side.filter(F.col("event_id") % 2 == 0).write.parquet(str(d / "b0"))
        side.filter(F.col("event_id") % 2 == 1).write.parquet(str(d / "b1"))
        drops[name] = (
            spark.readStream.schema(side.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(d) + "/*")
        )
    q = (
        click_purchase_interval_join(drops["clicks"], drops["purchases"])
        .writeStream.format("memory")
        .queryName("t_interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    got = sorted(tuple(r) for r in spark.table("t_interval_join").collect())
    assert got == want and got


def test_sliding_window_stream_matches_batch(spark, sf_smoke):
    """Streaming sliding-window rollup (1h/15min) must equal the batch
    q69 result on the same data — kappa parity for overlapping windows."""
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        read_events_stream,
        sliding_agg,
    )
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        q69_sliding_rollup,
    )

    batch = sorted(
        tuple(r) for r in q69_sliding_rollup(spark, sf_smoke).collect()
    )
    q = (
        sliding_agg(read_events_stream(spark, sf_smoke), streaming=True)
        .writeStream.format("memory")
        .queryName("t_sliding_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["win_start"], r["event_type"], r["n_events"], r["sum_value"])
        for r in spark.table("t_sliding_parity").collect()
    )
    assert got == batch and got


def test_streaming_quality_gate_matches_batch(spark, sf_smoke):
    """Kappa parity for the corpus gate: the streaming Gopher pass must
    emit row-identical signals to the batch q76 path (shared builder),
    and the plan must stay stateless (no state store operators)."""
    from dbt_nlp_sqlizer_team04_spark.operators.text import q76_gopher_quality
    from dbt_nlp_sqlizer_team04_spark.streaming.documents import (
        quality_gate_stream,
        quality_gate_to_memory,
    )

    got = sorted(
        tuple(r) for r in quality_gate_to_memory(spark, sf_smoke).collect()
    )
    want = sorted(tuple(r) for r in q76_gopher_quality(spark, sf_smoke).collect())
    assert got == want
    plan = quality_gate_stream(spark, sf_smoke)._jdf.queryExecution().toString()
    assert "stateStore" not in plan.lower()


def test_stream_stream_left_join_matches_batch(spark, sf_smoke, tmp_path):
    """LEFT OUTER attribution join: unmatched clicks must surface
    null-padded once the watermark proves their window closed. A
    far-future sentinel batch on both sides advances the final
    watermark past every real click, making full batch parity exact
    (sentinel rows excluded from the comparison)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        click_purchase_left_join,
    )

    events = load_table(spark, sf_smoke, "events").limit(2000).cache()
    clicks_b = events.filter(F.col("event_type") == "click")
    purch_b = events.filter(F.col("event_type") == "purchase")
    want = sorted(
        tuple(r)
        for r in click_purchase_left_join(
            clicks_b, purch_b, streaming=False
        ).collect()
    )

    far = events.agg(F.max("ts")).first()[0] + dt.timedelta(days=30)
    sentinel = spark.createDataFrame(
        [(10**12, far, -1, "sentinel", 0.0, "{}")], events.schema
    )
    drops = {}
    for name, side in (("clicks", clicks_b), ("purchases", purch_b)):
        d = tmp_path / name
        side.write.parquet(str(d / "b0"))
        sentinel.write.parquet(str(d / "b1"))
        drops[name] = (
            spark.readStream.schema(side.schema)
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(str(d) + "/*")
        )
    q = (
        click_purchase_left_join(drops["clicks"], drops["purchases"])
        .writeStream.format("memory")
        .queryName("t_left_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    if q.isActive:
        q.stop()
    got = sorted(
        tuple(r)
        for r in spark.table("t_left_join")
        .where(F.col("user_id") >= 0)
        .collect()
    )
    assert got == want and got
    # the unmatched-null path is actually exercised
    assert any(r[2] is None for r in got)


def test_streaming_signature_index_matches_batch(spark, sf_smoke, tmp_path):
    """Ingest-as-a-stream: the signature index built by the streaming
    maintenance job must equal the batch builder's output row-for-row
    (shared builder — the index-artifact kappa contract)."""
    from dbt_nlp_sqlizer_team04_spark.operators.dedup import (
        minhash_signatures,
    )
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.documents import (
        signature_index_stream,
    )

    out = str(tmp_path / "sig_index")
    q = signature_index_stream(spark, sf_smoke, out)
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    got = sorted(
        (r["doc_id"], tuple(r["sh"]), tuple(r["bands"]))
        for r in spark.read.parquet(out + "/signatures").collect()
    )
    want = sorted(
        (r["doc_id"], tuple(r["sh"]), tuple(r["bands"]))
        for r in minhash_signatures(
            load_table(spark, sf_smoke, "documents")
        ).collect()
    )
    assert got == want and got


def test_stream_static_enrichment_matches_batch(spark, sf_smoke):
    """Stream-static broadcast enrichment (kappa): the streamed result
    equals the batch twin of the same builder, history is correct for a
    known user, and post-cutoff-only users are flagged new."""
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        enrich_with_profile,
        enriched_stream_to_memory,
        user_profile_static,
    )

    events = load_table(spark, sf_smoke, "events")
    profile = user_profile_static(events)
    batch = enrich_with_profile(events, profile)
    streamed = enriched_stream_to_memory(spark, sf_smoke)

    key = lambda r: r["event_id"]
    b = sorted((tuple(r) for r in batch.collect()), key=lambda t: t[0])
    s = sorted((tuple(r) for r in streamed.collect()), key=lambda t: t[0])
    assert b == s and len(b) > 0

    # history really reflects the pre-cutoff slice
    from pyspark.sql import functions as F

    some_user = (
        events.filter(F.col("ts") < "2024-01-15")
        .groupBy("user_id").count().orderBy(F.desc("count"))
        .limit(1).collect()[0]
    )
    enriched_rows = [r for r in b if r[1] == some_user["user_id"]]
    if enriched_rows:
        assert enriched_rows[0][3] == some_user["count"]

    # stateless plan: no stateful operator in the streaming query
    plan = enrich_with_profile(
        __import__(
            "dbt_nlp_sqlizer_team04_spark.streaming.events",
            fromlist=["read_events_stream"],
        ).read_events_stream(spark, sf_smoke),
        profile,
    )._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" not in plan


def test_stream_static_dim_refresh_contract(spark, tmp_path):
    """The honest dimension-refresh contract for stream-static joins:
    the static side's file listing is captured when the streaming query
    starts, so an IN-PLACE overwrite between micro-batches fails the
    next batch (FILE_NOT_EXIST) — refreshByPath does not reach the
    running query's captured plan either. The deployment pattern that
    DOES pick up nightly refreshes is re-reading the dimension INSIDE
    foreachBatch (per-batch plan), which this test demonstrates."""
    import os

    from pyspark.sql import functions as F

    dim_path = str(tmp_path / "dim")
    drop = str(tmp_path / "drop")
    out = []

    spark.createDataFrame(
        [(1, "bronze")], "user_id long, tier string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_path)

    os.makedirs(drop)
    spark.createDataFrame(
        [(10, 1)], "event_id long, user_id long"
    ).coalesce(1).write.mode("append").parquet(drop)

    stream = spark.readStream.schema(
        "event_id long, user_id long"
    ).parquet(drop)

    def sink(batch_df, batch_id):
        # per-batch dimension read: the refresh-safe pattern — each
        # micro-batch resolves the CURRENT dim files
        dim = spark.read.parquet(dim_path)
        joined = batch_df.join(F.broadcast(dim), "user_id", "left")
        out.extend((r["event_id"], r["tier"]) for r in joined.collect())

    def drain():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    drain()
    assert out == [(10, "bronze")]

    # nightly refresh: overwrite the dim, drop a new file, drain again
    # from the same checkpoint — the new batch sees the NEW tier
    spark.createDataFrame(
        [(1, "gold")], "user_id long, tier string"
    ).coalesce(1).write.mode("overwrite").parquet(dim_path)
    spark.createDataFrame(
        [(11, 1)], "event_id long, user_id long"
    ).coalesce(1).write.mode("append").parquet(drop)
    drain()
    assert out == [(10, "bronze"), (11, "gold")]


def test_stream_drift_counts_match_batch(spark, sf_smoke):
    """Kappa parity for the drift monitor: the streamed day×bucket
    counts equal the batch builder's, and the PSI series derived from
    either is identical (the stream counts; the scorer reads the sink)."""
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table
    from dbt_nlp_sqlizer_team04_spark.streaming.events import (
        daily_bucket_counts,
        drift_counts_stream_to_memory,
        drift_from_counts,
    )

    batch_counts = daily_bucket_counts(
        load_table(spark, sf_smoke, "events"), streaming=False
    )
    stream_counts = drift_counts_stream_to_memory(
        spark, sf_smoke, table_name="drift_parity_sink"
    )
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    assert key(stream_counts.collect()) == key(batch_counts.collect())

    psi_stream = drift_from_counts(stream_counts).collect()
    psi_batch = drift_from_counts(batch_counts).collect()
    assert key(psi_stream) == key(psi_batch)
    assert len(psi_stream) > 0


def test_rocksdb_state_store_parity(spark, sf_smoke):
    """The 100 TB streaming state path: the same watermarked rollup run
    under the RocksDB state-store provider (bounded executor memory —
    the HDFS-backed default keeps all state on-heap) produces the
    identical result. Provider choice must be a pure performance knob,
    never a semantics change."""
    key = "spark.sql.streaming.stateStore.providerClass"
    saved = spark.conf.get(key, None)
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    try:
        spark.conf.set(key, rocks)
        got = run_to_memory_sink(
            spark, sf_smoke, table_name="rocksdb_parity_sink"
        ).collect()
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
    from dbt_nlp_sqlizer_team04_spark.sources.parquet import load_table

    want = hourly_agg(
        load_table(spark, sf_smoke, "events"), streaming=False
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_scratch_dir_base_checks_shm_free_space(monkeypatch):
    """ADVICE(low): tmpfs is chosen for scratch only with at least the
    fixed free-space floor; a nearly full /dev/shm falls back to the
    disk-backed temp dir."""
    import os
    import shutil
    import tempfile
    from collections import namedtuple

    from dbt_nlp_sqlizer_team04_spark import session

    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    usage = namedtuple("usage", "total used free")
    seen = []

    def fake_disk_usage(free):
        def disk_usage(path):
            seen.append(path)
            return usage(free, 0, free)

        return disk_usage

    floor = session._SHM_MIN_FREE_BYTES
    monkeypatch.setattr(shutil, "disk_usage", fake_disk_usage(floor - 1))
    assert session.scratch_dir_base() == tempfile.gettempdir()
    shm_usable = os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK)
    assert seen == (["/dev/shm"] if shm_usable else [])
    monkeypatch.setattr(shutil, "disk_usage", fake_disk_usage(floor))
    want = "/dev/shm" if shm_usable else tempfile.gettempdir()
    assert session.scratch_dir_base() == want
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", "/elsewhere")
    assert session.scratch_dir_base() == "/elsewhere"
