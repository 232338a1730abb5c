"""Structured Streaming topology tests (availableNow trigger + file/
memory sinks — SURVEY.md §7 Phase 3 / §5 strategy for non-SQL ops)."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from yelp_streaming_etl_pipeline_spark.operators.gauntlet import clean_reviews
from yelp_streaming_etl_pipeline_spark.schemas import RAW_REVIEW
from yelp_streaming_etl_pipeline_spark.streaming import topology as TOP

GOOD_TEXT = (
    "The food here was absolutely wonderful and the service was quick. "
    "I would definitely come back with friends for the weekend brunch."
)
BASE = datetime(2026, 8, 1, 12, 0, 0)


def _reviews(n=40):
    rows = []
    for i in range(n):
        rows.append(
            (
                f"r{i}",
                f"b{i % 3}",
                f"u{i}",
                None if i % 13 == 0 else float(1 + i % 5),
                None if i % 11 == 0 else GOOD_TEXT + f" visit number {i}.",
                # span > 8 days so the 7-day watermark finalizes early
                # windows under trigger(availableNow)
                BASE + timedelta(hours=5 * i, minutes=7 * i),
                i % 4,
                i % 3,
                i % 2,
                "test",
                BASE,
            )
        )
    # a deliberate duplicate of r1 (same review_id + date)
    rows.append(rows[1])
    return rows


def _write_source(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.createDataFrame(_reviews(), RAW_REVIEW)
    df.repartition(2).write.mode("overwrite").parquet(src)
    return src


def _with_lang(df):
    return df.withColumn("language", F.lit("en")).withColumn(
        "language_confidence", F.lit(0.95)
    )


@pytest.fixture()
def patched_lang(monkeypatch):
    """The file-stream test data carries no language columns; attach
    trusted ones inside the streaming pipeline."""
    orig = TOP.validate_reviews
    monkeypatch.setattr(
        TOP, "validate_reviews", lambda df, now: orig(_with_lang(df), now)
    )


def test_topology_available_now(spark, tmp_path, patched_lang):
    src = _write_source(spark, tmp_path)
    counts = TOP.run_topology_available_now(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    # 41 input rows, 1 duplicate dropped -> 40 through the gauntlet
    assert counts["cleaned_reviews"] + counts["quality_issues"] >= 30
    out = spark.read.parquet(str(tmp_path / "out" / "cleaned_reviews"))
    assert out.filter(F.col("review_id") == "r1").count() == 1  # dedup held
    assert set(out.columns) >= {
        "review_id",
        "data_quality_score",
        "word_count",
        "is_anomaly",
    }


def test_streaming_batch_parity(spark, tmp_path, patched_lang):
    """The streaming pipeline must produce the same accepted set as the
    batch gauntlet over the same (deduped) input — the key design
    property: one expression library, two execution modes."""
    src = _write_source(spark, tmp_path)
    TOP.run_topology_available_now(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    stream_ids = {
        r["review_id"]
        for r in spark.read.parquet(str(tmp_path / "out" / "cleaned_reviews"))
        .select("review_id")
        .collect()
    }
    batch_input = _with_lang(
        spark.read.parquet(src).dropDuplicates(["review_id", "date"])
    )
    accepted, _r, _i = clean_reviews(batch_input, F.current_timestamp())
    batch_ids = {r["review_id"] for r in accepted.select("review_id").collect()}
    assert stream_ids == batch_ids


def test_windowed_stats_stream(spark, tmp_path, patched_lang):
    # stats is its own query stage (separate agent in the reference),
    # fed by the cleaned stream — not chained after the dedup operator
    # (Spark disallows widening the watermark downstream of it)
    src = _write_source(spark, tmp_path)
    reviews = TOP.read_review_file_stream(spark, src)
    staged = TOP.staged_quality_stream(reviews)
    stats = TOP.windowed_stats_stream(staged)
    q = (
        stats.writeStream.outputMode("append")
        .format("memory")
        .queryName("stats_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_stats"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stats_out").collect()
    # 40 reviews x 7-minute spacing -> several 1-h windows; windows are
    # finalized because availableNow advances the watermark to max(event)
    assert len(rows) >= 3
    for r in rows:
        assert r["total"] == r["accepted"] + r["rejected"] > 0
        assert r["window_end"] - r["window_start"] == timedelta(hours=1)
    # the fixture plants missing-text/rating rows: the rejected counter
    # must actually count them (reference quirk §8.4 fixed)
    assert sum(r["rejected"] for r in rows) > 0


def test_upsert_sql_shape():
    from yelp_streaming_etl_pipeline_spark.sources.jdbc import build_upsert_sql

    sql = build_upsert_sql(
        "cleaned_reviews",
        ["review_id", "rating", "data_quality_score", "processing_timestamp"],
        "review_id",
        ["data_quality_score", "processing_timestamp"],
    )
    assert "ON CONFLICT (review_id) DO UPDATE SET" in sql
    assert sql.count("%s") == 4
    assert "data_quality_score = EXCLUDED.data_quality_score" in sql


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closure,
    cross-batch closure, and event-time-timeout flush for a silent key."""
    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        sessionize_stream,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)

    def ev(user, minutes, value):
        return (user, t0 + timedelta(minutes=minutes), float(value))

    # batch 1 (file 0): a has two sessions split by an in-batch gap;
    # b has two; c has one then goes silent (timeout path)
    batch1 = [
        ev("a", 0, 1), ev("a", 5, 2), ev("a", 10, 3),      # a session 1
        ev("a", 120, 4), ev("a", 125, 5),                  # a session 2
        ev("b", 1, 10), ev("b", 180, 20),                  # b sessions 1+2
        ev("c", 0, 7), ev("c", 1, 8),                      # c session 1
    ]
    # batch 2 (file 1): late events close a2/b2 cross-batch and push the
    # watermark far past c's timeout
    batch2 = [ev("a", 600, 6), ev("b", 600, 30)]

    schema = "user_id string, ts timestamp, value double"
    src = tmp_path / "sessions_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f=0")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f=1")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sessions_out").collect()
    got = {
        (r["user_id"], r["session_start"], r["n_events"], r["session_value"])
        for r in rows
    }
    assert ("a", t0, 3, 6.0) in got                                  # in-batch gap
    assert ("a", t0 + timedelta(minutes=120), 2, 9.0) in got          # cross-batch
    assert ("b", t0 + timedelta(minutes=1), 1, 10.0) in got
    assert ("b", t0 + timedelta(minutes=180), 1, 20.0) in got
    assert ("c", t0, 2, 15.0) in got                                  # timeout flush
    # open sessions (the minute-600 events) must NOT be emitted
    assert not any(s == t0 + timedelta(minutes=600) for (_, s, _, _) in got)


def test_stateful_dedup_stream_with_issues(spark, tmp_path):
    """applyInPandasWithState dedup: first occurrence passes, in-batch
    and cross-batch duplicates are tagged (the reference emits a
    'duplicate' issue instead of silently dropping, faust_app.py:115-124)."""
    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        dedup_reviews_stream,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    schema = (
        "review_id string, date timestamp, business_id string, "
        "source string, ingestion_timestamp timestamp"
    )

    def row(rid, date, src):
        return (rid, date, "b0", src, date)

    batch1 = [
        row("r1", t0, "src_a"),
        row("r1", t0, "zz_replay"),      # in-batch duplicate
        row("r2", t0, "src_a"),
        row("r2", t0 + timedelta(hours=1), "src_a"),  # different date: NOT a dup
    ]
    batch2 = [
        row("r1", t0, "zz_replay2"),     # cross-batch duplicate
        row("r3", t0 + timedelta(minutes=30), "src_a"),
    ]
    src = tmp_path / "dedup_src"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(src / "f=0")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(src / "f=1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    q = (
        dedup_reviews_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    got = {(r["review_id"], r["date"], r["source"]): r["is_duplicate"] for r in rows}
    assert got[("r1", t0, "src_a")] == "first"
    assert got[("r1", t0, "zz_replay")] == "duplicate"       # in-batch
    assert got[("r1", t0, "zz_replay2")] == "duplicate"      # cross-batch
    assert got[("r2", t0, "src_a")] == "first"
    assert got[("r2", t0 + timedelta(hours=1), "src_a")] == "first"  # composite key
    assert got[("r3", t0 + timedelta(minutes=30), "src_a")] == "first"
    assert len(rows) == 6  # every input row is tagged, none dropped


def test_kafka_payload_shape(spark):
    df = spark.createDataFrame(
        [("r1", "b7", 4.5)], "review_id string, business_id string, rating double"
    )
    row = TOP.kafka_payload(df).collect()[0]
    assert row["key"] == "b7"
    payload = json.loads(row["value"])
    assert payload == {"review_id": "r1", "business_id": "b7", "rating": 4.5}


def test_rate_replay_stream(spark, tmp_path):
    """S4: the rate-micro-batch replay emits the static rows in input
    order, rows_per_batch per micro-batch."""
    static = spark.createDataFrame(
        [(f"r{i}", float(i)) for i in range(10)], "review_id string, rating double"
    )
    import time

    stream = TOP.rate_replay_stream(spark, static, rows_per_batch=4)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("replay_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        # 4 rows/batch -> the 10-row table drains within 3 batches
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT count(*) n FROM replay_out").collect()[0]["n"] >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM replay_out").collect()
    # all 10 static rows replayed exactly once (joins drop rate ticks
    # beyond the table length)
    assert sorted(r["review_id"] for r in rows) == sorted(
        f"r{i}" for i in range(10)
    )


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream attribution join: purchases match only clicks in
    the preceding 30-minute window, across two live streams."""
    from yelp_streaming_etl_pipeline_spark.streaming.joins import (
        attribute_purchases,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    clicks = [
        ("u1", t0, "c1"),
        ("u1", t0 + timedelta(minutes=25), "c2"),
        ("u1", t0 + timedelta(minutes=90), "c3"),   # outside any window
        ("u2", t0 + timedelta(minutes=5), "c4"),
    ]
    purchases = [
        ("u1", t0 + timedelta(minutes=28), "p1", 10.0),  # matches c1+c2
        ("u2", t0 + timedelta(minutes=50), "p2", 5.0),   # c4 is 45min prior: no match
    ]
    cs = "user_id string, click_ts timestamp, click_id string"
    ps = "user_id string, purchase_ts timestamp, purchase_id string, amount double"
    spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(
        str(tmp_path / "clicks")
    )
    spark.createDataFrame(purchases, ps).coalesce(1).write.parquet(
        str(tmp_path / "purchases")
    )
    out = attribute_purchases(
        spark.readStream.schema(cs).parquet(str(tmp_path / "clicks")),
        spark.readStream.schema(ps).parquet(str(tmp_path / "purchases")),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM attr_out").collect()
    pairs = {(r["purchase_id"], r["click_id"]) for r in rows}
    assert pairs == {("p1", "c1"), ("p1", "c2")}


def test_kafka_roundtrip_parse(spark):
    """S3 -> S5 parity: a record serialized by the Kafka payload
    projection deserializes back to the same values through the typed
    consumer schema."""
    rows = [
        (
            "r1", "b7", "u3", 4.0,
            GOOD_TEXT, BASE, 1, 2, 3, "test", BASE,
        )
    ]
    df = spark.createDataFrame(rows, RAW_REVIEW)
    payload = TOP.kafka_payload(df)
    parsed = payload.select(
        F.from_json(F.col("value"), RAW_REVIEW).alias("r")
    ).select("r.*")
    a, b = df.collect()[0], parsed.collect()[0]
    assert a.asDict() == b.asDict()


def test_transform_with_state_dedup(spark, tmp_path):
    """The same dedup semantics on the transformWithState API (typed
    ValueState + event-time timer TTL). Skipped where the state
    protocol's protobuf dependency is absent (this image)."""
    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        dedup_reviews_stream_tws,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf not installed (environment contract)")

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    schema = (
        "review_id string, date timestamp, business_id string, "
        "source string, ingestion_timestamp timestamp"
    )
    rows = [
        ("r1", t0, "b0", "src_a", t0),
        ("r1", t0, "b0", "zz_replay", t0),   # duplicate
        ("r2", t0, "b0", "src_a", t0),
    ]
    src = tmp_path / "tws_src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    q = (
        dedup_reviews_stream_tws(
            spark.readStream.schema(schema).parquet(str(src))
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["review_id"], r["source"]): r["is_duplicate"]
        for r in spark.sql("SELECT * FROM tws_out").collect()
    }
    assert got[("r1", "src_a")] == "first"
    assert got[("r1", "zz_replay")] == "duplicate"
    assert got[("r2", "src_a")] == "first"


def test_sqlite_upsert_crash_recovery(spark, tmp_path):
    """W5 executed end-to-end: checkpoint + idempotent upsert ==
    effective exactly-once. The sink commits batch 0 to the DB, then
    the query dies BEFORE the checkpoint acknowledges it; the restart
    re-delivers batch 0 (same offsets from the WAL) and the ON CONFLICT
    upsert absorbs the replay — no duplicates, no lost rows, and no
    unique-constraint failure (which a plain INSERT would hit). Mirrors
    the reference's commit-then-ack ordering (postgres_sink.py:85-117).
    """
    import sqlite3

    from yelp_streaming_etl_pipeline_spark.sources import jdbc as J

    cols = ["review_id", "data_quality_score", "processing_timestamp"]
    src = str(tmp_path / "upsert_src")
    f1 = [(f"r{i}", 0.5, "2026-08-01T12:00:00") for i in range(8)]
    # overlap r4..r7 with identical values: batch order can't matter
    f2 = [(f"r{i}", 0.5, "2026-08-01T12:00:00") for i in range(4, 12)]
    for rows in (f1, f2):
        spark.createDataFrame(rows, cols).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    db = str(tmp_path / "warehouse.db")
    J.ensure_sqlite_table(db, "cleaned_reviews", cols)
    ckpt = str(tmp_path / "upsert_ckpt")
    crash_flag = tmp_path / "crashed_once"

    inner = J.foreach_batch_upsert_sqlite(db)

    def crashing_apply(batch_df, epoch_id):
        inner(batch_df, epoch_id)  # DB commit happens here
        if not crash_flag.exists():
            crash_flag.write_text("boom")
            raise RuntimeError("injected crash after commit, before ack")

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def run():
        return (
            stream.writeStream.foreachBatch(crashing_apply)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = run()
    with pytest.raises(Exception):
        q.awaitTermination()
    assert crash_flag.exists()
    with sqlite3.connect(db) as conn:
        committed = conn.execute(
            "SELECT count(*) FROM cleaned_reviews"
        ).fetchone()[0]
    assert committed > 0  # batch 0 WAS committed before the crash

    q2 = run()
    q2.awaitTermination()

    with sqlite3.connect(db) as conn:
        rows = conn.execute(
            "SELECT review_id, count(*) FROM cleaned_reviews GROUP BY 1"
        ).fetchall()
    assert len(rows) == 12  # every id landed exactly once
    assert all(n == 1 for _, n in rows)


def test_stream_stream_left_outer_join(spark, tmp_path):
    """LEFT OUTER attribution: unmatched purchases below the global
    watermark emit a null-click row in the final no-data batch;
    younger unmatched purchases stay in state (not emitted)."""
    from yelp_streaming_etl_pipeline_spark.streaming.joins import (
        attribute_purchases_outer,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    # max click_ts = t0+10h, max purchase_ts = t0+9h ->
    # global watermark = t0+9h - 1h = t0+8h
    clicks = [
        ("u1", t0, "c1"),
        ("u9", t0 + timedelta(hours=10), "c9"),
    ]
    purchases = [
        ("u1", t0 + timedelta(minutes=10), "p1", 10.0),  # matches c1
        ("u2", t0 + timedelta(hours=2), "p2", 5.0),      # unmatched, < wm
        ("u3", t0 + timedelta(hours=9), "p3", 7.0),      # unmatched, >= wm
    ]
    cs = "user_id string, click_ts timestamp, click_id string"
    ps = (
        "user_id string, purchase_ts timestamp, "
        "purchase_id string, amount double"
    )
    spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(
        str(tmp_path / "clicks")
    )
    spark.createDataFrame(purchases, ps).coalesce(1).write.parquet(
        str(tmp_path / "purchases")
    )
    out = attribute_purchases_outer(
        spark.readStream.schema(cs).parquet(str(tmp_path / "clicks")),
        spark.readStream.schema(ps).parquet(str(tmp_path / "purchases")),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_outer_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_attro"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM attr_outer_out").collect()
    got = {(r["purchase_id"], r["click_id"]) for r in rows}
    assert got == {("p1", "c1"), ("p2", None)}



def test_stream_left_outer_watermark_is_min_over_inputs(spark, tmp_path):
    """The null-emission cutoff is min(max_click_ts, max_purchase_ts)
    - delay: whichever side lags, its max caps the global watermark."""
    from yelp_streaming_etl_pipeline_spark.streaming.joins import (
        attribute_purchases_outer,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    cs = "user_id string, click_ts timestamp, click_id string"
    ps = (
        "user_id string, purchase_ts timestamp, "
        "purchase_id string, amount double"
    )

    def run(clicks, purchases, tag):
        spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(
            str(tmp_path / f"c{tag}")
        )
        spark.createDataFrame(purchases, ps).coalesce(1).write.parquet(
            str(tmp_path / f"p{tag}")
        )
        out = attribute_purchases_outer(
            spark.readStream.schema(cs).parquet(str(tmp_path / f"c{tag}")),
            spark.readStream.schema(ps).parquet(str(tmp_path / f"p{tag}")),
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"lo_wm_{tag}")
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["purchase_id"], r["click_id"])
            for r in spark.sql(f"SELECT * FROM lo_wm_{tag}").collect()
        }

    # case A: CLICK side lags (max click = t0+2h) -> watermark t0+1h;
    # unmatched purchase at t0+30m emits, t0+90m is held
    got = run(
        [("u9", t0 + timedelta(hours=2), "c9")],
        [
            ("u1", t0 + timedelta(minutes=30), "pA", 1.0),
            ("u2", t0 + timedelta(minutes=90), "pB", 1.0),
            ("u3", t0 + timedelta(hours=5), "pC", 1.0),
        ],
        "a",
    )
    assert got == {("pA", None)}

    # case B: PURCHASE side lags (max purchase = t0+2h) -> watermark
    # t0+1h even though clicks reach t0+9h
    got = run(
        [("u9", t0 + timedelta(hours=9), "c9")],
        [
            ("u1", t0 + timedelta(minutes=30), "pA", 1.0),
            ("u2", t0 + timedelta(hours=2), "pB", 1.0),
        ],
        "b",
    )
    assert got == {("pA", None)}


def test_streaming_hll_incremental_across_restarts(spark, tmp_path):
    """The 256-row streaming state IS the sketch: run availableNow
    over epoch 1, add more files, restart from the SAME checkpoint —
    the recovered state merges the new epoch and the final register
    table equals the batch build over everything."""
    from pyspark.sql import functions as F

    from yelp_streaming_etl_pipeline_spark.operators import (
        sketches as SK,
    )

    src = tmp_path / "hll_src"
    src.mkdir()
    ck = str(tmp_path / "hll_ck")
    e1 = spark.range(0, 4000).select(F.col("id").alias("k"))
    e2 = spark.range(3000, 9000).select(F.col("id").alias("k"))
    e1.coalesce(1).write.parquet(str(src / "epoch1"))

    def run_once():
        stream = spark.readStream.schema("k long").option(
            "recursiveFileLookup", "true"
        ).parquet(str(src))
        regs = SK.hll_registers(stream, F.col("k"))
        q = (
            regs.writeStream.outputMode("complete")
            .format("memory")
            .queryName("hll_restart")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["bucket"], r["max_rho"])
            for r in spark.sql("SELECT * FROM hll_restart").collect()
        }

    first = run_once()
    batch1 = {
        (r["bucket"], r["max_rho"])
        for r in SK.hll_registers(e1, F.col("k")).collect()
    }
    assert first == batch1

    e2.coalesce(1).write.parquet(str(src / "epoch2"))
    second = run_once()
    batch_all = {
        (r["bucket"], r["max_rho"])
        for r in SK.hll_registers(e1.unionAll(e2), F.col("k")).collect()
    }
    assert second == batch_all


def test_ewma_stream_bounded_state_matches_batch(spark, tmp_path):
    """Streaming EWMA (applyInPandasWithState, 2 scalars of state per
    key) reproduces the batch fold bit-for-bit when delivery is
    per-key ordered — including a skewed hot key whose history spans
    two micro-batches, the case the batch operator's collect_list
    ceiling is about."""
    import glob
    import os
    import shutil

    from yelp_streaming_etl_pipeline_spark.operators.timeseries import (
        ewma_by_key,
    )
    from yelp_streaming_etl_pipeline_spark.streaming.stateful import (
        ewma_stream,
    )

    base = datetime(2024, 1, 1)
    rows = []
    for i in range(200):  # hot key
        rows.append(
            (7, base + timedelta(seconds=i), i, float((i * 37) % 100) + 0.5)
        )
    for i in range(10):
        rows.append((8, base + timedelta(seconds=i), 1000 + i, float(i)))
    df = spark.createDataFrame(
        rows, "user_id LONG, ts TIMESTAMP, event_id LONG, value DOUBLE"
    )
    cutoff = base + timedelta(seconds=100)
    d1 = df.filter(F.col("ts") < F.lit(cutoff))
    d2 = df.filter(F.col("ts") >= F.lit(cutoff))
    d1.coalesce(1).write.parquet(str(tmp_path / "p1"))
    d2.coalesce(1).write.parquet(str(tmp_path / "p2"))
    src = tmp_path / "src"
    src.mkdir()
    f1 = glob.glob(str(tmp_path / "p1" / "part-*.parquet"))[0]
    f2 = glob.glob(str(tmp_path / "p2" / "part-*.parquet"))[0]
    shutil.copy(f1, src / "a.parquet")
    shutil.copy(f2, src / "b.parquet")
    # file source picks oldest mod-time first: pin batch order = time order
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (1_000_100, 1_000_100))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out_dir = str(tmp_path / "out")
    q = (
        ewma_stream(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda d, e: d.withColumn("_epoch", F.lit(e))
            .write.mode("append")
            .parquet(out_dir)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = spark.read.parquet(out_dir)
    # the hot key emitted a running value in BOTH batches — the fold
    # crossed the batch boundary through state, not a buffered history
    assert res.filter("key = 7").count() == 2
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy(F.desc("_epoch"))
    final = {
        r["key"]: (r["n_events"], r["ewma"])
        for r in res.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    batch = {
        r["key"]: (r["n_events"], r["ewma"])
        for r in ewma_by_key(df).collect()
    }
    assert final == batch


def test_drop_duplicates_within_watermark_stream(spark, tmp_path):
    """Native watermark dedup: planted duplicate keys collapse to one
    row; keys differing in event time survive separately."""
    from datetime import datetime as dt

    import pyspark.sql.functions as F

    rows = [
        ("r1", dt(2024, 1, 1, 10, 0), "b1", 5),
        ("r1", dt(2024, 1, 1, 10, 0), "b1", 5),   # exact replica
        ("r1", dt(2024, 1, 1, 13, 0), "b1", 4),   # same id, new ts: kept
        ("r2", dt(2024, 1, 1, 10, 30), "b2", 3),
    ]
    src = spark.createDataFrame(
        rows, "review_id string, date timestamp, business_id string, rating int"
    )
    d = str(tmp_path / "wm_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    out = (
        stream.withWatermark("date", "2 hours")
        .dropDuplicatesWithinWatermark(["review_id", "date"])
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_dedup_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["review_id"], str(r["date"]), r["rating"])
        for r in spark.table("wm_dedup_test").collect()
    )
    assert got == [
        ("r1", "2024-01-01 10:00:00", 5),
        ("r1", "2024-01-01 13:00:00", 4),
        ("r2", "2024-01-01 10:30:00", 3),
    ]


def test_native_session_window_gap_boundary(spark, tmp_path):
    """Native session_window MERGES touching windows: an event landing
    exactly gap after the previous one extends the session (a new
    session needs a strictly-greater-than-gap silence) — pinning the
    boundary rule the oracle twin mirrors."""
    from datetime import datetime as dt

    import pyspark.sql.functions as F

    rows = [
        (1, dt(2024, 1, 1, 10, 0), 7, "view", 1.0),
        (2, dt(2024, 1, 1, 10, 29, 59), 7, "view", 1.0),  # same session
        (3, dt(2024, 1, 1, 10, 59, 59), 7, "view", 1.0),  # chains (29:59+30)
        (4, dt(2024, 1, 1, 11, 29, 59), 7, "view", 1.0),  # exactly +30m: merges
        (5, dt(2024, 1, 1, 23, 0), 7, "view", 1.0),       # watermark driver
    ]
    src = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    d = str(tmp_path / "nsw_src")
    src.coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(src.schema).parquet(d)
    sess = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("s"), "n_events")
    )
    q = (
        sess.writeStream.outputMode("append")
        .format("memory")
        .queryName("nsw_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (str(r["s"]), r["n_events"])
        for r in spark.table("nsw_test").collect()
    )
    # one merged session [10:00..11:29:59] (4 events, the exact-gap
    # event chained); the 23:00 session is still open at the final
    # watermark and unemitted
    assert got == [("2024-01-01 10:00:00", 4)]


def test_stream_stream_semi_join_emits_once(spark, tmp_path):
    """LEFT SEMI attribution: a purchase with TWO matching clicks
    emits exactly one row (no per-click fan-out); an unmatched
    purchase emits nothing."""
    from yelp_streaming_etl_pipeline_spark.streaming.joins import (
        attribute_purchases_semi,
    )

    t0 = datetime(2026, 8, 1, 0, 0, 0)
    clicks = [
        ("u1", t0, "c1"),
        ("u1", t0 + timedelta(minutes=25), "c2"),
        ("u2", t0 + timedelta(minutes=5), "c4"),
    ]
    purchases = [
        ("u1", t0 + timedelta(minutes=28), "p1", 10.0),  # c1+c2 match
        ("u2", t0 + timedelta(minutes=50), "p2", 5.0),   # 45min: none
    ]
    cs = "user_id string, click_ts timestamp, click_id string"
    ps = "user_id string, purchase_ts timestamp, purchase_id string, amount double"
    spark.createDataFrame(clicks, cs).coalesce(1).write.parquet(
        str(tmp_path / "clicks")
    )
    spark.createDataFrame(purchases, ps).coalesce(1).write.parquet(
        str(tmp_path / "purchases")
    )
    out = attribute_purchases_semi(
        spark.readStream.schema(cs).parquet(str(tmp_path / "clicks")),
        spark.readStream.schema(ps).parquet(str(tmp_path / "purchases")),
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("attr_semi_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr_semi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM attr_semi_out").collect()
    assert [(r["purchase_id"], r["amount"]) for r in rows] == [("p1", 10.0)]


def test_maintain_rejects_repeated_keys(spark):
    """maintain's append-only check: an ``arrive`` that maps every
    batch to the same key must fail on the second epoch, and the
    error must name that epoch."""
    from yelp_streaming_etl_pipeline_spark.streaming.replay import maintain

    df = spark.range(6).withColumnRenamed("id", "doc_id")
    # foreachBatch wraps the AssertionError in a StreamingQueryException
    with pytest.raises(Exception, match="epoch 1: doc_id 7 arrived after 7"):
        maintain(
            spark,
            df,
            lambda b: b.select(F.lit(7).alias("doc_id")),
            lambda acc, *_: acc,
            order_cols=["doc_id"],
            key="doc_id",
        )


def test_drain_modes_leave_no_query_or_temp_dir(spark, tmp_path):
    """drain over a two-file stream (one file per micro-batch):
    ``update`` returns the later-epoch row of a key updated in both
    epochs, ``append`` every row. Afterwards no query is active, and
    neither drain nor a maintain replay has left a checkpoint or
    staged-slices dir in the temp dir."""
    import os
    import tempfile

    from yelp_streaming_etl_pipeline_spark.streaming.replay import (
        drain,
        maintain,
    )

    def leftovers():
        return {
            d
            for d in os.listdir(tempfile.gettempdir())
            if d.startswith(("ckpt_", "slices_"))
        }

    before = leftovers()
    schema = "k STRING, v INT"
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[("a", 1), ("b", 1)], [("a", 2)]]):
        out = tmp_path / f"p{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(out))
        next(out.glob("part-*.parquet")).rename(src / f"{i}.parquet")
        os.utime(src / f"{i}.parquet", (1_000_000 + i, 1_000_000 + i))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    # running sums: epoch 0 emits a=1, b=1; epoch 1 re-emits a=3
    sums = stream().groupBy("k").agg(F.sum("v").cast("int").alias("v"))
    latest = drain(sums, "update", key="k")
    assert sorted(tuple(r) for r in latest.collect()) == [("a", 3), ("b", 1)]
    assert latest.columns == ["k", "v"]
    rows = drain(stream()).collect()
    assert sorted(tuple(r) for r in rows) == [("a", 1), ("a", 2), ("b", 1)]

    docs = spark.range(6).withColumnRenamed("id", "doc_id")
    state = maintain(
        spark,
        docs,
        lambda b: b,
        lambda acc, *_: acc,
        order_cols=["doc_id"],
        key="doc_id",
    )
    # the staged slices are gone; the state still reads (checkpointed)
    assert sorted(r["doc_id"] for r in state.collect()) == list(range(6))
    assert spark.streams.active == []
    assert leftovers() == before
