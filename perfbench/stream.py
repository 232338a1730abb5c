"""Workload ``review_stream``: an open loop at 100 reviews/s.

A separate generator process (``stream_gen.py``) writes small Yelp
JSON-lines files on a fixed schedule, with a duplicate share and a
late / out-of-order share. The reference topology is composed from the
package's public functions:

    file stream (sources.reviews mapping) -> streaming.topology.deduped_stream
      -> with_lang_id(method="marker") -> streaming_quality_pipeline
      -> streaming.filetopic.write_file_topic_keyed: cleaned_reviews, quality_issues
    cleaned_reviews -> sources.jdbc.foreach_batch_upsert_sqlite   (warehouse)
                    -> streaming.topology.windowed_stats_stream   (hourly stats)

Before the clock starts, a few reviews go through all four queries
(the warm-up, counted in ``setup_s``). Latency is measured per accepted
review, from its due time (its sequence number on the schedule) to the
commit of its SQLite upsert.

Correctness: the SQLite rows must equal batch ``clean_reviews`` over
the deduplicated input, as computed by its DuckDB twin (the
``oracle_sql()`` entry the repo's oracle gate holds batch
``clean_reviews`` to) with the marker lang-ID twin; a review older than
the watermark may be missing, since Spark drops such rows once a
watermark is set. The cleaned topic must hold each review once.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sqlite3
import statistics
import subprocess
import sys
import time

from pyspark.sql import functions as F

import gen
from entries import trace_entries
from etl import COMPARE_SKIP, FLAG_ISSUES, Twin
from probe import ProgressListener, StatusStore, cpu_s, duration_p50, jvm_pid, log, percentile

from yelp_streaming_etl_pipeline_spark.functions.language import with_lang_id
from yelp_streaming_etl_pipeline_spark.operators.gauntlet import select_cleaned
from yelp_streaming_etl_pipeline_spark.sources.jdbc import (
    UPSERT_TABLE,
    _sqlite_value,
    ensure_sqlite_table,
    foreach_batch_upsert_sqlite,
)
from yelp_streaming_etl_pipeline_spark.sources.reviews import NOW_LITERAL, read_yelp_jsonlines
from yelp_streaming_etl_pipeline_spark.streaming import filetopic as FT
from yelp_streaming_etl_pipeline_spark.streaming.topology import (
    deduped_stream,
    streaming_quality_pipeline,
    windowed_stats_stream,
)

RATE = 100.0  # reviews/s, the reference producer's default
PER_FILE = 10  # one file every 100 ms
WARM_REVIEWS = 20
QUERIES = ("process_cleaned", "process_issues", "warehouse", "stats")


class _StreamReads:
    """Hands ``read_yelp_jsonlines`` a ``readStream`` where it reads
    ``spark.read``, so the stream maps the JSON-lines source exactly as
    the batch path does."""

    def __init__(self, spark) -> None:
        self.read = spark.readStream


def _now():
    return F.to_timestamp(F.lit(NOW_LITERAL))


class Warehouse:
    """foreachBatch hook: the package's SQLite upsert, then the commit
    time of every review id that appeared in the table."""

    def __init__(self, db: str, columns: list[str]) -> None:
        self.db = db
        ensure_sqlite_table(db, UPSERT_TABLE, columns)
        self._upsert = foreach_batch_upsert_sqlite(db, UPSERT_TABLE)
        self.committed: dict[str, float] = {}
        self.upsert_ms: list[float] = []

    def __call__(self, batch_df, epoch_id: int) -> None:
        t0 = time.perf_counter()
        self._upsert(batch_df, epoch_id)
        now = time.time()
        self.upsert_ms.append((time.perf_counter() - t0) * 1e3)
        with sqlite3.connect(self.db) as conn:
            for (rid,) in conn.execute(f"SELECT review_id FROM {UPSERT_TABLE}"):
                self.committed.setdefault(rid, now)


def start_topology(ctx, in_dir: str, base: str, db: str):
    """Start the four queries; returns them, the warehouse hook, the
    topic directories and the accepted rows' schema."""
    spark, now = ctx.spark, _now()
    tr = ctx.tracer
    with tr.span("sources.reviews.read_yelp_jsonlines"):
        raw = read_yelp_jsonlines(_StreamReads(spark), in_dir)
    with tr.span("streaming.topology.deduped_stream"):
        deduped = deduped_stream(raw)
    with tr.span("functions.language.with_lang_id"):
        lid = with_lang_id(deduped, method="marker")
    with tr.span("streaming.topology.streaming_quality_pipeline"):
        accepted, issues = streaming_quality_pipeline(lid, now)
    topics = {t: os.path.join(base, t) for t in ("cleaned_reviews", "quality_issues")}
    for t in topics.values():
        os.makedirs(os.path.join(t, "data"), exist_ok=True)
    ckpt = lambda name: os.path.join(base, "ckpt", name)  # noqa: E731
    queries = {}
    with tr.span("streaming.filetopic.write_file_topic_keyed"):
        queries["process_cleaned"] = FT.write_file_topic_keyed(
            accepted, topics["cleaned_reviews"], ckpt("cleaned"), key_col="business_id",
            topic="cleaned_reviews", timestamp_col="date",
        ).queryName("process_cleaned").start()
        queries["process_issues"] = FT.write_file_topic_keyed(
            issues, topics["quality_issues"], ckpt("issues"), key_col="review_id",
            topic="quality_issues", timestamp_col="detected_at",
        ).queryName("process_issues").start()
    cleaned = FT.read_file_topic_stream(spark, topics["cleaned_reviews"]).select(
        F.from_json(F.col("value").cast("string"), accepted.schema).alias("r")
    ).select("r.*")
    rows = select_cleaned(cleaned, now)
    warehouse = Warehouse(db, rows.columns)
    queries["warehouse"] = (
        rows.writeStream.foreachBatch(warehouse)
        .option("checkpointLocation", ckpt("warehouse")).queryName("warehouse").start()
    )
    with tr.span("streaming.topology.windowed_stats_stream"):
        stats = windowed_stats_stream(cleaned)
    queries["stats"] = (
        stats.writeStream.outputMode("append").format("parquet")
        .option("path", os.path.join(base, "hourly_stats"))
        .option("checkpointLocation", ckpt("stats")).queryName("stats").start()
    )
    return queries, warehouse, topics, accepted.schema


def _wait_ready(queries: dict, timeout_s: float = 60.0) -> None:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if all(q.status["message"] == "Waiting for data to arrive" for q in queries.values()):
            return
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"query {q.name} failed: {q.exception()}")
        time.sleep(0.05)
    raise TimeoutError("streaming queries did not start")


def warm_up(ctx) -> None:
    """Start the topology and push a few reviews through all four
    queries, so the measured micro-batches are warm and a watermark is
    set (the reviews' event times precede the stream's). For this
    workload that is what a warm session means, so it counts in
    ``setup_s``. Leaves the running topology in ``ctx.state``."""
    base = ctx.path("stream")
    in_dir = ctx.path("stream/in")
    db = os.path.join(base, "warehouse.db")
    st = ctx.state = {"base": base, "in_dir": in_dir, "db": db}
    if ctx.trace:
        st["listener"] = ProgressListener()
        ctx.spark.streams.addListener(st["listener"])
    st["queries"], st["warehouse"], st["topics"], st["accepted_schema"] = start_topology(
        ctx, in_dir, base, db
    )
    log("queries started")
    _wait_ready(st["queries"])
    log("queries ready")
    recs, _ = gen.reviews(ctx.seed + 10_000, WARM_REVIEWS)
    date = (gen.STREAM_EVENT_START - dt.timedelta(hours=1)).strftime(gen.DATE_FMT)
    for i, r in enumerate(recs):
        r.update(review_id=f"w{i:05d}", date=date)
    tmp = os.path.join(in_dir, ".warm.tmp")
    gen.write_jsonl(tmp, recs)
    os.rename(tmp, os.path.join(in_dir, "warm.jsonl"))
    for name in QUERIES:
        st["queries"][name].processAllAvailable()
        log(f"warm-up: {name} drained")
    st["warm_recs"] = recs
    if ctx.trace:
        st["warm_routed"] = routed_reviews(ctx.spark, st["topics"], st["accepted_schema"])


def run(ctx) -> dict:
    spark, st = ctx.spark, ctx.state
    n = int(RATE * ctx.seconds)
    plan, gen_profile = gen.stream_plan(ctx.seed, n)
    in_dir, base, db = st["in_dir"], st["base"], st["db"]
    queries, warehouse, topics = st["queries"], st["warehouse"], st["topics"]
    accepted_schema = st["accepted_schema"]
    listener = st.get("listener")
    store = StatusStore(spark) if ctx.trace else None
    mark = store.mark() if store else None
    # micro-batches up to these ids belong to the warm-up
    warm_batch = {
        name: q.lastProgress["batchId"] if q.lastProgress else -1 for name, q in queries.items()
    }
    report = os.path.join(base, "generator.json")
    jvm = jvm_pid(spark)
    cpu0 = cpu_s(jvm)
    t0 = time.time() + 0.5
    proc = subprocess.Popen([
        sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "stream_gen.py"),
        "--out", in_dir, "--seed", str(ctx.seed), "--n", str(n), "--rate", str(RATE),
        "--per-file", str(PER_FILE), "--t0", repr(t0), "--report", report,
    ])
    try:
        if proc.wait(timeout=ctx.seconds + 60) != 0:
            raise RuntimeError(f"stream generator exited with {proc.returncode}")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    log("generator done")
    for name in QUERIES:  # producers first, so consumers see every epoch
        queries[name].processAllAvailable()
    measured_s = time.time() - t0
    cpu = cpu_s(jvm) - cpu0
    log(f"drained: {cpu:.2f} cpu-s")
    failed_queries = sum(1 for q in queries.values() if q.exception() is not None)
    for q in queries.values():
        q.stop()
    if ctx.trace:
        spark.streams.removeListener(listener)
        engine = store.since(mark, measured_s)
        jobs = store.jobs_since(mark)

    # rows older than the watermark may be dropped (Spark drops them once
    # a micro-batch has set a watermark), so a late review is correct
    # either absent or equal to its reference row
    expected = reference(st["warm_recs"] + plan)
    log("reference")
    late = {r["review_id"] for r in plan if r["kind"] == "late"}
    got = {}
    with sqlite3.connect(db) as conn:
        cur = conn.execute(f"SELECT * FROM {UPSERT_TABLE}")
        cols = [d[0] for d in cur.description]
        for row in cur:
            got[row[cols.index("review_id")]] = {c: v for c, v in zip(cols, row) if c not in COMPARE_SKIP}
    missing = [rid for rid in expected if rid not in got and rid not in late]
    extra = [rid for rid in got if rid not in expected]
    wrong = [rid for rid in got if rid in expected and got[rid] != expected[rid]]
    dup_ids = (
        FT.read_file_topic_batch(spark, topics["cleaned_reviews"])
        .select(F.from_json(F.col("value").cast("string"), accepted_schema)["review_id"].alias("rid"))
        .groupBy("rid").count().filter("count > 1").count()
    )

    due = {}
    for r in plan:
        due.setdefault(r["review_id"], t0 + r["seq"] / RATE)
    lat_ms = [(warehouse.committed[rid] - due[rid]) * 1e3 for rid in due if rid in warehouse.committed]
    if not lat_ms:
        raise RuntimeError("no review reached the warehouse")
    originals = [r for r in plan if r["kind"] != "dup"]
    failed = len(missing) + len(extra) + len(wrong) + dup_ids + failed_queries
    result = {
        "attempted": len(originals),
        "failed": min(failed, len(originals)),
        "measured_s": measured_s,
        "e2e": {
            "cpu_ms_per_review": cpu / len(originals) * 1e3,
            "latency_p50_ms": statistics.median(lat_ms),
            "latency_p99_ms": percentile(lat_ms, 99),
            "reviews_per_s": len(originals) / measured_s,
        },
        "info": {
            "latency_samples": len(lat_ms),
            "missing": len(missing), "extra": len(extra), "wrong": len(wrong),
            "late_committed": len(late & got.keys()),
            "duplicate_ids_in_topic": dup_ids, "failed_queries": failed_queries,
            "generator": gen_profile,
        },
    }
    with open(report) as f:
        result["info"]["generator_run"] = gen_report = json.load(f)
    if ctx.trace:
        ctx.listener_s += listener.callback_s
        result["layers"] = trace_layers(
            engine, jobs,
            [b for b in listener.progress if b["batch_id"] > warm_batch[b["query"]]],
            warehouse, gen_report,
            routed_reviews(spark, topics, accepted_schema) - st["warm_routed"],
        )
        entry_layers, attempted, failed = trace_entries(ctx)
        result["layers"].update(entry_layers)
        result["attempted"] += attempted
        result["failed"] += failed
    return result


def routed_reviews(spark, topics: dict, accepted_schema) -> int:
    """Distinct reviews that left the dedup stage: accepted rows plus
    reviews with a fatal issue."""

    def decoded(topic, schema):
        return FT.read_file_topic_batch(spark, topics[topic]).select(
            F.from_json(F.col("value").cast("string"), schema).alias("r")
        ).select("r.*")

    accepted = decoded("cleaned_reviews", accepted_schema).select("review_id")
    issue_schema = "review_id STRING, issue_type STRING"
    rejected = (
        decoded("quality_issues", issue_schema)
        .filter(~F.col("issue_type").isin(list(FLAG_ISSUES)))
        .select("review_id")
    )
    return accepted.union(rejected).count()


def reference(recs: list[dict]) -> dict[str, dict]:
    """The DuckDB twin of batch ``clean_reviews`` (marker lang-ID) over
    the distinct input reviews, as the SQLite sink stores its rows:
    timestamps as the local-time text the sink's Python workers write."""
    distinct = list({(r["review_id"], r["date"]): r for r in recs}.values())
    con = Twin(distinct, method="marker").con
    cur = con.execute("SELECT * FROM twin_accepted")
    cols = [d[0] for d in cur.description]
    out = {}
    for row in cur.fetchall():
        d = {c: _local(v) for c, v in zip(cols, row) if c not in COMPARE_SKIP}
        out[d["review_id"]] = {c: _sqlite_value(v) for c, v in d.items()}
    return out


def _local(v):
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=dt.timezone.utc).astimezone().replace(tzinfo=None)
    return v


def trace_layers(engine: dict, jobs: list[str], progress: list[dict], warehouse, gen_report: dict, routed: int) -> dict:
    """Per-query progress of the measured micro-batches, state and
    producer figures, the upsert, and the engine's view of the run."""
    def by_query(name):
        return [b for b in progress if b["query"] == name and b["num_input_rows"] > 0]

    layers = {}
    for name in QUERIES:
        batches = by_query(name)
        layers[f"streaming.{name}.batches"] = len(batches)
        layers[f"streaming.{name}.batch_ms_p50"] = duration_p50(batches, "triggerExecution")
        layers[f"streaming.{name}.query_planning_ms"] = duration_p50(batches, "queryPlanning")
        layers[f"streaming.{name}.add_batch_ms"] = duration_p50(batches, "addBatch")
        layers[f"streaming.{name}.wal_commit_ms"] = duration_p50(batches, "walCommit")
        layers[f"streaming.{name}.latest_offset_ms"] = duration_p50(batches, "latestOffset")
    proc = by_query("process_cleaned")
    dedup = [s for b in proc for s in b["state"] if s["op"].startswith("dedupe")]
    late = sum(s["dropped_by_watermark"] for s in dedup)
    layers["streaming.topology.dedup_state_rows"] = dedup[-1]["rows_total"] if dedup else 0
    layers["streaming.topology.dedup_state_bytes"] = dedup[-1]["memory_bytes"] if dedup else 0
    layers["streaming.topology.late_rows_dropped"] = late
    # rows read minus rows dropped late minus distinct reviews routed,
    # over the measured micro-batches
    layers["streaming.topology.duplicates_dropped"] = (
        sum(b["num_input_rows"] for b in proc) - late - routed
    )
    producers = by_query("process_cleaned") + by_query("process_issues")
    layers["streaming.filetopic.produce_ms"] = duration_p50(producers, "addBatch")
    stream_jobs = sum(1 for d in jobs if d.split("\n")[0] in ("process_cleaned", "process_issues"))
    layers["streaming.filetopic.produce_jobs"] = stream_jobs / max(1, len(producers))
    layers["sources.jdbc.upsert_ms"] = statistics.median(warehouse.upsert_ms) if warehouse.upsert_ms else 0.0
    layers["sources.jdbc.rows_upserted"] = len(warehouse.committed)
    layers["bench.generator_late_ms"] = gen_report["late_ms_max"]
    for k in ("tasks", "executor_cpu_s", "core_busy_frac", "shuffle_bytes", "spill_bytes", "task_skew"):
        layers[f"spark.{k}"] = engine[k]
    return layers
