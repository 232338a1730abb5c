"""Workload ``review_etl``: batch passes over generated Yelp JSON-lines
through the production source path.

One pass: ``sources.reviews.read_yelp_jsonlines`` ->
``functions.language.with_lang_id(method="trigram", id_col="review_id")``
-> ``operators.gauntlet.clean_reviews`` -> accepted rows and issues to
parquet, plus ``operators.stats.full_review_stats`` to parquet. Passes
repeat over the same input until the run's seconds are spent.

Correctness: every pass's outputs are compared with the DuckDB twin
(``oracle_sql()`` entries ``lang_id``, ``clean_reviews``,
``quality_issues`` and ``review_stats``, with their ``reviews`` CTE
pointed at the generated input), and accepted plus rejected must
partition the input.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

import gen
from probe import StatusStore, cpu_s, jvm_pid, log, percentile

from yelp_streaming_etl_pipeline_spark import oracles as O
from yelp_streaming_etl_pipeline_spark.functions import lang_trigrams as LT
from yelp_streaming_etl_pipeline_spark.functions.language import with_lang_id
from yelp_streaming_etl_pipeline_spark.operators.gauntlet import (
    clean_reviews,
    score_reviews,
    validate_reviews,
)
from yelp_streaming_etl_pipeline_spark.operators.stats import full_review_stats
from yelp_streaming_etl_pipeline_spark.sources.reviews import (
    NOW_LITERAL,
    SYNTH_REVIEWS_SQL,
    read_yelp_jsonlines,
)

N_REVIEWS = 1_000
WARM_REVIEWS = 20
FLAG_ISSUES = ("wrong_language", "too_long")  # issues that do not reject
COMPARE_SKIP = {"ingestion_timestamp"}  # stamped with the read time


def _now():
    return F.to_timestamp(F.lit(NOW_LITERAL))


def build(ctx, path: str):
    """The pass's three sink DataFrames, each built through spans
    around the package's public functions."""
    tr, spark, now = ctx.tracer, ctx.spark, _now()
    with tr.span("sources.reviews.read_yelp_jsonlines"):
        raw = read_yelp_jsonlines(spark, path)
    with tr.span("functions.language.with_lang_id"):
        lid = with_lang_id(raw, method="trigram", id_col="review_id")
    with tr.span("operators.gauntlet.clean_reviews"):
        accepted, _rejected, issues = clean_reviews(lid, now)
    with tr.span("operators.stats.full_review_stats"):
        stats = full_review_stats(score_reviews(validate_reviews(lid, now), now))
    return {"accepted": accepted, "issues": issues, "stats": stats}


def run_pass(ctx, path: str, out: str) -> None:
    sinks = build(ctx, path)
    for name, df in sinks.items():
        with ctx.tracer.span(f"sink.{name}"):
            df.write.mode("overwrite").parquet(os.path.join(out, name))


def warm_up(ctx) -> None:
    """One pass over a few reviews, so the measured pass runs warm."""
    d = ctx.path("warm")
    recs, _ = gen.reviews(ctx.seed + 10_000, WARM_REVIEWS)
    gen.write_jsonl(os.path.join(d, "in.jsonl"), recs)
    run_pass(ctx, os.path.join(d, "in.jsonl"), os.path.join(d, "out"))


class Twin:
    """DuckDB twin of a pass over ``recs`` (distinct reviews): tables
    ``twin_accepted``, ``twin_issues`` and ``twin_stats``. ``method``
    names the language identifier, as in ``with_lang_id``."""

    def __init__(self, recs: list[dict], method: str = "trigram") -> None:
        from __spark_entry__ import oracle_sql

        sql = oracle_sql()
        self.con = duckdb.connect()
        self.con.register("raw_in", _arrow(recs))
        self.con.execute(
            "CREATE VIEW documents AS SELECT review_id AS doc_id, text FROM raw_in"
        )
        if method == "trigram":
            self.con.register("profile", pa.table(_profile_columns()))
            self.con.execute(f"CREATE TABLE lang AS {_lang_twin_sql()}")
        else:
            lang, conf = O.sql_lang_id("text")
            self.con.execute(
                f"CREATE TABLE lang AS SELECT doc_id, {lang} AS language, "
                f"{conf} AS language_confidence FROM documents"
            )
        reviews = f"""
SELECT r.review_id, r.business_id, r.user_id, r.stars AS rating, r.text,
  strptime(r.date, '%Y-%m-%d %H:%M:%S') AS date,
  COALESCE(r.useful, 0) AS useful, COALESCE(r.funny, 0) AS funny,
  COALESCE(r.cool, 0) AS cool, 'yelp_dataset' AS source,
  CAST(NULL AS TIMESTAMP) AS ingestion_timestamp,
  l.language, l.language_confidence
FROM raw_in r JOIN lang l ON l.doc_id = r.review_id
"""
        for name, key in (("accepted", "clean_reviews"), ("issues", "quality_issues"), ("stats", "review_stats")):
            q = sql[key]
            if SYNTH_REVIEWS_SQL not in q:
                raise RuntimeError(f"oracle twin {key} no longer reads the synthetic reviews CTE")
            self.con.execute(f"CREATE TABLE twin_{name} AS {q.replace(SYNTH_REVIEWS_SQL, reviews)}")

    def check(self, out: str) -> dict[str, int]:
        """Mismatch counts between one pass's parquet outputs and the twin."""
        con, bad = self.con, {}
        for name in ("accepted", "issues", "stats"):
            con.execute(
                f"CREATE OR REPLACE VIEW got_{name} AS SELECT * FROM "
                f"read_parquet('{os.path.join(out, name)}/*.parquet')"
            )
            got = dict(r[:2] for r in con.execute(f"DESCRIBE got_{name}").fetchall())
            want = dict(r[:2] for r in con.execute(f"DESCRIBE twin_{name}").fetchall())
            cols = [c for c in got if c not in COMPARE_SKIP]
            sel = ", ".join(_canon(c, got[c]) for c in cols)
            twin_sel = ", ".join(_canon(c, want[c]) for c in cols)
            bad[name] = con.execute(
                f"SELECT count(*) FROM ((SELECT {sel} FROM got_{name} EXCEPT ALL "
                f"SELECT {twin_sel} FROM twin_{name}) UNION ALL (SELECT {twin_sel} "
                f"FROM twin_{name} EXCEPT ALL SELECT {sel} FROM got_{name}))"
            ).fetchone()[0]
        # accepted + rejected partition the input: each review is either
        # accepted once or carries exactly one fatal issue, never both
        flags = ", ".join(f"'{f}'" for f in FLAG_ISSUES)
        bad["partition"] = con.execute(
            f"""
WITH fate AS (
  SELECT review_id FROM got_accepted
  UNION ALL
  SELECT review_id FROM got_issues WHERE issue_type NOT IN ({flags})
), per AS (
  SELECT r.review_id, count(f.review_id) AS n
  FROM raw_in r LEFT JOIN fate f USING (review_id) GROUP BY r.review_id
)
SELECT (SELECT count(*) FROM per WHERE n <> 1)
     + (SELECT count(*) FROM fate WHERE review_id NOT IN (SELECT review_id FROM raw_in))
"""
        ).fetchone()[0]
        return bad


def _profile_columns() -> dict[str, list]:
    tris = sorted({t for lang in LT.LANG_ORDER for t in LT.PROFILES[lang]})
    cols = {"tri": tris}
    for lang in LT.LANG_ORDER:
        cols[f"w_{lang}"] = [LT.PROFILES[lang].get(t, 0) for t in tris]
    return cols


def _lang_twin_sql() -> str:
    """The trigram classifier's DuckDB twin over ``documents``: the same
    normalisation, trigrams, decision and marker fallback as
    ``oracle_sql()["lang_id"]``, with the per-language scores summed by
    an unnest-and-join against the profile table (the shape of
    ``lang_trigrams.trigram_scores_frame``) instead of per-trigram map
    lookups, which take minutes on documents over 5,000 characters.
    Trigrams are built from the text split into characters once, which
    gives the same list as ``sql_trigram_array``'s per-position
    ``substr`` (quadratic in the text length) at a thirtieth of the
    cost on 12,000-character texts."""
    fb_lang, fb_conf = O.sql_lang_id("text")
    zh = O.rc("lower(coalesce(text, ''))", O.LANG_ZH_CLASS)
    langs = LT.LANG_ORDER
    lang_expr, conf_expr = LT.sql_decide("zh", {g: f"s_{g}" for g in langs}, fb_lang, fb_conf)
    sums = ", ".join(f"CAST(sum(p.w_{g}) AS BIGINT) AS s_{g}" for g in langs)
    scores = ", ".join(f"coalesce(sc.s_{g}, 0) AS s_{g}" for g in langs)
    return f"""
WITH norm AS (
  SELECT doc_id, text, {LT.sql_norm('text')} AS lc FROM documents
), chars AS (
  SELECT doc_id, string_split(lc, '') AS c FROM norm WHERE len(lc) >= 3
), tri AS (
  SELECT doc_id, unnest([c[i] || c[i + 1] || c[i + 2] FOR i IN generate_series(1, len(c) - 2)]) AS tri
  FROM chars
), sc AS (
  SELECT t.doc_id, {sums} FROM tri t JOIN profile p ON p.tri = t.tri GROUP BY t.doc_id
), scored AS (
  SELECT n.doc_id, n.text, {scores}, {zh} AS zh
  FROM norm n LEFT JOIN sc ON sc.doc_id = n.doc_id
)
SELECT doc_id, {lang_expr} AS language, {conf_expr} AS language_confidence FROM scored"""


def _canon(col: str, dtype: str) -> str:
    """Timestamps compare as epoch microseconds (Spark writes
    UTC-adjusted timestamps, the twin computes naive ones)."""
    if dtype.startswith("TIMESTAMP"):
        return f"epoch_us({col}) AS {col}"
    return col


def _arrow(recs: list[dict]) -> pa.Table:
    fields = [
        ("review_id", pa.string()), ("business_id", pa.string()), ("user_id", pa.string()),
        ("stars", pa.float64()), ("text", pa.string()), ("date", pa.string()),
        ("useful", pa.int64()), ("funny", pa.int64()), ("cool", pa.int64()),
    ]
    return pa.table({k: pa.array([r[k] for r in recs], type=t) for k, t in fields})


def run(ctx) -> dict:
    recs, gen_profile = gen.reviews(ctx.seed, N_REVIEWS)
    path = os.path.join(ctx.path("input"), "reviews.jsonl")
    gen.write_jsonl(path, recs)
    twin = Twin(recs)
    log("twin built")

    store = StatusStore(ctx.spark) if ctx.trace else None
    passes: list[float] = []
    cpus: list[float] = []
    jvm = jvm_pid(ctx.spark)
    failed = 0
    bad_total: dict[str, int] = {}
    mark = store.mark() if store else None
    first_span = len(ctx.tracer.spans)
    t_start = time.perf_counter()
    step = 0.0  # longest pass plus its check: no pass starts that would end past the seconds
    while not passes or time.perf_counter() - t_start + step <= ctx.seconds:
        t_step = time.perf_counter()
        out = ctx.path(f"out{len(passes)}")
        c0, t0 = cpu_s(jvm), time.perf_counter()
        run_pass(ctx, path, out)
        passes.append(time.perf_counter() - t0)
        cpus.append(cpu_s(jvm) - c0)
        log(f"pass {len(passes)}: {passes[-1]:.2f} s, {cpus[-1]:.2f} cpu-s")
        bad = twin.check(out)
        for k, v in bad.items():
            bad_total[k] = bad_total.get(k, 0) + v
        failed += min(N_REVIEWS, sum(bad.values()))
        shutil.rmtree(out)
        step = max(step, time.perf_counter() - t_step)

    result = {
        "attempted": N_REVIEWS * len(passes),
        "failed": failed,
        "measured_s": sum(passes),
        "e2e": {
            "cpu_ms_per_review": statistics.median(cpus) / N_REVIEWS * 1e3,
            "latency_p50_ms": statistics.median(passes) * 1e3,
            "latency_p99_ms": percentile(passes, 99) * 1e3,
            "reviews_per_s": N_REVIEWS * len(passes) / sum(passes),
        },
        "info": {
            "passes": len(passes),
            "mismatches": bad_total,
            "generator": gen_profile,
        },
    }
    if store:
        result["layers"] = trace_layers(ctx, store, mark, first_span, path, passes)
        ctx.restart(master="local[1]")
        out = ctx.path("out_local1")
        t0 = time.perf_counter()
        run_pass(ctx, path, out)
        local1 = time.perf_counter() - t0
        result["layers"]["baseline.local1_pass_s"] = local1
        result["layers"]["baseline.local1_speedup"] = local1 / statistics.median(passes)
    return result


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def trace_layers(ctx, store: StatusStore, mark, first_span: int, path: str, passes: list[float]) -> dict:
    """Per-layer seconds by prefix differencing (scan -> +lang-ID ->
    +validate -> +score -> +route/sinks -> +stats) and the engine's view
    of the measured passes."""
    n_passes = len(passes)
    eng = store.since(mark, sum(passes))
    layers = {
        "operators.gauntlet.passes_per_review": eng["input_records"] / (N_REVIEWS * n_passes),
        "spark.tasks": eng["tasks"] / n_passes,
        "spark.executor_cpu_s": eng["executor_cpu_s"] / n_passes,
        "spark.core_busy_frac": eng["core_busy_frac"],
        "spark.shuffle_bytes": eng["shuffle_bytes"] / n_passes,
        "spark.spill_bytes": eng["spill_bytes"] / n_passes,
        "spark.task_skew": eng["task_skew"],
    }
    spans = ctx.tracer.self_seconds(first_span)
    layers["spark.construct_s"] = sum(
        v for k, v in spans.items() if not k.startswith("sink.")
    ) / n_passes
    m0 = store.mark()
    build(ctx, path)
    layers["spark.construct_jobs"] = len(store.jobs_since(m0))

    spark, now = ctx.spark, _now()
    raw = read_yelp_jsonlines(spark, path)
    lid = with_lang_id(raw, method="trigram", id_col="review_id")
    validated = validate_reviews(lid, now)
    scored = score_reviews(validated, now)
    t = {"scan": _noop(raw), "lang": _noop(lid), "validate": _noop(validated), "score": _noop(scored)}
    sinks = build(ctx, path)
    t0 = time.perf_counter()
    for df in sinks.values():
        df._jdf.queryExecution().executedPlan()
    t["plan"] = time.perf_counter() - t0
    t["sinks"] = _noop(sinks["accepted"]) + _noop(sinks["issues"])
    t["stats"] = _noop(sinks["stats"])
    layers.update({
        "sources.reviews.scan_s": t["scan"],
        "functions.language.lang_id_s": t["lang"] - t["scan"],
        "operators.gauntlet.validate_s": t["validate"] - t["lang"],
        "operators.gauntlet.score_s": t["score"] - t["validate"],
        "operators.gauntlet.route_s": t["sinks"] - t["score"],
        "operators.stats.review_stats_s": t["stats"] - t["score"],
        "spark.plan_s": t["plan"],
        "spark.exec_s": statistics.median(passes) - layers["spark.construct_s"] - t["plan"],
    })
    return layers
