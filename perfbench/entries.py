"""The ``__spark_entry__.queries()`` entries timed in the traced ``review_stream`` run.

Four ``queries()`` entries whose wall time is construction-time jobs in
``operators.graph``, ``operators.tokenizer``, ``operators.corpus_quality``
and ``operators.sampling``: ``cosupply_kcore``,
``unigram_em_schedule_scores``, ``pagerank_nodes`` and
``quality_quota_sample``. They run on tables of the sf0.01 fixtures'
shape generated from the seed (the fixture tables themselves live
outside the checkout). Each entry is built, planned and executed (its
planned execution counted); its result must equal its ``oracle_sql()`` twin in DuckDB.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from probe import StatusStore

ENTRIES = ("cosupply_kcore", "unigram_em_schedule_scores", "pagerank_nodes", "quality_quota_sample")
# sizes of the sf0.01 fixture tables
N_ORDERS, N_LINEITEM, N_PARTS, N_SUPPLIERS, N_CUSTOMERS = 15_000, 60_000, 2_000, 100, 1_500


def write_fixtures(seed: int, sf_dir: str) -> None:
    tables = {
        "documents": gen.documents(seed),
        "orders": gen.orders(seed, N_ORDERS, N_CUSTOMERS),
        "lineitem": gen.lineitem(seed, N_LINEITEM, N_ORDERS, N_PARTS, N_SUPPLIERS),
    }
    for name, cols in tables.items():
        table = pa.table(cols)
        for i, field in enumerate(table.schema):
            if pa.types.is_timestamp(field.type):
                table = table.set_column(i, field.name, table.column(i).cast(pa.timestamp("us")))
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def _rows(rows) -> list[tuple]:
    def cell(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    out = [tuple(cell(v) for v in r) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return out


def trace_entries(ctx) -> tuple[dict, int, int]:
    """Per-entry construct / plan / exec seconds, construction jobs and
    executor CPU, plus (attempted, failed) of the twin checks."""
    import __spark_entry__ as E

    sf_dir = ctx.path("fixtures")
    write_fixtures(ctx.seed, sf_dir)
    con = duckdb.connect()
    for t in ("documents", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    queries, twins = E.queries(), E.oracle_sql()
    store = StatusStore(ctx.spark)
    layers, failed = {}, 0
    for name in ENTRIES:
        mark = store.mark()
        t0 = time.perf_counter()
        df = queries[name](ctx.spark, sf_dir)
        t1 = time.perf_counter()
        construct_jobs = len(store.jobs_since(mark))
        qe = df._jdf.queryExecution()
        t2 = time.perf_counter()
        qe.executedPlan()
        t3 = time.perf_counter()
        qe.toRdd().count()  # executes the plan made above, without planning it again
        t4 = time.perf_counter()
        eng = store.since(mark, t4 - t0)
        layers.update({
            f"spark.{name}.construct_s": t1 - t0,
            f"spark.{name}.construct_jobs": construct_jobs,
            f"spark.{name}.plan_s": t3 - t2,
            f"spark.{name}.exec_s": t4 - t3,
            f"spark.{name}.executor_cpu_s": eng["executor_cpu_s"],
        })
        cols = sorted(df.columns)
        got = _rows(tuple(r[c] for c in cols) for r in df.collect())
        cur = con.execute(twins[name])
        twin_cols = [d[0] for d in cur.description]
        idx = [twin_cols.index(c) for c in cols] if sorted(twin_cols) == cols else None
        want = _rows(tuple(r[i] for i in idx) for r in cur.fetchall()) if idx else None
        if got != want:
            failed += 1
            print(f"perfbench: entry {name} differs from its oracle twin", flush=True)
    return layers, len(ENTRIES), failed
