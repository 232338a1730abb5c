"""Run-to-completion streaming: ``drain`` for one-shot queries, the
staged micro-batch replay, and the ``maintain`` combinator behind the
*_maintain_stream entries (BM25/CDC/exact-substring/DSIR/SimHash
state, graph k-core/LPA/PageRank, bigram-LM counts, bottom-k samples).

Every query here runs to completion as one execution mode of the
engine: a temp checkpoint dir, ``trigger(availableNow=True)``,
``start`` + ``awaitTermination``, then ``stop()`` and removal of the
checkpoint dir in a ``finally`` — so no query outlives its call and
no checkpoint dir outlives its query.

``drain(stream, mode, key)`` hands back what a streaming query
emitted. ``append`` / ``complete`` output lands in a uniquely named
memory sink, returned as ``spark.table(name)``. ``update`` output is
stamped with its epoch and appended to a parquet sink; the result is
the latest-epoch row per ``key`` (an idempotent upsert's compaction,
distributed, correct at any micro-batch split). That sink dir stays:
the returned DataFrame reads it lazily.

Replay: a batch DataFrame is staged as ``n_slices`` mtime-ordered
parquet files and re-read through the file stream source under
``maxFilesPerTrigger=1``, so ``foreachBatch`` sees exactly
``n_slices`` deterministic micro-batches — the test-staging stand-in
for a Kafka topic (streaming/filetopic.py is the keyed-topic
equivalent; this one is for INSERT-ONLY maintenance folds where only
arrival order matters). Slicing is ntile over ``order_cols``, so
every engine and every run stages identical batches, and a fold
keyed on "first occurrence wins" sees first occurrences in global
order — state is never re-keyed retroactively by a later batch.
The staged slices are removed once the replay ends, so a fold must
materialize (localCheckpoint) anything it keeps from a batch.

``maintain`` is the one fold skeleton every maintenance entry with a
single state table shares. Per epoch:

1. ``arrive(batch)`` turns the raw batch into the fresh state block
   (the expensive per-document work — tokenize, hash, chunk — runs
   here, exactly once per document) and the block is materialized
   with an eager localCheckpoint;
2. with a ``key``, the append-only precondition is checked on that
   block: its smallest key must exceed the largest key of every
   earlier epoch (check_ordered_arrival — one 1-row aggregate, no
   join against state);
3. the block joins the state: by default state is a LAZY union of
   the immutable per-epoch blocks, so no epoch rewrites O(state);
   with ``merge``, ``merge(state, fresh)`` returns the next
   materialized state (count tables that sum per key, samples that
   prune back to k);
4. ``readout(state, prev_result, epoch_id)`` derives the epoch's
   result (it may assert per-epoch invariants against the previous
   result); the final epoch's result is returned.

Entries whose state is several tables, or whose fold reads state
before it can build the fresh block (keep-first anti-joins, fresh x
accumulated candidate joins), call ``replay_fold`` directly.

Scale note: the single-partition ntile window is staging scaffolding
only (test corpora); production replays arrive pre-batched from the
source. The fold side is the part with a 100 TB story: per-epoch
work bounded by the batch delta plus the readout, state held as
immutable checkpointed blocks (a compacted keyed state table in
production).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stage_ordered_slices(
    df: DataFrame, order_cols: Sequence[str], n_slices: int = 3
) -> str:
    """Write ``df`` as ``n_slices`` parquet files with strictly
    increasing mtimes, sliced by ntile over ``order_cols`` ASCENDING.
    Returns the directory path for ``spark.readStream``."""
    d = tempfile.mkdtemp(prefix="slices_")
    sliced = df.withColumn(
        "_slice", F.ntile(n_slices).over(Window.orderBy(*order_cols))
    )
    timed: set[str] = set()
    for i in range(1, n_slices + 1):
        sliced.filter(F.col("_slice") == i).drop("_slice").coalesce(
            1
        ).write.mode("append").parquet(d)
        for p in glob.glob(os.path.join(d, "*.parquet")):
            if p not in timed:
                os.utime(p, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
                timed.add(p)
    return d


def _run_to_completion(writer) -> None:
    """Run the query ``writer`` (a DataStreamWriter) describes under
    ``trigger(availableNow=True)`` with a temp checkpoint dir, wait
    for it, then stop it and remove the dir — also when it fails."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = None
    try:
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if q is not None:
            q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


def drain(
    stream: DataFrame,
    mode: str = "append",
    key: str | Sequence[str] | None = None,
) -> DataFrame:
    """Run ``stream`` to completion in output ``mode`` and return what
    it emitted: every emitted row for ``append`` / ``complete`` (a
    memory sink), the latest-epoch row per ``key`` for ``update``."""
    spark = stream.sparkSession
    writer = stream.writeStream.outputMode(mode)
    if mode != "update":
        name = "drain_" + uuid.uuid4().hex[:8]
        _run_to_completion(writer.format("memory").queryName(name))
        return spark.table(name)
    out = tempfile.mkdtemp(prefix="upd_sink_")

    def upsert_epoch(df: DataFrame, epoch: int) -> None:
        df.withColumn("_epoch", F.lit(epoch)).write.mode("append").parquet(out)

    _run_to_completion(writer.foreachBatch(upsert_epoch))
    latest = Window.partitionBy(key).orderBy(F.desc("_epoch"))
    return (
        spark.read.parquet(out)
        .withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_epoch", "_rn")
    )


def replay_fold(
    spark,
    df: DataFrame,
    fold: Callable[[DataFrame, int], None],
    n_slices: int = 3,
    order_cols: Sequence[str] | None = None,
) -> int:
    """Stage ``df`` as ordered slices, replay them as micro-batches,
    and call ``fold(batch_df, epoch_id)`` per epoch (the fold closure
    owns its accumulated state). Asserts at least ``n_slices`` epochs
    ran; returns the epoch count.

    The staged slices are removed once the query has stopped: state
    the fold keeps must not read ``batch_df`` lazily."""
    d = stage_ordered_slices(df, list(order_cols or df.columns), n_slices)
    epochs = {"n": 0}

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        fold(batch_df, epoch_id)
        epochs["n"] += 1

    try:
        _run_to_completion(
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .writeStream.foreachBatch(_fold)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert epochs["n"] >= n_slices, (
        f"expected >= {n_slices} micro-batches, got {epochs['n']}"
    )
    return epochs["n"]


def check_ordered_arrival(
    block: DataFrame, key: str, prev_max, epoch_id: int
):
    """Raise unless every ``key`` in ``block`` exceeds ``prev_max``,
    the largest key of every earlier epoch; return the new running
    max. One 1-row min/max aggregate (coalesced, so one job). Ordered
    arrival implies disjoint keys, so this is the append-only check
    for per-key state, and the precondition of keep-first folds."""
    lo, hi = (
        block.coalesce(1).agg(F.min(key), F.max(key)).collect()[0]
    )
    if lo is not None and prev_max is not None and lo <= prev_max:
        raise AssertionError(
            f"epoch {epoch_id}: {key} {lo} arrived after {prev_max} — "
            "append-only state needs strictly ordered arrival"
        )
    return prev_max if hi is None else hi


def count_merge(keys: Sequence[str], w: str):
    """``merge`` for count-table state: union + per-key sum of ``w``,
    materialized, asserting mass conservation — sum(state) +
    sum(fresh) == sum(merged), in one 1-row job."""

    def merge(state: DataFrame, fresh: DataFrame) -> DataFrame:
        merged = (
            state.unionByName(fresh)
            .groupBy(*keys)
            .agg(F.sum(w).cast("long").alias(w))
            .localCheckpoint(eager=True)
        )
        lost = (
            state.select(w)
            .unionByName(fresh.select(w))
            .unionByName(merged.select((-F.col(w)).alias(w)))
            .coalesce(1)
            .agg(F.sum(w))
            .collect()[0][0]
        )
        if lost:  # None only when every table is empty
            raise AssertionError(
                f"count merge lost {lost} of {w} mass — the merge must "
                "conserve counts"
            )
        return merged

    return merge


def maintain(
    spark,
    src: DataFrame,
    arrive: Callable[[DataFrame], DataFrame],
    readout: Callable[[DataFrame, object, int], object],
    *,
    order_cols: Sequence[str] | None,
    n_slices: int = 3,
    key: str | None = None,
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
):
    """Replay ``src`` and fold each epoch's ``arrive(batch)`` block
    into one state table (see the module docstring for the four
    steps); return the final epoch's ``readout``."""
    st: dict = {"state": None, "result": None, "max": None}

    def fold(batch: DataFrame, epoch_id: int) -> None:
        fresh = arrive(batch).localCheckpoint(eager=True)
        if key is not None:
            st["max"] = check_ordered_arrival(fresh, key, st["max"], epoch_id)
        if st["state"] is None:
            st["state"] = fresh
        elif merge is None:
            st["state"] = st["state"].unionByName(fresh)
        else:
            st["state"] = merge(st["state"], fresh)
        st["result"] = readout(st["state"], st["result"], epoch_id)

    replay_fold(spark, src, fold, n_slices=n_slices, order_cols=order_cols)
    return st["result"]
