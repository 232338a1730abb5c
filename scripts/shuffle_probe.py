"""Shuffle-volume probe: how many bytes do the minhash-family
operators actually shuffle, at 1x and at the 10x rotated-text
replication? (The round-11 narrow-band LSH rewrite is justified by
shuffle BYTES, which wall-clock at sf0.1 cannot see — this probe
reads the engine's own shuffle-write metrics instead.)

Method: per query, snapshot the cumulative shuffle-write /
shuffle-read byte totals from the AppStatusStore stage list before
and after the noop-sink run; the delta is the run's shuffle volume.
Replication is scale_probe_pairs' letter-rotation (replicas are NOT
near-dups of each other), so pair output grows linearly and the
byte ratio isolates the operator.

Usage: python scripts/shuffle_probe.py  (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yelp_streaming_etl_pipeline_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"

PROBES = [
    "neardup_minhash",
    "dedup_corpus_prune",
    "dedup_eval_minhash",
]


def _stage_totals(spark) -> tuple[int, int]:
    """Cumulative (shuffle_write_bytes, shuffle_read_bytes) across all
    stages the app has ever run, from the live AppStatusStore.
    ``stageList`` takes five arguments on pyspark 4.1 (statuses,
    details, withSummaries, unsortedQuantiles, taskStatus)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None
    )
    w = r = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
    return w, r


def main() -> None:
    import __spark_entry__ as E
    from scale_probe_pairs import replicate

    spark = get_spark("shuffle_probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    big = tempfile.mkdtemp(prefix="shufprobe_")
    replicate(spark, big)
    qs = E.queries()
    results: dict = {}
    for name in PROBES:
        fn = qs[name]
        rec: dict = {}
        for label, d in (("base", SF), ("big", big)):
            spark.catalog.clearCache()
            w0, r0 = _stage_totals(spark)
            t0 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            w1, r1 = _stage_totals(spark)
            rec[label] = {
                "sec": round(dt, 3),
                "shuffle_write_mb": round((w1 - w0) / 1e6, 2),
                "shuffle_read_mb": round((r1 - r0) / 1e6, 2),
            }
        rec["write_ratio"] = round(
            rec["big"]["shuffle_write_mb"]
            / max(rec["base"]["shuffle_write_mb"], 0.01),
            2,
        )
        results[name] = rec
    shutil.rmtree(big, ignore_errors=True)
    print(json.dumps({"metric": "shuffle_probe", "probes": results}))


if __name__ == "__main__":
    main()
