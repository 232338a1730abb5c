"""Open-loop review generator for the ``review_stream`` workload.

Runs as its own process so its schedule does not slow when Spark
slows. Review ``seq`` is due at ``t0 + seq / rate`` (wall clock); every
``per_file`` reviews go out as one JSON-lines file, written when the
file's last review is due (atomic rename of a hidden temp file, which
Spark's file source ignores). At exit it writes how late it ran.

    python3 perfbench/stream_gen.py --out DIR --seed N --n 1000 --rate 100 \
        --per-file 10 --t0 EPOCH_S --report FILE
"""

from __future__ import annotations

import argparse
import json
import os
import time

import gen


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--n", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()

    plan, _ = gen.stream_plan(a.seed, a.n)
    late_ms = []
    for k, start in enumerate(range(0, a.n, a.per_file)):
        chunk = plan[start:start + a.per_file]
        due = a.t0 + (start + len(chunk) - 1) / a.rate
        time.sleep(max(0.0, due - time.time()))
        tmp = os.path.join(a.out, f".part-{k:05d}.tmp")
        gen.write_jsonl(tmp, [{c: v for c, v in r.items() if c not in ("seq", "kind")} for r in chunk])
        os.rename(tmp, os.path.join(a.out, f"part-{k:05d}.jsonl"))
        late_ms.append((time.time() - due) * 1e3)
    with open(a.report, "w") as f:
        json.dump({"files": len(late_ms), "late_ms_max": max(late_ms),
                   "late_ms_mean": sum(late_ms) / len(late_ms)}, f)


if __name__ == "__main__":
    main()
