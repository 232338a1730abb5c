"""Benchmark command for the review ETL engine.

    python3 perfbench/run.py --workload review_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: ``review_etl`` (batch
passes) and ``review_stream`` (open-loop stream at 100 reviews/s; its
traced run also times four ``queries()`` entries). With ``--trace 0``
the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics. Metric names and units
come from BENCHMARK.json. Every file the run writes stays under
``.perfbench_tmp/`` in the checkout; the run's own directory is removed
at exit, span files are kept under ``.perfbench_tmp/traces``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = {"review_etl": "etl", "review_stream": "stream"}


class Context:
    """What a workload needs: the session, its run directory, the
    tracer and the arguments."""

    def __init__(self, args, run_dir: str, cores: int, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.listener_s = 0.0  # time spent in streaming-listener callbacks
        self.state: dict = {}  # what a workload's warm-up hands to its run

    def path(self, name: str) -> str:
        p = os.path.join(self.run_dir, name)
        os.makedirs(p, exist_ok=True)
        return p

    def start(self, master: str | None = None) -> None:
        from yelp_streaming_etl_pipeline_spark.session import get_spark

        cores = 1 if master == "local[1]" else self.cores
        tmp = self.path("tmp")
        self.spark = get_spark(
            "perfbench",
            master=master or f"local[{cores}]",
            extra_conf={
                "spark.sql.shuffle.partitions": str(cores),
                "spark.default.parallelism": str(cores),
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
                # the status store must keep every job and stage of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            try:
                q.stop()
            except Exception:  # noqa: BLE001 - keep stopping the rest
                traceback.print_exc()
        self.spark.stop()
        self.spark = None

    def restart(self, master: str | None = None) -> None:
        """A new session (in the running JVM) on ``master``."""
        self.stop()
        self.start(master)

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit (it
        exits when its stdin closes; its Python workers go with it)."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_specs, layer_specs = _metric_specs()
    base = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # every temp file (py4j handshake, BPE artifacts, JVM temp files, ...)
    # stays in the run dir; no JVM (the launcher's included) writes an
    # hsperfdata file to /tmp
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    os.environ.pop("SPARK_MASTER", None)
    sys.path.insert(0, ROOT)

    try:
        import pyspark  # noqa: F401

        import yelp_streaming_etl_pipeline_spark  # noqa: F401
        from probe import Tracer, jvm_pid, log, peak_rss_mb

        workload = importlib.import_module(WORKLOADS[args.workload])
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    cores = len(os.sched_getaffinity(0))
    ctx = Context(args, run_dir, cores, Tracer(args.trace == 1))
    try:
        ctx.start()
        ctx.spark.range(1).count()
        session_s = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        workload.warm_up(ctx)
        warm_s = time.perf_counter() - t0
        log(f"set-up s: session {session_s:.2f}, warm-up {warm_s:.2f}")
        result = workload.run(ctx)
        rss = peak_rss_mb(jvm_pid(ctx.spark))
        log("measured")
    except Exception:  # noqa: BLE001 - report any failure and exit non-zero
        traceback.print_exc()
        print(f"perfbench: {args.workload} failed", file=sys.stderr)
        return 1
    finally:
        try:
            ctx.shutdown()
        finally:
            if args.trace:
                os.makedirs(os.path.join(base, "traces"), exist_ok=True)
                ctx.tracer.write(
                    os.path.join(base, "traces", f"{args.workload}-{args.seed}.json")
                )
            shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(result["e2e"], setup_s=session_s + warm_s)
    # the wall-clock figures (latency, reviews/s) are per-layer metrics:
    # on a shared host they move with the neighbours' load
    layers = dict(
        result.get("layers", {}),
        **e2e,
        **{"setup.session_s": session_s, "setup.warm_up_s": warm_s, "peak_rss_mb": rss},
    )
    if args.trace:
        layers["trace.overhead_frac"] = (ctx.tracer.overhead_s + ctx.listener_s) / result["measured_s"]
    failed, attempted = int(result["failed"]), int(result["attempted"])

    print(f"# {args.workload} seed={args.seed} info {json.dumps(result.get('info', {}))}")
    print(f"# {args.workload} set-up s: session {session_s:.3f}, warm-up {warm_s:.3f}")
    for name, v in e2e.items():
        print(f"# {args.workload} {name} = {v:.4f}")
    print(f"# {args.workload} peak_rss_mb = {rss:.1f}")
    print(f"# {args.workload} failed_frac = {failed / attempted:.6f} ({failed}/{attempted})")

    if args.trace:
        specs, values = layer_specs, layers
    else:
        specs, values = e2e_specs, e2e
    metrics = {}
    for s in specs:
        if s["name"] not in values and not args.trace:
            raise KeyError(f"end-to-end metric {s['name']} not measured")
        metrics[s["name"]] = {"value": float(values.get(s["name"], 0.0)), "unit": s["unit"]}
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
