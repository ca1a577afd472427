"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Workloads: orders_pipeline and batch_queries (see README.md). The run

1. starts the engine's Spark session (``get_spark``, local[nproc], the
   engine's own defaults otherwise), loads the query registry and sets
   the workload up: seeded input tables or the broker and the two
   streaming queries;
2. warms up: one wave, or for the query roster a check round against
   DuckDB and one untimed round;
3. runs whole rounds: at least three (five waves), and more while
   ``--seconds`` have not passed;
4. checks the pipeline's sinks against the plain-Python results, stops
   every query, the JVM and the broker, and removes its work files.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, and the spans and per-round
records are written to ``--out`` (default ``.perfbench_work/trace``
under the checkout).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("orders_pipeline", "batch_queries")
PACKAGE = "kafka_spark_streaming_app_spark"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="how long to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="table scale for the query rosters (default 0.01)")
    p.add_argument("--cpus", type=int, default=None, help="local[N] width (default: the CPUs this process may use)")
    p.add_argument("--out", default=None, help="directory for the traced pass's spans and records")
    return p.parse_args(argv)


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file the run writes under ``work`` and make the engine
    importable by the Python workers Spark starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    tempfile.tempdir = tmp


def _make_workload(args, spark, work: str, tracer):
    if args.workload == "orders_pipeline":
        from perfbench.pipeline import OrdersPipeline

        return OrdersPipeline(spark, work, args.seed, tracer)
    from perfbench.rosters import DEFAULT_SF, BatchQueries

    return BatchQueries(spark, work, args.seed, tracer, args.sf or DEFAULT_SF)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def run(args, work: str, memory) -> dict:
    from kafka_spark_streaming_app_spark import registry
    from kafka_spark_streaming_app_spark.session import get_spark

    from perfbench import procs
    from perfbench.trace import NullTracer, Tracer

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    registry.load_all()
    registry_s = time.perf_counter() - t0
    tracer = NullTracer()
    workload = None
    try:
        if args.trace:
            tracer = Tracer(spark, args.workload, [os.path.join(work, "tmp"), os.path.join(work, "spark-local")])
        workload = _make_workload(args, spark, work, tracer)
        workload.setup()
        t0 = time.perf_counter()
        with tracer.span("warmup"):
            workload.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        jvm = procs.find_jvm(os.getpid())
        rounds: list[dict] = []
        measure_start = time.perf_counter()
        while len(rounds) < workload.min_rounds or time.perf_counter() - measure_start < args.seconds:
            workload.prepare_round()
            with tracer.round(f"round{len(rounds)}"):
                cpu0 = procs.cpu_seconds(procs.descendants(jvm))
                t0 = time.perf_counter()
                times = workload.run_round()
                seconds = time.perf_counter() - t0
                cpu1 = procs.cpu_seconds(procs.descendants(jvm))
            rounds.append({"seconds": seconds, "ops": times, "cpu_s": cpu1 - cpu0})
        info = workload.finish()
        memory.sample()
    finally:
        if workload is not None:
            workload.close()
        if args.trace:
            tracer.close()
        _stop_spark(spark)

    round_s = statistics.median(r["seconds"] for r in rounds)
    names = sorted({n for r in rounds for n in r["ops"]})
    op_medians = {n: statistics.median(r["ops"][n] for r in rounds if n in r["ops"]) for n in names}
    if args.trace:
        metrics = tracer.finish(tracer.rounds)
        metrics["session.start_s"] = session_s
        metrics["registry.load_s"] = registry_s
        metrics["warmup.round_s"] = warmup_s
        metrics["proc.peak_pss_mb"] = memory.peak / 2**20
        if args.workload == "orders_pipeline":
            metrics["pipeline.orders_per_s"] = workload.wave_size / round_s
            metrics["pipeline.wave_latency_p50_ms"] = round_s * 1000
        from perfbench.trace import LAYER_METRICS

        out_dir = args.out or os.path.join(ROOT, ".perfbench_work", "trace")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
            metrics,
            {"seed": args.seed, "rounds_timed": rounds, "query_medians_s": op_medians, "checks": info},
        )
        values = {n: {"value": metrics[n], "unit": u} for n, u in LAYER_METRICS.items()}
    else:
        values = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_s": {"value": round_s, "unit": "s"},
            "query_geomean_s": {"value": _geomean(list(op_medians.values())), "unit": "s"},
            "cpu_s": {"value": statistics.median(r["cpu_s"] for r in rounds), "unit": "s"},
        }
    print(
        "perfbench: rounds (s, cpu s): "
        + " ".join(f"{r['seconds']:.3f}/{r['cpu_s']:.2f}" for r in rounds),
        file=sys.stderr,
    )
    if workload.failed:
        print(f"perfbench: failed operations: {json.dumps(info)[:2000]}", file=sys.stderr)
    return {
        "correct": workload.correct,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": values,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE!r} is not next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.procs import PeakMemory

    cpus = args.cpus or len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    _prepare_env(work, cpus)
    try:
        with PeakMemory(os.getpid()) as memory:
            result = run(args, work, memory)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
