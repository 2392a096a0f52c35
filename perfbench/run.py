"""Benchmark of the paper's two pipelines and a registry mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/DESIGN.md for why each was chosen):
  pipelines      run_import with three de-id templates, then run_reid over
                 the imported tables: query, re-identify, rename, publish
  registry_noop  two registry queries written to the noop sink

One process, one Spark session at local[$(nproc)]. Set-up (timed as
``setup_s``) is the session start, the median of three input
generate-and-load passes, and one warm-up run. Then at least two runs,
and more until their timed seconds add up to ``--seconds``; ``run_s``
is their median. Each of these runs'
outputs is checked outside its timed region (the first one's fully, see
``Pipelines.run``). With ``--trace 1`` one traced run follows the
untraced ones and the per-layer metrics are printed instead.

The last stdout line is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Every file the run writes lives under ``.perfbench_work/`` in the
current directory, which is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
PREPARE_PASSES = 3
# A fixed least number of timed runs: the runs after the cold one keep
# getting faster for a few runs (JIT, Python workers), so a run count
# that followed the host's speed would move the median along that curve.
MIN_RUNS = 2


def _environment() -> None:
    """Keep every file Spark and Python write inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _session():
    from dlp_rdb_bq_import_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _summary(name: str, metrics: dict, attempted: int, failed: int) -> None:
    for key, m in metrics.items():
        print(f"{name} {key} = {m['value']:.6g} {m['unit']}")
    print(f"{name} failed_frac = {failed / attempted:.6g} ({failed}/{attempted} operations)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    shutil.rmtree(WORK, ignore_errors=True)
    _environment()
    sys.path.insert(0, ROOT)
    spark = None
    try:
        # the package is imported from the checkout being measured
        from perfbench.tracing import StealMeter, Tracer, peak_rss_mb
        from perfbench.workloads import WORKLOADS, Context, check_golden

        workload_cls = WORKLOADS[args.workload]
        t0 = time.perf_counter()
        spark = _session()
        start_s = time.perf_counter() - t0
        ctx = Context(spark, args.seed, WORK)
        workload = workload_cls(ctx)

        prepare_s = []
        for _ in range(PREPARE_PASSES):
            t = time.perf_counter()
            workload.prepare()
            prepare_s.append(time.perf_counter() - t)
        warm = workload.run(0, check="none")
        setup_s = start_s + statistics.median(prepare_s) + warm.seconds
        print(
            f"{args.workload} setup: session {start_s:.3f} s, input passes "
            f"{', '.join(f'{p:.3f}' for p in prepare_s)} s, warm-up {warm.seconds:.3f} s"
        )

        outcomes = []
        steal = StealMeter()
        while len(outcomes) < MIN_RUNS or sum(o.seconds for o in outcomes) < args.seconds:
            outcomes.append(workload.run(len(outcomes) + 1, "counts" if outcomes else "full"))
        print(
            f"{args.workload} runs: {', '.join(f'{o.seconds:.3f}' for o in outcomes)} s, "
            f"CPU {', '.join(f'{o.cpu_seconds:.3f}' for o in outcomes)} s"
        )
        run_s = statistics.median(o.seconds for o in outcomes)
        rows_per_s = statistics.median(o.rows / o.seconds for o in outcomes)
        run_cpu_s = statistics.median(o.cpu_seconds for o in outcomes)

        if args.trace:
            n_jobs, n_tasks = outcomes[-1].jobs
            layer, traced = workload.trace(len(outcomes) + 1, Tracer())
            outcomes.append(traced)
            layer.update(
                {
                    "session.start_s": start_s,
                    "session.jobs": n_jobs,
                    "session.tasks": n_tasks,
                    "session.peak_rss_mb": peak_rss_mb(),
                    "session.steal_frac": steal.fraction(),
                    "session.run_cpu_s": run_cpu_s,
                    "trace.overhead_s": layer["trace.run_s"] - run_s,
                }
            )
            names = [m["name"] for m in spec["per_layer"]]
            values = {n: layer.get(n, 0.0) for n in names}
        else:
            values = {"setup_s": setup_s, "run_s": run_s, "rows_per_s": rows_per_s}

        failures = [f for o in outcomes for f in o.failures]
        attempted = sum(o.attempted for o in outcomes)
        if workload.tokenizes:
            golden = check_golden(spark)
            failures += ["golden tokens: " + "; ".join(golden)] if golden else []
            attempted += 1
        failed = len(failures)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    metrics = {n: {"value": float(v), "unit": units[n]} for n, v in values.items()}
    _summary(args.workload, metrics, attempted, failed)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
