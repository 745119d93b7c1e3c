"""Seeded benchmark of the engine's reference workflow.

    python3 perfbench/run.py --workload reference_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from the
seed under ``.perfbench/`` (removed on exit), runs one workload on
``local[nproc]`` and prints, as the last stdout line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is the run's context record. A traced
run also writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

# Host-load gate before set-up: while bench.load_calibration reads above
# COOL_MAX_CALIB_S (~0.5 s on an idle 4-vCPU host), sleep COOL_SLEEP_S
# and re-probe, at most COOL_ATTEMPTS times, so a run starts on a quiet
# host when one comes within 5 s and never waits longer.
COOL_MAX_CALIB_S = 0.75
COOL_ATTEMPTS = 1
COOL_SLEEP_S = 5.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _isolate(tmp: str, nproc: int) -> None:
    """Point every temporary location of Python, the JVM and Spark into
    ``tmp``; must run before the JVM starts."""
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "spark-warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM otherwise keeps its perf-data file and temp files in /tmp
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")

    nproc = len(os.sched_getaffinity(0))
    os.makedirs(OUT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=OUT)
    _isolate(tmp, nproc)
    run = None
    try:
        import bench  # host-load probe

        probes = bench.cooldown(COOL_MAX_CALIB_S, COOL_ATTEMPTS, COOL_SLEEP_S)
        t = time.perf_counter()
        from dc_moving_violations_cloud_etl_spark import caching, catalog, cli  # noqa: F401
        from dc_moving_violations_cloud_etl_spark.queries import get_queries

        get_queries()
        import_s = time.perf_counter() - t

        tracer = Tracer() if args.trace else None
        if tracer:
            tracer.install()
        run = workloads.Run(args.seed, args.seconds, tmp, tracer, import_s)
        workloads.WORKLOADS[args.workload](run)
        calib_end = bench.load_calibration()

        sc = run.spark.sparkContext
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark_version": sc.version,
            "java_version": sc._jvm.System.getProperty("java.version"),
            "fixture_dir": os.path.relpath(tmp, ROOT),
            "sf": workloads.SF,
            "op_walls_s": [round(w, 4) for w in run.walls],
            "calib_start_sec": probes[-1],
            "cooldown_probes_sec": probes,
            "calib_end_sec": calib_end,
        }
        if tracer:
            jvm = getattr(sc._gateway, "proc", None)
            rss_kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm.pid) if jvm else 0)
            metrics = workloads.layer_metrics(run, rss_kb / 1024)
            tracer.dump(
                os.path.join(OUT, f"trace-{args.workload}-{args.seed}.json"),
                {**context, "metrics": metrics},
            )
        else:
            metrics = workloads.end_to_end_metrics(run)
    finally:
        if run is not None and run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(context))
    print(json.dumps(result(run, metrics, wanted)))
    return 0


def result(run, metrics: dict[str, float], wanted: list[dict]) -> dict:
    """The result line: every metric BENCHMARK.json names, with its unit."""
    units = {m["name"]: m["unit"] for m in wanted}
    if set(metrics) != set(units):
        raise ValueError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


if __name__ == "__main__":
    raise SystemExit(main())
