"""Benchmark of the monthly-close engine: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload close_csv --seed 1 --seconds 10 --trace 0

Workloads: ``close_csv`` and ``queries_sf01`` (see
``perfbench/README.md``).  The run builds its inputs from ``--seed``,
runs the engine in one ``local[<cores>]`` SparkSession, checks every
output, and prints two JSON lines: a report with every metric by name and
unit plus the environment, then the result line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the result carries the end-to-end metrics; with ``--trace 1`` the Spark
event log is on and the result carries the per-layer metrics.

Everything the run writes stays under ``.perfbench/`` in the repository
root; the per-run inputs and outputs are removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CLOSE_LABELS = ("dq_sweep", "dq_audit_write", "fact_write", "kpi_agg", "kpi_dim_write")
SPARK_LABELS = CLOSE_LABELS + (
    "export_bi", "export_star", "dashboard", "ingest", "lake_close", "queries",
)
SPARK_FIELDS = (
    ("task_cpu_s", "s"), ("core_busy", "ratio"), ("planning_s", "s"),
    ("input_bytes", "B"), ("output_bytes", "B"),
    ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
)


def per_layer_units(queries: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    units = {"session.start_s": "s"}
    units.update({f"pipeline.{st}_s": "s" for st in CLOSE_LABELS})
    units.update({
        "pipeline.self_s": "s",
        "pipeline.dq_exception_rows": "count",
        "pipeline.fact_rows": "count",
        "raw_lake.ingest_s": "s",
        "pipeline.lake_close_s": "s",
        "exports.bi_s": "s",
        "star.export_s": "s",
        "dashboard.build_s": "s",
    })
    units.update({f"query.{q}_s": "s" for q in queries})
    units["queries.geomean_s"] = "s"
    for label in SPARK_LABELS:
        units.update({f"spark.{label}.{f}": u for f, u in SPARK_FIELDS})
    units.update({
        "spark.cold.task_cpu_s": "s",
        "spark.cold.planning_s": "s",
        "spark.queries.py_bytes": "B",
        "spark.failed_tasks": "count",
        "spark.peak_storage_mb": "MB",
        "jvm.peak_rss_mb": "MB",
        "stored_bytes_per_input_byte": "ratio",
    })
    return units


@dataclass
class Context:
    """What a workload needs from the run: seed, size, time window,
    where to write, how to start the session, and the span recorder."""

    seed: int
    seconds: float
    trace: bool
    size: object
    work: str
    tracer: object
    start_session: Callable


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "4g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _environment(spark, cores: int) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    return {
        "cores": cores,
        "ram_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "spark_conf": {k: conf[k] for k in sorted(conf)},
    }


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 -- still running: make sure it ends
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(out, workload: str, queries, harvested: dict | None, cores: int) -> dict:
    """Every per-layer metric; 0 where the workload has no such layer."""
    from spans import layer

    values = dict.fromkeys(per_layer_units(queries), 0.0)
    values.update({k: v for k, v in out.layers.items() if k in values})
    if harvested is not None:
        paths = {label: f"close/{label}" for label in CLOSE_LABELS}
        paths.update({label: label for label in SPARK_LABELS if label not in paths})
        for label, path in paths.items():
            row = layer(harvested, path, cores)
            for f, _ in SPARK_FIELDS:
                values[f"spark.{label}.{f}"] = row[f]
        cold_path = "queries_cold" if workload == "queries_sf01" else "close_cold"
        cold = layer(harvested, cold_path, cores)
        values["spark.cold.task_cpu_s"] = cold["task_cpu_s"]
        values["spark.cold.planning_s"] = cold["planning_s"]
        values["spark.queries.py_bytes"] = layer(harvested, "queries", cores)["py_bytes"]
        values["spark.failed_tasks"] = harvested["failed_tasks"]
        values["spark.peak_storage_mb"] = harvested["peak_storage_mb"]
    return values


def parse_args(argv):
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="the warm job repeats at least three times and until this many "
                         "seconds have passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import finance_etl_pipeline_monthly_close_dataset_spark as engine
        import stress_pipeline  # noqa: F401
        from check_contract import compare  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported the engine from {engine.__file__}, not {ROOT}",
              file=sys.stderr)
        return 2
    from finance_etl_pipeline_monthly_close_dataset_spark.session import get_spark
    from spans import Tracer, harvest, read_events
    from workloads import SIZES, WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(work_root, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    sessions = []

    def start_session():
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=_session_conf(work, bool(args.trace)),
        )
        spark.sparkContext.setLogLevel("ERROR")
        sessions.append(spark)
        return spark

    size = SIZES[args.size]
    tracer = Tracer(run_id)
    ctx = Context(args.seed, args.seconds, bool(args.trace), size, work, tracer, start_session)
    t_run = time.perf_counter()
    try:
        out = WORKLOADS[args.workload](ctx)
        spark = sessions[0]
        env = _environment(spark, cores)
        out.layers["jvm.peak_rss_mb"] = _jvm_peak_rss_mb(spark)
    finally:
        for spark in sessions:
            _stop(spark)

    harvested = None
    if args.trace:
        logs = os.listdir(os.path.join(work, "eventlog"))
        events = read_events(os.path.join(work, "eventlog", logs[0]))
        harvested = harvest(events, tracer.spans)
    layers = layer_metrics(out, args.workload, size.queries, harvested, cores)
    e2e = {"setup_s": out.setup_s, "cold_s": out.cold_s, "warm_s": out.warm_s}
    failed_ratio = out.failed / out.attempted
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "run_s": time.perf_counter() - t_run,
        "end_to_end": {k: {"value": v, "unit": "s"} for k, v in e2e.items()},
        "named": {
            "setup_s": {"value": out.setup_s, "unit": "s"},
            **{k: {"value": v, "unit": u} for k, (v, u) in out.named.items()},
            "failed_ratio": {"value": failed_ratio, "unit": "ratio"},
        },
        "per_layer": layers,
        "warm_runs_s": out.warm_runs,
        "kpi_cents_md5": out.kpi_cents_md5,
        "problems": out.problems,
        "env": env,
    }
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    tracer.write(os.path.join(work_root, "results", f"{run_id}.spans.json"))
    with open(os.path.join(work_root, "results", f"{run_id}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        units = per_layer_units(size.queries)
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    else:
        metrics = report["end_to_end"]
    correct = out.failed == 0
    print(json.dumps(report))
    print(json.dumps({
        "correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
