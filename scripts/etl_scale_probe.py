#!/usr/bin/env python
"""Scale probe for the composed ETL run (``plans/run.py::run_etl``).

Generates ``perfbench/inputs.gen_pls``-shaped inputs at scale factor
``--sf`` (60k addresses at 0.01, 600k at 0.1), publishes day 1 with a
cold run, then makes ``--runs`` incremental runs of day 2, each over a
fresh copy of the cold run's snapshot. Every run is its own Spark job
group; the inputs are read before its timed window opens.

For each run it prints one JSON line: the wall time, the Spark job
count, and per job description (``publish <table>``, ``number``) the
first job's start, the last job's end (both in seconds from the run's
start), the job count and the tasks' summed executor run time, all
taken from the Spark event log. It also holds what the run cost the
driver JVM, as deltas over the run: ``codegen_compiles`` (generated
classes compiled by Janino, ``CodegenMetrics``), ``jit_compile_s``
(``CompilationMXBean`` total compilation time) and ``classes_loaded``
(``ClassLoadingMXBean`` total loaded classes).

Usage: python scripts/etl_scale_probe.py --sf 0.01 [--runs 4] [--seed 7] [--work DIR]

A new directory under ``--work`` (default: the system temp directory)
holds the inputs, the snapshots and the event log; it is removed at
exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timedelta, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "perfbench"))
os.environ.setdefault("SPARK_GRAFT_PERIODIC_GC", "60min")

from inputs import REMAP_PKS, gen_pls, write_tables  # noqa: E402  (perfbench/inputs.py)

DAY1 = datetime(2026, 4, 22, 2, 0, 0, tzinfo=timezone(timedelta(hours=10)))
RUN_LENGTH = timedelta(minutes=2, seconds=30)


def run_kwargs(spark, day_dir: str, start: datetime) -> dict:
    """``run_etl``'s inputs for one generated day."""

    def read(name: str):
        return spark.read.parquet(os.path.join(day_dir, f"{name}.parquet"))

    return {
        "start_time": start,
        "end_time": start + RUN_LENGTH,
        "fetched_iri_pid": read("fetched_iri_pid"),
        "fetched_geocodes": read("fetched_geocodes"),
        "lf_address": read("lf_address"),
        "tables_to_remap": {t: (read(t), pk) for t, pk in REMAP_PKS.items()},
    }


def job_events(log_dir: str, group: str) -> list[dict]:
    """The jobs of ``group`` in the event log: description, start and
    end (epoch ms), and the summed executor run time of their tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 writes one flat file per application or a rolling
    # directory of event files; read every file under the log directory
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files)
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a line still being written
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") == group:
                        jobs[ev["Job ID"]] = {
                            "label": props.get("spark.job.description"),
                            "start": ev["Submission Time"],
                            "executor_ms": 0,
                        }
                        for sid in ev.get("Stage IDs", []):
                            stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd" and stage_job.get(ev.get("Stage ID")) in jobs:
                    metrics = ev.get("Task Metrics") or {}
                    jobs[stage_job[ev["Stage ID"]]]["executor_ms"] += metrics.get("Executor Run Time", 0)
    return list(jobs.values())


def jvm_counters(spark) -> dict:
    """Cumulative compile and class-loading counters of the driver JVM."""
    jvm = spark._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    mx = jvm.java.lang.management.ManagementFactory
    return {
        "codegen_compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
        "jit_compile_s": mx.getCompilationMXBean().getTotalCompilationTime() / 1000,
        "classes_loaded": mx.getClassLoadingMXBean().getTotalLoadedClassCount(),
    }


def record(kind: str, i: int, wall_s: float, t0_ms: float, jobs: list[dict]) -> dict:
    labels: dict[str, dict] = {}
    for job in jobs:
        span = labels.setdefault(
            str(job["label"]),
            {"first_start_s": float("inf"), "last_end_s": 0.0, "jobs": 0, "executor_s": 0.0},
        )
        span["first_start_s"] = min(span["first_start_s"], (job["start"] - t0_ms) / 1000)
        span["last_end_s"] = max(span["last_end_s"], (job.get("end", job["start"]) - t0_ms) / 1000)
        span["jobs"] += 1
        span["executor_s"] += job["executor_ms"] / 1000
    for span in labels.values():
        for k in ("first_start_s", "last_end_s", "executor_s"):
            span[k] = round(span[k], 3)
    return {
        "run": kind,
        "i": i,
        "wall_s": round(wall_s, 3),
        "jobs": len(jobs),
        "labels": dict(sorted(labels.items(), key=lambda kv: kv[1]["first_start_s"])),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--runs", type=int, default=4, help="incremental runs after the cold run")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--work", default=None)
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="etl-scale-probe-", dir=args.work)
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir, exist_ok=True)
    from cam_location_addressing_feature_service_etl_spark import session

    session._BUILDER_CONF.update(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }
    )
    spark = None
    try:
        days = gen_pls(args.seed, args.sf)
        for day, tables in days.items():
            write_tables(tables, os.path.join(work, "inputs", day))
        spark = session.get_spark(app_name="etl-scale-probe")
        spark.sparkContext.setLogLevel("ERROR")
        from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl
        from cam_location_addressing_feature_service_etl_spark.runtime import release_plan_refs

        sc = spark.sparkContext
        base = None
        addresses = days["base"]["lf_address"].num_rows
        for i in range(args.runs + 1):
            kind = "cold" if i == 0 else "incremental"
            day = "base" if i == 0 else "increment"
            root = os.path.join(work, f"run{i}")
            if base is not None:
                shutil.copytree(base, os.path.join(root, os.path.basename(base)))
            start = DAY1 + timedelta(days=0 if i == 0 else 1)
            kwargs = run_kwargs(spark, os.path.join(work, "inputs", day), start)
            group = f"etl-scale-probe-{i}"
            sc.setJobGroup(group, kind)
            before = jvm_counters(spark)
            t0 = time.time()
            try:
                result = run_etl(spark, snapshot_root=root, **kwargs)
            finally:
                wall = time.time() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jvm = {k: round(v - before[k], 3) for k, v in jvm_counters(spark).items()}
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            rec = record(kind, i, wall, t0 * 1000, job_events(log_dir, group))
            print(json.dumps({"sf": args.sf, "addresses": addresses, **rec, **jvm}), flush=True)
            if base is None:
                base = result.snapshot_path
            else:
                shutil.rmtree(root)
            release_plan_refs()
            gc.collect()
            spark._jvm.System.gc()
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
