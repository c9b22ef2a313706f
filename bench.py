#!/usr/bin/env python
"""Benchmark harness: run the workload at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop-format write (full column
materialization, no driver collect overhead). Per-query wall time
includes plan + execution, mirroring a cold analytic query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Disarm the periodic-GC timer BEFORE importing session.py: its builder
# conf reads this env var at module import time, so setting it inside
# main() (after the import) would silently keep the 2min default and the
# timer's System.gc() could land a multi-second full-GC pause inside one
# query's timed window. GC runs explicitly between queries instead.
os.environ.setdefault("SPARK_GRAFT_PERIODIC_GC", "60min")

from cam_location_addressing_feature_service_etl_spark.session import get_spark
from cam_location_addressing_feature_service_etl_spark.workload import QUERIES

#: Queries timed by the bench. Everything registered runs; the heavy
#: quadratic verifiers (simhash pair scan, embedding all-pairs) stay in
#: because they are part of the claimed surface — their scale path is
#: documented in the operator modules.
SKIP: set[str] = set()


def _loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def main() -> None:
    # quiet-window signal: the 1-min load BEFORE the run (the end-of-run
    # value mostly measures the bench's own 32-core load)
    load_avg_start = _loadavg()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # The JSON result line must be the ONLY stdout line. Spark's JVM
    # writes to fd 1 directly (ivy, log4j console), so swap fd 1 → fd 2
    # at the OS level for the whole run and restore it just for the
    # final print.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        spark = get_spark(app_name="cam-etl-bench")
        spark.sparkContext.setLogLevel("ERROR")

        timings: dict[str, float] = {}
        from cam_location_addressing_feature_service_etl_spark.benchwarm import (
            timed_noop_run,
            warm_session,
        )

        warm_session(spark, sf_dir)

        for name in sorted(QUERIES):
            if name in SKIP:
                continue
            timings[name] = round(timed_noop_run(spark, QUERIES[name], sf_dir), 3)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout_fd, 1)
        os.close(real_stdout_fd)

    total = round(sum(timings.values()), 3)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    load_avg = _loadavg()
    full = json.dumps(
        {
            "metric": "workload_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            # record provenance (r16 verdict #4/#8): which core count
            # produced this record, and how loaded the host was at the
            # end of the run — so cross-round diffs can mechanically
            # skip noisy windows and scaling runs stop being mistaken
            # for regressions.
            "cpus": int(cpus) if str(cpus).isdigit() else cpus,
            "load_avg_start": load_avg_start,
            "load_avg": load_avg,
        },
        separators=(",", ":"),
    )
    # durable full record (all per-query timings) on disk only: every
    # run writes its per-cpus file, and only the primary 32-core run
    # also writes BENCH.json, so a low-core scaling run never clobbers
    # the primary record (the stdout contract below is unchanged)
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    fnames = [f"BENCH_c{cpus}.json"] + (["BENCH.json"] if str(cpus) == "32" else [])
    for fname in fnames:
        with open(os.path.join(repo_dir, fname), "w") as f:
            f.write(full + "\n")
    # stdout line stays compact: the driver keeps only a short capture
    # tail, so the FULL per-query map lives in BENCH.json and the stdout
    # "queries" map carries just the 5 slowest (same contract shape).
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    compact = json.dumps(
        {
            "metric": "workload_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": slowest,
            "sf": sf,
            "n_queries": len(timings),
            "queries_file": "BENCH.json",
        },
        separators=(",", ":"),
    )
    print(compact)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
