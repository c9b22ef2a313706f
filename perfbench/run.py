#!/usr/bin/env python3
"""Benchmark of the PLS ETL run and its relational query surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 16 --trace 0

Workloads: ``etl_incremental``, ``query_mix`` and ``etl_cold`` (see
perfbench/README.md). The last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the run's context (cpus, load, seed, input sizes,
raw wall and steal times). With ``--trace 0`` the metrics are the
end-to-end ones, with ``--trace 1`` the per-layer ones.

Everything the run writes goes under ``.bench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from measure import Window, cpu_seconds, quantile, steal_seconds  # noqa: E402
from procs import become_subreaper, stop_spark  # noqa: E402

#: where set-up starts: (wall, CPU, steal) at process start
PROCESS_START = (time.perf_counter(), cpu_seconds(), steal_seconds())

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
from datetime import datetime, timedelta, timezone  # noqa: E402

from checks import SNAPSHOT_TABLES  # noqa: E402

WORKLOADS = ("etl_cold", "etl_incremental", "query_mix")
#: ETL input scale: one address per lineitem row (6M rows at sf1)
ETL_SF = 0.01
#: query_mix table scale
QUERY_SF = 0.01
#: nominal seconds of one timed iteration, net of steal (a warm ETL
#: iteration takes ~6 s, a query pass ~5 s net and ~7 s wall); a run
#: makes max(2, round(seconds / nominal)) of them, a fixed count, so
#: that every run stops at the same point of the JVM's warm-up curve.
#: The JIT keeps speeding up the first few iterations in a JVM, so the
#: first timed one is often the slowest; the median of three (at
#: --seconds 16) discounts it at less cost than more warm-up
NOMINAL_ITERATION_S = {"etl_cold": 6.0, "etl_incremental": 6.0, "query_mix": 5.0}
BNE = timezone(timedelta(hours=10))
DAY1 = datetime(2026, 4, 22, 2, 0, 0, tzinfo=BNE)
RUN_LENGTH = timedelta(minutes=2, seconds=30)

#: the query_mix list: the relational twins of the ETL's own stages —
#: restore (latest snapshot, carry-forward reshape), the cache and
#: geocode upserts, prune/enrich/lookup joins, new-key detection,
#: surrogate ids, the pipeline composite and the flagship address query
QUERY_SET = (
    "flagship_current_address",
    "o1_latest_snapshot_top1",
    "u2_carry_forward_reshape",
    "m1_upsert_last_write_wins",
    "m2_upsert_reset_column",
    "j10_cache_merge_fetched_wins",
    "j6_prune_keep_semi",
    "j8_update_join_enrich",
    "j9_lookup_join_miss_skip",
    "j7_anti_union_newkeys",
    "m3_stable_surrogate_ids",
    "pipeline_prune_enrich_composite",
)

#: per-layer metric → unit, printed by every workload (0 where the
#: workload does not exercise the layer)
PER_LAYER = {
    "snapshot.restore_s": "s",
    "snapshot.bytes_read": "bytes",
    "snapshot.write_s": "s",
    **{f"snapshot.write.{t}_s": "s" for t in SNAPSHOT_TABLES},
    "snapshot.rows_written": "count",
    "snapshot.bytes_written": "bytes",
    "snapshot.files_written": "count",
    "snapshot.rows_written_per_increment_row": "ratio",
    "upsert.build_s": "s",
    "upsert.rows_updated": "count",
    "upsert.rows_carried": "count",
    "pipeline.build_s": "s",
    "pipeline.addresses_pruned": "count",
    "pipeline.geocodes_pruned": "count",
    "pipeline.geocodes_enriched_share": "ratio",
    "id_map.keys_seen": "count",
    "id_map.new_keys": "count",
    "id_map.new_key_share": "ratio",
    "publish.s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.driver_gap_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "query.build_s": "s",
    "query.exec_s": "s",
    "query.jobs": "count",
    "query.driver_gap_s": "s",
    "query.p50_s": "s",
    "query.p90_s": "s",
    "trace.total_s": "s",
    "trace.self_s": "s",
    "trace.overhead_s": "s",
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files


class Bench:
    """One benchmark process: a Spark session, its work directory and
    the generated inputs of one workload and seed."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.rounds = max(2, round(args.seconds / NOMINAL_ITERATION_S[args.workload]))
        self.context: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": _cpus(),
            "load_avg_start": _loadavg(),
        }
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.windows: list[Window] = []  # untraced timed iterations
        # traced timed iterations: (window, spans, raw seconds, then the
        # snapshot summary for ETL or the net seconds for a query pass)
        self.traced: list[tuple[Window, list, float, object]] = []

    # ---- session -------------------------------------------------------
    def start_session(self) -> None:
        from cam_location_addressing_feature_service_etl_spark import session

        tmp = os.path.join(self.work, "tmp")
        session._BUILDER_CONF["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={tmp}"
        session._BUILDER_CONF["spark.sql.warehouse.dir"] = os.path.join(self.work, "warehouse")
        if self.trace:
            from spans import enable_event_log

            self.event_dir = os.path.join(self.work, "events")
            enable_event_log(session._BUILDER_CONF, self.event_dir)
        self.spark = session.get_spark(app_name=f"perfbench-{self.args.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")

    def gc_between(self) -> None:
        """The bench GC discipline: drop retained plans, then collect
        Python and JVM garbage between timed windows."""
        from cam_location_addressing_feature_service_etl_spark.runtime import release_plan_refs

        release_plan_refs()
        gc.collect()
        self.spark._jvm.System.gc()

    def round_tracers(self, i: int) -> list:
        """A round's iterations: one untraced (``None``) and, in a traced
        run, one traced, in alternating order so that neither side is
        always the later, warmer one."""
        if not self.trace:
            return [None]
        from spans import Tracer

        pair = [None, Tracer(self.spark)]
        return pair if i % 2 == 0 else pair[::-1]

    def end_setup(self) -> None:
        self.setup = Window(PROCESS_START).close()

    # ---- ETL -----------------------------------------------------------
    def write_pls_inputs(self) -> None:
        from inputs import gen_pls, write_tables

        self.inputs = os.path.join(self.work, "inputs")
        days = gen_pls(self.args.seed, ETL_SF)
        for day, tables in days.items():
            write_tables(tables, os.path.join(self.inputs, day))
        self.context["input_rows"] = {
            f"{day}.{name}": t.num_rows for day, tables in days.items() for name, t in tables.items()
        }

    def etl_kwargs(self, day: str) -> dict:
        """``run_etl``'s inputs for one day, read from the generated files."""
        from inputs import REMAP_PKS

        read = self.spark.read.parquet
        d = os.path.join(self.inputs, day)
        start = DAY1 + timedelta(days=1 if day == "increment" else 0)
        return {
            "start_time": start,
            "end_time": start + RUN_LENGTH,
            "fetched_iri_pid": read(os.path.join(d, "fetched_iri_pid.parquet")),
            "fetched_geocodes": read(os.path.join(d, "fetched_geocodes.parquet")),
            "lf_address": read(os.path.join(d, "lf_address.parquet")),
            "tables_to_remap": {
                t: (read(os.path.join(d, f"{t}.parquet")), pk) for t, pk in REMAP_PKS.items()
            },
        }

    def etl_setup(self) -> None:
        from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl

        self.write_pls_inputs()
        self.day = "base"
        self.base_snapshot = None
        self.iteration = 0
        if self.args.workload == "etl_incremental":
            # the base state every timed iteration restores: day 1's
            # cold run, published once
            with Window() as w:
                self.base_snapshot = run_etl(
                    self.spark,
                    snapshot_root=os.path.join(self.work, "base"),
                    **self.etl_kwargs("base"),
                ).snapshot_path
            self.context["base_cold_run_s"] = w.wall
            self.day = "increment"
            self.gc_between()

    def fresh_root(self) -> str:
        """A new snapshot root on local disk; for an incremental run a
        copy of the base snapshot (the run restores it)."""
        self.iteration += 1
        root = os.path.join(self.work, f"iter{self.iteration}")
        if self.base_snapshot is not None:
            shutil.copytree(
                self.base_snapshot, os.path.join(root, os.path.basename(self.base_snapshot))
            )
        return root

    def etl_iteration(self, tracer=None) -> tuple[Window, dict]:
        """One ``run_etl`` call (or, with a tracer, its traced replay)
        in a timed window; then GC and read the published snapshot back."""
        from cam_location_addressing_feature_service_etl_spark.plans.run import run_etl
        from replay import replay_run_etl

        root = self.fresh_root()
        kwargs = self.etl_kwargs(self.day)
        with Window() as w:
            if tracer is None:
                run_etl(self.spark, snapshot_root=root, **kwargs)
            else:
                replay_run_etl(self.spark, tracer, snapshot_root=root, **kwargs)
        self.gc_between()
        return w, self.summarize(root)

    def summarize(self, root: str) -> dict:
        from checks import summarize_snapshot

        base = os.path.basename(self.base_snapshot or "")
        (snap,) = [e for e in os.listdir(root) if e != base]
        summary = summarize_snapshot(os.path.join(root, snap), self.base_snapshot)
        summary["bytes"], summary["files"] = _dir_bytes(os.path.join(root, snap))
        shutil.rmtree(root)
        return summary

    def check_etl(self, summaries: list[dict]) -> None:
        """Count the iterations whose snapshot is wrong, or differs
        from the first one's (a wrong base snapshot fails them all)."""
        from checks import compare, expected_state, summarize_snapshot

        base_problems = []
        if self.base_snapshot is not None:
            base_exp = expected_state(os.path.join(self.inputs, "base"), None)
            base_problems = compare(summarize_snapshot(self.base_snapshot, None), base_exp)
            self.problems += [f"base snapshot: {p}" for p in base_problems]
        self.expected = expected_state(os.path.join(self.inputs, self.day), self.base_snapshot)
        first = summaries[0]["fingerprints"]
        for i, s in enumerate(summaries, 1):
            problems = compare(s, self.expected)
            if s["fingerprints"] != first:
                problems.append("published tables differ from the first timed iteration")
            self.problems += [f"iteration {i}: {p}" for p in problems]
            self.failed += bool(problems or base_problems)

    def run_etl_workload(self) -> None:
        self.etl_setup()
        warm, _ = self.etl_iteration()
        self.context["warmup_s"] = warm.wall
        self.end_setup()

        summaries = []
        for i in range(self.rounds):
            for t in self.round_tracers(i):
                self.attempted += 1
                try:
                    w, summary = self.etl_iteration(t)
                except Exception as exc:  # noqa: BLE001 - a failed operation is counted
                    self.failed += 1
                    self.problems.append(f"iteration {self.attempted}: {exc!r}"[:500])
                    continue
                summaries.append(summary)
                if t is None:
                    self.windows.append(w)
                else:
                    self.traced.append((w, t.spans, w.wall, summary))
        if not summaries:
            raise RuntimeError("no ETL iteration completed: " + "; ".join(self.problems))
        self.check_etl(summaries)
        self.context["snapshot_bytes"] = summaries[0]["bytes"]

    # ---- query_mix -----------------------------------------------------
    def query_setup(self) -> None:
        from cam_location_addressing_feature_service_etl_spark.workload import QUERIES
        from inputs import gen_tpch, write_tables

        missing = [q for q in QUERY_SET if q not in QUERIES]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        self.sf_dir = os.path.join(self.work, "tpch")
        tables = gen_tpch(self.args.seed, QUERY_SF)
        write_tables(tables, self.sf_dir)
        self.context["input_rows"] = {n: t.num_rows for n, t in tables.items()}
        self.order = list(QUERY_SET)
        random.Random(self.args.seed).shuffle(self.order)

    def query_pass(self, tracer=None) -> tuple[Window, list[float], list[float]]:
        """One pass over the query list: the pass's window, and each
        query's seconds (GC excluded), raw and net of the steal measured
        around the query."""
        from cam_location_addressing_feature_service_etl_spark.benchwarm import timed_noop_run
        from cam_location_addressing_feature_service_etl_spark.workload import QUERIES
        from replay import traced_query

        raw, net = [], []
        with Window() as pass_window:
            for q in self.order:
                with Window() as w:
                    if tracer is None:
                        dt = timed_noop_run(self.spark, QUERIES[q], self.sf_dir)
                    else:
                        t0 = time.perf_counter()
                        traced_query(self.spark, tracer, q, QUERIES[q], self.sf_dir)
                        dt = time.perf_counter() - t0
                        self.gc_between()
                raw.append(dt)
                net.append(dt * w.net_share)
        return pass_window, raw, net

    def check_queries(self, runs: int) -> None:
        """Every query against its DuckDB oracle; each timed execution
        of a query that fails the check counts as failed."""
        from tests.parity import run_parity

        for q in self.order:
            try:
                issues = run_parity(self.spark, q, self.sf_dir)
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                issues = [repr(exc)[:300]]
            if issues:
                self.failed += runs
                self.problems.append(f"{q}: {issues[:2]}")

    def run_query_workload(self) -> None:
        self.query_setup()
        self.query_pass()  # warm-up
        self.end_setup()

        self.samples, self.passes = [], []
        per_query: dict[str, list[float]] = {q: [] for q in self.order}
        for i in range(self.rounds):
            for tracer in self.round_tracers(i):
                w, raw, net = self.query_pass(tracer)
                if tracer is None:
                    self.windows.append(w)
                    self.samples += net
                    self.passes.append(sum(net))
                    for q, t in zip(self.order, net):
                        per_query[q].append(t)
                else:
                    self.traced.append((w, tracer.spans, sum(raw), sum(net)))
        self.attempted = len(self.samples)
        self.check_queries(self.rounds)
        self.context["query_samples"] = len(self.samples)
        self.context["query_p50_s"] = statistics.median(self.samples)
        self.context["query_p90_s"] = quantile(self.samples, 90)
        self.context["query_s"] = per_query

    # ---- metrics -------------------------------------------------------
    def record_windows(self) -> None:
        """Raw wall and steal figures next to the net ones."""
        self.context["wall_s"] = {
            "setup": self.setup.wall,
            "iterations": [w.wall for w in self.windows],
        }
        self.context["steal_share"] = {
            "setup": 1 - self.setup.net_share,
            "iterations": [1 - w.net_share for w in self.windows],
        }
        self.context["timed_iterations"] = len(self.windows)

    def untraced_runs(self) -> list[float]:
        """Seconds net of steal of each untraced timed iteration."""
        if self.args.workload == "query_mix":
            return self.passes
        return [w.net for w in self.windows]

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup.net, "run_s": statistics.median(self.untraced_runs())}

    def per_layer(self) -> dict[str, float]:
        """Medians over the traced iterations, from their spans and the
        Spark event log (read after the session has stopped)."""
        from spans import parse_event_log, spark_totals

        groups = parse_event_log(self.event_dir)
        query_mix = self.args.workload == "query_mix"
        rows = []
        for w, spans, total, extra in self.traced:
            by_name: dict[str, float] = {}
            for sp in spans:
                by_name[sp.name] = by_name.get(sp.name, 0.0) + sp.seconds
            m = {f"spark.{k}": v for k, v in spark_totals(spans, groups).items()}
            m["trace.total_s"] = extra if query_mix else w.net
            m["trace.self_s"] = total - sum(by_name.values())
            if query_mix:
                for kind in ("build", "exec"):
                    m[f"query.{kind}_s"] = sum(
                        v for n, v in by_name.items() if n.startswith(f"query.{kind}.")
                    )
                m["query.jobs"] = m["spark.jobs"]
                m["query.driver_gap_s"] = m["spark.driver_gap_s"]
                m["query.p50_s"] = self.context["query_p50_s"]
                m["query.p90_s"] = self.context["query_p90_s"]
            else:
                m["snapshot.restore_s"] = by_name["restore"]
                m["upsert.build_s"] = by_name["upsert"]
                m["pipeline.build_s"] = by_name["pipeline"]
                m["publish.s"] = by_name["publish.metadata"] + by_name["publish.message"]
                for t in SNAPSHOT_TABLES:
                    m[f"snapshot.write.{t}_s"] = by_name[f"write.{t}"]
                m["snapshot.write_s"] = sum(by_name[f"write.{t}"] for t in SNAPSHOT_TABLES)
            rows.append(m)
        out = {name: 0.0 for name in PER_LAYER}
        for name in rows[0]:
            out[name] = statistics.median(r[name] for r in rows)
        # both sides net of steal, so the difference is the tracing's
        out["trace.overhead_s"] = out["trace.total_s"] - statistics.median(self.untraced_runs())
        if not query_mix:
            summary = self.traced[0][3]
            layers = self.expected["layers"]
            out.update({k: v for k, v in layers.items() if k in out})
            out["snapshot.rows_written"] = sum(summary["rows"].values())
            out["snapshot.bytes_written"] = summary["bytes"]
            out["snapshot.files_written"] = summary["files"]
            out["snapshot.rows_written_per_increment_row"] = (
                out["snapshot.rows_written"] / layers["increment_rows"]
            )
            out["snapshot.bytes_read"] = self.restored_bytes()
        return out

    def restored_bytes(self) -> int:
        """On-disk bytes of the snapshot tables the restore step reads."""
        from inputs import REMAP_PKS

        if self.base_snapshot is None:
            return 0
        tables = ["address_iri_pid_map", "lf_geocode_sp_survey_point"]
        tables += [f"{t}_id_map" for t in REMAP_PKS]
        return sum(_dir_bytes(os.path.join(self.base_snapshot, t))[0] for t in tables)


def _configure_env(work: str) -> None:
    """Process-wide settings, made before pyspark or the program is
    imported: pin the core count, keep the periodic JVM GC out of timed
    windows (GC runs explicitly between them), keep every file inside
    the work directory, and keep the Spark driver heap modest."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_PERIODIC_GC"] = "60min"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run unwinds like a failed one: stops its processes
    # and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _configure_env(work)
    sys.path.insert(1, root)
    try:
        import cam_location_addressing_feature_service_etl_spark  # noqa: F401
        import tests.parity  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    become_subreaper()  # before the JVM starts, so its orphans are ours to reap

    # Spark's JVM writes to fd 1 directly; route it to stderr so the
    # result line stays the last stdout line
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    bench = Bench(args, work)
    try:
        try:
            bench.start_session()
            if args.workload == "query_mix":
                bench.run_query_workload()
            else:
                bench.run_etl_workload()
        finally:
            # stop the JVM and its workers and wait for them, on every
            # path out of the run
            stop_spark()
            sys.stdout.flush()
            os.dup2(real_stdout, 1)
            os.close(real_stdout)
        bench.record_windows()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    for p in bench.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    bench.context["failed_share"] = {"value": bench.failed / bench.attempted, "unit": "share"}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": PER_LAYER.get(k, "s")} for k, v in metrics.items()},
    }
    print(json.dumps({"context": bench.context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
