#!/usr/bin/env python3
"""End-to-end benchmark of the packet engine and the query library.

    python3 perfbench/run.py --workload packets --seed 1 --seconds 1 --trace 0

One run boots a local Spark session sized to the host, builds the
workload's inputs from ``--seed``, then repeats ``prepare`` (a fresh
target) and the operation until ``--seconds`` have passed, at least once,
checking every output. The end-to-end figures are those of the first,
cold operation, which is what a one-shot packet run or a first query
costs: ``cpu_s`` is the CPU time the driver, the JVM and its Python
workers spend on it, ``setup_s`` the CPU time of the session boot and the
first ``prepare``, and ``driver_peak_rss_mb`` the peak resident memory of
the driver and the JVM. CPU time is used because it hardly moves when
the hypervisor steals cycles from the host, while wall-clock time moves
by up to a third; ``wall_s``, ``throughput_per_s`` (workload units per wall
second) and ``setup_wall_s`` are printed next to them. Later operations in
the window are warm; their median is printed as ``warm_wall_s``. The run
prints one line per figure with its unit and sample count, and as the
last line a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces the
cold operation and reports the per-layer metrics: self time of the engine
functions the runner calls through (see ``layers.py``), Spark job and
stage totals from the status store, and the derived ``driver.only_s`` and
``unattributed_s``. It then runs a traced warm operation between two
untraced ones; the traced one's excess over their mean is
``tracing_overhead_s``.

Scratch files go to ``.perfbench_work/`` at the repository root, which is
removed again at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.dont_write_bytecode = True

from perfbench import host, sparkstats  # noqa: E402
from perfbench.trace import Tracer, layer_totals, median, percentile, uncovered_time  # noqa: E402

MB = 1024.0 * 1024.0

# layer-time metrics: metric name -> traced layer whose self time it sums
LAYER_TIMES = {
    "packet.parse_s": "packet.parse",
    "sqlsplit.split_s": "sqlsplit.split",
    "pgdialect.rewrite_s": "pgdialect.rewrite",
    "pg_catalog.refresh_s": "pg_catalog.refresh",
    "runner.statement_s": "runner.statement",
    "runner.target_s": "runner.target",
    "runner.step_s": "runner.step",
    "runner.generator_s": "runner.generator",
    "runner.py_step_s": "runner.py_step",
    "ledger.s": "ledger",
    "maintenance.route_s": "maintenance.route",
    "sequences.s": "sequences",
    "migration.merge_s": "migration.merge",
    "migration.swap_write_s": "migration.swap_write",
    "migration.matched_count_s": "migration.matched_count",
    "export.statements_s": "export.statements",
    "export.write_csv_s": "export.write_csv",
    "export.zip_s": "export.zip",
    "wzaes.aes_s": "wzaes.aes",
}
# runner glue around statements and steps: traced so that worker-thread
# spans nest under their target, but their self time is not a layer's and
# counts as unattributed
GLUE = frozenset({"runner.target", "runner.step"})
# call-count metrics: metric name -> (layer, "calls" | "count")
LAYER_COUNTS = {
    "sqlsplit.statements": ("sqlsplit.split", "count"),
    "pgdialect.rewrite_calls": ("pgdialect.rewrite", "calls"),
    "pg_catalog.refreshes": ("pg_catalog.refresh", "calls"),
    "runner.statements": ("runner.statement", "calls"),
    "ledger.calls": ("ledger", "calls"),
    "migration.swap_writes": ("migration.swap_write", "calls"),
    "export.rows": ("export.write_csv", "count"),
}
SPARK_METRICS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.job_wall_s": ("job_wall_s", "s"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "spark.output_mb": ("output_mb", "MB"),
}
# every other per-layer metric: name -> unit
DERIVED = {
    "runner.actions": "count",
    "runner.action_p50_s": "s",
    "runner.action_p95_s": "s",
    "migration.rows_rewritten": "count",
    "migration.write_amplification": "ratio",
    "export.csv_mb": "MB",
    "export.archive_bytes_ratio": "ratio",
    "wzaes.mb_per_s": "MB/s",
    "driver.only_s": "s",
    "unattributed_s": "s",
    "trace.attributed_ratio": "ratio",
    "tracing_overhead_s": "s",
    "trace.wall_s": "s",
    "setup.boot_s": "s",
    "host.steal_ticks": "count",
    "host.load_1m": "count",
    "session.retained_storage_mb": "MB",
    "session.leaked_views": "count",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads.query_mix import QUERIES

    units = {m: "s" for m in LAYER_TIMES}
    units.update({f"query.{q}_s": "s" for q in QUERIES["full"]})
    units.update({m: "count" for m in LAYER_COUNTS})
    units.update({m: u for m, (_, u) in SPARK_METRICS.items()})
    units.update(DERIVED)
    return units


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for smoke tests")
    return p.parse_args(argv)


def boot(work: Path):
    from db_converter_spark.session import build_session

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the status store must still hold every job of an operation
            # when it is read afterwards
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — escalate once, then give up waiting
            proc.kill()
            proc.wait(timeout=30)


class Op:
    """One operation's measurements."""

    def __init__(self, setup: float, wall: float, failures: list[str]):
        self.setup, self.wall, self.failures = setup, wall, failures
        self.layers: dict = {}
        self.spark: dict = {}
        self.events: dict = {}
        self.stats: dict = {}
        self.rows_rewritten = 0.0
        self.unattributed = 0.0
        self.cpu = 0.0
        self.setup_cpu = 0.0


def run_op(wl, i: int, tracer: Tracer | None) -> Op:
    """Prepare a fresh target, run one operation and check it. With a
    tracer, the operation's spans and Spark jobs are collected too."""
    from perfbench import layers

    cpu = host.tree_cpu_s(os.getpid())
    t = time.perf_counter()
    state = wl.prepare(i)
    setup = time.perf_counter() - t
    setup_cpu = host.tree_cpu_s(os.getpid()) - cpu
    try:
        before = sparkstats.job_ids(wl.spark) if tracer else None
        if tracer:
            layers.install(tracer)
            wl.tracer = tracer
            tracer.begin()
        failures: list[str] = []
        result = None
        cpu = host.tree_cpu_s(os.getpid())
        t = time.perf_counter()
        try:
            result = wl.run(state)
        except Exception:  # noqa: BLE001 — a failed operation is a result
            failures.append(traceback.format_exc(limit=3))
        wall = time.perf_counter() - t
        op = Op(setup, wall, failures)
        op.setup_cpu = setup_cpu
        op.cpu = host.tree_cpu_s(os.getpid()) - cpu
        if tracer:
            root = tracer.end()
            tracer.uninstall()
            wl.tracer = None
            op.layers = layer_totals(tracer.spans)
            op.unattributed = uncovered_time(root, tracer.spans, GLUE)
            op.events = dict(tracer.events)
            jobs = sparkstats.new_jobs(wl.spark, before)
            stages = sparkstats.stage_metrics(wl.spark, {s for j in jobs for s in j["stages"]})
            op.spark = sparkstats.summarize(jobs, stages)
            offset = time.time() - time.perf_counter()
            swaps = [
                (s.start + offset - 0.005, s.end + offset + 0.005)
                for s in tracer.spans if s.layer == "migration.swap_write"
            ]
            op.rows_rewritten = sum(
                stages[s]["output_records"]
                for j in sparkstats.jobs_within(jobs, swaps)
                for s in j["stages"] if s in stages
            )
        wl.op_stats = {}
        if not failures:
            try:
                failures.extend(wl.check(state, result))
            except Exception:  # noqa: BLE001
                failures.append(traceback.format_exc(limit=3))
        op.stats = dict(wl.op_stats)
    finally:
        if tracer:
            tracer.uninstall()
            wl.tracer = None
        wl.cleanup(state)
    return op


def layer_metrics(op: Op) -> dict[str, float]:
    """Per-layer figures of one traced operation."""
    lay, out = op.layers, {}
    for m, layer in LAYER_TIMES.items():
        out[m] = lay.get(layer, {}).get("self_s", 0.0)
    for m, (layer, key) in LAYER_COUNTS.items():
        out[m] = float(lay.get(layer, {}).get(key, 0))
    for m, (key, _) in SPARK_METRICS.items():
        out[m] = op.spark.get(key, 0.0)
    actions = op.events.get("action", [])
    out["runner.actions"] = float(len(actions))
    out["runner.action_p50_s"] = percentile(actions, 0.5) if actions else 0.0
    out["runner.action_p95_s"] = percentile(actions, 0.95) if actions else 0.0
    out["migration.rows_rewritten"] = op.rows_rewritten
    changed = op.stats.get("rows_changed", 0.0)
    out["migration.write_amplification"] = op.rows_rewritten / changed if changed else 0.0
    csv_b, zip_b = op.stats.get("csv_bytes", 0.0), op.stats.get("zip_bytes", 0.0)
    out["export.csv_mb"] = csv_b / MB
    out["export.archive_bytes_ratio"] = zip_b / csv_b if csv_b else 0.0
    aes = lay.get("wzaes.aes", {})
    out["wzaes.mb_per_s"] = aes["count"] / MB / aes["span_s"] if aes.get("span_s") else 0.0
    out["driver.only_s"] = max(0.0, op.wall - op.spark.get("job_wall_s", 0.0))
    out["unattributed_s"] = op.unattributed
    out["trace.attributed_ratio"] = 1.0 - out["unattributed_s"] / op.wall if op.wall else 0.0
    for name, figure in op.stats.items():
        if name in ("retained_storage_mb", "leaked_views"):
            out[f"session.{name}"] = figure
    for layer, t in lay.items():
        if layer.startswith("query."):
            out[f"{layer}_s"] = t["self_s"]
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "db_converter_spark" / "__init__.py").is_file():
        print(f"db_converter_spark not found next to {Path(__file__).parent.name}/", file=sys.stderr)
        return 2
    from perfbench.workloads import registry

    workloads = registry()
    if args.workload not in workloads:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host.fit_environment(ROOT, work)
    steal0 = host.steal_ticks()

    # which operations are traced: a traced run traces the cold operation,
    # then times a traced warm operation between two untraced ones, so that
    # warming up further does not count as tracing overhead
    plan = [True, False, True, False] if args.trace else [False]
    timed: list[Op] = []
    spark = None
    try:
        boot_cpu = host.tree_cpu_s(os.getpid())
        t = time.perf_counter()
        spark = boot(work)
        boot_s = time.perf_counter() - t
        boot_cpu = host.tree_cpu_s(os.getpid()) - boot_cpu
        wl = workloads[args.workload](spark, work, args.seed, args.size)
        t = time.perf_counter()
        wl.setup_once()
        log(f"boot {boot_s:.2f} s, inputs {time.perf_counter() - t:.2f} s")
        deadline = time.perf_counter() + args.seconds
        while len(timed) < len(plan) or time.perf_counter() < deadline:
            traced = len(timed) < len(plan) and plan[len(timed)]
            timed.append(run_op(wl, len(timed), Tracer() if traced else None))
            log(f"op {len(timed) - 1}: setup {timed[-1].setup:.2f} s, operation {timed[-1].wall:.2f} s")
        rss = host.peak_rss_mb(getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None))
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()
    steal = host.steal_delta(steal0, host.steal_ticks())

    failed = sum(1 for op in timed if op.failures)
    for n, op in enumerate(timed):
        for f in op.failures:
            print(f"FAILED op {n}: {f.strip()}", file=sys.stderr)
    cold, warm = timed[0], timed[1:]
    if not args.trace:
        metrics = {
            "setup_s": (boot_cpu + cold.setup_cpu, "s", 1),
            "cpu_s": (cold.cpu, "s", 1),
            "driver_peak_rss_mb": (rss, "MB", 1),
        }
        # Wall-clock figures move with the host's hypervisor steal by more
        # than any bound a later change could be held to, and failed_ratio
        # and the archive ratio are 0 or absent on some workloads, so they
        # are printed but not bounded: a failure makes the run incorrect,
        # and so does an archive that stops compressing.
        info = {
            "wall_s": (cold.wall, "s", 1),
            "throughput_per_s": (wl.units / cold.wall, "1/s", 1),
            "setup_wall_s": (boot_s + cold.setup, "s", 1),
            "failed_ratio": (failed / len(timed), "ratio", len(timed)),
        }
        if warm:
            info["warm_wall_s"] = (median([op.wall for op in warm]), "s", len(warm))
        if "zip_bytes" in cold.stats:
            info["archive_bytes_ratio"] = (cold.stats["zip_bytes"] / cold.stats["csv_bytes"], "ratio", 1)
    else:
        figures = layer_metrics(cold)
        metrics = {name: (figures.get(name, 0.0), unit, 1) for name, unit in per_layer_units().items()}
        untraced = (timed[1].wall + timed[3].wall) / 2
        metrics["tracing_overhead_s"] = (timed[2].wall - untraced, "s", 1)
        metrics["trace.wall_s"] = (cold.wall, "s", 1)
        metrics["setup.boot_s"] = (boot_s, "s", 1)
        metrics["host.steal_ticks"] = (float(steal), "count", 1)
        metrics["host.load_1m"] = (host.load_1m(), "count", 1)
        info = {}
    info["boot_s"] = (boot_s, "s", 1)
    info["steal_ticks"] = (float(steal), "count", 1)
    info["load_1m"] = (host.load_1m(), "count", 1)
    for name, (value, unit, n) in {**metrics, **info}.items():
        print(f"{args.workload} {name} = {value:.6g} {unit} (n={n})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(timed),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
