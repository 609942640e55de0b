#!/usr/bin/env python
"""Benchmark harness: run the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
the host-fit ``local[N]`` of ``build_session`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

BASELINE.md holds the reference numbers. Query set = every registered operator; per-query seconds are
the best of ``$SPARK_GRAFT_BENCH_RUNS`` (default 2) full collect() passes on
a warmed session — single-shot wall clock on a shared host swings 5-7x with
ambient load, and best-of-N recovers the machine's actual capability.

Output layout (a caller that keeps only the TAIL ~2 KB of stdout must
still get every query):
a verbose JSON line first (full names, best + median dicts — may be
clipped), then ONE compact final line whose ``queries`` dict is keyed by
each query's unique name prefix (``q01``, ``dd10``, ``q24b``, ...) so the
complete best-of dict survives the capture window and parses.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from db_converter_spark.benchutil import build_compact_line, read_steal_ticks
from db_converter_spark.registry import all_queries
from db_converter_spark.session import build_session


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = build_session(app_name="dbc-spark-bench")

    queries = all_queries()
    # Warm the JVM/codegen path so q01 doesn't pay session-boot cost.
    queries["q01_pricing_summary"].builder(spark, sf_dir).collect()
    # Warm the Python-worker pool: the FIRST mapInPandas pays ~9 s spinning
    # up one Python process per core — that is session-boot
    # cost, not operator cost, so pay it before the clock starts.
    spark.range(0, spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").collect()
    # Warm the C2 JIT over the lambda/md5/explode-heavy dedup head: the
    # suite runs alphabetically, so the dc*/dd* block is the FIRST
    # sustained load the JVM sees and pays the whole-stage-codegen compile
    # storm on-clock — the C2 thread can burn 60+ s of SYSTEM time and
    # leave dc01/dc03 at 13/33 s bests (vs 1.5/2.3 s warm) with ALL
    # samples slow, invisible to the median diagnostic. One
    # untimed pass over that block is session-boot cost, same as the q01 /
    # Python-worker warmups above.
    for _warm in sorted(queries):
        if _warm.split("_", 1)[0][:2] in ("dc", "dd"):
            queries[_warm].builder(spark, sf_dir).collect()

    # best-of-3: two same-code runs can read 83 s vs 140 s totals purely
    # from ambient host spikes (dd04 0.9 s vs 15.3 s) — a third
    # sample per query costs ~2 min against the 1200 s budget and makes the
    # best-of robust to a spike landing on any single pass.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # wall budget: a loaded host can stretch the suite past the driver's
    # patience — after the budget is spent, degrade remaining queries to
    # best-of-1 so ONE json line always lands instead of a timeout recording
    # nothing. Per-query numbers stay comparable (best-of-N is monotone in N;
    # the medians dict records how many samples each query actually got).
    # 1200 s default: a 420 s budget degrades 59/67 queries to cold
    # single runs on a loaded host and records noise as engine numbers.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1200"))
    bench_t0 = time.perf_counter()
    # ambient-load telemetry: hypervisor steal ticks
    # and 1-min load average bracket the timed region so storm-dominated
    # windows are mechanically flagged in the artifact (strict additions —
    # existing parsers see the same required fields).
    steal_t0 = read_steal_ticks()
    try:
        load1_start = round(os.getloadavg()[0], 1)
    except OSError:
        load1_start = -1.0
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    samples_by: dict[str, list[float]] = {}
    steal_by: dict[str, list[int]] = {}
    degraded: list[str] = []

    # Each registered builder frees the checkpoints of the one before it
    # on this session (registry.checkpoint), so no query inherits the
    # previous one's cached blocks and the suite needs no forced GC.
    for name in sorted(queries):
        samples = []
        n_runs = max(1, runs)
        if time.perf_counter() - bench_t0 > budget:
            n_runs = 1
            degraded.append(name)
        stl = []
        for _ in range(n_runs):
            s0 = read_steal_ticks()
            t0 = time.perf_counter()
            queries[name].builder(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
            s1 = read_steal_ticks()
            stl.append(s1 - s0 if s0 >= 0 and s1 >= 0 else -1)
        steal_by[name] = stl  # parallel to UNSORTED samples order
        samples.sort()
        samples_by[name] = samples
        timings[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)
        print(f"{name}: best {timings[name]:.3f}s median {medians[name]:.3f}s", file=sys.stderr)
    if degraded:
        print(
            f"wall budget {budget}s exceeded: {len(degraded)} queries ran"
            f" best-of-1 (from {degraded[0]})",
            file=sys.stderr,
        )

    # --- churn pin --------------------------------------------------------
    # Two failure classes put harness noise into the artifact of record:
    #   (a) IN-RUN churn — some samples slow, median diverges from best
    #       (e.g. dq04 3.7 s best / 9.7 s median on unchanged code);
    #   (b) PERSISTENT slowness — ALL samples slow (e.g. dq05 10.1 s
    #       best-of-3 vs 1.85 s on unchanged code — the med_hot
    #       diagnostic can NOT see this one, best==median).
    # (a) is detected by the med_hot criterion; (b) by a committed
    # expected-time reference (bench_expected.json — per-query bests from a
    # clean idle-host run; only ever a TRIGGER, never a recorded number).
    # Every suspect is re-measured at END of suite: fresh samples are
    # APPENDED (a genuine slow query stays slow); the original samples are
    # DISCARDED only when the re-measure is decisively (1.5x) faster —
    # proof they measured a transient, not the operator. The compact line
    # records who was re-sampled.
    expected: dict[str, float] = {}
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_expected.json")
        ) as fh:
            expected = json.load(fh).get("queries_best", {})
    except (OSError, ValueError):
        pass
    suspects = [
        n
        for n in sorted(timings)
        if n not in degraded
        and (
            medians[n] > max(1.5 * timings[n], timings[n] + 0.3)
            or (
                n in expected
                and timings[n] > max(1.5 * expected[n], expected[n] + 0.3)
            )
        )
    ]
    resampled: dict[str, float] = {}
    for name in suspects:
        if time.perf_counter() - bench_t0 > budget * 1.5:
            print(f"resample budget exhausted before {name}", file=sys.stderr)
            break
        fresh = []
        for _ in range(2):
            t0 = time.perf_counter()
            queries[name].builder(spark, sf_dir).collect()
            fresh.append(time.perf_counter() - t0)
        if min(fresh) * 1.5 < samples_by[name][0]:
            s = sorted(fresh)  # originals measured residue, not the operator
        else:
            s = sorted(samples_by[name] + fresh)
        timings[name] = round(s[0], 3)
        medians[name] = round(s[len(s) // 2], 3)
        resampled[name.split("_", 1)[0]] = timings[name]
        print(
            f"resampled {name}: best {timings[name]:.3f}s median"
            f" {medians[name]:.3f}s (fresh {sorted(round(x, 3) for x in fresh)})",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # dd05 is the deliberately O(n^2)-shaped all-pairs correctness BASELINE
    # (10% sample; dd04 LSH banding is the production path) — its share is
    # reported separately so suite-total comparisons track the real engine.
    total_ex_baseline = round(
        sum(v for k, v in timings.items() if k != "dd05_ngram_jaccard"), 3
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # A caller may keep only the TAIL (~2 KB) of stdout, which would lose
    # a best-of dict printed first. Emit the verbose record
    # (medians included) FIRST — it may be clipped — and finish with ONE
    # compact line carrying the best-of dict + totals, sized to survive
    # the capture window intact.
    steal_t1 = read_steal_ticks()
    steal_total = steal_t1 - steal_t0 if steal_t0 >= 0 and steal_t1 >= 0 else -1
    try:
        load1_end = round(os.getloadavg()[0], 1)
    except OSError:
        load1_end = -1.0
    ambient = {
        "steal_ticks": steal_total,
        "load1": [load1_start, load1_end],
    }
    verbose = {
        "metric": "total_query_suite_seconds_verbose",
        "queries_best": timings,
        "queries_median": medians,
        "runs_per_query": max(1, runs),
        "n_degraded_to_single_run": len(degraded),
        "resampled": resampled,
        "ambient": ambient,
        "queries_steal": steal_by,
    }
    print(json.dumps(verbose))
    # The full verbose record (best + median per query) also lands in a
    # FILE so post-hoc regression diagnosis never depends on the stdout
    # capture window.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_verbose_last.json"),
            "w",
        ) as fh:
            json.dump({**verbose, "sf": sf, "cpus": spark.sparkContext.defaultParallelism}, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout still carries the record
    # every registry name has a UNIQUE prefix before its first underscore
    # (q01, dd10, q24b, ...) — key the compact line on those. Sizing and
    # graceful degradation live in benchutil.build_compact_line (141
    # queries at 3 decimals + a 13-entry resampled dict overflow a
    # 2000-char capture window); the length guard test in tests/test_registry.py pins the worst case
    # at the live registry size.
    print(
        build_compact_line(
            timings,
            medians,
            sorted(resampled),
            len(degraded),
            total,
            total_ex_baseline,
            sf_val,
            max(1, runs),
            ambient=ambient,
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
