#!/usr/bin/env python
"""Scale probe: bench the heavy query family at sf0.1 AND the generated
sf1-equivalent (scripts/make_scale_data.py, ~10× rows), and audit the
physical plans at both scales for flips (broadcasts degrading to
sort-merge, nested-loop joins appearing, pushed filters vanishing).

This is the r4 verdict's Next #1: the 100×-scale claims rested on
plan-shape arguments measured only at sf0.1. Done = ~linear wall-time
scaling (≤ ~15× at 10× data) and zero plan flips.

A reported "broadcast->non-broadcast" needs inspection, not automatic
red: AQE flipping a GROWN side (e.g. a fact-fact join) to SortMergeJoin
at scale is the correct adaptive choice — the red flag is a DIMENSION
join losing its broadcast. See BASELINE.md's 100× section for the
join-by-join reading of the sf10 flips.

Usage: python scripts/scale_probe.py [--runs 2] [name ...]
Writes SCALE_PROBE.json and prints a markdown table for BASELINE.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import re
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
import sys

sys.path.insert(0, str(ROOT))

from db_converter_spark.registry import all_queries
from db_converter_spark.session import build_session

SF01 = "/root/testdata/sf0.1"
SF1 = str(ROOT / ".scale" / "sf1")

# the heavy family the r4 verdict named, plus the r5 additions
HEAVY = [
    "q01_pricing_summary",
    "q02_top_revenue_orders",
    "q03_nation_revenue",
    "dd08_neardup_components",
    "dd09_span_dedup",
    "dd10_lsh_jaccard_verify",
    "dd12_dup_substring_runs",
    "dc01_decontaminate",
    "ta07_trigram_lm",
    "pipe02_sequence_pack",
    "pipe05_corpus_build",
    "ss07_kmeans_train",
    "ev08_stream_stream_join",
]

_JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def plan_profile(spark, df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    prof = {n: plan.count(n) for n in _JOIN_NODES}
    prof["PushedFilters_nonempty"] = len(
        re.findall(r"PushedFilters: \[[^\]]", plan)
    )
    return prof


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument(
        "--scales",
        default=f"sf0.1:{SF01},sf1:{SF1}",
        help="comma-separated label:dir pairs; ratios are vs the FIRST",
    )
    ap.add_argument("--out", default="SCALE_PROBE.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or HEAVY
    scales = [tuple(p.split(":", 1)) for p in args.scales.split(",")]
    base_label = scales[0][0]

    spark = build_session(app_name="scale-probe")
    spark.range(1).count()  # warm the JVM
    qs = all_queries()
    out: dict[str, dict] = {}
    for sf_label, sf_dir in scales:
        for name in names:
            spec = qs[name]
            best = float("inf")
            for _ in range(args.runs):
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                t0 = time.monotonic()
                df = spec.builder(spark, sf_dir)
                # collect(), not count(): count lets Catalyst prune the
                # aggregate expressions entirely — we time the real work
                n = len(df.collect())
                best = min(best, time.monotonic() - t0)
            rec = out.setdefault(name, {})
            rec[sf_label] = round(best, 2)
            rec[f"rows_{sf_label}"] = n
            rec[f"plan_{sf_label}"] = plan_profile(spark, df)
            print(f"{sf_label} {name}: {best:.2f}s ({n} rows)", flush=True)

    flips_total = 0
    big_label = scales[-1][0]
    for name, rec in out.items():
        rec["ratio"] = round(rec[big_label] / max(rec[base_label], 0.01), 2)
        p0, p1 = rec[f"plan_{base_label}"], rec[f"plan_{big_label}"]
        flips = []
        if p1["BroadcastHashJoin"] < p0["BroadcastHashJoin"]:
            flips.append("broadcast->non-broadcast")
        for bad in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            if p1[bad] > p0[bad]:
                flips.append(f"{bad} appeared")
        if p1["PushedFilters_nonempty"] < p0["PushedFilters_nonempty"]:
            flips.append("pushed filters lost")
        rec["plan_flips"] = flips
        flips_total += len(flips)

    Path(ROOT / args.out).write_text(json.dumps(out, indent=1) + "\n")
    header = " | ".join(f"{lbl} s" for lbl, _ in scales)
    print(f"\n| query | {header} | ratio ({big_label}/{base_label}) | plan flips |")
    print("|---|" + "---|" * (len(scales) + 2))
    for name in names:
        r = out[name]
        times = " | ".join(str(r[lbl]) for lbl, _ in scales)
        print(
            f"| {name} | {times} | {r['ratio']}x |"
            f" {', '.join(r['plan_flips']) or 'none'} |"
        )
    worst = max(out[n]["ratio"] for n in names)
    print(f"\nworst ratio: {worst}x; total plan flips: {flips_total}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
