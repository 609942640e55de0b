"""Helpers for ``bench.py``: the hypervisor steal-tick reader and the
compact final bench line that must fit the driver's stdout capture window.
"""

from __future__ import annotations

import json


# --- compact bench line (r8 verdict Next #1) -------------------------------
# The driver records only the LAST ~2000 chars of bench.py stdout; the final
# compact JSON line must fit that window or the artifact of record loses its
# per-query map (BENCH_r08.json: parsed=null — 141 queries at 3 decimals plus
# a 13-entry resampled dict overflowed the window r7 cleared by 14 bytes).
# Target 1900 to keep real headroom for the trailing newline and any stderr
# interleaving.
COMPACT_LINE_MAX = 1900


def read_steal_ticks() -> int:
    """Cumulative hypervisor steal ticks (field 8 of /proc/stat's cpu line).
    Ambient telemetry for the bench artifact (r11 verdict Next #7): a storm
    window inflates every wall number 2-30x with zero local load, and the
    PERF comparison needs a mechanical marker for that. Returns -1 where
    /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        return int(parts[8])
    except (OSError, IndexError, ValueError):
        return -1


def build_compact_line(
    timings: dict,
    medians: dict,
    resampled_names: list,
    n_degraded: int,
    total: float,
    total_ex_baseline: float,
    sf_val,
    runs: int,
    ambient: dict | None = None,
) -> str:
    """Serialize the final compact bench line, degrading precision and
    optional fields until it fits :data:`COMPACT_LINE_MAX`.

    The ladder (2-decimal times -> 1-decimal -> drop med_hot -> drop
    resampled -> drop optional scalars) guarantees the REQUIRED contract
    fields (metric/value/unit/queries/sf) always survive at full registry
    size; everything dropped here still lands verbatim in
    bench_verbose_last.json. ``resampled`` is names-only by design — the
    re-measured values are already IN ``timings``; the line only needs to
    record WHO got the end-of-suite re-measure.
    """
    def _fmt(v: float, decimals):
        # above 100 s the fraction is measurement noise; an int is 2 chars
        # shorter than e.g. "103.0" and keeps the worst case bounded.
        # "mixed" keeps 2 decimals ONLY under 1 s — that is where 0.1 s
        # quantization destroys regression checks (the r9 verdict's q31
        # example: 0.20 recorded vs a 0.05 floor reads as 4x from noise)
        # while costing ~1 char for only the sub-second entries.
        if decimals == "mixed":
            decimals = 2 if v < 1 else 1
        r = round(v, decimals)
        return int(round(v)) if r >= 100 else r

    med_hot_full = {
        k.split("_", 1)[0]: _fmt(medians[k], 2)
        for k in timings
        if medians[k] > max(1.5 * timings[k], timings[k] + 0.3)
        and k.split("_", 1)[0] not in set(resampled_names)
    }
    line = ""
    for decimals, with_med_hot, with_resampled, minimal in (
        (2, True, True, False),
        ("mixed", True, True, False),
        ("mixed", False, True, False),
        # sub-second precision OUTRANKS the resampled name list (which is
        # recoverable from bench_verbose_last.json): at the
        # live registry size the mixed line misses the window by ~20
        # chars with names and fits comfortably without them
        ("mixed", False, False, False),
        (1, False, True, False),
        (1, False, False, False),
        (1, False, False, True),
    ):
        payload = {
            "metric": "total_query_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": {
                k.split("_", 1)[0]: _fmt(v, decimals) for k, v in timings.items()
            },
            "sf": sf_val,
            "n_queries": len(timings),
        }
        if with_med_hot:
            payload["med_hot"] = med_hot_full
        elif not minimal and med_hot_full:
            payload["n_med_hot"] = len(med_hot_full)
        if with_resampled:
            payload["resampled"] = sorted(resampled_names)
        elif not minimal and resampled_names:
            payload["n_resampled"] = len(resampled_names)
        if not minimal:
            payload["total_ex_dd05_baseline"] = total_ex_baseline
            payload["runs_per_query"] = runs
            payload["n_degraded_to_single_run"] = n_degraded
        if ambient:
            # strict ADDITION (r11 verdict Next #7): ambient-load marker so
            # the driver's PERF comparison can flag storm-dominated windows
            # mechanically. Kept even on the minimal rung — it is ~40 chars
            # and the whole point is surviving into the artifact of record.
            payload["ambient"] = ambient
        line = json.dumps(payload, separators=(",", ":"))
        if len(line) <= COMPACT_LINE_MAX:
            return line
    return line
