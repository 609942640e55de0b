"""The bench artifact's compact line keeps sub-second precision at the
live registry size."""

from __future__ import annotations


def test_compact_bench_line_keeps_subsecond_precision_at_live_size():
    """At the live registry size a 1-decimal compact line falls to 0.1 s
    granularity, making sub-0.3 s queries unregressable from the recorded
    artifact alone. The 'mixed' ladder
    rung must keep 2-decimal times for sub-second entries (1-decimal
    above) under a REALISTIC timing distribution — trading away the
    resampled name list (recoverable from bench_verbose_last.json)
    before trading precision."""
    import json

    from db_converter_spark.benchutil import COMPACT_LINE_MAX, build_compact_line
    from db_converter_spark.registry import all_queries

    names = list(all_queries())
    # realistic close-run shape: ~70% sub-second, a heavy tail to 6 s
    timings = {
        n: (0.05 + (i % 19) * 0.05 if i % 10 < 7 else 1.1 + (i % 11) * 0.45)
        for i, n in enumerate(names)
    }
    medians = {n: v * 1.1 for n, v in timings.items()}
    resampled = sorted(n.split("_", 1)[0] for n in names[:10])
    line = build_compact_line(timings, medians, resampled, 0, 130.0, 128.0, 0.1, 3)
    assert len(line) <= COMPACT_LINE_MAX
    d = json.loads(line)
    for name, v in timings.items():
        got = d["queries"][name.split("_", 1)[0]]
        if v < 1:
            assert abs(got - round(v, 2)) < 1e-9, (name, v, got)
