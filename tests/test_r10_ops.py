"""Round-10 engine properties.

ta14_vocab memoization (r9 VERDICT Next #5): a multi-query session
(pipe06 -> pipe11 -> pipe12 -> ta14) must pay the ~30-job BPE training
ONCE per sf_dir, with the repeat calls pure metadata no-ops — while a
changed sf_dir or a hand-built ``documents`` view (sf_dir=None) still
retrains.
"""

from __future__ import annotations

from db_converter_spark.catalog import register_views
from db_converter_spark.operators.textops import ta14_vocab
from tests.conftest import SF_DIR


def _jobs_in_group(spark, group: str, fn) -> list[int]:
    """Run fn() under a dedicated job group and return the Spark job ids it
    launched (the status tracker indexes retained jobs by group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_ta14_vocab_view_memoized_per_session_and_sf_dir(spark):
    register_views(spark, SF_DIR)
    # order-independence: an earlier suite test (oracle parity runs every
    # registry query) may have already trained the memo in this shared
    # session — clear it so "first call trains" holds regardless
    from db_converter_spark.benchutil import reset_cross_query_memos

    reset_cross_query_memos(spark)

    first = _jobs_in_group(
        spark, "ta14-memo-first", lambda: ta14_vocab(spark, SF_DIR)
    )
    assert first, "first call must actually train (launch jobs)"

    # the memo hit: same session, same sf_dir -> ZERO new jobs
    second = _jobs_in_group(
        spark, "ta14-memo-second", lambda: ta14_vocab(spark, SF_DIR)
    )
    assert second == [], f"memoized call launched jobs: {second}"

    # the no-op call serves the relations the first call trained
    rels = ta14_vocab(spark, SF_DIR)
    assert rels["vocab"].columns == ["word", "n_sub"]
    assert rels["swc"].columns == ["source", "word", "cnt"]

    # sf_dir=None (hand-built documents view, the engine-test path) always
    # retrains — the corpus identity is unknowable
    third = _jobs_in_group(
        spark, "ta14-memo-none", lambda: ta14_vocab(spark, None)
    )
    assert third, "sf_dir=None must retrain"

    # ... and the None call invalidates the memo: the next keyed call
    # cannot trust relations trained on an unknown corpus
    fourth = _jobs_in_group(
        spark, "ta14-memo-rekey", lambda: ta14_vocab(spark, SF_DIR)
    )
    assert fourth, "keyed call after an unkeyed retrain must retrain again"


def test_ta14_vocab_view_retrains_on_sf_dir_change(spark, tmp_path):
    """A session switching corpora must never serve the stale vocab: copy
    the documents table to a new path — same bytes, DIFFERENT sf_dir key —
    and assert the next call retrains."""
    import shutil

    register_views(spark, SF_DIR)
    ta14_vocab(spark, SF_DIR)

    other = tmp_path / "sfcopy"
    other.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", other / "documents.parquet")
    spark.read.parquet(str(other / "documents.parquet")).createOrReplaceTempView(
        "documents"
    )
    jobs = _jobs_in_group(
        spark, "ta14-memo-switch", lambda: ta14_vocab(spark, str(other))
    )
    assert jobs, "sf_dir change must retrain"
    # and the memo now keys on the NEW dir
    again = _jobs_in_group(
        spark, "ta14-memo-switch2", lambda: ta14_vocab(spark, str(other))
    )
    assert again == []


def test_compact_bench_line_keeps_subsecond_precision_at_live_size():
    """The r9 verdict's quantization note: at the live registry size the
    compact line fell to 0.1 s granularity, making sub-0.3 s queries
    unregressable from the official artifact alone. The 'mixed' ladder
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
