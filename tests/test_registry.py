"""Registry contract invariants: unique bench prefixes, a docstring and
builder per query, the bench artifact line fitting its capture window at
the live registry size, and registered builders freeing the previous
builder's checkpoints on the same session (and only that session)."""

from __future__ import annotations

from db_converter_spark.registry import all_queries, scoped_conf
from tests.conftest import SF_DIR, assert_oracle_match


def test_compact_bench_prefixes_unique():
    """bench.py keys its final compact line on the prefix before the first
    underscore; a new query that collides would corrupt the artifact."""
    prefixes = [n.split("_", 1)[0] for n in all_queries()]
    dupes = {p for p in prefixes if prefixes.count(p) > 1}
    assert not dupes, f"non-unique bench prefixes: {dupes}"


def test_compact_bench_line_fits_capture_window():
    """The driver records only the LAST ~2000 chars of bench.py stdout;
    BENCH_r08.json lost its per-query map (parsed=null) when the compact
    line outgrew that window. Pin the WORST plausible line at the live
    registry size: every query slow (three-digit seconds), every query
    median-hot, every query resampled — the ladder in
    benchutil.build_compact_line must still land under COMPACT_LINE_MAX."""
    import json

    from db_converter_spark.benchutil import COMPACT_LINE_MAX, build_compact_line

    names = list(all_queries())
    timings = {n: 999.999 for n in names}
    medians = {n: 9999.999 for n in names}  # every query trips med_hot
    resampled = sorted(n.split("_", 1)[0] for n in names[: len(names) // 2])
    worst_ambient = {"steal_ticks": 99999999, "load1": [999.9, 999.9]}
    line = build_compact_line(
        timings, medians, resampled, len(names), 99999.999, 99999.999, 0.1, 3,
        ambient=worst_ambient,
    )
    assert len(line) <= COMPACT_LINE_MAX, (
        f"compact bench line is {len(line)} chars at worst case; the"
        f" driver window holds ~2000 — extend the degradation ladder"
    )
    parsed = json.loads(line)
    # the contract fields must survive every ladder rung
    for field in ("metric", "value", "unit", "queries", "sf"):
        assert field in parsed, f"required field {field} dropped from compact line"
    assert len(parsed["queries"]) == len(names)
    # the r12 ambient marker is an addition and must survive degradation
    assert parsed.get("ambient") == worst_ambient
    # realistic shape (committed expected bests, nothing hot) must fit on
    # the FIRST rung so precision is only degraded under duress
    import os

    exp_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_expected.json",
    )
    with open(exp_path) as fh:
        expected = json.load(fh)["queries_best"]
    line2 = build_compact_line(
        expected,
        dict(expected),
        [],
        0,
        round(sum(expected.values()), 3),
        round(sum(expected.values()), 3),
        0.1,
        3,
    )
    assert len(line2) <= COMPACT_LINE_MAX
    assert json.loads(line2)["runs_per_query"] == 3, (
        "realistic line should keep optional fields (first ladder rungs)"
    )


def test_every_query_has_doc_and_builder():
    for name, spec in all_queries().items():
        assert spec.doc, f"{name} has no docstring"
        assert callable(spec.builder)



def _cached_rdd_ids(spark) -> set[int]:
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_next_builder_frees_previous_checkpoints(spark, duck):
    """ta14 trains a BPE vocab through ~18 checkpoints, and pipe06 trains
    its own: entering pipe06's builder drops every block ta14 left cached,
    and both results still match their oracles."""
    qs = all_queries()
    session = spark.newSession()
    before = _cached_rdd_ids(session)
    ta14 = qs["ta14_bpe_encode"]
    assert_oracle_match(ta14.builder(session, SF_DIR), duck, ta14.oracle, ta14.name)
    ta14_ids = _cached_rdd_ids(session) - before
    assert ta14_ids, "ta14 should leave checkpoint blocks until the next builder"

    pipe06 = qs["pipe06_token_budget"]
    df = pipe06.builder(session, SF_DIR)
    assert not ta14_ids & _cached_rdd_ids(session), "ta14's blocks outlived pipe06's entry"
    assert_oracle_match(df, duck, pipe06.oracle, pipe06.name)


def test_release_is_per_session(spark, duck):
    """A builder on another session leaves an unconsumed result's blocks
    alone; the next builder on the result's own session frees them."""
    qs = all_queries()
    s1 = spark.newSession()
    before = _cached_rdd_ids(s1)
    dd10 = qs["dd10_lsh_jaccard_verify"]
    held = dd10.builder(s1, SF_DIR)  # not consumed yet
    dd10_ids = _cached_rdd_ids(s1) - before
    assert dd10_ids

    qs["q01_pricing_summary"].builder(s1.newSession(), SF_DIR).collect()
    assert_oracle_match(held, duck, dd10.oracle, dd10.name)

    qs["q01_pricing_summary"].builder(s1, SF_DIR).collect()
    assert not dd10_ids & _cached_rdd_ids(s1)


def test_scoped_conf_restores_or_unsets(spark):
    key = "spark.sql.constraintPropagation.enabled"
    session = spark.newSession()
    assert session.conf.get(key, None) is None
    with scoped_conf(session, key, "false"):
        assert session.conf.get(key) == "false"
    assert session.conf.get(key, None) is None  # unset again, not pinned
    session.conf.set(key, "true")
    with scoped_conf(session, key, "false"):
        assert session.conf.get(key) == "false"
    assert session.conf.get(key) == "true"
