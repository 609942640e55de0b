"""Physical-plan shape pins for the claims PLANS.md makes — a perf
regression that flips a broadcast to a shuffle join, loses a pushed
filter, or turns top-k into a global sort should fail TESTS, not just
read worse in the next bench artifact.

Plans are taken at sf0.001 (shape, not size, is under test; where AQE
could flip a join at tiny SF the assertion targets operators AQE does not
rewrite)."""

from __future__ import annotations

import pytest

from db_converter_spark.registry import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name].builder(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dc01_broadcasts_bench_grams(spark):
    """The training corpus must NEVER shuffle for the decontamination join:
    the distinct benchmark gram set is the broadcast build side."""
    plan = _plan(spark, "dc01_decontaminate")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the bench-slice filter reaches the scan (DataFilters on doc_id % 97)
    assert plan.count("% 97)") >= 2, plan


def test_dd10_tail_broadcasts_candidates(spark):
    """Checkpointed relations carry no stats; the BROADCAST hints must keep
    the tiny candidate/size relations on the build side (the un-hinted
    plan ran 8 needless SortMergeJoin exchanges)."""
    plan = _plan(spark, "dd10_lsh_jaccard_verify")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    # exactly ONE sort-merge join is correct: the big-big join of the
    # candidate-expanded shingles against doc_sh on (doc_id, sh) — both
    # sides are shingle-sized, so neither should broadcast
    assert plan.count("SortMergeJoin") <= 1, plan


def test_ss05_query_batch_is_broadcast_side(spark):
    """Corpus streams through ONE broadcast nested-loop pass; the per-query
    top-3 uses rank-limit pushdown, never a global sort."""
    plan = _plan(spark, "ss05_knn_join")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "TakeOrderedAndProject" not in plan or "Sort " not in plan, plan


def test_q02_topk_never_global_sorts(spark):
    plan = _plan(spark, "q02_top_revenue_orders")
    assert "TakeOrderedAndProject" in plan, plan


def test_pipe01_single_pass(spark):
    """The corpus filter chain is ONE scan + one aggregate exchange."""
    plan = _plan(spark, "pipe01_corpus_filter")
    assert plan.count("Scan parquet") == 1, plan


@pytest.mark.parametrize(
    "name",
    ["q01_pricing_summary", "q03_nation_revenue", "ev01_windowed_event_stats"],
)
def test_scans_prune_columns(spark, name):
    """Column pruning reaches every parquet reader: no scan reads the wide
    `text`/`props` payloads these queries don't use."""
    plan = _plan(spark, name)
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line and "props" not in line, line


def test_ta07_model_is_broadcast_side(spark):
    """The trigram model (bounded by charset³) builds the broadcast side of
    the scoring join; the occurrence stream must never shuffle for it."""
    plan = _plan(spark, "ta07_trigram_lm")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pipe03_weights_broadcast_map_only(spark):
    """Weighted sampling: broadcast the 20-row mixture table; the only
    exchange is the low-cardinality source rollup."""
    plan = _plan(spark, "pipe03_weighted_sample")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pipe04_single_shard_exchange(spark):
    """Shard assignment is exactly one hash exchange (the global shuffle
    being produced) — no total sort, no extra aggregation exchanges."""
    plan = _plan(spark, "pipe04_shard_assign")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_ss06_no_sort_merge_join(spark):
    """PQ: codebook + ADC table broadcast (the hint must hold — qtab sits
    behind a stats-free lineage); top-10 compiles to TakeOrdered."""
    plan = _plan(spark, "ss06_pq_adc_topk")
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pipe05_single_scan_two_exchanges(spark):
    """The end-to-end corpus build must stay ONE corpus scan (the funnel
    trick replaces the join-back) with only the dedup-window and rollup
    exchanges."""
    plan = _plan(spark, "pipe05_corpus_build")
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_ta08_vocab_never_globally_sorted(spark):
    """Top-100 over the vocabulary compiles to TakeOrderedAndProject; the
    materialized counts hide the corpus scan from this plan."""
    plan = _plan(spark, "ta08_vocab_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "FileScan parquet" not in plan, plan


def test_pointer_jump_rounds_logarithmic(spark):
    """dd08's propagation must converge in ~log2(diameter) rounds, not
    diameter: a 64-node chain (diameter 63 — one-hop propagation would
    blow the 50-round cap and return WRONG labels) must finish in <= 10
    rounds with every node labeled 0."""
    from pyspark.sql import functions as F

    from db_converter_spark.operators.dedup import _min_label_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG"
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    labels, rounds = _min_label_components(sym)
    got = {(r["doc_id"], r["label"]) for r in labels.collect()}
    assert got == {(i, 0) for i in range(n)}
    assert rounds <= 10, f"chain-64 took {rounds} rounds — pointer jump broken"


def test_ss07_joins_stay_broadcast(spark):
    """k-means' per-dim distance joins run against <=512-row centroid
    tables behind stat-less agg chains — the BROADCAST hints must hold
    (a SortMergeJoin here sorts the exploded vector stream per
    iteration), and nothing may plan as a nested-loop. With the
    materialized loop (_km_train) the final rollup is metadata-scale;
    the per-iteration stage plans are what carry the corpus work, so
    each stage is pinned on a FRESH DataFrame over the builder's own
    checkpointed inputs."""
    from db_converter_spark.operators.similarity import _KM_K, _SS07_VFLAT_SPARK, _km_sqls

    plan = _plan(spark, "ss07_kmeans_train")  # also registers the views
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan  # corpus flows via checkpoints
    sqls = _km_sqls()
    vflat = spark.sql(_SS07_VFLAT_SPARK).localCheckpoint(eager=True)
    cent = spark.sql(sqls["cent0"], vflat=vflat, k16=_KM_K * 16).localCheckpoint(eager=True)
    asg_plan = _fresh_plan(spark, sqls["asg"], vflat=vflat, cent=cent)
    assert "SortMergeJoin" not in asg_plan, asg_plan
    assert asg_plan.count("BroadcastHashJoin") == 1, asg_plan
    # r11: the assignment is inlined into the update (one fused job per
    # iteration) — pin the fused stage the way _km_train now builds it
    upd_plan = _fresh_plan(
        spark,
        sqls["cent_next"],
        vflat=vflat,
        cent=cent,
        asg=spark.sql(sqls["asg"], vflat=vflat, cent=cent),
    )
    # the corpus-side asg⋈vflat join keys vec_id (shuffle — correct at
    # scale); the bounded update relation re-enters broadcast
    assert "SortMergeJoin" not in upd_plan or "BroadcastHashJoin" in upd_plan, upd_plan
    assert "BroadcastNestedLoopJoin" not in upd_plan, upd_plan


def _fresh_plan(spark, sql, **dfs):
    return spark.sql(sql, **dfs)._jdf.queryExecution().executedPlan().toString()


def test_dd12_no_nested_loop_and_partitioned_window(spark):
    """dd12's r9 one-pass shape: the duplicate flag is a window COUNT over
    the 16-byte window hash (NO join anywhere — the old freq-aggregate +
    mark-join pair is gone, that pair plus its checkpoint spilled 99 GB at
    sf100/16 GB), the run merge windows PARTITIONED by doc (no global
    order), and nothing is checkpointed."""
    plan = _plan(spark, "dd12_dup_substring_runs")
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert "hashpartitioning(h" in plan, plan  # corpus-wide dup-flag window
    assert "hashpartitioning(doc_id" in plan, plan  # doc-local run merge
    assert "Checkpoint" not in plan, plan


def test_pointer_jump_matches_union_find(spark):
    """Property check for the pointer-jump rewrite: on seeded random
    graphs (including disconnected pieces, self-contained stars, rings)
    the propagated labels must equal classic union-find components."""
    import random

    from pyspark.sql import functions as F

    from db_converter_spark.operators.dedup import _min_label_components

    rng = random.Random(42)
    for trial in range(4):
        n = 60
        edges = sorted(
            {
                (a, b)
                for _ in range(rng.randint(10, 80))
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {v for e in edges for v in e}
        expect = {v: find(v) for v in in_graph}
        # normalize: label = min member of the component
        comp_min: dict[int, int] = {}
        for v, r in expect.items():
            comp_min[r] = min(comp_min.get(r, v), v)
        expect = {v: comp_min[find(v)] for v in in_graph}

        e = spark.createDataFrame(edges, "src LONG, dst LONG")
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        labels, rounds = _min_label_components(sym)
        got = {r["doc_id"]: r["label"] for r in labels.collect()}
        assert got == expect, f"trial {trial}: mismatch (rounds={rounds})"


def test_mg03_single_entity_shuffle(spark):
    """SCD2 history: both windows and the run-collapse aggregate must reuse
    the user_id hash partitioning — at most 2 exchanges total (entity
    shuffle + the spans window repartition), and no global sort."""
    plan = _plan(spark, "mg03_scd2_history")
    assert plan.count("Exchange") <= 2, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_pipe07_stratum_window_partitioned(spark):
    """Stratified quota sample: the rank window must be PARTITIONED by the
    stratum key (a global-order window serializes the corpus) and the quota
    filter must not plan a global sort."""
    plan = _plan(spark, "pipe07_stratified_sample")
    assert "hashpartitioning(source" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_dc03_bloom_and_verify_broadcast(spark):
    """Bloom decontamination: the <=2,048-word bitmap and the exact-verify
    gram set must BOTH be broadcast — the training gram stream never
    shuffles for a join; no sort-merge anywhere."""
    plan = _plan(spark, "dc03_bloom_decontaminate")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dd14_pair_join_on_cluster_key(spark):
    """SemDeDup: the pairwise stage joins on the cluster id (cell-bounded),
    the per-cluster stats joins broadcast, and nothing plans as a nested
    loop / cartesian. At test scale AQE broadcasts the tiny checkpointed
    assignment — pinning that a forced-SMJ shape (which once collapsed the
    cosine stage onto k cores, 31 s vs 5.7 s at sf0.1) does NOT reappear
    on small corpora."""
    plan = _plan(spark, "dd14_semdedup")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "Scan parquet" not in plan, plan  # pair stage reads the ckpt


def test_dd14_pair_stage_single_cid_exchange_vectorized(spark):
    """The deployment shape of the pair stage (r12): the n-row wide
    assignment is shuffled EXACTLY ONCE (one cid-keyed exchange feeding
    the grouped-map pair worker — the SQL self-join era also shuffled it
    once via Exchange + ReusedExchange), the per-cell pairwise cosine
    runs vectorized in numpy (FlatMapGroupsInPandas — no interpreted
    lambda, no join of any kind), and the exact ROUND/tau gate remains
    an engine-side Filter above it."""
    from db_converter_spark.catalog import register_views
    from db_converter_spark.operators.dedup import (
        _DD14_ASSIGN_SPARK,
        _DD14_PAIRS_FROM_RAW,
        _dd14_pairs_py,
    )

    register_views(spark, SF)
    raw = spark.sql(_DD14_ASSIGN_SPARK).localCheckpoint(eager=True)
    plan = _fresh_plan(spark, _DD14_PAIRS_FROM_RAW, raw=_dd14_pairs_py(raw))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "hashpartitioning(cid" in plan, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert "lambdafunction" not in plan, plan
    assert "Filter" in plan and "0.35" in plan, plan


def test_dd14_assignment_is_aggregate_not_window(spark):
    """With k ∝ n the n·k similarity stream is the BIG relation: the
    argmax must be a map-side-combinable aggregate (partial max_by before
    the exchange), never a ROW_NUMBER window that shuffles the whole
    stream (measured at sf10: 156M wide rows through one exchange)."""
    from db_converter_spark.catalog import register_views
    from db_converter_spark.operators.dedup import _DD14_ASSIGN_SPARK

    register_views(spark, SF)
    plan = _fresh_plan(spark, _DD14_ASSIGN_SPARK)
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan


def test_ta09_iteration_plans_are_vocab_bounded(spark):
    """BPE training: the word-count pass is the only corpus-scale job — the
    per-iteration pair-count plan must read the checkpointed vocab table
    (never re-scan parquet), aggregate with map-side partials, and pick the
    argmax via TakeOrdered (no global sort of the pair table)."""
    from db_converter_spark.catalog import register_views
    from db_converter_spark.operators.textops import (
        _TA09_SPELL0_SPARK,
        _ta09_best,
        _ta09_pairs_spark,
    )

    register_views(spark, SF)
    s0 = spark.sql(_TA09_SPELL0_SPARK).localCheckpoint(eager=True)
    best = spark.sql(_ta09_best(_ta09_pairs_spark("{s}")), s=s0)
    plan = best._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_ev12_funnel_entity_keyed_no_cartesian(spark):
    """Funnel: every corpus-scale join/aggregate is keyed user_id (one
    partitioning reused down the funnel); no cartesian/nested-loop step
    join, no range shuffle. The only unpartitioned window runs on the
    3-row conversion summary."""
    plan = _plan(spark, "ev12_funnel")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ev13_retention_cohort_sizes_broadcast(spark):
    """Retention matrix: the activity join is user_id-keyed and the
    calendar-bounded cohort-size relation is the broadcast side; the
    distinct collapses with map-side partials (no range shuffle)."""
    plan = _plan(spark, "ev13_retention_cohorts")
    assert "CartesianProduct" not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_pipe08_curriculum_window_partitioned(spark):
    """Curriculum quartiles: the ntile window must be PARTITIONED BY the
    source stratum (never a global-order window) and the per-phase
    aggregate must collapse map-side — one scan, at most 2 exchanges."""
    plan = _plan(spark, "pipe08_curriculum_phases")
    assert "hashpartitioning(source" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_dq01_stats_materialized_once(spark):
    """Constraint audit: the 10-branch long-format emission must read the
    checkpointed one-row stat relations — zero parquet scans and zero
    aggregates in its plan (an inlined CTE form re-ran the orders
    aggregate 5x and the lineitem aggregate 5x: 26 exchanges, measured)."""
    plan = _plan(spark, "dq01_constraint_audit")
    assert "Scan parquet" not in plan, plan
    assert plan.count("HashAggregate") == 0, plan


def test_dq02_anomaly_window_partitioned(spark):
    """Rate anomaly: the trailing-baseline window must be PARTITIONED BY
    event_type (the daily matrix is metadata-scale but a global-order
    window is still the wrong shape) and the corpus-scale daily count must
    collapse with map-side partials."""
    plan = _plan(spark, "dq02_rate_anomaly")
    assert "hashpartitioning(event_type" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_pipe09_split_is_map_side(spark):
    """Leakage-safe split: the split decision is a hash of a hash — no
    join anywhere; the only shuffle is the cluster-size window keyed by
    the uniform md5 fingerprint."""
    plan = _plan(spark, "pipe09_leakage_safe_split")
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
    assert "hashpartitioning(fp" in plan, plan


def test_ta10_single_corpus_pass(spark):
    """Vocab growth: the corpus explode happens ONCE (in the materialized
    (decile, word) aggregate); the tail must read the checkpoint, never
    parquet, and both derived branches aggregate vocab-scale input."""
    from db_converter_spark.catalog import register_views
    from db_converter_spark.operators.textops import _TA10_DW_SPARK, _TA10_TAIL

    register_views(spark, SF)
    dw = spark.sql(_TA10_DW_SPARK).localCheckpoint(eager=True)
    tail = spark.sql(_TA10_TAIL, dw=dw)
    plan = tail._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan, plan
    dw_plan = spark.sql(_TA10_DW_SPARK)._jdf.queryExecution().executedPlan().toString()
    assert dw_plan.count("Scan parquet") <= 2, dw_plan  # corpus + 1-row MAX
    assert "Generate explode" in dw_plan, dw_plan


def test_mg04_plan_window_partition_scoped(spark):
    """Compaction planner: chunk stats collapse map-side (partial+final
    aggregate) and the prefix-sum window is PARTITIONED BY the month
    partition key — no global window, no range shuffle."""
    plan = _plan(spark, "mg04_compaction_plan")
    assert "hashpartitioning(part_month" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_ev11_entity_keyed_window(spark):
    """Inter-arrival histogram: the gap window shuffles on the uniform
    (user, type) entity key — never a per-type global sort; the histogram
    collapses with map-side partials on bounded (type, bucket) keys."""
    plan = _plan(spark, "ev11_interarrival_hist")
    assert "hashpartitioning(user_id" in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_mg05_single_scan_no_join(spark):
    """Table checksum: ONE scan, one map-side-combined aggregate on the
    uniform chunk key — no join, no window, no sort anywhere."""
    plan = _plan(spark, "mg05_table_checksum")
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_ta11_single_corpus_explode(spark):
    """TF-IDF: the corpus explode happens once (the materialized tf
    aggregate); the scoring tail reads the checkpoint, never parquet, and
    the 1-row N relation joins as a broadcast nested loop (bounded)."""
    plan = _plan(spark, "ta11_tfidf_topterms")
    assert "Scan parquet" not in plan, plan
    from db_converter_spark.operators.textops import _TA11_TF_SPARK

    tf_plan = spark.sql(_TA11_TF_SPARK)._jdf.queryExecution().executedPlan().toString()
    assert tf_plan.count("Scan parquet") == 1, tf_plan
    assert "Generate explode" in tf_plan, tf_plan


def test_dq03_stats_materialized_once(spark):
    """Column profile: the long-format emission reads the checkpointed
    one-row stat relations — zero parquet scans, zero aggregates (the
    dq01 lesson: an inlined CTE re-runs each table aggregate 6x)."""
    plan = _plan(spark, "dq03_column_profile")
    assert "Scan parquet" not in plan, plan
    assert plan.count("HashAggregate") == 0, plan


def test_pipe10_text_hashed_once(spark):
    """Dataset card: the giant text column is read and md5-hashed ONCE
    (materialized narrow projection); both aggregates read the checkpoint
    and the final join broadcasts the metadata-scale source stats."""
    plan = _plan(spark, "pipe10_dataset_card")
    assert "Scan parquet" not in plan, plan
    assert "md5" not in plan, plan  # hashing happened in the checkpoint
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q37_pivot_single_aggregate(spark):
    """PIVOT must plan as ONE conditional-aggregation pass — no Expand,
    no join, no per-column re-scan."""
    plan = _plan(spark, "q37_pivot")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_dq04_keyed_join_no_cartesian(spark):
    """Reconciliation: the detail aggregate is keyed on l_orderkey and the
    header join is a keyed equi-join (broadcast at tiny SF, SMJ at scale —
    either is fine); never a nested-loop/cartesian, never a global sort."""
    plan = _plan(spark, "dq04_reconciliation")
    assert "hashpartitioning(l_orderkey" in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_q38_unpivot_single_expand(spark):
    """UNPIVOT must plan as ONE Expand over the aggregated wide relation —
    one scan, no join, never a per-column re-scan."""
    plan = _plan(spark, "q38_unpivot")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Expand") == 1, plan
    assert "Join" not in plan, plan


def test_dq05_keyed_joins_only(spark):
    """FK orphan audit (r12 single multi-FK pass): ALL edges share ONE
    (edge, fk)-keyed aggregate and ONE keyed join against the tagged
    parent-key union — lineitem is scanned exactly once (the per-edge
    UNION form scanned it three times), never a nested-loop/cartesian,
    never a global sort."""
    plan = _plan(spark, "dq05_fk_orphans")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin") == 1, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_pipe11_single_scan_bounded_fanout(spark):
    """Context-fit report (r9: priced in ta14 BPE tokens): ONE documents
    scan exploded into the BROADCAST encode-map join (the vocab is a
    checkpointed vocab-bounded relation), one doc-keyed aggregate, the
    4-row length relation fans out via broadcast nested loop (bounded
    multiplier), one bounded-key aggregate — no SMJ, no window."""
    plan = _plan(spark, "pipe11_context_fit")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("BroadcastHashJoin") == 1, plan  # encode map stays broadcast
    assert "SortMergeJoin" not in plan and "Window" not in plan, plan


def test_ss09_sims_materialized_once(spark):
    """Recall eval: the report tail reads the checkpointed sims relation —
    zero parquet scans, zero similarity folds, no SortMergeJoin (report
    relations are 10-row, hinted broadcast)."""
    plan = _plan(spark, "ss09_lsh_recall")
    assert "Scan parquet" not in plan, plan
    assert "zip_with" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    from db_converter_spark.operators.similarity import _SS09_SIMS_SPARK

    sims_plan = (
        spark.sql(_SS09_SIMS_SPARK)._jdf.queryExecution().executedPlan().toString()
    )
    assert sims_plan.count("zip_with") == 1, sims_plan


def test_dd15_same_accepted_shape_as_dd10(spark):
    """Containment shares dd10's staged shape: broadcast-hinted tail with
    at most the ONE big-big shingle SortMergeJoin; tail reads checkpoints
    (zero parquet scans)."""
    plan = _plan(spark, "dd15_containment")
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_dd15_containee_channel_stage_shape(spark):
    """The bottom-k candidate stage (r12 df-window form): reads ONLY the
    checkpointed inverted index (zero parquet scans), the gram document
    frequency is a window over the SAME pass (partitioned by sh — no
    aggregate+self-join, so full_sh is scanned once for the whole bk
    chain), the bottom-k window partitions by doc_id (never a global
    sort), and the posting probe is a broadcast join — no shuffle join
    anywhere."""
    from db_converter_spark.catalog import register_views
    from db_converter_spark.operators.dedup import (
        _DD15_CCAND_SPARK,
        _DD15_FULLSH_SPARK,
        _dd10_prepare,
    )

    _dd10_prepare(spark, SF, with_doc_sh=False)
    full_sh = spark.sql(_DD15_FULLSH_SPARK).localCheckpoint(eager=True)
    plan = _fresh_plan(spark, _DD15_CCAND_SPARK, full_sh=full_sh)
    assert "Scan parquet" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "hashpartitioning(sh" in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan
    # one full_sh read feeds the whole bk chain; the probe's is the only other
    assert plan.count("Scan ExistingRDD") == 2, plan


def test_mg06_single_scan_single_shuffle(spark):
    """CDC apply: the LWW row_number and every per-key counter are windows
    over the SAME user_id partitioning — one scan, one hash exchange, no
    join, no extra aggregate pass, no global sort."""
    plan = _plan(spark, "mg06_cdc_apply")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ev14_one_scan_window_normalized(spark):
    """Transition matrix: ONE scan (a totals CTE + self-join would
    re-derive the whole chain — Spark inlines CTEs); normalization is a
    window over the bounded pair aggregate, no join anywhere."""
    plan = _plan(spark, "ev14_transition_matrix")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ss10_broadcast_corpus_pass(spark):
    """IVF balance: the codebook side broadcasts (hinted nested-loop cross
    join — the ss03 shape); the corpus is scanned once plus the
    pushed-down centroid-subset scan; no SortMergeJoin; denominators are
    windows, not scalar-subquery scans (that variant measured 4 scans)."""
    plan = _plan(spark, "ss10_ivf_balance")
    assert plan.count("Scan parquet") == 2, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    # centroid-subset filter reaches its scan
    assert "vec_id" in plan.split("Scan parquet")[2][:400], plan


def test_dc04_train_side_streams_unshuffled(spark):
    """Benchmark-burn census: the bench gram set (with item ids)
    broadcasts into the training explode — the corpus side must reach the
    join with NO exchange below it; the report joins broadcast too (no
    SortMergeJoin anywhere)."""
    plan = _plan(spark, "dc04_benchmark_burn")
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    # both legs push their bench-slice filter into the scan
    assert plan.count("% 97)") >= 2, plan


def test_pipe12_single_scan_bounded_tail(spark):
    """Epoch plan (r9: priced in ta14 BPE tokens): the final statement
    reads ONLY ta14's checkpointed serving artifacts — the (source, word)
    counts and the encode map, joined broadcast — so ZERO parquet scans
    here (the one corpus scan lives in the shared ta14 train pass); the
    weight VALUES join broadcasts; totals are windows on the
    |sources|-row relation — no SMJ, no range partitioning."""
    plan = _plan(spark, "pipe12_epoch_plan")
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ev15_bounded_aggregate_no_join(spark):
    """Load profile: ONE scan onto the bounded 168-key aggregate; the
    day-share normalization is a window over the 168-row relation — no
    join, no global sort."""
    plan = _plan(spark, "ev15_load_profile")
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ss11_broadcast_codebooks_no_smj(spark):
    """PQ training: the corpus flows only through the checkpointed
    pqflat (no re-scan of the parquet), the per-iteration codeword join
    is a broadcast keyed (vec_id, m), and nothing range-partitions."""
    from db_converter_spark.operators.similarity import (
        _PQT_K,
        _SS11_PQFLAT_SPARK,
        _km_sqls,
    )

    plan = _plan(spark, "ss11_pq_train")  # also registers the views
    assert plan.count("Scan parquet") == 0, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    sqls = _km_sqls("m")
    pqflat = spark.sql(_SS11_PQFLAT_SPARK).localCheckpoint(eager=True)
    cent = spark.sql(sqls["cent0"], vflat=pqflat, k16=_PQT_K * 16).localCheckpoint(eager=True)
    asg_plan = _fresh_plan(spark, sqls["asg"], vflat=pqflat, cent=cent)
    assert "SortMergeJoin" not in asg_plan, asg_plan
    assert asg_plan.count("BroadcastHashJoin") == 1, asg_plan
    assert "hashpartitioning(vec_id" in asg_plan, asg_plan


def test_dq06_single_main_scan_broadcast_stats(spark):
    """Drift gate: ONE pruned parquet scan in the main pass; the span
    (1 row) and reference-edge (|types| rows) relations enter as
    broadcasts (the 1-row span join is the only nested-loop); bounded
    aggregate, no global sort."""
    plan = _plan(spark, "dq06_distribution_drift")
    assert plan.count("Scan parquet") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_pipe13_broadcast_weights_topn_no_global_sort(spark):
    """DSIR selection: the corpus never re-scans (both stats and scoring
    read the checkpointed feature table), the 256-row weight relation
    broadcasts into the scoring join, and top-N is
    TakeOrderedAndProject — no SortMergeJoin, no range partitioning."""
    plan = _plan(spark, "pipe13_importance_resample")
    assert plan.count("Scan parquet") == 0, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_ta12_no_global_sort_no_corpus_rescan(spark):
    """Perplexity bucketing: the labeling tail reads ONLY the checkpointed
    doc-score table (no parquet re-scan), the tertile cut is a bounded
    histogram + window — never a rangepartitioning global sort — and no
    shuffle join appears anywhere."""
    plan = _plan(spark, "ta12_ppl_buckets")
    assert "Scan parquet" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ss12_serving_is_code_table_and_broadcast_lookups(spark):
    """Trained-PQ ADC serving: the ranked scan reads the checkpointed code
    table joined to the BROADCAST 32-row ADC lookup table (never raw
    vectors, never a shuffle join), and top-10 is TakeOrderedAndProject
    — no global sort anywhere in the serving tail."""
    plan = _plan(spark, "ss12_pq_trained_topk")
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def _single_partition_subtrees(plan: str) -> list[list[str]]:
    """Each `Exchange SinglePartition` node's subtree (the indented block
    below it, until indentation returns to the node's level or shallower)."""
    lines = plan.splitlines()

    def depth(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-*("))

    out = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        d = depth(ln)
        sub = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and depth(nxt) <= d:
                break
            sub.append(nxt)
        out.append(sub)
    return out


@pytest.mark.parametrize(
    "name",
    ["mg04_compaction_plan", "pipe06_token_budget"],
)
def test_cumulative_windows_stay_keyed(spark, name):
    """r6 verdict Next #7 (keyed half): mg04's running-bytes window and
    pipe06's budget window partition on real keys (part_month / the pack
    key) — pin that no edit collapses them onto ONE partition."""
    plan = _plan(spark, name)
    assert "Exchange SinglePartition" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["ta12_ppl_buckets", "ev16_watermark_audit"],
)
def test_single_partition_windows_read_bounded_relations(spark, name):
    """r6 verdict Next #7: these queries run cumulative windows through ONE
    partition BY DESIGN — their inputs are bounded bin/batch relations
    (≤65,537 histogram bins / ≤ micro-batch count), never the corpus. Pin
    the intent mechanically: every SinglePartition exchange's subtree must
    reach an AGGREGATE (the binning/bounding group-by) or a
    constant/checkpointed bounded relation BEFORE any raw parquet scan — a
    future edit that funnels a corpus-scale stream through the single
    partition fails here, not in a 100 TB deploy."""
    plan = _plan(spark, name)
    subs = _single_partition_subtrees(plan)
    assert subs, f"expected a SinglePartition window in {name}:\n{plan}"
    bounded_markers = (
        "HashAggregate",
        "ObjectHashAggregate",
        "SortAggregate",
        "LocalTableScan",
        "Scan ExistingRDD",  # localCheckpoint of an already-bounded relation
        "ReusedExchange",
    )
    for sub in subs:
        verdict = None
        for ln in sub:
            if any(m in ln for m in bounded_markers):
                verdict = "bounded"
                break
            if "Scan parquet" in ln:
                verdict = "corpus"
                break
        assert verdict != "corpus", (
            f"{name}: SinglePartition window fed by a raw parquet scan\n"
            + "\n".join(sub)
        )


def test_dc05_pair_stage_is_sketch_only(spark):
    """Sketched source-overlap: the pairwise estimation tail reads ONLY the
    checkpointed sketch/cardinality relations (no corpus re-scan — the
    single-statement form scanned parquet 4x before the checkpoint split),
    joins broadcast (≤ n_sources rows a side), and nothing shuffle-joins."""
    plan = _plan(spark, "dc05_sketched_overlap")
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3, plan


def test_ta13_tail_is_scan_free_and_rank_is_grouplimit(spark):
    """ta13's tail runs over the once-materialized per-n stage outputs:
    zero parquet scans (the single-statement form re-scanned documents 5x
    via CTE inlining). The per-doc top-1 rank lives in the per-n STAGE
    plans now (the r8 staged rework) — assert it still compiles to
    WindowGroupLimit (partial top-k before the exchange) there."""
    plan = _plan(spark, "ta13_gopher_ngram_cov")
    assert "Scan parquet" not in plan, plan
    from db_converter_spark.operators.textops import _TA13_DOCS_SPARK, _TA13_TOPN_SPARK

    docs = spark.sql(_TA13_DOCS_SPARK).localCheckpoint(eager=True)
    stage = _fresh_plan(spark, _TA13_TOPN_SPARK.format(n=2, shard=""), docs=docs)
    assert "WindowGroupLimit" in stage, stage


def test_pipe14_one_scan_bounded_window(spark):
    """pipe14's tail joins only the materialized n_sources-row capacity
    relation — no parquet scans, and the rank/cumsum window input IS that
    bounded relation (the single-partition window class pinned for
    ta12/ev16/mg04/pipe06)."""
    plan = _plan(spark, "pipe14_unimax_waterfill")
    assert "Scan parquet" not in plan, plan
    assert "Window" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ev17_topk_never_global_sorts(spark):
    """ev17's exact top-10 is TakeOrderedAndProject over the materialized
    per-user counts — never a global-sort window; the rank window runs
    over the bounded 10-row top-k only."""
    plan = _plan(spark, "ev17_countmin_audit")
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ss13_rankings_are_grouplimit_over_materialized_sims(spark):
    """Both of ss13's per-query rankings (candidate cut rn<=32, top-3)
    compile to WindowGroupLimit over the once-materialized sims relation;
    no parquet scan survives in the tail."""
    plan = _plan(spark, "ss13_truncated_rerank")
    assert "Scan parquet" not in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_dd17_admission_tail_broadcasts_best(spark):
    """dd17's admission tail: the per-batch-doc best relation (bounded by
    the candidate set) broadcasts onto the batch relation; the only
    allowed sort-merge join is the shingle-vs-shingle common join (the
    dd10 pin's class)."""
    plan = _plan(spark, "dd17_incremental_dedup")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_dq07_tail_scan_free_no_global_value_sort(spark):
    """dq07's tail reads only the materialized mm/binned relations (CTE
    inlining re-scanned orders ~5x single-statement); the exact selection
    never global-sorts the value column — the only windows are the
    <= 4,096-row bin cumulative and the bin-PARTITIONED in-bin rank."""
    plan = _plan(spark, "dq07_quantile_profile")
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" not in plan, plan
    # the in-bin rank window partitions by b (bounded partitions)
    import re

    assert re.search(r"row_number\(\) windowspecdefinition\(b#\d+L, v#\d+L", plan), plan


def test_ss14_serving_branch_reads_codes_only(spark):
    """ss14's tail is fully scan-free: serving reads the materialized
    code table + stats row, the audit reads its own once-materialized
    exact-sim relation, and both top-10s are TakeOrderedAndProject."""
    plan = _plan(spark, "ss14_sq8_topk")
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_ev18_tail_reads_sink_only_window_partitioned(spark):
    """ev18's batch tail reads the streaming memory sink, never parquet,
    and its cumulative window partitions by window_start (<= 256 bounded
    rows per partition)."""
    import re

    plan = _plan(spark, "ev18_streaming_quantiles")
    assert "Scan parquet" not in plan, plan
    assert re.search(r"windowspecdefinition\(window_start#\d+", plan), plan


def test_ev19_single_scan_bounded_windows(spark):
    """Retention cohorts: ONE events scan; the cohort stamp is a window
    over the uniform user_id key and the retention normalization is a
    window over the bounded cells relation — no joins anywhere."""
    plan = _plan(spark, "ev19_cohort_activity_retention")
    assert plan.count("Scan parquet") == 1, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_pipe15_single_scan_no_joins(spark):
    """Leakage-safe split: per-row MinHash signatures (dd03's array-domain
    cost class, codegen'd), ONE uniform shuffle on the cluster key, 2-row
    rollup — single scan, zero joins, no global sort."""
    plan = _plan(spark, "pipe15_neardup_safe_split")
    assert plan.count("Scan parquet") == 1, plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_dq08_no_corpus_checkpoints_tail_single_scan(spark):
    """dq08 (r11 shape): only the bounded mm/cum/within relations
    materialize; the tail's extraction is a UNION of NARROW per-column
    scans with PUSHED literal range predicates (at most one branch per
    mixed column — no Generate, no join feeding the window), every join
    broadcast, no single-partition exchange. When no picked bin is mixed
    the extraction branch (and all scans) vanish from the plan."""
    from db_converter_spark.operators.quality import _DQ08_COLS

    plan = _plan(spark, "dq08_column_quantiles")
    assert plan.count("Scan parquet") <= len(_DQ08_COLS), plan
    assert "SortMergeJoin" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # the range predicate reaches the parquet reader on every branch
    if plan.count("Scan parquet"):
        assert "PushedFilters: [IsNotNull" in plan or "GreaterThanOrEqual" in plan, plan


def test_ta13_two_phase_staged_templates(spark):
    """The r10 staged sub-pass shapes (PLANS.md ta13 two-phase entry),
    pinned on the TEMPLATES directly (the staged runner executes them
    eagerly, so the builder path can't expose them lazily):

    - phase A (both families) exchanges NARROW key rows and never
      broadcast-joins anything — one Exchange, no join nodes at all;
    - phase B joins the re-exploded occurrences against the candidate
      keys with a BroadcastHashJoin — never a shuffle join."""
    from db_converter_spark.operators.textops import (
        _TA13_COVN_FROM_KEYS_SPARK,
        _TA13_DOCS_SPARK,
        _TA13_DUPKEYS_SPARK,
        _TA13_TOPKEYS_SPARK,
        _TA13_TOPN_FROM_KEYS_SPARK,
    )

    spark.createDataFrame(
        [(1, "s", "a b c d e f g h i j k l"), (2, "s", "a b a b a b a b a b")],
        "doc_id LONG, source STRING, text STRING",
    ).createOrReplaceTempView("documents")
    docs = spark.sql(_TA13_DOCS_SPARK)
    try:
        for tpl, n in ((_TA13_TOPKEYS_SPARK, 2), (_TA13_DUPKEYS_SPARK, 5)):
            plan = _fresh_plan(spark, tpl.format(n=n, shard=""), docs=docs)
            for join in ("SortMergeJoin", "BroadcastHashJoin",
                         "ShuffledHashJoin", "CartesianProduct"):
                assert join not in plan, (n, plan)
            assert plan.count("Exchange hashpartitioning") == 1, (n, plan)

        kv = docs.selectExpr(
            "doc_id", "CAST(xxhash64('x') AS BIGINT) AS gh", "2 AS cnt"
        )
        for tpl, n in (
            (_TA13_TOPN_FROM_KEYS_SPARK, 2),
            (_TA13_COVN_FROM_KEYS_SPARK, 5),
        ):
            plan = _fresh_plan(spark, tpl.format(n=n, shard=""), docs=docs, kv=kv)
            assert "BroadcastHashJoin" in plan, (n, plan)
            assert "SortMergeJoin" not in plan, (n, plan)
            assert "ShuffledHashJoin" not in plan, (n, plan)
    finally:
        # r11: restore-discipline for the planted corpus (every other
        # planting test resets the register_views memo; this r10 test
        # forgot, so the 2-row `documents` leaked into whichever
        # corpus-reading test ran next in the shared session — surfaced
        # as ta09 training 'a b a b' merges in a plan_shapes+r8_ops run)
        spark.catalog.dropTempView("documents")
        spark._dbc_registered_sf = None
