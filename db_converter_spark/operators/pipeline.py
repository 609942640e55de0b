"""Corpus filter chain — the C4/RefinedWeb-style keep/drop pipeline a
training-data build runs over raw documents: token statistics → quality
heuristics → language-profile signal → exact-dedup → one keep decision per
document with the reasons preserved.

This is the composition layer over the single-purpose operators (ta01-ta03
quality/langid, dd01 exact dedup): one pass, one plan. Scale shape: all
per-document metrics are array-domain expressions inside whole-stage
codegen (split → size/filter/aggregate — no UDFs, no explode), so the only
shuffle in the whole chain is the window over ``md5(text)`` for exact
dedup — uniform 128-bit keys, no skew. At 100 TB this runs scan-parallel
with exactly one exchange.

Reference parity: the reference has no corpus operators (it is a DB ops
engine); this family is the 100 TB-extension surface (SURVEY §6) — each
rule's thresholds follow the public C4 heuristics (Raffel et al. 2020,
"Exploring the Limits of Transfer Learning": ≥3-sentence/length floors,
terminal punctuation, dedup) re-expressed as one declarative plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from db_converter_spark.catalog import register_views
from db_converter_spark.operators.textops import (
    LANG_PROFILES,
    _TA14_DUCK_VOCAB_CTE,
    _sql,
    _ta14_duck_ctes,
    ta14_vocab,
)
from db_converter_spark.registry import checkpoint, query

_ALL_STOPWORDS = sorted({w for ws in LANG_PROFILES.values() for w in ws})


_STOPLIST = ", ".join(f"'{w}'" for w in _ALL_STOPWORDS)


def _pipe01(size_fn: str, filter_expr: str, re_g: str) -> str:
    # re_g: DuckDB's regexp_replace is first-match-only without the 'g'
    # flag (Spark always replaces all), so the oracle passes ", 'g'".
    return f"""
WITH stats AS (
  SELECT
    doc_id,
    lang,
    source,
    md5(text) AS content_hash,
    {size_fn}(string_split(text, ' ')) AS n_tokens,
    length(replace(text, ' ', '')) AS n_alpha_chars,
    {filter_expr} AS n_stopword_hits,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''{re_g})) AS n_punct_chars,
    length(text) AS n_chars_total
  FROM documents
), scored AS (
  SELECT
    doc_id, lang, source, content_hash, n_tokens,
    CAST(ROUND(100.0 * n_alpha_chars / n_tokens) AS BIGINT) AS mean_word_len_x100,
    CAST(ROUND(1000.0 * n_stopword_hits / n_tokens) AS BIGINT) AS stopword_frac_x1000,
    CAST(ROUND(1000.0 * n_punct_chars / n_chars_total) AS BIGINT) AS punct_frac_x1000,
    ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS dup_rank
  FROM stats
  WHERE n_tokens > 0 AND n_chars_total > 0
)
SELECT
  doc_id,
  lang,
  source,
  n_tokens,
  mean_word_len_x100,
  stopword_frac_x1000,
  punct_frac_x1000,
  (dup_rank > 1) AS is_exact_dup,
  (n_tokens >= 5 AND n_tokens <= 100000
    AND mean_word_len_x100 >= 150 AND mean_word_len_x100 <= 1500
    AND punct_frac_x1000 <= 300) AS quality_ok,
  (dup_rank = 1
    AND n_tokens >= 5 AND n_tokens <= 100000
    AND mean_word_len_x100 >= 150 AND mean_word_len_x100 <= 1500
    AND punct_frac_x1000 <= 300) AS keep
FROM scored
"""


# dialect split: token-array size + lambda filter spell differently
_PIPE01_SPARK = _pipe01(
    "size",
    f"size(filter(split(text, ' '), w -> w IN ({_STOPLIST})))",
    "",
).replace("string_split", "split")
_PIPE01_DUCK = _pipe01(
    "len",
    f"len(list_filter(string_split(text, ' '), w -> w IN ({_STOPLIST})))",
    ", 'g'",
)


@query("pipe01_corpus_filter", oracle=_PIPE01_DUCK, tags=("pipeline", "dedup", "quality"))
def pipe01_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus filter chain: per-document token/quality metrics,
    multilingual stopword signal, exact-dedup rank, and the final keep
    decision — metrics integer-scaled (x100/x1000) so the oracle compare
    is exact across engines."""
    return _sql(spark, sf_dir, _PIPE01_SPARK)


# ---------------------------------------------------------------------------
# pipe02 — sequence packing (fixed-length training-block layout)
# ---------------------------------------------------------------------------

_PACK_BLOCK = 128  # tokens per training sequence


_PIPE02_DUCK = f"""
WITH toks AS (
  SELECT doc_id, source,
         length(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM toks
), placed AS (
  SELECT doc_id, source, n_tok,
         (cum - n_tok) // {_PACK_BLOCK} AS first_block,
         (cum - 1) // {_PACK_BLOCK} AS last_block
  FROM packed WHERE n_tok > 0
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  CAST(SUM(CASE WHEN first_block <> last_block THEN 1 ELSE 0 END) AS BIGINT)
    AS n_boundary_spanning,
  CAST(MIN(first_block) AS BIGINT) AS min_block,
  CAST(MAX(last_block) AS BIGINT) AS max_block
FROM placed GROUP BY source
"""


@query("pipe02_sequence_pack", oracle=_PIPE02_DUCK, tags=("pipeline", "packing"))
def pipe02_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: lay the corpus token stream (doc_id order) into
    fixed 128-token training blocks and report, per source, how documents
    land on block boundaries — the layout pass that turns a filtered corpus
    into trainer input (no reference analog; SURVEY §6 extension).

    The core is a GLOBAL prefix sum over the corpus — the textbook
    distributed cumsum: a naive window over doc_id with no partition key
    collapses to ONE partition (exactly what a 100 TB plan cannot do), so
    this runs the two-phase formulation instead:

    1. range-partition by doc_id; per-partition local running sums
       (window partitioned by ``spark_partition_id()`` — parallel);
    2. per-partition totals (one tiny row each) come to the driver, are
       prefix-summed there, and broadcast-join back as offsets —
       global_cum = local_cum + offset.

    Driver-side state is O(n_partitions), the same class as mg01's chunk
    grid; the corpus itself is touched twice scan-parallel with one range
    shuffle. DuckDB's oracle uses the plain single-stream window — same
    numbers, which is the point: the distributed formulation is
    partitioning-invariant.
    """
    from pyspark.sql import functions as F

    from db_converter_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.expr("size(filter(split(text, ' '), w -> w <> ''))").alias("n_tok"),
    )
    nparts = max(2, spark.sparkContext.defaultParallelism // 2)
    return _pack(spark, docs, nparts)


def _pack(spark: SparkSession, docs: DataFrame, nparts: int) -> DataFrame:
    """Two-phase distributed prefix sum + block placement over ``docs``
    (doc_id, source, n_tok). Output is partitioning-invariant in ``nparts``
    (pinned by tests/test_packing.py)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    B = _PACK_BLOCK
    # r11: materialize the narrow (doc_id, source, n_tok) relation BEFORE
    # the range repartition — a bare repartitionByRange over the live plan
    # runs the scan + tokenize TWICE (once in RangePartitioner's sampling
    # job, again through the shuffle; guide §2.4). Both the sample and the
    # shuffle now read ~24-byte checkpointed rows; the text pass runs once.
    docs = checkpoint(docs, eager=True)
    parts = docs.repartitionByRange(nparts, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    # materialize the post-shuffle relation too: it is consumed twice — by
    # the per-partition totals and by the placement pass — and the
    # checkpoint freezes the pid assignment the two passes share.
    parts = checkpoint(parts, eager=True)
    # phase 1.5: per-partition totals → driver prefix sum (tiny: one row per
    # partition), rebroadcast as a join on pid
    ptotals = sorted(
        parts.groupBy("pid")
        .agg(F.sum("n_tok").alias("ptok"), F.min("doc_id").alias("min_id"))
        .collect(),
        key=lambda r: r["min_id"],
    )
    offsets, acc = [], 0
    for r in ptotals:
        offsets.append((r["pid"], acc))
        acc += r["ptok"]
    off_df = spark.createDataFrame(offsets, "pid INT, offset BIGINT")
    w = Window.partitionBy("pid").orderBy("doc_id")
    placed = (
        parts.join(F.broadcast(off_df), "pid")
        .withColumn("cum", F.sum("n_tok").over(w) + F.col("offset"))
        .where(F.col("n_tok") > 0)
        .withColumn("first_block", F.expr(f"(cum - n_tok) div {B}"))
        .withColumn("last_block", F.expr(f"(cum - 1) div {B}"))
    )
    return placed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum(
            F.when(F.col("first_block") != F.col("last_block"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_boundary_spanning"),
        F.min("first_block").cast("bigint").alias("min_block"),
        F.max("last_block").cast("bigint").alias("max_block"),
    )


# ---------------------------------------------------------------------------
# pipe03 — deterministic weighted corpus sampling (domain mixing)
# ---------------------------------------------------------------------------

# Mixture weights per source domain (keep-rate x1000), the shape of a
# training-mix config (e.g. upsample books/wiki, downsample crawl). Derived
# deterministically here so both dialects embed identical literals.
_MIX_WEIGHTS = {f"src{i}": 100 + (i * 97) % 900 for i in range(20)}


def _weight_values() -> str:
    return ", ".join(
        f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items())
    )


def _pipe03(values_table: str) -> str:
    # Deterministic per-doc coin: a Knuth multiplicative hash on doc_id,
    # pure 64-bit integer arithmetic so Spark and DuckDB agree exactly
    # (the doc_id % 999983 pre-reduction bounds the product far below
    # int64 overflow at any corpus size).
    return f"""
WITH weights AS (
  SELECT * FROM {values_table}
), hashed AS (
  SELECT doc_id, source, lang,
         ((doc_id % 999983) * 2654435761 + 12345) % 1000 AS coin
  FROM documents
), decided AS (
  SELECT h.doc_id, h.source, h.lang, w.keep_x1000,
         (h.coin < w.keep_x1000) AS keep
  FROM hashed h JOIN weights w ON h.source = w.wsource
)
SELECT source,
  MAX(keep_x1000) AS keep_x1000,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_checksum
FROM decided GROUP BY source
"""


_PIPE03_SPARK = _pipe03(f"VALUES {_weight_values()} AS t(wsource, keep_x1000)")
_PIPE03_DUCK = _pipe03(f"(VALUES {_weight_values()}) t(wsource, keep_x1000)")


@query("pipe03_weighted_sample", oracle=_PIPE03_DUCK, tags=("pipeline", "sampling"))
def pipe03_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus sampling (domain mixing): each source
    gets a keep-rate from a mixture config, each document flips a
    deterministic multiplicative-hash coin on its id, and the operator
    reports kept counts + an id checksum per source (no reference analog;
    SURVEY §6 extension).

    Determinism — not rand() — is the production requirement: re-running
    the pipeline must select the SAME subset (resumable builds,
    reproducible ablations). Scale shape: pure map arithmetic in codegen,
    a broadcast join against the 20-row weights table, one aggregate
    shuffle on the low-cardinality source key. At 100 TB this is a
    map-only pass."""
    return _sql(spark, sf_dir, _PIPE03_SPARK)


# ---------------------------------------------------------------------------
# pipe04 — deterministic global shuffle → training-shard assignment
# ---------------------------------------------------------------------------

_N_SHARDS = 16


_PIPE04_SQL = f"""
WITH hashed AS (
  SELECT doc_id,
         ((doc_id % 999983) * 2654435761 + 40503) % 4294967296 AS h
  FROM documents
)
SELECT doc_id,
  CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
  CAST(ROW_NUMBER() OVER (PARTITION BY h % {_N_SHARDS} ORDER BY h, doc_id) - 1
       AS BIGINT) AS pos
FROM hashed
"""


@query("pipe04_shard_assign", oracle=_PIPE04_SQL, tags=("pipeline", "shuffle"))
def pipe04_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: place every document into a training
    shard at a hash-ordered position — the "shuffle the corpus once,
    reproducibly" step before sequence packing (no reference analog;
    SURVEY §6 extension).

    A naive global ORDER BY rand() is a total sort with a random key and
    is not reproducible; this formulation hashes doc_id (multiplicative
    hash, overflow-bounded integer arithmetic identical across engines),
    shards by ``h % N``, and orders WITHIN each shard — one hash shuffle,
    per-shard parallel sort, no total order anywhere. Shard sizes are
    balanced by hash uniformity. At 100 TB, N_SHARDS scales with the
    cluster (thousands); each shard sorts independently and spills — the
    same per-reducer sort any shuffle does. Full row-level output keeps
    the oracle's value-hash check strong."""
    return _sql(spark, sf_dir, _PIPE04_SQL)


# ---------------------------------------------------------------------------
# pipe05 — end-to-end corpus build: filter → dedup → mix in ONE plan
# ---------------------------------------------------------------------------


def _pipe05(size_fn: str, filter_fn: str, values_table: str, re_g: str) -> str:
    # re_g: DuckDB regexp_replace needs the 'g' flag to replace ALL
    # matches (Spark always does); without it the n_punct and fp
    # expressions silently diverge on any doc with >=2 special chars.
    # One declarative plan for the whole build: per-doc metrics (array
    # domain), C4-style quality gate, normalized-fingerprint dedup rank,
    # pipe03's deterministic mixture coin, then one per-source rollup of
    # the funnel. Catalyst fuses the per-doc stages into the scan pass;
    # the only wide ops are the dedup window and the final rollup.
    return f"""
WITH weights AS (
  SELECT * FROM {values_table}
), metrics AS (
  SELECT doc_id, source,
    {size_fn}({filter_fn}(string_split(text, ' '), w -> w <> '')) AS n_tokens,
    length(replace(text, ' ', '')) AS n_alpha,
    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', ''{re_g})) AS n_punct,
    length(text) AS n_chars,
    md5(lower(regexp_replace(text, '[^a-z0-9 ]', ''{re_g}))) AS fp,
    ((doc_id % 999983) * 2654435761 + 12345) % 1000 AS coin
  FROM documents
), gated AS (
  -- CASE, not a flat conjunction: SQL does not short-circuit ANDs, and
  -- under Spark's ANSI mode a zero-token/zero-char document would raise
  -- DIVIDE_BY_ZERO; the CASE guarantees the guards evaluate first
  SELECT *,
    (CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 AND n_chars > 0
          THEN CAST(ROUND(100.0 * n_alpha / n_tokens) AS BIGINT) BETWEEN 150 AND 1500
           AND CAST(ROUND(1000.0 * n_punct / n_chars) AS BIGINT) <= 300
          ELSE FALSE END) AS quality_ok
  FROM metrics
), ranked AS (
  -- single-scan dedup: quality rows partition by fingerprint; every
  -- non-quality row gets its own 'nq:'-prefixed partition (rank 1,
  -- never counted as unique) so the funnel keeps raw counts without a
  -- second pass over the corpus
  SELECT *,
    ROW_NUMBER() OVER (
      PARTITION BY (CASE WHEN quality_ok THEN fp
                         ELSE 'nq:' || CAST(doc_id AS STRING) END)
      ORDER BY doc_id) AS dup_rank
  FROM gated
), final AS (
  SELECT g.*,
    (g.quality_ok AND g.dup_rank = 1 AND g.coin < w.keep_x1000) AS kept
  FROM ranked g
  JOIN weights w ON g.source = w.wsource
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_raw,
  CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(SUM(CASE WHEN quality_ok AND dup_rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
  CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final,
  CAST(SUM(CASE WHEN kept THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_checksum
FROM final GROUP BY source
"""


_PIPE05_SPARK = _pipe05(
    "size", "filter", f"VALUES {_weight_values()} AS t(wsource, keep_x1000)", ""
).replace("string_split", "split")
_PIPE05_DUCK = _pipe05(
    "len", "list_filter", f"(VALUES {_weight_values()}) t(wsource, keep_x1000)", ", 'g'"
)


@query("pipe05_corpus_build", oracle=_PIPE05_DUCK, tags=("pipeline", "dedup", "sampling"))
def pipe05_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-corpus build as ONE declarative plan: C4-style
    quality gate → normalized-fingerprint dedup (first-occurrence wins) →
    deterministic weighted domain mixing → per-source funnel report
    (raw → quality → unique → final, with final token counts and an id
    checksum). This is the composition the single-purpose operators exist
    for (pipe01 metrics, dd02 fingerprints, pipe03 mixing), expressed so
    Catalyst fuses every per-document stage into the scan pass.

    Scale shape: ONE corpus scan, two wide ops total — the dedup window
    on the md5 fingerprint (uniform 128-bit key; non-quality rows get
    synthetic singleton partitions so the funnel keeps raw counts without
    a second pass) and the 20-key source rollup; the weights join
    broadcasts; everything else is array-domain codegen fused into the
    scan."""
    return _sql(spark, sf_dir, _PIPE05_SPARK)


# ---------------------------------------------------------------------------
# pipe06 — token-budget selection (best-quality docs under a token budget)
# ---------------------------------------------------------------------------

_PIPE06_BUDGET = 100_000  # tokens — FIXED absolute budget: at any corpus
                          # size the operator selects the best ~100k tokens
                          # (the "train on the best N tokens" decision)


def _pipe06_metrics(unnest: str, vocab: str, hint: str = "") -> str:
    # n_tok = REAL model tokens: per-word BPE subword counts from ta14's
    # trained encode map, broadcast-joined onto the one word explode (r8
    # verdict Next #6 — the budget is spent in the unit the model trains
    # on, not the whitespace proxy). quality = stopword density x1000
    # (integer — deterministic ordering across engines; stays in the WORD
    # domain: stopword density is a word-level signal). Zero-word docs
    # produce no group — the old n_tok > 0 guard by construction.
    return f"""
SELECT {hint}d.doc_id, d.source,
  CAST(SUM(v.n_sub) AS BIGINT) AS n_tok,
  CAST(ROUND(1000.0 * SUM(CASE WHEN d.w IN ({_STOPLIST}) THEN 1 ELSE 0 END)
       / COUNT(*)) AS BIGINT) AS q
FROM (SELECT doc_id, source, {unnest} AS w FROM documents) d
JOIN {vocab} v ON v.word = d.w
WHERE d.w <> ''
GROUP BY d.doc_id, d.source
"""


_PIPE06_ROLLUP = """
SELECT source,
  CAST(COUNT(*) AS BIGINT)      AS n_selected,
  CAST(SUM(n_tok) AS BIGINT)    AS tokens_selected,
  CAST(MIN(q) AS BIGINT)        AS min_quality_x1000,
  CAST(SUM(doc_id) AS BIGINT)   AS selected_id_checksum
FROM {sel} GROUP BY source
"""

_PIPE06_DUCK = f"""
WITH {", ".join(_ta14_duck_ctes())},
{_TA14_DUCK_VOCAB_CTE},
m AS ({_pipe06_metrics("unnest(string_split(text, ' '))", "vocab")}),
c AS (
  SELECT *, SUM(n_tok) OVER (ORDER BY q DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM m
), sel AS (SELECT * FROM c WHERE cum <= {_PIPE06_BUDGET})
{_PIPE06_ROLLUP.format(sel="sel")}
"""

_PIPE06_METRICS_SPARK = _pipe06_metrics(
    "explode(split(text, ' '))", "{vocab}", hint="/*+ BROADCAST(v) */ "
)


@query("pipe06_token_budget", oracle=_PIPE06_DUCK, tags=("pipeline", "sampling", "quality"))
def pipe06_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: take the highest-quality documents (by
    stopword-density score, deterministic integer) until a FIXED token
    budget is filled — the "train on the best N tokens" decision every
    budget-constrained data mix makes (no reference analog; SURVEY §6
    extension). The budget is priced in REAL model tokens: ta14's trained
    BPE encode map broadcast-joins onto the one word explode, so n_tok is
    subword count, not the whitespace proxy (r8 verdict Next #6).

    The core is a cumulative sum over a GLOBAL quality ordering — the
    same scale trap as pipe02, solved the same way: range-partition by
    (q DESC, doc_id), per-partition local running sums (parallel),
    per-partition totals prefix-summed on the driver (O(n_partitions)
    state) and broadcast back as offsets. No single-partition window
    anywhere; the DuckDB oracle uses the plain single-stream window —
    identical numbers, which is the point (partitioning-invariant)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from db_converter_spark.catalog import register_views

    register_views(spark, sf_dir)
    vocab = ta14_vocab(spark)["vocab"]
    # r11: materialize metrics BEFORE the range repartition. A bare
    # repartitionByRange over the live metrics plan runs the corpus-scale
    # explode + encode-map join TWICE — once inside RangePartitioner's
    # sampling job and again through the shuffle itself (guide §2.4:
    # accidental recompute behind an exchange). Checkpointing the narrow
    # (doc_id, source, n_tok, q) relation first makes both the sample and
    # the shuffle read ~40-byte rows; the corpus pass runs exactly once.
    m = checkpoint(spark.sql(_PIPE06_METRICS_SPARK, vocab=vocab), eager=True)
    nparts = max(2, spark.sparkContext.defaultParallelism // 2)
    parts = m.repartitionByRange(
        nparts, F.col("q").desc(), F.col("doc_id")
    ).withColumn("pid", F.spark_partition_id())
    parts = checkpoint(parts, eager=True)
    ptotals = sorted(
        parts.groupBy("pid")
        .agg(
            F.sum("n_tok").alias("ptok"),
            F.max("q").alias("qmax"),
            F.min("doc_id").alias("dmin"),
        )
        .collect(),
        key=lambda r: (-r["qmax"], r["dmin"]),
    )
    offsets, acc = [], 0
    for r in ptotals:
        offsets.append((r["pid"], acc))
        acc += r["ptok"]
    off = spark.createDataFrame(offsets, "pid INT, offset BIGINT")
    w = Window.partitionBy("pid").orderBy(F.col("q").desc(), "doc_id")
    sel = (
        parts.join(F.broadcast(off), "pid")
        .withColumn("cum", F.sum("n_tok").over(w) + F.col("offset"))
        .where(F.col("cum") <= _PIPE06_BUDGET)
    )
    return spark.sql(_PIPE06_ROLLUP, sel=sel)


# ---------------------------------------------------------------------------
# pipe07 — stratified quota sampling (per-stratum deterministic top-K)
# ---------------------------------------------------------------------------
# The evaluation-set / ablation-set builder: draw exactly min(K, |stratum|)
# documents from every (source, lang) stratum, deterministically — ordered
# by md5(doc_id) so the draw is an unbiased pseudo-random sample yet
# reproducible run-over-run (same reason pipe03 uses a hash coin, not
# rand()). Complements pipe03 (Bernoulli domain mixing, proportional) with
# the exact-quota draw evaluation pipelines need: equal representation per
# stratum regardless of stratum size.
#
# Scale shape: one hash shuffle on the stratum key for the row_number
# window; the quota filter collapses each stratum to K rows immediately
# after ranking. Skew caveat at 100 TB: a mega-stratum serializes through
# one partition's window — production would pre-filter by a hash-prefix
# range chosen from an approx quantile of md5(doc_id) per stratum (keeps a
# small superset, provably containing the top-K only after a second exact
# pass), or salt the window into per-salt top-K + merge. The declarative
# single-window form here is the semantics contract both engines agree on.

_PIPE07_QUOTA = 5  # per stratum — FIXED absolute quota, corpus-independent


def _pipe07(cast_str: str) -> str:
    return f"""
WITH ranked AS (
  SELECT doc_id, source, lang, n_chars,
    row_number() OVER (
      PARTITION BY source, lang
      ORDER BY md5(CAST(doc_id AS {cast_str})), doc_id
    ) AS rk,
    COUNT(*) OVER (PARTITION BY source, lang) AS stratum_n
  FROM documents
)
SELECT doc_id, source, lang,
  CAST(rk AS BIGINT)        AS sample_rank,
  CAST(stratum_n AS BIGINT) AS stratum_size,
  CAST(n_chars AS BIGINT)   AS n_chars
FROM ranked
WHERE rk <= {_PIPE07_QUOTA}
"""


_PIPE07_SPARK = _pipe07("STRING")
_PIPE07_DUCK = _pipe07("VARCHAR")


@query("pipe07_stratified_sample", oracle=_PIPE07_DUCK, tags=("pipeline", "sampling"))
def pipe07_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified quota sample: exactly min(5, |stratum|) docs per
    (source, lang) stratum, drawn by md5(doc_id) order — deterministic,
    unbiased within stratum, equal-representation across strata (the
    eval-set builder pipe03's proportional mixing can't express). One
    stratum-key shuffle; quota filter right after the rank."""
    return _sql(spark, sf_dir, _PIPE07_SPARK)


# ---------------------------------------------------------------------------
# pipe08 — curriculum phases (per-source quality quartiles via ntile)
# ---------------------------------------------------------------------------
# Curriculum training orders data easy→hard; the pipeline side of that is
# bucketing each source's documents into quality quartiles (phase 1 = the
# lowest-scoring quartile, trained first or downweighted — either policy
# consumes the same bucketing). Score is exact-integer: token count plus
# lexical-diversity (distinct/total ×1000), so the oracle matches
# bit-for-bit; ntile(4) is PARTITIONED BY source — identical bucket-split
# semantics in Spark and DuckDB (earlier buckets take the remainder).
#
# Scale shape: one scan computes the score map-side; one stratum-key
# shuffle for the ntile window; the phase aggregate collapses immediately
# to 4·n_sources rows. Same mega-stratum caveat as pipe07 (production
# pre-buckets by score histogram instead of an exact per-source ntile).


def _pipe08(split_fn: str, len_fn: str, distinct_fn: str) -> str:
    return f"""
WITH scored AS (
  SELECT doc_id, source,
    CASE WHEN {len_fn}(w) = 0 THEN 0
         ELSE {len_fn}(w)
              + CAST(ROUND(1000.0 * {len_fn}({distinct_fn}(w)) / {len_fn}(w)) AS BIGINT)
    END AS score
  FROM (SELECT doc_id, source, {split_fn}(text, ' ') AS w FROM documents) d
), phased AS (
  SELECT doc_id, source, score,
    ntile(4) OVER (PARTITION BY source ORDER BY score, doc_id) AS phase
  FROM scored
)
SELECT source,
  CAST(phase AS BIGINT)        AS curriculum_phase,
  CAST(COUNT(*) AS BIGINT)     AS n_docs,
  CAST(MIN(score) AS BIGINT)   AS score_min,
  CAST(MAX(score) AS BIGINT)   AS score_max,
  CAST(SUM(score) AS BIGINT)   AS score_sum,
  CAST(SUM(doc_id) AS BIGINT)  AS doc_id_checksum
FROM phased
GROUP BY source, phase
"""


_PIPE08_SPARK = _pipe08("split", "size", "array_distinct")
_PIPE08_DUCK = _pipe08("string_split", "len", "list_distinct")


@query("pipe08_curriculum_phases", oracle=_PIPE08_DUCK, tags=("pipeline", "curriculum", "quality"))
def pipe08_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: per-source quality quartiles (ntile over an
    exact-integer lexical score) with per-phase stats and id checksums —
    the ordering/weighting input a curriculum or quality-annealing
    training schedule consumes. One scan + one stratum-key window."""
    return _sql(spark, sf_dir, _PIPE08_SPARK)


# ---------------------------------------------------------------------------
# pipe09 — leakage-safe train/valid/test split (cluster-aware assignment)
# ---------------------------------------------------------------------------
# Splitting by a per-document coin leaks data: two near-identical documents
# can land in train and test. The standard fix (public practice in every
# serious corpus build, e.g. the C4/Pile dedup-then-split discussions) is
# to assign the split to the DEDUP CLUSTER, not the document — here the
# dd02 normalization fingerprint — so every member of a duplicate cluster
# lands in the same split by construction.
#
# The coin is the fingerprint's own hex prefix (engine-identical integer
# via conv/'0x' cast), so assignment is deterministic, reproducible, and
# needs NO join against a split table. Scale shape: the split decision is
# map-side (hash of a hash); the only shuffle is the cluster-size window
# keyed by the uniform 128-bit fingerprint. 90/5/5 by construction of the
# 1000-bucket coin.


def _pipe09(re_g: str, hex_i: str) -> str:
    coin = hex_i.format(expr="substr(fp, 1, 8)")
    return f"""
WITH normed AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''{re_g}), ' +', ' '{re_g})))
           AS fp
  FROM documents
), assigned AS (
  SELECT doc_id, source, fp,
    CASE WHEN {coin} % 1000 < 900 THEN 'train'
         WHEN {coin} % 1000 < 950 THEN 'valid'
         ELSE 'test' END AS split,
    COUNT(*) OVER (PARTITION BY fp) AS cluster_size
  FROM normed
)
SELECT doc_id, source, split,
  CAST(cluster_size AS BIGINT) AS cluster_size
FROM assigned
"""


_PIPE09_SPARK = _pipe09(
    "", "CAST(conv({expr}, 16, 10) AS BIGINT)"
).replace("substr(fp", "substring(fp")
_PIPE09_DUCK = _pipe09(", 'g'", "(('0x' || {expr})::BIGINT)")


@query("pipe09_leakage_safe_split", oracle=_PIPE09_DUCK, tags=("pipeline", "split", "dedup"))
def pipe09_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split: the 90/5/5 coin is hashed from
    the dd02 normalization FINGERPRINT, so every exact/trivial near-dup
    cluster lands in one split by construction (no train→test leakage).
    Map-side assignment — the only shuffle is the cluster-size window on
    uniform 128-bit keys. See pipe15_neardup_safe_split for the stronger
    variant that co-assigns by full MinHash signature (catches tight
    NEAR-dups this exact-fingerprint split cannot) and ships a leak
    audit."""
    return _sql(spark, sf_dir, _PIPE09_SPARK)


# ---------------------------------------------------------------------------
# pipe10 — per-source dataset card (the datasheet aggregate)
# ---------------------------------------------------------------------------
# The summary table a corpus release ships ("Datasheets for Datasets",
# Gebru et al. 2018): per source — volume, token mass, exact-duplicate
# rate, language spread and the dominant language's share. This is the
# one-page answer to "what is in this source?" that mixing/curriculum
# decisions (pipe03/pipe08) consume.
#
# Scale shape: the giant text column is read and hashed ONCE — the Spark
# builder materializes the narrow (source, lang, fp, n_tokens) projection
# and both aggregates read the checkpoint (the inlined CTE form scanned
# documents and re-computed md5 twice, measured in the plan); both
# aggregates are map-side combined — the COUNT(DISTINCT fp) shuffles on
# the uniform md5 fingerprint, (source, lang) keys are bounded; the
# dominant-language window and the final join act on the |sources|x|langs|
# metadata-scale matrix. No explode — token counts are size(split()).

_PIPE10_PER_DOC = """
SELECT source, lang,
  md5(text)                       AS fp,
  {ntok}                          AS n_tokens
FROM documents
"""

_PIPE10 = """
WITH src_stats AS (
  SELECT source,
    COUNT(*)           AS n_docs,
    SUM(n_tokens)      AS total_tokens,
    COUNT(DISTINCT fp) AS n_unique
  FROM {per_doc} GROUP BY source
), lang_counts AS (
  SELECT source, lang, COUNT(*) AS n
  FROM {per_doc} GROUP BY source, lang
), lang_top AS (
  -- n_langs must be windowed BEFORE the rn=1 filter (a same-SELECT
  -- window would see only the surviving row and always return 1)
  SELECT source, lang AS top_lang, n AS top_lang_docs, n_langs
  FROM (
    SELECT source, lang, n,
      ROW_NUMBER() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rn,
      COUNT(*)    OVER (PARTITION BY source) AS n_langs
    FROM lang_counts
  ) r
  WHERE rn = 1
)
SELECT s.source,
  CAST(s.n_docs AS BIGINT)                                    AS n_docs,
  CAST(s.total_tokens AS BIGINT)                              AS n_tokens,
  CAST(ROUND(10.0 * s.total_tokens / s.n_docs) AS BIGINT)     AS mean_tokens_x10,
  CAST(s.n_docs - s.n_unique AS BIGINT)                       AS n_exact_dups,
  CAST(ROUND(1000.0 * (s.n_docs - s.n_unique) / s.n_docs) AS BIGINT)
                                                              AS dup_frac_x1000,
  CAST(t.n_langs AS BIGINT)                                   AS n_langs,
  t.top_lang,
  CAST(ROUND(1000.0 * t.top_lang_docs / s.n_docs) AS BIGINT)  AS top_lang_x1000
FROM src_stats s JOIN lang_top t ON s.source = t.source
"""

_PIPE10_PD_SPARK = _PIPE10_PER_DOC.format(
    ntok="size(filter(split(text, ' '), w -> w <> ''))"
)
_PIPE10_DUCK = _PIPE10.format(
    per_doc="("
    + _PIPE10_PER_DOC.format(
        ntok="len(list_filter(string_split(text, ' '), w -> w <> ''))"
    )
    + ")"
)


@query("pipe10_dataset_card", oracle=_PIPE10_DUCK, tags=("pipeline", "datasheet", "stats"))
def pipe10_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: volume, token mass, exact-dup rate
    (fingerprint-distinct), language spread and dominant-language share —
    the datasheet a corpus release ships and mixing decisions consume.
    The text column is read and hashed ONCE (narrow per-doc projection
    materialized); both aggregates are map-side combined; the ranking
    window and join run on the metadata-scale (source, lang) matrix."""
    from db_converter_spark.catalog import register_views

    register_views(spark, sf_dir)
    per_doc = checkpoint(spark.sql(_PIPE10_PD_SPARK), eager=True)
    return spark.sql(_PIPE10, per_doc=per_doc)


# ---------------------------------------------------------------------------
# pipe11 — context-length fit report (truncation / splitting / padding cost)
# ---------------------------------------------------------------------------
# The table a pretraining run reads before choosing max_seq_len: for each
# candidate context length L, what fraction of tokens is lost if every
# document is truncated at L, how many sequences does split-at-L produce,
# and how much padding does one-doc-per-sequence cost. pipe02 packs at a
# FIXED length; this operator is how that length gets picked.
#
# All ratios are x1000 BIGINTs. Ceil-division is spelled (n + L - 1) / L
# in INTEGER arithmetic (dialect DIV vs //); candidate lengths are powers
# of two so no float division appears anywhere.
#
# Scale shape: per-doc token counts are REAL model tokens — ONE word
# explode broadcast-joined to ta14's trained (word → n_sub) encode map,
# one doc-keyed aggregate (r8 verdict Next #6: max_seq_len is chosen in
# the unit the model trains on, not the whitespace proxy); the 4-row
# candidate-length relation fans out via a broadcast nested-loop join
# (bounded 4x multiplier, the Expand shape); the report is a bounded-key
# (L) aggregate, map-side combined.

_PIPE11 = """
{lead} doc_tokens AS (
  SELECT {hint}CAST(SUM(v.n_sub) AS BIGINT) AS n
  FROM (SELECT doc_id, {unnest} AS w FROM documents) d
  JOIN {vocab} v ON v.word = d.w
  WHERE d.w <> ''
  GROUP BY d.doc_id
), fit AS (
  SELECT L, n,
    CASE WHEN n > L THEN n - L ELSE 0 END AS truncated,
    (n + L - 1) {idiv} L                  AS n_seqs
  FROM doc_tokens
  CROSS JOIN (VALUES (64), (128), (256), (512)) lens(L)
)
SELECT CAST(L AS BIGINT) AS context_len,
  CAST(COUNT(*) AS BIGINT)                       AS n_docs,
  CAST(SUM(CASE WHEN n > L THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_over,
  CAST(SUM(n) AS BIGINT)                         AS n_tokens,
  CAST(SUM(truncated) AS BIGINT)                 AS n_tokens_truncated,
  CAST(ROUND(1000.0 * SUM(truncated) / SUM(n)) AS BIGINT)
                                                 AS trunc_loss_x1000,
  CAST(SUM(n_seqs) AS BIGINT)                    AS n_seqs_split,
  CAST(ROUND(1000.0 * (SUM(n_seqs) * L - SUM(n)) / (SUM(n_seqs) * L))
       AS BIGINT)                                AS pad_frac_split_x1000
FROM fit
GROUP BY L
"""

_PIPE11_SPARK = _PIPE11.format(
    lead="WITH",
    unnest="explode(split(text, ' '))",
    vocab="{vocab}",
    hint="/*+ BROADCAST(v) */ ",
    idiv="DIV",
)
_PIPE11_DUCK = (
    "WITH "
    + ", ".join(_ta14_duck_ctes())
    + ",\n"
    + _TA14_DUCK_VOCAB_CTE
    + ",\n"
    + _PIPE11.format(
        lead="", unnest="unnest(string_split(text, ' '))", vocab="vocab",
        hint="", idiv="//",
    )
)


@query("pipe11_context_fit", oracle=_PIPE11_DUCK, tags=("pipeline", "packing", "report"))
def pipe11_context_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length fit report: per candidate max_seq_len (64..512),
    token loss under truncate-at-L, sequence count under split-at-L, and
    the split padding cost — the table that picks the length pipe02 packs
    at, priced in ta14's real BPE subword tokens (one word explode +
    broadcast encode-map join), a bounded 4-row length fan-out, one
    bounded-key aggregate."""
    from db_converter_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_PIPE11_SPARK, vocab=ta14_vocab(spark)["vocab"])


# ---------------------------------------------------------------------------
# pipe12 — data-constrained epoch plan (repeat budgeting per source)
# ---------------------------------------------------------------------------
# The data-constrained scaling table (Muennighoff et al. 2023): given a
# token budget of 4x the corpus and the pipe03 mixture weights, how many
# epochs of each source does its target share require, how many target
# tokens are actually achievable under the ~4-epoch usefulness ceiling
# the paper measures (value of repeated data decays to ~0 past ~4
# epochs), and what shortfall remains — the table that says which
# sources need MORE DATA rather than more repeats.
#
# All arithmetic is 64-bit integer (targets via integer DIV, ceil as
# (n + d - 1) DIV d); the only ratio is the final x1000 shortfall.
#
# Scale shape: per-source token totals come STRAIGHT from ta14's serving
# artifacts — the (source, word, cnt) aggregate joined to the (word →
# n_sub) encode map, both vocab-bounded (r8 verdict Next #6: epoch budgets
# are planned in real model tokens, and unlike pipe06/pipe11 this needs
# no per-doc explode at all — source totals are Σ cnt·n_sub over the
# vocabulary); the weight table is an inline VALUES broadcast; totals are
# OVER () windows on the |sources|-row relation — nothing after ta14's
# one corpus scan touches corpus-scale data.

_PIPE12 = """
{lead} src AS (
  SELECT {hint}c.source, CAST(SUM(c.cnt * v.n_sub) AS BIGINT) AS toks
  FROM {swc} c JOIN {vocab} v ON v.word = c.word
  GROUP BY c.source
), planned AS (
  SELECT s.source, s.toks, w.keep_x1000 AS w_x1000,
    SUM(s.toks) OVER ()       AS total_toks,
    SUM(w.keep_x1000) OVER () AS sum_w
  FROM src s JOIN {values_table} ON s.source = w.wsource
), t AS (
  SELECT source, toks,
    (4 * total_toks * w_x1000) {idiv} sum_w AS tgt
  FROM planned
)
SELECT source,
  CAST(toks AS BIGINT)                          AS n_tokens,
  CAST(tgt AS BIGINT)                           AS target_tokens,
  CAST((tgt + toks - 1) {idiv} toks AS BIGINT)  AS epochs_needed,
  CAST(LEAST(tgt, 4 * toks) AS BIGINT)          AS effective_tokens,
  CAST(ROUND(1000.0 * (tgt - LEAST(tgt, 4 * toks)) / tgt) AS BIGINT)
                                                AS shortfall_x1000
FROM t
"""

_PIPE12_SPARK = _PIPE12.format(
    lead="WITH",
    swc="{swc}",
    vocab="{vocab}",
    hint="/*+ BROADCAST(v) */ ",
    values_table=f"(VALUES {_weight_values()}) AS w(wsource, keep_x1000)",
    idiv="DIV",
)
_PIPE12_DUCK = (
    "WITH "
    + ", ".join(_ta14_duck_ctes())
    + ",\n"
    + _TA14_DUCK_VOCAB_CTE
    + ",\n"
    + _PIPE12.format(
        lead="",
        swc="swc",
        vocab="vocab",
        hint="",
        values_table=f"(VALUES {_weight_values()}) w(wsource, keep_x1000)",
        idiv="//",
    )
)


@query("pipe12_epoch_plan", oracle=_PIPE12_DUCK, tags=("pipeline", "mixing", "report"))
def pipe12_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch plan: per source, the tokens its mixture
    share of a 4x-corpus budget demands, the epochs that requires, the
    achievable tokens under the ~4-epoch usefulness ceiling (Muennighoff
    et al. 2023) and the remaining shortfall — the repeat-vs-acquire
    table for mixture planning, priced in ta14's real BPE tokens via the
    vocab-bounded (source, word, cnt) ⋈ encode-map join; everything
    downstream is |sources|-row metadata."""
    from db_converter_spark.catalog import register_views

    register_views(spark, sf_dir)
    rels = ta14_vocab(spark)
    return spark.sql(_PIPE12_SPARK, swc=rels["swc"], vocab=rels["vocab"])


# ---------------------------------------------------------------------------
# pipe13 — DSIR-style importance resampling (hashed-feature selection)
# ---------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): fit hashed
# n-gram bag models on a TARGET domain (here: the lang='en' slice stands in
# for "looks like the high-quality target") and on the RAW corpus, weight
# each document by how target-like its features are, select the top of the
# weight distribution. Integer-exact fixed-point variant: each of the B=256
# hashed-unigram buckets gets an add-1-smoothed LINEAR likelihood ratio
#     w_b = ((ct_b + 1) << 20) DIV (cr_b + 1)        (target ⊆ raw ⇒ ≤ 2^20)
# and a document scores the count-weighted mean of its buckets' ratios.
# (DSIR proper sums LOG-ratios; the linear-domain fixed point keeps the
# score bit-identical across engines — float log sums are partition-order
# dependent — and is monotone per bucket. The constant (R+B)/(T+B)
# normalization is dropped: it rescales every document identically, so
# selection is unchanged.)
#
# Scale shape: ONE corpus pass builds the (doc, bucket) feature table
# (explode → count, map-side combined, uniform md5 keys); it is
# MATERIALIZED once because both the bucket-stats aggregate and the scoring
# join read it (Spark inlines multiply-referenced CTEs — the ta07 lesson).
# Bucket stats collapse to B=256 rows and re-join the feature table as a
# BROADCAST; the only corpus-scale shuffles are the two uniform-key
# aggregates. Top-N is TakeOrderedAndProject — no global sort. At 2^63
# token scale the w_b product needs DECIMAL(38,0); BIGINT holds to ~8e12
# target tokens (documented, asserted nowhere near here).

_PIPE13_B = 256  # hashed-feature buckets
_PIPE13_TOPN = 400


def _pipe13_feat(unnest: str, bucket: str) -> str:
    """(doc_id, lang, bucket) → count: one explode + one uniform-key agg."""
    return f"""
SELECT doc_id, lang, {bucket.format(expr="w")} AS b, CAST(COUNT(*) AS BIGINT) AS c
FROM (SELECT doc_id, lang, {unnest} AS w FROM documents) words
GROUP BY doc_id, lang, {bucket.format(expr="w")}
"""


def _pipe13_main(feat: str, idiv: str, hint: str, lead: str = "WITH") -> str:
    # ``lead``: "WITH" for a standalone statement, "," when the caller has
    # already opened a WITH chain (the DuckDB oracle prepends its feat CTE) —
    # a parameter instead of post-hoc string surgery on the rendered SQL,
    # which would silently malform the oracle if the spliced literal drifted.
    # _q20 columns are fixed-point at 2^20 (a ratio of 1.0 scores 1048576).
    return f"""
{lead} stats AS (
  SELECT b,
    CAST(SUM(c) AS BIGINT) AS cr,
    CAST(SUM(CASE WHEN lang = 'en' THEN c ELSE 0 END) AS BIGINT) AS ct
  FROM {feat}
  GROUP BY b
), w AS (
  SELECT b, ((ct + 1) * {1 << 20}) {idiv} (cr + 1) AS w_q20
  FROM stats
), scored AS (
  SELECT {hint} f.doc_id, f.lang,
    CAST(SUM(f.c) AS BIGINT) AS n_tokens,
    CAST(SUM(f.c * w.w_q20) AS BIGINT) AS raw_score
  FROM {feat} f JOIN w ON f.b = w.b
  GROUP BY f.doc_id, f.lang
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
  n_tokens,
  CAST(raw_score {idiv} n_tokens AS BIGINT) AS dsir_score_q20
FROM scored
ORDER BY dsir_score_q20 DESC, doc_id
LIMIT {_PIPE13_TOPN}
"""


_PIPE13_FEAT_SPARK = _pipe13_feat(
    "explode(filter(split(text, ' '), x -> x <> ''))",
    f"CAST(conv(substring(md5({{expr}}), 1, 8), 16, 10) AS BIGINT) % {_PIPE13_B}",
)
_PIPE13_FEAT_DUCK = _pipe13_feat(
    "unnest(list_filter(string_split(text, ' '), x -> x <> ''))",
    f"(('0x' || substr(md5({{expr}}), 1, 8))::BIGINT % {_PIPE13_B})",
)
_PIPE13_DUCK = f"WITH feat AS ({_PIPE13_FEAT_DUCK})" + _pipe13_main(
    "feat", "//", "", lead=","
)


@query(
    "pipe13_importance_resample",
    oracle=_PIPE13_DUCK,
    tags=("pipeline", "selection", "dsir"),
)
def pipe13_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023): hashed-unigram
    bag models for the target domain (the 'en' slice) vs the raw corpus,
    add-1-smoothed per-bucket likelihood ratios in fixed point, documents
    ranked by count-weighted mean ratio, top-N selected. ONE corpus pass
    builds the materialized (doc, bucket) feature table; bucket stats are
    256 rows broadcast back over it; top-N is TakeOrderedAndProject. The
    linear-domain fixed-point score keeps Spark and DuckDB bit-identical
    (float log-ratio sums are partition-order dependent)."""
    register_views(spark, sf_dir)
    feat = checkpoint(spark.sql(_PIPE13_FEAT_SPARK), eager=True)
    return spark.sql(_pipe13_main("{feat}", "DIV", "/*+ BROADCAST(w) */"), feat=feat)


# ---------------------------------------------------------------------------
# pipe14 — UniMax budget waterfill (Chung et al. 2023, "UniMax: Fairer and
# More Effective Language Sampling for Large-Scale Multilingual Pretraining")
# ---------------------------------------------------------------------------
# pipe03 mixes by a FIXED weight config and pipe12 plans epochs from a fixed
# mixture share; UniMax derives the mixture FROM the data: allocate a token
# budget as uniformly as possible across sources, subject to a per-source
# epoch cap C (no source repeats more than C times). The classic waterfill:
# sort sources by capacity c_i = tokens_i * C ascending; source i is capped
# iff c_i * (k - i + 1) <= B - sum(c_j, j < i) (its cap fits under the
# current water line); every uncapped source splits the leftover budget
# equally. The synthetic sources are near-uniform in size, so capacities are
# scaled by a deterministic 1 + md5(source) % 8 plant (the ta13/pii01
# pattern) to exercise both branches.
#
# Scale shape: ONE corpus scan for the per-source token counts (array-domain
# word count, bounded-key aggregate); everything after runs on the <=
# n_sources-row relation — the rank/cumsum window is bounded by design. At
# 100 TB the scan is the only distributed stage; the waterfill itself is
# metadata arithmetic.

_PIPE14_EPOCH_CAP = 4      # UniMax N=4: the Muennighoff-consistent repeat cap
_PIPE14_BUDGET_MULT = 2.0  # budget = 2x total corpus tokens


def _pipe14_lim(split_fn: str, filter_fn: str, len_fn: str, md5_i32: str) -> str:
    """The per-source capacity relation — the ONE corpus-scale stage.
    Spark MATERIALIZES it (n_sources rows): the tail references it from
    two chains (tot, ord) and Catalyst CTE inlining would re-run the
    corpus scan for each (measured: 4 parquet scans single-statement)."""
    h = md5_i32.format(expr="source")
    return f"""
WITH toks AS (
  SELECT source,
    SUM({len_fn}({filter_fn}({split_fn}(text, ' '), x -> x <> ''))) AS raw_tokens
  FROM documents GROUP BY source
), caps AS (
  SELECT source, raw_tokens * (1 + {h} % 8) AS cap_tokens FROM toks
)
SELECT source, cap_tokens, cap_tokens * {_PIPE14_EPOCH_CAP} AS c FROM caps
"""


def _pipe14_tail(lim_src: str, lead: str = "WITH") -> str:
    return f"""
{lead} tot AS (
  SELECT SUM(cap_tokens) * {_PIPE14_BUDGET_MULT} AS b, COUNT(*) AS k FROM {lim_src}
), ord AS (
  SELECT source, cap_tokens, c,
    ROW_NUMBER() OVER (ORDER BY c, source) AS i,
    COALESCE(SUM(c) OVER (ORDER BY c, source
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
  FROM {lim_src}
), flags AS (
  SELECT o.source, o.cap_tokens, o.c, t.b, t.k,
    CASE WHEN CAST(o.c AS DOUBLE) * (t.k - o.i + 1) <= t.b - o.cum_prev
         THEN 1 ELSE 0 END AS capped
  FROM ord o CROSS JOIN tot t
), agg AS (
  SELECT SUM(CASE WHEN capped = 1 THEN c ELSE 0 END) AS capped_sum,
         SUM(capped) AS n_capped
  FROM flags
)
SELECT f.source,
  CAST(f.cap_tokens AS BIGINT) AS cap_tokens,
  CAST(f.c AS BIGINT) AS max_tokens,
  CAST(f.capped AS BIGINT) AS capped,
  ROUND(CASE WHEN f.capped = 1 THEN CAST(f.c AS DOUBLE)
        ELSE (f.b - a.capped_sum) / (f.k - a.n_capped) END, 4) AS alloc_tokens,
  ROUND(CASE WHEN f.capped = 1 THEN CAST(f.c AS DOUBLE)
        ELSE (f.b - a.capped_sum) / (f.k - a.n_capped) END / f.cap_tokens, 6) AS epochs
FROM flags f CROSS JOIN agg a
"""


_PIPE14_LIM_SPARK = _pipe14_lim(
    "split", "filter", "size",
    "CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)",
)
_PIPE14_TAIL_SPARK = _pipe14_tail("{lim}")
_PIPE14_DUCK = (
    "WITH lim AS ("
    + _pipe14_lim(
        "string_split", "list_filter", "length",
        "(('0x' || substr(md5({expr}), 1, 8))::BIGINT)",
    )
    + ")"
    + _pipe14_tail("lim", lead=",")
)


@query("pipe14_unimax_waterfill", oracle=_PIPE14_DUCK, tags=("pipeline", "mixture", "unimax"))
def pipe14_unimax_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget waterfill (Chung et al. 2023): allocate a 2x-corpus
    token budget as uniformly as possible across sources under a 4-epoch
    per-source cap — capped sources pin at cap_tokens*4, the rest split the
    leftover equally (allocations sum exactly to the budget). Capacities
    carry a deterministic md5-derived 1..8x plant so both waterfill
    branches fire on the near-uniform synthetic corpus. ONE corpus scan
    (the n_sources-row capacity relation is materialized once — CTE
    inlining re-scanned parquet 4x in the single-statement form); the
    waterfill is a rank+cumsum window over the bounded source relation."""
    register_views(spark, sf_dir)
    lim = checkpoint(spark.sql(_PIPE14_LIM_SPARK), eager=True)
    return spark.sql(_PIPE14_TAIL_SPARK, lim=lim)


# ---------------------------------------------------------------------------
# pipe15 — NEAR-dup-safe train/val split (MinHash clusters never straddle)
# ---------------------------------------------------------------------------
# The split step every training-data build runs LAST and most builds get
# wrong: hashing doc_id sends near-duplicate documents to BOTH sides, so
# the validation set contains (near-)copies of training documents and the
# eval is contaminated. The fix is to split on a CLUSTER key, not a doc
# key: here the full 8-permutation MinHash signature (dd03's exact
# machinery, single-scan, array-domain) — signature-identical documents
# (exact dups and tight near-dups) co-assign by construction. The report
# carries its own audit: leaked_clusters under the signature split is zero
# BY CONSTRUCTION (split is a pure function of the cluster key), and the
# naive_would_leak column quantifies what a doc_id-hash split would have
# contaminated on the same corpus.
#
# Scale shape: per-row shingle→minhash (no shuffle, codegen'd — dd03's
# cost class), ONE uniform shuffle on the 128-bit cluster key, then a
# 2-row split rollup. The 90/10 coin is an md5 hash of the cluster key —
# deterministic across engines and runs (the pipe03/pipe07 hash-coin
# rule: never rand()).

def _pipe15(shingles: str, md5_i60: str, min_fn: str, mix: str,
            ntok: str, coin_ck: str, coin_doc: str) -> str:
    from db_converter_spark.operators.dedup import MERSENNE61, MINHASH_PERMS, _U32

    transform_fn = "transform" if min_fn == "array_min" else "list_transform"
    h = md5_i60.format(expr="s")
    mins = ",\n    ".join(
        f"{min_fn}({transform_fn}(hs, h -> ({a} * (({mix.format(r=r)}) % {_U32})"
        f" + {b}) % {MERSENNE61})) AS h{j}"
        for j, (a, b, r) in enumerate(MINHASH_PERMS)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id, source, {ntok} AS n_tok,
         {transform_fn}({shingles}, s -> {h}) AS hs
  FROM documents
), sig AS (
  SELECT doc_id, source, n_tok,
    {mins}
  FROM hashed
), clustered AS (
  SELECT doc_id, source, n_tok,
         md5(concat_ws('|', h0, h1, h2, h3, h4, h5, h6, h7)) AS ck
  FROM sig
), assigned AS (
  SELECT doc_id, source, n_tok, ck,
    CASE WHEN {coin_ck} % 10 < 9 THEN 'train' ELSE 'val' END AS split,
    CASE WHEN {coin_doc} % 10 < 9 THEN 'train' ELSE 'val' END AS naive_split
  FROM clustered
), clusters AS (
  SELECT ck,
    MIN(split) AS split,
    COUNT(*) AS n_docs,
    SUM(n_tok) AS n_tok,
    COUNT(DISTINCT split) AS n_splits,
    COUNT(DISTINCT naive_split) AS n_naive_splits
  FROM assigned GROUP BY ck
)
SELECT split,
  CAST(COUNT(*) AS BIGINT)    AS n_clusters,
  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT)  AS n_tokens,
  CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS leaked_clusters,
  CAST(SUM(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS naive_would_leak
FROM clusters GROUP BY split
"""


def _pipe15_spark() -> str:
    from db_converter_spark.operators.dedup import _SHINGLES_SPARK

    i32 = "CAST(conv(substring(md5({x}), 1, 8), 16, 10) AS BIGINT)"
    return _pipe15(
        _SHINGLES_SPARK,
        "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)",
        "array_min",
        "h ^ shiftright(h, {r})",
        "size(filter(split(text, ' '), w -> w <> ''))",
        i32.format(x="ck"),
        i32.format(x="CAST(doc_id AS STRING)"),
    )


def _pipe15_duck() -> str:
    from db_converter_spark.operators.dedup import _SHINGLES_DUCK

    i32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"
    return _pipe15(
        _SHINGLES_DUCK,
        "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)",
        "list_min",
        "xor(h, h >> {r})",
        "len(list_filter(string_split(text, ' '), w -> w <> ''))",
        i32.format(x="ck"),
        i32.format(x="doc_id::VARCHAR"),
    )


_PIPE15_SPARK = _pipe15_spark()
_PIPE15_DUCK = _pipe15_duck()


@query("pipe15_neardup_safe_split", oracle=_PIPE15_DUCK, tags=("pipeline", "split", "dedup"))
def pipe15_neardup_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-safe train/val split — the stronger sibling of
    pipe09_leakage_safe_split: where pipe09 co-assigns by dd02's EXACT
    normalization fingerprint, this co-assigns by the full 8-permutation
    MinHash-signature cluster (exact + tight near-dups can never straddle
    the split), with a built-in audit — leaked_clusters is zero by
    construction and naive_would_leak counts the clusters a doc_id-hash
    split WOULD have contaminated on this corpus. Per-row signatures, ONE
    uniform cluster-key shuffle, 2-row rollup (no reference analog;
    SURVEY §6 extension — the split step of the C4/RefinedWeb recipe)."""
    return _sql(spark, sf_dir, _PIPE15_SPARK)
