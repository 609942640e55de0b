"""Deduplication operators over the ``documents`` table — the LLM-data-
pipeline extensions (north-star BASELINE.json): exact, normalized-
fingerprint, MinHash signatures, MinHash-LSH banding, n-gram Jaccard, and
SimHash.

Scale notes (100 TB design stance):
- Exact/normalized dedup is a hash-groupBy — one shuffle on the digest,
  map-side partial aggregation, no skew (md5 is uniform).
- MinHash signatures are computed per-document in the array domain
  (``transform``/``aggregate`` over shingles) — NO explode, NO shuffle until
  the final tiny aggregate; scales linearly and stays in whole-stage codegen.
- LSH banding shuffles once on (band, bucket-key) — the classic way to avoid
  the O(n²) pairwise join at scale. The brute-force inverted-index Jaccard
  (dd05) is the *correctness* baseline; at 100 TB you run dd04's banding to
  get candidates and only then compute exact Jaccard on candidates.
- All hashes are md5-derived (portable to the DuckDB oracle bit-for-bit;
  see functions/hashing.py). The reference identifies work the same way —
  md5 of the action SQL (reference: dbccore/dbccore.py:941-951).
"""

from __future__ import annotations

from pyspark import Broadcast, StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_converter_spark.catalog import load_table, register_views
from db_converter_spark.registry import checkpoint, query, scoped_conf

# serialized big-checkpoint storage level, shared by every corpus-scale
# localCheckpoint in this module (same constant as similarity._BIG_CKPT_LEVEL:
# deserialized object rows pinned whole relations in the 16 GB-decade heap)
_BIG_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

# 8 minhash "permutations": (a, b, r). Each permutes the 60-bit base hash h
# via an xor-shift mix THEN an affine map:
#     v_j = (a_j * ((h ^ (h >> r_j)) % 2^32) + b_j) % (2^61 - 1)
# The xor-shift (distinct r per permutation) is what makes the argmin differ
# across permutations — a bare affine map a*h+b with a*h < 2^61 never wraps
# the modulus, stays monotonic in h, and would pick the SAME min shingle for
# every permutation (degenerate signature: 8 affine copies of one value).
MINHASH_PERMS = (
    (1000003, 12345, 7),
    (999983, 54321, 13),
    (1000033, 98765, 17),
    (1000037, 13579, 23),
    (1000039, 24680, 29),
    (1000081, 11111, 31),
    (1000099, 22222, 37),
    (1000117, 33333, 41),
)
MERSENNE61 = (1 << 61) - 1
_U32 = 1 << 32

# --- shared SQL fragments, written in the dialect intersection ------------

# 5-char shingle arrays (guarded so short docs still yield one shingle)
_SHINGLES_SPARK = "transform(sequence(1, greatest(length(text) - 4, 1)), i -> substring(text, i, 5))"
_SHINGLES_DUCK = "[substring(text, i, 5) for i in generate_series(1, greatest(length(text) - 4, 1))]"


def _minhash_sig_sql(shingles_expr: str, md5_i60: str, min_fn: str, mix: str) -> str:
    """Signature query: md5-hash every shingle ONCE to a 60-bit int (md5 is
    the expensive part), then 8 cheap mixed-affine permutations over the
    hashed array. ``min_fn``: array_min (Spark) / list_min (DuckDB);
    ``mix``: engine spelling of ``h ^ (h >> r)`` with ``{r}`` placeholder."""
    transform_fn = "transform" if min_fn == "array_min" else "list_transform"
    h = md5_i60.format(expr="s")
    cols = ",\n  ".join(
        f"{min_fn}({transform_fn}(hs, h -> ({a} * (({mix.format(r=r)}) % {_U32}) + {b}) % {MERSENNE61})) AS h{j}"
        for j, (a, b, r) in enumerate(MINHASH_PERMS)
    )
    return f"""
WITH hashed AS (
  SELECT doc_id, {transform_fn}({shingles_expr}, s -> {h}) AS hs FROM documents
)
SELECT doc_id,
  {cols}
FROM hashed
"""


def _spark_md5_i32(expr: str) -> str:
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def _duck_md5_i32(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def _sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(stmt)


# ---------------------------------------------------------------------------
# dd01 — exact dedup
# ---------------------------------------------------------------------------

_DD01 = """
WITH hashed AS (
  SELECT doc_id, md5(text) AS digest FROM documents
), groups AS (
  SELECT digest, COUNT(*) AS n FROM hashed GROUP BY digest
)
SELECT
  CAST(COUNT(*) AS BIGINT)                                   AS n_groups,
  CAST(SUM(n) AS BIGINT)                                     AS n_docs,
  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)     AS n_dup_groups,
  CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)     AS n_docs_in_dup_groups,
  CAST(SUM(n - 1) AS BIGINT)                                 AS n_removable
FROM groups
"""


@query("dd01_dedup_exact", oracle=_DD01, tags=("dedup", "exact"))
def dd01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5-digest hash-groupBy. At scale: single uniform shuffle
    on the digest; keep-one semantics = min(doc_id) per group."""
    return _sql(spark, sf_dir, _DD01)


# ---------------------------------------------------------------------------
# dd02 — normalized fingerprint dedup
# ---------------------------------------------------------------------------

def _dd02(re_g: str) -> str:
    # re_g: DuckDB regexp_replace is first-match-only without 'g'; Spark
    # always replaces all, so the oracle variant passes ", 'g'".
    return f"""
WITH normed AS (
  SELECT source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''{re_g}), ' +', ' '{re_g})))
           AS fp
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT)          AS n_docs,
  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
FROM normed GROUP BY source
"""


_DD02_BODY = _dd02("")
_DD02_DUCK = _dd02(", 'g'")


@query("dd02_norm_fingerprint", oracle=_DD02_DUCK, tags=("dedup", "fingerprint"))
def dd02_norm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-then-hash dedup (lowercase, strip non-alnum, collapse
    whitespace → md5) — catches trivial near-dups exact hashing misses."""
    return _sql(spark, sf_dir, _DD02_BODY)


# ---------------------------------------------------------------------------
# dd03 — MinHash signatures (array-domain, no explode)
# ---------------------------------------------------------------------------

_DD03_SPARK = _minhash_sig_sql(
    _SHINGLES_SPARK,
    "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)",
    "array_min",
    "h ^ shiftright(h, {r})",
)
_DD03_DUCK = _minhash_sig_sql(
    _SHINGLES_DUCK,
    "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)",
    "list_min",
    "xor(h, h >> {r})",
)


@query("dd03_minhash_signatures", oracle=_DD03_DUCK, tags=("dedup", "minhash"))
def dd03_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-permutation MinHash signature per document, computed entirely in the
    array domain (shingle → hash → array_min via transform) — per-row work,
    zero shuffle, codegen'd. The LSH step (dd04) builds on these."""
    return _sql(spark, sf_dir, _DD03_SPARK)


# ---------------------------------------------------------------------------
# dd04 — MinHash-LSH banding
# ---------------------------------------------------------------------------


def _dd04_tail() -> str:
    return """
buckets AS (
  SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY band, bkey
)
SELECT CAST(band AS BIGINT) AS band,
  CAST(COUNT(*) AS BIGINT)                   AS n_buckets,
  CAST(MAX(n) AS BIGINT)                     AS max_bucket,
  CAST(SUM(n * (n - 1) / 2) AS BIGINT)       AS candidate_pairs
FROM buckets GROUP BY band
"""


def _dd04_spark(sig_sql: str) -> str:
    # ONE pass over sig: all 4 band keys as an array + posexplode. The
    # UNION-ALL formulation re-evaluates the (expensive, md5-heavy) inlined
    # signature CTE once per band — 4× the work for identical output.
    keys = ",\n    ".join(
        f"md5(concat(CAST(h{2*b} AS STRING), ',', CAST(h{2*b+1} AS STRING)))"
        for b in range(4)
    )
    return f"""
WITH sig AS ({sig_sql}),
bands AS (
  SELECT posexplode(array(
    {keys}
  )) AS (band, bkey) FROM sig
),
{_dd04_tail()}"""


def _dd04_duck(sig_sql: str) -> str:
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat(CAST(h{2*b} AS VARCHAR), ',', CAST(h{2*b+1} AS VARCHAR))) AS bkey FROM sig"
        for b in range(4)
    )
    return f"""
WITH sig AS ({sig_sql}),
bands AS ({bands}),
{_dd04_tail()}"""


_DD04_SPARK = _dd04_spark(_DD03_SPARK)
_DD04_DUCK = _dd04_duck(_DD03_DUCK)


@query("dd04_minhash_lsh_bands", oracle=_DD04_DUCK, tags=("dedup", "minhash", "lsh"))
def dd04_minhash_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding (4 bands × 2 rows): shingle→minhash→band→bucket.
    The single shuffle is on (band, bucket-key) — uniform md5 keys, no skew.
    This is THE scale path for near-dup at 100 TB: candidate pairs come from
    shared buckets (sum n·(n-1)/2 here), never from an O(n²) cross join."""
    return _sql(spark, sf_dir, _DD04_SPARK)


# ---------------------------------------------------------------------------
# dd05 — n-gram Jaccard (inverted-index, correctness baseline)
# ---------------------------------------------------------------------------


def _dd05() -> str:
    return """
WITH doc_sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT doc_id, {unnest} AS sh FROM documents
    WHERE doc_id % 10 = 0 AND doc_id < 5000
  ) t
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM doc_sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
  FROM doc_sh a JOIN doc_sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT da, db, common,
         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS j
  FROM pairs
  JOIN sizes sa ON sa.doc_id = da
  JOIN sizes sb ON sb.doc_id = db
)
SELECT
  CAST(COUNT(*) AS BIGINT)                                  AS n_candidate_pairs,
  CAST(SUM(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_03,
  CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_05,
  ROUND(MAX(j), 4)                                          AS max_jaccard
FROM jac
"""


_DD05_DUCK = _dd05().format(unnest=f"unnest({_SHINGLES_DUCK})")

_DD05_DOCSH_SPARK = f"""
SELECT DISTINCT doc_id, sh
FROM (SELECT doc_id, explode({_SHINGLES_SPARK}) AS sh
      FROM documents WHERE doc_id % 10 = 0 AND doc_id < 5000) t
"""

_DD05_TAIL_SPARK = """
WITH sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM {doc_sh} GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
  FROM {doc_sh} a JOIN {doc_sh} b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), jac AS (
  SELECT /*+ BROADCAST(sa, sb) */ da, db, common,
         CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) AS j
  FROM pairs
  JOIN sizes sa ON sa.doc_id = da
  JOIN sizes sb ON sb.doc_id = db
)
SELECT
  CAST(COUNT(*) AS BIGINT)                                  AS n_candidate_pairs,
  CAST(SUM(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_03,
  CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_05,
  ROUND(MAX(j), 4)                                          AS max_jaccard
FROM jac
"""


@query("dd05_ngram_jaccard", oracle=_DD05_DUCK, tags=("dedup", "jaccard"))
def dd05_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard over an inverted-index self-join — exact
    near-dup ground truth, run on a deterministic ABSOLUTELY-BOUNDED
    sample (doc_id%10=0 AND doc_id<5000 → ≤500 docs at ANY corpus size;
    a proportional sample would keep the O(n²) pair space growing with
    the corpus). Exact all-pairs Jaccard is intrinsically O(n²) when the
    corpus shares vocabulary; the production path at 100 TB is dd04 (LSH
    banding) for candidates + this exact measure on candidates/samples
    only.

    The sampled shingle table is materialized once (localCheckpoint): the
    CTE form re-ran the explode+DISTINCT for each of its three references
    (both self-join sides + the size table)."""
    register_views(spark, sf_dir)
    doc_sh = checkpoint(spark.sql(_DD05_DOCSH_SPARK), eager=True)
    return spark.sql(_DD05_TAIL_SPARK, doc_sh=doc_sh)


# ---------------------------------------------------------------------------
# dd06 — SimHash
# ---------------------------------------------------------------------------


def _dd06(md5_i32_fmt, intdiv: str, transform_fn: str, filter_fn: str, len_fn: str,
          sum_expr_fmt: str, split_expr: str, bits_list: str) -> str:
    # Array-domain simhash: hash every word once, then for each bit position
    # count set-bit words (filter) — sign of 2·count−n is the bit. No explode,
    # no shuffle; one pass of md5 + 32 arithmetic passes, all per-row.
    h = md5_i32_fmt("w")
    bit = (
        f"CASE WHEN 2 * {len_fn}({filter_fn}(hs, h -> (h {intdiv} CAST(pow(2, j) AS BIGINT)) % 2 = 1)) "
        f"> {len_fn}(hs) THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END"
    )
    return f"""
WITH hashed AS (
  SELECT doc_id,
    {transform_fn}({filter_fn}({split_expr}, w -> w <> ''), w -> {h}) AS hs
  FROM documents
)
SELECT doc_id,
  CAST({sum_expr_fmt.format(items=bits_list.format(bit=bit))} AS BIGINT) AS simhash
FROM hashed
"""


_DD06_SPARK = _dd06(
    _spark_md5_i32, "div", "transform", "filter", "size",
    "aggregate({items}, 0L, (acc, x) -> acc + x)",
    "split(text, ' ')",
    "transform(sequence(0, 31), j -> {bit})",
)
_DD06_DUCK = _dd06(
    _duck_md5_i32, "//", "list_transform", "list_filter", "length",
    "list_sum({items})",
    "string_split(text, ' ')",
    "[{bit} for j in generate_series(0, 31)]",
)


@query("dd06_simhash", oracle=_DD06_DUCK, tags=("dedup", "simhash"))
def dd06_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: per-token md5-derived hash, ±1 vote per
    bit position, sign → bit. Near-dups then group by simhash (or small
    hamming radius via 4-chunk pigeonhole — same banding trick as LSH)."""
    return _sql(spark, sf_dir, _DD06_SPARK)

# ---------------------------------------------------------------------------
# dd07 — embedding-cosine near-dup (LSH-candidates + exact rerank)
# ---------------------------------------------------------------------------


def _dd07_spark() -> str:
    from db_converter_spark.operators.similarity import _ss02_spark_bucket_expr

    bucket = _ss02_spark_bucket_expr()
    return f"""
WITH v AS (
  SELECT vec_id, embedding, sequence(1, size(embedding)) AS idx FROM embeddings
), b AS (
  SELECT vec_id, embedding,
    CAST({bucket} AS BIGINT) AS bucket,
    sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                   0.0D, (acc, x) -> acc + x)) AS nrm
  FROM v
), pairs AS (
  SELECT a.vec_id AS va, c.vec_id AS vb,
    ROUND(
      aggregate(zip_with(a.embedding, c.embedding,
                         (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                0.0D, (acc, x) -> acc + x) / (a.nrm * c.nrm), 6) AS sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT
  CAST(COUNT(*) AS BIGINT)                                    AS n_candidate_pairs,
  CAST(SUM(CASE WHEN sim >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_099,
  CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_095,
  CAST(SUM(CASE WHEN sim >= 0.90 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_090,
  ROUND(MAX(sim), 6)                                           AS max_sim
FROM pairs
"""


def _dd07_duck() -> str:
    from db_converter_spark.operators.similarity import _ss02_duck_bucket_expr

    bucket = _ss02_duck_bucket_expr()
    return f"""
WITH v AS (
  SELECT vec_id, embedding,
    [CAST(g AS INT) for g in generate_series(1, len(embedding))] AS idx
  FROM embeddings
), b AS (
  SELECT vec_id, embedding, idx,
    CAST({bucket} AS BIGINT) AS bucket,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM v
), pairs AS (
  SELECT a.vec_id AS va, c.vec_id AS vb,
    ROUND(
      list_sum(list_transform(a.idx,
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
      / (a.nrm * c.nrm), 6) AS sim
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)
SELECT
  CAST(COUNT(*) AS BIGINT)                                    AS n_candidate_pairs,
  CAST(SUM(CASE WHEN sim >= 0.99 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_099,
  CAST(SUM(CASE WHEN sim >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_095,
  CAST(SUM(CASE WHEN sim >= 0.90 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge_090,
  ROUND(MAX(sim), 6)                                           AS max_sim
FROM pairs
"""


@query("dd07_embedding_neardup", oracle=_dd07_duck(), tags=("dedup", "embedding", "ann"))
def dd07_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, production shape: candidates come from an
    equality self-join on the random-hyperplane LSH bucket (ss02's
    signature — a plain shuffle join on a 6-bit key, NEVER an O(n²) cross
    join), then exact double-precision cosine reranks candidates against
    thresholds. At 100 TB the bucket column is precomputed and the table
    clustered by it, so the self-join is co-partitioned."""
    return _sql(spark, sf_dir, _dd07_spark())


# ---------------------------------------------------------------------------
# dd08 — near-dup cluster assignment (connected components over LSH pairs)
# ---------------------------------------------------------------------------
# Banding (dd04) only COUNTS candidate pairs; a real dedup pipeline must
# assign every document to a duplicate CLUSTER (keep min-id, drop the rest).
# Clusters = connected components of the "shares an LSH bucket" graph.
# Scale design: edges are STAR edges (doc → min-doc of its bucket), linear
# in bucket size — never the O(k²) within-bucket pair expansion.


def _dd08_bands_spark() -> str:
    keys = ",\n    ".join(
        f"md5(concat(CAST(h{2*b} AS STRING), ',', CAST(h{2*b+1} AS STRING)))"
        for b in range(4)
    )
    return f"""
WITH sig AS ({_DD03_SPARK}),
bands AS (
  SELECT doc_id, band, bkey FROM sig
  LATERAL VIEW posexplode(array(
    {keys}
  )) t AS band, bkey
),
star AS (
  SELECT doc_id AS src, MIN(doc_id) OVER (PARTITION BY band, bkey) AS dst
  FROM bands
)
SELECT DISTINCT src, dst FROM star WHERE src <> dst
"""


def _dd08_duck(tail: str = "") -> str:
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band, md5(concat(CAST(h{2*b} AS VARCHAR), ',', CAST(h{2*b+1} AS VARCHAR))) AS bkey FROM sig"
        for b in range(4)
    )
    tail = tail or """
SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM comp GROUP BY comp_id HAVING COUNT(*) >= 2"""
    return f"""
WITH RECURSIVE sig AS ({_DD03_DUCK}),
bands AS ({bands}),
star AS (
  SELECT doc_id AS src, MIN(doc_id) OVER (PARTITION BY band, bkey) AS dst
  FROM bands
),
edges AS (SELECT DISTINCT src, dst FROM star WHERE src <> dst),
sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
reach(doc_id, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.doc_id
),
comp AS (SELECT doc_id, MIN(label) AS comp_id FROM reach GROUP BY doc_id){tail}
"""


def _min_label_components(sym: DataFrame, max_rounds: int = 50) -> tuple[DataFrame, int]:
    """Min-label propagation with per-round POINTER JUMPING over a
    symmetrized edge list ``(src, dst)`` → (labels ``(doc_id, label)``,
    rounds run).

    Each round does (a) the one-hop propagate (join on src + min-agg on
    doc_id) and (b) a two-hop shortcut: follow each doc's label to THAT
    doc's current label (labels always satisfy label(x) ≤ x, so every
    label value is itself a doc with a row — the join is total). The
    shortcut doubles the effective propagation distance per round, so
    rounds drop from graph diameter to ~log₂(diameter) — the public
    pointer-doubling/hash-to-min trick (Rastogi et al. 2013, "Finding
    Connected Components in Map-Reduce"), the difference between 50
    synchronization barriers and ~6 on a chain-shaped component (pinned
    by tests/test_plan_shapes.py::test_pointer_jump_rounds_logarithmic).

    Convergence probe: labels only ever DECREASE, so the label sum is a
    strictly-decreasing checksum until fixpoint — equal sums ⟺ no label
    moved; one map-side-combined aggregate per round instead of a
    join+filter+count. decimal(38,0): a 100 TB corpus sums ~1e12 64-bit
    ids, past BIGINT. ``localCheckpoint`` cuts lineage per round — on a
    production cluster use a reliable checkpoint dir."""
    # Every localCheckpoint here is LAZY (eager=False) and the convergence
    # checksum is collected immediately after — the checksum's full-scan
    # aggregate is the action that materializes the checkpoint, so each
    # round costs ONE job instead of a checkpoint job + a checksum job (the
    # barrier and the probe share a pass).
    labels = checkpoint(
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        eager=False,
    )
    checksum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("label").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = checksum(labels)
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        prop = sym.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "label")
        hop = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        ptr = hop.select(
            F.col("doc_id").alias("_pid"), F.col("label").alias("_plabel")
        )
        new = checkpoint(
            hop.join(ptr, hop["label"] == ptr["_pid"])
            .select("doc_id", F.least("label", "_plabel").alias("label")),
            eager=False,
        )
        new_sum = checksum(new)
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels, rounds


@query("dd08_neardup_components", oracle=_dd08_duck(), tags=("dedup", "lsh", "graph"))
def dd08_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the MinHash-LSH
    bucket graph via min-label propagation with pointer jumping (see
    ``_min_label_components`` — rounds ≈ log₂(diameter), not diameter).
    Oracle = DuckDB recursive-CTE transitive closure of the same graph.

    NOTE: this is the component PRIMITIVE over raw (unverified) bucket
    candidates — on a skew-shingled corpus min-hash ties make that graph
    one giant component (4998/5000 docs at sf0.1), which is precisely why
    a shipping pipeline clusters AFTER verification: dd13 runs these same
    components over dd10's exact-Jaccard-verified pairs."""
    register_views(spark, sf_dir)
    # materialize the edge list BEFORE symmetrizing: union references the
    # edges lineage twice, so without this the md5-heavy MinHash banding
    # pipeline executes twice inside the first job
    edges = checkpoint(spark.sql(_dd08_bands_spark()), eager=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels, _ = _min_label_components(sym)
    sym.unpersist()
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select(F.col("label").alias("comp_id"), "n_docs")
    )


# ---------------------------------------------------------------------------
# dd09 — cross-document span dedup (exact-substring dedup approximation)
# ---------------------------------------------------------------------------
# The C4/RefinedWeb "remove spans duplicated across documents" component:
# documents are chopped into consecutive non-overlapping 8-token spans, each
# span is hashed, span frequencies are counted across the WHOLE corpus, and
# every document gets its duplicated-span fraction (the signal the pipeline
# thresholds on). Suffix-automaton exactness is out of scope — fixed-width
# spans are the standard MapReduce-able approximation.
#
# Scale shape: explode is linear (spans ~ tokens/8); ONE shuffle for the
# span-frequency aggregate and ONE for the join back on the span hash —
# uniform 128-bit keys both times. This is exactly the two-pass shape the
# published pipelines run at trillion-token scale.

_DD09_SPARK = """
WITH spans AS (
  -- split() hoisted OUT of the lambda: inlined it re-splits the full text
  -- once per span (O(words^2) per doc on long documents)
  SELECT doc_id,
         explode(transform(
           sequence(0, size(w) div 8 - 1),
           i -> md5(array_join(slice(w, i * 8 + 1, 8), ' '))
         )) AS h
  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) d
  WHERE size(w) >= 8
), freq AS (
  SELECT h, COUNT(*) AS cnt FROM spans GROUP BY h
)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT)                                    AS n_spans,
  CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)  AS n_dup_spans,
  CAST(ROUND(1000.0 * SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) / COUNT(*))
       AS BIGINT)                                             AS dup_frac_x1000
FROM spans s JOIN freq f ON s.h = f.h
GROUP BY s.doc_id
"""

_DD09_DUCK = """
WITH spans AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, len(w) // 8),
           i -> md5(array_to_string(w[i * 8 + 1 : i * 8 + 8], ' '))
         )) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
  WHERE len(w) >= 8
), freq AS (
  SELECT h, COUNT(*) AS cnt FROM spans GROUP BY h
)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT)                                    AS n_spans,
  CAST(SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)  AS n_dup_spans,
  CAST(ROUND(1000.0 * SUM(CASE WHEN f.cnt > 1 THEN 1 ELSE 0 END) / COUNT(*))
       AS BIGINT)                                             AS dup_frac_x1000
FROM spans s JOIN freq f ON s.h = f.h
GROUP BY s.doc_id
"""


@query("dd09_span_dedup", oracle=_DD09_DUCK, tags=("dedup", "span"))
def dd09_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fraction per document (8-token
    non-overlapping spans, corpus-wide frequency): the exact-substring
    dedup signal of the public C4/RefinedWeb pipelines."""
    return _sql(spark, sf_dir, _DD09_SPARK)


# ---------------------------------------------------------------------------
# dd12 — exact-substring duplicated-run detection (suffix-window variant)
# ---------------------------------------------------------------------------

_DD12_W = 20  # window width in tokens (Lee et al. threshold 50 BPE tokens;
              # 20 here because the corpus docs are 10-99 words — the
              # algorithm is width-invariant)


def _dd12_wins(split_fn: str, explode_expr: str, slice_join: str, len_fn: str) -> str:
    """The (doc_id, i, h) window-hash table — stride-1 {W}-token window
    hashes. The Spark one-pass form consumes it exactly once (the window
    COUNT replaced the old freq-aggregate + mark-join pair that forced a
    localCheckpoint); the DuckDB oracle keeps the original join shape."""
    return f"""
SELECT doc_id, CAST(i AS BIGINT) AS i, {slice_join} AS h
FROM (SELECT doc_id, w, {explode_expr} AS i
      FROM (SELECT doc_id, {split_fn}(text, ' ') AS w FROM documents) toks
      WHERE {len_fn}(w) >= {_DD12_W}) t
"""


def _dd12(wins: str) -> str:
    # Overlapping stride-1 W-token windows: a duplicated substring of
    # >= W tokens exists IFF some W-token window hash repeats corpus-wide
    # (md5 collisions negligible). Consecutive duplicated windows merge
    # into maximal runs via gaps-and-islands; a run of r windows covers
    # r + W - 1 tokens. (Oracle-side template: DuckDB runs this original
    # join shape; Spark runs _DD12_SPARK_ONEPASS, same semantics.)
    return f"""
WITH wins AS (
  SELECT * FROM {wins}
), freq AS (
  SELECT h, COUNT(*) AS c FROM wins GROUP BY h
), marked AS (
  SELECT w.doc_id, w.i, (f.c > 1) AS dup
  FROM wins w JOIN freq f ON f.h = w.h
), runs AS (
  SELECT doc_id, i,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
  FROM marked WHERE dup
), runagg AS (
  SELECT doc_id, grp, COUNT(*) AS run_wins
  FROM runs GROUP BY doc_id, grp
), perdoc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
  FROM marked GROUP BY doc_id
)
SELECT p.doc_id, p.n_windows, p.n_dup_windows,
  CAST(COALESCE(COUNT(r.grp), 0) AS BIGINT)                 AS n_dup_runs,
  CAST(COALESCE(MAX(r.run_wins), 0) AS BIGINT)              AS max_run_windows,
  CAST(COALESCE(SUM(r.run_wins + {_DD12_W} - 1), 0) AS BIGINT) AS est_dup_tokens
FROM perdoc p LEFT JOIN runagg r ON r.doc_id = p.doc_id
GROUP BY p.doc_id, p.n_windows, p.n_dup_windows
"""


_DD12_WINS_SPARK = _dd12_wins(
    "split",
    f"explode(sequence(0, size(w) - {_DD12_W}))",
    # unhex(md5(..)): the SAME 128-bit identity as the oracle's md5 string
    # but as a FIXED 16-byte binary — half the shuffle/sort key bytes of
    # the 32-char hex form at identical collision odds (64-bit hashes are
    # NOT enough here: the frequency test is corpus-wide, and at 100 TB
    # ~1e13 windows make 64-bit collisions certain).
    f"unhex(md5(array_join(slice(w, CAST(i AS INT) + 1, {_DD12_W}), ' ')))",
    "size",
)
_DD12_WINS_DUCK = _dd12_wins(
    "string_split",
    f"UNNEST(range(0, len(w) - {_DD12_W - 1}))",
    f"md5(array_to_string(w[CAST(i AS INT) + 1 : CAST(i AS INT) + {_DD12_W}], ' '))",
    "len",
)

# Spark execution: ONE PASS, ZERO JOINS, ZERO CHECKPOINTS. Materializing
# the full (doc, i, h) window table (to feed both a corpus-wide GROUP BY h
# and a mark-join back onto itself) pins blocks that, with the hash-key
# aggregate and the h-keyed sort-merge join, absorb ~72 GB mem + 27 GB
# disk spill at sf100 on a 16 GB heap. Every stage below is a sort-based exchange/window/aggregate that spills
# incrementally, and the window relation is consumed exactly once so
# nothing is pinned:
#   1. dup flag   = COUNT(*) OVER (PARTITION BY h) > 1   — replaces the
#      freq aggregate AND the mark-join (same shuffle volume as either).
#   2. islands    = i - ROW_NUMBER() OVER (PARTITION BY doc_id, dup
#      ORDER BY i) — gaps-and-islands grouped per doc; non-dup rows get
#      grp NULL and collapse into one bucket per doc.
#   3. two hash aggregates (doc, grp) -> (doc) roll the run lengths and
#      per-doc totals up without the old perdoc ⋈ runagg join.
_DD12_SPARK_ONEPASS = f"""
WITH marked AS (
  SELECT doc_id, i,
         (COUNT(*) OVER (PARTITION BY h) > 1) AS dup
  FROM ({_DD12_WINS_SPARK}) wins
), islands AS (
  SELECT doc_id, dup,
         CASE WHEN dup
              THEN i - ROW_NUMBER() OVER (PARTITION BY doc_id, dup ORDER BY i)
         END AS grp
  FROM marked
), groups AS (
  SELECT doc_id, grp, COUNT(*) AS cnt
  FROM islands GROUP BY doc_id, grp
)
SELECT doc_id,
  CAST(SUM(cnt) AS BIGINT) AS n_windows,
  CAST(COALESCE(SUM(CASE WHEN grp IS NOT NULL THEN cnt END), 0) AS BIGINT)
    AS n_dup_windows,
  CAST(COUNT(grp) AS BIGINT) AS n_dup_runs,
  CAST(COALESCE(MAX(CASE WHEN grp IS NOT NULL THEN cnt END), 0) AS BIGINT)
    AS max_run_windows,
  CAST(COALESCE(SUM(CASE WHEN grp IS NOT NULL THEN cnt + {_DD12_W} - 1 END), 0)
       AS BIGINT) AS est_dup_tokens
FROM groups GROUP BY doc_id
"""

_DD12_DUCK = _dd12(f"({_DD12_WINS_DUCK})")


@query("dd12_dup_substring_runs", oracle=_DD12_DUCK, tags=("dedup", "span", "substring"))
def dd12_dup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the suffix-window approximation of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): detect MAXIMAL duplicated token runs of >= W tokens per
    document — the component RefinedWeb/C4 actually threshold on —
    via overlapping stride-1 W-token window hashes + corpus-wide
    frequency + gaps-and-islands run merging. Per doc: window counts,
    duplicated-window count, merged run count, longest run, and the
    estimated duplicated-token total (r + W - 1 per r-window run).

    Scale shape: the explode is linear (windows ≈ tokens); the duplicate
    flag is a window COUNT over the fixed 16-byte window hash (one
    exchange + external sort, spills incrementally — a freq-aggregate +
    mark-join pair over a checkpointed window table would hold ~72 GB
    mem + 27 GB disk at sf100/16 GB); the run merge is a window PARTITIONED by doc — no
    global order, no joins, nothing pinned. Hash cost is W× the corpus
    bytes; at 100 TB you'd swap md5 of the joined slice for a rolling
    (Rabin-Karp) hash computed in one pass — same plan shape, cheaper
    map stage."""
    return _sql(spark, sf_dir, _DD12_SPARK_ONEPASS)


# ---------------------------------------------------------------------------
# dc01 — benchmark decontamination (n-gram overlap vs a held-out set)
# ---------------------------------------------------------------------------
# The published test-set decontamination pass (GPT-3 App. C / PaLM / Llama):
# hash every SLIDING n-gram of every training document, build the distinct
# n-gram set of the benchmark corpus, and flag training docs sharing any
# gram. Here the "benchmark" is the deterministic doc_id % 97 slice so the
# result is oracle-checkable.
#
# Scale shape: the benchmark gram set is small by construction (benchmarks
# are ~1e5 docs, not 1e10) → broadcast hash join against the exploded
# training grams: ONE pass over the corpus, no shuffle of the big side
# (Spark's planner broadcasts the DISTINCT-aggregated bench side; at larger
# benchmark sizes swap in a bloom filter via F.expr("might_contain(...)")).

# the bench slice and the training leg each explode their OWN grams with
# the doc_id filter pushed to the scan: Spark re-executes a CTE per
# reference, so one shared `g` CTE referenced twice would run the full
# corpus explode+md5 twice
_DC01_SPARK = """
WITH bench AS (
  SELECT DISTINCT explode(transform(
           sequence(0, size(w) - 5),
           i -> md5(array_join(slice(w, i + 1, 5), ' '))
         )) AS h
  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents
        WHERE doc_id % 97 = 0) d
  WHERE size(w) >= 5
), g AS (
  -- split() hoisted out of the lambda (O(words^2) per doc inlined)
  SELECT doc_id, explode(transform(
           sequence(0, size(w) - 5),
           i -> md5(array_join(slice(w, i + 1, 5), ' '))
         )) AS h
  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents
        WHERE doc_id % 97 <> 0) d
  WHERE size(w) >= 5
)
SELECT g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated
FROM g LEFT JOIN bench b ON g.h = b.h
GROUP BY g.doc_id
HAVING SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0
"""

_DC01_DUCK = """
WITH bench AS (
  SELECT DISTINCT unnest(list_transform(
           range(0, len(w) - 4),
           i -> md5(array_to_string(w[i + 1 : i + 5], ' '))
         )) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 97 = 0) d
  WHERE len(w) >= 5
), g AS (
  SELECT doc_id, unnest(list_transform(
           range(0, len(w) - 4),
           i -> md5(array_to_string(w[i + 1 : i + 5], ' '))
         )) AS h
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id % 97 <> 0) d
  WHERE len(w) >= 5
)
SELECT g.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_grams,
  CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_contaminated
FROM g LEFT JOIN bench b ON g.h = b.h
GROUP BY g.doc_id
HAVING SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0
"""


@query("dc01_decontaminate", oracle=_DC01_DUCK, tags=("dedup", "decontamination"))
def dc01_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag training docs sharing any sliding
    5-gram with the benchmark slice (doc_id % 97), reporting per-doc gram
    and contaminated-gram counts — the standard pre-training hygiene pass
    (no reference analog; SURVEY §6 extension)."""
    return _sql(spark, sf_dir, _DC01_SPARK)


# ---------------------------------------------------------------------------
# dc02 — pairwise source-overlap matrix (inter-source duplication audit)
# ---------------------------------------------------------------------------


def _dc02(gram_explode: str, split_fn: str, len_fn: str) -> str:
    # DISTINCT per (source, gram) FIRST: the pair join then runs on the
    # source-level vocabulary (bounded by distinct grams × n_sources),
    # never the raw occurrence stream — and the output is 190 rows for
    # 20 sources regardless of corpus size.
    return f"""
WITH grams AS (
  SELECT DISTINCT source, {gram_explode} AS h
  FROM (SELECT source, {split_fn}(text, ' ') AS w FROM documents) d
  WHERE {len_fn}(w) >= 5
), szs AS (
  SELECT source, COUNT(*) AS n FROM grams GROUP BY source
), pairs AS (
  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
  FROM grams a JOIN grams b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT p.sa, p.sb,
  CAST(p.shared AS BIGINT)                                   AS shared_grams,
  CAST(za.n AS BIGINT)                                       AS grams_a,
  CAST(zb.n AS BIGINT)                                       AS grams_b,
  CAST(ROUND(1000.0 * p.shared / LEAST(za.n, zb.n)) AS BIGINT)
                                                             AS containment_x1000
FROM pairs p
JOIN szs za ON za.source = p.sa
JOIN szs zb ON zb.source = p.sb
"""


_DC02_SPARK = _dc02(
    "explode(transform(sequence(1, size(w) - 4), i -> md5(array_join(slice(w, i, 5), ' '))))",
    "split",
    "size",
)
_DC02_DUCK = _dc02(
    "unnest(list_transform(range(1, len(w) - 3), i -> md5(array_to_string(w[i : i + 4], ' '))))",
    "string_split",
    "len",
)


@query("dc02_source_overlap", oracle=_DC02_DUCK, tags=("dedup", "decontamination", "mixing"))
def dc02_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix: word-5-gram containment between
    every pair of corpus sources — the inter-source duplication audit
    behind data-mixing decisions (two crawls of the same sites, a subset
    re-released under a new name, a benchmark hiding inside a source;
    the cross-SOURCE generalization of dc01's corpus-vs-benchmark
    check). Output: shared gram counts + containment (shared/min) per
    source pair, 190 rows for 20 sources at any corpus size.

    Scale shape: DISTINCT (source, gram) first — one uniform-key
    shuffle bounds everything after to the source-level vocabulary; the
    pair join is a hash join on the 128-bit gram key (uniform, no skew)
    whose output collapses map-side to ≤ C(n_sources, 2) rows. No
    all-pairs document work anywhere — but EXACT set intersection is
    inherently linear in distinct grams (measured 108× at 100× data,
    with no plan flips). The 100 TB deployment runs
    the mergeable-sketch variant for the recurring audit (per-source
    MinHash/HLL over the same gram stream — the ta05 machinery — one
    pass, unions instead of joins) and keeps this exact form for
    slice-level audits where the counts must be exact."""
    return _sql(spark, sf_dir, _DC02_SPARK)


# ---------------------------------------------------------------------------
# dc05 — SKETCHED source-overlap (the 100 TB deployment path dc02 names)
# ---------------------------------------------------------------------------
# dc02 is exact-by-definition and therefore linear in DISTINCT GRAMS — its
# pair join streams every shared gram occurrence (measured 108× at 100×
# data). dc05 is the recurring-audit form dc02's
# docstring promises: ONE pass over the same distinct (source, gram) stream
# builds a per-source bottom-k (KMV) MinHash sketch — tiny, mergeable
# partial-aggregate state — and every pairwise estimate is then computed on
# the ≤ n_sources-row sketch relation with NO gram-keyed pair join at all.
#
# Estimator (Bar-Yossef et al. 2002; Beyer et al. 2007 — the classic
# k-minimum-values coincidence estimator): with h uniform over the md5
# domain, the k smallest hashes of A ∪ B are a uniform size-k sample of
# the union, so  Ĵ = |bottomk(A∪B) ∩ A ∩ B| / |bottomk(A∪B)|  is a
# consistent Jaccard estimator with RSE ≈ sqrt(J(1−J)/k).  bottomk(A∪B)
# is computable FROM THE SKETCHES alone (the k smallest of the merged
# bottom-k lists), which is what makes the state mergeable. Intersection
# and containment derive integer-exactly:  Î = m·(|A|+|B|) DIV (uk+m)
# (from J = I/(|A|+|B|−I)), containment = Î / min(|A|,|B|). Everything is
# deterministic given md5, so the DuckDB oracle computes the IDENTICAL
# estimate and the row hashes must match bit-for-bit; dc05's accuracy vs
# the exact dc02 matrix is asserted separately (tests/test_r7_ops.py:
# every pair within the documented ε at k=512).
#
# Scale shape: the only corpus-scale stages are the dc02 gram DISTINCT
# (unavoidable for exact per-source cardinalities, one uniform-key
# shuffle) and a (source, shard)-keyed bottom-k window — 16 uniform
# md5-suffix shards per source keep every sort partition-local and
# balanced, and the global bottom-k of a union is always contained in the
# union of per-shard bottom-ks, so two bounded levels reproduce the exact
# sketch. After that: ≤ n_sources rows × 512 hashes (~16 KB/source),
# pair-joined broadcast. At 100 TB the sketches are the only state that
# moves; re-audits union stored sketches instead of re-scanning.

_DC05_K = 512  # sketch size: RSE(J) ≈ sqrt(J(1-J)/512) ≤ 2.2%; the
# containment derivation amplifies by (|A|+|B|)/min — ε = 0.1 asserted


def _dc05_grams(gram_explode: str, split_fn: str, len_fn: str) -> str:
    """The dc02 distinct (source, gram) stream — the ONE corpus-scale
    relation; everything downstream is sketch-sized."""
    return f"""
  SELECT DISTINCT source, {gram_explode} AS h
  FROM (SELECT source, {split_fn}(text, ' ') AS w FROM documents) d
  WHERE {len_fn}(w) >= 5
"""


def _dc05_tail(
    sk_src: str, szs_src: str, merge_k: str, inter2: str, card: str, lead: str = "WITH"
) -> str:
    """Pairwise estimation over the sketch relation only. ``merge_k``:
    k-smallest of two merged sketch lists; ``inter2``: three-way list
    intersection count; ``card``: list length; ``lead``: "WITH" standalone,
    "," when the caller already opened a WITH chain."""
    return f"""
{lead} est AS (
  SELECT a.source AS sa, b.source AS sb,
    za.n AS na, zb.n AS nb,
    {merge_k} AS uks,
    a.ks AS aks, b.ks AS bks
  FROM {sk_src} a JOIN {sk_src} b ON a.source < b.source
  JOIN {szs_src} za ON za.source = a.source
  JOIN {szs_src} zb ON zb.source = b.source
), scored AS (
  SELECT sa, sb, na, nb,
    {card.format(x="uks")} AS uk,
    {inter2} AS m
  FROM est
)
SELECT sa, sb,
  CAST(na AS BIGINT) AS grams_a,
  CAST(nb AS BIGINT) AS grams_b,
  CAST(uk AS BIGINT) AS union_k,
  CAST(m AS BIGINT)  AS sketch_matches,
  CAST(CASE WHEN uk = 0 THEN 0 ELSE (1000 * m) {{div}} uk END AS BIGINT)
    AS jaccard_est_x1000,
  CAST(CASE WHEN uk + m = 0 THEN 0
       ELSE (m * (na + nb)) {{div}} (uk + m) END AS BIGINT)
    AS intersection_est,
  CAST(CASE WHEN uk + m = 0 THEN 0
       ELSE (1000 * ((m * (na + nb)) {{div}} (uk + m)))
            {{div}} (CASE WHEN na < nb THEN na ELSE nb END) END AS BIGINT)
    AS containment_est_x1000
FROM scored
"""


# Spark bottom-k: two bounded levels — ROW_NUMBER per (source, 16-way
# md5-suffix shard) keeps every sort local and uniform (a single
# per-source partition would funnel the whole distinct-gram stream of a
# source through one task; Spark pushes the rn <= k filter down as
# partial+final WindowGroupLimit, so only k rows per shard ever sort
# fully), then the ≤ 16·k survivors collapse to the exact global
# bottom-k in one tiny per-source aggregate.
_DC05_GRAMS_SPARK = _dc05_grams(
    "explode(transform(sequence(1, size(w) - 4), i -> md5(array_join(slice(w, i, 5), ' '))))",
    "split",
    "size",
)

_DC05_SK_SPARK = f"""
  SELECT source, slice(array_sort(collect_list(h)), 1, {_DC05_K}) AS ks
  FROM (
    SELECT source, h,
      ROW_NUMBER() OVER (
        PARTITION BY source, substring(h, 32, 1) ORDER BY h
      ) AS rn
    FROM {{grams}}
  ) t
  WHERE rn <= {_DC05_K}
  GROUP BY source
"""

_DC05_SZS_SPARK = "SELECT source, COUNT(*) AS n FROM {grams} GROUP BY source"

_DC05_TAIL_SPARK = _dc05_tail(
    "{{sk}}",
    "{{szs}}",
    f"slice(array_sort(array_distinct(concat(a.ks, b.ks))), 1, {_DC05_K})",
    "size(array_intersect(array_intersect(uks, aks), bks))",
    "size({x})",
).format(div="DIV")

# DuckDB bottom-k: the ordered-list aggregate sliced to k — the
# single-level exact form of the same sketch (fine at oracle scale; the
# oracle runs the whole chain as ONE statement).
_DC05_DUCK = (
    "WITH grams AS ("
    + _dc05_grams(
        "unnest(list_transform(range(1, len(w) - 3), i -> md5(array_to_string(w[i : i + 4], ' '))))",
        "string_split",
        "len",
    )
    + "), szs AS (\n  SELECT source, COUNT(*) AS n FROM grams GROUP BY source\n), sk AS (\n"
    + f"  SELECT source, (list(h ORDER BY h))[1:{_DC05_K}] AS ks FROM grams GROUP BY source\n)"
    + _dc05_tail(
        "sk",
        "szs",
        f"list_sort(list_distinct(list_concat(a.ks, b.ks)))[1:{_DC05_K}]",
        "len(list_intersect(list_intersect(uks, aks), bks))",
        "len({x})",
        lead=",",
    ).format(div="//")
)


@query("dc05_sketched_overlap", oracle=_DC05_DUCK, tags=("dedup", "decontamination", "sketch", "mixing"))
def dc05_sketched_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketched pairwise source-overlap: per-source bottom-512 KMV MinHash
    sketches over dc02's word-5-gram stream (one pass, mergeable state),
    pairwise Jaccard / intersection / containment estimated entirely from
    the ≤ n_sources-row sketch relation — the recurring-audit deployment
    form of dc02, whose exact pair join is linear in shared grams. The
    estimator is deterministic given md5 (KMV coincidence counting,
    integer-exact division), so the oracle computes the identical values;
    accuracy vs the exact dc02 matrix is asserted at ε = 0.1 on every
    pair (tests/test_r7_ops.py).

    The distinct (source, gram) stream is materialized ONCE (serialized
    MEMORY_AND_DISK — the ss07 lesson) and both tiny derivations (sketch,
    cardinalities) read the checkpoint: Catalyst inlines WITH bodies, so
    the single-statement form scanned the corpus 4x."""
    register_views(spark, sf_dir)
    grams = checkpoint(spark.sql(_DC05_GRAMS_SPARK), eager=True, storage_level=_BIG_CKPT_LEVEL)
    sk = checkpoint(spark.sql(_DC05_SK_SPARK, grams=grams), eager=True)
    szs = checkpoint(spark.sql(_DC05_SZS_SPARK, grams=grams), eager=True)
    return spark.sql(_DC05_TAIL_SPARK, sk=sk, szs=szs)


# ---------------------------------------------------------------------------
# dd10 — LSH-candidates + exact-Jaccard verify (the production near-dup path)
# ---------------------------------------------------------------------------
# dd05 is the exact all-pairs baseline (O(n²)-family, 10% sample by design);
# dd04 is the LSH candidate generator. dd10 composes them the way a 100 TB
# pipeline actually runs: bucket-join candidates from the LSH bands, then
# compute EXACT character-5-gram Jaccard only on candidate pairs. Work is
# O(candidates), not O(n²): the shingle join is restricted to candidate
# documents (semi join) and the pair filter broadcasts (candidate set is
# tiny relative to the corpus by LSH design).


# agreement pre-gate: a banded pair already agrees on its band's 4 hashes;
# requiring >= 5 of 8 costs one check of signatures ALREADY computed and
# drops the single-band random collisions whose other 4 hashes disagree —
# E[agree] = 8j, so the gate centers the candidate set on the j >= 0.8
# verify threshold (precision-first, same spelling in both dialects)
_DD10_AGREE = " + ".join(
    f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(8)
)
_DD10_MIN_AGREE = 5


def _dd10_band_ctes(
    sig_source: str, guard_window: bool = False, emit_agree: bool = False
) -> str:
    """CTE chain from a ``sig`` relation (``sig_source``) to the gated
    candidate set ``cand`` — dialect-neutral except for the band-key
    spelling handled by the callers.

    ``guard_window`` (Spark side): the mega-bucket
    guard's bucket size becomes COUNT(*) OVER (PARTITION BY band, bkey)
    instead of the bsize aggregate + self-join — identical sizes and
    surviving rows, but the ``bands`` posexplode/md5 chain is evaluated
    HALF as often (Catalyst inlines CTEs per reference: the join form
    expands bands 4x under cand0's self-join — 2x per bands_ok branch —
    the window form 2x) and the aggregate's extra exchange disappears.

    ``emit_agree`` (Spark side): ``cand`` carries the ≥5-of-8
    agreement count it already computes in its gate, so dd16's
    calibration tail reads it from the materialized candidates instead
    of re-joining the signature table twice. The DuckDB oracles keep the
    original text for both (defaults False)."""
    agree_col = f", ({_DD10_AGREE}) AS n_agree" if emit_agree else ""
    if guard_window:
        guard = """
bands_ok AS (
  -- mega-bucket guard: a bucket of n docs mints n(n-1)/2 pairs; buckets
  -- past the cap are low-information collisions (standard LSH practice:
  -- drop or sub-sample them) — the verify stage stays O(candidates).
  -- Bucket size via a window over the same pass (r12)
  SELECT doc_id, band, bkey FROM (
    SELECT doc_id, band, bkey, COUNT(*) OVER (PARTITION BY band, bkey) AS n
    FROM bands
  ) g WHERE n <= 100
),"""
    else:
        guard = """
bsize AS (
  SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY band, bkey
),
bands_ok AS (
  -- mega-bucket guard: a bucket of n docs mints n(n-1)/2 pairs; buckets
  -- past the cap are low-information collisions (standard LSH practice:
  -- drop or sub-sample them) — the verify stage stays O(candidates)
  SELECT b.doc_id, b.band, b.bkey
  FROM bands b JOIN bsize s ON b.band = s.band AND b.bkey = s.bkey
  WHERE s.n <= 100
),"""
    return f"""{guard}
cand0 AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
cand AS (
  SELECT c.da, c.db{agree_col}
  FROM cand0 c
  JOIN {sig_source} sa ON sa.doc_id = c.da
  JOIN {sig_source} sb ON sb.doc_id = c.db
  WHERE ({_DD10_AGREE}) >= {_DD10_MIN_AGREE}
)"""


# dd10 shingles on WORD 5-grams, not dd03/dd05's character 5-grams: the
# published MinHash dedup pipelines (C4 / Gopher / RefinedWeb) shingle on
# word/token n-grams, and char-grams cost ~one md5 per CHARACTER of corpus
# (~6x the hashing of word-grams for the same signal on prose)
# reps: exact-dedup FIRST (one representative per distinct text): k
# identical docs would otherwise share every band bucket and mint
# k(k-1)/2 candidate pairs each — the classic LSH blow-up. Real pipelines
# always run exact dedup before MinHash; at 100 TB group on md5(text).
# shingle exprs reference a pre-split `w` column: split() inlined in the
# transform lambda re-splits the full text once per shingle (O(words^2)
# per doc on long documents)
_DD10_WORDSH_W_SPARK = (
    "transform(sequence(1, greatest(size(w) - 4, 1)),"
    " i -> array_join(slice(w, i, 5), ' '))"
)
_DD10_WORDSH_W_DUCK = (
    "[array_to_string(w[i : i + 4], ' ')"
    " for i in generate_series(1, greatest(len(w) - 4, 1))]"
)

_DD10_SIG_SPARK = (
    "WITH reps AS (SELECT MIN(doc_id) AS doc_id, text FROM documents"
    " GROUP BY text),\nsig AS ("
    + _minhash_sig_sql(
        _DD10_WORDSH_W_SPARK,
        "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)",
        "array_min",
        "h ^ shiftright(h, {r})",
    ).replace(
        "FROM documents",
        "FROM (SELECT doc_id, split(text, ' ') AS w FROM reps) r",
    )
    + ")\nSELECT * FROM sig"
)
_DD10_SIG_DUCK = _minhash_sig_sql(
    _DD10_WORDSH_W_DUCK,
    "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)",
    "list_min",
    "xor(h, h >> {r})",
).replace(
    "FROM documents",
    "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) r",
)

# 2 bands x 4 hashes (vs dd04's recall-first 4x2): the verify stage wants
# PRECISION — collision prob j^4 per band keeps the candidate set small
# enough that exact Jaccard stays cheap
_DD10_BAND_KEYS_SPARK = ",\n    ".join(
    "md5(concat("
    + ", ',', ".join(f"CAST(h{4*b+i} AS STRING)" for i in range(4))
    + "))"
    for b in range(2)
)

_DD10_CAND_SPARK = f"""
WITH bands AS (
  SELECT doc_id, band, bkey FROM {{sig}}
  LATERAL VIEW posexplode(array(
    {_DD10_BAND_KEYS_SPARK}
  )) t AS band, bkey
),{_dd10_band_ctes("{sig}", guard_window=True, emit_agree=True)}
SELECT da, db, n_agree FROM cand
"""

_DD10_DOCSH_SPARK = f"""
SELECT DISTINCT doc_id, sh
FROM (
  SELECT d.doc_id, explode({_DD10_WORDSH_W_SPARK}) AS sh
  FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) d
  JOIN (SELECT da AS doc_id FROM {{cand}}
        UNION SELECT db FROM {{cand}}) c
    ON c.doc_id = d.doc_id
) t
"""


def _dd10_jac_ctes(cand: str, doc_sh: str, hints: bool = False) -> str:
    """The ``sizes``/``common``/``jac`` CTE chain (per-candidate exact
    Jaccard) — shared by dd10's verify aggregate and dd13's
    verified-edge components."""
    # Spark-side: the materialized candidate/size relations are TINY by LSH
    # design but checkpointed RDDs carry no stats, so without hints every
    # tail join plans as SortMergeJoin (8 needless exchanges measured);
    # BROADCAST hints restore the small-side-broadcast shape. The DuckDB
    # oracle gets the hint-free text.
    h_common = "/*+ BROADCAST(c) */ " if hints else ""
    h_jac = "/*+ BROADCAST(m, sa, sb) */ " if hints else ""
    return f"""
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM {doc_sh} GROUP BY doc_id
), common AS (
  SELECT {h_common}c.da, c.db, COUNT(*) AS common
  FROM {cand} c
  JOIN {doc_sh} x ON x.doc_id = c.da
  JOIN {doc_sh} y ON y.doc_id = c.db AND y.sh = x.sh
  GROUP BY c.da, c.db
), jac AS (
  SELECT {h_jac}c.da, c.db,
         CAST(coalesce(m.common, 0) AS DOUBLE)
           / (sa.sz + sb.sz - coalesce(m.common, 0)) AS j
  FROM {cand} c
  LEFT JOIN common m ON m.da = c.da AND m.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
)"""


def _dd10_verify_tail(cand: str, doc_sh: str, hints: bool = False) -> str:
    return (
        _dd10_jac_ctes(cand, doc_sh, hints)
        + """
SELECT
  CAST(COUNT(*) AS BIGINT)                                  AS n_candidate_pairs,
  CAST(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_05,
  CAST(SUM(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_08,
  ROUND(MAX(j), 4)                                          AS max_jaccard,
  ROUND(AVG(j), 4)                                          AS avg_jaccard
FROM jac
"""
    )


_DD10_TAIL_SPARK = "WITH " + _dd10_verify_tail("{cand}", "{doc_sh}", hints=True)


def _dd10_duck() -> str:
    branches = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band,"
        " md5(concat("
        + ", ',', ".join(f"CAST(h{4*b+i} AS VARCHAR)" for i in range(4))
        + ")) AS bkey FROM sig"
        for b in range(2)
    )
    sig = _DD10_SIG_DUCK.replace("FROM documents", "FROM reps")
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
sig AS ({sig}),
bands AS (
  {branches}
),{_dd10_band_ctes("sig")},
cdocs AS (
  SELECT da AS doc_id FROM cand UNION SELECT db FROM cand
), doc_sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT d.doc_id, unnest({_DD10_WORDSH_W_DUCK}) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
    JOIN cdocs c ON c.doc_id = d.doc_id
  ) t
),{_dd10_verify_tail("cand", "doc_sh")}
"""


_DD10_DUCK = _dd10_duck()


@query("dd10_lsh_jaccard_verify", oracle=_DD10_DUCK, tags=("dedup", "lsh", "jaccard"))
def dd10_lsh_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup composition: MinHash-LSH band buckets over WORD
    5-gram shingles generate candidate pairs (dd04's shape on the shingle
    domain the published pipelines use), a >= 5-of-8 signature-agreement
    gate drops single-band random collisions for free (the hashes are
    already computed), and exact word-5-gram Jaccard verifies ONLY the
    gated candidates — O(candidates) total work versus dd05's O(n²)
    all-pairs baseline. This is the shape the published MinHash dedup
    pipelines run at trillion-token scale.

    The three expensive intermediates (MinHash signatures, the candidate
    set, candidate-doc shingles) are each referenced several times by the
    verify tail; Spark re-executes a CTE per reference, so each is
    materialized ONCE via localCheckpoint and the tail joins the
    materialized results — signatures are computed exactly once per run
    (the un-materialized form recomputes them ~4x)."""
    return spark.sql(_DD10_TAIL_SPARK, **_dd10_prepare(spark, sf_dir))


def _dd10_prepare(
    spark: SparkSession, sf_dir: str, with_doc_sh: bool = True
) -> dict[str, DataFrame]:
    """Materialize dd10's three expensive intermediates (signatures,
    gated candidates, candidate-doc shingles), keyed by their SQL slot
    names ``sig``/``cand``/``doc_sh`` — shared by dd10's verify aggregate
    and dd13's verified-edge components. dd15 passes
    ``with_doc_sh=False``: it scores against its own corpus-wide inverted
    index, so the candidate-restricted shingle table would be wasted
    work."""
    register_views(spark, sf_dir)
    sig = checkpoint(spark.sql(_DD10_SIG_SPARK), eager=True)
    cand = checkpoint(spark.sql(_DD10_CAND_SPARK, sig=sig), eager=True)
    out = {"sig": sig, "cand": cand}
    if with_doc_sh:
        out["doc_sh"] = checkpoint(spark.sql(_DD10_DOCSH_SPARK, cand=cand), eager=True)
    return out


# ---------------------------------------------------------------------------
# dd11 — keep-best dedup (representative selection, not first-occurrence)
# ---------------------------------------------------------------------------


def _dd11(re_replace: str) -> str:
    # C4 keeps the LONGEST member of a duplicate group (Raffel et al. 2020
    # §2.2 dedups on 3-sentence spans keeping one occurrence; production
    # pipelines keep the highest-quality/longest member) — dd01/dd02 keep
    # first-occurrence, this is the argmax variant: same single window,
    # different ORDER BY.
    return f"""
WITH metrics AS (
  SELECT doc_id, source, length(text) AS n_chars,
    md5(lower({re_replace})) AS fp
  FROM documents
), ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS pick,
    COUNT(*) OVER (PARTITION BY fp) AS group_sz
  FROM metrics
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN pick = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CAST(SUM(CASE WHEN pick > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
  CAST(SUM(CASE WHEN pick = 1 AND group_sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_group_reps,
  CAST(SUM(CASE WHEN pick = 1 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_checksum
FROM ranked GROUP BY source
"""


_DD11_SPARK = _dd11("regexp_replace(text, '[^a-z0-9 ]', '')")
# DuckDB regexp_replace is first-match-only without the 'g' flag
_DD11_DUCK = _dd11("regexp_replace(text, '[^a-z0-9 ]', '', 'g')")


@query("dd11_dedup_keep_best", oracle=_DD11_DUCK, tags=("dedup", "quality"))
def dd11_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best exact dedup: normalized-fingerprint groups keep their
    LONGEST member (ties → lowest doc_id) instead of the first occurrence
    — the representative-selection policy production pipelines use (keep
    the highest-quality duplicate, drop the rest). Identical plan shape to
    dd02 — one window on the uniform md5 fingerprint, one rollup — the
    policy change is just the window's ORDER BY, which is the point: in a
    declarative engine, "keep first" vs "keep best" costs the same."""
    return _sql(spark, sf_dir, _DD11_SPARK)


# ---------------------------------------------------------------------------
# dd13 — near-dup purge list (the composition a pipeline actually ships)
# ---------------------------------------------------------------------------
# Components over dd10's VERIFIED pairs, not the raw bucket graph: on this
# corpus the skewed shingle distribution ties min-hashes so hard that the
# dd08 bucket graph is one giant component (4998 of 5000 docs at sf0.1) —
# purging on it would drop the corpus. The published pipelines cluster
# AFTER verification (candidates → exact-Jaccard gate → components), which
# is exactly this operator: exact dedup first (reps), verified j >= 0.8
# edges between reps, components, keep the min-id member per component.

_DD13_J = 0.8

_DD13_FINAL = """
SELECT m.source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(CASE WHEN m.doc_id <> m.rep THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_purged,
  CAST(SUM(CASE WHEN m.doc_id = m.rep AND c.comp_id IS NOT NULL
                     AND c.comp_id <> m.rep THEN 1 ELSE 0 END) AS BIGINT)
    AS n_neardup_purged,
  CAST(SUM(CASE WHEN m.doc_id = m.rep
                     AND (c.comp_id IS NULL OR c.comp_id = m.rep)
                THEN m.doc_id ELSE 0 END) AS BIGINT) AS kept_id_checksum
FROM repmap m LEFT JOIN comp c ON c.doc_id = m.rep
GROUP BY m.source"""


def _dd13_duck() -> str:
    base = _dd10_duck()
    # reuse dd10's whole verified-pair chain; swap its final aggregate for
    # the closure + purge rollup, and make the WITH recursive
    head = base[: base.rindex(")\nSELECT")] + ")"
    return (
        head.replace("\nWITH reps AS (", "\nWITH RECURSIVE reps AS (", 1)
        + f""",
vedges AS (SELECT da AS src, db AS dst FROM jac WHERE j >= {_DD13_J}),
vsym AS (SELECT src, dst FROM vedges UNION SELECT dst, src FROM vedges),
reach(doc_id, label) AS (
  SELECT src, src FROM vsym
  UNION
  SELECT s.dst, r.label FROM reach r JOIN vsym s ON s.src = r.doc_id
),
comp AS (SELECT doc_id, MIN(label) AS comp_id FROM reach GROUP BY doc_id),
repmap AS (
  SELECT doc_id, source, MIN(doc_id) OVER (PARTITION BY text) AS rep
  FROM documents
){_DD13_FINAL}"""
    )


@query("dd13_neardup_purge", oracle=_dd13_duck(), tags=("dedup", "lsh", "jaccard", "graph", "purge"))
def dd13_neardup_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup KEEP/DROP decision a pipeline actually ships, end to
    end: exact dedup first (one representative per distinct text — the
    'reps' every published pipeline runs before MinHash), dd10's LSH
    candidates + exact-Jaccard verification, connected components over
    the VERIFIED (j >= 0.8) pairs via pointer-jump propagation, keep the
    min-id member per component. Per source: exact-dup purges, near-dup
    purges, and a kept-id checksum pinning the exact survivor set.

    Components run on verified edges, NOT the raw bucket graph — see the
    module comment: bucket-graph components are one giant cluster on a
    skew-shingled corpus, and purging on unverified candidates is how a
    pipeline deletes its corpus. Scale shape: dd10's O(candidates) work,
    a verified-edge graph that is tiny by construction, log-round
    propagation, one join back to the corpus on doc_id, low-cardinality
    rollup."""
    edges = checkpoint(spark.sql(
        "WITH "
        + _dd10_jac_ctes("{cand}", "{doc_sh}", hints=True)
        + f"\nSELECT da AS src, db AS dst FROM jac WHERE j >= {_DD13_J}",
        **_dd10_prepare(spark, sf_dir),
    ), eager=True)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    labels, _ = _min_label_components(sym)
    sym.unpersist()
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    repmap = docs.select(
        "doc_id",
        "source",
        F.min("doc_id").over(Window.partitionBy("text")).alias("rep"),
    )
    comp = labels.select(F.col("doc_id").alias("rep"), F.col("label").alias("comp_id"))
    j = repmap.join(F.broadcast(comp), "rep", "left")
    is_rep = F.col("doc_id") == F.col("rep")
    near_purged = is_rep & F.col("comp_id").isNotNull() & (F.col("comp_id") != F.col("rep"))
    kept = is_rep & (F.col("comp_id").isNull() | (F.col("comp_id") == F.col("rep")))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~is_rep, 1).otherwise(0)).cast("bigint").alias("n_exact_purged"),
        F.sum(F.when(near_purged, 1).otherwise(0)).cast("bigint").alias("n_neardup_purged"),
        F.sum(F.when(kept, F.col("doc_id")).otherwise(0)).cast("bigint").alias("kept_id_checksum"),
    )


# ---------------------------------------------------------------------------
# dc03 — Bloom-filter decontamination (bloom pre-filter + exact verify)
# ---------------------------------------------------------------------------
# dc01 joins every training gram against the benchmark gram set — exact, but
# the join's build side is the full benchmark vocabulary. dc03 is the shape
# a 100 TB pipeline actually runs: compress the benchmark 5-gram set into a
# FIXED-size Bloom bitmap (65,536 bits = 2,048 × 32-bit words, k=2 md5-
# derived hash functions), broadcast the ≤2,048-row word table, probe every
# training gram map-side, and run the exact gram join ONLY on the Bloom-
# surviving sliver. Bloom guarantees no false negatives, so the verified
# output equals dc01's distinct-gram semantics while the expensive exact
# join sees |candidates| ≈ |true hits| + fp·|grams| rows instead of the
# whole stream. The per-doc false-positive count is part of the output —
# the filter's quality is measured, not assumed.
#
# Scale shape: bloom build = one DISTINCT + one 2,048-key aggregate over
# the (small) benchmark slice; the bitmap is O(1) in the corpus and
# broadcast; probing is map-side (join on word_idx against a ≤2,048-row
# table, then bit-test); the only corpus-scale shuffle is the final per-doc
# aggregate. The exact verify join's build side is the benchmark vocabulary
# again, but its PROBE side is now the candidate sliver.

_DC03_WORDS = 2048  # 32-bit words → 65,536 bits; k=2 (h1/h2 = md5 slices)


def _dc03_grams(gram_explode: str, split_fn: str, len_fn: str) -> str:
    """DISTINCT (doc_id, gram-md5) stream, benchmark slice flagged — the
    one corpus-scale pass, materialized once by the Spark builder."""
    return f"""
SELECT DISTINCT doc_id, (doc_id % 97 = 0) AS is_bench, {gram_explode} AS g
FROM (SELECT doc_id, {split_fn}(text, ' ') AS w FROM documents) d
WHERE {len_fn}(w) >= 5
"""


_DC03_GRAMS_SPARK = _dc03_grams(
    "explode(transform(sequence(1, size(w) - 4), i -> md5(array_join(slice(w, i, 5), ' '))))",
    "split",
    "size",
)
_DC03_GRAMS_DUCK = _dc03_grams(
    "unnest(list_transform(range(1, len(w) - 3), i -> md5(array_to_string(w[i : i + 4], ' '))))",
    "string_split",
    "len",
)


def _dc03_main(grams_src: str, hex_i60: str, intdiv: str, shl1: str) -> str:
    """From the gram stream to the per-doc contamination report.
    ``hex_i60``: dialect md5-hex-slice→int; ``intdiv``: integer division
    operator; ``shl1``: 1<<n spelling (32-bit safe, shift ≤ 31)."""
    h1 = hex_i60.format(expr="g", lo=1)
    h2 = hex_i60.format(expr="g", lo=16)
    return f"""
WITH gh AS (
  SELECT doc_id, is_bench, g,
    ({h1}) % 65536 AS b1,
    ({h2}) % 65536 AS b2
  FROM {grams_src}
), bloom AS (
  SELECT word_idx, bit_or(mask) AS w
  FROM (
    SELECT b1 {intdiv} 32 AS word_idx, {shl1.format(n="b1 % 32")} AS mask
    FROM gh WHERE is_bench
    UNION ALL
    SELECT b2 {intdiv} 32 AS word_idx, {shl1.format(n="b2 % 32")} AS mask
    FROM gh WHERE is_bench
  ) bits
  GROUP BY word_idx
), probe AS (
  SELECT doc_id, g, b1 {intdiv} 32 AS word_idx, {shl1.format(n="b1 % 32")} AS mask
  FROM gh WHERE NOT is_bench
  UNION ALL
  SELECT doc_id, g, b2 {intdiv} 32 AS word_idx, {shl1.format(n="b2 % 32")} AS mask
  FROM gh WHERE NOT is_bench
), cand AS (
  -- gram survives iff BOTH bits are set (min over the k=2 probe rows)
  SELECT p.doc_id, p.g
  FROM probe p LEFT JOIN bloom bl ON bl.word_idx = p.word_idx
  GROUP BY p.doc_id, p.g
  HAVING MIN(CASE WHEN (bl.w & p.mask) <> 0 THEN 1 ELSE 0 END) = 1
), verified AS (
  -- exact gram join on the Bloom-surviving sliver only
  SELECT c.doc_id, c.g,
    CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
  FROM cand c
  LEFT JOIN (SELECT DISTINCT g FROM gh WHERE is_bench) e ON c.g = e.g
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams
  FROM gh WHERE NOT is_bench GROUP BY doc_id
)
SELECT v.doc_id,
  CAST(d.n_grams AS BIGINT)        AS n_grams,
  CAST(COUNT(*) AS BIGINT)         AS n_bloom_candidates,
  CAST(SUM(v.exact_hit) AS BIGINT) AS n_contaminated,
  CAST(SUM(1 - v.exact_hit) AS BIGINT) AS n_false_pos
FROM verified v JOIN per_doc d ON d.doc_id = v.doc_id
GROUP BY v.doc_id, d.n_grams
"""


_DC03_SPARK_MAIN = _dc03_main(
    "{grams}",
    "CAST(conv(substring({expr}, {lo}, 15), 16, 10) AS BIGINT)",
    "DIV",
    "shiftleft(CAST(1 AS BIGINT), CAST({n} AS INT))",
)
_DC03_DUCK = _dc03_main(
    f"({_DC03_GRAMS_DUCK}) dc03_grams",
    "(('0x' || substr({expr}, {lo}, 15))::BIGINT)",
    "//",
    "(1::BIGINT << ({n}))",
)


@query("dc03_bloom_decontaminate", oracle=_DC03_DUCK, tags=("dedup", "decontamination", "bloom"))
def dc03_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: benchmark 5-grams (doc_id % 97 slice)
    compressed to a fixed 65,536-bit / k=2 Bloom bitmap (2,048 broadcastable
    words), training grams probed map-side, exact verification only on the
    surviving candidates — per doc: distinct grams, Bloom candidates, exact
    contaminated grams, and measured false positives. No false negatives by
    construction (the exact tier restores dc01's precision); the Bloom tier
    bounds the exact join's probe side at any corpus size."""
    register_views(spark, sf_dir)
    grams = checkpoint(spark.sql(_DC03_GRAMS_SPARK), eager=True)
    return spark.sql(_DC03_SPARK_MAIN, grams=grams)


# ---------------------------------------------------------------------------
# dd14 — SemDeDup: semantic dedup via cluster-then-prune (Abbas et al. 2023)
# ---------------------------------------------------------------------------
# dd07 finds embedding near-dups by LSH bucketing; SemDeDup ("SemDeDup:
# Data-efficient learning at web-scale through semantic deduplication",
# Abbas et al. 2023, arXiv:2303.09540) is the other production shape:
# k-means-cluster the embeddings, compute pairwise cosine ONLY within each
# cluster, and purge all but one member of every semantic-duplicate group —
# keeping the member LEAST similar to its centroid (the paper's choice:
# prefer the atypical exemplar). Clustering bounds the pairwise stage: with
# k ∝ n (SemDeDup runs k=50,000 for 600 M docs) cells stay ~constant-size,
# so within-cell pairs are O(n·cell), not O(n²).
#
# Centroids are a deterministic fixed-STRIDE slice (vec_id % 251 = 0 — no
# upper bound), so k GROWS with the corpus and expected cell size stays
# ~250 at any scale: this is the paper's k ∝ n choice, and it is what
# keeps the pair stage linear overall. (The fixed-SLICE rule ss03 uses —
# ≤64 centroids at any corpus — makes the cell-size² term grow 105× in
# wall time at 100× data; the stride rule + argmax-aggregate assignment
# grows 29.8× with no plan flips, cells 8 → 80 → 798 across three
# decades of scale. Deterministic strides are
# oracle-stable where trained centroids would be float-unstable; ss07
# shows training in-engine.) τ = 0.35 is calibrated to the synthetic
# corpus (random embeddings have no true near-dups; real deployments use
# ~0.95+).
#
# Scale shape: assignment is TWO-LEVEL, because a flat vecs×cents cross
# join is asymptotically quadratic: O(n·k) = O(n²/251) with k ∝ n. ~√k
# SUPER-centroids are drawn from the
# centroid set by md5-residue (layout-independent — no id-structure
# collapse possible — and anchored at the min centroid id so the set is
# never empty); each vector argmaxes over the √k supers (n·√k), then
# argmaxes only over its super-cell's ~√k child centroids (n·√k) — total
# O(n·√k) = O(n^1.5/16) instead of O(n²/251), the standard IVF
# coarse→fine assignment with nprobe=1. The pair join shuffles on cid
# once and is cell-bounded; per-cluster aggregate reuses that
# partitioning. Probe-1 coarse assignment is an approximation at cell
# boundaries (a vector may land on a centroid in its probed cell when a
# slightly nearer centroid lives in a neighbor cell) — the standard IVF
# trade; both engines compute the identical rule, so the oracle is exact.

# PRIME stride: with a composite stride (say 256), any id
# layout whose block offsets share a factor with the stride collapses the
# centroid set onto a few residue classes — measured on the probe's
# replica corpus (offsets i·10⁶, gcd(10⁶, 256) = 64): only ~31 distinct
# centroid VECTORS survived at any replica count, cells grew ∝ n again
# and sf10 ran 1074 s. A prime stride is coprime to every structured
# offset, so the centroid set keeps growing ∝ n no matter how ids are
# blocked/sharded.
_DD14_CENT_PRED = "vec_id % 251 = 0"

_DD14_TAU = 0.35


def _dd14_pairs(dot_ab: str, assign_src: str) -> str:
    """The within-cell duplicate-pair relation (the O(n·cell) stage —
    the paper's own cost). ``dot_ab``: dialect dot product over
    a.embedding/b.embedding. Spark MATERIALIZES this once: Catalyst
    inlines CTEs, so a single-statement form runs the cosine pair join
    TWICE — once under pair_stats, once under purged — doubling the
    interpreted-lambda work (the dominant dd14 cost at every scale; at
    sf100 on a 16 GB heap the duplicated join also drives the spill). Post-filter the relation is tiny (only pairs at sim ≥ τ)."""
    return f"""
SELECT * FROM (
  SELECT a.vec_id AS va, b.vec_id AS vb, a.cid,
    a.cs AS cs_a, b.cs AS cs_b,
    ROUND(({dot_ab}) / (a.nrm * b.nrm), 6) AS sim
  FROM {assign_src} a JOIN {assign_src} b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
) p WHERE sim >= {_DD14_TAU}
"""


def _dd14_main(pairs_src: str, cells_src: str, lead: str = "WITH") -> str:
    """From the materialized duplicate-pair and per-cluster-size relations
    to the purge report. ``cells_src``: a (cid, cell_size) relation —
    Spark passes a k-row checkpoint so the report tail never re-reads
    the n-row wide assignment: a cells aggregate and the broadcast-join
    stages running CONCURRENTLY over the deserialized 5M-row checkpoint
    die UNABLE_TO_ACQUIRE at sf100 on a 16 GB heap, so every
    corpus-scale read happens in exactly one sequential eager job. ``lead``: "WITH" for a standalone statement, "," when the
    caller already opened a WITH chain (parameterized instead of
    post-hoc string surgery)."""
    return f"""
{lead} dup_pairs AS (
  SELECT * FROM {pairs_src}
), purged AS (
  -- SemDeDup keep-rule: within a duplicate pair, keep the member LESS
  -- similar to the centroid; the other is purged (ties: keep lower id)
  SELECT DISTINCT cid, vec_id FROM (
    SELECT cid,
      CASE WHEN cs_a > cs_b OR (cs_a = cs_b AND va > vb)
           THEN va ELSE vb END AS vec_id
    FROM dup_pairs
  ) t
), cells AS (
  SELECT cid, cell_size FROM {cells_src}
), pair_stats AS (
  SELECT cid, COUNT(*) AS n_dup_pairs, MAX(sim) AS max_sim
  FROM dup_pairs GROUP BY cid
), purge_stats AS (
  SELECT cid, COUNT(*) AS n_purged, SUM(vec_id) AS purged_checksum
  FROM purged GROUP BY cid
)
SELECT /*+ BROADCAST(p), BROADCAST(g) */ c.cid,
  CAST(c.cell_size AS BIGINT)                     AS cell_size,
  CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT)      AS n_dup_pairs,
  CAST(COALESCE(g.n_purged, 0) AS BIGINT)         AS n_purged,
  CAST(COALESCE(g.purged_checksum, 0) AS BIGINT)  AS purged_checksum,
  ROUND(COALESCE(p.max_sim, -1.0), 6)             AS max_sim
FROM cells c
LEFT JOIN pair_stats p ON p.cid = c.cid
LEFT JOIN purge_stats g ON g.cid = c.cid
"""


# Every argmax in the assignment is an AGGREGATE, not a window: max_by
# collapses map-side to one row per group before any exchange, while a
# ROW_NUMBER window must shuffle the whole similarity stream (at sf10:
# 156M wide rows through one exchange). The (cs, lowest-cid)
# tiebreak packs into ONE wide integer key cs_x1m·10²⁰ − cid, computed in
# DECIMAL(30,0) (Spark) / HUGEINT (DuckDB): one cs_x1m unit outweighs any
# BIGINT cid (|cid| < 9.3e18 < 10²⁰), so the ordering is exact for EVERY
# possible centroid id — a BIGINT key (×10¹²) silently mis-orders once
# ids pass 1e12. cs rides as an exact x1e6 integer so the
# keep-rule's >/= comparisons are float-free. Embeddings re-join AFTER
# the argmax, so only n-scale narrow rows ever shuffle.


def _dd14_key(col: str, cast: str) -> str:
    """The packed (cosine DESC, id ASC) argmax key: ``cast`` widens cs_x1m
    past BIGINT (DECIMAL(30,0) on Spark, HUGEINT on DuckDB)."""
    return f"{cast} * 100000000000000000000 - {col}"


def _dd14_fine_ctes(nrm: str, cos: str, h: str, widen: str) -> str:
    """The CTE chain of the two-level assignment up to ``fine`` (vecs →
    cents → supers → vsim/vsup → csim → csup → fine), split out so
    the vectorized Python assign can collect ``supers`` and ``fine`` from
    the SAME text the SQL assign embeds — byte-identical derivation
    either way. vsim/vsup stay here in their original position so the
    composed oracle text is unchanged; a caller that selects only
    supers/fine never executes them (Catalyst prunes unreferenced
    CTEs)."""
    key = lambda col: _dd14_key(col, widen.format(x="cs_x1m"))  # noqa: E731
    cos_vs = cos.format(a="v", av="embedding", an="nrm", b="s", bv="sv", bn="snrm")
    cos_cs = cos.format(a="c", av="cv", an="cnrm", b="s", bv="sv", bn="snrm")
    return f"""vecs AS (
  SELECT vec_id, embedding, {nrm} AS nrm
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
  FROM vecs WHERE {_DD14_CENT_PRED}
), cstats AS (
  SELECT COUNT(*) AS k, MIN(cid) AS mc,
    CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s0
  FROM cents
), sel AS (
  -- integer-exact ceil(sqrt(k)): float sqrt slop at perfect squares would
  -- otherwise let the two engines pick different strides
  SELECT CASE WHEN s0 * s0 >= k THEN s0 ELSE s0 + 1 END AS s, mc FROM cstats
), supers AS (
  -- ~sqrt(k) super-centroids by md5 residue: layout-independent (hashing
  -- destroys any blocked/sharded id structure — the prime-stride lesson
  -- does not recur) and anchored at the min centroid id's residue class,
  -- so the super set always contains at least that centroid
  SELECT c.cid AS sid, c.cv AS sv, c.cnrm AS snrm
  FROM cents c CROSS JOIN sel
  WHERE {h.format(x="c.cid")} % s = {h.format(x="mc")} % s
), vsim AS (
  SELECT v.vec_id, s.sid, {cos_vs} AS cs_x1m
  FROM vecs v CROSS JOIN supers s
), vsup AS (
  SELECT vec_id, max_by(sid, {key("sid")}) AS sid FROM vsim GROUP BY vec_id
), csim AS (
  -- a super ALWAYS routes to itself (forced above the 1000000 cosine
  -- ceiling): under x1e6 rounding two near-identical supers can tie and
  -- the lowest-sid tiebreak would route a super into the OTHER's cell,
  -- leaving its own cell empty — any vector whose coarse argmax still
  -- picked the emptied super would then get zero rows in sims and
  -- silently vanish from the assignment (r6 ADVICE). Self-routing makes
  -- every probed cell provably nonempty, so every vector survives.
  SELECT c.cid, s.sid,
    CASE WHEN c.cid = s.sid THEN 1000001 ELSE {cos_cs} END AS cs_x1m
  FROM cents c CROSS JOIN supers s
), csup AS (
  SELECT cid, max_by(sid, {key("sid")}) AS sid FROM csim GROUP BY cid
), fine AS (
  -- the fan-out table: each probed super's child centroids WITH their
  -- vectors — k rows total, the SMALL side of the fine argmax
  SELECT m.sid, c.cid, c.cv, c.cnrm
  FROM csup m JOIN cents c ON c.cid = m.cid
)"""


def _dd14_assign_sql(nrm: str, cos: str, h: str, widen: str) -> str:
    """Two-level (coarse→fine) centroid assignment, dialect-parameterized.

    ``nrm``: L2-norm expression over ``embedding``; ``cos(a, av, an, b,
    bv, bn)`` is produced by format on alias/vector/norm column names;
    ``h``: md5→BIGINT hash template over ``{x}``; ``widen``: cast template
    widening ``{x}`` past BIGINT for the packed key.
    """
    key = lambda col: _dd14_key(col, widen.format(x="cs_x1m"))  # noqa: E731
    cos_vf = cos.format(a="v", av="embedding", an="nrm", b="f", bv="cv", bn="cnrm")
    return f"""
WITH {_dd14_fine_ctes(nrm, cos, h, widen)}, sims AS (
  -- fan-out AFTER the wide join: vecs joins vsup 1:1 first (n wide
  -- rows), then the ~sqrt(k)-way child expansion happens streaming
  -- through the fine join and collapses map-side in pick's max_by. The
  -- r6 ordering (vsup->csup->cents->vecs) carried the centroid vector
  -- through an n·sqrt(k)-row sort-merge join on vec_id — measured 56+20
  -- GB of spill at the sf100/16 GB memory decade; this shape sorts only
  -- the n-row relation once.
  -- MERGE(p), r7: vsup is an N-ROW relation behind a stats-free
  -- aggregate, so Catalyst's size guess undercuts the broadcast
  -- threshold and builds an n-row HashedRelation — never scale-safe,
  -- and the proximate [AGGREGATE_OUT_OF_MEMORY] at the sf100/16 GB
  -- decade (the build held the heap the downstream partial argmax
  -- needed). The hint forces the n-to-n join to co-shuffle on vec_id;
  -- fine (k rows) stays the broadcast side by design.
  SELECT /*+ MERGE(p), BROADCAST(f) */ v.vec_id, f.cid, {cos_vf} AS cs_x1m
  FROM vsup p
  JOIN vecs v ON v.vec_id = p.vec_id
  JOIN fine f ON f.sid = p.sid
), pick AS (
  SELECT vec_id,
    max_by(cid, {key("cid")}) AS cid,
    MAX(cs_x1m) AS cs
  FROM sims GROUP BY vec_id
)
SELECT /*+ MERGE(p) */ p.vec_id, p.cid, p.cs, v.embedding, v.nrm
FROM pick p JOIN vecs v ON p.vec_id = v.vec_id
"""


_DD14_ASSIGN_SPARK = _dd14_assign_sql(
    nrm=(
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x))"
    ),
    cos=(
        "CAST(ROUND(1000000.0 * aggregate(zip_with({a}.{av}, {b}.{bv},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x) / ({a}.{an} * {b}.{bn})) AS BIGINT)"
    ),
    h="CAST(conv(substring(md5(CAST({x} AS STRING)), 1, 15), 16, 10) AS BIGINT)",
    widen="CAST({x} AS DECIMAL(7,0))",
)

# The pair cosine in SQL is the suite's dominant interpreted-lambda cost
# (the aggregate(zip_with(...)) left fold is evaluated per pair, per
# element, in Catalyst's interpreter; a flat 64-term codegen unroll
# measures WORSE — ~4x on the pair stage — because the generated method
# blows past the JIT compile limits). So the pair stage runs as ONE
# applyInPandas over the cid groups: numpy computes the dot with an EXPLICIT per-dimension fold
#     acc = 0.0;  for d: acc += f64(E[i,d]) * f64(E[j,d])
# which performs the IDENTICAL sequence of IEEE float64 operations as the
# SQL fold ((0.0+t1)+t2)+... — cast-to-double, multiply, left-to-right
# add, 0.0 seed — so the dot is bit-exact (np.dot/BLAS would pairwise-
# reassociate; this loop does not). sim_raw = dot / (nrm_a * nrm_b) is
# the same two IEEE ops as the SQL division. The ROUND(.,6) and the
# sim >= tau gate stay in SQL (Spark's HALF_UP decimal round); Python
# pre-gates at tau - 1e-6 (conservative: ROUND(x,6) >= 0.35 requires
# x >= 0.3499995) so only near-threshold pairs cross the boundary back.
# Shuffle shape is unchanged: ONE cid-keyed exchange of the checkpointed
# assignment (the SQL self-join also shuffled it once + ReusedExchange);
# the group loop replaces the O(cell^2) interpreted-cosine join body with
# vectorized numpy — Spark does the distribution and hands whole batches
# to native code. Works at ANY embedding dimension (the
# synthetic-corpus structural tests use 8-dim vectors).
_DD14_PY_GATE = _DD14_TAU - 1e-6

_DD14_PAIRS_RAW_SCHEMA = (
    "va long, vb long, cid long, cs_a long, cs_b long, sim_raw double"
)


# pairs enumerated per block of a cell: about 40 bytes each in index and
# accumulator arrays, so a block holds about 40 MB whatever the cell size
_DD14_PAIR_BLOCK = 1 << 20


def _dd14_cell_pairs(pdf):
    """applyInPandas worker: all >= (tau - 1e-6) cosine pairs within one
    cell, dot computed with the exact left-fold dimension loop (see the
    block comment above for the bit-exactness argument). Pairs (i, j > i)
    are enumerated in row blocks of about ``_DD14_PAIR_BLOCK`` pairs (at
    least one row), in ``triu_indices`` order."""
    import numpy as np
    import pandas as pd

    cols = ["va", "vb", "cid", "cs_a", "cs_b", "sim_raw"]
    n = len(pdf)
    if n < 2:
        return pd.DataFrame({c: [] for c in cols})
    pdf = pdf.sort_values("vec_id", kind="mergesort")
    ids = pdf["vec_id"].to_numpy(np.int64)
    cs = pdf["cs"].to_numpy(np.int64)
    nrm = pdf["nrm"].to_numpy(np.float64)
    emb = np.stack([np.asarray(e) for e in pdf["embedding"]]).astype(np.float64)
    # first[i]: pairs in rows before row i
    first = np.concatenate(([0], np.cumsum(np.arange(n - 1, 0, -1))))
    kept_i, kept_j, kept_sim = [], [], []
    lo = 0
    while lo < n - 1:
        hi = int(np.searchsorted(first, first[lo] + _DD14_PAIR_BLOCK, side="right")) - 1
        hi = max(hi, lo + 1)
        ii, jj = np.triu_indices(hi - lo, 1, n - lo)
        ii += lo
        jj += lo
        acc = np.zeros(len(ii), dtype=np.float64)
        for d in range(emb.shape[1]):
            acc = acc + emb[ii, d] * emb[jj, d]
        sim_raw = acc / (nrm[ii] * nrm[jj])
        keep = sim_raw >= _DD14_PY_GATE
        kept_i.append(ii[keep])
        kept_j.append(jj[keep])
        kept_sim.append(sim_raw[keep])
        lo = hi
    ii, jj = np.concatenate(kept_i), np.concatenate(kept_j)
    return pd.DataFrame(
        {
            "va": ids[ii],
            "vb": ids[jj],
            "cid": np.full(len(ii), np.int64(pdf["cid"].iloc[0])),
            "cs_a": cs[ii],
            "cs_b": cs[jj],
            "sim_raw": np.concatenate(kept_sim),
        }
    )


def _dd14_pairs_py(assign_df: DataFrame) -> DataFrame:
    """The vectorized within-cell duplicate-pair relation (replaces the
    SQL self-join + interpreted-lambda cosine; see _dd14_cell_pairs)."""
    return assign_df.groupBy("cid").applyInPandas(
        _dd14_cell_pairs, schema=_DD14_PAIRS_RAW_SCHEMA
    )


# the exact tau gate and HALF_UP round stay engine-side; sim_raw is the
# bit-exact dot/(nrm_a*nrm_b) the SQL form computed
_DD14_PAIRS_FROM_RAW = f"""
SELECT * FROM (
  SELECT va, vb, cid, cs_a, cs_b, ROUND(sim_raw, 6) AS sim
  FROM {{raw}}
) p WHERE sim >= {_DD14_TAU}
"""


# --- vectorized n-scale assignment -------------------------------------------
# In SQL the two n-scale argmax passes (vector→super, vector→fine-cell) are
# the other interpreted-lambda hot path: n·√k coarse + n·√k fine cosines,
# each an aggregate(zip_with(...)) interpreter fold, plus two n-row
# exchanges (vsup argmax, pick argmax) and two n-row joins. So they run as
# ONE mapInPandas over the embeddings scan — ZERO exchanges (the scan is
# embarrassingly parallel; the SQL plan shuffles the n-row relation twice)
# — against the k-scale `supers` and `fine` tables, which are still
# derived by the engine from the SAME CTE text the SQL assign embeds
# (_dd14_fine_ctes: cents → md5-residue supers → csim self-routing argmax
# → csup → fine) and then collected and broadcast into the workers. The
# SQL plan broadcasts the full fine table too (BROADCAST(f) hint), so
# the memory class at scale is unchanged; the collect is computed
# in-query per run (nothing cached across runs).
#
# Bit-exactness vs the SQL form, piece by piece:
#   - dot products: explicit per-dimension fold (acc += f64(x)*f64(y)) —
#     the identical IEEE op sequence as the zip_with left fold (see the
#     pairs comment above); the norm's squared terms are non-negative so
#     its fold is unconditionally bit-identical, and np.sqrt is the same
#     correctly-rounded IEEE sqrt as the JVM's.
#   - cs_x1m = CAST(ROUND(1e6·dot/(nrm_v·nrm_c)) AS BIGINT): the numerator
#     multiply, denominator multiply and division replicate the SQL
#     expression's op order; HALF_UP rounding is floor(|x|+0.5) with a
#     guard band — any value within 1e-9 of a .5 boundary (where the
#     float +0.5 could itself round across the boundary) is re-rounded
#     through decimal.Decimal's exact binary expansion, which agrees with
#     the JVM BigDecimal HALF_UP everywhere (the .5 boundaries are dyadic,
#     so shortest-repr and exact-expansion classify every double
#     identically).
#   - argmax tie-breaks: the packed key cs_x1m·10²⁰ − id means max cs,
#     ties → lowest id; with candidate ids sorted ascending, np.argmax
#     returns the first maximum — the same rule, no widening needed.
_DD14_FINE_SPARK = "WITH " + _dd14_fine_ctes(
    nrm=(
        "sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x))"
    ),
    cos=(
        "CAST(ROUND(1000000.0 * aggregate(zip_with({a}.{av}, {b}.{bv},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x) / ({a}.{an} * {b}.{bn})) AS BIGINT)"
    ),
    h="CAST(conv(substring(md5(CAST({x} AS STRING)), 1, 15), 16, 10) AS BIGINT)",
    widen="CAST({x} AS DECIMAL(7,0))",
)

# ONE k-scale collect: fine carries every centroid tagged by its routed
# super, and self-routing (csim's forced ceiling) guarantees each super
# appears as its own (sid, cid=sid, sv, snrm) row — so the supers table
# is recoverable from fine's sid==cid rows without a second derivation.
_DD14_FINE_SELECT = _DD14_FINE_SPARK + "\nSELECT sid, cid, cv, cnrm FROM fine"

_DD14_ASSIGN_PY_SCHEMA = (
    "vec_id long, cid long, cs long, embedding array<float>, nrm double"
)


def _dd14_round_half_up_x1m(num, den):
    """Vectorized CAST(ROUND(num/den) AS BIGINT) with JVM BigDecimal
    HALF_UP semantics (see the block comment above for the guard-band
    argument)."""
    import numpy as np

    x = num / den
    ax = np.abs(x)
    r = np.floor(ax + 0.5)
    frac = ax - np.floor(ax)
    amb = np.abs(frac - 0.5) < 1e-9
    if amb.any():
        from decimal import ROUND_HALF_UP, Decimal

        flat_ax = ax.reshape(-1)
        flat_r = r.reshape(-1)
        for i in np.nonzero(amb.reshape(-1))[0]:
            flat_r[i] = float(
                Decimal(float(flat_ax[i])).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
        r = flat_r.reshape(ax.shape)
    return (np.sign(x) * r).astype(np.int64)


def _dd14_fold_dots(E, M):
    """(B,d) x (C,d) -> (B,C) dot matrix via the explicit per-dimension
    fold — per (b,c) the identical IEEE float64 op sequence as the SQL
    left fold."""
    import numpy as np

    acc = np.zeros((E.shape[0], M.shape[0]), dtype=np.float64)
    for d in range(E.shape[1]):
        acc = acc + E[:, d : d + 1] * M[None, :, d].reshape(1, -1)
    return acc


def _dd14_assign_py(
    spark: SparkSession, vecs_df: DataFrame
) -> tuple[DataFrame, Broadcast]:
    """The vectorized two-level assignment: k-scale supers/fine collected
    from the engine (same CTE text as the SQL assign), n-scale coarse+fine
    argmax in numpy via mapInPandas — zero exchanges, no interpreted
    lambdas on the n-scale path. Returns the lazy assignment and the
    broadcast of the k-scale tables it reads; the caller destroys the
    broadcast once the assignment is materialized."""
    import numpy as np

    fine_rows = spark.sql(_DD14_FINE_SELECT).collect()
    # supers = fine's self-routed rows, sorted by sid ascending so
    # np.argmax's first-max = lowest sid (the packed-key tie-break)
    sup_rows = sorted(
        (r for r in fine_rows if r["sid"] == r["cid"]), key=lambda r: r["sid"]
    )
    sup_ids = np.array([r["sid"] for r in sup_rows], dtype=np.int64)
    sup_mat = np.array([r["cv"] for r in sup_rows], dtype=np.float64)
    sup_nrm = np.array([r["cnrm"] for r in sup_rows], dtype=np.float64)
    fine_by_sid: dict = {}
    for r in sorted(fine_rows, key=lambda r: (r["sid"], r["cid"])):
        fine_by_sid.setdefault(r["sid"], []).append(r)
    fine_packed = {
        sid: (
            np.array([r["cid"] for r in rows], dtype=np.int64),
            np.array([r["cv"] for r in rows], dtype=np.float64),
            np.array([r["cnrm"] for r in rows], dtype=np.float64),
        )
        for sid, rows in fine_by_sid.items()
    }
    bc = spark.sparkContext.broadcast((sup_ids, sup_mat, sup_nrm, fine_packed))

    def assign_batches(it):
        import pandas as pd

        s_ids, s_mat, s_nrm, fine = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            emb32 = pdf["embedding"]
            E = np.stack([np.asarray(e) for e in emb32]).astype(np.float64)
            # norm: non-negative-term fold, then IEEE sqrt
            acc = np.zeros(len(ids), dtype=np.float64)
            for d in range(E.shape[1]):
                acc = acc + E[:, d] * E[:, d]
            nrm = np.sqrt(acc)
            # coarse: argmax over supers (ids ascending -> first max wins)
            cs_coarse = _dd14_round_half_up_x1m(
                1000000.0 * _dd14_fold_dots(E, s_mat),
                nrm[:, None] * s_nrm[None, :],
            )
            best_s = s_ids[np.argmax(cs_coarse, axis=1)]
            # fine: per chosen super, argmax over its child centroids
            out_cid = np.empty(len(ids), dtype=np.int64)
            out_cs = np.empty(len(ids), dtype=np.int64)
            for sid in np.unique(best_s):
                gi = np.nonzero(best_s == sid)[0]
                c_ids, c_mat, c_nrm = fine[int(sid)]
                cs_f = _dd14_round_half_up_x1m(
                    1000000.0 * _dd14_fold_dots(E[gi], c_mat),
                    nrm[gi, None] * c_nrm[None, :],
                )
                pick = np.argmax(cs_f, axis=1)  # cids ascending: first max
                out_cid[gi] = c_ids[pick]
                out_cs[gi] = cs_f[np.arange(len(gi)), pick]
            yield pd.DataFrame(
                {
                    "vec_id": ids,
                    "cid": out_cid,
                    "cs": out_cs,
                    "embedding": emb32.reset_index(drop=True),
                    "nrm": nrm,
                }
            )

    return vecs_df.mapInPandas(assign_batches, schema=_DD14_ASSIGN_PY_SCHEMA), bc

# Cell sizes are computed INSIDE the report job (referenced exactly once —
# no re-execution hazard) instead of a third sequential checkpoint: the
# k-row aggregate streams the serialized assignment checkpoint once, one
# job barrier cheaper than a dedicated cells job. The DuckDB oracle has
# the same inline shape.
_DD14_CELLS_INLINE = "(SELECT cid, COUNT(*) AS cell_size FROM {assign} GROUP BY cid)"

_DD14_SPARK_MAIN = _dd14_main("{pairs}", _DD14_CELLS_INLINE)

_DD14_DUCK_ASSIGN = _dd14_assign_sql(
    nrm="sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))",
    cos=(
        "CAST(ROUND(1000000.0 * list_sum(list_transform("
        "[CAST(g AS INT) for g in generate_series(1, len({a}.{av}))],"
        " i -> CAST({a}.{av}[i] AS DOUBLE) * CAST({b}.{bv}[i] AS DOUBLE)))"
        " / ({a}.{an} * {b}.{bn})) AS BIGINT)"
    ),
    h="(('0x' || substr(md5(CAST({x} AS VARCHAR)), 1, 15))::BIGINT)",
    widen="{x}::HUGEINT",
)

_DD14_DUCK = (
    f"WITH dd14_assign AS ({_DD14_DUCK_ASSIGN}),\n dd14_pairs AS ("
    + _dd14_pairs(
        "list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len(a.embedding))], "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))",
        "dd14_assign",
    )
    + ")"
    + _dd14_main(
        "dd14_pairs",
        "(SELECT cid, COUNT(*) AS cell_size FROM dd14_assign GROUP BY cid)",
        lead=",",
    )
)


@query("dd14_semdedup", oracle=_DD14_DUCK, tags=("dedup", "embedding", "semdedup"))
def dd14_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-style clusters over the
    embeddings, pairwise cosine within clusters only, purge every
    duplicate-pair member that is MORE centroid-typical (keep the atypical
    exemplar) — per-cluster report of cell size, duplicate pairs, purged
    count + id checksum, max similarity. Centroids are a fixed-STRIDE
    deterministic slice (k ∝ n, cells ~250 at any scale — the paper's
    scaling); assignment is TWO-LEVEL coarse→fine: ~√k md5-residue
    super-centroids, vector→super argmax, then argmax over the probed
    cell's ~√k children only — O(n·√k) total, not a flat
    O(n·k)=O(n²/251) cross join. Every argmax is a map-side-combinable
    max_by on an exact wide-integer (cosine, lowest-id) key."""
    register_views(spark, sf_dir)
    # ONE wide materialization: the assignment checkpoints once and the
    # pair self-join's two sides share its lineage, so Spark's exchange
    # reuse runs the cid shuffle ONCE (plan-pinned: Exchange +
    # ReusedExchange) with shuffle files on disk. Re-checkpointing the
    # assignment PRE-PARTITIONED by cid would buy an exchange-free merge
    # join but double the in-memory wide working set (it OOMs at sf100 on
    # a 16 GB heap where this shape completes) and, at small k, pin the
    # pair join's parallelism to the cid count (31.0 s vs 5.7 s at
    # sf0.1). AQE sizes the cid exchange at any scale.
    # SERIALIZED _BIG_CKPT_LEVEL: the default deserialized level holds 5M
    # wide object rows pinned in a 16 GB heap and dies UNABLE_TO_ACQUIRE
    # in the report tail where the serialized form completes.
    #
    # The embedding payload is ~1 KB/row but every pair costs a 64-dim
    # cosine, so AQE's byte-based coalescing collapses the assignment's
    # final exchange AND the pair join's post-shuffle stage to ONE
    # partition — the O(Σ cell²) pair-cosine stage then runs single-core
    # (one 3.9-4.8 s task of a 5.8 s query, read from the stage API).
    # Compute-per-byte here is orders of magnitude above AQE's sizing
    # model, so partition COALESCING (only) is turned
    # off for these two statements — post-shuffle partitions fall back to
    # spark.sql.shuffle.partitions, the deployment-tuned value; skew-join
    # splitting and the rest of AQE stay on. (The deprecated
    # coalescePartitions.minPartitionNum floor is settable but ignored on
    # Spark 4.1; enabled=false is the lever that works.)
    with scoped_conf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "false"):
        # The n-scale coarse+fine argmax runs vectorized in numpy over
        # the embeddings scan (zero exchanges — the SQL form shuffles the
        # n-row relation twice); the k-scale supers/fine
        # derivation stays engine-side (see _dd14_assign_py).
        vecs_df = spark.sql("SELECT vec_id, embedding FROM embeddings")
        assign, bc = _dd14_assign_py(spark, vecs_df)
        assign = checkpoint(assign, eager=True, storage_level=_BIG_CKPT_LEVEL)
        bc.destroy()
        # materialize dup_pairs ONCE (tiny post-filter): the report's two
        # stat branches would otherwise each re-run the pair pass
        # (Catalyst inlines CTEs). The pair cosine runs vectorized in
        # numpy per cid group (see _dd14_cell_pairs) — one cid-keyed
        # exchange, no interpreted lambdas; the exact ROUND + tau gate
        # stays in SQL (_DD14_PAIRS_FROM_RAW).
        pairs = checkpoint(
            spark.sql(_DD14_PAIRS_FROM_RAW, raw=_dd14_pairs_py(assign)),
            eager=True,
            storage_level=_BIG_CKPT_LEVEL,
        )
    # The k-row cell sizes are an inline aggregate of the report job
    # (_DD14_CELLS_INLINE) — the report references the n-row assignment
    # exactly once, streaming the serialized checkpoint with no separate
    # cells job.
    return spark.sql(_DD14_SPARK_MAIN, pairs=pairs, assign=assign)


# ---------------------------------------------------------------------------
# dd15 — containment scoring (doc-in-doc / near-superset detection)
# ---------------------------------------------------------------------------
# Symmetric Jaccard misses the asymmetric duplication LLM corpora are full
# of: a short document embedded verbatim inside a longer one (quote pages,
# aggregator wrappers, boilerplate-framed reposts) has LOW Jaccard (the
# union is dominated by the long doc) but HIGH containment
# |A∩B| / |A| for the short side. dd15 re-scores dd10's gated LSH
# candidate pairs with directional containment and emits the
# containee→container pairs at containment >= 0.5 — the purge signal for
# subset duplication that dd10's j >= 0.8 gate never fires on.
#
# Candidate generation is TWO-CHANNEL, because banding alone misses
# extreme-ratio pairs:
# dd10's symmetric MinHash banding catches comparable-size near-dups, and
# a CONTAINEE-SIDE bottom-k sketch channel catches the extreme-ratio
# pairs banding structurally misses (a 50-token doc inside a 5,000-token
# doc has J ≈ 0.01 — band-collision probability collapses). Bottom-k:
# each doc's 4 smallest grams by md5 order AMONG ITS RARE GRAMS
# (document frequency ≤ 100 — the dd10 bucket-cap analog: boilerplate
# grams mint O(df²) junk pairs) probe the corpus-wide inverted gram
# index; if containment(A ⊆ B) ≥ c, each probe hits B with probability
# ≥ c, so P(pair surfaces) ≥ 1 − (1−c)⁴ (≥ 0.94 at the 0.5 emit
# threshold, 1.0 for verbatim embedding). The df filter runs BEFORE the
# rank: ranking over ALL grams and dropping df>100 postings at probe time
# would leave a containee whose entire bottom-4 is corpus-wide
# boilerplate with no signature at all; a doc with ZERO rare grams is
# pure boilerplate and indistinguishable by construction.
#
# Scale shape: the corpus inverted index is ONE explode + DISTINCT
# (uniform md5-domain keys); bottom-k is a doc_id-partitioned window over
# it; the probe join is posting-bounded (≤ 4·df per doc, df ≤ 100); the
# scoring tail is the same O(candidates) shingle-intersection join as
# dd10, normalized by the smaller set — ratio-independent.


def _dd15_tail(cand: str, doc_sh: str, hints: bool = False) -> str:
    h_common = "/*+ BROADCAST(c) */ " if hints else ""
    h_out = "/*+ BROADCAST(m, sa, sb) */ " if hints else ""
    return f"""
sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM {doc_sh} GROUP BY doc_id
), common AS (
  SELECT {h_common}c.da, c.db, COUNT(*) AS common
  FROM {cand} c
  JOIN {doc_sh} x ON x.doc_id = c.da
  JOIN {doc_sh} y ON y.doc_id = c.db AND y.sh = x.sh
  GROUP BY c.da, c.db
), scored AS (
  SELECT {h_out}
    CASE WHEN sa.sz <= sb.sz THEN c.da ELSE c.db END AS containee,
    CASE WHEN sa.sz <= sb.sz THEN c.db ELSE c.da END AS container,
    CASE WHEN sa.sz <= sb.sz THEN sa.sz ELSE sb.sz END AS sz_containee,
    CASE WHEN sa.sz <= sb.sz THEN sb.sz ELSE sa.sz END AS sz_container,
    COALESCE(m.common, 0) AS n_common,
    sa.sz + sb.sz - COALESCE(m.common, 0) AS sz_union
  FROM {cand} c
  LEFT JOIN common m ON m.da = c.da AND m.db = c.db
  JOIN sizes sa ON sa.doc_id = c.da
  JOIN sizes sb ON sb.doc_id = c.db
)
SELECT containee, container,
  CAST(sz_containee AS BIGINT) AS sz_containee,
  CAST(sz_container AS BIGINT) AS sz_container,
  CAST(n_common AS BIGINT)     AS n_common,
  CAST(ROUND(1000.0 * n_common / sz_containee) AS BIGINT) AS containment_x1000,
  CAST(ROUND(1000.0 * n_common / sz_union) AS BIGINT)     AS jaccard_x1000
FROM scored
WHERE 2 * n_common >= sz_containee
"""


_DD15_BOTTOM_K = 4
_DD15_MAX_DF = 100


def _dd15_fullsh(wordsh: str, split_fn: str) -> str:
    """Corpus-wide inverted gram index over exact-dedup reps:
    (doc_id, sh), DISTINCT per doc."""
    return f"""
SELECT DISTINCT doc_id, sh
FROM (
  SELECT r.doc_id, {wordsh} AS sh
  FROM (SELECT doc_id, {split_fn}(text, ' ') AS w
        FROM (SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text) reps) r
) t
"""


_DD15_FULLSH_SPARK = _dd15_fullsh(f"explode({_DD10_WORDSH_W_SPARK})", "split")
_DD15_FULLSH_DUCK = _dd15_fullsh(f"unnest({_DD10_WORDSH_W_DUCK})", "string_split")


def _dd15_cand_ctes(full_sh: str, hints: bool = False, df_window: bool = False) -> str:
    """The containee-channel CTEs (gram_df → bottom-k → probe pairs);
    callers open their own WITH chain and union ``ccand`` with the
    symmetric-banding candidates.

    ``df_window`` (Spark side): compute each gram's
    document frequency as COUNT(*) OVER (PARTITION BY sh) instead of the
    gram_df aggregate + self-join — identical df values (full_sh is
    DISTINCT (doc_id, sh), so the window count over sh IS the document
    frequency), one exchange and one full_sh scan fewer (the aggregate's
    sh-keyed exchange + the join's second full_sh read collapse into the
    single sh-partitioned window pass). The DuckDB oracle keeps the
    aggregate+join text (default False)."""
    # no broadcast hints on the gram_df / probe joins: gram_df and bk
    # are both corpus-scale at deployment — a forced broadcast caps scale.
    # AQE converts either join to broadcast AT RUNTIME when the built side
    # is actually small (it is at bench sf), so the unhinted plan is fast
    # at bench scale and correct at 100 TB.
    h_bk = ""
    h_probe = ""
    if df_window:
        bk_ctes = f"""
bk AS (
  -- the containee's partial signature: its {_DD15_BOTTOM_K} smallest grams
  -- in md5 order AMONG ITS RARE GRAMS (df <= {_DD15_MAX_DF}, filtered
  -- BEFORE the rank — r7; raw-gram tiebreak); df via a window over the
  -- same pass (r12)
  SELECT doc_id, sh FROM (
    SELECT doc_id, sh,
      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY md5(sh), sh) AS rn
    FROM (
      SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
      FROM {full_sh}
    ) fd WHERE df <= {_DD15_MAX_DF}
  ) t WHERE rn <= {_DD15_BOTTOM_K}
), ccand AS ("""
    else:
        bk_ctes = f"""
gram_df AS (
  SELECT sh, COUNT(*) AS df FROM {full_sh} GROUP BY sh
), bk AS (
  -- the containee's partial signature: its {_DD15_BOTTOM_K} smallest grams
  -- in md5 order AMONG ITS RARE GRAMS (df <= {_DD15_MAX_DF}, filtered
  -- BEFORE the rank — r7: ranking over all grams let an all-boilerplate
  -- bottom-{_DD15_BOTTOM_K} erase the signature; raw-gram tiebreak)
  SELECT doc_id, sh FROM (
    SELECT {h_bk}f.doc_id, f.sh,
      ROW_NUMBER() OVER (PARTITION BY f.doc_id ORDER BY md5(f.sh), f.sh) AS rn
    FROM {full_sh} f
    JOIN gram_df g ON g.sh = f.sh AND g.df <= {_DD15_MAX_DF}
  ) t WHERE rn <= {_DD15_BOTTOM_K}
), ccand AS ("""
    return bk_ctes + f"""
  -- probe postings are df-bounded by construction (every bk gram has
  -- df <= {_DD15_MAX_DF}). DISTINCT applied OUTSIDE the hinted join
  -- subquery: Spark 4.1 throws an internal AttributeMap error (Union
  -- rewriteConstraints) when a hinted DISTINCT projection of
  -- LEAST/GREATEST feeds a UNION branch
  SELECT DISTINCT da, db FROM (
    SELECT {h_probe}
      LEAST(b.doc_id, f.doc_id)    AS da,
      GREATEST(b.doc_id, f.doc_id) AS db
    FROM bk b
    JOIN {full_sh} f ON f.sh = b.sh AND f.doc_id <> b.doc_id
  ) probe
)"""


def _dd15_cand_union(sym_cand: str) -> str:
    # UNION ALL + outer DISTINCT, not UNION: Spark 4.1's UnionBase
    # constraint rewrite throws an internal AttributeMap error when the
    # deduplicating-UNION branch carries ccand's LEAST/GREATEST-derived
    # constraints; semantics are identical.
    return f"""
SELECT DISTINCT da, db FROM (
  SELECT da, db FROM ccand
  UNION ALL
  SELECT da, db FROM {sym_cand}
) u
"""


_DD15_CCAND_SPARK = (
    "WITH "
    + _dd15_cand_ctes("{full_sh}", hints=True, df_window=True)
    + "\nSELECT da, db FROM ccand"
)
# The containee channel is FUSED into the union statement (one eager
# checkpoint instead of two — the ccand probe work and the union's
# DISTINCT run as one job). A union over the LIVE ccand plan trips a
# Spark 4.1 internal AttributeMap error (UnionBase.rewriteConstraints,
# key not found: da#...) from the LEAST/GREATEST-derived constraints;
# dd15_containment runs this statement under
# spark.sql.constraintPropagation.enabled=false, and with propagation
# off no constraints exist to rewrite.
_DD15_CAND_SPARK = (
    "WITH "
    + _dd15_cand_ctes("{full_sh}", hints=True, df_window=True)
    + _dd15_cand_union("{sym_cand}")
)
_DD15_TAIL_SPARK = "WITH " + _dd15_tail("{cand}", "{full_sh}", hints=True)


def _dd15_duck() -> str:
    branches = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band,"
        " md5(concat("
        + ", ',', ".join(f"CAST(h{4*b+i} AS VARCHAR)" for i in range(4))
        + ")) AS bkey FROM sig"
        for b in range(2)
    )
    sig = _DD10_SIG_DUCK.replace("FROM documents", "FROM reps")
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
sig AS ({sig}),
bands AS (
  {branches}
),{_dd10_band_ctes("sig")},
full_sh AS ({_DD15_FULLSH_DUCK}),
{_dd15_cand_ctes("full_sh")},
cand2 AS ({_dd15_cand_union("cand")}),{_dd15_tail("cand2", "full_sh")}
"""


@query("dd15_containment", oracle=_dd15_duck(), tags=("dedup", "containment", "lsh"))
def dd15_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment scoring: |A∩B| / |smaller set| per
    candidate pair, emitting containee→container pairs at containment
    >= 0.5 — the doc-in-doc / near-superset signal symmetric Jaccard
    misses (a short doc inside a long one has low J but high
    containment). Candidates are TWO-CHANNEL: dd10's symmetric
    MinHash banding (shared materialized signatures/candidates) UNION a
    containee-side bottom-k gram sketch probing the corpus inverted
    index — the channel that actually surfaces extreme size-ratio
    containment, which banding's collision probability (∝ J^4) never
    fires on. The tail is the same O(candidates) intersection join
    normalized by the smaller set."""
    sym_cand = _dd10_prepare(spark, sf_dir, with_doc_sh=False)["cand"]
    full_sh = checkpoint(spark.sql(_DD15_FULLSH_SPARK), eager=True)
    # Spark 4.1 bug dodge: the deduplicating union trips an internal
    # AttributeMap error (UnionBase.rewriteConstraints: key not found)
    # when a branch's lineage carries LEAST/GREATEST- or da<db-derived
    # constraints. Constraint propagation is pure optimizer pruning — off
    # for this ONE statement, restored immediately. The containee
    # channel's CTEs live INSIDE this statement (one checkpoint job
    # instead of two — each CTE is referenced exactly once, so nothing
    # recomputes), which this conf scope also makes legal.
    with scoped_conf(spark, "spark.sql.constraintPropagation.enabled", "false"):
        cand = checkpoint(
            spark.sql(_DD15_CAND_SPARK, full_sh=full_sh, sym_cand=sym_cand), eager=True
        )
    return spark.sql(_DD15_TAIL_SPARK, cand=cand, full_sh=full_sh)


# ---------------------------------------------------------------------------
# dc04 — benchmark-side contamination report (which EVAL items are burned)
# ---------------------------------------------------------------------------
# dc01/dc03 flag TRAINING docs for removal; the eval team needs the other
# direction: for each BENCHMARK item, how much of it appears in the
# training corpus and from how many distinct training documents — the
# per-item contamination table published in model-card appendices (GPT-3
# App. C reports exactly this: % of each benchmark's items clean vs
# dirty). Items the filter missed stay in the report with zeros, so the
# table is the complete benchmark census, not just the dirty rows.
#
# Scale shape: attribution-flipped dc01 — the benchmark gram set (with
# item ids) is the SMALL side and broadcasts; the corpus-scale training
# explode streams through the join un-shuffled; the only shuffles are
# the post-join per-item aggregate (hit rows only) and the bounded
# bench-census aggregate. Both COUNT(DISTINCT)s key on the bench item.

_DC04_GRAMS = """
  SELECT doc_id, {explode} AS h
  FROM (SELECT doc_id, {split}(text, ' ') AS w FROM documents
        WHERE doc_id % 97 {op} 0) d
  WHERE {size}(w) >= 5
"""


def _dc04(explode_b: str, explode_g: str, split: str, size: str,
          h_bench: str, h_final: str = "") -> str:
    bench = _DC04_GRAMS.format(explode=explode_b, split=split, size=size, op="=")
    train = _DC04_GRAMS.format(explode=explode_g, split=split, size=size, op="<>")
    return f"""
WITH bq AS (
  SELECT DISTINCT doc_id, h FROM ({bench}) b0
), g AS (
{train}
), hits AS (
  SELECT {h_bench}b.doc_id AS bench_id, b.h AS h, g.doc_id AS train_id
  FROM g JOIN bq b ON g.h = b.h
), per AS (
  SELECT bench_id, COUNT(DISTINCT h) AS n_hit,
         COUNT(DISTINCT train_id)    AS n_train_docs
  FROM hits GROUP BY bench_id
), sz AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM bq GROUP BY doc_id
)
SELECT {h_final}sz.doc_id                         AS bench_id,
  CAST(sz.n_grams AS BIGINT)                      AS n_grams,
  CAST(COALESCE(p.n_hit, 0) AS BIGINT)            AS n_grams_hit,
  CAST(ROUND(1000.0 * COALESCE(p.n_hit, 0) / sz.n_grams) AS BIGINT)
                                                  AS hit_frac_x1000,
  CAST(COALESCE(p.n_train_docs, 0) AS BIGINT)     AS n_train_docs
FROM sz LEFT JOIN per p ON p.bench_id = sz.doc_id
"""


_DC04_EXPL_SPARK = (
    "explode(transform(sequence(0, size(w) - 5),"
    " i -> md5(array_join(slice(w, i + 1, 5), ' '))))"
)
_DC04_EXPL_DUCK = (
    "unnest(list_transform(range(0, len(w) - 4),"
    " i -> md5(array_to_string(w[i + 1 : i + 5], ' '))))"
)

_DC04_SPARK = _dc04(
    _DC04_EXPL_SPARK, _DC04_EXPL_SPARK, "split", "size", "/*+ BROADCAST(bq) */ ",
    h_final="/*+ BROADCAST(p) */ ",
)
_DC04_DUCK = _dc04(_DC04_EXPL_DUCK, _DC04_EXPL_DUCK, "string_split", "len", "")


@query("dc04_benchmark_burn", oracle=_DC04_DUCK, tags=("decontamination", "eval", "report"))
def dc04_benchmark_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-side contamination census: per benchmark item (the
    doc_id % 97 slice), the fraction of its distinct 5-grams present in
    the training corpus and the number of distinct training docs carrying
    them — the per-item dirty/clean table eval teams publish, complete
    with zero rows for clean items. Attribution-flipped dc01: the bench
    gram set broadcasts with item ids, the corpus explode streams through
    the join un-shuffled; aggregates key on the bench item."""
    return _sql(spark, sf_dir, _DC04_SPARK)


# ---------------------------------------------------------------------------
# dd16 — LSH calibration audit (estimated vs exact Jaccard per agreement)
# ---------------------------------------------------------------------------
# The banding parameters everything upstream rests on (dd04/dd10's 2×4
# bands, the ≥5-of-8 agreement gate, the j ≥ 0.8 verify threshold) are
# theory-derived; a production pipeline VALIDATES them by comparing the
# MinHash ESTIMATE against exact Jaccard on the verified candidates —
# E[agree/8] = J, so each agreement level should track its exact-J band,
# and the calibration table is what you read before retuning bands/rows
# (Broder 1997's estimator, audited the way Lee et al. 2022 audit their
# dedup thresholds). dd16 emits, per signature-agreement level (5..8):
# candidate count, mean/min/max exact Jaccard (x1000), the estimator's
# mean absolute error, and how many pairs pass the 0.8 dup gate — i.e.
# the per-level precision of the banding stack.
#
# Scale shape: reuses dd10's three materialized intermediates verbatim
# (signatures / gated candidates / candidate-doc shingles); the agreement
# recount is a candidates×signatures broadcast join (8 integer equality
# checks per pair on already-computed hashes); exact J is the same
# O(candidates) intersection join dd10's verify tail runs; output is ≤4
# rows.


def _dd16_tail(
    cand: str, doc_sh: str, sig: str, hints: bool = False,
    agree_from_cand: bool = False,
) -> str:
    """``agree_from_cand`` (Spark side): the materialized candidate
    relation already carries the n_agree its gate computed
    (emit_agree in _dd10_band_ctes), so the calibration recount drops its
    two signature re-joins and reads the column. The DuckDB oracle keeps
    the re-join text (default False) — identical values either way."""
    h_agree = "/*+ BROADCAST(c) */ " if hints else ""
    if agree_from_cand:
        agree_cte = f""", agree AS (
  SELECT da, db, n_agree FROM {cand}
)"""
    else:
        agree_cte = f""", agree AS (
  SELECT {h_agree}c.da, c.db, ({_DD10_AGREE}) AS n_agree
  FROM {cand} c
  JOIN {sig} sa ON sa.doc_id = c.da
  JOIN {sig} sb ON sb.doc_id = c.db
)"""
    return (
        _dd10_jac_ctes(cand, doc_sh, hints)
        + agree_cte
        + """
SELECT a.n_agree,
  CAST(COUNT(*) AS BIGINT)                                   AS n_pairs,
  CAST(ROUND(1000.0 * AVG(j.j)) AS BIGINT)                   AS mean_jaccard_x1000,
  CAST(ROUND(1000.0 * MIN(j.j)) AS BIGINT)                   AS min_jaccard_x1000,
  CAST(ROUND(1000.0 * MAX(j.j)) AS BIGINT)                   AS max_jaccard_x1000,
  CAST(ROUND(1000.0 * AVG(ABS(a.n_agree / 8.0 - j.j))) AS BIGINT)
                                                             AS est_abs_err_x1000,
  CAST(SUM(CASE WHEN j.j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_dup_gate
FROM agree a
JOIN jac j ON j.da = a.da AND j.db = a.db
GROUP BY a.n_agree
"""
    )


_DD16_TAIL_SPARK = "WITH " + _dd16_tail(
    "{cand}", "{doc_sh}", "{sig}", hints=True, agree_from_cand=True
)


def _dd16_duck() -> str:
    branches = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band,"
        " md5(concat("
        + ", ',', ".join(f"CAST(h{4*b+i} AS VARCHAR)" for i in range(4))
        + ")) AS bkey FROM sig"
        for b in range(2)
    )
    sig = _DD10_SIG_DUCK.replace("FROM documents", "FROM reps")
    return f"""
WITH reps AS (
  SELECT MIN(doc_id) AS doc_id, text FROM documents GROUP BY text
),
sig AS ({sig}),
bands AS (
  {branches}
),{_dd10_band_ctes("sig")},
cdocs AS (
  SELECT da AS doc_id FROM cand UNION SELECT db FROM cand
), doc_sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT d.doc_id, unnest({_DD10_WORDSH_W_DUCK}) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
    JOIN cdocs c ON c.doc_id = d.doc_id
  ) t
),{_dd16_tail("cand", "doc_sh", "sig")}
"""


@query("dd16_lsh_calibration", oracle=_dd16_duck(), tags=("dedup", "lsh", "calibration", "eval"))
def dd16_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash/LSH calibration audit: per signature-agreement level of
    dd10's gated candidates, the exact-Jaccard distribution, the
    estimator's mean absolute error (E[agree/8] = J — Broder's bound,
    checked empirically) and the per-level precision at the j >= 0.8 dup
    gate — the table that justifies (or retunes) the banding parameters
    the whole dedup stack rests on. Reuses dd10's three materialized
    intermediates; the agreement recount is a broadcast join over
    already-computed hashes; output <= 4 rows."""
    return spark.sql(_DD16_TAIL_SPARK, **_dd10_prepare(spark, sf_dir))


# ---------------------------------------------------------------------------
# dd17 — incremental ingest near-dup dedup (delta-vs-corpus)
# ---------------------------------------------------------------------------
# dd04/dd10 dedup the WHOLE corpus; production never re-runs that — a 100 TB
# corpus is deduped once, and every subsequent ingest batch (the daily ~0.1%)
# is checked INCREMENTALLY against the standing corpus state: the batch's
# MinHash bands probe the corpus band index, exact Jaccard verifies only the
# probe hits, and only duplicate-free batch docs are admitted. dd17 is that
# shape on the synthetic corpus: doc_id % 7 = 3 plays the ingest batch (~14%, coprime with the
# 20-source layout so every source ships batch docs),
# the rest plays the standing corpus. The corpus-side signatures/bands are
# computed in-query here because parquet is the only input; at deployment
# they are STORED state (the signature relation is exactly what a real
# pipeline persists per shard — narrow, mergeable, rewritten only by
# admission), so the recurring cost is O(batch) probe + O(hits) verify.
#
# No exact-dedup reps collapse (unlike dd10): a batch doc IDENTICAL to a
# corpus doc is precisely what the operator must catch, and collapsing
# would merge the two sides. Pair blow-up control stays with the
# mega-bucket guard (<= 100 per bucket) and the >= 5/8 agreement gate;
# batch x batch pairs are out of scope by construction (the batch is
# deduped against ITSELF by a plain dd10 pass at 1/5000th the corpus cost).

_DD17_DELTA_PRED = "doc_id % 7 = 3"


def _dd17_cand_ctes(branches: str, sig_src: str, guard_window: bool = False) -> str:
    """Pure CTE chain (bands → guard → probe → agreement gate) ending in
    ``cand`` — a lead parameter on each caller, no post-hoc string
    surgery.

    ``guard_window`` (Spark side): bucket size via COUNT(*) OVER
    (PARTITION BY band, bkey) — same rows survive, the bands chain is
    evaluated half as often under cand0's self-join and the bsize
    aggregate's exchange disappears (see _dd10_band_ctes). DuckDB oracle
    keeps the aggregate+join text (default False)."""
    if guard_window:
        guard = """bands_ok AS (
  SELECT doc_id, is_d, band, bkey FROM (
    SELECT doc_id, is_d, band, bkey,
           COUNT(*) OVER (PARTITION BY band, bkey) AS n
    FROM bands
  ) g WHERE n <= 100
)"""
    else:
        guard = """bsize AS (
  SELECT band, bkey, COUNT(*) AS n FROM bands GROUP BY band, bkey
), bands_ok AS (
  SELECT b.doc_id, b.is_d, b.band, b.bkey
  FROM bands b JOIN bsize s ON b.band = s.band AND b.bkey = s.bkey
  WHERE s.n <= 100
)"""
    return f"""bands AS (
  {branches}
), {guard}, cand0 AS (
  -- batch side probes corpus side only: no a<b, the sides are disjoint
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands_ok a JOIN bands_ok b
    ON a.band = b.band AND a.bkey = b.bkey AND a.is_d = 1 AND b.is_d = 0
), cand AS (
  SELECT c.da, c.db
  FROM cand0 c
  JOIN {sig_src} sa ON sa.doc_id = c.da
  JOIN {sig_src} sb ON sb.doc_id = c.db
  WHERE ({_DD10_AGREE}) >= {_DD10_MIN_AGREE}
)"""


def _dd17_tail(cand: str, doc_sh: str, hints: bool = False) -> str:
    h_best = "/*+ BROADCAST(b) */ " if hints else ""
    return (
        _dd10_jac_ctes(cand, doc_sh, hints)
        + f"""
, best AS (
  SELECT da, MAX(j) AS best_j, COUNT(*) AS n_cand FROM jac GROUP BY da
), delta AS (
  SELECT doc_id, source FROM documents WHERE {_DD17_DELTA_PRED}
)
SELECT {h_best}d.source,
  CAST(COUNT(*) AS BIGINT)                                   AS n_batch_docs,
  CAST(SUM(CASE WHEN b.da IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS n_with_candidates,
  CAST(SUM(COALESCE(b.n_cand, 0)) AS BIGINT)                 AS n_candidate_pairs,
  CAST(SUM(CASE WHEN b.best_j >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS n_rejected_dup,
  CAST(SUM(CASE WHEN b.best_j >= 0.8 THEN d.doc_id ELSE 0 END) AS BIGINT)
                                                             AS rejected_checksum,
  ROUND(COALESCE(MAX(b.best_j), -1.0), 4)                    AS max_jaccard
FROM delta d LEFT JOIN best b ON b.da = d.doc_id
GROUP BY d.source
"""
    )


# signatures over ALL docs, no reps collapse (see module comment)
_DD17_SIG_SPARK = _minhash_sig_sql(
    _DD10_WORDSH_W_SPARK,
    "CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)",
    "array_min",
    "h ^ shiftright(h, {r})",
).replace(
    "FROM documents",
    "FROM (SELECT doc_id, split(text, ' ') AS w FROM documents) r",
)

_DD17_BANDS_BRANCH_SPARK = f"""
  SELECT doc_id, CASE WHEN {_DD17_DELTA_PRED} THEN 1 ELSE 0 END AS is_d,
         band, bkey
  FROM {{sig}}
  LATERAL VIEW posexplode(array(
    {_DD10_BAND_KEYS_SPARK}
  )) t AS band, bkey
"""

_DD17_CAND_SPARK = (
    "WITH "
    + _dd17_cand_ctes(_DD17_BANDS_BRANCH_SPARK, "{sig}", guard_window=True)
    + "\nSELECT da, db FROM cand"
)

_DD17_TAIL_SPARK = "WITH " + _dd17_tail("{cand}", "{doc_sh}", hints=True)


def _dd17_duck() -> str:
    branches = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, CASE WHEN {_DD17_DELTA_PRED} THEN 1 ELSE 0 END AS is_d,"
        f" {b} AS band,"
        " md5(concat("
        + ", ',', ".join(f"CAST(h{4*b+i} AS VARCHAR)" for i in range(4))
        + ")) AS bkey FROM sig"
        for b in range(2)
    )
    sig = _minhash_sig_sql(
        _DD10_WORDSH_W_DUCK,
        "(('0x' || substr(md5({expr}), 1, 15))::BIGINT)",
        "list_min",
        "xor(h, h >> {r})",
    ).replace(
        "FROM documents",
        "FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) r",
    )
    return f"""
WITH sig AS ({sig}),
{_dd17_cand_ctes(branches, "sig")}, cdocs AS (
  SELECT da AS doc_id FROM cand UNION SELECT db FROM cand
), doc_sh AS (
  SELECT DISTINCT doc_id, sh
  FROM (
    SELECT d.doc_id, unnest({_DD10_WORDSH_W_DUCK}) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
    JOIN cdocs c ON c.doc_id = d.doc_id
  ) t
), {_dd17_tail("cand", "doc_sh")}
"""


_DD17_DUCK = _dd17_duck()


@query("dd17_incremental_dedup", oracle=_DD17_DUCK, tags=("dedup", "lsh", "incremental"))
def dd17_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest near-dup dedup: the batch slice (doc_id % 7 = 3)
    probes the standing corpus's MinHash band index (2 bands x 4 hashes,
    mega-bucket guard, >= 5/8 agreement gate — dd10's machinery, sides
    disjoint), exact word-5-gram Jaccard verifies only the probe hits,
    and the per-source admission report counts batch docs rejected at
    J >= 0.8 with an id checksum. THE recurring shape at 100 TB: the
    corpus never re-dedups, its signature/band relation is stored
    mergeable state, and each ingest batch costs O(batch) probe +
    O(hits) verify. No reps collapse — a batch doc identical to a
    corpus doc is exactly what must be caught.

    The three intermediates (signatures, gated candidates, candidate-doc
    shingles) are materialized once, same as dd10 (Catalyst CTE inlining
    would recompute signatures per tail reference)."""
    register_views(spark, sf_dir)
    sig = checkpoint(spark.sql(_DD17_SIG_SPARK), eager=True)
    cand = checkpoint(spark.sql(_DD17_CAND_SPARK, sig=sig), eager=True)
    doc_sh = checkpoint(spark.sql(_DD10_DOCSH_SPARK, cand=cand), eager=True)
    return spark.sql(_DD17_TAIL_SPARK, cand=cand, doc_sh=doc_sh)
