"""Similarity search over the ``embeddings`` table (``array<float>``, 64-d).

Three tiers, mirroring how ANN is actually deployed at scale:

- ss01 — brute-force cosine top-k: the exact baseline. O(n) per query;
  fine for reranking, wrong as the primary index at 100 TB.
- ss02 — random-hyperplane LSH bucketing: signature bits from deterministic
  md5-derived ±1 projections; at scale the query only scans its own bucket
  (candidate set ≈ n / 2^planes). The bucket histogram is the oracle-checked
  output (bucketing is the load-bearing part).
- ss03 — IVF-style coarse quantization: assign every vector to its nearest
  of a fixed centroid set; at scale you search the nearest `nprobe` cells
  only. Centroids here are a deterministic FIXED-size subset
  (vec_id % 16 == 0 and vec_id < 1024, <= 64 entries at any corpus size)
  so the assignment is oracle-checkable without float-unstable training
  and the broadcast side stays O(1) in the corpus.

All vector math is native ``zip_with``/``aggregate`` (sequential fold — the
same evaluation order DuckDB's list functions use, so doubles match
bit-for-bit; verified by the parity suite).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_converter_spark.catalog import load_table, register_views
from db_converter_spark.functions.vectors import cosine_similarity
from db_converter_spark.registry import checkpoint, query

# Storage level for the CORPUS-SCALE checkpointed intermediates (the
# exploded n·d vflat/pqflat tables, ~128M rows at sf100): the
# localCheckpoint default stores blocks DESERIALIZED, whose JVM object
# overhead OOMs ss07 at sf100 on a 16 GB heap;
# serialized MEMORY_AND_DISK is 3-5x smaller and overflows to disk
# gracefully under unroll pressure. Bounded tables (codebooks,
# assignments, candidate sets) keep the fast deserialized default.
_BIG_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

N_PLANES = 6


def _sql(spark: SparkSession, sf_dir: str, stmt: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(stmt)


# ---------------------------------------------------------------------------
# ss01 — brute-force cosine top-k
# ---------------------------------------------------------------------------

# NOTE: not list_cosine_similarity() — that computes in float32 on a FLOAT[]
# column. Explicit double-precision folds mirror vectors.py bit-for-bit.
_SS01_DUCK = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id, e.label,
    list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len(e.embedding))],
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, label, ROUND(sim, 6) AS cos_sim
FROM sims
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


@query("ss01_cosine_topk", oracle=_SS01_DUCK, tags=("similarity", "knn"))
def ss01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0. The query vector is a
    1-row broadcast cross join; top-k compiles to TakeOrderedAndProject —
    no global sort. Scale path: this IS the rerank stage after ss02/ss03."""
    register_views(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ss02 — random-hyperplane LSH buckets
# ---------------------------------------------------------------------------


# Plane p weight for dim d: ±1 from parity of md5("p_d"); signature bit =
# sign of Σ_d w(p,d)·emb[d]; bucket id = Σ_p bit_p·2^p. Spark folds with
# aggregate(); DuckDB with list_sum (both sequential over the array).


def _ss02_spark_bucket_expr() -> str:
    """Random-hyperplane bucket id over `embedding`/`idx` columns (Spark
    spelling) — shared with dd07's near-dup candidate join."""
    planes = []
    for p in range(N_PLANES):
        w = f"CAST(conv(substring(md5(concat('{p}', '_', CAST(i AS STRING))), 1, 8), 16, 10) AS BIGINT)"
        proj = (
            f"aggregate(transform(idx, i -> "
            f"(CASE WHEN {w} % 2 = 1 THEN 1.0D ELSE -1.0D END) * CAST(element_at(embedding, i) AS DOUBLE)"
            f"), 0.0D, (acc, x) -> acc + x)"
        )
        planes.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(planes)


def _ss02_spark() -> str:
    bucket = _ss02_spark_bucket_expr()
    return f"""
WITH v AS (
  SELECT vec_id, embedding, sequence(1, size(embedding)) AS idx FROM embeddings
), bucketed AS (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM v
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM bucketed GROUP BY bucket
"""


def _ss02_duck_bucket_expr() -> str:
    planes = []
    for p in range(N_PLANES):
        w = f"(('0x' || substr(md5(concat('{p}', '_', CAST(i AS STRING))), 1, 8))::BIGINT)"
        proj = (
            f"list_sum(list_transform(idx, i -> "
            f"(CASE WHEN {w} % 2 = 1 THEN 1.0 ELSE -1.0 END) * CAST(embedding[i] AS DOUBLE)"
            f"))"
        )
        planes.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(planes)


def _ss02_duck() -> str:
    bucket = _ss02_duck_bucket_expr()
    return f"""
WITH v AS (
  SELECT vec_id, embedding, [CAST(g AS INT) for g in generate_series(1, len(embedding))] AS idx
  FROM embeddings
), bucketed AS (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket FROM v
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM bucketed GROUP BY bucket
"""


@query("ss02_lsh_buckets", oracle=_ss02_duck(), tags=("similarity", "lsh", "ann"))
def ss02_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 6 deterministic ±1 hyperplanes → 64 buckets.
    At scale: partition/bucket the table BY this key; a query computes its own
    signature and scans one bucket (plus neighbors for recall). Per-row
    array-domain compute, single groupBy for the histogram."""
    return _sql(spark, sf_dir, _ss02_spark())


# ---------------------------------------------------------------------------
# ss03 — IVF-style coarse assignment
# ---------------------------------------------------------------------------

_SS03_DUCK = """
WITH vecs AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), centroids AS (
  SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm FROM vecs WHERE vec_id % 16 = 0 AND vec_id < 1024
), assign AS (
  SELECT v.vec_id, c.cid,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(
             list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len(v.embedding))],
                      i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))
             / (v.nrm * c.cnrm), 6) DESC, c.cid
         ) AS rn
  FROM vecs v CROSS JOIN centroids c
)
SELECT cid, CAST(COUNT(*) AS BIGINT) AS cell_size
FROM assign WHERE rn = 1
GROUP BY cid
"""


@query("ss03_ivf_assign", oracle=_SS03_DUCK, tags=("similarity", "ivf", "ann"))
def ss03_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: nearest-centroid assignment (centroids = the
    deterministic vec_id%16==0, vec_id<1024 subset — a FIXED-size codebook
    of <= 64 entries at any corpus size, as a trained IVF codebook would be,
    not a corpus-proportional slice). Centroid set
    broadcasts; assignment is a map-side cross join + window argmin — one
    small shuffle on vec_id for the argmin, one tiny aggregate. At 100 TB:
    write the table partitioned by `cid`; queries probe nearest cells
    only."""
    register_views(spark, sf_dir)
    from pyspark.sql.window import Window

    from db_converter_spark.functions.vectors import dot, l2_norm

    # Norms precomputed once per vector/centroid — the pairwise loop then
    # does only the dot product (the dominant cost at 100 TB fan-outs).
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm"))
    )
    c = e.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 1024)).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    sim = F.round(
        dot(F.col("embedding"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 6
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    return (
        e.crossJoin(F.broadcast(c))
        .select("vec_id", "cid", sim.alias("sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cell_size"))
    )


# ---------------------------------------------------------------------------
# ss04 — IVF top-k probe search (the query path over ss03's index)
# ---------------------------------------------------------------------------


def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len({a}))], "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


_SS04_DUCK = f"""
WITH vecs AS (
  SELECT vec_id, label, embedding,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
), centroids AS (
  SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm FROM vecs WHERE vec_id % 16 = 0 AND vec_id < 1024
), q AS (
  SELECT embedding AS qv, nrm AS qnrm FROM vecs WHERE vec_id = 0
), probe AS (
  SELECT cid FROM (
    SELECT c.cid,
      ROW_NUMBER() OVER (ORDER BY ROUND({_duck_dot('c.cv', 'q.qv')} / (c.cnrm * q.qnrm), 6) DESC, c.cid) AS rn
    FROM centroids c CROSS JOIN q
  ) t WHERE rn <= 4
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
      ROW_NUMBER() OVER (
        PARTITION BY v.vec_id
        ORDER BY ROUND({_duck_dot('v.embedding', 'c.cv')} / (v.nrm * c.cnrm), 6) DESC, c.cid
      ) AS rn
    FROM vecs v CROSS JOIN centroids c
  ) t WHERE rn = 1
)
SELECT v.vec_id, v.label,
  ROUND({_duck_dot('v.embedding', 'q.qv')} / (v.nrm * q.qnrm), 6) AS cos_sim
FROM vecs v
JOIN assign a ON a.vec_id = v.vec_id
JOIN probe p ON p.cid = a.cid
CROSS JOIN q
WHERE v.vec_id <> 0
ORDER BY cos_sim DESC, v.vec_id
LIMIT 10
"""


@query("ss04_ivf_topk", oracle=_SS04_DUCK, tags=("similarity", "ivf", "ann", "knn"))
def ss04_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF QUERY path: rank centroids against the query vector, probe the
    nearest 4 cells, exact-cosine rerank only vectors assigned there, top-10.
    At 100 TB the assignment is precomputed (table partitioned by cid), so a
    query touches nprobe/n_cells of the data — here the assignment is inlined
    (same argmin as ss03) to keep the operator self-contained. Probe set and
    centroids broadcast; the only wide op is ss03's argmin shuffle, and the
    final top-k is TakeOrderedAndProject, never a global sort."""
    register_views(spark, sf_dir)
    from pyspark.sql.window import Window

    from db_converter_spark.functions.vectors import dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    c = e.filter((F.col("vec_id") % 16 == 0) & (F.col("vec_id") < 1024)).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qnrm")
    )
    probe = (
        c.crossJoin(F.broadcast(q))
        .select(
            "cid",
            F.round(
                dot(F.col("cv"), F.col("qv")) / (F.col("cnrm") * F.col("qnrm")), 6
            ).alias("qsim"),
        )
        .orderBy(F.col("qsim").desc(), "cid")
        .limit(4)
        .select("cid")
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
    assign = (
        e.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "cid",
            F.round(
                dot(F.col("embedding"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")),
                6,
            ).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    return (
        e.join(assign, "vec_id")
        .join(F.broadcast(probe), "cid")
        .crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.round(
                dot(F.col("embedding"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# ss05 — k-NN join (many-query batch ANN)
# ---------------------------------------------------------------------------

_SS05_DUCK = """
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1500
), sims AS (
  SELECT q.q_id, e.vec_id,
    list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len(e.embedding))],
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
      AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
)
SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, ROUND(sim, 6) AS cos_sim
FROM ranked WHERE rnk <= 3
"""


@query("ss05_knn_join", oracle=_SS05_DUCK, tags=("similarity", "knn", "join"))
def ss05_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join: top-3 exact cosine neighbors for every query vector
    in a FIXED query batch (vec_id % 50, vec_id < 1500 — <= 30 queries at
    any corpus size, not a corpus-proportional slice) — the many-query generalization of ss01 and the building block
    of embedding-based retrieval/labeling pipelines.

    Plan: the fixed query batch broadcasts, the corpus streams through ONE
    broadcast nested-loop pass, and the per-query top-3 is a window over
    q_id — shuffle keyed by q_id only. With the batch size a constant, the
    total work is O(corpus), linear at any scale. For much larger query
    batches, compose with ss02/ss03 bucket pruning on the streamed side
    first (join on bucket, then rerank) — ss04 demonstrates that path for
    one query; this operator is the exact-rerank stage."""
    from pyspark.sql.window import Window

    register_views(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 1500))
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine_similarity(F.col("embedding"), F.col("qv")).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "q_id",
            F.col("rnk").cast("bigint").alias("rnk"),
            "vec_id",
            F.round("sim", 6).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# ss06 — product quantization (ADC top-k over a fixed codebook)
# ---------------------------------------------------------------------------

_PQ_M = 4          # subspaces (64-d → 4 × 16-d)
_PQ_SUBDIM = 16
_PQ_K = 16         # codewords per subspace


def _pq_spark_l2sq(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f"), 0.0D, (acc, x) -> acc + x)"
    )


def _pq_duck_l2sq(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len({a}))], "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def _ss06(slice_expr: str, l2sq, values_m: str, hint: str = "") -> str:
    # Per-term ROUND before the 4-term SUM: the rounded cell distances are
    # what both engines add, so partial-aggregation order can never flip
    # the final 6-digit rounding.
    return f"""
WITH ms AS (
  SELECT * FROM {values_m}
), sub AS (
  SELECT v.vec_id, v.label, ms.m, {slice_expr} AS sv
  FROM embeddings v CROSS JOIN ms
), cw AS (
  SELECT vec_id AS k, m, sv AS cv FROM sub WHERE vec_id < {_PQ_K}
), assign AS (
  SELECT vec_id, label, m, k FROM (
    SELECT s.vec_id, s.label, s.m, c.k,
      ROW_NUMBER() OVER (
        PARTITION BY s.vec_id, s.m
        ORDER BY ROUND({l2sq('s.sv', 'c.cv')}, 6) ASC, c.k
      ) AS rn
    FROM sub s JOIN cw c ON s.m = c.m
  ) t WHERE rn = 1
), qtab AS (
  SELECT c.m, c.k, ROUND({l2sq('q.sv', 'c.cv')}, 6) AS d
  FROM cw c JOIN (SELECT m, sv FROM sub WHERE vec_id = 0) q ON q.m = c.m
)
SELECT {hint}a.vec_id, a.label, ROUND(SUM(qt.d), 6) AS adc_dist
FROM assign a JOIN qtab qt ON qt.m = a.m AND qt.k = a.k
WHERE a.vec_id <> 0
GROUP BY a.vec_id, a.label
ORDER BY adc_dist ASC, a.vec_id
LIMIT 10
"""


_SS06_SPARK = _ss06(
    f"slice(v.embedding, ms.m * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM})",
    _pq_spark_l2sq,
    "(VALUES (0), (1), (2), (3)) AS t(m)",
    # qtab is 64 rows but reaches the join behind a window+join lineage
    # with no stats — without the hint it plans as SortMergeJoin
    hint="/*+ BROADCAST(qt) */ ",
)
_SS06_DUCK = _ss06(
    f"list_slice(v.embedding, ms.m * {_PQ_SUBDIM} + 1, ms.m * {_PQ_SUBDIM} + {_PQ_SUBDIM})",
    _pq_duck_l2sq,
    "(VALUES (0), (1), (2), (3)) t(m)",
)


# ---------------------------------------------------------------------------
# ss07 — distributed Lloyd's k-means (trains the coarse codebook in-engine)
# ---------------------------------------------------------------------------

_KM_K = 8          # centroids
_KM_T = 3          # fixed Lloyd iterations (no data-dependent stopping —
                   # determinism + oracle-expressibility)
_KM_D = 64         # embedding dims
_KM_Q = 1000       # quantization scale


def _ss07_vflat(quant: str, dims: str, elem: str) -> str:
    """The (vec_id, d, x) exploded quantized-vector table — the one input
    every k-means stage reads. The Spark builder materializes it ONCE
    (localCheckpoint): the unrolled plan references it ~7 times, and
    recomputing scan+quantize+explode per reference dominated cost."""
    return f"""
SELECT v.vec_id, dims.d, {elem} AS x
FROM (SELECT vec_id, {quant} AS xq FROM embeddings) v
CROSS JOIN {dims} dims
"""


def _ss07_stages(vflat: str, intdiv: str, hint_c: str, hint_u: str, prelude: str = "") -> list[str]:
    """The unrolled k-means CTE stages over a ``vflat`` relation,
    dialect-parameterized — shared by ss07 (training output) and ss08
    (trained-IVF query path). EXACT cross-engine arithmetic: vectors
    quantize to BIGINT (×1000 — values are O(1), so |xq| ≤ ~1000 and
    every distance/sum below stays far under 2^53), distances and
    per-dim sums are integer ops, and the centroid update rounds half-up
    WITHOUT float ROUND via FLOOR((2s + n) / 2n) — the quotient has
    denominator 2n, so it is either exactly representable (the tie case)
    or ≥ 1/2n away from an integer, far beyond double error: FLOOR is
    deterministic and identical in both engines."""
    stages = ([prelude] if prelude else []) + [
        f"""cent0 AS (
  SELECT CAST(vec_id {intdiv} 16 AS BIGINT) AS cid, d, x AS val
  FROM {vflat} WHERE vec_id % 16 = 0 AND vec_id < {_KM_K * 16}
)"""
    ]
    for t in range(_KM_T):
        stages.append(
            f"""dist{t} AS (
  SELECT {hint_c}v.vec_id, c.cid, SUM((v.x - c.val) * (v.x - c.val)) AS dd
  FROM {vflat} v JOIN cent{t} c ON c.d = v.d
  GROUP BY v.vec_id, c.cid
), asg{t} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd ASC, cid) AS rn
    FROM dist{t}) r WHERE rn = 1
), upd{t} AS (
  SELECT a.cid, v.d, SUM(v.x) AS s, COUNT(*) AS n
  FROM asg{t} a JOIN {vflat} v ON v.vec_id = a.vec_id
  GROUP BY a.cid, v.d
), cent{t + 1} AS (
  SELECT {hint_u}c.cid, c.d,
         CAST(COALESCE(FLOOR((2.0 * u.s + u.n) / (2.0 * u.n)),
                       CAST(c.val AS DOUBLE)) AS BIGINT) AS val
  FROM cent{t} c LEFT JOIN upd{t} u ON u.cid = c.cid AND u.d = c.d
)"""
        )
    return stages


def _ss07_main(vflat: str, intdiv: str, hint_c: str, hint_u: str, prelude: str = "") -> str:
    """ss07's training output: per trained centroid, final cell size +
    exact integer checksums (see ``_ss07_stages``)."""
    stages = _ss07_stages(vflat, intdiv, hint_c, hint_u, prelude)
    last = _KM_T
    return f"""
WITH {", ".join(stages)}
SELECT {hint_u.replace("u)", "sz)")}c.cid,
  CAST(COALESCE(MAX(sz.n), 0) AS BIGINT) AS cell_size,
  CAST(SUM(c.d * c.val) AS BIGINT)       AS c_checksum,
  CAST(SUM(c.val * c.val) AS BIGINT)     AS c_norm_sq
FROM cent{last} c
LEFT JOIN (SELECT cid, COUNT(*) AS n FROM asg{last - 1} GROUP BY cid) sz
  ON sz.cid = c.cid
GROUP BY c.cid
"""


_SS08_NPROBE = 2


def _ss08_main(vflat: str, intdiv: str, hint_c: str, hint_u: str, prelude: str = "") -> str:
    """ss08: the trained-IVF QUERY path — k-means stages through
    cent{T}, then probe the query's nearest cells and exact-rerank only
    the vectors assigned there. All in the quantized integer space, so
    the oracle compare is exact."""
    last = _KM_T
    stages = _ss07_stages(vflat, intdiv, hint_c, hint_u, prelude)
    stages.append(
        f"""qv AS (
  SELECT d, x FROM {vflat} WHERE vec_id = 0
), cdist AS (
  SELECT {hint_c}c.cid, SUM((q.x - c.val) * (q.x - c.val)) AS dd
  FROM cent{last} c JOIN qv q ON q.d = c.d
  GROUP BY c.cid
), probe AS (
  SELECT cid FROM (
    SELECT cid, ROW_NUMBER() OVER (ORDER BY dd ASC, cid) AS rn FROM cdist
  ) t WHERE rn <= {_SS08_NPROBE}
), vdist AS (
  SELECT {hint_c}v.vec_id, c.cid, SUM((v.x - c.val) * (v.x - c.val)) AS dd
  FROM {vflat} v JOIN cent{last} c ON c.d = v.d
  GROUP BY v.vec_id, c.cid
), vassign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd ASC, cid) AS rn
    FROM vdist) t WHERE rn = 1
), survivors AS (
  SELECT {hint_u.replace("u)", "p)")}a.vec_id, a.cid
  FROM vassign a JOIN probe p ON p.cid = a.cid
  WHERE a.vec_id <> 0
), qdist AS (
  -- exact distance computed ONLY for vectors in probed cells — the
  -- IVF contract: a query touches nprobe/k of the corpus
  SELECT v.vec_id, s.cid, SUM((v.x - q.x) * (v.x - q.x)) AS dd
  FROM {vflat} v JOIN survivors s ON s.vec_id = v.vec_id
  JOIN qv q ON q.d = v.d
  GROUP BY v.vec_id, s.cid
)
SELECT vec_id, cid, CAST(dd AS BIGINT) AS l2sq_q
FROM qdist
ORDER BY l2sq_q ASC, vec_id
LIMIT 10"""
    )
    return f"WITH {', '.join(stages[:-1])}, {stages[-1]}"


_SS07_VFLAT_SPARK = _ss07_vflat(
    f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_KM_Q}, 0) AS BIGINT))",
    f"(SELECT explode(sequence(1, {_KM_D})) AS d)",
    "element_at(v.xq, dims.d)",
)
_SS07_VFLAT_DUCK = _ss07_vflat(
    f"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_KM_Q}) AS BIGINT))",
    f"(SELECT CAST(g AS INT) AS d FROM generate_series(1, {_KM_D}) t(g))",
    "v.xq[dims.d]",
)
_SS07_DUCK = _ss07_main(
    "vflat", "//", "", "", prelude=f"vflat AS ({_SS07_VFLAT_DUCK})"
)
_SS08_DUCK = _ss08_main(
    "vflat", "//", "", "", prelude=f"vflat AS ({_SS07_VFLAT_DUCK})"
)


# --- materialized Lloyd's loop (Spark execution side) ----------------------
# The DuckDB oracles above keep the single unrolled WITH — fine for an
# oracle. EXECUTING that chain in Spark is not fine at scale: Spark inlines
# CTEs per reference, and the centroid recurrence references each stage
# twice (cent{t} feeds both dist{t} and cent{t+1}), so the corpus-scale
# joins re-execute O(2^T) times — measured 15 ExistingRDD scans of the
# exploded table for T=2 before this loop existed. The deployment shape —
# what MLlib's KMeans does — materializes the BOUNDED centroid table
# (k·d ≤ 512 rows) and the narrow (vec_id[, m], cid) assignment each
# iteration: O(T) corpus passes, byte-identical arithmetic, no exponential
# plan. The `extra` parameter threads the ss11 subspace id through every
# join/group key so M parallel trainings share each pass.

def _km_sqls(extra: str = "") -> dict[str, str]:
    """Per-stage Spark SQL for the materialized Lloyd's loop, with
    {vflat}/{cent}/{asg}/{k16} slots for ``spark.sql`` arguments. `extra`
    (e.g. "m") is an additional partition key carried from the exploded
    table — empty for ss07/ss08's single coarse codebook, "m" for ss11's
    per-subspace codebooks."""
    ek = f"{extra}, " if extra else ""
    ekv = f"v.{extra}, " if extra else ""
    ekc = f"c.{extra}, " if extra else ""
    eka = f"a.{extra}, " if extra else ""
    pk = f", {extra}" if extra else ""
    jvc = f" AND c.{extra} = v.{extra}" if extra else ""
    jav = f" AND v.{extra} = a.{extra}" if extra else ""
    juc = f" AND u.{extra} = c.{extra}" if extra else ""
    return {
        # deterministic spread init: one donor vector per codeword
        "cent0": f"""
SELECT CAST(vec_id div 16 AS BIGINT) AS cid, {ek}d, x AS val
FROM {{vflat}} WHERE vec_id % 16 = 0 AND vec_id < {{k16}}""",
        # assignment: per-dim distance terms against the broadcast codeword
        # table, partial-aggregated map-side before the single argmin
        # shuffle keyed (vec_id[, m])
        "asg": f"""
SELECT vec_id, {ek}cid FROM (
  SELECT vec_id, {ek}cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id{pk} ORDER BY dd ASC, cid) AS rn
  FROM (
    SELECT /*+ BROADCAST(c) */ v.vec_id, {ekv}c.cid,
           SUM((v.x - c.val) * (v.x - c.val)) AS dd
    FROM {{vflat}} v JOIN {{cent}} c ON c.d = v.d{jvc}
    GROUP BY v.vec_id, {ekv}c.cid
  ) dists
) ranked WHERE rn = 1""",
        # update: one keyed join of the assignment back to the exploded
        # vectors, aggregated onto the bounded codeword space; FLOOR-based
        # half-up rounding (see ``_ss07_stages`` for the exactness proof)
        "cent_next": f"""
SELECT /*+ BROADCAST(u) */ c.cid, {ekc}c.d,
       CAST(COALESCE(FLOOR((2.0 * u.s + u.n) / (2.0 * u.n)),
                     CAST(c.val AS DOUBLE)) AS BIGINT) AS val
FROM {{cent}} c LEFT JOIN (
  SELECT a.cid, {eka}v.d, SUM(v.x) AS s, COUNT(*) AS n
  FROM {{asg}} a JOIN {{vflat}} v ON v.vec_id = a.vec_id{jav}
  GROUP BY a.cid, {eka}v.d
) u ON u.cid = c.cid AND u.d = c.d{juc}""",
    }


def _km_train(
    spark: SparkSession,
    vflat: DataFrame,
    n_iter: int,
    k16: int,
    extra: str = "",
    keep_last_asg: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Run the materialized Lloyd's loop over an exploded-vector relation.
    Returns (final_centroids, last_assignment). Only the ≤512-row
    centroid table is checkpointed per iteration.

    The assignment is INLINED into each update (``cent_next`` references
    ``asg`` exactly once, so there is no re-execution to guard against —
    the O(2^T) hazard is the cent recurrence, and the per-iteration
    centroid checkpoint cuts that) — ONE job per iteration instead of
    two, and the n-row assignment relation is never materialized (the two
    ops share the iteration's pass instead of paying an extra barrier +
    an n-row checkpoint write per iteration).

    ``keep_last_asg``: callers whose FINAL statement consumes the last
    assignment (ss07/ss11 cell sizes) set this so the last iteration runs
    the classic two-step (assignment checkpointed, update reads it) — the
    measured alternative (re-deriving the assignment inside the final job)
    pays a whole extra distance pass, which costs more than the one job
    barrier it saves at every scale. Callers that never read the
    assignment (ss08's probe tail, ss12 — its encode pass runs against the
    FINAL centroids anyway) leave it off and fuse every iteration. The
    returned assignment is the checkpoint or the lazy inline relation
    respectively."""
    sqls = _km_sqls(extra)
    cent = checkpoint(spark.sql(sqls["cent0"], vflat=vflat, k16=k16), eager=True)
    asg = None
    for t in range(n_iter):
        asg = spark.sql(sqls["asg"], vflat=vflat, cent=cent)
        if keep_last_asg and t == n_iter - 1:
            asg = checkpoint(asg, eager=True)
        cent = checkpoint(spark.sql(
            sqls["cent_next"], vflat=vflat, cent=cent, asg=asg
        ), eager=True)
    return cent, asg


_KM_FINAL_SS07 = """
SELECT /*+ BROADCAST(sz) */ c.cid,
  CAST(COALESCE(MAX(sz.n), 0) AS BIGINT) AS cell_size,
  CAST(SUM(c.d * c.val) AS BIGINT)       AS c_checksum,
  CAST(SUM(c.val * c.val) AS BIGINT)     AS c_norm_sq
FROM {cent} c
LEFT JOIN (SELECT cid, COUNT(*) AS n FROM {asg} GROUP BY cid) sz
  ON sz.cid = c.cid
GROUP BY c.cid
"""

# the trained-IVF query tail over the materialized codebook: probe the
# query's nearest cells, exact-rerank only the vectors assigned there
_SS08_TAIL = f"""
WITH qv AS (SELECT d, x FROM {{vflat}} WHERE vec_id = 0),
cdist AS (
  SELECT /*+ BROADCAST(c) */ c.cid, SUM((q.x - c.val) * (q.x - c.val)) AS dd
  FROM {{cent}} c JOIN qv q ON q.d = c.d
  GROUP BY c.cid
), probe AS (
  SELECT cid FROM (
    SELECT cid, ROW_NUMBER() OVER (ORDER BY dd ASC, cid) AS rn FROM cdist
  ) t WHERE rn <= {_SS08_NPROBE}
), vdist AS (
  SELECT /*+ BROADCAST(c) */ v.vec_id, c.cid,
         SUM((v.x - c.val) * (v.x - c.val)) AS dd
  FROM {{vflat}} v JOIN {{cent}} c ON c.d = v.d
  GROUP BY v.vec_id, c.cid
), vassign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dd ASC, cid) AS rn
    FROM vdist) t WHERE rn = 1
), survivors AS (
  SELECT /*+ BROADCAST(p) */ a.vec_id, a.cid
  FROM vassign a JOIN probe p ON p.cid = a.cid
  WHERE a.vec_id <> 0
), qdist AS (
  SELECT v.vec_id, s.cid, SUM((v.x - q.x) * (v.x - q.x)) AS dd
  FROM {{vflat}} v JOIN survivors s ON s.vec_id = v.vec_id
  JOIN qv q ON q.d = v.d
  GROUP BY v.vec_id, s.cid
)
SELECT vec_id, cid, CAST(dd AS BIGINT) AS l2sq_q
FROM qdist
ORDER BY l2sq_q ASC, vec_id
LIMIT 10
"""


@query("ss08_ivf_trained_topk", oracle=_SS08_DUCK, tags=("similarity", "ivf", "ann", "knn", "train"))
def ss08_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL train→index→query ANN path: the materialized k-means loop
    produces the trained codebook, every vector is assigned to its
    trained cell, the query (vec_id=0) probes its nearest 2 cells, and
    the exact distance is computed ONLY for vectors assigned there —
    top-10 by quantized-integer L2 (exact cross-engine, see
    ``_ss07_stages``). Closes the loop the fixture-codebook operators
    (ss03/ss04) leave open: the index a real deployment queries is the
    one training produced.

    Plan: ss07's materialized training loop (O(T) corpus passes, see
    ``_km_train``), then the probe set (≤2 rows) broadcast into the
    assignment; the rerank join keeps the IVF contract — a query touches
    nprobe/k of the corpus, and the top-10 compiles to
    TakeOrderedAndProject, never a global sort."""
    register_views(spark, sf_dir)
    vflat = checkpoint(spark.sql(_SS07_VFLAT_SPARK), eager=True, storage_level=_BIG_CKPT_LEVEL)
    cent, _ = _km_train(spark, vflat, _KM_T, _KM_K * 16)
    return spark.sql(_SS08_TAIL, vflat=vflat, cent=cent)


@query("ss07_kmeans_train", oracle=_SS07_DUCK, tags=("similarity", "ann", "train"))
def ss07_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embeddings — trains the coarse
    codebook IN-ENGINE instead of taking a fixture slice: 8 centroids, 3 fixed iterations,
    deterministic spread init (vec_id % 16 = 0, vec_id < 128 — fixed-size
    at any corpus). Output per centroid: final cell size + exact integer
    centroid checksums (position-weighted sum + squared norm), fully
    sensitive to any drift in any dimension.

    Executed as the MATERIALIZED loop (``_km_train``): per iteration, (1)
    assignment = per-dim distance terms against the ≤512-row broadcast
    codeword table, partial-aggregated map-side before the single argmin
    shuffle keyed vec_id; (2) update = one keyed join of the narrow
    assignment back to the exploded vectors onto the bounded (k×d)
    aggregate. The bounded centroid table and the assignment checkpoint
    each round, so the corpus-scale work runs O(T) times — NOT the
    O(2^T) re-execution the single inlined CTE chain would cost (Spark
    inlines CTEs per reference). At 100 TB you'd additionally train on a
    sampled slice — k-means is sample-efficient. Arithmetic is
    exact-integer throughout (see ``_ss07_stages``), so the DuckDB
    oracle (which keeps the unrolled WITH — an oracle doesn't care about
    re-execution) matches bit-for-bit; this codebook is exactly what
    ss03/ss04 consume as their centroid set and ss11 generalizes
    per-subspace."""
    register_views(spark, sf_dir)
    # materialize the exploded quantized-vector table ONCE. Narrow
    # schema: (vec_id, d, x) ≈ 24 B/row.
    vflat = checkpoint(spark.sql(_SS07_VFLAT_SPARK), eager=True, storage_level=_BIG_CKPT_LEVEL)
    cent, asg = _km_train(spark, vflat, _KM_T, _KM_K * 16, keep_last_asg=True)
    return spark.sql(_KM_FINAL_SS07, cent=cent, asg=asg)


@query("ss06_pq_adc_topk", oracle=_SS06_DUCK, tags=("similarity", "pq", "ann", "knn"))
def ss06_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation (ADC) —
    the memory-bound tier of the ANN family (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): split each 64-d vector
    into 4 × 16-d subvectors, assign each to its nearest of 16 codewords
    (codebook = the deterministic vec_id < 16 donor set — FIXED size, like
    ss03's centroids, so the broadcast side is O(1) in the corpus), then
    rank against query vec_id=0 by summing the query's precomputed
    per-cell distances.

    Plan: codebook (64 rows) and ADC table broadcast; assignment is a
    map-side join + per-(vec, subspace) argmin window — the only real
    shuffle, keyed (vec_id, m); the top-10 is TakeOrderedAndProject. At
    100 TB the assignment is precomputed once (codes stored as 4 bytes per
    vector — the point of PQ) and a query touches only the 64-entry ADC
    table plus the code column, never the raw vectors. Distances are
    per-cell rounded so the cross-engine compare is exact."""
    return _sql(spark, sf_dir, _SS06_SPARK)


# ---------------------------------------------------------------------------
# ss09 — ANN recall evaluation (LSH bucket search vs exact ground truth)
# ---------------------------------------------------------------------------
# The eval harness every ANN deployment runs before trusting its index
# ("measure, don't guess"): for a FIXED query set, compute the exact
# cosine top-10 (ground truth) and the top-10 restricted to each query's
# ss02 LSH bucket, and report per-query recall@10 plus the candidate-set
# size (the recall/cost trade LSH tuning navigates).
#
# Scale shape: the 10-query set broadcasts; ONE corpus pass computes
# every (query, vector) similarity — this all-pairs-vs-queries pass is
# the labeled eval cost (bounded: 10 x corpus, the ss05 shape) and is
# REUSED for both ground truth and bucket candidates (the bucket filter
# is a predicate on the same relation, not a second scan); top-10s are
# per-query windows on the 10-key qid; the final report is 10 rows.

_SS09_NQ = 10  # fixed query-set size at any corpus scale


def _ss09_sims(bucket: str, cos: str, hint: str) -> str:
    """The one expensive pass: every (query, vector) exact similarity plus
    both bucket ids — feeds ground truth AND bucket candidates."""
    return f"""
WITH v AS (
  SELECT vec_id, embedding, {{idx}} AS idx FROM embeddings
), b AS (
  SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM v
), q AS (
  SELECT vec_id AS qid, embedding AS qv, bucket AS qbucket
  FROM b WHERE vec_id < {_SS09_NQ}
)
SELECT {hint}q.qid, b.vec_id, b.bucket, q.qbucket, {cos} AS sim
FROM b JOIN q ON b.vec_id <> q.qid
"""


def _ss09_tail(sims: str, hint_out: str, hint_hits: str = "") -> str:
    """Recall report over a materialized ``sims`` relation (the Spark
    builder checkpoints it — referenced 3x below; DuckDB materializes the
    CTE natively)."""
    return f"""truth AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
    FROM {sims}) t
  WHERE rn <= 10
), cand AS (
  SELECT qid, vec_id, sim FROM {sims} WHERE bucket = qbucket
), approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
    FROM cand) t
  WHERE rn <= 10
), qd AS (
  SELECT DISTINCT qid, qbucket FROM {sims}
), tcnt AS (
  SELECT qid, COUNT(*) AS n_truth FROM truth GROUP BY qid
), ccnt AS (
  SELECT qid, COUNT(*) AS n_bucket FROM cand GROUP BY qid
), hcnt AS (
  SELECT {hint_hits}t.qid, COUNT(*) AS n_hits
  FROM truth t JOIN approx a ON a.qid = t.qid AND a.vec_id = t.vec_id
  GROUP BY t.qid
)
SELECT {hint_out}qd.qid,
  CAST(qd.qbucket AS BIGINT)            AS bucket,
  CAST(COALESCE(tc.n_truth, 0) AS BIGINT)  AS n_truth,
  CAST(COALESCE(cc.n_bucket, 0) AS BIGINT) AS n_bucket_cands,
  CAST(COALESCE(hc.n_hits, 0) AS BIGINT)   AS n_hits,
  CAST(CASE WHEN COALESCE(tc.n_truth, 0) = 0 THEN 0
       ELSE ROUND(1000.0 * COALESCE(hc.n_hits, 0) / tc.n_truth) END AS BIGINT)
                                        AS recall_x1000
FROM qd
LEFT JOIN tcnt tc ON tc.qid = qd.qid
LEFT JOIN ccnt cc ON cc.qid = qd.qid
LEFT JOIN hcnt hc ON hc.qid = qd.qid
"""


_SS09_COS_SPARK = (
    "aggregate(zip_with(b.embedding, q.qv,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,"
    " (acc, x) -> acc + x)"
    " / (sqrt(aggregate(b.embedding, 0.0D,"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    " * sqrt(aggregate(q.qv, 0.0D,"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)

_SS09_COS_DUCK = (
    "list_sum(list_transform("
    "[CAST(g AS INT) for g in generate_series(1, len(b.embedding))],"
    " i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))"
    " / (sqrt(list_sum(list_transform(b.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    " * sqrt(list_sum(list_transform(q.qv,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)

_SS09_SIMS_SPARK = _ss09_sims(
    _ss02_spark_bucket_expr(), _SS09_COS_SPARK, "/*+ BROADCAST(q) */ "
).format(idx="sequence(1, size(embedding))")
# the materialized sims relation is TINY (10 x corpus rows, narrow) but a
# checkpointed RDD carries no stats — broadcast hints keep the 10-row
# report joins off the SortMergeJoin path (the dd10 lesson)
_SS09_TAIL_SPARK = "WITH " + _ss09_tail(
    "{sims}", "/*+ BROADCAST(qd, tc, cc, hc) */ ", "/*+ BROADCAST(a) */ "
)
_SS09_DUCK = (
    "WITH sims AS ("
    + _ss09_sims(_ss02_duck_bucket_expr(), _SS09_COS_DUCK, "").format(
        idx="[CAST(g AS INT) for g in generate_series(1, len(embedding))]"
    )
    + "), "
    + _ss09_tail("sims", "")
)


@query("ss09_lsh_recall", oracle=_SS09_DUCK, tags=("similarity", "ann", "eval", "recall"))
def ss09_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@10 evaluation: exact cosine top-10 vs ss02's LSH-bucket
    top-10 for a fixed 10-query set, with bucket candidate counts — the
    recall/cost report an LSH deployment tunes plane count against. The
    one expensive pass (10-query broadcast x corpus: every similarity +
    both bucket ids) is materialized ONCE and feeds BOTH rankings (the
    bucket filter is a predicate on the checkpoint, not a second scan);
    windows key on the 10-value qid; the report is 10 rows."""
    register_views(spark, sf_dir)
    sims = checkpoint(spark.sql(_SS09_SIMS_SPARK), eager=True)
    return spark.sql(_SS09_TAIL_SPARK, sims=sims)


# ---------------------------------------------------------------------------
# ss10 — IVF index balance / quantization-quality report
# ---------------------------------------------------------------------------
# The index-health table an IVF deployment reads before shipping: per
# cell, its size relative to the ideal uniform load (list skew is THE
# IVF failure mode at scale — one hot cell serializes every probe that
# hits it), the mean similarity of members to their own centroid
# (quantization tightness), and the mean margin between best and
# second-best centroid (assignment confidence — low margin means cell
# boundaries cut through dense regions and nprobe must grow). ss03
# assigns; ss09 measures recall; ss10 is the capacity-planning view.
#
# Scale shape: identical to ss03 — the <=64-row centroid codebook
# broadcasts, the one corpus pass computes every (vector, centroid)
# similarity, the top-2 window keys on the uniform vec_id; per-row
# x1000 integerization BEFORE aggregation keeps every mean an exact
# integer-sum division (no float-accumulation order risk cross-engine).
# The uniform-load denominators (n_vecs = SUM(cell_size), n_cells =
# occupied-cell count) come from OVER () windows on the |cells|-row
# aggregate — scalar-subquery denominators measured 2 extra corpus
# scans + 2 BroadcastNestedLoopJoins. Empty cells emit no row (the
# report covers occupied cells; a production variant left-joins the
# codebook to surface empties).

_SS10 = """
WITH vecs AS (
  SELECT vec_id, embedding, {idx_col}
    sqrt({sq_norm}) AS nrm
  FROM embeddings
), centroids AS (
  SELECT vec_id AS cid, embedding AS cv, {cidx_col} nrm AS cnrm
  FROM vecs WHERE vec_id % 16 = 0 AND vec_id < 1024
), sims AS (
  SELECT {h_cent}v.vec_id, c.cid,
    CAST(ROUND(1000 * ROUND({dot} / (v.nrm * c.cnrm), 6)) AS BIGINT) AS simx
  FROM vecs v CROSS JOIN centroids c
), ranked AS (
  SELECT vec_id, cid, simx,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY simx DESC, cid) AS rn
  FROM sims
), best AS (
  SELECT vec_id,
    MAX(CASE WHEN rn = 1 THEN cid END)  AS cid,
    MAX(CASE WHEN rn = 1 THEN simx END) AS sim1x,
    MAX(CASE WHEN rn = 2 THEN simx END) AS sim2x
  FROM ranked WHERE rn <= 2 GROUP BY vec_id
), agg AS (
  SELECT cid, COUNT(*) AS cell_size,
    SUM(sim1x)         AS s_own,
    SUM(sim1x - sim2x) AS s_margin
  FROM best GROUP BY cid
)
SELECT cid,
  CAST(cell_size AS BIGINT) AS cell_size,
  CAST(ROUND(1000.0 * cell_size * COUNT(*) OVER () / SUM(cell_size) OVER ())
       AS BIGINT)           AS load_vs_uniform_x1000,
  CAST(ROUND(1.0 * s_own / cell_size) AS BIGINT)    AS mean_own_sim_x1000,
  CAST(ROUND(1.0 * s_margin / cell_size) AS BIGINT) AS mean_margin_x1000
FROM agg
"""

_SS10_DOT_SPARK = (
    "aggregate(zip_with(v.embedding, c.cv,"
    " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,"
    " (acc, x) -> acc + x)"
)
_SS10_SQNORM_SPARK = (
    "aggregate(embedding, 0.0D,"
    " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
)
_SS10_DOT_DUCK = (
    "list_sum(list_transform(v.idx,"
    " i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)))"
)
_SS10_SQNORM_DUCK = (
    "list_sum(list_transform(embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
)

_SS10_SPARK = _SS10.format(
    idx_col="",
    cidx_col="",
    sq_norm=_SS10_SQNORM_SPARK,
    dot=_SS10_DOT_SPARK,
    h_cent="/*+ BROADCAST(c) */ ",
)
_SS10_DUCK = _SS10.format(
    idx_col="[CAST(g AS INT) for g in generate_series(1, len(embedding))] AS idx,",
    cidx_col="",
    sq_norm=_SS10_SQNORM_DUCK,
    dot=_SS10_DOT_DUCK,
    h_cent="",
)


@query("ss10_ivf_balance", oracle=_SS10_DUCK, tags=("similarity", "ivf", "eval", "balance"))
def ss10_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance / quantization-quality report over ss03's
    codebook: per cell, size vs ideal uniform load (list-skew alarm),
    mean member-to-centroid similarity (quantization tightness) and mean
    best-vs-second-best margin (assignment confidence). One broadcast
    corpus pass + a vec_id-keyed top-2 window; per-row integerization
    before every mean keeps the compare exact; output is |cells| rows."""
    return _sql(spark, sf_dir, _SS10_SPARK)


# ---------------------------------------------------------------------------
# ss11 — per-subspace PQ codebook training (M parallel Lloyd's k-means)
# ---------------------------------------------------------------------------
# Closes the loop ss06 leaves open the same way ss07 closed it for the
# coarse IVF codebook: ss06's ADC scan quantizes against FIXTURE-SLICE
# per-subspace codewords; a real PQ deployment (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search") TRAINS one k-means
# codebook per subspace. This operator runs all M=4 trainings through
# ONE materialized loop (``_km_train``): the subspace id `m` rides every
# join/group key, so the M k-means problems share each corpus pass
# instead of running M sequential jobs.
#
# Arithmetic is the exact-integer ss07 machinery (quantize to BIGINT
# ×1000, integer distances, FLOOR((2s+n)/2n) centroid update — see
# ``_ss07_stages`` for why both engines agree bit-for-bit). Output per
# (subspace, codeword): final cell size + integer checksums, fully
# sensitive to drift in any dimension of any codeword.
#
# Scale shape: pqflat is the ss07 vflat re-keyed by subspace — n·d rows
# total, NOT n·d·M (each dim belongs to exactly one subspace). Per
# iteration: one broadcast join against the ≤512-row codeword table
# partial-aggregated map-side to n·M·K rows before the (vec_id, m)-keyed
# argmin shuffle, then one keyed join back for the (m, cid, d)-keyed
# update aggregate (bounded: M·K·subdim = 512 rows), both checkpointed
# (see the ``_km_sqls`` block comment for why the single inlined CTE
# chain is O(2^T)). At 100 TB you'd train on a sampled slice (k-means
# is sample-efficient); the per-iteration shape is unchanged.

_PQT_K = 8   # codewords trained per subspace (bounded broadcast side)
_PQT_T = 2   # fixed Lloyd iterations — determinism + oracle parity


def _ss11_stages(pqflat: str, intdiv: str, hint_c: str, hint_u: str, prelude: str = "") -> list[str]:
    """The unrolled per-subspace Lloyd's CTE stages — shared by ss11's
    training oracle and ss12's trained-ADC oracle."""
    stages = ([prelude] if prelude else []) + [
        f"""cent0 AS (
  SELECT CAST(vec_id {intdiv} 16 AS BIGINT) AS cid, m, sd, x AS val
  FROM {pqflat} WHERE vec_id % 16 = 0 AND vec_id < {_PQT_K * 16}
)"""
    ]
    for t in range(_PQT_T):
        stages.append(
            f"""dist{t} AS (
  SELECT {hint_c}v.vec_id, v.m, c.cid, SUM((v.x - c.val) * (v.x - c.val)) AS dd
  FROM {pqflat} v JOIN cent{t} c ON c.m = v.m AND c.sd = v.sd
  GROUP BY v.vec_id, v.m, c.cid
), asg{t} AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dd ASC, cid) AS rn
    FROM dist{t}) r WHERE rn = 1
), upd{t} AS (
  SELECT a.m, a.cid, v.sd, SUM(v.x) AS s, COUNT(*) AS n
  FROM asg{t} a JOIN {pqflat} v ON v.vec_id = a.vec_id AND v.m = a.m
  GROUP BY a.m, a.cid, v.sd
), cent{t + 1} AS (
  SELECT {hint_u}c.cid, c.m, c.sd,
         CAST(COALESCE(FLOOR((2.0 * u.s + u.n) / (2.0 * u.n)),
                       CAST(c.val AS DOUBLE)) AS BIGINT) AS val
  FROM cent{t} c LEFT JOIN upd{t} u
    ON u.m = c.m AND u.cid = c.cid AND u.sd = c.sd
)"""
        )
    return stages


def _ss11_main(pqflat: str, intdiv: str, hint_c: str, hint_u: str, prelude: str = "") -> str:
    stages = _ss11_stages(pqflat, intdiv, hint_c, hint_u, prelude)
    last = _PQT_T
    return f"""
WITH {", ".join(stages)}
SELECT {hint_u.replace("u)", "sz)")}c.m, c.cid,
  CAST(COALESCE(MAX(sz.n), 0) AS BIGINT)       AS cell_size,
  CAST(SUM((c.sd + 1) * c.val) AS BIGINT)      AS c_checksum,
  CAST(SUM(c.val * c.val) AS BIGINT)           AS c_norm_sq
FROM cent{last} c
LEFT JOIN (SELECT m, cid, COUNT(*) AS n FROM asg{last - 1} GROUP BY m, cid) sz
  ON sz.m = c.m AND sz.cid = c.cid
GROUP BY c.m, c.cid
"""


def _ss11_pqflat(vflat_sql: str, intdiv: str) -> str:
    """Re-key the ss07 exploded quantized-vector table by subspace:
    m = (d-1) div subdim, sd = (d-1) mod subdim — same n·d total rows."""
    return f"""
SELECT vec_id,
  CAST((d - 1) {intdiv} {_PQ_SUBDIM} AS BIGINT) AS m,
  CAST((d - 1) % {_PQ_SUBDIM} AS BIGINT)        AS sd,
  x
FROM ({vflat_sql})
"""


# Spark-side pqflat names the within-subspace dim `d` (0-based) so the
# shared _km_sqls templates apply unchanged; the oracle keeps `sd`.
_SS11_PQFLAT_SPARK = f"""
SELECT vec_id,
  CAST((d - 1) div {_PQ_SUBDIM} AS BIGINT) AS m,
  CAST((d - 1) % {_PQ_SUBDIM} AS BIGINT)   AS d,
  x
FROM ({_SS07_VFLAT_SPARK})
"""
_SS11_DUCK = _ss11_main(
    "pqflat", "//", "", "",
    prelude=f"pqflat AS ({_ss11_pqflat(_SS07_VFLAT_DUCK, '//')})",
)

# checksum weight is (d + 1): the within-subspace dim is 0-based here
_KM_FINAL_SS11 = """
SELECT /*+ BROADCAST(sz) */ c.m, c.cid,
  CAST(COALESCE(MAX(sz.n), 0) AS BIGINT)  AS cell_size,
  CAST(SUM((c.d + 1) * c.val) AS BIGINT)  AS c_checksum,
  CAST(SUM(c.val * c.val) AS BIGINT)      AS c_norm_sq
FROM {cent} c
LEFT JOIN (SELECT m, cid, COUNT(*) AS n FROM {asg} GROUP BY m, cid) sz
  ON sz.m = c.m AND sz.cid = c.cid
GROUP BY c.m, c.cid
"""


def _ss11_body(spark: SparkSession) -> DataFrame:
    """ss11 over whatever `embeddings` view is registered — split out so
    structural tests can inject synthetic corpora without the builder
    re-registering the real tables."""
    pqflat = checkpoint(
        spark.sql(_SS11_PQFLAT_SPARK), eager=True, storage_level=_BIG_CKPT_LEVEL
    )
    cent, asg = _km_train(
        spark, pqflat, _PQT_T, _PQT_K * 16, extra="m", keep_last_asg=True
    )
    return spark.sql(_KM_FINAL_SS11, cent=cent, asg=asg)


@query("ss11_pq_train", oracle=_SS11_DUCK, tags=("similarity", "pq", "ann", "train"))
def ss11_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training: M=4 per-subspace Lloyd's
    k-means (8 codewords × 16 dims each, 2 fixed iterations,
    deterministic spread init) — the subspace id rides every join/group
    key of the materialized loop (``_km_train``) so the M trainings
    share each corpus pass instead of running M sequential jobs.
    Exact-integer arithmetic end-to-end (the ss07 machinery), so the
    DuckDB oracle matches bit-for-bit. Output per (m, cid): final cell
    size + integer codeword checksums — the trained counterpart of
    ss06's fixture codebooks.

    Plan: pqflat materialized ONCE (same n·d rows as ss07's vflat —
    each dim belongs to exactly one subspace); per iteration ONE
    broadcast-codeword argmin pass keyed (vec_id, m) and ONE keyed
    update join onto the bounded M·K·subdim = 512-row codeword space,
    both checkpointed — O(T) corpus passes, not the O(2^T) inlined-CTE
    re-execution."""
    register_views(spark, sf_dir)
    return _ss11_body(spark)


# ---------------------------------------------------------------------------
# ss12 — trained-PQ ADC top-k (the full train→encode→serve PQ path)
# ---------------------------------------------------------------------------
# ss11 trains the per-subspace codebooks but nothing consumed them (ss06
# still ADC-ranks against fixture-slice codewords) — ss12 closes the PQ
# train→serve loop the way ss08 closed it for IVF: train via ss11's
# materialized loop, ENCODE every vector against the FINAL codebooks (one
# more broadcast-argmin pass — the M·n code table, 1 byte/subspace in a
# real deployment), build the query's 32-row ADC lookup table, and rank by
# the summed table lookups. The scan side never touches raw vectors:
# serving cost is |codes| narrow rows joined to a broadcast M·K table —
# the whole point of PQ at 100 TB (Jégou et al. 2011 §IV).

_SS12_TAIL = f"""
WITH qtab AS (
  SELECT /*+ BROADCAST(q) */ c.m, c.cid,
         SUM((q.x - c.val) * (q.x - c.val)) AS d
  FROM {{cent}} c
  JOIN (SELECT m, d, x FROM {{pqflat}} WHERE vec_id = 0) q
    ON q.m = c.m AND q.d = c.d
  GROUP BY c.m, c.cid
)
SELECT /*+ BROADCAST(qt) */ e.vec_id, CAST(SUM(qt.d) AS BIGINT) AS adc_l2sq
FROM {{codes}} e JOIN qtab qt ON qt.m = e.m AND qt.cid = e.cid
WHERE e.vec_id <> 0
GROUP BY e.vec_id
ORDER BY adc_l2sq ASC, e.vec_id
LIMIT 10
"""


def _ss12_duck() -> str:
    stages = _ss11_stages(
        "pqflat", "//", "", "",
        prelude=f"pqflat AS ({_ss11_pqflat(_SS07_VFLAT_DUCK, '//')})",
    )
    last = _PQT_T
    return f"""
WITH {", ".join(stages)},
encd AS (
  SELECT v.vec_id, v.m, c.cid, SUM((v.x - c.val) * (v.x - c.val)) AS dd
  FROM pqflat v JOIN cent{last} c ON c.m = v.m AND c.sd = v.sd
  GROUP BY v.vec_id, v.m, c.cid
), codes AS (
  SELECT vec_id, m, cid FROM (
    SELECT vec_id, m, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dd ASC, cid) AS rn
    FROM encd) r WHERE rn = 1
), qtab AS (
  SELECT c.m, c.cid, SUM((q.x - c.val) * (q.x - c.val)) AS d
  FROM cent{last} c
  JOIN (SELECT m, sd, x FROM pqflat WHERE vec_id = 0) q
    ON q.m = c.m AND q.sd = c.sd
  GROUP BY c.m, c.cid
)
SELECT e.vec_id, CAST(SUM(qt.d) AS BIGINT) AS adc_l2sq
FROM codes e JOIN qtab qt ON qt.m = e.m AND qt.cid = e.cid
WHERE e.vec_id <> 0
GROUP BY e.vec_id
ORDER BY adc_l2sq ASC, e.vec_id
LIMIT 10
"""


@query(
    "ss12_pq_trained_topk",
    oracle=_ss12_duck(),
    tags=("similarity", "pq", "ann", "knn", "train"),
)
def ss12_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL train→encode→serve PQ path: ss11's materialized
    per-subspace Lloyd's loop trains the M=4 codebooks, every vector is
    ENCODED against the final codewords (one broadcast-argmin pass —
    the narrow (vec_id, m, cid) code table a real deployment stores at
    1 byte/subspace), the query (vec_id=0) precomputes its 32-entry ADC
    lookup table, and the top-10 is the summed table lookups — the scan
    never touches raw vectors (Jégou et al. 2011). Exact-integer
    arithmetic end-to-end (the ss07 machinery), so the unrolled DuckDB
    oracle matches bit-for-bit.

    Plan: training is O(T) corpus passes (``_km_train``); the encode
    pass partial-aggregates map-side against the broadcast 512-row
    codeword table before one (vec_id, m)-keyed argmin shuffle; serving
    is the code table joined to the BROADCAST 32-row qtab with a
    map-side-combined per-vector sum and a TakeOrderedAndProject top-10
    — no global sort, no raw-vector access."""
    register_views(spark, sf_dir)
    pqflat = checkpoint(
        spark.sql(_SS11_PQFLAT_SPARK), eager=True, storage_level=_BIG_CKPT_LEVEL
    )
    cent, _ = _km_train(spark, pqflat, _PQT_T, _PQT_K * 16, extra="m")
    codes = checkpoint(spark.sql(
        _km_sqls(extra="m")["asg"], vflat=pqflat, cent=cent
    ), eager=True)
    return spark.sql(_SS12_TAIL, cent=cent, pqflat=pqflat, codes=codes)


# ---------------------------------------------------------------------------
# ss13 — truncated-dimension candidate generation + full-dim rerank
# ---------------------------------------------------------------------------
# The Matryoshka-representation serving pattern (Kusupati et al. 2022,
# arXiv:2205.13147 — adaptive retrieval §4.3): score candidates with a
# PREFIX of the embedding (dims 1..16 of 64 — 4x cheaper per comparison,
# 4x less memory traffic), then rerank only the top-32 candidates with the
# full vector. ss13 runs both stages AND the audit: exact full-dim top-3
# per query vs the two-stage top-3, per-query recall.
#
# Scale shape: the fixed <=30-query batch broadcasts (the ss05
# convention); stage 1 streams the corpus through ONE broadcast
# nested-loop pass on the 16-dim prefix; the rerank touches 32 rows per
# query. The audit's exact ranking shares the same single corpus scan
# (both sims computed in one pass — the honest audit cost; a deployment
# runs only the prefix pass). Per-query windows shuffle on q_id only.
# At 100 TB compose with IVF bucketing (ss04/ss08) on the streamed side;
# the prefix trick multiplies with, not replaces, cell pruning.

_SS13_PREFIX_DIMS = 16
_SS13_CAND = 32


def _ss13_sims(prefix_slice: str, cos_full: str, cos_prefix: str) -> str:
    """The (q_id, vec_id, psim, fsim) similarity relation — the ONE corpus
    pass computing BOTH the prefix sim (the deployment path) and the full
    sim (the audit's exact ranking). Spark MATERIALIZES it once: the tail
    ranks it twice (cand, exact) and Catalyst CTE inlining would re-scan
    parquet and recompute every cosine for each chain (measured: 7 scans
    single-statement)."""
    return f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS qv, {prefix_slice.format(v="embedding")} AS qp
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 1500
)
SELECT q.q_id, e.vec_id, {cos_prefix} AS psim, {cos_full} AS fsim
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> q.q_id
"""


def _ss13_tail(sims_src: str, lead: str = "WITH") -> str:
    return f"""
{lead} cand AS (
  SELECT q_id, vec_id, fsim FROM (
    SELECT q_id, vec_id, fsim,
      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY psim DESC, vec_id) AS rn
    FROM {sims_src}
  ) t WHERE rn <= {_SS13_CAND}
), approx AS (
  SELECT q_id, vec_id, fsim,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY fsim DESC, vec_id) AS rn
  FROM cand
), exact AS (
  SELECT q_id, vec_id, fsim,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY fsim DESC, vec_id) AS rn
  FROM {sims_src}
), hits AS (
  SELECT a.q_id, COUNT(x.vec_id) AS n_hit
  FROM approx a LEFT JOIN exact x
    ON x.q_id = a.q_id AND x.vec_id = a.vec_id AND x.rn <= 3
  WHERE a.rn <= 3
  GROUP BY a.q_id
)
SELECT h.q_id,
  ROUND(CAST(h.n_hit AS DOUBLE) / 3, 6) AS recall_at_3,
  a1.vec_id AS approx_top1, x1.vec_id AS exact_top1,
  ROUND(x1.fsim - a1.fsim, 6) AS top1_sim_gap
FROM hits h
JOIN approx a1 ON a1.q_id = h.q_id AND a1.rn = 1
JOIN exact x1 ON x1.q_id = h.q_id AND x1.rn = 1
"""


_SS13_SIMS_SPARK = _ss13_sims(
    prefix_slice="slice({v}, 1, %d)" % _SS13_PREFIX_DIMS,
    cos_full=(
        "aggregate(zip_with(e.embedding, q.qv, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
        " / (sqrt(aggregate(transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
        " * sqrt(aggregate(transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x)))"
    ),
    cos_prefix=(
        "aggregate(zip_with(slice(e.embedding, 1, %(p)d), q.qp, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, x) -> acc + x)"
        " / (sqrt(aggregate(transform(slice(e.embedding, 1, %(p)d), x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x))"
        " * sqrt(aggregate(transform(q.qp, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0.0D, (acc, x) -> acc + x)))"
    ) % {"p": _SS13_PREFIX_DIMS},
)

_SS13_TAIL_SPARK = _ss13_tail("{sims}")

_SS13_DUCK_SIMS = _ss13_sims(
    prefix_slice="{v}[1:%d]" % _SS13_PREFIX_DIMS,
    cos_full=(
        "list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len(e.embedding))],"
        " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    ),
    cos_prefix=(
        "list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, %(p)d)],"
        " i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qp[i] AS DOUBLE)))"
        " / (sqrt(list_sum(list_transform(e.embedding[1:%(p)d], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        " * sqrt(list_sum(list_transform(q.qp, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
    ) % {"p": _SS13_PREFIX_DIMS},
)

_SS13_DUCK = "WITH sims AS (" + _SS13_DUCK_SIMS + ")" + _ss13_tail("sims", lead=",")


def _ss13_run(spark: SparkSession) -> DataFrame:
    """Materialize the similarity relation once, then run the ranking/audit
    tail (shared by the builder and the planted-fixture tests)."""
    sims = checkpoint(spark.sql(_SS13_SIMS_SPARK), eager=True)
    return spark.sql(_SS13_TAIL_SPARK, sims=sims)


@query("ss13_truncated_rerank", oracle=_SS13_DUCK, tags=("similarity", "ann", "matryoshka"))
def ss13_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style two-stage retrieval (Kusupati et al. 2022):
    candidates scored on the 16-dim embedding PREFIX (4x cheaper), top-32
    reranked with full 64-dim cosine, audited per query against the exact
    full-dim top-3 — recall@3, top-1 agreement, and the top-1 similarity
    gap. Fixed <=30-query broadcast batch (ss05 convention); the sims
    relation is computed in ONE corpus scan and materialized (CTE
    inlining re-scanned parquet 7x in the single-statement form);
    q_id-keyed windows only."""
    register_views(spark, sf_dir)
    return _ss13_run(spark)

# ---------------------------------------------------------------------------
# ss14 — SQ8 scalar quantization: quantize → store codes → serve → audit
# ---------------------------------------------------------------------------
# PQ (ss06/ss11/ss12) is one production compression; the other is scalar
# quantization (FAISS IndexScalarQuantizer QT_8bit): per-DIMENSION min/max
# over the corpus, each float32 mapped to one byte
# code = round((x - lo_i) * 255 / (hi_i - lo_i)), served by dequantized
# cosine x̂_i = lo_i + code_i·(hi_i - lo_i)/255. 4× smaller vectors = 4×
# less scan bandwidth, no codebook training. ss14 runs the full loop:
# stats pass → 1-byte/dim code table (the stored state, materialized) →
# dequantized-cosine top-10 serving scan that reads ONLY the codes + the
# one-row broadcast stats → audit against exact float cosine (per-rank
# sim error, exact-top-10 membership). Deterministic end-to-end: integer
# codes, and both engines fold the dequantized dot left-to-right
# (bit-identical IEEE; the ss01 precedent).
#
# Scale shape: the stats pass is a posexplode + 64-key aggregate
# (map-side combinable, mergeable across shards); quantization is one map
# pass; SERVING reads the code table only. The audit's exact-cosine side
# re-reads raw embeddings — the cost the codes exist to avoid, present
# only to measure the quantization error.

_SS14_QID = 0  # the ss01 convention: vec_id = 0 is the query


def _ss14_dims(posex: str, icol: str, xcol: str) -> str:
    return f"""
SELECT {icol} AS i, MIN(CAST({xcol} AS DOUBLE)) AS lo, MAX(CAST({xcol} AS DOUBLE)) AS hi
FROM embeddings {posex}
GROUP BY {icol}
"""


def _ss14_codes(transform_fn: str, seq_emb: str, elem_e: str, elem_l: str,
                elem_h: str, srow_src: str) -> str:
    # hi = lo (constant dimension) quantizes to code 0 via the NULLIF guard
    return f"""
SELECT vec_id,
  {transform_fn}({seq_emb}, i -> CAST(COALESCE(
    ROUND((CAST({elem_e} AS DOUBLE) - {elem_l}) * 255 / NULLIF({elem_h} - {elem_l}, 0.0)),
    0) AS INT)) AS code
FROM embeddings CROSS JOIN {srow_src}
"""


def _ss14_exact(dot: str, nrm: str) -> str:
    """The audit's exact-cosine relation (vec_id, sim) — ONE embeddings
    scan, materialized on the Spark side (the tail references it twice:
    final join + exact top-10)."""
    return f"""
WITH eq AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = {_SS14_QID}
)
SELECT e.vec_id,
  {dot.format(a="e.embedding", b="eq.qv")} / ({nrm.format(v="e.embedding")} * {nrm.format(v="eq.qv")}) AS sim
FROM embeddings e CROSS JOIN eq WHERE e.vec_id <> {_SS14_QID}
"""


def _ss14_tail(transform_fn: str, seq_code: str, elem_c: str, elem_l: str,
               elem_h: str, dot: str, nrm: str, codes_src: str,
               srow_src: str, exact_src: str, lead: str = "WITH",
               hints: bool = False) -> str:
    h_deq = "/*+ BROADCAST(s) */ " if hints else ""
    h_sq = "/*+ BROADCAST(q) */ " if hints else ""
    h_fin = "/*+ BROADCAST(r, x) */ " if hints else ""
    return f"""
{lead} deq AS (
  SELECT {h_deq}vec_id,
    {transform_fn}({seq_code}, i -> {elem_l} + CAST({elem_c} AS DOUBLE) * ({elem_h} - {elem_l}) / 255.0) AS xq
  FROM {codes_src} CROSS JOIN {srow_src} s
), q AS (
  SELECT xq AS qv FROM deq WHERE vec_id = {_SS14_QID}
), sq_sims AS (
  SELECT {h_sq}d.vec_id,
    {dot.format(a="d.xq", b="q.qv")} / ({nrm.format(v="d.xq")} * {nrm.format(v="q.qv")}) AS sim
  FROM deq d CROSS JOIN q WHERE d.vec_id <> {_SS14_QID}
), sq_top AS (
  SELECT vec_id, sim FROM sq_sims ORDER BY sim DESC, vec_id LIMIT 10
), ex_sims AS (
  SELECT * FROM {exact_src}
), ex_top AS (
  SELECT vec_id, sim FROM ex_sims ORDER BY sim DESC, vec_id LIMIT 10
), ranked AS (
  SELECT vec_id, sim, ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rnk
  FROM sq_top
)
SELECT {h_fin}CAST(r.rnk AS BIGINT) AS rnk, r.vec_id,
  ROUND(r.sim, 6) AS sim_sq8,
  ROUND(a.sim, 6) AS sim_exact,
  ROUND(a.sim - r.sim, 6) AS sim_err,
  CAST(CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_exact_top10
FROM ranked r
JOIN ex_sims a ON a.vec_id = r.vec_id
LEFT JOIN ex_top x ON x.vec_id = r.vec_id
"""


_SS14_DOT_SPARK = (
    "aggregate(zip_with({a}, {b}, (p, r) -> CAST(p AS DOUBLE) * CAST(r AS DOUBLE)),"
    " 0.0D, (acc, z) -> acc + z)"
)
_SS14_NRM_SPARK = (
    "sqrt(aggregate(transform({v}, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE)),"
    " 0.0D, (acc, z) -> acc + z))"
)
_SS14_DOT_DUCK = (
    "list_sum(list_transform([CAST(g AS INT) for g in generate_series(1, len({a}))],"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SS14_NRM_DUCK = (
    "sqrt(list_sum(list_transform({v}, z -> CAST(z AS DOUBLE) * CAST(z AS DOUBLE))))"
)

_SS14_DIMS_SPARK = _ss14_dims(
    "LATERAL VIEW posexplode(embedding) t AS pos, x", "pos + 1", "x"
)
_SS14_SROW_SPARK = (
    "SELECT transform(array_sort(collect_list(struct(i, lo))), u -> u.lo) AS los,"
    " transform(array_sort(collect_list(struct(i, hi))), u -> u.hi) AS his"
    " FROM {dims}"
)
_SS14_CODES_SPARK = _ss14_codes(
    "transform", "sequence(1, size(embedding))",
    "element_at(embedding, i)", "element_at(los, i)", "element_at(his, i)",
    "{srow}",
)
_SS14_EXACT_SPARK = _ss14_exact(_SS14_DOT_SPARK, _SS14_NRM_SPARK)
_SS14_TAIL_SPARK = _ss14_tail(
    "transform", "sequence(1, size(code))",
    "element_at(code, i)", "element_at(s.los, i)", "element_at(s.his, i)",
    _SS14_DOT_SPARK, _SS14_NRM_SPARK, "{codes}", "{srow}",
    "{exact}", hints=True
)

_SS14_DIMS_DUCK = _ss14_dims(
    ", LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t",
    "t.i", "embedding[t.i]",
)
_SS14_DUCK = (
    f"WITH ss14_dims AS ({_SS14_DIMS_DUCK}), srow AS ("
    "SELECT list(lo ORDER BY i) AS los, list(hi ORDER BY i) AS his FROM ss14_dims"
    "), codes AS ("
    + _ss14_codes(
        "list_transform", "[CAST(g AS INT) for g in generate_series(1, len(embedding))]",
        "embedding[i]", "los[i]", "his[i]", "srow",
    )
    + ")"
    + f", exact_r AS ({_ss14_exact(_SS14_DOT_DUCK, _SS14_NRM_DUCK)})"
    + _ss14_tail(
        "list_transform", "[CAST(g AS INT) for g in generate_series(1, len(code))]",
        "code[i]", "s.los[i]", "s.his[i]",
        _SS14_DOT_DUCK, _SS14_NRM_DUCK, "codes", "srow", "exact_r", lead=",",
    )
)


@query("ss14_sq8_topk", oracle=_SS14_DUCK, tags=("similarity", "quantization", "sq8"))
def ss14_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization end-to-end (FAISS QT_8bit analog):
    per-dimension min/max stats, 1-byte/dim code table (the stored
    state, checkpointed), dequantized-cosine top-10 served from ONLY the
    codes + one broadcast stats row, audited per rank against exact
    float cosine (sim error, exact-top-10 membership). Deterministic
    integer codes; both engines fold the dequantized dot identically.
    The stats/srow/codes relations are each materialized once (CTE
    inlining would re-scan embeddings per tail reference)."""
    register_views(spark, sf_dir)
    dims = checkpoint(spark.sql(_SS14_DIMS_SPARK), eager=True)
    srow = checkpoint(spark.sql(_SS14_SROW_SPARK, dims=dims), eager=True)
    codes = checkpoint(
        spark.sql(_SS14_CODES_SPARK, srow=srow), eager=True, storage_level=_BIG_CKPT_LEVEL
    )
    # the audit's exact-sim relation: one embeddings scan, referenced
    # twice by the tail
    exact = checkpoint(spark.sql(_SS14_EXACT_SPARK), eager=True)
    return spark.sql(_SS14_TAIL_SPARK, codes=codes, srow=srow, exact=exact)
