"""Testdata catalog: register the driver-generated parquet tables as views.

The reference resolves tables through the live PostgreSQL catalog
(reference: psc/postgresql/driver/pq3.py TypeIO.resolve); here Catalyst infers
schemas from parquet footers — no hand-declared schemas anywhere, matching the
reference's dynamic-schema stance (SURVEY §1.2).
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


@lru_cache(maxsize=None)
def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] — Spark rejects NANOS outright
    (PARQUET_TYPE_ILLEGAL), so we read them as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and rebuild micros timestamps.
    Footer-driven, no hard-coded schemas (matches the reference's
    server-inferred-schema stance, SURVEY §1.2)."""
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return tuple(
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    )


@lru_cache(maxsize=None)
def _row_groups(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_row_groups


def _ensure_nanos_readable(spark: SparkSession) -> None:
    """Make THIS session able to scan timestamp[ns] parquet.

    The conf is runtime-settable and must be set on whichever session actually
    reads — callers (the correctness driver, notebooks) supply vanilla
    sessions that our own session factory never touched. Without this, every
    read of the driver testdata dies with PARQUET_TYPE_ILLEGAL before any
    query logic runs."""
    try:
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        # Read-only conf entry on some builds; reads will fail loudly there.
        pass


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    _ensure_nanos_readable(spark)
    df = spark.read.parquet(path)
    for c in _nanos_ts_columns(path):
        # integer nanos → micros. Integral `div`, not `/1000`: epoch-nanos
        # (~1.7e18) exceeds double's 2^53 exact range, float division would
        # corrupt the low digits. Truncation matches DuckDB's ns→us cast.
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # A parquet row group is Spark's minimum split unit: the driver-generated
    # testdata ships ONE row group per table, which would pin every scan —
    # and all downstream per-row compute (minhash, simhash, winnowing) — to
    # a single core. Spread under-split tables across the cluster once here;
    # Catalyst still pushes filters and column pruning below the repartition.
    # (A 100 TB deployment has thousands of files/row groups and skips this.)
    cores = spark.sparkContext.defaultParallelism
    if _row_groups(path) < max(2, cores // 4):
        df = df.repartition(cores)
    return df


def local_relation(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples in ``schema`` order,
    ``schema`` a DDL string). The rows travel as one Arrow table, which
    Spark plans as a ``LocalRelation``: reading it launches no job and no
    Python worker. A Python list would become an RDD scan instead
    (``parallelize``, one Python worker per partition on every read)."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def list_relations(spark: SparkSession, db: str) -> dict[str, bool]:
    """``{name: is_view}`` for the permanent tables and views of database
    ``db``, in ``SHOW TABLES`` order. SHOW commands answer from the session
    catalog on the driver, while PySpark's ``Catalog.listTables`` iterates a
    Dataset: two to four Spark jobs per call."""
    views = {
        r.viewName for r in spark.sql(f"SHOW VIEWS IN `{db}`").collect() if not r.isTemporary
    }
    return {
        r.tableName: r.tableName in views
        for r in spark.sql(f"SHOW TABLES IN `{db}`").collect()
        if not r.isTemporary
    }


def list_databases(spark: SparkSession) -> list[str]:
    """Database names (``SHOW DATABASES``, no Spark job)."""
    return [r[0] for r in spark.sql("SHOW DATABASES").collect()]


def column_types(spark: SparkSession, qualified: str) -> list[tuple[str, str]]:
    """(name, simpleString type) of each column of ``qualified`` — what
    ``Catalog.listColumns`` reports, read from the analyzed schema without
    a Spark job."""
    return [(f.name, f.dataType.simpleString()) for f in spark.table(qualified).schema.fields]


def create_information_schema_views(spark: SparkSession, db: str | None = None) -> None:
    """Catalog-emulation views (SURVEY §4.3 item 2): the introspection
    surface conditional migrations need — the reference probes
    ``information_schema.columns`` before deciding to run
    (reference: packets/test_int4_to_int8/01_step.sql:5-7).

    Builds ``information_schema_columns`` (table_schema, table_name,
    column_name, data_type, ordinal_position) from the live Spark catalog;
    the PG-dialect rewriter maps ``information_schema.columns`` onto it.
    Driver-side listing — catalogs are metadata, not data."""
    db = db or spark.catalog.currentDatabase()
    rows = [
        (db, t, name, dtype, i + 1)
        for t in list_relations(spark, db)
        for i, (name, dtype) in enumerate(column_types(spark, f"`{db}`.`{t}`"))
    ]
    schema = "table_schema string, table_name string, column_name string, data_type string, ordinal_position int"
    local_relation(spark, rows, schema).createOrReplaceTempView("information_schema_columns")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (memoized per session).

    Views are cheap (no scan happens until an action); filters and column
    pruning push down through them to the parquet scan. The memo lives on the
    session object itself (not an id()-keyed dict: ids get reused after GC,
    which would silently skip registration on a fresh session).
    """
    if getattr(spark, "_dbc_registered_sf", None) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark._dbc_registered_sf = sf_dir
