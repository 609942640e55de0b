"""Central query registry — the contract between the operator library and
``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers itself here with a
(builder, oracle) pair:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first implementation.
- ``oracle`` — equivalent ANSI SQL for the DuckDB correctness oracle (tables
  pre-registered as views). ``None`` only for genuinely non-SQL-expressible
  ops (the driver then records a weaker rows-only check).

Column names are aliased identically on both sides: the driver sorts columns
by name before hashing values, so any naming drift is a hash mismatch.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None
    tags: tuple[str, ...] = field(default=())
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name, fn, oracle, tags, (fn.__doc__ or "").strip())
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (side effect: registration) and return the
    full registry in registration order."""
    from db_converter_spark.operators import (  # noqa: F401
        relational,
        dedup,
        similarity,
        textops,
        multimodal,
        events,
        pipeline,
        quality,
    )

    return dict(QUERIES)
