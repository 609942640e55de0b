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

Operators release what they materialize. They checkpoint only through
:func:`checkpoint`, which records the checkpoint RDD against the registered
builder running on this thread. ``QuerySpec.builder`` is that builder
wrapped: on entry it frees the RDDs the previous wrapped builder recorded
on the same ``SparkSession``. The builder returns a lazy DataFrame whose
plan reads those blocks, so the one rule for callers is: **consume a
result before calling the next builder on the same session.** Sessions are
independent (``spark.newSession()`` keeps its own record), and calling the
raw module-level function records nothing, which leaves its blocks to
Spark's ContextCleaner as before.
"""

from __future__ import annotations

import functools
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark import StorageLevel
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

# ids of the checkpoint RDDs recorded by the wrapped builder running on
# this thread; None outside one
_running = threading.local()
# session UUID -> checkpoint RDD ids recorded by its last wrapped builder;
# every access is one dict operation, atomic under the GIL
_held: dict[str, list[int]] = {}


def checkpoint(
    df: DataFrame, eager: bool = True, storage_level: StorageLevel | None = None
) -> DataFrame:
    """``df.localCheckpoint`` whose blocks the next registered builder on
    the same session frees. The id kept is that of the analyzed plan's
    ``LogicalRDD`` RDD: on Spark 4.1 it is the only RDD whose blocks hold
    the checkpoint (``df.unpersist()`` and ``df.rdd.unpersist()`` leave
    them cached)."""
    out = df.localCheckpoint(eager=eager, storageLevel=storage_level)
    held = getattr(_running, "held", None)
    if held is not None:
        held.append(out._jdf.queryExecution().analyzed().rdd().id())
    return out


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value) -> Iterator[None]:
    """Set a session conf for the block, then restore its previous value,
    or unset it if it had none."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _releasing(fn: Builder) -> Builder:
    """Wrap a raw builder: free what the previous wrapped builder on this
    session checkpointed, then record what this one checkpoints. Blocks are
    freed through ``SparkContext.unpersistRDD``, the call ``RDD.unpersist``
    makes after it logs a "was locally checkpointed" WARN per RDD."""

    @functools.wraps(fn)
    def builder(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = spark._jsparkSession.sessionUUID()
        for rdd_id in _held.pop(key, ()):
            spark.sparkContext._jsc.sc().unpersistRDD(rdd_id, True)
        _running.held = held = []
        try:
            return fn(spark, sf_dir)
        finally:
            _running.held = None
            _held[key] = held

    return builder


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: Builder) -> Builder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(
            name, _releasing(fn), oracle, tags, (fn.__doc__ or "").strip()
        )
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
