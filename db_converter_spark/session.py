"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]`` but every conf here is chosen to also be
the right default on a large cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized explicitly,
session timezone pinned to UTC for deterministic timestamp semantics
(the reference pins ``timezone=UTC`` per session too —
reference: db_converter.py:82).

Host fit: without overrides, ``local[N]`` and the shuffle partition count
are the CPUs this process may run on, and the driver heap is half of the
host's physical memory, capped at 24g. ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them.

Driver JVM compile policy: ``-XX:CICompilerCount=2``, one C1 and one C2
compiler thread (the smallest count HotSpot accepts with tiered
compilation; its default on 4 CPUs is one C1 and two C2 threads). A packet
run is one fresh driver JVM planning a few dozen small statements, and
most of its CPU is C2 compiling lukewarm Catalyst code the run exits
before using: on a 4-core host the two C2 ``CompilerThread``s burned 22.4
of the 42.4 CPU-s of a cold ``packets`` operation (C1: 4.1, the Python
driver: 1.3). With one C2 thread that thread burns 11.8 CPU-s, the
operation's CPU drops by a quarter (median 45.9 → 34.6 s) without a
slower wall time, and hot code still reaches C2. C1-only
(``-XX:TieredStopAtLevel=1``) was rejected: it halves cold CPU, but a hot
60M-row hash aggregate runs 3-4x slower at steady state (1.2-1.6 s →
4-6.5 s) and a warm sf0.1 ``q01`` goes from 1.2 s to 2.1 s.

The policy sits in ``spark.driver.defaultJavaOptions``, which Spark puts
ahead of ``spark.driver.extraJavaOptions`` on the JVM command line. The
latter carries the heap/GC options of ``SPARK_GRAFT_DRIVER_JAVA_OPTS``, so
a flag given there comes later and still wins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> int:
    """CPUs this process may run on, unless ``SPARK_GRAFT_CPUS`` says."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))


def host_driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else half of ``MemTotal``
    capped at 24g, so the default never asks for more than the host has."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    return env or f"{min(24 * 1024, _mem_total_kb() // 2048)}m"


def build_session(
    app_name: str = "db_converter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[host_cpus()]``.
    """
    cpus = host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata parquet carries TIMESTAMP(NANOS) which Spark has no type
        # for; read as long + convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", host_driver_memory())
        # the compile policy above; Spark appends extraJavaOptions after it
        .config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
        # ParallelGC: a batch engine wants throughput, and G1's concurrent
        # refinement threads cost system time on a large heap. AlwaysPreTouch
        # zeroes heap pages as the heap is committed, not on first use
        # inside a query.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch",
            ),
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
