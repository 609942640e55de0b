"""Benchmark workloads.

Each workload drives the engine only through its public entry points and
has the same life cycle:

- ``setup_once()``: inputs shared by every operation (packets, oracles);
- ``prepare(i)``: a fresh target for operation ``i``; the first one's
  time is part of ``setup_s``;
- ``run(state)``: the timed operation;
- ``check(state, result)``: a list of problems, empty when the output is
  correct;
- ``cleanup(state)``: drop the target.
"""

from __future__ import annotations

import shutil
from pathlib import Path

PACKETS = Path(__file__).resolve().parents[2] / "packets"


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, size: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size
        self.tracer = None  # set while an operation is traced
        self.op_stats: dict[str, float] = {}  # per-op figures from check()

    def setup_once(self) -> None:
        pass

    def prepare(self, i: int) -> dict:
        raise NotImplementedError

    def run(self, state: dict):
        raise NotImplementedError

    def check(self, state: dict, result) -> list[str]:
        raise NotImplementedError

    def cleanup(self, state: dict) -> None:
        for db in state.get("dbs", []):
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        for d in state.get("dirs", []):
            shutil.rmtree(d, ignore_errors=True)

    @property
    def units(self) -> int:
        """Items one operation handles, counted by ``throughput_per_s``
        (rows for ``packets``, queries for ``query_mix``)."""
        raise NotImplementedError


def registry() -> dict[str, type[Workload]]:
    from perfbench.workloads.packets import Packets
    from perfbench.workloads.query_mix import QueryMix

    return {w.name: w for w in (Packets, QueryMix)}
