"""``query_mix``: registered queries over seeded synthetic tables, in a
seed-permuted order, each checked against its DuckDB oracle.

The oracle results are computed once in set-up and normalised the way
``scripts/driver_sim.py`` does it. Each operation reads a freshly written
copy of the tables, so no file listing is reused between operations.
"""

from __future__ import annotations

import importlib.util

import numpy as np

from perfbench import datagen
from perfbench.workloads import PACKETS, Workload

# one query per kind of operator: many-job recursion (q36), Python workers
# (mm05), a checkpoint loop (ss07) and streaming (ev03)
QUERIES = {
    "full": ("q36", "mm05", "ss07", "ev03"),
    "tiny": ("mm05", "ev03"),
}
SCALE = 0.001  # the smallest tables datagen makes


def _driver_sim():
    path = PACKETS.parent / "scripts" / "driver_sim.py"
    spec = importlib.util.spec_from_file_location("driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryMix(Workload):
    name = "query_mix"

    def setup_once(self) -> None:
        import duckdb

        from db_converter_spark import registry
        from db_converter_spark.catalog import TABLES

        specs = registry.all_queries()
        by_prefix = {n.split("_")[0]: s for n, s in specs.items()}
        order = np.random.default_rng(self.seed).permutation(len(QUERIES[self.size]))
        self.specs = [by_prefix[QUERIES[self.size][k]] for k in order]
        self.norm = _driver_sim()._rows
        data = self.work / "data_oracle"
        datagen.write_tables(data, self.seed, SCALE)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
            self.oracle = {s.name: self.norm(con.execute(s.oracle).df()) for s in self.specs}
        finally:
            con.close()

    def prepare(self, i: int) -> dict:
        data = self.work / f"data_{i}"
        datagen.write_tables(data, self.seed, SCALE)
        return {"data": data, "dirs": [data]}

    def run(self, state: dict):
        out = {}
        for spec in self.specs:
            span = self.tracer.open(f"query.{spec.name.split('_')[0]}") if self.tracer else None
            try:
                out[spec.name] = spec.builder(self.spark, str(state["data"])).toPandas()
            finally:
                if span is not None:
                    self.tracer.close(span)
        return out

    def check(self, state: dict, result) -> list[str]:
        from perfbench.sparkstats import storage_mb

        self.op_stats = {
            "retained_storage_mb": storage_mb(self.spark),
            # the benchmark registers no views: every temp view is a leak
            "leaked_views": float(
                sum(t.isTemporary for t in self.spark.catalog.listTables())
            ),
        }
        return [
            f"{name}: result differs from the DuckDB oracle"
            for name, pdf in result.items()
            if self.norm(pdf) != self.oracle[name]
        ]

    @property
    def units(self) -> int:
        return len(self.specs)
