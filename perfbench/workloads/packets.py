"""``packets``: one fresh seeded target taken through three packets in a row.

1. ``alert_int4_capacity``: the read-only ``dialect: postgres`` alert, which
   finds the int4 key through the pg_catalog emulation (dialect rewrite,
   catalog refresh, a generator-driven statement per int column);
2. the chunked int4 -> int8 migration, ``packets/test_int4_to_int8`` with its
   chunk grid scaled to the table: two overlapping ``UPDATE ... FROM``
   actions that each rewrite the whole table, an ANALYZE on every fifth
   chunk, py-steps, the CTAS swap and a sequence-default INSERT (the table
   is created by the benchmark, so the packet runs without ``run_once``);
3. an ``export_data`` packet that writes the migrated rows as CSV into a
   password-protected AES zip.

The checks: every packet succeeds; the alert ran one statement, for the
int4 key, and reported no column past 70 % of its capacity, and its
captured results match the golden the run's first operation recorded; the
migrated table holds every
fixture row under a unique BIGINT id plus the sequence rows, and the ledger
holds one record per chunk; the decrypted archive equals, byte for byte,
the CSV of the fixture rows.
"""

from __future__ import annotations

import csv
import hashlib
import io
import json
import re
import shutil
import sqlite3

import numpy as np

from perfbench.workloads import PACKETS, Workload

STRIDE = {"full": 1000, "tiny": 100}  # rows between chunk starts
WIDTH = 10  # chunk width in strides
# the grid runs from 0 to 11 strides, so chunks start at 0..(11 - WIDTH)
# strides and cover a table of 10 strides + 10 rows
ACTIONS = 12 - WIDTH
INSERTED = 11  # rows 07_step.sql adds through the sequence default
DB = "bench_packets"  # every operation rebuilds the target under this name
HEADER = ["id", "fld_1", "fld_2"]
ALERT_COLUMNS = ["column_path", "typname", "current_max", "capacity_ratio"]


def csv_bytes(header: list[str], rows: list[tuple]) -> bytes:
    """The export's CSV format: tab-separated, every field quoted, values
    as ``str()``."""
    buf = io.StringIO(newline="")
    w = csv.writer(buf, delimiter="\t", quoting=csv.QUOTE_ALL)
    w.writerow(header)
    for row in rows:
        w.writerow([str(v) for v in row])
    return buf.getvalue().encode()


class Packets(Workload):
    name = "packets"

    def setup_once(self) -> None:
        from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

        step = STRIDE[self.size]
        self.rows = 10 * step + 10
        rng = np.random.default_rng(self.seed)
        ids = rng.permutation(np.arange(1, self.rows + 1, dtype=np.int64))
        fld_1 = rng.integers(0, 2**40, self.rows, dtype=np.int64)
        fld_2 = rng.integers(0, 10**9, self.rows)
        self.data = [(int(i), int(f), f"text_{t}") for i, f, t in zip(ids, fld_1, fld_2)]
        self.schema = StructType(
            [
                StructField("id", IntegerType()),
                StructField("fld_1", LongType()),
                StructField("fld_2", StringType()),
            ]
        )
        self.checksum = sum(i * (f % 1000003) for i, f, _ in self.data)
        self.expected_csv = hashlib.sha256(csv_bytes(HEADER, sorted(self.data))).hexdigest()

        alert = self.work / "alert_int4_capacity"
        shutil.copytree(PACKETS / "alert_int4_capacity", alert, ignore=shutil.ignore_patterns("*_out"))
        self.goldens = self.work / "goldens"
        self.goldens.mkdir()

        migrate = self.work / "int4_to_int8"
        migrate.mkdir()
        for f in (PACKETS / "test_int4_to_int8").iterdir():
            if f.name == "run_once.sql" or f.name.endswith("_out"):
                continue
            text = f.read_text()
            if f.name == "02_gen_obj.sql":
                # the reference's chunk width (100000) and stride (10000)
                scaled = {"100000": str(WIDTH * step), "10000": str(step)}
                text = re.sub(r"\b(100000|10000)\b", lambda m: scaled[m.group(1)], text)
            elif f.name == "06_step.sql":
                text = text.replace("START WITH 200011", f"START WITH {self.rows + 1}")
            (migrate / f.name).write_text(text)

        export = self.work / "export"
        export.mkdir()
        (export / "meta_data.json").write_text(
            json.dumps({"type": "export_data", "export_options": {"use_zip": "yes", "password": "random"}})
        )
        # the sequence rows are left out: which id each of them gets is not fixed
        (export / "01_step.sql").write_text(f"select * from test_tbl where id <= {self.rows} order by id")
        self.packets = {"alert": alert, "migrate": migrate, "export": export}

    def prepare(self, i: int) -> dict:
        from db_converter_spark.plans.runner import PacketRunner

        ledgers, out = self.work / f"ledgers_{i}", self.work / f"out_{i}"
        self.spark.sql(f"CREATE DATABASE {DB}")
        self.spark.createDataFrame(self.data, self.schema).write.saveAsTable(f"{DB}.test_tbl")
        return {
            "dbs": [DB],
            "dirs": [ledgers, out],
            "ledgers": ledgers,
            "out": out,
            "runner": PacketRunner(self.spark, ledgers),
        }

    def run(self, state: dict):
        runner = state["runner"]
        return {
            name: runner.run(packet, dbs=[DB], export_dir=state["out"])
            for name, packet in self.packets.items()
        }

    def check(self, state: dict, result) -> list[str]:
        from db_converter_spark.plans.golden import check_golden_outputs
        from db_converter_spark.plans.model import ResultCode

        for name, res in result.items():
            if res.result_code.get(DB) != ResultCode.SUCCESS:
                return [f"{name} packet result {res.result_code.get(DB)}: {str(res.result_data.get(DB))[:300]}"]
        problems = []
        steps = result["alert"].result_data[DB]
        tables = [r for results in steps.values() for r in results if r and r[0] == ALERT_COLUMNS]
        if [len(t) for t in tables] != [1]:
            problems.append(f"want one alert statement with no rows, got {str(tables)[:300]}")
        diffs = check_golden_outputs(self.goldens, result["alert"], DB)
        if diffs:
            problems.append(f"alert results differ from the golden: {str(diffs)[:300]}")
        problems += self._check_migration(state)
        problems += self._check_export(state)
        return problems

    def _check_migration(self, state: dict) -> list[str]:
        n, problems = self.rows, []
        dtype = self.spark.table(f"{DB}.test_tbl").schema["id"].dataType.simpleString()
        if dtype != "bigint":
            problems.append(f"id is {dtype}, not bigint")
        r = self.spark.sql(
            f"""SELECT count(*) AS n, count(DISTINCT id) AS d, count(id) AS nn,
                  sum(CASE WHEN id <= {n} THEN CAST(id AS DECIMAL(38,0)) * (fld_1 % 1000003) END) AS chk,
                  min(CASE WHEN id > {n} THEN id END) AS lo,
                  max(CASE WHEN id > {n} THEN id END) AS hi
                FROM {DB}.test_tbl"""
        ).collect()[0]
        total = n + INSERTED
        if (r["n"], r["d"], r["nn"]) != (total, total, total):
            problems.append(f"rows/distinct/non-null ids {r['n']}/{r['d']}/{r['nn']}, want {total}")
        if r["chk"] is None or int(r["chk"]) != self.checksum:
            problems.append("migrated rows differ from the fixture")
        if (r["lo"], r["hi"]) != (n + 1, n + INSERTED):
            problems.append(f"sequence rows {r['lo']}..{r['hi']}, want {n + 1}..{n + INSERTED}")
        con = sqlite3.connect(state["ledgers"] / DB / "dbc_ledger.sqlite")
        try:
            (actions,) = con.execute(
                "SELECT count(*) FROM dbc_actions a JOIN dbc_steps s ON s.id = a.step_id"
                " WHERE s.name = '02_step.sql'"
            ).fetchone()
        finally:
            con.close()
        if actions != ACTIONS:
            problems.append(f"ledger holds {actions} chunk actions, want {ACTIONS}")
        self.op_stats = {"rows_changed": float(n)}
        return problems

    def _check_export(self, state: dict) -> list[str]:
        from db_converter_spark.functions.wzaes import read_aes_zip

        zips = sorted(state["out"].glob("*.zip"))
        if len(zips) != 1 or any(state["out"].glob("*.csv")):
            return [f"want exactly one zip and no CSV, got {sorted(p.name for p in state['out'].iterdir())}"]
        # the random password is the second field of the archive name
        files = read_aes_zip(zips[0], zips[0].name.split("_")[1])
        csv_total = sum(len(b) for b in files.values())
        zip_size = zips[0].stat().st_size
        self.op_stats.update({"csv_bytes": float(csv_total), "zip_bytes": float(zip_size)})
        problems = []
        if [hashlib.sha256(b).hexdigest() for b in files.values()] != [self.expected_csv]:
            problems.append("exported CSV content differs from the fixture rows")
        # the fixture's random digits compress to about 40 %; an archive that
        # stops compressing is a wrong output, not a slower one
        if zip_size > 0.6 * csv_total:
            problems.append(f"archive ({zip_size} B) is over 60 % of its CSV ({csv_total} B)")
        return problems

    @property
    def units(self) -> int:
        return self.rows
