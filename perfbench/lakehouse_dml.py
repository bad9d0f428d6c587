"""``lakehouse_dml``: writes beside reads on four table formats.

One pass, for each of tablelog, Delta, Iceberg and Hudi (merge-on-read):
write the orders table into a fresh root, then a seeded MERGE upsert
(half of its rows update existing keys, half insert). Each commit is
one request; the MERGE is followed by a snapshot read plus aggregate
(another request) of the uncompacted table, so Iceberg and Hudi merge
the delete and log files of the updated rows on read.
The final snapshots must agree with each other and with a DuckDB replay
of the same seeded operations.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

import datagen
from simple_data_workflow_spark.sources import (
    delta_writer,
    hudi_writer,
    iceberg_writer,
    lakehouse,
    tablelog,
)
from spans import dir_state
from workload import Workload

SF = {"bench": 0.005, "smoke": 0.001}
MERGE_ROWS = {"bench": 500, "smoke": 100}
COLUMNS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
KEY = "o_orderkey"
FORMATS = ["tablelog", "delta", "iceberg", "hudi"]
#: the commit followed by the snapshot read: the final table, upserted
#: but not compacted (merge-on-read on Iceberg and Hudi)
READ_AFTER = ("merge",)
WRITER_LAYER = {
    "tablelog": "sources.tablelog",
    "delta": "sources.delta_writer",
    "iceberg": "sources.iceberg_writer",
    "hudi": "sources.hudi_writer",
}


def _snapshot_agg(df):
    """Row count, key sum and cents sum: exact in every engine."""
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(KEY).alias("key_sum"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    ).first()


class LakehouseDml(Workload):
    name = "lakehouse_dml"
    n_checks = len(FORMATS) + 1

    def prepare(self) -> None:
        scale = self.ctx.scale
        self.dir = self.fresh_dir("lake_input")
        rows = datagen.star_schema(self.dir, SF[scale], self.ctx.seed, ["orders"])
        self.input_path = os.path.join(self.dir, "orders.parquet")
        self.input_bytes = os.path.getsize(self.input_path)
        merge = datagen.merge_batch(self.ctx.seed, rows["orders"], MERGE_ROWS[scale])
        batch = pa.table({c: merge[c] for c in COLUMNS})
        self.batch_path = os.path.join(self.dir, "merge_batch.parquet")
        datagen.write_parquet(batch, self.batch_path)
        self.ctx.info["orders_rows"] = rows["orders"]
        self.ctx.info["merge_rows"] = batch.num_rows
        self.final: dict[str, tuple] = {}
        self.disk_ratio: list[float] = []
        self.pass_no = 0

    def run_pass(self) -> None:
        self.pass_no += 1
        base = self.fresh_dir("lake", f"pass{self.pass_no}")
        orders = self.spark.read.parquet(self.input_path).select(*COLUMNS)
        batch = self.spark.read.parquet(self.batch_path).select(*COLUMNS)
        for fmt in FORMATS:
            path = os.path.join(base, fmt)
            for op, fn in self._ops(fmt, orders, batch):
                self._commit(fmt, op, path, fn)
                if op in READ_AFTER:
                    row = self._read(fmt, path)
            self.final[fmt] = tuple(row)
        disk = sum(sum(dir_state(os.path.join(base, f)).values()) for f in FORMATS)
        self.disk_ratio.append(disk / (len(FORMATS) * self.input_bytes))
        shutil.rmtree(os.path.join(self.ctx.work, "lake", f"pass{self.pass_no - 1}"),
                      ignore_errors=True)

    def _ops(self, fmt: str, orders, batch):
        """(op name, call(path)) for write and merge."""
        spark = self.spark
        if fmt == "tablelog":
            return [
                ("write", lambda p: tablelog.table_commit(orders, p)),
                ("merge", lambda p: tablelog.table_merge_upsert(spark, p, batch, KEY)),
            ]
        if fmt == "delta":
            return [
                ("write", lambda p: delta_writer.delta_write(orders, p)),
                ("merge", lambda p: delta_writer.delta_merge_upsert(spark, p, batch, [KEY])),
            ]
        if fmt == "iceberg":
            return [
                ("write", lambda p: iceberg_writer.iceberg_write(orders, p)),
                ("merge", lambda p: iceberg_writer.iceberg_merge_upsert(spark, p, batch, [KEY])),
            ]
        return [
            ("write", lambda p: hudi_writer.hudi_write(
                orders, p, record_key=KEY, table_type="MERGE_ON_READ")),
            ("merge", lambda p: hudi_writer.hudi_delta_upsert(spark, p, batch)),
        ]

    def _commit(self, fmt: str, op: str, path: str, fn) -> None:
        layer = WRITER_LAYER[fmt]
        traced = self.ctx.tracer.enabled
        before = dir_state(path) if traced else None
        with self.request(f"commit.{fmt}.{op}", layer) as sp:
            fn(path)
        if traced:
            after = dir_state(path)
            sp.counters["bytes_written"] = sum(
                size for f, size in after.items() if before.get(f) != size
            )
            sp.counters["files_written"] = sum(
                1 for f, size in after.items() if before.get(f) != size
            )

    def _read(self, fmt: str, path: str):
        with self.request(f"read.{fmt}", f"sources.lakehouse.read.{fmt}"):
            df = (
                tablelog.table_read(self.spark, path)
                if fmt == "tablelog"
                else lakehouse.read_table(self.spark, fmt, path)
            )
            return _snapshot_agg(df)

    def check(self) -> list[str]:
        con = duckdb.connect()
        con.sql(f"CREATE VIEW orders AS SELECT {', '.join(COLUMNS)} "
                f"FROM '{self.input_path}'")
        con.sql(f"CREATE VIEW batch AS SELECT * FROM '{self.batch_path}'")
        want = con.sql(f"""
            WITH m AS (SELECT * FROM orders WHERE {KEY} NOT IN (SELECT {KEY} FROM batch)
                  UNION ALL SELECT * FROM batch)
            SELECT COUNT(*), SUM({KEY}),
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) FROM m
        """).fetchone()
        failures = []
        for fmt in FORMATS:
            got = self.final.get(fmt)
            if got != tuple(want):
                failures.append(f"lakehouse_dml {fmt}: final snapshot {got} != replay {want}")
        if len(set(self.final.values())) != 1:
            failures.append(f"lakehouse_dml formats disagree: {self.final}")
        return failures

    def trace_metrics(self) -> dict[str, float]:
        return {
            "sources.lakehouse.disk_bytes_per_input_byte": (
                sum(self.disk_ratio) / len(self.disk_ratio) if self.disk_ratio else 0.0
            )
        }


WORKLOAD = LakehouseDml
