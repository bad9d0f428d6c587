"""``sql_analytics``: two relational queries over the star schema.

Each query is one request; the seed sets their order, fixed for the
run. The result rows of the last pass are checked against
each query's DuckDB twin from ``__spark_entry__.oracle_sql()`` with an
order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

import datagen
from simple_data_workflow_spark.plans import relational
from workload import Workload

#: the multi-join aggregate with the open q9 slowdown, and windows;
#: see NOTES.md for the queries left out and why
QUERIES = [
    "q9_product_profit",
    "window_nav_battery",
]
SF = {"bench": 0.01, "smoke": 0.001}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's values (columns by name)."""
    df = df.rename(columns=str.lower)
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(
        "|".join(
            "NULL" if pd.isna(v) else repr(float(v) if isinstance(v, (int, float)) else v)
            for v in tup
        )
        for tup in df.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


class SqlAnalytics(Workload):
    name = "sql_analytics"
    n_checks = len(QUERIES)

    def prepare(self) -> None:
        self.dir = self.fresh_dir("sql")
        self.ctx.info["tables"] = datagen.star_schema(
            self.dir, SF[self.ctx.scale], self.ctx.seed, TABLES
        )
        order = np.random.default_rng([self.ctx.seed, 7]).permutation(len(QUERIES))
        self.order = [QUERIES[i] for i in order]
        self.results: dict[str, pd.DataFrame] = {}

    def run_pass(self) -> None:
        for name in self.order:
            with self.request(name, "plans.relational"):
                self.results[name] = getattr(relational, name)(self.spark, self.dir).toPandas()

    def check(self) -> list[str]:
        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.dir, t)}.parquet'")
        failures = []
        for name in QUERIES:
            got = self.results.get(name)
            want = con.sql(oracles[name]).fetchdf()
            if got is None or len(got) != len(want) or value_hash(got) != value_hash(want):
                failures.append(
                    f"sql_analytics {name}: spark {None if got is None else len(got)} rows "
                    f"vs oracle {len(want)} rows or value hash differs"
                )
        return failures


WORKLOAD = SqlAnalytics
