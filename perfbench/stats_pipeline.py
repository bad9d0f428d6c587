"""``stats_pipeline``: the paper's flow over a seeded dirty CSV.

One pass = one request through the paper's stage functions in order:
read, clean, encode, MICE imputation with bounded sweeps, transform,
Gelman-standardize, OLS + confidence intervals. Each stage call is a
child span of its module's layer; ``wrangle_na``'s call of
``mice_impute`` is wrapped in the ``operators.mice`` span.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import datagen
from simple_data_workflow_spark.operators import (
    categorical,
    cleaning,
    mice,
    model,
    na,
    transforms,
)
from simple_data_workflow_spark.sources import readers
from workload import Workload

ROWS = {"bench": 30_000, "smoke": 6_000}
#: two sweeps: one burn-in, then a second imputation one sweep later
MICE_SWEEPS = {"n_burnin": 1, "n_imputations": 2, "n_spread": 1}
#: the warm-up runs every MICE code path once, not every sweep
WARMUP_SWEEPS = {"n_burnin": 1, "n_imputations": 1, "n_spread": 1}
NUMERIC = ["l_quantity", "extended_price", "discount", "tax"]
CATEGORICAL = ["return_flag", "line_status"]
#: base names; ``run_model`` picks up the ``return_flag_*`` dummies by substring
REGRESSORS = ["l_quantity", "discount", "tax", "return_flag"]
NA_VALUES = [datagen.NUM_SENTINEL, datagen.STR_SENTINEL]


class StatsPipeline(Workload):
    name = "stats_pipeline"
    n_checks = 2

    def prepare(self) -> None:
        rows = ROWS[self.ctx.scale]
        self.csv = os.path.join(self.fresh_dir("stats"), "lineitem_dirty.csv")
        self.ctx.info["csv"] = datagen.dirty_csv(self.csv, rows, self.ctx.seed)
        self.rows = rows
        self.sweeps = MICE_SWEEPS

    def warm_up(self) -> None:
        self.sweeps = WARMUP_SWEEPS
        try:
            self.run_pass()
        finally:
            self.sweeps = MICE_SWEEPS

    def run_pass(self) -> None:
        tr, spark = self.ctx.tracer, self.spark
        with self.request("pipeline_mice"):
            df = tr.call("sources.readers", readers.read_delim, spark, self.csv)
            clean, reg = tr.call(
                "operators.cleaning", cleaning.clean_data, df,
                na_values=NA_VALUES, cat_cols=CATEGORICAL,
            )
            enc = tr.call("operators.categorical", categorical.encode_data, clean, reg)
            with tr.instrument(mice, ["mice_impute"], "operators.mice"):
                imp = tr.call(
                    "operators.na", na.wrangle_na, enc, strategy="mice",
                    cols=NUMERIC, seed=self.ctx.seed, **self.sweeps,
                )
            out = tr.call(
                "operators.transforms", transforms.transform_data, imp, ["l_quantity"]
            )
            out = tr.call(
                "operators.transforms", transforms.gelman_standardize_data, out, reg
            )
            fit = tr.call("operators.model", model.run_model, out, "extended_price", REGRESSORS)
            tr.call("operators.model", model.confidence_intervals, spark, fit).collect()
        self.mice = (imp, out, fit)

    def check(self) -> list[str]:
        failures = []
        imp, out, fit = self.mice
        # the OLS estimates equal a numpy normal-equation solve on the
        # same standardized frame
        y = "extended_price"
        cols = [y, *fit.regressors]
        pdf = out.select(*[F.col(c).cast("double") for c in cols]).na.drop().toPandas()
        X, yv = pdf[fit.regressors].to_numpy(), pdf[y].to_numpy()
        beta = np.linalg.solve(X.T @ X, X.T @ yv)
        if not np.allclose(fit.params, beta, rtol=1e-6, atol=1e-9):
            failures.append(f"stats_pipeline OLS {fit.params} != numpy {beta}")
        # MICE: n_imputations stacked copies, no NULL left anywhere
        row = imp.agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in imp.columns],
        ).first()
        want = MICE_SWEEPS["n_imputations"] * self.rows
        nulls = {c: row[c] for c in imp.columns if row[c]}
        if row["n"] != want or nulls:
            failures.append(f"stats_pipeline mice rows {row['n']} (want {want}) nulls {nulls}")
        return failures


WORKLOAD = StatsPipeline
