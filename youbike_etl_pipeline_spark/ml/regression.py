"""Linear-regression model evolution (SURVEY §2.7 M7).

The reference fits three OLS formulas of increasing richness and compares R²
(M1 static 0.02 → M3 with lag1 0.92; ``notebooks/01_youbike_analysis.ipynb:
L1137-L1151``, ``README.md:31-32``). ``RFormula`` reproduces the ``C()``
one-hot treatment; ``LinearRegression`` with the normal-equations solver is
deterministic and distributed (one pass for X'X / X'y).
"""

from __future__ import annotations

from pyspark.ml.feature import RFormula
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame


def linear_r2(df: DataFrame, formula: str) -> dict:
    """Fit one R-style formula, return {formula, r2, n, intercept, coefs}."""
    rf = RFormula(formula=formula, featuresCol="features", labelCol="label")
    prepared = rf.fit(df).transform(df).select("features", "label")
    lr = LinearRegression(featuresCol="features", labelCol="label", solver="normal")
    model = lr.fit(prepared)
    return {
        "formula": formula,
        "r2": float(model.summary.r2),
        "n": int(model.summary.numInstances),
        "intercept": float(model.intercept),
        "coefficients": [float(c) for c in model.coefficients],
    }
