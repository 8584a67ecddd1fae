"""Spark-facing curve helpers: the curve column type and pandas UDFs.

Curves travel through DataFrames as ``array<struct<x: float, y: float>>``
(FIXTURES.md `prediction_curve`; the reference packs them into a ≤120-byte
blob, src/importer/per_schedule_importer.rs:362 — unnecessary on Spark,
where the nested type is columnar already).

All UDFs are Arrow-vectorized pandas UDFs — one Python call per batch,
never per row (the 100 TB path).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .core import Curve, transfer_probability as _transfer_probability

CURVE_POINT_TYPE = T.StructType(
    [
        T.StructField("x", T.FloatType(), False),
        T.StructField("y", T.FloatType(), False),
    ]
)
CURVE_TYPE = T.ArrayType(CURVE_POINT_TYPE, containsNull=False)
CURVE_DDL = "array<struct<x: float, y: float>>"


def curve_to_rows(curve: Curve) -> list[dict[str, float]]:
    return [{"x": x, "y": y} for x, y in zip(curve.xs.tolist(), curve.ys.tolist())]


def rows_to_curve(rows) -> Curve | None:
    if rows is None or len(rows) < 2:
        return None
    xs = [r["x"] for r in rows]
    ys = [r["y"] for r in rows]
    return Curve(xs, ys)


def _eval_series(curves: pd.Series, args: pd.Series, fn) -> pd.Series:
    out = np.full(len(curves), np.nan)
    for i, (rows, a) in enumerate(zip(curves, args)):
        c = rows_to_curve(rows)
        if c is not None and a is not None:
            out[i] = fn(c, a)
    return pd.Series(out)


@F.pandas_udf(T.DoubleType())
def curve_x_at_y(curve: pd.Series, y: pd.Series) -> pd.Series:
    """Quantile: x at cumulative probability y (A13, C11)."""
    return _eval_series(curve, y, lambda c, a: float(c.x_at_y(float(a))))


@F.pandas_udf(T.DoubleType())
def curve_y_at_x(curve: pd.Series, x: pd.Series) -> pd.Series:
    """CDF value at x (C11)."""
    return _eval_series(curve, x, lambda c, a: float(c.y_at_x(float(a))))


@F.pandas_udf(T.DoubleType())
def curve_min_x(curve: pd.Series) -> pd.Series:
    return _eval_series(curve, pd.Series([0.0] * len(curve)), lambda c, _a: c.min_x())


@F.pandas_udf(T.DoubleType())
def curve_max_x(curve: pd.Series) -> pd.Series:
    return _eval_series(curve, pd.Series([0.0] * len(curve)), lambda c, _a: c.max_x())


@F.pandas_udf(T.DoubleType())
def curve_transfer_probability(arrival: pd.Series, departure: pd.Series) -> pd.Series:
    """C14: probability that `departure` happens after `arrival`."""
    out = np.full(len(arrival), np.nan)
    for i, (a_rows, d_rows) in enumerate(zip(arrival, departure)):
        a, d = rows_to_curve(a_rows), rows_to_curve(d_rows)
        if a is not None and d is not None:
            out[i] = _transfer_probability(a, d)
    return pd.Series(out)
