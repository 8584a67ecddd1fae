"""Steps shared along the analyse → predict path, each written once:

- :func:`event_fanout` — one row → its arrival and its departure event;
- :func:`delay_ecdfs` — grouped delay values → one simplified ECDF row
  per group (the semi-specific ``general_delay`` curves and the
  per-variant default curves);
- :func:`statistics_rows` — curve rows → the DELAY_CURVES row shape.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..curves.core import make_curve, simplify
from ..curves.udfs import CURVE_DDL, curve_to_rows
from ..schemas import DELAY_CURVES, EVENT_ARRIVAL, EVENT_DEPARTURE
from .grouped_map import map_grouped_in_pandas


def event_fanout(**pairs: tuple[str, str]) -> Column:
    """One generator that fans a row out to its arrival and its
    departure event: ``event_type`` plus, for each keyword, the arrival
    column (first of the pair) or the departure column (second)."""
    return F.inline(F.array(*[
        F.struct(
            F.lit(event_type).alias("event_type"),
            *[F.col(pair[i]).alias(name) for name, pair in pairs.items()],
        )
        for i, event_type in enumerate((EVENT_ARRIVAL, EVENT_DEPARTURE))
    ]))


def delay_ecdfs(
    delays: DataFrame, keys: Sequence[str], min_count: int, epsilon: float
) -> DataFrame:
    """One ECDF row per ``keys`` group of ``delays``' non-null ``delay``
    values: make_curve, then simplify(``epsilon``), for groups of at
    least ``min_count`` values (make_curve/simplify in
    src/analyser/curve_utils.rs:68-94).  Output: the key columns, typed
    as in ``delays``, then ``curve`` and ``sample_size``.

    Batched grouped-map dispatch (see
    specific_curves.stop_pair_curve_sets); the ECDF is order-insensitive
    (make_curve np.sorts internally), so no order_cols are needed."""

    def build(key: tuple, pdf: pd.DataFrame) -> dict | None:
        values = pdf["delay"].to_numpy(dtype=float)
        if len(values) < min_count:
            return None
        made = make_curve(values, None)
        if made is None:
            return None
        return {
            **{k: [v] for k, v in zip(keys, key)},
            "curve": [curve_to_rows(simplify(made[0], epsilon))],
            "sample_size": [len(values)],
        }

    schema = ", ".join(
        [f"{k} {delays.schema[k].dataType.simpleString()}" for k in keys]
        + [f"curve {CURVE_DDL}", "sample_size int"]
    )
    return map_grouped_in_pandas(
        delays.filter(F.col("delay").isNotNull()), keys, build, schema
    )


def statistics_rows(curves: DataFrame, **literals) -> DataFrame:
    """``curves`` → DELAY_CURVES-shaped rows, in DELAY_CURVES' column
    order: each column from ``literals`` if named there, else from
    ``curves`` if present, else a typed null.  Present columns are not
    cast: ``curve`` keeps its nullable element type (a cast to the
    non-null CURVE_TYPE does not resolve)."""
    present = set(curves.columns)
    return curves.select(*[
        F.lit(literals[f.name]).alias(f.name) if f.name in literals
        else F.col(f.name) if f.name in present
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in DELAY_CURVES.fields
    ])
