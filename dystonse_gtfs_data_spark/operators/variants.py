"""E3: route-variant shape grouping (visual schedule's master-variant
selection, src/analyser/visual_schedule.rs:212-277): sort variants by
stop-count descending; a variant is *covered* if its stop list is a
contiguous subsequence of an already-chosen master (also reversed);
otherwise it becomes a new master.

The reference runs a driver-side partition-and-subtract loop; variant
counts per route are tiny (dozens), so we keep the subsequence test
per-route but express the whole thing as one grouped pandas UDF —
routes still parallelize across the cluster.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _is_contiguous_subsequence(needle: list, haystack: list) -> bool:
    n, h = len(needle), len(haystack)
    if n == 0 or n > h:
        return False
    return any(haystack[i : i + n] == needle for i in range(h - n + 1))


def variant_patterns(trips: DataFrame, stop_times: DataFrame) -> DataFrame:
    """(route_id, route_variant) → ordered stop-id pattern."""
    pattern = (
        stop_times.groupBy("trip_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("stop_sequence", "stop_id"))),
                lambda s: s.stop_id,
            ).alias("pattern")
        )
    )
    return (
        trips.join(pattern, "trip_id")
        .groupBy("route_id", "route_variant")
        .agg(F.first("pattern").alias("pattern"))
    )


def master_variants(trips: DataFrame, stop_times: DataFrame) -> DataFrame:
    """Per route: each variant labeled with the master variant that covers
    it (itself if it is a master) and whether it matched reversed."""
    patterns = variant_patterns(trips, stop_times)

    def assign(_key: tuple, pdf: pd.DataFrame) -> dict:
        pdf = pdf.sort_values(
            by=["pattern", "route_variant"],
            key=lambda s: s.map(len) if s.name == "pattern" else s,
            ascending=[False, True],
        )
        masters: list[tuple[int, list]] = []
        out_master, out_rev = [], []
        for _, row in pdf.iterrows():
            pat = list(row["pattern"])
            chosen, reversed_match = None, False
            for mv, mpat in masters:
                if _is_contiguous_subsequence(pat, mpat):
                    chosen = mv
                    break
                if _is_contiguous_subsequence(list(reversed(pat)), mpat):
                    chosen, reversed_match = mv, True
                    break
            if chosen is None:
                masters.append((row["route_variant"], pat))
                chosen = row["route_variant"]
            out_master.append(chosen)
            out_rev.append(reversed_match)
        return {
            "route_id": pdf["route_id"].tolist(),
            "route_variant": pdf["route_variant"].tolist(),
            "master_variant": out_master,
            "reversed": out_rev,
        }

    # batched grouped-map dispatch (operators/grouped_map): group count
    # = ROUTES, which scales with the feed corpus — per-group Arrow
    # dispatch would tax exactly like the curve builders'.  The assign
    # fn fully re-sorts its group internally, so no order_cols needed.
    from .grouped_map import map_grouped_in_pandas

    return map_grouped_in_pandas(
        patterns,
        ("route_id",),
        assign,
        "route_id string, route_variant long, master_variant long, reversed boolean",
    )
