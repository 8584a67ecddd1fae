"""GTFS time semantics + TimeSlot bucketing as column expressions.

TimeSlot: 11 recurring weekday/hour buckets + DEFAULT (id 12), from the
reference's src/types/time_slots.rs:27-152, with hour/weekday wraparound
handling (:168-201).  Both the Spark Column and the DuckDB CASE SQL are
generated from the same table (`TIME_SLOTS`) so engine and oracle cannot
drift.

GTFS service-day datetimes: seconds-from-midnight may exceed 86400 or be
negative; the reference anchors at service-day noon − 12 h
(src/types/gtfs_time.rs:53-56) to survive DST.  We store UTC timestamps,
so the arithmetic is plain seconds addition (the noon anchor only matters
for local-TZ rendering, which is presentation-layer here).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (id, min_weekday, max_weekday, min_hour, max_hour); weekday 0=Mon..6=Sun,
# hour ranges are [min, max) with wraparound when min > max.
TIME_SLOTS: list[tuple[int, int, int, int, int]] = [
    (1, 0, 4, 4, 6),    # workday morning
    (2, 0, 4, 6, 8),    # workday morning rush
    (3, 0, 4, 8, 12),   # workday late morning
    (4, 0, 4, 12, 14),  # workday noon rush
    (5, 0, 4, 14, 16),  # workday afternoon
    (6, 0, 4, 16, 18),  # workday afternoon rush
    (7, 0, 4, 18, 20),  # workday evening
    (8, 5, 5, 4, 20),   # saturday
    (9, 6, 6, 4, 20),   # sunday
    (10, 6, 3, 20, 4),  # night before workday (Sun–Thu 20:00 → 04:00)
    (11, 4, 5, 20, 4),  # night before weekend day (Fri–Sat 20:00 → 04:00)
]
DEFAULT_SLOT = 12


def _slot_predicate_sql(wd: str, hr: str, slot: tuple[int, int, int, int, int]) -> str:
    _id, min_wd, max_wd, min_hr, max_hr = slot
    if min_wd <= max_wd:
        day = f"({wd} >= {min_wd} AND {wd} <= {max_wd})"
    else:
        day = f"({wd} >= {min_wd} OR {wd} <= {max_wd})"
    if min_hr <= max_hr:
        hour = f"({hr} >= {min_hr} AND {hr} < {max_hr})"
    else:
        hour = f"({hr} >= {min_hr} OR {hr} < {max_hr})"
    return f"({day} AND {hour})"


def time_slot_id(ts: Column) -> Column:
    """Spark expression: timestamp → TimeSlot id (C3)."""
    wd = F.weekday(ts)  # 0 = Monday, matches num_days_from_monday
    hr = F.hour(ts)
    expr: Column | None = None
    for slot in TIME_SLOTS:
        sid, min_wd, max_wd, min_hr, max_hr = slot
        day = (
            (wd >= min_wd) & (wd <= max_wd)
            if min_wd <= max_wd
            else (wd >= min_wd) | (wd <= max_wd)
        )
        hour = (
            (hr >= min_hr) & (hr < max_hr)
            if min_hr <= max_hr
            else (hr >= min_hr) | (hr < max_hr)
        )
        cond = day & hour
        expr = F.when(cond, F.lit(sid)) if expr is None else expr.when(cond, F.lit(sid))
    return expr.otherwise(F.lit(DEFAULT_SLOT))


def time_slot_id_sql(ts_col: str) -> str:
    """DuckDB CASE expression equivalent to :func:`time_slot_id`."""
    wd = f"(date_part('isodow', {ts_col}) - 1)"
    hr = f"date_part('hour', {ts_col})"
    whens = "\n      ".join(
        f"WHEN {_slot_predicate_sql(wd, hr, s)} THEN {s[0]}" for s in TIME_SLOTS
    )
    return f"(CASE\n      {whens}\n      ELSE {DEFAULT_SLOT} END)"


def service_day_timestamp(
    service_date: Column, seconds: Column, tz: str | None = None
) -> Column:
    """C1/C2: service day + seconds-from-midnight (may be < 0 or ≥ 86400)
    → UTC timestamp with day carry (src/main.rs:421-442).

    ``tz=None`` (default): the engine's UTC-pinned semantics — plain
    seconds arithmetic from the service date at 00:00 UTC.  Deterministic
    and DST-free; the right default per SURVEY §7.1.

    ``tz="Europe/Berlin"`` (etc.): the reference's noon-anchored local
    semantics (GtfsDateTime, src/types/gtfs_time.rs:53-56) — the instant
    is local noon of the service day minus 12 h plus ``seconds``, so a
    26:30:00 trip crossing a DST switch lands on the correct local
    wall-clock (e.g. 03:30 CEST on the spring-forward night, because
    02:30 does not exist).  The returned column is still an absolute
    instant (UTC timestamp)."""
    if tz is None:
        return F.timestamp_seconds(
            F.unix_timestamp(service_date.cast("timestamp")) + seconds.cast("long")
        )
    noon_local = F.to_utc_timestamp(
        F.concat(
            service_date.cast("date").cast("string"), F.lit(" 12:00:00")
        ).cast("timestamp"),
        tz,
    )
    return F.timestamp_seconds(
        F.unix_timestamp(noon_local) - 43200 + seconds.cast("long")
    )


def interval_bucket(ts: Column, interval_seconds: int) -> Column:
    """Fixed-width time bucket (A1 count report, src/analyser/count.rs:15-80):
    epoch-floored so engine and oracle agree without window-origin quirks."""
    epoch = F.unix_timestamp(ts)
    return F.timestamp_seconds((epoch / interval_seconds).cast("long") * interval_seconds)


def interval_bucket_sql(ts_col: str, interval_seconds: int) -> str:
    return (
        f"to_timestamp(CAST(floor(epoch({ts_col}) / {interval_seconds}) "
        f"AS BIGINT) * {interval_seconds})"
    )
