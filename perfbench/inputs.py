"""Seeded benchmark inputs: R key-suffixed replicas of the demo feed.

The schedule is written as GTFS CSV (``schedule/*.txt``) and the delay
rows of ``sources/demo.records_rows`` as wire-format GTFS-rt
FeedMessages (``rt/*.pb``), both from this one process.

There is one feed file per recording time, as a poller writes one
FeedMessage per fetch and ``sources/demo.write_rt_feed_files`` writes
one file per source feed: the demo's 75 recording times give 75 files
at any replica count, each holding every replica's updates of that
time.

The seed varies only the arrangement, never the content the oracle
sees: the replica name tokens and which replica gets which
route_variant offset, the feed's file-name prefix, row order inside
files and CSVs, and (for the incremental import) the landing order of
the files and which updates are re-sent.  Every replica's delays are
the demo's exactly (no jitter), so each per-variant statistic equals
the demo oracle's row with mapped keys.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

from dystonse_gtfs_data_spark.sources.demo import records_rows, schedule_rows
from dystonse_gtfs_data_spark.sources.rt import encode_feed_message

#: route_variant offset per replica slot, as in sources/demo.scale_fixture
VARIANT_STRIDE = 1000


@dataclass
class Replica:
    token: str  # key suffix, e.g. "t_long~3f9a"
    slot: int  # route_variant = demo variant + slot * VARIANT_STRIDE

    def key(self, base: str) -> str:
        return f"{base}~{self.token}"


@dataclass
class Inputs:
    root: str
    schedule_dir: str
    rt_files: list[str]  # landing order
    replicas: list[Replica]
    #: every update written, as dicts with the feed file basename and
    #: its recording time: the incremental-import oracle's input
    updates: list[dict] = field(default_factory=list)

    def replica_of(self, key: str) -> Replica:
        token = key.rsplit("~", 1)[1]
        return self._by_token[token]

    def __post_init__(self) -> None:
        self._by_token = {r.token: r for r in self.replicas}


def _replicas(rng: random.Random, r: int) -> list[Replica]:
    tokens: set[str] = set()
    while len(tokens) < r:
        tokens.add(f"{rng.getrandbits(24):06x}")
    ordered = sorted(tokens)
    rng.shuffle(ordered)
    slots = list(range(r))
    rng.shuffle(slots)
    return [Replica(t, s) for t, s in zip(ordered, slots)]


def _write_csv(path: str, header: str, rows: list[tuple], rng: random.Random) -> None:
    rows = list(rows)
    rng.shuffle(rows)
    with open(path, "w") as fh:
        fh.write(header + "\n")
        for row in rows:
            fh.write(",".join(_csv_cell(v) for v in row) + "\n")


def _csv_cell(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.date):
        return v.isoformat()
    return str(v)


def write_schedule(out_dir: str, replicas: list[Replica], rng: random.Random) -> None:
    os.makedirs(out_dir)
    rows = schedule_rows()
    routes, trips, stop_times, stops = [], [], [], []
    for rep in replicas:
        k = rep.key
        routes += [(k(rid), ag, name, rtype) for rid, ag, name, rtype in rows["routes"]]
        trips += [
            (k(tid), k(rid), svc, head, variant + rep.slot * VARIANT_STRIDE)
            for tid, rid, svc, head, variant in rows["trips"]
        ]
        stop_times += [
            (k(tid), seq, k(sid), arr, dep) for tid, seq, sid, arr, dep in rows["stop_times"]
        ]
        stops += [(k(sid), name, lat, lon) for sid, name, lat, lon in rows["stops"]]
    _write_csv(os.path.join(out_dir, "agency.txt"), "agency_id,agency_name",
               [("a1", "Demo Transit")], rng)
    _write_csv(os.path.join(out_dir, "routes.txt"),
               "route_id,agency_id,route_short_name,route_type", routes, rng)
    _write_csv(os.path.join(out_dir, "trips.txt"),
               "trip_id,route_id,service_id,trip_headsign,route_variant", trips, rng)
    _write_csv(os.path.join(out_dir, "stop_times.txt"),
               "trip_id,stop_sequence,stop_id,arrival_time,departure_time",
               stop_times, rng)
    _write_csv(os.path.join(out_dir, "stops.txt"),
               "stop_id,stop_name,stop_lat,stop_lon", stops, rng)
    _write_csv(
        os.path.join(out_dir, "calendar.txt"),
        "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,"
        "start_date,end_date",
        rows["calendar"], rng,
    )


def _hhmmss(seconds: int) -> str:
    return f"{seconds // 3600:02d}:{seconds % 3600 // 60:02d}:{seconds % 60:02d}"


def _update(rep: Replica, row: tuple) -> dict:
    _src, route, _variant, trip, date, start, seq, stop, _tor, arr, dep, _sfn = row
    return {
        "trip_id": rep.key(trip),
        "start_date": date.strftime("%Y%m%d"),
        "start_time": _hhmmss(start),
        "route_id": rep.key(route),
        "stop_id": rep.key(stop),
        "stop_sequence": seq,
        "arrival_delay": arr,
        "departure_delay": dep,
    }


def _feed_name(prefix: str, tor: dt.datetime) -> str:
    # the filename carries the recording time (sources/rt.py's C4 regex)
    return f"{prefix}_{tor.strftime('%Y-%m-%dT%H-%M-%S')}.pb"


def _write_feed(rt_dir: str, name: str, tor: dt.datetime, updates: list[dict]) -> str:
    path = os.path.join(rt_dir, name)
    stamp = int(tor.replace(tzinfo=dt.timezone.utc).timestamp())
    with open(path, "wb") as fh:
        fh.write(encode_feed_message(updates, header_timestamp=stamp))
    return path


def make_inputs(
    root: str,
    seed: int,
    replicas: int,
    resend_share: float = 0.0,
) -> Inputs:
    """Write the schedule and the feed files under ``root`` (must not
    exist).  ``resend_share`` > 0 adds, per service day, one feed file
    that re-sends that share of the day's updates with changed delays
    at a recording time in the middle of the day's reports: re-sent
    updates of earlier stops are newer than their originals and win,
    those of later stops are older and lose."""
    rng = random.Random(seed)
    reps = _replicas(rng, replicas)
    inputs = Inputs(root, os.path.join(root, "schedule"), [], reps)
    write_schedule(inputs.schedule_dir, reps, rng)
    rt_dir = os.path.join(root, "rt")
    os.makedirs(rt_dir)

    by_time: dict[dt.datetime, list[dict]] = {}
    for rep in reps:
        for row in records_rows():
            by_time.setdefault(row[8], []).append(_update(rep, row))
    prefix = f"feed{rng.getrandbits(16):04x}"
    files: list[tuple[str, dt.datetime, list[dict]]] = []
    for tor, ups in sorted(by_time.items()):
        rng.shuffle(ups)
        files.append((_feed_name(prefix, tor), tor, ups))

    if resend_share > 0:
        files += _resends(by_time, rng, resend_share)
        rng.shuffle(files)

    for name, tor, ups in files:
        inputs.rt_files.append(_write_feed(rt_dir, name, tor, ups))
        inputs.updates += [{**u, "feed_name": name, "tor": tor} for u in ups]
    return inputs


def _resends(by_time, rng: random.Random, share: float):
    by_day: dict[dt.date, list[tuple[dt.datetime, dict]]] = {}
    for tor, ups in by_time.items():
        by_day.setdefault(tor.date(), []).extend((tor, u) for u in ups)
    out = []
    for day, ups in sorted(by_day.items()):
        times = sorted({tor for tor, _ in ups})
        at = times[len(times) // 2]  # mid-day: both older and newer re-sends
        picked = [
            {
                **u,
                "arrival_delay": u["arrival_delay"] + rng.randint(1, 90),
                "departure_delay": u["departure_delay"] + rng.randint(1, 90),
            }
            for tor, u in ups
            # a tie on recording time has no defined winner: never re-send
            # at an original's own time
            if tor != at and rng.random() < share
        ]
        out.append((_feed_name("resend", at), at, picked))
    return out
