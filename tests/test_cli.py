"""End-to-end CLI: import → analyse → import (predictions) → monitor
over a temp --dir with a GTFS schedule and encoded GTFS-rt files —
the reference's four top-level commands (src/main.rs:123-201) on the
parquet backend."""

from __future__ import annotations

import json
import os

import pytest

from dystonse_gtfs_data_spark.__main__ import main as cli_main
from dystonse_gtfs_data_spark.sources.rt import encode_feed_message

GTFS_CSV = {
    "agency": "agency_id,agency_name\na1,Demo Transit\n",
    "routes": "route_id,agency_id,route_short_name,route_type\nr1,a1,R1,3\n",
    "stops": (
        "stop_id,stop_name,stop_lat,stop_lon\n"
        + "\n".join(f"s{i},Stop {i},53.{i:03d},8.8" for i in range(8))
        + "\n"
    ),
    "trips": "trip_id,route_id,service_id,trip_headsign\nta,r1,svc,Down\n",
    "stop_times": (
        "trip_id,stop_sequence,stop_id,arrival_time,departure_time\n"
        + "\n".join(
            f"ta,{i + 1},s{i},{28770 + i * 300},{28800 + i * 300}"
            for i in range(8)
        )
        + "\n"
    ),
    "calendar": (
        "service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n"
        "svc,true,true,true,true,true,false,false,2024-01-01,2024-12-31\n"
    ),
}


@pytest.fixture()
def data_dir(tmp_path):
    d = tmp_path / "data"
    sched = d / "schedules" / "2024-01-01-feed"
    sched.mkdir(parents=True)
    for name, content in GTFS_CSV.items():
        (sched / f"{name}.txt").write_text(content)
    rt = d / "rt"
    rt.mkdir()
    # one vehicle per weekday across 2024-01: enough samples per
    # (section, slot, event) group to clear the ≥10 default-curve guard
    import datetime as dt

    day = dt.date(2024, 1, 1)
    vehicles = 0
    while vehicles < 12:
        if day.weekday() < 5:  # workday slot, same as the 08:xx times
            rows = [
                {
                    "trip_id": "ta",
                    "start_date": day.strftime("%Y%m%d"),
                    "start_time": "08:00:00",
                    "route_id": "r1",
                    "stop_id": f"s{i}",
                    "stop_sequence": i + 1,
                    "arrival_delay": 40 + vehicles * 7 + i * 5,
                    "departure_delay": 40 + vehicles * 7 + i * 5 + 3,
                }
                # only the first 3 stops report: the realtime basis then
                # fans predictions out to the trip's remaining stops
                for i in range(3)
            ]
            blob = encode_feed_message(
                rows, header_timestamp=1704096000 + vehicles * 86400
            )
            (rt / f"{day.isoformat()}T08-00-00.pb").write_bytes(blob)
            vehicles += 1
        day += dt.timedelta(days=1)
    return str(d)


def _assert_schedule_tagged(spark, data_dir) -> None:
    """Every record names the schedule it was matched against, not the
    feed file it came from."""
    tags = {
        r["schedule_file_name"]
        for r in spark.read.parquet(os.path.join(data_dir, "db", "records"))
        .select("schedule_file_name").distinct().collect()
    }
    assert tags == {"2024-01-01-feed"}


def _run(capsys, *argv) -> list[dict]:
    cli_main(list(argv))
    out = capsys.readouterr().out.strip()
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def test_automatic_import_matches_batch(spark, data_dir, capsys):
    base = ["--dir", data_dir, "--source", "test"]
    out = _run(capsys, *base, "import", "--automatic")
    n_stream = out[0]["records"]
    assert n_stream > 0
    _assert_schedule_tagged(spark, data_dir)
    # the merge compacts as it lands: a small table is one byte-targeted
    # file, not shuffle-width near-empty fragments per micro-batch
    import glob as _glob

    parts = _glob.glob(f"{data_dir}/db/records/*.parquet")
    assert len(parts) == 1, parts
    # exactly-once: a re-run reprocesses nothing (checkpoint), count holds
    out = _run(capsys, *base, "import", "--automatic")
    assert out[0]["records"] == n_stream
    # parity with the batch path over the same feed
    import shutil

    for sub in ("db",):
        shutil.rmtree(f"{data_dir}/{sub}", ignore_errors=True)
    out = _run(capsys, *base, "import")
    assert out[0]["records"] == n_stream
    _assert_schedule_tagged(spark, data_dir)


def test_full_cli_lifecycle(spark, data_dir, capsys):
    base = ["--dir", data_dir, "--source", "test"]

    # 1. import: rt files → records
    out = _run(capsys, *base, "import")
    assert out[0]["command"] == "import"
    assert out[0]["records"] > 0
    assert os.path.exists(os.path.join(data_dir, "db", "records"))
    _assert_schedule_tagged(spark, data_dir)

    # 1b. analyse count: per-interval record report
    out = _run(capsys, *base, "analyse", "--what", "count")
    assert out and all("n_records" in d for d in out)
    assert sum(d["n_records"] for d in out) > 0

    # 2. analyse: records → statistics tree
    out = _run(capsys, *base, "analyse")
    assert out[0]["statistics_rows"] > 0
    assert os.path.exists(os.path.join(data_dir, "curves"))

    # 3. import again: latest-wins merge + realtime predictions
    out = _run(capsys, *base, "import")
    assert any("predictions" in d for d in out)
    _assert_schedule_tagged(spark, data_dir)
    assert os.path.exists(os.path.join(data_dir, "db", "predictions"))

    # 3b. analyse variants: one-family trees and SVG rendering
    out = _run(capsys, *base, "analyse", "--what", "compute-default-curves")
    assert out[0]["statistics_rows"] > 0
    out = _run(capsys, *base, "analyse")  # restore the full tree
    full_rows = out[0]["statistics_rows"]
    out = _run(capsys, *base, "analyse", "--what", "draw-curves")
    assert out[0]["svg_files"] > 0
    svg_dir = os.path.join(data_dir, "curves_svg")
    one = os.path.join(svg_dir, sorted(os.listdir(svg_dir))[0])
    assert open(one).read().startswith("<svg")

    # 4. predict: single lookup prints per-stop JSON rows
    out = _run(
        capsys, *base, "predict",
        "--trip-id", "ta", "--date-time", "2024-01-01 08:00:00",
    )
    assert out and all("precision_type" in d for d in out)
    # with a realtime basis: the interpolation rung gets start_stop_index
    out = _run(
        capsys, *base, "predict",
        "--trip-id", "ta", "--date-time", "2024-01-01 08:00:00",
        "--start-stop-sequence", "1", "--initial-delay", "60",
    )
    assert out
    assert full_rows > 0

    # 5. monitor: departure board JSON lines within the window
    out = _run(
        capsys, *base, "monitor",
        "--stop-ids", "s1,s2,s3",
        "--window-start", "2024-01-01 00:00:00",
        "--window-end", "2024-01-02 00:00:00",
    )
    assert out
    for d in out:
        assert d["stop_id"] in {"s1", "s2", "s3"}

    # 6. monitor --serve: the reference's HTTP mode — same rows as the
    # CLI board, served from a live ephemeral port
    import json as _json
    import urllib.parse
    import urllib.request

    monkey_env = "SPARK_GRAFT_MONITOR_NO_BLOCK"
    os.environ[monkey_env] = "1"
    try:
        served = _run(capsys, *base, "monitor", "--serve", "--port", "0")
        port = served[0]["serving"]["port"]
        qs = urllib.parse.urlencode(
            {
                "stop_ids": "s1,s2,s3",
                "start": "2024-01-01T00:00:00",
                "end": "2024-01-02T00:00:00",
            }
        )
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/departures?{qs}", timeout=300
        ) as resp:
            rows = _json.load(resp)
        assert len(rows) == len(out)
        assert {r["stop_id"] for r in rows} <= {"s1", "s2", "s3"}
    finally:
        os.environ.pop(monkey_env, None)


def test_merge_into_records_recovers_from_rename_crash(spark, tmp_path):
    # crash window: after rename(records -> .old), before
    # rename(.staging -> records).  The sole copy of the table lives in
    # '.old'; the next import must restore it and merge ON TOP of it —
    # not rebuild the table from the new batch alone (and never rmtree
    # the sole copy).
    import datetime as dt
    import os

    from dystonse_gtfs_data_spark.__main__ import _merge_into_records

    def batch(ids, t):
        return spark.createDataFrame(
            [
                ("src", "r1", f"t{i}", dt.date(2024, 1, 1), 100, i,
                 dt.datetime(2024, 1, 1, 8, 0, t), float(i))
                for i in ids
            ],
            "source string, route_id string, trip_id string, "
            "trip_start_date date, trip_start_time int, stop_sequence int, "
            "time_of_recording timestamp, delay_departure double",
        )

    path = str(tmp_path / "records")
    _merge_into_records(spark, batch([1, 2, 3], t=0), path)
    os.rename(path, path + ".old")  # simulate the crash state
    _merge_into_records(spark, batch([4], t=1), path)
    got = sorted(r["trip_id"] for r in spark.read.parquet(path).collect())
    assert got == ["t1", "t2", "t3", "t4"]  # history survived the crash
    assert not os.path.exists(path + ".old")
