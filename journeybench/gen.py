"""Seeded input generator for the journey benchmark.

The schedule (routes, stops, trips) is the same for every seed, so the
amount of work per operation does not depend on the seed; the seed
drives the GTFS-RT side: which vehicles report, their delays, the
null and out-of-range delays, and the predicted spreads on the board.

Every expectation the benchmark checks outputs against is derived
here from the generated rows, never from the program under test.
"""

from __future__ import annotations

import datetime as dt
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd

TZ = ZoneInfo("Europe/Berlin")
SOURCE = "vbn"
SCHEDULE_NAME = "gtfs-2024-01-01"

ROUTES = [("R1", "1", 3), ("R2", "2", 0), ("R3", "3", 2)]  # id, name, type
STOPS_PER_TRIP = 6
TRIPS_PER_ROUTE = 30
HEADWAY_S = 360                  # every 6 min from 08:00: all in slot 3
FIRST_DEP_S = 8 * 3600
STOP_GAP_S = 120
N_STOP_IDS = 24                  # S0..S23, platform pairs share a name

# every service day the benchmark touches is a Monday
LIVE_DAY = dt.date(2024, 1, 8)
BASE_DAY = dt.date(2024, 1, 1)
WARM_DAY = dt.date(2024, 1, 15)  # the throwaway day of the nightly warm-up
# the pinned "now" of both prediction passes: every generated vehicle
# has finished its trip (the last one leaves its first stop at 10:54),
# and the scheduled window starts after LIVE_DAY's last departure
PREDICT_NOW = dt.datetime(2024, 1, 8, 14, 0)
SCHEDULE_BUFFER = dt.timedelta(days=7, hours=12)


def hms(secs: int) -> str:
    return f"{secs // 3600:02d}:{secs % 3600 // 60:02d}:{secs % 60:02d}"


def local_epoch(day: dt.date, secs: int) -> int:
    """Epoch of ``secs`` after local midnight of ``day`` (no DST in
    January, so midnight-based and noon-based anchors agree)."""
    midnight = dt.datetime(day.year, day.month, day.day, tzinfo=TZ)
    return int(midnight.timestamp()) + secs


def stop_name(stop_id: str) -> str:
    return f"Stop {int(stop_id[1:]) // 2}"


def route_stops(r_i: int) -> list[str]:
    return [f"S{(r_i * 4 + 2 * s) % N_STOP_IDS}" for s in range(STOPS_PER_TRIP)]


def seqs() -> list[int]:
    """stop_sequence with gaps, as real feeds have (1,2,4,5,7,8)."""
    return [s + 1 + s // 2 for s in range(STOPS_PER_TRIP)]


class Schedule:
    """The fixed GTFS schedule plus the lookups the expectations need."""

    def __init__(self):
        self.trips: list[dict] = []
        self.stop_times: list[dict] = []
        for r_i, (route_id, _, _) in enumerate(ROUTES):
            for t in range(TRIPS_PER_ROUTE):
                trip_id = f"T{route_id}n{t:02d}"
                start = FIRST_DEP_S + t * HEADWAY_S
                self.trips.append({
                    "trip_id": trip_id, "route_id": route_id,
                    "service_id": "WD", "trip_headsign": f"Head {route_id}",
                    "shape_id": f"sh{r_i}", "route_variant": r_i + 1,
                    "start_s": start, "r_i": r_i})
                # a trip starts at its first departure, as GTFS-RT
                # start_time and the predictions table count it
                for s, (seq, sid) in enumerate(zip(seqs(), route_stops(r_i))):
                    dep = start + s * STOP_GAP_S
                    self.stop_times.append({
                        "trip_id": trip_id, "stop_sequence": seq,
                        "stop_id": sid, "arr_s": dep - 30, "dep_s": dep,
                        "stop_index": s})
        self.trip_by_id = {t["trip_id"]: t for t in self.trips}
        self.st_by_trip: dict[str, list[dict]] = {}
        for st in self.stop_times:
            self.st_by_trip.setdefault(st["trip_id"], []).append(st)

    def tables(self) -> dict[str, pd.DataFrame]:
        stops = pd.DataFrame([
            {"stop_id": f"S{i}", "stop_name": stop_name(f"S{i}"),
             "stop_lat": 53.0 + i * 0.0015, "stop_lon": 8.8 + (i % 3) * 0.001}
            for i in range(N_STOP_IDS)])
        trips = pd.DataFrame([
            {k: t[k] for k in ("trip_id", "route_id", "service_id",
                               "trip_headsign", "shape_id", "route_variant")}
            for t in self.trips])
        stop_times = pd.DataFrame([
            {"trip_id": s["trip_id"], "stop_sequence": s["stop_sequence"],
             "stop_id": s["stop_id"], "arrival_time": hms(s["arr_s"]),
             "departure_time": hms(s["dep_s"])} for s in self.stop_times])
        return {
            "agency": pd.DataFrame([{"agency_id": "A1",
                                     "agency_name": "Bench Transit"}]),
            "routes": pd.DataFrame([
                {"route_id": rid, "agency_id": "A1", "route_short_name": name,
                 "route_type": rtype} for rid, name, rtype in ROUTES]),
            "trips": trips, "stop_times": stop_times, "stops": stops,
            "calendar": pd.DataFrame([{
                "service_id": "WD", "monday": True, "tuesday": True,
                "wednesday": True, "thursday": True, "friday": True,
                "saturday": False, "sunday": False,
                "start_date": "20230101", "end_date": "20241231"}]),
        }

    def write_dir(self, path) -> None:
        for name, df in self.tables().items():
            df.to_csv(f"{path}/{name}.txt", index=False)


class RtFeeds:
    """Seeded GTFS-RT event rows for one service day.

    ``feed(k)`` gives feed file k of the day: every trip that has
    started by then reports its stops so far; later feeds re-report
    earlier stops with updated delays, so latest-wins has work."""

    def __init__(self, sched: Schedule, day: dt.date, seed: int,
                 feed_gap_s: int = 120):
        self.sched = sched
        self.day = day
        self.rng = np.random.default_rng([seed, day.toordinal()])
        self.feed_gap_s = feed_gap_s
        # per-trip base delay and whether the vehicle reports at all
        n = len(sched.trips)
        self.base_delay = self.rng.normal(60, 90, n).astype(int)
        self.reports = self.rng.random(n) >= 0.15

    def feed_time_s(self, k: int) -> int:
        return FIRST_DEP_S + 600 + k * self.feed_gap_s

    def feed(self, k: int) -> tuple[int, list[dict]]:
        """(header epoch, flat event rows) of feed ``k``."""
        t_s = self.feed_time_s(k)
        ts = local_epoch(self.day, t_s)
        name = f"feed-{self.day:%Y%m%d}-{k:04d}.pb"
        rows = []
        for i, trip in enumerate(self.sched.trips):
            if not self.reports[i] or trip["start_s"] > t_s:
                continue
            delay = int(self.base_delay[i]) + k * 5
            for st in self.sched.st_by_trip[trip["trip_id"]]:
                delay += int(self.rng.normal(5, 25))
                if self.rng.random() < 0.2:
                    continue                       # stop not reported
                arr = delay
                dep = delay + int(self.rng.normal(5, 10))
                u = self.rng.random()
                if u < 0.06:
                    arr = None
                elif u < 0.10:
                    dep = None
                elif u < 0.11:
                    arr = 5000                     # outside the curve bound
                rows.append(self._row(name, ts, trip, st["stop_sequence"],
                                      st["stop_id"], arr, dep))
        # rows the import must drop: unknown trip, unknown stop_sequence
        t0 = self.sched.trips[0]
        rows.append(self._row(name, ts, dict(t0, trip_id="UNKNOWN"), 1,
                              "S0", 42, 42))
        rows.append(self._row(name, ts, t0, 99, "S0", 42, 42))
        return ts, rows

    def _row(self, name, ts, trip, seq, stop_id, arr, dep) -> dict:
        return {"feed_file": name, "header_timestamp": ts,
                "trip_id": trip["trip_id"], "route_id": trip["route_id"],
                "start_date": f"{self.day:%Y%m%d}",
                "start_time": hms(trip["start_s"]),
                "stop_sequence": seq, "stop_id": stop_id,
                "arrival_delay": arr, "departure_delay": dep}


def encode(rows: list[dict], header_ts: int) -> bytes:
    """GTFS-RT FeedMessage bytes for one feed's rows."""
    from dystonse_gtfs_importer_spark.sources.gtfs_rt import encode_feed_message

    trips: dict[tuple, list] = {}
    for r in rows:
        key = (r["trip_id"], r["route_id"], r["start_date"], r["start_time"])
        trips.setdefault(key, []).append(
            (r["stop_sequence"], r["stop_id"], r["arrival_delay"],
             r["departure_delay"]))
    return encode_feed_message(header_ts, [
        {"trip_id": k[0], "route_id": k[1], "start_date": k[2],
         "start_time": k[3], "stop_time_updates": v}
        for k, v in trips.items()])


def corrupt(data: bytes) -> bytes:
    """The feed cut off mid-message, as an interrupted download leaves
    it: the shortest cut past the middle that the decoder rejects."""
    from dystonse_gtfs_importer_spark.sources.gtfs_rt import decode_feed_message

    for cut in range(len(data) // 2, len(data)):
        try:
            decode_feed_message(data[:cut], "corrupt.pb")
        except Exception:  # noqa: BLE001 — any decode error will do
            return data[:cut]
    raise ValueError("no truncation of this feed fails to decode")


def expected_records(sched: Schedule, rows: list[dict]) -> dict[tuple, tuple]:
    """Latest-wins record set the import must produce from ``rows``:
    (trip_id, stop_sequence) → (header_ts, arrival, departure).

    Drops what the import drops: unknown trips, stop_sequences not in
    the trip's schedule, and events without any delay."""
    out: dict[tuple, tuple] = {}
    for r in rows:
        trip = sched.trip_by_id.get(r["trip_id"])
        if trip is None:
            continue
        if not any(st["stop_sequence"] == r["stop_sequence"]
                   for st in sched.st_by_trip[r["trip_id"]]):
            continue
        if r["arrival_delay"] is None and r["departure_delay"] is None:
            continue
        key = (r["trip_id"], r["stop_sequence"])
        if key not in out or r["header_timestamp"] > out[key][0]:
            out[key] = (r["header_timestamp"], r["arrival_delay"],
                        r["departure_delay"])
    return out


def write_records_partition(sched: Schedule, records: dict[tuple, tuple],
                            day: dt.date, root) -> None:
    """Write ``records`` (as ``expected_records`` returns them) as the
    ``day`` partition of a records table in the package's layout
    (``schemas.RECORDS``, partitioned by source and trip_start_date):
    the history the nightly workload starts from, one service day
    copied a week apart."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = []
    for (trip_id, seq), (ts, arr, dep) in sorted(records.items()):
        trip = sched.trip_by_id[trip_id]
        st = next(s for s in sched.st_by_trip[trip_id]
                  if s["stop_sequence"] == seq)
        rows.append({
            "route_id": trip["route_id"], "route_variant": trip["route_variant"],
            "trip_id": trip_id, "trip_start_time": trip["start_s"],
            "stop_sequence": seq, "stop_id": st["stop_id"],
            "time_of_recording": ts * 1_000_000 + (day - BASE_DAY).days
            * 86_400_000_000, "delay_arrival": arr, "delay_departure": dep,
            "schedule_file_name": SCHEDULE_NAME})
    schema = pa.schema([
        ("route_id", pa.string()), ("route_variant", pa.int64()),
        ("trip_id", pa.string()), ("trip_start_time", pa.int32()),
        ("stop_sequence", pa.int32()), ("stop_id", pa.string()),
        ("time_of_recording", pa.timestamp("us", tz="UTC")),
        ("delay_arrival", pa.int32()), ("delay_departure", pa.int32()),
        ("schedule_file_name", pa.string())])
    out = root / f"source={SOURCE}" / f"trip_start_date={day}"
    out.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows, schema=schema),
                   out / "part-00000.parquet")


def board_predictions(sched: Schedule, day: dt.date, seed: int
                      ) -> pd.DataFrame:
    """A fixed predictions table for the read-only board: one
    scheduled-origin arrival and departure prediction per stop event
    of every trip on ``day``, each a three-point CDF centred on a
    seeded delay."""
    rng = np.random.default_rng([seed, 7])
    rows = []
    for trip in sched.trips:
        delay = round(rng.normal(60, 60))
        for st in sched.st_by_trip[trip["trip_id"]]:
            delay += round(rng.normal(0, 15))
            spread = round(rng.uniform(45, 120))
            for et, secs in ((1, st["arr_s"]), (2, st["dep_s"])):
                curve = [{"x": delay - spread, "y": 0.0},
                         {"x": delay, "y": 0.5},
                         {"x": delay + spread, "y": 1.0}]
                base = dt.datetime(day.year, day.month, day.day)
                rows.append({
                    "source": SOURCE, "event_type": et,
                    "stop_id": st["stop_id"],
                    "prediction_min": base + dt.timedelta(
                        seconds=secs + delay - spread),
                    "prediction_max": base + dt.timedelta(
                        seconds=secs + delay + spread),
                    "route_id": trip["route_id"], "trip_id": trip["trip_id"],
                    "trip_start_date": day, "trip_start_time": trip["start_s"],
                    "stop_sequence": st["stop_sequence"],
                    "precision_type": 3, "origin_type": 2,
                    "sample_size": 50, "prediction_curve": curve,
                    "schedule_file_name": SCHEDULE_NAME})
    return pd.DataFrame(rows)



def write_predictions_table(preds: pd.DataFrame, root) -> None:
    """Write ``board_predictions`` rows as a predictions table in the
    package's layout (``schemas.PREDICTIONS``, partitioned by source and
    trip_start_date), without spending Spark jobs on it.  Wall-clock
    times are local (Europe/Berlin) and stored as UTC instants, as Spark
    stores them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    curve = pa.list_(pa.struct([("x", pa.float32()), ("y", pa.float32())]))
    schema = pa.schema([
        ("event_type", pa.int8()), ("stop_id", pa.string()),
        ("prediction_min", pa.timestamp("us", tz="UTC")),
        ("prediction_max", pa.timestamp("us", tz="UTC")),
        ("route_id", pa.string()), ("trip_id", pa.string()),
        ("trip_start_time", pa.int32()), ("stop_sequence", pa.int32()),
        ("precision_type", pa.int8()), ("origin_type", pa.int8()),
        ("sample_size", pa.int32()), ("prediction_curve", curve),
        ("schedule_file_name", pa.string())])
    for (source, day), part in preds.groupby(["source", "trip_start_date"]):
        cols = {name: part[name] for name in schema.names}
        for c in ("prediction_min", "prediction_max"):
            cols[c] = (pd.to_datetime(part[c]).dt.tz_localize(TZ)
                       .dt.tz_convert("UTC"))
        out = root / f"source={source}" / f"trip_start_date={day}"
        out.mkdir(parents=True)
        pq.write_table(pa.table(cols, schema=schema),
                       out / "part-00000.parquet")

def live_lookup_keys(sched: Schedule, days: list[tuple[dt.date, dict]]
                     ) -> set[tuple]:
    """(trip_id, service day, stop_sequence, event_type) of every live
    lookup at ``PREDICT_NOW``: per vehicle, the most recent record
    (latest recording, then highest stop_sequence) that has a
    departure delay is where it stands; every later stop of its trip
    gets an arrival and a departure lookup.  ``days`` lists (service
    day, expected_records) of the records table; every vehicle has
    finished by ``PREDICT_NOW``."""
    out = set()
    for day, recs in days:
        latest: dict[str, tuple] = {}
        for (trip_id, seq), (ts, _, dep) in recs.items():
            if dep is None:
                continue
            if (ts, seq) > latest.get(trip_id, (-1, -1)):
                latest[trip_id] = (ts, seq)
        for trip_id, (_, seq) in latest.items():
            for st in sched.st_by_trip[trip_id]:
                if st["stop_sequence"] > seq:
                    out.update((trip_id, day, st["stop_sequence"], et)
                               for et in (1, 2))
    return out


def scheduled_lookup_keys(sched: Schedule) -> set[tuple]:
    """(trip_id, service day, stop_sequence, event_type) of every
    schedule-origin lookup: each stop event of every trip starting in
    [PREDICT_NOW, PREDICT_NOW + 7.5 days) on a weekday."""
    end = PREDICT_NOW + SCHEDULE_BUFFER
    out = set()
    day = PREDICT_NOW.date()
    while day <= end.date():
        if day.weekday() < 5:
            for trip in sched.trips:
                start = (dt.datetime.combine(day, dt.time())
                         + dt.timedelta(seconds=trip["start_s"]))
                if PREDICT_NOW <= start < end:
                    out.update((trip["trip_id"], day, st["stop_sequence"], et)
                               for st in sched.st_by_trip[trip["trip_id"]]
                               for et in (1, 2))
        day += dt.timedelta(days=1)
    return out
