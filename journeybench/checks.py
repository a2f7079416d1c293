"""Output checks, each against expectations derived from the generator.

Outputs are read back with pyarrow / pandas, outside Spark, so a
check adds no Spark job to the run.  Every check returns a list of
problems; an empty list means the operation's output is correct.
"""

from __future__ import annotations

import datetime as dt
import html
import json
import math
import re
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from dystonse_gtfs_importer_spark import curves as cv

from . import gen


def read_table(path: Path) -> pd.DataFrame:
    return pq.read_table(str(path)).to_pandas()


def files_under(path: Path) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) of every data file below ``path``."""
    out = {}
    if path.exists():
        for p in path.rglob("*"):
            if p.is_file() and not p.name.startswith((".", "_")):
                st = p.stat()
                out[str(p)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files new or changed between two listings."""
    changed = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in changed), len(changed)


# -- analyse ---------------------------------------------------------------

def _variant_index(sched: gen.Schedule) -> dict[tuple, int]:
    """(route_id, stop_id) → stop_index of that route's only variant."""
    out = {}
    for t in sched.trips:
        for st in sched.st_by_trip[t["trip_id"]]:
            out[(t["route_id"], st["stop_id"])] = st["stop_index"]
    return out


def expected_general_curves(sched: gen.Schedule,
                            days: list[tuple[dt.date, dict]]) -> dict:
    """General (per stop index) curves of the DEFAULT time slot from
    the NumPy reference: (route, event_type, stop_index) → Curve.

    ``days`` lists (service day, expected_records) for every day in
    the records table."""
    idx = _variant_index(sched)
    delays: dict[tuple, list[float]] = {}
    for _, recs in days:
        for (trip_id, seq), (_, arr, dep) in recs.items():
            route = sched.trip_by_id[trip_id]["route_id"]
            stop_id = next(st["stop_id"] for st in sched.st_by_trip[trip_id]
                           if st["stop_sequence"] == seq)
            for et, d in ((1, arr), (2, dep)):
                if d is not None:
                    delays.setdefault((route, et, idx[(route, stop_id)]),
                                      []).append(float(d))
    out = {}
    for key, vals in delays.items():
        if len(vals) < 20:
            continue
        made = cv.make_curve(np.array(vals))
        if made is not None:
            out[key] = cv.simplify(made[0], 0.01)
    return out


def _points(curve) -> tuple[np.ndarray, np.ndarray]:
    return (np.array([p["x"] for p in curve], dtype="float64"),
            np.array([p["y"] for p in curve], dtype="float64"))


def check_general(general: pd.DataFrame, expected: dict) -> list[str]:
    problems = []
    dflt = general[general["time_slot"] == 12]
    if len(dflt) != len(expected):
        problems.append(f"{len(dflt)} general curves in the default slot, "
                        f"expected {len(expected)}")
    for r in dflt.itertuples():
        ref = expected.get((r.route_id, int(r.event_type), int(r.stop_index)))
        if ref is None:
            problems.append(f"unexpected general curve {r.route_id}/"
                            f"{r.event_type}/{r.stop_index}")
            continue
        xs, ys = _points(r.curve)
        if (len(xs) != len(ref.xs)
                or not np.allclose(xs, ref.xs, atol=1e-2, rtol=1e-5)
                or not np.allclose(ys, ref.ys, atol=1e-5)):
            problems.append(f"general curve {r.route_id}/{r.event_type}/"
                            f"{r.stop_index} differs from the reference")
    return problems[:5]


# -- records ----------------------------------------------------------------

def check_records(table: pd.DataFrame, day: dt.date, expected: dict
                  ) -> list[str]:
    """The day's records must be exactly the latest-wins record set."""
    recs = table[table["trip_start_date"].astype(str) == str(day)]
    problems = []
    if len(recs) != len(expected):
        problems.append(f"{day}: {len(recs)} records, expected {len(expected)}")
    got = {}
    for r in recs.itertuples():
        got[(r.trip_id, int(r.stop_sequence))] = (
            None if pd.isna(r.delay_arrival) else int(r.delay_arrival),
            None if pd.isna(r.delay_departure) else int(r.delay_departure))
    bad = sum(1 for k, (_, a, d) in expected.items() if got.get(k) != (a, d))
    if bad:
        problems.append(f"{day}: {bad} records differ from latest-wins")
    return problems


# -- predictions ------------------------------------------------------------

def prediction_keys(table: pd.DataFrame, origin: int) -> list[tuple]:
    """(trip_id, service day, stop_sequence, event_type) of every row
    of ``origin`` in a predictions table read back with pyarrow."""
    rows = table[table["origin_type"] == origin]
    return [(r.trip_id, dt.date.fromisoformat(str(r.trip_start_date)[:10]),
             int(r.stop_sequence), int(r.event_type))
            for r in rows.itertuples()]


def check_predictions(table: pd.DataFrame, origin: int, what: str,
                      expected: set[tuple]) -> list[str]:
    """One prediction row per expected lookup, each with a curve: the
    default table covers every stop index, so no lookup goes without."""
    keys = prediction_keys(table, origin)
    problems = []
    if len(keys) != len(set(keys)):
        problems.append(f"{what}: {len(keys) - len(set(keys))} duplicate rows")
    if set(keys) != expected:
        problems.append(f"{what}: {len(set(keys) - expected)} unexpected and "
                        f"{len(expected - set(keys))} missing of "
                        f"{len(expected)} expected rows")
    rows = table[table["origin_type"] == origin]
    if any(c is None or len(c) < 2 for c in rows["prediction_curve"]):
        problems.append(f"{what}: rows without a curve")
    return problems


# -- monitor pages ---------------------------------------------------------

_TIME = re.compile(r'class="area time">(\d\d:\d\d)<')
_ROUTE = re.compile(r'class="area route">([^<]*)<')
_T50 = re.compile(r'title="Vermutlich (\d\d):(\d\d):(\d\d)"')


def board_rows(page: str) -> list[tuple[str, str, int]]:
    """(scheduled HH:MM, route name, t50 seconds of day) per board row."""
    rows = []
    for chunk in page.split('class="outer">')[1:]:
        tm, rt, t50 = _TIME.search(chunk), _ROUTE.search(chunk), _T50.search(chunk)
        if not (tm and rt and t50):
            continue
        h, m, s = map(int, t50.groups())
        rows.append((tm.group(1), rt.group(1), h * 3600 + m * 60 + s))
    return rows


def _haversine_m(lat1, lon1, lat2, lon2) -> float:
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dp, dl = p2 - p1, math.radians(lon2 - lon1)
    a = (math.sin(dp / 2) ** 2
         + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2)
    return 2 * 6371000.0 * math.asin(math.sqrt(a))


def extended_stop_ids(sched: gen.Schedule, name: str) -> set[str]:
    stops = sched.tables()["stops"]
    named = stops[stops.stop_name == name]
    return {r.stop_id for r in stops.itertuples()
            if any(_haversine_m(n.stop_lat, n.stop_lon, r.stop_lat,
                                r.stop_lon) < 300.0
                   for n in named.itertuples())}


def board_window(start: dt.datetime) -> tuple[int, int]:
    """Board window (seconds of day) for a single-stop journey page:
    the start curve spans ±30 s, so the window opens at the previous
    5-minute mark and lasts 30 minutes."""
    s = start.hour * 3600 + start.minute * 60
    lo = s - 30 - (s - 30) % 300
    return lo, lo + 1800


def expected_departures(sched: gen.Schedule, preds: pd.DataFrame,
                        stop: str, start: dt.datetime) -> set[tuple]:
    """(route name, median departure as seconds of day) of departures
    the stop page must list: departures at the stop's platform group
    whose whole 5-95 % band is inside the window and whose median is
    at least 3 minutes after the start, at a stop that is not the
    trip's last.  ``preds`` holds wall-clock ``prediction_min``."""
    lo, hi = board_window(start)
    ids = extended_stop_ids(sched, stop)
    names = {rid: name for rid, name, _ in gen.ROUTES}
    last = {t: max(s["stop_sequence"] for s in sts)
            for t, sts in sched.st_by_trip.items()}
    start_s = start.hour * 3600 + start.minute * 60
    day = pd.Timestamp(start.date())
    sel = preds[(preds.event_type == 2) & preds.stop_id.isin(ids)
                & (pd.to_datetime(preds.trip_start_date) == day)]
    out = set()
    for r in sel.itertuples():
        if r.stop_sequence >= last[r.trip_id]:
            continue
        xs, ys = _points(r.prediction_curve)
        ref = (r.prediction_min - day).total_seconds() - xs[0]
        t05, t50, t95 = (ref + float(np.interp(y, ys, xs))
                         for y in (0.05, 0.5, 0.95))
        if t05 > lo + 60 and t95 < hi - 60 and t50 >= start_s + 180:
            out.add((names[r.route_id], t50))
    return out


def check_stop_page(status: int, body: bytes, stop: str,
                    expected: set[tuple]) -> list[str]:
    """HTTP 200, the board header, and every expected departure present
    (same route, median within 2 s: the page renders whole seconds of a
    float curve).  Row order is checked apart, by ``check_board_order``."""
    if status != 200:
        return [f"stop page {stop!r}: HTTP {status}"]
    page = body.decode()
    if f"Abfahrten für {stop}" not in page:
        return [f"stop page {stop!r}: no board header"]
    if not expected:
        return [f"stop page {stop!r}: the expectation is empty"]
    rows = board_rows(page)
    missing = [(r, t) for r, t in expected
               if not any(rr == r and abs(tt - t) <= 2 for _, rr, tt in rows)]
    if missing:
        return [f"stop page {stop!r}: {len(missing)} of "
                f"{len(expected)} expected departures missing"]
    return []


def check_board_order(status: int, body: bytes, stop: str) -> list[str]:
    """Board rows in median-time order.  The package does not meet this
    yet (see README, "Known defect"), so a run counts it as a known
    defect of the page, not as a failed operation."""
    if status != 200:
        return []
    t50s = [t for _, _, t in board_rows(body.decode())]
    if t50s != sorted(t50s):
        return [f"stop page {stop!r}: rows not sorted by t50"]
    return []


_TRIP_LINK = re.compile(r'<a href="([^"]+)" class="outer">')
_STOP_NAME = re.compile(r'class="area stopname">([^<]*)<')


def earliest_trip_link(body: bytes) -> tuple[str, str, str] | None:
    """(path, scheduled HH:MM, route name) of the stop page's departure
    with the earliest median time (then scheduled time, then route),
    whose row links to its trip page.  Chosen by time, not by row
    position, so that the same trip is followed whatever order the page
    lists its rows in."""
    page = body.decode()
    found = []
    for chunk in page.split("<a href=")[1:]:
        chunk = "<a href=" + chunk
        link, tm, rt, t50 = (_TRIP_LINK.match(chunk), _TIME.search(chunk),
                             _ROUTE.search(chunk), _T50.search(chunk))
        if link and tm and rt and t50:
            found.append(((t50.groups(), tm.group(1), rt.group(1)),
                          (html.unescape(link.group(1)), tm.group(1),
                           rt.group(1))))
    return min(found)[1] if found else None


def expected_trip_stops(sched: gen.Schedule, stop: str, hhmm: str,
                        route_name: str) -> list[str]:
    """Stop names, from boarding on, of the trip of ``route_name`` that
    leaves the ``stop`` platform group at ``hhmm``."""
    ids = extended_stop_ids(sched, stop)
    route = next(rid for rid, name, _ in gen.ROUTES if name == route_name)
    for trip in sched.trips:
        if trip["route_id"] != route:
            continue
        sts = sched.st_by_trip[trip["trip_id"]]
        for i, st in enumerate(sts):
            if st["stop_id"] in ids and gen.hms(st["dep_s"])[:5] == hhmm:
                return [gen.stop_name(s["stop_id"]) for s in sts[i:]]
    return []


def check_trip_page(status: int, body: bytes, expected_stops: list[str]
                    ) -> list[str]:
    """HTTP 200, the trip header, the trip's stops from boarding on in
    order, and a predicted time on every one (the board table predicts
    every stop event)."""
    if status != 200:
        return [f"trip page: HTTP {status}"]
    if not expected_stops:
        return ["trip page: the expectation is empty"]
    page = body.decode()
    if "Halte für" not in page:
        return ["trip page: no trip header"]
    names = [html.unescape(n) for n in _STOP_NAME.findall(page)]
    problems = []
    if names != expected_stops:
        problems.append(f"trip page: stops {names} != {expected_stops}")
    if 'class="area time">?<' in page:
        problems.append("trip page: a stop without a prediction")
    return problems


def check_empty_board(status: int, body: bytes, stop: str) -> list[str]:
    if status != 200:
        return [f"empty board {stop!r}: HTTP {status}"]
    page = body.decode()
    if f"Abfahrten für {stop}" not in page or 'class="outer"' in page:
        return [f"empty board {stop!r}: page is not an empty board"]
    return []


def check_autocomplete(status: int, body: bytes, expected: list[str]
                       ) -> list[str]:
    if status != 200:
        return [f"autocomplete: HTTP {status}"]
    names = [n for n in json.loads(body.decode()) if n]
    if names != expected:
        return [f"autocomplete: {names} != {expected}"]
    return []


def autocomplete_expected(sched: gen.Schedule, term: str) -> list[str]:
    names = {gen.stop_name(f"S{i}") for i in range(gen.N_STOP_IDS)}
    parts = term.lower().split()
    return sorted(n for n in names if all(p in n.lower() for p in parts))[:10]
