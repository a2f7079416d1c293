"""The closed-loop workloads.

Each workload builds its starting state through the package and warms
up (``setup``, timed as set-up), then repeats ``cycle`` until the run's measuring time is used up.  A cycle
performs the workload's operations one after another, each timed on its
own and each checked against the generator's expectations.

The benchmark drives the package through ``cli.main``, the public
``plans.*`` functions where the CLI reads the wall clock (live
predictions), public ``sources.*`` functions for set-up, and the
monitor server over HTTP.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import shutil
import sys
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from pathlib import Path

import pyspark.sql.functions as F

from dystonse_gtfs_importer_spark import monitor_html as H
from dystonse_gtfs_importer_spark.cli import main as cli_main
from dystonse_gtfs_importer_spark.monitor_app import MonitorApp, serve_monitor
from dystonse_gtfs_importer_spark.plans.predict import (
    predict, prediction_lookups, prediction_rows, realtime_basis,
)
from dystonse_gtfs_importer_spark.schemas import (
    ORIGIN_REALTIME, ORIGIN_SCHEDULE,
)
from dystonse_gtfs_importer_spark.sources.gtfs import read_gtfs, variant_stops
from dystonse_gtfs_importer_spark.sources.gtfs_rt import read_gtfs_rt
from dystonse_gtfs_importer_spark.sources.store import (
    read_curve_tables, read_records, write_predictions,
)

from . import checks, gen
from .trace import Recorder, median

HISTORY_WEEKS = 4           # date-shifted copies of the base service day
HISTORY_FEEDS = (100, 101, 102)   # late feeds: every trip has reported


class Run:
    """What one benchmark run shares across its workload: the session,
    the recorder, the working directory and the failure count."""

    def __init__(self, spark, work: Path, seed: int, traced: bool,
                 cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.rec = Recorder(spark, traced)
        self.attempted = 0
        self.failed = 0
        self.known_defects = 0

    def check(self, problems: list[str]) -> None:
        """Account one checked operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)

    def known_defect(self, problems: list[str]) -> None:
        """Account a known package defect in an operation's output: it
        is reported on every run but does not fail the operation."""
        self.known_defects += len(problems)
        for p in problems:
            print(f"known defect: {p}", file=sys.stderr)

    def cli(self, lake: Path, *argv: str) -> int:
        with contextlib.redirect_stdout(io.StringIO()):
            return cli_main(["-s", gen.SOURCE, "--dir", str(lake), *argv],
                            spark=self.spark)


def _write_schedule(lake: Path, sched: gen.Schedule) -> Path:
    d = lake / "schedules" / gen.SCHEDULE_NAME
    d.mkdir(parents=True)
    sched.write_dir(d)
    return d


def _history_days(weeks: int) -> list[dt.date]:
    return [gen.BASE_DAY - dt.timedelta(days=7 * i) for i in range(weeks)]


class _AppSlot:
    """What the monitor server calls: forwards to the ``MonitorApp``,
    labels the request's Spark jobs with the open span's job group, and
    times ``handle`` on the server's thread, so the client can split a
    round trip into handling and HTTP."""

    def __init__(self, rec: Recorder):
        self.rec = rec
        self.app: MonitorApp | None = None
        self.last_handle_s = 0.0

    def handle(self, path, query=None):
        if self.rec.group is not None:
            self.rec.sc.setJobGroup(self.rec.group, "monitor_app")
        t = time.perf_counter()
        try:
            return self.app.handle(path, query)
        finally:
            self.last_handle_s = time.perf_counter() - t


class _Server:
    def __init__(self, rec: Recorder):
        self.slot = _AppSlot(rec)
        self.srv = serve_monitor(self.slot, port=0)
        self.port = self.srv.server_address[1]
        self.thread = threading.Thread(target=self.srv.serve_forever,
                                       daemon=True)
        self.thread.start()

    def get(self, path: str, query: str = "") -> tuple[int, bytes]:
        url = (f"http://127.0.0.1:{self.port}"
               f"{urllib.request.quote(path)}{query}")
        try:
            with urllib.request.urlopen(url, timeout=120) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)


class Workload:
    """Set-up and cycle protocol shared by the workloads."""

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.rec = run.rec
        self.sched = gen.Schedule()

    def close(self) -> None:
        """Stop what the workload started besides the session."""

    # Subclasses define setup(lake) -> seconds of package set-up (and
    # warm-up) work, and cycle(i, measured) -> [stage1, ..., stage4,
    # cycle] seconds.


# -- nightly_analyse -------------------------------------------------------

class NightlyAnalyse(Workload):
    """The operator's night: import the day that just closed, fold it
    into the curve-basis store, analyse all history, and write live and
    scheduled predictions."""

    # The warm-up runs in set-up, on a throwaway day (``_warm_up``); a
    # cycle is 40-60 s of ~210 Spark jobs, so the run budget holds one
    # measured cycle and no discarded one.
    STAGES = (("import", "import"), "incremental", "analyse",
              ("live_predict", "scheduled"))

    def __init__(self, run: Run):
        super().__init__(run)
        _, base_rows = self._feeds(gen.BASE_DAY)
        self.base_exp = gen.expected_records(self.sched, base_rows)
        # the newly landed day, in two import rounds: two feeds, then
        # the last feed with a byte-identical duplicate of the first
        # and a corrupt file
        # (the feeds depend only on seed and day, so both calls give the
        # same first two files)
        early, early_rows = self._feeds(gen.LIVE_DAY, HISTORY_FEEDS[:2])
        late, new_rows = self._feeds(gen.LIVE_DAY)
        late = {k: v for k, v in late.items() if k not in early}
        first = next(iter(early.values()))
        late[f"feed-{gen.LIVE_DAY:%Y%m%d}-dup.pb"] = first
        late[f"feed-{gen.LIVE_DAY:%Y%m%d}-bad.pb"] = gen.corrupt(first)
        self.rounds = [early, late]
        self.warm_feeds, _ = self._feeds(gen.WARM_DAY, HISTORY_FEEDS[:1])
        self.new_exp = gen.expected_records(self.sched, new_rows)
        self.round_exp = [gen.expected_records(self.sched, early_rows),
                          self.new_exp]
        days = [(d, self.base_exp) for d in _history_days(HISTORY_WEEKS)]
        new_day = [(gen.LIVE_DAY, self.new_exp)]
        self.expected_general = checks.expected_general_curves(
            self.sched, days + new_day)
        self.expected_general_new = checks.expected_general_curves(
            self.sched, new_day)
        self.expected_live = gen.live_lookup_keys(self.sched, days + new_day)
        self.expected_scheduled = gen.scheduled_lookup_keys(self.sched)

    def setup(self, lake: Path) -> float:
        """Loads the schedule the way every CLI call does, then warms
        up; the history is written by the generator (no Spark jobs)."""
        self.lake = lake
        (lake / "rt").mkdir(parents=True)
        sched_dir = _write_schedule(lake, self.sched)
        for day in _history_days(HISTORY_WEEKS):
            gen.write_records_partition(self.sched, self.base_exp, day,
                                        lake / "records")
        t0 = time.perf_counter()
        self.schedule = read_gtfs(self.spark, str(sched_dir))
        self.vstops = variant_stops(self.schedule["trips"],
                                    self.schedule["stop_times"])
        self.vstops.collect()
        self._warm_up()
        return time.perf_counter() - t0

    def _warm_up(self) -> None:
        """The JVM's first streaming query, on a throwaway day of one
        feed; then everything it wrote is removed.  Recorded as a
        warm-up call.  The curve code is not warmed here: a warm-up
        fold costs ~17 s, more than the run budget has, so the cycle's
        incremental fold runs before ``analyse --all`` and carries the
        first curve computation (~6 s of it), which leaves the analyse
        stage warm."""
        lake = self.lake
        for name, data in self.warm_feeds.items():
            (lake / "rt" / name).write_bytes(data)
        with self.rec.span("warm-up", "import", measured=False):
            rc = self.run.cli(lake, "import", "-r", "automatic", "--once")
        if rc:
            raise RuntimeError(f"warm-up import exited {rc}")
        for d in (self._partition(gen.WARM_DAY), lake / "_checkpoint",
                  lake / "rt"):
            shutil.rmtree(d)
        (lake / "rt").mkdir()

    def _partition(self, day: dt.date) -> Path:
        return (self.lake / "records" / f"source={gen.SOURCE}"
                / f"trip_start_date={day}")

    def _feeds(self, day: dt.date, feed_ids=HISTORY_FEEDS
               ) -> tuple[dict[str, bytes], list[dict]]:
        """The day's feed files by name, and their event rows."""
        feeds = gen.RtFeeds(self.sched, day, self.run.seed)
        files, all_rows = {}, []
        for j, k in enumerate(feed_ids):
            ts, rows = feeds.feed(k)
            all_rows.extend(rows)
            files[f"feed-{day:%Y%m%d}-{j}.pb"] = gen.encode(rows, ts)
        return files, all_rows

    def _tables(self) -> dict:
        return {n: checks.read_table(self.lake / "stats" / n)
                for n in ("general", "specific", "default")}

    def _written(self) -> dict:
        out = checks.files_under(self.lake / "records")
        out.update(checks.files_under(self.lake / "stats"))
        return out

    def _op(self, layer: str, kind: str, measured: bool, *argv: str):
        before = self._written()
        with self.rec.span(layer, kind, measured) as s:
            rc = self.run.cli(self.lake, *argv)
        s["store_bytes"], s["store_files"] = checks.written(before,
                                                           self._written())
        return rc, s

    def _history_files(self) -> dict:
        return {k: v for k, v in
                checks.files_under(self.lake / "records").items()
                if f"trip_start_date={gen.LIVE_DAY}" not in k}

    def _live_predict(self, measured: bool) -> dict:
        """``import -p`` with the clock pinned to ``PREDICT_NOW``: the
        live-prediction path through the ``plans.predict`` functions,
        over every record of the source and the current curve tables."""
        spark, lake = self.spark, self.lake
        with self.rec.span("plans.predict", "live_predict", measured) as s:
            tables = read_curve_tables(spark, str(lake / "stats"))
            records = read_records(spark, str(lake / "records")) \
                .where(F.col("source") == gen.SOURCE)
            basis = realtime_basis(records, self.vstops, gen.PREDICT_NOW)
            lookups = prediction_lookups(basis, self.vstops,
                                         self.schedule["stop_times"],
                                         self.schedule["routes"])
            predicted = predict(lookups, tables["specific"],
                                tables["general"], tables["default"]) \
                .where(F.col("prediction_curve").isNotNull())
            write_predictions(
                prediction_rows(predicted, gen.SOURCE, gen.SCHEDULE_NAME,
                                ORIGIN_REALTIME),
                str(lake / "predictions"), mode="append")
        if self.rec.traced:
            # the lookup count is a traced-only extra job, outside the span
            s["lookups"] = lookups.count()
        return s

    def _import_round(self, feeds: dict, expected: dict, measured: bool
                      ) -> dict:
        """Land one round of feed files and merge them with
        ``import -r automatic --once``; checks the day's records against
        the latest-wins set of every feed landed so far."""
        lake = self.lake
        for name, data in feeds.items():
            (lake / "rt" / name).write_bytes(data)
        commits = lake / "_checkpoint" / "commits"
        batches = len(list(commits.glob("[0-9]*")))
        hist_before = self._history_files()
        rc, s = self._op("plans.import_etl", "import", measured,
                         "import", "-r", "automatic", "--once")
        s["batches"] = len(list(commits.glob("[0-9]*"))) - batches
        records = checks.read_table(lake / "records")
        problems = checks.check_records(records, gen.LIVE_DAY, expected)
        if self._history_files() != hist_before:
            problems.append("history partitions changed")
        self.run.check([f"import exit {rc}"] if rc else problems)
        s["kept"] = int((records["trip_start_date"].astype(str)
                         == str(gen.LIVE_DAY)).sum())
        return s

    def cycle(self, i: int, measured: bool) -> list[float]:
        run, rec, lake = self.run, self.rec, self.lake
        # stage 1: the day's feeds, imported in two rounds as they land
        rounds = [self._import_round(feeds, expected, measured)
                  for feeds, expected in zip(self.rounds, self.round_exp)]
        walls = [sum(s["wall_s"] for s in rounds)]
        if rec.traced:
            # the day's feeds through the source layer alone, and what
            # the two imports made of them
            with rec.span("sources.gtfs_rt", "decode", measured) as s:
                rows = read_gtfs_rt(self.spark, str(lake / "rt")) \
                    .select("feed_file").toPandas()
            s["feeds_landed"] = sum(len(r) for r in self.rounds)
            s["feeds_decoded"] = rows["feed_file"].nunique()
            s["rows_decoded"] = len(rows)
            s["kept"] = rounds[-1]["kept"]
            s["store_bytes"] = sum(r["store_bytes"] for r in rounds)
            s["store_files"] = sum(r["store_files"] for r in rounds)
            s["new_record_bytes"] = sum(
                v[0] for v in
                checks.files_under(self._partition(gen.LIVE_DAY)).values())

        rc, s = self._op("plans.incremental", "incremental", measured,
                         "analyse", "compute-curves", "--incremental-day",
                         str(gen.LIVE_DAY))
        walls.append(s["wall_s"])
        incr = self._tables()
        basis = lake / "stats" / "basis"
        s["basis_rows"] = sum(len(checks.read_table(basis / n))
                              for n in ("general", "specific", "default"))
        # the first night of incremental operation: the basis store was
        # empty, so the tables describe the new day alone
        problems = checks.check_general(incr["general"],
                                        self.expected_general_new)
        problems += [f"incremental {n} table is empty"
                     for n in ("specific", "default") if incr[n].empty]
        run.check([f"incremental exit {rc}"] if rc else problems)

        rc, s = self._op("plans.analyse_gtfs", "analyse", measured,
                         "analyse", "compute-curves", "--all")
        walls.append(s["wall_s"])
        batch = self._tables()
        s["curve_rows"] = sum(len(t) for t in batch.values())
        run.check([f"analyse exit {rc}"] if rc else
                  checks.check_general(batch["general"],
                                       self.expected_general))

        # stage 4: live predictions over the merged records, then the
        # scheduled pass (``predict start``), both at the pinned "now"
        live = self._live_predict(measured)
        preds = checks.read_table(lake / "predictions")
        live["rows"] = len(checks.prediction_keys(preds, ORIGIN_REALTIME))
        run.check(checks.check_predictions(preds, ORIGIN_REALTIME,
                                           "live predictions",
                                           self.expected_live))
        rc, s = self._op("plans.scheduled", "scheduled", measured,
                         "predict", "start", "--now",
                         gen.PREDICT_NOW.isoformat())
        walls.append(live["wall_s"] + s["wall_s"])
        preds = checks.read_table(lake / "predictions")
        s["rows"] = len(checks.prediction_keys(preds, ORIGIN_SCHEDULE))
        run.check([f"predict start exit {rc}"] if rc else
                  checks.check_predictions(preds, ORIGIN_SCHEDULE,
                                           "scheduled predictions",
                                           self.expected_scheduled))

        # restore the state the next cycle starts from (not timed)
        for d in (lake / "stats" / "basis", self._partition(gen.LIVE_DAY),
                  lake / "_checkpoint", lake / "rt", lake / "predictions"):
            shutil.rmtree(d)
        (lake / "rt").mkdir()
        return walls + [sum(walls)]


# -- live_board ------------------------------------------------------------

class LiveBoard(Workload):
    """Read-only traveller traffic against fixed tables: a stop page,
    autocompletes, the trip page of a departure the stop page links
    to, and two empty boards."""

    STAGES = ("stop", "autocomplete", "empty", "trip")
    STOPS = [("Stop 4", dt.time(8, 30)), ("Stop 5", dt.time(9, 0)),
             ("Stop 3", dt.time(9, 30))]
    TERMS = ["stop 1", "op 2", "p 4"]
    EMPTY_AT = dt.time(3, 0)

    def __init__(self, run: Run):
        super().__init__(run)
        self.preds = gen.board_predictions(self.sched, gen.LIVE_DAY, run.seed)
        self.server: _Server | None = None

    def close(self) -> None:
        if self.server is not None:
            self.server.close()
            self.server = None

    def request(self, kind: str, path: str, query: str, measured: bool
                ) -> tuple[int, bytes]:
        """One closed-loop HTTP request, timed on the client."""
        with self.rec.span("monitor_app", kind, measured) as s:
            status, body = self.server.get(path, query)
        s["handle_s"] = self.server.slot.last_handle_s
        return status, body

    def setup(self, lake: Path) -> float:
        """What ``monitor serve`` does, then the warm-up; the fixed
        predictions table is written by the generator (no Spark jobs)."""
        sched_dir = _write_schedule(lake, self.sched)
        gen.write_predictions_table(self.preds, lake / "predictions")
        t0 = time.perf_counter()
        app = MonitorApp(read_gtfs(self.spark, str(sched_dir)),
                         self.spark.read.parquet(str(lake / "predictions")))
        self.server = _Server(self.rec)
        self.server.slot.app = app
        # the request kinds with a large or uneven first call (stop page
        # ~11 s against ~4 s, autocomplete ~1.9 s against ~0.2 s, trip
        # page ~7 s against ~5 s); the empty board reuses the board plans
        # the stop page warmed
        stop, stop_path, link = self._stop_page(0, measured=False)
        self._autocomplete(self.TERMS[0], measured=False)
        self._trip_page(stop, stop_path, link, measured=False)
        return time.perf_counter() - t0

    def _stop_page(self, i: int, measured: bool):
        """The cycle's stop page; returns (stop name, its path, the
        earliest departure's trip link or None)."""
        stop, at = self.STOPS[i % len(self.STOPS)]
        start = dt.datetime.combine(gen.LIVE_DAY, at)
        path = H.journey_url(start, [stop])
        status, body = self.request("stop", path, "", measured)
        self.run.check(checks.check_stop_page(
            status, body, stop,
            checks.expected_departures(self.sched, self.preds, stop, start)))
        self.run.known_defect(checks.check_board_order(status, body, stop))
        return stop, path, (checks.earliest_trip_link(body)
                            if status == 200 else None)

    def _autocomplete(self, term: str, measured: bool) -> None:
        status, body = self.request(
            "autocomplete", "/autocomplete",
            "?term=" + urllib.request.quote(term), measured)
        self.run.check(checks.check_autocomplete(
            status, body, checks.autocomplete_expected(self.sched, term)))

    def _trip_page(self, stop: str, stop_path: str, link, measured: bool
                   ) -> None:
        """The trip page the stop page's earliest departure links to."""
        if link is None:
            # no departure to follow: the trip operation fails, and the
            # stop page is requested again in its place
            self.run.check([f"stop page {stop!r}: no trip link"])
            self.request("trip", stop_path, "", measured)
            return
        path, hhmm, route = link
        status, body = self.request("trip", urllib.parse.unquote(path), "",
                                    measured)
        self.run.check(checks.check_trip_page(
            status, body,
            checks.expected_trip_stops(self.sched, stop, hhmm, route)))

    def cycle(self, i: int, measured: bool) -> list[float]:
        stop, stop_path, link = self._stop_page(i, measured)
        for term in self.TERMS:           # sub-second: three, median
            self._autocomplete(term, measured)
        self._empty_board(stop, measured)
        self._trip_page(stop, stop_path, link, measured)
        # a second empty board, of the next stop, so that the median
        # does not rest on the machine's speed during one short call
        self._empty_board(self.STOPS[(i + 1) % len(self.STOPS)][0], measured)

        calls = self.rec.calls
        auto = [w for w, _ in calls["autocomplete"][-len(self.TERMS):]]
        empty = [w for w, _ in calls["empty"][-2:]]
        stop, trip = calls["stop"][-1][0], calls["trip"][-1][0]
        return [stop, median(auto), median(empty), trip,
                stop + sum(auto) + sum(empty) + trip]

    def _empty_board(self, stop: str, measured: bool) -> None:
        """The stop's board at 03:00, when nothing runs."""
        empty = dt.datetime.combine(gen.LIVE_DAY, self.EMPTY_AT)
        status, body = self.request("empty", H.journey_url(empty, [stop]),
                                    "", measured)
        self.run.check(checks.check_empty_board(status, body, stop))


WORKLOADS = {
    "nightly_analyse": NightlyAnalyse,
    "live_board": LiveBoard,
}
