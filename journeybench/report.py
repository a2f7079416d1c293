"""Turns a run's spans and cycle timings into the reported metrics."""

from __future__ import annotations

import json
import time
from collections import Counter
from pathlib import Path

from .trace import median, tail

ROOT = Path(__file__).resolve().parent.parent

MONITOR_KINDS = ("stop", "autocomplete", "empty", "trip")
N_STAGES = 4


def _metric_units(key: str) -> dict[str, str]:
    """name -> unit of BENCHMARK.json's ``end_to_end`` or ``per_layer``
    list, the one place the metric lists are defined."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in bench[key]}


# Every run reports every metric of its list.  A layer the workload
# bypasses reads 0 (no span ran), ratios and rates over nothing too.
# Times are per stage, so every workload measures each of them: stage
# N is the workload's N-th timed operation.
E2E = _metric_units("end_to_end")
PER_LAYER = _metric_units("per_layer")


def end_to_end(setup_s: float, cycles: list[list], rss_mb: float
               ) -> dict[str, dict]:
    out = {"setup_s": setup_s, "peak_rss_mb": rss_mb,
           "cycle_s": median([c[N_STAGES] for c in cycles])}
    for i in range(N_STAGES):
        out[f"stage{i + 1}_ms"] = median([c[i] for c in cycles]) * 1e3
    return {k: {"value": out[k], "unit": unit} for k, unit in E2E.items()}


def _med(spans: list[dict], key: str) -> float:
    vals = [float(s[key]) for s in spans if key in s]
    return median(vals) if vals else 0.0


def _job_floor_ms(spark, n: int = 7) -> float:
    walls = []
    for _ in range(n):
        t = time.perf_counter()
        spark.range(1).collect()
        walls.append(time.perf_counter() - t)
    return median(walls[2:]) * 1e3


def per_layer(spark, run, stages: tuple[str, ...], cycles: list[list],
              session_start_s: float) -> dict[str, dict]:
    """``stages`` names the call kind (or kinds) of each of the
    workload's stages."""
    rec = run.rec
    m: dict[str, float] = {}
    m["session.start_s"] = session_start_s
    m["session.job_floor_ms"] = _job_floor_ms(spark)
    for i, kinds in enumerate(stages, 1):
        # a stage of several calls (nightly's two import rounds, its two
        # prediction passes) sums them per cycle; a kind named n times
        # is called n times a cycle
        calls = Counter(kinds if isinstance(kinds, tuple) else (kinds,))
        spans = {k: [s for s in rec.spans if s["kind"] == k and s["measured"]]
                 for k in calls}
        n_cycles = min(len(spans[k]) // n for k, n in calls.items())
        per_cycle = [
            sum(s["executor_run_s"] for k, n in calls.items()
                for s in spans[k][c * n:(c + 1) * n])
            for c in range(n_cycles)]
        m[f"stage{i}.executor_ms"] = (median(per_cycle) * 1e3
                                      if per_cycle else 0.0)

    decode = rec.layer_spans("sources.gtfs_rt")
    merge = rec.layer_spans("plans.import_etl")
    if decode:
        m["sources.gtfs_rt.decode_rows_per_s"] = median(
            [s["rows_decoded"] / s["wall_s"] for s in decode])
        m["sources.gtfs_rt.feeds_decoded"] = _med(decode, "feeds_decoded")
        m["sources.gtfs_rt.feeds_failed"] = median(
            [s["feeds_landed"] - s["feeds_decoded"] for s in decode])
        m["sources.gtfs_rt.rows_decoded"] = _med(decode, "rows_decoded")
    if merge:
        # per import call; the day's feeds land in several rounds
        m["plans.import_etl.jobs"] = _med(merge, "jobs")
        m["plans.import_etl.shuffle_bytes"] = _med(merge, "shuffle_bytes")
        m["plans.import_etl.batches"] = _med(merge, "batches")
    if decode:
        # per landed day: the decode span carries what the day's imports
        # kept and wrote
        m["plans.import_etl.kept_ratio"] = median(
            [d["kept"] / d["rows_decoded"] for d in decode
             if d["rows_decoded"]] or [0.0])
        m["sources.store.bytes_written"] = _med(decode, "store_bytes")
        m["sources.store.files_written"] = _med(decode, "store_files")
        m["sources.store.write_amplification"] = median(
            [d["store_bytes"] / d["new_record_bytes"] for d in decode
             if d["new_record_bytes"]] or [0.0])

    ana = rec.layer_spans("plans.analyse_gtfs")
    if ana:
        for k in ("jobs", "stages", "shuffle_bytes", "curve_rows"):
            m[f"plans.analyse_gtfs.{k}"] = _med(ana, k)
        m["plans.analyse_gtfs.busy_share"] = median(
            [s["executor_run_s"] / (s["wall_s"] * run.cores) for s in ana])
    inc = rec.layer_spans("plans.incremental")
    if inc:
        for k in ("jobs", "basis_rows"):
            m[f"plans.incremental.{k}"] = _med(inc, k)
        m["plans.incremental.bytes_written"] = _med(inc, "store_bytes")
    sch = rec.layer_spans("plans.scheduled")
    if sch:
        for k in ("jobs", "rows"):
            m[f"plans.scheduled.{k}"] = _med(sch, k)
    live = rec.layer_spans("plans.predict")
    if live:
        m["plans.predict.jobs"] = _med(live, "jobs")
        m["plans.predict.lookups"] = _med(live, "lookups")
        m["plans.predict.hit_ratio"] = median(
            [s["rows"] / s["lookups"] for s in live if s["lookups"]]
            or [0.0])

    mon = rec.layer_spans("monitor_app")
    for kind in MONITOR_KINDS:
        ks = [s for s in mon if s["kind"] == kind]
        if ks:
            m[f"monitor.jobs_per_request.{kind}"] = _med(ks, "jobs")
    if mon:
        m["monitor.board_order_violations"] = run.known_defects
        # share of the client's round trip spent outside handle()
        m["monitor.http_overhead_share"] = median(
            [(s["wall_s"] - s["handle_s"]) / s["wall_s"] for s in mon])

    # a traced cycle's wall minus an untraced one's: the calls' own
    # timings exclude the tracing, which runs between them
    m["trace.overhead_ms"] = median([c[N_STAGES + 1] for c in cycles]) * 1e3
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    return {k: {"value": m.get(k, 0.0), "unit": unit}
            for k, unit in PER_LAYER.items()}


def trace_lines(run) -> list[str]:
    """Every span and every per-call duration (warm-up calls marked
    ``false``), plus the stop-page tail where the run has enough
    samples for one."""
    out = [f"# span {json.dumps(s, sort_keys=True)}" for s in run.rec.spans]
    out.append("# calls " + json.dumps(
        {k: [[round(s, 6), m] for s, m in v]
         for k, v in run.rec.calls.items()}, sort_keys=True))
    stops = run.rec.measured("stop")
    t = tail(stops)
    out.append(f"# stop page tail: {len(stops)} samples; "
               + (f"p{t[0]:.1f} = {t[1] * 1e3:.1f} ms" if t else
                  "too few samples for a percentile with ten beyond it"))
    return out
