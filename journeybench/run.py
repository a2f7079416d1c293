#!/usr/bin/env python3
"""Journey benchmark: one workload per run, closed loop.

    python3 journeybench/run.py --workload live_board --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  The run pins the Spark runtime
(journeybench/pinning.json), builds the workload's state from
``--seed``, starts the session, sets the workload up once and runs its
warm-up (``setup_s`` is the session start plus the package's set-up and
warm-up work), then repeats its cycle until ``--seconds`` of measuring
have passed (at least one cycle).  Every operation's
output is checked; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` traces
every call and reports the per-layer metrics, the tracing overhead,
and (as ``# span`` / ``# calls`` lines) every span and every per-call
duration, warm-up calls included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "dystonse_gtfs_importer_spark" / "__init__.py"

def _pin_environment(pins: dict, work: Path) -> None:
    """Environment the JVM and its Python workers inherit; must be set
    before the session starts."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    # executors' Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(pins["local_cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = pins["driver_memory"]
    # one thread per Python worker for NumPy / Arrow: the two executor
    # cores are the parallelism
    os.environ.update(pins["worker_env"])


def _spark_conf(pins: dict, work: Path) -> dict[str, str]:
    conf = dict(pins["spark_conf"])
    conf["spark.local.dir"] = str(work / "spark-local")
    conf["spark.sql.warehouse.dir"] = str(work / "warehouse")
    conf["spark.driver.extraJavaOptions"] = (
        f"-Djava.io.tmpdir={work / 'tmp'}")
    return conf


def _peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this process plus the JVM (VmHWM)."""
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — still running: force it
            proc.kill()
            proc.wait(timeout=30)


def _drive(wl, run, seconds: float) -> tuple[float, list]:
    """Set up (warm-up included), measure.  Returns (set-up seconds, per
    measured cycle [stage1, ..., stage4, cycle, tracing bookkeeping]
    seconds)."""
    setup_s = wl.setup(run.work / "lake")
    cycles = []
    t_end = time.perf_counter() + seconds
    while not cycles or time.perf_counter() < t_end:
        book = run.rec.bookkeeping_s
        walls = wl.cycle(len(cycles) + 1, measured=True)
        cycles.append(walls + [run.rec.bookkeeping_s - book])
    return setup_s, cycles


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PACKAGE.is_file():
        print(f"package not found at {PACKAGE}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from journeybench import report
    from journeybench.workloads import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    pins = json.loads((HERE / "pinning.json").read_text())
    work_root = ROOT / ".journeybench_work"
    work_root.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=work_root))
    _pin_environment(pins, work)

    from dystonse_gtfs_importer_spark.session import get_spark

    traced = bool(args.trace)
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"journeybench-{args.workload}",
                      shuffle_partitions=pins["shuffle_partitions"],
                      extra_conf=_spark_conf(pins, work))
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    wl = None
    try:
        run = Run(spark, work, args.seed, traced, pins["local_cores"])
        wl = WORKLOADS[args.workload](run)
        setup_s, cycles = _drive(wl, run, args.seconds)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        e2e = report.end_to_end(session_start_s + setup_s, cycles,
                                _peak_rss_mb(jvm_pid))
        if traced:
            layers = report.per_layer(spark, run, wl.STAGES, cycles,
                                      session_start_s)
            for line in report.trace_lines(run):
                print(line)
    finally:
        if wl is not None:
            wl.close()
        _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed}: {len(cycles)} measured "
          f"cycles, {run.attempted} checked operations, "
          f"failed_share={run.failed / run.attempted:.4f}, "
          f"known defects={run.known_defects}")
    metrics = layers if traced else e2e
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
