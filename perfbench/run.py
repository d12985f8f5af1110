"""flatnav_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {serve,write} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout that holds ``flatnav_spark/``. The run
makes its corpus from the seed, sets up (Spark session, index, warm-up),
measures its workload's closed loop for ``--seconds`` of measured time,
checks every answer, stops Spark and every process it started, and
prints two JSON lines on stdout:

- a detail record: host stamp, the workload's named metrics with units
  and sample counts, operation counts and, on a traced run whose
  untraced twin (same workload and seed) ran in this checkout before,
  the tracing overhead of each end-to-end metric;
- last, ``{"correct", "attempted", "failed", "metrics"}``, where
  ``metrics`` holds the end-to-end metrics (``--trace 0``) or the
  per-layer metrics (``--trace 1``).

``--trace 1`` records a span around every engine call and turns on
Spark's event log through ``get_spark(extra_conf=...)``; the log is rolled
up per span after the run. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# watchdog: set-up allowance + a multiple of the measured time, because a
# write round can outlast --seconds and checks run with the clock paused;
# 110 + 5 * 12 s keeps a --seconds 12 run inside its 180 s limit
WATCHDOG_SETUP_S = 110.0
WATCHDOG_PER_MEASURED_S = 5.0

sys.path.insert(0, str(HERE))

from host import (RssSampler, cpu_ticks, descendants, driver_heap_mb, nproc,  # noqa: E402
                  probe, reap, steal_frac)

# the bounded end-to-end metrics; wall-clock op_ms and work_per_s are on
# the detail line (see README: on a shared VM they move with steal)
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "work_per_cpu_s": "1/cpu_s",
    "peak_rss_mb": "MB",
    "index_bytes_per_input_byte": "ratio",
}


def _abort() -> None:
    """Watchdog: a run must end well inside its time limit, so a hung
    Spark job kills the run's process tree and exits without a result."""
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    print("perfbench: watchdog fired, run aborted", file=sys.stderr, flush=True)
    os._exit(3)


def _configure_env(scratch: Path, trace: bool) -> dict:
    """Point every file the JVM, Spark and Python workers write into the
    run's scratch directory, size the fixed driver heap from /proc/meminfo,
    and return the extra Spark conf for get_spark."""
    tmp, local, events = scratch / "tmp", scratch / "spark-local", scratch / "eventlog"
    for d in (tmp, local, events):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["TMPDIR"] = str(tmp)
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["FLATNAV_SPARK_LOCAL_DIR"] = str(local)
    heap = driver_heap_mb()
    os.environ["FLATNAV_SPARK_DRIVER_MEM"] = f"{heap}m"
    os.environ["FLATNAV_SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-XX:ErrorFile={tmp}/hs_err_pid%p.log")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(run, scratch: Path, e2e: dict, record: dict) -> dict:
    from layers import per_layer
    from spans import read_event_log, rollup

    logs = [p for p in (scratch / "eventlog").iterdir() if not p.name.startswith(".")]
    costs = rollup(run.tracer.spans, read_event_log(str(logs[0])))
    record["spans"] = [
        dict(vars(s), cost={k: v for k, v in vars(costs[s.id]).items() if k != "job_intervals"}
             if s.id in costs else None)
        for s in run.tracer.spans
    ]
    return per_layer(run.tracer.spans, costs, run.extras, e2e)


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "flatnav_spark" / "__init__.py").is_file():
        print(f"perfbench: no flatnav_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from corpora import Corpora
    from spans import Tracer
    from workloads import Run

    work = ROOT / ".perfbench"
    scratch = work / f"run-{os.getpid()}"
    trace = bool(args.trace)
    watchdog = threading.Timer(WATCHDOG_SETUP_S + WATCHDOG_PER_MEASURED_S * args.seconds,
                               _abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        conf = _configure_env(scratch, trace)
        host = probe()

        def spark_factory():
            from flatnav_spark.session import get_spark

            return get_spark("perfbench", cores=nproc(), extra_conf=conf)

        corpora = Corpora(str(work / "corpora"), args.seed, workers=nproc())
        run = Run(spark_factory, corpora, Tracer(args.workload, trace), args.seed,
                  args.seconds, str(scratch))
        sampler = RssSampler()
        ticks = cpu_ticks()
        try:
            with sampler:
                try:
                    result = WORKLOADS[args.workload](run)
                finally:
                    if run.spark is not None:
                        _stop_spark(run.spark)
        finally:
            reap(sampler.seen)
        # a neighbour's load on the host shows here and in every timing
        host["steal_frac"] = steal_frac(ticks, cpu_ticks())

        e2e = {k: result[k] for k in ("setup_s", "op_cpu_ms", "work_per_cpu_s", "op_ms",
                                      "work_per_s", "index_bytes_per_input_byte",
                                      "timed_wall_s")}
        e2e["peak_rss_mb"] = sampler.peak_mb
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "host": host, "named": result["named"],
            "e2e": e2e, "ops": {"attempted": run.attempted, "failed": run.failed,
                                "errors": run.errors},
            "walls": run.walls, "cpus": run.cpus,
        }
        runs = work / "runs"
        runs.mkdir(parents=True, exist_ok=True)
        if trace:
            from layers import PER_LAYER

            units = dict(PER_LAYER)
            metrics = {name: {"value": v, "unit": units[name]}
                       for name, v in _layer_metrics(run, scratch, e2e, record).items()}
            twin = runs / f"{args.workload}-s{args.seed}-t0.json"
            if twin.exists():
                base = json.loads(twin.read_text())["e2e"]
                record["tracing_overhead"] = {
                    k: e2e[k] / base[k] - 1.0
                    for k in e2e if k != "timed_wall_s" and base.get(k)}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        (runs / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
            json.dumps(record, indent=1))
        print(json.dumps({k: v for k, v in record.items()
                          if k not in ("spans", "walls", "cpus")}), flush=True)
        print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                          "failed": run.failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        watchdog.cancel()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
