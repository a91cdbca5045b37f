#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts the engine's SparkSession at
``local[nproc]`` in a fresh JVM and reads a first table (``setup_s``), runs
the workload built from ``--seed``, checks every output, and prints:

* with ``--trace 1``, one line ``{"spans": [...]}`` with every span;
* one report line ``{"report": {...}}``: host, sample counts, problems,
  per-layer self times, the shared metrics and the workload's own detail
  metrics (per query family, pipeline stage and layer call);
* last, the result line ``{"correct", "attempted", "failed", "metrics"}``
  whose metrics are the shared end-to-end ones (``--trace 0``) or the
  shared per-layer ones (``--trace 1``). Both sets are the same on every
  workload and are taken over its measured unit of work: the query pass,
  the steady pipeline day.

Everything it writes lives in ``.perfbench_work/`` under the checkout and
is removed before it exits; it stops the Spark JVM it started.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import sys
import tempfile
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("query_mix", "daily_pipeline")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        # streaming's temporary checkpoints go to the JVM's temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def leak_counts(spark) -> tuple[int, int]:
    views = sum(1 for t in spark.catalog.listTables() if t.isTemporary)
    return views, spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM PySpark launched, and wait
    for the JVM process to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def as_metrics(named: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(named.items())}


def main(argv=None) -> int:
    args = parse_args(argv)
    slots = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    # read by the engine's session module (at import) and the JVM it launches
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)

    import pyspark

    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import DEFAULT_SF_DIR, Tables

    from perfbench.common import SPARK_UNITS, Ctx
    from perfbench.probe import Probe

    workload = importlib.import_module(f"perfbench.{args.workload}")
    data_root = os.path.dirname(DEFAULT_SF_DIR)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        # The cold set-up a user pays once: JVM launch, session, first read.
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=session_conf(work))
        start_s = time.perf_counter() - t0
        Tables(spark, os.path.join(data_root, "sf0.01")).load("region").count()
        setup_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        views0, rdds0 = leak_counts(spark)
        probe = Probe(spark, trace=bool(args.trace))
        ctx = Ctx(spark, probe, args.seed, work, os.path.join(ROOT, ".perfbench_cache"),
                  data_root, slots)
        res = workload.run(ctx)
        calls = probe.calls(within=res.unit)
        totals = probe.spark_totals(calls, slots)
        views1, rdds1 = leak_counts(spark)
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still owns its own subdirectory
            pass

    e2e = {"setup_s": (setup_s, "s"), "executor_cpu_s": (totals["executor_cpu_s"], "s")}
    res.samples["setup"] = {"n": 1}
    latencies = [c.seconds for c in calls]
    res.samples["call"] = {"n": len(latencies)}
    timed = sum(s.seconds for s in probe.spans if s.parent is None)
    layer = {
        "session.start_s": (start_s, "s"),
        "session.temp_views_leaked": (views1 - views0, "count"),
        "session.persisted_rdds_leaked": (rdds1 - rdds0, "count"),
        "trace.overhead_frac": (probe.overhead_s / timed if timed else 0.0, "ratio"),
        "work.wall_s": (res.unit.seconds, "s"),
        "work.call_p50_s": (median(latencies), "s"),
        "work.call_max_s": (max(latencies), "s"),
        **{f"spark.{k}": (totals[k], unit) for k, unit in SPARK_UNITS.items()},
    }

    load1, load5, load15 = os.getloadavg()
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
        "host": {"nproc": os.cpu_count(), "slots": slots,
                 "loadavg": [load1, load5, load15], "pyspark": pyspark.__version__,
                 "python": platform.python_version()},
        "failed_frac": res.failed / res.attempted,
        "samples": res.samples,
        "problems": res.problems[:20],
        "self_time_s": probe.self_times(),
        "end_to_end": as_metrics(e2e),
        "per_layer": as_metrics(layer),
        "detail": as_metrics(res.detail),
    }
    if args.trace:
        print(json.dumps({"spans": probe.dump()}))
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": as_metrics(layer if args.trace else e2e),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
