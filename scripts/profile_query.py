"""Profile one declared query: run it in its own session with Spark's
event log on and fold the log into per-job rows, so optimization
targets the job that actually costs time and the driver time between
jobs is named rather than guessed.

Usage:
    python scripts/profile_query.py <query> --sf=DIR [--reps=N] [--conf=k=v ...]

``--conf`` sets runtime SQL settings on the session. Each rep prints
one row per job started inside its wall window, stream-thread jobs
included (start offset, duration, stages, tasks, executor CPU, GC,
shuffle write, spill), then the rep's wall time split into the union
of its job intervals and the driver gap (wall time during which no
Spark job ran: Python, plan building, Catalyst planning, scheduling).
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import __spark_entry__ as entry  # noqa: E402
from spans import driver_gap_s, read_event_log, spark_counters  # noqa: E402

from pd_utils_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("query")
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    args = ap.parse_args()

    with tempfile.TemporaryDirectory(prefix="profile-eventlog-") as evlog:
        conf = ["spark.ui.showConsoleProgress=false",
                "spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                "spark.eventLog.rolling.enabled=false", f"spark.eventLog.dir={evlog}"]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {c}" for c in conf] + ["pyspark-shell"])
        spark = get_spark("profile")
        spark.sparkContext.setLogLevel("ERROR")
        for kv in args.conf:
            spark.conf.set(*kv.split("=", 1))
        query = entry.queries()[args.query]

        # warmup (absorbs codegen/python-worker spin-up), not profiled
        w = spark.range(10_000).selectExpr("id", "id % 7 AS k")
        w.join(w.groupBy("k").count().hint("broadcast"), "k").write.format(
            "noop").mode("overwrite").save()
        w.mapInPandas(lambda it: it, "id long, k long").write.format(
            "noop").mode("overwrite").save()

        reps = []
        for rep in range(args.reps):
            t0 = time.time()
            query(spark, args.sf).write.format("noop").mode("overwrite").save()
            reps.append((f"{args.query}:{rep}", t0, time.time()))
            spark.catalog.clearCache()
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log under its final name
        log = read_event_log(os.path.join(evlog, app_id))

    for label, t0, t1 in reps:
        c = spark_counters(log, t0, t1)
        gap = driver_gap_s(log, t0, t1)
        print(f"\n=== {label}: wall {t1 - t0:.2f}s = jobs {t1 - t0 - gap:.2f}s "
              f"+ driver gap {gap:.2f}s; {c['jobs']} jobs, {c['tasks']} tasks, "
              f"cpu {c['executor_cpu_s']:.2f}s, gc {c['gc_s']:.2f}s ===")
        print(f"{'job':>5} {'at_s':>7} {'dur_s':>7} {'stg':>4} {'tasks':>6} "
              f"{'cpu_s':>7} {'gc_s':>6} {'shW_mb':>8} {'spill_mb':>8}")
        for j in sorted(log.within(t0, t1), key=lambda j: j.start):
            print(f"{j.id:>5} {j.start - t0:>7.2f} {j.end - j.start:>7.2f} "
                  f"{len(j.stages):>4} {j.tasks:>6} {j.cpu_s:>7.2f} {j.gc_s:>6.2f} "
                  f"{j.shuffle_write / 2**20:>8.2f} {j.spill / 2**20:>8.2f}")


if __name__ == "__main__":
    main()
