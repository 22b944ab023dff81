"""Re-bench specific queries in isolation (fresh timing each, one
session) to separate real plan cost from late-session JVM/GC noise in
the serial full bench. Usage:

    python scripts/bench_isolated.py q1 q2 ... [--sf DIR] [--reps N]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from pd_utils_spark.session import get_spark
from pd_utils_spark.utils import query_scope


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.1"
    reps = 3
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
    spark = get_spark("bench-isolated")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = {}
    for name in args:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            with query_scope():  # releases the query's pins
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            times.append(round(time.perf_counter() - t0, 3))
            # drop any other cached data, then nudge a driver GC so the
            # ContextCleaner reclaims shuffle files / broadcasts
            # (accumulated state measured to inflate later reps up to
            # ~8x)
            spark.catalog.clearCache()
            try:
                spark._jvm.System.gc()
            except Exception:
                pass
        out[name] = times
        print(json.dumps({name: times}), flush=True)
    print("FINAL " + json.dumps(out))


if __name__ == "__main__":
    main()
