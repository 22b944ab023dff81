"""Benchmark of pd_utils_spark: one workload, one seed, one process.

    python3 perfbench/run.py --workload panel --seed 1 --seconds 15 --trace 0

Generates the workload's inputs from ``--seed``, starts a pinned local
Spark session, runs two untimed warm-up passes, then warm passes in a
closed loop for ``--seconds`` (at least ``--min-passes``), checks every output
against the generator's ground truth and prints one JSON line last.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and job groups and reports the per-layer metrics
instead. See README.md.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# pass_s of --trace 0 runs, kept across runs for the tracing overhead
UNTRACED = os.path.join(ROOT, ".perfbench_work", "untraced")
HEAP_READINGS = 5

END_TO_END = {"setup_s": "s", "pass_s": "s", "retained_mb": "MB"}


def _per_layer() -> dict[str, str]:
    from workloads import Ingest, Panel

    op = {"call_s": "s", "call_jobs": "count", "exec_s": "s", "jobs": "count",
          "shuffle_mb": "MB"}
    m = {f"operators.{fn}.{k}": u for fn in Panel.OPS for k, u in op.items()}
    m.update({f"extensions.{Ingest.FINISH}.{k}": u for k, u in op.items()})
    gate = f"streaming.{Ingest.GATE}"
    m.update({f"{gate}.{k}": u for k, u in {
        "call_s": "s", "trigger_s": "s", "addBatch_s": "s",
        "queryPlanning_s": "s", "walCommit_s": "s", "jobs_per_batch": "count",
        "jobs_s": "s", "driver_gap_s": "s", "state_mb": "MB"}.items()})
    m.update({"ingest.batch_p50_s": "s", "ingest.batch_max_s": "s",
              "ingest.bytes_stored_per_input_byte": "B/B"})
    m.update({f"spark.{k}": u for k, u in {
        "jobs": "count", "tasks": "count", "executor_cpu_s": "s", "gc_s": "s",
        "shuffle_write_mb": "MB", "spill_mb": "MB", "task_skew": "ratio",
        "driver_gap_s": "s"}.items()})
    m.update({"session.start_s": "s", "session.first_pass_s": "s",
              "run.fail_ratio": "ratio", "host.steal_frac": "ratio",
              "trace.pass_s": "s"})
    return m


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["panel", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=2,
                    help="local[N] cores; capped at the host's core count")
    ap.add_argument("--driver-mem", default="2g", help="Spark driver heap")
    ap.add_argument("--min-passes", type=int, default=3)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: damage every output before checking it")
    return ap.parse_args(argv)


def pin_environment(work: str, cpus: int, driver_mem: str, trace: bool) -> str:
    """Environment of the Spark session: inside ``work`` for every file
    it writes, the repo on the Python workers' path, and the event log
    when tracing. Returns the event-log directory."""
    tmp, evlog = os.path.join(work, "tmp"), os.path.join(work, "eventlog")
    for d in (tmp, evlog):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["TMPDIR"] = tmp
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        conf += ["spark.eventLog.enabled=true", "spark.eventLog.compress=false",
                 "spark.eventLog.rolling.enabled=false", f"spark.eventLog.dir={evlog}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {c}" for c in conf]
        + [f'--driver-java-options "-Xms{driver_mem} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"',
           "pyspark-shell"])
    return evlog


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat; a run whose
    steal share is high was slowed by other guests, not by the code."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run(args, work: str, evlog: str) -> int:
    sys.path.insert(0, ROOT)
    from pd_utils_spark.session import get_spark

    from spans import median_of, read_event_log, spark_counters
    from workloads import WORKLOADS

    cpus = max(1, min(args.cpus, os.cpu_count() or 1))
    wl = WORKLOADS[args.workload](args.tiny, cpus)

    # set-up: from process start (imports and the JVM launch included) to
    # the session up and the inputs generated and written
    spark = None
    try:
        t_sess = time.perf_counter()
        spark = get_spark("perfbench", cpus=cpus)
        start_s = time.perf_counter() - t_sess
        wl.generate(args.seed, os.path.join(work, "inputs"))
        setup_s = time.perf_counter() - T0
        m = measure(args, wl, spark, work)
    finally:
        if spark is not None:
            _stop(spark)

    passes, outs = [p.span for p in m.passes], [p.out for p in m.passes]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(s.dur for s in passes),
        "retained_mb": min(m.heap),
    }
    fail_ratio = len(m.failures) / m.attempted
    extra = wl.run_metrics(outs)
    extra.update({"run.fail_ratio": fail_ratio, "host.steal_frac": m.steal,
                  "session.start_s": start_s, "session.first_pass_s": m.cold.dur})

    for f in m.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} local[{cpus}] "
          f"heap={args.driver_mem} trace={args.trace}")
    print(f"# setup_s = {setup_s:.4f} s  (session start {start_s:.3f} s)")
    print(f"# pass_s = {e2e['pass_s']:.4f} s  (median of {len(passes)} warm passes: "
          f"{[round(s.dur, 3) for s in passes]}; cold {m.cold.dur:.3f})")
    print(f"# retained_mb = {e2e['retained_mb']:.2f} MB  (least of {len(m.heap)} "
          f"post-GC heap readings after warm pass {args.min_passes}: "
          f"{[round(x, 1) for x in m.heap]})")
    print(f"# fail_ratio = {fail_ratio:.4f}  ({len(m.failures)} of {m.attempted} "
          "checked operations)")
    print(f"# steal_frac = {m.steal:.4f}")
    for k, v in sorted(extra.items()):
        if k.startswith("ingest."):
            print(f"# {k} = {v:.4f}  ({len(wl.batch_latencies(outs))} micro-batches)")

    if args.trace:
        log = read_event_log(os.path.join(evlog, m.app_id))
        units = _per_layer()
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(extra)
        metrics.update(wl.layer_metrics(m.tracer, log, passes))
        metrics.update({f"spark.{k}": v for k, v in median_of(
            [spark_counters(log, s.start, s.end) for s in passes]).items()})
        metrics["trace.pass_s"] = e2e["pass_s"]
        print_overhead(args, e2e["pass_s"])
    else:
        metrics, units = e2e, END_TO_END
        if not args.corrupt:
            os.makedirs(UNTRACED, exist_ok=True)
            with open(untraced_path(args, args.seed), "w") as f:
                json.dump({"pass_s": e2e["pass_s"]}, f)

    print(json.dumps({
        "correct": not m.failures,
        "attempted": m.attempted,
        "failed": len(m.failures),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def untraced_path(args, seed="*") -> str:
    size = ".tiny" if args.tiny else ""
    return os.path.join(UNTRACED, f"{args.workload}{size}-{seed}.json")


def print_overhead(args, traced_pass_s: float) -> None:
    """Tracing overhead: this traced run's ``pass_s`` minus the untraced
    ``pass_s`` that ``--trace 0`` runs recorded in this checkout, of the
    same seed when there is one, else the median over every seed."""
    if os.path.isfile(untraced_path(args, args.seed)):
        files, source = [untraced_path(args, args.seed)], "the same seed"
    else:
        files = sorted(glob.glob(untraced_path(args)))
        source = f"{len(files)} other seeds"
    if not files:
        print(f"# tracing overhead: no --trace 0 run of {args.workload} recorded yet")
        return
    untraced = []
    for path in files:
        with open(path) as f:
            untraced.append(json.load(f)["pass_s"])
    up = statistics.median(untraced)
    print(f"# tracing overhead = {traced_pass_s - up:+.4f} s per pass "
          f"(traced pass_s {traced_pass_s:.4f} - untraced {up:.4f} from {source})")


@dataclass
class Pass:
    span: object
    out: object


@dataclass
class Measurement:
    tracer: object
    cold: object = None
    passes: list = field(default_factory=list)
    attempted: int = 0
    failures: list = field(default_factory=list)
    steal: float = 0.0
    heap: list = field(default_factory=list)
    app_id: str = ""


def measure(args, wl, spark, work: str) -> Measurement:
    """Two warm-up passes, then warm passes for ``args.seconds`` in a
    closed loop, each checked after its timed interval, and the heap
    retained after a full GC."""
    from spans import Tracer

    sc = spark.sparkContext
    m = Measurement(Tracer(sc, jobs=bool(args.trace)), app_id=sc.applicationId)

    def one_pass(i: int) -> Pass:
        span, out = wl.run_pass(spark, m.tracer, f"p{i}", os.path.join(work, f"pass-{i}"))
        spark.catalog.clearCache()
        gc.collect()  # neither heap carries garbage into the next pass
        spark._jvm.java.lang.System.gc()
        for name, msg in wl.check(out, args.corrupt):
            m.attempted += 1
            if msg:
                m.failures.append(f"pass {i} {name}: {msg}")
        return Pass(span, out)

    # untimed warm-up: the cold pass pays class loading, code generation
    # and worker start-up; the pass after it still runs half-compiled code
    m.cold = one_pass(-1).span
    one_pass(0)
    steal0, total0 = cpu_ticks()
    t_loop = time.perf_counter()
    while len(m.passes) < args.min_passes or time.perf_counter() - t_loop < args.seconds:
        m.passes.append(one_pass(len(m.passes) + 1))
        if len(m.passes) == args.min_passes:
            # after a fixed amount of work, so a faster program that fits
            # more passes into the run does not read as retaining more
            gc.collect()  # drop Python proxies of JVM objects first
            jvm = spark._jvm
            rt = jvm.java.lang.Runtime.getRuntime()
            for _ in range(HEAP_READINGS):
                jvm.java.lang.System.gc()
                time.sleep(0.2)
                m.heap.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    steal1, total1 = cpu_ticks()
    m.steal = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pd_utils_spark", "__init__.py")):
        print(f"perfbench: no pd_utils_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        evlog = pin_environment(work, args.cpus, args.driver_mem, bool(args.trace))
        return run(args, work, evlog)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
