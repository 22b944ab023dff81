"""Shared helpers for pd_utils_spark operators."""

from __future__ import annotations

import math
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

NUMERIC_SPARK_TYPES = {
    "tinyint",
    "smallint",
    "int",
    "bigint",
    "float",
    "double",
}


def to_list(v) -> list:
    """str -> [str]; None -> []; list/tuple passed through as list."""
    if v is None:
        return []
    if isinstance(v, str):
        return [v]
    return list(v)


def numeric_cols(df: DataFrame, exclude: list[str] | None = None) -> list[str]:
    """Names of numeric (int/float family) columns, preserving df order."""
    exclude = exclude or []
    out = []
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        if base in NUMERIC_SPARK_TYPES or base == "decimal":
            if name not in exclude:
                out.append(name)
    return out


def quote(col: str) -> str:
    """Backtick-quote a column name for use in SQL expressions."""
    return "`" + col.replace("`", "``") + "`"


class _Scopes(threading.local):
    """Per-thread stack of open :func:`query_scope` pin lists."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_SCOPES = _Scopes()


def materialize(
    df: DataFrame, *, stable: bool = False, eager: bool = False
) -> DataFrame:
    """The one way the library pins a subtree it reads more than once
    (e.g. both sides of a self-join, where ReuseExchange cannot dedupe
    the separate subtrees and the upstream pipeline would otherwise
    execute once PER reference).

    ``stable=False`` (reuse, the default): ``persist(MEMORY_AND_DISK)``
    — lazily cached, computed once at the first action and shared by
    every reference; lost blocks are *recomputed from lineage*. The
    pin registers itself in the innermost open :func:`query_scope` on
    the calling thread, which unpersists it on exit; outside a scope
    nothing records it (``spark.catalog.clearCache()`` frees it). With
    a **reliable checkpoint dir** set (:func:`reliable_checkpoints`)
    the persisted frame is also lazily ``checkpoint``-ed, so the data
    lands on the (replicated) checkpoint store and survives executor
    loss; the persist underneath makes the first action compute the
    subtree once and the checkpoint write read the cache (a bare lazy
    checkpoint would recompute it per reference plus once more).

    ``stable=True`` (one evaluation: range bounds, RNG draws, lineage
    truncation in iterative loops): ``localCheckpoint(eager)`` — lost
    blocks fail the job instead of being silently recomputed — or,
    with a reliable checkpoint dir, ``checkpoint(eager=True)``.
    Checkpoint blocks are not scope-released (the ContextCleaner
    reclaims them with the frame).

    ``eager=True`` runs the job at call time; it needs
    ``stable=True`` (a reuse pin is always lazy, so building a plan
    runs no job).
    """
    if eager and not stable:
        raise ValueError("materialize(eager=True) requires stable=True")
    try:
        reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:
        reliable = False
    if stable:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=eager)
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    if _SCOPES.stack:
        _SCOPES.stack[-1].append(pinned)
    return df.checkpoint(eager=False) if reliable else pinned


@contextmanager
def query_scope() -> Iterator[list[DataFrame]]:
    """Release every reuse pin :func:`materialize` makes on this
    thread while the block runs: on exit (normal or raised) exactly
    those frames are unpersisted, whatever the caller did to the
    returned frames in between. Scopes nest — a pin belongs to the
    innermost open one — and are per thread, so a streaming
    micro-batch (its own scope, on the stream's thread) never releases
    a caller's frames. Yields the list of pinned frames."""
    pins: list[DataFrame] = []
    _SCOPES.stack.append(pins)
    try:
        yield pins
    finally:
        _SCOPES.stack.pop()
        for f in pins:
            f.unpersist()


@contextmanager
def reliable_checkpoints(spark, checkpoint_dir: str | None) -> Iterator[None]:
    """Set the session's reliable checkpoint dir to ``checkpoint_dir``
    for the block, so every :func:`materialize` inside it pins on
    stable storage; ``None`` leaves the session as it is. The prior
    dir (a session-global setting) is restored on exit, so the call
    does not switch unrelated later checkpoint users into a different
    mode. The restore writes the prior value back through the JVM
    accessor: the public setter cannot unset, and it would create a
    fresh subdirectory under the prior dir instead of reusing it.
    Best-effort: a failed restore never masks the block's result."""
    if checkpoint_dir is None:
        yield
        return
    sc = spark.sparkContext
    try:
        prev = sc.getCheckpointDir()
    except Exception:
        prev = None
    sc.setCheckpointDir(checkpoint_dir)
    try:
        yield
    finally:
        try:
            old = sc._jvm.scala.Option.apply(prev)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(old)
        except Exception:
            pass


#: Per-task input-byte grain of :func:`spread`. The CPU-heavy text
#: work behind a spread (shingling, minhash) was measured at ~4 µs
#: per input byte on one core (an 8.7 s single-task stage over a
#: ~2 MB sf0.1 micro-batch), so 64 KiB of input is about 1 s of work
#: per task: large enough that task scheduling stays negligible,
#: small enough that a one-file input fans out. The scan-split
#: default (128 MB) is far too coarse for that work.
_SPREAD_TARGET_BYTES = 64 * 1024


def spread(df: DataFrame) -> DataFrame:
    """The one way the library and the entry module fan out an
    under-partitioned input before CPU-heavy per-row work. A one-file
    input below ``maxPartitionBytes`` (a test table, a file-stream
    micro-batch) arrives as one scan split, so the whole downstream
    map (shingles, minhash, vector normalize) would run on one core;
    profiled at sf0.1 as 14 s single-task stages in the containment
    gate.

    The spread is proportional to the input, not to the core count:
    ``ceil(estimated bytes / _SPREAD_TARGET_BYTES)`` round-robin
    partitions, capped at ``defaultParallelism``. A blanket fan to
    ``defaultParallelism`` made KB-scale inputs pay a full-width
    exchange plus full-width stages for every downstream stage, and
    the gates ran slower on 32 cores than on 8. The estimate is the
    optimized plan's ``sizeInBytes`` (file sizes for a scan); when it
    is unavailable or unbounded (a relation without stats reports
    Long.MaxValue), the cap applies. An input that already has
    ``defaultParallelism`` or more partitions, or at least the wanted
    count, is returned as is, so at scale this is a no-op. Round-robin
    repartition is retry-safe (Spark sorts before it by default);
    callers must not depend on partitioning.

    The estimate comes first: reading the partition count plans the
    query through a Python RDD (52.6 ms on the sf0.1 ``documents`` scan
    on a 4-core host, against 4.5 ms for a bare repartition), and an
    input that wants one partition never needs the count.

    Precondition: ``df`` is a scan, or maps and filters over one.
    Reading its partition count then starts no Spark job. Behind a
    shuffle under AQE, ``.rdd`` runs the upstream stages to learn the
    coalesced count, and the byte estimate no longer measures the
    downstream work."""
    p = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
        want = min(p, max(1, math.ceil(est / _SPREAD_TARGET_BYTES)))
    except Exception:  # pragma: no cover — stats unavailable
        want = p
    if want <= 1:
        return df  # every input has at least one partition
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — defensive; keep the input
        return df
    if n < want:
        return df.repartition(want)
    return df


def observed_metrics(df: DataFrame) -> dict[str, dict]:
    """Observed metrics of ``df``'s LAST executed action, as
    ``{metric_name: {field: value}}`` — the reader side of
    ``DataFrame.observe(name, ...)`` (which the flood caps and plan
    barriers emit). Metrics exist only AFTER an action has run on this
    exact DataFrame; an un-executed frame returns ``{}``.

    CAVEAT (r8, measured): only actions that execute the frame's OWN
    QueryExecution populate it — ``df.collect()`` does;
    ``df.count()`` and ``df.write...`` build a NEW execution around
    the plan and leave this frame's metrics at their zero defaults.
    Read metrics after a ``collect()``, or use an ``Observation``
    object / QueryExecutionListener when the action must be a write.

    This is how callers audit what a ``max_bucket`` cap dropped
    without paying a separate count job: collect the result, then read
    ``observed_metrics(result)["lsh_bucket_cap_1"]["dropped_rows"]``.
    """
    out: dict[str, dict] = {}
    it = df._jdf.queryExecution().observedMetrics().iterator()
    while it.hasNext():
        entry = it.next()
        row = entry._2()
        schema = row.schema()
        fields = {
            schema.fields()[i].name(): row.get(i)
            for i in range(row.length())
        }
        out[entry._1()] = fields
    return out


_BARRIER_COUNT = [0]


def plan_barrier(df: DataFrame, name: str | None = None) -> DataFrame:
    """Optimizer barrier: force the columns of ``df`` to be computed in
    their own projection instead of being inlined into the consumer.

    Catalyst's CollapseProject folds adjacent projections, so an
    expensive array expression consumed by ``explode`` becomes the
    Generate operator's inline child — and Generate re-evaluates an
    inline collection far more expensively than it reads a bound
    attribute (measured 17.5 s vs 1.9 s on the winnowing fingerprint
    explode at sf0.01; same pathology SCALE.md documents for the
    shingle family). Inserting a ``CollectMetrics`` node (via
    ``DataFrame.observe`` with a trivial count) blocks the collapse at
    zero runtime cost: no shuffle, no caching, constant memory — unlike
    a ``persist``, nothing must be evicted later.

    Use between building an expensive array column and exploding it,
    when the array is consumed exactly once (use :func:`materialize`
    instead when several stages share the computed frame).
    """
    from pyspark.sql import functions as F

    _BARRIER_COUNT[0] += 1
    label = name or f"__plan_barrier_{_BARRIER_COUNT[0]}__"
    return df.observe(label, F.count(F.lit(1)))


def group_block_stream(byvars: list[str], block_fn):
    """Build a ``mapInPandas`` iterator function that re-chunks sorted
    Arrow batches into blocks of COMPLETE groups and yields
    ``block_fn(block)`` for each.

    The contract: the input DataFrame must already be
    ``repartition(*byvars).sortWithinPartitions(*byvars, *order)`` so
    every group is contiguous within its partition. Arrow batch
    boundaries land mid-group, so the trailing (possibly incomplete)
    group of each batch is carried forward and prepended to the next;
    ``block_fn`` therefore always sees whole groups, in order, and may
    rely on vectorized key-change detection to find boundaries.

    This is the scale-safe alternative to ``groupBy().applyInPandas``
    for high-cardinality keys: one shuffle, Python/Arrow overhead per
    BATCH instead of per GROUP (measured ~20x on ~150k tiny groups —
    see ``_groupby_transform``), while a group larger than a batch is
    still buffered and seen whole, exactly like the grouped form.
    """
    import numpy as np
    import pandas as pd

    def _key_eq(pdf: "pd.DataFrame", row: "pd.Series"):
        # null-safe vector equality of each row's byvars to a key row
        eq = np.ones(len(pdf), dtype=bool)
        for b in byvars:
            col = pdf[b]
            v = row[b]
            if pd.isna(v):
                eq &= col.isna().to_numpy()
            else:
                eq &= (col == v).fillna(False).to_numpy()
        return eq

    def process(batches):
        tail_parts: list[pd.DataFrame] = []  # trailing group, may span batches
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if tail_parts:
                prev_last = tail_parts[-1].iloc[-1]
                eq_head = _key_eq(pdf, prev_last)
                # contiguous head run continuing the previous group
                n_head = len(pdf) if eq_head.all() else int(eq_head.argmin())
                if n_head > 0:
                    tail_parts.append(pdf.iloc[:n_head])
                    pdf = pdf.iloc[n_head:]
                if len(pdf) == 0:
                    continue
                yield block_fn(pd.concat(tail_parts, ignore_index=True))
                tail_parts = []
            last = pdf.iloc[-1]
            eq_tail = _key_eq(pdf, last)
            # sorted input => rows equal to the last key form the tail run
            n_tail = int(eq_tail.sum())
            split = len(pdf) - n_tail
            if split > 0:
                yield block_fn(pdf.iloc[:split].copy())
            tail_parts = [pdf.iloc[split:]]
        if tail_parts:
            yield block_fn(pd.concat(tail_parts, ignore_index=True))

    return process


def group_boundaries(pdf, byvars: list[str]):
    """(starts, ends) positional group slices of a block already sorted
    by ``byvars`` — vectorized key-change detection, null-safe (two
    adjacent nulls in a key column do NOT start a new group)."""
    import numpy as np

    n = len(pdf)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for b in byvars:
        col = pdf[b]
        arr = col.to_numpy()
        na = col.isna().to_numpy()
        diff = arr[1:] != arr[:-1]
        both_na = na[1:] & na[:-1]
        change[1:] |= np.asarray(diff, dtype=bool) & ~both_na
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], n)
    return starts, ends
