"""Distributed global prefix sums.

A running total in TOTAL order is the textbook case where the naive
Spark spelling silently stops scaling: ``Window.orderBy(x)`` with no
``partitionBy`` moves every row into ONE task. The classic fix (how
MPI/parallel-scan does it, and how Spark's own ``zipWithIndex``
numbers rows) is a two-level scan:

1. range-partition by the order columns, tag each row with its
   partition id and materialize that once (``localCheckpoint``);
2. per-partition LOCAL running sums (parallel — a window partitioned
   by the partition id is embarrassingly parallel);
3. per-partition totals (one tiny agg: #partitions rows), cumulated
   on a single task (trivially small), broadcast-joined back as
   per-partition offsets;
4. global prefix = local prefix + offset of all earlier partitions.

Cost: one range shuffle of the data (run eagerly, when the scan is
built) + one O(#partitions) side plan — vs the single-task
total-order window whose cost is the whole dataset through one core.

Ties across partition boundaries: the range partitioner may split
equal order-keys between adjacent partitions, so prefix values WITHIN
a tie group depend on placement. Aggregate to one row per distinct
key first (what the statistical consumers in ``extensions/stats.py``
do) or include a tiebreaker column in ``ordercols``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pd_utils_spark.utils import materialize, to_list

__all__ = ["prefix_sum", "prefix_agg", "exact_ntile"]

# agg name -> (column aggregate, pairwise combiner). The combiner
# merges a row's local prefix with the offset of all earlier
# partitions; least/greatest skip nulls, which is exactly the
# identity behavior an empty prefix needs.
_AGGS = {
    "sum": (F.sum, lambda loc, off: F.coalesce(loc, F.lit(0)) + off),
    "min": (F.min, lambda loc, off: F.least(loc, off)),
    "max": (F.max, lambda loc, off: F.greatest(loc, off)),
}


def prefix_agg(
    df: DataFrame,
    ordercols: str | Sequence[str],
    valuecols: str | Sequence[str],
    agg: str = "sum",
    suffix: str | None = None,
    partitions: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Global running ``sum``/``min``/``max`` of ``valuecols`` over the
    total order of ``ordercols`` — each value column gains
    ``<name><suffix>`` (suffix defaults to ``_cum`` for sum,
    ``_cummin``/``_cummax`` otherwise).

    ``inclusive=True`` (default) includes the current row; ``False``
    gives the exclusive scan (aggregate of strictly earlier rows —
    null/identity when there are none). ``partitions`` overrides the
    range-partition count (defaults to the session shuffle-partition
    setting). Null order keys sort first (Spark default); null values
    are skipped by the aggregate (exclusive-sum prefixes of nothing
    coalesce to 0; min/max stay null).
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}: {agg!r}")
    order_l = to_list(ordercols)
    val_l = to_list(valuecols)
    if not order_l or not val_l:
        raise ValueError(f"need ordercols and valuecols: {order_l}, {val_l}")
    afn, combine = _AGGS[agg]
    sfx = suffix if suffix is not None else ("_cum" if agg == "sum" else f"_cum{agg}")
    n = partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # materialized once: both branches below must see ONE partition
    # assignment. Each evaluation of a range exchange samples its own
    # bounds (seeded by RDD id, drawn in input row order), so two
    # evaluations of a lazy ``ranged`` can disagree on ``__pid__`` and
    # pair local prefixes with the wrong offsets. A cache could be
    # recomputed and resampled without notice; a lost local-checkpoint
    # block fails the job instead.
    ranged = materialize(
        df.repartitionByRange(n, *[F.col(c) for c in order_l])
        .withColumn("__pid__", F.spark_partition_id()),
        stable=True, eager=True,
    )
    local_w = (
        Window.partitionBy("__pid__")
        .orderBy(*order_l)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    local = ranged.select(
        "*",
        *[afn(F.col(c)).over(local_w).alias(f"__loc_{c}__") for c in val_l],
    )
    # per-partition totals: #partitions rows — the single-task window
    # over THIS frame is the whole point (O(#partitions), not O(rows))
    totals = ranged.groupBy("__pid__").agg(
        *[afn(F.col(c)).alias(f"__tot_{c}__") for c in val_l]
    )
    off_w = (
        Window.orderBy("__pid__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_exprs = []
    for c in val_l:
        o = afn(F.col(f"__tot_{c}__")).over(off_w)
        if agg == "sum":
            o = F.coalesce(o, F.lit(0))
        off_exprs.append(o.alias(f"__off_{c}__"))
    offsets = totals.select("__pid__", *off_exprs)
    out = local.join(F.broadcast(offsets), "__pid__")
    for c in val_l:
        out = out.withColumn(c + sfx, combine(F.col(f"__loc_{c}__"), F.col(f"__off_{c}__")))
    return out.drop(
        "__pid__", *[f"__loc_{c}__" for c in val_l], *[f"__off_{c}__" for c in val_l]
    )


def prefix_sum(
    df: DataFrame,
    ordercols: str | Sequence[str],
    valuecols: str | Sequence[str],
    suffix: str = "_cum",
    partitions: int | None = None,
    inclusive: bool = True,
) -> DataFrame:
    """Global running totals — :func:`prefix_agg` with ``agg='sum'``."""
    return prefix_agg(
        df, ordercols, valuecols, "sum", suffix, partitions, inclusive
    )


def exact_ntile(
    df: DataFrame,
    col: str,
    n: int,
    out: str = "bucket",
    partitions: int | None = None,
) -> DataFrame:
    """Exact distributed ntile: every row gains ``out`` = its
    equal-count bucket in [0, n) over the ascending order of ``col``
    — ``floor(strictly_earlier_rank * n / N)``, so TIED values always
    share a bucket (unlike SQL ``ntile``, which splits ties by
    arbitrary row order — unacceptable for reproducible binning).

    The global rank runs on per-distinct-value counts through the
    two-level prefix scan (never a total-order window); the
    (distinct value -> bucket) map joins back on the value. Null
    ``col`` rows pass through with null ``out``.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    c = F.col(col)
    counts = (
        df.filter(c.isNotNull()).groupBy(c.alias("__v__")).agg(
            F.count(F.lit(1)).alias("__c__")
        )
    )
    ranked = prefix_sum(
        counts, "__v__", "__c__", inclusive=False, partitions=partitions
    )
    total = counts.agg(F.sum("__c__").alias("__n__"))
    bmap = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "__v__",
            F.least(
                F.floor(F.col("__c___cum") * F.lit(n) / F.col("__n__")),
                F.lit(n - 1),
            ).cast("int").alias(out),
        )
    )
    # drop bmap's key by REFERENCE: a name-based drop("__v__") would
    # also remove the caller's column if it happens to share the name
    return df.join(bmap, df[col] == bmap["__v__"], "left").drop(bmap["__v__"])
