"""Skew and co-location helpers — the physical-plan toolkit for the
100 TB posture (SCALE.md). AQE handles moderate skew automatically;
these are the explicit tools for pathological keys and for removing
shuffles entirely via bucketing.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.utils import materialize, to_list

# partial / final decomposition per aggregate: algebraic aggs combine
# with the listed final function; avg decomposes into sum + count
_TWO_PHASE = {
    "sum": ("sum", "sum"),
    "count": ("count", "sum"),
    "min": ("min", "min"),
    "max": ("max", "max"),
}


def salted_groupby_agg(
    df: DataFrame,
    keys: str | Sequence[str],
    aggs: Mapping[str, str],
    salt: int = 16,
) -> DataFrame:
    """Two-phase aggregation with an explicit salt: rows first
    aggregate within (keys, salt) partitions — splitting any hot key
    across ``salt`` reducers — then the partials combine per key.

    ``aggs`` maps column -> one of sum/count/min/max/avg(mean);
    output columns are ``<col>_<func>``. For purely algebraic
    aggregates Spark's map-side partial aggregation usually makes this
    unnecessary; the salt matters when a single key's partials alone
    overwhelm one reducer (extreme cardinality-1 skew) or as the
    pattern template for window-like computations.
    """
    keys_l = to_list(keys)
    salted = df.withColumn(
        "__salt__",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)),
    )

    partials = []
    finals = []
    for col, func in aggs.items():
        if func in ("avg", "mean"):
            partials += [
                F.sum(col).alias(f"__s_{col}__"),
                F.count(col).alias(f"__c_{col}__"),
            ]
            finals.append(
                (F.sum(f"__s_{col}__") / F.sum(f"__c_{col}__")).alias(f"{col}_{func}")
            )
        elif func in _TWO_PHASE:
            p, f_ = _TWO_PHASE[func]
            partials.append(getattr(F, p)(col).alias(f"__p_{col}_{func}__"))
            finals.append(
                getattr(F, f_)(f"__p_{col}_{func}__").alias(f"{col}_{func}")
            )
        else:
            raise ValueError(
                f"{func!r} is not two-phase decomposable here; "
                "valid: sum, count, min, max, avg"
            )

    phase1 = salted.groupBy(*keys_l, "__salt__").agg(*partials)
    return phase1.groupBy(*keys_l).agg(*finals)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-join salting: the left side gets a deterministic salt in
    [0, salt); the right side is replicated once per salt value; the
    join runs on (keys, salt) so a hot key spreads over ``salt``
    tasks. Right-side rows are duplicated ``salt`` times — use only
    when the right side is small enough to replicate but too large or
    too skew-prone to broadcast. AQE's skew-join split is the first
    resort; this is the explicit fallback.

    Only ``inner`` and ``left`` joins are supported: replicating the
    right side would emit each unmatched right row ``salt`` times
    under right/full-outer semantics.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r} "
            "(the replicated right side would duplicate unmatched right "
            "rows under right/full-outer semantics)"
        )
    on_l = to_list(on)
    lsalt = left.withColumn(
        "__salt__",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt)),
    )
    rsalt = right.withColumn(
        "__salt__", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = lsalt.join(rsalt, on=on_l + ["__salt__"], how=how)
    return out.drop("__salt__")


def hot_key_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    hot_threshold: int = 1_000_000,
    how: str = "inner",
    max_broadcast_rows: int = 2_000_000,
) -> DataFrame:
    """Two-path skew join: keys whose LEFT-side row count exceeds
    ``hot_threshold`` take a broadcast path (only the HOT keys' right
    rows are broadcast — typically a handful of rows even when the
    full right side is far too big to broadcast); every other key
    takes the normal shuffle join. The union is the exact join result.

    This beats ``salted_join`` when hot keys are few: nothing is
    replicated ``salt`` times — the hot path is a map-side hash join
    (no shuffle at all for the skewed rows, no sort of the hot key),
    and the cold path shuffles a now-skewless relation. The cost is
    one extra aggregation over the left key columns (column-pruned
    scan) to find the hot set.

    ``how`` supports 'inner' and 'left' (the paths partition the LEFT
    rows, so left-outer semantics compose; right/full-outer would need
    unmatched-right bookkeeping across paths).

    Broadcast safety: a key hot on the LEFT is often hot on the RIGHT
    too (the common real-skew case), and force-broadcasting millions
    of right rows OOMs the driver/executors instead of degrading. The
    hot-key right rows are therefore COUNTED first (one column-pruned
    job) and, above ``max_broadcast_rows``, the join falls back to
    :func:`salted_join` — graceful degradation instead of a crash. The
    count also short-circuits: zero hot keys -> plain shuffle join
    with no union overhead.

    Cache note: the small hot-key frame is a reuse pin
    (:func:`~pd_utils_spark.utils.materialize`) because the returned
    two-path plan references it twice (semi + anti split); run the
    join inside a :func:`~pd_utils_spark.utils.query_scope`, which
    unpersists it on exit.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"hot_key_join supports how='inner'/'left' only, got {how!r}"
        )
    on_l = to_list(on)
    hot = (
        left.groupBy(*on_l)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") > hot_threshold)
        .select(*on_l)
    )
    # the hot-key set is small by construction (each key has >threshold
    # rows, so there are at most n_rows/threshold of them) — broadcast
    # it for the semi/anti splits and the right-side filter
    hot_b = F.broadcast(materialize(hot))
    hot_right_plan = right.join(hot_b, on_l, "left_semi")
    hot_right_rows = hot_right_plan.count()
    if hot_right_rows > max_broadcast_rows:
        # right side of the hot keys is itself too big to broadcast:
        # replicate-and-salt handles two-sided skew without collecting
        return salted_join(left, right, on=on_l, how=how)
    if hot_right_rows == 0:
        return left.join(right, on_l, how)
    cold_left = left.join(hot_b, on_l, "left_anti")
    hot_left = left.join(hot_b, on_l, "left_semi")
    hot_right = F.broadcast(hot_right_plan)
    cold = cold_left.join(right, on_l, how)
    hot_res = hot_left.join(hot_right, on_l, how)
    return cold.unionByName(hot_res)


def key_skew_report(
    df: DataFrame,
    keys: str | Sequence[str],
    top: int = 20,
) -> DataFrame:
    """Skew diagnostic for a prospective shuffle key: the ``top``
    heaviest key values with their row count, share of all rows, and
    the ratio to a perfectly uniform key (``count * n_distinct /
    n_rows`` — 1.0 means balanced, 100 means that key's reducer gets
    100x the average partition). Run this BEFORE a big groupBy/join on
    a new key: a ratio in the hundreds says salt the aggregation
    (``salted_groupby_agg``), split the join (``salted_join``), or cap
    the flood (``max_bucket``) — after the 10-hour straggler it is
    too late. Two aggregation passes over just the key columns
    (column-pruned scan) + a broadcast one-row total."""
    keys_l = to_list(keys)
    counts = df.groupBy(*keys_l).agg(F.count(F.lit(1)).alias("key_count"))
    totals = counts.agg(
        F.sum("key_count").alias("__rows__"),
        F.count(F.lit(1)).alias("__nkeys__"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            *keys_l,
            "key_count",
            (F.col("key_count") / F.col("__rows__")).alias("row_share"),
            (F.col("key_count") * F.col("__nkeys__") / F.col("__rows__")).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.desc("key_count"), *keys_l)
        .limit(top)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: str | Sequence[str],
    buckets: int = 32,
    sort_by: Optional[str | Sequence[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) table: joins and
    aggregations on the bucket keys between same-bucket-count tables
    run WITHOUT a shuffle (verified by plan test — no Exchange). The
    Spark-native answer to the co-located-join problem at 100 TB:
    shuffle once at write time, never again at read time.
    """
    keys_l = to_list(keys)
    writer = df.write.mode(mode).bucketBy(buckets, *keys_l)
    if sort_by is not None:
        writer = writer.sortBy(*to_list(sort_by))
    writer.saveAsTable(table)
