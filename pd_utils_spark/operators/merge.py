"""Group-aggregate-broadcast, group row index, and as-of join operators.

Spark-native re-expression of the reference's merge module
(reference: pd_utils/merge.py). Every operator is a lazy DataFrame ->
DataFrame transformation; Catalyst plans the shuffles.

Scale notes (100 TB posture):
- ``groupby_merge`` uses window aggregates (one shuffle on ``byvars``,
  no join) instead of the reference's groupby+merge (two shuffles).
- The three as-of joins (``left_merge_latest`` backward,
  ``left_merge_soonest`` forward, ``left_merge_nearest``) share one core,
  ``_asof``: a distinct-left x right equi join, a direction filter and
  a ``max_offset`` bound, one rank-1 window over (keys, left date), and
  one left join back. The equi keys stay inside the join condition so
  the planner picks broadcast/sort-merge on the keys; the date predicate
  is a post-join filter, never a cartesian nested loop.
"""

from __future__ import annotations

from typing import Callable, Optional, Union

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pd_utils_spark.utils import group_block_stream, group_boundaries, to_list

# pandas DataFrameGroupBy method name -> Spark aggregate.
# 'std'/'var' are sample (ddof=1) in pandas => stddev_samp/var_samp.
_AGG_FUNCS: dict[str, Callable[[str], Column]] = {
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
    "mean": F.avg,
    "avg": F.avg,
    "median": F.median,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "nunique": lambda c: F.size(F.collect_set(c)),
    "prod": F.product,
    "product": F.product,
}

# Running (order-sensitive) transforms with a NATIVE window fast path:
# pandas spells these groupby().transform/cumsum-family calls; on Spark
# they are one bounded `rowsBetween(unboundedPreceding, 0)` window —
# an O(rows) JVM moving aggregate, no Python in the row path. The
# generic `transform` callable path stays for arbitrary functions; use
# these names when the function is one of the classics (measured 3.4×
# the pandas-callable path at sf0.1, SCALE.md round 4).
_RUNNING_FUNCS: dict[str, Callable[[str], Column]] = {
    "cumsum": F.sum,
    "cumprod": F.product,
    "cummax": F.max,
    "cummin": F.min,
    "cummean": F.avg,
}

# Whole-group normalization transforms with a native window fast path
# (no ordervar needed — frame is the whole partition). pandas spells
# these transform(lambda s: s - s.mean()) etc.; ddof=1 std to match
# pandas' default.
_NORMALIZE_FUNCS: dict[str, Callable[[str], Column]] = {
    "demean": lambda c, w: F.col(c) - F.avg(c).over(w),
    "zscore": lambda c, w: (F.col(c) - F.avg(c).over(w))
    / F.stddev_samp(c).over(w),
}


def groupby_merge(
    df: DataFrame,
    byvars: Union[str, list[str]],
    func_str: str,
    *func_args,
    subset: Union[str, list[str]] = "all",
    replace: bool = False,
    ordervar: Optional[str] = None,
    output_type: Optional[str] = None,
) -> DataFrame:
    """Group by ``byvars``, apply ``func_str`` on ``subset`` columns, and
    broadcast the per-group result back onto every input row as
    ``<col>_<func_str>`` columns (reference: pd_utils/merge.py:14-110).

    Aggregate path (``func_str`` in min/max/sum/count/std/mean/...):
    expressed as a window aggregate over ``Window.partitionBy(byvars)`` —
    a single shuffle, no join. Rows whose group key contains a null get a
    null aggregate (the reference's pandas groupby drops NaN keys, so the
    merge back yields NaN for those rows — pd_utils/merge.py:97-105 and
    the reference test of null byvars).

    Running path (``func_str`` in cumsum/cumprod/cummax/cummin/
    cummean, ``ordervar`` required): a native bounded
    ``rowsBetween(unboundedPreceding, 0)`` window — O(rows) JVM moving
    aggregate, no Python. Prefer these names over the generic
    transform callable when the function is one of the classics
    (measured 3.4× faster at sf0.1; SCALE.md round 4). Null inputs
    stay null and are skipped by the running total, matching pandas.
    ``demean``/``zscore`` are the whole-group cousins (no ordervar;
    ddof=1 std, pandas default) — one unordered window, no Python.

    Transform path (``func_str='transform'``, ``func_args[0]`` a callable
    ``pd.Series -> sequence``): runs per group via ``applyInPandas``
    (Arrow-batched). Null group keys DO participate as their own group
    (the reference fills ``__tempnan__`` to achieve the same —
    pd_utils/merge.py:57-59). Rows with a null in any subset column are
    excluded from the callable's input and get a null result
    (pd_utils/merge.py:61-68). The callable receives each group's rows
    ordered by ``ordervar`` when given (Spark DataFrames are unordered;
    pass it for order-sensitive callables).

    :param replace: True to overwrite the original columns with the
        aggregated/transformed values.
    :param output_type: Spark type name for transform output columns
        (e.g. ``'string'``, ``'bigint'``, ``'date'``). The reference
        propagates the callable's dtype (pd_utils/merge.py:54-89);
        Spark must declare the applyInPandas schema up front, so pass
        this for non-numeric transforms. Default ``'double'``.
    """
    byvars = to_list(byvars)
    if subset == "all":
        subset = [c for c in df.columns if c not in byvars]
    subset = to_list(subset)

    if func_str == "transform":
        out = _groupby_transform(
            df, byvars, subset, func_args[0], ordervar=ordervar,
            output_type=output_type or "double",
        )
    elif func_str in _RUNNING_FUNCS:
        # native running-window fast path (see _RUNNING_FUNCS). Order
        # parity with the transform path: nulls-last ordervar, null
        # group keys participate as their own group, null inputs stay
        # null in the output (pandas cumsum keeps NaN at NaN rows and
        # skips them in the running total — so does F.sum's
        # null-ignoring window aggregate).
        if ordervar is None:
            raise ValueError(
                f"groupby_merge('{func_str}') needs ordervar — running "
                "transforms are order-sensitive and Spark DataFrames "
                "have no row order (pass a unique-per-group ordervar "
                "for a deterministic result)"
            )
        agg = _RUNNING_FUNCS[func_str]
        w = (
            Window.partitionBy(*byvars)
            .orderBy(F.col(ordervar).asc_nulls_last())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        out = df
        for c in subset:
            expr = F.when(
                F.col(c).isNull(), F.lit(None)
            ).otherwise(agg(c).over(w))
            out = out.withColumn(f"{c}_{func_str}", expr)
    elif func_str in _NORMALIZE_FUNCS:
        # whole-group normalization fast path: one unordered window,
        # nulls excluded from the group moments and staying null in
        # the output (pandas transform semantics)
        w = Window.partitionBy(*byvars)
        fn = _NORMALIZE_FUNCS[func_str]
        out = df
        for c in subset:
            out = out.withColumn(f"{c}_{func_str}", fn(c, w))
    else:
        if func_str not in _AGG_FUNCS:
            raise ValueError(
                f"unknown aggregate {func_str!r}; valid: "
                + ", ".join(
                    sorted(_AGG_FUNCS)
                    + sorted(_RUNNING_FUNCS)
                    + sorted(_NORMALIZE_FUNCS)
                )
                + ", transform"
            )
        agg = _AGG_FUNCS[func_str]
        w = Window.partitionBy(*byvars)
        null_key = None
        for b in byvars:
            cond = F.col(b).isNull()
            null_key = cond if null_key is None else (null_key | cond)
        if func_str in ("first", "last"):
            # order-dependent aggregates: the reference takes input row
            # order; Spark relations are unordered, so require ordervar
            # for a deterministic result
            if ordervar is None:
                raise ValueError(
                    f"groupby_merge('{func_str}') needs ordervar — Spark "
                    "DataFrames have no row order"
                )
            w = w.orderBy(ordervar).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        out = df
        for c in subset:
            if func_str == "nunique":
                # the window must attach to the aggregate itself, not
                # the size() wrapper
                expr = F.size(F.collect_set(c).over(w))
            else:
                expr = agg(c).over(w)
            if null_key is not None:
                expr = F.when(null_key, F.lit(None)).otherwise(expr)
            out = out.withColumn(f"{c}_{func_str}", expr)

    if replace:
        suffix = "_" + func_str
        new_cols = [c for c in out.columns if c.endswith(suffix)]
        orig = [c[: -len(suffix)] for c in new_cols]
        keep = [c for c in out.columns if c not in orig and c not in new_cols]
        # preserve original column positions with replaced values
        sel = []
        for c in df.columns:
            if c in orig:
                sel.append(F.col(c + suffix).alias(c))
            elif c in keep:
                sel.append(F.col(c))
        out = out.select(*sel)
    return out


def _groupby_transform(
    df: DataFrame,
    byvars: list[str],
    subset: list[str],
    fn: Callable,
    ordervar: Optional[str] = None,
    output_type: str = "double",
) -> DataFrame:
    """Sorted ``mapInPandas`` backend for groupby_merge's transform
    path. ``output_type`` declares the Arrow schema of the transform
    columns; float64 is the fast path, anything else goes through an
    object series so strings/dates/ints survive untouched.

    Scale shape: ``groupBy().applyInPandas`` pays a per-GROUP Arrow
    exchange + Python call — ruinous when byvars are high-cardinality
    (~150k tiny groups took >100 s at sf0.1). Instead we shuffle once
    (``repartition(byvars)``), cluster groups contiguously
    (``sortWithinPartitions(byvars + ordervar)``), and stream whole
    partitions through ``mapInPandas``: Python overhead is per Arrow
    BATCH, with a group-boundary splitter carrying the (possibly
    incomplete) trailing group between batches. Same one-shuffle cost,
    ~20× less Python/Arrow overhead; giant groups still see the whole
    group at once (buffered across batches), exactly like the grouped
    form.
    """
    out_cols = [f"{c}_transform" for c in subset]
    out_schema = ",".join(
        [f"`{f.name}`:{f.dataType.simpleString()}" for f in df.schema.fields]
        + [f"`{c}`:{output_type}" for c in out_cols]
    )
    out_schema = "struct<" + out_schema + ">"

    as_double = output_type == "double"

    def transform_block(pdf: pd.DataFrame) -> pd.DataFrame:
        """Apply fn per group over a block of COMPLETE groups (rows
        already in ordervar order within each group). Group boundaries
        come from vectorized key-change detection on the sorted block,
        and per-group work uses positional numpy slices — iterating
        ``groupby`` sub-frames with label-based ``.loc`` writes was
        measured ~12x slower at high group cardinality."""
        import numpy as np

        n = len(pdf)
        starts, ends = group_boundaries(pdf, byvars)
        mask = pdf[subset].notna().all(axis=1).to_numpy()
        for c, oc in zip(subset, out_cols):
            colvals = pdf[c]
            if as_double:
                out = np.full(n, np.nan, dtype="float64")
            else:
                out = np.empty(n, dtype=object)
            for s, e in zip(starts, ends):
                mm = mask[s:e]
                if mm.all():
                    r = list(fn(colvals.iloc[s:e]))
                    if as_double:
                        out[s:e] = np.asarray(r, dtype="float64")
                    else:
                        out[s:e] = r
                elif mm.any():
                    idx = np.flatnonzero(mm) + s
                    r = list(fn(colvals.iloc[idx]))
                    if as_double:
                        out[idx] = np.asarray(r, dtype="float64")
                    else:
                        for i, v in zip(idx, r):
                            out[i] = v
            pdf[oc] = pd.Series(
                out, index=pdf.index, dtype="float64" if as_double else "object"
            )
        return pdf

    process = group_block_stream(byvars, transform_block)

    # nulls LAST in the in-group order: parity with the pandas
    # sort_values(na_position='last') the grouped form used (Spark's
    # default asc puts nulls first, which would silently shift every
    # order-sensitive transform value in groups with null ordervar)
    sort_cols = [F.col(b) for b in byvars] + (
        [F.col(ordervar).asc_nulls_last()] if ordervar is not None else []
    )
    prepared = df.repartition(*byvars).sortWithinPartitions(*sort_cols)
    return prepared.mapInPandas(process, schema=out_schema)


def groupby_index(
    df: DataFrame,
    byvars: Union[str, list[str]],
    sortvars: Optional[Union[str, list[str]]] = None,
    ascending: bool = True,
) -> DataFrame:
    """Append a 0-based per-group row index column ``group_index``
    (reference: pd_utils/merge.py:122-154).

    Spark form: ``row_number() - 1`` over
    ``Window.partitionBy(byvars).orderBy(sortvars)``. The reference sorts
    by ``byvars + sortvars`` and enumerates; the window equivalent needs
    an explicit in-group order, so when ``sortvars`` is empty the group
    members are numbered in an arbitrary (but valid) order.
    """
    byvars = to_list(byvars)
    sortvars = to_list(sortvars)
    order = [F.col(c).asc() if ascending else F.col(c).desc() for c in sortvars]
    if not order:
        order = [F.lit(1)]
    w = Window.partitionBy(*byvars).orderBy(*order)
    return df.withColumn("group_index", (F.row_number().over(w) - 1).cast("long"))


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_start: str,
    right_end: str,
    on: Union[str, list[str], None] = None,
    how: str = "inner",
    end_exclusive: bool = True,
    broadcast_right: bool = False,
) -> DataFrame:
    """Interval join: each left row pairs with the right rows whose
    ``[right_start, right_end)`` interval contains ``left_on``
    (``end_exclusive=False`` for closed intervals), optionally within
    equi keys ``on``. An engine extension (the reference has only the
    as-of join); the standard tool for event-to-interval assignment
    (calendar buckets, maintenance windows, price regimes).

    Plan shape: with equi keys the range predicates ride the key join
    (hash/sort-merge, never a cartesian). Without keys this is a pure
    interval join — Spark plans a broadcast nested loop; pass
    ``broadcast_right=True`` (interval dimensions are almost always
    the small side) to pin the broadcast direction.
    """
    on_l = to_list(on)
    end_cmp = (
        F.col(left_on) < F.col(right_end)
        if end_exclusive
        else F.col(left_on) <= F.col(right_end)
    )
    cond = (F.col(left_on) >= F.col(right_start)) & end_cmp
    r = F.broadcast(right) if broadcast_right else right
    if on_l:
        for k in on_l:
            cond = (left[k] == right[k]) & cond
        joined = left.join(r, cond, how)
        # drop the duplicated equi-key columns from the right side
        for k in on_l:
            joined = joined.drop(right[k])
        return joined
    return left.join(r, cond, how)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str | None = None,
    max_distance: int = 2,
    block: str = "prefix",
    block_len: int = 2,
    normalize: bool = True,
    out: str = "edit_distance",
    suffix: str = "_right",
) -> DataFrame:
    """Blocked edit-distance record linkage: pair left and right rows
    whose (normalized) strings are within ``max_distance`` Levenshtein
    edits, computing candidates through a BLOCKING equi-join so the
    match never goes all-pairs. An engine extension (the reference has
    no string-similarity join); the standard entity-resolution tool
    for joining dirty names/titles/addresses to a reference list.

    ``block``:

    - ``'prefix'``: candidates share the first ``block_len``
      normalized characters — cheap and engine-portable, but misses
      matches whose edits fall inside the prefix;
    - ``'soundex'``: candidates share the Soundex code — robust to
      vowel-level typos in names (JVM ``F.soundex``);
    - ``'none'``: true cross join then filter — exact recall, ONLY for
      a small (broadcastable) right side.

    Output: the left columns, matching right columns, and ``out`` =
    the edit distance (0 = exact after normalization). Right-side
    columns whose names collide with a left column are renamed with
    ``suffix`` (pandas-merge style) so the result is always
    selectable — without this, joining two frames that share ANY
    non-key column name yields ambiguous duplicates that fail on the
    first downstream select. Inner-join semantics: unmatched rows
    drop (wrap with a left join on the result keys for keep-all
    linkage).

    Scale shape: one equi-join on the block key (hash-partitioned,
    8-40 byte keys) + the Levenshtein filter evaluated only on
    in-block candidates — at 100 TB the block key bounds the candidate
    fan-out exactly like LSH bands bound near-dup candidates (same
    recall-vs-cost dial: longer prefixes = fewer candidates, lower
    recall).

    For corpus-scale SELF-join resolution (dedup a dirty corpus
    against itself: token/q-gram blocking with flood caps, thresholded
    early-exit verify, best-match selection, transitive entity
    closure), use ``extensions/linkage.py`` — this operator is the
    lightweight two-table enrich shape.
    """
    if block not in ("prefix", "soundex", "none"):
        raise ValueError(f"block must be prefix/soundex/none, got {block!r}")
    right_on = right_on or left_on
    shared = [c for c in right.columns if c in set(left.columns)]
    if shared:
        if not suffix:
            raise ValueError(
                f"left and right share columns {shared} and suffix is "
                "empty; pass a non-empty suffix or disjoint schemas"
            )
        renamed = {c: c + suffix for c in shared}
        clash = [n for n in renamed.values() if n in set(left.columns) | set(right.columns)]
        if clash:
            raise ValueError(f"suffixed names {clash} still collide")
        right = right.withColumnsRenamed(renamed)
        right_on = renamed.get(right_on, right_on)
    lnorm = F.col(left_on)
    rnorm = F.col(right_on)
    if normalize:
        lnorm = F.trim(F.regexp_replace(F.lower(lnorm), r"\s+", " "))
        rnorm = F.trim(F.regexp_replace(F.lower(rnorm), r"\s+", " "))
    lpre = left.withColumn("__ln__", lnorm)
    rpre = right.withColumn("__rn__", rnorm)
    if block == "prefix":
        lpre = lpre.withColumn("__blk__", F.substring("__ln__", 1, block_len))
        rpre = rpre.withColumn("__blk__", F.substring("__rn__", 1, block_len))
        joined = lpre.join(rpre, "__blk__")
    elif block == "soundex":
        lpre = lpre.withColumn("__blk__", F.soundex("__ln__"))
        rpre = rpre.withColumn("__blk__", F.soundex("__rn__"))
        joined = lpre.join(rpre, "__blk__")
    else:
        joined = lpre.crossJoin(F.broadcast(rpre))
    # thresholded form (Spark >= 3.5): the DP early-exits down a banded
    # diagonal once the distance provably exceeds max_distance, so
    # verification is O(k*min(len)) per candidate instead of O(len^2);
    # kept rows carry the exact distance (-1 marks "over threshold")
    dist = F.levenshtein("__ln__", "__rn__", max_distance)
    return (
        joined.withColumn(out, dist)
        .filter(F.col(out) >= 0)
        .drop("__blk__", "__ln__", "__rn__")
    )


def apply_func_to_unique_and_merge(
    df: DataFrame, col: str, func, output_type: str = "string", output_col: Optional[str] = None
) -> DataFrame:
    """Apply an expensive scalar function once per distinct value of
    ``col`` and join the result back (reference: pd_utils/merge.py:157-191).

    Catalyst does not rewrite expensive Python UDFs into
    distinct-then-rejoin, so we keep the reference's optimization as an
    explicit utility: ``select(col).distinct()`` -> pandas UDF ->
    broadcast join back. For cheap expressions just use the expression
    directly — per-row codegen beats the join.
    """
    output_col = output_col or f"{col}_applied"

    @F.pandas_udf(output_type)
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(func)

    uniq = df.select(col).distinct().withColumn(output_col, _udf(F.col(col)))
    return df.join(F.broadcast(uniq), on=col, how="left")


def _asof_candidates(df, df2, on, left_datevar, right_datevar):
    """Shared as-of prep: rename a clashing right date column to
    ``<name>_y``, build the distinct-left x right equi-join frame.
    Returns (df2', right_datevar', payload_cols, joined)."""
    rename = left_datevar == right_datevar
    if rename:
        df2 = df2.withColumnRenamed(right_datevar, right_datevar + "_y")
        right_datevar = right_datevar + "_y"
    payload_cols = [c for c in df2.columns if c not in on]
    lefts = df.select(*on, left_datevar).distinct()
    many = lefts.join(df2, on=on, how="inner")
    return df2, right_datevar, payload_cols, many


def _asof(df, df2, on, left_datevar, right_datevar, max_offset, direction):
    """The one as-of join behind :func:`left_merge_latest`
    (``direction="backward"``), :func:`left_merge_soonest`
    (``"forward"``) and :func:`left_merge_nearest` (``"nearest"``).

    Plan shape: distinct left (keys, date) -> equi join on the keys
    (Catalyst picks broadcast vs sort-merge) -> direction filter
    (backward ``r <= l``, forward ``r >= l``, nearest none) ->
    ``max_offset`` bound in the date domain (``l - max_offset <= r`` for
    backward and nearest, ``r <= l + max_offset`` for forward and
    nearest) -> one ``rank() == 1`` window over (keys, left date) ->
    left join onto the input. The window orders by ``r`` descending
    (backward), ascending (forward), or by distance then side, backward
    first (nearest), so rank keeps every tied best row. Equi keys always
    stay in the join condition, so the date predicate never degrades the
    join to a nested loop; all-null keys never match and the left row
    is kept with null payload."""
    on = to_list(on)
    df2, right_datevar, payload_cols, many = _asof_candidates(
        df, df2, on, left_datevar, right_datevar
    )
    lcol, rcol = F.col(left_datevar), F.col(right_datevar)
    if direction == "backward":
        many = many.filter(rcol <= lcol)
    elif direction == "forward":
        many = many.filter(rcol >= lcol)
    if max_offset is not None:
        if direction != "forward":
            many = many.filter(rcol >= lcol - F.lit(max_offset))
        if direction != "backward":
            many = many.filter(rcol <= lcol + F.lit(max_offset))
    if direction == "backward":
        order = [rcol.desc()]
    elif direction == "forward":
        order = [rcol]
    else:
        ltype = dict(df.dtypes)[left_datevar]
        if ltype.startswith("timestamp") or ltype == "date":
            l_num = F.unix_micros(lcol.cast("timestamp"))
            r_num = F.unix_micros(rcol.cast("timestamp"))
        else:
            l_num, r_num = lcol.cast("double"), rcol.cast("double")
        order = [F.abs(l_num - r_num), F.when(rcol <= lcol, 0).otherwise(1)]
    w = Window.partitionBy(*on, left_datevar).orderBy(*order)
    best = many.withColumn("__rk__", F.rank().over(w)).filter(F.col("__rk__") == 1)
    # reference column order: on, left date, right date, payload
    ordered = on + [left_datevar, right_datevar] + [
        c for c in payload_cols if c != right_datevar
    ]
    return df.join(best.select(*ordered), on=on + [left_datevar], how="left")


def left_merge_soonest(
    df: DataFrame,
    df2: DataFrame,
    on: Union[str, list[str]],
    left_datevar: str = "Date",
    right_datevar: str = "Date",
    max_offset=None,
) -> DataFrame:
    """FORWARD as-of left join: for each left row attach the right
    row(s) with the SMALLEST ``right_datevar >= left_datevar`` within
    the equi-key ``on`` — the ``direction='forward'`` complement of
    :func:`left_merge_latest` (pandas ``merge_asof`` exposes all three
    directions; the reference only ships backward). ``max_offset``
    bounds the lookahead. Ties at the min date keep all rows; all-null
    keys keep the left row with null payload.

    Plan shape matches ``left_merge_latest`` with the theta filter and
    extreme flipped; the best rows come from a rank-1 window over the
    shared (keys, left date) partitioning — equi keys stay in the join
    condition, never a nested loop.
    """
    return _asof(df, df2, on, left_datevar, right_datevar, max_offset, "forward")


def left_merge_nearest(
    df: DataFrame,
    df2: DataFrame,
    on: Union[str, list[str]],
    left_datevar: str = "Date",
    right_datevar: str = "Date",
    max_offset=None,
) -> DataFrame:
    """NEAREST as-of left join: attach the right row(s) whose date is
    closest to the left date in EITHER direction within the equi-key
    ``on``; on a distance tie the BACKWARD row wins (pandas
    ``merge_asof(direction='nearest')`` convention). ``max_offset``
    bounds the distance both ways, in the date domain like the other
    directions (a number for numeric date columns, a
    ``datetime.timedelta`` or INTERVAL for timestamps). Ties at the same
    distance and side keep all rows.

    Distance is computed on the raw values for numerics and on
    microsecond epochs for timestamps, so sub-second differences order
    correctly. Same single-window plan shape as the other directions.
    """
    return _asof(df, df2, on, left_datevar, right_datevar, max_offset, "nearest")


def left_merge_latest(
    df: DataFrame,
    df2: DataFrame,
    on: Union[str, list[str]],
    left_datevar: str = "Date",
    right_datevar: str = "Date",
    max_offset=None,
    backend: str = "spark",
    low_memory: bool = False,
) -> DataFrame:
    """As-of (backward) left join: for each left row attach the right
    row(s) with the greatest ``right_datevar <= left_datevar`` within the
    equi-key ``on`` (reference: pd_utils/merge.py:194-289, the
    ``_left_merge_latest_pandas`` backend is the semantics oracle).

    ``max_offset`` bounds the lookback: a number for numeric date
    columns, a ``datetime.timedelta`` (or Spark INTERVAL string) for
    timestamps (pd_utils/merge.py:268-269).

    When both date columns share a name the right one is exposed as
    ``<name>_y`` in the output, matching the reference's suffix behavior.
    If several right rows tie at the max date, all of them are kept
    (duplicating left rows), exactly like the reference's merge-back.

    Plan shape: distinct left (keys, date) -> equi join on keys (Catalyst
    picks broadcast vs sort-merge) -> theta filter -> one rank-1 window
    over (keys, left date), ordered by right date descending -> left
    join onto the input: two joins, one aggregate (the distinct left
    keys) and one window, where the reference's per-key max plus
    merge-back needs a second aggregate and a self-join. The equi keys
    always stay in the join condition; the date predicate never degrades
    the join to a nested loop. All-null keys never match and the left
    row is kept with null payload.

    ``backend``/``low_memory`` are accepted for API parity and ignored —
    Spark spills, and there is only one engine.
    """
    return _asof(df, df2, on, left_datevar, right_datevar, max_offset, "backward")


def linkage_score(
    pairs: DataFrame,
    fields: list[str],
    suffix: str = "_right",
    m: float | dict = 0.9,
    u: float | dict | None = 0.1,
    freq_from: DataFrame | None = None,
    out: str = "match_weight",
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring over candidate pairs:
    append ``out`` = the total log2 match weight

        sum_f  agree_f ? log2(m_f / u_f) : log2((1-m_f) / (1-u_f))

    where for each field ``f`` the pair carries the left value in
    column ``f`` and the right value in ``f + suffix`` (the layout
    :func:`fuzzy_join` and any blocked self-join produce). ``m_f`` is
    the probability a TRUE match agrees on ``f`` (domain knowledge,
    default 0.9 for all fields); ``u_f`` the probability a random
    non-match agrees. A null on either side contributes 0 — missing
    data carries no linkage information in the FS model.

    ``u`` can be given per field, or ESTIMATED from data: pass
    ``freq_from`` (typically the full right-side frame, pre-blocking)
    and ``u_f = sum_v (n_v / n)^2`` — the collision probability of two
    random draws from the field's empirical distribution, the standard
    frequency-based u-estimate. Estimation is one tiny aggregate per
    field over value counts (O(distinct values) shuffle each), joined
    back as a ONE-ROW broadcast — the candidate pair frame itself is
    scored with pure column expressions, no extra shuffle.

    This intentionally scores pairs you already generated (via
    blocking / ``fuzzy_join`` / LSH) rather than generating them: at
    100 TB the cost is candidate generation, and that problem is owned
    by the dedup/blocking family.
    """
    if not fields:
        raise ValueError("fields must be non-empty")
    m_map = m if isinstance(m, dict) else {f: float(m) for f in fields}
    for f in fields:
        if not 0.0 < m_map.get(f, 0.0) < 1.0:
            raise ValueError(f"m[{f!r}] must be in (0, 1)")
    scored = pairs
    u_cols: dict[str, Column] = {}
    if freq_from is not None:
        for f in fields:
            cnts = (
                freq_from.filter(F.col(f).isNotNull())
                .groupBy(f)
                .agg(F.count(F.lit(1)).alias("__c__"))
            )
            uf = cnts.agg(
                (
                    F.sum(F.col("__c__") * F.col("__c__"))
                    / (F.sum("__c__") * F.sum("__c__"))
                ).alias(f"__u_{f}__")
            )
            scored = scored.join(F.broadcast(uf))
            u_cols[f] = F.col(f"__u_{f}__")
    else:
        if u is None:
            raise ValueError("pass u=... or freq_from=...")
        u_map = u if isinstance(u, dict) else {f: float(u) for f in fields}
        for f in fields:
            if not 0.0 < u_map.get(f, 0.0) < 1.0:
                raise ValueError(f"u[{f!r}] must be in (0, 1)")
        u_cols = {f: F.lit(u_map[f]) for f in fields}
    total = F.lit(0.0)
    for f in fields:
        l, r = F.col(f), F.col(f + suffix)
        mf = F.lit(m_map[f])
        uf = u_cols[f]
        w_agree = F.log2(mf / uf)
        w_disagree = F.log2((F.lit(1.0) - mf) / (F.lit(1.0) - uf))
        total = total + (
            F.when(l.isNull() | r.isNull(), F.lit(0.0))
            .when(l == r, w_agree)
            .otherwise(w_disagree)
        )
    scored = scored.withColumn(out, total)
    return scored.drop(*[f"__u_{f}__" for f in fields if freq_from is not None])
