"""Deterministic sampling, splitting, mixing, packing, and
decontamination operators for training-data pipelines — beyond the
reference surface (nickderobertis/pd-utils has no sampling operators).

Every decision keys off an md5 content hash of a stable id — never
``rand()`` — so results are bit-reproducible across runs, cluster
sizes, partitionings, AND engines (the same math is expressible in
DuckDB/Presto SQL, which is what makes these operators
oracle-checkable). ``rand(seed)`` in Spark is seed-stable only for a
fixed partitioning; repartition the input and the sample changes —
useless for a 100 TB pipeline where partitioning is an execution
detail.

Scale design (the 100 TB posture):

- ``hash_fraction`` / ``hash_split`` / ``stratified_sample`` are pure
  projections/filters — zero shuffles, fully codegen, pushdown-safe.
- ``interleave_sources`` aggregates one tiny (source, count) frame and
  broadcast-joins it back — no driver round trip, no second scan
  shuffle.
- ``sample_n_per_group`` is one hash-partition shuffle on the group
  keys (the minimum for an exact per-group count).
- ``decontaminate`` explodes corpus n-grams but joins them against a
  BROADCAST benchmark n-gram set, then broadcast-anti-joins the small
  contaminated-id set back — corpus is never shuffled.
- ``pack_chunks`` windows within hash-buckets, not globally: a global
  order would serialize 100 TB through one partition; bucketed order
  gives budget-sized chunks with bucket-count parallelism.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pd_utils_spark.extensions.dedup import _norm, _shingles_from_toks, shingle_sets
from pd_utils_spark.extensions.text import _tokens
from pd_utils_spark.utils import materialize, to_list

_HASH_DENOM = 1 << 31
_HASH_MASK = _HASH_DENOM - 1


def _hash31(strcol: Column) -> Column:
    """md5 -> first 15 hex chars -> 60-bit int -> low 31 bits; the
    shared engine-portable hash base (same construction as
    ``extensions.dedup``'s minhash base). NULL in, NULL out."""
    return (
        F.conv(F.substring(F.md5(strcol), 1, 15), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit(_HASH_MASK))
    )


def hash_fraction(col: Column | str, seed: int | str = 0) -> Column:
    """Deterministic uniform fraction in [0, 1) from the md5 of
    ``col`` and ``seed``: first 15 hex chars -> 60-bit int, masked to
    31 bits, divided by 2^31 (the same md5->int base as
    ``extensions.dedup``, so the identical expression exists in any
    SQL engine: ``(('0x'||substr(md5(x||':'||seed),1,15))::BIGINT &
    2147483647) / 2147483648.0``). A NULL id yields a NULL fraction —
    matching the SQL mirror's null propagation — so null-id rows fall
    out of samples and take the ELSE split label rather than silently
    sharing one hash."""
    c = F.col(col) if isinstance(col, str) else col
    keyed = F.concat(c.cast("string"), F.lit(f":{seed}"))
    return _hash31(keyed) / F.lit(float(_HASH_DENOM))


def hash_split(
    df: DataFrame,
    idcol: str = "doc_id",
    weights: Mapping[str, float] | None = None,
    seed: int | str = 0,
    out: str = "split",
) -> DataFrame:
    """Assign every row a deterministic train/val/test-style split
    label with the given weights (normalized to sum 1). A row's label
    depends only on (id, seed) — stable under re-partitioning,
    appends, and re-runs, which is the property a training pipeline
    actually needs from a split (a doc must never migrate between
    train and test across dataset versions).

    Pure projection: no shuffle, no action.
    """
    weights = dict(weights or {"train": 0.98, "val": 0.01, "test": 0.01})
    if not weights or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive value")
    frac = hash_fraction(F.col(idcol), seed)
    names = list(weights)
    expr = F.lit(names[-1])
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += weights[name] / total
        conds.append((name, cum))
    for name, threshold in reversed(conds):
        expr = F.when(frac < F.lit(threshold), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def kfold_split(
    df: DataFrame,
    k: int = 5,
    idcol: str = "doc_id",
    seed: int | str = 0,
    out: str = "fold",
) -> DataFrame:
    """Assign every row a deterministic cross-validation fold in
    [0, k): ``floor(hash_fraction(id, seed) * k)``. Like
    :func:`hash_split`, a row's fold depends only on (id, seed) —
    stable under re-partitioning, appends, and re-runs, so fold i's
    eval set never leaks into fold i's training set across dataset
    versions. Pure projection: no shuffle, no action.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    frac = hash_fraction(F.col(idcol), seed)
    return df.withColumn(
        out, F.least(F.floor(frac * k), F.lit(k - 1)).cast("int")
    )


def stratified_sample(
    df: DataFrame,
    fraction: float | Mapping[str, float],
    strata: str | None = None,
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff its hash
    fraction falls below the (per-stratum) rate. With a Mapping,
    ``strata`` names the column whose values select the rate (strata
    absent from the map are dropped, like pandas
    ``groupby().sample(frac=...)`` with explicit rates).

    Pure filter — zero shuffles; the predicate sits right above the
    scan so Catalyst can push the strata test into the reader.
    """
    frac = hash_fraction(F.col(idcol), seed)
    if isinstance(fraction, Mapping):
        if strata is None:
            raise ValueError("strata column required when fraction is a Mapping")
        rate = None
        for value, f in fraction.items():
            cond = F.col(strata) == F.lit(value)
            rate = F.when(cond, F.lit(float(f))) if rate is None else rate.when(cond, F.lit(float(f)))
        rate = rate.otherwise(F.lit(0.0))
    else:
        rate = F.lit(float(fraction))
    return df.filter(frac < rate)


def weighted_sample(
    df: DataFrame,
    n: int,
    weightcol: str,
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (the
    Efraimidis–Spirakis A-ES scheme): every row gets the key
    ``u ** (1/w)`` with ``u`` = :func:`hash_fraction` of (id, seed)
    and ``w`` its weight; the ``n`` largest keys are the sample, so a
    row's inclusion chance scales with its weight while the whole
    draw stays a pure function of (data, seed) — re-runs, appends and
    repartitioning cannot change who was sampled.

    Rows with null or non-positive weight are excluded (A-ES is
    undefined there). Scale shape: one projection + a distributed
    top-n (``TakeOrderedAndProject`` — each partition keeps its local
    n, the driver merges; no global sort, no full shuffle), so it
    holds at any corpus size for the small n a sampling step wants.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.col(weightcol).cast("double")
    u = hash_fraction(F.col(idcol), seed)
    key = F.pow(u, F.lit(1.0) / w)
    return (
        df.filter(w > 0)
        .withColumn("__wkey__", key)
        .filter(F.col("__wkey__").isNotNull())
        .orderBy(F.desc("__wkey__"), F.col(idcol))
        .limit(n)
        .drop("__wkey__")
    )


def interleave_sources(
    df: DataFrame,
    target_weights: Mapping[str, float],
    source_col: str = "source",
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Downsample each source so the surviving mix matches
    ``target_weights`` (in expectation), keeping as much data as the
    scarcest source allows: with per-source counts ``n_s`` and weights
    ``w_s``, the limiting scale is ``min_s(n_s / w_s)`` and each
    source keeps ``w_s * scale / n_s`` of its rows. Sources not in the
    map are dropped — and so are rows with a NULL ``source_col``
    (an unnamed source can't appear in ``target_weights``; use
    :func:`temperature_mix` when NULL sources must survive as their
    own group).

    One tiny (source, count) aggregate broadcast-joined back — the
    corpus itself is never shuffled and never leaves the executors.
    """
    if not target_weights:
        raise ValueError("target_weights must be non-empty")
    total = float(sum(target_weights.values()))
    wmap = {k: v / total for k, v in target_weights.items()}
    weight_expr = None
    for value, w in wmap.items():
        cond = F.col(source_col) == F.lit(value)
        weight_expr = (
            F.when(cond, F.lit(float(w)))
            if weight_expr is None
            else weight_expr.when(cond, F.lit(float(w)))
        )
    weight_expr = weight_expr.otherwise(F.lit(None).cast("double"))

    counts = (
        df.withColumn("__w__", weight_expr)
        .filter(F.col("__w__").isNotNull())
        .groupBy(F.col(source_col).alias("__src__"), F.col("__w__"))
        .agg(F.count(F.lit(1)).alias("__n__"))
    )
    scale = counts.agg(F.min(F.col("__n__") / F.col("__w__")).alias("__scale__"))
    rates = (
        counts.crossJoin(F.broadcast(scale))
        .select(
            "__src__",
            F.least(
                F.lit(1.0), F.col("__w__") * F.col("__scale__") / F.col("__n__")
            ).alias("__rate__"),
        )
    )
    keep = hash_fraction(F.col(idcol), seed) < F.col("__rate__")
    return (
        df.join(F.broadcast(rates), df[source_col] == F.col("__src__"), "inner")
        .filter(keep)
        .drop("__src__", "__rate__")
    )


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.5,
    source_col: str = "source",
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Temperature-based source rebalancing: downsample each source so
    surviving counts are proportional to ``n_s ** alpha`` — the
    standard LLM-corpus reweighting (multilingual/LM mixing a la
    GPT-3/PaLM data recipes) that flattens the head without starving
    the tail. ``alpha=1`` keeps the natural distribution (no rows
    dropped); ``alpha=0`` equalizes every source down to the smallest;
    between, larger sources are tempered by ``(n_min / n_s)**(1-alpha)``
    (the scaling that keeps ALL of the smallest source, so no source
    ever needs upsampling/duplication).

    Deterministic: the keep decision is :func:`hash_fraction` of
    (id, seed) against the per-source rate — bit-reproducible across
    runs, partitionings and engines. Scale shape: one tiny (source,
    count) aggregate + a one-row min, broadcast back; the corpus is
    never shuffled (same plan as :func:`interleave_sources`, which
    takes explicit target weights instead of deriving them).

    Rows with a NULL ``source_col`` are treated as their own source
    (groupBy already counts NULL as a group; the rejoin is null-safe)
    — so ``alpha=1`` really does keep every row, NULL sources included.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    counts = df.groupBy(F.col(source_col).alias("__src__")).agg(
        F.count(F.lit(1)).alias("__n__")
    )
    nmin = counts.agg(F.min("__n__").alias("__nmin__"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "__src__",
        F.pow(F.col("__nmin__") / F.col("__n__"), F.lit(1.0 - alpha)).alias(
            "__rate__"
        ),
    )
    keep = hash_fraction(F.col(idcol), seed) < F.col("__rate__")
    return (
        df.join(
            F.broadcast(rates),
            df[source_col].eqNullSafe(F.col("__src__")),
            "inner",
        )
        .filter(keep)
        .drop("__src__", "__rate__")
    )


def repeat_sources(
    df: DataFrame,
    factors: dict[str, float],
    source_col: str = "source",
    idcol: str = "doc_id",
    seed: int | str = 0,
    epoch_col: str = "epoch",
) -> DataFrame:
    """Epoch-style source repetition: each source's rows appear
    ``factor`` times — the UPSAMPLING side of data mixing
    (Llama/DoReMi-style "epochs per source") that
    :func:`temperature_mix`'s keep-rates cannot express. Integer part
    = whole copies; fractional part = a deterministic
    :func:`hash_fraction` subsample gets one extra copy. So 2.5 means
    every row twice and a reproducible half of rows a third time;
    0.25 is a plain 25% subsample; 0 drops the source. Sources absent
    from ``factors`` default to 1.0 (pass-through).

    ``epoch_col`` (0-based copy index) is appended so downstream
    packing/shuffling can interleave copies instead of clumping them,
    and so a copy-aware tokenizer can vary masking per epoch.

    Scale shape: map-only — a broadcast (source -> factor) join and
    one ``explode(sequence(0, n_copies-1))``; no shuffle, no driver
    action. The explode genuinely materializes rows: that is the
    contract (training pipelines want real rows to shuffle/pack);
    if storage-level dedup matters, repeat at the READER by listing
    files multiple times instead.
    """
    for s, f in factors.items():
        if f < 0:
            raise ValueError(f"factor for {s!r} must be >= 0, got {f}")
    spark = df.sparkSession
    fdf = spark.createDataFrame(
        [(k, float(v)) for k, v in factors.items()], ["__src__", "__f__"]
    )
    withf = df.join(
        F.broadcast(fdf), df[source_col].eqNullSafe(F.col("__src__")), "left"
    ).withColumn("__f__", F.coalesce("__f__", F.lit(1.0)))
    base = F.floor("__f__").cast("int")
    extra = (
        hash_fraction(F.col(idcol), seed) < (F.col("__f__") - F.floor("__f__"))
    ).cast("int")
    n_copies = base + extra
    return (
        withf.withColumn(
            epoch_col,
            F.explode(
                F.when(
                    n_copies > 0, F.sequence(F.lit(0), n_copies - F.lit(1))
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .drop("__src__", "__f__")
    )


def filter_top_fraction(
    df: DataFrame,
    score_col: str,
    frac: float,
    by: str | Sequence[str] | None = None,
    idcol: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Keep the top ``frac`` of rows by ``score_col`` — per ``by``
    group when given, globally otherwise. The quality-classifier
    selection step of a curation pipeline ("keep the best 20% per
    source by model score"), made exact and deterministic: rows rank
    by (score, id) so ties break reproducibly, and each group keeps
    ``ceil(frac * group_size)`` rows — a group with any rows always
    keeps at least one (the standard top-q%% contract; ``frac=0``
    keeps nothing).

    One shuffle on the group keys (or one global sort partition when
    ``by`` is None — avoid the global form at 100 TB exactly like
    ``take_token_budget``; rank per source/shard instead).
    """
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0, 1], got {frac}")
    byvars = to_list(by) if by is not None else []
    order = [
        F.col(score_col).asc() if ascending else F.col(score_col).desc(),
        F.col(idcol).asc(),
    ]
    w = Window.partitionBy(*byvars).orderBy(*order)
    wc = Window.partitionBy(*byvars)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .withColumn("__n__", F.count(F.lit(1)).over(wc))
        .filter(F.col("__rn__") <= F.ceil(F.col("__n__") * F.lit(float(frac))))
        .drop("__rn__", "__n__")
    )


def sample_n_per_group(
    df: DataFrame,
    n: int,
    by: str | Sequence[str],
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Exactly ``min(n, group size)`` rows per group, chosen by hash
    order (deterministic; changing ``seed`` rotates the selection).
    The per-group balancing primitive for building evaluation sets and
    balanced fine-tuning mixes.

    One shuffle on the group keys; the window keeps ``n`` rows per
    group past the filter.
    """
    if n <= 0:
        raise ValueError(f"n must be positive: {n}")
    byvars = [by] if isinstance(by, str) else list(by)
    w = Window.partitionBy(*byvars).orderBy(
        hash_fraction(F.col(idcol), seed), F.col(idcol)
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


def ngram_hashes(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    n: int = 13,
    out: str = "ngram_hash",
) -> DataFrame:
    """(idcol, md5-of-each-distinct-word-n-gram) exploded — the
    standard unit of benchmark decontamination (n=13 word-grams per
    GPT-3/The Pile methodology). Documents shorter than ``n`` words
    hash their whole normalized text, so short benchmark items still
    match verbatim copies."""
    grams = materialize(shingle_sets(df, textcol, idcol, n, out="__grams__"))
    return grams.select(
        F.col(idcol), F.explode(F.col("__grams__")).alias("__g__")
    ).select(F.col(idcol), F.md5(F.col("__g__")).alias(out))


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    benchmark_textcol: str | None = None,
    n: int = 13,
    mode: str = "remove",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Remove (or flag, ``mode='flag'``) training documents that share
    any word ``n``-gram with an evaluation benchmark — the standard
    guard against test-set leakage into pretraining data.

    Scale shape: the benchmark n-gram set is normally tiny relative to
    the corpus, so it is broadcast and the corpus n-gram explosion is
    scanned map-side against it; only the matching doc ids (another
    tiny set) are aggregated and broadcast back for the anti/flag
    join — the corpus is never shuffled. For a benchmark too large to
    broadcast (a full eval-suite union beyond executor memory), pass
    ``broadcast_benchmark=False`` to let the gram match run as a
    shuffled hash join on the gram hash instead.
    """
    if mode not in ("remove", "flag"):
        raise ValueError(f"mode must be 'remove' or 'flag': {mode!r}")
    btext = benchmark_textcol or textcol
    bnorm = _norm(F.col(btext))
    bench_grams = (
        benchmark.select(bnorm.alias("__norm__"), _tokens(bnorm).alias("__toks__"))
        .select(
            F.explode(
                _shingles_from_toks(F.col("__norm__"), F.col("__toks__"), n)
            ).alias("__g__")
        )
        .select(F.md5(F.col("__g__")).alias("__bh__"))
        .distinct()
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    corpus_grams = ngram_hashes(df, textcol=textcol, idcol=idcol, n=n, out="__ch__")
    contaminated = (
        corpus_grams.join(bench_grams, F.col("__ch__") == F.col("__bh__"), "inner")
        .select(idcol)
        .distinct()
    )
    if mode == "flag":
        contaminated = contaminated.withColumn("__hit__", F.lit(True))
    if broadcast_benchmark:
        # contaminated ids are a subset of matched docs — same size
        # class as the broadcastable benchmark; otherwise leave the
        # join strategy to AQE (the set can be arbitrarily large)
        contaminated = F.broadcast(contaminated)
    if mode == "remove":
        return df.join(contaminated, on=idcol, how="left_anti")
    return (
        df.join(contaminated, on=idcol, how="left")
        .withColumn("contaminated", F.coalesce(F.col("__hit__"), F.lit(False)))
        .drop("__hit__")
    )


def contamination_report(
    df: DataFrame,
    benchmark: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    benchmark_textcol: str | None = None,
    benchmark_idcol: str | None = None,
    n: int = 13,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Contamination MEASUREMENT (the audit twin of
    :func:`decontaminate`, which removes): for each benchmark item,
    how much of it leaks into the training corpus — ``n_grams`` (its
    distinct word n-grams), ``n_matched`` (how many appear anywhere in
    the corpus), ``match_frac``, and ``n_corpus_docs`` (distinct
    corpus documents sharing at least one gram). This is what an eval
    team reports per benchmark before trusting scores; filtering alone
    hides HOW contaminated each item was.

    Same scale shape as decontaminate with the aggregation flipped to
    the benchmark side: benchmark grams broadcast, corpus grams
    scanned map-side, per-item stats aggregated over the (tiny) match
    set — the corpus is never shuffled.
    """
    btext = benchmark_textcol or textcol
    bid = benchmark_idcol or idcol
    bgrams = ngram_hashes(benchmark, btext, bid, n, out="__bh__").select(
        F.col(bid).alias("__bid__"), "__bh__"
    )
    totals = bgrams.groupBy("__bid__").agg(F.count(F.lit(1)).alias("n_grams"))
    cg = ngram_hashes(df, textcol, idcol, n, out="__ch__")
    b = F.broadcast(bgrams) if broadcast_benchmark else bgrams
    hits = (
        cg.join(b, cg["__ch__"] == b["__bh__"])
        .groupBy("__bid__")
        .agg(
            F.countDistinct("__bh__").alias("n_matched"),
            F.countDistinct(idcol).alias("n_corpus_docs"),
        )
    )
    return totals.join(hits, "__bid__", "left").select(
        F.col("__bid__").alias(bid),
        F.col("n_grams"),
        F.coalesce(F.col("n_matched"), F.lit(0)).alias("n_matched"),
        (F.coalesce(F.col("n_matched"), F.lit(0)) / F.col("n_grams")).alias(
            "match_frac"
        ),
        F.coalesce(F.col("n_corpus_docs"), F.lit(0)).alias("n_corpus_docs"),
    )


def length_buckets(
    df: DataFrame,
    n_buckets: int = 8,
    textcol: str = "text",
    idcol: str = "doc_id",
    out: str = "bucket",
) -> DataFrame:
    """Assign each document to one of ``n_buckets`` equal-count length
    buckets (1-based, shortest first) by whitespace token count with a
    deterministic (n_tokens, id) total order — the length-bucketed
    batching assignment that cuts padding waste for fixed-shape
    training batches. ``ntile`` semantics are identical across
    engines, so the assignment is oracle-checkable.

    Scale note: ntile is a GLOBAL window (single-partition sort) —
    exact equal-count buckets are inherently a total order. For 100 TB
    use the percentile variant instead: compute ``n_buckets`` quantile
    cutoffs of ``n_tokens`` (one tiny aggregate) and bucket by range —
    same buckets up to quantile ties, no global sort. This operator is
    the exact-contract twin used for harness checking and
    moderate-size corpora.
    """
    from pyspark.sql import Window

    from pd_utils_spark.extensions.text import _token_count

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    toks = df.select(
        F.col(idcol), _token_count(F.col(textcol)).alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", idcol)
    return toks.withColumn(out, F.ntile(n_buckets).over(w))


def padding_efficiency(
    df: DataFrame,
    n_buckets: int = 8,
    textcol: str = "text",
    idcol: str = "doc_id",
    max_seq_len: int | None = None,
) -> DataFrame:
    """Per-bucket padding-waste report for length-bucketed batching:
    bucket docs with :func:`length_buckets`, then for each bucket
    report ``n_docs``, ``max_len`` (the bucket's padded width, capped
    at ``max_seq_len`` when given — longer docs truncate),
    ``total_tokens``, ``padded_tokens = n_docs * max_len`` and
    ``efficiency = total_tokens / padded_tokens``. The "why bucket"
    diagnostic: unbucketed batching pads every doc to the global max
    (the n_buckets=1 row); splitting by length shows exactly how much
    compute each extra bucket recovers.

    One aggregation over the bucket assignment — the global-sort
    caveat of :func:`length_buckets` applies (and its quantile-range
    remedy at extreme scale).
    """
    b = length_buckets(df, n_buckets, textcol, idcol)
    tok = F.col("n_tokens")
    if max_seq_len is not None:
        tok = F.least(tok, F.lit(max_seq_len))
    return (
        b.select("bucket", tok.alias("__t__"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("__t__").alias("max_len"),
            F.sum("__t__").alias("total_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "max_len",
            "total_tokens",
            (F.col("n_docs") * F.col("max_len")).alias("padded_tokens"),
            F.round(
                F.col("total_tokens")
                / (F.col("n_docs") * F.col("max_len")),
                6,
            ).alias("efficiency"),
        )
        .orderBy("bucket")
    )


def pack_chunks(
    df: DataFrame,
    token_col: str = "n_tokens",
    budget: int = 2048,
    idcol: str = "doc_id",
    buckets: int = 64,
    out: str = "chunk_id",
) -> DataFrame:
    """GPT-style sequence packing index: documents are laid out in a
    deterministic hash order and cut into chunks of ``budget`` tokens;
    each doc gets the chunk its FIRST token lands in
    (``floor(exclusive-cumsum / budget)``). Downstream, a writer
    groups by (bucket, chunk_id) to emit fixed-token-budget training
    sequences.

    A single global order would funnel the whole corpus through one
    window partition, so docs are first sprayed into ``buckets``
    deterministic hash-buckets and packed within each — chunk ids are
    (bucket, local chunk), parallelism is ``buckets``, and the result
    is still a pure function of the data. At 100 TB set ``buckets`` to
    a few × total cores.
    """
    if budget <= 0 or buckets <= 0:
        raise ValueError(f"budget and buckets must be positive: {budget}, {buckets}")
    bucket = (_hash31(F.col(idcol).cast("string")) % F.lit(buckets)).alias("bucket")
    w = Window.partitionBy("bucket").orderBy(
        hash_fraction(F.col(idcol), "pack"), F.col(idcol)
    )
    cum_before = F.coalesce(
        F.sum(F.col(token_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return df.withColumn("bucket", bucket).withColumn(
        out, F.floor(cum_before / F.lit(budget))
    )


def pack_sequences(
    df: DataFrame,
    textcol: str = "text",
    token_col: str = "n_tokens",
    budget: int = 2048,
    idcol: str = "doc_id",
    buckets: int = 64,
    sep: str = "\n",
) -> DataFrame:
    """Materialize the ``pack_chunks`` layout into actual training
    sequences: one row per (bucket, chunk_id) with the member docs'
    text concatenated in layout order, plus doc and token counts.
    Chunks overshoot ``budget`` by at most one straddling document —
    the downstream tokenizer cuts at exact token boundaries; this
    operator's job is the deterministic grouping.

    One extra shuffle over ``pack_chunks`` (the groupBy on chunk
    keys); the in-chunk order is reconstructed engine-portably by
    sorting (hash-fraction, id) structs, never by relying on collected
    row order.
    """
    packed = pack_chunks(
        df, token_col=token_col, budget=budget, idcol=idcol, buckets=buckets
    )
    frac = hash_fraction(F.col(idcol), "pack")
    # null text -> empty segment (concat_ws would silently DROP the
    # member, desynchronizing seq_text from n_docs/total_tokens)
    member = F.struct(
        frac.alias("__f__"),
        F.col(idcol).alias("__i__"),
        F.coalesce(F.col(textcol), F.lit("")).alias("__t__"),
    )
    return (
        packed.groupBy("bucket", "chunk_id")
        .agg(
            F.array_sort(F.collect_list(member)).alias("__m__"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(token_col).cast("bigint")).alias("total_tokens"),
        )
        .select(
            "bucket",
            "chunk_id",
            F.concat_ws(sep, F.transform(F.col("__m__"), lambda m: m["__t__"])).alias(
                "seq_text"
            ),
            "n_docs",
            "total_tokens",
        )
    )

def take_token_budget(
    df: DataFrame,
    budget: int,
    textcol: str = "text",
    byvars: str | None = None,
    idcol: str = "doc_id",
    seed: int | str = 0,
) -> DataFrame:
    """Select a deterministic ~``budget``-token slice of the corpus
    (optionally per ``byvars`` group, e.g. a per-source budget): docs
    are laid out in md5-hash order (an unbiased deterministic shuffle)
    and taken until the running whitespace-token total reaches the
    budget. A doc is kept iff the token count BEFORE it is under
    budget, so the cut lands one doc past the line (standard "fill to
    budget" semantics — the slice always reaches >= budget when the
    group has enough tokens).

    This is the "sample 100B tokens with this mixture" primitive of a
    pretraining data build. One window pass: hash order is computed
    row-locally, the running sum is a single sort-based window per
    group — shuffle keyed on ``byvars`` (or a single global ordering
    when ``byvars`` is None, which at 100 TB you should avoid in
    favor of per-source budgets).
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0: {budget}")
    from pd_utils_spark.extensions.text import _token_count

    order = hash_fraction(F.col(idcol), seed)
    w = Window.partitionBy(*(to_list(byvars) if byvars else []))
    w = w.orderBy(order.asc(), F.col(idcol).asc())
    running_before = F.sum(_token_count(F.col(textcol))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("__before__", F.coalesce(running_before, F.lit(0)))
        .filter(F.col("__before__") < budget)
        .drop("__before__")
    )



def skyline_2d(
    df: DataFrame,
    xcol: str,
    ycol: str,
    maximize: tuple[bool, bool] = (True, True),
) -> DataFrame:
    """Two-criteria Pareto frontier (skyline): the rows no other row
    dominates — where "dominates" means at least as good on both
    criteria and strictly better on one. Multi-objective data
    selection without a hand-tuned scalarization: quality vs length,
    informativeness vs toxicity, score vs cost. ``maximize`` flips
    each criterion (False = smaller is better). Rows with a null
    criterion are excluded (null is not comparable). Exact duplicates
    on (x, y) don't dominate each other — all copies survive.

    Plan — no all-pairs join: (1) per-distinct-x max of y (one
    partial-agg shuffle, output = |distinct x| rows), (2) a running
    best-y-over-strictly-better-x window over that DISTINCT-X frame,
    (3) one equi join back on x. A point survives iff it has its
    x-group's best y AND beats every better-x group's best. The only
    non-distributed step is the window over distinct x values —
    |distinct x| rows, not |rows|; if even that is huge, bucket x
    first. Dominance is checked in the ORIGINAL column values; the
    direction flip happens only inside the comparison expressions.
    """
    mx, my = maximize
    x = F.col(xcol) if mx else -F.col(xcol)
    y = F.col(ycol) if my else -F.col(ycol)
    base = df.filter(F.col(xcol).isNotNull() & F.col(ycol).isNotNull())
    gx = (
        base.groupBy(xcol)
        .agg(F.max(y).alias("__gy__"))
    )
    w = (
        Window.orderBy(F.desc(xcol) if mx else F.asc(xcol))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        gx.withColumn("__best_above__", F.max("__gy__").over(w))
        .filter(
            F.col("__best_above__").isNull()
            | (F.col("__gy__") > F.col("__best_above__"))
        )
        .select(xcol, "__gy__")
    )
    return (
        base.withColumn("__ysigned__", y)
        .join(F.broadcast(frontier), xcol, "inner")
        .filter(F.col("__ysigned__") == F.col("__gy__"))
        .drop("__gy__", "__ysigned__")
    )


def purged_kfold_split(
    df: DataFrame,
    tscol: str = "ts",
    n_folds: int = 5,
    embargo_seconds: float = 0.0,
    horizon_seconds: float = 0.0,
    fold_out: str = "fold",
    role_out: str = "role",
    test_fold_out: str = "test_fold",
) -> DataFrame:
    """Purged k-fold cross-validation splits for TIME-SERIES ML
    (López de Prado, *Advances in Financial Machine Learning* ch. 7):
    contiguous equal-count time folds, and for every test fold each
    row is labeled ``test`` / ``train`` / ``purged`` / ``embargo``,
    where

    - ``purged``: a training row whose label window
      ``[ts, ts + horizon_seconds]`` overlaps the test fold's time
      span — its label peeks into test time (the leakage plain
      random k-fold silently allows);
    - ``embargo``: a training row inside ``embargo_seconds`` AFTER
      the test span — serial correlation guard on the far edge.

    Output is LONG format: every input row appears once per test fold
    (``test_fold_out`` in [0, n_folds)) with its ``fold_out``
    assignment and ``role_out`` — n_folds-times amplification,
    deliberate and documented (n_folds is small; the long format is
    directly groupable into per-fold train/test frames with one
    filter, no per-fold job).

    Scale shape: fold assignment is EXACT equal-count by time rank —
    per-distinct-timestamp counts, a distributed exclusive prefix sum
    (``plans/prefix.py``) for the strictly-earlier rank, fold =
    floor(rank * n_folds / N) joined back on the timestamp (tied
    timestamps land in the same fold by construction). Fold spans are
    an n_folds-row broadcast; roles are pure column arithmetic against
    it. No total-order window, no driver action.
    """
    if n_folds < 2:
        raise ValueError(f"n_folds must be >= 2: {n_folds}")
    if embargo_seconds < 0 or horizon_seconds < 0:
        raise ValueError("embargo_seconds/horizon_seconds must be >= 0")
    from pd_utils_spark.extensions.events import _epoch_us
    from pd_utils_spark.plans.prefix import prefix_sum

    t = _epoch_us(F.col(tscol))
    base = df.filter(F.col(tscol).isNotNull()).withColumn("__t__", t)
    counts = base.groupBy("__t__").agg(F.count(F.lit(1)).alias("__c__"))
    ranked = prefix_sum(counts, "__t__", "__c__", inclusive=False)
    total = counts.agg(F.sum("__c__").alias("__n__"))
    fold_of_ts = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            "__t__",
            F.least(
                F.floor(
                    F.col("__c___cum") * F.lit(n_folds) / F.col("__n__")
                ),
                F.lit(n_folds - 1),
            ).cast("int").alias(fold_out),
        )
    )
    assigned = base.join(fold_of_ts, "__t__")
    spans = F.broadcast(
        assigned.groupBy(F.col(fold_out).alias(test_fold_out)).agg(
            F.min("__t__").alias("__s__"), F.max("__t__").alias("__e__")
        )
    )
    emb = int(embargo_seconds * 1_000_000)
    hor = int(horizon_seconds * 1_000_000)
    is_test = F.col(fold_out) == F.col(test_fold_out)
    overlaps = (F.col("__t__") <= F.col("__e__")) & (
        F.col("__t__") + F.lit(hor) >= F.col("__s__")
    )
    in_embargo = (F.col("__t__") > F.col("__e__")) & (
        F.col("__t__") <= F.col("__e__") + F.lit(emb)
    )
    role = (
        F.when(is_test, F.lit("test"))
        .when(overlaps, F.lit("purged"))
        .when(in_embargo, F.lit("embargo"))
        .otherwise(F.lit("train"))
    )
    return (
        assigned.crossJoin(spans)
        .withColumn(role_out, role)
        .drop("__t__", "__s__", "__e__")
    )


def walk_forward_splits(
    df: DataFrame,
    tscol: str = "ts",
    n_splits: int = 4,
    split_out: str = "split",
    fold_out: str = "fold",
    role_out: str = "role",
) -> DataFrame:
    """Walk-forward (expanding-window) backtest splits: time divides
    into ``n_splits + 1`` exact equal-count blocks; split ``s``
    (1..n_splits) trains on every block before ``s`` and tests on
    block ``s`` — the standard deployment-faithful evaluation for
    time-ordered data (each model only ever sees its past). Blocks
    after the test are labeled ``future`` (excluded from both sides).

    Long-format output like :func:`purged_kfold_split`: every row
    appears once per split with ``fold_out`` (its time block),
    ``split_out`` and ``role_out`` in {train, test, future}. Block
    assignment is the exact equal-count time rank via the distributed
    prefix scan (tied timestamps share a block); the split dimension
    is an ``n_splits``-row broadcast.
    """
    if n_splits < 1:
        raise ValueError(f"n_splits must be >= 1: {n_splits}")
    from pd_utils_spark.extensions.events import _epoch_us
    from pd_utils_spark.plans.prefix import exact_ntile

    base = df.filter(F.col(tscol).isNotNull()).withColumn(
        "__t__", _epoch_us(F.col(tscol))
    )
    assigned = exact_ntile(base, "__t__", n_splits + 1, out=fold_out)
    spark = df.sparkSession
    splits = F.broadcast(
        spark.range(1, n_splits + 1).select(
            F.col("id").cast("int").alias(split_out)
        )
    )
    role = (
        F.when(F.col(fold_out) == F.col(split_out), F.lit("test"))
        .when(F.col(fold_out) < F.col(split_out), F.lit("train"))
        .otherwise(F.lit("future"))
    )
    return (
        assigned.crossJoin(splits).withColumn(role_out, role).drop("__t__")
    )


def gini_concentration(
    df: DataFrame,
    valuecol: str,
) -> DataFrame:
    """Gini coefficient of how a non-negative quantity concentrates
    across rows (documents per domain, tokens per source, events per
    user, revenue per customer): one row ``(n, total, gini)`` with
    the exact tie-robust formula
    ``G = (2 * sum_i i * x_(i)) / (n * sum x) - (n + 1) / n``
    evaluated on per-distinct-value counts — a tie group of c rows at
    value v and inclusive cumulative count R contributes
    ``v * c * (2R - c + 1) / 2`` to the rank-weighted sum, so no
    per-row global sort is ever materialized. 0 = perfectly even,
    ->1 = a single row holds everything.

    The standard corpus-audit companion to dedup/mixing: a source mix
    whose token mass has G ~ 0.95 is one domain wearing ten names.
    Scale shape: per-value count agg + one distributed prefix scan +
    a one-row aggregate; shuffle is O(distinct values)."""
    from pd_utils_spark.plans.prefix import prefix_sum

    v = F.col(valuecol).cast("double")
    counts = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v__"))
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    cum = prefix_sum(counts, "__v__", "__c__", inclusive=True)
    parts = cum.select(
        "__v__", "__c__",
        (
            F.col("__v__")
            * F.col("__c__").cast("double")
            * (
                2.0 * F.col("__c___cum").cast("double")
                - F.col("__c__").cast("double")
                + 1.0
            )
            / 2.0
        ).alias("__rw__"),
    )
    agg = parts.agg(
        F.sum(F.col("__c__")).alias("n"),
        F.sum(F.col("__v__") * F.col("__c__").cast("double")).alias("total"),
        F.sum("__rw__").alias("__rwsum__"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        "n", "total",
        (
            2.0 * F.col("__rwsum__") / (n * F.col("total"))
            - (n + 1.0) / n
        ).alias("gini"),
    )


def rfm_segments(
    df: DataFrame,
    usercol: str = "user_id",
    tscol: str = "ts",
    valuecol: str = "value",
    n_bins: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation:
    per user, ``recency_seconds`` (time from the user's last event to
    the corpus max), ``frequency`` (event count), ``monetary`` (value
    sum), each scored into ``n_bins`` exact equal-count bins via
    :func:`pd_utils_spark.plans.prefix.exact_ntile` — bin ``n_bins-1``
    is best (most recent / most frequent / highest spend), and tied
    metric values always share a bin, so the segmentation is
    deterministic under re-partitioning.

    Returns one row per user with the three raw metrics, the three
    scores, and ``segment`` = "R-F-M" string. The corpus max
    timestamp rides the plan as a one-row broadcast (no driver
    action). Three prefix scans over per-distinct-metric counts —
    shuffle O(distinct metric values), never a total-order window.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2: {n_bins}")
    from pd_utils_spark.extensions.events import _epoch_us
    from pd_utils_spark.plans.prefix import exact_ntile

    t = _epoch_us(F.col(tscol))
    base = df.filter(F.col(tscol).isNotNull() & F.col(usercol).isNotNull())
    per_user = base.groupBy(F.col(usercol).alias("user")).agg(
        F.max(t).alias("__last__"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col(valuecol)).alias("monetary"),
    )
    now = base.agg(F.max(t).alias("__now__"))
    pu = per_user.crossJoin(F.broadcast(now)).withColumn(
        "recency_seconds",
        (F.col("__now__") - F.col("__last__")).cast("double") / 1e6,
    )
    # LOWER recency is better: score on the negated value so bin
    # n_bins-1 is always "best" across all three dimensions
    pu = pu.withColumn("__negr__", -F.col("recency_seconds"))
    pu = exact_ntile(pu, "__negr__", n_bins, out="r_score")
    pu = exact_ntile(pu, "frequency", n_bins, out="f_score")
    pu = exact_ntile(pu, "monetary", n_bins, out="m_score")
    return pu.select(
        F.col("user").alias(usercol),
        "recency_seconds", "frequency", "monetary",
        "r_score", "f_score", "m_score",
        F.concat_ws(
            "-", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment"),
    )


def mix_diversity(
    df: DataFrame,
    groupcol: str = "source",
    weightcol: str | None = None,
) -> DataFrame:
    """Diversity metrics of a corpus mix over ``groupcol`` (sources,
    domains, languages): one row with ``n_groups``, ``total``,
    ``entropy`` (Shannon, nats), ``effective_groups`` (exp(H) — the
    "how many equally-sized sources is this really" number),
    ``hhi`` (Herfindahl–Hirschman sum of squared shares, 1/n..1), and
    ``top_share`` (largest single share). The one-line answer to
    "is this 100-source mix actually three sources in a trench coat"
    — pairs with :func:`gini_concentration` (mass inequality) and
    `source_kl_drift` (distribution movement).

    ``weightcol`` weights rows (token counts, bytes); default is row
    count. One partial-agg shuffle to O(groups) rows, then a one-row
    aggregate. Null groups are excluded."""
    g = F.col(groupcol)
    w = F.col(weightcol) if weightcol else F.lit(1)
    per = (
        df.filter(g.isNotNull())
        .groupBy(g.alias("__g__"))
        .agg(F.sum(w).cast("double").alias("__w__"))
        .filter(F.col("__w__") > 0)
    )
    tot = per.agg(F.sum("__w__").alias("__t__"))
    share = F.col("__w__") / F.col("__t__")
    agg = per.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.first("__t__").alias("total"),
        (-F.sum(share * F.log(share))).alias("entropy"),
        F.sum(share * share).alias("hhi"),
        F.max(share).alias("top_share"),
    )
    return agg.select(
        "n_groups", "total", "entropy",
        F.exp(F.col("entropy")).alias("effective_groups"),
        "hhi", "top_share",
    )


def negative_pairs(
    df: DataFrame,
    idcol: str = "doc_id",
    k: int = 4,
    seed: int | str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor row, ``k`` pseudo-random partner ids drawn uniformly
    from the OTHER ids in the frame — ``(anchor, neg_rank, partner)``
    with ``neg_rank`` in [0, k). The draw is md5-keyed on
    ``(anchor, neg_rank, seed)`` through the shared engine-portable
    hash base, so the pairs are reproducible across runs,
    partitionings, and engines — the property that makes a training
    set auditable (never ``rand()``). A draw that lands on the anchor
    itself is dropped rather than redrawn (self-pairs carry no
    signal; expect ~k - k/N pairs per anchor), keeping the whole
    construction join-shaped with no iteration.

    Scale shape: a dense [0, N) index over the distinct ids comes
    from the distributed prefix scan (:func:`pd_utils_spark.plans.
    prefix.prefix_sum` — never a single-task global window); each
    anchor explodes to ``k`` hashed slot numbers, and one equi-join
    on the slot maps them to partner ids. Two O(rows * k) shuffles,
    nothing collected, no RNG state.
    """
    from pd_utils_spark.plans.prefix import prefix_sum

    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    ids = df.select(F.col(idcol)).filter(F.col(idcol).isNotNull()).distinct()
    indexed = prefix_sum(
        ids.withColumn("__one__", F.lit(1)),
        idcol,
        "__one__",
        inclusive=False,
    ).select(
        F.col(idcol).alias("__pid2__"),
        F.col("__one___cum").cast("bigint").alias("__slot__"),
    )
    n_ids = indexed.groupBy().agg(F.count(F.lit(1)).alias("__n__"))
    anchors = (
        ids.crossJoin(F.broadcast(n_ids))
        .select(
            F.col(idcol),
            F.col("__n__"),
            F.explode(
                F.sequence(F.lit(0), F.lit(k - 1))
            ).alias("neg_rank"),
        )
    )
    slot = _hash31(
        F.concat(
            F.col(idcol).cast("string"),
            F.lit(":"),
            F.col("neg_rank").cast("string"),
            F.lit(f":{seed}"),
        )
    ) % F.col("__n__")
    drawn = anchors.select(
        F.col(idcol).alias("anchor"), "neg_rank", slot.alias("__slot__")
    )
    return (
        drawn.join(indexed, "__slot__")
        .filter(F.col("anchor") != F.col("__pid2__"))
        .select("anchor", "neg_rank", F.col("__pid2__").alias("partner"))
    )
