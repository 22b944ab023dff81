"""Deduplication operators for large-scale training-data pipelines:
exact (hash-groupBy), MinHash+LSH near-dup, n-gram Jaccard
verification, and SimHash — all beyond the reference surface
(nickderobertis/pd-utils has no dedup operators).

Scale design (the 100 TB posture):

- Exact dedup shuffles once on the content fingerprint — the minimum
  possible; fingerprints are effectively unique keys so there is no
  skew.
- MinHash signatures are computed per-row with array expressions
  (``array_min`` over ``transform``) — NO explode, NO shuffle, one
  codegen stage over the scan.
- LSH banding shuffles once on (band index, band key); only docs that
  collide in a band ever meet, so the join output is ~linear in the
  number of true near-dup clusters rather than quadratic in corpus
  size. Giant buckets (pathological boilerplate) can be capped via
  ``max_bucket`` to bound worst-case join fan-out.
- Jaccard verification joins shingle sets only for candidate pairs.

Determinism contract: every hash is md5 over an explicit string, so
signatures, band keys, and survivors are bit-identical across engines
(Spark, DuckDB, Presto...) — no engine-private hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pd_utils_spark.extensions.text import _tokens
from pd_utils_spark.utils import materialize, quote, reliable_checkpoints


def _norm(textcol: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(textcol), r"\s+", " "))


_MERSENNE_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, c_i) universal-hash constants in
    [1, 2^31) / [0, 2^31), derived from md5 so any engine can
    reproduce them."""
    import hashlib

    out = []
    for i in range(num_hashes):
        h = hashlib.md5(f"minhash:{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % (_MERSENNE_P - 1)) + 1
        c = int(h[8:16], 16) % _MERSENNE_P
        out.append((a, c))
    return out


def _shingle_set(textcol: Column, k: int) -> Column:
    """Distinct k-word shingles of the normalized text; documents
    shorter than k words contribute their whole normalized text as a
    single shingle (so every non-empty doc has a non-empty set).

    NOTE: as a standalone Column the tokenizer sub-expression gets
    re-inlined into every element of the ``transform`` lambda
    (Catalyst does no common-subexpression elimination inside
    higher-order-function bodies), costing O(words) normalizations
    per row. Frame-level call sites should use ``shingle_sets``,
    which materializes the token array in a separate projection
    first — measured 7.5x faster at sf0.1."""
    toks = _tokens(_norm(textcol))
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    shingles = F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array(_norm(textcol)))
    return F.array_distinct(shingles)


def _shingles_from_toks(norm_col: Column, toks: Column, k: int) -> Column:
    """Shingle array from an already-materialized token array column
    (bound attribute, NOT an inline expression — see _shingle_set)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - F.lit(k - 1))
    shingles = F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    ).otherwise(F.array(norm_col))
    return F.array_distinct(shingles)


def shingle_sets(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    out: str = "shingles",
) -> DataFrame:
    """(idcol, shingles) — the distinct k-word shingle sets of each
    document, materializable once and shared between MinHash signature
    and Jaccard verification stages (shingle construction is the
    dominant cost of the LSH pipeline — computing it twice doubles the
    scan work).

    Two-projection plan: normalize+tokenize lands in its own Project
    so the ``transform`` lambda slices a BOUND token array instead of
    re-running the tokenizer per shingle (CollapseProject keeps the
    split because it is expensive and multiply-referenced). Measured
    at sf0.1: 7.3s -> 0.97s single-task for the same 260k shingles.

    Both projections are built from SQL text (``selectExpr``), the
    same expressions as :func:`_norm` / :func:`_shingles_from_toks`:
    one py4j round trip per projection instead of one per ``Column``
    node — the micro-batch gates build this plan every trigger."""
    idq = quote(idcol)
    norm = rf"trim(regexp_replace(lower({quote(textcol)}), '\\s+', ' '))"
    toked = df.selectExpr(
        idq, f"{norm} AS __norm__", rf"split(trim({norm}), '\\s+') AS __toks__"
    )
    return toked.selectExpr(
        idq,
        f"array_distinct(CASE WHEN size(__toks__) >= {k} THEN transform("
        f"sequence(1, size(__toks__) - {k - 1}), __i -> concat_ws(' ', "
        f"slice(__toks__, __i, {k}))) ELSE array(__norm__) END) AS {quote(out)}",
    )


def exact_dedup(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """Exact deduplication: among rows with identical (optionally
    whitespace/case-normalized) text, keep the row with the smallest
    ``idcol``. One shuffle on the md5 fingerprint.

    The min-id survivor rule (rather than "first") makes the result a
    pure function of the data — required for reproducible pipelines
    and for oracle checking.

    A BINARY ``textcol`` (image/audio payloads from the multimodal
    surface) fingerprints the raw bytes directly — ``normalize`` does
    not apply to bytes.
    """
    t = F.col(textcol)
    if dict(df.dtypes).get(textcol) == "binary":
        fp = F.md5(t)
    else:
        fp = F.md5((_norm(t) if normalize else t).cast("string"))
    from pyspark.sql import Window

    w = Window.partitionBy(fp).orderBy(F.col(idcol))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def exact_dedup_against(
    df: DataFrame,
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    history_textcol: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Incremental-ingestion dedup: drop rows of ``df`` whose
    (normalized) content fingerprint already exists in ``history`` —
    the batch-over-batch complement of ``exact_dedup`` (which dedups
    WITHIN a frame). New batches are usually small next to the
    historical corpus, so the HISTORY side stays un-collected: one
    fingerprint projection per side and a left-anti hash join on the
    fingerprint; at 100 TB persist the history fingerprints as a
    bucketed table (``plans.skew.write_bucketed``) and the join runs
    with zero additional Exchange on the history side.
    """
    htext = history_textcol or textcol

    def fp(col: Column) -> Column:
        return F.md5((_norm(col) if normalize else col).cast("string"))

    hist = history.select(fp(F.col(htext)).alias("__fp__")).distinct()
    return (
        df.withColumn("__fp__", fp(F.col(textcol)))
        .join(hist, on="__fp__", how="left_anti")
        .drop("__fp__")
    )


def _bloom_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, c_i) universal-hash constants for the k
    Bloom positions, md5-derived under the ``bloom:`` namespace so
    they never collide with the minhash family and any engine can
    reproduce them."""
    import hashlib

    out = []
    for i in range(k):
        h = hashlib.md5(f"bloom:{i}".encode()).hexdigest()
        a = (int(h[:8], 16) % (_MERSENNE_P - 1)) + 1
        c = int(h[8:16], 16) % _MERSENNE_P
        out.append((a, c))
    return out


def _bloom_positions(fpcol: Column, m_bits: int, k: int) -> list[Column]:
    """The k Bloom bit positions of an md5-hex fingerprint column:
    ``((a_i * base + c_i) mod p) mod m_bits`` with ``base`` = low 31
    bits of the fingerprint — the same engine-portable universal-hash
    integer math as the minhash family (operands < 2^31, products fit
    signed 64-bit)."""
    base = (
        F.conv(F.substring(fpcol, 1, 15), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit((1 << 31) - 1))
    )
    return [
        ((F.lit(a) * base + F.lit(c)) % F.lit(_MERSENNE_P)) % F.lit(m_bits)
        for a, c in _bloom_coeffs(k)
    ]


def bloom_fingerprints(
    history: DataFrame,
    textcol: str = "text",
    m_bits: int = 1 << 20,
    k: int = 5,
    normalize: bool = True,
    history_is_fingerprints: bool = False,
) -> DataFrame:
    """Build a Bloom filter over ``history``'s content fingerprints as
    a ONE-ROW frame ``(bloom array<bigint>, m_bits int, k int)`` — the
    reusable membership sketch that turns incremental dedup's
    history join into a MAP-ONLY batch filter
    (:func:`exact_dedup_against_bloom`).

    Why this exists at 100 TB: :func:`exact_dedup_against` shuffles
    every ingest batch against the history fingerprint table. With a
    Bloom filter built ONCE per history generation (and persisted —
    it is a tiny one-row frame), each batch pays zero shuffle for the
    membership test; only the bloom-POSITIVE sliver (true hits +
    ~fpp false positives) touches the history table at all, and only
    when exactness is required (``verify=True`` downstream).

    Scale shape of the build: one projection per history row (k bit
    positions from one md5), one ``groupBy(word)`` with map-side
    partial ``bit_or`` — at most ``m_bits/64`` groups, so the shuffle
    and the driver collect are bounded by the CONFIGURED filter size
    (8 KiB per 2^16 bits), never by history size. Sizing: fpp ~=
    (set_bits/m)^k; for n history docs at k=5, m_bits ~= 10n gives
    ~1% fpp — pick m_bits for your history cardinality, it is the
    only memory knob.

    ``history_is_fingerprints=True`` reads ``textcol`` as
    already-computed md5-hex fingerprints (share one fingerprint pass
    across consumers, or build from a stored fingerprint table).
    """
    if m_bits < 64 or m_bits % 64 != 0:
        raise ValueError(f"m_bits must be a multiple of 64, >= 64: {m_bits}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if history_is_fingerprints:
        fp = F.col(textcol)
    else:
        fp = F.md5(
            (_norm(F.col(textcol)) if normalize else F.col(textcol)).cast(
                "string"
            )
        )
    pos = F.explode(F.array(*_bloom_positions(fp, m_bits, k)))
    words = (
        history.select(pos.alias("__p__"))
        .select(
            (F.col("__p__") / 64).cast("int").alias("__w__"),
            # SQL shiftleft takes a column shift; the PySpark
            # wrapper restricts numBits to int — call the function
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                (F.col("__p__") % 64).cast("int"),
            ).alias("__m__"),
        )
        .groupBy("__w__")
        .agg(F.bit_or("__m__").alias("__bits__"))
        .collect()  # bounded: at most m_bits/64 rows BY CONSTRUCTION
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["__w__"]] = r["__bits__"]
    spark = history.sparkSession
    return spark.createDataFrame(
        [(arr, m_bits, k)], "bloom array<bigint>, m_bits int, k int"
    )


def merge_blooms(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of two Bloom filters built with the SAME (m_bits, k):
    element-wise OR of the bit words — the incremental-build
    primitive (merge per-partition/per-batch filters into a corpus
    filter; a bit set by either history is set in the union, so
    membership semantics are exactly the union of the two histories).
    Raises on mismatched geometry: positions from different m_bits/k
    are incompatible bit spaces."""
    ra = a.select("m_bits", "k").first()
    rb = b.select("m_bits", "k").first()
    if (ra["m_bits"], ra["k"]) != (rb["m_bits"], rb["k"]):
        raise ValueError(
            "bloom geometry mismatch: "
            f"({ra['m_bits']}, {ra['k']}) vs ({rb['m_bits']}, {rb['k']})"
        )
    return (
        a.select(F.col("bloom").alias("__a__"), "m_bits", "k")
        .crossJoin(F.broadcast(b.select(F.col("bloom").alias("__b__"))))
        .select(
            F.zip_with(
                "__a__", "__b__", lambda x, y: x.bitwiseOR(y)
            ).alias("bloom"),
            "m_bits",
            "k",
        )
    )


def exact_dedup_against_bloom(
    df: DataFrame,
    bloom: DataFrame,
    history: DataFrame | None = None,
    textcol: str = "text",
    idcol: str = "doc_id",
    history_textcol: str | None = None,
    normalize: bool = True,
    verify: bool = True,
) -> DataFrame:
    """Incremental-ingestion dedup through a Bloom filter
    (:func:`bloom_fingerprints`): drop rows of ``df`` whose content
    fingerprint is (probably) already in the history the filter was
    built over. The membership test is MAP-ONLY — the one-row filter
    is broadcast and each row checks its k bits with integer math; no
    shuffle touches the batch.

    ``verify=True`` (default, requires ``history``): bloom-positive
    rows — true hits plus ~fpp false positives, a sliver of the batch
    — are exactly verified with a fingerprint semi join against
    ``history``, so the result EQUALS :func:`exact_dedup_against`
    (no false drops, no false keeps; Bloom false negatives are
    impossible by construction). This is the 100 TB shape: the
    history join's probe side shrinks from the whole batch to the
    positive sliver.

    ``verify=False``: bloom-positive rows are dropped outright — zero
    history access at ingest time, at the cost of falsely dropping
    ~fpp of genuinely-new documents (size ``m_bits`` accordingly; the
    ``bloom_fp_audit`` query row measures the realized rate on a
    corpus). The right mode when the filter is sized generously and
    ingest must not touch the history store.
    """
    work = bloom_might_contain(
        df, bloom, textcol, normalize=normalize, out="__might__",
        keep_fp="__fp__",
    )
    if not verify:
        return work.filter(~F.col("__might__")).drop("__might__", "__fp__")
    if history is None:
        raise ValueError("verify=True requires the history frame")
    htext = history_textcol or textcol
    hfp = F.md5(
        (_norm(F.col(htext)) if normalize else F.col(htext)).cast("string")
    )
    hist = history.select(hfp.alias("__fp__")).distinct()
    positives = work.filter(F.col("__might__")).select(idcol, "__fp__")
    # persisted (guide §7.2): when ``df`` is a UNION, the left-anti
    # join is pushed through it and each branch re-runs the history
    # fingerprint distinct + verify semi-join; the id frame is tiny
    confirmed = materialize(
        positives.join(hist, "__fp__", "left_semi").select(idcol)
    )
    return df.join(confirmed, idcol, "left_anti")


def bloom_might_contain(
    df: DataFrame,
    bloom: DataFrame,
    textcol: str = "text",
    normalize: bool = True,
    out: str = "might_contain",
    keep_fp: str | None = None,
) -> DataFrame:
    """Append the Bloom membership flag ``out`` (and the md5
    fingerprint as ``keep_fp`` when given) — the map-only probe side
    of :func:`bloom_fingerprints`, shared by
    :func:`exact_dedup_against_bloom` and the audit rows. The one-row
    filter frame is broadcast; each row checks its k bit positions
    with integer expressions (no UDF, no shuffle)."""
    row = bloom.select("m_bits", "k").first()
    m_bits, k = int(row["m_bits"]), int(row["k"])
    fpcol = F.md5(
        (_norm(F.col(textcol)) if normalize else F.col(textcol)).cast("string")
    )
    fpname = keep_fp or "__bloom_fp__"
    work = df.withColumn(fpname, fpcol).crossJoin(
        F.broadcast(bloom.select("bloom"))
    )
    might = None
    for p in _bloom_positions(F.col(fpname), m_bits, k):
        word = F.element_at("bloom", (p / 64).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (p % 64).cast("int")
        )
        bit = word.bitwiseAND(mask) != 0
        might = bit if might is None else (might & bit)
    work = work.withColumn(out, might).drop("bloom")
    if keep_fp is None:
        work = work.drop(fpname)
    return work


def minhash_signature(
    df: DataFrame,
    textcol: str = "text",
    k: int = 3,
    num_hashes: int = 12,
    out: str = "minhash_sig",
    idcol: str = "doc_id",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: for each seed ``i`` in
    ``0..num_hashes-1``, the lexicographic min of ``md5(i || ':' ||
    shingle)`` over the doc's distinct k-word shingles.

    The min-wise family is the classic universal-hash construction
    ``h_i(s) = (a_i * b(s) + c_i) mod p`` with ``p = 2^31 - 1``
    (Mersenne prime), base hash ``b(s)`` = low 31 bits of the md5 of
    the shingle, and per-seed constants ``a_i``/``c_i`` derived from
    md5 — everything engine-portable integer math (no overflow:
    operands < 2^31, product < 2^62 fits a signed 64-bit int).

    Plan shape: shingles are EXPLODED, each shingle is built and
    md5-hashed exactly ONCE, and the ``num_hashes`` mins run as one
    hash aggregation with map-side partial aggregation — the shuffle
    carries ``num_hashes`` longs per doc per map partition. (The
    pure-array form ``transform(seeds, i -> array_min(transform(
    shingles, ...)))`` re-inlines shingle building per seed — measured
    ~20x slower; per-seed md5 instead of the universal mix adds
    another ~5x.) Requires unique ``idcol`` values.

    ``shingles``: optional precomputed ``shingle_sets`` frame
    (idcol, shingles) — pass a persisted one to share shingle
    construction with a Jaccard verification stage.
    """
    if shingles is None:
        # materialize before the explode: Spark's Generate re-derives
        # an inline-computed array far more expensively than it reads
        # a materialized one (measured ~10x at sf0.1 — see SCALE.md)
        shingles = materialize(shingle_sets(df, textcol, idcol, k))
    sig = _minhash_sig_table(shingles, idcol, num_hashes, out)
    return df.join(sig, df[idcol] == sig["__mh_id__"], "left").drop("__mh_id__")


def _minhash_sig_table(
    shingles: DataFrame,
    idcol: str,
    num_hashes: int,
    out: str = "minhash_sig",
    shcol: str = "shingles",
) -> DataFrame:
    """(``__mh_id__``, signature array) from a ``shingle_sets`` frame —
    the explode + one-partial-agg core of ``minhash_signature``.

    The ``num_hashes`` mins are ONE SQL-text aggregate expression
    (``array(min(..), ..)``), so building the plan costs a fixed number
    of py4j round trips whatever ``num_hashes`` is; a ``Column`` per
    hash would cost about 7 round trips each, every micro-batch of the
    streaming gate."""
    mins = ", ".join(
        f"min(({a} * __b__ + {c}) % {_MERSENNE_P})"
        for a, c in _minhash_coeffs(num_hashes)
    )
    return (
        shingles.selectExpr(
            f"{quote(idcol)} AS __mh_id__", f"explode({quote(shcol)}) AS __s__"
        )
        .selectExpr(
            "__mh_id__",
            "CAST(conv(substring(md5(__s__), 1, 15), 16, 10) AS BIGINT)"
            " & 2147483647 AS __b__",
        )
        .groupBy("__mh_id__")
        .agg(F.expr(f"array({mins}) AS {quote(out)}"))
    )


def lsh_plan(
    threshold: float,
    num_hashes_max: int = 256,
) -> dict:
    """Choose (num_hashes, bands, rows_per_band) for a target Jaccard
    ``threshold`` — the standard S-curve rule: with b bands of r rows
    the collision probability of a pair at similarity s is
    ``1 - (1 - s^r)^b``, and the curve's steepest point sits near
    ``(1/b)^(1/r)``. This helper scans factorizations up to
    ``num_hashes_max`` total hashes and returns the plan whose
    threshold estimate lands closest to the target, plus the predicted
    collision probabilities at s = threshold ± 0.1 so the caller can
    see the false-positive/false-negative tradeoff before paying for a
    corpus-scale run. Driver-side arithmetic only — run it BEFORE
    ``lsh_candidate_pairs`` to pick ``num_hashes``/``bands`` instead
    of hand-tuning.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    best = None
    for r in range(1, 33):
        for b in range(1, num_hashes_max // r + 1):
            est = (1.0 / b) ** (1.0 / r)
            score = abs(est - threshold)
            # prefer fewer total hashes on ties (cheaper signatures)
            key = (score, b * r)
            if best is None or key < best[0]:
                def p(s: float) -> float:
                    return 1.0 - (1.0 - s**r) ** b

                best = (
                    key,
                    {
                        "num_hashes": b * r,
                        "bands": b,
                        "rows_per_band": r,
                        "threshold_estimate": est,
                        "p_at_threshold": p(threshold),
                        "p_below": p(max(threshold - 0.1, 0.0)),
                        "p_above": p(min(threshold + 0.1, 1.0)),
                    },
                )
    return best[1]


def minhash_band_key(
    textcol: Column,
    k: int = 3,
    rows_per_band: int = 3,
) -> Column:
    """Band-0 LSH key as a PURE per-row column expression — the first
    ``rows_per_band`` minhash values over distinct ``k``-word
    shingles, '|'-joined and md5'd. Bit-identical to batch band 0 of
    :func:`lsh_band_keys` (same universal-hash constants, same key
    format) but with no explode and no shuffle, which is what a
    streaming dedup needs (:func:`pd_utils_spark.streaming.stateful.
    streaming_band_dedup`).

    HOT-PATH NOTE: as a single inline expression the shingle set
    re-evaluates inside every minhash ``transform`` (Catalyst does no
    CSE inside lambda bodies) — fine for a projection over survivors
    or a small frame; corpus-rate callers should use
    :func:`attach_minhash_band_key`, which stages the token and
    shingle arrays as bound attributes first (measured ~6x on the
    sf0.1 streaming bench query).
    """
    return _band_key_from_sets(_shingle_set(textcol, k), rows_per_band)


def _base_hash_array(sets: Column) -> Column:
    """Per-shingle 31-bit base hashes (low bits of md5) as ONE array
    expression — the md5-per-shingle work of the minhash family,
    factored out so map-only callers can stage it as a bound column
    computed once per row instead of once per hash function (r8: the
    6-hash band-key expression paid 6 md5 passes over the shingle
    array per row, and the repeated md5 subtrees dominated the
    whole-stage-codegen unit that serial single-samples compile 2-4x
    over warm cost)."""
    return F.transform(
        sets,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
        .cast("bigint")
        .bitwiseAND(F.lit((1 << 31) - 1)),
    )


def _band_key_from_hashes(
    hashes: Column, rows_per_band: int, band: int = 0
) -> Column:
    """Band ``band``'s LSH key over an ALREADY base-hashed shingle
    array (see :func:`_base_hash_array`): universal-hash mins,
    '|'-joined and md5'd — bit-identical to the corresponding
    :func:`lsh_band_keys` band. Pass a BOUND column for ``hashes``
    at frame-level call sites (the expression is re-inlined per
    reference otherwise — the no-CSE-in-HOF pathology)."""

    def _mk(a: int, c: int):
        return lambda h: (F.lit(a) * h + F.lit(c)) % F.lit(_MERSENNE_P)

    coeffs = _minhash_coeffs((band + 1) * rows_per_band)[
        band * rows_per_band :
    ]
    mins = [F.array_min(F.transform(hashes, _mk(a, c))) for a, c in coeffs]
    return F.md5(F.concat_ws("|", *[m.cast("string") for m in mins]))


def _band_key_from_sets(
    sets: Column, rows_per_band: int, band: int = 0
) -> Column:
    """Band ``band``'s LSH key over a shingle-set column: minhashes
    ``band*rows_per_band .. (band+1)*rows_per_band - 1`` of the
    standard signature, '|'-joined and md5'd — bit-identical to the
    corresponding :func:`lsh_band_keys` band. Column-level
    convenience; frame-level callers should stage
    :func:`_base_hash_array` as a bound column and use
    :func:`_band_key_from_hashes` so the md5 pass runs once per row,
    not once per hash."""
    return _band_key_from_hashes(
        _base_hash_array(sets), rows_per_band, band
    )


def attach_minhash_band_key(
    df: DataFrame,
    textcol: str = "text",
    k: int = 3,
    rows_per_band: int = 3,
    out: str = "band_key",
) -> DataFrame:
    """Append the band-0 LSH key (see :func:`minhash_band_key`) with
    the tokenize -> shingle stages materialized as BOUND attributes in
    their own projections: the shingle array is computed once per row
    and the ``rows_per_band`` minhash transforms read the bound
    column, instead of re-inlining the whole tokenizer into every
    lambda element (the no-CSE-in-HOF pathology; same staging trick as
    :func:`shingle_sets`). Still zero explode / zero shuffle —
    streaming-legal — and bit-identical keys."""
    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1: {rows_per_band}")
    norm = _norm(F.col(textcol))
    staged = df.withColumn("__bk_norm__", norm).withColumn(
        "__bk_toks__", _tokens(F.col("__bk_norm__"))
    ).withColumn(
        "__bk_sets__",
        _shingles_from_toks(F.col("__bk_norm__"), F.col("__bk_toks__"), k),
    ).withColumn(
        "__bk_hash__", _base_hash_array(F.col("__bk_sets__"))
    )
    return staged.withColumn(
        out, _band_key_from_hashes(F.col("__bk_hash__"), rows_per_band)
    ).drop("__bk_norm__", "__bk_toks__", "__bk_sets__", "__bk_hash__")


def attach_minhash_band_keys(
    df: DataFrame,
    textcol: str = "text",
    k: int = 3,
    rows_per_band: int = 3,
    bands: int = 2,
    out: str = "band_keys",
) -> DataFrame:
    """Append ALL ``bands`` LSH band keys as one ``array<string>``
    column — band ``b`` is minhashes ``b*rows_per_band ..
    (b+1)*rows_per_band - 1`` of the standard signature, so each
    element is bit-identical to the corresponding
    :func:`lsh_band_keys` band (and element 0 to
    :func:`minhash_band_key`). Same staged-projection shape as
    :func:`attach_minhash_band_key` (token/shingle arrays bound once,
    no re-inlining into lambda bodies), still zero explode / zero
    shuffle — streaming-legal. The key stage under
    :func:`dedup_bands_greedy` and the multi-band streaming dedup."""
    if rows_per_band < 1 or bands < 1:
        raise ValueError(
            f"need rows_per_band >= 1 and bands >= 1: {rows_per_band}, {bands}"
        )
    norm = _norm(F.col(textcol))
    staged = df.withColumn("__bk_norm__", norm).withColumn(
        "__bk_toks__", _tokens(F.col("__bk_norm__"))
    ).withColumn(
        "__bk_sets__",
        _shingles_from_toks(F.col("__bk_norm__"), F.col("__bk_toks__"), k),
    ).withColumn(
        # r8: ONE md5 pass over the shingle array, bound, instead of
        # bands*rows_per_band re-inlined md5 transforms (smaller
        # codegen unit + less per-row hashing; keys bit-identical)
        "__bk_hash__", _base_hash_array(F.col("__bk_sets__"))
    )
    keys = F.array(
        *[
            _band_key_from_hashes(F.col("__bk_hash__"), rows_per_band, b)
            for b in range(bands)
        ]
    )
    return staged.withColumn(out, keys).drop(
        "__bk_norm__", "__bk_toks__", "__bk_sets__", "__bk_hash__"
    )


_GREEDY_COUNT = [0]


def _greedy_band_filter(
    work: DataFrame, idcol: str, bands: int, keyscol: str = "__bks__"
) -> DataFrame:
    """Chained greedy band rule over a frame carrying the
    ``keyscol`` array: for band 0..bands-1 in turn, keep only the
    lowest-``idcol`` row per band key among the rows still standing.
    Each pass is a map-side-partial ``groupBy(key).agg(min(id))`` +
    semi join (broadcast when the keeper set is small) — the
    :func:`_dup_removal` de-skew shape, never a per-key window
    sort.

    Each pass emits an ``observe`` metric
    (``greedy_band_pass{b}_<n>`` with a ``survivors`` count, same
    zero-extra-compute audit channel as ``_cap_buckets``): after the
    first action, ``utils.observed_metrics(result)`` yields the
    per-pass survivor counts, so pass ``b``'s drop count is
    ``survivors[b-1] - survivors[b]`` (pass 0's baseline is the input
    row count). The ``_<n>`` suffix is a module counter keeping names
    unique when one query runs the filter more than once."""
    _GREEDY_COUNT[0] += 1
    n = _GREEDY_COUNT[0]
    for b in range(bands):
        # each pass consumes the surviving frame TWICE (the keeper agg
        # + the semi join's left side), and neither ReuseExchange nor
        # AQE stage reuse dedupes the two subtrees — unmaterialized,
        # the map-heavy shingle+minhash pipeline upstream would
        # execute once per reference, doubling per pass. Materialize
        # each pass's input so every pass computes exactly once; the
        # caller's query_scope releases these (the streaming gate's
        # right after its eager checkpoint).
        work = materialize(work)
        cur = work.withColumn("__kb__", F.col(keyscol)[b])
        keep = cur.groupBy("__kb__").agg(F.min(idcol).alias(idcol))
        work = (
            cur.join(keep, ["__kb__", idcol], "left_semi")
            .drop("__kb__")
            .observe(
                f"greedy_band_pass{b}_{n}",
                F.count(F.lit(1)).alias("survivors"),
            )
        )
    return work


def dedup_bands_greedy(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    rows_per_band: int = 3,
    bands: int = 2,
) -> DataFrame:
    """Multi-band GREEDY near-dup dedup — the batch twin of the
    multi-band streaming dedup
    (:func:`pd_utils_spark.streaming.stateful.streaming_greedy_band_dedup`):
    every document gets ``bands`` LSH band keys
    (:func:`attach_minhash_band_keys`); band by band, only the
    lowest-id document per key survives, each pass filtering the
    previous pass's survivors. A pair with Jaccard J collides in at
    least one band with probability ``1 - (1 - J^rows_per_band)^bands``
    — the full LSH S-curve, vs the single-band ``J^rows_per_band`` of
    :func:`minhash_band_key` — so more true near-dups are caught
    than one band can, while the rule stays expressible with
    keep-one-per-key state (what a stream can hold). Unlike
    :func:`dedup_minhash_lsh` there is NO exact verification: a band
    collision alone kills a document (precision traded for bounded
    state; run the `candidate_recall`-style audits to size the
    false-positive rate on your corpus — at rows_per_band=3+ random
    collisions need J^3-level agreement, rare for genuinely
    dissimilar docs).

    Deterministic: survivor set is a pure function of the data
    (min-id per key, chained), independent of arrival or partition
    order — which is exactly what lets a relational oracle replay it
    and the streaming twin match it batch-for-batch.

    Scale shape: key attachment is map-only (no explode); each of the
    ``bands`` passes is one ``groupBy(key).agg(min(id))`` with
    map-side partials + a semi join — a hot boilerplate key
    aggregates with partial combine, never a single-task window sort.
    ``bands`` is small (2-8): the pass count is a constant, not a
    data term. COST TO SIZE AT 100 TB: each pass shuffles the full
    surviving corpus once (the agg) plus the keeper join — budget
    ``bands`` corpus-wide shuffles, shrinking as passes drop
    survivors; that linear-in-``bands`` shuffle bill is the price of
    the recall dial, and it is why ``bands`` is a constant knob, not
    a tuning you scale with data. Each pass emits a
    ``greedy_band_pass{b}_*`` ``observe`` metric with its survivor
    count (read via ``utils.observed_metrics`` after the first
    action) so the per-pass drop sizes are auditable at zero extra
    compute — the same channel the LSH flood caps use.
    """
    work = attach_minhash_band_keys(
        df, textcol, k, rows_per_band, bands, out="__bks__"
    )
    return _greedy_band_filter(work, idcol, bands).drop("__bks__")


def lsh_band_keys(
    df: DataFrame,
    sigcol: str = "minhash_sig",
    bands: int = 4,
    out_band: str = "band",
    out_key: str = "band_key",
) -> DataFrame:
    """Explode each signature into ``bands`` (band index, band key)
    rows; the band key is md5 of the concatenated signature slice.
    Docs sharing any (band, key) are near-dup candidates.

    One ``selectExpr`` over SQL text (an ``inline`` of the per-band
    structs): one py4j round trip builds the plan, whatever
    ``bands`` is."""
    sig = quote(sigcol)
    rows_per_band = f"CAST(size({sig}) / {bands} AS INT)"  # validated by caller
    banded = (
        f"transform(sequence(0, {bands - 1}), __bi -> named_struct('band', __bi, "
        f"'key', md5(concat_ws('|', slice({sig}, __bi * {rows_per_band} + 1, "
        f"{rows_per_band})))))"
    )
    return df.selectExpr("*", f"inline({banded}) AS ({quote(out_band)}, {quote(out_key)})")


_CAP_COUNT = [0]


def _cap_buckets(
    frame: DataFrame,
    key_cols: list[str],
    max_bucket: int,
    metric: str,
    spread: bool = True,
) -> DataFrame:
    """Drop rows in (key_cols) buckets larger than ``max_bucket`` —
    the flood guard shared by the whole LSH family. Emits an
    ``observe`` metric named ``<metric>_<n>`` (``n`` counts the calls
    in this process) with one field, ``dropped_rows``, so callers can
    read how many rows the cap removed from the last action's
    ``QueryExecutionListener`` / ``Observation`` stream at zero extra
    compute cost (no separate count job).

    The key-partitioned shuffle is pinned to an EXPLICIT partition
    count (r11, guide §2.5): AQE coalesces post-shuffle partitions by
    INPUT bytes, but every consumer of a capped frame is an exploding
    within-bucket self-join — small bytes in, quadratic-in-bucket rows
    out — so byte-derived coalescing was profiled running the whole
    join of `entity_match` in ONE 4 s task. An explicit repartition
    (``REPARTITION_BY_NUM`` origin) is exempt from AQE coalescing, the
    cap window reuses its partitioning, and the downstream equi-join
    on the same keys reuses it again — same exchange count, full
    parallelism. The count comes from ``spark.sql.shuffle.partitions``
    (cluster-sized in deployment), not a local constant.

    ``spread=False`` skips the pin and lets the window's own
    AQE-coalescible exchange establish the partitioning (r12): the pin
    exists for the band/linkage key tables, whose tiny-byte buckets
    explode quadratically in the downstream self-join — profiled
    collapsing to ONE task under byte-derived coalescing. A caller
    whose capped frame is corpus-sized in BYTES (winnowing
    fingerprints: one row per doc-fingerprint, bytes proportional to
    the join work) gets correct parallelism from AQE already, and the
    r11 driver bench measured the unconditional pin costing that
    caller ~10% for nothing.

    The window, the observed sum and the filter are SQL text: a fixed
    handful of py4j round trips per call (the streaming gates cap
    three key tables every micro-batch)."""
    # 0 (or negative) would silently drop EVERY bucket — an explicit
    # None is the only "uncapped" spelling (ADVICE r11: a stamped-0
    # artifact or a max_bucket=0 override must fail loudly, not wipe
    # the folded index)
    if max_bucket <= 0:
        raise ValueError(f"max_bucket must be >= 1: {max_bucket}")
    if spread:
        spark = frame.sparkSession
        try:
            nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # pragma: no cover — conf present in practice
            nparts = spark.sparkContext.defaultParallelism
        frame = frame.repartition(nparts, *key_cols)
    _CAP_COUNT[0] += 1
    keys = ", ".join(quote(c) for c in key_cols)
    counted = frame.withColumn(
        "__n__", F.expr(f"count(1) OVER (PARTITION BY {keys})")
    ).observe(
        f"{metric}_{_CAP_COUNT[0]}",
        F.expr(f"sum(CAST(__n__ > {max_bucket} AS BIGINT)) AS dropped_rows"),
    )
    return counted.where(f"__n__ <= {max_bucket}").drop("__n__")


def lsh_candidate_pairs(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket: int | None = 100_000,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) from MinHash-LSH
    banding. Shuffles once on (band, band_key); the self-join meets
    only within buckets.

    ``max_bucket`` drops pathological buckets larger than the cap
    (boilerplate floods — e.g. millions of identical template pages
    landing in one (band, key) bucket, which would make the candidate
    self-join quadratic). Defaults to 100_000, matching
    ``simhash_near_dup_pairs`` / ``embedding_near_dup_pairs``; pass
    None to disable (exact-recall small corpora only). Docs in a
    capped-out bucket usually still pair through their other bands,
    and a 100k-deep bucket is already ~5e9 candidate pairs — past the
    point where pairwise verification is the wrong tool (use
    ``exact_dedup`` first). Dropped-row counts are observable via the
    ``lsh_bucket_cap*`` observe metric.
    ``shingles``: optional precomputed ``shingle_sets`` frame to share
    shingle construction with other stages. Every frame this pins
    (its own shingle sets, the capped key table) is released by the
    caller's :func:`~pd_utils_spark.utils.query_scope`.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    if shingles is None:
        shingles = materialize(shingle_sets(df, textcol, idcol, k))
    keyed = _band_key_table(shingles, idcol, num_hashes, bands)
    return _lsh_pairs(keyed, idcol, max_bucket)


def _band_key_table(
    shingles: DataFrame, idcol: str, num_hashes: int, bands: int
) -> DataFrame:
    """Uncapped ``(idcol, band, band_key)`` LSH key table of a
    ``shingle_sets`` frame: signature aggregation plus banding, one row
    per (doc, band). A pure per-doc function of the shingle set, so a
    slice of it by id equals the table built from the same slice of
    shingles. Pins nothing itself; callers that reuse it
    :func:`~pd_utils_spark.utils.materialize` it inside their
    :func:`~pd_utils_spark.utils.query_scope`."""
    sigs = _minhash_sig_table(shingles, idcol, num_hashes)
    return lsh_band_keys(sigs, bands=bands).selectExpr(
        f"__mh_id__ AS {quote(idcol)}", "band", "band_key"
    )


def _lsh_pairs(
    keyed: DataFrame, idcol: str, max_bucket: int | None
) -> DataFrame:
    """Candidate pairs ``(id_a < id_b)`` sharing a (band, band_key)
    bucket of the key table ``keyed``, after the flood cap. The capped
    table is materialized (a reuse pin of the caller's scope)."""
    if max_bucket is not None:
        keyed = _cap_buckets(keyed, ["band", "band_key"], max_bucket, "lsh_bucket_cap")
    # Materialize before the self-join: the sides are separate subtrees
    # (one is broadcast under AQE, so ReuseExchange cannot dedupe them)
    # and an un-materialized keyed frame executes the minhash signature
    # aggregation + banding once PER SIDE. One row per (doc, band).
    # Lazy + fault-tolerant (persist, or reliable checkpoint when a
    # checkpoint dir is set) — see utils.materialize; the previous
    # eager localCheckpoint ran a full job at plan-construction time
    # and its truncated lineage was unrecoverable on executor loss.
    keyed = materialize(keyed)
    idq = quote(idcol)
    return (
        keyed.alias("a")
        .join(
            keyed.alias("b"),
            F.expr(
                f"a.band = b.band AND a.band_key = b.band_key AND a.{idq} < b.{idq}"
            ),
        )
        .selectExpr(f"a.{idq} AS id_a", f"b.{idq} AS id_b")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    out: str = "jaccard",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity |A∩B| / |A∪B| over distinct
    k-word shingle sets, for the given (id_a, id_b) pairs only.
    Two broadcast-or-shuffle equi-joins to attach the shingle arrays,
    then pure array math. ``shingles``: optional precomputed
    ``shingle_sets`` frame to share shingle construction."""
    if shingles is None:
        shingles = shingle_sets(df, textcol, idcol, k)
    idq = quote(idcol)
    return (
        pairs.join(shingles.selectExpr(f"{idq} AS id_a", "shingles AS __sa__"), "id_a")
        .join(shingles.selectExpr(f"{idq} AS id_b", "shingles AS __sb__"), "id_b")
        .withColumn(
            out,
            F.expr(
                "size(array_intersect(__sa__, __sb__)) / size(array_union(__sa__, __sb__))"
            ),
        )
        .drop("__sa__", "__sb__")
    )


def jaccard_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shingle_k: int = 3,
    idcol: str = "doc_id",
    textcol: str = "text",
    qidcol: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Text similarity search: top-k most similar corpus documents per
    query document by exact k-word-shingle Jaccard. The query side is
    broadcast (shingle sets of a handful of docs), so scoring is a
    map-only corpus scan plus one per-query top-k exchange — the text
    twin of ``similarity.brute_force_topk``. For corpus-vs-corpus at
    scale use ``lsh_candidate_pairs`` + ``jaccard_pairs`` instead.
    Output: (query_id, doc id, jaccard, rank)."""
    from pyspark.sql import Window

    c = shingle_sets(corpus, textcol, idcol, shingle_k, out="__cs__")
    q = shingle_sets(queries, textcol, idcol, shingle_k, out="__qs__").withColumnRenamed(
        idcol, qidcol
    )
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.filter(F.col(idcol) != F.col(qidcol))
    scored = scored.withColumn(
        "jaccard",
        F.size(F.array_intersect("__cs__", "__qs__"))
        / F.size(F.array_union("__cs__", "__qs__")),
    )
    w = Window.partitionBy(qidcol).orderBy(F.desc("jaccard"), F.col(idcol))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qidcol, idcol, "jaccard", "rank")
    )


def dedup_minhash_lsh(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup deduplication: drop every doc that has a verified
    near-duplicate (n-gram Jaccard >= threshold among LSH candidates)
    with a smaller id. Deterministic min-id survivor rule; single-pass
    (no iterative connected components — the survivor set matches the
    reference MinHash-dedup recipe used by large corpus pipelines).

    Shingle sets are computed ONCE and persisted (memory-and-disk),
    shared between the signature and Jaccard stages — shingle
    construction dominates the pipeline, so recomputing it per stage
    doubles the scan work. The cache lives until Spark's LRU evicts
    it (per-job scratch; at 100 TB it spills to local disk, which is
    still far cheaper than a second tokenize+hash pass).
    """
    return _dedup_minhash_lsh_parts(
        df, textcol, idcol, k, num_hashes, bands, threshold, max_bucket
    )[0]


def _dedup_minhash_lsh_parts(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """:func:`dedup_minhash_lsh` plus its PERSISTED internal frames
    ``(survivors, shingles, band_keys, losers)`` so a pipeline running
    several MinHash stages over the same batch (the streaming gate:
    within-batch dedup -> history probe -> artifact build) can derive
    each stage's shingle and band-key frames from ONE tokenize pass and
    ONE signature aggregation instead of recomputing them per stage.
    ``shingles`` and ``band_keys`` (the UNCAPPED
    ``(idcol, band, band_key)`` table) cover ALL of ``df``; ``losers``
    is the dropped-id frame. Everything persisted here, the capped
    candidate key table included, is a reuse pin of the caller's
    :func:`~pd_utils_spark.utils.query_scope`."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    sh = materialize(shingle_sets(df, textcol, idcol, k))
    keys = materialize(_band_key_table(sh, idcol, num_hashes, bands))
    cands = _lsh_pairs(keys, idcol, max_bucket)
    sim = jaccard_pairs(df, cands, textcol, idcol, k, shingles=sh).filter(
        F.col("jaccard") >= threshold
    )
    # persisted (guide §7.2): when ``df`` is a UNION, the left-anti
    # join is pushed through it and each branch re-runs the whole
    # LSH-candidate + Jaccard-verify pipeline; the id frame is tiny
    losers = materialize(sim.selectExpr(f"id_b AS {quote(idcol)}").distinct())
    return df.join(losers, idcol, "left_anti"), sh, keys, losers


def _check_artifact_params(
    frame: DataFrame, col: str, expected: dict, builder: str
) -> None:
    """Fail fast when a precomputed-artifact probe is configured with
    different shingle/hash parameters than the stored artifacts were
    built with. The params ride as column metadata on ``col``
    (written by the builder, preserved through parquet); a mismatch
    would otherwise produce keys from two different hash spaces that
    silently never collide — the gate admits everything with no
    signal. Artifacts without the metadata (built by hand) pass."""
    try:
        meta = frame.schema[col].metadata or {}
    except Exception:
        return  # column renamed/absent: schema errors surface later
    stored = {p: meta[p] for p in expected if p in meta}
    if not stored:
        return  # no stamped params: externally-built artifact
    bad = {p: v for p, v in stored.items() if v != expected[p]}
    if bad:
        raise ValueError(
            f"artifact/probe parameter mismatch vs {builder}: stored "
            + ", ".join(f"{p}={v}" for p, v in sorted(bad.items()))
            + " but probe called with "
            + ", ".join(f"{p}={expected[p]}" for p in sorted(bad))
            + " — a mismatched probe silently matches nothing; rebuild "
            "the artifacts or pass the stored parameters"
        )


def minhash_history_frames(
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket: int | None = 100_000,
    shingles: DataFrame | None = None,
    band_keys: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build the PRECOMPUTABLE history-side artifacts of the MinHash
    ingest gate as two frames, ready to persist and probe with
    :func:`dedup_minhash_against_index`:

    - ``"keys"``: the banded LSH key table ``(__hid__, band,
      band_key)`` — the candidate-join side. Stored bucketed on
      ``(band, band_key)`` at real scale, a daily batch joins 100 TB
      of history with no history shuffle (plan-asserted in
      ``tests/test_plans_skew.py``).
    - ``"shingles"``: ``(__hid__, shingles array<bigint>)`` — the
      Jaccard verify side.

    ``max_bucket`` applies the LSH flood cap to ``keys`` at BUILD
    time (``lsh_bucket_cap`` observe metric): capping here is
    write-once, where the r9 probe re-ran the cap's window over the
    FULL history key table every batch — an O(history) per-batch
    term, and a partitioning-destroying node between a bucketed
    ``keys`` table and the candidate join. The probe caps only its
    batch side.

    Shared intermediates (the streaming gate passes both, sliced by id
    from its within-batch dedup, so a micro-batch tokenizes and
    minhashes its text once):

    - ``shingles``: optional precomputed :func:`shingle_sets` frame
      ``(idcol, shingles)`` covering exactly ``history``'s rows with
      the same ``k``;
    - ``band_keys``: optional precomputed UNCAPPED ``(idcol, band,
      band_key)`` table covering exactly ``history``'s rows with the
      same ``(k, num_hashes, bands)``.

    Both are pure per-row functions of (id, text), so a slice of a
    superset's frame equals what this builder computes itself. The
    flood cap still applies here, to ``history``'s own rows, and the
    metadata stamp is the same either way.

    Same write-once-probe-many contract as
    :func:`containment_index_frames` (its containment sibling). When
    this builder computes the band keys itself, the shingle frame
    feeds both outputs and is pinned in the caller's
    :func:`~pd_utils_spark.utils.query_scope`.
    Bit-compatibility pinned by pytest: probing these frames returns
    exactly the survivors :func:`dedup_minhash_against` computes from
    the raw history frame."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    if shingles is None:
        shingles = shingle_sets(history, textcol, idcol, k)
    if band_keys is None:
        shingles = materialize(shingles)
        band_keys = _band_key_table(shingles, idcol, num_hashes, bands)
    # band keys are a function of (k, num_hashes, bands); stamp them as
    # column metadata (parquet-persistent) so the probe can fail fast
    # on a mismatched configuration instead of silently matching
    # nothing. The applied flood cap rides along so compaction can
    # re-apply the same recall trade to buckets that grow across deltas
    # (and so uncapped artifacts are distinguishable from capped ones).
    meta = {"k": k, "num_hashes": num_hashes, "bands": bands}
    if max_bucket is not None:
        meta["max_bucket"] = int(max_bucket)
    keys = band_keys.select(
        F.col(idcol).alias("__hid__"),
        "band",
        F.col("band_key").alias("band_key", metadata=meta),
    )
    if max_bucket is not None:
        keys = _cap_buckets(
            keys, ["band", "band_key"], max_bucket, "lsh_bucket_cap"
        )
    return {
        "keys": keys,
        "shingles": shingles.selectExpr(f"{quote(idcol)} AS __hid__", "shingles"),
    }


def dedup_minhash_against_index(
    df: DataFrame,
    keys: DataFrame,
    shingles: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
    batch_shingles: DataFrame | None = None,
    batch_keys: DataFrame | None = None,
) -> DataFrame:
    """Probe-side of the incremental MinHash gate: drop rows of ``df``
    whose n-gram Jaccard with any history document reaches
    ``threshold``, where the history is given as the two PRECOMPUTED
    artifacts of :func:`minhash_history_frames` instead of a raw text
    frame — the per-batch plan does no history-side shingle/minhash/
    band work beyond scanning them. ``num_hashes``/``bands``/``k``
    must match the artifact build (the band keys are a function of
    them); :func:`minhash_history_frames` stamps the build params as
    ``band_key`` column metadata (parquet-persistent), and this probe
    raises ``ValueError`` on a mismatch — a misconfigured probe would
    otherwise silently match nothing and admit every duplicate.
    Artifacts built externally without the metadata are accepted
    as-is. ``max_bucket`` caps the BATCH side's band buckets
    (``lsh_bucket_cap`` observe metric); the history side is capped
    once at build time by :func:`minhash_history_frames` — re-capping
    it here would re-run a window over the full history key table
    every batch (O(history) per batch) and break the shuffle-free
    bucketed-table join.

    Shared batch intermediates, with the same contract as
    :func:`minhash_history_frames`' ``shingles``/``band_keys``:
    ``batch_shingles`` is an optional :func:`shingle_sets` frame and
    ``batch_keys`` an optional UNCAPPED ``(idcol, band, band_key)``
    table, each covering exactly ``df``'s rows with the same
    parameters. ``max_bucket`` caps ``batch_keys`` over those rows,
    exactly as it caps self-computed keys. When the probe computes the
    batch keys itself, the batch shingles feed both the keys and the
    Jaccard verify and are pinned; the hit-id frame always is. Both
    are reuse pins of the caller's
    :func:`~pd_utils_spark.utils.query_scope`."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}"
        )
    _check_artifact_params(
        keys,
        "band_key",
        {"k": k, "num_hashes": num_hashes, "bands": bands},
        "minhash_history_frames",
    )
    idq = quote(idcol)
    if batch_shingles is None:
        batch_shingles = shingle_sets(df, textcol, idcol, k)
    if batch_keys is None:
        batch_shingles = materialize(batch_shingles)
        batch_keys = _band_key_table(batch_shingles, idcol, num_hashes, bands)
    bkeys = batch_keys.selectExpr(f"{idq} AS __bid__", "band", "band_key")
    if max_bucket is not None:
        bkeys = _cap_buckets(
            bkeys, ["band", "band_key"], max_bucket, "lsh_bucket_cap"
        )
    cand = (
        bkeys.join(keys, ["band", "band_key"])
        .select("__bid__", "__hid__")
        .distinct()
    )
    j = (
        cand.join(
            batch_shingles.selectExpr(f"{idq} AS __bid__", "shingles AS __sa__"),
            "__bid__",
        )
        .join(shingles.selectExpr("__hid__", "shingles AS __sb__"), "__hid__")
        .withColumn(
            "__j__",
            F.expr(
                "size(array_intersect(__sa__, __sb__)) / size(array_union(__sa__, __sb__))"
            ),
        )
    )
    # persisted for the same reason as dedup_containment's dropped
    # frame: a UNION batch would otherwise re-run the candidate join +
    # Jaccard verify once per branch via the left-anti pushdown
    # (guide §7.2)
    hits = materialize(
        j.filter(F.col("__j__") >= threshold)
        .selectExpr(f"__bid__ AS {idq}")
        .distinct()
    )
    return df.join(hits, idcol, "left_anti")


def dedup_minhash_against(
    df: DataFrame,
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    history_textcol: str | None = None,
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Incremental near-dup dedup: drop rows of ``df`` whose n-gram
    Jaccard with ANY ``history`` document reaches ``threshold``, with
    candidates from MinHash-LSH band collisions ACROSS the two frames
    — the batch-over-corpus complement of ``dedup_minhash_lsh`` (and
    the near-dup sibling of ``exact_dedup_against``).

    Scale shape: each side is banded independently and the candidate
    join runs on (band, band_key) — a plain equi-join, so when the
    history band table is persisted as a bucketed table
    (``plans.skew.write_bucketed`` on the band columns) a daily
    ingestion batch joins against 100 TB of history with no history
    shuffle. ``max_bucket`` caps pathological band buckets on BOTH
    sides before they meet (boilerplate floods).

    This convenience form builds the history artifacts inline
    (:func:`minhash_history_frames`) and probes them
    (:func:`dedup_minhash_against_index`); when the same history
    serves many batches, materialize the artifacts once and call the
    probe directly — the streaming gate does exactly this with
    versioned per-batch deltas."""
    frames = minhash_history_frames(
        history,
        textcol=history_textcol or textcol,
        idcol=idcol,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=max_bucket,
    )
    return dedup_minhash_against_index(
        df,
        frames["keys"],
        frames["shingles"],
        textcol=textcol,
        idcol=idcol,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
    )


def duplicated_ngram_fraction(
    df: DataFrame,
    n: int = 8,
    textcol: str = "text",
    idcol: str = "doc_id",
    min_docs: int = 2,
    out: str = "dup_ngram_frac",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """CROSS-document duplication signal: for each doc, the fraction
    of its distinct word n-grams that also appear in at least
    ``min_docs`` documents (itself included) — the RefinedWeb/Gopher
    family's "duplicated n-gram" content filter at corpus granularity
    (``repetition_scores`` measures repetition WITHIN one doc; this
    measures how much of a doc is boilerplate shared ACROSS docs —
    near 1.0 means the doc is mostly template text even if no single
    whole-doc near-dup exists). Filter on ``out`` to drop them.

    Scale shape: n-grams are md5-hashed to 60-bit LONGS inside the
    shingle array (one projection, behind a plan barrier so Generate
    reads a bound array), so the explode, the doc-frequency count
    window and the per-doc aggregation all shuffle/sort 8-byte keys
    instead of multi-word strings — the dominant cost of any
    gram-granularity operator is shuffle bytes. The hash is the
    engine-portable md5 construction, so the SQL oracle computes the
    IDENTICAL keys and results hash-match even at the (astronomically
    rare) 60-bit collision. Two shuffles, everything linear, nothing
    all-pairs. ``shingles``: optional precomputed ``shingle_sets``.
    """
    from pyspark.sql import Window

    from pd_utils_spark.utils import plan_barrier

    if shingles is None:
        shingles = shingle_sets(df, textcol, idcol, n)
    hashed = plan_barrier(
        shingles.select(
            F.col(idcol),
            F.transform(
                F.col("shingles"),
                lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
            ).alias("__gh__"),
        )
    )
    ex = hashed.select(F.col(idcol), F.explode("__gh__").alias("__g__"))
    wg = Window.partitionBy("__g__")
    flagged = ex.withColumn("__df__", F.count(F.lit(1)).over(wg))
    per_doc = flagged.groupBy(idcol).agg(
        (
            F.sum((F.col("__df__") >= min_docs).cast("long")) / F.count(F.lit(1))
        ).alias(out)
    )
    return df.join(per_doc, idcol, "left").withColumn(
        out, F.coalesce(F.col(out), F.lit(0.0))
    )


def _dup_removal(occ: DataFrame, idcol: str, width: int) -> DataFrame:
    """``(idcol, pos)`` positions covered by a NON-KEEPER duplicate
    window, from an occurrence frame ``(idcol, pos, fp)`` whose
    windows span ``width`` positions. The keeper of each duplicated
    fingerprint is its global lowest ``(doc, pos)`` occurrence.

    Skew shape: keeper + count come from ONE ``groupBy(fp)``
    aggregate — ``min`` over the (doc, pos) struct and ``count`` both
    combine map-side, so a boilerplate fingerprint repeated in
    millions of documents reduces with partial aggregation instead of
    sorting its whole occurrence list in a single window task (the
    r6 ``row_number().over(partitionBy(fp))`` shape). The duplicated
    subset (one row per duplicated fingerprint) then meets the
    occurrences in an fp equi-join — broadcast when small, streamed
    hash join otherwise; never a full-partition sort."""
    key = F.struct(F.col(idcol).alias("i"), F.col("pos").alias("p"))
    # NOTE the occurrence subtree is consumed twice (agg + join probe)
    # and recomputes: an explicit repartition("fp") shared via
    # ReuseExchange was tried and did NOT reuse (column pruning makes
    # the two exchange subtrees non-identical) while ALSO moving the
    # partial agg after the shuffle — strictly worse for hot keys.
    # The double compute is a map-only tokenize+md5 pass (measured
    # ~+1 s serial at sf0.1 on dedup_substrings); the removed
    # single-task window sort was the 100 TB straggler. Tradeoff kept.
    dup = (
        occ.groupBy("fp")
        .agg(
            F.min(key).alias("__keep__"),
            F.count(F.lit(1)).alias("__cnt__"),
        )
        .filter(F.col("__cnt__") > 1)
        .select("fp", "__keep__")
    )
    return (
        occ.join(dup, "fp")
        .filter(key != F.col("__keep__"))
        .select(
            F.col(idcol),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(width - 1))
            ).alias("pos"),
        )
        .distinct()
    )


def _to_fixpoint(
    df: DataFrame,
    one_pass,
    idcol: str,
    out: str,
    max_passes: int,
) -> DataFrame:
    """Re-run ``one_pass`` (text frame -> deduped frame with ``out``)
    until a pass removes nothing, feeding each pass's output back as
    the text column. Terminates because every changing pass strictly
    shrinks total surviving content; ``max_passes`` bounds the loop
    defensively (raises if exhausted while still changing). Each
    round is localCheckpoint-ed so the replayed lineage stays one
    pass deep. Requires unique ``idcol`` (the convergence-count join
    row-multiplies on duplicates — see
    :func:`_rebuild_from_removal`'s CONTRACT note)."""
    cur = one_pass(df)
    for _ in range(max_passes):
        cur = materialize(cur, stable=True, eager=True)
        nxt = one_pass(cur.select(idcol, F.col(out).alias("text")))
        n_changed = (
            nxt.withColumnRenamed(out, "__new__")
            .join(cur.select(idcol, out), idcol)
            .filter(F.col("__new__") != F.col(out))
            .count()
        )
        if n_changed == 0:
            return cur
        cur = nxt
    raise RuntimeError(
        f"to_fixpoint did not converge within max_passes={max_passes}; "
        "raise max_passes (each changing pass strictly removes content, "
        "so convergence is guaranteed eventually)"
    )


def dedup_spans(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    n: int = 3,
    out: str = "clean_text",
    to_fixpoint: bool = False,
    max_passes: int = 10,
) -> DataFrame:
    """C4's duplicated three-sentence-span rule (Raffel et al. 2020
    §2.2: "we discarded all but one of any three-sentence span
    occurring more than once in the data set"), at sentence
    granularity: sentences are period-split and trimmed (empties
    dropped), every ``n`` consecutive sentences form a span, the
    GLOBAL keeper of each duplicated span fingerprint is its lowest
    (doc, position) occurrence, and every sentence covered by a
    non-keeper duplicate span is removed. Documents are rebuilt from
    surviving sentences joined with ``". "`` — terminal punctuation is
    normalized away (the price of an engine-portable splitter; '!'/'?'
    stay inside their sentence). Complements :func:`dedup_lines`
    (single repeated LINES, frequency-threshold rule): spans catch
    multi-sentence boilerplate that never shares a line break, and
    keep ONE copy rather than deleting all.

    NOT IDEMPOTENT: reassembly ('. '-joined survivors) creates NEW
    sentence adjacencies — sentences that were never neighbors become
    an ``n``-span after a removal cuts between them, and such a span
    can collide with a span kept elsewhere, so a second pass may
    remove further content (same is true of the C4 rule itself
    applied as a corpus pipeline stage). One pass implements exactly
    the published rule; pass ``to_fixpoint=True`` to re-run until no
    span is removed (bounded by ``max_passes``; each changing pass
    strictly shrinks the corpus, so convergence is guaranteed) when a
    rerun-stable output matters, e.g. pipelines that may re-ingest
    their own output.

    Scale shape: ONE ``groupBy`` on the 16-byte span fingerprint
    (min-struct keeper + count, both map-side partial), one fp
    equi-join of the duplicated subset back to occurrences (broadcast
    when small), one sentence-level anti join, one per-doc reassembly
    aggregate. Positions are compacted per doc before spanning, so
    blank segments ("a.. b") cannot shift span coverage. Nothing is
    ever all-pairs and no per-fingerprint sort exists: a boilerplate
    span repeated in millions of docs reduces with partial
    aggregation — linear, and the removal explode is ``n`` rows per
    duplicate occurrence. ``idcol`` must be unique (see
    :func:`_rebuild_from_removal`'s CONTRACT note).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")

    def one_pass(frame: DataFrame, tc: str = "text") -> DataFrame:
        sp = span_fingerprints(frame, tc, idcol, n)
        removal = _dup_removal(sp, idcol, n)
        return _rebuild_from_sentences(frame, removal, idcol, out, tc)

    if not to_fixpoint:
        return one_pass(df, textcol)
    return _to_fixpoint(
        df.select(idcol, F.col(textcol).alias("text")),
        one_pass,
        idcol,
        out,
        max_passes,
    )


def dedup_substrings(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    min_tokens: int = 20,
    out: str = "clean_text",
    to_fixpoint: bool = False,
    max_passes: int = 10,
) -> DataFrame:
    """ExactSubstr-style duplicated-substring removal at TOKEN
    granularity (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" §4.1: remove every duplicated substring
    above a length threshold, keeping one occurrence): every window
    of ``min_tokens`` consecutive whitespace tokens is fingerprinted;
    a window whose fingerprint occurs more than once in the corpus
    keeps only its GLOBAL lowest-(doc, position) occurrence, and
    every token covered by a non-keeper duplicate window is removed.
    Because a duplicated run of L >= min_tokens tokens contains
    L - min_tokens + 1 duplicated windows covering all L positions,
    maximal duplicated runs are removed in full while runs shorter
    than ``min_tokens`` are never touched — the paper's
    length-thresholded semantics without suffix arrays. Documents are
    rebuilt from surviving tokens joined with a single space
    (whitespace normalization is the price of the engine-portable
    tokenizer; token BYTES are preserved exactly, unlike the
    period-normalizing sentence splitter of :func:`dedup_spans`).

    Complements the family: :func:`dedup_lines` (verbatim LINE
    boilerplate), :func:`dedup_spans` (sentence-span C4 rule), this
    (token-exact runs that respect neither line nor sentence
    boundaries — the licence-header/navigation-chrome case the paper
    targets).

    Determinism note: when different windows of one long duplicated
    region have different global keepers (interleaved corpora), the
    region can be partially removed on every copy; with the usual
    lowest-doc-first layout one copy survives intact. The rule is a
    pure function of the data either way.

    NOT IDEMPOTENT: the space-joined reassembly creates NEW token
    adjacencies — tokens that were never neighbors become a window
    after a removal cuts between them, and such a window can collide
    with a window kept elsewhere, so a second pass may remove further
    content (ExactSubstr shares this: Lee et al. dedup a fixed
    corpus once and do not claim rerun stability). One pass
    implements exactly the published length-thresholded rule; pass
    ``to_fixpoint=True`` to re-run until no token is removed (bounded
    by ``max_passes``; each changing pass strictly shrinks the
    corpus, so convergence is guaranteed) when re-ingesting your own
    output must be a no-op.

    Scale shape: ONE ``groupBy`` on the 16-byte window fingerprint
    (min-struct keeper + count, both map-side partial), one fp
    equi-join of the duplicated subset back to occurrences (broadcast
    when small), one token-level anti join, one per-doc reassembly
    aggregate — the :func:`dedup_spans` plan at token granularity. A
    boilerplate run repeated across millions of documents reduces
    with partial aggregation (no per-fingerprint occurrence sort);
    nothing is ever all-pairs and no suffix array is materialized.
    ``idcol`` must be unique (see :func:`_rebuild_from_removal`'s
    CONTRACT note).
    """
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1: {min_tokens}")
    k = min_tokens

    def one_pass(frame: DataFrame, tc: str = "text") -> DataFrame:
        wins = substring_fingerprints(frame, tc, idcol, k)
        removal = _dup_removal(wins, idcol, k)
        return _rebuild_from_tokens(frame, removal, idcol, out, tc)

    if not to_fixpoint:
        return one_pass(df, textcol)
    return _to_fixpoint(
        df.select(idcol, F.col(textcol).alias("text")),
        one_pass,
        idcol,
        out,
        max_passes,
    )


def _ws_token_array(textcol: str) -> Column:
    """Whitespace-split tokens with empties dropped, as ONE map-only
    array expression (byte-exact tokens, unlike the normalizing
    shingle pipeline). Filtering INSIDE the array means positions are
    compacted for free — r6 exploded first and re-numbered with a
    row_number window, paying a per-doc exchange+sort in every
    consumer (three per dedup_substrings call)."""
    return F.filter(
        F.split(F.trim(F.col(textcol)), r"\s+"),
        lambda t: F.length(t) > 0,
    )


def substring_fingerprints(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    min_tokens: int = 20,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """``(idcol, pos, fp)`` — md5 of every window of ``min_tokens``
    consecutive whitespace tokens (1-based start position). The
    reusable stage under :func:`dedup_substrings` /
    :func:`dedup_substrings_against`; also what you PERSIST as the
    history table for incremental substring dedup (16-byte
    fingerprints, no text retained). ``min_tokens`` is stamped into
    the ``fp`` column's metadata (preserved through parquet
    round-trips) so :func:`dedup_substrings_against` can reject a
    persisted table built with a different window width — a
    mismatched ``k`` would otherwise silently match zero fingerprints
    and remove nothing."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1: {min_tokens}")
    k = min_tokens
    if tokens is not None:
        # exploded (id, pos, tok) handed in: re-assemble the array
        # (compat path — callers holding only the exploded view)
        per = tokens.groupBy(idcol).agg(
            F.array_sort(
                F.collect_list(F.struct("pos", F.col("__tok__").alias("t")))
            ).alias("__st__")
        ).select(
            idcol,
            F.transform(F.col("__st__"), lambda s: s["t"]).alias("__arr__"),
        )
    else:
        # map-only: the token array is a pure column expression — no
        # explode, no per-doc collect_list agg, no exchange (r7; the
        # r6 explode->re-collect shape paid a doc_id shuffle in every
        # consumer, and dedup_substrings consumes this subtree twice)
        per = df.select(
            F.col(idcol), _ws_token_array(textcol).alias("__arr__")
        )
    n = F.size("__arr__")
    return per.filter(n >= k).select(
        F.col(idcol),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice("__arr__", i, k))),
            )
        ).alias("__w0__", "fp"),
    ).select(
        idcol,
        (F.col("__w0__") + 1).alias("pos"),
        F.col("fp").alias("fp", metadata={"min_tokens": k}),
    )


def _rebuild_from_removal(
    df: DataFrame,
    removal: DataFrame,
    idcol: str,
    out: str,
    arr: Column,
    sep: str,
) -> DataFrame:
    """``(idcol, out)``: reassemble each doc from its segment array
    ``arr`` (a pure column expression over ``df``) minus the
    ``(idcol, pos)`` removal set, joined with ``sep``.

    Scale shape (r7): the removal set — rows only for REMOVED
    positions, usually a small fraction of the corpus — aggregates to
    one position-array per affected doc and joins back on the doc id
    (broadcast when small); surviving positions come from
    ``array_except(sequence(1, n), removed)`` (hash-set semantics,
    O(tokens + removals) per doc, left order preserved) and the text
    is rebuilt map-side. The r6 shape anti-joined EVERY token row on
    (id, pos) and re-collected survivors per doc — two full-corpus
    shuffles of exploded token rows, versus at most one doc-level
    join here. Docs with every position removed yield ''.

    CONTRACT: ``idcol`` must be unique in ``df``. The whole
    reassembly-dedup family assumes it — the keeper rule identifies
    an occurrence by (id, pos), this join emits one output row PER
    input row of ``df`` (duplicate ids each pick up the same removal
    array), and ``_to_fixpoint``'s convergence-count join
    row-multiplies on duplicate ids. A distributed uniqueness check
    costs a full extra shuffle per call, so it is deliberately NOT
    performed; deduplicate ids upstream (``dedup_exact`` on the id)
    if your ingest can repeat them."""
    empty = F.array().cast("array<int>")
    rm = removal.groupBy(idcol).agg(F.collect_set("pos").alias("__rm__"))
    n = F.size(arr)
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(empty)
    kept = F.array_except(seq, F.coalesce(F.col("__rm__"), empty))
    text = F.concat_ws(
        sep, F.transform(kept, lambda p: F.element_at(arr, p))
    )
    return df.join(rm, idcol, "left").select(F.col(idcol), text.alias(out))


def _rebuild_from_tokens(
    df: DataFrame,
    removal: DataFrame,
    idcol: str,
    out: str,
    textcol: str = "text",
) -> DataFrame:
    """Token-granularity reassembly (space-joined) — see
    :func:`_rebuild_from_removal`."""
    return _rebuild_from_removal(
        df, removal, idcol, out, _ws_token_array(textcol), " "
    )


def dedup_substrings_against(
    df: DataFrame,
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    min_tokens: int = 20,
    out: str = "clean_text",
    history_is_fingerprints: bool = False,
) -> DataFrame:
    """Incremental ExactSubstr dedup for streaming/batch ingestion:
    every ``min_tokens``-token window of the NEW batch whose
    fingerprint already exists in ``history`` is removed (ALL its
    occurrences — history holds the kept copy) and documents are
    rebuilt like :func:`dedup_substrings`. Within-batch duplicates
    are NOT touched (run dedup_substrings for that); the two compose
    in either order — the same contract as
    :func:`dedup_spans_against` / :func:`exact_dedup_against`.

    ``history`` is a document frame by default; pass
    ``history_is_fingerprints=True`` to hand a persisted
    :func:`substring_fingerprints` output instead (the recommended
    shape — 16-byte fps, no text retained, unionable batch over
    batch). Membership is a left-semi join on the fingerprint; AQE
    broadcasts it when small, hash-joins otherwise — never all-pairs.
    """
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1: {min_tokens}")
    k = min_tokens
    wins = substring_fingerprints(df, textcol, idcol, k)
    if history_is_fingerprints:
        # a history built with a different window width silently
        # matches nothing — reject it when the stamp is present
        # (tables persisted before the stamp existed carry none)
        hist_k = dict(history.schema["fp"].metadata or {}).get("min_tokens")
        if hist_k is not None and int(hist_k) != k:
            raise ValueError(
                "history fingerprints were built with "
                f"min_tokens={hist_k}, but this call uses "
                f"min_tokens={k}; rebuild the history with "
                "substring_fingerprints(min_tokens="
                f"{k}) or pass min_tokens={hist_k}"
            )
    hist_fp = (
        history.select("fp")
        if history_is_fingerprints
        else substring_fingerprints(history, textcol, idcol, k).select("fp")
    ).distinct()
    removal = (
        wins.join(hist_fp, "fp", "left_semi")
        .select(
            F.col(idcol),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return _rebuild_from_tokens(df, removal, idcol, out, textcol)


def _sentence_array(textcol: str) -> Column:
    """Period-split, trimmed sentences with empties dropped, as ONE
    map-only array expression — positions compact for free (see
    :func:`_ws_token_array` for why this replaced the r6
    explode -> row_number-window shape)."""
    return F.filter(
        F.transform(F.split(F.col(textcol), r"\."), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )


def span_fingerprints(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    n: int = 3,
    sentences: DataFrame | None = None,
) -> DataFrame:
    """``(idcol, pos, fp)`` — the md5 fingerprint of every ``n``
    consecutive-sentence span (1-based start position). The reusable
    stage under :func:`dedup_spans` / :func:`dedup_spans_against`;
    also what you PERSIST as the history table for incremental span
    dedup (16-byte fingerprints, no text retained). ``n`` is stamped
    into the ``fp`` column's metadata so
    :func:`dedup_spans_against` can reject a persisted table built
    with a different span width."""
    if n < 1:
        raise ValueError(f"n must be >= 1: {n}")
    if sentences is not None:
        # exploded (id, pos, sent) handed in: re-assemble (compat path)
        per = sentences.groupBy(idcol).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("pos"), F.col("__sent__").alias("s"))
                    )
                ),
                lambda x: x["s"],
            ).alias("__arr__")
        )
    else:
        # map-only array expression — no explode, no per-doc agg (r7)
        per = df.select(
            F.col(idcol), _sentence_array(textcol).alias("__arr__")
        )
    arr = F.col("__arr__")
    sz = F.size(arr)
    spans = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - F.lit(n - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.md5(
                    F.lower(F.concat_ws(" </s> ", F.slice(arr, i, n)))
                ).alias("fp"),
            ),
        ),
    ).otherwise(F.lit(None))
    return per.select(F.col(idcol), F.explode(spans).alias("__sp__")).select(
        F.col(idcol),
        F.col("__sp__.pos").alias("pos"),
        F.col("__sp__.fp").alias("fp", metadata={"n": n}),
    )


def _rebuild_from_sentences(
    df: DataFrame,
    removal: DataFrame,
    idcol: str,
    out: str,
    textcol: str = "text",
) -> DataFrame:
    """Sentence-granularity reassembly ('. '-joined) — see
    :func:`_rebuild_from_removal`."""
    return _rebuild_from_removal(
        df, removal, idcol, out, _sentence_array(textcol), ". "
    )


def dedup_spans_against(
    df: DataFrame,
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    n: int = 3,
    out: str = "clean_text",
    history_is_fingerprints: bool = False,
) -> DataFrame:
    """Incremental C4-span dedup for streaming/batch ingestion: every
    ``n``-sentence span of the NEW batch whose fingerprint already
    exists in ``history`` is removed (ALL its occurrences — history
    holds the kept copy), and documents are rebuilt like
    :func:`dedup_spans`. Within-batch duplicates are NOT touched (run
    dedup_spans for that); the two compose in either order.

    ``history`` is a document frame by default; pass
    ``history_is_fingerprints=True`` to hand a persisted
    :func:`span_fingerprints` output instead (the recommended shape —
    16-byte fps, no text retained, unionable batch over batch). The
    membership test is a left-semi join on the fingerprint; AQE
    broadcasts it when small, hash-joins otherwise — never all-pairs.
    """
    sp = span_fingerprints(df, textcol, idcol, n)
    if history_is_fingerprints:
        hist_n = dict(history.schema["fp"].metadata or {}).get("n")
        if hist_n is not None and int(hist_n) != n:
            raise ValueError(
                f"history fingerprints were built with n={hist_n}, but "
                f"this call uses n={n}; rebuild the history with "
                f"span_fingerprints(n={n}) or pass n={hist_n}"
            )
    hist_fp = (
        history.select("fp")
        if history_is_fingerprints
        else span_fingerprints(history, textcol, idcol, n).select("fp")
    ).distinct()
    removal = (
        sp.join(hist_fp, "fp", "left_semi")
        .select(
            F.col(idcol),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    return _rebuild_from_sentences(df, removal, idcol, out, textcol)


def dedup_lines(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    max_docs: int = 1,
    min_chars: int = 0,
    normalize: bool = True,
    sep: str = "\n",
) -> DataFrame:
    """Line/paragraph-level deduplication: remove every line whose
    (normalized) content appears in MORE than ``max_docs`` distinct
    documents, then reassemble each document from its surviving lines
    in original order — the C4/RefinedWeb-style repeated-boilerplate
    removal that whole-document dedup cannot express (nav bars, cookie
    banners, license footers repeat across docs whose bodies differ).

    - ``max_docs=1``: a line may appear in only one document; any line
      shared across documents is removed from ALL of them (the strict
      C4 rule is "three-sentence span seen before"; the unit here is
      the line/paragraph, the granularity corpus pipelines typically
      use for web text).
    - ``min_chars``: lines whose normalized form is shorter than this
      are exempt (always kept). Empty-after-normalization lines are
      ALWAYS exempt regardless of ``min_chars`` — blank lines carry no
      content, and deduplicating them breaks idempotence (a rebuilt
      empty document would otherwise contribute a phantom empty line
      on a second pass).
    - Documents whose every line is removed keep an empty string.

    Scale shape: split+posexplode is map-only; the doc-frequency count
    is one distinct + one partial-agg on the line fingerprint; the
    over-threshold fingerprint set (repeated boilerplate only — far
    smaller than the distinct-line universe) semi-joins back (AQE
    broadcasts it when small) to produce the REMOVED (id, pos) rows
    only; reassembly is map-side via ``array_except`` over the line
    positions (r7 — the prior shape pushed every surviving line
    through a corpus-wide ``collect_list`` regroup). Nothing is ever
    all-pairs and no driver action runs.
    """
    import re as _re

    t = F.col(textcol)
    # sep is a LITERAL separator (regex-escaped for Spark's split)
    lines = df.select(
        F.col(idcol),
        F.posexplode_outer(F.split(t, _re.escape(sep))).alias("__pos__", "__line__"),
    )
    norm = _norm(F.col("__line__")) if normalize else F.col("__line__")
    # 60-bit engine-portable fingerprint (long, not the md5 hex string)
    # — the frequency count and anti-join shuffle 8-byte keys
    fp = F.conv(F.substring(F.md5(norm.cast("string")), 1, 15), 16, 10).cast("bigint")
    # floor of 1: empty normalized lines are unconditionally exempt
    # (idempotence — see docstring)
    lines = lines.withColumn("__fp__", fp).withColumn(
        "__exempt__", F.length(norm) < F.greatest(F.lit(1), F.lit(min_chars))
    )
    bad = (
        lines.filter(~F.col("__exempt__"))
        .select("__fp__", idcol)
        .distinct()
        .groupBy("__fp__")
        .agg(F.count("*").alias("__nd__"))
        .filter(F.col("__nd__") > max_docs)
        .select("__fp__")
    )
    removal = (
        lines.join(bad, "__fp__", "left_semi")
        .select(F.col(idcol), (F.col("__pos__") + 1).alias("pos"))
    )
    rm = removal.groupBy(idcol).agg(F.collect_set("pos").alias("__rm__"))
    arr = F.split(t, _re.escape(sep))
    n = F.size(arr)
    empty = F.array().cast("array<int>")
    kept_pos = F.array_except(
        F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(empty),
        F.coalesce(F.col("__rm__"), empty),
    )
    rebuilt = F.array_join(
        F.transform(kept_pos, lambda p: F.element_at(arr, p)), sep
    )
    joined = df.join(rm, idcol, "left")
    return joined.select(
        *[
            F.coalesce(rebuilt, F.lit("")).alias(c)
            if c == textcol
            else F.col(c)
            for c in df.columns
        ]
    )


def repeated_lines(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    min_docs: int = 2,
    min_chars: int = 0,
    normalize: bool = True,
    sep: str = "\n",
) -> DataFrame:
    """Diagnostic companion to ``dedup_lines``: the distinct lines
    appearing in at least ``min_docs`` documents, with their document
    frequency — ``(line, n_docs)``, highest frequency first. Surfaces
    WHAT the boilerplate is before committing to removal (tune
    ``max_docs`` / blocklists from this). Same map-side explode + one
    count aggregation; output is the (small) repeated-line set only.
    """
    import re as _re

    t = F.col(textcol)
    lines = df.select(
        F.col(idcol), F.explode_outer(F.split(t, _re.escape(sep))).alias("__line__")
    )
    norm = _norm(F.col("__line__")) if normalize else F.col("__line__")
    # same floor as dedup_lines: empty normalized lines never count
    lines = lines.withColumn("__norm__", norm).filter(
        F.length("__norm__") >= F.greatest(F.lit(1), F.lit(min_chars))
    )
    return (
        lines.select("__norm__", idcol)
        .distinct()
        .groupBy("__norm__")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select(F.col("__norm__").alias("line"), "n_docs")
        .orderBy(F.desc("n_docs"), "line")
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    out: str = "component",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given as id pairs:
    ``(node, component)`` for every node appearing in ``pairs``, where
    ``component`` is the smallest node id in that node's component —
    the canonical, engine-portable representative.

    Near-duplicate pairs (LSH, SimHash, embedding buckets) form a
    GRAPH; keeping one doc per *pair* under- or over-deletes on
    chains (a~b, b~c but not a~c). The standard corpus-dedup recipe is
    one survivor per connected component — this operator is that
    missing closure step (compose: ``lsh_candidate_pairs`` →
    ``jaccard_pairs`` filter → ``connected_components`` →
    ``dedup_connected``).

    Algorithm: min-label propagation with POINTER JUMPING. Each round
    (a) every node takes the min label over itself and its neighbors
    (one shuffle: edge join + groupBy), then (b) labels are replaced
    by their label's label (one self-join) — path halving, so chains
    converge in O(log n) rounds instead of O(n). Labels are
    checkpointed per round to truncate lineage (iterative plans grow
    without bound otherwise); convergence is one ``limit(1).count()``
    action on the changed-rows frame. At 100 TB the edge frame
    (near-dup pairs) is orders of magnitude smaller than the corpus —
    the rounds shuffle pairs, never documents.

    ``checkpoint_dir``: when set, per-round label frames use RELIABLE
    checkpointing (:func:`~pd_utils_spark.utils.reliable_checkpoints`)
    — blocks land on the shared checkpoint store
    (HDFS/S3), so an executor loss mid-run recovers and a long 100 TB
    dedup job survives dynamic allocation. The default (None) keeps
    ``localCheckpoint``: faster (executor-local blocks, no FS
    round-trip) but an executor loss after a round is job-fatal
    because the truncated lineage cannot recompute the lost blocks —
    fine for local / small runs, not for multi-hour cluster jobs.
    The SparkContext's checkpoint dir (a session-global setting) is
    restored to its prior value on exit, so the call does not silently
    switch unrelated later checkpoint users into a different mode;
    every checkpoint this run wrote is already eagerly materialized
    before the restore, so the returned frame stays valid.
    """
    with reliable_checkpoints(pairs.sparkSession, checkpoint_dir):
        return _cc_run(pairs, src, dst, out, max_iter)


def _cc_run(pairs, src, dst, out, max_iter):
    a, b = F.col(src).alias("a"), F.col(dst).alias("b")
    # Materialize the edge list BEFORE the symmetrizing union: the union
    # references `edges` twice, and an un-materialized self-union makes
    # Spark execute the caller's (possibly very expensive — LSH+Jaccard)
    # pair pipeline once PER BRANCH. Measured at sf0.1: checkpointing
    # first halves the end-to-end connected_components query (~24s->12s).
    edges = materialize(
        pairs.select(a, b).filter(F.col("a") != F.col("b")).distinct(),
        stable=True, eager=True,
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )

    labels = materialize(
        sym.groupBy("a").agg(F.min("b").alias("__m__")).select(
            F.col("a").alias("__id__"), F.least("a", "__m__").alias("__c__")
        ),
        stable=True, eager=True,
    )

    from pd_utils_spark.utils import observed_metrics

    for _round in range(max_iter):
        # (a) propagate: c(v) <- min(c(v), min_{u in N(v)} c(u))
        nbr = (
            sym.join(labels, sym["b"] == labels["__id__"])
            .groupBy("a")
            .agg(F.min("__c__").alias("__nc__"))
        )
        prop = (
            labels.join(nbr, labels["__id__"] == nbr["a"], "left")
            .select(
                "__id__",
                F.col("__c__").alias("__prev__"),
                F.least("__c__", F.coalesce("__nc__", "__c__")).alias("__c__"),
            )
        )
        # (b) pointer jump: c(v) <- c(c(v)) — halves label chains
        jump = prop.alias("x").join(
            labels.select(
                F.col("__id__").alias("__j__"), F.col("__c__").alias("__jc__")
            ).alias("y"),
            F.col("x.__c__") == F.col("y.__j__"),
            "left",
        ).select(
            F.col("x.__id__").alias("__id__"),
            F.col("x.__prev__").alias("__prev__"),
            F.least(
                F.col("x.__c__"), F.coalesce(F.col("y.__jc__"), F.col("x.__c__"))
            ).alias("__c__"),
        )
        # convergence check rides the checkpoint job as an observe
        # metric — one action per round instead of two (the extra
        # limit(1).count() job was pure scheduling overhead on small
        # graphs and a full extra pass on big ones)
        metric = f"__cc_changed_{_round}__"
        obs = jump.observe(
            metric,
            F.sum((F.col("__c__") != F.col("__prev__")).cast("long")).alias("n"),
        )
        ckpt = materialize(obs, stable=True, eager=True)
        got = observed_metrics(obs).get(metric)
        if got is not None:
            changed = int(got["n"] or 0)
        else:  # pragma: no cover — metric not fired (engine change)
            changed = ckpt.filter(F.col("__c__") != F.col("__prev__")).limit(1).count()
        labels = ckpt.select("__id__", "__c__")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    return labels.select(F.col("__id__").alias(src), F.col("__c__").alias(out))


def dedup_connected(
    df: DataFrame,
    pairs: DataFrame,
    idcol: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive near-dup deduplication: one survivor (the smallest
    id) per connected component of the near-dup pair graph; docs in no
    pair survive untouched. This is the transitive-closure variant of
    ``dedup_minhash_lsh``'s pairwise min-id rule: on (1~3, 2~3) the
    pairwise rule keeps {1, 2} (2 has no smaller near-dup), while the
    component rule keeps only {1} — 2 and 3 share a cluster through 3.
    Closure is what the big corpus pipelines (C4/Gopher-style MinHash
    dedup) apply; pick pairwise when similarity must be direct
    evidence. One CC run over the (small) pair frame + one left-anti
    join on the corpus.
    """
    comp = connected_components(pairs, src, dst, checkpoint_dir=checkpoint_dir)
    losers = comp.filter(F.col(src) != F.col("component")).select(
        F.col(src).alias(idcol)
    )
    return df.join(losers, idcol, "left_anti")


def winnow_containment_pairs(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Document pairs sharing at least ``min_shared`` winnowing
    fingerprints, with a containment score — POSITION-ROBUST substring
    containment detection (quotes, partial copies, boilerplate blocks
    embedded in otherwise-different documents), the case MinHash/LSH
    handles poorly: whole-set Jaccard dilutes a long doc containing a
    short one, while winnowing guarantees any shared run of
    ``window + k - 1`` tokens shares a fingerprint (Schleimer et al.,
    SIGMOD 2003 — the MOSS guarantee).

    Output: ``(id_a, id_b, n_shared, containment)`` with ``id_a <
    id_b`` and ``containment = n_shared / min(|fp_a|, |fp_b|)`` — 1.0
    means the smaller document's fingerprint set is fully inside the
    larger's.

    Scale shape: fingerprints hash to 60-bit longs before the shuffle
    (the SCALE.md gram lesson), buckets over-``max_bucket`` are dropped
    with an observe metric (ubiquitous boilerplate fingerprints would
    otherwise fan out O(B^2)), and the pair count is one equi-self-join
    on the fingerprint + one aggregation — never all-pairs over docs.
    Per-doc fingerprint counts are taken AFTER the cap so n_shared and
    the containment denominator describe the same surviving set.
    """
    from pd_utils_spark.extensions.text import winnowing_fingerprints

    wf = winnowing_fingerprints(df, textcol, k, window, idcol, out="__ws__")
    fp = F.conv(F.substring(F.col("__w__"), 1, 15), 16, 10).cast("bigint")
    ex = (
        wf.select(F.col(idcol), F.explode("__ws__").alias("__w__"))
        .select(F.col(idcol), fp.alias("__fp__"))
        .distinct()
    )
    if max_bucket is not None:
        # spread=False: this frame is corpus-sized in bytes (one row
        # per doc-fingerprint), so AQE sizes the cap window's exchange
        # correctly — the r11 unconditional pin cost this operator
        # ~10% at the driver with no one-task collapse to prevent
        ex = _cap_buckets(ex, ["__fp__"], max_bucket, "winnow_cap", spread=False)
    # per-doc counts come from the CAPPED frame so numerator and
    # denominator are consistent: a boilerplate-heavy contained doc
    # can still reach containment = 1.0 on its surviving fingerprints
    # (counting pre-cap would deflate containment and silently sink
    # pairs below min_shared)
    counts = ex.groupBy(idcol).agg(F.count("*").alias("__nfp__"))
    a = ex.select(F.col(idcol).alias("id_a"), "__fp__")
    b = ex.select(F.col(idcol).alias("id_b"), "__fp__")
    shared = (
        a.join(b, "__fp__")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    ca = counts.select(F.col(idcol).alias("id_a"), F.col("__nfp__").alias("__na__"))
    cb = counts.select(F.col(idcol).alias("id_b"), F.col("__nfp__").alias("__nb__"))
    return (
        shared.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("n_shared") / F.least("__na__", "__nb__")).alias("containment"),
        )
    )


def source_overlap(
    df: DataFrame,
    source_col: str = "source",
    textcol: str = "text",
    k: int = 3,
) -> DataFrame:
    """Pairwise content overlap between sources at k-word-shingle
    granularity: for every unordered source pair (a < b),

    - ``n_shared``: distinct shingle fingerprints present in BOTH;
    - ``n_a`` / ``n_b``: each side's distinct-fingerprint count;
    - ``jaccard``: n_shared / (n_a + n_b - n_shared);
    - ``containment``: n_shared / min(n_a, n_b).

    The corpus-planning diagnostic before cross-source dedup: high
    containment says one source is largely a subset of another
    (CommonCrawl dumps, re-crawls, mirror sites) and dedup order
    matters; near-zero overlap says per-source dedup suffices.

    Scale shape: shingles hash to 60-bit longs BEFORE the distinct
    (8-byte shuffle keys — the SCALE.md gram lesson), the per-source
    distinct is one partial-agg shuffle, and the self-join fans out on
    fp with at most n_sources matches per fingerprint — never
    all-pairs over documents. Output is s*(s-1)/2 rows.
    """
    norm = _norm(F.col(textcol))
    toked = df.select(
        F.col(source_col).alias("__src__"),
        norm.alias("__norm__"),
        _tokens(norm).alias("__toks__"),
    )
    sh = toked.select(
        "__src__",
        F.explode(
            _shingles_from_toks(F.col("__norm__"), F.col("__toks__"), k)
        ).alias("__g__"),
    )
    fp = F.conv(F.substring(F.md5(F.col("__g__")), 1, 15), 16, 10).cast("bigint")
    pairs = sh.select("__src__", fp.alias("__fp__")).distinct()
    counts = pairs.groupBy("__src__").agg(F.count("*").alias("__n__"))
    a, b = pairs.alias("a"), pairs.alias("b")
    shared = (
        a.join(b, F.col("a.__fp__") == F.col("b.__fp__"))
        .filter(F.col("a.__src__") < F.col("b.__src__"))
        .groupBy(
            F.col("a.__src__").alias("source_a"),
            F.col("b.__src__").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(
        F.col("__src__").alias("source_a"), F.col("__n__").alias("n_a")
    )
    cb = counts.select(
        F.col("__src__").alias("source_b"), F.col("__n__").alias("n_b")
    )
    return (
        shared.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
            (F.col("n_shared") / F.least("n_a", "n_b")).alias("containment"),
        )
        .orderBy(F.desc("jaccard"), "source_a", "source_b")
    )


def near_dup_analysis(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
    checkpoint_dir: str | None = None,
) -> dict[str, DataFrame]:
    """One-pass near-dup ANALYSIS bundle: build the verified pair
    graph ONCE, run connected components ONCE, and hand back every
    view a dedup decision needs:

    - ``pairs``: verified (id_a, id_b, jaccard >= threshold) edges;
    - ``components``: (id_a, component) min-id labels;
    - ``cluster_stats``: (component, cluster_size), largest first;
    - ``deduped``: the corpus with one min-id survivor per component.

    Why this exists: the consumers share two expensive intermediates —
    the LSH+Jaccard pair pipeline and the iterative CC labels. Run as
    separate queries each rebuilds both; sharing them measured 0.44×
    the independent total at sf0.1 (14.6 s -> 6.4 s for the
    components/deduped/cluster_stats trio — see SCALE.md round 4).
    The pair frame is persisted (memory-and-disk, lineage kept) and
    the CC labels are already materialized by the per-round
    checkpoints, so every returned frame is compute-once. Run it
    inside a :func:`~pd_utils_spark.utils.query_scope`, which releases
    the pins on exit.
    """
    sh = materialize(shingle_sets(df, textcol, idcol, k))
    cands = lsh_candidate_pairs(
        df, textcol, idcol, k, num_hashes, bands, max_bucket, shingles=sh
    )
    pairs = materialize(
        jaccard_pairs(df, cands, textcol, idcol, k, shingles=sh)
        .filter(F.col("jaccard") >= threshold)
    )
    comp = connected_components(
        pairs.select("id_a", "id_b"), checkpoint_dir=checkpoint_dir
    )
    losers = comp.filter(F.col("id_a") != F.col("component")).select(
        F.col("id_a").alias(idcol)
    )
    return {
        "pairs": pairs,
        "components": comp,
        "cluster_stats": comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .orderBy(F.desc("cluster_size"), "component"),
        "deduped": df.join(losers, idcol, "left_anti"),
    }


def simhash(
    df: DataFrame,
    textcol: str = "text",
    bits: int = 16,
    out: str = "simhash",
    idcol: str = "doc_id",
) -> DataFrame:
    """SimHash over whitespace tokens: token hash = first 15 hex chars
    of md5 as a 60-bit int; bit j of the output is 1 iff the sum of
    (+1 / -1) votes from token bits j is > 0 (ties -> 0). ``bits`` <=
    60. Near-identical docs differ in few bits (compare with
    ``hamming_distance``). Docs with no tokens hash to 0.

    Plan shape: tokens are EXPLODED, each token's md5 is computed
    ONCE, and the per-bit vote sums run as one partially-aggregated
    hash aggregation (shuffle carries ``bits`` longs per doc per map
    partition). The per-row ``aggregate()``-per-bit form recomputes
    every token's md5 once per bit — measured ~10x slower. Requires
    unique ``idcol`` values.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")
    # tokens materialized in their own projection before the explode —
    # Generate re-derives inline-computed arrays (see SCALE.md). The
    # barrier also stops InferFiltersFromGenerate's size()>0 guard from
    # re-deriving the tokenizer a second time inside a pre-Generate
    # Filter (visible as split(...) inside the Filter condition).
    from pd_utils_spark.utils import plan_barrier

    toked = plan_barrier(
        df.select(
            F.col(idcol).alias("__sh_id__"),
            _tokens(_norm(F.col(textcol))).alias("__sh_toks__"),
        )
    )
    ex = (
        toked.select("__sh_id__", F.explode("__sh_toks__").alias("__w__"))
        .filter(F.length("__w__") > 0)
        .withColumn(
            "__h__",
            F.conv(F.substring(F.md5("__w__"), 1, 15), 16, 10).cast("bigint"),
        )
    )
    aggs = [
        F.sum(F.shiftright(F.col("__h__"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(
            f"__v{j}__"
        )
        for j in range(bits)
    ]
    votes = ex.groupBy("__sh_id__").agg(*aggs)
    sh_col = None
    for j in range(bits):
        bit = F.when(F.col(f"__v{j}__") > 0, F.lit(2**j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sh_col = bit if sh_col is None else sh_col + bit
    sig = votes.select("__sh_id__", sh_col.alias(out))
    return (
        df.join(sig, df[idcol] == sig["__sh_id__"], "left")
        .drop("__sh_id__")
        .withColumn(out, F.coalesce(F.col(out), F.lit(0).cast("bigint")))
    )


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Population count of XOR — bit distance between two simhashes."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    bits: int = 60,
    max_hamming: int = 3,
    blocks: int | None = None,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup id pairs by SimHash: candidates share at least one of
    ``blocks`` (default max_hamming+1) bit-blocks (pigeonhole: any
    pair within ``max_hamming`` bits must agree on one block), then
    exact Hamming verification. One shuffle on (block, block value).

    Defaults are the scale-safe corner: ``bits=60`` with 4 blocks
    gives 15-bit block keys (32k values per block), so buckets stay
    sparse on real corpora — small ``bits`` (e.g. 16 -> 4-bit blocks,
    16 values) saturates every bucket past ~10k docs and the candidate
    join goes quadratic. ``max_bucket`` additionally drops any
    (block, value) bucket larger than the cap (boilerplate floods),
    mirroring ``lsh_candidate_pairs``; None keeps all.
    """
    blocks = blocks if blocks is not None else max_hamming + 1
    width = bits // blocks
    if width == 0:
        raise ValueError("more blocks than bits")
    sh = simhash(df.select(idcol, textcol), textcol, bits, idcol=idcol).select(
        idcol, "simhash"
    )
    # ONE explode pass over (block, block_val) structs computed from the
    # BOUND simhash column — cheap integer masks per row. The previous
    # union-of-`blocks`-projections form re-executed the entire simhash
    # aggregation once per branch (a union cannot reuse sibling plans;
    # measured ~2.5x slower end-to-end at sf0.1).
    block_structs = F.array(
        *[
            F.struct(
                F.lit(bI).alias("block"),
                F.col("simhash")
                .bitwiseAND(F.lit(((1 << width) - 1) << (bI * width)))
                .alias("block_val"),
            )
            for bI in range(blocks)
        ]
    )
    keyed = sh.select(
        idcol, "simhash", F.explode(block_structs).alias("__bk__")
    ).select(
        idcol,
        "simhash",
        F.col("__bk__.block").alias("block"),
        F.col("__bk__.block_val").alias("block_val"),
    )
    if max_bucket is not None:
        keyed = _cap_buckets(keyed, ["block", "block_val"], max_bucket, "simhash_bucket_cap")
    # Materialize before the self-join: the join sides are separate plan
    # subtrees (broadcast one side under AQE), so without this the whole
    # simhash aggregation + bucket-cap window executes once PER SIDE
    # (verified in the physical plan; same re-execution pathology as the
    # union it replaced). The keyed frame is tiny — one row per
    # (doc, block). Lazy + fault-tolerant (see utils.materialize).
    keyed = materialize(keyed)
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{idcol}") < F.col(f"b.{idcol}")),
        )
        .select(
            F.col(f"a.{idcol}").alias("id_a"),
            F.col(f"b.{idcol}").alias("id_b"),
            hamming_distance(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def jaccard_join_prefix(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.5,
    k: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT Jaccard-threshold similarity join via prefix filtering
    (the PPJoin/AllPairs family, Chaudhuri et al. 2006 / Xiao et al.
    2008): every pair of documents whose distinct-word Jaccard is
    ``>= threshold``, as ``(id_a, id_b, jaccard)`` with ``id_a <
    id_b`` — no candidate that qualifies is ever missed, unlike
    MinHash/LSH (:func:`lsh_candidate_pairs`), which trades recall
    for speed. The filter theorem: order every document's tokens by
    one GLOBAL rare-first order; two sets with Jaccard >= t MUST
    share a token within each one's first ``n - ceil(t*n) + 1``
    tokens, so indexing only prefixes finds every qualifying pair.

    Sets are distinct ``k``-word shingles (``k=1`` = plain words —
    note word-level Jaccard barely discriminates on template-heavy
    corpora; shingles are the near-dup standard and what
    :func:`lsh_candidate_pairs` uses, making the two directly
    comparable: same sets, exact vs approximate recall).

    Scale shape: one token-frequency agg, one join back + per-doc
    sort (array_sort of (df, token) structs — the global order is
    the TUPLE, no rank materialized), one prefix explode + token
    equi-join for candidates, and one exact verify join on the two
    bounded token arrays. Prefix tokens are each document's RAREST,
    so candidate buckets are the small tail of the frequency
    distribution — the designed-in flood protection (boilerplate
    tokens sit at the back of every prefix-ordered set and are never
    indexed). r8 adds the PPJoin POSITIONAL filter: each prefix match
    carries its positions, and a pair survives only if some match's
    overlap upper bound ``1 + min(na-pa, nb-pb)`` reaches the
    required ``ceil(t/(1+t)*(na+nb))`` — measured 64-70% fewer
    verify pairs at t=0.5-0.8 on the audit corpora (local wall-clock
    is within noise because the synthetic docs' token arrays are
    tiny; on real corpora the verify join hauls each candidate's
    full token arrays, and 64% fewer of them is the scale win). Use
    LSH when thresholds are low (prefixes grow as (1-t)·n) or when
    approximate recall is acceptable.

    Cache note: TWO frames stay pinned after the call — the compact
    (id, 64-bit token) frame (read by the document-frequency
    aggregate and the join back) and the sorted-token frame (read
    three times: prefix index + both verify sides). Both are reuse
    pins (:func:`~pd_utils_spark.utils.materialize`): run the join
    inside a :func:`~pd_utils_spark.utils.query_scope`, which
    unpersists them on exit whatever you did to the result.

    ``shingles``: optional precomputed :func:`shingle_sets` frame
    (idcol, shingles) — pass a persisted one to share shingle
    construction with an LSH stage (the `candidate_recall` audits run
    both generators over the same corpus; sharing removes one full
    tokenize+shingle pass).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if shingles is None:
        # inline shingle expression under the explode: feeding a
        # shingle_sets Project into Generate was MEASURED 2x slower
        # here (the uncollapsed intermediate materializes the token
        # array per row before the explode; git history r6) — the
        # opposite tradeoff from minhash, whose per-seed lambda
        # re-runs the tokenizer O(seeds) times without the split
        if k == 1:
            sets = F.array_distinct(_tokens(_norm(F.col(textcol))))
        else:
            sets = _shingle_set(F.col(textcol), k)
        exploded = df.select(
            F.col(idcol).alias("__id__"), F.explode(sets).alias("__raw__")
        )
    else:
        exploded = shingles.select(
            F.col(idcol).alias("__id__"),
            F.explode(F.col("shingles")).alias("__raw__"),
        )
    # 60-bit md5 fingerprints replace shingle STRINGS before anything
    # shuffles or compares: long equality beats multi-word string
    # hashing in both the candidate join and the verify intersections
    # (measured 21 s -> ~8 s on the sf0.1 self-join), and the oracle
    # replays the identical md5 arithmetic so exactness is preserved
    # (collision odds over a corpus's shingles are ~n^2 / 2^60)
    # TWO consumers read toks (the document-frequency agg and the
    # join back) — persisting the compact (id, 64-bit token) frame
    # halves the tokenize+shingle+md5 work (measured ~4 -> ~2.5 s
    # warm at sf0.1, r6); same retained-cache contract as sorted_docs
    toks = materialize(
        exploded
        .filter(F.length("__raw__") > 0)
        .select(
            "__id__",
            F.conv(F.substring(F.md5("__raw__"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("__tok__"),
        )
    )
    dfreq = toks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__df__"))

    # three consumers read this frame (prefix index + both verify
    # sides); without the persist the tokenize->hash->sort lineage
    # runs three times (measured 12.4 s -> 8 s at sf0.1)
    sorted_docs = materialize(
        toks.join(dfreq, "__tok__")
        .groupBy("__id__")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df__", "__tok__"))
            ).alias("__arr__")
        )
        .select(
            "__id__",
            F.transform(F.col("__arr__"), lambda s: s["__tok__"]).alias(
                "__toks__"
            ),
        )
    )
    n = F.size("__toks__")
    plen = (n - F.ceil(F.lit(float(threshold)) * n) + 1).cast("int")
    prefixes = sorted_docs.select(
        "__id__",
        n.alias("__n__"),
        F.posexplode(F.slice("__toks__", 1, plen)).alias(
            "__pos__", "__tok__"
        ),
    )
    # length filter (AllPairs): J(x, y) >= t forces t*|y| <= |x| <= |y|/t,
    # killing candidates whose sizes alone rule them out — measured to
    # cut the verify set several-fold on template corpora
    t_lit = F.lit(float(threshold))
    # positional filter (PPJoin, r8): a match on the tokens at
    # 1-based positions pa/pb bounds the overlap by
    # 1 + min(na - pa, nb - pb); J >= t needs overlap >=
    # ceil(t/(1+t) * (na + nb)). Correctness: for any qualifying
    # pair, its FIRST shared token in the global order is inside both
    # prefixes (it precedes whatever shared token the prefix-filter
    # lemma guarantees there) and for THAT match the bound is exact,
    # so keeping pairs where ANY match passes never loses a
    # qualifying pair. The 1e-9 slack makes the float alpha a lower
    # bound of the rational one (a relaxed filter only keeps more
    # candidates — exactness rests on the verify join, never here).
    tt = float(threshold) / (1.0 + float(threshold))
    na, nb = F.col("a.__n__"), F.col("b.__n__")
    pa = F.col("a.__pos__") + 1
    pb = F.col("b.__pos__") + 1
    alpha = F.ceil(
        F.lit(tt) * (na + nb).cast("double") - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(na - pa, nb - pb)
    cand = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.__tok__") == F.col("b.__tok__"))
            & (F.col("a.__id__") < F.col("b.__id__"))
            & (na.cast("double") >= t_lit * nb.cast("double"))
            & (nb.cast("double") >= t_lit * na.cast("double"))
            & (ubound >= alpha),
        )
        .select(
            F.col("a.__id__").alias("id_a"),
            F.col("b.__id__").alias("id_b"),
        )
        .distinct()
    )
    left = sorted_docs.select(
        F.col("__id__").alias("id_a"), F.col("__toks__").alias("__ta__")
    )
    right = sorted_docs.select(
        F.col("__id__").alias("id_b"), F.col("__toks__").alias("__tb__")
    )
    inter = F.size(F.array_intersect("__ta__", "__tb__")).cast("double")
    union = (
        F.size("__ta__").cast("double")
        + F.size("__tb__").cast("double")
        - inter
    )
    result = (
        cand.join(left, "id_a")
        .join(right, "id_b")
        .select(
            "id_a",
            "id_b",
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return result


def containment_join_prefix(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT set-CONTAINMENT threshold join: every ORDERED pair of
    documents where ``|A ∩ B| / |A| >= threshold`` — doc A's shingle
    set is (near-)contained in doc B's — as ``(id_contained,
    id_container, containment)``. This is the asymmetric relation
    :func:`jaccard_join_prefix` structurally misses: a truncation
    keeping fraction f of a document has Jaccard ~= f against its
    original (below any sensible threshold at f=0.35) but containment
    ~= 1.0 — quotes, excerpts, prefix crawls and subsumed revisions
    are containment phenomena, not Jaccard ones. Near-identical pairs
    qualify in BOTH directions and emit two rows.

    Filter theorem (probe-side prefix, the set-containment-join
    adaptation of AllPairs): order A's tokens by the global
    rare-first order; if at least ``t*|A|`` of A's tokens are in B, at
    most ``(1-t)*|A|`` are missing, so A shares a token with B inside
    A's first ``n - ceil(t*n) + 1`` tokens. The CONTAINER side has no
    prefix lemma (B may contain A anywhere), so B's full token list
    is indexed — candidates are A-prefix x B-inverted-index joins.
    A's prefix holds its RAREST tokens, so bucket products stay on
    the small tail of the frequency distribution; the one flood mode
    left is a tiny doc made ENTIRELY of boilerplate tokens (its
    prefix is forced into hot buckets). ``max_bucket`` (default None
    = exact) caps container-index buckets for that case — capping
    TRADES EXACT RECALL for flood protection (dropped rows surface on
    the ``containment_bucket`` observe metric), unlike every other
    filter here, which only prunes pairs the verify join would
    reject. Two more always-safe prunes: the length filter (``|B| >=
    t*|A|`` since the intersection fits in B) and the positional
    bound (a first shared token at 1-based position ``pa`` of A
    leaves at most ``|A| - pa + 1`` overlapping tokens, which must
    reach ``ceil(t*|A|)``; keeping pairs where ANY match passes is
    safe because the FIRST shared token also matches and its bound is
    the tightest). Exactness rests on the verify join over the two
    bounded token arrays, never on the filters.

    Scale shape mirrors :func:`jaccard_join_prefix`: one
    token-frequency agg, one join back + per-doc array sort, one
    prefix/index explode + equi-join, one verify join; the same TWO
    frames stay pinned until the caller's
    :func:`~pd_utils_spark.utils.query_scope` exits (see the cache note
    there).
    ``shingles``: optional precomputed :func:`shingle_sets` frame to
    share shingle construction across stages."""
    result, _toks, _sorted = _containment_join_prefix_parts(
        df, textcol, idcol, threshold, k, shingles, max_bucket
    )
    return result


def _containment_join_prefix_parts(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`containment_join_prefix` plus its two PERSISTED internal
    frames ``(result, toks, sorted_docs)`` so sibling consumers (e.g.
    :func:`dedup_containment`'s size lookup) can ride the already-
    cached token work instead of re-running the full shingle pass per
    subtree. Pin contract identical to the public form."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if shingles is None:
        if k == 1:
            sets = F.array_distinct(_tokens(_norm(F.col(textcol))))
        else:
            sets = _shingle_set(F.col(textcol), k)
        exploded = df.select(
            F.col(idcol).alias("__id__"), F.explode(sets).alias("__raw__")
        )
    else:
        exploded = shingles.select(
            F.col(idcol).alias("__id__"),
            F.explode(F.col("shingles")).alias("__raw__"),
        )
    toks = materialize(
        exploded
        .filter(F.length("__raw__") > 0)
        .select(
            "__id__",
            F.conv(F.substring(F.md5("__raw__"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("__tok__"),
        )
    )
    dfreq = toks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__df__"))
    sorted_docs = materialize(
        toks.join(dfreq, "__tok__")
        .groupBy("__id__")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df__", "__tok__"))
            ).alias("__arr__")
        )
        .select(
            "__id__",
            F.transform(F.col("__arr__"), lambda s: s["__tok__"]).alias(
                "__toks__"
            ),
        )
    )
    n = F.size("__toks__")
    t_lit = F.lit(float(threshold))
    plen = (n - F.ceil(t_lit * n - F.lit(1e-9)) + 1).cast("int")
    probes = sorted_docs.select(
        "__id__",
        n.alias("__n__"),
        F.posexplode(F.slice("__toks__", 1, plen)).alias(
            "__pos__", "__tok__"
        ),
    )
    # doc-size column named __dn__ on the index side: _cap_buckets
    # uses (and drops) __n__ internally for its bucket counts
    index = sorted_docs.select(
        "__id__",
        n.alias("__dn__"),
        F.explode("__toks__").alias("__tok__"),
    )
    if max_bucket is not None:
        index = _cap_buckets(index, ["__tok__"], max_bucket, "containment_bucket")
    na, nb = F.col("a.__n__"), F.col("b.__dn__")
    pa = F.col("a.__pos__") + 1
    need = F.ceil(t_lit * na.cast("double") - F.lit(1e-9))
    cand = (
        probes.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.__tok__") == F.col("b.__tok__"))
            & (F.col("a.__id__") != F.col("b.__id__"))
            & (nb.cast("double") >= t_lit * na.cast("double") - F.lit(1e-9))
            & ((na - pa + F.lit(1)) >= need),
        )
        .select(
            F.col("a.__id__").alias("id_contained"),
            F.col("b.__id__").alias("id_container"),
        )
        .distinct()
    )
    left = sorted_docs.select(
        F.col("__id__").alias("id_contained"),
        F.col("__toks__").alias("__ta__"),
    )
    right = sorted_docs.select(
        F.col("__id__").alias("id_container"),
        F.col("__toks__").alias("__tb__"),
    )
    inter = F.size(F.array_intersect("__ta__", "__tb__")).cast("double")
    result = (
        cand.join(left, "id_contained")
        .join(right, "id_container")
        .select(
            "id_contained",
            "id_container",
            (inter / F.size("__ta__").cast("double")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    return result, toks, sorted_docs


def dedup_containment(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Subsumption dedup: drop every document whose shingle set is
    ``>= threshold`` contained in a LARGER document's (ties on size
    broken toward the smaller id, so exact copies keep exactly one
    survivor) — truncations, quoted excerpts and prefix re-crawls
    collapse into their fullest version, the case Jaccard-threshold
    dedup leaves behind. Returns the surviving rows of ``df``.

    The drop rule is deliberately ONE-PASS against the original
    corpus, not iterated-to-survivors: a doc is dropped when ANY
    strictly-(bigger, or equal-size smaller-id) doc contains it. At
    ``threshold=1.0`` exact subset-ness is transitive, so the
    survivor set equals the maximal sets and iteration would change
    nothing; below 1.0 approximate containment does not compose
    (A 90%-in-B and B 90%-in-C does not bound A-in-C), so chasing
    chains through dropped intermediates would delete content no
    surviving doc actually covers — the one-pass rule never does.
    Deterministic on any partitioning (the orientation is a total
    order on (size, id)).

    Scale shape: :func:`containment_join_prefix` (its cost profile
    and ``max_bucket`` tradeoff apply verbatim) plus one size lookup
    join and one left-anti join back to ``df``."""
    survivors, _toks, _dropped = _dedup_containment_parts(
        df,
        textcol=textcol,
        idcol=idcol,
        threshold=threshold,
        k=k,
        max_bucket=max_bucket,
    )
    return survivors


def _dedup_containment_parts(
    df: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`dedup_containment` plus its PERSISTED internal frames
    ``(survivors, toks, dropped)`` so a pipeline running several
    containment stages over the same batch (the streaming gate:
    within-batch dedup -> history probe -> artifact build) can derive
    each stage's token frame from ONE shingle pass instead of
    re-tokenizing the batch text per stage (guide §1.2). ``toks`` is
    the exploded ``(__id__, __tok__)`` frame over ALL of ``df``;
    ``dropped`` the id frame of subsumed docs. Pin contract identical
    to the public form."""
    pairs, toks, sorted_docs = _containment_join_prefix_parts(
        df,
        textcol=textcol,
        idcol=idcol,
        threshold=threshold,
        k=k,
        max_bucket=max_bucket,
    )
    # Size lookup rides the join's PERSISTED per-doc token arrays
    # instead of re-shingling ``df`` once per join side (r11: the two
    # extra full text passes were each a whole corpus scan; guide §1.2
    # "don't compute things twice"). Equivalence: |__toks__| counts the
    # doc's distinct non-empty shingles exactly like
    # size(array_remove(sets, '')); docs with ZERO non-empty shingles
    # are absent here, but such docs emit no probe and no index rows,
    # so they never appear in ``pairs`` and the size join's result is
    # unchanged (pytest-pinned).
    sizes = sorted_docs.select(
        F.col("__id__").alias("__sid__"),
        F.size("__toks__").alias("__sz__"),
    )
    sa = sizes.select(
        F.col("__sid__").alias("id_contained"), F.col("__sz__").alias("__na__")
    )
    sb = sizes.select(
        F.col("__sid__").alias("id_container"), F.col("__sz__").alias("__nb__")
    )
    # Persisted (r11, guide §7.2 "duplicated subtrees"): when ``df``
    # is a UNION, Catalyst pushes the left-anti join through it
    # (PushdownLeftSemiAntiJoin) and each branch gets its OWN copy of
    # the join's right side — re-running the entire candidate+verify
    # pipeline once per branch. The id frame is tiny; persisting it
    # turns the pushed-down copies into cache reads.
    dropped = materialize(
        pairs.join(sa, "id_contained")
        .join(sb, "id_container")
        .filter(
            (F.col("__nb__") > F.col("__na__"))
            | (
                (F.col("__nb__") == F.col("__na__"))
                & (F.col("id_container") < F.col("id_contained"))
            )
        )
        .select(F.col("id_contained").alias(idcol))
        .distinct()
    )
    return df.join(dropped, idcol, "left_anti"), toks, dropped


def _containment_toks(
    frame: DataFrame, tcol: str, idcol: str, k: int
) -> DataFrame:
    """Exploded (``__id__``, ``__tok__``) token frame shared by the
    containment family: distinct ``k``-shingles of the normalized
    text, hashed to bigint via the md5-prefix staging every other
    shingle consumer uses (bit-compatible across batch / history /
    index builds — the reuse contract the precomputed-artifact path
    depends on)."""
    if k == 1:
        sets = F.array_distinct(_tokens(_norm(F.col(tcol))))
    else:
        sets = _shingle_set(F.col(tcol), k)
    return (
        frame.select(
            F.col(idcol).alias("__id__"), F.explode(sets).alias("__raw__")
        )
        .filter(F.length("__raw__") > 0)
        .select(
            "__id__",
            F.conv(F.substring(F.md5("__raw__"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("__tok__"),
        )
    )


def containment_index_frames(
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    max_bucket: int | None = None,
    toks: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Build the PRECOMPUTABLE history-side artifacts of the
    incremental containment gate as three frames, ready to persist
    (parquet / bucketed tables) and probe with
    :func:`dedup_containment_against_index`:

    - ``"index"``: the inverted index ``(__hid__, __dn__, __tok__)``
      — one row per (history doc, distinct token), ``__dn__`` the
      doc's token-set size (the length-prune column).
    - ``"sets"``: ``(__hid__, __toks__ array<bigint>)`` — each
      history doc's full token set, the verify-join side.
    - ``"dfreq"``: ``(__tok__, __df__)`` — history document
      frequency, the rare-first prefix order.

    At corpus scale these are write-once-probe-many: a daily ingest
    batch reads them instead of re-shingling / re-aggregating the
    accumulated corpus (store ``index`` bucketed by ``__tok__`` and
    the probe join is shuffle-free on the history side; append
    per-batch deltas and ``dfreq`` stays exact as a sum of deltas —
    see ``streaming/stateful.py streaming_containment_dedup`` for the
    versioned-delta layout). ``max_bucket`` applies the hot-token
    flood cap to ``index`` at BUILD time (write-once,
    ``containment_against_bucket`` observe metric) — the scale-
    correct place for it: a per-probe cap re-runs a window over the
    full history index every batch and breaks the shuffle-free
    bucketed-table join. The shared exploded token frame is a reuse
    pin of the caller's :func:`~pd_utils_spark.utils.query_scope`.

    Bit-compatibility contract (pytest-pinned): probing these frames
    with :func:`dedup_containment_against_index` returns exactly the
    survivors :func:`dedup_containment_against` computes from the raw
    history frame."""
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    # ``toks``: optional precomputed (__id__, __tok__) frame covering
    # exactly ``history``'s rows with the same (k,) hashing —
    # _containment_toks is a pure per-row function of (id, text), so a
    # caller that already tokenized a superset batch can pass the
    # semi-joined slice and skip this builder's full shingle pass
    # (guide §1.2; the streaming gate builds its artifacts from the
    # within-batch dedup's token frame this way).
    if toks is None:
        toks = _containment_toks(history, textcol, idcol, k)
    htoks = materialize(toks)
    dfreq = htoks.groupBy("__tok__").agg(F.count(F.lit(1)).alias("__df__"))
    # sets is persisted too (r11, guide §1.2 "don't compute things
    # twice"): index is DERIVED from sets, so materializing the two
    # artifacts as separate actions — the parquet writes every caller
    # performs — would otherwise run the collect_set aggregation over
    # the full history token frame once per artifact
    sets = materialize(
        htoks.groupBy("__id__")
        .agg(F.collect_set("__tok__").alias("__toks__"))
        .select(F.col("__id__").alias("__hid__"), "__toks__")
    )
    # token hashes are a function of k; stamp it as parquet-persistent
    # column metadata so the probe fails fast on a mismatched shingle
    # width (see _check_artifact_params; a generator alias drops
    # explicit metadata, hence the re-alias on the plain attribute).
    # The applied flood cap rides along so compaction can re-apply the
    # same recall trade to buckets that grow across deltas.
    meta = {"k": k}
    if max_bucket is not None:
        meta["max_bucket"] = int(max_bucket)
    index = sets.select(
        "__hid__",
        F.size("__toks__").alias("__dn__"),
        F.explode("__toks__").alias("__tok__"),
    ).select(
        "__hid__",
        "__dn__",
        F.col("__tok__").alias("__tok__", metadata=meta),
    )
    if max_bucket is not None:
        index = _cap_buckets(
            index, ["__tok__"], max_bucket, "containment_against_bucket"
        )
    return {"index": index, "sets": sets, "dfreq": dfreq}


def dedup_containment_against_index(
    df: DataFrame,
    index: DataFrame,
    sets: DataFrame,
    dfreq: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Probe-side of the incremental subsumption gate: drop rows of
    ``df`` whose shingle set is ``>= threshold`` contained in any
    history document, where the history is given as the three
    PRECOMPUTED artifacts of :func:`containment_index_frames`
    (``index``/``sets``/``dfreq``) instead of a raw text frame. Same
    filters, same exactness contract, same result as
    :func:`dedup_containment_against` — but the per-batch plan does
    NO history-side work beyond scanning the artifacts: no shingle
    pass, no explode, no collect_set over the accumulated corpus
    (plan-asserted in ``tests/test_extensions_dedup.py``). This is
    the shape an ingest gate must have at 100 TB: probe cost scales
    with the BATCH (its tokens, its prefix explode) plus one
    equi-join into the stored index — which is shuffle-free on the
    history side when ``index`` is bucketed by ``__tok__``.

    ``max_bucket`` caps index buckets exactly as in
    :func:`dedup_containment_against` (recall trade, observe metric
    ``containment_against_bucket``) — but a per-probe cap re-runs a
    window over the FULL history index every batch and breaks the
    shuffle-free bucketed-table join; at scale, cap once at build
    time (``containment_index_frames(max_bucket=...)``, what the
    streaming gate does) and pass ``None`` here. ``k`` must match
    the artifact build — the builder stamps it as ``__tok__`` column metadata and
    this probe raises ``ValueError`` on a mismatch (a mismatched
    probe hashes shingles into a different token space and silently
    matches nothing). Batch-side intermediates are reuse pins of the
    caller's :func:`~pd_utils_spark.utils.query_scope`."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1]: {threshold}")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    _check_artifact_params(
        index, "__tok__", {"k": k}, "containment_index_frames"
    )
    # ``toks``: optional precomputed (__id__, __tok__) frame covering
    # exactly ``df``'s rows (same contract as
    # containment_index_frames(toks=...)) — skips the probe's own
    # batch shingle pass when the caller already tokenized the batch.
    if toks is None:
        toks = _containment_toks(df, textcol, idcol, k)
    btoks = materialize(toks)
    sorted_batch = materialize(
        btoks.join(dfreq, "__tok__", "left")
        .groupBy("__id__")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.coalesce("__df__", F.lit(0)).alias("__df__"),
                        "__tok__",
                    )
                )
            ).alias("__arr__")
        )
        .select(
            "__id__",
            F.transform(F.col("__arr__"), lambda s: s["__tok__"]).alias(
                "__toks__"
            ),
        )
    )
    n = F.size("__toks__")
    t_lit = F.lit(float(threshold))
    plen = (n - F.ceil(t_lit * n - F.lit(1e-9)) + 1).cast("int")
    probes = sorted_batch.select(
        "__id__",
        n.alias("__n__"),
        F.posexplode(F.slice("__toks__", 1, plen)).alias("__pos__", "__tok__"),
    )
    if max_bucket is not None:
        index = _cap_buckets(
            index, ["__tok__"], max_bucket, "containment_against_bucket"
        )
    na = F.col("a.__n__")
    pa = F.col("a.__pos__") + 1
    need = F.ceil(t_lit * na.cast("double") - F.lit(1e-9))
    cand = (
        probes.alias("a")
        .join(
            index.alias("b"),
            (F.col("a.__tok__") == F.col("b.__tok__"))
            & (
                F.col("b.__dn__").cast("double")
                >= t_lit * na.cast("double") - F.lit(1e-9)
            )
            & ((na - pa + F.lit(1)) >= need),
        )
        .select(
            F.col("a.__id__").alias("__bid__"),
            F.col("b.__hid__").alias("__hid__"),
        )
        .distinct()
    )
    left = sorted_batch.select(
        F.col("__id__").alias("__bid__"), F.col("__toks__").alias("__ta__")
    )
    right = sets.select(
        "__hid__", F.col("__toks__").alias("__tb__")
    )
    inter = F.size(F.array_intersect("__ta__", "__tb__")).cast("double")
    # persisted for the same reason as dedup_containment's dropped
    # frame: a UNION batch would otherwise re-run the candidate join +
    # verify once per branch via the left-anti pushdown (guide §7.2)
    dropped = materialize(
        cand.join(left, "__bid__")
        .join(right, "__hid__")
        .filter(inter / F.size("__ta__").cast("double") >= threshold)
        .select(F.col("__bid__").alias(idcol))
        .distinct()
    )
    return df.join(dropped, idcol, "left_anti")


def dedup_containment_against(
    df: DataFrame,
    history: DataFrame,
    textcol: str = "text",
    idcol: str = "doc_id",
    history_textcol: str | None = None,
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Incremental subsumption gate: drop rows of ``df`` whose shingle
    set is ``>= threshold`` CONTAINED in any ``history`` document —
    the batch-over-corpus complement of :func:`dedup_containment`
    (and the containment sibling of :func:`dedup_minhash_against`):
    re-crawls, quotes and truncations of already-ingested content
    never enter the corpus, even when their Jaccard against the
    original is far below any dedup threshold. Returns the surviving
    rows of ``df``. EXACT (complete recall) when ``max_bucket`` is
    None — the same contract and filters as
    :func:`containment_join_prefix`, run across two frames.

    One incremental-specific design choice: the prefix order is
    document frequency over HISTORY ONLY. The prefix-filter lemma
    holds for ANY fixed total order on tokens (at most ``(1-t)|A|``
    of A's tokens are missing from B, so any ``n - ceil(t*n) + 1``
    prefix of A contains a shared token) — rare-first is purely a
    performance choice, and history df is the one that matters:
    batch-novel tokens get df 0 (they sit first in the prefix and
    can never match history — harmless), while the history df table
    is a PRECOMPUTABLE artifact, so a daily batch never aggregates
    the 100 TB corpus; only history's inverted index is joined, and
    persisted/bucketed history token tables make that shuffle-free
    on the history side. ``max_bucket`` caps history index buckets
    (recall trade, observe metric — see
    :func:`containment_join_prefix`).

    This convenience form builds the history artifacts inline
    (:func:`containment_index_frames`) and probes them
    (:func:`dedup_containment_against_index`) — when the same history
    serves many batches, materialize the artifacts ONCE and call the
    probe directly (that is the entire point of the split; the
    streaming gate in ``streaming/stateful.py`` does exactly this
    with versioned per-batch deltas). Intermediates are the two
    composed calls' reuse pins."""
    frames = containment_index_frames(
        history, textcol=history_textcol or textcol, idcol=idcol, k=k
    )
    return dedup_containment_against_index(
        df,
        frames["index"],
        frames["sets"],
        frames["dfreq"],
        textcol=textcol,
        idcol=idcol,
        threshold=threshold,
        k=k,
        max_bucket=max_bucket,
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    scorecol: str,
    idcol: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Transitive near-dup deduplication keeping the BEST-scoring
    document per duplicate cluster instead of the smallest id —
    ``dedup_connected`` decides WHAT is a cluster, this decides WHO
    survives it (ties broken by lowest id, so the result is
    deterministic). The real-pipeline rule: among near-identical
    pages keep the longest / highest-quality / most-canonical copy,
    not whichever happened to get the smallest ingest id.

    Scale shape: one connected-components run over the (small) pair
    frame, one join attaching scores to CLUSTER MEMBERS only (never
    the whole corpus), one rank-1 row_number per component, and one
    left-anti join removing the losers. Docs in no pair pass through
    untouched.
    """
    from pyspark.sql import Window

    comp = connected_components(
        pairs, src, dst, checkpoint_dir=checkpoint_dir
    )
    members = comp.select(
        F.col(src).alias("__m__"), F.col("component").alias("__c__")
    )
    scored = members.join(
        df.select(
            F.col(idcol).alias("__m__"), F.col(scorecol).alias("__s__")
        ),
        "__m__",
    )
    w = Window.partitionBy("__c__").orderBy(
        F.desc("__s__"), F.asc("__m__")
    )
    losers = (
        scored.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") > 1)
        .select(F.col("__m__").alias(idcol))
    )
    return df.join(losers, idcol, "left_anti")


def candidate_recall(
    cand: DataFrame,
    truth: DataFrame,
    n_items: int | None = None,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Blocking-quality audit for a candidate-pair generator (LSH
    bands, SimHash blocks, k-means cells, prefix filters) against a
    ground-truth pair set: one row ``(n_true, n_cand, n_hit, recall,
    reduction_ratio)`` where ``recall`` is the fraction of true pairs
    the generator surfaced (pairs completeness) and
    ``reduction_ratio`` is ``1 - n_cand / C(n_items, 2)`` (how much
    of the quadratic pair space was never examined) — the two numbers
    that justify every approximate dedup path, reported together
    because either alone is gameable (all-pairs has recall 1 and
    reduction 0; an empty generator the reverse). Pair orientation is
    canonicalized, so either side may emit (a,b) or (b,a).
    ``reduction_ratio`` is null unless ``n_items`` is given.

    Scale shape: two distinct projections + one left-semi join on
    the canonicalized pair key + three one-row aggregates; pair
    frames only — the corpus itself never moves.
    """
    def canon(p: DataFrame) -> DataFrame:
        a, b = F.col(src), F.col(dst)
        return p.select(
            F.least(a, b).alias("__a__"), F.greatest(a, b).alias("__b__")
        ).filter(F.col("__a__") != F.col("__b__")).distinct()

    # materialize the canonicalized pair frames: each is consumed
    # TWICE (its count + the hit semi-join), and an un-materialized
    # consumption re-executes the entire generator/truth subtree —
    # the LSH pipeline / exact prefix join — once per reference
    # (guide §1.2 "don't compute things twice"; ReuseExchange cannot
    # dedupe the separate subtrees under AQE). Pair frames are id
    # pairs only — tiny relative to the corpus they audit.
    c = materialize(canon(cand))
    t = materialize(canon(truth))
    hit = t.join(c, ["__a__", "__b__"], "left_semi")
    nt = t.groupBy().agg(F.count(F.lit(1)).alias("n_true"))
    nc = c.groupBy().agg(F.count(F.lit(1)).alias("n_cand"))
    nh = hit.groupBy().agg(F.count(F.lit(1)).alias("n_hit"))
    out = nt.crossJoin(F.broadcast(nc)).crossJoin(F.broadcast(nh))
    recall = F.when(
        F.col("n_true") > 0,
        F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
    )
    if n_items is not None:
        total = float(n_items * (n_items - 1) // 2)
        rr = F.lit(1.0) - F.col("n_cand").cast("double") / F.lit(total)
    else:
        rr = F.lit(None).cast("double")
    return out.select(
        "n_true", "n_cand", "n_hit",
        recall.alias("recall"),
        rr.alias("reduction_ratio"),
    )
