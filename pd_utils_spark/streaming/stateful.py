"""Custom stateful streaming operators via
``applyInPandasWithState`` — for semantics the built-in window
aggregations can't express (running totals across micro-batches,
custom session logic, online statistics).

State design for scale: state lives in the executor state store,
partitioned by the grouping keys — per-key state must stay O(1)
(scalars/counters, never row buffers) or the store becomes the
bottleneck; set a timeout so abandoned keys are evicted.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pd_utils_spark.utils import release_registered, to_list


#: Per-task input-byte grain for spreading an under-partitioned
#: micro-batch (r12). The gates' batch-side work is CPU-heavy text
#: shingling measured at ~4 µs per input byte single-core (an 8.7 s
#: single-task stage over a ~2 MB batch, profiled at sf0.1), so the
#: grain sits far below the scan-split default (128 MB): 64 KiB of
#: batch input per task ≈ 1 s of shingle work — big enough that
#: per-task scheduling overhead stays negligible, small enough that a
#: single-file micro-batch fans out. The driver's r11 scaling run
#: showed the same batches ~2x FASTER at 8-way than at the blanket
#: 32-way spread, which this grain reproduces (~600 KB batch -> ~10
#: tasks). Env-parameterised for cluster tuning
#: (SPARK_GRAFT_SPREAD_TARGET_BYTES).
_SPREAD_TARGET_BYTES = 64 * 1024


def _spread_batch(batch_df: DataFrame) -> DataFrame:
    """Fan an under-partitioned micro-batch across the executor cores
    before CPU-heavy gate work (r11, guide §2.5 "input skew"): a file-
    source micro-batch arrives with one partition per file split, so a
    single-file trigger under ``maxPartitionBytes`` runs the whole
    shingle/minhash/explode pipeline of the batch on ONE core —
    profiled at sf0.1 as three concurrent 14 s single-task stages
    inside the containment gate.

    The spread is SIZE-AWARE (r12 — the r11 form repartitioned every
    under-partitioned batch straight to ``defaultParallelism``, and the
    driver's bench showed both big gates anti-scaling with cores: a
    KB-scale batch paid a 32-way exchange plus 32-task stages per
    downstream stage, pure scheduling latency). The target partition
    count is ``ceil(estimated input bytes / target_bytes)`` capped at
    ``defaultParallelism`` — proportional to the work, per guide §2.5
    "spread proportional to input, not blindly to core count". The
    estimate comes from the optimized logical plan's stats (file sizes
    for a file-source micro-batch — no job, no collect). When the
    estimate is unavailable or absurd (relations without stats default
    to Long.MaxValue) the cap keeps the old conservative behavior.
    At scale this stays a structural no-op: batches bigger than
    ``target_bytes x defaultParallelism`` already arrive in many
    splits and hit the ``n >= want`` early exit. Round-robin
    repartition is retry-safe (Spark sorts before round-robin by
    default) and every gate result is partitioning-independent by
    construction."""
    import math
    import os

    sc = batch_df.sparkSession.sparkContext
    try:
        n = batch_df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — defensive; keep the batch
        return batch_df
    p = sc.defaultParallelism
    if n >= p:
        return batch_df
    try:
        target = int(
            os.environ.get(
                "SPARK_GRAFT_SPREAD_TARGET_BYTES", _SPREAD_TARGET_BYTES
            )
        )
        est = int(
            str(
                batch_df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        want = min(p, max(1, math.ceil(est / max(target, 1))))
    except Exception:  # pragma: no cover — stats unavailable: be
        want = p  # conservative (the r11 behavior)
    if n < want:
        return batch_df.repartition(want)
    return batch_df


def streaming_exact_dedup(
    sdf: DataFrame,
    textcol: str = "text",
    tscol: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: documents whose normalized
    content fingerprint was already seen are dropped — across
    micro-batches, using Spark's keyed dedup state. With ``tscol`` +
    ``watermark`` the fingerprint state is evicted once the watermark
    passes (bounded state); without it state grows with distinct
    fingerprints (exact global dedup — only for bounded corpora).

    The batch twin is ``extensions.dedup.exact_dedup``; same
    fingerprint, different survivor rule (streaming keeps the FIRST
    arrival — order exists on a stream, so first-wins is well defined
    there, while batch uses min-id).
    """
    from pd_utils_spark.extensions.dedup import _norm

    out = sdf.withColumn("__fp__", F.md5(_norm(F.col(textcol)).cast("string")))
    if tscol is not None:
        # state for a fingerprint is dropped once the watermark passes
        # its first arrival — bounded-state dedup
        out = out.withWatermark(tscol, watermark)
        deduped = out.dropDuplicatesWithinWatermark(["__fp__"])
    else:
        deduped = out.dropDuplicates(["__fp__"])
    return deduped.drop("__fp__")


def streaming_band_dedup(
    sdf: DataFrame,
    textcol: str = "text",
    k: int = 3,
    rows_per_band: int = 3,
    tscol: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-duplicate dedup via ONE MinHash LSH band: each
    document's first ``rows_per_band`` minhash values (over distinct
    ``k``-word shingles) form a band key; documents whose band key was
    already seen are dropped across micro-batches with Spark's keyed
    dedup state. A pair with Jaccard similarity J collides with
    probability ``J^rows_per_band`` (one-band LSH S-curve — tune
    ``rows_per_band`` down for more recall, up for more precision;
    ``lsh_plan`` computes the curve), so this is the
    recall-configurable streaming counterpart of the banded batch path
    (:func:`pd_utils_spark.extensions.dedup.dedup_minhash_lsh` runs
    ``bands`` such tables and verifies candidates exactly — exact
    verification needs the earlier survivor's shingles, i.e.
    corpus-sized state, which is precisely what a stream cannot hold).
    When exact verification IS required on a stream, use the heavier
    sibling :func:`streaming_minhash_dedup`
    (same module) — a ``foreachBatch`` pipeline that
    round-trips a persistent fingerprint-history table per
    micro-batch; this operator is the in-engine, state-store-only
    form (no external history, no per-batch batch jobs). When one
    band's ``J^rows_per_band`` recall is not enough, use
    :func:`streaming_greedy_band_dedup` — multiple bands
    (``1-(1-J^r)^bands``) via a foreachBatch claims table, still
    16-byte state per key, deterministic min-id survivor rule.

    The band key matches BATCH band 0 of the standard signature
    bit-for-bit (same md5 universal-hash constants, same '|'-joined
    md5 key), so the surviving-key set equals the batch rule's and a
    relational oracle can replay it. With ``tscol`` + ``watermark``
    the per-key state is evicted once the watermark passes (bounded
    state); without it state grows with distinct band keys.

    Scale shape: the signature is computed per row as a pure column
    expression (``array_min`` over ``transform`` per hash — NO
    explode, NO shuffle, streaming-safe), and only ``rows_per_band``
    hashes are evaluated, not the full batch signature. Null/empty
    text hashes to one shared key (all such docs dedup together) —
    filter upstream if that is not wanted.
    """
    from pd_utils_spark.extensions.dedup import attach_minhash_band_key

    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1: {rows_per_band}")
    # staged projections (bound token/shingle attributes) — the inline
    # single-expression key re-runs the tokenizer inside every minhash
    # lambda element (no CSE in HOF bodies): measured ~6x at sf0.1
    out = attach_minhash_band_key(
        sdf, textcol, k, rows_per_band, out="__bk__"
    )
    if tscol is not None:
        out = out.withWatermark(tscol, watermark)
        deduped = out.dropDuplicatesWithinWatermark(["__bk__"])
    else:
        deduped = out.dropDuplicates(["__bk__"])
    return deduped.drop("__bk__")


def streaming_greedy_band_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    rows_per_band: int = 3,
    bands: int = 2,
    available_now: bool = False,
):
    """Multi-band streaming near-dup dedup — the recall dial the
    single-band :func:`streaming_band_dedup` lacks: each document
    gets ``bands`` LSH band keys (bit-identical to batch
    :func:`~pd_utils_spark.extensions.dedup.lsh_band_keys` bands), a
    document is dropped when ANY of its keys was already claimed by
    an earlier survivor (1 - (1-J^r)^bands collision curve vs J^r
    for one band), and within each micro-batch the deterministic
    greedy rule of the batch twin
    :func:`~pd_utils_spark.extensions.dedup.dedup_bands_greedy`
    applies (lowest-id per key, band-chained). Survivors append to
    ``output_dir``; their (band, key) claims append to
    ``history_dir``.

    Why ``foreachBatch``: dropping on "any of N keys seen" needs N
    keyed lookups per row against N key spaces — the in-engine dedup
    state (``dropDuplicates``) keys on ONE column set, and chaining N
    of them makes survivor sets depend on intra-batch arrival order
    (not replayable). Per-batch relational joins against a claims
    table express the rule exactly and deterministically; this is
    the same sanctioned batch-join-in-a-stream hook as
    :func:`streaming_minhash_dedup`, with 16-byte claims instead of
    full text history (no exact verification — see the batch twin's
    precision note).

    Exactly-once caveat: same as :func:`streaming_minhash_dedup` —
    appends are at-least-once on batch retry, and the history check
    makes replays SAFE (a replayed doc's keys are already claimed, so
    it drops); finish downstream with ``exact_dedup`` on id.

    Batch-boundary caveat: the CROSS-batch rule is first-claim-wins —
    a later batch's lower-id document loses to an earlier batch's
    claim on the same key (the greedy min-id rule applies only
    WITHIN a micro-batch). The survivor set is therefore
    deterministic only given fixed batch boundaries; re-running the
    same corpus with a different ``maxFilesPerTrigger`` (or a
    different file split) can change WHICH copy of a near-dup group
    survives, never whether the group is deduped. When the whole
    corpus arrives as ONE batch the result equals the batch twin
    :func:`~pd_utils_spark.extensions.dedup.dedup_bands_greedy`
    exactly.

    Scale shape per batch: map-only key attachment (no explode of
    the corpus — only the claims write explodes survivors), one semi
    join per batch against the claims table on (band, key) — bucket
    the claims table on the key at scale — then ``bands`` map-side
    partial min-aggs + semi joins. State is 16 bytes per claimed
    (band, key), not per document text.

    ``available_now=True`` drains everything currently available and
    terminates (Trigger.AvailableNow) — the batch-backfill mode.
    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _greedy_band_filter,
        attach_minhash_band_keys,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # see _spread_batch — a one-file micro-batch otherwise runs the
        # per-doc shingle+minhash map on ONE core; keys are per-row
        # deterministic, so the survivor set is unchanged
        batch_df = _spread_batch(batch_df)
        work = attach_minhash_band_keys(
            batch_df, textcol, k, rows_per_band, bands, out="__bks__"
        )
        # explicit existence check, not try/except: a transient
        # storage error must fail (and retry) the batch — treating it
        # as "no history" would admit duplicates permanently
        jvm = spark.sparkContext._jvm
        jsc = spark.sparkContext._jsc
        path = jvm.org.apache.hadoop.fs.Path(history_dir)
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        if fs.exists(path):
            claims = spark.read.parquet(history_dir)
            keyed = work.select(
                F.col(idcol),
                F.posexplode("__bks__").alias("band", "key"),
            )
            hit = (
                keyed.join(claims, ["band", "key"], "left_semi")
                .select(idcol)
                .distinct()
            )
            work = work.join(hit, idcol, "left_anti")
        survivors = _greedy_band_filter(work, idcol, bands).localCheckpoint(
            eager=True
        )  # written twice below
        # the eager checkpoint has materialized the survivor set, so
        # the per-pass frames _greedy_band_filter persisted are now
        # superseded — release them here or they accumulate across
        # micro-batches for the life of the stream
        release_registered("greedy_band_filter")
        survivors.drop("__bks__").write.mode("append").parquet(output_dir)
        survivors.select(
            F.posexplode("__bks__").alias("band", "key")
        ).write.mode("append").parquet(history_dir)

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_bloom_dedup(
    sdf: DataFrame,
    output_dir: str,
    bloom_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    m_bits: int = 1 << 20,
    k: int = 5,
    available_now: bool = False,
):
    """Streaming EXACT dedup with CONSTANT-size history state: per
    micro-batch, dedup within the batch (min-id keeper,
    :func:`~pd_utils_spark.extensions.dedup.exact_dedup`), drop docs
    whose fingerprint the accumulated Bloom filter (probably) already
    holds, append survivors to ``output_dir``, and fold their
    fingerprints into the filter (:func:`merge_blooms`), stored as a
    one-row parquet at ``bloom_dir``.

    Why it exists: every other streaming dedup here
    (:func:`streaming_minhash_dedup`'s text history,
    :func:`streaming_greedy_band_dedup`'s claims table) carries state
    that GROWS with the corpus — at 100 TB the history side is the
    cost. The Bloom filter is ``m_bits/8`` bytes FOREVER (128 KiB at
    2^20), the membership probe is map-only, and the whole history
    fits in one broadcast. The price is ~fpp FALSE DROPS of
    genuinely-new documents (there are no false keeps — a member's
    bits are always set); size ``m_bits`` ~ 10 bits per expected
    corpus doc for ~1% fpp at k=5, or run the batch
    ``exact_dedup_against_bloom(verify=True)`` recipe instead when
    false drops are unacceptable.

    Determinism: within one batch the result is a pure function of
    the data (min-id exact dedup; the bloom probe of an empty/fixed
    filter is deterministic). Across batches the survivor SET is
    deterministic given fixed batch boundaries (same caveat as
    :func:`streaming_greedy_band_dedup`), and false drops depend on
    the filter's accumulated fill.

    Replay safety: survivors append BEFORE the filter is written. The
    filter state is VERSIONED — each batch writes
    ``bloom_dir/b=<batch_id>`` and readers take the latest version —
    so there is no delete-then-rewrite window in which a crash (or a
    concurrent reader) sees a missing filter; a retried batch
    overwrites only its own version directory (idempotent: OR of the
    same fingerprints is a no-op) and the output re-append is the
    standard at-least-once caveat — finish downstream with
    ``exact_dedup`` on id. Versions older than the previous one are
    best-effort pruned.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        bloom_fingerprints,
        exact_dedup,
        exact_dedup_against_bloom,
        merge_blooms,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = exact_dedup(batch_df, textcol, idcol)
        # explicit listing (not try/except around the read): a
        # transient storage error must fail and retry the batch —
        # treating it as "no history" would admit duplicates
        latest = _latest_bloom_version(spark, bloom_dir)
        old = None
        if latest is not None:
            old = spark.read.parquet(f"{bloom_dir}/b={latest}")
            batch = exact_dedup_against_bloom(
                batch, old, textcol=textcol, idcol=idcol, verify=False
            )
        survivors = batch.localCheckpoint(eager=True)  # consumed twice
        survivors.write.mode("append").parquet(output_dir)
        fresh = bloom_fingerprints(survivors, textcol, m_bits, k)
        merged = merge_blooms(old, fresh) if old is not None else fresh
        rows = merged.collect()  # one row by construction
        spark.createDataFrame(
            rows, "bloom array<bigint>, m_bits int, k int"
        ).write.mode("overwrite").parquet(f"{bloom_dir}/b={batch_id}")
        _prune_bloom_versions(spark, bloom_dir, keep_from=latest)

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_distinct_hll(
    sdf: DataFrame,
    output_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "user_id",
    lgk: int = 12,
    available_now: bool = False,
):
    """Streaming per-group DISTINCT COUNTING with constant-size state:
    per micro-batch, sketch the batch's ``col`` values per group
    (Apache DataSketches HLL via ``hll_sketch_agg``), UNION into the
    accumulated per-group sketch table, and overwrite an estimates
    snapshot at ``output_dir`` (one row per group: the current
    distinct-count estimate and the batch id that produced it).

    The batch-side twin is ``extensions/sketches.py`` — same sketch,
    same union. State is ``groups x ~2^lgk`` bytes FOREVER, no matter
    how many events stream through: the streaming answer to "distinct
    users per segment, updated continuously" that never carries a
    growing key set (the exact form keeps every key in the state
    store). Accuracy is the configured HLL bound (~1.04/sqrt(2^lgk)
    RSE); small cardinalities are exact (coupon mode). Estimates are
    batching-sensitive WITHIN that bound (see the sketches module
    docstring) — consumers size against the bound, not byte identity.

    Replay safety mirrors :func:`streaming_bloom_dedup`: the sketch
    table is VERSIONED (``sketch_dir/b=<batch_id>``, readers take the
    latest committed version), a retried batch overwrites only its
    own version (HLL union is idempotent — re-unioning the same
    values is a register no-op), and the estimates snapshot is a full
    overwrite, so downstream readers never see partial state.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import hll_rollup, hll_sketch_by

    byvars_l = to_list(byvars)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = hll_sketch_by(batch_df, byvars_l, col, lgk=lgk, out="sk")
        latest = _latest_bloom_version(spark, sketch_dir)
        if latest is not None:
            old = spark.read.parquet(f"{sketch_dir}/b={latest}")
            fresh = hll_rollup(old.unionByName(fresh), byvars_l, "sk")
        merged = fresh.localCheckpoint(eager=True)  # consumed twice
        merged.write.mode("overwrite").parquet(f"{sketch_dir}/b={batch_id}")
        (
            merged.select(
                *byvars_l,
                F.hll_sketch_estimate("sk").cast("bigint").alias("distinct_estimate"),
                F.lit(batch_id).cast("bigint").alias("as_of_batch"),
            )
            .write.mode("overwrite")
            .parquet(output_dir)
        )
        _prune_bloom_versions(spark, sketch_dir, keep_from=latest)

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_containment_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    threshold: float = 0.9,
    k: int = 3,
    max_bucket: int | None = None,
    available_now: bool = False,
):
    """Streaming SUBSUMPTION deduplication: each micro-batch is
    subsumption-deduped within itself (``dedup_containment`` — drop
    docs >= ``threshold`` contained in a larger batch-mate) and then
    against everything accepted before it; survivors append to
    ``output_dir`` — the ingestion gate that keeps re-crawls, quoted
    excerpts and truncations of already-ingested content out of the
    corpus even when their Jaccard is far below any dedup threshold
    (the case :func:`streaming_minhash_dedup` structurally misses).

    **State is the PRECOMPUTED containment index, not the raw
    corpus.** ``history_dir`` holds per-batch DELTA versions of the
    three artifacts of
    :func:`~pd_utils_spark.extensions.dedup.containment_index_frames`
    — ``index/b=<batch_id>`` (inverted index), ``sets/b=<batch_id>``
    (verify-side token sets), ``dfreq/b=<batch_id>`` (document-
    frequency deltas; exact history df = sum of deltas) — plus
    ``docs/b=<batch_id>`` (survivor ``(id, text)``, the external
    corpus artifact; the dedup itself never reads it back). Each
    batch PROBES the accumulated artifacts with
    :func:`~pd_utils_spark.extensions.dedup.dedup_containment_against_index`,
    so per-batch cost scales with the BATCH (its shingles, its prefix
    explode, one equi-join into the stored index) — the history text
    is never re-shingled, re-exploded or re-aggregated per batch
    (plan-asserted in ``tests/test_streaming.py``). The one
    per-batch history-sized term left is summing the df deltas
    (O(distinct history tokens), a bounded-width table); at corpus
    scale, compact the deltas periodically and store ``index``
    bucketed by ``__tok__`` to make the probe join shuffle-free on
    the history side. Containment still fundamentally needs full
    shingle sets — there is no constant-size sketch with complete
    recall — so total STORED state is corpus-token-sized; this
    operator's job is keeping the per-batch COMPUTE off that term.

    Replay safety: state versions are keyed by ``batch_id`` and
    written BEFORE the output append, and a batch reads only
    committed versions STRICTLY BELOW its own id — so a retried
    batch ignores its own crashed half-write, re-derives identical
    survivors (both dedup stages are deterministic), idempotently
    overwrites its own version dirs, and re-appends to
    ``output_dir``. ``output_dir`` is therefore AT-LEAST-ONCE
    (the standard foreachBatch caveat — finish downstream with
    ``exact_dedup`` on id when exactly-once matters) while the
    artifact state is exactly-once; no crash window loses accepted
    documents or admits a duplicate past the gate. Within the state
    write, ``index`` commits LAST, so an index-committed version
    implies its ``dfreq``/``sets`` committed too (readers enumerate
    versions from ``index``). ``max_bucket`` trades exact recall for
    flood protection on the history index (observe metric). One
    qualifier: a RECAPPING compaction run between the crash and the
    restart can shrink what the replayed batch probes, making the
    replay at-least-once on admissions — see
    :func:`compact_containment_state`'s replay caveat.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _dedup_containment_parts,
        containment_index_frames,
        dedup_containment_against_index,
    )
    from pd_utils_spark.utils import release_registered

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _spread_batch(batch_df)
        try:
            # ONE shingle pass per micro-batch (r12, guide §1.2): the
            # within-batch dedup exposes its persisted (__id__,
            # __tok__) frame, and both the history probe and the
            # artifact build derive their token frames from it by
            # (anti/semi) id joins instead of re-tokenizing the batch
            # text — _containment_toks is a pure per-row function of
            # (id, text), so the derived slices are row-identical to
            # what each stage would have computed itself.
            survivors, btoks, dropped = _dedup_containment_parts(
                batch_df,
                textcol=textcol,
                idcol=idcol,
                threshold=threshold,
                k=k,
                max_bucket=max_bucket,
            )
            surv_toks = btoks.join(
                dropped.select(F.col(idcol).alias("__id__")),
                "__id__",
                "left_anti",
            )
            # committed versions strictly below this batch: a retried
            # batch must not probe its own crashed half-state
            state = _containment_state_frames(
                spark, history_dir, below=batch_id
            )
            if state is not None:
                index, sets, dfreq = state
                # history side was flood-capped at build time (below)
                # — a per-probe cap would re-window the full history
                # index every batch
                survivors = dedup_containment_against_index(
                    survivors,
                    index,
                    sets,
                    dfreq,
                    textcol=textcol,
                    idcol=idcol,
                    threshold=threshold,
                    k=k,
                    max_bucket=None,
                    toks=surv_toks,
                )
            survivors = survivors.localCheckpoint(eager=True)  # 5 writes
            # state BEFORE output (see docstring); index commits LAST
            # (flood cap applied per delta at build — write-once; a
            # bucket spanning deltas is capped per delta, never
            # dropping more than the r9 union-cap did)
            frames = containment_index_frames(
                survivors, textcol=textcol, idcol=idcol, k=k,
                max_bucket=max_bucket,
                toks=surv_toks.join(
                    survivors.select(F.col(idcol).alias("__id__")),
                    "__id__",
                    "left_semi",
                ),
            )
            # Independent writes overlap (guide §2.6; widened r11 -> r12
            # from 2 to 3 concurrent artifacts): docs reads only the
            # checkpointed survivors, dfreq only the shared htoks
            # cache, and the sets write materializes the htoks+sets
            # caches — all three are commit-order-independent, so one
            # wave replaces three serialized job round-trips
            # (concurrent materialization of a shared cached block is
            # safe: the BlockManager computes it once under the block
            # lock). The commit-order invariants hold: index still
            # commits LAST among the state artifacts, and the output
            # append starts only after every state write returned (a
            # failed write raises via .result() and fails the batch
            # before any output row lands). Callables are wrapped with
            # inheritable_thread_target so the batch's JVM local
            # properties (job group/description, scheduler pool)
            # propagate to the pool threads — query.stop()/job-group
            # cancellation reaches the in-flight writes and the
            # pinned-thread JVM side is cleaned up deterministically.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            writes = [
                lambda: frames["sets"]
                .write.mode("overwrite")
                .parquet(f"{history_dir}/sets/b={batch_id}"),
                lambda: survivors.select(idcol, textcol)
                .write.mode("overwrite")
                .parquet(f"{history_dir}/docs/b={batch_id}"),
                lambda: frames["dfreq"]
                .write.mode("overwrite")
                .parquet(f"{history_dir}/dfreq/b={batch_id}"),
            ]
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = [
                    pool.submit(inheritable_thread_target(spark)(w))
                    for w in writes
                ]
                for f in futs:
                    f.result()
            frames["index"].write.mode("overwrite").parquet(
                f"{history_dir}/index/b={batch_id}"
            )
            survivors.write.mode("append").parquet(output_dir)
        finally:
            # per-batch persists must not accumulate across a
            # long-running stream
            release_registered("containment_join_prefix")
            release_registered("dedup_containment_against_index")
            release_registered("containment_index_frames")

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _versioned_state_pieces(
    spark, root: str, enum_sub: str, below: int
) -> list[str]:
    """Version pieces of a delta-versioned artifact state dir,
    strictly below batch id ``below``: the newest committed COMPACTED
    generation ``c=<id>`` plus every committed delta ``b=<v>`` with
    ``c_id < v < below``. Versions are enumerated from ``enum_sub``
    (the subdir the writer commits LAST, so a version listed there
    implies its siblings committed)."""
    idx_dir = f"{root}/{enum_sub}"
    cs = [
        v
        for v in _bloom_versions(spark, idx_dir, prefix="c=")
        if v < below
    ]
    c0 = max(cs) if cs else None
    bs = [
        v
        for v in _bloom_versions(spark, idx_dir)
        if v < below and (c0 is None or v > c0)
    ]
    return ([f"c={c0}"] if c0 is not None else []) + [f"b={v}" for v in bs]


def _prune_state_pieces(
    spark, root: str, subs: tuple, deltas: list[int], old_c: int | None
) -> None:
    """Best-effort deletion of state pieces superseded by a new
    compacted generation (the folded ``b=`` deltas plus the previous
    ``c=`` generation) across every artifact subdir. Cosmetic —
    readers already prefer the newest committed compaction."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    stale = [f"b={v}" for v in deltas] + (
        [f"c={old_c}"] if old_c is not None else []
    )
    for sub in subs:
        d = f"{root}/{sub}"
        fs = jvm.org.apache.hadoop.fs.Path(d).getFileSystem(
            jsc.hadoopConfiguration()
        )
        for name in stale:
            try:
                fs.delete(jvm.org.apache.hadoop.fs.Path(f"{d}/{name}"), True)
            except Exception:
                pass  # cosmetic; never fail compaction for it


def _containment_state_frames(spark, history_dir: str, below: int):
    """Accumulated containment-gate artifacts strictly below batch id
    ``below`` (see :func:`_versioned_state_pieces`). Returns
    ``(index, sets, dfreq)`` frames or ``None`` when no committed
    state qualifies. ``dfreq`` is summed across the selected pieces
    (a compacted generation's table is already a sum, so re-summing
    with newer deltas stays exact)."""
    pieces = _versioned_state_pieces(spark, history_dir, "index", below)
    if not pieces:
        return None
    index = spark.read.parquet(*[f"{history_dir}/index/{p}" for p in pieces])
    sets = spark.read.parquet(*[f"{history_dir}/sets/{p}" for p in pieces])
    dfreq = (
        spark.read.parquet(*[f"{history_dir}/dfreq/{p}" for p in pieces])
        .groupBy("__tok__")
        .agg(F.sum("__df__").alias("__df__"))
    )
    return index, sets, dfreq


def _stamped_max_bucket(frame: DataFrame, col: str) -> int | None:
    """The flood cap the artifact BUILDER applied, read back from the
    parquet-persistent column metadata the builders stamp (see
    ``minhash_history_frames`` / ``containment_index_frames``).
    ``None`` for uncapped or externally-built artifacts."""
    try:
        mb = (frame.schema[col].metadata or {}).get("max_bucket")
        return int(mb) if mb is not None else None
    except Exception:  # pragma: no cover — renamed/absent column
        return None


def _stamped_max_bucket_pieces(
    spark, piece_dirs: list[str], col: str
) -> int | None:
    """Resolve the build-time flood cap across a FOLD's state pieces
    by reading each piece's own parquet footer (ADVICE r11: a merged
    multi-path read surfaces whichever piece's schema Spark samples,
    so a stream restarted with a different ``max_bucket`` across
    deltas would be recapped — or not — non-deterministically).
    Explicit policy: the MINIMUM stamp across stamped pieces (the
    tightest flood bound any delta was built under — recapping is a
    protective bound, so the conservative merge is the smallest cap);
    ``None`` when NO piece is stamped (a fully-uncapped build folds
    losslessly). Pieces written uncapped alongside capped ones still
    fold under the capped pieces' minimum — the fold's job is
    re-bounding cross-delta growth, which an uncapped delta does not
    exempt its neighbors from."""
    stamps = []
    for d in piece_dirs:
        mb = _stamped_max_bucket(spark.read.parquet(d), col)
        if mb is not None:
            stamps.append(mb)
    return min(stamps) if stamps else None


def _validate_recap(max_bucket) -> None:
    """Fail loudly on cap values that would wipe the folded state
    (``_cap_buckets`` drops EVERY bucket at <= 0); ``None`` means
    "use the stamped build-time cap" and ``recap=False`` on the
    compactors is the explicit no-recap override."""
    if max_bucket is not None and int(max_bucket) <= 0:
        raise ValueError(f"max_bucket must be >= 1: {max_bucket}")


def compact_containment_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_containment_dedup` state dir's delta
    versions into one compacted generation ``c=<top>``, so the
    per-batch state read opens O(1) directories instead of one per
    historical batch and the df-delta sum touches each token once.
    Run with the stream STOPPED (a concurrent batch could commit a
    new delta mid-fold; nothing corrupts, but that delta could be
    read twice by a reader racing the prune — pinned harmless in
    ``tests/test_streaming.py``).

    **The NEWEST committed delta is never folded** (``top`` = the
    highest version STRICTLY BELOW the newest delta). Artifact state
    is written BEFORE the streaming checkpoint commits, so after a
    crash/stop mid-batch the newest delta can belong to a batch the
    engine will REPLAY on restart; the replayed batch reads versions
    strictly below its own id, which would exclude a ``c=`` built
    from its own delta — and with the covering deltas pruned it
    would probe EMPTY history and silently admit duplicates. Leaving
    the newest delta out keeps every state the replayed batch can
    see complete. Costs one extra delta dir per read.

    Crash-safe by construction: the compacted generation is written
    to NEW paths (``index`` last, same commit-order invariant as the
    writer), readers prefer the newest committed ``c=`` and ignore
    deltas at or below it, and pruning the superseded pieces is
    best-effort cosmetic cleanup — a crash at any point leaves a
    state the reader resolves identically. Returns the compacted
    generation id, or None when there is nothing to fold.

    **The build-time flood cap is RE-APPLIED to the folded index**:
    per-delta caps bound each delta independently, so a hot ``__tok__``
    bucket can grow to ``num_deltas x max_bucket`` across a stream's
    lifetime — exactly the quadratic candidate fan-out the cap exists
    to prevent. Folding is the write-once, off-the-hot-path place to
    re-bound it (same recall trade as the build-time cap, same observe
    metric). The cap value defaults to what the builder stamped into
    the artifact metadata (``max_bucket=None`` here = use the stamp;
    uncapped builds stamp nothing and fold losslessly); pass an int
    (>= 1 — 0 raises instead of silently wiping the index) to
    override, or ``recap=False`` to fold a capped build losslessly.
    Stamps are read PER PIECE (not from the merged read's sampled
    footer) and merged as the minimum across stamped pieces — see
    :func:`_stamped_max_bucket_pieces` for the policy.

    Replay caveat (ADVICE r11): recapping weakens the gates' replay
    invariant from "a retried batch re-derives identical survivors"
    to AT-LEAST-ONCE on admissions — a crash -> compact -> restart
    sequence can have the replayed newest batch probe a smaller
    (recapped) history than its original run and admit docs the
    original dropped (never the reverse: compaction only removes
    index rows, and removing index rows only removes drop reasons).
    The newest delta is never folded, which keeps the replayed
    batch's own state visible; the recap of OLDER deltas is what it
    may see differently. Run compaction only after the newest delta's
    batch is confirmed committed in the streaming checkpoint when
    exact replay identity matters, or pass ``recap=False``."""
    _validate_recap(max_bucket)
    idx_dir = f"{history_dir}/index"
    cs = _bloom_versions(spark, idx_dir, prefix="c=")
    c0 = max(cs) if cs else None
    bs = [v for v in _bloom_versions(spark, idx_dir) if c0 is None or v > c0]
    # leave the newest delta uncompacted: its batch may replay and
    # must still resolve complete state strictly below its own id
    fold = sorted(bs)[:-1]
    if not fold:
        return c0  # nothing foldable beyond the last compaction
    top = max(fold)
    index, sets, dfreq = _containment_state_frames(
        spark, history_dir, below=top + 1
    )
    # re-bound buckets that grew past the build-time cap across deltas
    # (see docstring); no-op for uncapped builds or recap=False
    mb = max_bucket
    if mb is None and recap:
        pieces = _versioned_state_pieces(
            spark, history_dir, "index", below=top + 1
        )
        mb = _stamped_max_bucket_pieces(
            spark, [f"{history_dir}/index/{p}" for p in pieces], "__tok__"
        )
    if mb is not None and recap:
        from pd_utils_spark.extensions.dedup import _cap_buckets

        index = _cap_buckets(
            index, ["__tok__"], mb, "containment_against_bucket"
        )
    # write to the NEW c=<top> generation; index commits LAST so an
    # index-committed generation implies dfreq/sets committed
    dfreq.write.mode("overwrite").parquet(f"{history_dir}/dfreq/c={top}")
    sets.write.mode("overwrite").parquet(f"{history_dir}/sets/c={top}")
    index.write.mode("overwrite").parquet(f"{history_dir}/index/c={top}")
    if prune:
        _prune_state_pieces(
            spark, history_dir, ("index", "sets", "dfreq"), fold, c0
        )
    return top


def streaming_sample_quantiles(
    sdf: DataFrame,
    output_dir: str,
    sample_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "value",
    id_cols: str | Sequence[str] = "event_id",
    k: int = 512,
    qs: Sequence[float] = (0.25, 0.5, 0.75),
    available_now: bool = False,
):
    """Streaming per-group QUANTILES with constant-size state: per
    micro-batch, bottom-k-by-hash sample the batch's ``col`` rows per
    group (``extensions/sketches.py sample_sketch_by`` — the batch
    twin), merge into the accumulated per-group sample via
    ``bottomk_rollup``, and overwrite a quantile snapshot at
    ``output_dir`` (one row per group: ``q<pct>`` for each requested
    quantile, ``n_sampled``, ``as_of_batch``).

    State is ``groups x k`` (hash, value) structs FOREVER — the
    streaming answer to "p50/p95 per segment, updated continuously"
    without keeping every observation. Rank error ~sqrt(q(1-q)/k);
    while a group's rows fit in ``k`` the sample IS the group and
    every quantile is EXACT.

    Two properties the HLL row cannot offer, both inherited from the
    deterministic bottom-k merge: the accumulated state is
    BATCH-BOUNDARY-INSENSITIVE (any split of the same rows into
    micro-batches yields bit-identical state — merge is
    sort-truncate over row-keyed hashes) and equals the batch twin
    built over the full history in one pass. Replay safety mirrors
    :func:`streaming_bloom_dedup`: versioned state
    (``sample_dir/b=<batch>``, committed-``_SUCCESS`` readers), and a
    retried batch re-merges the SAME rows into a distinct-merge —
    idempotent by construction.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        quantile_estimate,
        sample_sketch_by,
    )

    byvars_l = to_list(byvars)
    q_names = [f"q{int(round(q * 100))}" for q in qs]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # single-file micro-batches otherwise hash/struct every batch
        # row on ONE core (see _spread_batch; result is partitioning-
        # independent — deterministic sort-truncate)
        batch_df = _spread_batch(batch_df)
        fresh = sample_sketch_by(
            batch_df, byvars_l, col, id_cols=id_cols, k=k, out="sk"
        )
        latest = _latest_bloom_version(spark, sample_dir)
        if latest is not None:
            old = spark.read.parquet(f"{sample_dir}/b={latest}")
            fresh = bottomk_rollup(old.unionByName(fresh), byvars_l, "sk", k=k)
        merged = fresh.localCheckpoint(eager=True)  # consumed twice
        merged.write.mode("overwrite").parquet(f"{sample_dir}/b={batch_id}")
        est = quantile_estimate(merged, "sk", list(qs), drop_sketch=False)
        (
            est.select(
                *byvars_l,
                *q_names,
                F.size("sk").cast("bigint").alias("n_sampled"),
                F.lit(batch_id).cast("bigint").alias("as_of_batch"),
            )
            .write.mode("overwrite")
            .parquet(output_dir)
        )
        _prune_bloom_versions(spark, sample_dir, keep_from=latest)

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_topk(
    sdf: DataFrame,
    output_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "item",
    max_items: int = 64,
    k: int = 10,
    available_now: bool = False,
):
    """Streaming per-group HEAVY HITTERS with constant-size state: per
    micro-batch, build the batch's frequent-items sketch per group
    (``extensions/sketches.py topk_sketch_by`` — the batch twin),
    combine into the accumulated per-group sketch, and overwrite a
    top-``k`` snapshot at ``output_dir`` (group columns + ``item``,
    ``count``, ``as_of_batch``).

    State is ``groups x O(max_items)`` forever — "top products per
    segment, updated continuously" without a growing key set. While a
    group's distinct count stays <= ``max_items`` every count is
    EXACT; past that, the standard frequent-items guarantee holds
    (true heavy hitters never lost, counts never undercount, bounded
    overestimate).

    Replay safety differs from the HLL/bottom-k rows in one
    load-bearing way: frequent-items COMBINE IS NOT IDEMPOTENT
    (re-merging the same batch double-counts, where HLL union and
    bottom-k distinct-merge are no-ops), so a retried batch must
    never merge the version it already committed. The reader
    therefore takes the latest committed version STRICTLY OLDER than
    the current batch id — a retry rebuilds its own version from the
    same predecessor and overwrites it bit-identically. Versioned
    dirs and committed-``_SUCCESS`` readers as in
    :func:`streaming_bloom_dedup`.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        topk_estimate,
        topk_rollup,
        topk_sketch_by,
    )

    byvars_l = to_list(byvars)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = topk_sketch_by(
            batch_df, byvars_l, col, max_items=max_items, out="sk"
        )
        older = [
            v for v in _bloom_versions(spark, sketch_dir) if v < batch_id
        ]
        if older:
            old = spark.read.parquet(f"{sketch_dir}/b={older[-1]}")
            fresh = topk_rollup(
                old.unionByName(fresh), byvars_l, "sk", max_items=max_items
            )
        merged = fresh.localCheckpoint(eager=True)  # consumed twice
        merged.write.mode("overwrite").parquet(f"{sketch_dir}/b={batch_id}")
        (
            topk_estimate(merged, "sk", k=k)
            .withColumn("as_of_batch", F.lit(batch_id).cast("bigint"))
            .write.mode("overwrite")
            .parquet(output_dir)
        )
        _prune_bloom_versions(
            spark, sketch_dir, keep_from=older[-1] if older else None
        )

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_weighted_sample(
    sdf: DataFrame,
    output_dir: str,
    sample_dir: str,
    checkpoint_dir: str,
    byvars: str | Sequence[str] = "event_type",
    col: str = "value",
    weight_col: str = "weight",
    id_cols: str | Sequence[str] = "event_id",
    k: int = 256,
    available_now: bool = False,
):
    """Streaming per-group WEIGHTED sampling with constant-size state:
    per micro-batch, A-ES weighted-sample the batch's rows per group
    (``extensions/sketches.py weighted_sample_sketch_by`` — the batch
    twin), merge into the accumulated sample via ``bottomk_rollup``
    (the exponential keys sort-truncate exactly like the uniform
    ones), and overwrite a snapshot at ``output_dir`` (group columns
    + ``n_sampled``, ``sum_sampled`` and ``as_of_batch``; read the
    full sample via :func:`read_latest_state` on ``sample_dir``).

    The stream keeps a weight-proportional sample WITHOUT replacement
    of everything that ever flowed through, in ``groups x k`` structs
    forever — importance-weighted subsampling as streaming state.
    Same two deterministic-merge properties as
    :func:`streaming_sample_quantiles`, inherited from the same
    sort-truncate: batch-boundary-INSENSITIVE state bit-for-bit, and
    equality with the one-pass batch twin; replay-safe because the
    distinct-merge of a retried batch's identical keys is a no-op.
    While a group's (positive-weight) rows fit in ``k`` the sample IS
    the group and the snapshot aggregates are exact.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        weighted_sample_sketch_by,
    )

    byvars_l = to_list(byvars)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # see _spread_batch — same single-file micro-batch rationale as
        # streaming_sample_quantiles; A-ES keys are row-deterministic
        batch_df = _spread_batch(batch_df)
        fresh = weighted_sample_sketch_by(
            batch_df, byvars_l, col, weight_col, id_cols=id_cols, k=k,
            out="sk",
        )
        latest = _latest_bloom_version(spark, sample_dir)
        if latest is not None:
            old = spark.read.parquet(f"{sample_dir}/b={latest}")
            fresh = bottomk_rollup(old.unionByName(fresh), byvars_l, "sk", k=k)
        merged = fresh.localCheckpoint(eager=True)  # consumed twice
        merged.write.mode("overwrite").parquet(f"{sample_dir}/b={batch_id}")
        (
            merged.select(
                *byvars_l,
                F.size("sk").cast("bigint").alias("n_sampled"),
                F.round(
                    F.aggregate(
                        F.col("sk"),
                        F.lit(0.0),
                        lambda acc, x: acc + x["v"],
                    ),
                    6,
                ).alias("sum_sampled"),
                F.lit(batch_id).cast("bigint").alias("as_of_batch"),
            )
            .write.mode("overwrite")
            .parquet(output_dir)
        )
        _prune_bloom_versions(spark, sample_dir, keep_from=latest)

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_latest_state(spark, state_dir: str):
    """Public batch-side reader for any versioned streaming-state dir
    this module writes (``streaming_bloom_dedup`` filters,
    ``streaming_distinct_hll`` sketches, ``streaming_sample_quantiles``
    samples, ``streaming_topk`` sketches): returns ``(version,
    DataFrame)`` for the latest COMMITTED version — a version counts
    only once its ``_SUCCESS`` marker exists, so a reader racing a
    crash mid-write never sees partial state — or ``(None, None)``
    when no committed version exists yet. This is the handoff point
    between the continuously-running stream and downstream batch
    jobs: join yesterday's Bloom filter into an ingest gate, roll a
    week of per-day sample sketches up with ``bottomk_rollup``,
    estimate from the live HLL table — all without touching the
    stream's checkpoint."""
    v = _latest_bloom_version(spark, state_dir)
    if v is None:
        return None, None
    return v, spark.read.parquet(f"{state_dir}/b={v}")


def _bloom_versions(
    spark, bloom_dir: str, committed_only: bool = True, prefix: str = "b="
) -> list[int]:
    """Filter versions under a :func:`streaming_bloom_dedup` state
    dir. ``committed_only`` keeps only versions whose ``_SUCCESS``
    marker exists — a version directory APPEARS as soon as the writer
    mkdirs it, before any parquet file commits, so a crash mid-write
    (or a concurrent reader racing the write) must never mistake the
    partial directory for state. ``prefix`` selects the version
    namespace (``b=`` per-batch versions; ``c=`` the containment
    gate's compacted generations)."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(bloom_dir)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    n = len(prefix)
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(prefix) and name[n:].isdigit():
            if committed_only and not fs.exists(
                jvm.org.apache.hadoop.fs.Path(
                    f"{bloom_dir}/{name}/_SUCCESS"
                )
            ):
                continue
            out.append(int(name[n:]))
    return sorted(out)


def _latest_bloom_version(spark, bloom_dir: str) -> int | None:
    """Latest COMMITTED filter version under a
    :func:`streaming_bloom_dedup` state dir (also the reader API for
    downstream batch jobs: ``spark.read.parquet(f"{d}/b={v}")``)."""
    versions = _bloom_versions(spark, bloom_dir)
    return versions[-1] if versions else None


def _prune_bloom_versions(spark, bloom_dir: str, keep_from: int | None) -> None:
    """Best-effort removal of filter versions OLDER than ``keep_from``
    (the previous version is kept so a crash mid-write of the current
    one never strands the stream without state). Prunes partial
    (uncommitted) stale versions too."""
    if keep_from is None:
        return
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    path = jvm.org.apache.hadoop.fs.Path(bloom_dir)
    fs = path.getFileSystem(jsc.hadoopConfiguration())
    for v in _bloom_versions(spark, bloom_dir, committed_only=False):
        if v < keep_from:
            try:
                fs.delete(
                    jvm.org.apache.hadoop.fs.Path(f"{bloom_dir}/b={v}"), True
                )
            except Exception:
                pass  # pruning is cosmetic; never fail the batch for it


def streaming_sessionize(
    sdf: DataFrame,
    usercol: str = "user_id",
    tscol: str = "ts",
    gap_seconds: int = 1800,
    tiebreak: str | Sequence[str] | None = None,
    out: str = "session_index",
    state_ttl_seconds: int | None = None,
) -> DataFrame:
    """Streaming row-labeling sessionization: every event row gets its
    1-based per-user ``session_index``, with the (last event time,
    current session number) pair carried across micro-batches in the
    state store — the streaming twin of ``extensions.events.sessionize``
    (same gap rule, microsecond precision). Spark's own
    ``session_window`` aggregation can only emit per-SESSION aggregate
    rows; labeling each event requires custom state, which is exactly
    what ``applyInPandasWithState`` exists for.

    State per user = two longs (O(1) — never a row buffer). Rows are
    ordered by (ts, tiebreak) WITHIN each micro-batch; with in-order
    arrival across batches the labels are identical to the batch
    operator (asserted by the batch==stream equivalence test). Late
    events older than the user's last seen timestamp cannot retract an
    already-emitted boundary — inherent to any single-pass labeler;
    bound disorder upstream with a watermark + ``session_window`` if
    retraction matters more than labels.

    ``state_ttl_seconds``: processing-time TTL for idle users —
    essential on an unbounded user space, where NoTimeout state grows
    with every user EVER seen. A user evicted after the TTL restarts
    at session 1 on return; pick a TTL comfortably above
    ``gap_seconds`` so only genuinely-abandoned users are evicted
    (a returning user past the gap would have started a new session
    anyway — only the session NUMBERING restarts).
    """
    gap_us = int(gap_seconds * 1_000_000)
    order_cols = [tscol] + to_list(tiebreak)
    fields = ", ".join(f"`{n}` {t}" for n, t in sdf.dtypes)
    out_schema = f"{fields}, `{out}` bigint"
    state_schema = "last_us bigint, sess bigint"
    with_ttl = state_ttl_seconds is not None

    def label(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if with_ttl and state.hasTimedOut:
            state.remove()  # idle past the TTL; next event restarts at 1
            return
        if state.exists:
            last_us, sess = state.get
        else:
            last_us, sess = None, 0
        # applyInPandasWithState splits a large group across multiple
        # Arrow chunks (~10k rows each) with no global order guarantee,
        # so the whole batch's rows for this key must be concatenated
        # and sorted ONCE before labeling — sorting each chunk
        # independently would mislabel keys larger than one chunk.
        # State stays O(1); the transient buffer is one key's rows in
        # one micro-batch, which micro-batch sizing already bounds.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        ts_us = pdf[tscol].to_numpy().astype("datetime64[us]").astype("int64")
        idxs = []
        for t in ts_us:
            t = int(t)
            if last_us is None or t - last_us > gap_us:
                sess += 1
            last_us = t
            idxs.append(sess)
        pdf = pdf.copy()
        pdf[out] = idxs
        yield pdf
        state.update((last_us, sess))
        if with_ttl:
            state.setTimeoutDuration(int(state_ttl_seconds) * 1000)

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if with_ttl
        else GroupStateTimeout.NoTimeout
    )
    return sdf.groupBy(usercol).applyInPandasWithState(
        label, out_schema, state_schema, "append", timeout_conf
    )


def streaming_minhash_dedup(
    sdf: DataFrame,
    output_dir: str,
    history_dir: str,
    checkpoint_dir: str,
    textcol: str = "text",
    idcol: str = "doc_id",
    k: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 100_000,
    available_now: bool = False,
):
    """Streaming NEAR-dup deduplication: each micro-batch is deduped
    within itself (``dedup_minhash_lsh``) and against everything that
    survived before it, then survivors append to ``output_dir`` —
    the ingestion-time MinHash dedup recipe via ``foreachBatch``
    (LSH banding needs whole-relation joins per batch, which the
    per-key state store cannot express; foreachBatch is Spark's
    sanctioned batch-join-in-a-stream hook).

    **State is the PRECOMPUTED band-key index, not the raw corpus**
    (same round-9 rebuild as :func:`streaming_containment_dedup`):
    ``history_dir`` holds per-batch DELTA versions of the two
    artifacts of
    :func:`~pd_utils_spark.extensions.dedup.minhash_history_frames` —
    ``keys/b=<batch_id>`` (banded LSH keys) and
    ``shingles/b=<batch_id>`` (Jaccard verify side) — plus
    ``docs/b=<batch_id>`` (survivor ``(id, text)``, external corpus
    artifact only). Each batch PROBES the accumulated artifacts with
    :func:`~pd_utils_spark.extensions.dedup.dedup_minhash_against_index`,
    so the history text is never re-shingled / re-minhashed /
    re-banded per batch; at scale, store ``keys`` bucketed on
    ``(band, band_key)`` and the candidate join is shuffle-free on
    the history side. ``compact_minhash_state`` folds deltas into a
    ``c=<top>`` generation (stream stopped).

    Replay safety (same crash algebra as the containment gate): state
    versions are keyed by ``batch_id``, written BEFORE the output
    append with ``keys`` committed LAST, and a batch reads only
    committed versions STRICTLY BELOW its own id — a retried batch
    ignores its crashed half-write, re-derives identical survivors,
    idempotently overwrites its own version dirs, and re-appends.
    ``output_dir`` is therefore AT-LEAST-ONCE (finish downstream with
    ``exact_dedup`` on id when exactly-once matters) while the
    artifact state is exactly-once.

    Shared band keys: a micro-batch is shingled and minhashed ONCE.
    The within-batch dedup persists the batch's shingle sets and its
    uncapped ``(id, band, band_key)`` table; the history probe gets
    their slices for the within-batch survivors (``batch_shingles``/
    ``batch_keys`` of
    :func:`~pd_utils_spark.extensions.dedup.dedup_minhash_against_index`)
    and the artifact build gets their slices for the final survivors
    (``shingles``/``band_keys`` of
    :func:`~pd_utils_spark.extensions.dedup.minhash_history_frames`).
    Every stage still applies ``max_bucket`` to its own rows, and all
    per-batch persists are released when the batch ends.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _dedup_minhash_lsh_parts,
        dedup_minhash_against_index,
        minhash_history_frames,
    )
    from pd_utils_spark.utils import release_registered

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _spread_batch(batch_df)
        try:
            # ONE tokenize pass and ONE signature aggregation per
            # micro-batch: the within-batch dedup exposes
            # its persisted shingle frame and its uncapped band-key
            # table, and both the history probe and the artifact build
            # derive their slices of them by (anti/semi) id joins
            # instead of re-shingling and re-minhashing the batch —
            # both are pure per-row functions of (id, text), so the
            # derived slices are row-identical to what each stage
            # would have computed itself. Each stage still applies the
            # flood cap to its own rows.
            survivors, bsh, bkeys, losers = _dedup_minhash_lsh_parts(
                batch_df, textcol, idcol, k, num_hashes, bands, threshold,
                max_bucket,
            )
            surv_sh = bsh.join(losers, idcol, "left_anti")
            state = _minhash_state_frames(spark, history_dir, below=batch_id)
            if state is not None:
                keys, shingles = state
                survivors = dedup_minhash_against_index(
                    survivors,
                    keys,
                    shingles,
                    textcol=textcol,
                    idcol=idcol,
                    k=k,
                    num_hashes=num_hashes,
                    bands=bands,
                    threshold=threshold,
                    max_bucket=max_bucket,
                    batch_shingles=surv_sh,
                    batch_keys=bkeys.join(losers, idcol, "left_anti"),
                )
            survivors = survivors.localCheckpoint(eager=True)  # 4 writes
            # band-bucket flood cap applied per delta at build time
            # (write-once); the probe caps only its batch side
            kept = survivors.select(idcol)
            frames = minhash_history_frames(
                survivors, textcol=textcol, idcol=idcol, k=k,
                num_hashes=num_hashes, bands=bands, max_bucket=max_bucket,
                shingles=surv_sh.join(kept, idcol, "left_semi"),
                band_keys=bkeys.join(kept, idcol, "left_semi"),
            )
            # Independent writes overlap (guide §2.6, r11) — same
            # schedule as the containment gate: docs reads only the
            # checkpointed survivors and shingles only the persisted
            # batch shingles, so the two run concurrently; keys (read
            # from the persisted band-key table) still commits
            # LAST among the state artifacts and the output append
            # starts only after every state write returned. Callables
            # are wrapped with inheritable_thread_target (r12) so job-
            # group cancellation reaches the in-flight writes and the
            # pinned-thread JVM side is cleaned up deterministically.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            writes = [
                lambda: frames["shingles"]
                .write.mode("overwrite")
                .parquet(f"{history_dir}/shingles/b={batch_id}"),
                lambda: survivors.select(idcol, textcol)
                .write.mode("overwrite")
                .parquet(f"{history_dir}/docs/b={batch_id}"),
            ]
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(inheritable_thread_target(spark)(w))
                    for w in writes
                ]
                for f in futs:
                    f.result()
            frames["keys"].write.mode("overwrite").parquet(
                f"{history_dir}/keys/b={batch_id}"
            )
            survivors.write.mode("append").parquet(output_dir)
        finally:
            # per-batch persists must not accumulate across the stream
            release_registered("dedup_minhash_lsh")
            release_registered("minhash_history_frames")
            release_registered("dedup_minhash_against_index")

    writer = sdf.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _minhash_state_frames(spark, history_dir: str, below: int):
    """Accumulated MinHash-gate artifacts strictly below batch id
    ``below`` (newest committed ``c=`` generation + newer ``b=``
    deltas, enumerated from ``keys``). Returns ``(keys, shingles)``
    or ``None``."""
    pieces = _versioned_state_pieces(spark, history_dir, "keys", below)
    if not pieces:
        return None
    keys = spark.read.parquet(*[f"{history_dir}/keys/{p}" for p in pieces])
    shingles = spark.read.parquet(
        *[f"{history_dir}/shingles/{p}" for p in pieces]
    )
    return keys, shingles


def compact_minhash_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_minhash_dedup` state dir's delta
    versions into one compacted ``c=<top>`` generation — the MinHash
    sibling of :func:`compact_containment_state` (same crash-safety:
    new paths only, ``keys`` commits last, readers prefer the newest
    committed compaction, pruning is cosmetic; run with the stream
    stopped; **the newest delta is never folded** — its batch may
    replay after a crash and reads strictly below its own id, so a
    compaction covering it would leave that replay probing empty
    history). Returns the compacted generation id, or the existing
    one when there is nothing to fold.

    Like its containment sibling, folding RE-APPLIES the build-time
    flood cap to the folded ``keys`` (a hot ``(band, band_key)``
    bucket otherwise grows to ``num_deltas x max_bucket`` over the
    stream's lifetime); the cap defaults to the value the builder
    stamped into the artifact metadata (read PER PIECE, merged as the
    minimum across stamped pieces — see
    :func:`_stamped_max_bucket_pieces`), pass an int (>= 1; 0 raises)
    to override or ``recap=False`` to fold losslessly. The replay
    caveat documented on :func:`compact_containment_state` applies
    verbatim: recapping makes post-compaction replays at-least-once
    on admissions."""
    _validate_recap(max_bucket)
    idx_dir = f"{history_dir}/keys"
    cs = _bloom_versions(spark, idx_dir, prefix="c=")
    c0 = max(cs) if cs else None
    bs = [v for v in _bloom_versions(spark, idx_dir) if c0 is None or v > c0]
    fold = sorted(bs)[:-1]  # replay safety: keep the newest delta
    if not fold:
        return c0
    top = max(fold)
    keys, shingles = _minhash_state_frames(spark, history_dir, below=top + 1)
    # re-bound band buckets that grew past the build-time cap across
    # deltas (see docstring); no-op for uncapped builds or recap=False
    mb = max_bucket
    if mb is None and recap:
        pieces = _versioned_state_pieces(
            spark, history_dir, "keys", below=top + 1
        )
        mb = _stamped_max_bucket_pieces(
            spark, [f"{history_dir}/keys/{p}" for p in pieces], "band_key"
        )
    if mb is not None and recap:
        from pd_utils_spark.extensions.dedup import _cap_buckets

        keys = _cap_buckets(
            keys, ["band", "band_key"], mb, "lsh_bucket_cap"
        )
    shingles.write.mode("overwrite").parquet(
        f"{history_dir}/shingles/c={top}"
    )
    keys.write.mode("overwrite").parquet(f"{history_dir}/keys/c={top}")
    if prune:
        _prune_state_pieces(
            spark, history_dir, ("keys", "shingles"), fold, c0
        )
    return top


def stateful_running_agg(
    sdf: DataFrame,
    keys: str | Sequence[str],
    value_col: str = "value",
    timeout: str = "NoTimeout",
    timeout_duration_ms: int = 3_600_000,
) -> DataFrame:
    """Running (sum, count, mean) per key, updated each micro-batch and
    carried across batches in the state store — the canonical custom
    stateful operator (batch-mode groupBy can't do "so far" totals on
    an unbounded stream).

    Output one row per key per batch that touched it:
    ``keys..., running_sum, running_count, running_mean``.
    State per key = two scalars — O(1), partition-local, shuffle only
    on the grouping keys.

    ``timeout='ProcessingTimeTimeout'`` evicts a key's totals after
    ``timeout_duration_ms`` of processing-time inactivity (reset on
    every batch that touches the key) — the state-store TTL that keeps
    per-key state O(active keys) instead of O(all keys ever seen) on
    an unbounded key space. An evicted key that reappears restarts
    from zero.
    """
    keys_l = to_list(keys)
    key_fields = ", ".join(
        f"`{k}` {dict(sdf.dtypes)[k]}" for k in keys_l
    )
    out_schema = (
        f"{key_fields}, running_sum double, running_count bigint, running_mean double"
    )
    state_schema = "total double, cnt bigint"
    with_ttl = timeout != "NoTimeout"

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if with_ttl and state.hasTimedOut:
            # idle past the TTL: evict and emit nothing
            state.remove()
            return
        if state.exists:
            total, cnt = state.get
        else:
            total, cnt = 0.0, 0
        for pdf in pdfs:
            vals = pd.to_numeric(pdf[value_col], errors="coerce").dropna()
            total += float(vals.sum())
            cnt += int(len(vals))
        state.update((total, cnt))
        if with_ttl:
            state.setTimeoutDuration(timeout_duration_ms)
        row = {k: key[i] for i, k in enumerate(keys_l)}
        row["running_sum"] = total
        row["running_count"] = cnt
        row["running_mean"] = total / cnt if cnt else None
        yield pd.DataFrame([row])

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if timeout == "NoTimeout"
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return sdf.groupBy(*keys_l).applyInPandasWithState(
        update, out_schema, state_schema, "update", timeout_conf
    )
