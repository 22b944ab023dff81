"""Custom stateful streaming operators via
``applyInPandasWithState`` — for semantics the built-in window
aggregations can't express (running totals across micro-batches,
custom session logic, online statistics).

State design for scale: state lives in the executor state store,
partitioned by the grouping keys — per-key state must stay O(1)
(scalars/counters, never row buffers) or the store becomes the
bottleneck; set a timeout so abandoned keys are evicted.

The ``foreachBatch`` operators keep their state in versioned parquet
dirs instead, through one protocol: :class:`_VersionedState` for the
ingest gates (its docstring states the crash algebra) and
:func:`_fold_stream` for the constant-state sketch operators.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

import pandas as pd

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pd_utils_spark.utils import materialize, query_scope, to_list


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
#: tasks).
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
    count is ``ceil(estimated input bytes / _SPREAD_TARGET_BYTES)``
    capped at ``defaultParallelism`` — proportional to the work, per
    guide §2.5 "spread proportional to input, not blindly to core
    count". The estimate comes from the optimized logical plan's
    stats (file sizes for a file-source micro-batch — no job, no
    collect). When the
    estimate is unavailable or absurd (relations without stats default
    to Long.MaxValue) the cap keeps the old conservative behavior.
    At scale this stays a structural no-op: batches bigger than
    ``_SPREAD_TARGET_BYTES x defaultParallelism`` already arrive in
    many splits and hit the ``n >= want`` early exit. Round-robin
    repartition is retry-safe (Spark sorts before round-robin by
    default) and every gate result is partitioning-independent by
    construction."""
    import math

    sc = batch_df.sparkSession.sparkContext
    try:
        n = batch_df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — defensive; keep the batch
        return batch_df
    p = sc.defaultParallelism
    if n >= p:
        return batch_df
    try:
        est = int(
            str(
                batch_df._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        want = min(p, max(1, math.ceil(est / _SPREAD_TARGET_BYTES)))
    except Exception:  # pragma: no cover — stats unavailable: be
        want = p  # conservative (the r11 behavior)
    if n < want:
        return batch_df.repartition(want)
    return batch_df


def _hadoop_fs(spark, path: str):
    """``(FileSystem, Path)`` for ``path``: the Hadoop FileSystem that
    owns it and the JVM ``Path`` class to address its children."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return Path(path).getFileSystem(conf), Path


def _versions(
    spark, state_dir: str, prefix: str = "b=", committed_only: bool = True
) -> list[int]:
    """Sorted version ids under a versioned state dir. ``committed_only``
    keeps only versions whose ``_SUCCESS`` marker exists — a version
    directory APPEARS as soon as the writer mkdirs it, before any
    parquet file commits, so a crash mid-write (or a concurrent reader
    racing the write) must never mistake the partial directory for
    state. ``prefix`` selects the namespace (``b=`` per-batch
    versions, ``c=`` the gates' compacted generations). An explicit
    listing, not try/except around the read: a transient storage
    error must fail (and retry) the batch — treating it as "no
    history" would admit duplicates permanently."""
    fs, Path = _hadoop_fs(spark, state_dir)
    if not fs.exists(Path(state_dir)):
        return []
    out = []
    for st in fs.listStatus(Path(state_dir)):
        name = st.getPath().getName()
        v = name[len(prefix):]
        if name.startswith(prefix) and v.isdigit() and (
            not committed_only
            or fs.exists(Path(f"{state_dir}/{name}/_SUCCESS"))
        ):
            out.append(int(v))
    return sorted(out)


def _delete_quietly(spark, state_dir: str, names: list[str]) -> None:
    """Best-effort removal of superseded version dirs: pruning is
    cosmetic (readers already resolve the newest committed state), so
    it never fails a batch or a compaction."""
    fs, Path = _hadoop_fs(spark, state_dir)
    for name in names:
        try:
            fs.delete(Path(f"{state_dir}/{name}"), True)
        except Exception:
            pass


def _start(
    sdf: DataFrame,
    process,
    checkpoint_dir: str,
    available_now: bool,
    output_mode: str = "append",
):
    """Start ``process`` as the ``foreachBatch`` sink of ``sdf``, each
    micro-batch in its own :func:`~pd_utils_spark.utils.query_scope`
    (per-batch pins never accumulate across a long-running stream, and
    never release a caller's frames); ``available_now=True`` drains
    everything currently available and terminates
    (Trigger.AvailableNow — the batch-backfill mode). ``output_mode``
    is the query's output mode (``"append"``, ``"update"`` or
    ``"complete"``). Returns the started ``StreamingQuery``."""

    def scoped(batch_df: DataFrame, batch_id: int) -> None:
        with query_scope():
            process(batch_df, batch_id)

    writer = (
        sdf.writeStream.foreachBatch(scoped)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _validate_recap(max_bucket) -> None:
    """Fail loudly on cap values that would wipe the folded state
    (``_cap_buckets`` drops EVERY bucket at <= 0); ``None`` means
    "use the stamped build-time cap" and ``recap=False`` on the
    compactors is the explicit no-recap override."""
    if max_bucket is not None and int(max_bucket) <= 0:
        raise ValueError(f"max_bucket must be >= 1: {max_bucket}")


@dataclass(frozen=True)
class _VersionedState:
    """The ingest gates' delta-versioned artifact state under ``root``:
    ``<root>/<artifact>/b=<batch_id>`` per-batch deltas and
    ``<root>/<artifact>/c=<id>`` compacted generations, for each of
    ``artifacts``; ``last`` is the artifact that commits LAST, and
    versions are listed from it, so a listed version implies its
    siblings committed. ``on_read`` post-processes an artifact's
    merged read (the containment ``dfreq`` deltas are summed — a
    compacted table is already a sum, so re-summing with newer deltas
    stays exact).

    Crash algebra (stated once for both gates and both compactors). A
    batch writes its state BEFORE its output: every frame except
    ``last`` in one overlapped wave, ``last`` after the wave returned,
    the output append only after every state write returned (a failed
    write raises and fails the batch before any output row lands). A
    batch reads only committed versions STRICTLY BELOW its own id, so
    a retried batch ignores its own crashed half-write, re-derives
    identical survivors (the gates' dedup stages are deterministic),
    idempotently overwrites its own version dirs and re-appends its
    output. The output is therefore AT-LEAST-ONCE (the standard
    foreachBatch caveat — finish downstream with ``exact_dedup`` on
    id when exactly-once matters) while the artifact state is
    exactly-once; no crash window loses accepted documents or admits
    a duplicate past the gate. The wave runs on
    ``inheritable_thread_target`` threads so the batch's JVM local
    properties (job group, scheduler pool) reach the in-flight writes
    and ``query.stop()`` cancels them; concurrent materialization of a
    shared cached block is safe (the BlockManager computes it once
    under the block lock).

    Compaction (:meth:`compact`, stream STOPPED — a concurrent batch
    could commit a new delta mid-fold; nothing corrupts, but that
    delta could be read twice by a reader racing the prune, which is
    harmless: pinned in ``tests/test_streaming.py``) folds the deltas
    into ``c=<top>`` so a read opens O(1) directories. **The NEWEST
    committed delta is never folded**: state is written before the
    streaming checkpoint commits, so the newest delta can belong to a
    batch the engine replays on restart, and that replay reads
    strictly below its own id — a ``c=`` covering its own delta, with
    the covered deltas pruned, would leave it probing EMPTY history.
    The fold writes NEW paths with the same commit-last schedule,
    readers prefer the newest committed ``c=`` and ignore deltas at or
    below it, and pruning is best-effort cosmetic — a crash at any
    point leaves a state the reader resolves identically.

    Recap: per-delta flood caps bound each delta independently, so a
    hot bucket of ``last`` can grow to ``num_deltas x max_bucket``;
    the fold re-applies the cap on ``cap_cols`` (same recall trade and
    ``cap_label`` observe metric as the build-time cap). The cap is
    the explicit ``max_bucket`` or else the MINIMUM stamp the builders
    wrote into the ``cap_cols[-1]`` metadata, read PER PIECE (a merged
    multi-path read surfaces whichever footer Spark samples); ``None``
    when no piece is stamped, i.e. an uncapped build folds losslessly,
    and ``recap=False`` folds a capped build losslessly. Replay
    caveat: recapping weakens replay identity to AT-LEAST-ONCE on
    admissions — a crash -> compact -> restart sequence can have the
    replayed newest batch probe a smaller (recapped) history than its
    original run and admit docs the original dropped (never the
    reverse: removing index rows only removes drop reasons). Compact
    only after the newest delta's batch is committed in the streaming
    checkpoint when exact replay identity matters, or pass
    ``recap=False``."""

    spark: SparkSession
    root: str
    artifacts: tuple[str, ...]
    last: str
    cap_cols: tuple[str, ...]
    cap_label: str
    on_read: Mapping[str, Callable[[DataFrame], DataFrame]] = field(
        default_factory=dict
    )

    def _listed(self, prefix: str) -> list[int]:
        return _versions(self.spark, f"{self.root}/{self.last}", prefix)

    def pieces(self, below: int) -> list[str]:
        """The newest committed ``c=`` generation plus every committed
        ``b=`` delta newer than it, all strictly below ``below``."""
        cs = [v for v in self._listed("c=") if v < below][-1:]
        c0 = max(cs, default=-1)
        bs = [v for v in self._listed("b=") if c0 < v < below]
        return [f"c={v}" for v in cs] + [f"b={v}" for v in bs]

    def read(self, below: int) -> tuple[DataFrame, ...] | None:
        """One frame per artifact (in ``artifacts`` order) over
        :meth:`pieces`, or ``None`` when no committed state qualifies."""
        pieces = self.pieces(below)
        if not pieces:
            return None
        return tuple(
            self.on_read.get(a, lambda df: df)(self.spark.read.parquet(
                *[f"{self.root}/{a}/{p}" for p in pieces]
            ))
            for a in self.artifacts
        )

    def _commit(self, version: str, frames: dict[str, DataFrame]) -> None:
        def write(a: str) -> None:
            frames[a].write.mode("overwrite").parquet(
                f"{self.root}/{a}/{version}"
            )

        wave = [a for a in frames if a != self.last]
        with ThreadPoolExecutor(max_workers=len(wave)) as pool:
            list(pool.map(inheritable_thread_target(self.spark)(write), wave))
        write(self.last)

    def write_batch(self, batch_id: int, frames: dict[str, DataFrame],
                    output: DataFrame, output_dir: str) -> None:
        """Commit ``frames`` as version ``b=<batch_id>`` (the wave,
        then ``last``), then append ``output`` to ``output_dir``.
        ``frames`` may carry write-only artifacts (the gates' survivor
        ``docs``) that are never read back or compacted."""
        self._commit(f"b={batch_id}", frames)
        output.write.mode("append").parquet(output_dir)

    def stamped_cap(self, below: int) -> int | None:
        """Minimum build-time cap stamped on the ``last`` pieces below
        ``below``, each piece's own footer read; ``None`` if none."""
        stamps = [
            self.spark.read.parquet(f"{self.root}/{self.last}/{p}")
            .schema[self.cap_cols[-1]].metadata.get("max_bucket")
            for p in self.pieces(below)
        ]
        return min((int(s) for s in stamps if s is not None), default=None)

    def compact(self, prune: bool = True, max_bucket: int | None = None,
                recap: bool = True) -> int | None:
        """Fold every committed delta except the newest into
        ``c=<top>``; returns ``top``, or the existing generation id
        (``None`` if none) when there is nothing to fold."""
        _validate_recap(max_bucket)
        cs = self._listed("c=")[-1:]
        fold = [v for v in self._listed("b=") if v > max(cs, default=-1)]
        fold = fold[:-1]  # the newest delta stays unfolded (docstring)
        if not fold:
            return cs[0] if cs else None
        top = fold[-1]
        frames = dict(zip(self.artifacts, self.read(below=top + 1)))
        cap = max_bucket
        if cap is None and recap:
            cap = self.stamped_cap(below=top + 1)
        if cap is not None and recap:
            from pd_utils_spark.extensions.dedup import _cap_buckets

            frames[self.last] = _cap_buckets(
                frames[self.last], list(self.cap_cols), cap, self.cap_label
            )
        self._commit(f"c={top}", frames)
        if prune:
            stale = [f"b={v}" for v in fold] + [f"c={v}" for v in cs]
            for a in self.artifacts:
                _delete_quietly(self.spark, f"{self.root}/{a}", stale)
        return top


def _sum_dfreq(dfreq: DataFrame) -> DataFrame:
    return dfreq.groupBy("__tok__").agg(F.sum("__df__").alias("__df__"))


#: The containment gate's state: ``(index, sets, dfreq)``, index last.
_containment_state = partial(
    _VersionedState, artifacts=("index", "sets", "dfreq"), last="index",
    cap_cols=("__tok__",), cap_label="containment_against_bucket",
    on_read={"dfreq": _sum_dfreq},
)

#: The MinHash gate's state: ``(keys, shingles)``, keys last.
_minhash_state = partial(
    _VersionedState, artifacts=("keys", "shingles"), last="keys",
    cap_cols=("band", "band_key"), cap_label="lsh_bucket_cap",
)


def _fold_stream(
    sdf: DataFrame, state_dir: str, checkpoint_dir: str, available_now: bool,
    sketch: Callable[[DataFrame, DataFrame | None], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    snapshot: Callable[[DataFrame], DataFrame] | None = None,
    output_dir: str | None = None,
):
    """The one constant-state fold of the five sketch operators (each
    folds a mergeable summary — Bloom, HLL, bottom-k, frequent items,
    A-ES sample). Per micro-batch: read the newest committed
    ``<state_dir>/b=<v>`` with ``v`` STRICTLY BELOW the batch id
    (``old``), ``sketch(batch_df, old)`` the batch, ``merge(old,
    fresh)``, ``localCheckpoint`` (consumed twice), write
    ``b=<batch_id>``, overwrite ``snapshot(merged)`` plus an
    ``as_of_batch`` column at ``output_dir``, and prune versions older
    than ``old``.

    The read rule is the gates' (see :class:`_VersionedState`): a
    retried batch ignores its own crashed or committed version and
    rebuilds it from the same predecessor, so replay is safe for every
    merge, idempotent (HLL union, bottom-k distinct-merge, Bloom OR)
    or not (frequent-items combine double-counts a re-merge). Versions
    are whole-state overwrites under ``_SUCCESS``-only readers, so
    there is no delete-then-rewrite window in which a crash (or a
    concurrent reader) sees missing state; the snapshot is a full
    overwrite, so downstream readers never see partial state."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = [v for v in _versions(spark, state_dir) if v < batch_id]
        old = spark.read.parquet(f"{state_dir}/b={prev[-1]}") if prev else None
        fresh = sketch(batch_df, old)
        merged = fresh if old is None else merge(old, fresh)
        merged = materialize(merged, stable=True, eager=True)
        merged.write.mode("overwrite").parquet(f"{state_dir}/b={batch_id}")
        if snapshot is not None:
            snapshot(merged).withColumn(
                "as_of_batch", F.lit(batch_id).cast("bigint")
            ).write.mode("overwrite").parquet(output_dir)
        if prev:  # keep the predecessor; prune partial versions too
            stale = _versions(spark, state_dir, committed_only=False)
            _delete_quietly(
                spark, state_dir, [f"b={v}" for v in stale if v < prev[-1]]
            )

    return _start(sdf, process, checkpoint_dir, available_now)


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
        fs, Path = _hadoop_fs(spark, history_dir)
        if fs.exists(Path(history_dir)):
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
        # written twice below; the eager checkpoint supersedes the
        # per-pass frames _greedy_band_filter pins, so its own scope
        # releases them before the writes
        with query_scope():
            survivors = materialize(
                _greedy_band_filter(work, idcol, bands), stable=True, eager=True
            )
        survivors.drop("__bks__").write.mode("append").parquet(output_dir)
        survivors.select(
            F.posexplode("__bks__").alias("band", "key")
        ).write.mode("append").parquet(history_dir)

    return _start(sdf, process, checkpoint_dir, available_now)


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

    Replay safety: survivors append BEFORE the filter is written, and
    the filter state is VERSIONED (``bloom_dir/b=<batch_id>``) under
    the sketch fold's read rule (:func:`_fold_stream`): a retried
    batch probes the same predecessor filter, re-derives the same
    survivors, overwrites only its own version and re-appends its
    output — the standard at-least-once caveat; finish downstream
    with ``exact_dedup`` on id. Versions older than the previous one
    are best-effort pruned.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        bloom_fingerprints,
        exact_dedup,
        exact_dedup_against_bloom,
        merge_blooms,
    )

    def sketch(batch_df: DataFrame, old: DataFrame | None) -> DataFrame:
        batch = exact_dedup(batch_df, textcol, idcol)
        if old is not None:
            batch = exact_dedup_against_bloom(
                batch, old, textcol=textcol, idcol=idcol, verify=False
            )
        survivors = materialize(batch, stable=True, eager=True)  # read twice
        survivors.write.mode("append").parquet(output_dir)
        return bloom_fingerprints(survivors, textcol, m_bits, k)

    return _fold_stream(
        sdf, bloom_dir, checkpoint_dir, available_now, sketch, merge_blooms
    )


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

    Replay safety is the sketch fold's (:func:`_fold_stream`): the
    sketch table is VERSIONED (``sketch_dir/b=<batch_id>``), a
    retried batch rebuilds only its own version from its predecessor,
    and the estimates snapshot is a full overwrite, so downstream
    readers never see partial state.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import hll_rollup, hll_sketch_by

    byvars_l = to_list(byvars)
    estimate = F.hll_sketch_estimate("sk").cast("bigint")
    return _fold_stream(
        sdf, sketch_dir, checkpoint_dir, available_now,
        sketch=lambda b, _: hll_sketch_by(b, byvars_l, col, lgk=lgk, out="sk"),
        merge=lambda old, new: hll_rollup(
            old.unionByName(new), byvars_l, "sk"
        ),
        snapshot=lambda m: m.select(
            *byvars_l, estimate.alias("distinct_estimate")
        ),
        output_dir=output_dir,
    )


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

    Replay safety: ``index`` commits last and the output appends
    after every state write; ``output_dir`` is AT-LEAST-ONCE, the
    artifact state exactly-once — the crash algebra, and the replay
    caveat of a recapping :func:`compact_containment_state`, are
    stated on :class:`_VersionedState`. ``max_bucket`` trades exact
    recall for flood protection on the history index (observe
    metric).

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.dedup import (
        _dedup_containment_parts,
        containment_index_frames,
        dedup_containment_against_index,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        state = _containment_state(batch_df.sparkSession, history_dir)
        batch_df = _spread_batch(batch_df)
        # ONE shingle pass per micro-batch (r12, guide §1.2): the
        # within-batch dedup exposes its persisted (__id__,
        # __tok__) frame, and both the history probe and the
        # artifact build derive their token frames from it by
        # (anti/semi) id joins instead of re-tokenizing the batch
        # text — _containment_toks is a pure per-row function of
        # (id, text), so the derived slices are row-identical to
        # what each stage would have computed itself.
        survivors, btoks, dropped = _dedup_containment_parts(
            batch_df, textcol=textcol, idcol=idcol, threshold=threshold,
            k=k, max_bucket=max_bucket,
        )
        ids = F.col(idcol).alias("__id__")
        surv_toks = btoks.join(dropped.select(ids), "__id__", "left_anti")
        history = state.read(below=batch_id)
        if history is not None:
            # history side was flood-capped at build time (below)
            # — a per-probe cap would re-window the full history
            # index every batch
            survivors = dedup_containment_against_index(
                survivors, *history, textcol=textcol, idcol=idcol,
                threshold=threshold, k=k, max_bucket=None,
                toks=surv_toks,
            )
        survivors = materialize(survivors, stable=True, eager=True)  # 5 writes
        # flood cap applied per delta at build — write-once; a
        # bucket spanning deltas is capped per delta until a
        # compaction re-bounds it
        frames = containment_index_frames(
            survivors, textcol=textcol, idcol=idcol, k=k,
            max_bucket=max_bucket,
            toks=surv_toks.join(
                survivors.select(ids), "__id__", "left_semi"
            ),
        )
        # one 3-wide wave (sets materializes the htoks+sets
        # caches, dfreq reads the shared htoks cache, docs the
        # checkpointed survivors), then index, then the output
        docs = survivors.select(idcol, textcol)
        state.write_batch(
            batch_id, {"sets": frames["sets"], "docs": docs,
                       "dfreq": frames["dfreq"], "index": frames["index"]},
            survivors, output_dir,
        )

    return _start(sdf, process, checkpoint_dir, available_now)


def compact_containment_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_containment_dedup` state dir's delta
    versions into one compacted generation ``c=<top>``, so the
    per-batch state read opens O(1) directories instead of one per
    historical batch and the df-delta sum touches each token once.
    Run with the stream STOPPED. The newest committed delta is never
    folded (``top`` = the highest version strictly below it), so a
    replayed batch still resolves complete history. Returns the
    compacted generation id, or the existing one (``None`` if none)
    when there is nothing to fold.

    The build-time flood cap is RE-APPLIED to the folded ``index``
    (a hot ``__tok__`` bucket otherwise grows to ``num_deltas x
    max_bucket``): by default the minimum cap the builder stamped
    into the artifact metadata (uncapped builds fold losslessly);
    pass an int (>= 1 — 0 raises instead of silently wiping the
    index) to override, or ``recap=False`` to fold a capped build
    losslessly. Crash safety, the never-fold-the-newest rule, the
    stamp policy and the recap replay caveat are stated once on
    :class:`_VersionedState`."""
    state = _containment_state(spark, history_dir)
    return state.compact(prune, max_bucket, recap)


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
    built over the full history in one pass. Replay safety is the
    sketch fold's (:func:`_fold_stream`): versioned state
    (``sample_dir/b=<batch>``, committed-``_SUCCESS`` readers), and a
    retried batch rebuilds its own version from its predecessor.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        quantile_estimate,
        sample_sketch_by,
    )

    byvars_l = to_list(byvars)
    q_names = [f"q{int(round(q * 100))}" for q in qs]
    # single-file micro-batches otherwise hash/struct every batch row
    # on ONE core (see _spread_batch; result is partitioning-
    # independent — deterministic sort-truncate)
    return _fold_stream(
        sdf, sample_dir, checkpoint_dir, available_now,
        sketch=lambda b, _: sample_sketch_by(
            _spread_batch(b), byvars_l, col, id_cols=id_cols, k=k, out="sk"
        ),
        merge=lambda old, new: bottomk_rollup(
            old.unionByName(new), byvars_l, "sk", k=k
        ),
        snapshot=lambda m: quantile_estimate(
            m, "sk", list(qs), drop_sketch=False
        ).select(
            *byvars_l, *q_names, F.size("sk").cast("bigint").alias("n_sampled")
        ),
        output_dir=output_dir,
    )


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

    Replay safety: frequent-items COMBINE IS NOT IDEMPOTENT
    (re-merging the same batch double-counts, where HLL union and
    bottom-k distinct-merge are no-ops), so a retried batch must
    never merge the version it already committed — the sketch fold's
    read rule (:func:`_fold_stream`) takes the latest committed
    version STRICTLY OLDER than the current batch id, so a retry
    rebuilds its own version from the same predecessor and overwrites
    it bit-identically.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        topk_estimate,
        topk_rollup,
        topk_sketch_by,
    )

    byvars_l = to_list(byvars)
    return _fold_stream(
        sdf, sketch_dir, checkpoint_dir, available_now,
        sketch=lambda b, _: topk_sketch_by(
            b, byvars_l, col, max_items=max_items, out="sk"
        ),
        merge=lambda old, new: topk_rollup(
            old.unionByName(new), byvars_l, "sk", max_items=max_items
        ),
        snapshot=lambda m: topk_estimate(m, "sk", k=k),
        output_dir=output_dir,
    )


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
    equality with the one-pass batch twin; replay-safe under the
    sketch fold's read rule (:func:`_fold_stream`).
    While a group's (positive-weight) rows fit in ``k`` the sample IS
    the group and the snapshot aggregates are exact.

    Returns the started ``StreamingQuery``.
    """
    from pd_utils_spark.extensions.sketches import (
        bottomk_rollup,
        weighted_sample_sketch_by,
    )

    byvars_l = to_list(byvars)
    # see _spread_batch — same single-file micro-batch rationale as
    # streaming_sample_quantiles; A-ES keys are row-deterministic
    return _fold_stream(
        sdf, sample_dir, checkpoint_dir, available_now,
        sketch=lambda b, _: weighted_sample_sketch_by(
            _spread_batch(b), byvars_l, col, weight_col, id_cols=id_cols,
            k=k, out="sk",
        ),
        merge=lambda old, new: bottomk_rollup(
            old.unionByName(new), byvars_l, "sk", k=k
        ),
        snapshot=lambda m: m.select(
            *byvars_l,
            F.size("sk").cast("bigint").alias("n_sampled"),
            F.round(
                F.aggregate("sk", F.lit(0.0), lambda acc, x: acc + x["v"]), 6
            ).alias("sum_sampled"),
        ),
        output_dir=output_dir,
    )


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
    versions = _versions(spark, state_dir)
    if not versions:
        return None, None
    return versions[-1], spark.read.parquet(f"{state_dir}/b={versions[-1]}")


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

    Replay safety: ``keys`` commits last and the output appends
    after every state write; ``output_dir`` is AT-LEAST-ONCE, the
    artifact state exactly-once — the crash algebra is stated on
    :class:`_VersionedState`.

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

    def process(batch_df: DataFrame, batch_id: int) -> None:
        state = _minhash_state(batch_df.sparkSession, history_dir)
        batch_df = _spread_batch(batch_df)
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
        history = state.read(below=batch_id)
        if history is not None:
            survivors = dedup_minhash_against_index(
                survivors, *history, textcol=textcol, idcol=idcol, k=k,
                num_hashes=num_hashes, bands=bands, threshold=threshold,
                max_bucket=max_bucket, batch_shingles=surv_sh,
                batch_keys=bkeys.join(losers, idcol, "left_anti"),
            )
        survivors = materialize(survivors, stable=True, eager=True)  # 4 writes
        # band-bucket flood cap applied per delta at build time
        # (write-once); the probe caps only its batch side
        kept = survivors.select(idcol)
        frames = minhash_history_frames(
            survivors, textcol=textcol, idcol=idcol, k=k,
            num_hashes=num_hashes, bands=bands, max_bucket=max_bucket,
            shingles=surv_sh.join(kept, idcol, "left_semi"),
            band_keys=bkeys.join(kept, idcol, "left_semi"),
        )
        # one 2-wide wave (shingles reads the persisted batch
        # shingles, docs the checkpointed survivors), then keys
        # (from the persisted band-key table), then the output
        docs = survivors.select(idcol, textcol)
        state.write_batch(
            batch_id, {"shingles": frames["shingles"], "docs": docs,
                       "keys": frames["keys"]},
            survivors, output_dir,
        )

    return _start(sdf, process, checkpoint_dir, available_now)


def compact_minhash_state(
    spark, history_dir: str, prune: bool = True,
    max_bucket: int | None = None, recap: bool = True,
):
    """Fold a :func:`streaming_minhash_dedup` state dir's delta
    versions into one compacted ``c=<top>`` generation — the MinHash
    sibling of :func:`compact_containment_state` (run with the stream
    stopped; the newest delta is never folded). Returns the compacted
    generation id, or the existing one when there is nothing to fold.

    Folding RE-APPLIES the build-time flood cap to the folded
    ``keys`` (a hot ``(band, band_key)`` bucket otherwise grows to
    ``num_deltas x max_bucket`` over the stream's lifetime): by
    default the minimum stamped cap; pass an int (>= 1; 0 raises) to
    override or ``recap=False`` to fold losslessly. Crash safety, the
    stamp policy and the recap replay caveat are stated once on
    :class:`_VersionedState`."""
    state = _minhash_state(spark, history_dir)
    return state.compact(prune, max_bucket, recap)


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
