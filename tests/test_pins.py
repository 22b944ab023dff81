"""The materialization policy (``utils.materialize`` / ``query_scope`` /
``reliable_checkpoints``): every frame the library pins comes from
``materialize``, and the innermost open ``query_scope`` on the pinning
thread releases exactly its reuse pins."""

from __future__ import annotations

import ast
import gc
import pathlib
import threading
import weakref

import pandas as pd
import pytest

import __spark_entry__ as entry
from pd_utils_spark.extensions import dedup as D
from pd_utils_spark.extensions.events import seasonal_anomalies
from pd_utils_spark.extensions.profile import mutual_information
from pd_utils_spark.extensions.similarity import embedding_near_dup_pairs
from pd_utils_spark.plans.skew import hot_key_join
from pd_utils_spark.streaming import streaming_minhash_dedup
from pd_utils_spark.utils import materialize, query_scope, reliable_checkpoints

REPO = pathlib.Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.001"


def _cache_state(spark) -> tuple[int, set]:
    """(CacheManager entries, ids of NAMED persistent RDDs). Cached
    relations name their RDDs; local-checkpoint RDDs are unnamed and
    belong to the ContextCleaner."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return (
        field.get(cm).size(),
        {i for i, r in rdds.items() if r.name() is not None},
    )


def _in_thread(fn):
    """Run ``fn`` on a fresh thread, where no scope is open."""
    out = []
    t = threading.Thread(target=lambda: out.append(fn()))
    t.start()
    t.join()
    return out[0]


class TestMaterialize:
    def test_eager_requires_stable(self, spark):
        with pytest.raises(ValueError, match="stable"):
            materialize(spark.range(3), eager=True)

    def test_reuse_pin_belongs_to_innermost_scope(self, spark):
        with query_scope() as outer:
            a = materialize(spark.range(7).selectExpr("id * 5 AS x"))
            with query_scope() as inner:
                b = materialize(spark.range(7).selectExpr("id * 6 AS x"))
                assert b.storageLevel.useDisk
            assert inner == [b] and not b.storageLevel.useMemory
            assert outer == [a] and a.storageLevel.useMemory
        assert not a.storageLevel.useMemory

    def test_scopes_are_per_thread(self, spark):
        with query_scope() as pins:
            other = _in_thread(
                lambda: materialize(spark.range(9).selectExpr("id * 7 AS x"))
            )
        assert pins == []
        assert other.storageLevel.useMemory  # nobody released it
        other.unpersist()

    def test_stable_pin_is_local_checkpoint_not_scoped(self, spark):
        with query_scope() as pins:
            out = materialize(spark.range(4), stable=True, eager=True)
            assert pins == []
            assert "LogicalRDD" in out._jdf.queryExecution().analyzed().toString()

    def test_no_module_level_reference(self, spark):
        """Outside any scope nothing records the pin: the frame is
        collectable as soon as the caller drops it."""

        def pin():
            df = materialize(spark.range(11).selectExpr("id * 3 AS x"))
            return weakref.ref(df)

        ref = _in_thread(pin)
        gc.collect()
        assert ref() is None
        spark.range(11).selectExpr("id * 3 AS x").unpersist()  # same plan


class TestReliableCheckpoints:
    def test_reuse_pin_persists_source_then_lazy_checkpoint(
        self, spark, tmp_path
    ):
        base = spark.range(50).selectExpr("id", "id * 3 AS y")
        with reliable_checkpoints(spark, str(tmp_path)):
            with query_scope() as pins:
                out = materialize(base)
                assert pins == [base] and base.storageLevel.useMemory
                assert out is not base
                assert out.count() == 50
                assert any(tmp_path.rglob("rdd-*"))  # written on the action
            assert not base.storageLevel.useMemory
        assert spark.sparkContext.getCheckpointDir() is None

    def test_stable_pin_is_eager_reliable_checkpoint(self, spark, tmp_path):
        with reliable_checkpoints(spark, str(tmp_path)):
            with query_scope() as pins:
                materialize(spark.range(20), stable=True)  # eager regardless
                assert pins == []
            assert any(tmp_path.rglob("rdd-*"))
        assert spark.sparkContext.getCheckpointDir() is None

    def test_none_leaves_session_alone(self, spark):
        with reliable_checkpoints(spark, None):
            assert spark.sparkContext.getCheckpointDir() is None

    def test_restores_prior_dir_exactly(self, spark, tmp_path):
        """Not a fresh subdirectory of it, as the public setter makes."""
        sc = spark.sparkContext
        with reliable_checkpoints(spark, str(tmp_path / "outer")):
            prior = sc.getCheckpointDir()
            with reliable_checkpoints(spark, str(tmp_path / "inner")):
                assert sc.getCheckpointDir() != prior
            assert sc.getCheckpointDir() == prior
        assert sc.getCheckpointDir() is None


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _hot_key_join(spark):
    left = spark.createDataFrame(
        [(1, i) for i in range(30)] + [(2, 0)], "k long, v long"
    )
    right = spark.createDataFrame([(1, "a"), (2, "b")], "k long, w string")
    return hot_key_join(left, right, "k", hot_threshold=10)


def _events(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "ts": pd.date_range("2024-01-01", periods=48, freq="h"),
                "value": [float(i % 5) for i in range(48)],
            }
        )
    )
    return seasonal_anomalies(df, season="hour_of_day")


def _reliable_source(spark, tmp_path):
    with reliable_checkpoints(spark, str(tmp_path)):
        return materialize(spark.range(30).selectExpr("id * 9 AS x"))


#: Pins no caller released before query scopes: builder(spark, tmp_path).
RELEASE_SITES = {
    "simhash_keyed": lambda s, t: D.simhash_near_dup_pairs(_docs(s)),
    "embedding_sig": lambda s, t: embedding_near_dup_pairs(
        s.read.parquet(f"{SF}/embeddings.parquet"), threshold=0.9, dims=64
    ),
    "profile_cells": lambda s, t: mutual_information(
        s.range(40).selectExpr("id % 3 AS a", "id % 4 AS b"), "a", "b"
    ),
    "events_bucketed": lambda s, t: _events(s),
    "hot_key_join": lambda s, t: _hot_key_join(s),
    "materialize_reliable_source": _reliable_source,
    **{
        f"entry_{q}": (lambda q: lambda s, t: entry.queries()[q](s, SF))(q)
        for q in (
            "lsh_jaccard_pairs",
            "dedup_keep_best",
            "candidate_recall",
            "candidate_recall_simhash",
            "ann_pq_topk",
            "candidate_recall_multiband",
            "candidate_recall_multiband_boundary",
            "greedy_band_precision",
            "greedy_band_precision_boundary",
            "candidate_recall_streamband",
            "kmv_containment_audit",
        )
    },
}


@pytest.mark.parametrize("site", sorted(RELEASE_SITES))
def test_scope_releases_site(spark, tmp_path, site):
    """Build the frame inside a scope and run an action: on exit the
    CacheManager and the named persistent RDDs are as they were."""
    before = _cache_state(spark)
    with query_scope() as pins:
        RELEASE_SITES[site](spark, tmp_path).collect()
        assert pins, "the site pinned nothing"
        assert _cache_state(spark) != before
    assert _cache_state(spark) == before


def test_gate_keeps_callers_pins(spark, tmp_path):
    """A micro-batch's scope releases only the gate's own pins: a
    caller's ``dedup_minhash_lsh`` frames, pinned in the caller's scope
    on another thread, stay cached through a whole stream."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "one two three four five six")],
        "doc_id long, text string",
    )
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        {"doc_id": [10, 11, 12],
         "text": ["the quick brown fox jumps", "the quick brown fox jumps",
                  "lorem ipsum dolor sit amet"]}
    ).to_parquet(src / "b0.parquet")
    with query_scope() as pins:
        kept = D.dedup_minhash_lsh(corpus, threshold=0.5)
        assert sorted(r.doc_id for r in kept.collect()) == [1, 3]
        mine = list(pins)
        assert mine and all(f.storageLevel.useMemory for f in mine)
        before = _cache_state(spark)
        q = streaming_minhash_dedup(
            spark.readStream.schema("doc_id long, text string").parquet(str(src)),
            str(tmp_path / "out"), str(tmp_path / "hist"), str(tmp_path / "ckpt"),
            k=3, num_hashes=12, bands=6, threshold=0.5, available_now=True,
        )
        try:
            q.awaitTermination(180)
        finally:
            q.stop()
        assert len(spark.read.parquet(str(tmp_path / "out")).collect()) == 2
        assert pins == mine  # the gate's pins never entered this scope
        assert all(f.storageLevel.useMemory for f in mine)
        assert _cache_state(spark) == before  # and the gate's are gone


BANNED = {"persist", "cache", "localCheckpoint", "checkpoint", "setCheckpointDir"}


def test_only_utils_pins():
    """``materialize`` is the one place the library and the entry
    module call Spark's pin and checkpoint methods."""
    files = [
        p for p in sorted((REPO / "pd_utils_spark").rglob("*.py"))
        if p != REPO / "pd_utils_spark" / "utils.py"
    ] + [REPO / "__spark_entry__.py"]
    found = [
        f"{p.relative_to(REPO)}:{node.lineno} .{node.func.attr}("
        for p in files
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in BANNED
    ]
    assert found == []
