"""Physical-plan regression tests: lock the SCALE.md claims — filters
reach the parquet scan, scans are column-pruned, dimension joins
broadcast, and the as-of join never degrades to a cartesian plan.
These catch silent plan regressions that value-correctness tests
cannot."""

from __future__ import annotations

import collections
import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

import pd_utils_spark as pus


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestPushdownAndPruning:
    def test_filter_pushed_to_scan(self, spark, li):
        out = pus.select_rows_by_condition_on_columns(
            li.select("l_orderkey", "l_tax", "l_discount"),
            ["l_tax", "l_discount"],
            condition=">= 0.05",
            logic="or",
        )
        plan = plan_of(out)
        assert "PushedFilters: [Or(GreaterThanOrEqual(l_tax,0.05)" in plan

    def test_scan_is_column_pruned(self, spark, li):
        out = li.groupBy("l_returnflag").agg(F.avg("l_quantity"))
        plan = plan_of(out)
        # only the two referenced columns reach the reader
        assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" in plan

    def test_aggregate_is_partial_then_final(self, spark, li):
        plan = plan_of(pus.averages(li, "l_extendedprice", byvars="l_returnflag"))
        # partial HashAggregate -> single Exchange -> final HashAggregate
        assert plan.count("HashAggregate") >= 2
        assert "hashpartitioning(l_returnflag" in plan


class TestMaterialize:
    def test_persist_mode_computes_once(self, spark):
        from pd_utils_spark.utils import materialize

        df = materialize(spark.range(100).selectExpr("id", "id * 2 AS y"))
        try:
            assert df.storageLevel.useMemory or df.storageLevel.useDisk
        finally:
            df.unpersist()

    def test_checkpoint_mode_persists_underneath(self, spark):
        """With a checkpoint dir set, materialize must persist BEFORE
        the lazy checkpoint: a bare lazy checkpoint recomputes the
        subtree once per reference of the first action plus once for
        the checkpoint write (the re-execution pathology it exists to
        prevent)."""
        import tempfile

        from pd_utils_spark.utils import materialize

        sc = spark.sparkContext
        with tempfile.TemporaryDirectory() as d:
            sc.setCheckpointDir(d)
            try:
                base = spark.range(50).selectExpr("id", "id * 3 AS y")
                out = materialize(base)
                # the pre-checkpoint frame carries the persist
                assert (
                    base.storageLevel.useMemory or base.storageLevel.useDisk
                )
                assert out.count() == 50  # checkpoint materializes fine
            finally:
                base.unpersist()
                jsc = sc._jsc.sc()
                none = sc._jvm.scala.Option.apply(None)
                getattr(jsc, "checkpointDir_$eq")(none)


class TestExplodeBarriers:
    def test_rolling_hash_fingerprints_barriered(self, spark):
        """The shingle+md5 array must stay behind a plan barrier so an
        explode consumer reads a bound attribute instead of
        re-evaluating the array per output row (10× at sf0.1,
        SCALE.md round 4)."""
        from pd_utils_spark.extensions.text import rolling_hash_fingerprints

        d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = rolling_hash_fingerprints(d.select("doc_id", "text"), k=5).select(
            "doc_id", F.explode("shingle_hashes")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CollectMetrics" in plan  # the barrier survived optimization


class TestPQEncodeShape:
    def test_encode_is_explode_join_not_expression_tree(self, spark):
        """pq_encode must stay in the explode + broadcast-join form —
        the m*ncodes inline-expression form exceeds codegen limits and
        runs interpreted (27.5 s vs 6.3 s at sf0.1, SCALE.md round 4)."""
        from pd_utils_spark.extensions.similarity import pq_encode

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cb = [[[0.0] * 8 for _ in range(16)] for _ in range(8)]
        plan = (
            pq_encode(emb, cb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Generate posexplode" in plan  # subvector fan-out
        assert "BroadcastHashJoin" in plan    # codebook join
        # the distance argmin is an aggregation, not a 512-expression
        # projection
        assert "min(" in plan


class TestCorrelatedSubquery:
    def test_tpch_q17_decorrelates_to_agg_join(self, spark):
        """The correlated scalar subquery (per-part avg quantity) must
        be rewritten by Catalyst into an aggregate joined back on the
        correlation key — NOT executed per outer row."""
        import __spark_entry__ as entry

        df = entry.queries()["sql_tpch_q17"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # the per-part average appears as a join condition on an
        # aggregated build side; no scalar-subquery node survives
        assert "avg(l_quantity)" in plan
        assert "Subquery" not in plan
        assert plan.count("HashAggregate") >= 2

    def test_tpch_q2_decorrelates_to_agg_join(self, spark):
        """Q2's correlated MIN over the 4-way ps/supplier/nation/region
        join must decorrelate into one aggregated min-cost side joined
        back on the part key — not a per-part re-execution of the
        4-way join — and the comma-join rewrite must leave no
        cartesian product behind."""
        import __spark_entry__ as entry

        df = entry.queries()["sql_tpch_q2"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "min(ps_supplycost" in plan
        assert "Subquery" not in plan
        assert "CartesianProduct" not in plan

    def test_tpch_q20_decorrelates_all_three_levels(self, spark):
        """Q20's nested IN with a correlated scalar half-sum must
        lower to semi joins + an aggregate join: no surviving subquery
        nodes, no cartesian products, and the correlated sum appears
        as an aggregated join side."""
        import __spark_entry__ as entry

        df = entry.queries()["sql_tpch_q20"](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "sum(l_quantity" in plan
        assert "Subquery" not in plan
        assert "CartesianProduct" not in plan
        assert "LeftSemi" in plan


class TestJoinShapes:
    def test_asof_join_keeps_equi_keys(self, spark):
        """All three as-of directions share one plan: the distinct-left
        x right equi join, one rank-1 window, one join back."""
        ev = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        left = ev.select("o_custkey", "o_orderkey")
        right = ev.select("o_custkey", F.col("o_orderkey").alias("rk"), "o_totalprice")
        for fn in (pus.left_merge_latest, pus.left_merge_soonest, pus.left_merge_nearest):
            out = fn(
                left, right, on="o_custkey", left_datevar="o_orderkey", right_datevar="rk"
            )
            plan = plan_of(out)
            assert "CartesianProduct" not in plan
            # every join keyed on the equi column
            assert "o_custkey" in plan
            nodes = collections.Counter(
                re.findall(
                    r"^[\s:+|-]*(\w+)",
                    out._jdf.queryExecution().optimizedPlan().toString(),
                    re.M,
                )
            )
            # the distinct left keys are the one aggregate
            shape = {k: nodes[k] for k in ("Join", "Aggregate", "Window")}
            assert shape == {"Join": 2, "Aggregate": 1, "Window": 1}, (fn.__name__, nodes)

    def test_dimension_completion_broadcasts(self, spark, li):
        counts = li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count("*").cast("double").alias("cnt")
        )
        out = pus.fill_excluded_rows(counts, ["l_returnflag", "l_linestatus"], "cnt", value=0)
        plan = plan_of(out)
        assert "BroadcastExchange" in plan

    def test_sampling_split_and_filter_are_shuffle_free(self, spark):
        from pd_utils_spark.extensions import sampling as S

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        split_plan = plan_of(S.hash_split(docs, seed=1))
        assert "Exchange" not in split_plan  # pure projection
        samp_plan = plan_of(S.stratified_sample(docs, 0.5))
        assert "Exchange" not in samp_plan  # pure filter

    def test_quantize_embeddings_is_shuffle_free(self, spark):
        from pd_utils_spark.extensions.similarity import quantize_embeddings

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = plan_of(quantize_embeddings(emb))
        assert "Exchange" not in plan  # pure projection over the scan

    def test_dataset_release_has_no_cartesian(self, spark):
        import __spark_entry__ as entry

        plan = plan_of(entry.q_dataset_release(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan  # bench grams + contaminated ids

    def test_interleave_and_decontaminate_broadcast_small_sides(self, spark):
        from pd_utils_spark.extensions import sampling as S

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        inter = S.interleave_sources(docs, {"src0": 0.5, "src1": 0.5})
        plan = plan_of(inter)
        assert "BroadcastExchange" in plan  # rates frame, not the corpus
        bench = docs.filter(F.col("doc_id") % 97 == 0).select("text")
        decon = S.decontaminate(docs, bench, n=5)
        plan = plan_of(decon)
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_trading_day_lookup_broadcasts(self, spark):
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
            "o_orderkey", "o_orderdate"
        )
        td = pus.trading_day_dimension(spark, "1990-01-01", "1999-12-31")
        out = pus.expand_time(
            o, datevar="o_orderdate", freq="d", time=[1], newdate="nd",
            shiftvar="s", trading_days=td,
        )
        plan = plan_of(out)
        assert plan.count("BroadcastExchange") >= 2  # asof map + target lookup
        assert "CartesianProduct" not in plan


class TestCurationPlanShapes:
    def test_pii_and_url_signals_are_shuffle_free(self, spark):
        from pd_utils_spark.extensions import pii as P
        from pd_utils_spark.extensions import web as W

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert "Exchange" not in plan_of(P.pii_signals(docs))
        assert "Exchange" not in plan_of(P.redact_pii(docs))
        assert "Exchange" not in plan_of(W.url_signals(docs))

    def test_domain_blocklist_broadcasts_both_small_sides(self, spark):
        from pd_utils_spark.extensions import web as W

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(W.drop_blocklisted_domains(docs, ["ads.example.com"]))
        assert "BroadcastExchange" in plan  # blocklist + hit ids
        assert "CartesianProduct" not in plan

    def test_numeric_histogram_has_no_driver_action_and_broadcasts(self, spark):
        from pd_utils_spark.extensions import profile as PR

        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        # plan construction must not trigger a job (no .collect/.first)
        plan = plan_of(PR.numeric_histogram(li, "l_extendedprice", bins=10))
        assert "BroadcastExchange" in plan  # bounds row + bucket dimension
        assert "CartesianProduct" not in plan

    def test_token_budget_single_window_exchange(self, spark):
        from pd_utils_spark.extensions import sampling as S

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(S.take_token_budget(docs, budget=500, byvars="source"))
        # one hash-partition exchange for the per-source window, no more
        assert plan.count("+- Exchange") == 1
        assert "hashpartitioning(source" in plan

    def test_long_to_wide_multi_value_single_aggregation(self, spark, li):
        """Multi-value pivot must be ONE conditional aggregation — not
        Spark's two-agg native pivot, and never a pivot+join per value
        (the round-2 shape: V+1 Exchanges + V joins)."""
        df = li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        out = pus.long_to_wide(
            df, "l_orderkey", ["l_quantity", "l_extendedprice"], colindex="l_linenumber"
        )
        plan = plan_of(out)
        assert "Join" not in plan  # no per-value rejoin
        # dropDuplicates (reference parity) + the single pivot agg
        assert plan.count("+- Exchange") <= 2

    def test_dedup_minhash_against_joins_on_band_keys(self, spark):
        from pd_utils_spark.extensions import dedup as D

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        hist = docs.filter(F.col("doc_id") % 2 == 0)
        batch = docs.filter(F.col("doc_id") % 3 == 0)
        plan = plan_of(D.dedup_minhash_against(batch, hist, bands=4))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound3PlanShapes:
    def test_canonicalize_urls_is_shuffle_free(self, spark):
        from pd_utils_spark.extensions import web as W

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        df = docs.selectExpr("doc_id", "concat('https://Ex.com/?utm_source=', doc_id) AS url")
        assert "Exchange" not in plan_of(W.canonicalize_urls(df))

    def test_temperature_mix_broadcasts_rates_never_shuffles_corpus(self, spark):
        from pd_utils_spark.extensions import sampling as S

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(S.temperature_mix(docs, alpha=0.5))
        assert "BroadcastExchange" in plan  # (source, count) rates frame
        assert "CartesianProduct" not in plan
        # the only non-broadcast Exchange belongs to the tiny counts
        # aggregate, keyed on source — never the corpus rows
        assert "hashpartitioning(source" in plan

    def test_group_quantiles_single_aggregation(self, spark, li):
        from pd_utils_spark.extensions.profile import group_quantiles

        out = group_quantiles(
            li.select("l_returnflag", "l_extendedprice"),
            "l_extendedprice",
            (0.1, 0.5, 0.9),
            "l_returnflag",
        )
        plan = plan_of(out)
        # one partial+final percentile aggregation for ALL probs
        assert plan.count("+- Exchange") == 1

    def test_dedup_lines_no_cartesian_and_pruned_scan(self, spark):
        from pd_utils_spark.extensions import dedup as D

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(D.dedup_lines(docs.select("doc_id", "text")))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_winsorize_multicol_two_window_passes(self, spark, li):
        """Multi-column by-group winsorize must buffer each partition
        exactly TWICE (all top percentiles in one WindowExec, all
        bottoms in a second) — not 2 passes per column."""
        import re

        out = pus.winsorize(
            li,
            0.01,
            subset=["l_quantity", "l_extendedprice", "l_discount"],
            byvars="l_returnflag",
        )
        plan = plan_of(out)
        assert len(re.findall(r"\(\d+\) Window", plan)) == 2
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_metrics_and_rank_share_one_exchange(self, spark, li):
        """binary_metrics (rank window + agg), ndcg (two windows +
        agg) and group_rank (window) all partition on the same keys
        end-to-end — exactly ONE hash-partition Exchange each."""
        import re

        from pd_utils_spark.extensions.metrics import binary_metrics, ndcg_at_k

        df = li.select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            (F.col("l_returnflag") == "R").alias("y"),
            F.col("l_discount").alias("s"),
            "l_extendedprice",
        )
        for out in (
            binary_metrics(df, "y", "s", byvars="l_returnflag"),
            ndcg_at_k(df, "l_linenumber", "s", "l_orderkey", k=5, tiebreak="l_linenumber"),
            pus.group_rank(df, "l_extendedprice", byvars="l_returnflag", pct=True),
        ):
            plan = plan_of(out)
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:500]

    def test_wide_to_long_is_shuffle_free(self, spark, li):
        out = pus.wide_to_long(
            li.select("l_orderkey", "l_quantity", "l_extendedprice"), "l_orderkey"
        )
        assert "Exchange" not in plan_of(out)  # map-side Expand only

    def test_zorder_key_no_driver_job_and_broadcast_bounds(self, spark, li):
        from pd_utils_spark.plans import zorder_key

        plan = plan_of(zorder_key(li, ["l_quantity", "l_extendedprice"], bits=8))
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan


class TestPlanBarrier:
    def test_winnowing_explode_reads_bound_attribute(self, spark):
        """q_winnowing must explode a materialized array: the Generate
        node's input is an attribute computed behind a CollectMetrics
        barrier, never the inline winnow expression (Generate re-derives
        inline collections — measured 34x slower at sf0.1)."""
        import __spark_entry__ as entry

        df = entry.queries()["winnowing"](spark, "/root/testdata/sf0.001")
        plan = plan_of(df)
        assert "CollectMetrics" in plan
        # the Generate argument is a bare attribute reference
        # (explode(winnow_hashes#N)), not a CASE WHEN / transform expr
        gen = [seg for seg in plan.split("\n\n") if "Arguments: explode" in seg]
        assert gen and "CASE WHEN" not in gen[0] and "transform(" not in gen[0]

    def test_plan_barrier_blocks_collapse(self, spark):
        from pd_utils_spark.utils import plan_barrier

        base = spark.range(10).withColumn(
            "arr", F.sequence(F.lit(1), (F.col("id") % 5 + 1).cast("int"))
        )
        plan = plan_of(plan_barrier(base).select(F.explode("arr")))
        assert "CollectMetrics" in plan


class TestRound5PlanShapes:
    def test_bloom_probe_is_filter_before_join(self, spark, li):
        """The Bloom membership test must run as a plain Filter on the
        probe side BEFORE the join (that's the whole point), and the
        one-row filter frame must arrive by broadcast, never shuffle."""
        from pd_utils_spark.plans import bloom_prune_join

        dim = (
            spark.read.parquet("/root/testdata/sf0.001/part.parquet")
            .filter("p_size <= 2")
            .select("p_partkey", "p_name")
        )
        out = bloom_prune_join(
            li.withColumnRenamed("l_partkey", "p_partkey"), dim, "p_partkey",
            num_bits=1 << 14,
        )
        plan = plan_of(out)
        assert "element_at" in plan and "Filter" in plan
        assert "BroadcastNestedLoopJoin" in plan  # one-row bloom frame
        assert "CartesianProduct" not in plan

    def test_skyline_staircase_no_cartesian(self, spark, li):
        from pd_utils_spark.extensions import skyline_2d

        part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
        plan = plan_of(skyline_2d(part, "p_size", "p_retailprice"))
        assert "CartesianProduct" not in plan
        # frontier (distinct-x staircase) joins back by broadcast
        assert "BroadcastHashJoin" in plan

    def test_scd2_merge_is_single_join_plus_unions(self, spark):
        import pandas as pd
        from datetime import date
        from pd_utils_spark.extensions import scd2_merge

        dim = spark.createDataFrame(
            pd.DataFrame(
                {
                    "k": [1], "v": [1],
                    "valid_from": [date(2020, 1, 1)],
                    "valid_to": [None], "is_current": [True],
                }
            )
        )
        upd = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [2]}))
        plan = plan_of(scd2_merge(dim, upd, "k", ["v"], date(2024, 1, 1), check_unique=False))
        assert "CartesianProduct" not in plan
        assert plan.count("Union") >= 1

    def test_run_checks_row_local_rules_share_one_scan(self, spark, li):
        """However many row-local rules are declared, they fold into a
        single aggregation: exactly one parquet scan of lineitem in
        the row-local result plan."""
        from pd_utils_spark.extensions import run_checks

        out = run_checks(
            li,
            [
                {"type": "not_null", "column": "l_quantity"},
                {"type": "range", "column": "l_quantity", "min": 0, "max": 100},
                {"type": "in_set", "column": "l_returnflag", "values": ["A", "N", "R"]},
                {"type": "custom", "name": "p", "predicate": "l_extendedprice > 0"},
            ],
        )
        plan = plan_of(out)
        # formatted explain names each scan once in the tree and once
        # in the detail section -> exactly one scan == two mentions
        assert plan.count("Scan parquet") == 2

    def test_rolling_comovement_single_window_exchange(self, spark, li):
        """All six moments of rolling corr ride ONE window over one
        shuffle — no per-moment exchanges."""
        out = pus.rolling_corr(
            li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
            "l_quantity", "l_extendedprice", 5, "l_linenumber", "l_orderkey",
        )
        plan = plan_of(out)
        # tree mentions: one Exchange, one Window node (each named
        # twice by formatted explain: tree + detail)
        assert plan.count("+- Exchange") == 1
        assert plan.count("Window") == 2

    def test_resample_ohlc_single_hash_aggregation(self, spark):
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        plan = plan_of(pus.resample_ohlc(ev, "value", "ts", "user_id", "1 day"))
        # struct-keyed min_by/max_by -> partial + final SortAggregate
        # (2 nodes x tree+detail) around exactly ONE exchange; map-side
        # combine still happens (partial aggregate below the exchange)
        assert plan.count("SortAggregate") == 4
        assert plan.count("+- Exchange") == 1
        assert "CartesianProduct" not in plan


class TestRound5LateShapes:
    """Plan locks for the round-5 late additions: the scale-critical
    properties are that the statistical family compresses to
    per-distinct-value counts BEFORE any global scan, the prefix scan
    range-partitions the data path (no single-task total-order window
    over raw rows), and attribution never self-joins events."""

    def test_prefix_sum_range_partitions_data_path(self, spark, checkpointed_plans):
        from pd_utils_spark.plans.prefix import prefix_sum

        df = spark.range(1000).select(
            F.col("id").alias("o"), (F.col("id") % 7).cast("double").alias("x")
        )
        plan = plan_of(prefix_sum(df, "o", "x", partitions=8))
        # the ranged frame is materialized once, when the scan is built
        assert "rangepartitioning" in checkpointed_plans[0].lower()
        # offsets come back as a broadcast, not a shuffle join
        assert "BroadcastExchange" in plan

    def test_ks_compresses_before_prefix(self, spark, checkpointed_plans):
        from pd_utils_spark.extensions.stats import ks_2samp

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        plan = plan_of(ks_2samp(ev, "value", "event_type", "view", "click"))
        # the raw stream hash-aggregates to per-value counts before the
        # range partition (in the ranged frame the prefix scan
        # materializes); totals ride a broadcast
        [ranged] = checkpointed_plans
        assert "rangepartitioning" in ranged.lower()
        assert ranged.index("rangepartitioning") < ranged.index("HashAggregate")
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_attribution_no_self_join(self, spark):
        from pd_utils_spark.extensions.events import attribution

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        plan = plan_of(attribution(ev, model="position"))
        # one scan of events (formatted explain names each node twice:
        # tree + detail), windows + final agg: no join of the raw
        # stream against itself
        assert plan.count("Scan parquet") == 2
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_seasonal_anomalies_two_small_aggs(self, spark):
        from pd_utils_spark.extensions.events import seasonal_anomalies

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        plan = plan_of(seasonal_anomalies(ev, season="hour_of_day"))
        # materialize() pins the bucketed frame: both branches read
        # the SAME InMemoryRelation (the parquet scan lives only inside
        # the cached relation's definition and executes once at cache
        # populate) — without it both branches re-ran the raw scan+agg
        assert "InMemoryTableScan" in plan
        assert "CartesianProduct" not in plan

    def test_dsir_topk_is_take_ordered(self, spark):
        from pd_utils_spark.extensions.selection import dsir_select

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        target = docs.filter(F.col("lang") == "en")
        plan = plan_of(dsir_select(docs, target, 5, buckets=256))
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan

    def test_mix_diversity_single_group_agg(self, spark):
        from pd_utils_spark.extensions.sampling import mix_diversity

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(mix_diversity(docs, "source", "n_chars"))
        # group agg -> one-row broadcast total -> one-row reduce
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan


class TestRound5LateOps:
    def test_phrase_search_no_window_no_full_stream_shuffle(self, spark):
        from pd_utils_spark.extensions.text import phrase_search

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(phrase_search(docs, "hash join"))
        # posting-list anchor join, never a per-doc window over the
        # whole token stream
        assert "Window" not in plan
        # the phrase-token postings filter sits below the join
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
            or "BroadcastHashJoin" in plan

    def test_pmi_totals_are_broadcast(self, spark):
        from pd_utils_spark.extensions.text import pmi_collocations

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = plan_of(pmi_collocations(docs, min_count=2, k=10))
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_kaplan_meier_global_path_uses_range_partition(self, spark, checkpointed_plans):
        from pd_utils_spark.extensions.stats import kaplan_meier

        ev = spark.range(100).selectExpr(
            "CAST(id % 13 AS INT) AS dur", "CAST(id % 2 AS INT) AS ev"
        )
        kaplan_meier(ev, "dur", "ev")
        # global curve rides the distributed prefix scan (its ranged
        # frame is materialized once), not a single-partition
        # total-order window
        assert checkpointed_plans
        assert all("rangepartitioning" in p.lower() for p in checkpointed_plans)

    def test_cuped_single_shuffle_of_raw_rows(self, spark):
        from pd_utils_spark.extensions.stats import cuped

        ev = spark.range(1000).selectExpr(
            "CAST(id % 2 AS INT) AS variant",
            "CAST(id AS DOUBLE) AS y",
            "CAST(id % 97 AS DOUBLE) AS x",
        )
        plan = plan_of(cuped(ev, "y", "x", "variant"))
        # per-variant sufficient sums shuffle once; pooled stats are a
        # broadcast of the tiny variant frame
        assert plan.count("HashAggregate") >= 2
        assert "BroadcastExchange" in plan


class TestRound5ContinuationShapes:
    def test_theil_sen_broadcasts_slope_back(self, spark):
        from pd_utils_spark.operators.timeseries import theil_sen

        df = spark.createDataFrame(
            [("g", float(i), float(i)) for i in range(10)], ["g", "t", "v"]
        )
        plan = plan_of(theil_sen(df, "v", "t", "g"))
        # the tiny slope frame must come back via broadcast, and the
        # pair generation must be an equi join on the group key (a
        # SortMergeJoin/HashJoin with the time filter as condition),
        # never a cartesian product
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_weighted_quantiles_single_cumulative_window(self, spark):
        from pd_utils_spark.extensions.profile import weighted_quantiles

        df = spark.createDataFrame(
            [("g", float(i % 7), 1.0) for i in range(50)], ["g", "v", "w"]
        )
        plan = plan_of(weighted_quantiles(df, "v", "w", (0.25, 0.5, 0.9), "g"))
        # all three probs share the cumulative/total window pair over
        # ONE group-key exchange (plus the cell-agg exchange): the
        # window frames reuse the agg's hash partitioning, so adding
        # probs must never add shuffles
        import re

        n_exchanges = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
        assert n_exchanges <= 2, plan

    def test_lift_table_and_isotonic_have_no_cartesian_blowup(self, spark):
        from pd_utils_spark.extensions.metrics import (
            isotonic_calibration,
            lift_table,
        )

        df = spark.createDataFrame(
            [(float(i), i % 3 == 0) for i in range(100)], ["score", "y"]
        )
        for out in (
            lift_table(df, "score", "y", 10),
            isotonic_calibration(df, "score", "y", 10),
        ):
            plan = plan_of(out)
            # bin-frame joins are all broadcast; the only row-level
            # shuffles are the prefix-rank machinery
            assert "CartesianProduct" not in plan

    def test_negative_pairs_no_single_task_window(self, spark):
        from pd_utils_spark.extensions.sampling import negative_pairs

        df = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
        plan = plan_of(negative_pairs(df, k=2))
        # the dense index must come from the two-level prefix scan:
        # a global no-partition row_number window would show an
        # Exchange SinglePartition feeding a Window over ALL rows
        assert "Exchange SinglePartition" not in plan.split("Window")[0]

    def test_feature_hashing_partial_agg_and_no_join_explosion(self, spark):
        from pd_utils_spark.extensions.text import feature_hashing

        df = spark.createDataFrame(
            [(i, "alpha beta gamma") for i in range(20)],
            ["doc_id", "text"],
        )
        plan = plan_of(feature_hashing(df, dim=8))
        assert plan.count("HashAggregate") >= 2  # map-side partials
        assert "CartesianProduct" not in plan

    def test_event_transitions_broadcasts_totals(self, spark):
        import datetime as dt

        from pd_utils_spark.extensions.events import event_transitions

        t0 = dt.datetime(2024, 1, 1)
        df = spark.createDataFrame(
            [(1, t0 + dt.timedelta(seconds=i), "ab"[i % 2]) for i in range(10)],
            ["user_id", "ts", "event_type"],
        )
        plan = plan_of(event_transitions(df))
        assert "BroadcastExchange" in plan

    def test_k_anonymity_two_hash_aggs_only(self, spark):
        from pd_utils_spark.extensions.pii import k_anonymity_report

        df = spark.createDataFrame(
            [(i % 5, "x") for i in range(40)], ["q1", "q2"]
        )
        plan = plan_of(k_anonymity_report(df, ["q1", "q2"], k=3))
        assert "Window" not in plan
        assert "CartesianProduct" not in plan


class TestRound6PlanShapes:
    """Locks for the round-5 flagship claims SCALE.md asserted from
    manual explain() reads: a refactor must not silently regress
    them. The graph per-round shapes are locked on the module-level
    round helpers (_bfs_round / _peel_round) because the in-loop
    checkpoints truncate lineage out of the final plan."""

    def test_kmeans_assign_is_map_only(self, spark):
        from pd_utils_spark.extensions import similarity as S

        df = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(6)],
            "vec_id int, embedding array<double>",
        )
        plan = plan_of(S.kmeans_assign(df, [[0.0, 0.0], [5.0, 0.0]]))
        # the SCALE.md claim: assignment is an inlined-literal Project
        # — no shuffle, no join, at ANY corpus size
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "Project" in plan

    def test_jaccard_join_prefix_single_persist_no_cartesian(self, spark):
        from pd_utils_spark.extensions.dedup import jaccard_join_prefix

        # compare ids, not counts: the ContextCleaner may drop earlier
        # tests' unreferenced blocks while this one runs
        def persistent():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persistent()
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(8)],
            "doc_id int, text string",
        )
        out = jaccard_join_prefix(docs, threshold=0.8)
        try:
            plan = plan_of(out)
            # TWO cached relations exactly — the (id, token) frame
            # (consumed by the df agg + join back) and the sorted-doc
            # frame (prefix index + both verify sides, >= 3 scans);
            # candidates come from an equi-join, never a cross product
            import re

            scans = set(re.findall(r"\((\d+)\) InMemoryTableScan", plan))
            assert len(scans) >= 3, plan
            assert "CartesianProduct" not in plan
            # a cache entry only registers as a persistent RDD once an
            # action materializes it — run one, then count
            out.count()
            assert len(persistent() - before) == 2
        finally:
            spark.catalog.clearCache()

    def test_bfs_round_is_one_expand_join_one_anti_join(self, spark):
        import re

        from pd_utils_spark.extensions.graph import _bfs_round

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src int, dst int"
        )
        e = edges.select(F.col("src").alias("__s__"), F.col("dst").alias("__d__"))
        frontier = spark.createDataFrame([(1,)], "__n__ int")
        visited = frontier.select("__n__", F.lit(0).alias("__l__"))
        plan = plan_of(_bfs_round(e, frontier, visited))
        joins = re.findall(r"\(\d+\) ([A-Za-z]+Join[A-Za-z]*)", plan)
        # exactly TWO joins per round: frontier-edge expand + visited
        # anti — edge-sized shuffles only, nothing quadratic
        assert len(joins) == 2, joins
        assert "CartesianProduct" not in plan
        exchanges = set(re.findall(r"\((\d+)\) Exchange", plan))
        assert len(exchanges) <= 4, plan  # join inputs + distinct

    def test_k_core_peel_round_shape(self, spark):
        import re

        from pd_utils_spark.extensions.graph import _peel_round

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3)], "src int, dst int"
        )
        e = edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        plan = plan_of(_peel_round(e, 2))
        joins = re.findall(r"\(\d+\) ([A-Za-z]+Join[A-Za-z]*)", plan)
        # ONE degree agg + TWO endpoint semi-joins per peel round
        assert len(joins) == 2, joins
        assert "CartesianProduct" not in plan
        exchanges = set(re.findall(r"\((\d+)\) Exchange", plan))
        assert len(exchanges) <= 4, plan

    def test_stream_interval_join_batch_twin_no_cartesian(self, spark):
        """The batch twin of stream_interval_join must plan the key
        equality INTO the join (one equi-join with the interval as
        residual condition) — a key-less build would cartesian the
        two event streams."""
        import datetime as dt
        import re

        from pd_utils_spark.streaming.windows import stream_interval_join

        t0 = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame(
            [(1, t0)], "user_id int, ts timestamp"
        )
        right = spark.createDataFrame(
            [(1, t0 + dt.timedelta(minutes=5), 1.0)],
            "user_id int, ts_r timestamp, v double",
        )
        plan = plan_of(stream_interval_join(left, right))
        joins = re.findall(r"\(\d+\) ([A-Za-z]+Join[A-Za-z]*)", plan)
        assert len(joins) == 1, joins
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestRound6LateShapes:
    def test_dedup_substrings_no_cartesian_fingerprint_shuffles(self, spark):
        from pd_utils_spark.extensions.dedup import dedup_substrings

        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon zeta eta theta {i}")
             for i in range(6)],
            "doc_id int, text string",
        )
        plan = plan_of(dedup_substrings(df, min_tokens=8))
        # removal meets tokens in an anti equi-join — nothing all-pairs
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # r7 de-skew lock: keeper selection is a map-side-partial
        # aggregate (min over the (doc,pos) struct + count) feeding the
        # fp exchange — NEVER a window over partitionBy(fp), whose
        # single-task sort of a hot boilerplate fingerprint's whole
        # occurrence list was the r6 skew hazard. Position compaction
        # is filter-inside-the-array, so there is NO window anywhere
        # (the r6 row_number position window paid a per-doc
        # exchange+sort in every token-stage consumer)
        assert "windowspecdefinition" not in plan, plan
        assert "partial_min(struct" in plan, plan
        assert "partial_count" in plan, plan

    def test_multiband_key_attach_is_map_only_and_greedy_is_agg(self, spark):
        from pd_utils_spark.extensions.dedup import (
            attach_minhash_band_keys,
            dedup_bands_greedy,
        )

        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}") for i in range(6)],
            "doc_id int, text string",
        )
        # key attachment: zero exchange, zero generate — streaming-legal
        kplan = plan_of(attach_minhash_band_keys(df, bands=3))
        assert "Exchange" not in kplan, kplan
        assert "Generate" not in kplan, kplan
        # greedy passes: min-id keepers come from partial aggregation
        # + semi joins, never a per-key window sort
        gplan = plan_of(dedup_bands_greedy(df, bands=2))
        assert "windowspecdefinition" not in gplan, gplan
        assert "partial_min" in gplan, gplan
        assert "LeftSemi" in gplan, gplan
        assert "CartesianProduct" not in gplan

    def test_dedup_spans_keeper_is_partial_agg_not_fp_window(self, spark):
        from pd_utils_spark.extensions.dedup import dedup_spans

        df = spark.createDataFrame(
            [(i, "aa. bb. cc. dd. ee. ff") for i in range(4)],
            "doc_id int, text string",
        )
        plan = plan_of(dedup_spans(df, n=3))
        assert "CartesianProduct" not in plan
        assert "windowspecdefinition(fp" not in plan, plan
        assert "partial_min(struct" in plan, plan

    def test_brute_force_pairs_grid_join_never_nested_loop_on_rows(self, spark):
        from pd_utils_spark.extensions import similarity as S

        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(8)],
            "vec_id int, embedding array<double>",
        )
        plan = plan_of(S.brute_force_pairs(df, 0.5, blocks=3))
        # the ONLY join is row x tiny-grid (broadcast, bounded B(B+1)/2
        # rows); the quadratic work happens inside chunked BLAS in
        # applyInPandas, never as a row-level join
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan
        assert "FlatMapGroupsInPandas" in plan or "ApplyInPandas" in plan

    def test_hard_negatives_broadcast_queries_single_topk_exchange(self, spark):
        from pd_utils_spark.extensions import similarity as S

        df = spark.createDataFrame(
            [(i, [float(i), 1.0], i % 2) for i in range(10)],
            "vec_id int, embedding array<double>, label int",
        )
        q = df.filter("vec_id < 2")
        plan = plan_of(S.hard_negatives(df, q, "label", k=3))
        # the query batch is broadcast (map-side scoring); ranking is
        # the per-query window — no shuffle of the corpus on a key
        assert "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan or "BroadcastNestedLoop" in plan

    def test_streaming_band_dedup_batch_plan_is_shuffle_dedup_only(self, spark):
        """The batch twin of streaming_band_dedup: one aggregate-style
        dedup on the band key, and the key itself is a map-only
        expression (no explode node feeding it — the streaming-legal
        property)."""
        from pd_utils_spark.streaming.stateful import streaming_band_dedup

        df = spark.createDataFrame(
            [(i, f"some words here {i}") for i in range(6)],
            "doc_id int, text string",
        )
        plan = plan_of(streaming_band_dedup(df))
        assert "Generate" not in plan  # no explode anywhere
        assert "Join" not in plan
        assert "CartesianProduct" not in plan


class TestRound8ContinuationShapes:
    def test_containment_join_no_cartesian_no_window_two_persists(self, spark):
        """containment_join_prefix (uncapped = exact): candidates come
        from a token equi-join (never a cross product), keeper logic
        is agg/join (no window anywhere in the exact path), and the
        same TWO frames persist as in jaccard_join_prefix."""
        from pd_utils_spark.extensions.dedup import containment_join_prefix

        # compare ids, not counts: the ContextCleaner may drop earlier
        # tests' unreferenced blocks while this one runs
        def persistent():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        before = persistent()
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(8)],
            "doc_id int, text string",
        )
        out = containment_join_prefix(docs, threshold=0.8)
        try:
            plan = plan_of(out)
            assert "CartesianProduct" not in plan
            assert "windowspecdefinition" not in plan.lower()
            out.count()
            assert len(persistent() - before) == 2
        finally:
            spark.catalog.clearCache()

    def test_link_prediction_agg_join_shape(self, spark):
        """link_prediction: wedge equi-join + ONE partial-combinable
        hash agg on the pair key; degree attach is equi-joins; no
        window, no cartesian."""
        from pd_utils_spark.extensions.graph import link_prediction

        edges = spark.createDataFrame(
            [(i, (i * 2 + 1) % 10) for i in range(20)], "src int, dst int"
        )
        plan = plan_of(link_prediction(edges))
        assert "CartesianProduct" not in plan
        assert "windowspecdefinition" not in plan.lower()
        assert "partial_count" in plan  # map-side combine on pair agg

    def test_sample_sketch_prefilter_partial_aggs(self, spark):
        """sample_sketch_by's two passes both partial-aggregate: the
        row-count cutoff pass and the bounded collect_list pass —
        shuffles carry group-sized state."""
        from pd_utils_spark.extensions.sketches import sample_sketch_by

        df = spark.createDataFrame(
            [(i % 3, i, float(i)) for i in range(30)], "g int, rid int, x double"
        )
        plan = plan_of(sample_sketch_by(df, ["g"], "x", id_cols=["rid"], k=8))
        assert "partial_count" in plan
        assert "partial_collect_set" in plan
        assert "windowspecdefinition" not in plan.lower()
