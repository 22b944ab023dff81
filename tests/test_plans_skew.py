"""Tests for the physical-plan toolkit (plans/skew.py): salted
aggregation/join equivalence and the zero-shuffle bucketed join."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from pd_utils_spark.plans import salted_groupby_agg, salted_join, write_bucketed
from pd_utils_spark.utils import query_scope


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")


class TestSaltedAgg:
    def test_equals_plain_aggregation(self, spark, li):
        plain = {
            r.l_returnflag: (r.s, r.a)
            for r in li.groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("s"), F.avg("l_extendedprice").alias("a"))
            .collect()
        }
        salted = {
            r.l_returnflag: (r.l_quantity_sum, r.l_extendedprice_avg)
            for r in salted_groupby_agg(
                li, "l_returnflag", {"l_quantity": "sum", "l_extendedprice": "avg"}, salt=7
            ).collect()
        }
        assert plain.keys() == salted.keys()
        for k in plain:
            assert plain[k][0] == pytest.approx(salted[k][0])
            assert plain[k][1] == pytest.approx(salted[k][1])

    def test_rejects_non_decomposable(self, li):
        with pytest.raises(ValueError, match="two-phase"):
            salted_groupby_agg(li, "l_returnflag", {"l_quantity": "median"})


class TestSaltedJoin:
    def test_equals_plain_join(self, spark, li):
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").selectExpr(
            "o_orderkey AS l_orderkey", "o_orderpriority"
        )
        l2 = li.select("l_orderkey", "l_quantity")
        assert (
            salted_join(l2, o, "l_orderkey", salt=4).count()
            == l2.join(o, "l_orderkey").count()
        )

    def test_rejects_right_and_full_outer(self, spark, li):
        # replicated right side would emit unmatched right rows `salt`
        # times under right/full-outer semantics
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").selectExpr(
            "o_orderkey AS l_orderkey", "o_orderpriority"
        )
        l2 = li.select("l_orderkey", "l_quantity")
        for how in ("right", "full", "outer"):
            with pytest.raises(ValueError, match="salted_join"):
                salted_join(l2, o, "l_orderkey", how=how)


class TestBucketedJoin:
    def test_zero_shuffle_cocolocated_join(self, spark, li, tmp_path):
        spark.sql("DROP TABLE IF EXISTS tb_li")
        spark.sql("DROP TABLE IF EXISTS tb_o")
        o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").selectExpr(
            "o_orderkey AS l_orderkey", "o_orderpriority"
        )
        write_bucketed(li.select("l_orderkey", "l_quantity"), "tb_li", "l_orderkey", 8,
                       sort_by="l_orderkey")
        write_bucketed(o, "tb_o", "l_orderkey", 8, sort_by="l_orderkey")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("tb_li").join(spark.table("tb_o"), "l_orderkey")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange" not in plan  # co-located: no shuffle at all
            assert "SortMergeJoin" in plan
            assert j.count() == li.count()  # every lineitem matches its order
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS tb_li")
            spark.sql("DROP TABLE IF EXISTS tb_o")


class TestKeySkewReport:
    def test_ratios_and_ordering(self, spark):
        import pandas as pd

        from pd_utils_spark.plans import key_skew_report

        # 4 keys over 100 rows: one hot key with 70, three with 10
        df = spark.createDataFrame(
            pd.DataFrame({"k": ["hot"] * 70 + ["a"] * 10 + ["b"] * 10 + ["c"] * 10})
        )
        got = key_skew_report(df, "k", top=2).collect()
        assert got[0].k == "hot" and got[0].key_count == 70
        assert got[0].row_share == 0.7
        assert got[0].skew_ratio == 70 * 4 / 100  # 2.8x a uniform key
        assert len(got) == 2

    def test_uniform_key_ratio_one(self, spark):
        from pd_utils_spark.plans import key_skew_report
        from pyspark.sql import functions as F

        df = spark.range(100).select((F.col("id") % 10).alias("k"))
        rows = key_skew_report(df, "k", top=10).collect()
        assert all(r.skew_ratio == 1.0 for r in rows)


class TestBucketedHistoryDedup:
    def test_banded_history_joins_without_history_shuffle(self, spark):
        """Substantiates the dedup_minhash_against scale claim: when the
        history's LSH band table is persisted bucketed on (band,
        band_key), the daily batch joins against it with NO exchange on
        the history side — shuffle once at write, never per batch."""
        import contextlib
        import io

        import pandas as pd

        from pd_utils_spark.extensions import dedup as D
        from pd_utils_spark.plans import write_bucketed

        hist = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(20),
                    "text": [f"historical document body number {i} with words" for i in range(20)],
                }
            )
        )
        hsig = D.minhash_signature(hist, num_hashes=12).select("doc_id", "minhash_sig")
        hkeys = D.lsh_band_keys(hsig, bands=4).select("doc_id", "band", "band_key")
        write_bucketed(hkeys, "hist_bands", ["band", "band_key"], buckets=8,
                       sort_by=["band", "band_key"])
        try:
            bkeys = D.lsh_band_keys(
                D.minhash_signature(
                    spark.createDataFrame(
                        pd.DataFrame({"doc_id": [100], "text": ["historical document body number 3 with words"]})
                    ),
                    num_hashes=12,
                ).select("doc_id", "minhash_sig"),
                bands=4,
            ).select(F.col("doc_id").alias("bid"), "band", "band_key")
            # force a shuffle join so the bucketed side's exemption shows
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                import re

                def n_exchanges(frame):
                    buf = io.StringIO()
                    with contextlib.redirect_stdout(buf):
                        frame.explain("formatted")
                    return len(re.findall(r"\(\d+\) Exchange", buf.getvalue())), buf.getvalue()

                batch = bkeys.repartition(8, "band", "band_key")
                joined = spark.table("hist_bands").join(batch, ["band", "band_key"])
                _, plan = n_exchanges(joined)
                # the bucketed read really is bucket-aware
                assert "Bucketed: true" in plan
                # the HISTORY branch (the join tree's ':'-continued left
                # child) is Sort-over-Scan only — zero Exchange; every
                # Exchange in the plan belongs to the batch side
                tree = plan.split("\n\n")[0].splitlines()
                start = next(
                    i for i, ln in enumerate(tree) if ln.lstrip().startswith(":- ")
                )
                indent = len(tree[start]) - len(tree[start].lstrip())
                left_branch = [tree[start]]
                for ln in tree[start + 1 :]:
                    if len(ln) > indent and ln[indent] == ":":
                        left_branch.append(ln)
                    else:
                        break
                assert not any("Exchange" in ln for ln in left_branch), left_branch
                assert any("Scan" in ln for ln in left_branch), left_branch
                # and the collision is actually found
                assert joined.filter(F.col("doc_id") == 3).count() > 0
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        finally:
            spark.sql("DROP TABLE IF EXISTS hist_bands")


class TestBucketedIngestGateProbes:
    """The r10 receipt for the gates' central 100 TB docstring claim:
    when the precomputed history artifacts are persisted BUCKETED
    (containment index by __tok__ + sets by __hid__; minhash keys by
    (band, band_key) + shingles by __hid__), the full probe plan —
    dedup_*_against_index exactly as the streaming gates call it —
    carries NO Exchange on any history-side scan: exactly two fewer
    Exchanges than the plain-parquet probe, both stored scans
    bucket-aware, identical survivors. Bucket count must match
    spark.sql.shuffle.partitions here because the batch side's own
    exchanges come out at that width and Spark co-partitions to the
    LARGER side; at corpus scale the bucket count is chosen >= the
    job's shuffle width for the same reason."""

    HIST = [
        (i, f"history document body number {i} alpha beta gamma delta epsilon zeta")
        for i in range(50)
    ]
    BATCH = [
        (100, "history document body number 3 alpha beta gamma delta epsilon zeta"),
        (101, "totally novel probe content here zz yy xx ww vv uu"),
    ]

    @staticmethod
    def _n_exchanges(frame):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        plan = buf.getvalue()
        import re

        return len(re.findall(r"\(\d+\) Exchange", plan)), plan

    def test_containment_probe_no_history_side_exchange(
        self, spark, tmp_path
    ):
        from pd_utils_spark.extensions.dedup import (
            containment_index_frames,
            dedup_containment_against_index,
        )
        hist = spark.createDataFrame(self.HIST, ["doc_id", "text"])
        batch = spark.createDataFrame(self.BATCH, ["doc_id", "text"])
        with query_scope():
            frames = containment_index_frames(hist, k=1)
            for n in ("index", "sets", "dfreq"):
                frames[n].write.mode("overwrite").parquet(str(tmp_path / n))
        plain = {
            n: spark.read.parquet(str(tmp_path / n))
            for n in ("index", "sets", "dfreq")
        }
        nbuck = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.sql("DROP TABLE IF EXISTS tb_cont_idx")
        spark.sql("DROP TABLE IF EXISTS tb_cont_sets")
        write_bucketed(plain["index"], "tb_cont_idx", "__tok__", nbuck)
        write_bucketed(plain["sets"], "tb_cont_sets", "__hid__", nbuck)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            kw = dict(threshold=0.9, k=1)
            # each probe in its own scope: the second must plan its
            # batch side afresh, not over the first one's caches
            with query_scope():
                out_plain = dedup_containment_against_index(
                    batch, plain["index"], plain["sets"], plain["dfreq"], **kw
                )
                n_plain, _ = self._n_exchanges(out_plain)
                want = sorted(r.doc_id for r in out_plain.collect())
            with query_scope():
                out_b = dedup_containment_against_index(
                    batch,
                    spark.table("tb_cont_idx"),
                    spark.table("tb_cont_sets"),
                    plain["dfreq"],
                    **kw,
                )
                n_buck, plan = self._n_exchanges(out_b)
                assert n_buck == n_plain - 2, plan
                assert plan.count("Bucketed: true") == 2, plan
                got = sorted(r.doc_id for r in out_b.collect())
            assert got == want == [101]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS tb_cont_idx")
            spark.sql("DROP TABLE IF EXISTS tb_cont_sets")

    def test_minhash_probe_no_history_side_exchange(self, spark, tmp_path):
        from pd_utils_spark.extensions.dedup import (
            dedup_minhash_against_index,
            minhash_history_frames,
        )
        hist = spark.createDataFrame(self.HIST, ["doc_id", "text"])
        batch = spark.createDataFrame(self.BATCH, ["doc_id", "text"])
        with query_scope():
            frames = minhash_history_frames(hist, k=3, num_hashes=12, bands=6)
            for n in ("keys", "shingles"):
                frames[n].write.mode("overwrite").parquet(str(tmp_path / n))
        plain = {
            n: spark.read.parquet(str(tmp_path / n))
            for n in ("keys", "shingles")
        }
        nbuck = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.sql("DROP TABLE IF EXISTS tb_mh_keys")
        spark.sql("DROP TABLE IF EXISTS tb_mh_sh")
        write_bucketed(plain["keys"], "tb_mh_keys", ["band", "band_key"], nbuck)
        write_bucketed(plain["shingles"], "tb_mh_sh", "__hid__", nbuck)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            kw = dict(threshold=0.5, k=3, num_hashes=12, bands=6)
            with query_scope():
                out_plain = dedup_minhash_against_index(
                    batch, plain["keys"], plain["shingles"], **kw
                )
                n_plain, _ = self._n_exchanges(out_plain)
                want = sorted(r.doc_id for r in out_plain.collect())
            with query_scope():
                out_b = dedup_minhash_against_index(
                    batch, spark.table("tb_mh_keys"), spark.table("tb_mh_sh"),
                    **kw,
                )
                n_buck, plan = self._n_exchanges(out_b)
                assert n_buck == n_plain - 2, plan
                assert plan.count("Bucketed: true") == 2, plan
                # the build-time params stamp survives bucketed saveAsTable
                assert spark.table("tb_mh_keys").schema["band_key"].metadata == {
                    "k": 3, "num_hashes": 12, "bands": 6,
                    "max_bucket": 100_000,
                }
                got = sorted(r.doc_id for r in out_b.collect())
            assert got == want == [101]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS tb_mh_keys")
            spark.sql("DROP TABLE IF EXISTS tb_mh_sh")


class TestHotKeyJoin:
    def _data(self, spark):
        import pandas as pd

        left = pd.DataFrame(
            {
                "k": [0] * 50 + [1, 2, 3] * 5,
                "v": range(65),
            }
        )
        right = pd.DataFrame({"k": [0, 1, 2, 9], "payload": ["a", "b", "c", "z"]})
        return spark.createDataFrame(left), spark.createDataFrame(right)

    def test_result_equals_plain_join(self, spark):
        from pd_utils_spark.plans.skew import hot_key_join

        left, right = self._data(spark)
        for how in ("inner", "left"):
            got = (
                hot_key_join(left, right, "k", hot_threshold=10, how=how)
                .toPandas()
                .sort_values(["k", "v"])
                .reset_index(drop=True)
            )
            expect = (
                left.join(right, "k", how)
                .toPandas()
                .sort_values(["k", "v"])
                .reset_index(drop=True)
            )
            import pandas as pd

            pd.testing.assert_frame_equal(
                got[sorted(got.columns)], expect[sorted(expect.columns)]
            )

    def test_hot_path_is_broadcast(self, spark):
        from pd_utils_spark.plans.skew import hot_key_join

        left, right = self._data(spark)
        out = hot_key_join(left, right, "k", hot_threshold=10)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the hot branch joins against an explicitly broadcast right
        assert "BroadcastHashJoin" in plan

    def test_rejects_outer(self, spark):
        import pytest as _pytest

        from pd_utils_spark.plans.skew import hot_key_join

        left, right = self._data(spark)
        with _pytest.raises(ValueError, match="inner"):
            hot_key_join(left, right, "k", how="full")

    def test_two_sided_skew_falls_back_to_salted(self, spark):
        """When the hot keys' RIGHT rows exceed max_broadcast_rows the
        join must degrade to salted_join (same result) instead of
        force-broadcasting an unbounded right side."""
        import pandas as pd

        from pd_utils_spark.plans.skew import hot_key_join

        left = spark.createDataFrame(
            pd.DataFrame({"k": [0] * 50 + [1] * 5, "v": range(55)})
        )
        # key 0 is hot on BOTH sides
        right = spark.createDataFrame(
            pd.DataFrame({"k": [0] * 30 + [1], "payload": range(31)})
        )
        for how in ("inner", "left"):
            out = hot_key_join(
                left, right, "k", hot_threshold=10, how=how,
                max_broadcast_rows=5,
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            # the salted fallback replicates the right side over salts
            assert "__salt__" not in out.columns
            assert "Generate explode" in plan or "explode" in plan
            got = out.groupBy().count().first()[0]
            expect = left.join(right, "k", how).count()
            assert got == expect

    def test_no_hot_keys_short_circuits_to_plain_join(self, spark):
        from pd_utils_spark.plans.skew import hot_key_join

        left, right = self._data(spark)
        out = hot_key_join(left, right, "k", hot_threshold=10_000)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan
        assert out.count() == left.join(right, "k", "inner").count()
