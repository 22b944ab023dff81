"""The spread policy (``utils.spread``): an under-partitioned input fans
out in proportion to its estimated bytes, reading a scan's partition
count starts no Spark job, and no other code fans an input out by a
bare partition count."""

from __future__ import annotations

import ast
import pathlib

from pd_utils_spark import utils
from pd_utils_spark.utils import spread

REPO = pathlib.Path(__file__).resolve().parent.parent


def _one_file(spark, tmp_path, n: int):
    p = str(tmp_path / "one_file")
    spark.range(n).coalesce(1).write.parquet(p)
    return spark.read.parquet(p)


class TestSpreadSizeAware:
    """A KB-scale one-file input is left alone (a blanket fan to
    ``defaultParallelism`` made the gates slower on more cores), while
    an input whose estimated bytes exceed the per-task grain fans
    out."""

    def test_tiny_batch_not_spread(self, spark, tmp_path):
        df = _one_file(spark, tmp_path, 100)
        n_in = df.rdd.getNumPartitions()
        # a KB-sized input is far under the 64 KiB/task grain: no spread
        assert spread(df).rdd.getNumPartitions() == n_in

    def test_large_estimate_spreads_to_parallelism(
        self, spark, tmp_path, monkeypatch
    ):
        df = _one_file(spark, tmp_path, 100)
        # 1-byte grain: every estimate exceeds it -> full fan
        monkeypatch.setattr(utils, "_SPREAD_TARGET_BYTES", 1)
        assert (
            spread(df).rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )

    def test_grain_scales_partition_count(self, spark, tmp_path, monkeypatch):
        df = _one_file(spark, tmp_path, 1000)
        est = int(
            str(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
        assert est > 0
        # grain = half the estimate -> exactly ceil(est/grain) = 2 parts
        monkeypatch.setattr(utils, "_SPREAD_TARGET_BYTES", (est + 1) // 2)
        assert spread(df).rdd.getNumPartitions() == 2


def test_spread_of_a_scan_starts_no_job(spark, tmp_path, monkeypatch):
    """The docstring's precondition: on a scan, every step of
    ``spread`` (partition count, byte estimate, repartition) is
    driver-side planning."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup())

    df = _one_file(spark, tmp_path, 1000).filter("id % 2 = 0")
    monkeypatch.setattr(utils, "_SPREAD_TARGET_BYTES", 1)
    before = job_ids()
    out = spread(df)
    assert out is not df  # the grain forced the repartition branch
    assert job_ids() == before
    out.count()  # the tracker does see jobs
    assert job_ids() > before


def test_spread_of_a_one_partition_estimate_skips_the_rdd(
    spark, tmp_path, monkeypatch
):
    """An input whose estimate wants one partition comes back as is,
    without reading its partition count through ``DataFrame.rdd`` (a
    Python-RDD conversion that plans the query on the driver)."""
    from pyspark.sql import DataFrame

    df = _one_file(spark, tmp_path, 100)
    touched = []

    def no_rdd(self):
        touched.append(self)
        raise AssertionError("spread read DataFrame.rdd")

    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    assert spread(df) is df
    assert touched == []


ALLOWED = {
    ("pd_utils_spark/utils.py", "spread"),
    ("__spark_entry__.py", "_entity_corpus"),
}


def _count_only_fan_outs(rel: str, source: str) -> list[str]:
    """``.repartition(<n>)`` calls with a partition count and no key
    columns in ``source`` (the file ``rel``), outside the top-level
    functions in ``ALLOWED``."""
    return [
        f"{rel}:{node.lineno}"
        for top in ast.parse(source).body
        if (rel, getattr(top, "name", None)) not in ALLOWED
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "repartition"
        and len(node.args) == 1
        and not node.keywords
        and not isinstance(node.args[0], ast.Starred)
        and not (
            isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        )
    ]


def test_only_spread_fans_out():
    """``utils.spread`` is the only code that fans an input out by a
    bare partition count; keyed ``repartition(n, *cols)`` and
    ``repartitionByRange`` are partitioning choices, not spreads."""
    files = sorted((REPO / "pd_utils_spark").rglob("*.py")) + [
        REPO / "__spark_entry__.py"
    ]
    found = [
        f
        for p in files
        for f in _count_only_fan_outs(p.relative_to(REPO).as_posix(), p.read_text())
    ]
    assert found == []


def test_fan_out_check_catches_the_removed_forms():
    """The three fan-outs ``spread`` replaced each fail the check;
    keyed and range repartitions pass it."""
    removed = [
        "df.repartition(spark.sparkContext.defaultParallelism)",
        "emb.repartition(\n        spark.sparkContext.defaultParallelism\n    )",
        "_docs_boundary(spark, sf_dir).repartition(64)",
    ]
    kept = [
        "df.repartition(8, 'k')",
        "df.repartition(*keys)",
        "df.repartition('k')",
        "df.repartitionByRange(4, 'k')",
    ]
    for expr in removed + kept:
        src = f"def _t(spark, df, emb, sf_dir, keys):\n    return {expr}\n"
        flagged = bool(_count_only_fan_outs("__spark_entry__.py", src))
        assert flagged is (expr in removed), expr
