"""The session factory: parameters are checked before any session is
reused, and the defaults come from the host."""

from __future__ import annotations

import pytest

from pd_utils_spark import session


@pytest.mark.parametrize("cpus", [0, -2, "0", "four", "2.5", " 4", True])
def test_bad_cpus_raise_before_reuse(spark, cpus):
    with pytest.raises(ValueError, match="positive integer"):
        session.get_spark(cpus=cpus)


@pytest.mark.parametrize("value", ["0", "", "-1", "x"])
def test_bad_cpus_env_raises(spark, monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark()


@pytest.mark.parametrize("value", ["2", "2gb", "0g", "g", "1.5g", "", "lots"])
def test_bad_heap_env_raises(spark, monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session.get_spark()


def test_good_parameters_reuse_the_active_session(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "512m")
    assert session.get_spark() is spark
    assert session.get_spark(cpus=2) is spark


def test_suite_session_settings(spark):
    conf = spark.conf
    assert spark.sparkContext.master == "local[4]"
    assert conf.get("spark.sql.shuffle.partitions") == "4"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.execution.arrow.pyspark.enabled") == "true"
    assert conf.get("spark.ui.enabled") == "false"


def _host(monkeypatch, mem_bytes: int, limits=()) -> None:
    page = 4096
    monkeypatch.setattr(
        session.os, "sysconf",
        lambda name: page if name == "SC_PAGE_SIZE" else mem_bytes // page,
    )
    monkeypatch.setattr(session, "_CGROUP_LIMITS", tuple(limits))


@pytest.mark.parametrize("gib, heap", [(15, "7680m"), (47, "24064m"), (48, "24g"), (512, "24g")])
def test_default_heap_is_half_the_host_capped(monkeypatch, gib, heap):
    _host(monkeypatch, gib * 2**30)
    assert session._default_heap() == heap


def test_default_heap_follows_a_lower_cgroup_limit(monkeypatch, tmp_path):
    v2, v1 = tmp_path / "memory.max", tmp_path / "limit_in_bytes"
    v2.write_text("max\n")  # unlimited: ignored
    v1.write_text(f"{4 * 2**30}\n")
    _host(monkeypatch, 64 * 2**30, [v2, v1, tmp_path / "absent"])
    assert session._default_heap() == "2048m"
    v1.write_text(f"{128 * 2**30}\n")  # above the host: the host wins
    assert session._default_heap() == "24g"
