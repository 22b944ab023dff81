"""Tests for the exact two-sample tests (`extensions/stats.py`) and
the distributed prefix-sum primitive (`plans/prefix.py`) against
independent numpy reference implementations."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pd_utils_spark.extensions.stats import ks_2samp, mann_whitney_u, welch_ttest
from pd_utils_spark.plans.prefix import prefix_sum


# ----------------------------------------------------- references

def _ref_ks(xa: np.ndarray, xb: np.ndarray):
    allv = np.sort(np.unique(np.concatenate([xa, xb])))
    fa = np.searchsorted(np.sort(xa), allv, side="right") / len(xa)
    fb = np.searchsorted(np.sort(xb), allv, side="right") / len(xb)
    d = float(np.max(np.abs(fa - fb)))
    en = math.sqrt(len(xa) * len(xb) / (len(xa) + len(xb)))
    lam = (en + 0.12 + 0.11 / en) * d
    if lam < 0.05:
        return d, 1.0
    p = 2.0 * sum(
        (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 101)
    )
    return d, min(max(p, 0.0), 1.0)


def _midranks(comb: np.ndarray) -> np.ndarray:
    order = np.argsort(comb, kind="mergesort")
    ranks = np.empty(len(comb))
    sv = comb[order]
    j = 0
    while j < len(comb):
        k = j
        while k + 1 < len(comb) and sv[k + 1] == sv[j]:
            k += 1
        ranks[order[j : k + 1]] = (j + 1 + k + 1) / 2.0
        j = k + 1
    return ranks


def _ref_mwu(xa: np.ndarray, xb: np.ndarray):
    na, nb = len(xa), len(xb)
    comb = np.concatenate([xa, xb])
    ranks = _midranks(comb)
    ra = float(ranks[:na].sum())
    u = ra - na * (na + 1) / 2.0
    _, t_counts = np.unique(comb, return_counts=True)
    ties = float((t_counts.astype(float) ** 3 - t_counts).sum())
    n = float(na + nb)
    mu = na * nb / 2.0
    sigma = math.sqrt((na * nb / 12.0) * ((n + 1.0) - ties / (n * (n - 1.0))))
    cc = 0.5 if u > mu else (-0.5 if u < mu else 0.0)
    z = (u - mu - cc) / sigma
    p = math.erfc(abs(z) / math.sqrt(2.0))
    return u, z, min(p, 1.0)


def _two_sample_df(spark, xa, xb):
    rows = [(float(v), "a") for v in xa] + [(float(v), "b") for v in xb]
    return spark.createDataFrame(rows, ["v", "g"])


# ----------------------------------------------------- prefix sum

def test_prefix_sum_matches_serial(spark):
    rng = np.random.RandomState(1)
    vals = rng.randint(0, 50, 200)
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(vals)], ["o", "x"]
    )
    got = {
        r.o: r.x_cum
        for r in prefix_sum(df, "o", "x", partitions=7).collect()
    }
    exp = dict(enumerate(np.cumsum(vals).tolist()))
    assert got == exp


def test_prefix_sum_exclusive_and_multi_value(spark):
    df = spark.createDataFrame(
        [(i, 1, 2 * i) for i in range(30)], ["o", "x", "y"]
    )
    out = prefix_sum(df, "o", ["x", "y"], partitions=4, inclusive=False)
    rows = {r.o: (r.x_cum, r.y_cum) for r in out.collect()}
    for i in range(30):
        assert rows[i] == (i, sum(2 * j for j in range(i)))


def test_prefix_sum_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(1, 10), (2, 20)], ["o", "x"])
    got = {r.o: r.x_cum for r in prefix_sum(df, "o", "x", partitions=16).collect()}
    assert got == {1: 10, 2: 30}


def test_prefix_sum_input_reordered_on_every_evaluation(spark):
    """A shuffle's fetch order makes an input's row order differ from
    one evaluation to the next. The range bounds are sampled in row
    order, so the local prefixes and the partition offsets must come
    from ONE evaluation, or rows pair with the wrong offsets. The
    payload column ``p`` only the local branch needs keeps the two
    branches' exchanges from being reused as one."""
    n = 20_000
    vals = np.random.RandomState(3).randint(0, 50, n)
    schema = "o long, x long, p string"

    def reorder(batches):
        rng = np.random.default_rng()  # unseeded: new order every run
        for b in batches:
            yield b.iloc[rng.permutation(len(b))]

    df = spark.createDataFrame(
        [(i, int(v), str(i)) for i, v in enumerate(vals)], schema
    ).mapInPandas(reorder, schema)
    got = prefix_sum(df, "o", "x", partitions=8).toPandas().sort_values("o")
    assert got["x_cum"].tolist() == np.cumsum(vals).tolist()
    assert got["p"].tolist() == [str(i) for i in range(n)]


def test_prefix_sum_validation(spark):
    df = spark.createDataFrame([(1, 1)], ["o", "x"])
    with pytest.raises(ValueError):
        prefix_sum(df, [], "x")


def test_prefix_sum_no_single_task_exchange(spark, checkpointed_plans):
    """The data path must never collapse to one partition: the only
    single-partition exchange allowed is the O(#partitions) offsets
    side plan. The range partition runs once, in the materialized
    ranged frame."""
    df = spark.createDataFrame([(i, 1) for i in range(100)], ["o", "x"])
    plan = (
        prefix_sum(df, "o", "x", partitions=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    [ranged] = checkpointed_plans
    assert "rangepartitioning(o" in ranged.lower()
    assert "SinglePartition" not in ranged
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastExchange" in plan


# ----------------------------------------------------- KS test

def test_ks_matches_reference(spark):
    rng = np.random.RandomState(0)
    xa = rng.normal(0, 1, 300).round(2)
    xb = rng.normal(0.3, 1.2, 200).round(2)
    row = ks_2samp(_two_sample_df(spark, xa, xb), "v", "g", "a", "b").collect()[0]
    d, p = _ref_ks(xa, xb)
    assert row.n_a == 300 and row.n_b == 200
    assert row.d_stat == pytest.approx(d, abs=1e-12)
    assert row.p_value == pytest.approx(p, rel=1e-9)


def test_ks_identical_samples_d_zero(spark):
    xa = np.arange(50).astype(float)
    row = ks_2samp(_two_sample_df(spark, xa, xa), "v", "g", "a", "b").collect()[0]
    assert row.d_stat == 0.0
    assert row.p_value == pytest.approx(1.0)


def test_ks_disjoint_samples_d_one(spark):
    xa = np.arange(50).astype(float)
    xb = xa + 1000.0
    row = ks_2samp(_two_sample_df(spark, xa, xb), "v", "g", "a", "b").collect()[0]
    assert row.d_stat == 1.0
    assert row.p_value < 1e-9


@given(
    na=st.integers(min_value=5, max_value=40),
    nb=st.integers(min_value=5, max_value=40),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_ks_property_parity(spark, na, nb, seed):
    rng = np.random.RandomState(seed)
    # coarse rounding forces heavy ties — the hard case
    xa = rng.normal(0, 1, na).round(1)
    xb = rng.normal(0.5, 1, nb).round(1)
    row = ks_2samp(_two_sample_df(spark, xa, xb), "v", "g", "a", "b").collect()[0]
    d, p = _ref_ks(xa, xb)
    assert row.d_stat == pytest.approx(d, abs=1e-12)
    assert row.p_value == pytest.approx(p, rel=1e-9)


# ----------------------------------------------------- Mann-Whitney

def test_mwu_matches_reference(spark):
    rng = np.random.RandomState(0)
    xa = rng.normal(0, 1, 300).round(2)
    xb = rng.normal(0.3, 1.2, 200).round(2)
    row = mann_whitney_u(
        _two_sample_df(spark, xa, xb), "v", "g", "a", "b"
    ).collect()[0]
    u, z, p = _ref_mwu(xa, xb)
    assert row.u_stat == pytest.approx(u, abs=1e-9)
    assert row.z == pytest.approx(z, rel=1e-12)
    # p uses the A&S erfc polynomial (|err| <= 1.5e-7)
    assert row.p_value == pytest.approx(p, abs=3e-7)


@given(
    na=st.integers(min_value=8, max_value=30),
    nb=st.integers(min_value=8, max_value=30),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_mwu_property_parity(spark, na, nb, seed):
    rng = np.random.RandomState(seed)
    xa = rng.randint(0, 6, na).astype(float)  # massive ties
    xb = rng.randint(1, 7, nb).astype(float)
    row = mann_whitney_u(
        _two_sample_df(spark, xa, xb), "v", "g", "a", "b"
    ).collect()[0]
    u, z, p = _ref_mwu(xa, xb)
    assert row.u_stat == pytest.approx(u, abs=1e-9)
    assert row.z == pytest.approx(z, rel=1e-9)
    assert row.p_value == pytest.approx(p, abs=3e-7)


# ----------------------------------------------------- Welch

def test_welch_matches_reference(spark):
    rng = np.random.RandomState(2)
    xa = rng.normal(0, 1, 120)
    xb = rng.normal(0.4, 2.0, 80)
    row = welch_ttest(_two_sample_df(spark, xa, xb), "v", "g", "a", "b").collect()[0]
    va, vb = xa.var(ddof=1), xb.var(ddof=1)
    sa, sb = va / len(xa), vb / len(xb)
    t = (xa.mean() - xb.mean()) / math.sqrt(sa + sb)
    dof = (sa + sb) ** 2 / (sa**2 / (len(xa) - 1) + sb**2 / (len(xb) - 1))
    assert row.t_stat == pytest.approx(t, rel=1e-9)
    assert row.dof == pytest.approx(dof, rel=1e-9)
    assert row.mean_a == pytest.approx(xa.mean(), rel=1e-9)


# ----------------------------------------------------- bootstrap

def test_poisson_bootstrap_deterministic_and_calibrated(spark):
    rng = np.random.RandomState(0)
    vals = rng.normal(10, 2, 800).round(2)
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], ["id", "v"]
    )
    from pd_utils_spark.extensions.stats import (
        poisson_bootstrap_ci,
        poisson_bootstrap_means,
    )

    r1 = poisson_bootstrap_ci(df, "v", "id", replicas=120).collect()[0]
    r2 = poisson_bootstrap_ci(df, "v", "id", replicas=120).collect()[0]
    assert r1 == r2  # deterministic draw
    assert r1.n == 800
    assert r1.ci_lo < r1.estimate < r1.ci_hi
    # CI halfwidth should be in the ballpark of the normal-theory SE
    half = (r1.ci_hi - r1.ci_lo) / 2
    se = float(vals.std(ddof=1)) / math.sqrt(len(vals))
    assert 1.0 * se < half < 3.5 * se
    # replica means: all replicas present, n_eff ~ Poisson(n) ~ n
    reps = poisson_bootstrap_means(df, "v", "id", replicas=120).collect()
    assert len(reps) == 120
    for r in reps:
        assert abs(r.n_eff - 800) < 5 * math.sqrt(800)


def test_poisson_bootstrap_weights_match_reference(spark):
    """Replay the hash->Poisson weight chain in pure Python for one
    replica and compare the replica's weighted mean exactly."""
    import hashlib

    from pd_utils_spark.extensions.stats import (
        _POISSON1_CDF,
        _U_DENOM,
        poisson_bootstrap_means,
    )

    vals = [(i, float(i % 7) + 0.5) for i in range(50)]
    df = spark.createDataFrame(vals, ["id", "v"])
    got = {
        r.replica: (r.n_eff, r.est)
        for r in poisson_bootstrap_means(df, "v", "id", replicas=3).collect()
    }
    for rep in range(3):
        wsum = wvsum = 0.0
        for i, v in vals:
            u = (
                int(hashlib.md5(f"{i}:{rep}:pb".encode()).hexdigest()[:15], 16)
                / _U_DENOM
            )
            w = float(sum(u >= t for t in _POISSON1_CDF))
            wsum += w
            wvsum += w * v
        assert got[rep][0] == pytest.approx(wsum)
        assert got[rep][1] == pytest.approx(wvsum / wsum, rel=1e-12)


def test_poisson_bootstrap_validation(spark):
    df = spark.createDataFrame([(1, 1.0)], ["id", "v"])
    from pd_utils_spark.extensions.stats import (
        poisson_bootstrap_ci,
        poisson_bootstrap_means,
    )

    with pytest.raises(ValueError):
        poisson_bootstrap_means(df, "v", [], replicas=10)
    with pytest.raises(ValueError):
        poisson_bootstrap_means(df, "v", "id", replicas=1)
    with pytest.raises(ValueError):
        poisson_bootstrap_ci(df, "v", "id", alpha=0.0)


# ----------------------------------------------------- BH FDR

def _ref_bh(ps: np.ndarray) -> np.ndarray:
    n = len(ps)
    order = np.argsort(ps, kind="mergesort")
    q = np.empty(n)
    prev = 1.0
    for rank in range(n, 0, -1):
        i = order[rank - 1]
        prev = min(prev, ps[i] * n / rank)
        q[i] = prev
    return q


def test_fdr_bh_matches_reference_with_ties(spark):
    from pd_utils_spark.extensions.stats import fdr_bh

    rng = np.random.RandomState(0)
    ps = np.concatenate(
        [rng.uniform(0, 1, 40), rng.uniform(0, 0.01, 10), [0.02, 0.02, 0.02]]
    )
    df = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ps)], ["t", "p_value"]
    )
    got = {r.t: r.q_value for r in fdr_bh(df, partitions=5).collect()}
    exp = _ref_bh(ps)
    for i in range(len(ps)):
        assert got[i] == pytest.approx(exp[i], abs=1e-12)


def test_fdr_bh_null_p_passthrough_and_monotone(spark):
    from pd_utils_spark.extensions.stats import fdr_bh

    df = spark.createDataFrame(
        [(0, 0.001), (1, 0.04), (2, None), (3, 0.5), (4, 1.0)],
        "t long, p_value double",
    )
    rows = {r.t: r.q_value for r in fdr_bh(df).collect()}
    assert rows[2] is None
    # q is monotone in p and capped at 1
    assert rows[0] <= rows[1] <= rows[3] <= rows[4] <= 1.0


@given(
    n=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=9999),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_fdr_bh_property_parity(spark, n, seed):
    from pd_utils_spark.extensions.stats import fdr_bh

    rng = np.random.RandomState(seed)
    # quantized p-values force tie groups
    ps = (rng.randint(0, 20, n) / 20.0).astype(float)
    df = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(ps)], ["t", "p_value"]
    )
    got = {r.t: r.q_value for r in fdr_bh(df, partitions=3).collect()}
    exp = _ref_bh(ps)
    for i in range(n):
        assert got[i] == pytest.approx(exp[i], abs=1e-12)


def test_prefix_agg_min_max(spark):
    from pd_utils_spark.plans.prefix import prefix_agg

    rng = np.random.RandomState(5)
    vals = rng.randint(-100, 100, 60)
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(vals)], ["o", "x"]
    )
    mn = {r.o: r.x_cummin for r in prefix_agg(df, "o", "x", "min", partitions=6).collect()}
    mx = {r.o: r.x_cummax for r in prefix_agg(df, "o", "x", "max", partitions=6).collect()}
    assert mn == dict(enumerate(np.minimum.accumulate(vals).tolist()))
    assert mx == dict(enumerate(np.maximum.accumulate(vals).tolist()))
    with pytest.raises(ValueError):
        prefix_agg(df, "o", "x", "median")


# ----------------------------------------------------- PSI

class TestPSI:
    def _frames(self, spark):
        rng = np.random.RandomState(0)
        base = spark.createDataFrame(
            [(float(v),) for v in rng.normal(0, 1, 2000).round(3)], ["v"]
        )
        same = spark.createDataFrame(
            [(float(v),) for v in rng.normal(0, 1, 2000).round(3)], ["v"]
        )
        shift = spark.createDataFrame(
            [(float(v),) for v in rng.normal(0.8, 1, 2000).round(3)], ["v"]
        )
        return base, same, shift

    def test_stable_vs_shifted(self, spark):
        from pd_utils_spark.extensions.stats import population_stability_index

        base, same, shift = self._frames(spark)
        psi_same = (
            population_stability_index(base, same, "v")
            .agg(F.sum("contrib")).collect()[0][0]
        )
        psi_shift = (
            population_stability_index(base, shift, "v")
            .agg(F.sum("contrib")).collect()[0][0]
        )
        assert psi_same < 0.1       # "stable" band
        assert psi_shift > 0.25     # "shifted" band
        assert psi_same >= 0.0 and psi_shift > psi_same

    def test_empty_baseline_returns_empty_frame(self, spark):
        # r7 guard: an all-null or zero-row baseline must degrade to
        # an empty result, not a negative-length slice runtime error
        from pd_utils_spark.extensions.stats import population_stability_index

        cur = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
        empty = spark.createDataFrame([], "v double")
        allnull = spark.createDataFrame([(None,), (None,)], "v double")
        assert population_stability_index(empty, cur, "v").count() == 0
        assert population_stability_index(allnull, cur, "v").count() == 0

    def test_identical_frames_near_zero_and_bin_shapes(self, spark):
        from pd_utils_spark.extensions.stats import population_stability_index

        base, _, _ = self._frames(spark)
        out = population_stability_index(base, base, "v", bins=8).collect()
        assert len(out) == 8
        # equal-count baseline bins; identical current -> p == q per bin
        for r in out:
            assert r.n_base == r.n_cur
            assert r.contrib == pytest.approx(0.0, abs=1e-15)

    def test_empty_current_bin_contributes_large_finite(self, spark):
        from pd_utils_spark.extensions.stats import population_stability_index

        base = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
        cur = spark.createDataFrame([(float(i),) for i in range(50)], ["v"])
        out = {r.bin: r for r in population_stability_index(base, cur, "v", bins=4).collect()}
        # bins 2-3 (upper half) are empty in current: finite positive contrib
        assert out[3].n_cur == 0
        assert 0 < out[3].contrib < float("inf")

    def test_values_above_baseline_max_land_in_last_bin(self, spark):
        from pd_utils_spark.extensions.stats import population_stability_index

        base = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
        cur = spark.createDataFrame([(1e9,)], ["v"])
        out = {r.bin: r for r in population_stability_index(base, cur, "v", bins=4).collect()}
        assert out[3].n_cur == 1

    def test_sparse_bucket_ids_keep_current_mass(self, spark):
        # tie-heavy baseline: one value holds 50% of the mass, so
        # exact_ntile emits sparse bucket ids {0, 5, 6, ...} — the
        # current sample's edge-count POSITION must map back to those
        # labels or its mass silently vanishes in the join (the
        # understated-PSI bug)
        from pd_utils_spark.extensions.stats import population_stability_index

        base = spark.createDataFrame(
            [(0.0,)] * 50 + [(float(i),) for i in range(1, 51)], ["v"]
        )
        cur = spark.createDataFrame([(float(i),) for i in range(1, 51)], ["v"])
        out = population_stability_index(base, cur, "v", bins=10).collect()
        bins_present = sorted(r.bin for r in out)
        assert bins_present == [0, 5, 6, 7, 8, 9]  # sparse ids survive
        total_cur = sum(r.n_cur for r in out)
        assert total_cur == 50  # no current mass dropped
        by_bin = {r.bin: r for r in out}
        assert by_bin[0].n_cur == 0  # the tie bucket empties
        psi = sum(r.contrib for r in out)
        assert psi > 0.25  # this IS the shifted case PSI exists to catch

    def test_validation(self, spark):
        from pd_utils_spark.extensions.stats import population_stability_index

        df = spark.createDataFrame([(1.0,)], ["v"])
        with pytest.raises(ValueError):
            population_stability_index(df, df, "v", bins=1)
        with pytest.raises(ValueError):
            population_stability_index(df, df, "v", smoothing=0.0)


# ----------------------------------------------------- caliper match

class TestCaliperMatch:
    def _df(self, spark):
        rows = [
            (1, True, 0.50, 10.0), (2, True, 0.90, 12.0),
            (3, True, 0.10, 8.0),
            (101, False, 0.52, 7.0), (102, False, 0.47, 6.5),
            (103, False, 0.60, 7.2), (104, False, 0.30, 5.0),
        ]
        return spark.createDataFrame(rows, ["id", "treat", "score", "y"])

    def test_nearest_within_caliper_and_unmatched(self, spark):
        from pd_utils_spark.extensions.stats import caliper_match

        out = {
            r.treated_id: r
            for r in caliper_match(
                self._df(spark), "score", "treat", "id", 0.1, outcomecol="y"
            ).collect()
        }
        assert out[1].control_id == 101 and out[1].dist == pytest.approx(0.02)
        assert out[1].outcome_t == 10.0 and out[1].outcome_c == 7.0
        assert out[2].control_id is None  # nearest control 0.30 away
        assert out[3].control_id is None

    def test_backward_wins_distance_tie(self, spark):
        from pd_utils_spark.extensions.stats import caliper_match

        df = spark.createDataFrame(
            [(1, True, 0.5), (10, False, 0.4), (11, False, 0.6)],
            ["id", "treat", "score"],
        )
        r = caliper_match(df, "score", "treat", "id", 0.5).collect()[0]
        assert r.control_id == 10  # 0.4 (backward) beats 0.6 at equal dist

    def test_with_replacement_and_strata(self, spark):
        from pd_utils_spark.extensions.stats import caliper_match

        df = spark.createDataFrame(
            [("s1", 1, True, 0.5), ("s1", 2, True, 0.51),
             ("s1", 10, False, 0.5),
             ("s2", 3, True, 0.5), ("s2", 20, False, 5.0)],
            ["g", "id", "treat", "score"],
        )
        out = {
            r.treated_id: r
            for r in caliper_match(
                df, "score", "treat", "id", 0.2, byvars="g"
            ).collect()
        }
        # one control serves both s1 treated rows (with replacement)
        assert out[1].control_id == 10 and out[2].control_id == 10
        # strata block the s2 treated row from s1's control
        assert out[3].control_id is None
        with pytest.raises(ValueError):
            caliper_match(df, "score", "treat", "id", 0.0)


# ----------------------------------------------------- kaplan_meier

def _ref_km(durs, evs):
    """Reference product-limit estimator over (duration, event) pairs."""
    import collections

    d = collections.Counter()
    c = collections.Counter()
    for t, e in zip(durs, evs):
        (d if e else c)[t] += 1
    times = sorted(set(d) | set(c))
    n = len(durs)
    out = {}
    s = 1.0
    for t in times:
        s *= 1.0 - d[t] / n
        out[t] = (n, d[t], c[t], s)
        n -= d[t] + c[t]
    return out


@pytest.mark.parametrize("grouped", [True, False])
def test_kaplan_meier_matches_reference(spark, grouped):
    from pd_utils_spark.extensions.stats import kaplan_meier

    rng = np.random.default_rng(7)
    rows = []
    for g in ["a", "b"]:
        durs = rng.integers(1, 12, 80)
        evs = rng.integers(0, 2, 80)
        rows += [(g, int(t), int(e)) for t, e in zip(durs, evs)]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    if grouped:
        got = kaplan_meier(df, "dur", "ev", byvars="g").collect()
        for g in ["a", "b"]:
            sub = [(t, e) for gg, t, e in rows if gg == g]
            ref = _ref_km([t for t, _ in sub], [e for _, e in sub])
            mine = {r["t"]: r for r in got if r["g"] == g}
            assert set(mine) == set(ref)
            for t, (n_risk, d, c, s) in ref.items():
                r = mine[t]
                assert r["n_risk"] == n_risk and r["n_event"] == d
                assert r["n_censored"] == c
                assert r["survival"] == pytest.approx(s, abs=1e-12)
    else:
        got = kaplan_meier(df.drop("g"), "dur", "ev").collect()
        ref = _ref_km([t for _, t, _ in rows], [e for _, _, e in rows])
        mine = {r["t"]: r for r in got}
        assert set(mine) == set(ref)
        for t, (n_risk, d, c, s) in ref.items():
            r = mine[t]
            assert r["n_risk"] == n_risk and r["n_event"] == d
            assert r["survival"] == pytest.approx(s, abs=1e-12)


def test_kaplan_meier_hits_exact_zero_when_all_die(spark):
    from pd_utils_spark.extensions.stats import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 1), (3, 1)], ["dur", "ev"]
    )
    got = {r["t"]: r["survival"] for r in kaplan_meier(df, "dur", "ev").collect()}
    assert got[3] == 0.0
    assert got[2] > 0.0


# ----------------------------------------------------- cuped

def test_cuped_matches_numpy(spark):
    from pd_utils_spark.extensions.stats import cuped

    rng = np.random.default_rng(11)
    x = rng.normal(10, 3, 400)
    y = 2.0 * x + rng.normal(0, 1, 400)
    v = np.where(np.arange(400) % 2 == 0, "t", "c")
    df = spark.createDataFrame(
        [(str(vv), float(yy), float(xx)) for vv, yy, xx in zip(v, y, x)],
        ["variant", "y", "x"],
    )
    got = {r["variant"]: r for r in cuped(df, "y", "x", "variant").collect()}
    theta = np.cov(y, x, ddof=0)[0, 1] / np.var(x)
    y_adj = y - theta * (x - x.mean())
    for vv in ["t", "c"]:
        m = v == vv
        r = got[vv]
        assert r["theta"] == pytest.approx(theta, rel=1e-9)
        assert r["mean"] == pytest.approx(float(y[m].mean()), rel=1e-9)
        assert r["mean_adj"] == pytest.approx(float(y_adj[m].mean()), rel=1e-9)
        assert r["var"] == pytest.approx(float(np.var(y[m], ddof=1)), rel=1e-9)
        assert r["var_adj"] == pytest.approx(
            float(np.var(y_adj[m], ddof=1)), rel=1e-6
        )
        assert r["var_reduction"] > 0.9  # y is ~2x + small noise


# ----------------------------------------------------- conformal_split

def test_conformal_split_quantile_and_coverage(spark):
    from pd_utils_spark.extensions.stats import conformal_split

    rng = np.random.default_rng(3)
    n = 500
    y = rng.normal(0, 1, n)
    pred = y + rng.normal(0, 0.5, n)
    calib = np.arange(n) % 2 == 0
    df = spark.createDataFrame(
        [(float(a), float(b), bool(c)) for a, b, c in zip(y, pred, calib)],
        ["y", "pred", "is_calib"],
    )
    r = conformal_split(df, "y", "pred", "is_calib", alpha=0.1).collect()[0]
    res = np.abs(y - pred)
    rc = np.sort(res[calib])
    k = min(math.ceil((len(rc) + 1) * 0.9), len(rc))
    q_ref = float(rc[k - 1])
    assert r["n_calib"] == len(rc)
    assert r["q_hat"] == pytest.approx(q_ref, abs=0.0)
    cov_ref = float((res[~calib] <= q_ref).mean())
    assert r["coverage"] == pytest.approx(cov_ref, abs=1e-12)
    # split conformal's finite-sample guarantee: coverage ~ 90%
    assert 0.8 < r["coverage"] <= 1.0


def test_conformal_split_degenerate_inputs_still_one_row(spark):
    from pd_utils_spark.extensions.stats import conformal_split

    df = spark.createDataFrame(
        [(1.0, 1.1, True), (2.0, 2.2, True), (3.0, 2.9, False)],
        ["y", "p", "c"],
    )
    # no calibration rows: n_calib=0, no interval -> null q_hat AND
    # null coverage (a fake 0.0 would read as "interval never covers")
    r = conformal_split(df.filter(~F.col("c")), "y", "p", "c").collect()
    assert len(r) == 1
    assert r[0]["n_calib"] == 0 and r[0]["n_test"] == 1
    assert r[0]["q_hat"] is None and r[0]["coverage"] is None
    # no test rows: q_hat and n_calib still real, coverage null
    r = conformal_split(df.filter(F.col("c")), "y", "p", "c").collect()
    assert len(r) == 1
    assert r[0]["n_calib"] == 2 and r[0]["n_test"] == 0
    assert r[0]["q_hat"] == pytest.approx(0.2, abs=1e-9)
    assert r[0]["coverage"] is None
    # fully empty input: still exactly one null-filled row
    r = conformal_split(df.filter(F.lit(False)), "y", "p", "c").collect()
    assert len(r) == 1
    assert r[0]["n_calib"] == 0 and r[0]["n_test"] == 0


def test_conformal_split_rejects_bad_alpha(spark):
    from pd_utils_spark.extensions.stats import conformal_split

    df = spark.createDataFrame([(1.0, 1.0, True)], ["y", "p", "c"])
    with pytest.raises(ValueError, match="alpha"):
        conformal_split(df, "y", "p", "c", alpha=1.5)


# ----------------------------------------------------- eb_rate_shrink

def test_eb_rate_shrink_matches_numpy_mom(spark):
    from pd_utils_spark.extensions.stats import eb_rate_shrink

    rng = np.random.default_rng(13)
    n = rng.integers(1, 50, 200).astype(float)
    p = rng.beta(4.0, 6.0, 200)
    x = np.floor(n * p)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, n)], ["x", "n"]
    )
    rates = x / n
    mu, s2 = rates.mean(), rates.var(ddof=1)
    k = mu * (1 - mu) / s2 - 1
    alpha, beta = mu * k, (1 - mu) * k
    assert k > 0
    got = eb_rate_shrink(df, "x", "n").collect()
    for r in got:
        assert r["alpha"] == pytest.approx(alpha, rel=1e-9)
        assert r["beta"] == pytest.approx(beta, rel=1e-9)
        ref = (r["x"] + alpha) / (r["n"] + alpha + beta)
        assert r["shrunk_rate"] == pytest.approx(ref, rel=1e-9)
        # shrinkage pulls toward the pooled mean
        raw = r["x"] / r["n"]
        assert abs(r["shrunk_rate"] - mu) <= abs(raw - mu) + 1e-12


def test_eb_rate_shrink_degenerate_and_zero_trials(spark):
    from pd_utils_spark.extensions.stats import eb_rate_shrink

    # constant rates -> zero variance -> uniform prior fallback
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (0.0, 0.0)], ["x", "n"]
    )
    got = {r["n"]: r for r in eb_rate_shrink(df, "x", "n").collect()}
    assert got[2.0]["alpha"] == 1.0 and got[2.0]["beta"] == 1.0
    assert got[2.0]["shrunk_rate"] == pytest.approx(2.0 / 4.0)
    assert got[0.0]["shrunk_rate"] is None and got[0.0]["rate"] is None


class TestIpwAte:
    def test_matches_hand_computation_and_drops_no_overlap(self, spark):
        from pd_utils_spark.extensions.stats import ipw_ate

        # stratum A: 4 rows, e = 1/2; stratum B: 6 rows, e = 1/3;
        # stratum C: all treated -> dropped
        rows = [
            ("A", 1, 10.0), ("A", 1, 12.0), ("A", 0, 5.0), ("A", 0, 7.0),
            ("B", 1, 9.0), ("B", 1, 11.0),
            ("B", 0, 4.0), ("B", 0, 6.0), ("B", 0, 5.0), ("B", 0, 5.0),
            ("C", 1, 99.0), ("C", 1, 98.0),
        ]
        df = spark.createDataFrame(rows, ["s", "t", "y"])
        r = ipw_ate(df, "t", "y", "s").collect()[0]
        assert r.n_used == 10 and r.n_dropped == 2 and r.n_strata == 2
        # HT: stratum A: syt/e - syc/(1-e) = 22/0.5 - 12/0.5 = 20
        #     stratum B: 20/(1/3) - 20/(2/3) = 60 - 30 = 30
        assert r.ate_ipw == pytest.approx((20.0 + 30.0) / 10.0)
        # blocked: A: 4*(11 - 6) = 20 ; B: 6*(10 - 5) = 30
        assert r.ate_strat == pytest.approx((20.0 + 30.0) / 10.0)

    def test_all_strata_dropped_yields_null_effects(self, spark):
        from pd_utils_spark.extensions.stats import ipw_ate

        df = spark.createDataFrame(
            [("A", 1, 1.0), ("A", 1, 2.0), ("B", 0, 3.0)], ["s", "t", "y"]
        )
        r = ipw_ate(df, "t", "y", "s").collect()[0]
        assert r.n_used == 0 and r.n_dropped == 3 and r.n_strata == 0
        assert r.ate_ipw is None and r.ate_strat is None

    def test_equals_diff_in_means_single_stratum(self, spark):
        from pd_utils_spark.extensions.stats import ipw_ate

        rng = np.random.RandomState(5)
        t = rng.randint(0, 2, 50)
        t[:2] = [0, 1]  # guarantee overlap
        y = 2.0 * t + rng.randn(50)
        df = spark.createDataFrame(
            [("all", int(ti), float(yi)) for ti, yi in zip(t, y)],
            ["s", "t", "y"],
        )
        r = ipw_ate(df, "t", "y", "s").collect()[0]
        expected = y[t == 1].mean() - y[t == 0].mean()
        assert r.ate_ipw == pytest.approx(expected, rel=1e-9)
        assert r.ate_strat == pytest.approx(expected, rel=1e-9)


class TestProportionCi:
    def test_matches_wilson_formula(self, spark):
        import math

        from pd_utils_spark.extensions.stats import proportion_ci

        df = spark.createDataFrame(
            [("g", 1)] * 30 + [("g", 0)] * 70 + [("rare", 1)] + [("rare", 0)] * 9,
            ["g", "hit"],
        )
        got = {r.g: r for r in proportion_ci(df, "hit", "g").collect()}
        z = 1.959964
        for g, x, n in (("g", 30, 100), ("rare", 1, 10)):
            p = x / n
            denom = 1 + z * z / n
            center = (p + z * z / (2 * n)) / denom
            half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
            assert got[g].rate == pytest.approx(p)
            assert got[g].ci_lo == pytest.approx(center - half, rel=1e-12)
            assert got[g].ci_hi == pytest.approx(center + half, rel=1e-12)
        # Wilson never leaves [0, 1], even at the extremes
        df2 = spark.createDataFrame([("z", 1)] * 5, ["g", "hit"])
        r = proportion_ci(df2, "hit", "g").collect()[0]
        assert 0.0 <= r.ci_lo < 1.0 and r.ci_hi <= 1.0
        assert r.ci_hi - r.ci_lo > 0  # never collapses to zero width
