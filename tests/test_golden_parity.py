"""Golden-output parity tests ported from the reference test suite
(reference: tests/test_pandas.py). Expected frames are the reference's
inline literals; comparisons are order-insensitive and dtype-tolerant
(SURVEY.md §5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pandas import Timestamp

import pd_utils_spark as pus
from tests import fixtures as fx
from tests.helpers import assert_df_equal

nan = np.nan


class TestCumulate:
    expect_between_1_3 = pd.DataFrame(
        [
            (10516, "a", "1/1/2000", 1.01, 1.01),
            (10516, "a", "1/2/2000", 1.02, 1.02),
            (10516, "a", "1/3/2000", 1.03, 1.0506),
            (10516, "a", "1/4/2000", 1.04, 1.04),
            (10516, "b", "1/1/2000", 1.05, 1.05),
            (10516, "b", "1/2/2000", 1.06, 1.06),
            (10516, "b", "1/3/2000", 1.07, 1.1342),
            (10516, "b", "1/4/2000", 1.08, 1.08),
            (10517, "a", "1/1/2000", 1.09, 1.09),
            (10517, "a", "1/2/2000", 1.1, 1.1),
            (10517, "a", "1/3/2000", 1.11, 1.2210000000000003),
            (10517, "a", "1/4/2000", 1.12, 1.12),
        ],
        columns=["PERMNO", "byvar", "Date", "RET", "cum_RET"],
    )

    expect_first = pd.DataFrame(
        [
            (10516, "a", "1/1/2000", 1.01, 1.01),
            (10516, "a", "1/2/2000", 1.02, 1.02),
            (10516, "a", "1/3/2000", 1.03, 1.0506),
            (10516, "a", "1/4/2000", 1.04, 1.092624),
            (10516, "b", "1/1/2000", 1.05, 1.05),
            (10516, "b", "1/2/2000", 1.06, 1.06),
            (10516, "b", "1/3/2000", 1.07, 1.1342),
            (10516, "b", "1/4/2000", 1.08, 1.224936),
            (10517, "a", "1/1/2000", 1.09, 1.09),
            (10517, "a", "1/2/2000", 1.10, 1.10),
            (10517, "a", "1/3/2000", 1.11, 1.221),
            (10517, "a", "1/4/2000", 1.12, 1.36752),
        ],
        columns=["PERMNO", "byvar", "Date", "RET", "cum_RET"],
    )

    def test_method_between_1_3(self, spark):
        out = pus.cumulate(
            fx.df(spark), "RET", "between", periodvar="Date", byvars=["PERMNO", "byvar"], time=[1, 3]
        )
        assert_df_equal(out, self.expect_between_1_3)

    def test_method_between_m2_0(self, spark):
        out = pus.cumulate(
            fx.df(spark), "RET", "between", periodvar="Date", byvars=["PERMNO", "byvar"], time=[-2, 0]
        )
        assert_df_equal(out, self.expect_between_1_3)

    def test_method_first(self, spark):
        out = pus.cumulate(
            fx.df(spark), "RET", "first", periodvar="Date", byvars=["PERMNO", "byvar"]
        )
        assert_df_equal(out, self.expect_first)

    def test_grossify(self, spark):
        from pyspark.sql import functions as F

        indf = fx.df(spark).withColumn("RET", F.col("RET") - 1)
        expect = self.expect_first.copy()
        expect["cum_RET"] -= 1
        expect["RET"] -= 1
        out = pus.cumulate(
            indf, "RET", "first", periodvar="Date", byvars=["PERMNO", "byvar"], grossify=True
        )
        assert_df_equal(out, expect)

    def test_method_zero_not_implemented(self, spark):
        with pytest.raises(NotImplementedError):
            pus.cumulate(fx.df(spark), "RET", "zero", periodvar="Date")


class TestGroupbyMerge:
    def test_subset_max(self, spark):
        out = pus.groupby_merge(fx.df(spark), ["PERMNO", "byvar"], "max", subset="RET")
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["RET_max"] = [1.04] * 4 + [1.08] * 4 + [1.12] * 4
        assert_df_equal(out, expect)

    def test_first_requires_ordervar(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="ordervar"):
            pus.groupby_merge(fx.df(spark), "PERMNO", "first", subset="RET")

    def test_subset_first_with_ordervar(self, spark):
        out = pus.groupby_merge(
            fx.df(spark), ["PERMNO", "byvar"], "first", subset="RET", ordervar="Date"
        )
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["RET_first"] = [1.01] * 4 + [1.05] * 4 + [1.09] * 4
        assert_df_equal(out, expect)

    def test_subset_nunique(self, spark):
        out = pus.groupby_merge(fx.df(spark), "PERMNO", "nunique", subset="byvar")
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["byvar_nunique"] = [2] * 8 + [1] * 4
        assert_df_equal(out, expect)

    def test_subset_std(self, spark):
        out = pus.groupby_merge(fx.df(spark), ["PERMNO", "byvar"], "std", subset="RET")
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["RET_std"] = [0.012909944487358068] * 12
        assert_df_equal(out, expect)

    def test_native_cumsum_matches_pandas_groupby(self, spark):
        """Native running-window path == pandas groupby cumsum,
        including NaN rows (null stays null, skipped in the total)."""
        pdf = pd.DataFrame(
            {
                "g": ["a", "a", "a", "b", "b", None],
                "i": [1, 2, 3, 1, 2, 1],
                "x": [1.0, nan, 2.0, 5.0, 7.0, 9.0],
            }
        )
        out = pus.groupby_merge(
            spark.createDataFrame(pdf), "g", "cumsum", subset="x", ordervar="i"
        )
        expect = pdf.copy()
        expect["x_cumsum"] = pdf.groupby("g", dropna=False).x.cumsum()
        assert_df_equal(out, expect, sort_cols=["g", "i"])

    def test_native_zscore_matches_pandas_transform(self, spark):
        pdf = pd.DataFrame(
            {
                "g": ["a"] * 4 + ["b"] * 3,
                "x": [1.0, 2.0, nan, 4.0, 10.0, 20.0, 30.0],
            }
        )
        out = pus.groupby_merge(spark.createDataFrame(pdf), "g", "zscore", subset="x")
        expect = pdf.copy()
        expect["x_zscore"] = pdf.groupby("g").x.transform(
            lambda s: (s - s.mean()) / s.std()
        )
        assert_df_equal(out, expect, sort_cols=["g", "x"])

    def test_native_cumprod_cummax_match_pandas(self, spark):
        pdf = pd.DataFrame(
            {
                "g": ["a"] * 4 + ["b"] * 3,
                "i": [1, 2, 3, 4, 1, 2, 3],
                "x": [1.5, 2.0, nan, 0.5, 3.0, 1.0, 2.0],
            }
        )
        df = spark.createDataFrame(pdf)
        out_p = pus.groupby_merge(df, "g", "cumprod", subset="x", ordervar="i")
        out_m = pus.groupby_merge(df, "g", "cummax", subset="x", ordervar="i")
        expect = pdf.copy()
        expect["x_cumprod"] = pdf.groupby("g").x.cumprod()
        assert_df_equal(out_p, expect, sort_cols=["g", "i"])
        expect = pdf.copy()
        expect["x_cummax"] = pdf.groupby("g").x.cummax()
        assert_df_equal(out_m, expect, sort_cols=["g", "i"])

    def test_cumsum_requires_ordervar(self, spark):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="ordervar"):
            pus.groupby_merge(fx.df(spark), "PERMNO", "cumsum", subset="RET")

    def test_nan_byvar_transform(self, spark):
        out = pus.groupby_merge(fx.df_nan_byvar(spark), "byvar", "transform", (lambda x: x))
        expect = pd.DataFrame(
            [("a", 1, 1.0), (None, 2, 2.0), ("b", 3, 3.0), ("b", 4, 4.0)],
            columns=["byvar", "val", "val_transform"],
        )
        assert_df_equal(out, expect, sort_cols=["val"])

    def test_nan_byvar_and_nan_val_transform(self, spark):
        out = pus.groupby_merge(
            fx.df_nan_byvar_and_val(spark), "byvar", "transform", (lambda x: x + 1)
        )
        expect = pd.DataFrame(
            [("a", 1.0, 2.0), (None, 2.0, 3.0), ("b", nan, nan), ("b", 4.0, 5.0)],
            columns=["byvar", "val", "val_transform"],
        )
        assert_df_equal(out, expect, sort_cols=["val"])

    def test_transform_string_output_type(self, spark):
        # reference propagates the callable's dtype (pd_utils/merge.py:
        # 54-89); Spark declares it via output_type
        df = spark.createDataFrame(
            [("g1", "Apple"), ("g1", None), ("g2", "Beta")], ["byvar", "val"]
        )
        out = pus.groupby_merge(
            df, "byvar", "transform", (lambda s: s.str.upper()),
            output_type="string",
        )
        assert dict(out.dtypes)["val_transform"] == "string"
        got = {r.val: r.val_transform for r in out.collect()}
        assert got == {"Apple": "APPLE", None: None, "Beta": "BETA"}

    def test_transform_bigint_output_type(self, spark):
        df = spark.createDataFrame(
            [("g1", 1, 10), ("g1", 2, 20), ("g2", 1, 5)],
            ["byvar", "ord", "val"],
        )
        out = pus.groupby_merge(
            df, "byvar", "transform", (lambda s: s.cumsum()),
            ordervar="ord", output_type="bigint",
        )
        assert dict(out.dtypes)["val_transform"] == "bigint"
        got = {(r.byvar, r.ord): r.val_transform for r in out.collect()}
        assert got == {("g1", 1): 10, ("g1", 2): 30, ("g2", 1): 5}

    def test_nan_byvar_sum(self, spark):
        out = pus.groupby_merge(fx.df_nan_byvar(spark), "byvar", "sum")
        expect = pd.DataFrame(
            [("a", 1, 1.0), (None, 2, nan), ("b", 3, 7.0), ("b", 4, 7.0)],
            columns=["byvar", "val", "val_sum"],
        )
        assert_df_equal(out, expect, sort_cols=["val"])


class TestGroupbyIndex:
    def test_groupby_index(self, spark):
        out = pus.groupby_index(fx.df(spark), ["PERMNO", "byvar"], sortvars="Date")
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["group_index"] = [0, 1, 2, 3] * 3
        assert_df_equal(out, expect)


class TestLongToWide:
    expect_df_with_colindex = pd.DataFrame(
        [
            (10516, "a", 1.01, 1.02, 1.03, 1.04),
            (10516, "b", 1.05, 1.06, 1.07, 1.08),
            (10517, "a", 1.09, 1.1, 1.11, 1.12),
        ],
        columns=["PERMNO", "byvar", "RET1/1/2000", "RET1/2/2000", "RET1/3/2000", "RET1/4/2000"],
    )

    expect_df_no_colindex = pd.DataFrame(
        [
            (10516, "a", "1/1/2000", 1.01, 1.02, 1.03, 1.04),
            (10516, "a", "1/2/2000", 1.01, 1.02, 1.03, 1.04),
            (10516, "a", "1/3/2000", 1.01, 1.02, 1.03, 1.04),
            (10516, "a", "1/4/2000", 1.01, 1.02, 1.03, 1.04),
            (10516, "b", "1/1/2000", 1.05, 1.06, 1.07, 1.08),
            (10516, "b", "1/2/2000", 1.05, 1.06, 1.07, 1.08),
            (10516, "b", "1/3/2000", 1.05, 1.06, 1.07, 1.08),
            (10516, "b", "1/4/2000", 1.05, 1.06, 1.07, 1.08),
            (10517, "a", "1/1/2000", 1.09, 1.1, 1.11, 1.12),
            (10517, "a", "1/2/2000", 1.09, 1.1, 1.11, 1.12),
            (10517, "a", "1/3/2000", 1.09, 1.1, 1.11, 1.12),
            (10517, "a", "1/4/2000", 1.09, 1.1, 1.11, 1.12),
        ],
        columns=["PERMNO", "byvar", "Date", "RET0", "RET1", "RET2", "RET3"],
    )

    def test_no_duplicates_with_colindex(self, spark):
        out = pus.long_to_wide(fx.df(spark), ["PERMNO", "byvar"], "RET", colindex="Date")
        assert_df_equal(out, self.expect_df_with_colindex)

    def test_duplicates_with_colindex(self, spark):
        out = pus.long_to_wide(
            fx.df_duplicate_row(spark), ["PERMNO", "byvar"], "RET", colindex="Date"
        )
        assert_df_equal(out, self.expect_df_with_colindex)

    def test_no_duplicates_no_colindex(self, spark):
        out = pus.long_to_wide(fx.df(spark), ["PERMNO", "byvar"], "RET", ordervar="Date")
        assert_df_equal(out, self.expect_df_no_colindex)

    def test_duplicates_no_colindex(self, spark):
        out = pus.long_to_wide(
            fx.df_duplicate_row(spark), ["PERMNO", "byvar"], "RET", ordervar="Date"
        )
        assert_df_equal(out, self.expect_df_no_colindex)

    def test_max_columns_guard(self, spark):
        from pyspark.sql import functions as F

        df = spark.range(20).select(
            F.lit(1).alias("g"),
            F.col("id").cast("string").alias("c"),
            F.col("id").cast("double").alias("v"),
        )
        with pytest.raises(ValueError, match="max_columns"):
            pus.long_to_wide(df, "g", "v", colindex="c", max_columns=10)


class TestPortfolio:
    def test_portfolio_byvars(self, spark):
        out = pus.portfolio(fx.df(spark), "RET", ngroups=2, byvars=["PERMNO", "byvar"])
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["portfolio"] = [1, 1, 2, 2] * 3
        assert_df_equal(out, expect)

    def test_portfolio_with_nan_and_byvars(self, spark):
        from pyspark.sql import functions as F

        indf = fx.df(spark).withColumn(
            "RET", F.when((F.col("Date") == "1/1/2000") & (F.col("PERMNO") == 10516) & (F.col("byvar") == "a"), None).otherwise(F.col("RET"))
        )
        out = pus.portfolio(indf, "RET", ngroups=2, byvars=["PERMNO", "byvar"])
        rows = [list(r) for r in fx.ROWS]
        rows[0][3] = nan
        expect = pd.DataFrame(rows, columns=fx.COLS)
        # nan row -> 0; with updated nan handling 1.03 lands in port 1
        expect["portfolio"] = [0, 1, 1, 2, 1, 1, 2, 2, 1, 1, 2, 2]
        assert_df_equal(out, expect, sort_cols=["PERMNO", "byvar", "Date"])

    def test_explicit_cutoffs_ignore_nan(self, spark):
        # Spark max() sorts NaN above all values; one NaN row must not
        # null out the data min/max bounds (pandas min/max skip NaN)
        df = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2, 3, 4], "v": [1.0, 5.0, 9.0, nan]})
        )
        out = {r.id: r.portfolio for r in pus.portfolio(df, "v", cutoffs=[4.0]).collect()}
        assert out == {1: 1, 2: 2, 3: 2, 4: 0}


class TestPortfolioAverages:
    expect_avgs_no_wt = pd.DataFrame(
        [
            (1, "a", 1.0250000000000001),
            (1, "b", 1.0550000000000002),
            (2, "a", 1.1050000000000002),
            (2, "b", 1.0750000000000002),
        ],
        columns=["portfolio", "byvar", "RET"],
    )
    expect_avgs_wt = pd.DataFrame(
        [
            (1, "a", 1.0250000000000001, 1.025),
            (1, "b", 1.0550000000000002, 1.0550000000000002),
            (2, "a", 1.1050000000000002, 1.12),
            (2, "b", 1.0750000000000002, 1.0750000000000002),
        ],
        columns=["portfolio", "byvar", "RET", "RET_wavg"],
    )

    def test_simple_averages(self, spark):
        avgs, ports = pus.portfolio_averages(
            fx.df_weight(spark), "RET", "RET", ngroups=2, byvars="byvar"
        )
        assert_df_equal(avgs, self.expect_avgs_no_wt)

    def test_weighted_averages(self, spark):
        avgs, ports = pus.portfolio_averages(
            fx.df_weight(spark), "RET", "RET", ngroups=2, byvars="byvar", wtvar="weight"
        )
        assert_df_equal(avgs, self.expect_avgs_wt)

    def test_portfolio_construction(self, spark):
        _, ports = pus.portfolio_averages(
            fx.df_weight(spark), "RET", "RET", ngroups=2, byvars="byvar"
        )
        weights = [0, 1, 1, 0, 1, 1, 1, 1, 0, 0, 0, 1]
        expect = pd.DataFrame(
            [r + (w,) for r, w in zip(fx.ROWS, weights)], columns=fx.COLS + ["weight"]
        )
        expect["portfolio"] = [1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 2, 2]
        assert_df_equal(ports, expect)


class TestWinsorize:
    def test_winsor_40_subset_byvars(self, spark):
        out = pus.winsorize(fx.df(spark), 0.4, subset="RET", byvars=["PERMNO", "byvar"])
        expect = pd.DataFrame(
            [
                (10516, "a", "1/1/2000", 1.0216),
                (10516, "a", "1/2/2000", 1.0216),
                (10516, "a", "1/3/2000", 1.028),
                (10516, "a", "1/4/2000", 1.028),
                (10516, "b", "1/1/2000", 1.0616),
                (10516, "b", "1/2/2000", 1.0616),
                (10516, "b", "1/3/2000", 1.068),
                (10516, "b", "1/4/2000", 1.068),
                (10517, "a", "1/1/2000", 1.1016000000000001),
                (10517, "a", "1/2/2000", 1.1016000000000001),
                (10517, "a", "1/3/2000", 1.108),
                (10517, "a", "1/4/2000", 1.108),
            ],
            columns=["PERMNO", "byvar", "Date", "RET"],
        )
        assert_df_equal(out, expect, sort_cols=["PERMNO", "byvar", "Date"], rtol=1e-6)


class TestRegBy:
    def _indf(self, spark):
        from pyspark.sql import functions as F

        return fx.df_weight(spark).withColumn(
            "key", F.concat(F.col("PERMNO").cast("string"), F.lit("_"), F.col("byvar"))
        )

    def test_regby_nocons(self, spark):
        out = pus.reg_by(self._indf(spark), "weight", "RET", "key", cons=False)
        expect = pd.DataFrame(
            [
                (0.48774684748988806, "10516_a"),
                (0.9388636664168903, "10516_b"),
                (0.22929206076239614, "10517_a"),
            ],
            columns=["coef_RET", "key"],
        )
        assert_df_equal(out, expect, sort_cols=["key"], rtol=1e-8)

    def test_regby_cons(self, spark):
        out = pus.reg_by(self._indf(spark), "weight", "RET", "key")
        expect = pd.DataFrame(
            [
                (0.49999999999999645, 5.329070518200751e-15, "10516_a"),
                (0.9999999999999893, 1.0658141036401503e-14, "10516_b"),
                (-32.89999999999997, 29.999999999999982, "10517_a"),
            ],
            columns=["const", "coef_RET", "key"],
        )
        assert_df_equal(out, expect, sort_cols=["key"], rtol=1e-6, atol=1e-7)

    def test_regby_multi_x_matches_numpy(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        pdf = pd.DataFrame(
            {
                "g": np.repeat(["a", "b", "c"], 20),
                "x1": rng.randn(60),
                "x2": rng.randn(60),
                "y": rng.randn(60),
            }
        )
        out = (
            pus.reg_by(spark.createDataFrame(pdf), "y", ["x1", "x2"], "g", cons=True)
            .toPandas()
            .set_index("g")
            .sort_index()
        )
        for g, sub in pdf.groupby("g"):
            X = np.column_stack([np.ones(len(sub)), sub.x1, sub.x2])
            beta, *_ = np.linalg.lstsq(X, sub.y.to_numpy(), rcond=None)
            np.testing.assert_allclose(
                out.loc[g, ["const", "coef_x1", "coef_x2"]].to_numpy(dtype=float),
                beta,
                rtol=1e-8,
            )

    def test_regby_multi_x_stderr_matches_sandwich(self, spark):
        import numpy as np

        rng = np.random.RandomState(5)
        pdf = pd.DataFrame(
            {
                "g": np.repeat(["a", "b"], 25),
                "x1": rng.randn(50),
                "x2": rng.randn(50),
                "y": rng.randn(50),
            }
        )
        out = (
            pus.reg_by(
                spark.createDataFrame(pdf), "y", ["x1", "x2"], "g", cons=True, stderr=True
            )
            .toPandas()
            .set_index("g")
            .sort_index()
        )
        for g, sub in pdf.groupby("g"):
            X = np.column_stack([np.ones(len(sub)), sub.x1, sub.x2])
            y = sub.y.to_numpy()
            beta, *_ = np.linalg.lstsq(X, y, rcond=None)
            resid = y - X @ beta
            xtx_inv = np.linalg.pinv(X.T @ X)
            meat = (X * (resid**2)[:, None]).T @ X
            n, k = X.shape
            se = np.sqrt(np.diag(xtx_inv @ meat @ xtx_inv * (n / (n - k))))
            np.testing.assert_allclose(
                out.loc[g, ["stderr_const", "stderr_x1", "stderr_x2"]].to_numpy(dtype=float),
                se,
                rtol=1e-6,
            )

    def test_regby_cons_low_obs(self, spark):
        from pyspark.sql import functions as F

        indf = self._indf(spark).filter(
            ~((F.col("PERMNO") == 10517) & (F.col("Date") != "1/1/2000"))
        )
        out = pus.reg_by(indf, "weight", "RET", "key")
        expect = pd.DataFrame(
            [
                (0.49999999999999645, 5.329070518200751e-15, "10516_a"),
                (0.9999999999999893, 1.0658141036401503e-14, "10516_b"),
                (nan, nan, "10517_a"),
            ],
            columns=["const", "coef_RET", "key"],
        )
        assert_df_equal(out, expect, sort_cols=["key"], rtol=1e-6, atol=1e-7)


class TestExpandMonths:
    def test_expand_months_tradedays(self, spark):
        out = pus.expand_months(fx.single_ticker_df(spark))
        days = [3, 4, 5, 6, 7, 10, 11, 12, 13, 14, 18, 19, 20, 21, 24, 25, 26, 27, 28, 31]
        expect = pd.DataFrame(
            [("a", Timestamp("2000-01-01"), "ADM", Timestamp(f"2000-01-{d:02d}")) for d in days],
            columns=["byvar", "Date", "TICKER", "Daily Date"],
        )
        assert_df_equal(out, expect, sort_cols=["Daily Date"])

    def test_expand_months_calendardays(self, spark):
        out = pus.expand_months(fx.single_ticker_df(spark), trade_days=False)
        expect = pd.DataFrame(
            [
                ("a", Timestamp("2000-01-01"), "ADM", Timestamp(f"2000-01-{d:02d}"))
                for d in range(1, 32)
            ],
            columns=["byvar", "Date", "TICKER", "Daily Date"],
        )
        assert_df_equal(out, expect, sort_cols=["Daily Date"])


class TestConvertSASDate:
    def test_convert(self, spark):
        pdf = pd.DataFrame(
            [("011508", 16114.0), ("011508", 16482.0), ("011508", 17178.0),
             ("011508", 17197.0), ("011508", 17212.0)],
            columns=["gvkey", "datadate"],
        )
        sdf = spark.createDataFrame(pdf)
        out = sdf.select(pus.convert_sas_date_to_date("datadate").alias("d"))
        expect = pd.DataFrame(
            {"d": pd.to_datetime(["2004-02-13", "2005-02-15", "2007-01-12", "2007-01-31", "2007-02-15"])}
        )
        assert_df_equal(out, expect, sort_cols=["d"])

    def test_convert_nan(self, spark):
        pdf = pd.DataFrame(
            [("011508", 16114.0), ("011508", nan)], columns=["gvkey", "datadate"]
        )
        sdf = spark.createDataFrame(pdf)
        out = sdf.select(pus.convert_sas_date_to_date("datadate").alias("d")).toPandas()
        assert out["d"].isna().sum() == 1
        assert (out["d"].dropna() == pd.Timestamp("2004-02-13")).all()


class TestMapWindows:
    """Window-bucket mapping parity (reference: tests/test_pandas.py:1028-1218),
    tested through cumulate's between path on the 8-period frame."""

    times = [[-4, -2, 0], [-3, 1, 2], [4, 5, 6], [0, 1, 2], [-1, 0, 1]]
    expected_windows = [
        [0, 1, 1, 2, 2, 3, 3, 3],
        [0, 1, 1, 1, 1, 2, 3, 3],
        [0, 1, 2, 3, 3, 3, 3, 3],
        [0, 1, 2, 3, 3, 3, 3, 3],
        [0, 1, 2, 3, 3, 3, 3, 3],
    ]

    def test_bucket_mapping(self, spark):
        from pd_utils_spark.operators.cum import _bucket_from_position
        from pyspark.sql import functions as F

        for time, expect in zip(self.times, self.expected_windows):
            pos_df = spark.range(8).select(F.col("id").cast("int").alias("pos"))
            got = (
                pos_df.select("pos", _bucket_from_position(F.col("pos"), time).alias("w"))
                .orderBy("pos")
                .toPandas()["w"]
                .tolist()
            )
            assert got == expect, f"time={time}: {got} != {expect}"


class TestLeftMergeLatest:
    def test_left_merge_latest(self, spark):
        out = pus.left_merge_latest(fx.df_gvkey_str(spark), fx.df_gvkey_str2(spark), on="GVKEY")
        expect = pd.DataFrame(
            [
                ("001076", Timestamp("1995-03-01"), Timestamp("1995-02-01")),
                ("001076", Timestamp("1995-04-01"), Timestamp("1995-03-02")),
                ("001722", Timestamp("2012-01-01"), Timestamp("2011-11-01")),
                ("001722", Timestamp("2012-07-01"), Timestamp("2011-11-01")),
                ("001722", pd.NaT, pd.NaT),
                (None, Timestamp("2012-01-01"), pd.NaT),
            ],
            columns=["GVKEY", "Date", "Date_y"],
        )
        assert_df_equal(out, expect, sort_cols=["GVKEY", "Date"])

    def test_max_offset_numeric(self, spark):
        left = spark.createDataFrame([("k", 10), ("k", 20)], ["id", "t"])
        right = spark.createDataFrame([("k", 1, "old"), ("k", 18, "new")], ["id", "t", "v"])
        out = pus.left_merge_latest(left, right, on="id", left_datevar="t", right_datevar="t", max_offset=5)
        got = {(r["t"], r["v"]) for r in out.collect()}
        assert got == {(10, None), (20, "new")}


class TestVarChangeByGroups:
    def test_multi_byvar_single_var(self, spark):
        out = pus.var_change_by_groups(fx.df(spark), "RET", ["PERMNO", "byvar"])
        expect = pd.DataFrame(fx.ROWS, columns=fx.COLS)
        expect["RET_change"] = [nan, 0.01, 0.01, 0.01] * 3
        assert_df_equal(out, expect, sort_cols=["PERMNO", "byvar", "Date"], rtol=1e-9, atol=1e-12)

    def test_multi_byvar_multi_var(self, spark):
        out = pus.var_change_by_groups(fx.df_weight(spark), ["RET", "weight"], ["PERMNO", "byvar"])
        weights = [0, 1, 1, 0, 1, 1, 1, 1, 0, 0, 0, 1]
        expect = pd.DataFrame(
            [r + (w,) for r, w in zip(fx.ROWS, weights)], columns=fx.COLS + ["weight"]
        )
        expect["RET_change"] = [nan, 0.01, 0.01, 0.01] * 3
        expect["weight_change"] = [nan, 1.0, 0.0, -1.0, nan, 0.0, 0.0, 0.0, nan, 0.0, 0.0, 1.0]
        assert_df_equal(out, expect, sort_cols=["PERMNO", "byvar", "Date"], atol=1e-12)


class TestFillExcludedRows:
    def test_no_fillvars(self, spark):
        out = pus.fill_excluded_rows(fx.df_gvkey_str(spark), ["GVKEY", "Date"])
        dates = ["1995-03-01", "1995-04-01", "2012-01-01", "2012-07-01"]
        expect = pd.DataFrame(
            [(g, Timestamp(d)) for g in ["001076", "001722"] for d in dates],
            columns=["GVKEY", "Date"],
        )
        assert_df_equal(out, expect, sort_cols=["GVKEY", "Date"])

    def test_fillvars(self, spark):
        from pyspark.sql import functions as F

        var_df = fx.df_gvkey_str(spark).withColumn("var", F.lit(1))
        out = pus.fill_excluded_rows(var_df, ["GVKEY", "Date"], "var", value=0)
        expect = pd.DataFrame(
            [
                ("001076", Timestamp("1995-03-01"), 1.0),
                ("001076", Timestamp("1995-04-01"), 1.0),
                ("001076", Timestamp("2012-01-01"), 0.0),
                ("001076", Timestamp("2012-07-01"), 0.0),
                ("001722", Timestamp("1995-03-01"), 0.0),
                ("001722", Timestamp("1995-04-01"), 0.0),
                ("001722", Timestamp("2012-01-01"), 1.0),
                ("001722", Timestamp("2012-07-01"), 1.0),
            ],
            columns=["GVKEY", "Date", "var"],
        )
        assert_df_equal(out, expect, sort_cols=["GVKEY", "Date"])


class TestFillnaByGroups:
    def test_fillna_by_group(self, spark):
        out = pus.fillna_by_groups(
            fx.df_fill_data(spark).drop("roworder"), "group", ordervar=None
        )
        # note: Spark relations are unordered; use an explicit ordervar
        out = pus.fillna_by_groups(fx.df_fill_data(spark), "group", exclude_cols="roworder", ordervar="roworder")
        expect = pd.DataFrame(
            [
                ("a", 4.0, "c", 51.5),
                ("a", 1.0, "d", 3.0),
                ("a", 10.0, "e", 100.0),
                ("b", 2.0, "f", 6.0),
                ("b", 5.0, "f", 8.0),
                ("b", 11.0, "g", 150.0),
            ],
            columns=["group", "y", "x1", "x2"],
        )
        assert_df_equal(out, expect, sort_cols=["group", "y"])

    def test_fillna_by_group_keep_one(self, spark):
        out = pus.fillna_by_groups_and_keep_one_per_group(
            fx.df_fill_data(spark), "group", exclude_cols="roworder", ordervar="roworder"
        )
        expect = pd.DataFrame(
            [("a", 4.0, "c", 51.5), ("b", 2.0, "f", 6.0)],
            columns=["group", "y", "x1", "x2"],
        )
        assert_df_equal(out, expect, sort_cols=["group"])


class TestAddMissingGroupRows:
    def test_ffill(self, spark):
        pdf = pd.DataFrame(
            [("e1", 1, 10.0), ("e1", 3, 30.0), ("e2", 2, 200.0)],
            columns=["entity", "t", "v"],
        )
        out = pus.add_missing_group_rows(spark.createDataFrame(pdf), ["entity"], ["t"])
        expect = pd.DataFrame(
            [
                ("e1", 1, 10.0),
                ("e1", 2, 10.0),
                ("e1", 3, 30.0),
                ("e2", 1, nan),
                ("e2", 2, 200.0),
                ("e2", 3, 200.0),
            ],
            columns=["entity", "t", "v"],
        )
        assert_df_equal(out, expect, sort_cols=["entity", "t"])

    def test_ffill_limit(self, spark):
        pdf = pd.DataFrame(
            [("e1", 1, 10.0), ("e1", 4, 40.0), ("e2", 2, 5.0), ("e2", 3, 7.0)],
            columns=["entity", "t", "v"],
        )
        out = pus.add_missing_group_rows(
            spark.createDataFrame(pdf), ["entity"], ["t"], fill_limit=1
        )
        got = {(r["entity"], r["t"]): r["v"] for r in out.collect()}
        # e1: t=1 obs, t=2 filled (gap 1), t=3 gap 2 > limit -> null, t=4 obs
        assert got[("e1", 1)] == 10.0 and got[("e1", 2)] == 10.0 and got[("e1", 4)] == 40.0
        assert got[("e1", 3)] is None or np.isnan(got[("e1", 3)])
        # e2: t=1 nothing before -> null, t=4 filled from t=3 (gap 1)
        assert got[("e2", 1)] is None or np.isnan(got[("e2", 1)])
        assert got[("e2", 4)] == 7.0

    def test_no_fill(self, spark):
        pdf = pd.DataFrame(
            [("e1", 1, 10.0), ("e2", 2, 200.0)], columns=["entity", "t", "v"]
        )
        out = pus.add_missing_group_rows(spark.createDataFrame(pdf), ["entity"], ["t"], fill_method=None)
        assert out.count() == 4
        assert out.filter("v is null").count() == 2


class TestDropMissingGroupRows:
    def test_drop(self, spark):
        pdf = pd.DataFrame(
            [("e1", 1, 10.0, "x"), ("e1", 2, nan, None), ("e2", 1, nan, "y")],
            columns=["entity", "t", "v", "s"],
        )
        out = pus.drop_missing_group_rows(spark.createDataFrame(pdf), ["entity", "t"])
        assert out.count() == 2


class TestSelectRows:
    def test_or(self, spark):
        out = pus.select_rows_by_condition_on_columns(
            fx.df_weight(spark), ["weight"], condition="== 1", logic="or"
        )
        assert out.count() == 7

    def test_and(self, spark):
        from pyspark.sql import functions as F

        d = fx.df_weight(spark).withColumn("w2", F.lit(1))
        out = pus.select_rows_by_condition_on_columns(d, ["weight", "w2"], "== 1", "and")
        assert out.count() == 7


class TestSql:
    def test_sql(self, spark):
        d = fx.df(spark)
        out = pus.sql([d], "SELECT PERMNO, avg(RET) AS m FROM mydf GROUP BY PERMNO")
        got = {r["PERMNO"]: round(r["m"], 6) for r in out.collect()}
        assert got == {10516: round(sum([1.01, 1.02, 1.03, 1.04, 1.05, 1.06, 1.07, 1.08]) / 8, 6),
                       10517: round(sum([1.09, 1.10, 1.11, 1.12]) / 4, 6)}


class TestStateAbbrev:
    def test_to_name(self, spark):
        d = spark.createDataFrame([("TX",), ("CA",), ("zz",)], ["st"])
        out = pus.state_abbrev(d, "st")
        got = {r["st"] for r in out.collect()}
        assert got == {"Texas", "California", "zz"}

    def test_to_abbrev(self, spark):
        d = spark.createDataFrame([("Texas",), ("New York",)], ["st"])
        out = pus.state_abbrev(d, "st", toabbrev=True)
        got = {r["st"] for r in out.collect()}
        assert got == {"TX", "NY"}


class TestJoinColStrings:
    def test_join(self, spark):
        out = pus.join_col_strings(fx.df(spark), ["PERMNO", "Date"], out_col="key")
        assert out.filter("key = '10516_1/1/2000'").count() == 2


class TestLongShortPortfolio:
    def test_long_short(self, spark):
        ports = pus.portfolio(fx.df(spark), "RET", ngroups=2, byvars=["PERMNO", "byvar"])
        out = pus.long_short_portfolio(ports, "portfolio", byvars=["PERMNO", "byvar", "Date"], retvars="RET")
        # within each (PERMNO,byvar): top rows minus bottom rows share no Date pairing
        # -> with Date in byvars, no alignment; use group-only byvars on aggregated data
        avgs = pus.portfolio_averages(
            fx.df(spark), "RET", "RET", ngroups=2, byvars="byvar", avgonly=True
        )
        ls = pus.long_short_portfolio(avgs, "portfolio", byvars=["byvar"], retvars="RET")
        got = {r["byvar"]: round(r["RET"], 10) for r in ls.collect()}
        assert got == {"a": round(1.105 - 1.025, 10), "b": round(1.075 - 1.055, 10)}

    def test_long_short_positional(self, spark):
        # byvars=None stand-in for the reference's pandas-index
        # alignment (pd_utils/port.py:248-260): i-th long row (by
        # ordervar) minus i-th short row, keyed by row_index
        df = spark.createDataFrame(
            [(1, "a", 10.0), (1, "b", 20.0), (3, "a", 50.0), (3, "b", 70.0), (2, "a", 30.0)],
            ["portfolio", "grp", "ret"],
        )
        out = pus.long_short_portfolio(df, "portfolio", ordervar="grp", retvars="ret")
        got = {r["row_index"]: r["ret"] for r in out.collect()}
        assert got == {0: 40.0, 1: 50.0}

    def test_long_short_positional_uneven_slices(self, spark):
        # unmatched positions survive the outer join with null diffs
        df = spark.createDataFrame(
            [(1, "a", 10.0), (3, "a", 50.0), (3, "b", 70.0)],
            ["portfolio", "grp", "ret"],
        )
        out = pus.long_short_portfolio(df, "portfolio", ordervar="grp", retvars="ret")
        got = {r["row_index"]: r["ret"] for r in out.collect()}
        assert got[0] == 40.0 and got[1] is None

    def test_long_short_requires_byvars_or_ordervar(self, spark):
        df = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["portfolio", "ret"])
        with pytest.raises(ValueError, match="ordervar"):
            pus.long_short_portfolio(df, "portfolio")


class TestCorr:
    def test_formatted_corr(self, spark):
        out = pus.formatted_corr_df(fx.df_weight(spark), cols=["RET", "weight"])
        rows = {r["variable"]: r for r in out.collect()}
        assert rows["RET"]["RET"] == "1.00"
        assert rows["RET"]["weight"] == ""
        assert rows["weight"]["weight"] == "1.00"


class TestYearMonth:
    def test_year_month(self, spark):
        out = pus.year_month_from_date(fx.df_datetime(spark), date="Date")
        r = out.filter("Date = '2000-01-03'").collect()[0]
        assert r["Year"] == 2000 and r["Month"] == 1


class TestExpandTime:
    def test_expand_time_monthly(self, spark):
        out = pus.expand_time(
            fx.df_datetime(spark), datevar="Date", freq="m", time=[1, 2]
        )
        assert out.count() == 24
        r = out.filter("Date = '2000-01-03' and Shift = 2 and PERMNO = 10516 and byvar = 'a'").collect()
        assert len(r) == 1
        assert pd.Timestamp(r[0]["Shift Date"]) == pd.Timestamp("2000-03-03")

    def test_expand_time_annual(self, spark):
        out = pus.expand_time(fx.df_datetime(spark), datevar="Date", freq="a", time=[1])
        r = out.filter("Date = '2000-01-03' and PERMNO = 10516 and byvar = 'a'").collect()
        assert pd.Timestamp(r[0]["Shift Date"]) == pd.Timestamp("2001-01-03")

    def test_expand_time_trading_days(self, spark):
        td = pus.trading_day_dimension(spark, "1999-12-01", "2000-03-01")
        out = pus.expand_time(
            fx.df_datetime(spark), datevar="Date", freq="d", time=[1, 5], trading_days=td
        )
        # 2000-01-03 (Monday, trading day) + 1 td = 2000-01-04
        r = out.filter("Date = '2000-01-03' and Shift = 1 and PERMNO = 10516 and byvar = 'a'").collect()
        assert pd.Timestamp(r[0]["Shift Date"]) == pd.Timestamp("2000-01-04")
        # +5 td from 01-03 -> 01-10
        r = out.filter("Date = '2000-01-03' and Shift = 5 and PERMNO = 10516 and byvar = 'a'").collect()
        assert pd.Timestamp(r[0]["Shift Date"]) == pd.Timestamp("2000-01-10")

    def test_intermediate_periods(self, spark):
        out = pus.expand_time(
            fx.df_datetime(spark), intermediate_periods=True, datevar="Date", freq="m", time=[1, 3]
        )
        assert out.count() == 36


class TestTransformNullOrdervar:
    def test_null_ordervar_rows_sort_last_like_pandas(self, spark):
        """The mapInPandas rewrite must keep pandas' na_position='last'
        for the in-group order (Spark default asc is nulls FIRST)."""
        import pd_utils_spark as pus

        pdf = pd.DataFrame(
            {
                "g": ["a", "a", "a"],
                "t": [2.0, None, 1.0],
                "x": [10.0, 100.0, 1.0],
            }
        )
        out = pus.groupby_merge(
            spark.createDataFrame(pdf), "g", "transform",
            (lambda s: s.cumsum()), subset="x", ordervar="t",
        ).toPandas().set_index("x")
        # pandas order: t=1 (x=1), t=2 (x=10), t=NaN last (x=100)
        ref = pdf.sort_values("t", na_position="last").x.cumsum()
        assert out.loc[1.0, "x_transform"] == 1.0
        assert out.loc[10.0, "x_transform"] == 11.0
        assert out.loc[100.0, "x_transform"] == 111.0


class TestFlagOutliers:
    """flag_outliers is an extension (no reference counterpart — the
    detection sibling of winsorize); golden values computed with an
    independent eager pandas implementation."""

    data = pd.DataFrame(
        {
            "g": ["a"] * 6 + ["b"] * 5,
            "x": [1.0, 2.0, 3.0, 4.0, 5.0, 100.0, 10.0, 10.0, 10.0, 10.0, -50.0],
        }
    )

    def test_zscore_grouped(self, spark):
        out = (
            pus.flag_outliers(
                spark.createDataFrame(self.data), subset="x", byvars="g",
                method="zscore", threshold=1.5,
            )
            .toPandas()
        )
        exp = self.data.groupby("g")["x"].transform(
            lambda s: (s - s.mean()).abs() > 1.5 * s.std()
        )
        assert list(out.sort_values(["g", "x"])["x_outlier"]) == list(
            exp[self.data.sort_values(["g", "x"]).index]
        )

    def test_mad_grouped(self, spark):
        out = (
            pus.flag_outliers(
                spark.createDataFrame(self.data), subset="x", byvars="g", method="mad"
            )
            .toPandas()
            .sort_values(["g", "x"])
        )

        def mad_flags(s):
            med = s.median()
            mad = (s - med).abs().median()
            return (s - med).abs() > 3.0 * 1.4826 * mad

        exp = self.data.groupby("g")["x"].transform(mad_flags)
        assert list(out["x_outlier"]) == list(exp[self.data.sort_values(["g", "x"]).index])

    def test_iqr_global(self, spark):
        out = (
            pus.flag_outliers(
                spark.createDataFrame(self.data), subset="x", method="iqr",
                threshold=1.5,
            )
            .toPandas()
            .sort_values("x")
        )
        s = self.data["x"]
        q1, q3 = s.quantile(0.25), s.quantile(0.75)
        exp = (s < q1 - 1.5 * (q3 - q1)) | (s > q3 + 1.5 * (q3 - q1))
        assert list(out["x_outlier"]) == list(exp[self.data.sort_values("x").index])

    def test_bad_method_raises(self, spark):
        with pytest.raises(ValueError):
            pus.flag_outliers(spark.createDataFrame(self.data), method="tukey")


ASOF = {
    "backward": pus.left_merge_latest,
    "forward": pus.left_merge_soonest,
    "nearest": pus.left_merge_nearest,
}


class TestAsofDirections:
    """left_merge_latest / left_merge_soonest / left_merge_nearest
    verified directly against pandas merge_asof (the semantics oracle
    for all three as-of directions), with and without a bound."""

    def _frames(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        left = pd.DataFrame(
            {
                "id": rng.randint(0, 5, 40),
                "t": rng.choice(np.arange(0, 200, 3), 40, replace=False).astype("int64"),
            }
        )
        right = pd.DataFrame(
            {
                "id": rng.randint(0, 5, 25),
                "t": rng.choice(np.arange(1, 200, 7), 25, replace=False).astype("int64"),
            }
        )
        right["val"] = right.t * 10.0
        return left, right

    def _pandas_asof(self, left, right, direction, tolerance=None):
        out = pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t").rename(columns={"t": "t_y"}),
            left_on="t",
            right_on="t_y",
            by="id",
            direction=direction,
            tolerance=tolerance,
        )
        return out.sort_values(["id", "t"]).reset_index(drop=True)

    def _check(self, spark, left, right, direction, max_offset=None, tolerance=None):
        got = (
            ASOF[direction](
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                on="id", left_datevar="t", right_datevar="t", max_offset=max_offset,
            )
            .toPandas().sort_values(["id", "t"]).reset_index(drop=True)
        )
        expect = self._pandas_asof(left, right, direction, tolerance=tolerance)
        pd.testing.assert_frame_equal(
            got[["id", "t", "t_y", "val"]], expect[["id", "t", "t_y", "val"]],
            check_dtype=False,
        )

    def test_backward_matches_pandas(self, spark):
        self._check(spark, *self._frames(spark), "backward")

    def test_forward_matches_pandas(self, spark):
        self._check(spark, *self._frames(spark), "forward")

    def test_nearest_matches_pandas(self, spark):
        self._check(spark, *self._frames(spark), "nearest")

    def test_nearest_tie_prefers_backward(self, spark):
        left = spark.createDataFrame(pd.DataFrame({"id": [1], "t": [10]}))
        right = spark.createDataFrame(
            pd.DataFrame({"id": [1, 1], "t": [8, 12], "val": [1.0, 2.0]})
        )
        got = pus.left_merge_nearest(left, right, on="id", left_datevar="t", right_datevar="t").collect()
        assert len(got) == 1 and got[0].val == 1.0  # dist 2 both ways -> backward

    def test_max_offset_bounds_both_directions(self, spark):
        left, right = self._frames(spark)
        for direction in sorted(ASOF):
            self._check(spark, left, right, direction, max_offset=10, tolerance=10)

    @pytest.mark.parametrize("direction", sorted(ASOF))
    def test_timedelta_max_offset_matches_pandas(self, spark, direction):
        """Timestamp dates bounded by a ``timedelta``: the date-domain
        bound of every direction is pandas' ``tolerance``."""
        import datetime

        left, right = self._frames(spark)
        epoch = pd.Timestamp("2020-01-01")
        left["t"] = epoch + pd.to_timedelta(left.t, unit="h")
        right["t"] = epoch + pd.to_timedelta(right.t, unit="h")
        self._check(
            spark, left, right, direction,
            max_offset=datetime.timedelta(hours=10), tolerance=pd.Timedelta(hours=10),
        )


class TestWideToLong:
    def test_melt_basic(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "a": [10.0, 20.0], "b": [1.0, 2.0]})
        )
        got = (
            pus.wide_to_long(df, "id")
            .toPandas()
            .sort_values(["id", "variable"])
            .reset_index(drop=True)
        )
        expect = (
            pd.DataFrame({"id": [1, 2], "a": [10.0, 20.0], "b": [1.0, 2.0]})
            .melt(id_vars="id")
            .sort_values(["id", "variable"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, expect, check_dtype=False)

    def test_round_trips_with_long_to_wide(self, spark):
        wide = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "x1": [5.0, 6.0], "x2": [7.0, 8.0]})
        )
        long = pus.wide_to_long(wide, "id", ["x1", "x2"])
        back = pus.long_to_wide(long, "id", "value", colindex="variable", colindex_only=True)
        got = back.toPandas().sort_values("id").reset_index(drop=True)
        assert sorted(got.columns) == ["id", "x1", "x2"]
        assert got.x1.tolist() == [5.0, 6.0] and got.x2.tolist() == [7.0, 8.0]

    def test_no_value_vars_raises(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"id": [1]}))
        with pytest.raises(ValueError, match="value_vars"):
            pus.wide_to_long(df, "id")

    def test_melt_dotted_column_names(self, spark):
        """Pivoting a float colindex generates columns like 'ret1.5';
        melt must treat the whole name as one column, not a nested
        `ret1`.`5` field path (regression: found by the pivot/melt
        round-trip property test)."""
        df = spark.createDataFrame(
            pd.DataFrame({"id": [1, 2], "ret1.5": [5.0, 6.0], "ret2.5": [7.0, 8.0]})
        )
        got = pus.wide_to_long(df, "id").toPandas()
        assert set(got.variable) == {"ret1.5", "ret2.5"}
        assert len(got) == 4


class TestLongToWideAggfunc:
    def test_pivot_table_sum(self, spark):
        df = spark.createDataFrame(
            pd.DataFrame(
                {"g": ["a", "a", "b"], "k": ["x", "x", "y"], "v": [1.0, 2.0, 5.0]}
            )
        )
        got = (
            pus.long_to_wide(df, "g", "v", colindex="k", aggfunc="sum")
            .toPandas()
            .set_index("g")
            .sort_index()
        )
        assert got.loc["a", "vx"] == 3.0
        assert got.loc["b", "vy"] == 5.0
        assert pd.isna(got.loc["a", "vy"])

    def test_invalid_aggfunc(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"g": ["a"], "k": ["x"], "v": [1.0]}))
        with pytest.raises(ValueError, match="aggfunc"):
            pus.long_to_wide(df, "g", "v", colindex="k", aggfunc="median")


class TestGroupRank:
    def _df(self):
        return pd.DataFrame(
            {
                "g": ["a"] * 5 + ["b"] * 3,
                "v": [3.0, 1.0, 3.0, 2.0, None, 10.0, 10.0, 5.0],
            }
        )

    @pytest.mark.parametrize("method", ["average", "min", "max", "dense"])
    @pytest.mark.parametrize("pct", [False, True])
    def test_matches_pandas_rank(self, spark, method, pct):
        pdf = self._df()
        got = (
            pus.group_rank(spark.createDataFrame(pdf), "v", byvars="g", method=method, pct=pct)
            .toPandas()
            .sort_values(["g", "v"], na_position="last")
            .reset_index(drop=True)
        )
        pdf = pdf.copy()
        pdf["v_rank"] = pdf.groupby("g").v.rank(method=method, pct=pct)
        expect = pdf.sort_values(["g", "v"], na_position="last").reset_index(drop=True)
        pd.testing.assert_series_equal(got.v_rank, expect.v_rank, check_dtype=False)

    def test_descending(self, spark):
        pdf = self._df()
        got = (
            pus.group_rank(spark.createDataFrame(pdf), "v", byvars="g", ascending=False)
            .toPandas()
            .sort_values(["g", "v"], na_position="last")
            .reset_index(drop=True)
        )
        pdf = pdf.copy()
        pdf["v_rank"] = pdf.groupby("g").v.rank(ascending=False)
        expect = pdf.sort_values(["g", "v"], na_position="last").reset_index(drop=True)
        pd.testing.assert_series_equal(got.v_rank, expect.v_rank, check_dtype=False)


class TestFuzzyJoin:
    def test_prefix_block_links_typos(self, spark):
        left = spark.createDataFrame(
            pd.DataFrame({"lid": [1, 2, 3], "name": ["Acme Corp", "acme  corpX", "Zenith"]})
        )
        right = spark.createDataFrame(
            pd.DataFrame({"rid": [10, 11], "name": ["acme corp", "zenith ltd"]})
        )
        out = pus.fuzzy_join(left, right, "name", max_distance=1, block_len=2)
        pairs = {(r.lid, r.rid, r.edit_distance) for r in out.collect()}
        # 1 exact (normalized), 2 one-edit; "Zenith" vs "zenith ltd" is 4 edits
        assert pairs == {(1, 10, 0), (2, 10, 1)}

    def test_soundex_block_survives_vowel_typos(self, spark):
        left = spark.createDataFrame(pd.DataFrame({"lid": [1], "name": ["Jon Smith"]}))
        right = spark.createDataFrame(pd.DataFrame({"rid": [9], "name": ["Jan Smith"]}))
        # prefix block of 3 misses ("jon" vs "jan"); soundex matches
        assert (
            pus.fuzzy_join(left, right, "name", max_distance=1, block="prefix", block_len=3).count()
            == 0
        )
        out = pus.fuzzy_join(left, right, "name", max_distance=1, block="soundex")
        assert [(r.lid, r.rid) for r in out.collect()] == [(1, 9)]

    def test_none_block_exact_recall(self, spark):
        left = spark.createDataFrame(pd.DataFrame({"lid": [1], "name": ["xbcd"]}))
        right = spark.createDataFrame(pd.DataFrame({"rid": [2], "name": ["abcd"]}))
        assert pus.fuzzy_join(left, right, "name", block="none").count() == 1
        with pytest.raises(ValueError, match="block"):
            pus.fuzzy_join(left, right, "name", block="bogus")

    def test_shared_columns_suffixed_and_selectable(self, spark):
        """Shared non-key columns must come back suffixed so every
        output column is unambiguous — including the join column
        itself when both sides use the same name."""
        left = spark.createDataFrame(
            pd.DataFrame({"lid": [1], "name": ["acme"], "city": ["nyc"]})
        )
        right = spark.createDataFrame(
            pd.DataFrame({"rid": [2], "name": ["acme"], "city": ["sfo"]})
        )
        out = pus.fuzzy_join(left, right, "name", max_distance=0)
        assert set(out.columns) == {
            "lid", "name", "city", "rid", "name_right", "city_right",
            "edit_distance",
        }
        row = out.select("city", "city_right", "name", "name_right").first()
        assert (row.city, row.city_right) == ("nyc", "sfo")
        # empty suffix with a collision must raise early, not produce
        # an ambiguous frame
        with pytest.raises(ValueError, match="share columns"):
            pus.fuzzy_join(left, right, "name", suffix="")


class TestInterpolateByGroups:
    def _df(self):
        return pd.DataFrame(
            {
                "g": ["a"] * 6 + ["b"] * 4,
                "t": [1, 2, 3, 4, 5, 6, 10, 20, 30, 40],
                "v": [nan, 1.0, nan, nan, 4.0, nan, 2.0, nan, nan, 8.0],
            }
        )

    def test_linear_matches_pandas(self, spark):
        pdf = self._df()
        expect = pdf.copy()
        expect["v"] = expect.groupby("g")["v"].transform(
            lambda s: s.interpolate(method="linear")
        )
        out = pus.interpolate_by_groups(
            spark.createDataFrame(pdf), "g", "v", ordervar="t", method="linear"
        )
        assert_df_equal(out, expect, sort_cols=["g", "t"])

    def test_index_method_uses_order_values(self, spark):
        pdf = self._df()
        expect = pdf.copy()
        expect["v"] = (
            expect.set_index("t")
            .groupby("g")["v"]
            .transform(lambda s: s.interpolate(method="index"))
            .to_numpy()
        )
        out = pus.interpolate_by_groups(
            spark.createDataFrame(pdf), "g", "v", ordervar="t", method="index"
        )
        assert_df_equal(out, expect, sort_cols=["g", "t"])

    def test_random_parity(self, spark):
        rng = np.random.default_rng(11)
        n = 400
        pdf = pd.DataFrame(
            {
                "g": rng.integers(0, 8, n),
                "t": np.arange(n),
                "v": np.where(rng.random(n) < 0.4, nan, rng.random(n).round(3)),
            }
        )
        expect = pdf.copy()
        expect["v"] = expect.groupby("g")["v"].transform(
            lambda s: s.interpolate(method="linear")
        )
        out = pus.interpolate_by_groups(
            spark.createDataFrame(pdf), "g", "v", ordervar="t", method="linear"
        )
        assert_df_equal(out, expect, sort_cols=["g", "t"], rtol=1e-9)

    def test_bad_method(self, spark):
        with pytest.raises(ValueError, match="method"):
            pus.interpolate_by_groups(
                spark.createDataFrame(self._df()), "g", "v", "t", method="spline"
            )


class TestAutocorrByGroups:
    def test_matches_pandas_autocorr(self, spark):
        rng = np.random.default_rng(5)
        pdf = pd.DataFrame(
            {
                "g": np.repeat(["a", "b", "c"], 40),
                "t": np.tile(np.arange(40), 3),
                "v": rng.normal(size=120).round(4),
            }
        )
        # inject serial structure in one group so values differ by lag
        pdf.loc[pdf.g == "b", "v"] = pdf.loc[pdf.g == "b", "v"].cumsum().round(4)
        out = {
            (r.g, r.lag): r.autocorr
            for r in pus.autocorr_by_groups(
                spark.createDataFrame(pdf), "g", "v", "t", lags=[1, 3]
            ).collect()
        }
        for g in ["a", "b", "c"]:
            s = pdf[pdf.g == g].sort_values("t")["v"]
            for lag in [1, 3]:
                assert out[(g, lag)] == pytest.approx(s.autocorr(lag), rel=1e-9)

    def test_short_group_yields_null(self, spark):
        pdf = pd.DataFrame({"g": ["a", "a"], "t": [1, 2], "v": [1.0, 2.0]})
        rows = pus.autocorr_by_groups(
            spark.createDataFrame(pdf), "g", "v", "t", lags=2
        ).collect()
        assert rows[0].autocorr is None

    def test_bad_lag(self, spark):
        pdf = pd.DataFrame({"g": ["a"], "t": [1], "v": [1.0]})
        with pytest.raises(ValueError, match="lags"):
            pus.autocorr_by_groups(spark.createDataFrame(pdf), "g", "v", "t", lags=0)


class TestTrimmedMean:
    def test_matches_scipy_style_reference(self, spark):
        from pd_utils_spark.operators.transform import trimmed_mean

        rng = np.random.RandomState(4)
        rows = []
        series = {}
        for g in ("a", "b"):
            x = np.round(rng.randn(40) * 10, 3)
            x[0] = 500.0  # outlier the trim must kill
            series[g] = x
            rows += [(g, float(v)) for v in x]
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {r.g: r for r in trimmed_mean(df, "v", "g", pct=0.1).collect()}
        for g, x in series.items():
            lo, hi = np.quantile(x, 0.1), np.quantile(x, 0.9)
            kept = x[(x >= lo) & (x <= hi)]
            assert got[g].v_tmean == pytest.approx(kept.mean(), rel=1e-12)
            assert got[g].v_n_used == len(kept)
            # the outlier is gone from the estimate
            assert abs(got[g].v_tmean) < 10

    def test_pct_zero_is_plain_mean_and_validation(self, spark):
        from pd_utils_spark.operators.transform import trimmed_mean

        df = spark.createDataFrame(
            [("g", float(v)) for v in (1, 2, 3, 100)], ["g", "v"]
        )
        r = trimmed_mean(df, "v", "g", pct=0.0).collect()[0]
        assert r.v_tmean == pytest.approx(26.5)
        assert r.v_n_used == 4
        with pytest.raises(ValueError, match="pct"):
            trimmed_mean(df, "v", "g", pct=0.5)


class TestGapsAndIslands:
    def test_hand_computed(self, spark):
        from pd_utils_spark.operators.transform import gaps_and_islands

        rows = [("a", i) for i in (1, 2, 3, 7, 8, 12)] + [
            ("b", i) for i in (5, 5, 6)  # duplicate id collapses
        ]
        df = spark.createDataFrame(rows, ["g", "id"])
        got = sorted(
            (r.g, r.island_start, r.island_end, r.n)
            for r in gaps_and_islands(df, "id", "g").collect()
        )
        assert got == [
            ("a", 1, 3, 3), ("a", 7, 8, 2), ("a", 12, 12, 1),
            ("b", 5, 6, 2),
        ]

    def test_unbroken_sequence_single_island(self, spark):
        from pd_utils_spark.operators.transform import gaps_and_islands

        df = spark.createDataFrame([("g", i) for i in range(100)], ["g", "id"])
        out = gaps_and_islands(df, "id", "g").collect()
        assert len(out) == 1
        assert (out[0].island_start, out[0].island_end, out[0].n) == (0, 99, 100)

    def test_islands_partition_ids(self, spark):
        from pd_utils_spark.operators.transform import gaps_and_islands

        import numpy as np

        rng = np.random.RandomState(3)
        ids = sorted(set(rng.randint(0, 200, 120).tolist()))
        df = spark.createDataFrame([("g", int(i)) for i in ids], ["g", "id"])
        out = gaps_and_islands(df, "id", "g").collect()
        # islands cover every id exactly once and never touch
        covered = []
        spans = sorted((r.island_start, r.island_end) for r in out)
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1  # a real gap separates islands
        for s, e in spans:
            covered += list(range(s, e + 1))
        assert covered == ids


class TestModeByGroups:
    def test_hand_computed_and_tie_break(self, spark):
        from pd_utils_spark.operators.transform import mode_by_groups

        rows = (
            [("a", "x")] * 3 + [("a", "y")] * 3 + [("a", "z")]
            + [("b", "q")] * 2 + [("b", None)] * 5
            + [("c", None)] * 2
        )
        df = spark.createDataFrame(rows, ["g", "v"])
        got = {
            r.g: (r.v_mode, r.n_modal, r.n_total)
            for r in mode_by_groups(df, "v", "g").collect()
        }
        # tie x/y at 3 -> smallest value 'x' wins
        assert got["a"] == ("x", 3, 7)
        # nulls never candidates but count in the total
        assert got["b"] == ("q", 2, 7)
        # all-null group: null mode, null n_modal
        assert got["c"] == (None, None, 2)

    def test_global_mode_no_groups(self, spark):
        from pd_utils_spark.operators.transform import mode_by_groups

        df = spark.createDataFrame(
            [(v,) for v in ["a", "b", "b", "c"]], ["v"]
        )
        r = mode_by_groups(df, "v").collect()[0]
        assert (r.v_mode, r.n_modal, r.n_total) == ("b", 2, 4)

    def test_deterministic_under_repartition(self, spark):
        from pd_utils_spark.operators.transform import mode_by_groups

        rows = [(i % 5, f"v{(i * 7) % 4}") for i in range(200)]
        df = spark.createDataFrame(rows, ["g", "v"])
        a = sorted(map(tuple, mode_by_groups(df, "v", "g").collect()))
        b = sorted(
            map(tuple, mode_by_groups(df.repartition(13), "v", "g").collect())
        )
        assert a == b
