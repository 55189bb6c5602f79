"""The exact-sum kernel (``functions/exact.py``) against the decimal sums
it replaces: equal value and type, equal double, on the inputs where a
shortcut could slip — rounding near-ties, values that fill every limb,
wide ids, null-only and empty groups, one hot key, and NaN/±Inf."""

from __future__ import annotations

import ast
import math
import pathlib
import random
from datetime import datetime

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

import apache_nifi_spark
from apache_nifi_spark.functions import exact


def _near_ties(scale: int, n: int, seed: int) -> list[float]:
    """Doubles within ±3 ulp of (k + 0.5)/10^scale, both signs."""
    rnd = random.Random(seed)
    out = []
    for _ in range(n):
        v = (rnd.randrange(-10**7, 10**7) + 0.5) / 10**scale
        step = rnd.randrange(-3, 4)
        for _ in range(abs(step)):
            v = math.nextafter(v, math.inf if step > 0 else -math.inf)
        out.append(v)
    return out


def _wide(scale: int) -> list[float]:
    """Values up to just below the cast's 10^(18-scale) limit, whose
    unscaled values fill all three limbs."""
    top = 10.0 ** (18 - scale)
    return [f * top for f in (0.999, -0.999, 0.5, -0.5, 2.0**-20, -(2.0**-41))]


def _assert_same(df, new, old):
    row = df.agg(
        new.alias("new"), old.alias("old"),
        new.cast("double").alias("new_d"), old.cast("double").alias("old_d"),
    ).collect()[0]
    assert row["new"] == row["old"]
    assert repr(row["new_d"]) == repr(row["old_d"])


@pytest.mark.parametrize("scale", [2, 6])
def test_sum_scaled_equals_decimal_cast_sum(spark, scale):
    xs = _near_ties(scale, 3000, seed=scale) + _wide(scale) * 20
    xs += [-x for x in xs[:500]] + [0.0, -0.0, 1e-300, 123.456, None]
    rows = [(i % 7, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g int, x double")
    got = df.groupBy("g").agg(
        exact.sum_scaled("x", scale).alias("new"),
        F.sum(F.col("x").cast(f"decimal(18,{scale})")).alias("old"),
    )
    assert got.schema["new"].dataType.simpleString() == f"decimal(38,{scale})"
    bad = got.filter(
        (F.col("new") != F.col("old"))
        | (F.col("new").cast("double") != F.col("old").cast("double"))
    ).collect()
    assert got.count() == 7 and not bad, bad


@pytest.mark.parametrize("scale", [2, 6])
def test_each_row_rounds_as_the_cast(spark, scale):
    """Per row, one-row groups: the unscaled value the kernel sums is the
    decimal cast's, for every near-tie and wide input."""
    xs = _near_ties(scale, 2000, seed=10 + scale) + _wide(scale)
    df = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    got = df.groupBy("i").agg(
        exact.sum_scaled("x", scale).alias("new"),
        F.sum(F.col("x").cast(f"decimal(18,{scale})")).alias("old"),
    )
    assert got.filter(F.col("new") != F.col("old")).count() == 0


def test_sum_long_equals_decimal38_sum(spark):
    big = [2**31, 2**31 + 7, 2**32, 2**32 + 1, -(2**32) - 5, 2**62, -(2**62),
           2**63 - 1, -(2**63), 2**42 - 1, -(2**42), 2**21, -(2**21) - 1]
    rnd = random.Random(3)
    rows = [(0, v) for v in big * 20]  # sums far past 2^63
    rows += [(1, rnd.randrange(-(2**40), 2**40)) for _ in range(5000)]  # hot key
    rows += [(2, None), (2, None)]  # null-only group
    rows += [(g, rnd.randrange(-(2**63), 2**63)) for g in range(3, 9) for _ in range(50)]
    df = spark.createDataFrame(rows, "g int, k bigint")
    got = df.groupBy("g").agg(
        exact.sum_long("k").alias("new"),
        F.sum(F.col("k").cast("decimal(38,0)")).alias("old"),
    )
    assert got.schema["new"].dataType == got.schema["old"].dataType
    by_g = {r["g"]: (r["new"], r["old"]) for r in got.collect()}
    assert by_g[2] == (None, None)
    assert all(new == old for new, old in by_g.values()), by_g
    assert by_g[0][0] == sum(big) * 20

    # an integer narrower than bigint is widened before the shifts
    ints = spark.createDataFrame([(v,) for v in (2**31 - 1, -(2**31), 5)], "k int")
    _assert_same(ints, exact.sum_long("k"), F.sum(F.col("k").cast("decimal(38,0)")))


def test_empty_input_sums_to_null(spark):
    empty = spark.createDataFrame([], "x double, k bigint")
    row = empty.agg(
        exact.sum_scaled("x", 6).alias("s"), exact.sum_long("k").alias("l")
    ).collect()[0]
    assert (row["s"], row["l"]) == (None, None)
    one = spark.createDataFrame([(1.5, 2**40)], "x double, k bigint")
    _assert_same(one, exact.sum_scaled("x", 6), F.sum(F.col("x").cast("decimal(18,6)")))
    _assert_same(one, exact.sum_long("k"), F.sum(F.col("k").cast("decimal(38,0)")))


def _outcome(df, col):
    """The sum, or the class and condition of the error it raises."""
    try:
        return df.agg(col.cast("double")).collect()[0][0]
    except PySparkException as e:
        return type(e), e.getCondition()


@pytest.mark.parametrize("bad", [math.nan, math.inf, -math.inf, 1e17])
def test_non_finite_input_behaves_as_the_cast(spark, bad):
    """NaN, ±Inf and values past decimal(18,2) do whatever the decimal
    cast does (this Spark casts NaN and ±Inf to null, which the sum
    skips, and raises on overflow)."""
    df = spark.createDataFrame([(1.25,), (bad,)], "x double")
    new = _outcome(df, exact.sum_scaled("x", 2))
    old = _outcome(df, F.sum(F.col("x").cast("decimal(18,2)")))
    assert new == old


def test_public_operators_sum_values_past_the_kernel_range(spark):
    """``hypertable_rollup`` and the streaming windows sum a caller's
    column, so they keep a ``DECIMAL(30,6)`` sum: a value of 10^13 sums
    exactly there, where the kernel's ``DECIMAL(18,6)`` cast raises."""
    from apache_nifi_spark.operators.hypertable import hypertable_rollup
    from apache_nifi_spark.streaming.windows import tumbling_agg

    df = spark.createDataFrame(
        [(datetime(2024, 1, 1, 0, 0, 5), "a", 1e13),
         (datetime(2024, 1, 1, 0, 0, 9), "a", 0.25)],
        "ts timestamp, k string, value double",
    )
    assert isinstance(_outcome(df, exact.sum_scaled("value", 6)), tuple)
    want = 1e13 + 0.25
    assert [r["total_value"] for r in tumbling_agg(df, "ts", "k").collect()] == [want]
    rolled = hypertable_rollup(df, "ts", "value", ["k"], ["minute", "hour"])
    assert sorted(r["total_value"] for r in rolled.collect()) == [want, want]


#: The decimal sums left outside the kernel, by (module, function).  The
#: kernel needs each per-row value to be a bigint, or to fit
#: ``DECIMAL(18,s)`` (``|v| < 10^(18-s)``) at every input size.  These
#: sums do not: a per-row product can pass 2^63 (or is fractional), a
#: per-row value can reach 10^(18-s), a per-row value is itself a sum
#: over a group, or the sum is a window aggregate.
DECIMAL_SUM_EXCEPTIONS = {
    ("operators/hypertable.py", "hypertable_rollup"):
        "user column, per-row value may reach 10^12; re-aggregates tier sums",
    ("streaming/windows.py", "_dsum_dec"):
        "user column, per-row value may reach 10^12",
    ("registry.py", "rolling_q"): "window sum",
    ("registry.py", "cube_q"): "re-aggregates per-cell sums",
    ("registry.py", "stream_hypertable_q"): "re-aggregates per-hour sums",
    ("registry_stats.py", "stats_cusum_drift_q"): "window sum",
    ("registry_stats.py", "orders_cohort_ltv_q"): "window sum",
    ("registry_stats.py", "stats_cohens_kappa_q"): "per-row product rn·cn",
    ("registry_stats.py", "pii_l_diversity_q"):
        "per-row k·ln k passes 10^9 at scale 9 once a class holds ~5·10^7 rows",
    ("registry_stats.py", "survival_logrank_test_q"):
        "scale 12 leaves 10^6 for per-time expected counts, which grow with the input",
    ("registry_analytics.py", "stats_jackknife_ratio_q"):
        "per-row values near 10^7 at scale 12 need more than 18 digits",
    ("registry_analytics.py", "forecast_seasonal_decompose_q"):
        "per-row deviations of daily cents reach 10^9 at scale 9 on large inputs",
    ("registry_analytics.py", "search_rbo_rankings_q"): "scale 20 needs more than 18 digits",
    ("registry_analytics.py", "stats_chi_squared_cramers_q"):
        "per-row term (obs−e)²/e reaches the row count, past 10^9 at scale 9",
    ("registry_analytics.py", "stats_levene_test_q"):
        "per-row square z² reaches 10^10, past 10^9 at scale 9; re-aggregates group sums",
    ("registry_analytics.py", "stats_anova_oneway_q"):
        "per-row term sgc²/ng and re-aggregated group sums",
    ("registry_analytics.py", "stats_hhi_concentration_q"): "per-row product revenue²",
    ("registry_analytics.py", "stats_pareto_8020_q"): "window sums",
    ("registry_analytics.py", "_segment_ranked_two_level"): "window sums",
    ("registry_analytics.py", "stats_theil_decomposition_q"):
        "window sums over the per-segment frame",
    ("registry_analytics.py", "orders_abc_classification_q"): "window sums",
    ("registry_analytics.py", "stats_spearman_rank_q"): "per-row rank products rx·ry",
    ("registry_analytics.py", "stats_gini_concentration_q"): "per-row product rank·revenue",
    ("registry_analytics.py", "stats_mann_whitney_u_q"): "per-row products m³ and n1·rank",
    ("registry_analytics.py", "stats_kruskal_wallis_q"): "per-row product m²",
    ("registry_analytics.py", "stats_cuped_q"): "per-row products of per-user cent sums",
    ("registry_analytics.py", "stats_diff_in_diff_q"): "per-row product cents²",
    ("registry_analytics.py", "stats_ewma_control_chart_q"): "per-row products 2^(t-1)·x and x²",
    ("registry_analytics.py", "linkage_fellegi_sunter_q"): "per-row fractional product weight·count",
    ("registry_analytics.py", "stats_roc_auc_q"): "per-row product npos·rank",
}


def _decimal_sum_sites() -> set[tuple[str, str]]:
    """(module, enclosing function) of every ``F.sum(...)`` whose argument
    casts to a decimal, under the engine package.  The argument may also
    name a column that the same function projects as a decimal: an
    ``.alias(name)`` over a decimal cast or over one of the kernel's sums
    (``F.sum("t")`` after ``….cast("decimal(28,9)").alias("t")``)."""

    def is_decimal_cast(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("cast", "astype")
            and bool(n.args)
            and isinstance(n.args[0], ast.Constant)
            and str(n.args[0].value).startswith("decimal(")
        )

    def is_kernel_sum(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in exact.__all__
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "exact"
        )

    def named(n: ast.AST) -> str | None:
        """The column a ``"name"`` or ``F.col("name")`` argument names."""
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) \
                and n.func.attr == "col" and len(n.args) == 1:
            n = n.args[0]
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            return n.value
        return None

    def is_f_sum(n: ast.AST) -> bool:
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "sum"
            and isinstance(n.func.value, ast.Name)
            and n.func.value.id == "F"
        )

    root = pathlib.Path(apache_nifi_spark.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        # lambdas bound to a name (``d38 = lambda c: c.cast(...)``) count
        # as the cast they wrap
        casters = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign) and isinstance(n.value, ast.Lambda)
            and is_decimal_cast(n.value.body)
            for t in n.targets if isinstance(t, ast.Name)
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            decimals = {
                n.args[0].value
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                and n.func.attr == "alias" and n.args
                and isinstance(n.args[0], ast.Constant)
                and (is_decimal_cast(n.func.value) or is_kernel_sum(n.func.value))
            }
            for n in ast.walk(fn):
                if is_f_sum(n) and (
                    any(named(a) in decimals for a in n.args)
                    or any(
                        is_decimal_cast(m)
                        or (isinstance(m, ast.Call) and isinstance(m.func, ast.Name)
                            and m.func.id in casters)
                        for m in ast.walk(n)
                    )
                ):
                    sites.add((str(path.relative_to(root)), fn.name))
    return sites


def test_decimal_sums_go_through_the_kernel():
    """A ``F.sum`` over a per-row decimal cast re-creates the BigDecimal
    accumulator the kernel replaces; outside ``functions/exact.py`` only
    the declared exceptions keep one."""
    sites = _decimal_sum_sites()
    assert sites - set(DECIMAL_SUM_EXCEPTIONS) == set()
    assert set(DECIMAL_SUM_EXCEPTIONS) - sites == set()  # no stale entry
