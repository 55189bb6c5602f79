"""Hand-computed unit tests for the round-13 rank-statistics tier —
independent of the DuckDB differential (which checks engine parity,
not textbook correctness): KS D and the Mann-Whitney tie-corrected z
are verified against values derived by hand / a reference formula on
tiny constructed frames, and the registry's duplicate-name guard is
pinned (the text_char_entropy shadowing incident)."""

from __future__ import annotations

import math

import pytest

from apache_nifi_spark.registry import QUERIES, register


def test_register_rejects_duplicate_names():
    name = next(iter(QUERIES))
    with pytest.raises(ValueError, match="duplicate registry query name"):
        register(name)(lambda spark, sf_dir: None)


def _two_level_rows(spark, vals1, vals2, query):
    """Run a registry rank-stat query against a swapped-in orders frame
    by mimicking its input contract (o_totalprice, o_orderstatus).
    The satellite binds ``_t`` by name at import, so the patch targets
    ``registry_analytics._t`` (not the registry's)."""
    import apache_nifi_spark.registry_analytics as ra

    df = spark.createDataFrame(
        [(float(v), "F") for v in vals1] + [(float(v), "O") for v in vals2],
        "o_totalprice double, o_orderstatus string",
    )
    orig = ra._t
    try:
        ra._t = lambda s, d, t: df
        return QUERIES[query](spark, "unused").collect()
    finally:
        ra._t = orig


def test_ks_drift_matches_hand_computed_d(spark):
    # sample1 = {1,2,3,4}, sample2 = {3,4,5,6}: ECDFs diverge most at
    # v=2 (F1=0.5, F2=0.0) and symmetrically at v=4 → D = 0.5 exactly.
    [row] = _two_level_rows(spark, [1, 2, 3, 4], [3, 4, 5, 6], "stats_ks_drift")
    assert row["n1"] == 4 and row["n2"] == 4
    assert row["d_stat"] == pytest.approx(0.5, abs=1e-9)
    # critical value at alpha=.05: 1.358099 * sqrt(8/16) = 0.9603214...
    assert row["d_crit_05"] == pytest.approx(0.960321, abs=1e-6)
    assert bool(row["drifted"]) is False


def test_ks_drift_identical_samples_gives_zero(spark):
    [row] = _two_level_rows(spark, [1, 2, 2, 9], [1, 2, 2, 9], "stats_ks_drift")
    assert row["d_stat"] == 0.0
    assert bool(row["drifted"]) is False


def test_mann_whitney_matches_reference_formula(spark):
    # Samples with a tie across groups: s1={1,2,5}, s2={2,3,4}.
    # Pooled sorted: 1(r1), 2,2(avg rank 2.5), 3(r4), 4(r5), 5(r6).
    # R1 = 1 + 2.5 + 6 = 9.5 → U1 = 9.5 - 3*4/2 = 3.5; mu = 4.5.
    # ties: one group of 2 → sum(t^3-t) = 6; n = 6.
    # sigma = sqrt(3*3/12 * (7 - 6/(6*5))) = sqrt(0.75*6.8) = sqrt(5.1)
    [row] = _two_level_rows(spark, [1, 2, 5], [2, 3, 4], "stats_mann_whitney_u")
    assert row["n1"] == 3 and row["n2"] == 3
    assert row["u1"] == pytest.approx(3.5, abs=1e-9)
    assert row["z"] == pytest.approx((3.5 - 4.5) / math.sqrt(5.1), abs=1e-6)


def test_mann_whitney_shifted_sample_sign(spark):
    # Every s1 value below every s2 value → U1 = 0, z strongly negative.
    [row] = _two_level_rows(spark, [1, 2, 3], [10, 11, 12], "stats_mann_whitney_u")
    assert row["u1"] == 0.0
    assert row["z"] < -1.9


def test_gini_uniform_is_zero_and_extreme_is_high(spark):
    import apache_nifi_spark.registry_analytics as reg

    def run(revenues):
        orders = spark.createDataFrame(
            [(i, float(r)) for i, r in enumerate(revenues)],
            "o_custkey long, o_totalprice double",
        )
        customer = spark.createDataFrame(
            [(i, "SEG") for i in range(len(revenues))],
            "c_custkey long, c_mktsegment string",
        )
        orig = reg._t
        try:
            reg._t = lambda s, d, t: orders if t == "orders" else customer
            [row] = QUERIES["stats_gini_concentration"](spark, "x").collect()
            return row
        finally:
            reg._t = orig

    assert run([5, 5, 5, 5])["gini"] == pytest.approx(0.0, abs=1e-9)
    # one customer holds everything: G -> (n-1)/n = 0.75 for n=4
    row = run([0.000001, 0.000001, 0.000001, 1000000])
    assert row["gini"] == pytest.approx(0.75, abs=1e-4)

def _patched(spark, tables, query):
    """Run a registry query with ``_t`` swapped for constructed frames
    (same satellite-binding caveat as ``_two_level_rows``)."""
    import apache_nifi_spark.registry_analytics as reg

    orig = reg._t
    try:
        reg._t = lambda s, d, t: tables[t]
        return QUERIES[query](spark, "unused").collect()
    finally:
        reg._t = orig


def _li(spark, rows, schema="l_quantity double, l_extendedprice double"):
    return spark.createDataFrame(rows, schema)


def test_spearman_perfect_monotone_and_ties(spark):
    # identical tie structure on both sides -> rank vectors equal -> rho=1
    li = _li(spark, [(1.0, 10.0), (2.0, 20.0), (2.0, 20.0), (3.0, 40.0)])
    [row] = _patched(spark, {"lineitem": li}, "stats_spearman_rank")
    assert row["n"] == 4
    assert row["spearman_rho"] == pytest.approx(1.0, abs=1e-9)


def test_spearman_reversed_is_minus_one(spark):
    li = _li(spark, [(1.0, 30.0), (2.0, 20.0), (3.0, 10.0)])
    [row] = _patched(spark, {"lineitem": li}, "stats_spearman_rank")
    assert row["spearman_rho"] == pytest.approx(-1.0, abs=1e-9)


def test_spearman_matches_d_squared_formula(spark):
    # x=[1,2,3,4], y ranks [1,4,2,3]: rho = 1 - 6*6/(4*15) = 0.4
    li = _li(spark, [(1.0, 10.0), (2.0, 40.0), (3.0, 20.0), (4.0, 30.0)])
    [row] = _patched(spark, {"lineitem": li}, "stats_spearman_rank")
    assert row["spearman_rho"] == pytest.approx(0.4, abs=1e-9)


def test_kruskal_wallis_textbook_three_groups(spark):
    # A={1,2}, B={3,4}, C={5,6}: no ties, H = 12/42*89.5 - 21 = 4.571429
    o = spark.createDataFrame(
        [(1.0, "A"), (2.0, "A"), (3.0, "B"), (4.0, "B"), (5.0, "C"), (6.0, "C")],
        "o_totalprice double, o_orderpriority string",
    )
    [row] = _patched(spark, {"orders": o}, "stats_kruskal_wallis")
    assert row["k"] == 3 and row["n"] == 6
    assert row["h_stat"] == pytest.approx(12 / 42 * 89.5 - 21, abs=1e-6)


def test_kruskal_wallis_identical_groups_near_zero(spark):
    o = spark.createDataFrame(
        [(v, g) for g in ("A", "B") for v in (1.0, 2.0, 3.0)],
        "o_totalprice double, o_orderpriority string",
    )
    [row] = _patched(spark, {"orders": o}, "stats_kruskal_wallis")
    assert abs(row["h_stat"]) < 1e-9


def _seg_orders(spark, cells):
    """Build orders+customer for a {(seg, pri): count} contingency."""
    segs = sorted({s for s, _ in cells})
    cust = [(i, s) for i, s in enumerate(segs)]
    orders, k = [], 0
    for (s, p), cnt in cells.items():
        ci = segs.index(s)
        for _ in range(cnt):
            orders.append((k, ci, p))
            k += 1
    o = spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long, o_orderpriority string"
    )
    c = spark.createDataFrame(cust, "c_custkey long, c_mktsegment string")
    return {"orders": o, "customer": c}


def test_chi_squared_hand_computed_2x2(spark):
    # [[10,20],[20,10]]: E=15 everywhere, chi2 = 4*25/15 = 6.666667,
    # V = sqrt(chi2/(n*1)) = 1/3
    t = _seg_orders(
        spark,
        {("A", "p1"): 10, ("A", "p2"): 20, ("B", "p1"): 20, ("B", "p2"): 10},
    )
    [row] = _patched(spark, t, "stats_chi_squared_cramers")
    assert row["n"] == 60 and row["dof"] == 1
    assert row["chi2"] == pytest.approx(20 / 3, abs=1e-6)
    assert row["cramers_v"] == pytest.approx(1 / 3, abs=1e-6)


def test_chi_squared_independent_table_is_zero(spark):
    # perfectly proportional rows -> chi2 = 0
    t = _seg_orders(
        spark,
        {("A", "p1"): 10, ("A", "p2"): 20, ("B", "p1"): 20, ("B", "p2"): 40},
    )
    [row] = _patched(spark, t, "stats_chi_squared_cramers")
    assert row["chi2"] == pytest.approx(0.0, abs=1e-9)


def test_anova_hand_computed_two_groups(spark):
    # A={1,2,3}, B={4,5,6}: SSB=13.5, SSW=4, F=13.5, eta2=13.5/17.5
    li = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0), ("B", 4.0), ("B", 5.0), ("B", 6.0)],
        "l_returnflag string, l_extendedprice double",
    )
    [row] = _patched(spark, {"lineitem": li}, "stats_anova_oneway")
    assert row["k"] == 2 and row["n"] == 6
    assert row["f_stat"] == pytest.approx(13.5, abs=1e-6)
    assert row["eta_squared"] == pytest.approx(13.5 / 17.5, abs=1e-6)


def _rev_tables(spark, revenues):
    orders = spark.createDataFrame(
        [(i, float(r)) for i, r in enumerate(revenues)],
        "o_custkey long, o_totalprice double",
    )
    customer = spark.createDataFrame(
        [(i, "SEG") for i in range(len(revenues))],
        "c_custkey long, c_mktsegment string",
    )
    return {"orders": orders, "customer": customer}


def test_theil_uniform_zero_and_matches_direct(spark):
    import math as m

    [row] = _patched(spark, _rev_tables(spark, [7, 7, 7, 7]), "stats_theil_index")
    assert row["theil_t"] == pytest.approx(0.0, abs=1e-9)
    xs = [1.0, 2.0, 3.0, 4.0]
    mu = sum(xs) / len(xs)
    want = sum(x / mu * m.log(x / mu) for x in xs) / len(xs)
    [row] = _patched(spark, _rev_tables(spark, xs), "stats_theil_index")
    assert row["theil_t"] == pytest.approx(want, abs=1e-6)


def test_hhi_uniform_and_monopoly(spark):
    [row] = _patched(spark, _rev_tables(spark, [5, 5, 5, 5]), "stats_hhi_concentration")
    assert row["hhi"] == pytest.approx(2500.0, abs=1e-6)
    assert row["effective_n"] == pytest.approx(4.0, abs=1e-9)
    [row] = _patched(
        spark, _rev_tables(spark, [0.0001, 0.0001, 1000000]), "stats_hhi_concentration"
    )
    assert row["hhi"] > 9999.0

def test_hilbert_frame_bijection_and_adjacency(spark):
    """The column-expression Hilbert walk must match the pure-Python
    reference (an independent implementation of the same quadrant
    rules) and satisfy the curve's defining properties on a full small
    grid: bijection onto 0..n^2-1 and unit-step adjacency of
    consecutive curve positions."""
    from apache_nifi_spark.registry_analytics import hilbert_frame

    def ref(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            x &= s - 1
            y &= s - 1
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d

    n = 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int"
    )
    rows = hilbert_frame(grid, order=4).collect()
    got = {(r["x"], r["y"]): r["d"] for r in rows}
    assert sorted(got.values()) == list(range(n * n))
    for (x, y), d in got.items():
        assert d == ref(n, x, y)
    pos = {d: xy for xy, d in got.items()}
    for i in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[i], pos[i + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1

def test_theil_decomposition_identity(spark):
    """Σ_g within_contribution + Σ_g between_term must equal the pooled
    population's Theil T computed directly — the decomposition's
    defining identity — on a constructed two-segment table."""
    import math as m

    revenues = {"A": [1.0, 2.0, 3.0], "B": [10.0, 20.0, 30.0, 40.0]}
    orders = []
    cust = []
    i = 0
    for seg, xs in revenues.items():
        for x in xs:
            orders.append((i, float(x)))
            cust.append((i, seg))
            i += 1
    tables = {
        "orders": spark.createDataFrame(
            orders, "o_custkey long, o_totalprice double"
        ),
        "customer": spark.createDataFrame(
            cust, "c_custkey long, c_mktsegment string"
        ),
    }
    rows = _patched(spark, tables, "stats_theil_decomposition")
    got = sum(r["within_contribution"] + r["between_term"] for r in rows)
    xs = [x for v in revenues.values() for x in v]
    mu = sum(xs) / len(xs)
    want = sum(x / mu * m.log(x / mu) for x in xs) / len(xs)
    assert got == pytest.approx(want, abs=1e-5)

def test_cohens_kappa_hand_computed(spark):
    """κ against the textbook formula on a constructed 4-doc corpus
    with a known confusion matrix (patching the llm satellite's _t)."""
    import apache_nifi_spark.registry_stats as rl

    docs = spark.createDataFrame(
        [
            (0, "en", "the and of to a"),
            (1, "en", "the is it that for"),
            (2, "es", "el la de que y"),
            (3, "es", "the and of is it"),  # mislabeled -> pred en
        ],
        "doc_id long, lang string, text string",
    )
    orig = rl._t
    try:
        rl._t = lambda s, d, t: docs
        [row] = rl.QUERIES["stats_cohens_kappa"](spark, "x").collect()
    finally:
        rl._t = orig
    # confusion: lang en -> pred en (2); lang es -> pred es (1), en (1)
    # po = 3/4; pe = (2*3 + 2*1)/16 = 0.5; kappa = (0.75-0.5)/0.5 = 0.5
    assert row["n_docs"] == 4 and row["agree"] == 3
    assert row["po"] == pytest.approx(0.75, abs=1e-9)
    assert row["pe"] == pytest.approx(0.5, abs=1e-9)
    assert row["kappa"] == pytest.approx(0.5, abs=1e-9)

def test_levene_hand_computed(spark):
    """Levene W on a constructed two-group frame, against the textbook
    ANOVA-of-|deviations| computed directly in Python."""
    xs = {"A": [1.0, 2.0, 3.0, 10.0], "B": [5.0, 5.5, 6.0, 6.5]}
    rows = [(g, x) for g, v in xs.items() for x in v]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double"
    )
    [row] = _patched(spark, {"lineitem": li}, "stats_levene_test")
    # reference: one-way ANOVA F on z = |x - group mean|
    z = {g: [abs(x - sum(v) / len(v)) for x in v] for g, v in xs.items()}
    allz = [x for v in z.values() for x in v]
    gm = sum(allz) / len(allz)
    ssb = sum(len(v) * (sum(v) / len(v) - gm) ** 2 for v in z.values())
    ssw = sum((x - sum(v) / len(v)) ** 2 for v in z.values() for x in v)
    k, n = 2, len(allz)
    want = (ssb / (k - 1)) / (ssw / (n - k))
    assert row["k"] == 2 and row["n"] == 8
    assert row["w_stat"] == pytest.approx(want, rel=1e-5)


def test_ntile_bucketed_matches_native_ntile(spark):
    """_ntile_bucketed (the RFM no-global-sort quartiler) must be
    bit-identical to F.ntile under the same (metric, key) total order,
    on sizes exercising both remainder branches (n%4==0 and n%4!=0)
    and heavy ties."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from apache_nifi_spark.registry_analytics import _ntile_bucketed

    for n in (7, 16, 101, 1000):
        df = spark.range(n).select(
            F.col("id").alias("k"),
            (F.col("id") % 13).cast("double").alias("v"),  # heavy ties
        )
        want = df.select(
            "k", F.ntile(4).over(Window.orderBy("v", "k")).alias("q")
        )
        got = _ntile_bucketed(df, "v", "k", F.col("v"), "q").select("k", "q")
        diff = got.join(want, "k").filter(got["q"] != want["q"]).count()
        assert diff == 0, f"n={n}: {diff} rows disagree with native ntile"


def test_gini_pareto_two_level_matches_window_path(spark):
    """The Gini/Pareto scale path (_segment_ranked_two_level) must be
    bit-identical to the measured-faster window path on both sort
    directions, and the size switch must route each query correctly on
    both sides of the threshold."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import apache_nifi_spark.registry_analytics as ra

    rows = [
        (f"SEG{j % 3}", i * 3 + j, float((i * 7 + j * 11) % 400) / 4)
        for i in range(200)
        for j in range(3)
    ]
    r = spark.createDataFrame(
        rows, "segment string, o_custkey long, rev double"
    ).select(
        "segment", "o_custkey",
        F.col("rev").cast("decimal(30,6)").alias("revenue"),
    )
    for desc in (False, True):
        order = (
            [F.col("revenue").desc(), "o_custkey"]
            if desc
            else ["revenue", "o_custkey"]
        )
        w = Window.partitionBy("segment").orderBy(*order)
        want = r.select(
            "segment", "o_custkey", F.row_number().over(w).alias("i"),
            F.sum("revenue")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("decimal(38,6)")
            .alias("cum_rev"),
        )
        got = ra._segment_ranked_two_level(r, desc=desc, want_cum=True)
        joined = got.alias("g").join(
            want.alias("w"), ["segment", "o_custkey"]
        )
        bad = joined.filter(
            (F.col("g.i") != F.col("w.i"))
            | (F.col("g.cum_rev") != F.col("w.cum_rev"))
        ).count()
        assert bad == 0, f"desc={desc}: {bad} rows diverge from window path"

    # switch routing: big threshold -> window path; tiny -> two-level
    sf = "/root/testdata/sf0.001"
    ra._customer_count.cache_clear()
    assert ra._segment_sort_is_safe(spark, sf) is True
    assert ra._segment_sort_is_safe(spark, sf, threshold=10) is False
    # both queries stay value-identical when forced onto the scale path
    orig = ra._SEG_SORT_THRESHOLD
    try:
        small_g = ra.QUERIES["stats_gini_concentration"](spark, sf).collect()
        small_p = ra.QUERIES["stats_pareto_8020"](spark, sf).collect()
        ra._SEG_SORT_THRESHOLD = 10
        ra._customer_count.cache_clear()
        # re-point the module-level safety check at the tiny threshold
        big_g = ra.QUERIES["stats_gini_concentration"](spark, sf).collect()
        big_p = ra.QUERIES["stats_pareto_8020"](spark, sf).collect()
    finally:
        ra._SEG_SORT_THRESHOLD = orig
        ra._customer_count.cache_clear()
    assert sorted(map(tuple, small_g)) == sorted(map(tuple, big_g))
    assert sorted(map(tuple, small_p)) == sorted(map(tuple, big_p))
