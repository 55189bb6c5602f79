"""Count-min sketch heavy hitters (§2.12 corpus-statistics tier;
Cormode & Muthukrishnan 2005): estimate token frequencies from a fixed
d×w counter matrix instead of an exact (possibly enormous) frequency
table — the constant-memory pass a 100 TB pipeline uses for frequency
caps, stop-list discovery, and hot-key detection before an exact
second pass over just the candidates.

Determinism contract: row hashes are md5-derived (salted per sketch
row, the repo's portable hash), counters are exact integer sums
(addition-order-independent), and the estimate is an integer ``min``
over the d probed counters — so the sketch, every estimate, and every
OVERESTIMATE (the sketch's one-sided error) are bit-identical on any
engine and any partitioning, which is what makes a sketch operator
value-oracle-able at all.

Scale shape (100 TB rules): token counting is one two-stage hash agg
(map-side combine collapses each partition to its distinct tokens);
the d×w counter matrix aggregates from the token-count table (counters
are additive, so token grain loses nothing) and collects as
CONTROL-PLANE state (d·w integers — the kmeans-centroid precedent);
scoring is map-only probes of the literal counter rows.  The exact
``true_count`` column in the output exists to CERTIFY the sketch
(est ≥ true always; equality unless collisions) — a production run at
scale drops it and keeps only the estimates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.llm.pca import _packed

__all__ = [
    "countmin_heavy_hitters",
    "countmin_production_hitters",
    "histogram_quantiles",
    "exact_quantile_twopass",
]


def histogram_quantiles(
    df,
    value_col: str,
    lo: float,
    hi: float,
    bins: int,
    probs: list[float],
):
    """MERGEABLE fixed-boundary histogram quantile sketch (the
    decomposable alternative to t-digest/GK when estimates may be
    bucket-grained): one map-side-combined aggregation to ≤``bins``
    counts, cumulative sum over the bounded bucket table, and each
    requested quantile reads the first bucket whose cumulative count
    reaches ``ceil(p·N)``; the estimate is that bucket's UPPER edge
    (error ≤ one bucket width by construction, and counts from disjoint
    shards merge by addition — the property t-digest only approximates).

    Determinism: the bucket index is ``floor((v−lo)·bins/(hi−lo))``
    clamped into range — three correctly-rounded IEEE ops, so Spark and
    the SQL oracle bucket every value identically; ranks are exact
    integers.

    Scale shape: the only corpus-grain operation is the bucket
    aggregation (output ≤ bins rows); the cumulative window and the
    prob join run on the bounded bucket table (a ≤bins-row single
    partition — control-plane sized by construction, not corpus
    sized).  Returns (prob, rank, q_est).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    width_num = float(hi - lo)
    idx = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor(
                (F.col(value_col) - F.lit(float(lo)))
                * F.lit(float(bins))
                / F.lit(width_num)
            ).cast("int"),
        ),
    )
    counts = (
        df.select(idx.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum = counts.select(
        "_b",
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    sess = df.sparkSession
    pf = sess.createDataFrame([(p,) for p in probs], "prob double")
    hit = (
        cum.crossJoin(F.broadcast(pf))
        .filter(F.col("_cum") >= F.ceil(F.col("prob") * F.col("_n")))
        .groupBy("prob")
        .agg(
            F.min("_b").alias("_qb"),
            F.max(F.ceil(F.col("prob") * F.col("_n"))).alias("rank"),
        )
    )
    return hit.select(
        "prob",
        "rank",
        (
            F.lit(float(lo))
            + (F.col("_qb") + 1).cast("double")
            * F.lit(width_num)
            / F.lit(float(bins))
        ).alias("q_est"),
    )


def countmin_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` tokens by count-min estimate.

    Returns (token, est_count, true_count, overestimate) ordered by
    (est_count DESC, token) — the deterministic heavy-hitter list with
    the sketch's one-sided error made visible.
    """

    def col_for(tok: Column, r: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cm{r}:"), tok)), 1, 8),
                16,
                10,
            ).cast("bigint")
            % width
        )

    toks = df.select(
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+", -1), lambda t: t != "")
        ).alias("tok")
    )
    # token-grain counts once: feeds BOTH the sketch build (counters are
    # additive) and the certifying true_count column
    cnt = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )

    rows = []
    for r in range(depth):
        got = {
            x["col"]: x["s"]
            for x in cnt.groupBy(col_for(F.col("tok"), r).alias("col"))
            .agg(F.sum("c").alias("s"))
            .collect()  # control-plane: ≤width counter sums for row r
        }
        rows.append([int(got.get(i, 0)) for i in range(width)])

    probes = [
        F.element_at(
            F.expr(_packed(rows[r])), col_for(F.col("tok"), r).cast("int") + 1
        )
        for r in range(depth)
    ]
    # F.least needs ≥2 columns; a depth-1 sketch is just its one probe
    est = F.least(*probes) if depth > 1 else probes[0]
    return (
        cnt.select(
            F.col("tok").alias("token"),
            est.alias("est_count"),
            F.col("c").alias("true_count"),
            (est > F.col("c")).alias("overestimate"),
        )
        .orderBy(F.col("est_count").desc(), "token")
        .limit(top_k)
    )


def countmin_production_hitters(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1024,
    top_k: int = 20,
    frac_denom: int = 256,
) -> DataFrame:
    """PRODUCTION two-pass count-min heavy hitters (the 100 TB shape the
    certificate variant ``countmin_heavy_hitters`` deliberately is not):

    - **pass 1** builds the d×w counter matrix straight from the token
      STREAM — one shuffle whose group space is ``depth·width`` (map-side
      combine collapses every partition to ≤ d·w rows); no token-grain
      table exists anywhere,
    - the **threshold** ``ceil(N / frac_denom)`` and the counters collect
      as control-plane state (d·w + 1 integers; N is the row-0 counter
      sum — division by a power-of-two denominator is IEEE-exact, so the
      threshold replays bit-identically in the SQL oracle),
    - **pass 2** re-scans the corpus, probes each occurrence against the
      literal counter rows (map-only; est ≥ true is the sketch's
      one-sided guarantee, so the est-filter passes a SUPERSET of the
      true heavy hitters), and only the surviving occurrences — vocab
      bounded by N/threshold ≤ frac_denom tokens — reach the exact-count
      aggregate.  The full-vocabulary frequency table the certificate
      variant materializes never exists in this plan
      (tests/test_plans.py gates it).

    Returns (token, est_count, exact_count) for tokens whose EXACT count
    clears the threshold, ordered (exact_count DESC, token), top_k rows.
    """

    def col_for(tok: Column, r: int) -> Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"cm{r}:"), tok)), 1, 8),
                16,
                10,
            ).cast("bigint")
            % width
        )

    def tokens() -> DataFrame:
        # fresh lineage per call: each pass is its own scan — the
        # two-pass stream shape, nothing corpus-sized is pinned
        return df.select(
            F.explode(
                F.filter(
                    F.split(F.col(text_col), r"\s+", -1), lambda t: t != ""
                )
            ).alias("tok")
        )

    pairs = tokens().select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), col_for(F.col("tok"), r).alias("col")
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p")
    )
    got = {
        (x["r"], x["col"]): x["s"]
        for x in pairs.groupBy("p.r", "p.col")
        .agg(F.count(F.lit(1)).alias("s"))
        .collect()  # control-plane: depth*width counter cells
    }
    rows = [[int(got.get((r, i), 0)) for i in range(width)] for r in range(depth)]
    n_total = sum(rows[0])
    import math

    threshold = int(math.ceil(n_total / float(frac_denom)))

    probes = [
        F.element_at(
            F.expr(_packed(rows[r])), col_for(F.col("tok"), r).cast("int") + 1
        )
        for r in range(depth)
    ]
    est = F.least(*probes) if depth > 1 else probes[0]
    return (
        tokens()
        .select(F.col("tok"), est.alias("est_count"))
        .filter(F.col("est_count") >= threshold)
        .groupBy("tok", "est_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .filter(F.col("exact_count") >= threshold)
        .select(
            F.col("tok").alias("token"), "est_count", "exact_count"
        )
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(top_k)
    )


def exact_quantile_twopass(
    df: DataFrame,
    value_col: str,
    bins: int = 4096,
) -> DataFrame:
    """PRODUCTION exact median: the two-pass histogram-refinement
    selection (the count-min-production pattern applied to order
    statistics) — Spark's exact ``percentile``/``median`` buffers every
    group value in one aggregator, which is not a 100 TB plan; the
    sketch variant (:func:`histogram_quantiles`) is mergeable but
    bucket-grained.  This returns the EXACT median with no global sort
    and no corpus-sized aggregation state:

    - **pass 0**: (min, max, count) — one agg, 1 control-plane row,
    - **pass 1**: fixed ``bins``-bucket histogram (map-side-combined agg,
      ≤bins rows collect; IEEE-exact bucketing as in
      histogram_quantiles); the driver locates the bucket(s) holding
      ranks ⌈N/2⌉ and N/2+1 (even N interpolates, the SQL MEDIAN rule),
    - **pass 2**: scan only rows in the candidate value range
      (selectivity ≈ 1/bins), range-partition them and turn
      per-partition counts into global-rank offsets (the ccnet two-pass
      machinery — every sort task holds ~|candidates|/P rows, none sees
      the whole set), filter the two ranks, average.

    Returns one row: (n, median).  All arithmetic is correctly-rounded
    IEEE (+, /2), so the value is bit-identical to the oracle's
    ``median()``.
    """
    from pyspark.sql import Window

    sess = df.sparkSession
    v = F.col(value_col).cast("double")
    base = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    stats = base.agg(
        F.min("_v").alias("lo"), F.max("_v").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]  # control-plane: 1 row of corpus stats
    lo, hi, n = float(stats["lo"]), float(stats["hi"]), int(stats["n"])
    if n == 0:
        raise ValueError("exact_quantile_twopass on an empty frame")
    ranks = [(n + 1) // 2] if n % 2 else [n // 2, n // 2 + 1]
    if lo == hi:
        return sess.createDataFrame([(n, lo)], "n bigint, median double")

    width = hi - lo
    idx = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col("_v") - F.lit(lo)) * F.lit(float(bins))
                    / F.lit(width)).cast("int"),
        ),
    )
    hist = {
        r["_b"]: r["_c"]
        for r in base.select(idx.alias("_b"))
        .groupBy("_b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .collect()  # control-plane: <= bins histogram rows
    }
    cum, below = 0, {}
    for b in range(bins):
        below[b] = cum
        cum += hist.get(b, 0)
    need = sorted({
        next(b for b in range(bins)
             if below[b] + hist.get(b, 0) >= r and hist.get(b, 0) > 0
             and below[b] < r)
        for r in ranks
    })
    b_lo, b_hi = need[0], need[-1]
    # Candidate filter reuses the SAME bucket-index expression the
    # histogram aggregated (idx BETWEEN b_lo AND b_hi) — NOT Python-side
    # reconstructed float edges: a value at a bucket boundary must land
    # on the same side in both passes or ranks shift (ADVICE r12); with
    # one shared expression, offset = below[b_lo] is exact by
    # construction.
    cand = base.filter((idx >= F.lit(b_lo)) & (idx <= F.lit(b_hi)))
    offset = below[b_lo]

    n_range = max(1, int(sess.conf.get("spark.sql.shuffle.partitions", "32")))
    ranged = (
        cand.repartitionByRange(n_range, F.col("_v"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)  # both passes must see one layout
    )
    counts = {
        r["_pid"]: r["c"]
        for r in ranged.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # control-plane: O(range partitions)
    }
    offs, acc = [], offset
    for pid in range(n_range):
        offs.append(acc)
        acc += counts.get(pid, 0)
    off_col = F.get(
        F.split(F.lit(",".join(str(o) for o in offs)), ",", -1),
        F.col("_pid"),
    ).cast("long")
    w = Window.partitionBy("_pid").orderBy("_v")
    picked = (
        ranged.select(
            "_v", (off_col + F.row_number().over(w)).alias("_rank")
        )
        .filter(F.col("_rank").isin([int(r) for r in ranks]))
    )
    med = picked.agg(
        (F.sum("_v") / F.count(F.lit(1))).alias("median")
    )
    return med.select(F.lit(n).cast("bigint").alias("n"), "median")
