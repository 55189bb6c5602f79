"""Deterministic fixed-point PageRank (§2.12 graph tier — link-graph
authority scoring, the ranking signal web-curation pipelines weight
documents by; joins ``llm/cluster.connected_components`` as the second
iterative graph operator).

Engine-deterministic the same way kmeans/PCA/the trainer are: ranks are
INTEGERS at a fixed scale, every per-edge contribution is an exact
integer division ``(r_src · d_num) div (d_den · outdeg_src)``, and
every inbound sum is an exact bigint aggregate — addition order cannot
move a bit, so K unrolled iterations replay identically in the SQL
oracle.  Dangling-node mass is DROPPED (the documented variant; the
redistribute variant is one extra broadcast join with the same
algebra).

Scale shape (100 TB rules): the edge table — the corpus-sized side —
is hash-partitioned by source ONCE and checkpoint-pinned; each
iteration is one join on that partitioning plus one map-side-combined
aggregate to node grain, and the per-round rank frame is
localCheckpoint-pinned so plan depth stays constant in the iteration
count (the kmeans precedent).  Nothing corpus-sized crosses the driver:
the only collect is the 1-row node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.functions import exact

__all__ = ["pagerank_fixed_point", "hits_fixed_point", "triangle_counts", "kcore_membership", "link_prediction_scores"]

#: fixed-point rank scale (ranks are ints at 1e-6 units)
_SCALE = 1_000_000


def pagerank_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    weight_col: str | None = None,
) -> DataFrame:
    """``iters`` rounds of integer-exact PageRank over a directed edge
    list (duplicate edges count as parallel links, the multigraph
    convention).  Returns (node, rank) with rank = fixed-point units /
    1e-6, plus ``rank_frac`` as the double for presentation.

    Per round: r'(v) = floor(S·(den−num)/(den·N)) +
    Σ_{u→v} (r(u)·num) div (den·outdeg(u)) — all integer ops.

    ``weight_col``: integer edge multiplicity — bit-exact with the
    multigraph (w parallel edges each contribute the same floored
    share, so the sum is w · share and outdeg is Σw), while keeping
    one ROW per distinct edge; the collapse is what lets callers
    prune low-weight edges before the rounds."""
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d"),
        w.alias("_w"),
    ).localCheckpoint(eager=True)
    # ^ EAGER: the edge list feeds deg, ej AND nodes — without the pin
    #   the caller's (possibly expensive) edge lineage recomputes once
    #   per consumer (measured 2× the TextRank pair join, the r15 wall).
    deg = e.groupBy("_s").agg(F.sum("_w").alias("_deg"))
    # corpus-sized side partitioned by the join key ONCE; ranks meet it
    # exchange-free on their side of every iteration
    ej = (
        e.join(deg, "_s")
        .repartition("_s")
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select(F.col("_s").alias("_n"))
        .unionByName(e.select(F.col("_d").alias("_n")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # control-plane: one scalar
    if n_nodes == 0:
        return nodes.select(
            F.col("_n").alias("node"),
            F.lit(0).cast("bigint").alias("rank"),
            F.lit(0.0).alias("rank_frac"),
        )
    base = (_SCALE * (damping_den - damping_num)) // (damping_den * n_nodes)
    init = _SCALE // n_nodes

    ranks = nodes.select("_n", F.lit(init).cast("bigint").alias("_r"))
    for _ in range(iters):
        contrib = (
            ej.join(ranks.withColumnRenamed("_n", "_s"), "_s")
            .select(
                F.col("_d").alias("_n"),
                F.expr(
                    f"_w * ((_r * {damping_num}) div ({damping_den} * _deg))"
                ).alias("_c"),
            )
            .groupBy("_n")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = (
            nodes.join(contrib, "_n", "left")
            .select(
                "_n",
                (F.lit(base) + F.coalesce(F.col("_in"), F.lit(0)))
                .cast("bigint")
                .alias("_r"),
            )
            # pinned per round: keeps the final plan depth constant in
            # ``iters`` (kmeans precedent)
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        F.col("_n").alias("node"),
        F.col("_r").alias("rank"),
        (F.col("_r").cast("double") / float(_SCALE)).alias("rank_frac"),
    )


def triangle_counts(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (Schank & Wagner 2005 / the Cohen MapReduce formulation — the
    standard distributed triangle algorithm): orient every undirected
    edge from its lower-(degree, id) endpoint to the higher, join the
    oriented list with itself on the low endpoint to form wedges, and
    close each wedge against the oriented list — every triangle is
    counted EXACTLY once, and the wedge fan-out of a hub is bounded by
    its ORIENTED out-degree (≈√m), which is what makes the join safe on
    power-law graphs at scale.

    All-integer (degrees, ids, counts) — bit-identical in the SQL
    oracle.  Returns (node, n_triangles) for nodes in ≥1 triangle.

    Scale shape: dedup + degree agg (two map-side-combined shuffles on
    the edge list), one self-join on the low endpoint with the
    (deg, id) guard, one closing equi-join, explode-to-3 + final agg.
    No broadcast hints — edge-grain frames are corpus-cardinality, AQE
    decides."""
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)  # read by degree agg + orientation
    )
    deg = (
        e.select(F.col("_a").alias("_n"))
        .unionAll(e.select(F.col("_b").alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_dg"))
    )
    da = deg.select(F.col("_n").alias("_a"), F.col("_dg").alias("_dga"))
    db = deg.select(F.col("_n").alias("_b"), F.col("_dg").alias("_dgb"))
    keyed = e.join(da, "_a").join(db, "_b")
    lo_first = (F.col("_dga") < F.col("_dgb")) | (
        (F.col("_dga") == F.col("_dgb")) & (F.col("_a") < F.col("_b"))
    )
    o = keyed.select(
        F.when(lo_first, F.col("_a")).otherwise(F.col("_b")).alias("_u"),
        F.when(lo_first, F.col("_b")).otherwise(F.col("_a")).alias("_v"),
        F.when(lo_first, F.col("_dgb")).otherwise(F.col("_dga")).alias("_dv"),
    ).localCheckpoint(eager=False)  # read by both wedge sides + closer
    w1 = o.select(F.col("_u"), F.col("_v").alias("_x"), F.col("_dv").alias("_dx"))
    w2 = o.select(F.col("_u"), F.col("_v").alias("_y"), F.col("_dv").alias("_dy"))
    wedges = w1.join(w2, "_u").filter(
        (F.col("_dx") < F.col("_dy"))
        | ((F.col("_dx") == F.col("_dy")) & (F.col("_x") < F.col("_y")))
    )
    closer = o.select(F.col("_u").alias("_x"), F.col("_v").alias("_y"))
    tris = wedges.join(closer, ["_x", "_y"]).select("_u", "_x", "_y")
    return (
        tris.select(
            F.explode(F.array(F.col("_u"), F.col("_x"), F.col("_y"))).alias(
                "node"
            )
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )

def link_prediction_scores(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
    max_degree: int = 10_000,
) -> DataFrame:
    """Neighborhood link-prediction scores (Liben-Nowell & Kleinberg
    2003) for NON-edges: common-neighbor count, Jaccard
    |Γu∩Γv|/|Γu∪Γv|, and Adamic–Adar Σ_z 1/ln(deg z) over shared
    neighbors z — the classic "which edge appears next" features.

    Shape: canonical-undirected dedup, adjacency both directions, ONE
    wedge self-join on the shared neighbor (u<v halves the pairs), a
    hash agg to candidate-pair grain, an ANTI join dropping existing
    edges, and two degree joins for the Jaccard denominator.

    Degree cap (round-14 verdict item 8): the raw wedge fan-out is
    Σ_z deg(z)² — quadratic on a power-law hub.  Wedges only form
    through shared neighbors with deg(z) ≤ ``max_degree``, so the
    fan-out is bounded by D·Σdeg(z) = 2·D·|E| — LINEAR in edges for
    fixed D.  This is also the standard semantic choice: a
    10 000-neighbor hub certifies almost nothing about its leaf pairs
    (Adamic–Adar already discounts it as 1/ln deg), and scoring the
    ~10⁸ pairs under one hub is list-completion, not prediction.
    Pairs whose ONLY common neighbors are above-cap hubs are absent
    from the output; set ``max_degree`` past the graph's max degree
    for exhaustive semantics (the fixture oracle runs far below the
    default cap, so its result is exact).

    Every common neighbor has deg ≥ 2 by construction, so 1/ln(deg) is
    finite; each Adamic–Adar term is ONE shared IEEE expression cast
    to DECIMAL(28,9) once (order-free sum — the repo's float
    discipline).  All other quantities integer-exact.
    Returns (u, v, common_neighbors, jaccard, adamic_adar) for
    non-adjacent pairs with ≥ ``min_common`` shared neighbors."""
    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.select(
            F.least(a, b).alias("_a"), F.greatest(a, b).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)  # read by adj, deg, and anti join
    )
    adj = e.select(F.col("_a").alias("n"), F.col("_b").alias("nbr")).unionAll(
        e.select(F.col("_b").alias("n"), F.col("_a").alias("nbr"))
    )
    deg = adj.groupBy(F.col("n")).agg(F.count(F.lit(1)).alias("dg"))
    zdeg = adj.join(
        deg.select(F.col("n").alias("nbr"), F.col("dg").alias("zdg")), "nbr"
    )
    # hub cap: the inner join on z means filtering ONE side excludes
    # the hub's wedges entirely (w2 needs no degree column)
    w1 = zdeg.filter(F.col("zdg") <= max_degree).select(
        F.col("nbr").alias("z"), F.col("n").alias("u"), F.col("zdg")
    )
    w2 = adj.select(F.col("nbr").alias("z"), F.col("n").alias("v"))
    wedges = w1.join(w2, "z").filter(F.col("u") < F.col("v"))
    cand = (
        wedges.groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            exact.sum_scaled("1.0D / ln(zdg)", 9).alias("aa"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    non_edges = cand.join(
        e.select(F.col("_a").alias("u"), F.col("_b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("n").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("dg").alias("dv"))
    return (
        non_edges.join(du, "u")
        .join(dv, "v")
        .select(
            "u", "v", "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common_neighbors")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa").cast("double"), 6).alias("adamic_adar"),
        )
    )


def kcore_membership(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """Exact k-CORE membership (Seidman 1983 — the standard graph
    curation gate: nodes surviving repeated deletion of everything
    with degree < k; a near-dup cluster's k-core is its reliable
    center, the periphery is noise): synchronous peeling to the TRUE
    fixpoint — per round, one degree aggregation over the surviving
    undirected edge set and one semi-join filter; stops when a round
    deletes nothing (the driver reads only the per-round edge COUNT, a
    control-plane scalar, exactly the components-fixpoint discipline).
    Each round's survivor set is localCheckpoint-pinned so plan depth
    stays constant.  Returns (node, degree_in_core).

    Scale: every round is a hash agg + keyed join over the current
    edge set, which only SHRINKS; rounds are bounded by ``max_rounds``
    (peeling depth, not data size — real graphs converge in tens)."""
    e = (
        edges.select(
            # canonicalize the undirected edge so (a,b) and (b,a) collapse
            # to ONE row before distinct — matching link_prediction_scores
            # and the oracle's least/greatest dedup; without this a
            # both-directions edge list doubles every degree.
            F.least(F.col(src_col), F.col(dst_col)).alias("_a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev = e.count()  # control-plane: one scalar per round
    for _ in range(max_rounds):
        adj = e.select(F.col("_a").alias("n")).unionAll(
            e.select(F.col("_b").alias("n"))
        )
        deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("dg"))
        keep = deg.filter(F.col("dg") >= k).select("n")
        e = (
            e.join(keep.withColumnRenamed("n", "_a"), "_a", "left_semi")
            .join(keep.withColumnRenamed("n", "_b"), "_b", "left_semi")
            .localCheckpoint(eager=False)
        )
        cur = e.count()  # control-plane: one scalar per round
        if cur == prev:
            break
        prev = cur
    adj = e.select(F.col("_a").alias("node")).unionAll(
        e.select(F.col("_b").alias("node"))
    )
    return adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree_in_core")
    )


def hits_fixed_point(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 2,
) -> DataFrame:
    """``iters`` rounds of integer-exact HITS (Kleinberg 1999 — the
    hub/authority twin of PageRank: a node is a good AUTHORITY when
    good HUBS point at it, a good hub when it points at good
    authorities; on curation link graphs the two scores separate
    portal pages from content pages where PageRank conflates them).

    Per round, in 1e-6 fixed point with L1 normalization:
    raw_a(v) = Σ_{u→v} h(u);  a = raw_a·S div Σraw_a;
    raw_h(u) = Σ_{u→v} a(v);  h = raw_h·S div Σraw_h —
    all integer ops (exact bigint sums, non-negative divisions), so
    an unrolled SQL twin replays every round bit-for-bit.  The totals
    are 1-row aggregates broadcast onto the score frames (the
    control-plane shape, never a data-grain shuffle).

    Returns (node, side['hub'|'authority'], score, score_frac).

    Scale: the edge list pins once (eager — the PageRank lesson:
    deg/nodes/rounds all read it); each round is two keyed joins +
    two map-side-combined aggs; scores checkpoint per round so plan
    depth stays constant in ``iters``."""
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).localCheckpoint(eager=True)
    hubs = e.select("_s").distinct().localCheckpoint(eager=False)
    auths = e.select("_d").distinct().localCheckpoint(eager=False)
    h = hubs.select("_s", F.lit(_SCALE).cast("bigint").alias("_h"))
    a = None
    for _ in range(iters):
        raw_a = (
            e.join(h, "_s")
            .groupBy("_d")
            .agg(F.sum("_h").alias("_ra"))
        )
        ta = raw_a.agg(F.sum("_ra").alias("_ta"))  # 1-row L1 total
        a = (
            auths.join(raw_a, "_d", "left")
            .crossJoin(F.broadcast(ta))
            .select(
                "_d",
                F.expr(
                    f"coalesce(_ra, 0) * {_SCALE} div _ta"
                ).cast("bigint").alias("_a"),
            )
            .localCheckpoint(eager=False)
        )
        raw_h = (
            e.join(a, "_d")
            .groupBy("_s")
            .agg(F.sum("_a").alias("_rh"))
        )
        th = raw_h.agg(F.sum("_rh").alias("_th"))  # 1-row L1 total
        h = (
            hubs.join(raw_h, "_s", "left")
            .crossJoin(F.broadcast(th))
            .select(
                "_s",
                F.expr(
                    f"coalesce(_rh, 0) * {_SCALE} div _th"
                ).cast("bigint").alias("_h"),
            )
            .localCheckpoint(eager=False)
        )
    out_h = h.select(
        F.col("_s").alias("node"),
        F.lit("hub").alias("side"),
        F.col("_h").alias("score"),
    )
    out_a = a.select(
        F.col("_d").alias("node"),
        F.lit("authority").alias("side"),
        F.col("_a").alias("score"),
    )
    return out_h.unionByName(out_a).select(
        "node", "side", "score",
        (F.col("score").cast("double") / float(_SCALE))
        .alias("score_frac"),
    )
