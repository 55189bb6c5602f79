"""Near-duplicate clustering: connected components over candidate-pair
edges, and the full dedup-cluster pipeline built on it.

Pair detectors (``ngram_jaccard_pairs``, ``lsh_candidate_pairs``,
``embedding_cosine_duplicates``) emit an EDGE LIST; turning edges into
dedup decisions ("keep one representative per duplicate *cluster*")
needs connected components — A~B and B~C must collapse A,B,C together
even though A,C were never compared.

Algorithm: iterative min-label propagation entirely in DataFrame ops
(union + groupBy-min per round, lineage cut with ``localCheckpoint``
each iteration so plans stay bounded), accelerated with pointer-jump
shortcutting: each round a node also adopts the label of its *label
node* (``component ← component[component]``), which halves label-chain
depth per round — the Shiloach-Vishkin shortcut, the same O(log²)
convergence class as the large-star/small-star formulation (Kiveris
et al., "Connected Components in MapReduce and Beyond") built from the
same join/groupBy primitives.  Plain propagation needs O(diameter)
rounds (a 1000-node chain would blow any sane iteration budget); with
the jump a chain converges in O(log n) rounds.  At 100 TB the loop
holds: each round is one shuffle on the edge list plus one |V|-row
label self-join, no driver-side data, no collect.  Exhausting
``max_iter`` without reaching the fixpoint raises rather than
returning silently-wrong labels.

NiFi parity: the reference engine has no graph operator at all
(SURVEY.md §2 — `DetectDuplicate` is exact-key only); this is a
beyond-reference operator mandated by the LLM-data-pipeline surface
(SURVEY.md §2.12).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.llm.pca import _packed

__all__ = [
    "kmeans_with_centroids",
    "connected_components",
    "near_dup_clusters",
    "kmeans_fixed_point",
    "semantic_dedup",
]


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Label each node with ``min(id)`` of its connected component.

    ``nodes``: one column ``node_col`` (every node gets a label —
    isolated nodes become singleton components).  ``edges``: undirected
    pairs ``(src_col, dst_col)``.  Returns ``(id, component)``.

    Deterministic fixpoint (min reachable id), so the result is
    engine-portable: DuckDB reaches the identical fixpoint with a
    recursive CTE, which is how the registry value-oracles this.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't reach the
    fixpoint — unconverged labels are indistinguishable from correct
    output, so silence would be a correctness bug.  With the pointer
    jump the bound is O(log |V|) rounds even on a path graph, so the
    default of 25 covers components up to ~2^25 nodes deep.
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
    )
    labels = nodes.select(F.col(node_col).alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)

    # AQE re-plans every stage of every round; for this loop the label
    # table's shape is known and stable (|V| rows, two columns), so the
    # runtime re-optimization is pure per-round overhead (~30% of loop
    # wall here).  Scope it off for the loop and restore after — the
    # measured tradeoff only reverses when a single round's shuffle is
    # big enough to need skew handling, which the edge-list dedup
    # upstream already bounds.
    spark = nodes.sparkSession
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        converged, labels = _propagate(sym, labels, max_iter)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels would be silently wrong — raise max_iter"
        )
    return labels


def _propagate(
    sym: DataFrame, labels: DataFrame, max_iter: int
) -> tuple[bool, DataFrame]:
    converged = False
    for _ in range(max_iter):
        # Each node offers its current label to every neighbor; the
        # pointer jump additionally offers component[component] (label
        # of the label node — always in the same component, so the
        # fixpoint is unchanged, only reached quadratically faster).
        # One edge shuffle + one |V|-row label self-join per round.
        offers = sym.join(labels, sym["dst"] == labels["id"]).select(
            sym["src"].alias("id"), "component"
        )
        hop = labels.select(
            F.col("id").alias("__cid"), F.col("component").alias("__ccomp")
        )
        jumped = labels.join(hop, labels["component"] == hop["__cid"]).select(
            "id", F.col("__ccomp").alias("component")
        )
        # min over external candidates, LEFT-joined back onto the label
        # table so new = least(own, candidates) — labels only decrease,
        # so `cand < own` IS the per-node change flag, computed in the
        # same pass (the old formulation spent an extra join + shuffle
        # per round re-deriving it from old-vs-new).
        mins = (
            offers.union(jumped)
            .groupBy("id")
            .agg(F.min("component").alias("__cand"))
        )
        new_labels = (
            labels.join(mins, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("__cand", "component")
                ).alias("component"),
                (F.col("__cand") < F.col("component")).alias("__chg"),
            )
            # eager=False: the change-flag count right below is the
            # round's one action and materializes the pin itself — the
            # eager variant cost a second full job per round (measured
            # 2.6 s → 2.0 s warm / 11.2 s → 2.1 s cold at sf0.1).
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter("__chg").limit(1).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            converged = True
            break
    return converged, labels


def near_dup_clusters(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    n: int = 3,
    threshold: float = 0.5,
    max_iter: int = 25,
) -> DataFrame:
    """Full near-dup clustering: blocked n-gram Jaccard pairs →
    connected components → per-doc ``(doc_id, cluster_id, is_rep)``.

    ``is_rep`` marks the canonical survivor (min doc_id per cluster) —
    ``filter(is_rep)`` IS the dedup; the full mapping preserves
    provenance of what collapsed into what.
    """
    from apache_nifi_spark.llm.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        documents, id_col, text_col, block_col, n=n, threshold=threshold
    )
    comp = connected_components(
        documents.select(F.col(id_col).alias("id")),
        pairs,
        node_col="id",
        src_col="id_a",
        dst_col="id_b",
        max_iter=max_iter,
    )
    return comp.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_rep"),
    )


def kmeans_fixed_point(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """Semantic corpus clustering (SemDeDup-style curation, SURVEY.md
    §2.12): Lloyd's k-means over an embedding column, made
    ENGINE-DETERMINISTIC by fixed-point arithmetic — embeddings quantize
    to integers (``floor(x * scale)``), distances are integer squared
    L2, and centroid updates are ``floor(sum / count)`` per dimension.
    Integer sums are addition-order-independent, so the result is
    bit-identical on any engine and any partitioning — which is what
    makes the operator value-oracle-able (float k-means is not: its
    mean reductions drift by partition order) and its runs reproducible
    (a data-curation requirement: re-clustering the same corpus must
    yield the same shards).

    Ties (equidistant centroids) break toward the lower cluster id;
    initial centroids are the ``k`` lowest-id vectors (deterministic
    init — swap in k-means|| sampling at scale if desired, determinism
    then costs a seed).

    Scale shape: centroids are CONTROL-PLANE state — K×dim integers
    (the bpe.py merge-rule precedent), collected per iteration and
    re-inlined as a literal, so the assignment step is MAP-ONLY (a
    per-row fold over the K literal centroids: no crossJoin, no window,
    no broadcast exchange) and the update step is ONE aggregation of
    (Σval, count) per (cluster, pos) whose exchange moves only K×dim
    partial sums, never the data; the driver collects those ≤ K×dim
    pairs and divides (``floor_means``).  Each Lloyd pass is therefore
    exactly one corpus scan + one tiny shuffle; the returned assignment
    is a LAZY map-only plan over the final centroids, with depth
    constant in ``iters`` (asserted in tests/test_plans.py).  Only centroid state ever reaches the driver.

    Returns (id, cluster, dist) — dist is the final integer squared
    distance, the SemDeDup "keep nearest to centroid" signal.
    """
    assigned, _cent = _kmeans_impl(df, id_col, vec_col, k, iters, scale)
    return assigned


def kmeans_with_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    scale: int = 1000,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """:func:`kmeans_fixed_point` plus the FINAL centroid table
    [(cluster, quantized_vector)] — the control-plane artifact the PQ
    codebooks (llm/pq.py) and any assign-new-data pipeline need."""
    return _kmeans_impl(df, id_col, vec_col, k, iters, scale)


def floor_means(dims: DataFrame, keys: list[str]) -> dict[tuple, list[int]]:
    """One Lloyd centroid update (``_kmeans_impl``, ``pq.pq_train_encode``):
    ``dims`` rows are (``keys``…, ``pos``, ``val``); returns ``{keys:
    [floor(CAST(Σval AS DOUBLE) / count) per pos, in pos order]}``.  The
    driver divides the ≤ K×dim collected (sum, count) pairs: Python's
    ``float(int)`` and ``/`` are the SQL cast and division's IEEE double
    ops, so a sum past 2^53 rounds alike.  A centroid no row chose is
    absent, as in the oracle's GROUP BY."""
    rows = (
        dims.groupBy(*keys, "pos")
        .agg(F.sum("val"), F.count(F.lit(1)))
        .collect()  # control-plane: ≤ K×dim partial sums
    )
    means: dict[tuple, list[int]] = {}
    for *key, _pos, s, n in sorted(rows, key=lambda r: r[len(keys)]):
        means.setdefault(tuple(key), []).append(math.floor(float(s) / n))
    return means


def _kmeans_impl(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
    scale: int,
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    from apache_nifi_spark.io import pin_for_rescan

    # pinned read: init + every Lloyd round + the returned
    # assignment re-scan this frame (io.pin_for_rescan)
    q = pin_for_rescan(df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * {scale})"
            " as bigint))"
        ).alias("qv"),
    ))
    # Deterministic init: the k lowest-id vectors, cluster ids 0..k-1 in
    # _id order.  K rows — control-plane by construction.
    init = q.orderBy("_id").limit(k).collect()  # control-plane: K centroid seeds
    cent = [
        (i, [int(v) for v in r["qv"]])
        for i, r in enumerate(sorted(init, key=lambda r: r["_id"]))
    ]

    def _score(cent_pairs):
        """Map-only scoring against a literal centroid table: per row,
        dists[i] = Σ(qv−cvᵢ)², argmin position → cluster id (array_position
        first-match semantics = lower-cluster tie-break, matching the
        oracle's ``ORDER BY dist, cluster``).

        The K×dim centroid table is ONE packed literal (``_packed``):
        Catalyst carries a single Literal AST node instead of K·dim of
        them, and ConstantFolding parses it into the typed
        array-of-arrays once per plan, not per row.  With inline
        ``array(array(...))`` literals every analyzer/optimizer rule
        walks 512+ nodes per plan, which measured ~1 s of driver-side
        plan time PER ITERATION at K=8·dim=64 (the dominant cost of the
        whole operator — the 2 000-row execution itself is ~50 ms).
        The parsed integers are bit-identical to the direct literals."""
        table = _packed([cv for _, cv in cent_pairs])
        ids = ", ".join(str(c) + "L" for c, _ in cent_pairs)
        scored = q.withColumn(
            "dists",
            F.expr(
                f"transform({table},"
                " cv -> aggregate(zip_with(qv, cv,"
                " (a, b) -> (a - b) * (a - b)), cast(0 as bigint),"
                " (acc, x) -> acc + x))"
            ),
        )
        return scored.select(
            "_id",
            "qv",
            F.expr(
                f"element_at(array({ids}), cast(array_position(dists,"
                " array_min(dists)) as int))"
            ).alias("cluster"),
            F.array_min("dists").alias("dist"),
        )

    for _ in range(iters - 1):
        dims = _score(cent).select(
            "cluster", F.posexplode("qv").alias("pos", "val")
        )
        cent = sorted((c, cv) for (c,), cv in floor_means(dims, ["cluster"]).items())
    return (
        _score(cent).select(F.col("_id").alias(id_col), "cluster", "dist"),
        cent,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    eps: float = 0.3,
    scale: int = 1000,
    target_cell: int = 10_000,
    block: int = 1024,
) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space with k-means, then
    prune WITHIN each cluster any document whose cosine similarity to a
    lower-id cluster-mate reaches ``eps``.  Cross-cluster pairs are
    never compared — that is the whole point: the k-means blocking
    turns an O(N²) semantic-similarity sweep into K bounded cells.

    Determinism — the whole decision path is INTEGER arithmetic:
    vectors quantize to ``floor(x·scale)`` (the clustering's own
    fixed-point domain), and the keep rule compares
    ``eps_den²·⟨qᵢ,qⱼ⟩² ≥ eps_num²·‖qᵢ‖²·‖qⱼ‖²  (and ⟨qᵢ,qⱼ⟩ > 0)``
    with ``eps = eps_num/eps_den`` exact (``Fraction(str(eps))``), so
    the boundary is bit-identical on any engine/partitioning with no
    IEEE-rounding caveats at all.  The keep rule is order-free — a
    document is dropped iff SOME lower-id document in its cluster is
    ``eps``-close (the paper keeps one representative per ε-ball;
    lowest-id is our total-ordered choice).

    Scale shape: one map-only k-means pass (see ``kmeans_fixed_point``),
    then ONE hash partition BY CLUSTER into an Arrow-batched
    ``applyInPandas`` cell sweep — each row moves across the wire
    exactly once (a pair-join materializes O(pairs) vector copies:
    measured 250 k × 1 KB ≈ 250 MB of pair rows at a 2 000-doc bench
    cell, which was the operator's entire wall).  Inside a cell the
    pairwise dots are one BLAS ``Q·Qᵀ`` in float64 — EXACT, because
    every product and partial sum of the quantized integers stays
    ≤ dim·scale² = 6.4e7 ≪ 2⁵³ — then the threshold comparison runs in
    int64 (object-int fallback if ``eps``'s denominator would overflow
    the int64 headroom).  Row blocks of ``block`` keep the score
    matrix at O(block·cell) memory, so a paper-sized 10⁴-row cell
    costs ~80 MB, not 800 MB.  ``k="auto"`` sizes the blocking to the
    corpus (``max(8, ceil(n/target_cell))``) so cells stay bounded AND
    the cell shuffle has enough distinct keys to occupy every core.

    Returns (id, cluster, dist, kept) — one row per input document,
    ``kept = false`` for pruned near-duplicates.
    """
    from fractions import Fraction

    import numpy as np
    import pandas as pd

    frac = Fraction(str(eps))
    en, ed = frac.numerator, frac.denominator
    if k == "auto":
        n_docs = df.count()  # control-plane: one scalar for the k sizing
        k = max(8, -(-n_docs // target_cell))
    # Pin the assignment ONCE: without the cut the cell sweep's lineage
    # would re-run the whole clustering per consumer (round-8 verdict:
    # 8.16 s wall, 3× re-execution).  eager=False folds materialization
    # into the first consuming job.
    assigned = kmeans_fixed_point(df, id_col, vec_col, k, iters, scale).localCheckpoint(
        eager=False
    )
    qv = df.select(
        F.col(id_col).alias("_vid"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * {scale})"
            " as bigint))"
        ).alias("_qv"),
    )
    d = assigned.join(qv, F.col(id_col) == F.col("_vid")).select(
        id_col, "cluster", "dist", "_qv"
    )

    idc, en2, ed2 = id_col, en * en, ed * ed

    def _cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(idc, kind="mergesort").reset_index(drop=True)
        q = np.stack(pdf["_qv"].to_numpy()).astype("float64")
        m_rows = q.shape[0]
        # int64 headroom check: ed²·dot² and en²·n2·n2 must fit 2⁶³-1.
        maxdot = float(q.shape[1]) * scale * scale
        exact64 = max(en2, ed2) * maxdot * maxdot <= float(2**63 - 1)
        n2 = np.rint(np.einsum("ij,ij->i", q, q)).astype("int64")
        dropped = np.zeros(m_rows, dtype=bool)
        for a in range(0, m_rows, block):
            b = min(a + block, m_rows)
            if a == 0 and b == 1:
                continue  # first row has no lower-id mates
            dots = np.rint(q[a:b] @ q[:b].T).astype("int64")
            if exact64:
                close = (dots > 0) & (
                    ed2 * dots * dots >= en2 * np.outer(n2[a:b], n2[:b])
                )
            else:  # exact Python-int fallback for extreme eps rationals
                di = dots.astype(object)
                close = (dots > 0) & (
                    ed2 * di * di >= en2 * np.outer(n2[a:b], n2[:b]).astype(object)
                ).astype(bool)
            # strict lower triangle relative to ABSOLUTE row index
            cols = np.arange(b)
            rows = np.arange(a, b)[:, None]
            dropped[a:b] = (close & (cols < rows)).any(axis=1)
        return pd.DataFrame(
            {
                idc: pdf[idc],
                "cluster": pdf["cluster"],
                "dist": pdf["dist"],
                "kept": ~dropped,
            }
        )

    return d.groupBy("cluster").applyInPandas(
        _cell, schema=f"{id_col} long, cluster long, dist long, kept boolean"
    )
