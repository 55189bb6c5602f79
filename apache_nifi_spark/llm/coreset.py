"""k-center greedy coreset selection (farthest-point sampling) over an
embedding column — the data-pruning / active-learning selection step
(Sener & Savarese 2018, "Active Learning for CNNs: A Core-Set
Approach"; the diversity-selection stage of embedding-based curation
pipelines next to SemDeDup's prune stage): pick K documents such that
every document is close to some pick, by repeatedly taking the point
FARTHEST from the current picks.

Engine-deterministic the same way ``llm/cluster.kmeans_fixed_point``
is: embeddings quantize to integers (``floor(x·scale)``), every
distance is an exact integer squared L2, and every argmax breaks ties
toward the smaller id — so the selected coreset is bit-identical on any
engine and any partitioning, which is what makes a SELECTION operator
value-oracle-able at all.

Scale shape (100 TB rules): the selected centers are CONTROL-PLANE
state — K×dim integers, one argmax row collected per round (the
kmeans-centroid precedent).  Round t is ONE corpus scan: a map-only
fold computing min-distance-to-picks over t literal center vectors,
then a two-stage max(struct) aggregation whose exchange moves one row
per partition.  Total work is O(K·N·dim) — K scans, never a pairwise
join, nothing data-sized at the driver.  The final assignment plan is
map-only over the K literal centers (compose filters/joins downstream
without breaking whole-stage pipelines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.llm.pca import _packed

__all__ = ["kcenter_coreset"]


def _d2(center: list[int]) -> Column:
    """Exact integer squared L2 from the quantized row vector ``qv`` to a
    literal center (packed-string literal: one AST node, folded once)."""
    return F.expr(
        f"aggregate(zip_with(qv, {_packed(center)},"
        " (a, b) -> (a - b) * (a - b)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )


def kcenter_coreset(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """Greedy k-center over the corpus: seed with the smallest id, then
    ``k-1`` rounds of "add the point with the largest distance to its
    nearest pick" (ties → smaller id).

    Returns (id, center_id, d2, is_center): each document's nearest
    coreset pick, the exact integer squared distance to it, and whether
    the document itself was picked.  ``max(d2)`` is the k-center
    covering radius — the coreset quality certificate.
    """
    from apache_nifi_spark.io import pin_for_rescan

    # pinned read: k rounds re-scan this frame (io.pin_for_rescan)
    q = pin_for_rescan(df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * {scale})"
            " as bigint))"
        ).alias("qv"),
    ))

    # seed: smallest id (deterministic, no RNG) — min(struct) carries the
    # vector out in the same aggregation, one job
    seed = q.select(
        F.min(F.struct("_id", "qv")).alias("m")
    ).collect()  # control-plane: 1 row, the seed pick
    if not seed or seed[0]["m"] is None:
        return q.select(
            F.col("_id").alias(id_col),
            F.lit(None).cast("long").alias("center_id"),
            F.lit(None).cast("long").alias("d2"),
            F.lit(False).alias("is_center"),
        )
    centers: list[tuple[int, list[int]]] = [
        (seed[0]["m"]["_id"], list(seed[0]["m"]["qv"]))
    ]
    for _ in range(k - 1):
        # min distance to the picks so far, recomputed per scan from the
        # t literal centers — O(t·dim) per row, no stored state to pin
        dmin = F.least(*[_d2(v) for _, v in centers]) if len(centers) > 1 else _d2(
            centers[0][1]
        )
        # farthest point, ties toward smaller id: max(struct(d, -id)).
        # (d, -id) is unique per row, so the trailing qv never takes part
        # in the comparison — it just rides the argmax out, keeping each
        # round at ONE job.
        far = (
            q.filter(~F.col("_id").isin([cid for cid, _ in centers]))
            .select(
                F.max(
                    F.struct(
                        dmin.alias("d"), (-F.col("_id")).alias("nid"), "qv"
                    )
                ).alias("m"),
            )
            .select(
                F.col("m.d").alias("d"),
                (-F.col("m.nid")).alias("pick"),
                F.col("m.qv").alias("qv"),
            )
            .collect()  # control-plane: 1 row per round, the next pick
        )
        if not far or far[0]["d"] is None:
            break  # fewer distinct points than k
        centers.append((int(far[0]["pick"]), list(far[0]["qv"])))

    # final assignment: nearest pick via lexicographic array_min over
    # (distance, center_id) structs — map-only over K literal centers
    pairs = F.array_min(
        F.array(*[
            F.struct(_d2(v).alias("d"), F.lit(cid).cast("long").alias("cid"))
            for cid, v in centers
        ])
    )
    return q.select(
        F.col("_id").alias(id_col),
        pairs.alias("_best"),
    ).select(
        id_col,
        F.col("_best.cid").alias("center_id"),
        F.col("_best.d").alias("d2"),
        F.col(id_col).isin([cid for cid, _ in centers]).alias("is_center"),
    )
