"""Dominant-direction analysis over an embedding column: fixed-point
power iteration for the top principal component, engine-deterministic
the same way ``llm/cluster.kmeans_fixed_point`` is.

Why a curation engine needs this: corpus-level embedding spaces are
anisotropic — a handful of dominant directions carry frequency/length
artifacts rather than meaning, and removing the top component(s) before
cosine comparisons measurably improves retrieval and near-dup quality
("All-but-the-Top", Mu & Viswanath 2018; the same post-processing step
appears in SemDeDup-style pipelines before the ε-ball prune).  The
operator scores every document by how much of its (centered) energy
lives in the corpus's top direction — a high ``dom_frac`` marks vectors
that are mostly artifact, and the ``proj`` coefficient is exactly what a
debias step subtracts.

Determinism contract (what makes the operator value-oracle-able):

- embeddings quantize to integers (``floor(x * scale)``),
- the mean and all matrix-vector products are INTEGER sums (summed as
  decimal(38,0) on Spark / HUGEINT on the oracle — exact and
  addition-order-independent, so partitioning cannot move a bit),
- the per-iteration normalization is the one float step, and it is
  performed over exactly 64 values in a FIXED left-fold order with the
  same IEEE-754 double operations on both engines (convert → square →
  left-fold add → sqrt → scale → floor), then re-quantized to integers.

Scale shape (100 TB rules): the direction vector is CONTROL-PLANE state
— 64 integers per iteration, the bpe.py merge-rule / kmeans centroid
precedent.  Each power-iteration step is one corpus scan + one
two-stage aggregation whose exchange moves 64 partial sums, never the
data; the driver sees 64 numbers per step and nothing else.  The
returned DataFrame is a MAP-ONLY plan over the final literal direction
(no join, no window, no broadcast exchange), so composing it with a
downstream filter or debias subtract keeps whole-stage codegen intact.
At real scale the centered scan is worth caching across iterations —
a storage-level decision, not a plan change.

Reference anchor: the engine's semantic-curation tier (SURVEY.md §2.12)
sits beside kmeans/SemDeDup in ``llm/cluster.py``; NiFi itself has no
embedding algebra — this is part of the beyond-reference LLM-pipeline
surface the build brief mandates.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, functions as F

from apache_nifi_spark.functions import exact

__all__ = ["dominant_direction"]


def _packed(vals: list[int] | list[list[int]]) -> str:
    """SQL for a control-plane ``array<bigint>`` (or, given a list of
    lists, ``array<array<bigint>>``) literal: one JSON string literal
    that ConstantFolding parses ONCE into a single typed array Literal.
    The plan carries one node instead of one per integer (the kmeans
    analyzer-tax lesson), and no per-row code re-parses or re-casts
    elements — a ``transform(split(…), cast)`` wrapper is a
    non-foldable higher-order function that re-casts every element per
    row (count-min at sf1: 4×1024 casts × 2.7 M rows ≈ 12 s).  Probe one
    element with ``F.element_at(F.expr(_packed(vals)), idx)``."""
    nested = bool(vals) and isinstance(vals[0], list)
    typ = "array<array<bigint>>" if nested else "array<bigint>"
    return f"from_json('{json.dumps(vals, separators=(',', ':'))}', '{typ}')"


def _fold_norm2(xs: list[float]) -> float:
    """Left-fold sum of squares, element order fixed — mirrors the
    oracle's ``list_reduce(list_transform(l, x -> x*x), (a,b) -> a+b)``
    exactly (fold starts FROM the first element, not from 0.0)."""
    acc = xs[0] * xs[0]
    for v in xs[1:]:
        acc = acc + v * v
    return acc


def dominant_direction(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    iters: int = 3,
    scale: int = 1000,
    uscale: int = 10_000,
) -> DataFrame:
    """Score each vector against the corpus's top principal direction.

    Returns (id, proj, cnorm2, dom_frac):

    - ``proj``   — integer projection coefficient ⟨centered, u⟩,
    - ``cnorm2`` — integer squared norm of the centered vector,
    - ``dom_frac`` — proj² / (cnorm2 · ‖u‖²) rounded to 6 dp: the
      fraction of the vector's energy in the dominant direction
      (NULL for an exactly-mean vector).

    The direction ``u`` starts as the all-ones vector (deterministic —
    no seed) and runs ``iters`` fixed-point power steps; each step's
    64 sums are collected as control-plane state and re-inlined as
    literals, so the final plan is map-only.
    """
    from apache_nifi_spark.io import pin_for_rescan

    # pinned read: the mean job + iters power steps + the
    # final projection re-scan this frame (io.pin_for_rescan)
    q = pin_for_rescan(df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * {scale})"
            " as bigint))"
        ).alias("qv"),
    ))
    # Corpus mean, exact integer algebra: decimal(38,0) partial sums per
    # dimension (order-independent), floor(double division) re-quantize —
    # the identical algebra as the oracle's floor(CAST(sum AS DOUBLE)/n).
    mean_rows = (
        q.select(F.posexplode("qv").alias("pos", "v"))
        .groupBy("pos")
        .agg(
            exact.sum_long("v").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("pos")
        .collect()  # control-plane: dim per-dimension sums
    )
    # Empty corpus: no mean to center on — the output is empty whatever
    # direction we pick, so skip the power steps (they would collect an
    # empty w vector and die in the norm fold).
    if not mean_rows:
        m = [0] * dim
        iters = 0
    else:
        m = [int(math.floor(float(r["s"]) / r["n"])) for r in mean_rows]
    # One packed literal (``_packed``): a single Literal AST node instead
    # of ``dim`` of them keeps Catalyst plan analysis O(1) in the vector
    # width, bit-identical to direct literals.
    cq = q.select(
        "_id",
        F.expr(
            f"zip_with(qv, {_packed(m)}, (a, b) -> a - b)"
        ).alias("cv"),
    )

    u = [uscale] * dim
    for _ in range(iters):
        # One scan: s = ⟨c, u⟩ per row (exact bigint fold), then 64
        # decimal partial sums w_j = Σ c_j·s — the only exchange.
        w_rows = (
            cq.select(
                "cv",
                F.expr(
                    f"aggregate(zip_with(cv, {_packed(u)},"
                    " (a, b) -> a * b), cast(0 as bigint),"
                    " (acc, x) -> acc + x)"
                ).alias("s"),
            )
            .select(F.posexplode("cv").alias("pos", "cj"), "s")
            .groupBy("pos")
            .agg(
                exact.sum_long("cj * s").alias("w")
            )
            .orderBy("pos")
            .collect()  # control-plane: dim matrix-vector sums
        )
        wd = [float(r["w"]) for r in w_rows]
        norm = math.sqrt(_fold_norm2(wd)) if wd else 0.0
        if norm == 0.0:
            # Degenerate corpus (all embeddings equal → centered vectors
            # zero → every matrix-vector product zero): the iterate
            # collapsed; keep the previous non-zero u instead of
            # dividing by zero.  dom_frac stays NULL row-wise via the
            # cnorm2 > 0 guard below.
            break
        u = [int(math.floor(uscale * w / norm)) for w in wd]

    un2 = sum(v * v for v in u)  # exact int — ‖u‖², literal below
    proj = F.expr(
        f"aggregate(zip_with(cv, {_packed(u)}, (a, b) -> a * b),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    cnorm2 = F.expr(
        "aggregate(cv, cast(0 as bigint), (acc, x) -> acc + x * x)"
    )
    out = cq.select(
        F.col("_id").alias(id_col),
        proj.alias("proj"),
        cnorm2.alias("cnorm2"),
    )
    frac = F.round(
        (F.col("proj").cast("double") * F.col("proj").cast("double"))
        / (F.col("cnorm2").cast("double") * F.lit(float(un2))),
        6,
    )
    return out.select(
        id_col,
        "proj",
        "cnorm2",
        F.when(F.col("cnorm2") > 0, frac).alias("dom_frac"),
    )
