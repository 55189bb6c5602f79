"""Product quantization for embedding search (§2.12 similarity tier —
Jégou, Douze & Schmid 2011, the ANN memory-compression standard): split
each vector into ``m`` subvectors, learn a ``k``-centroid codebook per
subspace, store each vector as ``m`` small codes, and score queries by
ASYMMETRIC DISTANCE COMPUTATION (ADC) — the query precomputes its
distance to every codebook centroid once (an m×k table), and a corpus
vector's approximate distance is just ``m`` table lookups.  This is the
tier between the brute-force/IVF scorers and raw storage: 64 floats →
4 bytes here (m=4, k=16).

Engine-determinism (what makes a trained quantizer value-oracle-able):
codebooks come from the repo's fixed-point k-means arithmetic
(``llm/cluster`` — integer quantize, integer squared L2, floor-mean
updates through the shared ``floor_means``, lowest-id ties), the ADC
table is integer squared L2 between the QUANTIZED query and the
integer centroids (computed driver-side from control-plane state), and
the final score is an exact bigint sum of ``m`` table lookups — no
float anywhere past the initial quantization.

Scale shape (100 TB rules): each subspace's training is the kmeans
shape (map-only assignment over literal centroids + one K×dim partial
sum exchange per Lloyd round); ENCODING is one map-only projection of
every subspace's final assignment to (id, code_0..code_{m-1}); the ADC
table is m·k control-plane integers riding as packed literals, so
SCORING is one map-only projection (``element_at`` lookups into
constant-folded packed literals) plus a TakeOrdered top-k.  Nothing
corpus-sized reaches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.llm.cluster import floor_means
from apache_nifi_spark.llm.pca import _packed

__all__ = ["pq_train_encode", "pq_adc_topk"]


def _sub_cluster(
    cent_pairs: list[tuple[int, list[int]]], off: int, sub: int
) -> Column:
    """Map-only subspace assignment against a literal codebook: the
    per-subspace copy of ``llm/cluster._kmeans_impl``'s scoring —
    identical integer arithmetic (Σ(a−b)² over the quantized subvector,
    argmin via ``array_position`` first-match = lower-cluster-id ties),
    only the input is ``slice(qv, off+1, sub)`` instead of a
    pre-sliced column.  Same packed-literal discipline (ONE string
    literal per codebook, not k·sub AST nodes)."""
    table = _packed([cv for _, cv in cent_pairs])
    ids = ", ".join(str(c) + "L" for c, _ in cent_pairs)
    dists = (
        f"transform({table},"
        f" cv -> aggregate(zip_with(slice(qv, {off + 1}, {sub}), cv,"
        " (a, b) -> (a - b) * (a - b)), cast(0 as bigint),"
        " (acc, x) -> acc + x))"
    )
    return F.expr(
        f"element_at(array({ids}), cast(array_position({dists},"
        f" array_min({dists})) as int))"
    )


def pq_train_encode(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
) -> tuple[DataFrame, list[list[tuple[int, list[int]]]]]:
    """Train ``m`` subspace codebooks and encode the corpus.

    Returns (codes_df, codebooks): codes_df is (id, code_0..code_{m-1})
    — each code the subspace's k-means cluster id — and codebooks is the
    control-plane list of per-subspace [(cluster, centroid_ints)]."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    # FUSED training (r16 optimization): the m subspace k-means runs are
    # independent, so every pass is shared — quantize the full vector
    # once, collect ONE k-seed job and slice driver-side, run each Lloyd
    # round as ONE job computing all m assignments + all m·k·sub
    # centroid partial means (posexplode with subspace = pos DIV sub),
    # and encode with ONE map-only projection.  Replaces m separate
    # kmeans loops (m·iters jobs) + an (m−1)-way id self-join to
    # assemble the codes; per-subspace arithmetic is bit-identical
    # (integer slices, argmin ties, floor means all unchanged), so the
    # trained codebooks and codes are the same rows.
    # One pinned read: the seed job, every Lloyd round and the encode
    # re-read this frame (io.pin_for_rescan).
    from apache_nifi_spark.io import pin_for_rescan

    q = pin_for_rescan(df.select(
        F.col(id_col).alias("_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double)"
            f" * {scale}) as bigint))"
        ).alias("qv"),
    ))

    # Deterministic init, shared by all subspaces: the k lowest-id
    # vectors (same rows for every subspace), cluster ids 0..k-1.
    init = q.orderBy("_id").limit(k).collect()  # control-plane: K seeds
    init = sorted(init, key=lambda r: r["_id"])
    books: list[list[tuple[int, list[int]]]] = [
        [
            (i, [int(v) for v in r["qv"][j * sub : (j + 1) * sub]])
            for i, r in enumerate(init)
        ]
        for j in range(m)
    ]

    for _ in range(iters - 1):
        assigned = q.select(
            "qv",
            *[
                _sub_cluster(books[j], j * sub, sub).alias(f"_c{j}")
                for j in range(m)
            ],
        )
        # one exchange: (subspace, cluster, pos-in-subspace) partial
        # sums for ALL subspaces — ≤ m·k·sub control-plane rows out
        dims = assigned.select(
            *[f"_c{j}" for j in range(m)],
            F.posexplode("qv").alias("_pos", "_val"),
        ).select(
            (F.col("_pos") / sub).cast("int").alias("_j"),
            F.element_at(
                F.array(*[F.col(f"_c{j}") for j in range(m)]),
                (F.col("_pos") / sub).cast("int") + 1,
            ).alias("cluster"),
            (F.col("_pos") % sub).alias("pos"),
            F.col("_val").alias("val"),
        )
        new = floor_means(dims, ["_j", "cluster"])
        # Empty clusters simply vanish, independently per subspace.
        books = [
            sorted((c, cv) for (jj, c), cv in new.items() if jj == j)
            for j in range(m)
        ]

    # encode: ONE map-only projection, no joins
    codes = q.select(
        F.col("_id").alias(id_col),
        *[
            _sub_cluster(books[j], j * sub, sub).alias(f"code_{j}")
            for j in range(m)
        ],
    )
    return codes, books


def pq_adc_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    scale: int = 1000,
    top: int = 20,
) -> DataFrame:
    """Top-``top`` nearest corpus vectors to ``query_vec`` by PQ/ADC:
    train + encode, build the query's m×k integer distance table
    driver-side, score every vector with ``m`` constant-folded table
    lookups, TakeOrdered by (adc_dist, id).

    Returns (id, code_0..code_{m-1}, adc_dist)."""
    sub = dim // m
    codes, books = pq_train_encode(
        df, id_col, vec_col, dim, m, k, iters, scale
    )
    import math

    qq = [int(math.floor(float(x) * scale)) for x in query_vec]
    adc = None
    for j, cent in enumerate(books):
        qsub = qq[j * sub : (j + 1) * sub]
        max_c = max(c for c, _ in cent)
        # table indexed by cluster id; ids can be sparse (empty clusters
        # vanish) — unreachable slots hold 0 and are never probed
        table = [0] * (max_c + 1)
        for c, cv in cent:
            table[c] = sum((a - b) * (a - b) for a, b in zip(qsub, cv))
        term = F.element_at(
            F.expr(_packed(table)), F.col(f"code_{j}").cast("int") + 1
        )
        adc = term if adc is None else adc + term
    return (
        codes.select(
            id_col,
            *[f"code_{j}" for j in range(m)],
            adc.alias("adc_dist"),
        )
        .orderBy("adc_dist", id_col)
        .limit(top)
    )
