"""Bloom-filter decontamination (§2.12 hygiene tier): flag corpus
documents whose token n-grams MAY appear in a held-out benchmark set,
using a Bloom filter instead of :func:`llm/text.decontaminate`'s gram
equi-join — the constant-memory, scan-only variant production pipelines
use when the corpus side is too large to shuffle (the Dolma/CCNet-class
"membership sketch" pattern; Bloom 1970 for the filter itself).

Why both operators exist: the equi-join variant is exact and pays one
shuffle of the corpus grams; this variant is one MAP-ONLY corpus scan
against an m-bit filter that rides to every task as a literal — no
join, no shuffle, no benchmark broadcast — at the price of a bounded
false-positive rate.  False positives only ever OVER-flag (a clean doc
marked contaminated), the safe direction for decontamination.

Determinism contract: the filter's bit pattern — and therefore every
false positive — is engine-deterministic.  Gram hashes are md5-derived
(the repo's portable hash), the k probe positions use standard double
hashing ``bit_j = (h1 + j·h2) mod m``, and the bitmap packs into
32-bit words of exact integers, so the DuckDB oracle reproduces the
IDENTICAL filter and the differential is value-exact INCLUDING any
false positives.

Scale shape (100 TB rules): building the filter aggregates benchmark
gram bits into ≤ m/32 words (two-stage agg, map-side combine) and
collects them as CONTROL-PLANE state (m = 16 Ki bits → 512 bigints —
the kmeans-centroid precedent); scoring is map-only whole-scan work —
each doc's distinct grams probe k literal-array words.  At a real
benchmark scale, m grows to a few MB and ships as a broadcast variable
instead of a literal; the plan shape is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark.llm.pca import _packed

__all__ = ["bloom_decontaminate"]


def _gram_col(text: Column, n: int) -> Column:
    """Distinct n-gram STRINGS per document (portable md5 hashing needs
    the actual gram text; the equi-join variant's xxhash64 compression
    is Spark-only and deliberately not used here)."""
    toks = F.filter(F.split(text, r"\s+", -1), lambda t: t != "")
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 16384,
    k: int = 3,
) -> DataFrame:
    """Returns (id, n_grams, n_hits, flagged): per corpus document, its
    distinct n-gram count, how many grams the filter claims are in the
    benchmark, and ``flagged = n_hits > 0``."""
    words = m_bits // 32

    def h1(mh: Column) -> Column:
        """first 32 hash bits, from an ALREADY-computed md5 hex digest"""
        return F.conv(F.substring(mh, 1, 8), 16, 10).cast("bigint")

    def h2(mh: Column) -> Column:
        """next 32 hash bits (double-hashing increment)"""
        return F.conv(F.substring(mh, 9, 8), 16, 10).cast("bigint")

    # ---- build: benchmark grams → k bits each → m/32 words (agg) ----
    bbits = (
        benchmark.select(F.explode(_gram_col(F.col(text_col), n)).alias("g"))
        .distinct()
        .select(F.md5("g").alias("mh"))
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(k - 1)),
                    lambda j: (h1(F.col("mh")) + j * h2(F.col("mh"))) % m_bits,
                )
            ).alias("bit")
        )
        .select(
            (F.col("bit") / 32).cast("int").alias("w"),
            # 1 << (bit % 32) via a 32-entry power-of-two literal lookup
            # (pyspark's shiftleft only takes a Python-int shift amount)
            F.element_at(
                F.expr(_packed([1 << b for b in range(32)])),
                (F.col("bit") % 32).cast("int") + 1,
            ).alias("mask"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()  # control-plane: ≤ m/32 filter words
    )
    got = {r["w"]: r["bits"] for r in bbits}
    filt = [int(got.get(i, 0)) for i in range(words)]
    filt_arr = F.expr(_packed(filt))
    pow2_arr = F.expr(_packed([1 << b for b in range(32)]))

    # ---- score: map-only probe of the literal filter.  md5 is hoisted
    # ONCE per gram (a transform to hex digests), each probe then reads
    # two hex slices — not k fresh digests per gram.  The word/mask
    # lookups probe constant-folded packed literals (``_packed``) ----

    def gram_hit(mh: Column) -> Column:
        g1 = F.conv(F.substring(mh, 1, 8), 16, 10).cast("bigint")
        g2 = F.conv(F.substring(mh, 9, 8), 16, 10).cast("bigint")
        checks = []
        for j in range(k):
            bit = (g1 + F.lit(j) * g2) % m_bits
            word = F.element_at(filt_arr, (bit / 32).cast("int") + 1)
            mask = F.element_at(pow2_arr, (bit % 32).cast("int") + 1)
            checks.append(word.bitwiseAND(mask) != 0)
        out = checks[0]
        for c in checks[1:]:
            out = out & c
        return out

    scored = corpus.select(
        F.col(id_col),
        F.transform(
            _gram_col(F.col(text_col), n), lambda g: F.md5(g)
        ).alias("_gh"),
    ).select(
        id_col,
        F.size("_gh").cast("bigint").alias("n_grams"),
        F.size(F.filter(F.col("_gh"), gram_hit)).cast("bigint").alias("n_hits"),
    )
    return scored.select(
        id_col, "n_grams", "n_hits", (F.col("n_hits") > 0).alias("flagged")
    )
