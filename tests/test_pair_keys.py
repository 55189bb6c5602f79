"""r17 (r16 verdict #1 / advice, medium): the join-free basket pair
generation must stay EXACT when item ids reach 2^32 (TPC-H partkey
crosses it around SF 21k, inside the 100 TB envelope) — the packed
bigint key is gated on the observed id range and the struct-pair path
takes over above it, producing the identical pair multiset."""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import functions as F

from apache_nifi_spark.registry_analytics import (
    _PACK_ID_MAX,
    _basket_pair_counts,
)

WIDE = _PACK_ID_MAX  # 2^32: first id the packed key cannot carry


def _items(spark, rows):
    return spark.createDataFrame(rows, "basket long, item long")


def _expected(rows, directed):
    per_basket: dict[int, set[int]] = {}
    for b, i in rows:
        per_basket.setdefault(b, set()).add(i)
    counts: dict[tuple[int, int], int] = {}
    for its in per_basket.values():
        for a, c in combinations(sorted(its), 2):
            pairs = [(a, c), (c, a)] if directed else [(a, c)]
            for p in pairs:
                counts[p] = counts.get(p, 0) + 1
    return counts


def _collect(df):
    return {
        (r["item_a"], r["item_b"]): r["n"] for r in df.collect()
    }


def test_packed_path_matches_reference_small_ids(spark):
    rows = [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (3, 10), (3, 20)]
    for directed in (False, True):
        got = _collect(_basket_pair_counts(_items(spark, rows), directed))
        assert got == _expected(rows, directed)


def test_wide_ids_use_exact_fallback(spark):
    # ids straddling 2^32: the packed bigint would wrap/collide here —
    # e.g. (WIDE+1, 5) and (1, WIDE+5)-style aliasing — the gate must
    # route to the struct path and keep every pair exact
    rows = [
        (1, WIDE + 1), (1, WIDE + 5), (1, 5),
        (2, WIDE + 1), (2, WIDE + 5),
        (3, WIDE + 1), (3, 5),
    ]
    for directed in (False, True):
        df = _basket_pair_counts(_items(spark, rows), directed)
        got = _collect(df)
        assert got == _expected(rows, directed)
        # every id must come back untruncated (would fail on a 32-bit
        # wrap: WIDE+1 -> 1)
        ids = {k for pair in got for k in pair}
        assert WIDE + 1 in ids and WIDE + 5 in ids


def test_high_half_range_ids_decode_exactly(spark):
    # a in [2^31, 2^32) packs to a NEGATIVE bigint; the unsigned-shift
    # decode must still return the exact ids (the r16 shiftright decode
    # sign-extended here)
    hi = (1 << 32) - 2
    lo = (1 << 31) + 3
    rows = [(1, lo), (1, hi), (2, lo), (2, hi)]
    got = _collect(_basket_pair_counts(_items(spark, rows), False))
    assert got == {(lo, hi): 2}


def test_int_item_column_packs_without_collisions(spark):
    # an IntegerType item column: shiftleft on int wraps its distance
    # mod 32, so without the bigint cast (1, 4) and (2, 3) both pack to 5
    rows = [(1, 1), (1, 4), (2, 2), (2, 3), (3, 1), (3, 4)]
    items = spark.createDataFrame(rows, "basket long, item int")
    for directed in (False, True):
        got = _collect(_basket_pair_counts(items, directed))
        assert got == _expected(rows, directed)


def test_negative_ids_use_exact_fallback(spark):
    rows = [(1, -7), (1, 4), (2, -7), (2, 4)]
    got = _collect(_basket_pair_counts(_items(spark, rows), False))
    assert got == {(-7, 4): 2}
