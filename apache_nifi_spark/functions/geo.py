"""GeohashRecord (§2.4 [2.7.2-surface]: the nifi-geohash bundle's
encode/decode record processor) as pure column bit arithmetic.

A geohash of precision ``p`` is ``5p`` bits: the binary subdivisions of
longitude and latitude interleaved (lon first), grouped into 5-bit
base-32 digits.  The textbook loop ("halve the interval, emit a bit")
is equivalent to one closed form — the lon bits are simply the binary
expansion of ``floor((lon+180)/360 * 2^n_lon)`` (and lat likewise), so
encode = two scale-and-floors + a bit interleave + base-32 digits.
The interleave works on the words' binary strings: a ``0`` goes after
every lon bit and before every lat bit, and the two spread words add.
``conv`` to base 32 and one ``translate`` into the geohash alphabet
give the digits.  Every operand appears once in the expression, so the
tree stays linear in the precision and ``decode(encode(p))`` builds in
milliseconds.  Zero UDFs, whole-stage codegen, and every step is
integer-exact, so the value matches the oracle's shift-and-mask SQL
(:func:`geohash_oracle_sql`) bit for bit.

Decode inverts it: the digits read back to the word's binary string in
one ``conv``, a pairwise regex split de-interleaves the lon/lat bits,
and the cell CENTER is ``min + (x + 0.5) * span / 2^n`` — matching the
reference processor's decoded lat/lon output.

Scale: map-only (no shuffle, no state); at 100 TB this is
scan-bandwidth-bound, the optimal shape for a per-record enrichment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["GEOHASH_ALPHABET", "geohash_encode", "geohash_decode", "geohash_record"]

#: The (public, fixed) geohash base-32 alphabet — no a/i/l/o.
GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"

#: The digits ``conv(…, 10, 32)`` writes, position for position.
_CONV_BASE32 = "0123456789ABCDEFGHIJKLMNOPQRSTUV"


def _bit_counts(precision: int) -> tuple[int, int]:
    total = 5 * precision
    n_lon = (total + 1) // 2  # lon leads the interleave → gets the extra bit
    n_lat = total // 2
    return n_lon, n_lat


def geohash_encode(lat: Column, lon: Column, precision: int = 8) -> Column:
    """Geohash string of the cell containing (lat, lon) at ``precision``
    characters (1..12; 12 = 60 bits, the bigint limit)."""
    if not 1 <= precision <= 12:
        raise ValueError("geohash precision must be in 1..12")
    n_lon, n_lat = _bit_counts(precision)
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << n_lon)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << n_lat)))
    # Clamp the closed upper edge (lon=180, lat=90 scale to 2^n exactly).
    x = F.least(x, F.lit((1 << n_lon) - 1)).cast("long")
    y = F.least(y, F.lit((1 << n_lat) - 1)).cast("long")
    # Interleave into one word: bit k of the word (k=0 ⇒ MSB) comes from
    # lon for even k, lat for odd k.  Spread "b1b2…" to "b1 0 b2 0 …"
    # (lon; "$10" is group 1 then a literal 0) and "0 c1 0 c2 …" (lat),
    # align both to the word's 5p bits and add.
    total = 5 * precision
    ex = F.regexp_replace(F.lpad(F.bin(x), n_lon, "0"), "(.)", "$10")
    ey = F.regexp_replace(F.lpad(F.bin(y), n_lat, "0"), "(.)", "0$1")
    z = F.shiftright(F.conv(ex, 2, 10).cast("long"), 2 * n_lon - total) + F.shiftleft(
        F.conv(ey, 2, 10).cast("long"), total - 2 * n_lat
    )
    return F.translate(
        F.lpad(F.conv(z.cast("string"), 10, 32), precision, "0"),
        _CONV_BASE32,
        GEOHASH_ALPHABET,
    )


def geohash_decode(gh: Column, precision: int = 8) -> tuple[Column, Column]:
    """(lat, lon) center of the geohash cell.  ``precision`` must match
    the string length (fixed-width codegen — the record-pipeline case)."""
    n_lon, n_lat = _bit_counts(precision)
    total = 5 * precision
    # The word's 5p bits as a string, right-padded to whole (lon, lat)
    # pairs; "(.)(.)" then keeps the lon bits ("$1") or the lat bits
    # ("$2", whose pad bit the shift drops).
    word = F.lpad(F.conv(F.translate(gh, GEOHASH_ALPHABET, _CONV_BASE32), 32, 2), total, "0")
    pairs = F.rpad(word, 2 * n_lon, "0")
    x = F.conv(F.regexp_replace(pairs, "(.)(.)", "$1"), 2, 10).cast("long")
    y = F.shiftright(
        F.conv(F.regexp_replace(pairs, "(.)(.)", "$2"), 2, 10).cast("long"),
        n_lon - n_lat,
    )
    lon = F.lit(-180.0) + (x.cast("double") + F.lit(0.5)) * F.lit(360.0) / F.lit(
        float(1 << n_lon)
    )
    lat = F.lit(-90.0) + (y.cast("double") + F.lit(0.5)) * F.lit(180.0) / F.lit(
        float(1 << n_lat)
    )
    return lat, lon


def geohash_record(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    precision: int = 8,
    out_col: str = "geohash",
) -> DataFrame:
    """The GeohashRecord processor's ENCODE mode: append the geohash of
    each record's (lat, lon)."""
    return df.withColumn(
        out_col, geohash_encode(F.col(lat_col), F.col(lon_col), precision)
    )


def geohash_oracle_sql(
    precision: int = 8, lat: str = "lat", lon: str = "lon"
) -> tuple[str, str, str, str]:
    """The identical closed-form encode as engine-portable SQL fragments
    (DuckDB dialect): (x_expr, y_expr, z_expr-over-gx/gy,
    digits_expr-over-gz).  Used by the registry oracle so both engines
    run the SAME arithmetic, not two implementations of 'geohash'."""
    n_lon, n_lat = _bit_counts(precision)
    total = 5 * precision
    x = f"least(CAST(floor(({lon} + 180.0) / 360.0 * {float(1 << n_lon)}) AS BIGINT), {(1 << n_lon) - 1})"
    y = f"least(CAST(floor(({lat} + 90.0) / 180.0 * {float(1 << n_lat)}) AS BIGINT), {(1 << n_lat) - 1})"
    parts = []
    for k in range(total):
        if k % 2 == 0:
            src, bit = "gx", n_lon - 1 - k // 2
        else:
            src, bit = "gy", n_lat - 1 - k // 2
        # Fully parenthesized: SQL shift binds looser than '+', so an
        # unwrapped `a << 39 + b << 37` would parse as nested shifts.
        parts.append(f"((({src} >> {bit}) & 1) << {total - 1 - k})")
    z = " + ".join(parts)
    digits = " || ".join(
        f"substr('{GEOHASH_ALPHABET}', CAST(((gz >> {5 * (precision - 1 - i)}) & 31) + 1 AS INT), 1)"
        for i in range(precision)
    )
    return x, y, z, digits
