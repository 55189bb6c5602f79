"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The FlowFile shape (SURVEY.md §1.1): ``content BINARY`` + ``attributes
MAP<STRING,STRING>``.  Spark-side plumbing — schema, partitioning, Arrow
batch shape, UDF signatures — is real and tested.  Container-level
decoding is REAL from the stdlib against the public format specs:
``parse_image_dimensions`` (PNG/GIF/BMP/JPEG headers) and
``parse_wav_metadata`` (RIFF/WAVE chunk walk); Pillow takes over image
decode when importable.  Video frame SELECTION is
real for animated GIFs (``parse_gif_frames`` walks the container; the
sampler emits actual frame byte ranges + presentation timestamps).
PIXEL-level decode is REAL for 8-bit non-interlaced PNG (zlib IDAT
inflate + full five-filter unfilter pass — ``png_pixel_rows`` /
``png_pixel_stats``); only learned feature vectors and non-GIF video
containers remain deterministic stubs behind a clearly-marked seam
where a vision encoder / ffmpeg would go (those libraries are not in
this container).

Scale notes: binary payloads ride in parquet/``binaryFile`` columns;
each decoder is a per-row generator run by :func:`io.flat_map`
(``mapInArrow``, one Arrow batch at a time) so the 100 TB path is
executor-parallel with bounded batch memory
(``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from apache_nifi_spark.io import flat_map

__all__ = [
    "attach_binary_content",
    "identify_mime_type",
    "decode_image_features",
    "sample_video_frames",
    "parse_gif_frames",
    "gif_animation_bytes",
    "parse_image_dimensions",
    "png_header_bytes",
    "parse_wav_metadata",
    "wav_header_bytes",
    "decode_audio_metadata",
    "png_pixel_rows",
    "png_pixel_stats",
    "encode_png",
    "decode_image_pixel_stats",
    "encode_flac_streaminfo",
    "parse_flac_streaminfo",
    "encode_mp3_frames",
    "parse_mpeg_audio",
    "decode_audio_container_meta",
]

#: magic-byte prefixes → mime type (IdentifyMimeType analog, §2.3)
_MAGIC = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav-or-avi"),  # RIFF container
    ("494433", "audio/mpeg"),
    ("255044462D", "application/pdf"),
    ("1F8B", "application/gzip"),
]


def attach_binary_content(
    df: DataFrame, source_col: str, attrs: dict[str, str] | None = None
) -> DataFrame:
    """Wrap a column as FlowFile-shaped (content binary, attributes map).

    ``attrs`` are static attribute literals; per-row attributes can be
    merged later with ``map_concat``.
    """
    attr_items: list = []
    for k, v in (attrs or {}).items():
        attr_items.extend([F.lit(k), F.lit(v)])
    return df.withColumns(
        {
            "content": F.col(source_col).cast("binary"),
            "attributes": F.create_map(*attr_items)
            if attr_items
            else F.create_map().cast("map<string,string>"),
        }
    )


def identify_mime_type(
    df: DataFrame, content_col: str = "content", out_col: str = "mime_type"
) -> DataFrame:
    """IdentifyMimeType: sniff magic bytes — pure column expressions
    (hex prefix + CASE), no UDF."""
    prefix = F.hex(F.substring(F.col(content_col), 1, 8))
    expr = F.lit("application/octet-stream")
    for magic, mime in reversed(_MAGIC):
        expr = F.when(prefix.startswith(magic), F.lit(mime)).otherwise(expr)
    return df.withColumn(out_col, expr)


#: output schema of the (stubbed) image feature extractor
IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


try:  # PIL decodes (any format it knows) when available in the env
    from PIL import Image as _PILImage  # pragma: no cover - not in container
except ImportError:
    _PILImage = None


def parse_image_dimensions(payload: bytes) -> tuple[int, int] | None:
    """REAL stdlib header decode: (width, height) for PNG / GIF / BMP /
    JPEG containers, parsed per the public format specs — no imaging
    library needed.  Returns None for unrecognized/truncated payloads.

    - PNG: IHDR width/height, big-endian u32 at bytes 16/20.
    - GIF (87a/89a): logical-screen w/h, little-endian u16 at 6/8.
    - BMP: BITMAPINFOHEADER width/height, little-endian i32 at 18/22.
    - JPEG: walk the marker stream to the first SOFn frame header.
    """
    import struct as _struct

    if len(payload) >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = _struct.unpack(">II", payload[16:24])
        return w, h
    if len(payload) >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _struct.unpack("<HH", payload[6:10])
        return w, h
    if len(payload) >= 26 and payload[:2] == b"BM":
        w, h = _struct.unpack("<ii", payload[18:26])
        return w, abs(h)  # negative height = top-down DIB
    if len(payload) >= 4 and payload[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                return None
            marker = payload[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            if pos + 4 > len(payload):
                return None
            seg_len = _struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
            # SOF0-15 minus DHT(C4)/JPG(C8)/DAC(CC) carry the frame size
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if pos + 9 > len(payload):
                    return None
                h, w = _struct.unpack(">HH", payload[pos + 5 : pos + 9])
                return w, h
            pos += 2 + seg_len
    return None


def png_header_bytes(width, height):
    """Column expression building a structurally VALID minimal PNG
    (signature + IHDR with a correct CRC-32 + IEND) from integer
    width/height columns — pure built-ins end to end: int→big-endian via
    ``conv``/``lpad``/``unhex``, the IHDR checksum via Spark's ``crc32``
    (the same ISO-HDLC polynomial PNG specifies).  Used to synthesize
    honest image fixtures executor-side with zero Python in the loop.
    """
    def be32(col) -> F.Column:
        return F.unhex(F.lpad(F.conv(col.cast("string"), 10, 16), 8, "0"))

    # bit depth 8, color type 2 (truecolor), default compression/filter/interlace
    ihdr_body = F.concat(
        F.lit(b"IHDR"), be32(width), be32(height), F.lit(b"\x08\x02\x00\x00\x00")
    )
    return F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),
        F.lit(b"\x00\x00\x00\x0d"),
        ihdr_body,
        be32(F.crc32(ihdr_body)),
        F.lit(b"\x00\x00\x00\x00IEND\xaeB`\x82"),
    )


def parse_wav_metadata(payload: bytes) -> tuple[int, int, int, int] | None:
    """REAL stdlib audio metadata decode: (channels, sample_rate_hz,
    bits_per_sample, n_frames) from a RIFF/WAVE container, walking the
    chunk list per the public spec.  None for non-WAV payloads.
    """
    import struct as _struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    channels = rate = bits = block_align = None
    data_size = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = _struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        if tag == b"fmt " and pos + 24 <= len(payload):
            channels, rate = _struct.unpack("<HI", payload[pos + 10 : pos + 16])
            block_align, bits = _struct.unpack("<HH", payload[pos + 20 : pos + 24])
        elif tag == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if None in (channels, rate, bits, block_align) or data_size is None or block_align == 0:
        return None
    return channels, rate, bits, data_size // block_align


def wav_header_bytes(channels, sample_rate, n_frames, bits: int = 16):
    """Column expression building a spec-valid WAV (RIFF) header from
    integer columns — the audio twin of :func:`png_header_bytes` (pure
    built-ins; little-endian ints via hex byte-swap).  The data chunk
    declares its size but carries no samples (metadata-complete, the
    shape a header-sniffing pipeline stage consumes)."""

    def le(col, nbytes: int) -> F.Column:
        hx = F.lpad(F.conv(col.cast("string"), 10, 16), nbytes * 2, "0")
        swapped = F.concat(
            *[F.substring(hx, (nbytes - 1 - i) * 2 + 1, 2) for i in range(nbytes)]
        )
        return F.unhex(swapped)

    block_align = (channels * F.lit(bits // 8)).cast("long")
    byte_rate = (sample_rate * block_align).cast("long")
    data_size = (n_frames * block_align).cast("long")
    return F.concat(
        F.lit(b"RIFF"),
        le(data_size + 36, 4),
        F.lit(b"WAVEfmt "),
        le(F.lit(16), 4),
        le(F.lit(1), 2),  # PCM
        le(channels.cast("long"), 2),
        le(sample_rate.cast("long"), 4),
        le(byte_rate, 4),
        le(block_align, 2),
        le(F.lit(bits), 2),
        F.lit(b"data"),
        le(data_size, 4),
    )


#: output schema of the audio metadata extractor
AUDIO_METADATA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_audio_metadata(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Audio metadata extraction over binary payloads (row-mapped,
    Arrow-batched) — REAL RIFF/WAVE chunk-walk; non-WAV rows yield nulls.
    """

    def row(doc_id, p):
        m = parse_wav_metadata(p or b"")
        if not m:
            yield doc_id, None, None, None, None, None
            return
        ch, rate, bits, n = m
        yield doc_id, ch, rate, bits, n, (n * 1000) // rate if rate else None

    return flat_map(df, [id_col, content_col], row, AUDIO_METADATA_SCHEMA)


def _decode_one(payload: bytes, dim: int) -> tuple[int, int, list[float]]:
    """Decode one image → (width, height, features).

    Dimension ladder: Pillow when present (full decode, any format) →
    stdlib header parse (:func:`parse_image_dimensions` — REAL for
    PNG/GIF/BMP/JPEG) → deterministic sha256 fallback for payloads that
    are not images at all.  Features: for decodable PNGs the leading
    entries are REAL pixel statistics (channel means + luma mean from
    :func:`png_pixel_stats`, scaled to [-1, 1]); the tail (and the
    whole vector for other formats) is the deterministic byte-hash
    embedding — a learned vision encoder is out of env scope, and its
    IMPLEMENTATION SEAM sits exactly here.
    """
    digest = hashlib.sha256(payload).digest()
    width = height = None
    if _PILImage is not None and payload:
        try:
            import io as _io

            with _PILImage.open(_io.BytesIO(payload)) as im:
                width, height = im.size
        except Exception:
            width = height = None
    if width is None:
        parsed = parse_image_dimensions(payload)
        if parsed is not None:
            width, height = parsed
        else:
            width, height = 64 + digest[0], 64 + digest[1]
    features = [((digest[i % 32] / 255.0) * 2 - 1) for i in range(dim)]
    stats = png_pixel_stats(payload)
    if stats is not None:
        _w, _h, _ch, n, sr, sg, sb, sl = stats
        real = [
            sr / n / 127.5 - 1.0,
            sg / n / 127.5 - 1.0,
            sb / n / 127.5 - 1.0,
            sl / n / 127500.0 - 1.0,
        ]
        features[: min(dim, 4)] = real[: min(dim, 4)]
    return width, height, features


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    mime_col: str = "mime_type",
    dim: int = 16,
) -> DataFrame:
    """Decode image bytes → (width, height, feature vector), Arrow-batched.

    :func:`io.flat_map` runs the per-row decoder over Arrow batches —
    per-partition streaming, bounded memory, the NiFi-2.x-Python-processor
    execution shape (SURVEY.md §2.10).
    """

    def row(doc_id, p, mime="application/octet-stream"):
        yield (doc_id, mime, *_decode_one(p or b"", dim))

    cols = [id_col, content_col] + ([mime_col] if mime_col in df.columns else [])
    return flat_map(df, cols, row, IMAGE_FEATURES_SCHEMA)


#: output schema of the video frame sampler — one row per frame
VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_ts_ms", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)


def parse_gif_frames(payload: bytes) -> list[tuple[int, bytes]] | None:
    """Walk an animated GIF's block stream (GIF89a spec, public):
    header + logical screen descriptor (skipping a global color table if
    flagged), then Graphic Control Extensions (per-frame delay,
    centiseconds) and Image Descriptors (frame: descriptor + optional
    local color table + LZW sub-blocks).  Returns
    ``[(presentation_ts_ms, frame_bytes), …]`` where ``frame_bytes`` is
    the frame's REAL byte range (its GCE + descriptor + pixel data) and
    ts is the cumulative delay before the frame — or None when the
    payload isn't a GIF.  Pure byte arithmetic, no decode of the LZW
    pixel stream (frame selection doesn't need pixels)."""
    if payload is None or payload[:4] != b"GIF8":
        return None
    n = len(payload)
    i = 6 + 7  # header + logical screen descriptor
    if n < i:
        return None
    flags = payload[10]
    if flags & 0x80:  # global color table: 3 × 2^(depth+1) bytes
        i += 3 * (2 << (flags & 0x07))

    def skip_subblocks(j: int) -> int:
        while j < n and payload[j] != 0:
            j += 1 + payload[j]
        return j + 1  # the 0x00 terminator

    frames: list[tuple[int, bytes]] = []
    ts_ms = 0
    pending_delay = 0
    pending_gce_start: int | None = None
    while i < n:
        b = payload[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = payload[i + 1] if i + 1 < n else 0
            start = i
            i += 2
            if label == 0xF9 and i + 5 <= n:  # GCE: len=4, flags, delay LE
                pending_delay = payload[i + 2] | (payload[i + 3] << 8)
                pending_gce_start = start
            i = skip_subblocks(i)
        elif b == 0x2C:  # image descriptor
            start = pending_gce_start if pending_gce_start is not None else i
            j = i + 10
            lflags = payload[i + 9]
            if lflags & 0x80:
                j += 3 * (2 << (lflags & 0x07))
            j += 1  # LZW minimum code size
            j = skip_subblocks(j)
            frames.append((ts_ms, payload[start:j]))
            ts_ms += pending_delay * 10
            pending_delay = 0
            pending_gce_start = None
            i = j
        else:  # corrupt stream — stop at what we have
            break
    return frames


def sample_video_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    every_ms: int = 1000,
    max_frames: int = 4,
) -> DataFrame:
    """Sample frames from video bytes — one output row per sampled frame
    (a one-to-many row map, the UDTF shape of SURVEY.md §2.10).

    REAL for animated GIFs: ``parse_gif_frames`` walks the container and
    the sampler keeps the first frame at-or-after each ``every_ms``
    boundary (up to ``max_frames``), emitting the frame's actual byte
    range and presentation timestamp.  Other containers (mp4/webm) need
    ffmpeg/pyav, absent here — they fall back to deterministic
    digest-stamped pseudo-frames at the sample cadence (the documented
    seam; the Spark-side shape — schema, fan-out, batching — is
    identical either way)."""

    def pick(frames: list[tuple[int, bytes]]) -> list[tuple[int, int, bytes]]:
        out: list[tuple[int, int, bytes]] = []
        next_ts = 0
        for idx, (ts, fb) in enumerate(frames):
            if ts >= next_ts:
                out.append((idx, ts, fb))
                next_ts = ts + every_ms
                if len(out) >= max_frames:
                    break
        return out

    def row(doc_id, raw):
        raw = raw or b""
        frames = parse_gif_frames(raw)
        if frames is not None:
            chosen = pick(frames)
        else:
            d = hashlib.sha256(raw).digest()
            chosen = [(i, i * every_ms, d + bytes([i])) for i in range(max_frames)]
        for idx, ts, fb in chosen:
            yield doc_id, idx, ts, fb

    return flat_map(df, [id_col, content_col], row, VIDEO_FRAMES_SCHEMA)


def gif_animation_bytes(delay_cs, n_frames: int = 4, width: int = 2, height: int = 2):
    """Column expression building a structurally valid ANIMATED GIF89a
    from an integer per-frame-delay column (centiseconds) — the video
    twin of :func:`png_header_bytes` / :func:`wav_header_bytes` (pure
    built-ins, executor-side, zero Python in the loop).  Each of the
    ``n_frames`` frames is a Graphic Control Extension carrying the
    delay + an image descriptor + one pixel-data sub-block (LZW bytes
    are present-but-undecodable filler: frame SELECTION walks block
    lengths, never pixels).  Used to synthesize honest video fixtures
    for ``sample_video_frames``."""

    def le16(col) -> F.Column:
        hx = F.lpad(F.conv(col.cast("string"), 10, 16), 4, "0")
        return F.unhex(F.concat(F.substring(hx, 3, 2), F.substring(hx, 1, 2)))

    wh = width.to_bytes(2, "little") + height.to_bytes(2, "little")
    parts = [F.lit(b"GIF89a" + wh + b"\x00\x00\x00")]
    for k in range(n_frames):
        parts.append(F.lit(b"\x21\xf9\x04\x00"))
        parts.append(le16(delay_cs))
        parts.append(F.lit(b"\x00\x00"))
        parts.append(F.lit(b"\x2c\x00\x00\x00\x00" + wh + b"\x00"))
        parts.append(F.lit(b"\x02\x04" + bytes([k, k + 1, k + 2, k + 3]) + b"\x00"))
    parts.append(F.lit(b"\x3b"))
    return F.concat(*parts)


# ------------------------------------------------------ PNG pixel tier ---
#
# Full pixel-level PNG decode from the stdlib: chunk walk (CRC-verified),
# zlib inflate of the IDAT stream, and per-scanline UNFILTERING of all
# five filter types (none/sub/up/average/paeth) per the PNG spec §9 —
# no imaging library.  This replaces the former byte-hash feature stub
# for PNG payloads; the seam for a learned vision encoder remains where
# the derived statistics are turned into a feature vector.

#: output schema of the pixel-statistics decoder; sums are EXACT
#: integers so differential oracles need no float tolerance.
IMAGE_PIXEL_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("sum_luma_milli", LongType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_BPP = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, rgb, gray+alpha, rgba


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_pixel_rows(payload: bytes):
    """Decode a non-interlaced 8-bit PNG to reconstructed scanlines.

    Returns ``(width, height, color_type, [bytes scanline, ...])`` or
    ``None`` when the payload is not a decodable PNG in scope (wrong
    magic, CRC mismatch, interlaced, bit depth != 8, palette).  The
    unfilter pass implements all five PNG filter types.
    """
    import struct as _struct
    import zlib as _zlib

    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        return None
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    try:
        while pos + 8 <= len(payload):
            (clen,) = _struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + clen]
            if len(body) != clen:
                return None
            (crc,) = _struct.unpack(
                ">I", payload[pos + 8 + clen : pos + 12 + clen]
            )
            if _zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                return None  # corrupted chunk
            if ctype == b"IHDR":
                width, height = _struct.unpack(">II", body[0:8])
                bit_depth, color_type, _comp, _filt, interlace = body[8:13]
                if bit_depth != 8 or interlace != 0 or color_type not in _PNG_BPP:
                    return None
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            pos += 12 + clen
        if width is None or not idat or width == 0 or height == 0:
            return None
        bpp = _PNG_BPP[color_type]
        stride = width * bpp
        raw = _zlib.decompress(bytes(idat))
        if len(raw) != height * (stride + 1):
            return None
        rows: list[bytes] = []
        prev = bytes(stride)
        for y in range(height):
            base = y * (stride + 1)
            ft = raw[base]
            line = bytearray(raw[base + 1 : base + 1 + stride])
            if ft == 0:
                pass
            elif ft == 1:  # sub
                for i in range(bpp, stride):
                    line[i] = (line[i] + line[i - bpp]) & 0xFF
            elif ft == 2:  # up
                for i in range(stride):
                    line[i] = (line[i] + prev[i]) & 0xFF
            elif ft == 3:  # average
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
            elif ft == 4:  # paeth
                for i in range(stride):
                    a = line[i - bpp] if i >= bpp else 0
                    c = prev[i - bpp] if i >= bpp else 0
                    line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
            else:
                return None
            prev = bytes(line)
            rows.append(prev)
        return width, height, color_type, rows
    except (_zlib.error, _struct.error, IndexError):
        return None


def png_pixel_stats(payload: bytes):
    """(width, height, channels, n_pixels, sum_r, sum_g, sum_b,
    sum_luma_milli) from a real pixel decode, or None.  Luma uses the
    integer ITU-R BT.601 weights ×1000 (299/587/114) so every field is
    an exact integer — differential-oracle friendly."""
    import numpy as _np

    decoded = png_pixel_rows(payload)
    if decoded is None:
        return None
    width, height, color_type, rows = decoded
    bpp = _PNG_BPP[color_type]
    px = _np.frombuffer(b"".join(rows), dtype=_np.uint8).reshape(
        height * width, bpp
    )
    if color_type in (0, 4):  # grayscale (+alpha): r = g = b = gray
        s = int(px[:, 0].astype(_np.int64).sum())
        sum_r = sum_g = sum_b = s
        channels = bpp
    else:
        sums = px[:, :3].astype(_np.int64).sum(axis=0)
        sum_r, sum_g, sum_b = (int(v) for v in sums)
        channels = bpp
    n = width * height
    return (
        width, height, channels, n,
        sum_r, sum_g, sum_b,
        299 * sum_r + 587 * sum_g + 114 * sum_b,
    )


def encode_png(rows: list[bytes], width: int, height: int, color_type: int = 2) -> bytes:
    """Build a spec-valid PNG from raw scanlines, FILTERING each line
    with the full cycle of filter types (y % 5) — the encoder-side
    inverse of the unfilter pass, so a decode differential exercises
    sub/up/average/paeth, not just 'none'.  Fixture-synthesis helper."""
    import struct as _struct
    import zlib as _zlib

    bpp = _PNG_BPP[color_type]
    stride = width * bpp
    raw = bytearray()
    prev = bytes(stride)
    for y, row in enumerate(rows):
        assert len(row) == stride
        ft = y % 5
        filt = bytearray(stride)
        for i in range(stride):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            c = prev[i - bpp] if i >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            else:
                pred = _paeth(a, b, c)
            filt[i] = (row[i] - pred) & 0xFF
        raw.append(ft)
        raw += filt
        prev = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            _struct.pack(">I", len(body))
            + ctype
            + body
            + _struct.pack(">I", _zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = _struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_image_pixel_stats(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Pixel-statistics decode over a binary column, Arrow-batched
    (row-mapped — executor-parallel, bounded batch memory).  Rows whose
    payload is not a decodable in-scope PNG are dropped (the
    undecodable→failure route)."""

    def row(doc_id, p):
        stats = png_pixel_stats(p or b"")
        if stats is not None:
            yield doc_id, *stats

    return flat_map(df, [id_col, content_col], row, IMAGE_PIXEL_STATS_SCHEMA)


# ------------------------------------------------------- audio PCM tier ---
#
# The sample-level twin of the PNG pixel tier above: REAL 8/16-bit PCM
# decode from a RIFF/WAVE container — stdlib struct only, the same
# dependency-free playbook (reference ships stock NiFi 2.7.2, whose
# media story is content-type routing + external tooling; sample decode
# is the §2.12 training-pipeline surface).


def encode_wav(
    channel_samples: list[list[int]],
    sample_rate: int,
    bits: int = 16,
    fmt_tag: int = 1,
) -> bytes:
    """Build a spec-valid WAV from per-channel integer sample lists:
    PCM (``fmt_tag=1``, 16-bit signed little-endian or 8-bit unsigned)
    or ITU-T G.711 companded audio (``fmt_tag=6`` A-law / ``7`` µ-law,
    where the samples are the 8-bit CODE values 0..255).  Fixture-
    synthesis helper, the audio twin of :func:`encode_png`."""
    import struct as _struct

    nch = len(channel_samples)
    n = len(channel_samples[0]) if channel_samples else 0
    assert all(len(ch) == n for ch in channel_samples)
    if fmt_tag in (6, 7):
        if bits != 8:
            raise ValueError("G.711 WAV requires 8-bit code samples")
        frames = bytes(ch[i] & 0xFF for i in range(n) for ch in channel_samples)
    elif fmt_tag == 1 and bits == 16:
        frames = b"".join(
            _struct.pack("<%dh" % nch, *(ch[i] for ch in channel_samples))
            for i in range(n)
        )
    elif fmt_tag == 1 and bits == 8:
        frames = bytes(ch[i] & 0xFF for i in range(n) for ch in channel_samples)
    else:
        raise ValueError(f"unsupported format {fmt_tag}/{bits}")
    block_align = nch * (bits // 8)
    fmt = _struct.pack(
        "<HHIIHH", fmt_tag, nch, sample_rate, sample_rate * block_align,
        block_align, bits,
    )
    return (
        b"RIFF"
        + _struct.pack("<I", 36 + len(frames))
        + b"WAVEfmt "
        + _struct.pack("<I", 16)
        + fmt
        + b"data"
        + _struct.pack("<I", len(frames))
        + frames
    )


def g711_ulaw_to_linear(code: int) -> int:
    """ITU-T G.711 µ-law expand: 8-bit code → 14-bit linear sample
    (±8031 scaled ×4 per the CCITT reference decode: bias 0x84,
    3-bit segment, 4-bit mantissa, all bits transmitted inverted)."""
    u = ~code & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def g711_alaw_to_linear(code: int) -> int:
    """ITU-T G.711 A-law expand: 8-bit code → 13-bit linear sample
    (even bits inverted by the 0x55 mask; segment 0/1 are linear,
    higher segments shift; sign bit SET means positive)."""
    a = code ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def wav_pcm_samples(payload: bytes):
    """REAL sample-level decode: (channels, sample_rate_hz,
    bits_per_sample, per_channel_samples) from a RIFF/WAVE payload, or
    None when the payload is not decodable in scope (non-RIFF, an
    unsupported codec, or an unsupported bit depth).

    In scope: linear PCM (fmt 1; 16-bit signed little-endian or 8-bit
    unsigned 0..255) and ITU-T G.711 companded audio (fmt 6 A-law /
    fmt 7 µ-law, 8-bit codes expanded to linear samples — closing the
    round-10 "PCM only" seam with the public G.711 tables).
    De-interleaving is exact: frame i, channel c is sample
    ``i*nch + c``."""
    import struct as _struct

    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    fmt_tag = channels = rate = bits = block_align = None
    data: bytes | None = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = _struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        if tag == b"fmt " and pos + 24 <= len(payload):
            fmt_tag, channels, rate = _struct.unpack(
                "<HHI", payload[pos + 8 : pos + 16]
            )
            block_align, bits = _struct.unpack("<HH", payload[pos + 20 : pos + 24])
        elif tag == b"data":
            data = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if (
        # linear PCM or G.711 µ/A-law; other codecs stay out of scope
        fmt_tag not in (1, 6, 7)
        or not channels
        or not rate
        or bits not in (8, 16)
        or (fmt_tag in (6, 7) and bits != 8)
        or data is None
        or block_align != channels * (bits // 8)
    ):
        return None
    n_frames = len(data) // block_align
    data = data[: n_frames * block_align]
    if fmt_tag == 7:
        flat = [g711_ulaw_to_linear(b) for b in data]
    elif fmt_tag == 6:
        flat = [g711_alaw_to_linear(b) for b in data]
    elif bits == 16:
        flat = _struct.unpack("<%dh" % (n_frames * channels), data)
    else:
        flat = data  # bytes: unsigned 8-bit
    per_channel = [list(flat[c :: channels]) for c in range(channels)]
    return channels, rate, bits, per_channel


def wav_pcm_stats(payload: bytes):
    """(channels, sample_rate_hz, n_frames, sum_ch0, sumsq_amp,
    peak_amp) from a real sample decode, or None.  All fields are exact
    integers — differential-oracle friendly: ``sum_ch0`` (first-channel
    sum) proves the de-interleave, ``sumsq_amp``/``peak_amp`` fold every
    channel."""
    decoded = wav_pcm_samples(payload)
    if decoded is None:
        return None
    channels, rate, _bits, per_channel = decoded
    n = len(per_channel[0]) if per_channel else 0
    sum_ch0 = sum(per_channel[0]) if per_channel else 0
    sumsq = sum(v * v for ch in per_channel for v in ch)
    peak = max((abs(v) for ch in per_channel for v in ch), default=0)
    return channels, rate, n, sum_ch0, sumsq, peak


#: output schema of the PCM sample-statistics decoder
AUDIO_PCM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("sum_ch0", LongType()),
        StructField("sumsq_amp", LongType()),
        StructField("peak_amp", IntegerType()),
    ]
)


def decode_audio_pcm_stats(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Sample-statistics decode over a binary audio column, Arrow-batched
    (row-mapped — executor-parallel, bounded batch memory).  Rows whose
    payload is not decodable in-scope PCM are dropped (the
    undecodable→failure route), mirroring
    :func:`decode_image_pixel_stats`."""

    def row(doc_id, p):
        stats = wav_pcm_stats(p or b"")
        if stats is not None:
            yield doc_id, *stats

    return flat_map(df, [id_col, content_col], row, AUDIO_PCM_STATS_SCHEMA)


# ------------------------------------------------- video container tier ---
#
# MP4 / ISO-BMFF (ISO/IEC 14496-12) box walk — the container-level
# metadata tier for non-GIF video: brand, movie timescale/duration,
# track table with handler types.  Pure stdlib struct, same playbook as
# the RIFF/PNG walkers above.  Frame PIXEL decode (codec territory)
# remains the documented external-tooling seam.


def encode_mp4(
    brand: bytes, timescale: int, duration: int, tracks: list[bytes]
) -> bytes:
    """Build a minimal spec-valid ISO-BMFF metadata skeleton:
    ftyp + moov(mvhd + trak(tkhd + mdia(hdlr))*).  ``tracks`` is a list
    of 4-byte handler types (b'vide'/b'soun').  Fixture-synthesis
    helper, the video twin of :func:`encode_wav`."""
    import struct as _struct

    def box(btype: bytes, body: bytes) -> bytes:
        return _struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", brand + _struct.pack(">I", 0) + brand)
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0 + flags
        + _struct.pack(">II", 0, 0)  # creation/modification
        + _struct.pack(">II", timescale, duration)
        + _struct.pack(">I", 0x00010000)  # rate 1.0
        + _struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + b"\x00" * 36  # matrix
        + b"\x00" * 24  # pre_defined
        + _struct.pack(">I", len(tracks) + 1),  # next_track_ID
    )
    traks = b""
    for i, handler in enumerate(tracks):
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"  # version 0, flags: enabled|in-movie|in-preview
            + _struct.pack(">II", 0, 0)
            + _struct.pack(">I", i + 1)  # track_ID
            + b"\x00" * 4
            + _struct.pack(">I", duration)
            + b"\x00" * 60,
        )
        hdlr = box(
            b"hdlr",
            b"\x00\x00\x00\x00" + b"\x00" * 4 + handler + b"\x00" * 12 + b"\x00",
        )
        traks += box(b"trak", tkhd + box(b"mdia", hdlr))
    return ftyp + box(b"moov", mvhd + traks)


def _bmff_boxes(payload: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) walking a box list — handles
    the spec's three size encodings (32-bit, 64-bit largesize, 0 = to
    end of enclosing box)."""
    import struct as _struct

    pos = start
    while pos + 8 <= end:
        size = _struct.unpack(">I", payload[pos : pos + 4])[0]
        btype = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize follows the type
            if body + 8 > end:
                return
            size = _struct.unpack(">Q", payload[body : body + 8])[0]
            body += 8
            box_end = pos + size
        elif size == 0:  # box extends to the end of its container
            box_end = end
        else:
            box_end = pos + size
        if box_end < body or box_end > end:
            return  # malformed size: stop cleanly
        yield btype, body, box_end
        pos = box_end


def parse_mp4_metadata(payload: bytes):
    """Container-level MP4/ISO-BMFF metadata: (major_brand, timescale,
    duration_ms, track handler list) from the box tree, or None when the
    payload is not ISO-BMFF (no leading ftyp) or carries no movie
    header.  Handler types outside vide/soun pass through verbatim
    (e.g. 'text', 'meta')."""
    import struct as _struct

    top = list(_bmff_boxes(payload, 0, len(payload)))
    if not top or top[0][0] != b"ftyp":
        return None
    brand = payload[top[0][1] : top[0][1] + 4].decode("latin-1")
    timescale = duration = None
    handlers: list[str] = []
    for btype, b0, b1 in top:
        if btype != b"moov":
            continue
        for mtype, m0, m1 in _bmff_boxes(payload, b0, b1):
            if mtype == b"mvhd" and m0 + 20 <= m1:
                version = payload[m0]
                if version == 1:  # 64-bit creation/modification/duration
                    if m0 + 32 > m1:  # truncated v1 box: not a header
                        continue
                    timescale = _struct.unpack(">I", payload[m0 + 20 : m0 + 24])[0]
                    duration = _struct.unpack(">Q", payload[m0 + 24 : m0 + 32])[0]
                else:
                    timescale, duration = _struct.unpack(
                        ">II", payload[m0 + 12 : m0 + 20]
                    )
            elif mtype == b"trak":
                handler = "?"
                for ttype, t0, t1 in _bmff_boxes(payload, m0, m1):
                    if ttype != b"mdia":
                        continue
                    for dtype, d0, _d1 in _bmff_boxes(payload, t0, t1):
                        if dtype == b"hdlr" and d0 + 12 <= t1:
                            handler = payload[d0 + 8 : d0 + 12].decode("latin-1")
                handlers.append(handler)
    if timescale in (None, 0):
        return None
    return brand, timescale, duration * 1000 // timescale, handlers


#: output schema of the MP4 metadata extractor
VIDEO_MP4_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("brand", StringType()),
        StructField("timescale", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", IntegerType()),
        StructField("n_video", IntegerType()),
        StructField("n_audio", IntegerType()),
    ]
)


def decode_video_mp4_meta(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """MP4 container metadata over a binary column, Arrow-batched
    (row-mapped).  Non-ISO-BMFF rows are dropped (the
    undecodable→failure route)."""

    def row(doc_id, p):
        meta = parse_mp4_metadata(p or b"")
        if meta is None:
            return
        brand, timescale, duration_ms, handlers = meta
        yield (doc_id, brand, timescale, duration_ms, len(handlers),
               handlers.count("vide"), handlers.count("soun"))

    return flat_map(df, [id_col, content_col], row, VIDEO_MP4_META_SCHEMA)


# ------------------------------------------- Matroska / WebM meta tier ---
#
# EBML walk (RFC 8794 + the public Matroska element registry) — the
# container-level metadata tier for WebM/MKV, closing the round-10
# "non-MP4/GIF video containers" seam the same way the ISO-BMFF box walk
# above closed MP4.  Pure stdlib struct; frame PIXEL decode (VP9/AV1
# codec work) remains the documented external-tooling seam.

_EBML_HEADER_ID = 0x1A45DFA3
_MKV_SEGMENT_ID = 0x18538067
_MKV_INFO_ID = 0x1549A966
_MKV_TRACKS_ID = 0x1654AE6B
_MKV_TRACK_ENTRY_ID = 0xAE
_MKV_VIDEO_ID = 0xE0
_MKV_AUDIO_ID = 0xE1


def _ebml_write_vint(n: int) -> bytes:
    """EBML data-size VINT: smallest width whose marker bit still fits."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            return (n | (1 << (7 * length))).to_bytes(length, "big")
    raise ValueError(f"EBML size too large: {n}")


def _ebml_read_vint(buf: bytes, off: int) -> tuple[int, int]:
    """Decode a data-size VINT at ``off`` → (value, new offset)."""
    if off >= len(buf):
        raise ValueError(f"truncated EBML VINT at offset {off}")
    first = buf[off]
    for length in range(1, 9):
        if first & (0x100 >> length):
            if off + length > len(buf):
                raise ValueError(f"truncated EBML VINT at offset {off}")
            val = first & ((0x80 >> (length - 1)) - 1)
            for b in buf[off + 1 : off + length]:
                val = (val << 8) | b
            return val, off + length
    raise ValueError(f"invalid EBML VINT marker at offset {off}")


def _ebml_read_id(buf: bytes, off: int) -> tuple[int, int]:
    """Decode an element ID at ``off`` → (id WITH marker bits, new
    offset) — Matroska IDs are conventionally quoted marker-inclusive."""
    if off >= len(buf):
        raise ValueError(f"truncated EBML ID at offset {off}")
    first = buf[off]
    for length in range(1, 5):
        if first & (0x100 >> length):
            if off + length > len(buf):
                raise ValueError(f"truncated EBML ID at offset {off}")
            return int.from_bytes(buf[off : off + length], "big"), off + length
    raise ValueError(f"invalid EBML ID marker at offset {off}")


def _ebml_elem(elem_id: int, body: bytes) -> bytes:
    nbytes = max(1, (elem_id.bit_length() + 7) // 8)
    return elem_id.to_bytes(nbytes, "big") + _ebml_write_vint(len(body)) + body


def _ebml_uint(elem_id: int, v: int) -> bytes:
    nbytes = max(1, (v.bit_length() + 7) // 8)
    return _ebml_elem(elem_id, v.to_bytes(nbytes, "big"))


def _ebml_float(elem_id: int, v: float) -> bytes:
    import struct as _struct

    return _ebml_elem(elem_id, _struct.pack(">d", v))


def encode_webm(
    doctype: str,
    timescale_ns: int,
    duration_units: int,
    tracks: list[dict],
) -> bytes:
    """Build a minimal spec-valid Matroska/WebM metadata skeleton:
    EBML header (DocType) + Segment(Info(TimestampScale, Duration) +
    Tracks(TrackEntry(TrackNumber, TrackType, CodecID, Video/Audio)*)).
    ``tracks`` dicts carry ``type`` ('video'|'audio'|'subtitle'),
    ``codec``, and video ``w``/``h`` or audio ``rate``/``ch``.
    Fixture-synthesis helper, the Matroska twin of :func:`encode_mp4`."""
    header = _ebml_elem(
        _EBML_HEADER_ID,
        _ebml_uint(0x4286, 1)  # EBMLVersion
        + _ebml_uint(0x42F7, 1)  # EBMLReadVersion
        + _ebml_uint(0x42F2, 4)  # EBMLMaxIDLength
        + _ebml_uint(0x42F3, 8)  # EBMLMaxSizeLength
        + _ebml_elem(0x4282, doctype.encode("ascii"))  # DocType
        + _ebml_uint(0x4287, 4)  # DocTypeVersion
        + _ebml_uint(0x4285, 2),  # DocTypeReadVersion
    )
    info = _ebml_elem(
        _MKV_INFO_ID,
        _ebml_uint(0x2AD7B1, timescale_ns)  # TimestampScale
        + _ebml_float(0x4489, float(duration_units)),  # Duration
    )
    ttype = {"video": 1, "audio": 2, "subtitle": 17}
    entries = b""
    for i, t in enumerate(tracks):
        body = (
            _ebml_uint(0xD7, i + 1)  # TrackNumber
            + _ebml_uint(0x73C5, 1000 + i)  # TrackUID
            + _ebml_uint(0x83, ttype[t["type"]])  # TrackType
            + _ebml_elem(0x86, t["codec"].encode("ascii"))  # CodecID
        )
        if t["type"] == "video":
            body += _ebml_elem(
                _MKV_VIDEO_ID,
                _ebml_uint(0xB0, t["w"]) + _ebml_uint(0xBA, t["h"]),
            )
        elif t["type"] == "audio":
            body += _ebml_elem(
                _MKV_AUDIO_ID,
                _ebml_float(0xB5, float(t["rate"])) + _ebml_uint(0x9F, t["ch"]),
            )
        entries += _ebml_elem(_MKV_TRACK_ENTRY_ID, body)
    segment = _ebml_elem(
        _MKV_SEGMENT_ID, info + _ebml_elem(_MKV_TRACKS_ID, entries)
    )
    return header + segment


def parse_matroska_metadata(payload: bytes):
    """REAL EBML walk: (doctype, timescale_ns, duration_ms, tracks) from
    a Matroska/WebM payload, or None when the payload is not EBML.
    ``tracks`` is a list of (type, codec, width, height, rate_hz,
    channels) with type ∈ {'video','audio','subtitle','other'} and
    zeros for the fields the track kind lacks.  ``duration_ms`` is the
    Duration float rescaled by TimestampScale (ns per unit) to integer
    milliseconds."""
    import struct as _struct

    def children(buf: bytes, lo: int, hi: int):
        off = lo
        while off < hi:
            eid, off = _ebml_read_id(buf, off)
            size, off = _ebml_read_vint(buf, off)
            if off + size > hi:
                raise ValueError(f"EBML element overruns parent at {off}")
            yield eid, off, off + size
            off += size

    def as_uint(buf: bytes, lo: int, hi: int) -> int:
        return int.from_bytes(buf[lo:hi], "big")

    def as_float(buf: bytes, lo: int, hi: int) -> float:
        if hi - lo == 4:
            return _struct.unpack(">f", buf[lo:hi])[0]
        if hi - lo == 8:
            return _struct.unpack(">d", buf[lo:hi])[0]
        raise ValueError(f"bad EBML float width {hi - lo}")

    if len(payload) < 4 or payload[:4] != b"\x1a\x45\xdf\xa3":
        return None
    doctype = ""
    timescale = 1_000_000  # Matroska default: 1 ms units
    duration = 0.0
    tracks: list[tuple] = []
    type_names = {1: "video", 2: "audio", 17: "subtitle"}
    for eid, lo, hi in children(payload, 0, len(payload)):
        if eid == _EBML_HEADER_ID:
            for cid, clo, chi in children(payload, lo, hi):
                if cid == 0x4282:
                    doctype = payload[clo:chi].decode("ascii", "replace")
        elif eid == _MKV_SEGMENT_ID:
            for cid, clo, chi in children(payload, lo, hi):
                if cid == _MKV_INFO_ID:
                    for iid, ilo, ihi in children(payload, clo, chi):
                        if iid == 0x2AD7B1:
                            timescale = as_uint(payload, ilo, ihi)
                        elif iid == 0x4489:
                            duration = as_float(payload, ilo, ihi)
                elif cid == _MKV_TRACKS_ID:
                    for tid, tlo, thi in children(payload, clo, chi):
                        if tid != _MKV_TRACK_ENTRY_ID:
                            continue
                        ttype, codec = 0, ""
                        w = h = ch = 0
                        rate = 0.0
                        for fid, flo, fhi in children(payload, tlo, thi):
                            if fid == 0x83:
                                ttype = as_uint(payload, flo, fhi)
                            elif fid == 0x86:
                                codec = payload[flo:fhi].decode(
                                    "ascii", "replace"
                                )
                            elif fid == _MKV_VIDEO_ID:
                                for vid, vlo, vhi in children(
                                    payload, flo, fhi
                                ):
                                    if vid == 0xB0:
                                        w = as_uint(payload, vlo, vhi)
                                    elif vid == 0xBA:
                                        h = as_uint(payload, vlo, vhi)
                            elif fid == _MKV_AUDIO_ID:
                                for aid, alo, ahi in children(
                                    payload, flo, fhi
                                ):
                                    if aid == 0xB5:
                                        rate = as_float(payload, alo, ahi)
                                    elif aid == 0x9F:
                                        ch = as_uint(payload, alo, ahi)
                        tracks.append(
                            (type_names.get(ttype, "other"), codec,
                             w, h, rate, ch)
                        )
    duration_ms = int(duration * timescale) // 1_000_000
    return doctype, timescale, duration_ms, tracks


VIDEO_MKV_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("doctype", StringType()),
        StructField("timescale_ns", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", IntegerType()),
        StructField("n_video", IntegerType()),
        StructField("n_audio", IntegerType()),
        StructField("max_width", IntegerType()),
        StructField("total_channels", IntegerType()),
    ]
)


def decode_video_mkv_meta(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Matroska/WebM container metadata over a binary column,
    Arrow-batched (row-mapped).  Non-EBML rows are dropped (the
    undecodable→failure route)."""

    def row(doc_id, p):
        try:
            meta = parse_matroska_metadata(p or b"")
        except ValueError:
            return  # corrupt EBML framing → failure route
        if meta is None:
            return
        doctype, timescale, duration_ms, tracks = meta
        kinds = [t[0] for t in tracks]
        yield (doc_id, doctype, timescale, duration_ms, len(tracks),
               kinds.count("video"), kinds.count("audio"),
               max((t[2] for t in tracks), default=0), sum(t[5] for t in tracks))

    return flat_map(df, [id_col, content_col], row, VIDEO_MKV_META_SCHEMA)


# ----------------------------------------------------- JPEG gray tier ---

JPEG_GRAY_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_gray", LongType()),
        StructField("min_gray", IntegerType()),
        StructField("max_gray", IntegerType()),
    ]
)


def decode_jpeg_gray_stats(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Grayscale-JPEG pixel statistics over a binary column, Arrow-
    batched (the PNG tier's playbook — llm/jpeg implements the full
    baseline entropy/IDCT pipeline from ITU-T T.81).  Undecodable or
    out-of-scope payloads are dropped (the undecodable→failure route)."""
    from apache_nifi_spark.llm.jpeg import jpeg_gray_stats

    def row(doc_id, p):
        try:
            s = jpeg_gray_stats(p or b"")
        except (ValueError, IndexError, KeyError, struct.error):
            return
        yield doc_id, *(s[f.name] for f in JPEG_GRAY_STATS_SCHEMA.fields[1:])

    return flat_map(df, [id_col, content_col], row, JPEG_GRAY_STATS_SCHEMA)


# =====================================================================
# FLAC / MPEG-audio (MP3) container metadata — round 13
# =====================================================================

#: MPEG-1 Layer III bitrate table (kbps), index 1..14 (xiph/ISO 11172-3)
_MP3_BITRATES = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
#: MPEG-1 sample-rate table, header index 0..2
_MP3_RATES = [44100, 48000, 32000]


def encode_flac_streaminfo(
    sample_rate: int, channels: int, bits: int, total_samples: int
) -> bytes:
    """Minimal spec-valid FLAC file: ``fLaC`` magic + a last-block
    STREAMINFO METADATA_BLOCK (type 0, 34 bytes) packing sample rate
    (20 bits), channels-1 (3), bits-1 (5) and total samples (36) per the
    public FLAC format spec.  No audio frames — metadata-complete, the
    shape a header-sniffing pipeline stage consumes (the WAV twin is
    :func:`wav_header_bytes`)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | (total_samples & ((1 << 36) - 1))
    )
    body = (
        (4096).to_bytes(2, "big") * 2      # min/max blocksize
        + (0).to_bytes(3, "big") * 2       # min/max framesize (unknown)
        + packed.to_bytes(8, "big")
        + b"\x00" * 16                     # md5 of unencoded audio (unset)
    )
    return b"fLaC" + bytes([0x80, 0, 0, len(body)]) + body


def parse_flac_streaminfo(payload: bytes):
    """(sample_rate_hz, channels, bits_per_sample, total_samples) from a
    FLAC container by walking the metadata-block list (public spec);
    None for non-FLAC / truncated payloads."""
    if len(payload) < 8 or payload[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if (hdr & 0x7F) == 0 and pos + 4 + 34 <= len(payload):  # STREAMINFO
            body = payload[pos + 4 : pos + 4 + 34]
            packed = int.from_bytes(body[10:18], "big")
            rate = packed >> 44
            channels = ((packed >> 41) & 0x7) + 1
            bits = ((packed >> 36) & 0x1F) + 1
            total = packed & ((1 << 36) - 1)
            return (rate, channels, bits, total) if rate else None
        if hdr & 0x80:  # last-metadata-block flag
            break
        pos += 4 + size
    return None


def encode_mp3_frames(
    kbps: int, sample_rate: int, channels: int, n_frames: int, id3_size: int = 0
) -> bytes:
    """Spec-valid MPEG-1 Layer III byte stream: ``n_frames`` frames with
    correct 4-byte headers (sync, version/layer bits, bitrate and
    sample-rate indices from the ISO 11172-3 tables) and zero-fill
    payloads sized by the layer-III frame-length formula
    ``144000*kbps//rate + padding``.  Padding alternates per frame so a
    parser must walk real variable-length frames, and an optional ID3v2
    tag (syncsafe size) is prepended to exercise tag skipping."""
    br_idx = _MP3_BITRATES.index(kbps)
    sr_idx = _MP3_RATES.index(sample_rate)
    mode = 3 if channels == 1 else 0  # 3=mono, 0=stereo
    out = bytearray()
    if id3_size:
        ss = id3_size
        out += b"ID3\x04\x00\x00" + bytes(
            [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F, (ss >> 7) & 0x7F, ss & 0x7F]
        )
        out += b"\x00" * id3_size
    for i in range(n_frames):
        pad = i & 1
        flen = 144000 * kbps // sample_rate + pad
        hdr = bytes(
            [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (pad << 1), mode << 6]
        )
        out += hdr + b"\x00" * (flen - 4)
    return bytes(out)


def parse_mpeg_audio(payload: bytes):
    """(sample_rate_hz, channels, bitrate_kbps, n_frames, duration_ms)
    by walking every MPEG-1 Layer III frame header (skipping a leading
    ID3v2 tag via its syncsafe size).  Each frame's length comes from
    ITS OWN header (bitrate/padding may vary frame to frame); 1152
    samples per layer-III frame.  None when no valid first frame."""
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        ss = payload[6:10]
        pos = 10 + ((ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3])
    rate = channels = kbps = None
    frames = 0
    while pos + 4 <= len(payload):
        b0, b1, b2, b3 = payload[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 0x3
        layer = (b1 >> 1) & 0x3
        if version != 3 or layer != 1:  # MPEG-1 Layer III only
            break
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            break
        f_kbps = _MP3_BITRATES[br_idx]
        f_rate = _MP3_RATES[sr_idx]
        if rate is None:
            rate, kbps = f_rate, f_kbps
            channels = 1 if ((b3 >> 6) & 0x3) == 3 else 2
        pad = (b2 >> 1) & 0x1
        flen = 144000 * f_kbps // f_rate + pad
        if flen < 4 or pos + flen > len(payload):
            break
        frames += 1
        pos += flen
    if rate is None or frames == 0:
        return None
    return (rate, channels, kbps, frames, frames * 1152 * 1000 // rate)


#: output schema of the unified audio-container metadata extractor
AUDIO_CONTAINER_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("sample_rate_hz", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("n_units", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def decode_audio_container_meta(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """Unified audio-container metadata over binary payloads, sniffed by
    magic bytes: FLAC STREAMINFO (:func:`parse_flac_streaminfo`),
    MPEG-1 Layer III frame walk (:func:`parse_mpeg_audio`), RIFF/WAVE
    chunk walk (:func:`parse_wav_metadata`).  ``n_units`` is total
    samples (FLAC), frames (MP3) or sample frames (WAV); unknown fields
    are 0 (MP3 bits, FLAC/WAV bitrate).  Row-mapped, Arrow-batched,
    map-only at any scale; unrecognized payloads yield null fields."""

    def row(doc_id, p):
        p = p or b""
        fmt = rate = ch = bits = kbps = units = dur = None
        if p[:4] == b"fLaC":
            m = parse_flac_streaminfo(p)
            if m:
                fmt = "flac"
                rate, ch, bits, units = m
                kbps = 0
                dur = units * 1000 // rate
        elif p[:3] == b"ID3" or (
            len(p) > 1 and p[0] == 0xFF and (p[1] & 0xE0) == 0xE0
        ):
            m = parse_mpeg_audio(p)
            if m:
                fmt = "mp3"
                rate, ch, kbps, units, dur = m
                bits = 0
        elif p[:4] == b"RIFF":
            m = parse_wav_metadata(p)
            if m:
                fmt = "wav"
                ch, rate, bits, units = m
                kbps = 0
                dur = units * 1000 // rate
        yield doc_id, fmt, rate, ch, bits, kbps, units, dur

    return flat_map(df, [id_col, content_col], row, AUDIO_CONTAINER_META_SCHEMA)

# ----------------------------------------------------- TIFF meta tier ---
#
# TIFF 6.0 (the public Adobe spec): a 'II'/'MM' byte-order header, magic
# 42, and a chain of IFDs whose 12-byte entries are (tag u16, type u16,
# count u32, value-or-offset u32) SORTED BY TAG; values that fit 4 bytes
# live inline, LEFT-justified in big-endian files.  Baseline tags read
# here: 256 ImageWidth, 257 ImageLength, 258 BitsPerSample,
# 259 Compression, 262 PhotometricInterpretation, 277 SamplesPerPixel.
# Pixel strips (codec work) remain the documented external seam —
# container metadata is what a curation pass scans at 100 TB.

_TIFF_SHORT, _TIFF_LONG = 3, 4


def encode_tiff(
    width: int,
    height: int,
    bits: int = 8,
    compression: int = 1,
    photometric: int = 1,
    samples: int = 1,
    big_endian: bool = False,
) -> bytes:
    """Spec-valid single-IFD TIFF metadata skeleton (no pixel strips)."""
    e = ">" if big_endian else "<"
    entries = [
        (256, _TIFF_LONG, 1, width),
        (257, _TIFF_LONG, 1, height),
        (258, _TIFF_SHORT, 1, bits),
        (259, _TIFF_SHORT, 1, compression),
        (262, _TIFF_SHORT, 1, photometric),
        (277, _TIFF_SHORT, 1, samples),
    ]
    out = [
        (b"MM" if big_endian else b"II")
        + struct.pack(e + "H", 42)
        + struct.pack(e + "I", 8),  # first IFD immediately after header
        struct.pack(e + "H", len(entries)),
    ]
    for tag, typ, count, val in entries:  # already tag-sorted
        if typ == _TIFF_SHORT:
            # inline value, left-justified within the 4-byte field
            vfield = struct.pack(e + "H", val) + b"\x00\x00"
            if big_endian:
                pass  # left-justified = first two bytes either way
        else:
            vfield = struct.pack(e + "I", val)
        out.append(struct.pack(e + "HHI", tag, typ, count) + vfield)
    out.append(struct.pack(e + "I", 0))  # no next IFD
    return b"".join(out)


def parse_tiff_metadata(payload: bytes):
    """(endian, width, height, bits, compression, photometric, samples,
    n_entries) or None for non-TIFF payloads."""
    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        return None
    endian = payload[:2].decode()
    e = "<" if endian == "II" else ">"
    if struct.unpack_from(e + "H", payload, 2)[0] != 42:
        return None
    (ifd_off,) = struct.unpack_from(e + "I", payload, 4)
    (n_entries,) = struct.unpack_from(e + "H", payload, ifd_off)
    tags = {}
    for i in range(n_entries):
        base = ifd_off + 2 + 12 * i
        tag, typ, _count = struct.unpack_from(e + "HHI", payload, base)
        if typ == _TIFF_SHORT:
            (val,) = struct.unpack_from(e + "H", payload, base + 8)
        else:
            (val,) = struct.unpack_from(e + "I", payload, base + 8)
        tags[tag] = val
    return (
        endian,
        tags.get(256),
        tags.get(257),
        tags.get(258),
        tags.get(259),
        tags.get(262),
        tags.get(277),
        n_entries,
    )


IMAGE_TIFF_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("endian", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bits_per_sample", IntegerType()),
        StructField("compression", IntegerType()),
        StructField("photometric", IntegerType()),
        StructField("samples_per_pixel", IntegerType()),
        StructField("n_ifd_entries", IntegerType()),
    ]
)


def decode_image_tiff_meta(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """TIFF container metadata over a binary column, Arrow-batched
    (row-mapped).  Non-TIFF rows are dropped (undecodable→failure)."""

    def row(doc_id, p):
        meta = parse_tiff_metadata(p or b"")
        if meta is not None:
            yield doc_id, *meta

    return flat_map(df, [id_col, content_col], row, IMAGE_TIFF_META_SCHEMA)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png_skeleton(
    width: int,
    height: int,
    color_type: int = 0,
    doc_seed: int = 0,
    with_text: bool = False,
) -> bytes:
    """REAL PNG (ISO 15948 / RFC 2083): signature, IHDR, optional tEXt,
    one zlib-compressed IDAT of filter-0 scanlines with a deterministic
    pixel pattern, IEND — every chunk carrying its true CRC-32 over
    type+data, 8-bit depth, no interlace."""
    import zlib

    channels = {0: 1, 2: 3, 6: 4}[color_type]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = bytearray()
    for y in range(height):
        raw.append(0)  # filter type None per scanline
        for x in range(width * channels):
            raw.append((x * 3 + y * 7 + doc_seed) % 256)
    out = [_PNG_SIG, chunk(b"IHDR", ihdr)]
    if with_text:
        out.append(chunk(b"tEXt", b"Software\x00apache_nifi_spark"))
    out.append(chunk(b"IDAT", zlib.compress(bytes(raw), 6)))
    out.append(chunk(b"IEND", b""))
    return b"".join(out)


def parse_png_metadata(payload: bytes):
    """(width, height, bit_depth, color_type, interlace, n_chunks,
    idat_raw_bytes) or None for non-PNG / CRC-corrupt / inflate-broken
    payloads — a container whose checksums do not verify is treated as
    undecodable, not best-effort."""
    import zlib

    if len(payload) < 8 + 25 or payload[:8] != _PNG_SIG:
        return None
    pos, n_chunks, idat = 8, 0, bytearray()
    ihdr = None
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None
        n_chunks += 1
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.extend(data)
        pos += 12 + ln
        if ctype == b"IEND":
            break
    if ihdr is None or pos > len(payload):
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    w, h, depth, color, _comp, _filt, interlace = ihdr
    return (w, h, depth, color, interlace, n_chunks, len(raw))


IMAGE_PNG_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("color_type", IntegerType()),
        StructField("n_chunks", IntegerType()),
        StructField("idat_raw_bytes", LongType()),
    ]
)


def decode_image_png_meta(
    df: DataFrame, id_col: str = "doc_id", content_col: str = "content"
) -> DataFrame:
    """PNG container metadata over a binary column, Arrow-batched
    (row-mapped).  Non-PNG / checksum-broken rows are dropped."""

    def row(doc_id, p):
        meta = parse_png_metadata(p or b"")
        if meta is not None:
            w, h, depth, color, _inter, n, rawlen = meta
            yield doc_id, w, h, depth, color, n, rawlen

    return flat_map(df, [id_col, content_col], row, IMAGE_PNG_META_SCHEMA)


_IMA_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def ima_adpcm_decode(payload: bytes, n_samples: int) -> list[int]:
    """IMA/DVI ADPCM 4-bit decode (IMA Digital Audio Pack, 1992 — the
    classic telephony/game codec): one mono stream, initial predictor 0
    and step index 0, two samples per byte (low nibble first).  Pure
    integer algebra — predictor clamped to int16, index to [0, 88]."""
    pred, idx, out = 0, 0, []
    for k in range(n_samples):
        byte = payload[k // 2]
        code = (byte & 0x0F) if k % 2 == 0 else (byte >> 4)
        step = _IMA_STEPS[idx]
        diff = step >> 3
        if code & 4:
            diff += step
        if code & 2:
            diff += step >> 1
        if code & 1:
            diff += step >> 2
        pred = pred - diff if code & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX[code & 7]))
        out.append(pred)
    return out


def encode_avi_skeleton(
    width: int,
    height: int,
    fps_us: int,
    total_frames: int,
    n_streams: int = 1,
) -> bytes:
    """Spec-valid AVI metadata skeleton (RIFF 'AVI ' with the required
    hdrl LIST carrying avih + one strl LIST per stream; movi LIST left
    empty — frame payloads are the documented codec seam, exactly the
    TIFF/PNG policy)."""

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(kind: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", kind + data)

    avih = struct.pack(
        "<14I",
        fps_us,            # dwMicroSecPerFrame
        0, 0, 0x10,        # maxbytes, padding, flags(HASINDEX)
        total_frames,      # dwTotalFrames
        0, n_streams, 0,   # initialframes, streams, sugbufsize
        width, height,     # dwWidth, dwHeight
        0, 0, 0, 0,        # reserved
    )
    strls = b""
    for i in range(n_streams):
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"RAW ", 0, 0, 0, 0,
            1, 30 + i,            # dwScale / dwRate → fps
            0, total_frames, 0, 0xFFFFFFFF, 0,
            0, 0, width, height,
        )
        strls += lst(b"strl", chunk(b"strh", strh))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strls)
    movi = lst(b"movi", b"")
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


def parse_avi_metadata(payload: bytes):
    """(width, height, fps_us, total_frames, n_streams, n_lists) from a
    RIFF/AVI container — the avih main header plus a count of strl
    stream lists; None for non-AVI payloads or a truncated header."""
    if len(payload) < 24 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        return None
    n_lists, n_strl, avih = 0, 0, None
    # Iterative walk with an explicit frame stack, capped — a crafted
    # payload of deeply nested LIST headers must return None like every
    # other malformed input, never RecursionError an executor.
    stack = [(12, len(payload))]
    frames_budget = 4096
    while stack:
        frames_budget -= 1
        if frames_budget < 0:
            return None
        pos, end = stack.pop()
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (ln,) = struct.unpack_from("<I", payload, pos + 4)
            body = pos + 8
            if fourcc == b"LIST" and ln >= 4:
                kind = payload[body : body + 4]
                n_lists += 1
                if kind == b"strl":
                    n_strl += 1
                stack.append((body + 4, min(end, body + ln)))
            elif fourcc == b"avih" and ln >= 40:
                avih = struct.unpack_from("<10I", payload, body)
            pos = body + ln + (ln % 2)
    if avih is None:
        return None
    fps_us, _mb, _pad, _flags, frames, _init, streams, _sb, w, h = avih
    return (w, h, fps_us, frames, streams, n_lists, n_strl)


def encode_pdf_skeleton(n_pages: int, version: str = "1.7") -> bytes:
    """Spec-valid minimal PDF (ISO 32000 / the classic Adobe PDF file
    structure): header comment, a Catalog object, a Pages node, one
    Page + one content-stream object per page, a correctly
    byte-offset xref TABLE, trailer with /Size and /Root, startxref
    pointing at the xref — the four-part layout every real PDF reader
    walks.  Page content streams are empty (text/raster payloads are
    the documented codec seam, the TIFF/PNG policy)."""
    objs: list[bytes] = []
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode()
    )
    for p in range(n_pages):
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * p} 0 R "
            f"/MediaBox [0 0 612 792] >>".encode()
        )
        objs.append(b"<< /Length 0 >>\nstream\nendstream")
    out = bytearray(f"%PDF-{version}\n".encode())
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def parse_pdf_metadata(payload: bytes):
    """(version, n_objects, n_pages, size_entry, xref_ok) from a PDF's
    file structure — header version comment, ``N 0 obj`` census,
    /Type /Page census (word-boundary guarded so /Pages nodes don't
    count), trailer /Size, and validation that startxref's byte offset
    really lands on the xref table.  None for non-PDF payloads."""
    import re

    if not payload.startswith(b"%PDF-"):
        return None
    m = re.match(rb"%PDF-(\d+\.\d+)", payload)
    if not m:
        return None
    version = m.group(1).decode()
    n_objects = len(re.findall(rb"\n?(\d+) 0 obj\b", payload))
    n_pages = len(re.findall(rb"/Type /Page(?![a-zA-Z])", payload))
    sz = re.search(rb"/Size (\d+)", payload)
    size_entry = int(sz.group(1)) if sz else -1
    sx = re.search(rb"startxref\s+(\d+)", payload)
    xref_ok = 0
    if sx:
        off = int(sx.group(1))
        if payload[off : off + 4] == b"xref":
            xref_ok = 1
    return (version, n_objects, n_pages, size_entry, xref_ok)


#: Ogg page CRC (RFC 3533 / Xiph spec): polynomial 0x04c11db7,
#: NON-reflected, init 0, xorout 0 — NOT the zlib CRC-32.  256-entry
#: table built once per executor import.
_OGG_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7) if (_r & 0x80000000) else (_r << 1)
        _r &= 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[
            ((crc >> 24) & 0xFF) ^ b
        ]
    return crc


def _ogg_page(
    header_type: int,
    granule: int,
    serial: int,
    seq: int,
    packets: list[bytes],
) -> bytes:
    """One RFC 3533 page: lacing-value segment table (255-run framing)
    + payload, CRC computed over the whole page with the CRC field
    zeroed."""
    segs = bytearray()
    payload = b""
    for pk in packets:
        n = len(pk)
        while n >= 255:
            segs.append(255)
            n -= 255
        segs.append(n)
        payload += pk
    head = struct.pack(
        "<4sBBqIII",
        b"OggS", 0, header_type, granule, serial, seq, 0,
    ) + bytes([len(segs)]) + bytes(segs)
    crc = _ogg_crc(head + payload)
    head = head[:22] + struct.pack("<I", crc) + head[26:]
    return head + payload


def encode_ogg_vorbis(
    channels: int,
    sample_rate: int,
    total_samples: int,
    n_data_pages: int,
    serial: int,
) -> bytes:
    """Spec-valid Ogg/Vorbis metadata skeleton: a BOS page carrying
    the Vorbis identification header (packet type 0x01 + 'vorbis' +
    version/channels/rate/bitrates/blocksizes/framing), then
    ``n_data_pages`` empty-packet data pages with granule positions
    stepping to ``total_samples``, the last flagged EOS.  Audio packet
    payloads are the documented codec seam (the AVI/TIFF/PNG policy);
    the page framing and CRCs are real."""
    ident = (
        b"\x01vorbis"
        + struct.pack("<IB I iii B B", 0, channels, sample_rate,
                      0, 128000, 0, 0xB8, 1)
    )
    pages = [_ogg_page(0x02, 0, serial, 0, [ident])]
    for i in range(n_data_pages):
        last = i == n_data_pages - 1
        gran = (
            total_samples
            if last
            else (total_samples * (i + 1)) // n_data_pages
        )
        pages.append(
            _ogg_page(0x04 if last else 0x00, gran, serial, i + 1,
                      [b""])
        )
    return b"".join(pages)


def parse_ogg_metadata(payload: bytes):
    """(channels, sample_rate, n_pages, crc_valid_pages, final_granule,
    bos_ok, eos_ok, serial) from an Ogg stream with a Vorbis
    identification header; None for non-Ogg or truncated payloads.
    Every page's CRC is recomputed against the zeroed-field header —
    the round-trip proof that the 0x04c11db7 non-reflected table
    matches the spec."""
    if len(payload) < 27 or payload[:4] != b"OggS":
        return None
    pos, n_pages, crc_ok = 0, 0, 0
    channels = sample_rate = None
    final_granule = 0
    bos_ok = eos_ok = 0
    serial = None
    while pos + 27 <= len(payload):
        if payload[pos : pos + 4] != b"OggS":
            return None
        (_v, htype, granule, ser, _seq, crc) = struct.unpack_from(
            "<BBqIII", payload, pos + 4
        )
        nsegs = payload[pos + 26]
        seg_end = pos + 27 + nsegs
        if seg_end > len(payload):
            return None
        body_len = sum(payload[pos + 27 : seg_end])
        end = seg_end + body_len
        if end > len(payload):
            return None
        page = bytearray(payload[pos:end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) == crc:
            crc_ok += 1
        if htype & 0x02:
            bos_ok = 1
            body = payload[seg_end:end]
            if body[:7] == b"\x01vorbis" and len(body) >= 30:
                _ver, ch = struct.unpack_from("<IB", body, 7)
                (rate,) = struct.unpack_from("<I", body, 12)
                channels, sample_rate = ch, rate
        if htype & 0x04:
            eos_ok = 1
        if serial is None:
            serial = ser
        elif ser != serial:
            return None
        final_granule = max(final_granule, granule)
        n_pages += 1
        pos = end
    if channels is None:
        return None
    return (
        channels, sample_rate, n_pages, crc_ok, final_granule,
        bos_ok, eos_ok, serial,
    )


def encode_id3v2(frames: dict[str, str]) -> bytes:
    """ID3v2.3 tag (id3.org spec): 10-byte header ('ID3', version
    3.0, flags 0, SYNCSAFE 28-bit size) + text frames (4-char frame
    id, 32-bit big-endian size, 2 flag bytes, encoding byte 0x00,
    Latin-1 text)."""
    body = b""
    for fid, text in frames.items():
        data = b"\x00" + text.encode("latin-1")
        body += (
            fid.encode("ascii")
            + struct.pack(">I", len(data))
            + b"\x00\x00"
            + data
        )
    ss = len(body)
    return (
        b"ID3\x03\x00\x00"
        + bytes(
            [(ss >> 21) & 0x7F, (ss >> 14) & 0x7F,
             (ss >> 7) & 0x7F, ss & 0x7F]
        )
        + body
    )


def parse_id3v2(payload: bytes):
    """(major_version, tag_size, n_frames, {frame_id: text}) from an
    ID3v2.2/3/4 tag header; None when no tag leads the payload.
    Text frames decode their 0x00 (Latin-1) / 0x03 (UTF-8) encodings;
    other encodings and non-'T' frames are counted, not decoded."""
    if len(payload) < 10 or payload[:3] != b"ID3":
        return None
    major = payload[3]
    ss = payload[6:10]
    if any(b & 0x80 for b in ss):
        return None
    size = (ss[0] << 21) | (ss[1] << 14) | (ss[2] << 7) | ss[3]
    end = min(10 + size, len(payload))
    pos, n_frames, texts = 10, 0, {}
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        (flen,) = struct.unpack_from(">I", payload, pos + 4)
        if major >= 4:  # v2.4 frame sizes are syncsafe
            b0, b1, b2, b3 = payload[pos + 4 : pos + 8]
            flen = (b0 << 21) | (b1 << 14) | (b2 << 7) | b3
        body = pos + 10
        if body + flen > end:
            return None
        if fid[:1] == b"T" and flen >= 1:
            enc = payload[body]
            raw = payload[body + 1 : body + flen]
            if enc == 0:
                texts[fid.decode("ascii")] = raw.decode(
                    "latin-1", "replace"
                )
            elif enc == 3:
                texts[fid.decode("ascii")] = raw.decode(
                    "utf-8", "replace"
                )
        n_frames += 1
        pos = body + flen
    return (major, size, n_frames, texts)


def encode_zstd_skeleton(
    content_size: int,
    window_log: int,
    window_mantissa: int,
    single_segment: bool,
    dict_id: int,
    checksum: bool,
    n_blocks: int,
    skippable_size: int = 0,
) -> bytes:
    """Spec-valid zstandard FRAME skeleton (RFC 8878 §3: magic,
    frame-header descriptor, window descriptor, dictionary ID, frame
    content size, raw-block headers; block PAYLOADS zero-fill — the
    entropy streams are the documented codec seam, the container
    policy of every multimodal row).  Optionally preceded by a
    skippable frame (magic 0x184D2A50, §3.1.2)."""
    out = bytearray()
    if skippable_size:
        out += struct.pack("<II", 0x184D2A50, skippable_size)
        out += b"\x00" * skippable_size
    out += struct.pack("<I", 0xFD2FB528)
    dict_flag = 2 if dict_id else 0  # 2 -> 2-byte dictionary id
    fcs_flag = 2                     # 4-byte frame content size
    desc = (
        (fcs_flag << 6)
        | (0x20 if single_segment else 0)
        | (0x04 if checksum else 0)
        | dict_flag
    )
    out.append(desc)
    if not single_segment:
        out.append(((window_log - 10) << 3) | window_mantissa)
    if dict_id:
        out += struct.pack("<H", dict_id)
    out += struct.pack("<I", content_size)
    for i in range(n_blocks):
        last = 1 if i == n_blocks - 1 else 0
        bsize = 10 + (content_size + i) % 50
        # block header: 1 bit last, 2 bits type (0 = raw), 21 bits size
        hdr = last | (0 << 1) | (bsize << 3)
        out += struct.pack("<I", hdr)[:3]
        out += b"\x00" * bsize
    if checksum:
        out += b"\x00\x00\x00\x00"  # content checksum slot
    return bytes(out)


def parse_zstd_metadata(payload: bytes):
    """(n_frames, n_skippable, window_size, dict_id, content_size,
    n_blocks, checksum_flag) from a zstandard stream; None for
    non-zstd or truncated payloads.  Window size from the spec
    formula ``(1 << (10+exp)) + ((1 << (10+exp)) >> 3) * mantissa``;
    single-segment frames use the content size as the window."""
    pos, n_frames, n_skip = 0, 0, 0
    window = dict_id = content = blocks = 0
    checksum = 0
    while pos + 4 <= len(payload):
        (magic,) = struct.unpack_from("<I", payload, pos)
        if 0x184D2A50 <= magic <= 0x184D2A5F:
            if pos + 8 > len(payload):
                return None
            (sz,) = struct.unpack_from("<I", payload, pos + 4)
            pos += 8 + sz
            n_skip += 1
            continue
        if magic != 0xFD2FB528:
            return None
        pos += 4
        if pos >= len(payload):
            return None
        desc = payload[pos]
        pos += 1
        fcs_flag = desc >> 6
        single = bool(desc & 0x20)
        checksum = 1 if desc & 0x04 else 0
        dflag = desc & 0x03
        if not single:
            if pos >= len(payload):
                return None
            wd = payload[pos]
            pos += 1
            base = 1 << (10 + (wd >> 3))
            window = base + (base >> 3) * (wd & 7)
        dlen = (0, 1, 2, 4)[dflag]
        if dlen:
            dict_id = int.from_bytes(
                payload[pos : pos + dlen], "little"
            )
            pos += dlen
        flen = (0, 2, 4, 8)[fcs_flag]
        if flen == 2:
            content = 256 + int.from_bytes(payload[pos : pos + 2], "little")
        elif flen:
            content = int.from_bytes(payload[pos : pos + flen], "little")
        pos += flen
        if single:
            window = content
        # block walk
        while True:
            if pos + 3 > len(payload):
                return None
            hdr = int.from_bytes(payload[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = hdr & 1, (hdr >> 1) & 3, hdr >> 3
            if btype == 1:  # RLE block stores ONE byte
                bsize = 1
            pos += bsize
            blocks += 1
            if last:
                break
        if checksum:
            if pos + 4 > len(payload):
                return None
            pos += 4
        n_frames += 1
    if n_frames == 0:
        return None
    return (
        n_frames, n_skip, window, dict_id, content, blocks, checksum
    )
