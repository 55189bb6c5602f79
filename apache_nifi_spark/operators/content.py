"""Content (de)compression and archive (un)packing — SURVEY.md §2.4/§2.5.

Covers ``CompressContent`` (codec level: Spark readers/writers handle
gzip/snappy/zstd transparently via the ``compression`` option — see
``sources.formats``) and ``UnpackContent``/``MergeContent(zip)`` at the
archive level.

Archive packing is genuinely byte-imperative (zip central directory), so
this is one of the few sanctioned Python seams (SURVEY.md §2.10): Arrow-
batched ``mapInPandas``, never row-at-a-time UDFs.  Each batch is packed/
unpacked independently on executors — no driver involvement, no shuffle;
at 100 TB the archive blobs stream through executor memory one Arrow
batch at a time.
"""

from __future__ import annotations

import io as _io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

__all__ = [
    "merge_content_text",
    "pack_content_zip",
    "unpack_content_zip",
    "pack_content_tar",
    "unpack_content_tar",
    "pack_flowfile_v3",
    "unpack_flowfile_v3",
    "compress_content",
    "decompress_content",
]

_PACKED_SCHEMA = "id bigint, archive binary"
_UNPACKED_SCHEMA = "id bigint, entry_name string, payload binary"


def pack_content_zip(
    df: DataFrame, id_col: str, name_col: str, payload_col: str
) -> DataFrame:
    """MergeContent(zip strategy) per row-group: wrap each row's payload
    into a single-entry zip archive (STORED — deterministic bytes, no
    deflate timestamp drift).  Output: (id, archive binary)."""

    def _one(name, payload) -> bytes:
        buf = _io.BytesIO()
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            # fixed date_time keeps archive bytes reproducible
            info = zipfile.ZipInfo(str(name), (1980, 1, 1, 0, 0, 0))
            zf.writestr(info, bytes(payload))
        return buf.getvalue()

    def _pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # columnar zip over the two columns — no iterrows
            blobs = [
                _one(n, p) for n, p in zip(pdf[name_col], pdf[payload_col])
            ]
            yield pd.DataFrame({"id": pdf[id_col].astype("int64"), "archive": blobs})

    return df.mapInPandas(_pack, _PACKED_SCHEMA)


def unpack_content_zip(df: DataFrame, id_col: str, archive_col: str) -> DataFrame:
    """UnpackContent (zip): one output row per archive entry, with the
    entry name as NiFi's ``segment.original.filename`` analog."""

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, payloads = [], [], []
            for rid, blob in zip(pdf[id_col], pdf[archive_col]):
                with zipfile.ZipFile(_io.BytesIO(bytes(blob))) as zf:
                    for entry in zf.namelist():
                        ids.append(int(rid))
                        names.append(entry)
                        payloads.append(zf.read(entry))
            yield pd.DataFrame(
                {"id": pd.Series(ids, dtype="int64"), "entry_name": names,
                 "payload": payloads}
            )

    return df.mapInPandas(_unpack, _UNPACKED_SCHEMA)


#: codec name → (compress, decompress) over bytes — NiFi
#: CompressContent's full codec menu: stdlib gzip/bzip2/xz/deflate plus
#: Snappy and LZ4 through pyarrow's bundled codec libraries.
def _codecs():
    import bz2
    import gzip as _gzip
    import lzma
    import zlib

    import pyarrow as pa

    def snappy_decompress(b: bytes) -> bytes:
        # a raw snappy stream opens with its uncompressed length as a
        # little-endian base-128 varint
        n = shift = 0
        for c in b[:5]:
            n |= (c & 0x7F) << shift
            shift += 7
            if c < 0x80:
                break
        return pa.decompress(b, decompressed_size=n, codec="snappy").to_pybytes()

    return {
        "gzip": (lambda b: _gzip.compress(b, mtime=0), _gzip.decompress),
        "bzip2": (bz2.compress, bz2.decompress),
        "xz": (lzma.compress, lzma.decompress),
        "deflate": (zlib.compress, zlib.decompress),
        "snappy": (
            lambda b: pa.compress(b, codec="snappy", asbytes=True),
            snappy_decompress,
        ),
        # NiFi's LZ4 mode speaks the FRAME format (what the lz4 tool
        # reads and writes)
        "lz4": (
            lambda b: pa.compress(b, codec="lz4", asbytes=True),
            lambda b: pa.CompressedInputStream(pa.BufferReader(b), "lz4").read(),
        ),
    }


def compress_content(
    df: DataFrame, content_col: str, codec: str = "gzip", out_col: str | None = None
) -> DataFrame:
    """CompressContent, per-RECORD (NiFi compresses each FlowFile's
    content; the writer-level ``compression`` option covers whole
    files).  Stdlib codecs gzip/bzip2/xz/deflate over Arrow batches —
    gzip with ``mtime=0`` so output bytes are deterministic.
    ``out_col`` defaults to replacing the content column."""
    return _recode(df, content_col, codec, out_col, mode=0)


def decompress_content(
    df: DataFrame, content_col: str, codec: str = "gzip", out_col: str | None = None
) -> DataFrame:
    """CompressContent's decompress mode — the inverse per-record codec."""
    return _recode(df, content_col, codec, out_col, mode=1)


def _recode(df, content_col, codec, out_col, mode):
    if codec not in _codecs():
        raise ValueError(f"unsupported codec {codec!r} (have {sorted(_codecs())})")
    from pyspark.sql.types import BinaryType, StructType

    out_col = out_col or content_col
    if out_col == content_col:
        schema = df.schema
    else:
        schema = StructType(list(df.schema.fields)).add(out_col, BinaryType())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = _codecs()[codec][mode]
        for pdf in batches:
            pdf[out_col] = [
                fn(bytes(p)) if p is not None else None for p in pdf[content_col]
            ]
            yield pdf

    return df.mapInPandas(run, schema)


def merge_content_text(
    df,
    group_col: str,
    content_col: str,
    order_col: str,
    header: str = "",
    demarcator: str = "\n",
    footer: str = "",
):
    """MergeContent's Binary-Concatenation mode with Header/Demarcator/
    Footer [2.7.2-surface]: each bin (group) merges its members' content
    in a TOTAL order into one payload framed by the configured strings.

    Columnar: sort_array over (order, content) structs keeps the merge
    deterministic, array_join applies the demarcator, concat frames it —
    one shuffle on the bin key with map-side partial collect.  Bin size
    is the operator's own bound (NiFi bins cap at Max Group Size); a bin
    must fit an executor, same contract as the zip packer above.
    """
    from pyspark.sql import functions as F

    merged = F.concat(
        F.lit(header),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(order_col).alias("o"),
                                            F.col(content_col).alias("c")))
                ),
                lambda s: s["c"],
            ),
            demarcator,
        ),
        F.lit(footer),
    )
    return df.groupBy(group_col).agg(
        merged.alias("merged_content"),
        F.count(F.lit(1)).alias("fragment_count"),
    )


_TAR_PACKED_SCHEMA = "group_id bigint, archive binary"


def pack_content_tar(
    df: DataFrame, group_col: str, name_col: str, payload_col: str
) -> DataFrame:
    """MergeContent(tar strategy): all rows of a group packed into ONE
    ustar archive, entries sorted by name (deterministic bytes: fixed
    mtime/uid/gid/mode, USTAR format).  Unlike the zip packer this is a
    many-rows→one-archive merge, so it runs as ``applyInPandas`` per
    group — NiFi's bin-by-correlation-attribute shape.  Output:
    (group_id, archive binary)."""
    import tarfile

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = _io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
            rows = sorted(
                zip(pdf[name_col], pdf[payload_col]), key=lambda r: str(r[0])
            )
            for name, payload in rows:
                if isinstance(payload, str):
                    payload = payload.encode("utf-8")
                info = tarfile.TarInfo(str(name))
                info.size = len(payload)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tf.addfile(info, _io.BytesIO(bytes(payload)))
        return pd.DataFrame(
            {"group_id": [int(pdf[group_col].iloc[0])], "archive": [buf.getvalue()]}
        )

    return df.groupBy(group_col).applyInPandas(_pack, _TAR_PACKED_SCHEMA)


_TAR_UNPACKED_SCHEMA = "group_id bigint, entry_name string, payload binary"


def unpack_content_tar(df: DataFrame, id_col: str, archive_col: str) -> DataFrame:
    """UnpackContent (tar): one output row per archive member, Arrow-
    batched — the executor streams each archive's members without
    touching the driver."""
    import tarfile

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, payloads = [], [], []
            for rid, blob in zip(pdf[id_col], pdf[archive_col]):
                with tarfile.open(fileobj=_io.BytesIO(bytes(blob))) as tf:
                    for member in tf.getmembers():
                        if not member.isfile():
                            continue
                        ids.append(int(rid))
                        names.append(member.name)
                        payloads.append(tf.extractfile(member).read())
            yield pd.DataFrame(
                {"group_id": pd.Series(ids, dtype="int64"),
                 "entry_name": names, "payload": payloads}
            )

    return df.mapInPandas(_unpack, _TAR_UNPACKED_SCHEMA)


# --------------------------------------------------------------------------
# NiFi FlowFile Stream, v3 — the engine's own multi-flowfile packaging
# (MergeContent "FlowFile Stream, v3" / UnpackContent "flowfile-stream-v3").
# Framing implemented from the public format description: each record is
#   7-byte magic "NiFiFF3"
#   attribute COUNT in the same field-length encoding as strings
#     (2-byte BE; 0xFFFF escapes to a 4-byte BE value) — NiFi's
#     FlowFilePackagerV3 writeFieldLength, NOT a raw 4-byte int
#     (round-10 advice: the raw-int form round-tripped here but real
#     NiFi UnpackContent could not read it)
#   per attribute: length-prefixed UTF-8 key, then value (same encoding)
#   8-byte BE content length, raw content bytes
# records concatenate back-to-back into one stream.
# --------------------------------------------------------------------------

_FF3_MAGIC = b"NiFiFF3"


def _ff3_write_len(n: int) -> bytes:
    import struct as _struct

    if n < 0xFFFF:
        return _struct.pack(">H", n)
    return b"\xff\xff" + _struct.pack(">I", n)


def _ff3_read_len(buf: bytes, off: int) -> tuple[int, int]:
    import struct as _struct

    if off + 2 > len(buf):
        raise ValueError(f"truncated FlowFile v3 field length at offset {off}")
    n = _struct.unpack(">H", buf[off : off + 2])[0]
    off += 2
    if n == 0xFFFF:
        if off + 4 > len(buf):
            raise ValueError(
                f"truncated FlowFile v3 long field length at offset {off}"
            )
        n = _struct.unpack(">I", buf[off : off + 4])[0]
        off += 4
    return n, off


def _ff3_field(data: bytes) -> bytes:
    return _ff3_write_len(len(data)) + data


def _ff3_read_field(buf: bytes, off: int) -> tuple[bytes, int]:
    n, off = _ff3_read_len(buf, off)
    if off + n > len(buf):
        raise ValueError(f"truncated FlowFile v3 field at offset {off}")
    return buf[off : off + n], off + n


_FF3_PACKED_SCHEMA = "group_id bigint, stream binary, n_records int"


def pack_flowfile_v3(
    df: DataFrame, group_col: str, attr_cols: list[str], content_col: str
) -> DataFrame:
    """MergeContent(FlowFile Stream, v3): every row of a group becomes
    one packaged flowfile (its attributes = the named columns, as
    strings) and the group concatenates into a single v3 stream.
    Records are ordered by the attribute tuple for deterministic bytes.
    Output: (group_id, stream binary, n_records)."""
    import struct as _struct

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _io.BytesIO()
        rows = pdf.sort_values(attr_cols, kind="mergesort")
        for _, row in rows.iterrows():
            content = row[content_col]
            if isinstance(content, str):
                content = content.encode("utf-8")
            content = bytes(content)
            out.write(_FF3_MAGIC)
            out.write(_ff3_write_len(len(attr_cols)))
            for a in attr_cols:
                out.write(_ff3_field(a.encode("utf-8")))
                out.write(_ff3_field(str(row[a]).encode("utf-8")))
            out.write(_struct.pack(">Q", len(content)))
            out.write(content)
        return pd.DataFrame(
            {"group_id": [int(pdf[group_col].iloc[0])],
             "stream": [out.getvalue()],
             "n_records": [len(rows)]}
        )

    return df.groupBy(group_col).applyInPandas(_pack, _FF3_PACKED_SCHEMA)


_FF3_UNPACKED_SCHEMA = (
    "group_id bigint, attributes map<string,string>, content binary"
)


def unpack_flowfile_v3(df: DataFrame, id_col: str, stream_col: str) -> DataFrame:
    """UnpackContent (flowfile-stream-v3): one row per packaged
    flowfile with its attribute map and content restored.  A stream
    whose framing is corrupt raises — packaging errors must fail loudly,
    not land truncated records."""
    import struct as _struct

    def _unpack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, attrs, contents = [], [], []
            for rid, blob in zip(pdf[id_col], pdf[stream_col]):
                buf = bytes(blob)
                off = 0
                while off < len(buf):
                    if buf[off : off + 7] != _FF3_MAGIC:
                        raise ValueError(
                            f"bad FlowFile v3 magic at offset {off}"
                        )
                    off += 7
                    n_attrs, off = _ff3_read_len(buf, off)
                    a = {}
                    for _ in range(n_attrs):
                        k, off = _ff3_read_field(buf, off)
                        v, off = _ff3_read_field(buf, off)
                        a[k.decode("utf-8")] = v.decode("utf-8")
                    if off + 8 > len(buf):
                        raise ValueError(
                            f"truncated FlowFile v3 content length at {off}"
                        )
                    clen = _struct.unpack(">Q", buf[off : off + 8])[0]
                    off += 8
                    if off + clen > len(buf):
                        raise ValueError(
                            f"truncated FlowFile v3 content at offset {off}:"
                            f" need {clen} bytes, have {len(buf) - off}"
                        )
                    ids.append(int(rid))
                    attrs.append(a)
                    contents.append(buf[off : off + clen])
                    off += clen
            yield pd.DataFrame(
                {"group_id": pd.Series(ids, dtype="int64"),
                 "attributes": attrs, "content": contents}
            )

    return df.mapInPandas(_unpack, _FF3_UNPACKED_SCHEMA)
