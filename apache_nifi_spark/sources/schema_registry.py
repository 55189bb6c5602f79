"""Confluent-style schema registry + wire format (the NiFi
``ConfluentSchemaRegistry`` controller service and the
Confluent-encoded record reader/writer path; reference ships stock
NiFi 2.7.2 [2.7.2-surface]).

Everything from the PUBLIC formats:

- **wire format**: one magic byte ``0x00`` + int32 BE schema id + the
  Avro binary body — the framing every Confluent-encoded Kafka topic
  uses.
- **registry REST subset** (the documented Confluent API):
  ``POST /subjects/{subject}/versions`` registers a schema (idempotent
  by Avro canonical form, returns ``{"id": n}``),
  ``GET /schemas/ids/{id}`` returns ``{"schema": "<json>"}``,
  ``GET /subjects/{subject}/versions/latest`` returns id + schema.

Spark-first shape: registration is one driver-side control-plane HTTP
call; encoding is a per-row generator (:func:`io.flat_map`, Arrow
batches) with the compiled encoder closure (zero per-row Python
dispatch into the schema walk); decoding fetches the WRITER schema by
each frame's embedded id over HTTP once per task (cached), resolves it
against the reader schema with the full Avro schema-resolution rules
(``avro_codec.resolve_decoder``), so old-schema frames decode under the
evolved subject exactly as the spec prescribes.
"""

from __future__ import annotations

import http.client
import io as _io
import json
import struct
import threading
from typing import Any

from pyspark.sql import DataFrame

from apache_nifi_spark import net
from apache_nifi_spark.io import flat_map
from apache_nifi_spark.sources.avro_codec import (
    _compile_encoder,
    _Reader,
    avro_to_spark_schema,
    canonical_form,
    resolve_decoder,
    spark_to_avro_schema,
)

__all__ = [
    "MiniSchemaRegistry",
    "register_schema",
    "encode_confluent",
    "decode_confluent",
]

_MAGIC = 0


class MiniSchemaRegistry(net.Server):
    """In-process schema registry speaking the public REST subset over
    real HTTP — swap the URL for a real Confluent
    deployment; the protocol seam is this module."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._lock = threading.Lock()
        self._by_canonical: dict[str, int] = {}
        self._by_id: dict[int, str] = {}
        self._subjects: dict[str, list[int]] = {}
        reg = self

        class Handler(net.HttpHandler):
            # every response goes through _json, which sends Content-Length
            def _json(self, code: int, obj: Any) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type",
                                 "application/vnd.schemaregistry.v1+json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:
                parts = self.path.strip("/").split("/")
                if (
                    len(parts) == 3
                    and parts[0] == "subjects"
                    and parts[2] == "versions"
                ):
                    n = int(self.headers.get("Content-Length", "0"))
                    payload = json.loads(self.rfile.read(n) or b"{}")
                    schema = json.loads(payload["schema"])
                    sid = reg._register(parts[1], schema)
                    self._json(200, {"id": sid})
                else:
                    self._json(404, {"error_code": 40401,
                                     "message": "not found"})

            def do_GET(self) -> None:
                parts = self.path.strip("/").split("/")
                with reg._lock:
                    if (
                        len(parts) == 3
                        and parts[:2] == ["schemas", "ids"]
                        and int(parts[2]) in reg._by_id
                    ):
                        self._json(200, {"schema": reg._by_id[int(parts[2])]})
                        return
                    if (
                        len(parts) == 4
                        and parts[0] == "subjects"
                        and parts[2] == "versions"
                        and parts[3] == "latest"
                        and reg._subjects.get(parts[1])
                    ):
                        sid = reg._subjects[parts[1]][-1]
                        self._json(200, {
                            "subject": parts[1],
                            "version": len(reg._subjects[parts[1]]),
                            "id": sid,
                            "schema": reg._by_id[sid],
                        })
                        return
                self._json(404, {"error_code": 40401, "message": "not found"})

        super().__init__(Handler, host, port)

    def _register(self, subject: str, schema: Any) -> int:
        canon = canonical_form(schema)
        with self._lock:
            sid = self._by_canonical.get(canon)
            if sid is None:
                sid = len(self._by_id) + 1
                self._by_canonical[canon] = sid
                self._by_id[sid] = json.dumps(schema)
            versions = self._subjects.setdefault(subject, [])
            if sid not in versions:
                versions.append(sid)
            return sid

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"


def _http_json(url: str, path: str, payload: Any | None = None) -> Any:
    from urllib.parse import urlsplit

    u = urlsplit(url)
    conn = http.client.HTTPConnection(u.hostname, u.port or 80, timeout=10)
    try:
        if payload is None:
            conn.request("GET", path)
        else:
            body = json.dumps(payload).encode()
            conn.request(
                "POST", path, body,
                {"Content-Type": "application/vnd.schemaregistry.v1+json"},
            )
        resp = conn.getresponse()
        data = json.loads(resp.read())
        if resp.status != 200:
            raise ConnectionError(f"registry {path}: {data}")
        return data
    finally:
        conn.close()


def register_schema(url: str, subject: str, schema: Any) -> int:
    """POST the schema under ``subject``; returns the registry id
    (idempotent — re-registering the same canonical form returns the
    existing id, per the Confluent contract)."""
    return _http_json(
        url, f"/subjects/{subject}/versions", {"schema": json.dumps(schema)}
    )["id"]


def encode_confluent(
    df: DataFrame,
    registry_url: str,
    subject: str,
    id_col: str,
) -> DataFrame:
    """Encode every row as a Confluent-framed Avro message: the row's
    schema (minus ``id_col``) registers ONCE driver-side (control-plane
    HTTP), executors write ``0x00 + int32 id + avro binary`` per row.
    Returns (id_col, content binary)."""
    value_schema = df.drop(id_col).schema
    avro_schema = spark_to_avro_schema(value_schema)
    sid = register_schema(registry_url, subject, avro_schema)
    header = struct.pack(">bI", _MAGIC, sid)
    # compiled once per task, on the executor: the encoder closes over
    # struct.Struct objects, which do not pickle
    encoder: list = []

    def encode(rid, *row):
        if not encoder:
            encoder.append(_compile_encoder(avro_schema))
        buf = _io.BytesIO()
        buf.write(header)
        encoder[0](buf, row)
        yield rid, buf.getvalue()

    return flat_map(
        df, [id_col, *value_schema.fieldNames()], encode, f"{id_col} long, content binary"
    )


def decode_confluent(
    df: DataFrame,
    registry_url: str,
    subject: str,
    id_col: str,
    content_col: str = "content",
) -> DataFrame:
    """Decode Confluent-framed Avro messages under the subject's LATEST
    schema (the reader), resolving each frame's embedded WRITER id
    through the registry with full Avro schema resolution — evolved
    subjects decode old frames exactly as the spec prescribes.  The
    writer-schema fetch is one HTTP GET per (task, schema id),
    cached."""
    latest = _http_json(
        registry_url, f"/subjects/{subject}/versions/latest"
    )
    reader_schema = json.loads(latest["schema"])
    reader_sid = latest["id"]
    spark_type, _ = avro_to_spark_schema(reader_schema)
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in spark_type.fields
    )

    decoders: dict[int, Any] = {}  # writer schema id → resolving decoder

    def decode(rid, data):
        if not data or data[0] != _MAGIC:
            raise ValueError("bad Confluent magic byte")
        (sid,) = struct.unpack(">I", data[1:5])
        dec = decoders.get(sid)
        if dec is None:
            if sid == reader_sid:
                writer = reader_schema
            else:
                writer = json.loads(
                    _http_json(registry_url, f"/schemas/ids/{sid}")["schema"]
                )
            dec = decoders[sid] = resolve_decoder(writer, reader_schema)
        yield rid, *dec(_Reader(data[5:]))

    return flat_map(df, [id_col, content_col], decode, f"{id_col} long, {out_fields}")
