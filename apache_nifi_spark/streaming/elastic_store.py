"""PutElasticsearchRecord's delivery half (§2.2): a minimal
Elasticsearch-compatible HTTP endpoint closing the ``_bulk`` loop.

``sinks/wire.es_bulk`` renders the exact NDJSON the real `_bulk` API
takes; this module provides the receiving tier so the hop is proven
over REAL HTTP rather than render-only:

- ``POST /_bulk`` — parses action-and-metadata + source line pairs
  (``index``/``create`` actions), answers the standard ``items`` body,
  and LANDS each document as one JSON file (the landing contract in
  ``streaming/listen.py``), with ``_index``/``_id`` merged into the
  document.
- ``GET /<index>/_count`` — ``{"count": N}`` for delivery assertions.
- ``GET /<index>/_search`` — match-all hits (bounded by ``size``), the
  smoke-read the real API serves.

Spark-first shape: executors POST per partition (keep-alive,
``operators/http.post_http``); the read-back is a DISTRIBUTED
``spark.read.json`` over the landing dir — never a driver-side dump of
an in-memory store.  Swap the endpoint for a real cluster URL and
nothing else changes; this tier exists so the protocol semantics are
testable in-process.
"""

from __future__ import annotations

import json
import os
import threading
import uuid

from apache_nifi_spark import net
from apache_nifi_spark.streaming.listen import Landing

__all__ = ["MiniElasticServer"]


class MiniElasticServer(net.Server):
    """Threaded `_bulk`-compatible landing endpoint."""

    def __init__(self, landing_dir: str, host: str = "127.0.0.1", port: int = 0):
        self.landing_dir = landing_dir
        self.landing = Landing(landing_dir, ".json")
        self._counts: dict[str, int] = {}
        self._lock = threading.Lock()
        store = self

        class Handler(net.HttpHandler):
            def _reply(self, code: int, obj: dict) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802 (stdlib API name)
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length).decode("utf-8", "replace")
                if self.path.rstrip("/").endswith("_bulk"):
                    self._reply(200, store._bulk(body))
                elif self.path.rstrip("/").endswith("_search"):
                    self._reply(200, store._search(self.path))
                else:
                    self._reply(404, {"error": "unsupported endpoint"})

            def do_GET(self):  # noqa: N802
                if self.path.rstrip("/").endswith("_count"):
                    index = self.path.strip("/").split("/")[0]
                    self._reply(200, {"count": store._counts.get(index, 0)})
                elif self.path.rstrip("/").endswith("_search"):
                    self._reply(200, store._search(self.path))
                else:
                    self._reply(404, {"error": "unsupported endpoint"})

        super().__init__(Handler, host, port)

    # ------------------------------------------------------- protocol ---

    def _bulk(self, body: str) -> dict:
        lines = [ln for ln in body.split("\n") if ln.strip()]
        items, errors = [], False
        i = 0
        while i < len(lines):
            try:
                action = json.loads(lines[i])
            except ValueError:
                errors = True
                items.append({"index": {"status": 400, "error": "malformed action"}})
                i += 1
                continue
            kind = next(iter(action), None)
            if kind not in ("index", "create"):
                errors = True
                items.append({kind or "?": {"status": 400, "error": "unsupported"}})
                i += 1
                continue
            meta = action[kind]
            if i + 1 >= len(lines):
                errors = True
                items.append({kind: {"status": 400, "error": "missing source"}})
                break
            try:
                doc = json.loads(lines[i + 1])
            except ValueError:
                errors = True
                items.append({kind: {"status": 400, "error": "malformed source"}})
                i += 2
                continue
            index = meta.get("_index", "default")
            doc_id = str(meta.get("_id", uuid.uuid4().hex))
            with self._lock:
                self._counts[index] = self._counts.get(index, 0) + 1
            rec = dict(doc)
            rec["_index"] = index
            rec["_id"] = doc_id
            self.landing.publish(
                json.dumps(rec, separators=(",", ":")).encode(),
                prefix=f"{index}__{doc_id}_",
            )
            items.append(
                {kind: {"_index": index, "_id": doc_id, "status": 201,
                        "result": "created"}}
            )
            i += 2
        return {"errors": errors, "items": items}

    def _search(self, path: str) -> dict:
        index = path.strip("/").split("/")[0]
        hits = []
        prefix = f"{index}__"
        matching = [
            f for f in sorted(os.listdir(self.landing_dir))
            if f.startswith(prefix)
        ]
        for fname in matching[:10]:  # ES default page size
            with open(os.path.join(self.landing_dir, fname)) as f:
                src = json.load(f)
            hits.append({"_index": index, "_id": src.get("_id"), "_source": src})
        return {
            "hits": {
                "total": {"value": self._counts.get(index, 0), "relation": "eq"},
                "hits": hits,
            }
        }

    # --------------------------------------------------------- control ---

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"
