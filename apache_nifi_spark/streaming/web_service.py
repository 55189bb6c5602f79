"""Synchronous HandleHttpRequest → HandleHttpResponse cycle.

NiFi's request/response web-service pattern (SURVEY.md §2.1/§2.2;
reference exercises HTTP ingest end-to-end, /root/reference/updated.sh:
241-243): HandleHttpRequest turns an HTTP request into a FlowFile and
parks the open connection in a StandardHttpContextMap; the flow processes
the FlowFile; HandleHttpResponse looks the connection up by
``http.context.identifier`` and answers on it.  The async landing-zone
half already exists (`listen.HttpLandingListener`); this module is the
SYNCHRONOUS half — the caller blocks until the pipeline's answer comes
back on the same connection.

Spark-first shape: each request body (JSON lines) becomes a small
DataFrame with the same ``http.*`` request attributes NiFi attaches
(method, path, remote address, context id) as columns; a user pipeline
(``DataFrame → DataFrame``) — built from any operators in this repo —
produces the response records, serialized back as JSON lines on the held
connection.

Semantics carried over from NiFi:

- **Context map + expiration**: each in-flight request registers in
  ``HttpContextMap`` with the request-expiration clock NiFi's
  StandardHttpContextMap runs; a pipeline that overruns answers **503**
  (NiFi routes the stale context to failure) rather than holding the
  socket forever.
- **Failure routing**: a pipeline exception answers **500** with the
  error class in the body — the HandleHttpResponse failure relationship.
- **Status attribute**: the pipeline can choose the status code by
  emitting an ``http.status.code`` column (NiFi reads the same attribute
  on HandleHttpResponse); it is stripped from the payload.

Scale notes: the held-connection cycle is a *front-door* pattern — each
request is one small job over request-sized data, so driver-side
``createDataFrame``/``collect`` on it is the correct topology (the data
IS at the driver's front door; there is nothing to distribute until the
pipeline fans it out).  Bulk paths stay on the landing-zone half.
"""

from __future__ import annotations

import concurrent.futures
import json
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from apache_nifi_spark import net

__all__ = ["HttpContextMap", "HttpRequestResponseService", "REQUEST_ATTRS"]

#: Request attributes attached as columns, mirroring HandleHttpRequest's
#: FlowFile attributes (NiFi docs: http.method, http.request.uri,
#: http.remote.host, http.context.identifier).
REQUEST_ATTRS = (
    "http_method",
    "http_request_uri",
    "http_remote_host",
    "http_context_identifier",
)


class HttpContextMap:
    """StandardHttpContextMap analog: in-flight request registry with
    expiration.  Entries are (context id → deadline); ``sweep`` returns
    the ids whose deadline passed (their connections answer 503)."""

    def __init__(self, request_expiration_sec: float = 60.0):
        self.request_expiration_sec = request_expiration_sec
        self._live: dict[str, float] = {}
        self._lock = threading.Lock()

    def register(self, context_id: str) -> None:
        with self._lock:
            self._live[context_id] = time.monotonic() + self.request_expiration_sec

    def complete(self, context_id: str) -> bool:
        """True iff the context was still live (not expired/unregistered)."""
        with self._lock:
            return self._live.pop(context_id, None) is not None

    def expired(self, context_id: str) -> bool:
        with self._lock:
            deadline = self._live.get(context_id)
            return deadline is not None and time.monotonic() > deadline

    def __len__(self) -> int:
        with self._lock:
            return len(self._live)


class HttpRequestResponseService(net.Server):
    """HandleHttpRequest + HandleHttpResponse on one threaded server.

    ``pipeline(df) -> DataFrame`` receives the request records (body JSON
    lines parsed under ``schema``, plus the ``http_*`` attribute columns)
    and returns the response records.  Each handler thread holds its
    connection open for the duration — exactly NiFi's parked-connection
    contract — bounded by the context map's expiration.
    """

    def __init__(
        self,
        spark: SparkSession,
        pipeline: Callable[[DataFrame], DataFrame],
        schema: str,
        host: str = "127.0.0.1",
        port: int = 0,
        request_expiration_sec: float = 60.0,
        max_concurrent: int = 8,
    ):
        self.spark = spark
        self.pipeline = pipeline
        self.schema = schema
        self.context_map = HttpContextMap(request_expiration_sec)
        # Bounded workers = NiFi's container-queue back-pressure on
        # HandleHttpRequest: excess requests queue at the executor.
        self._pool = concurrent.futures.ThreadPoolExecutor(max_workers=max_concurrent)
        service = self

        class Handler(net.HttpHandler):
            def do_POST(self):  # noqa: N802 (stdlib API name)
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length)
                ctx = uuid.uuid4().hex
                service.context_map.register(ctx)
                fut = service._pool.submit(
                    service._run_pipeline,
                    body,
                    self.command,
                    self.path,
                    self.client_address[0],
                    ctx,
                )
                try:
                    status, payload = fut.result(
                        timeout=service.context_map.request_expiration_sec
                    )
                except concurrent.futures.TimeoutError:
                    fut.cancel()
                    status, payload = 503, b'{"error":"request expired in context map"}\n'
                except Exception as e:  # noqa: BLE001 — failure relationship
                    status, payload = 500, (
                        json.dumps({"error": type(e).__name__, "detail": str(e)[:500]}) + "\n"
                    ).encode()
                if not service.context_map.complete(ctx) and status == 200:
                    # expired while computing — NiFi's stale-context route
                    status, payload = 503, b'{"error":"context expired"}\n'
                self.send_response(status)
                self.send_header("Content-Type", "application/x-ndjson")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        super().__init__(Handler, host, port)

    def _run_pipeline(
        self, body: bytes, method: str, path: str, remote: str, ctx: str
    ) -> tuple[int, bytes]:
        from pyspark.sql import functions as F

        lines = [ln for ln in body.decode("utf-8").splitlines() if ln.strip()]
        raw = self.spark.createDataFrame([(ln,) for ln in lines], "value string")
        df = raw.select(F.from_json("value", self.schema).alias("r")).select("r.*")
        df = (
            df.withColumn("http_method", F.lit(method))
            .withColumn("http_request_uri", F.lit(path))
            .withColumn("http_remote_host", F.lit(remote))
            .withColumn("http_context_identifier", F.lit(ctx))
        )
        out = self.pipeline(df)
        status = 200
        if "http_status_code" in out.columns:
            first = out.select("http_status_code").first()
            if first is not None and first[0] is not None:
                status = int(first[0])
            out = out.drop("http_status_code")
        # An HTTP response body answered on ONE parked connection is
        # driver-side by nature (HandleHttpResponse semantics); pipelines
        # here return aggregates, not table scans.
        payload = ("\n".join(out.toJSON().collect()) + "\n").encode()  # control-plane: single parked-connection HTTP response
        return status, payload

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}/"

    def stop(self) -> None:
        super().stop()
        self._pool.shutdown(wait=False, cancel_futures=True)
