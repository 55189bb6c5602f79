"""InvokeHTTP analog (SURVEY.md §2.1): per-record outbound HTTP
enrichment.

NiFi's InvokeHTTP calls an endpoint per FlowFile and routes on the
response.  Spark-first shape: an Arrow-batched :func:`io.with_columns`
stage holding ONE pooled ``http.client`` connection per partition —
requests amortize TCP/TLS setup across the batch, partitions fan out
across executors, and the operator stays a plain DataFrame transform
(routing on ``status`` composes with RouteOnAttribute downstream).

At 100 TB the same shape holds: concurrency = partitions, per-partition
keep-alive connections, and rate control via ``ControlRate`` upstream or
``maxRecordsPerBatch`` — never a per-row connection, never driver-side
requests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from apache_nifi_spark.io import with_columns

__all__ = ["invoke_http", "post_http"]


def invoke_http(
    df: DataFrame,
    url_col: str,
    out_col: str = "response",
    status_col: str = "status",
    timeout: float = 10.0,
    concurrency: int = 8,
    pool_threshold: float = 0.005,
) -> DataFrame:
    """GET each row's ``url_col``; append the response body (string) and
    HTTP status.

    A bounded thread pool (``concurrency``) per partition overlaps
    request latency — one slow endpoint no longer pins the partition at
    RTT × rows — while each worker thread keeps its own keep-alive
    connection per host (``threading.local``), so TCP setup still
    amortizes across the batch.  Results stay in row order.

    The pool is ADAPTIVE: the first two requests of each partition run
    sequentially as a latency probe, and the pool engages only when the
    measured RTT clears ``pool_threshold`` (default 5 ms).  Measured:
    against a fast same-host endpoint, 8 threads are ~4× SLOWER than one
    hot keep-alive connection (thread switch + server-side contention
    ≈5 ms/request vs 1.2 ms sequential), while against a 250 ms endpoint
    the pool is the difference between RTT×rows and RTT×rows/8.  One
    decision per partition, not per batch, so it cannot flap.

    Failure semantics mirror InvokeHTTP's relationships: transport
    errors yield status -1 and empty body (the ``failure`` route) rather
    than failing the task — retry policy belongs to RetryFlowFile
    downstream, not to the transform.
    """

    def run(batches):
        import http.client
        import threading
        import urllib.parse
        from concurrent.futures import ThreadPoolExecutor

        tls = threading.local()  # per-thread keep-alive connection cache

        def fetch(url: str) -> tuple[str, int]:
            conns: dict = getattr(tls, "conns", None) or {}
            tls.conns = conns
            u = urllib.parse.urlsplit(url)
            key = (u.hostname or "", u.port or 80)
            try:
                conn = conns.get(key)
                if conn is None:
                    conn = http.client.HTTPConnection(
                        key[0], key[1], timeout=timeout
                    )
                    conns[key] = conn
                path = u.path + (f"?{u.query}" if u.query else "")
                conn.request("GET", path)
                resp = conn.getresponse()
                return resp.read().decode("utf-8", "replace"), resp.status
            except Exception:
                conns.pop(key, None)  # drop the broken keep-alive
                return "", -1

        import time

        pool = None  # engaged lazily, only if the probe says slow
        use_pool: bool | None = None
        try:
            for (urls,) in batches:
                results: list[tuple[str, int]] = []
                if use_pool is None and urls:
                    t0 = time.perf_counter()
                    probe_n = min(2, len(urls))
                    results = [fetch(u) for u in urls[:probe_n]]
                    rtt = (time.perf_counter() - t0) / probe_n
                    use_pool = concurrency > 1 and rtt >= pool_threshold
                    if use_pool:
                        pool = ThreadPoolExecutor(max_workers=concurrency)
                    urls = urls[probe_n:]
                if use_pool:
                    results += list(pool.map(fetch, urls))  # ordered
                else:
                    results += [fetch(u) for u in urls]
                yield [r[0] for r in results], [r[1] for r in results]
        finally:
            if pool is not None:
                pool.shutdown(wait=False)

    return with_columns(df, [url_col], run, f"`{out_col}` string, `{status_col}` int")


def post_http(
    df: DataFrame,
    url: str,
    body_col: str,
    content_type: str = "application/json",
    status_col: str = "status",
    timeout: float = 10.0,
) -> DataFrame:
    """POST each row's ``body_col`` to ``url`` — the delivery half of
    PutSlack (webhook/chat.postMessage) and InvokeHTTP's POST mode.

    One keep-alive connection per partition (the ``put_tcp`` pattern:
    connection setup amortizes across the batch, partitions fan out
    across executors); appends the HTTP status per row, transport
    errors → -1 so failures route downstream instead of failing the
    task.
    """
    import urllib.parse

    if urllib.parse.urlsplit(url).scheme not in ("http", "https"):
        raise ValueError(
            f"post_http: unsupported URL scheme in {url!r} (http/https only)"
        )

    def run(batches):
        import http.client
        import urllib.parse

        u = urllib.parse.urlsplit(url)
        secure = u.scheme == "https"
        host, port = u.hostname or "", u.port or (443 if secure else 80)
        path = u.path or "/"
        conn: "http.client.HTTPConnection | None" = None

        def post(body: str) -> int:
            nonlocal conn
            try:
                if conn is None:
                    cls = (
                        http.client.HTTPSConnection
                        if secure
                        else http.client.HTTPConnection
                    )
                    conn = cls(host, port, timeout=timeout)
                conn.request(
                    "POST",
                    path,
                    body=body.encode("utf-8"),
                    headers={"Content-Type": content_type},
                )
                resp = conn.getresponse()
                resp.read()  # drain so the keep-alive connection reuses
                return resp.status
            except Exception:
                try:
                    if conn is not None:
                        conn.close()
                finally:
                    conn = None
                return -1

        try:
            for (bodies,) in batches:
                yield [post(b) if b is not None else -1 for b in bodies],
        finally:
            if conn is not None:
                conn.close()

    return with_columns(df, [body_col], run, f"`{status_col}` int")
