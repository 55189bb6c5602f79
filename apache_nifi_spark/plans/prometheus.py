"""PrometheusReportingTask (§2.11 monitoring surface [2.7.2-surface,
nifi-prometheus bundle]): flow metrics rendered in the Prometheus text
exposition format (version 0.0.4, the public scrape format) and served
from a real ``/metrics`` HTTP endpoint.

Rendering is pure column concatenation — ``# HELP`` / ``# TYPE`` header
lines plus ``family{label="value"} <number>`` sample lines with the
format's label escaping (backslash, quote, newline) — so the exact
scrape bytes are value-oracle-able.  Sample values render through a
DECIMAL cast, the engine-portable number formatting used throughout the
sinks (float repr drift would break byte-exactness).

``MetricsEndpoint`` is the serving half: a stdlib HTTP server whose
``GET /metrics`` returns the rendered exposition with the standard
content type; the registry query proves render → serve → scrape → parse
end to end against the engine's own aggregates.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_nifi_spark import net

__all__ = ["escape_label", "render_exposition", "MetricsEndpoint"]

#: text-format content type (public constant).
CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"


def escape_label(c: Column) -> Column:
    r"""Label-value escaping per the exposition format: ``\`` → ``\\``,
    ``"`` → ``\"``, newline → ``\n``."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    return F.replace(c, F.lit("\n"), F.lit("\\n"))


def render_exposition(
    df: DataFrame,
    family: str,
    metric_type: str,
    help_text: str,
    labels: dict[str, Column],
    value: Column,
) -> DataFrame:
    """One metric family → exposition lines (line_no, line): the HELP and
    TYPE headers followed by one sample per input row, label order as
    given, samples sorted by their label tuple so the scrape body is
    deterministic."""
    label_parts: list[Column] = []
    for i, (name, col) in enumerate(labels.items()):
        prefix = "" if i == 0 else ","
        label_parts.extend(
            [F.lit(f'{prefix}{name}="'), escape_label(col), F.lit('"')]
        )
    sample = F.concat(
        F.lit(family + "{"), *label_parts, F.lit("} "), value
    )
    # The exposition page is bounded (one line per family×label-set), so
    # sequence it with one sorted partition + monotonically_increasing_id
    # — same determinism as an unpartitioned row_number window without
    # WindowExec's all-data-to-one-partition scare warning per scrape.
    samples = (
        df.select(sample.alias("line"))
        .repartition(1)
        .sortWithinPartitions("line")
        .withColumn(
            "line_no", (F.monotonically_increasing_id() + 3).cast("int")
        )
        .select("line_no", "line")
    )
    headers = df.sparkSession.createDataFrame(
        [
            (1, f"# HELP {family} {help_text}"),
            (2, f"# TYPE {family} {metric_type}"),
        ],
        "line_no int, line string",
    )
    return headers.unionByName(samples)


class MetricsEndpoint(net.Server):
    """The scrape half: ``GET /metrics`` serves the last published
    exposition body with the standard content type."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._body = b""
        self._lock = threading.Lock()
        endpoint = self

        class Handler(net.HttpHandler):
            def do_GET(self):  # noqa: N802 (stdlib API name)
                if self.path != "/metrics":
                    # bodyless under keep-alive: an explicit zero length
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                with endpoint._lock:
                    body = endpoint._body
                self.send_response(200)
                self.send_header("Content-Type", CONTENT_TYPE)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        super().__init__(Handler, host, port)

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}/metrics"

    def publish(self, exposition: DataFrame) -> None:
        """Collect the (small, O(metric-families × label-cardinality))
        exposition lines and swap in the new scrape body atomically."""
        rows = exposition.orderBy("line_no").collect()  # control-plane: scrape body
        body = ("\n".join(r["line"] for r in rows) + "\n").encode()
        with self._lock:
            self._body = body
