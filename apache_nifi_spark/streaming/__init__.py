"""Streaming semantics (SURVEY.md §2.11): NiFi's always-on flow model on
Structured Streaming.

Mapping recap:
- continuous flow            → micro-batch triggers (``availableNow`` for
                               drain-and-stop, processingTime for cadence)
- back pressure              → ``maxFilesPerTrigger``/``maxOffsetsPerTrigger``
- FlowFile expiration        → ``withWatermark`` late-data drop
- AttributeRollingWindow     → sliding windows
- MergeContent max-bin-age   → tumbling/session windows
- DetectDuplicate + age-off  → ``dropDuplicatesWithinWatermark``
- Wait/Notify correlation    → ``applyInPandasWithState`` keyed buffers
- WAL repos / exactly-once   → the drain's checkpoint (``sources.drain``)
"""

from apache_nifi_spark.streaming.sources import drain, stream_events, run_to_memory  # noqa: F401
from apache_nifi_spark.streaming.windows import (  # noqa: F401
    tumbling_agg,
    sliding_agg,
    session_agg,
)
from apache_nifi_spark.streaming.dedup import dedup_within_watermark  # noqa: F401
from apache_nifi_spark.streaming.stateful import running_totals_per_key  # noqa: F401
from apache_nifi_spark.streaming.joins import (  # noqa: F401
    correlate_streams,
    correlate_streams_with_expiry,
)
from apache_nifi_spark.streaming.routes import route_stream_to_files  # noqa: F401
from apache_nifi_spark.streaming.backpressure import BackpressureMonitor  # noqa: F401
from apache_nifi_spark.streaming.site_to_site import s2s_push, s2s_pull  # noqa: F401
from apache_nifi_spark.streaming.listen import (  # noqa: F401
    HttpLandingListener, TcpLandingListener, UdpLandingListener,
    stream_json_landing,
)
from apache_nifi_spark.streaming.jdbc_sink import stream_to_jdbc  # noqa: F401,E402
from apache_nifi_spark.streaming.websocket import (  # noqa: F401,E402
    WebSocketLandingServer,
    put_websocket,
)
from apache_nifi_spark.streaming.web_service import (  # noqa: F401
    HttpContextMap,
    HttpRequestResponseService,
)
