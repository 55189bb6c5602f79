"""ExtractEmailHeaders / ExtractEmailAttachments (§2.4
[2.7.2-surface, nifi-email bundle]): the PARSE half of the mail row —
``sinks/wire.email_mime`` renders RFC 5322 bytes, this module reads
them back with the stdlib ``email`` package (a real, spec-complete MIME
parser — no re-implementation to drift).

Spark shape: a per-message generator run by :func:`io.flat_map` over
the message bytes (Arrow batches, the sanctioned seam for
byte-imperative formats); attachments EXPLODE to
one row per part, mirroring how the NiFi processor fans one FlowFile
per attachment.  Both fan out across executors; per-message state is
bounded by the message itself.
"""

from __future__ import annotations

from datetime import timezone
from email import message_from_bytes
from email.utils import parsedate_to_datetime

from pyspark.sql import DataFrame

from apache_nifi_spark.io import flat_map

__all__ = ["parse_email_headers", "extract_email_attachments"]


def parse_email_headers(
    df: DataFrame,
    content_col: str = "message",
    id_col: str | None = None,
    envelope: bool = False,
) -> DataFrame:
    """ExtractEmailHeaders: (id?, from_addr, to_addr, subject, date_ts,
    body_text, n_attachments) per message.  ``date_ts`` is the Date
    header as a UTC-naive timestamp; ``body_text`` is the decoded
    text/plain body (transfer encoding undone by the stdlib parser).
    ``envelope=True`` additionally surfaces the ``X-Envelope-From`` /
    ``X-Envelope-To`` headers a ListenSMTP landing writes — parsed in
    the SAME pass so the SMTP read-back needs no second content scan
    or self-join."""

    def parse(*vals):
        *key, raw = vals
        msg = message_from_bytes(raw if isinstance(raw, bytes) else str(raw).encode())
        d = msg.get("Date")
        ts = None
        if d:
            dt = parsedate_to_datetime(d)
            # Pin to UTC explicitly: astimezone(None) would use the
            # HOST timezone (Python workers ignore the Spark session
            # tz), diverging from the UTC-fixed renderer and oracles.
            ts = dt.astimezone(timezone.utc).replace(tzinfo=None) if dt.tzinfo else dt
        body, n_att = None, 0
        if msg.is_multipart():
            for part in msg.walk():
                if part.get_content_maintype() == "multipart":
                    continue
                if part.get_filename():
                    n_att += 1
                elif body is None and part.get_content_type() == "text/plain":
                    body = part.get_payload(decode=True)
        else:
            body = msg.get_payload(decode=True)
        text = body.decode("utf-8", "replace") if body is not None else None
        env = (msg.get("X-Envelope-From"), msg.get("X-Envelope-To")) if envelope else ()
        yield (*key, msg.get("From"), msg.get("To"), msg.get("Subject"), ts,
               text, n_att, *env)

    prefix = f"{id_col} bigint, " if id_col is not None else ""
    suffix = ", env_from string, env_to string" if envelope else ""
    return flat_map(
        df,
        ([id_col] if id_col is not None else []) + [content_col],
        parse,
        prefix
        + "from_addr string, to_addr string, subject string,"
        " date_ts timestamp_ntz, body_text string, n_attachments int"
        + suffix,
    )


def extract_email_attachments(
    df: DataFrame, content_col: str = "message", id_col: str = "id"
) -> DataFrame:
    """ExtractEmailAttachments: one row per attachment part —
    (id, filename, mime_type, payload) — decoded from its transfer
    encoding, exactly the per-attachment FlowFile fan-out."""

    def parse(mid, raw):
        msg = message_from_bytes(raw if isinstance(raw, bytes) else str(raw).encode())
        for part in msg.walk():
            fname = part.get_filename()
            if fname:
                yield mid, fname, part.get_content_type(), part.get_payload(decode=True)

    return flat_map(
        df,
        [id_col, content_col],
        parse,
        f"{id_col} bigint, filename string, mime_type string, payload binary",
    )
