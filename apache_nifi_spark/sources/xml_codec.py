"""ValidateXml (NiFi §2.3): route XML documents by well-formedness and a
structural contract.

Reading and writing XML records is Spark's own ``format("xml")``, reached
through ``sources/formats.read_records``/``write_records``.
"""

from __future__ import annotations

from xml.etree import ElementTree as ET

__all__ = ["validate_xml"]


def validate_xml(
    df,
    content_col: str = "content",
    root_tag: str | None = None,
    required_elements: tuple[str, ...] = (),
):
    """ValidateXml (§2.3 [2.7.2-surface]): route documents by
    well-formedness plus a structural contract — expected root tag and
    required child elements (the schema-lite checks the processor's
    non-XSD mode performs; full XSD needs a schema engine this
    environment doesn't carry, documented).

    ``io.with_columns`` over the content column with the stdlib parser (a REAL
    XML parser decides well-formedness, not a regex); emits ``valid``
    and the first ``validation_error`` label ('malformed', 'root:<tag>',
    or 'missing:<element>')."""
    from apache_nifi_spark.io import with_columns

    def run(batches):
        for (docs,) in batches:
            valid, errs = [], []
            for doc in docs:
                err = None
                try:
                    root = ET.fromstring(doc if doc is not None else "")
                except ET.ParseError:
                    err = "malformed"
                else:
                    if root_tag is not None and root.tag != root_tag:
                        err = f"root:{root.tag}"
                    else:
                        for req in required_elements:
                            if root.find(req) is None:
                                err = f"missing:{req}"
                                break
                valid.append(err is None)
                errs.append(err)
            yield valid, errs

    return with_columns(
        df, [content_col], run, "valid boolean, validation_error string"
    )
