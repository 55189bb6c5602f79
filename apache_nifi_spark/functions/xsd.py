"""ValidateXml, XSD mode (§2.3 [2.7.2-surface]): validate XML documents
against an inline XML Schema and route valid/invalid with the first
violation — the schema-driven mode the reference engine performs with a
full XSD engine; this is the record-validation SUBSET of XSD 1.0:

- top-level ``xs:element`` (the expected root)
- ``xs:complexType``/``xs:sequence`` of child ``xs:element`` declarations
  (ORDER IS CHECKED — that is what sequence means)
- ``minOccurs``/``maxOccurs`` (including ``unbounded``)
- simple types: string, int/integer/long/short/byte, decimal, double,
  float, boolean, date, dateTime — value checks on element text
- nested complex types recurse

Unsupported XSD constructs (``xs:choice``, ``xs:all``, attributes,
facets/restrictions, imports) raise at compile time with a diagnostic
rather than silently passing documents.

The XSD compiles ONCE (driver-side, stdlib ElementTree) into a spec
tree; validation runs in ``io.with_columns`` with a REAL XML parser
deciding well-formedness.  Error labels, in deterministic walk order:
``malformed``, ``root:<tag>``, ``occurs:<elem>``, ``unexpected:<tag>``,
``type:<elem>``.

Scale: map-only Arrow-batched validation — one parser pass per document,
no shuffle; 100 TB of XML validates at scan bandwidth × parser cost.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass

__all__ = ["xsd_compile", "validate_xml_xsd"]

_XS = "{http://www.w3.org/2001/XMLSchema}"

_DATE_RX = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_DATETIME_RX = re.compile(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?$")
_INT_RX = re.compile(r"^[+-]?\d+$")
_DEC_RX = re.compile(r"^[+-]?(\d+(\.\d*)?|\.\d+)$")
_DOUBLE_RX = re.compile(r"^([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|NaN|[+-]?INF)$")

_SIMPLE_CHECKS = {
    "string": lambda s: True,
    "int": lambda s: bool(_INT_RX.match(s)),
    "integer": lambda s: bool(_INT_RX.match(s)),
    "long": lambda s: bool(_INT_RX.match(s)),
    "short": lambda s: bool(_INT_RX.match(s)),
    "byte": lambda s: bool(_INT_RX.match(s)),
    "decimal": lambda s: bool(_DEC_RX.match(s)),
    "double": lambda s: bool(_DOUBLE_RX.match(s)),
    "float": lambda s: bool(_DOUBLE_RX.match(s)),
    "boolean": lambda s: s in ("true", "false", "0", "1"),
    "date": lambda s: bool(_DATE_RX.match(s)),
    "dateTime": lambda s: bool(_DATETIME_RX.match(s)),
}


@dataclass
class _ElemSpec:
    name: str
    simple_type: str | None          # key into _SIMPLE_CHECKS, or None
    children: list["_ElemSpec"] | None  # sequence order, or None
    min_occurs: int
    max_occurs: int | None           # None = unbounded


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _compile_element(el: ET.Element) -> _ElemSpec:
    name = el.get("name")
    if not name:
        raise ValueError("xs:element without a name (refs unsupported)")
    min_o = int(el.get("minOccurs", "1"))
    max_raw = el.get("maxOccurs", "1")
    max_o = None if max_raw == "unbounded" else int(max_raw)
    typ = el.get("type")
    complex_el = el.find(f"{_XS}complexType")
    if typ is not None:
        t = typ.split(":", 1)[-1]
        if t not in _SIMPLE_CHECKS:
            raise ValueError(f"unsupported XSD type {typ!r} on element {name!r}")
        return _ElemSpec(name, t, None, min_o, max_o)
    if complex_el is not None:
        seq = complex_el.find(f"{_XS}sequence")
        if seq is None:
            bad = [_local(c.tag) for c in complex_el]
            raise ValueError(
                f"element {name!r}: only xs:sequence content models are "
                f"supported, found {bad}"
            )
        kids = []
        for child in seq:
            if _local(child.tag) != "element":
                raise ValueError(
                    f"element {name!r}: unsupported particle xs:{_local(child.tag)}"
                )
            kids.append(_compile_element(child))
        return _ElemSpec(name, None, kids, min_o, max_o)
    # no type, no inline complexType → anything goes (xs:anyType)
    return _ElemSpec(name, "string", None, min_o, max_o)


def xsd_compile(xsd_text: str) -> _ElemSpec:
    """Inline XSD text → root element spec (raises on unsupported
    constructs — never silently passes)."""
    schema = ET.fromstring(xsd_text)
    if _local(schema.tag) != "schema":
        raise ValueError(f"not an XSD document (root {schema.tag!r})")
    roots = [c for c in schema if _local(c.tag) == "element"]
    if len(roots) != 1:
        raise ValueError(f"XSD must declare exactly one top-level element, got {len(roots)}")
    return _compile_element(roots[0])


def _check(el: ET.Element, spec: _ElemSpec) -> str | None:
    """First violation under ``el`` (already matched to ``spec``'s name)."""
    if spec.simple_type is not None:
        text = (el.text or "").strip()
        if not _SIMPLE_CHECKS[spec.simple_type](text):
            return f"type:{spec.name}"
        return None
    kids = list(el)
    i = 0
    for cs in spec.children or ():
        n = 0
        while i < len(kids) and _local(kids[i].tag) == cs.name:
            if cs.max_occurs is not None and n + 1 > cs.max_occurs:
                return f"occurs:{cs.name}"
            err = _check(kids[i], cs)
            if err:
                return err
            n += 1
            i += 1
        if n < cs.min_occurs:
            return f"occurs:{cs.name}"
    if i < len(kids):
        return f"unexpected:{_local(kids[i].tag)}"
    return None


#: UNANCHORED cores of _SIMPLE_CHECKS' patterns — embedded into the
#: valid-document regex of the JVM fast path (None = xs:string).  Note
#: Java's \d is ASCII [0-9] while Python's \d is unicode-wide: the JVM
#: pattern is strictly NARROWER, which is exactly the soundness
#: direction the fast path needs (see _valid_plain_rx).
_TYPE_RX_CORE = {
    "string": None,
    "int": r"[+-]?\d+",
    "integer": r"[+-]?\d+",
    "long": r"[+-]?\d+",
    "short": r"[+-]?\d+",
    "byte": r"[+-]?\d+",
    "decimal": r"[+-]?(\d+(\.\d*)?|\.\d+)",
    "double": r"([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|NaN|[+-]?INF)",
    "float": r"([+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|NaN|[+-]?INF)",
    "boolean": r"(true|false|0|1)",
    "date": r"\d{4}-\d{2}-\d{2}",
    "dateTime": r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+-]\d{2}:\d{2})?",
}

#: XML names the fast path understands (regex-safe ASCII names; an XSD
#: using names outside this shape simply skips the fast path)
_SAFE_NAME_RX = re.compile(r"^[A-Za-z_][A-Za-z0-9_.\-]*$")


def _flat_children(spec: _ElemSpec):
    """(name, min, max|-1, type) rows when the schema is a flat sequence
    of simple-typed elements — the record-validation shape the fast path
    handles — else None."""
    if spec.simple_type is not None or not spec.children:
        return None
    out = []
    for c in spec.children:
        if c.simple_type is None:
            return None
        out.append(
            (c.name, c.min_occurs, -1 if c.max_occurs is None else c.max_occurs,
             c.simple_type)
        )
    return out


def _valid_plain_rx(spec: _ElemSpec, flat) -> str | None:
    """ONE Java regex that soundly PROVES a document valid: it matches
    only plain documents (no attributes/comments/entities/inter-element
    text) whose child sequence, occurrence counts, and typed text all
    satisfy the schema — so ``rlike`` ⟹ the parser walk returns no
    violation.  The reverse is deliberately not true: any document the
    regex rejects (including valid ones using the wider XML surface)
    takes the real-parser path and gets its verdict there.  Soundness
    details: text is ASCII-restricted and excludes ``]`` (``]]>`` is
    malformed XML the regex must not bless), typed text allows exactly
    ASCII-whitespace padding (matching str.strip), and the JVM ``\\d``
    is narrower than Python's.  Requires DISTINCT child names: with
    them, regex group boundaries are forced by the tags themselves, so
    quantified runs replay the walk's greedy consumption exactly —
    duplicate names could let backtracking split a run across groups
    and bless a document the walk rejects.  None when the schema is out
    of fast-path shape."""
    if flat is None or not _SAFE_NAME_RX.match(spec.name):
        return None
    names = [nm for nm, _, _, _ in flat]
    if len(set(names)) != len(names):
        return None
    if any(not _SAFE_NAME_RX.match(nm) for nm in names):
        return None
    ws = r"[ \t\n\r\x0b\x0c]*"
    parts = []
    for nm, mn, mx, tp in flat:
        core = _TYPE_RX_CORE[tp]
        if core is None:  # xs:string: any plain ASCII text
            inner = r"[\t\n\r\x20-\x25\x27-\x3B\x3D-\x5C\x5E-\x7E]*"
        else:
            inner = f"{ws}(?:{core}){ws}"
        quant = f"{{{mn},}}" if mx == -1 else f"{{{mn},{mx}}}"
        parts.append(f"(?:<{nm}>{inner}</{nm}>){quant}")
    return f"^<{spec.name}>" + "".join(parts) + f"</{spec.name}>$"


def validate_xml_xsd(df, xsd_text: str, content_col: str = "content"):
    """The processor surface: append ``valid`` + ``validation_error``
    and route like NiFi's valid/invalid relationships.

    Scale shape: when the schema is a flat sequence of simple types (the
    record-validation norm), one compiled valid-document regex PROVES
    validity in the JVM scan stage (`_valid_plain_rx`, codegen'd rlike)
    and rides into the ``io.with_columns`` pass as a flag — proven rows
    skip the parse entirely, so Python cost shrinks to the failure fraction
    while the plan keeps ONE scan and ONE Python stage.  Documents the
    regex cannot bless — invalid ones, and valid ones using the wider
    XML surface — are parsed for their exact verdict/label, so the
    answer is identical either way (fuzzed differential in
    tests/test_xsd.py).  Two designs were measured and rejected: a
    columnar label-computing aggregate fold (higher-order lambdas
    evaluate interpreted — no codegen — and lose to C-speed
    ElementTree) and a two-branch union split (double source scan +
    double regex pass cost more than they save)."""
    from pyspark.sql import functions as F

    from apache_nifi_spark.io import with_columns

    spec = xsd_compile(xsd_text)  # compile once, driver-side; fail fast

    def verdict(doc) -> str | None:
        try:
            root = ET.fromstring(doc if doc is not None else "")
        except ET.ParseError:
            return "malformed"
        if _local(root.tag) != spec.name:
            return f"root:{_local(root.tag)}"
        return _check(root, spec)

    def run(batches):
        for docs, proven in batches:
            # JVM-proven valid rows need no parse
            errs = [None if ok else verdict(doc) for doc, ok in zip(docs, proven)]
            yield [e is None for e in errs], errs

    valid_rx = _valid_plain_rx(spec, _flat_children(spec))
    proven = (
        F.lit(False)  # out of fast-path shape: parser path throughout
        if valid_rx is None
        else F.coalesce(F.col(content_col).rlike(valid_rx), F.lit(False))
    )
    return with_columns(
        df.select("*", proven.alias("__xsd_proven")),
        [content_col, "__xsd_proven"],
        run,
        "valid boolean, validation_error string",
    ).drop("__xsd_proven")
