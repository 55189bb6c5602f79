"""GetHTMLElement / ModifyHTMLElement / PutHTML (§2.4 [2.7.2-surface,
nifi-html bundle]) on the stdlib ``html.parser`` — no lxml/jsoup in the
environment, and the CSS-selector subset these processors use
(``tag``, ``.class``, ``#id``, ``tag.class``, ``tag#id``) needs only
tag/attribute matching, not full CSS.

``extract_html_elements`` fans matches out one row per element (the
processor's one-FlowFile-per-element contract) with the element's tag,
attribute map, inner text, and document-order index.
``modify_html_elements`` rewrites matching elements (set an attribute,
or replace the inner text) and re-renders the document, preserving all
non-matching markup byte-for-byte (the parser walks offsets, it never
re-serializes untouched regions).

Spark shape: a per-row generator over the content column
(:func:`io.flat_map` for the extract, :func:`io.with_columns` for the
in-place rewrite) — the sanctioned Python seams for a byte-imperative
format; per-row state is one parse.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame

from apache_nifi_spark.io import flat_map, with_columns

__all__ = ["match_selector", "extract_html_elements", "modify_html_elements"]

_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "source", "track", "wbr",
}


def _parse_selector(selector: str) -> tuple[str | None, str | None, str | None]:
    """'tag.class' / '.class' / '#id' / 'tag' → (tag, cls, elt_id)."""
    m = re.fullmatch(r"([a-zA-Z][a-zA-Z0-9]*)?(?:\.([\w-]+)|#([\w-]+))?", selector)
    if not m or not any(m.groups()):
        raise ValueError(f"unsupported selector: {selector!r}")
    return m.group(1), m.group(2), m.group(3)


def match_selector(selector: str, tag: str, attrs: dict[str, str]) -> bool:
    want_tag, want_cls, want_id = _parse_selector(selector)
    if want_tag and tag != want_tag:
        return False
    if want_cls and want_cls not in (attrs.get("class") or "").split():
        return False
    if want_id and attrs.get("id") != want_id:
        return False
    return True


class _Collector(HTMLParser):
    """Record every element matching the selector: its offsets, attrs,
    and inner text (descendant text concatenated, document order)."""

    def __init__(self, selector: str, raw: str):
        super().__init__(convert_charrefs=True)
        self.selector = selector
        self.raw = raw
        self.matches: list[dict] = []
        self._open: list[dict] = []  # stack of still-open matches
        self._tag_stack: list[str] = []

    def _offset(self) -> int:
        line, col = self.getpos()
        return sum(len(ln) + 1 for ln in self.raw.split("\n")[: line - 1]) + col

    def handle_starttag(self, tag, attrs):
        amap = {k: (v or "") for k, v in attrs}
        if tag not in _VOID_TAGS:
            self._tag_stack.append(tag)
        if match_selector(self.selector, tag, amap):
            rec = {
                "tag": tag,
                "attrs": amap,
                "start": self._offset(),
                "inner_start": None,
                "depth": len(self._tag_stack),
                "text": [],
            }
            if tag in _VOID_TAGS:
                rec["end"] = None
                self.matches.append(rec)
            else:
                self._open.append(rec)

    def handle_data(self, data):
        for rec in self._open:
            rec["text"].append(data)

    def handle_endtag(self, tag):
        while self._tag_stack and self._tag_stack[-1] != tag:
            self._tag_stack.pop()  # recover from unclosed tags
        if self._tag_stack:
            self._tag_stack.pop()
        for i in range(len(self._open) - 1, -1, -1):
            rec = self._open[i]
            if rec["tag"] == tag and rec["depth"] == len(self._tag_stack) + 1:
                line, col = self.getpos()
                off = sum(
                    len(ln) + 1 for ln in self.raw.split("\n")[: line - 1]
                ) + col
                rec["end_open"] = off  # offset of '</tag'
                rec["end"] = self.raw.index(">", off) + 1
                self.matches.append(self._open.pop(i))
                break


def _collect(selector: str, html: str) -> list[dict]:
    p = _Collector(selector, html)
    p.feed(html)
    p.close()
    # document order by start offset
    return sorted(p.matches, key=lambda r: r["start"])


def extract_html_elements(
    df: DataFrame, selector: str, content_col: str = "html", id_col: str = "id"
) -> DataFrame:
    """GetHTMLElement: one row per matching element —
    (id, element_index, tag, attr_id, attr_class, inner_text)."""

    def row(rid, doc):
        for i, rec in enumerate(_collect(selector, doc or "")):
            yield (rid, i, rec["tag"], rec["attrs"].get("id"),
                   rec["attrs"].get("class"), "".join(rec["text"]).strip())

    return flat_map(
        df,
        [id_col, content_col],
        row,
        f"{id_col} bigint, element_index int, tag string, attr_id string,"
        " attr_class string, inner_text string",
    )


#: one attribute token: leading whitespace, a name, optionally =value in
#: double-quoted / single-quoted / unquoted form
_ATTR_RX = re.compile(r"\s+([^\s=/>]+)(\s*=\s*(\"[^\"]*\"|'[^']*'|[^\s>]*))?")


def _strip_attr(tag_body: str, name: str) -> str:
    """Remove attribute ``name`` from a start-tag body (the tag source
    without the closing ``>``) by scanning attribute tokens
    left-to-right, so a match can only START at an attribute-name
    position — never inside another attribute's quoted value (a plain
    ``re.sub`` corrupted ``<a title="x href=y" href="z">`` by stripping
    `` href=y"`` out of the title)."""
    m = re.match(r"<\s*[^\s>]+", tag_body)
    pos = m.end() if m else 0
    out = [tag_body[:pos]]
    for am in _ATTR_RX.finditer(tag_body, pos):
        if am.start() != pos:
            out.append(tag_body[pos : am.start()])  # malformed gap: verbatim
        if am.group(1) != name:
            out.append(am.group(0))
        pos = am.end()
    out.append(tag_body[pos:])
    return "".join(out)


def modify_html_elements(
    df: DataFrame,
    selector: str,
    content_col: str = "html",
    set_attr: tuple[str, str] | None = None,
    set_text: str | None = None,
) -> DataFrame:
    """ModifyHTMLElement: rewrite matching elements in place —
    ``set_attr=(name, value)`` adds/replaces an attribute on the start
    tag, ``set_text`` replaces the inner content.  Untouched regions are
    copied verbatim from the source bytes."""

    def rewrite(doc: str) -> str:
        out, pos = [], 0
        for rec in _collect(selector, doc):
            if rec["start"] < pos:
                continue  # nested inside an already-rewritten match
            start = rec["start"]
            gt = doc.index(">", start)
            out.append(doc[pos:start])
            tag_src = doc[start : gt + 1]
            if set_attr is not None:
                name, value = set_attr
                stripped = _strip_attr(tag_src[:-1], name)
                tag_src = f'{stripped} {name}="{value}">'
            out.append(tag_src)
            if rec.get("end") is None:  # void element: no inner content
                pos = gt + 1
                continue
            inner = doc[gt + 1 : rec["end_open"]]
            out.append(set_text if set_text is not None else inner)
            out.append(doc[rec["end_open"] : rec["end"]])
            pos = rec["end"]
        out.append(doc[pos:])
        return "".join(out)

    def run(batches):
        for (docs,) in batches:
            yield [rewrite(d or "") for d in docs],

    return with_columns(df, [content_col], run, f"`{content_col}` string")
