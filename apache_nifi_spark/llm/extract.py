"""HTML main-content extraction (boilerplate removal) — the step
between WARC response bodies and every text-curation tier (§2.12): a
pretraining pipeline keeps article text and drops navigation, cookie
banners, and footers.  Implemented with the public jusText/trafilatura
block heuristics on the stdlib parser (no lxml in the environment, same
constraint as ``functions/html_elements``):

1. ``script``/``style``/``noscript``/``template``/``svg`` subtrees drop
   entirely; block boundaries open at the usual block-level tags,
2. every block accrues its text, its ANCHOR text (characters inside
   ``<a>``), and its word count,
3. a block survives if it has at least ``min_words`` words AND its link
   density (anchor chars / chars) is at most ``max_link_density`` —
   the two rules that carry most of jusText's decisions (headings get
   no special treatment: a short heading drops under ``min_words`` like
   any other short block) — kept deliberately rule-minimal and
   DETERMINISTIC so the verdicts replay in the SQL oracle.

Spark shape: a per-row generator over the content column, run by
:func:`io.flat_map` (Arrow-batched) — the sanctioned Python seam for a byte-imperative format; map-only, one
parse per document, no shuffle.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame

from apache_nifi_spark.io import flat_map

__all__ = ["extract_main_text", "html_main_text"]

_DROP_TAGS = {"script", "style", "noscript", "template", "svg", "head"}
_BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "th",
    "article", "section", "blockquote", "pre", "ul", "ol", "table",
    "header", "footer", "nav", "aside", "main", "body",
}


class _BlockCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int]] = []  # (text, anchor_chars)
        self._buf: list[str] = []
        self._anchor_chars = 0
        self._a_depth = 0
        self._drop_depth = 0

    def _flush(self) -> None:
        text = "".join(self._buf).strip()
        if text:
            self.blocks.append((text, self._anchor_chars))
        self._buf = []
        self._anchor_chars = 0

    def handle_starttag(self, tag: str, attrs: list) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._a_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_TAGS:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in _BLOCK_TAGS:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop_depth:
            return
        self._buf.append(data)
        if self._a_depth:
            self._anchor_chars += len(data.strip())

    def close(self) -> None:  # noqa: D102
        super().close()
        self._flush()


def extract_main_text(
    html: str, min_words: int = 5, max_link_density: float = 0.4
) -> tuple[str, int, int]:
    """(main_text, n_blocks, n_kept): parse → block stats → keep rule.
    Word count is whitespace split; link density compares stripped
    anchor characters to stripped block characters."""
    c = _BlockCollector()
    c.feed(html)
    c.close()
    kept = []
    for text, anchor_chars in c.blocks:
        words = len(text.split())
        chars = len("".join(text.split()))
        if words < min_words:
            continue
        if chars and anchor_chars / chars > max_link_density:
            continue
        kept.append(" ".join(text.split()))
    return "\n".join(kept), len(c.blocks), len(kept)


def html_main_text(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    min_words: int = 5,
    max_link_density: float = 0.4,
) -> DataFrame:
    """Main-content extraction over an HTML column: one row per
    document with the surviving text and the block accounting.  The id
    column keeps the caller's name (ADVICE r11: it used to be renamed
    to a hardcoded ``doc_id``)."""
    schema = (
        f"{id_col} long, n_blocks int, n_kept int, main_len bigint, "
        "main_text string"
    )

    def row(rid, payload):
        html = payload if isinstance(payload, str) else payload.decode("utf-8", "replace")
        text, n_blocks, n_kept = extract_main_text(html, min_words, max_link_density)
        yield rid, n_blocks, n_kept, len(text), text

    return flat_map(df, [id_col, content_col], row, schema)
