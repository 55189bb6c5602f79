"""ExcelReader / ConvertExcelToCSV (§2.2 record readers
[2.7.2-surface, nifi-poi bundle]) without POI: a dependency-free xlsx
codec on stdlib ``zipfile`` + ``ElementTree``.

XLSX is a ZIP of small XML parts (ECMA-376 / ISO 29500 SpreadsheetML —
public spec): ``[Content_Types].xml``, ``_rels/.rels``,
``xl/workbook.xml`` (+ its rels), ``xl/worksheets/sheet1.xml`` with
``<row><c r="A1" t="s|n"><v>…</v></c></row>`` cells, and the
``xl/sharedStrings.xml`` string table that string cells index into.
The writer emits exactly those parts (strings via the shared table —
the layout Excel itself produces; numbers as inline ``<v>``); the
parser walks any single-sheet workbook of that shape, resolves shared
and inline strings, and uses the ``r`` cell references so skipped
(empty) cells come back as NULLs in the right columns.

Spark shape: serialization is per-GROUP ``applyInPandas`` (one workbook
per group — archives are byte-imperative, the pack_content_zip seam);
parsing is a per-file generator run by ``io.flat_map`` over binary
content (Arrow batches, one Python pass per file).  Both fan out across executors; at scale one
workbook is one task — the right granularity for a format whose files
are small by construction.

Out of scope (documented): multi-sheet selection beyond the first,
Excel serial-date decoding (dates arrive as their underlying numbers),
styles, and formulas (``<f>`` is ignored; the cached ``<v>`` is read).
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

from apache_nifi_spark.io import flat_map

__all__ = [
    "xlsx_bytes",
    "parse_xlsx",
    "records_to_excel",
    "excel_to_records",
    "col_letter",
]

_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def col_letter(idx: int) -> str:
    """0-based column index → A1-notation letters (A, B, …, Z, AA, …)."""
    out = ""
    idx += 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        out = chr(ord("A") + rem) + out
    return out


def _col_index(ref: str) -> int:
    """A1-notation cell ref → 0-based column index ('BC12' → 54)."""
    letters = re.match(r"[A-Z]+", ref).group(0)
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _esc(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def xlsx_bytes(headers: list[str], rows: list[tuple]) -> bytes:
    """A minimal valid workbook: one sheet, header row, strings via the
    shared-string table, numbers inline, None → skipped cell."""
    strings: dict[str, int] = {}

    def sref(s: str) -> int:
        return strings.setdefault(s, len(strings))

    body: list[str] = []
    for r, row in enumerate([tuple(headers)] + [tuple(r) for r in rows], start=1):
        cells = []
        for c, v in enumerate(row):
            if v is None:
                continue
            ref = f"{col_letter(c)}{r}"
            if isinstance(v, bool):
                cells.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                cells.append(f'<c r="{ref}" t="n"><v>{v!r}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="s"><v>{sref(str(v))}</v></c>')
        body.append(f'<row r="{r}">' + "".join(cells) + "</row>")
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{_NS}"><sheetData>' + "".join(body)
        + "</sheetData></worksheet>"
    )
    sst = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<sst xmlns="{_NS}" count="{len(strings)}" uniqueCount="{len(strings)}">'
        + "".join(
            f"<si><t>{_esc(s)}</t></si>"
            for s, _ in sorted(strings.items(), key=lambda kv: kv[1])
        )
        + "</sst>"
    )
    workbook = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{_NS}" xmlns:r="{_REL_NS}"><sheets>'
        f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
        "</Relationships>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-'
        'package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
        z.writestr("xl/sharedStrings.xml", sst)
    return buf.getvalue()


def parse_xlsx(data: bytes) -> tuple[list[str], list[list]]:
    """First worksheet of a workbook → (header row, data rows).  Cells
    come back as str (shared/inline strings), float (numbers), bool, or
    None for skipped refs; rows are column-aligned via cell refs."""
    with zipfile.ZipFile(io.BytesIO(data)) as z:
        names = z.namelist()
        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.findall(f"{{{_NS}}}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{_NS}}}t")))
        sheet_name = next(
            n for n in sorted(names) if re.match(r"xl/worksheets/sheet\d+\.xml$", n)
        )
        root = ET.fromstring(z.read(sheet_name))
    raw_rows: list[dict[int, object]] = []
    width = 0
    for row in root.iter(f"{{{_NS}}}row"):
        cells: dict[int, object] = {}
        for i, c in enumerate(row.findall(f"{{{_NS}}}c")):
            ref = c.get("r")
            ci = _col_index(ref) if ref else i
            t = c.get("t", "n")
            v = c.find(f"{{{_NS}}}v")
            if t == "s":
                cells[ci] = shared[int(v.text)]
            elif t == "inlineStr":
                is_el = c.find(f"{{{_NS}}}is")
                cells[ci] = "".join(
                    t_el.text or "" for t_el in is_el.iter(f"{{{_NS}}}t")
                )
            elif t == "b":
                cells[ci] = v is not None and v.text == "1"
            elif t == "str":  # cached formula string
                cells[ci] = v.text if v is not None else None
            else:
                cells[ci] = float(v.text) if v is not None else None
            width = max(width, ci + 1)
        raw_rows.append(cells)
    if not raw_rows:
        return [], []
    grid = [[r.get(i) for i in range(width)] for r in raw_rows]
    headers = [str(h) if h is not None else f"col{i}" for i, h in enumerate(grid[0])]
    return headers, grid[1:]


def records_to_excel(
    df: DataFrame, group_col: str, out_cols: list[str] | None = None
) -> DataFrame:
    """One workbook per ``group_col`` value → (group, workbook binary).
    applyInPandas: the archive build is byte-imperative by nature."""
    import pandas as pd

    cols = out_cols or [c for c in df.columns if c != group_col]

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        sub = pdf.sort_values(cols[0], kind="mergesort")[cols]
        rows = [
            tuple(None if pd.isna(v) else v for v in rec)
            for rec in sub.itertuples(index=False, name=None)
        ]
        return pd.DataFrame({group_col: [key], "workbook": [xlsx_bytes(cols, rows)]})

    from pyspark.sql.types import BinaryType, StructType

    out_schema = StructType(
        [df.schema[group_col]]
    ).add("workbook", BinaryType())
    return df.groupBy(group_col).applyInPandas(build, out_schema)


def excel_to_records(df: DataFrame, content_col: str, schema: str) -> DataFrame:
    """Parse workbook binaries back to records (row-mapped over Arrow
    batches).  ``schema`` is the output DDL; header order must match."""

    def parse(blob):
        return parse_xlsx(blob)[1]

    return flat_map(df, [content_col], parse, schema)
