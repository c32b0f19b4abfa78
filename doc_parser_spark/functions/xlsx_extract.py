"""XLSX/XLSM extraction (B8) — stdlib port of the reference's MsExcel
backend (/root/reference/docling/backend/msexcel_backend.py), on zipfile +
xml.etree instead of openpyxl.

Ported semantics (file:line cites):
- one ``sheet: <name>`` section group per worksheet, tables then pictures
  (_convert_workbook :176-207, _convert_sheet :209-224)
- compact-rectangular table discovery: scan the used range; every non-empty
  unvisited cell anchors a table whose bottom/right bounds grow while cells
  are non-empty or merged (_find_data_tables :289-314, _find_table_bounds
  :316-390, _find_table_bottom/_find_table_right :392-474)
- merged ranges become row_span/col_span on the anchor cell; spanned
  positions are skipped (:352-381)
- cell text = str(openpyxl cell.value): shared/inline strings, booleans as
  True/False, integral numbers without a decimal point, formulas as their
  "=..." source (the reference loads with data_only=False)
- pictures: one per drawing anchor, appended after the sheet's tables
  (_find_images_in_sheet :476-519)
"""

from __future__ import annotations

import re
import zipfile

from doc_parser_spark.functions.ziputil import open_zip
from dataclasses import dataclass, field
from typing import Optional
from xml.etree import ElementTree as ET

from doc_parser_spark.datamodel import join_spans
from doc_parser_spark.functions.docx_extract import DocxNode, node_pieces

SS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"
RDOC = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
XDR = "{http://schemas.openxmlformats.org/drawingml/2006/spreadsheetDrawing}"

_CELL_REF_RE = re.compile(r"([A-Z]+)([0-9]+)")


def _col_to_idx(letters: str) -> int:
    n = 0
    for ch in letters:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _parse_ref(ref: str) -> tuple[int, int]:
    m = _CELL_REF_RE.match(ref)
    assert m
    return int(m.group(2)) - 1, _col_to_idx(m.group(1))


@dataclass
class _Sheet:
    name: str
    cells: dict[tuple[int, int], Optional[str]] = field(default_factory=dict)
    max_row: int = -1  # 0-based inclusive
    max_col: int = -1
    merged: list[tuple[int, int, int, int]] = field(default_factory=list)
    n_images: int = 0

    def value(self, r: int, c: int) -> Optional[str]:
        return self.cells.get((r, c))

    def merged_at(self, r: int, c: int):
        for (r0, c0, r1, c1) in self.merged:
            if r0 <= r <= r1 and c0 <= c <= c1:
                return (r0, c0, r1, c1)
        return None


# builtin date/time number-format ids (openpyxl is_builtin_date_format)
_DATE_FMT_IDS = set(range(14, 23)) | set(range(45, 48))
_DATE_CHARS_RE = re.compile(r"[dmhysDMHYS]")


def _serial_to_datetime_str(num: float) -> str:
    """openpyxl from_excel + str(datetime): excel serial → naive datetime."""
    from datetime import datetime, timedelta

    base = datetime(1899, 12, 30)
    return str(base + timedelta(days=num))


def _cell_value(
    c: ET.Element, shared: list[str], date_styles: set[int]
) -> Optional[str]:
    t = c.get("t")
    f = c.find(f"{SS}f")
    if f is not None and t != "s":
        # data_only=False: openpyxl surfaces the formula source
        return "=" + (f.text or "")
    v = c.find(f"{SS}v")
    if t == "s":
        return shared[int(v.text)] if v is not None and v.text else None
    if t == "inlineStr":
        is_el = c.find(f"{SS}is")
        return "".join(
            t_el.text or "" for t_el in is_el.iter(f"{SS}t")
        ) if is_el is not None else None
    if v is None or v.text is None:
        return None
    if t == "b":
        return "True" if v.text.strip() == "1" else "False"
    if t in ("str", "e"):
        return v.text
    # number: integral values print without a decimal point (int vs float)
    raw = v.text
    try:
        num = float(raw)
    except ValueError:
        return raw
    style = c.get("s")
    if style is not None and int(style) in date_styles:
        return _serial_to_datetime_str(num)
    if num == int(num) and "e" not in raw.lower() and "." not in raw:
        return str(int(num))
    return str(num)


def _load_date_styles(xml: Optional[bytes]) -> set[int]:
    """cellXfs indices whose numFmt is a date/time format (openpyxl
    is_date_format over builtin ids + custom format strings)."""
    if not xml:
        return set()
    root = ET.fromstring(xml)
    custom: dict[int, str] = {}
    for nf in root.findall(f"{SS}numFmts/{SS}numFmt"):
        try:
            custom[int(nf.get("numFmtId") or "-1")] = nf.get("formatCode") or ""
        except ValueError:
            pass
    out: set[int] = set()
    for i, xf in enumerate(root.findall(f"{SS}cellXfs/{SS}xf")):
        try:
            fmt_id = int(xf.get("numFmtId") or "0")
        except ValueError:
            continue
        if fmt_id in _DATE_FMT_IDS:
            out.add(i)
        elif fmt_id in custom:
            code = re.sub(r'"[^"]*"|\[[^\]]*\]', "", custom[fmt_id])
            if _DATE_CHARS_RE.search(code):
                out.add(i)
    return out


def load_sheets(payload: bytes) -> list[_Sheet]:
    zf = open_zip(payload)  # maps encrypted-member RuntimeError to ValueError
    names = set(zf.namelist())

    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        for si in root.findall(f"{SS}si"):
            shared.append("".join(t.text or "" for t in si.iter(f"{SS}t")))

    date_styles = _load_date_styles(
        zf.read("xl/styles.xml") if "xl/styles.xml" in names else None
    )
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels: dict[str, str] = {}
    if "xl/_rels/workbook.xml.rels" in names:
        rel_root = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        for rel in rel_root.findall(f"{REL}Relationship"):
            target = rel.get("Target") or ""
            if not target.startswith("xl/"):
                target = "xl/" + target.lstrip("/")
            rels[rel.get("Id") or ""] = target

    sheets: list[_Sheet] = []
    for sh in wb.findall(f"{SS}sheets/{SS}sheet"):
        rid = sh.get(f"{RDOC}id") or ""
        path = rels.get(rid)
        if path is None or path not in names:
            continue
        sheet = _Sheet(name=sh.get("name") or "")
        root = ET.fromstring(zf.read(path))
        for row in root.findall(f"{SS}sheetData/{SS}row"):
            for c in row.findall(f"{SS}c"):
                ref = c.get("r")
                if not ref:
                    continue
                r, col = _parse_ref(ref)
                val = _cell_value(c, shared, date_styles)
                sheet.cells[(r, col)] = val
                if val is not None:
                    sheet.max_row = max(sheet.max_row, r)
                    sheet.max_col = max(sheet.max_col, col)
        for mc in root.findall(f"{SS}mergeCells/{SS}mergeCell"):
            ref = mc.get("ref") or ""
            if ":" in ref:
                a, b = ref.split(":")
                r0, c0 = _parse_ref(a)
                r1, c1 = _parse_ref(b)
                sheet.merged.append((r0, c0, r1, c1))
                sheet.max_row = max(sheet.max_row, r1)
                sheet.max_col = max(sheet.max_col, c1)

        # pictures via the sheet's drawing part
        sheet_rels = (
            "xl/worksheets/_rels/" + path.rsplit("/", 1)[-1] + ".rels"
        )
        if sheet_rels in names:
            rr = ET.fromstring(zf.read(sheet_rels))
            for rel in rr.findall(f"{REL}Relationship"):
                if "drawing" in (rel.get("Type") or ""):
                    target = (rel.get("Target") or "").replace("../", "xl/")
                    if target in names:
                        droot = ET.fromstring(zf.read(target))
                        sheet.n_images += len(list(droot.iter(f"{XDR}pic")))
        sheets.append(sheet)
    return sheets


# ---------------------------------------------------------------------------
# table discovery (reference algorithm, 0-based grid)
# ---------------------------------------------------------------------------
def _find_table_bottom(sheet: _Sheet, start_row: int, start_col: int) -> int:
    max_row = start_row
    for ri in range(start_row + 1, sheet.max_row + 1):
        merged = sheet.merged_at(ri, start_col)
        if sheet.value(ri, start_col) is None and not merged:
            break
        if merged:
            max_row = max(max_row, merged[2])
        else:
            max_row = ri
    return max_row


def _find_table_right(sheet: _Sheet, start_row: int, start_col: int) -> int:
    max_col = start_col
    for rj in range(start_col + 1, sheet.max_col + 1):
        merged = sheet.merged_at(start_row, rj)
        if sheet.value(start_row, rj) is None and not merged:
            break
        if merged:
            max_col = max(max_col, merged[3])
        else:
            max_col = rj
    return max_col


def _find_table_bounds(sheet: _Sheet, start_row: int, start_col: int):
    max_row = _find_table_bottom(sheet, start_row, start_col)
    max_col = _find_table_right(sheet, start_row, start_col)
    data = []
    visited: set[tuple[int, int]] = set()
    for ri in range(start_row, max_row + 1):
        for rj in range(start_col, max_col + 1):
            row_span, col_span = 1, 1
            merged = sheet.merged_at(ri, rj)
            if merged:
                row_span = merged[2] - merged[0] + 1
                col_span = merged[3] - merged[1] + 1
            if (ri, rj) not in visited:
                data.append(
                    {
                        "row": ri - start_row,
                        "col": rj - start_col,
                        "text": str(sheet.value(ri, rj)),
                        "row_span": row_span,
                        "col_span": col_span,
                    }
                )
                for sr in range(ri, ri + row_span):
                    for sc in range(rj, rj + col_span):
                        visited.add((sr, sc))
    return (
        {
            "anchor": (start_col, start_row),
            "num_rows": max_row + 1 - start_row,
            "num_cols": max_col + 1 - start_col,
            "data": data,
        },
        visited,
    )


def _find_data_tables(sheet: _Sheet) -> list[dict]:
    tables = []
    visited: set[tuple[int, int]] = set()
    for ri in range(0, sheet.max_row + 1):
        for rj in range(0, sheet.max_col + 1):
            if sheet.value(ri, rj) is None or (ri, rj) in visited:
                continue
            bounds, cells = _find_table_bounds(sheet, ri, rj)
            visited.update(cells)
            tables.append(bounds)
    return tables


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def parse_xlsx(payload: bytes) -> DocxNode:
    """xlsx/xlsm bytes → docling-shaped node tree (sheet groups > tables,
    pictures)."""
    root = DocxNode("unspecified", name="_root_")
    for sheet in load_sheets(payload):
        group = DocxNode("section", name=f"sheet: {sheet.name}")
        root.children.append(group)
        for table in _find_data_tables(sheet):
            nr, nc = table["num_rows"], table["num_cols"]
            grid = [["" for _ in range(nc)] for _ in range(nr)]
            for cell in table["data"]:
                for r in range(cell["row"], min(cell["row"] + cell["row_span"], nr)):
                    for c in range(
                        cell["col"], min(cell["col"] + cell["col_span"], nc)
                    ):
                        grid[r][c] = cell["text"]
            group.children.append(DocxNode("table", grid=grid))
        for _ in range(sheet.n_images):
            group.children.append(DocxNode("picture"))
    return root


def extract_xlsx(payload: bytes) -> tuple[str, list[tuple[int, int, str, int]]]:
    """xlsx bytes → (main text, spans); one table item per discovered table,
    page = 1-based sheet index."""
    # parse_xlsx puts only table and picture nodes under a sheet, and a
    # picture's empty text is skipped, so the pieces are the sheet's tables
    return join_spans(
        piece
        for page, sheet in enumerate(parse_xlsx(payload).children, 1)
        for piece in node_pieces(sheet, page)
    )
