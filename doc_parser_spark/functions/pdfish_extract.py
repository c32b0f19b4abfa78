"""PDF-layout-text extraction — real ``%PDF`` bytes AND synthetic cell dumps.

Two cell sources feed ONE shared merge/furniture/paragraph pipeline:

1. real ``%PDF-1.x`` payloads decode through the from-scratch stdlib
   decoder in ``functions/pdf_decode.py`` (object/xref parser, FlateDecode,
   content-stream text interpreter) into positioned text cells;
2. the transcript corpus also carries synthetic "pdf-ish" payloads
   (FIXTURES.md §1.3): a deterministic text encoding of extracted PDF text
   cells. Format:

    %PDF-SIM
    #page <page_no> <width> <height>
    <x0> <y0> <x1> <y1> <text...>
    ...

(coordinates are top-left origin floats; one cell per line).

The extraction pipeline reproduces the reference's PDF text path without the
native libs:

1. row grouping + horizontal cell merge — pypdfium2 semantics
   (/root/reference/docling/backend/pypdfium2_backend.py:155-252): cells
   whose top/bottom both lie within 0.5×row-height of the current row merge
   into the row; within a row, cells merge left-to-right while the gap is
   ≤ the average cell height. Merged text joins with a single space.
2. header/footer stripping — layout-postprocessor-style furniture rule:
   rows whose vertical center falls in the top or bottom 5% of the page are
   PAGE_HEADER / PAGE_FOOTER furniture
   (readingorder_model.py:327-329 makes those labels FURNITURE).
3. reading order: rows sorted by (page, top, left)
   (layout_postprocessor.py:640-670 cell sort analog).
4. paragraph assembly + sanitize — consecutive rows whose vertical gap is
   ≤ 1.5×row-height join into one paragraph; lines are merged with the
   hyphen-de-wrap + unicode normalization of PageAssembleModel.sanitize_text
   (page_assemble_model.py:34-65).
"""

from __future__ import annotations

from dataclasses import dataclass

from doc_parser_spark.datamodel import (
    LABEL_PAGE_FOOTER,
    LABEL_PAGE_HEADER,
    LABEL_PARAGRAPH,
    join_spans,
)
from doc_parser_spark.functions.pdf_decode import decode_pdf_pages
from doc_parser_spark.functions.sanitize import sanitize_text

PDF_MARKER = "%PDF-SIM"

HEADER_BAND = 0.05
FOOTER_BAND = 0.95
VERTICAL_THRESHOLD_FACTOR = 0.5
HORIZONTAL_THRESHOLD_FACTOR = 1.0
PARAGRAPH_GAP_FACTOR = 1.5


@dataclass(slots=True)
class Cell:
    page: int
    x0: float
    y0: float
    x1: float
    y1: float
    text: str

    @property
    def height(self) -> float:
        return self.y1 - self.y0


def parse_cell_dump(payload: str) -> tuple[list[Cell], dict[int, tuple[float, float]]]:
    """Parse the %PDF-SIM text format → (cells, {page: (width, height)})."""
    cells: list[Cell] = []
    pages: dict[int, tuple[float, float]] = {}
    page = 1
    for line in payload.split("\n"):
        line = line.rstrip()
        if not line or line.startswith(PDF_MARKER):
            continue
        if line.startswith("#page"):
            parts = line.split()
            page = int(parts[1])
            pages[page] = (float(parts[2]), float(parts[3]))
            continue
        parts = line.split(" ", 4)
        if len(parts) < 5:
            continue
        try:
            x0, y0, x1, y1 = (float(p) for p in parts[:4])
        except ValueError:
            continue
        cells.append(Cell(page, x0, y0, x1, y1, parts[4]))
    return cells, pages


def group_rows(cells: list[Cell]) -> list[list[Cell]]:
    """pypdfium2_backend.py:164-191 row grouping (cells in input order)."""
    if not cells:
        return []
    rows: list[list[Cell]] = []
    current = [cells[0]]
    row_top, row_bottom = cells[0].y0, cells[0].y1
    row_height = row_bottom - row_top
    for cell in cells[1:]:
        vt = row_height * VERTICAL_THRESHOLD_FACTOR
        if abs(cell.y0 - row_top) <= vt and abs(cell.y1 - row_bottom) <= vt:
            current.append(cell)
            row_top = min(row_top, cell.y0)
            row_bottom = max(row_bottom, cell.y1)
            row_height = row_bottom - row_top
        else:
            rows.append(current)
            current = [cell]
            row_top, row_bottom = cell.y0, cell.y1
            row_height = cell.height
    rows.append(current)
    return rows


def merge_row(row: list[Cell]) -> list[Cell]:
    """pypdfium2_backend.py:196-218 horizontal merge within a row."""
    row = sorted(row, key=lambda c: c.x0)
    merged: list[Cell] = []
    group = [row[0]]
    for cell in row[1:]:
        prev = group[-1]
        avg_height = (prev.height + cell.height) / 2
        if cell.x0 - prev.x1 <= avg_height * HORIZONTAL_THRESHOLD_FACTOR:
            group.append(cell)
        else:
            merged.append(_merge_group(group))
            group = [cell]
    merged.append(_merge_group(group))
    return merged


def _merge_group(group: list[Cell]) -> Cell:
    if len(group) == 1:
        return group[0]
    return Cell(
        page=group[0].page,
        x0=min(c.x0 for c in group),
        y0=min(c.y0 for c in group),
        x1=max(c.x1 for c in group),
        y1=max(c.y1 for c in group),
        text=" ".join(c.text for c in group),
    )


def _cells_from_payload(
    payload: str | bytes,
) -> tuple[list[Cell], dict[int, tuple[float, float]]]:
    """Dispatch: %PDF-SIM text dump vs real %PDF bytes (str payloads are
    assumed latin-1 round-trips of the original bytes — the lossless way a
    binary column lands in a text field; a lossy utf-8 payload fails in
    zlib and surfaces as a PdfError → parse failure upstream)."""
    if isinstance(payload, bytes):
        raw_cells, pages = decode_pdf_pages(payload)
        return [Cell(*c) for c in raw_cells], pages
    if payload.startswith(PDF_MARKER):
        return parse_cell_dump(payload)
    try:
        data = payload.encode("latin-1")
    except UnicodeEncodeError:
        data = payload.encode("utf-8")
    raw_cells, pages = decode_pdf_pages(data)
    return [Cell(*c) for c in raw_cells], pages


def extract_pdfish(
    payload: str | bytes,
) -> tuple[str, list[tuple[int, int, str, int]]]:
    """PDF payload (real bytes, latin-1 str of real bytes, or %PDF-SIM cell
    dump) → (extracted_text, spans). Furniture rows (page header / footer
    bands) are excluded from the text; body paragraphs are
    sanitize_text-joined lines."""
    cells, pages = _cells_from_payload(payload)
    if not cells:
        return "", []

    # per-page: group rows, merge cells, classify furniture, detect columns,
    # emit reading-ordered lines: (page, band, top, height, label, text)
    lines: list[tuple[int, int, float, float, str, str]] = []
    for page in sorted({c.page for c in cells}):
        page_cells = [c for c in cells if c.page == page]
        _, page_h = pages.get(page, (612.0, 792.0))
        rows = group_rows(page_cells)

        # merged segments per visual row; segment = a run of close cells
        row_segs: list[list[Cell]] = [merge_row(row) for row in rows]

        def _label(top: float, bottom: float) -> str:
            center = (top + bottom) / 2
            if center < page_h * HEADER_BAND:
                return LABEL_PAGE_HEADER
            if center > page_h * FOOTER_BAND:
                return LABEL_PAGE_FOOTER
            return LABEL_PARAGRAPH

        # column detection (P4/P7 analog): cluster body-segment x-intervals
        # into disjoint bands; 2+ well-populated bands → multi-column page
        body_segs = [
            s
            for segs in row_segs
            for s in segs
            if _label(s.y0, s.y1) == LABEL_PARAGRAPH
        ]
        bands: list[list[float]] = []  # [x0, x1] merged intervals
        for s in sorted(body_segs, key=lambda c: c.x0):
            if bands and s.x0 <= bands[-1][1]:
                bands[-1][1] = max(bands[-1][1], s.x1)
            else:
                bands.append([s.x0, s.x1])
        multi_column = 2 <= len(bands) <= 4 and all(
            sum(1 for s in body_segs if b[0] <= s.x0 <= b[1]) >= 2
            for b in bands
        )

        def band_of(x0: float) -> int:
            for i, b in enumerate(bands):
                if b[0] <= x0 <= b[1]:
                    return i
            return 0

        if multi_column:
            # one line per segment, ordered (band, top): left column first
            for segs in row_segs:
                for s in segs:
                    lines.append(
                        (
                            page,
                            band_of(s.x0),
                            s.y0,
                            s.y1 - s.y0,
                            _label(s.y0, s.y1),
                            s.text,
                        )
                    )
        else:
            # single column: the whole visual row is one line (x-ordered)
            for segs in row_segs:
                top = min(c.y0 for c in segs)
                bottom = max(c.y1 for c in segs)
                text = " ".join(
                    c.text for c in sorted(segs, key=lambda c: c.x0)
                )
                lines.append(
                    (page, 0, top, bottom - top, _label(top, bottom), text)
                )

    lines.sort(key=lambda r: (r[0], r[1], r[2]))

    # paragraph assembly over body lines; a page or column-band switch
    # always breaks the paragraph
    paragraphs: list[tuple[str, int]] = []  # (text, page)
    buf: list[str] = []
    buf_page = 0
    prev_bottom = None
    prev_height = 0.0
    prev_key: tuple[int, int] | None = None
    for page, band, top, height, label, text in lines:
        if label != LABEL_PARAGRAPH:
            continue
        gap_break = prev_key is not None and (
            (page, band) != prev_key
            or top - prev_bottom > max(height, prev_height) * PARAGRAPH_GAP_FACTOR
        )
        if gap_break and buf:
            paragraphs.append((sanitize_text(buf), buf_page))
            buf = []
        if not buf:
            buf_page = page
        buf.append(text)
        prev_bottom = top + height
        prev_height = height
        prev_key = (page, band)
    if buf:
        paragraphs.append((sanitize_text(buf), buf_page))

    return join_spans((text, LABEL_PARAGRAPH, page) for text, page in paragraphs)
