"""HWPX extraction (B14) — stdlib port of the reference's HwpxDocumentBackend
(/root/reference/docling/backend/xml/hwpx_backend.py) on zipfile +
xml.etree instead of lxml + PIL.

HWPX is zip + OWPML XML (Contents/section{N}.xml). Ported semantics, with
reference line cites:

- paragraph walk over every top-level <hp:p> (:convert, :248-283), with
  hp:t text accumulation where tab/fwSpace/lineBreak become spaces and
  inline tails are kept (:66-78, :563-570)
- section-header heuristics, all four families (:284-441, :672-720):
  (a) small tables (1×1, 1×2, 1×3) with ≤200 chars of unseen text,
  (b) <hp:rect> text boxes (≤100 chars via _process_rect, ≤200 via the
  run-scan), (c) numbered paragraphs (``1. ``/roman ``Ⅰ.``), each promoted
  to a level-1 heading exactly once (the _seen_section_texts dedup set),
  TOC entries exempted (tab followed by a trailing page number, :95-113)
- list grouping by leading symbol □/o/-/* with a level stack (:114-162)
- tables (:672-1145): rowCnt/colCnt grid with cellAddr/cellSpan occupancy,
  caption-row replication above picture rows, top-title rows, nested
  tables recursed from subLists, '주:'/'자료:'/'*' comment cells emitted
  as CAPTION items, >200-char cells exploded into paragraphs, cell_items
  flushed in (col, row) order, empty/top-titled tables suppressed
- pictures resolve binaryItemIDRef against BinData/ members (bmp/png/jpg/
  jpeg/tif, no WMF — include_wmf=False in the reference too, :1196-1216);
  the decode itself is not needed for text extraction, only existence
- equations emit FORMULA items from itertext (:1272-1282)

Deliberate divergence (documented): the reference's nested-table-in-cell
"pre-content" branch (:455-500) references ``final_text`` before
assignment and would raise UnboundLocalError on any non-empty pre-text —
the fixture corpus never exercises it (the baselines exist). We treat that
pre-text as a plain paragraph instead of crashing.

Parity: tests/test_reference_hwpx.py checks the full item-label histogram
against the reference's own regression baseline
(genon/preprocessor/tests/regression/baselines/hwpx_sample.json).
"""

from __future__ import annotations

import re
import zipfile

from doc_parser_spark.functions.ziputil import open_zip
from io import BytesIO
from typing import Optional
from xml.etree import ElementTree as ET

from doc_parser_spark.datamodel import join_spans
from doc_parser_spark.functions.docx_extract import DocxNode, node_pieces

_HEADER_NUM_RE = re.compile(r"^(?:\d+\.\s+|[ⅠⅡⅢⅣⅤⅥⅦⅧⅨⅩ]+\.\s*)")
_HEADER_NUM_STRICT_RE = re.compile(r"^(?:\d+|[ⅠⅡⅢⅣⅤⅥⅦⅧⅨⅩ]+)\.\s+")
_COMMENT_RE = re.compile(r"^\s*(?:(?:주|자료)\s*[:：]|\*)")
_IMG_EXTS = (".bmp", ".png", ".jpg", ".jpeg", ".tif")
_SYMBOL_LEVEL = {"□": 0, "o": 1, "-": 2, "*": 2}


def _ln(e: ET.Element) -> str:
    return e.tag.rsplit("}", 1)[-1] if isinstance(e.tag, str) else ""


def _children(e: ET.Element, name: str) -> list[ET.Element]:
    return [c for c in e if _ln(c) == name]


def _child(e: ET.Element, name: str) -> Optional[ET.Element]:
    for c in e:
        if _ln(c) == name:
            return c
    return None


def _desc(e: ET.Element, name: str) -> list[ET.Element]:
    return [d for d in e.iter() if d is not e and _ln(d) == name]


def _first_desc(e: ET.Element, name: str) -> Optional[ET.Element]:
    for d in e.iter():
        if d is not e and _ln(d) == name:
            return d
    return None


def _extract_text(t: ET.Element) -> str:
    """hp:t → text with tab/fwSpace/linesegarray as spaces (:66-78)."""
    parts: list[str] = []
    if t.text:
        parts.append(t.text)
    for inline in t:
        if _ln(inline) in ("tab", "fwSpace", "linesegarray"):
            parts.append(" ")
        if inline.tail:
            parts.append(inline.tail)
    return "".join(parts).strip()


def _jpeg_components(data: bytes) -> int:
    """SOF frame component count (4 → CMYK/YCCK, not PNG-encodable)."""
    import struct

    i = 2
    n = len(data)
    while i + 9 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                      0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return data[i + 9]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD9:
            i += 2
            continue
        seglen = struct.unpack(">H", data[i + 2 : i + 4])[0]
        i += 2 + seglen
    return 3


def _is_toc_numbered_entry(t: ET.Element) -> bool:
    """tab followed by a page number in its tail (:95-113)."""
    tabs = _children(t, "tab")
    if not tabs:
        return False
    for tab in tabs:
        if re.match(r"^\d+", (tab.tail or "").lstrip()):
            return True
    return False


class _HwpxParser:
    def __init__(self, zf: zipfile.ZipFile):
        self.zip = zf
        self.names = set(zf.namelist())
        self.root = DocxNode("section", name="root")
        self.parents: dict[int, Optional[DocxNode]] = {i: None for i in range(-1, 10)}
        self.parents[0] = self.root
        self.section_group: DocxNode = self.root
        self.seen: set[str] = set()
        self.list_stack: list[tuple[DocxNode, int]] = []

    # -- emit helpers ------------------------------------------------------

    def _para(self, text: str, parent: Optional[DocxNode] = None) -> None:
        (parent or self.section_group).children.append(
            DocxNode("paragraph", text=text)
        )

    def _caption(self, text: str) -> None:
        self.section_group.children.append(DocxNode("caption", text=text))

    def _end_list(self) -> None:
        # reference's _end_list (:1311-1314) clears the current refs but
        # NOT the stack — mirrored
        pass

    def _add_header(self, level: int, text: str) -> None:
        """:1284-1309 — heading ladder with group backfill."""
        for lvl in range(0, level):
            if self.parents.get(lvl) is None:
                g = DocxNode("section", name=f"header-{lvl}")
                p = self.parents.get(lvl - 1)
                (p.children if p else self.root.children).append(g)
                self.parents[lvl] = g
        for lvl in range(level, 10):
            self.parents[lvl] = None
        heading = DocxNode("section_header", text=text, level=level)
        parent = self.parents.get(level - 1) or self.root
        parent.children.append(heading)
        self.parents[level] = heading

    def _handle_list_symbol(self, txt: str) -> bool:
        """:114-162 — leading □/o/-/* opens a nested list group."""
        if not txt or txt[0] not in _SYMBOL_LEVEL:
            return False
        level = _SYMBOL_LEVEL[txt[0]]
        while self.list_stack and self.list_stack[-1][1] >= level:
            self.list_stack.pop()
        parent = self.list_stack[-1][0] if self.list_stack else self.section_group
        group = DocxNode("list", name="ul")
        parent.children.append(group)
        self.list_stack.append((group, level))
        group.children.append(DocxNode("paragraph", text=txt))
        return True

    def _image_exists(self, pic: ET.Element) -> bool:
        """Mirror of _get_image_ref (:1173-1195): the binary must resolve
        AND be PNG-re-encodable — the reference wraps every image via
        ImageRef.from_pil, whose PNG encode raises on CMYK (4-component)
        JPEGs, silently dropping the picture node. Parsing the JPEG SOF
        component count reproduces that without PIL."""
        img = _child(pic, "img")
        if img is None:
            return False
        bin_id = img.get("binaryItemIDRef")
        if not bin_id:
            return False
        for ext in _IMG_EXTS:
            name = f"BinData/{bin_id}{ext}"
            if name not in self.names:
                continue
            if ext in (".jpg", ".jpeg"):
                return _jpeg_components(self.zip.read(name)) != 4
            return True
        return False

    def _process_picture(self, pic: ET.Element) -> None:
        if self._image_exists(pic):
            self.section_group.children.append(DocxNode("picture"))

    def _process_equation(self, eq: ET.Element) -> None:
        text = "".join(eq.itertext()).strip()
        self.section_group.children.append(DocxNode("formula", text=text))

    # -- paragraphs ---------------------------------------------------------

    def _process_rect(self, rect: ET.Element) -> None:
        """:1147-1172 — text box: short → header, long → inner paragraphs."""
        draw = _first_desc(rect, "drawText")
        if draw is None:
            return
        full = "".join(t.text for t in _desc(draw, "t") if t.text).strip()
        norm = "".join(full.split())
        if not full:
            return
        if len(full) <= 100:
            self.seen.add(norm)
            self._end_list()
            self._add_header(1, full)
            self.section_group = self.parents[1]
            return
        for p in _desc(draw, "p"):
            self._process_paragraph(p, in_tc=False, in_drawtext=True)

    def _run_header_scan(self, p: ET.Element) -> tuple[bool, set[int], dict[int, str]]:
        """:295-383 — per-run small-table / rect header detection."""
        runs = _children(p, "run")
        valid_runs: list[ET.Element] = []
        run_texts: dict[int, str] = {}
        for run in runs:
            ts = _desc(run, "t")
            if not ts:
                continue
            full = " ".join(_extract_text(t0) for t0 in ts).strip()
            valid_runs.append(run)
            run_texts[len(valid_runs) - 1] = full

        any_header = False
        header_runs: set[int] = set()
        for idx, run in enumerate(valid_runs):
            header_text = None
            norm_text = None
            for child in run:
                tag = _ln(child)
                if tag == "tbl":
                    rc, cc = child.get("rowCnt"), child.get("colCnt")
                    trs = _children(child, "tr")
                    rows = int(rc) if rc is not None else len(trs)
                    cols = (
                        int(cc)
                        if cc is not None
                        else (len(_children(trs[0], "tc")) if trs else 0)
                    )
                    if (rows, cols) in [(1, 1), (1, 2), (1, 3)]:
                        txt = " ".join(
                            _extract_text(t0) for t0 in _desc(child, "t")
                        ).strip()
                        norm = "".join(txt.split())
                        if txt and len(txt) <= 200 and norm not in self.seen:
                            header_text, norm_text = txt, norm
                            break
                elif tag == "rect":
                    draw = _first_desc(child, "drawText")
                    if draw is None:
                        break
                    full = "".join(
                        _extract_text(t0) for t0 in _desc(draw, "t")
                    ).strip()
                    norm = "".join(full.split())
                    if not full:
                        continue
                    if len(full) <= 200 and norm not in self.seen:
                        header_text, norm_text = full, norm
                        break
            if header_text is not None:
                self.seen.add(norm_text)
                self._end_list()
                self._add_header(1, header_text)
                self.section_group = self.parents[1]
                any_header = True
                header_runs.add(idx)
        return any_header, header_runs, run_texts

    def _process_paragraph(
        self, p: ET.Element, in_tc: bool = False, in_drawtext: bool = False
    ) -> None:
        has_secpr = _first_desc(p, "secPr") is not None
        has_text = any(_children(r, "t") for r in _desc(p, "run"))
        if has_secpr and not has_text:
            return

        any_header, header_runs, run_texts = self._run_header_scan(p)
        if any_header:
            for idx, text in run_texts.items():
                if idx not in header_runs and text:
                    self._para(text)
            return

        if in_drawtext:
            return

        full_para = " ".join(
            _extract_text(t)
            for run in _children(p, "run")
            for t in _children(run, "t")
        )
        toc_candidate = bool(_desc(p, "tab")) and bool(
            re.search(r"\d+\s*$", full_para)
        )
        if not toc_candidate and _HEADER_NUM_RE.match(full_para.strip()):
            self.seen.add("".join(full_para.split()))
            self._end_list()
            self._add_header(1, full_para)
            self.section_group = self.parents[1]
            return

        if in_tc:
            runs = _children(p, "run")
            inlines = [e for run in runs for e in run]
            nested_idx = next(
                (i for i, e in enumerate(inlines) if _ln(e) == "tbl"), None
            )
            if nested_idx is not None:
                for elem in inlines[:nested_idx]:
                    tag = _ln(elem)
                    if tag == "t":
                        txt = _extract_text(elem).strip()
                        if not txt and not _is_toc_numbered_entry(elem):
                            continue
                        # reference :465 dereferences an unassigned local
                        # here — sane interpretation (see module docstring):
                        if _HEADER_NUM_STRICT_RE.match(txt):
                            self.seen.add("".join(txt.split()))
                            self._end_list()
                            self._add_header(1, txt)
                            self.section_group = self.parents[1]
                            continue
                        if txt.startswith("<참고"):
                            self._para(txt)
                            continue
                        if self._handle_list_symbol(txt):
                            return
                        self._end_list()
                        self._para(txt)
                    elif tag == "pic":
                        self._process_picture(elem)
                    elif tag == "rect":
                        self._process_rect(elem)
                    elif tag == "equation":
                        self._process_equation(elem)
                self._process_table(inlines[nested_idx])
                for elem in inlines[nested_idx + 1 :]:
                    tag = _ln(elem)
                    if tag == "t":
                        txt = _extract_text(elem).strip()
                        if txt:
                            self._para(txt)
                    elif tag == "pic":
                        self._process_picture(elem)
                    elif tag == "rect":
                        self._process_rect(elem)
                    elif tag == "equation":
                        self._process_equation(elem)
                return

        # :545-667 — base accumulation over ALL descendant runs' children
        buf = ""
        children: list[ET.Element] = []
        for run in _desc(p, "run"):
            children.extend(list(run))
        seen_ids: set[int] = set()
        i = 0
        while i < len(children):
            child = children[i]
            i += 1
            cid = id(child)
            if cid in seen_ids:
                continue
            seen_ids.add(cid)
            tag = _ln(child)
            if tag == "t":
                buf += child.text or ""
                for inline in child:
                    if _ln(inline) in ("tab", "fwSpace", "lineBreak"):
                        buf += " "
                    if inline.tail:
                        buf += inline.tail
            elif tag == "tbl":
                if buf.strip():
                    self._para(buf.rstrip())
                    buf = ""
                self._process_table(child)
                for d in child.iter():
                    seen_ids.add(id(d))
            elif tag == "rect":
                if buf.strip():
                    self._para(buf.rstrip())
                    buf = ""
                self._process_rect(child)
                if child.tail:
                    buf += child.tail
            elif tag == "pic":
                if buf.strip():
                    self._para(buf.rstrip())
                    buf = ""
                self._process_picture(child)
                if child.tail:
                    buf += child.tail
            elif tag == "equation":
                self._process_equation(child)
                if child.tail:
                    buf += child.tail

        final_text = buf.rstrip()
        if final_text.startswith("<참고"):
            self._para(final_text)
            return
        if self._handle_list_symbol(final_text):
            return
        if final_text:
            if _HEADER_NUM_STRICT_RE.match(final_text):
                self.seen.add("".join(final_text.split()))
                self._end_list()
                self._add_header(1, final_text)
                self.section_group = self.parents[1]
                return
            self._para(final_text)

    # -- tables ---------------------------------------------------------------

    def _process_table(self, tbl: ET.Element) -> None:
        toc = any(_is_toc_numbered_entry(t) for t in _desc(tbl, "t"))
        if toc:
            for p in _desc(tbl, "p"):
                parts = []
                for run in _children(p, "run"):
                    t0 = _child(run, "t")
                    if t0 is not None:
                        parts.append(_extract_text(t0))
                full = " ".join(parts).strip()
                if full:
                    self._para(full)
            return

        try:
            num_rows = int(tbl.get("rowCnt", "0"))
            num_cols = int(tbl.get("colCnt", "0"))
        except ValueError:
            trs = _children(tbl, "tr")
            num_rows = len(trs)
            num_cols = len(_children(trs[0], "tc")) if trs else 0

        if (num_rows, num_cols) == (1, 1):
            parts = [_extract_text(t0) for t0 in _desc(tbl, "t")]
            txt = " ".join(parts).strip()
            has_pic = bool(_desc(tbl, "pic"))
            nested_tbl = len(_desc(tbl, "tbl")) > 1
            if txt and has_pic and len(txt) <= 50 and not nested_tbl:
                self._process_paragraph(tbl, in_tc=False)
                return
            level = 1 if num_rows == 1 else 2
            norm = "".join(txt.split())
            if txt and len(txt) <= 200 and norm != "여백":
                self.seen.add(norm)
                self._end_list()
                self._add_header(level, txt)
                self.section_group = self.parents[level]
                return

        if (num_rows, num_cols) in [(1, 2), (1, 3)]:
            txt = "".join(_extract_text(t0) for t0 in _desc(tbl, "t")).strip()
            norm = "".join(txt.split())
            if txt and len(txt) <= 200:
                self.seen.add(norm)
                self._end_list()
                self._add_header(1, txt)
                self.section_group = self.parents[1]
                return

        grid_cells: list[tuple[str, int, int, int, int]] = []  # text,r,c,rs,cs
        occupied = [[False] * num_cols for _ in range(num_rows)]
        cell_items: dict[tuple[int, int], list] = {}
        skip_caption: set[tuple[int, int]] = set()
        has_top_title = False
        rows = _children(tbl, "tr")
        r = c = rs = cs = 0
        nested_in_this = False
        for r_idx, tr in enumerate(rows):
            tcs = _children(tr, "tc")
            n_tcs = len(tcs)
            for tc in tcs:
                addr = _child(tc, "cellAddr")
                span = _child(tc, "cellSpan")
                if addr is None or span is None:
                    continue
                r = int(addr.get("rowAddr"))
                c = int(addr.get("colAddr"))
                rs = int(span.get("rowSpan"))
                cs = int(span.get("colSpan"))
                if r >= num_rows or c >= num_cols or occupied[r][c]:
                    continue
                for rr in range(r, min(r + rs, num_rows)):
                    for cc in range(c, min(c + cs, num_cols)):
                        occupied[rr][cc] = True

                # caption row above a picture row (:800-833)
                if n_tcs == 1 and r_idx + 1 < len(rows):
                    next_tcs = _children(rows[r_idx + 1], "tc")
                    if len(next_tcs) >= 2 and any(
                        _desc(tc2, "pic") for tc2 in next_tcs
                    ):
                        cap = "".join(
                            _extract_text(t0) for t0 in _desc(tc, "t")
                        ).strip()
                        norm_cap = re.sub(r"\s+", "", cap)
                        if cap and norm_cap not in self.seen:
                            self.seen.add(norm_cap)
                            for tc2 in next_tcs:
                                a2 = _child(tc2, "cellAddr")
                                if a2 is None:
                                    continue
                                key = (int(a2.get("rowAddr")), int(a2.get("colAddr")))
                                cell_items.setdefault(key, []).append(("caption", cap))
                        continue

                nested_in_this = bool(_desc(tc, "tbl"))
                if (r, c) in skip_caption:
                    continue

                next_nested = next_pic = False
                if r_idx + rs < len(rows):
                    for tc2 in _children(rows[r_idx + rs], "tc"):
                        a2 = _child(tc2, "cellAddr")
                        if a2 is None or int(a2.get("colAddr")) != c:
                            continue
                        if _desc(tc2, "tbl"):
                            next_nested = True
                        if _desc(tc2, "pic"):
                            next_pic = True

                if not nested_in_this and (next_nested or next_pic):
                    # top-title row above (:857-875)
                    if 0 <= r_idx - 1 < len(rows):
                        prev_tcs = _children(rows[r_idx - 1], "tc")
                        cell_texts = [
                            "".join(t.itertext()).strip() for t in prev_tcs
                        ]
                        if cell_texts and len(set(cell_texts)) == 1:
                            toptitle = cell_texts[0]
                            if not _COMMENT_RE.match(toptitle):
                                norm_tt = re.sub(r"\s+", "", toptitle)
                                if norm_tt not in self.seen:
                                    cell_items.setdefault((r - 1, c), []).append(
                                        ("top_caption", toptitle)
                                    )
                                    skip_caption.add((r - 1, c))
                                    has_top_title = True
                    title = "".join(
                        _extract_text(t) for t in _desc(tc, "t")
                    ).strip()
                    cell_items.setdefault((r, c), []).append(("caption", title))
                    continue

                if nested_in_this and not toc:
                    for p in [
                        p
                        for sub in _children(tc, "subList")
                        for p in _children(sub, "p")
                    ]:
                        inner = _first_desc(p, "tbl")
                        if inner is not None:
                            cell_items.setdefault((r, c), []).append(("table", inner))
                        else:
                            cell_items.setdefault((r, c), []).append(("paragraph", p))
                    continue

                if _desc(tc, "pic"):
                    for p in [
                        p
                        for sub in _children(tc, "subList")
                        for p in _children(sub, "p")
                    ]:
                        t_elem = _first_desc(p, "t")
                        pic_elem = _first_desc(p, "pic")
                        if t_elem is not None and _extract_text(t_elem).strip():
                            cell_items.setdefault((r, c), []).append(("paragraph", p))
                        if pic_elem is not None:
                            cell_items.setdefault((r, c), []).append(
                                ("picture", pic_elem)
                            )
                    continue

                texts = [
                    "".join(
                        _extract_text(t) for t in _desc(p, "t")
                    ).strip()
                    for p in _desc(tc, "p")
                ]
                txt = " ".join(filter(None, texts)).strip()
                if _COMMENT_RE.match(txt):
                    prev_tcs = (
                        _children(rows[r_idx - 1], "tc") if r_idx - 1 >= 0 else []
                    )
                    if n_tcs == 1 and len(prev_tcs) >= 2:
                        if any(_desc(ptc, "pic") for ptc in prev_tcs):
                            if cs > 1:
                                cell_items.setdefault((r, c + 1), []).append(
                                    ("comment", txt)
                                )
                            cell_items.setdefault((r, c), []).append(("comment", txt))
                            continue
                    cell_items.setdefault((r, c), []).append(("comment", txt))
                    continue

                parts = []
                for p in _desc(tc, "p"):
                    for t in _desc(p, "t"):
                        parts.append(_extract_text(t))
                cell_text = "\n".join(parts).strip()
                if len(cell_text) > 200:
                    for sub_p in _desc(tc, "p"):
                        cell_items.setdefault((r, c), []).append(("paragraph", sub_p))
                    continue
                grid_cells.append((cell_text, r, c, rs, cs))

        has_table = any(
            typ == "table" for items in cell_items.values() for typ, _ in items
        )
        has_picture = any(
            typ == "picture"
            for (ri, ci), items in cell_items.items()
            if ci == c  # reference :1009 uses the loop-leaked last column
            for typ, _ in items
        )
        has_comment = any(
            typ == "comment" for items in cell_items.values() for typ, _ in items
        )

        if (
            not has_table
            and has_comment
            and not has_picture
            and not nested_in_this
            and not toc
        ):
            if any(text for text, *_ in grid_cells):
                self._emit_table(grid_cells, num_rows, num_cols)
                grid_cells = []
                for key, items in list(cell_items.items()):
                    for typ, payload in items:
                        if typ == "comment":
                            self._caption(payload)
                    kept = [(t, pl) for t, pl in items if t != "comment"]
                    if kept:
                        cell_items[key] = kept
                    else:
                        del cell_items[key]

        for key in sorted(cell_items.keys(), key=lambda x: (x[1], x[0])):
            for typ, payload in cell_items[key]:
                if typ == "top_caption":
                    if re.sub(r"\s+", "", payload) in self.seen:
                        continue
                    self._para(payload)
                elif typ == "caption":
                    if _HEADER_NUM_RE.match(payload):
                        self.seen.add("".join(payload.split()))
                        self._end_list()
                        self._add_header(1, payload)
                        self.section_group = self.parents[1]
                        continue
                    self._para(payload)
                elif typ == "paragraph":
                    self._process_paragraph(payload, in_tc=True)
                elif typ == "table":
                    self._process_table(payload)
                elif typ == "picture":
                    self._process_picture(payload)
                elif typ == "comment":
                    self._caption(payload)

        if not any(text for text, *_ in grid_cells) or has_top_title:
            return
        self._emit_table(grid_cells, num_rows, num_cols)

    def _emit_table(
        self,
        cells: list[tuple[str, int, int, int, int]],
        num_rows: int,
        num_cols: int,
    ) -> None:
        grid = [["" for _ in range(num_cols)] for _ in range(num_rows)]
        for text, r, c, rs, cs in cells:
            for rr in range(r, min(r + rs, num_rows)):
                for cc in range(c, min(c + cs, num_cols)):
                    grid[rr][cc] = text
        self.section_group.children.append(DocxNode("table", grid=grid))


def parse_hwpx(payload: bytes) -> DocxNode:
    """HWPX zip bytes → docling-shaped DocxNode tree."""
    zf = open_zip(payload)  # maps encrypted-member RuntimeError to ValueError
    if "Contents/section0.xml" not in zf.namelist():
        raise ValueError("not an HWPX document (no Contents/section0.xml)")
    parser = _HwpxParser(zf)
    idx = 0
    while f"Contents/section{idx}.xml" in parser.names:
        root = ET.fromstring(zf.read(f"Contents/section{idx}.xml"))
        for elem in root:
            if _ln(elem) == "p":
                parser._process_paragraph(elem)
        idx += 1
    return parser.root


def extract_hwpx(payload: bytes) -> tuple[str, list[tuple[int, int, str, int]]]:
    """HWPX → (main text, spans) through the shared flat-item stream."""
    return join_spans(node_pieces(parse_hwpx(payload)))
