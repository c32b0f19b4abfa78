"""DOCX extraction (B9) — a from-scratch stdlib port of the reference's
MsWord backend (/root/reference/docling/backend/msword_backend.py), built on
zipfile + xml.etree instead of python-docx/lxml.

Semantics ported (file:line cites against the reference):

- linear body walk dispatching w:p / w:tbl / w:sdt / drawings
  (_walk_linear, msword_backend.py:168-278)
- style → label/level: Title, Heading N (style id, name, or base style),
  everything else a paragraph (_get_label_and_level, :335-366)
- heading level jumps create invisible ``header-i`` section groups; level
  drops clear the parent tail (_add_header, :861-888)
- numbered-heading synthesis: a Heading style carrying <w:numPr> gets
  "2.1.3 "-style prefixes with the reference's no-empty-sublevel rule
  (_add_header, :889-921)
- lists via w:numPr (numId, ilvl): open/indent/close exactly as
  _add_list_item (:967-1060); the reference hard-codes is_numbered=False
  (msword_backend.py:717), so list items are unnumbered — kept
- run grouping by (bold, italic, underline) formatting; hyperlinks split
  eagerly; >1 element per paragraph becomes an inline group
  (_get_paragraph_elements :381-436, _create_or_reuse_parent :684-696)
- tables: grid with gridSpan/vMerge spans, 1×1 tables unwrap into the body
  (_handle_tables, :1061-1124)
- textboxes: w:txbxContent / VML paragraphs under a ``textbox`` group
  (_handle_textbox_content, :568-633)
- equations ARE ported: OMML (m:oMath) runs convert to LaTeX via the
  from-scratch converter in functions/omath.py (replacing the reference's
  dwml oMath2Latex dependency) — byte-exact vs the equations.docx
  groundtruth; see ``_paragraph_elements`` below

Output is a docling-shaped node tree; ``flat_items`` yields the
(label, text) stream the reference's indented-text export prints,
``node_pieces`` turns that stream into ``datamodel.join_spans`` pieces for
every tree backend (docx, pptx, xlsx, hwpx, jats, uspto), and
``export_docx_markdown`` mirrors its markdown serializer.
"""

from __future__ import annotations

import re
import zipfile

from doc_parser_spark.functions.ziputil import open_zip
from dataclasses import dataclass, field
from io import BytesIO
from pathlib import Path
from typing import Iterator, Optional
from xml.etree import ElementTree as ET

from doc_parser_spark.datamodel import join_spans
from doc_parser_spark.functions.html_extract import render_table

W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
R = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
V = "{urn:schemas-microsoft-com:vml}"
M = "{http://schemas.openxmlformats.org/officeDocument/2006/math}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

MAX_LEVELS = 10


@dataclass
class DocxNode:
    label: str  # title/section_header/paragraph/text/list_item/formula/
    #             table/picture/inline/list/section (last three are groups)
    text: str = ""
    level: Optional[int] = None
    bold: bool = False
    italic: bool = False
    underline: bool = False
    hyperlink: Optional[str] = None
    name: str = ""  # group name
    grid: Optional[list[list[str]]] = None  # tables
    children: list["DocxNode"] = field(default_factory=list)

    @property
    def is_group(self) -> bool:
        return self.label in (
            "inline", "list", "section", "chapter", "unspecified",
        )


# ---------------------------------------------------------------------------
# low-level XML helpers
# ---------------------------------------------------------------------------
def _run_text(r: ET.Element) -> str:
    """python-docx Run.text: DIRECT children only — w:t content, w:tab → TAB,
    w:br|w:cr → NL. Descending further would double textbox content that
    mc:AlternateContent ships twice (DrawingML + VML fallback)."""
    parts: list[str] = []
    for child in r:
        tag = child.tag
        if tag == f"{W}t":
            parts.append(child.text or "")
        elif tag == f"{W}tab":
            parts.append("\t")
        elif tag in (f"{W}br", f"{W}cr"):
            parts.append("\n")
    return "".join(parts)


def _bool_prop(rpr: Optional[ET.Element], tag: str) -> bool:
    if rpr is None:
        return False
    el = rpr.find(f"{W}{tag}")
    if el is None:
        return False
    val = el.get(f"{W}val")
    if tag == "u":
        return val is not None and val != "none"
    return val not in ("false", "0", "none")


def _run_format(r: ET.Element) -> tuple[bool, bool, bool]:
    rpr = r.find(f"{W}rPr")
    return (
        _bool_prop(rpr, "b"),
        _bool_prop(rpr, "i"),
        _bool_prop(rpr, "u"),
    )


class _Styles:
    """word/styles.xml: style_id → (name, basedOn, has_numPr)."""

    def __init__(self, xml: Optional[bytes]):
        self.by_id: dict[str, dict] = {}
        if not xml:
            return
        root = ET.fromstring(xml)
        for st in root.findall(f"{W}style"):
            sid = st.get(f"{W}styleId") or ""
            name_el = st.find(f"{W}name")
            based_el = st.find(f"{W}basedOn")
            self.by_id[sid] = {
                "name": (name_el.get(f"{W}val") if name_el is not None else sid),
                "based": (based_el.get(f"{W}val") if based_el is not None else None),
                "numpr": st.find(f"{W}pPr/{W}numPr") is not None,
            }

    def name(self, sid: str) -> str:
        return self.by_id.get(sid, {}).get("name", sid)

    def based(self, sid: str) -> Optional[str]:
        return self.by_id.get(sid, {}).get("based")

    def has_numpr(self, sid: str) -> bool:
        return bool(self.by_id.get(sid, {}).get("numpr"))


# ---------------------------------------------------------------------------
# the walker (reference state machine)
# ---------------------------------------------------------------------------
_NUM_SPLIT_RE = re.compile(r"(\D+)(\d+)$|^(\d+)(\D+)")


class _DocxWalker:
    def __init__(self, styles: _Styles, rels: dict[str, str]):
        self.styles = styles
        self.rels = rels
        self.root = DocxNode("unspecified", name="_root_")
        self.parents: dict[int, Optional[DocxNode]] = {
            i: None for i in range(-1, MAX_LEVELS)
        }
        self.parents[-1] = self.root
        self.level = 0
        self.level_at_new_list: Optional[int] = None
        self.listIter = 0
        self.numbered_headers: dict[int, int] = {}
        self.history: dict[str, list] = {
            "names": [None], "levels": [None], "numids": [None], "indents": [None],
        }
        self.processed_textboxes: set[int] = set()

    # -- state helpers (msword_backend.py:136-166) --------------------------
    def _update_history(self, name, level, numid, ilevel):
        self.history["names"].append(name)
        self.history["levels"].append(level)
        self.history["numids"].append(numid)
        self.history["indents"].append(ilevel)

    def _prev_numid(self):
        return self.history["numids"][-1]

    def _prev_indent(self):
        return self.history["indents"][-1]

    def _get_level(self) -> int:
        for k, v in self.parents.items():
            if k >= 0 and v is None:
                return k
        return 0

    def _add(self, node: DocxNode, parent: Optional[DocxNode]) -> DocxNode:
        (parent if parent is not None else self.root).children.append(node)
        return node

    # -- body walk (msword_backend.py:168-278) -------------------------------
    def walk(self, body: ET.Element) -> None:
        for element in body:
            tag = element.tag.rsplit("}", 1)[-1]
            has_blip = element.find(f".//{A}blip") is not None

            eid = id(element)
            if eid not in self.processed_textboxes:
                tb = element.findall(f".//{W}txbxContent") + element.findall(
                    f".//{V}textbox//{W}p"
                )
                if tb:
                    self.processed_textboxes.add(eid)
                    self._handle_textboxes(element, tb)

            if tag == "tbl":
                try:
                    self._handle_table(element)
                except Exception:
                    pass
            elif has_blip:
                self._handle_picture()
                if tag == "p" and element.find(f".//{W}t") is not None:
                    self._handle_paragraph(element)
            elif tag == "sdt":
                content = element.find(f".//{W}sdtContent")
                if content is not None:
                    for p in content.findall(f".//{W}p"):
                        self._handle_paragraph(p)
            elif tag == "p":
                self._handle_paragraph(element)

    # -- textboxes (msword_backend.py:438-633) --------------------------------
    def _handle_textboxes(
        self, top: ET.Element, containers: list[ET.Element]
    ) -> None:
        """One ``textbox`` group per top-level element; paragraphs sorted by
        sibling index within their container and deduplicated by
        (text, position) — mc:AlternateContent ships the SAME textbox twice
        (DrawingML + VML fallback), and the position key collapses the copy
        while keeping distinct empty paragraphs."""
        level = self._get_level()
        group = DocxNode("section", name="textbox")
        self._add(group, self.parents[level - 1])
        original = self.parents[level]
        self.parents[level] = group

        parent_of = {c: par for par in top.iter() for c in par}

        def pos(p: ET.Element):
            par = parent_of.get(p)
            if par is None:
                return None
            sibs = [c for c in par if c.tag == f"{W}p"]
            try:
                return sibs.index(p)
            except ValueError:
                return None

        all_paragraphs: list[tuple[ET.Element, object]] = []
        seen_p: set[int] = set()
        for container in containers:
            ps = (
                [container]
                if container.tag == f"{W}p"
                else container.findall(f".//{W}p")
            )
            batch = []
            for p in ps:
                if id(p) in seen_p:
                    continue
                seen_p.add(id(p))
                batch.append((p, pos(p)))
            batch.sort(key=lambda x: (x[1] is None, x[1] if x[1] is not None else 0))
            all_paragraphs.extend(batch)

        processed: set[tuple] = set()
        for p, position in all_paragraphs:
            key = (self._paragraph_text(p), position)
            if key in processed:
                continue
            processed.add(key)
            self._handle_paragraph(p)
        self.parents[level] = original

    # -- paragraph machinery ---------------------------------------------------
    def _paragraph_text(self, p: ET.Element) -> str:
        parts = []
        for child in p:
            ctag = child.tag
            if ctag == f"{W}r":
                parts.append(_run_text(child))
            elif ctag == f"{W}hyperlink":
                for r in child.findall(f"{W}r"):
                    parts.append(_run_text(r))
        return "".join(parts)

    def _paragraph_elements(self, p: ET.Element) -> list[tuple]:
        """(text, (b,i,u), hyperlink) groups (msword_backend.py:381-436)."""
        if self._paragraph_text(p).strip() == "":
            return [("", None, None)]
        elements: list[tuple] = []
        group_text = ""
        prev_fmt = None
        fmt = None
        for child in p:
            ctag = child.tag
            if ctag == f"{W}r":
                text = _run_text(child)
                hyperlink = None
                fmt = _run_format(child)
            elif ctag == f"{W}hyperlink":
                runs = child.findall(f"{W}r")
                text = "".join(_run_text(r) for r in runs)
                rid = child.get(f"{R}id")
                target = self.rels.get(rid or "", rid or "")
                # docling stores Path(address): Path collapses '//' → '/'
                hyperlink = str(Path(target)) if target else None
                fmt = _run_format(runs[0]) if runs else None
            else:
                continue
            if (text.strip() and fmt != prev_fmt) or hyperlink is not None:
                if group_text.strip():
                    elements.append((group_text.strip(), prev_fmt, None))
                group_text = ""
                if hyperlink is not None:
                    elements.append((text.strip(), fmt, hyperlink))
                    text = ""
                else:
                    prev_fmt = fmt
            group_text += text
        if group_text.strip():
            elements.append((group_text.strip(), fmt, None))
        return elements

    def _style_of(self, p: ET.Element) -> str:
        ppr = p.find(f"{W}pPr")
        if ppr is not None:
            ps = ppr.find(f"{W}pStyle")
            if ps is not None:
                return ps.get(f"{W}val") or "Normal"
        return "Normal"

    def _numid_ilvl(self, p: ET.Element):
        numpr = p.find(f".//{W}numPr")
        if numpr is None:
            return None, None
        numid_el = numpr.find(f"{W}numId")
        ilvl_el = numpr.find(f"{W}ilvl")
        numid = numid_el.get(f"{W}val") if numid_el is not None else None
        ilvl = ilvl_el.get(f"{W}val") if ilvl_el is not None else None

        def to_int(s):
            if s is None:
                return None
            try:
                return int(s)
            except ValueError:
                return 0

        return to_int(numid), to_int(ilvl)

    def _heading_and_level(self, label: str):
        m = _NUM_SPLIT_RE.match(label)
        if m:
            parts = sorted(filter(None, m.groups()))
            if len(parts) == 2:
                if parts[0].strip().lower() == "heading":
                    return "Heading", int(parts[1]) if parts[1].isdigit() else None
                if parts[1].strip().lower() == "heading":
                    return "Heading", int(parts[0]) if parts[0].isdigit() else None
        return label, None

    def _label_and_level(self, p: ET.Element):
        label = self._style_of(p)
        name = self.styles.name(label)
        base = self.styles.based(label)
        if ":" in label:
            parts = label.split(":")
            if len(parts) == 2:
                try:
                    return parts[0], int(parts[1])
                except ValueError:
                    return parts[0], 0
        if "heading" in label.lower():
            return self._heading_and_level(label)
        if "heading" in name.lower():
            return self._heading_and_level(name)
        if base and "heading" in base.lower():
            return self._heading_and_level(base)
        return label, None

    # -- equations (msword_backend.py:634-683) ---------------------------------
    def _equations_in_text(self, p: ET.Element, text: str):
        from doc_parser_spark.functions.omath import M as MNS
        from doc_parser_spark.functions.omath import omath_to_latex

        only_texts: list[str] = []
        only_equations: list[str] = []
        texts_and_equations: list[str] = []
        for subt in p.iter():
            tag = subt.tag
            local = tag.rsplit("}", 1)[-1]
            if local == "t" and not tag.startswith(MNS):
                if isinstance(subt.text, str):
                    only_texts.append(subt.text)
                    texts_and_equations.append(subt.text)
            elif tag == f"{MNS}oMath":
                latex = omath_to_latex(subt).strip()
                if latex:
                    eq = f"<eq>{latex}</eq>"
                    only_equations.append(eq)
                    texts_and_equations.append(eq)
        if not only_equations:
            return text, []
        import re as _re

        if (
            _re.sub(r"\s+", "", "".join(only_texts)).strip()
            != _re.sub(r"\s+", "", text).strip()
        ):
            # cannot reconstruct the raw text — skip equation handling
            return text, []
        output_text = text[:]
        init_i = 0
        for i_substr, substr in enumerate(texts_and_equations):
            if not substr:
                continue
            if substr in output_text[init_i:]:
                init_i += output_text[init_i:].find(substr) + len(substr)
            else:
                if i_substr > 0:
                    output_text = (
                        output_text[:init_i] + substr + output_text[init_i:]
                    )
                    init_i += len(substr)
                else:
                    output_text = substr + output_text
        return output_text, only_equations

    # -- text elements (msword_backend.py:697-860) ----------------------------
    def _handle_paragraph(self, p: ET.Element) -> None:
        elements = self._paragraph_elements(p)
        raw_text = self._paragraph_text(p)
        text, equations = self._equations_in_text(p, raw_text)
        text = text.strip()

        p_style_id, p_level = self._label_and_level(p)
        numid, ilevel = self._numid_ilvl(p)
        if numid == 0:
            numid = None

        if (
            numid is not None
            and ilevel is not None
            and p_style_id not in ("Title", "Heading")
        ):
            self._add_list_item(numid, ilevel, elements)
            self._update_history(p_style_id, p_level, numid, ilevel)
            return
        elif (
            numid is None
            and self._prev_numid() is not None
            and p_style_id not in ("Title", "Heading")
        ):  # close list
            if self.level_at_new_list:
                for key in range(len(self.parents)):
                    if key >= self.level_at_new_list:
                        self.parents[key] = None
                self.level = self.level_at_new_list - 1
                self.level_at_new_list = None
            else:
                for key in range(len(self.parents)):
                    self.parents[key] = None
                self.level = 0

        if p_style_id == "Title":
            for key in range(len(self.parents)):
                self.parents[key] = None
            self.parents[0] = self._add(DocxNode("title", text), None)
        elif "Heading" in p_style_id:
            is_numbered_style = self.styles.has_numpr(
                self._style_of(p)
            ) or p.find(f".//{W}numPr") is not None
            self._add_header(p_level, text, is_numbered_style)
        elif equations:
            level = self._get_level()
            if not raw_text.strip() and text:
                # standalone equation
                self._add(
                    DocxNode(
                        "formula",
                        text.replace("<eq>", "").replace("</eq>", ""),
                    ),
                    self.parents[level - 1],
                )
            else:
                # inline equation: split around each formula
                inline = self._add(
                    DocxNode("inline", name="group"), self.parents[level - 1]
                )
                text_tmp = text
                for eq in equations:
                    if not text_tmp:
                        break
                    split_tmp = text_tmp.split(eq.strip(), 1)
                    pre = split_tmp[0]
                    text_tmp = "" if len(split_tmp) == 1 else split_tmp[1]
                    if pre:
                        inline.children.append(DocxNode("paragraph", pre))
                    inline.children.append(
                        DocxNode(
                            "formula",
                            eq.replace("<eq>", "").replace("</eq>", ""),
                        )
                    )
                if text_tmp:
                    inline.children.append(
                        DocxNode("paragraph", text_tmp.strip())
                    )
        else:
            # every other style is paragraph text (reference treats unknown
            # styles as text too, msword_backend.py:838-855)
            level = self._get_level()
            parent = self.parents.get(level - 1)
            if len(elements) > 1:
                parent = self._add(DocxNode("inline", name="group"), parent)
            for etext, fmt, hyperlink in elements:
                b, i, u = fmt if fmt else (False, False, False)
                self._add(
                    DocxNode(
                        "paragraph", etext, bold=b, italic=i, underline=u,
                        hyperlink=hyperlink,
                    ),
                    parent,
                )
        self._update_history(p_style_id, p_level, numid, ilevel)

    # -- headers (msword_backend.py:861-922) -----------------------------------
    def _add_header(self, curr_level, text, is_numbered_style=False) -> None:
        level = self._get_level()
        if isinstance(curr_level, int):
            if curr_level > level:
                for i in range(level, curr_level):
                    self.parents[i] = self._add(
                        DocxNode("section", name=f"header-{i}"),
                        self.parents[i - 1],
                    )
            elif curr_level < level:
                for key in range(len(self.parents)):
                    if key >= curr_level:
                        self.parents[key] = None
            current_level = curr_level
            parent_level = curr_level - 1
            add_level = curr_level
        else:
            current_level = self.level
            parent_level = self.level - 1
            add_level = 1

        if is_numbered_style:
            self.numbered_headers[add_level] = (
                self.numbered_headers.get(add_level, 0) + 1
            )
            text = f"{self.numbered_headers[add_level]} {text}"
            next_level = add_level + 1
            while next_level in self.numbered_headers:
                self.numbered_headers[next_level] = 0
                next_level += 1
            previous_level = add_level - 1
            while previous_level in self.numbered_headers:
                if self.numbered_headers[previous_level] == 0:
                    self.numbered_headers[previous_level] += 1
                text = f"{self.numbered_headers[previous_level]}.{text}"
                previous_level -= 1

        self.parents[current_level] = self._add(
            DocxNode("section_header", text, level=add_level),
            self.parents[parent_level],
        )

    # -- list items (msword_backend.py:924-1060) --------------------------------
    def _add_formatted_list_item(self, elements, marker, enumerated, level):
        parent = self.parents[level]
        if parent is None or parent.label != "list" or not elements:
            return
        if len(elements) == 1:
            text, fmt, hyperlink = elements[0]
            if text:
                b, i, u = fmt if fmt else (False, False, False)
                self._add(
                    DocxNode(
                        "list_item", text, bold=b, italic=i, underline=u,
                        hyperlink=hyperlink,
                    ),
                    parent,
                )
        else:
            item = self._add(DocxNode("list_item", ""), parent)
            inline = self._add(DocxNode("inline", name="group"), item)
            for text, fmt, hyperlink in elements:
                if text:
                    b, i, u = fmt if fmt else (False, False, False)
                    self._add(
                        DocxNode(
                            "text", text, bold=b, italic=i, underline=u,
                            hyperlink=hyperlink,
                        ),
                        inline,
                    )

    def _add_list_item(self, numid, ilevel, elements, is_numbered=False):
        if not elements:
            return
        enum_marker = ""
        level = self._get_level()
        prev_indent = self._prev_indent()
        if self._prev_numid() is None:  # open new list
            self.level_at_new_list = level
            self.parents[level] = self._add(
                DocxNode("list", name="list"), self.parents[level - 1]
            )
            self.listIter += 1
            if is_numbered:
                enum_marker = f"{self.listIter}."
            self._add_formatted_list_item(elements, enum_marker, is_numbered, level)
        elif (
            self._prev_numid() == numid
            and self.level_at_new_list is not None
            and prev_indent is not None
            and prev_indent < ilevel
        ):  # open indented list
            for i in range(
                self.level_at_new_list + prev_indent + 1,
                self.level_at_new_list + ilevel + 1,
            ):
                self.listIter = 0
                self.parents[i] = self._add(
                    DocxNode("list", name="list"), self.parents[i - 1]
                )
            self.listIter += 1
            if is_numbered:
                enum_marker = f"{self.listIter}."
            self._add_formatted_list_item(
                elements, enum_marker, is_numbered, self.level_at_new_list + ilevel
            )
        elif (
            self._prev_numid() == numid
            and self.level_at_new_list is not None
            and prev_indent is not None
            and ilevel < prev_indent
        ):  # close nested list
            for k in self.parents:
                if k > self.level_at_new_list + ilevel:
                    self.parents[k] = None
            self.listIter += 1
            if is_numbered:
                enum_marker = f"{self.listIter}."
            self._add_formatted_list_item(
                elements, enum_marker, is_numbered, self.level_at_new_list + ilevel
            )
            self.listIter = 0
        elif self._prev_numid() == numid or prev_indent == ilevel:
            self.listIter += 1
            if is_numbered:
                enum_marker = f"{self.listIter}."
            self._add_formatted_list_item(elements, enum_marker, is_numbered, level - 1)

    # -- tables (msword_backend.py:1061-1124) -----------------------------------
    def _handle_table(self, tbl: ET.Element) -> None:
        grid_cols = tbl.findall(f"{W}tblGrid/{W}gridCol")
        rows = tbl.findall(f"{W}tr")
        num_rows = len(rows)
        num_cols = len(grid_cols)

        if num_rows == 1 and num_cols == 1:
            # single-cell table: unwrap the cell content into the body
            tc = rows[0].find(f"{W}tc")
            if tc is not None:
                self.walk(tc)
            return

        # grid fill with gridSpan / vMerge
        grid: list[list[Optional[str]]] = [
            [None] * num_cols for _ in range(num_rows)
        ]
        # vmerge_origin[col] = (row, text) of the open vertical merge
        for r_idx, tr in enumerate(rows):
            c_idx = 0
            for tc in tr.findall(f"{W}tc"):
                while c_idx < num_cols and grid[r_idx][c_idx] is not None:
                    c_idx += 1
                tcpr = tc.find(f"{W}tcPr")
                span = 1
                vmerge = None
                if tcpr is not None:
                    gs = tcpr.find(f"{W}gridSpan")
                    if gs is not None:
                        try:
                            span = int(gs.get(f"{W}val") or "1")
                        except ValueError:
                            span = 1
                    vm = tcpr.find(f"{W}vMerge")
                    if vm is not None:
                        vmerge = vm.get(f"{W}val") or "continue"
                text = "\n".join(
                    self._paragraph_text(p) for p in tc.findall(f"{W}p")
                )
                if vmerge == "continue" and r_idx > 0:
                    text = grid[r_idx - 1][c_idx] or ""
                for c in range(span):
                    if c_idx + c < num_cols:
                        grid[r_idx][c_idx + c] = text
                c_idx += span

        out = [[c if c is not None else "" for c in row] for row in grid]
        level = self._get_level()
        self._add(
            DocxNode("table", grid=out), self.parents[level - 1]
        )

    def _handle_picture(self) -> None:
        level = self._get_level()
        self._add(DocxNode("picture"), self.parents[level - 1])


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def parse_docx(payload: bytes) -> DocxNode:
    """.docx bytes → docling-shaped node tree."""
    zf = open_zip(payload)  # maps encrypted-member RuntimeError to ValueError
    names = set(zf.namelist())
    doc_xml = zf.read("word/document.xml")
    styles = _Styles(
        zf.read("word/styles.xml") if "word/styles.xml" in names else None
    )
    rels: dict[str, str] = {}
    rel_name = "word/_rels/document.xml.rels"
    if rel_name in names:
        rel_root = ET.fromstring(zf.read(rel_name))
        for rel in rel_root.findall(f"{REL}Relationship"):
            rels[rel.get("Id") or ""] = rel.get("Target") or ""

    root = ET.fromstring(doc_xml)
    body = root.find(f"{W}body")
    walker = _DocxWalker(styles, rels)
    if body is not None:
        walker.walk(body)
    return walker.root


def flat_items(node: DocxNode) -> Iterator[DocxNode]:
    """Document-order stream of non-group nodes (the itxt item sequence)."""
    for child in node.children:
        if not child.is_group:
            yield child
        yield from flat_items(child)


def node_pieces(
    node: DocxNode, page: int = 1
) -> Iterator[tuple[str, str, int]]:
    """``flat_items`` as ``join_spans`` pieces: a table renders its grid,
    every other item contributes its text, all on ``page``."""
    for item in flat_items(node):
        if item.label == "table":
            yield render_table(item.grid or []), item.label, page
        else:
            yield item.text, item.label, page


def extract_docx(payload: bytes) -> tuple[str, list[tuple[int, int, str, int]]]:
    """docx bytes → (main text, spans) for the extraction surface."""
    return join_spans(node_pieces(parse_docx(payload)))
