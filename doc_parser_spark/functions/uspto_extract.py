"""USPTO patent extraction (B13, ICE v4.x subset) — stdlib port of the
reference's PatentUsptoIce parser
(/root/reference/docling/backend/xml/uspto_backend.py:167-501) plus its
CALS/OASIS XmlTable (:1400-1695), on xml.etree instead of xml.sax + bs4.

Supported: ALL FOUR reference grammars — Patent Grant / Application Full
Text Data XML v4.x ICE (us-patent-grant / us-patent-application roots,
2005+, ``_IceHandler``), Application v1.x DTD
(patent-application-publication root, ``_AppV1Handler``), Grant v2.5 DTD
(PATDOC root, ``_GrantV2Handler``) and the pre-2001 APS key-coded text
format (``_parse_aps``). All five reference fixtures are byte-exact
(tests/test_reference_uspto.py).

Ported semantics:
- the SAX event stream is replayed from the ElementTree in document order,
  driving the exact handler state machine: a property stack of registered
  elements where only text-bearing tops accumulate characters (so <maths>
  and <table> content never leaks into paragraphs, :219-241)
- title at the current level; headings bump the level ladder via their
  ``level`` attribute (:361-372); ABSTRACT and CLAIMS synthesized headings
  at level 2 (:43-47)
- claim-text fragments join into one claim paragraph, whitespace-collapsed;
  a claim line may open before the previous closed (:355-360, :419-431)
- <sup>/<sub> content maps to unicode super/subscript characters
  (HtmlEntity tables, :1706-1755)
- tables: empty placeholders positioned during the walk, then every raw
  ``<table>...</table>`` block parsed with the OASIS model: per-tgroup
  colspec widths unify into a global offset grid, entries replicate across
  their namest..nameend range, empty rows drop (:180-210, :1400-1695)
"""

from __future__ import annotations

import re
from typing import Optional
from xml.etree import ElementTree as ET

from doc_parser_spark.datamodel import join_spans
from doc_parser_spark.functions.docx_extract import DocxNode, node_pieces

_SUPERSCRIPT = str.maketrans(
    {
        "1": "¹", "2": "²", "3": "³", "4": "⁴", "5": "⁵", "6": "⁶",
        "7": "⁷", "8": "⁸", "9": "⁹", "0": "⁰", "+": "⁺", "-": "⁻",
        "−": "⁻", "=": "⁼", "(": "⁽", ")": "⁾", "a": "ª", "o": "º",  # noqa: RUF001
        "i": "ⁱ", "n": "ⁿ",
    }
)
_SUBSCRIPT = str.maketrans(
    {
        "1": "₁", "2": "₂", "3": "₃", "4": "₄", "5": "₅", "6": "₆",
        "7": "₇", "8": "₈", "9": "₉", "0": "₀", "+": "₊", "-": "₋",
        "−": "₋", "=": "₌", "(": "₍", ")": "₎", "a": "ₐ", "e": "ₑ",  # noqa: RUF001
        "o": "ₒ", "x": "ₓ",
    }
)

_MATH_ITALIC = str.maketrans(
    {
        c: chr(cp)
        for c, cp in list(
            zip("ABCDEFGHIJKLMNOPQRSTUVW", range(119860, 119883))
        )
        + [("Y", 119884), ("Z", 119885)]
        + list(zip("abcdefg", range(119886, 119893)))
        + [("h", 119893)]
        + list(zip("ijklmnopqrstuvwxyz", range(119894, 119912)))
    }
)

# ISO 8879 greek entities → unicode (get_greek_from_iso8879 + html.unescape)
_GREEK = {
    "Agr": "Α", "Bgr": "Β", "Ggr": "Γ", "Dgr": "Δ", "Egr": "Ε",
    "Zgr": "Ζ", "EEgr": "Η", "THgr": "Θ", "Igr": "Ι", "Kgr": "Κ",
    "Lgr": "Λ", "Mgr": "Μ", "Ngr": "Ν", "Xgr": "Ξ", "Ogr": "Ο",
    "Pgr": "Π", "Rgr": "Ρ", "Sgr": "Σ", "Tgr": "Τ", "Ugr": "Υ",
    "PHgr": "Φ", "KHgr": "Χ", "PSgr": "Ψ", "OHgr": "Ω",
    "agr": "α", "bgr": "β", "ggr": "γ", "dgr": "δ", "egr": "ε",
    "zgr": "ζ", "eegr": "η", "thgr": "θ", "igr": "ι", "kgr": "κ",
    "lgr": "λ", "mgr": "μ", "ngr": "ν", "xgr": "ξ", "ogr": "ο",
    "pgr": "π", "rgr": "ρ", "sgr": "ς", "tgr": "τ", "ugr": "υ",
    "phgr": "φ", "khgr": "χ", "psgr": "ψ", "ohgr": "ω",
}

_ENTITY_RE = re.compile(r"&([a-zA-Z][a-zA-Z0-9]*);")
_XML_PREDEFINED = {"amp", "lt", "gt", "quot", "apos"}


def _resolve_entities(xml_text: str) -> str:
    """The legacy DTDs use ISO 8879/HTML entities undeclared to expat; the
    reference resolves them in SAX skippedEntity (greek map + html.unescape,
    dropping unrecognized ones, :283-316). Pre-resolving in the raw stream is
    equivalent: resolved characters flow through the same characters() path."""
    import html as _html

    def sub(m: re.Match) -> str:
        name = m.group(1)
        if name in _XML_PREDEFINED:
            return m.group(0)
        if name in _GREEK:
            return _GREEK[name]
        unescaped = _html.unescape(m.group(0))
        return unescaped if unescaped != m.group(0) else ""

    return _ENTITY_RE.sub(sub, xml_text)


# registered elements: value -> is_text (PatentUsptoIce.PatentHandler.Element)
_REGISTERED = {
    "abstract": True,
    "invention-title": True,
    "claims": False,
    "claim": False,
    "claim-text": True,
    "p": True,
    "heading": True,
    "description": False,
    "table": False,
    "description-of-drawings": True,
    "sup": True,
    "sub": True,
    "maths": False,
}

_DOC_ROOTS = ("us-patent-application", "us-patent-grant")
# matches every <table> element regardless of attributes or line position —
# a line-anchored '<table ' pattern would silently empty EVERY table in the
# document when one inline/attribute-less <table> made the counts diverge
_TABLE_BLOCK_RE = re.compile(r"(<table[ >].*?</table>)", re.DOTALL)
_WS_RE = re.compile(r"\s+")


class _IceHandler:
    """The reference's PatentHandler state machine over replayed events."""

    def __init__(self) -> None:
        self.root = DocxNode("unspecified", name="_root_")
        self.level = 1
        self.parents: dict[int, Optional[DocxNode]] = {1: None}
        self.property: list[str] = []
        self.claim = ""
        self.claims: list[str] = []
        self.abstract = ""
        self.paragraph = ""
        self.text = ""
        self.tables: list[DocxNode] = []

    def _add(self, node: DocxNode, parent: Optional[DocxNode]) -> DocxNode:
        (parent if parent is not None else self.root).children.append(node)
        return node

    # -- events ---------------------------------------------------------------
    def start(self, tag: str, attrs: dict) -> None:
        if tag in _DOC_ROOTS:
            self.text = ""
        if tag in _REGISTERED:
            if (
                tag == "claim-text"
                and self.property
                and self.property[-1] == tag
                and self.text.strip()
            ):
                self.claim += " " + self.text.strip()
                self.text = ""
            elif tag == "heading":
                level_attr = attrs.get("level", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.parents.keys())
                self.level = (
                    new_level + 1
                    if (new_level + 1) in self.parents
                    else max_level
                )
            self.property.append(tag)

    def chars(self, content: str) -> None:
        if not self.property:
            return
        top = self.property[-1]
        if not _REGISTERED[top]:
            return
        if top in ("sup", "sub"):
            if len(self.property) < 2:
                return
            parent = self.property[-2]
            if _REGISTERED.get(parent):
                table = _SUPERSCRIPT if top == "sup" else _SUBSCRIPT
                self.text += content.translate(table)
        else:
            self.text += content

    def end(self, tag: str) -> None:
        if tag in _REGISTERED and self.property:
            current = self.property.pop()
            self._add_property(current, self.text.strip())

    # -- state transitions (uspto_backend.py:375-472) ---------------------------
    def _add_property(self, name: str, text: str) -> None:
        if name == "invention-title":
            if text:
                self.parents[self.level + 1] = self._add(
                    DocxNode("title", text), self.parents[self.level]
                )
                self.level += 1
            self.text = ""
        elif name == "abstract":
            if self.abstract:
                level = 2 if 2 in self.parents else 1
                heading = self._add(
                    DocxNode("section_header", "ABSTRACT", level=level),
                    self.parents[level],
                )
                heading.children.append(DocxNode("paragraph", self.abstract))
        elif name == "claim-text":
            text = _WS_RE.sub(" ", text).strip()
            if text:
                self.claim += " " + text
            self.text = ""
        elif name == "claim" and self.claim:
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "claims" and self.claims:
            level = 2 if 2 in self.parents else 1
            heading = self._add(
                DocxNode("section_header", "CLAIMS", level=level),
                self.parents[level],
            )
            for text in self.claims:
                heading.children.append(DocxNode("paragraph", text))
        elif name == "p" and text:
            text = _WS_RE.sub(" ", text)
            if "abstract" in self.property:
                self.abstract = (
                    (self.abstract + " " + text) if self.abstract else text
                )
            else:
                self._add(
                    DocxNode("paragraph", text), self.parents.get(self.level)
                )
            self.text = ""
        elif name == "heading" and text:
            self.parents[self.level + 1] = self._add(
                DocxNode("section_header", text, level=self.level),
                self.parents.get(self.level),
            )
            self.level += 1
            self.text = ""
        elif name == "table":
            node = self._add(DocxNode("table", grid=[]), self.parents.get(self.level))
            self.tables.append(node)


def _replay(el: ET.Element, handler: _IceHandler) -> None:
    handler.start(el.tag, el.attrib)
    if el.text:
        handler.chars(el.text)
    for child in el:
        _replay(child, handler)
        if child.tail:
            handler.chars(child.tail)
    handler.end(el.tag)


class _AppV1Handler(_IceHandler):
    """PatentUsptoAppV1 (application v1.x, 2001-2004; uspto_backend.py:
    1098-1398) — the ICE state machine with v1 element names, heading
    attribute ``lvl``, and abstract accumulated from its inner paragraphs."""

    REGISTERED = {
        "brief-description-of-drawings": False,
        "subdoc-abstract": False,
        "title-of-invention": True,
        "subdoc-claims": False,
        "claim": False,
        "claim-text": True,
        "number": False,
        "paragraph": True,
        "heading": True,
        "superscript": True,
        "subscript": True,
        "table": False,
        "math-cwu": False,
    }
    SUPSUB = ("superscript", "subscript")
    SUP = "superscript"

    def start(self, tag: str, attrs: dict) -> None:
        if tag == "patent-application-publication":
            self.text = ""
        if tag in self.REGISTERED:
            if (
                tag == "claim-text"
                and self.property
                and self.property[-1] == tag
                and self.text.strip()
            ):
                self.claim += " " + self.text.strip("\n")
                self.text = ""
            elif tag == "heading":
                level_attr = attrs.get("lvl", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.parents.keys())
                self.level = (
                    new_level + 1
                    if (new_level + 1) in self.parents
                    else max_level
                )
            self.property.append(tag)

    def chars(self, content: str) -> None:
        if not self.property:
            return
        top = self.property[-1]
        if not self.REGISTERED[top]:
            return
        if top in self.SUPSUB:
            if len(self.property) < 2:
                return
            if self.REGISTERED.get(self.property[-2]):
                table = _SUPERSCRIPT if top == self.SUP else _SUBSCRIPT
                self.text += content.translate(table)
        else:
            self.text += content

    def end(self, tag: str) -> None:
        if tag in self.REGISTERED and self.property:
            current = self.property.pop()
            self._add_property(current, self.text)

    def _add_property(self, name: str, text: str) -> None:
        if name == "title-of-invention":
            title = text.strip()
            if title:
                self.parents[self.level + 1] = self._add(
                    DocxNode("title", title), self.parents[self.level]
                )
                self.level += 1
            self.text = ""
        elif name == "subdoc-abstract":
            abstract = self.abstract.strip()
            if abstract:
                level = 2 if 2 in self.parents else 1
                heading = self._add(
                    DocxNode("section_header", "ABSTRACT", level=level),
                    self.parents[level],
                )
                heading.children.append(DocxNode("paragraph", self.abstract))
                self.abstract = ""
            self.text = ""
        elif name == "claim-text":
            if text:
                self.claim += self.text.strip("\n")
            self.text = ""
        elif name == "claim":
            claim = self.claim.strip()
            if claim:
                self.claims.append(claim)
            self.claim = ""
        elif name == "subdoc-claims" and self.claims:
            level = 2 if 2 in self.parents else 1
            heading = self._add(
                DocxNode("section_header", "CLAIMS", level=level),
                self.parents[level],
            )
            for text in self.claims:
                heading.children.append(DocxNode("paragraph", text))
        elif name in ("paragraph", "heading"):
            if text and "subdoc-abstract" in self.property:
                self.abstract = (self.abstract + text) if self.abstract else text
            elif text.strip():
                text = _WS_RE.sub(" ", text).strip()
                if name == "heading":
                    self.parents[self.level + 1] = self._add(
                        DocxNode("section_header", text, level=self.level),
                        self.parents.get(self.level),
                    )
                    self.level += 1
                else:
                    self._add(
                        DocxNode("paragraph", text), self.parents.get(self.level)
                    )
            self.text = ""
        elif name == "table":
            node = self._add(
                DocxNode("table", grid=[]), self.parents.get(self.level)
            )
            self.tables.append(node)


class _GrantV2Handler(_IceHandler):
    """PatentUsptoGrantV2 (grants v2.5, 2002-2004; uspto_backend.py:503-846)
    — PDAT is the sole text carrier; the wrapper element at PDAT end selects
    the context (title/abstract/claim/paragraph/heading) and the SP/SB/ITALIC
    styles; the SDOCL claims statement never becomes a heading."""

    REGISTERED = {
        "PDAT": True,
        "SDOAB": False,
        "SDOCL": False,
        "B540": False,
        "CL": False,
        "CLM": False,
        "PARA": True,
        "H": True,
        "DRWDESC": False,
        "SP": False,
        "SB": False,
        "ITALIC": False,
        "CWU": False,
        "table": False,
    }

    def start(self, tag: str, attrs: dict) -> None:
        if tag == "PATDOC":
            self.text = ""
        if tag in self.REGISTERED:
            if tag == "H" and "SDOCL" not in self.property:
                level_attr = attrs.get("LVL", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.parents.keys())
                self.level = (
                    new_level + 1
                    if (new_level + 1) in self.parents
                    else max_level
                )
            self.property.append(tag)

    def chars(self, content: str) -> None:
        if self.property and self.REGISTERED[self.property[-1]]:
            if self.property[-1] == "PDAT":
                self.text += content
            else:
                self.text += content  # PARA/H direct text

    def end(self, tag: str) -> None:
        if tag in self.REGISTERED and self.property:
            current = self.property.pop()
            self._add_property(current, self.text)

    def _style(self, text: str, wrapper: str) -> str:
        if wrapper == "SP":
            return text.translate(_SUPERSCRIPT)
        if wrapper == "SB":
            return text.translate(_SUBSCRIPT)
        if wrapper == "ITALIC":
            return text.translate(_MATH_ITALIC)
        return text

    def _add_property(self, name: str, text: str) -> None:
        if name == "PDAT" and text:
            if not self.property:
                self.text = ""
                return
            text = self._style(text, self.property[-1])
            if "B540" in self.property and text.strip():
                self.parents[self.level + 1] = self._add(
                    DocxNode("title", text.strip()), self.parents[self.level]
                )
                self.level += 1
            elif "SDOAB" in self.property:
                self.abstract += text
            elif "CLM" in self.property:
                self.claim += text
            elif (
                "PARA" in self.property
                and "CLM" not in self.property
                and "SDOAB" not in self.property
            ):
                self.paragraph += text
            elif (
                "H" in self.property
                and "SDOCL" not in self.property
                and text.strip()
            ):
                self.parents[self.level + 1] = self._add(
                    DocxNode("section_header", text.strip(), level=self.level),
                    self.parents.get(self.level),
                )
                self.level += 1
            self.text = ""
        elif name == "CLM" and self.claim.strip():
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "CL" and self.claims:
            level = 2 if 2 in self.parents else 1
            heading = self._add(
                DocxNode("section_header", "CLAIMS", level=level),
                self.parents[level],
            )
            for text in self.claims:
                heading.children.append(DocxNode("paragraph", text))
        elif name == "SDOAB" and self.abstract.strip():
            level = 2 if 2 in self.parents else 1
            heading = self._add(
                DocxNode("section_header", "ABSTRACT", level=level),
                self.parents[level],
            )
            heading.children.append(DocxNode("paragraph", self.abstract.strip()))
        elif name == "PARA":
            paragraph = self.paragraph.strip()
            if paragraph and "CLM" not in self.property:
                self._add(
                    DocxNode("paragraph", paragraph), self.parents.get(self.level)
                )
            elif "CLM" in self.property:
                self.claim += " "
            self.paragraph = ""
        elif name == "table":
            node = self._add(
                DocxNode("table", grid=[]), self.parents.get(self.level)
            )
            self.tables.append(node)


def _parse_aps(content: str) -> DocxNode:
    """PatentUsptoGrantAps port (APS text grants, 1976-2001;
    uspto_backend.py:848-1060): two-space-split key/value lines under
    single-token section markers; PAC captions open headings, PAR/PA1-3
    paragraphs, claims accumulate onto NUM-opened placeholders."""
    root = DocxNode("unspecified", name="_root_")
    level = 1
    parents: dict[int, Optional[DocxNode]] = {1: None}

    def add(node: DocxNode, parent: Optional[DocxNode]) -> DocxNode:
        (parent if parent is not None else root).children.append(node)
        return node

    def last_text_item() -> Optional[DocxNode]:
        parent = parents.get(level)
        if parent is None:
            return None
        texts = [c for c in parent.children if c.label == "paragraph"]
        return texts[-1] if texts else None

    def store_section(section: str) -> None:
        nonlocal level
        if section == "ABST":
            heading_text = "ABSTRACT"
        elif section == "CLMS":
            heading_text = "CLAIMS"
        else:
            return
        level = 2 if 2 in parents else 1
        parents[level + 1] = add(
            DocxNode("section_header", heading_text, level=level),
            parents[level],
        )
        level += 1

    def store_content(section: str, field: str, value: str) -> None:
        nonlocal level
        if field == "TTL":
            parents[level + 1] = add(DocxNode("title", value), parents[level])
            level += 1
        elif field == "PAL" and section == "ABST":
            item = last_text_item()
            if item is not None:
                item.text += " " + value
            else:
                add(DocxNode("paragraph", value), parents[level])
        elif field == "NUM" and section == "CLMS":
            add(DocxNode("paragraph", ""), parents[level])
        elif field in ("PAR", "PA1", "PA2", "PA3") and section == "CLMS":
            item = last_text_item()
            if item is None:
                item = add(DocxNode("paragraph", ""), parents[level])
            item.text += f" {value.strip()}" if item.text else value.strip()
        elif field == "PAC" and section in ("BSUM", "DETD", "DRWD"):
            level = 2 if 2 in parents else 1
            parents[level + 1] = add(
                DocxNode("section_header", value, level=level), parents[level]
            )
            level += 1
        elif field in ("PAR", "PA1", "PA2", "PA3") and section in (
            "BSUM", "DETD", "DRWD",
        ):
            add(DocxNode("paragraph", value), parents[level])

    section = key = value = ""
    for line in content.splitlines():
        cols = re.split(r"\s{2,}", line, maxsplit=1)
        if key and value and (len(cols) == 1 or (len(cols) == 2 and cols[0])):
            store_content(section, key, value)
            key = value = ""
        if len(cols) == 1:
            section = cols[0]
            store_section(section)
        elif len(cols) == 2:
            if cols[0]:
                key, value = cols
            elif not re.match(r"^##STR\d+##$", cols[1]):
                value += " " + cols[1]
    if key and value:
        store_content(section, key, value)
    return root


# ---------------------------------------------------------------------------
# CALS/OASIS table parsing (XmlTable port)
# ---------------------------------------------------------------------------
def _parse_cals_table(table: ET.Element) -> Optional[list[list[str]]]:
    tgs = table.findall("tgroup")
    if not tgs:
        return None

    # unified offsets across tgroups
    colinfo = []
    for tg in tgs:
        widths, offsets = [], []
        offst = 0
        for cs in tg.findall("colspec"):
            cw = re.sub("pt|mm", "", cs.get("colwidth") or "0", flags=re.I)
            try:
                cw = int(cw)
            except ValueError:
                try:
                    cw = float(cw)
                except ValueError:
                    cw = 0
            widths.append(cw)
            offsets.append(offst)
            offst += cw
        offsets.append(offst)
        colinfo.append({"offset": offsets, "colwidth": widths})
    if not colinfo:
        return None

    min_offsets = sorted(
        set(o for col in colinfo for o in col["offset"])
        | {col["offset"][i] for col in colinfo
           for i, cw in enumerate(col["colwidth"]) if cw == 0}
    )
    ncols_max = 0
    for col in colinfo:
        col["cell_range"] = []
        col["cell_offst"] = [0]
        i, range_ = 1, 1
        for min_i in range(1, len(min_offsets)):
            if i >= len(col["offset"]):
                break
            if min_offsets[min_i] == col["offset"][i]:
                if len(col["offset"]) == i + 1 and len(min_offsets) > min_i + 1:
                    range_ += 1
                else:
                    col["cell_range"].append(range_)
                    col["cell_offst"].append(col["cell_offst"][-1] + range_)
                    range_ = 1
                    i += 1
            elif min_offsets[min_i] < col["offset"][i]:
                range_ += 1
            else:
                return None
        # num_cols = widest per-tgroup colspec count (_get_max_ncols), NOT
        # the unified offset count — the unified grid only drives replication
        ncols_max = max(ncols_max, len(col["colwidth"]))

    rows: list[list[str]] = []
    for itg, tg in enumerate(tgs):
        cell_offst = colinfo[itg]["cell_offst"]
        for row_sec in tg.iter():
            if row_sec.tag not in ("row", "tr"):
                continue
            entries = [e for e in row_sec if e.tag in ("entry", "td")]
            local = [""] * ncols_max
            is_empty = True
            wrong = False
            for ientry, entry in enumerate(entries):
                text = "".join(entry.itertext()).strip()
                namest = entry.get("namest")
                nameend = entry.get("nameend")
                start = (
                    int(namest)
                    if namest and namest.isnumeric()
                    else ientry + 1
                )
                if nameend and nameend.isnumeric():
                    end, shift = int(nameend), 0
                else:
                    end, shift = ientry + 2, 1
                if end > len(cell_offst):
                    wrong = True
                    break
                lo = cell_offst[start - 1]
                hi = cell_offst[end - 1] - shift
                if text:
                    is_empty = False
                for c in range(lo, hi + 1):
                    if c < ncols_max:
                        local[c] = text
            if wrong or is_empty:
                continue
            rows.append(local)
    return rows if rows else None


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def parse_uspto(xml_text: str | bytes) -> DocxNode:
    """USPTO patent XML → docling-shaped node tree.

    Formats: ICE v4 (us-patent-application/us-patent-grant), application
    v1.x (patent-application-publication), grant v2.5 (PATDOC). The pre-2001
    APS text format is not supported."""
    if isinstance(xml_text, bytes):
        xml_text = xml_text.decode("utf-8", errors="replace")
    head = xml_text[:2048]
    if xml_text.startswith("PATN"):
        return _parse_aps(xml_text)
    if any(f"<{r}" in head.lower() for r in _DOC_ROOTS):
        handler: _IceHandler = _IceHandler()
    elif "<patent-application-publication" in head:
        handler = _AppV1Handler()
    elif "<PATDOC" in head:
        handler = _GrantV2Handler()
    else:
        raise ValueError(
            "unsupported USPTO format (ICE v4 / app v1 / grant v2.5 / APS)"
        )
    original = xml_text
    if handler.__class__ is not _IceHandler:
        xml_text = _resolve_entities(xml_text)
    tree = ET.fromstring(xml_text)
    _replay(tree, handler)

    # fill table placeholders from the raw <table> blocks (reference parses
    # them outside the SAX stream, uspto_backend.py:188-209, with an XML
    # parser in recovery mode that DROPS undeclared entities — mirrored by
    # stripping them, unlike the text path which resolves them)
    raw_tables = [
        _ENTITY_RE.sub(
            lambda m: m.group(0) if m.group(1) in _XML_PREDEFINED else "", t
        )
        for t in _TABLE_BLOCK_RE.findall(original)
    ]
    # per-index fill up to the shorter list (NOT all-or-nothing: one
    # unmatched block must not empty every other table in the document)
    for node, raw in zip(handler.tables, raw_tables):
        try:
            grid = _parse_cals_table(ET.fromstring(raw))
        except ET.ParseError:
            grid = None
        node.grid = grid or []
    return handler.root


def extract_uspto(xml_text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    """USPTO ICE XML → (main text, spans)."""
    return join_spans(node_pieces(parse_uspto(xml_text)))
