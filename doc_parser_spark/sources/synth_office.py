"""Deterministic minimal OOXML builders for tests and contract queries.

Real .docx/.xlsx/.pptx cannot be synthesized in SQL, so the driver-contract
queries build them INSIDE the Arrow batch from the documents table's columns
and oracle the expected extraction by construction. Zip entries use a fixed
timestamp so payload bytes are bit-stable across runs.
"""

from __future__ import annotations

import zipfile
from io import BytesIO

_FIXED_DATE = (2026, 1, 1, 0, 0, 0)


def _zip(entries: dict[str, str]) -> bytes:
    buf = BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, content in entries.items():
            zi = zipfile.ZipInfo(name, date_time=_FIXED_DATE)
            zf.writestr(zi, content)
    return buf.getvalue()


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def build_docx(title: str, paragraphs: list[str], bullets: list[str]) -> bytes:
    """Title + body paragraphs + a bullet list."""
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    body = [f'<w:p><w:pPr><w:pStyle w:val="Title"/></w:pPr>'
            f"<w:r><w:t>{_xml_escape(title)}</w:t></w:r></w:p>"]
    for p in paragraphs:
        body.append(f"<w:p><w:r><w:t>{_xml_escape(p)}</w:t></w:r></w:p>")
    for b in bullets:
        body.append(
            '<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/><w:numId w:val="1"/>'
            f"</w:numPr></w:pPr><w:r><w:t>{_xml_escape(b)}</w:t></w:r></w:p>"
        )
    doc = (
        f'<?xml version="1.0"?><w:document xmlns:w="{w}">'
        f'<w:body>{"".join(body)}</w:body></w:document>'
    )
    return _zip({"word/document.xml": doc})


def build_xlsx(sheet_name: str, rows: list[list[str]]) -> bytes:
    """One sheet of inline-string cells starting at A1."""
    ss = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rdoc = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    cells = []
    for ri, row in enumerate(rows, 1):
        cs = []
        for ci, val in enumerate(row):
            ref = f"{chr(65 + ci)}{ri}"
            cs.append(
                f'<c r="{ref}" t="inlineStr"><is><t>{_xml_escape(val)}</t>'
                "</is></c>"
            )
        cells.append(f'<row r="{ri}">{"".join(cs)}</row>')
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{ss}">'
        f'<sheetData>{"".join(cells)}</sheetData></worksheet>'
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ss}" xmlns:r="{rdoc}">'
        f'<sheets><sheet name="{_xml_escape(sheet_name)}" sheetId="1" '
        'r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="x" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    return _zip(
        {
            "xl/workbook.xml": wb,
            "xl/_rels/workbook.xml.rels": rels,
            "xl/worksheets/sheet1.xml": sheet,
        }
    )


def build_pptx(title: str, bullets: list[str]) -> bytes:
    """One slide: a title placeholder + a bulleted text shape."""
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    rdoc = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    items = "".join(
        f'<a:p><a:pPr><a:buChar char="•"/></a:pPr>'
        f"<a:r><a:t>{_xml_escape(b)}</a:t></a:r></a:p>"
        for b in bullets
    )
    slide = (
        f'<?xml version="1.0"?><p:sld xmlns:p="{p}" xmlns:a="{a}">'
        "<p:cSld><p:spTree>"
        "<p:sp><p:nvSpPr><p:nvPr><p:ph type=\"title\"/></p:nvPr></p:nvSpPr>"
        f"<p:txBody><a:p><a:r><a:t>{_xml_escape(title)}</a:t></a:r></a:p>"
        "</p:txBody></p:sp>"
        f"<p:sp><p:nvSpPr/><p:txBody>{items}</p:txBody></p:sp>"
        "</p:spTree></p:cSld></p:sld>"
    )
    pres = (
        f'<?xml version="1.0"?><p:presentation xmlns:p="{p}" xmlns:r="{rdoc}">'
        '<p:sldIdLst><p:sldId id="256" r:id="rId1"/></p:sldIdLst>'
        "</p:presentation>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="x" Target="slides/slide1.xml"/>'
        "</Relationships>"
    )
    return _zip(
        {
            "ppt/presentation.xml": pres,
            "ppt/_rels/presentation.xml.rels": rels,
            "ppt/slides/slide1.xml": slide,
        }
    )


def build_hwpx(doc_id: int, body: str) -> bytes:
    """Minimal OWPML (HWPX) document: a numbered section header, a body
    paragraph, a □ list item, and a 2×2 table — one exercise of each
    hwpx_extract path that the DuckDB oracle can reproduce by construction."""
    hp = "http://www.hancom.co.kr/hwpml/2011/paragraph"

    def p(inner: str) -> str:
        return f"<hp:p>{inner}</hp:p>"

    def run_t(text: str) -> str:
        return f"<hp:run><hp:t>{_xml_escape(text)}</hp:t></hp:run>"

    def tc(r: int, c: int, text: str) -> str:
        return (
            f"<hp:tc><hp:subList><hp:p><hp:run><hp:t>{_xml_escape(text)}"
            f"</hp:t></hp:run></hp:p></hp:subList>"
            f'<hp:cellAddr rowAddr="{r}" colAddr="{c}"/>'
            f'<hp:cellSpan rowSpan="1" colSpan="1"/></hp:tc>'
        )

    table = (
        '<hp:run><hp:tbl rowCnt="2" colCnt="2"><hp:tr>'
        + tc(0, 0, "name")
        + tc(0, 1, "score")
        + "</hp:tr><hp:tr>"
        + tc(1, 0, f"doc{doc_id}")
        + tc(1, 1, str(doc_id % 97))
        + "</hp:tr></hp:tbl></hp:run>"
    )
    section = (
        f'<?xml version="1.0" encoding="UTF-8"?>'
        f'<hs:sec xmlns:hs="http://www.hancom.co.kr/hwpml/2011/section" '
        f'xmlns:hp="{hp}">'
        + p(run_t(f"1. Report {doc_id}"))
        + p(run_t(f"body: {body}"))
        + p(run_t(f"□ alpha {doc_id}"))
        + p(table)
        + "</hs:sec>"
    )
    return _zip(
        {
            "mimetype": "application/hwp+zip",
            "Contents/section0.xml": section,
        }
    )


# (doc_id, text) → payload of the b9/b8/b10/b14 contract queries. They live
# here, not beside the queries, because a worker unpickles them by reference:
# importing this module costs it a handful of modules, the query module ~400.
def build_docx_payload(doc_id: int, text: str) -> bytes:
    return build_docx(f"Doc {doc_id}", [text], [f"alpha {doc_id}", "bravo"])


def build_xlsx_payload(doc_id: int, text: str) -> bytes:
    return build_xlsx(
        "Data", [["name", "score"], [f"doc{doc_id}", str(doc_id % 97)]]
    )


def build_pptx_payload(doc_id: int, text: str) -> bytes:
    return build_pptx(f"Deck {doc_id}", [f"alpha {doc_id}", "bravo"])


def build_hwpx_payload(doc_id: int, text: str) -> bytes:
    return build_hwpx(doc_id, text or "")
