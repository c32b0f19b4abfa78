"""Deterministic minimal REAL-PDF builder for tests and contract queries.

Like sources/synth_office.py for OOXML: real ``%PDF-1.4`` bytes cannot be
synthesized in SQL, so the b4 contract query builds them INSIDE the Arrow
batch from the documents table's columns and oracles the expected extraction
by construction. The builder emits a classic-xref, Flate-compressed,
two-page document exercising the decoder's object parser, xref table,
FlateDecode, Tf/Td/Tj text operators and the furniture-band stripping of the
shared cell pipeline (header at the top 5% band and footer at the bottom 5%
band must NOT appear in the extraction).
"""

from __future__ import annotations

import zlib

PAGE_W, PAGE_H = 612, 792


def _content_stream(lines: list[tuple[float, float, str]]) -> bytes:
    """lines = [(x, y_baseline_pdf, text)] → Flate-compressed stream."""
    ops = ["BT", "/F1 12 Tf"]
    for x, y, text in lines:
        safe = text.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")
        ops.append(f"1 0 0 1 {x:g} {y:g} Tm ({safe}) Tj")
    ops.append("ET")
    return zlib.compress("\n".join(ops).encode("latin-1"), 6)


def build_pdf(pages: list[list[tuple[float, float, str]]]) -> bytes:
    """pages = per-page [(x, y_baseline_pdf_bottom_up, text)] → PDF bytes."""
    n_pages = len(pages)
    objects: list[bytes] = []
    # 1 Catalog, 2 Pages, then per page: Page obj + Content obj; last: Font
    font_num = 3 + 2 * n_pages
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(
        b"<< /Type /Catalog /Pages 2 0 R >>"
    )
    objects.append(
        f"<< /Type /Pages /Count {n_pages} /Kids [{kids}] >>".encode()
    )
    for i, lines in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} {PAGE_H}] "
                f"/Contents {content_num} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode()
        )
        stream = _content_stream(lines)
        objects.append(
            f"<< /Length {len(stream)} /Filter /FlateDecode >>\nstream\n".encode()
            + stream
            + b"\nendstream"
        )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


def build_report_pdf(doc_id: int) -> bytes:
    """The b4 contract document: two pages with header/footer furniture.

    Expected extraction (furniture in the top/bottom 5% bands stripped;
    lines 15pt apart join into one paragraph, 40pt+ gaps break):

        Report {doc_id}
        <blank>
        alpha bravo {doc_id} charlie delta
        <blank>
        sample body for document {doc_id} with score {doc_id % 89}
        <blank>
        Appendix {doc_id}
        <blank>
        annex line {doc_id}
    """
    page1 = [
        (72, 775, f"CONFIDENTIAL {doc_id}"),  # header band (top 5%): stripped
        (72, 700, f"Report {doc_id}"),
        (72, 640, f"alpha bravo {doc_id}"),
        (72, 625, "charlie delta"),  # 15pt gap → same paragraph
        (72, 560, f"sample body for document {doc_id} with score {doc_id % 89}"),
        (72, 12, "Page 1"),  # footer band (bottom 5%): stripped
    ]
    page2 = [
        (72, 700, f"Appendix {doc_id}"),
        (72, 640, f"annex line {doc_id}"),
        (72, 12, "Page 2"),
    ]
    return build_pdf([page1, page2])
