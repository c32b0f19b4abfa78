"""Plain-text paragraph extraction — blank-line flush semantics.

Port of the reference PyMuPDF backend's paragraph segmentation
(/root/reference/docling/backend/pymupdf_backend.py:88-121): split into
lines, strip each, buffer non-empty lines, flush a paragraph (lines joined
with a single space) on every blank line and at EOF.
"""

from __future__ import annotations

from doc_parser_spark.datamodel import LABEL_PARAGRAPH, join_spans


def split_paragraphs(text: str) -> list[str]:
    """Exactly the reference flush loop (pymupdf_backend.py:88-121)."""
    paragraphs: list[str] = []
    buffer: list[str] = []
    for line in text.split("\n"):
        stripped = line.strip()
        if not stripped:
            if buffer:
                paragraphs.append(" ".join(buffer))
                buffer = []
        else:
            buffer.append(stripped)
    if buffer:
        paragraphs.append(" ".join(buffer))
    return paragraphs


def extract_plain(text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    """text → (extracted_text, spans). Paragraphs joined with blank lines,
    one span per paragraph, label ``paragraph``, page 1."""
    return join_spans((p, LABEL_PARAGRAPH, 1) for p in split_paragraphs(text))
