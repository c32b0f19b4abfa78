"""AsciiDoc extraction (B11) — port of the reference's line classifier.

Faithful to /root/reference/docling/backend/asciidoc_backend.py:81-443:

- ``= Title`` → title; ``==+ `` → section_header (level = '='-count − 1)
- list items ``*`` / ``-`` / ``N.``; nesting by indent width (a deeper indent
  opens a nested group, a shallower one pops); list ends at the first
  non-list line
- tables: ``|===`` fences and/or ``|cell|cell|`` rows; cells split on ``|``
  with empties dropped; ragged rows padded; row 0 = header
- pictures: ``image::path[alt, width=.., height=..]``; a preceding
  ``.Caption`` line (plus continuation lines) becomes the caption item
- plain text accumulates and flushes on blank lines, joined with spaces →
  paragraph items

NOTE: the reference's three asciidoc groundtruth files are mutually
inconsistent (see docs/PARITY.md), so this port is unit-tested against the
backend source semantics rather than those goldens.
"""

from __future__ import annotations

import re

from doc_parser_spark.datamodel import (
    LABEL_CAPTION,
    LABEL_LIST_ITEM,
    LABEL_PARAGRAPH,
    LABEL_PICTURE,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TITLE,
)
from doc_parser_spark.functions.html_extract import (
    BODY,
    Item,
    render_table,
    serialize_items,
)

_TITLE_RE = re.compile(r"^= ")
_SECTION_RE = re.compile(r"^==+\s+")
_SECTION_PARSE_RE = re.compile(r"^(=+)\s+(.*)")
_LIST_DETECT_RE = re.compile(r"^(\s)*(\*|-|\d+\.|\w+\.) ")
_LIST_PARSE_RE = re.compile(r"^(\s*)(\*|-|\d+\.)\s+(.*)")
_TABLE_LINE_RE = re.compile(r"^\|.*\|")
_PICTURE_RE = re.compile(r"^image::")
_CAPTION_RE = re.compile(r"^\.(.+)")


def extract_asciidoc_items(text: str) -> list[Item]:  # noqa: C901
    items: list[Item] = []
    in_list = False
    in_table = False
    text_data: list[str] = []
    table_data: list[list[str]] = []
    caption_data: list[str] = []
    indent_stack: list[int] = []
    list_root = 0
    next_root = 1

    def flush_text():
        nonlocal text_data
        if text_data:
            items.append(Item(LABEL_PARAGRAPH, " ".join(text_data), BODY))
            text_data = []

    def flush_table():
        nonlocal table_data, caption_data, in_table
        if caption_data:
            items.append(Item(LABEL_CAPTION, " ".join(caption_data), BODY))
            caption_data = []
        if table_data:
            width = max(len(r) for r in table_data)
            grid = [r + [""] * (width - len(r)) for r in table_data]
            items.append(
                Item(LABEL_TABLE, render_table(grid), BODY, table_grid=grid)
            )
        table_data = []
        in_table = False

    for line in text.split("\n"):
        if _TITLE_RE.match(line):
            flush_text()
            items.append(Item(LABEL_TITLE, line[2:].strip(), BODY))

        elif _SECTION_RE.match(line):
            flush_text()
            m = _SECTION_PARSE_RE.match(line)
            level = m.group(1).count("=") - 1
            items.append(
                Item(LABEL_SECTION_HEADER, m.group(2).strip(), BODY, level=level)
            )

        elif _LIST_DETECT_RE.match(line):
            flush_text()
            m = _LIST_PARSE_RE.match(line)
            if m:
                indent = len(m.group(1))
                marker = m.group(2)
                body = m.group(3).strip()
                numbered = marker not in ("*", "-")
            else:
                indent, marker, body, numbered = 0, "-", line, False
            if not in_list:
                in_list = True
                indent_stack = [indent]
                list_root = next_root
                next_root += 1
            elif indent > indent_stack[-1]:
                indent_stack.append(indent)
            else:
                while len(indent_stack) > 1 and indent < indent_stack[-1]:
                    indent_stack.pop()
            items.append(
                Item(
                    LABEL_LIST_ITEM,
                    body,
                    BODY,
                    enumerated=numbered,
                    marker=marker if numbered else "",
                    list_position=1,
                    list_depth=len(indent_stack),
                    list_root=list_root,
                )
            )

        elif in_list:
            in_list = False
            indent_stack = []
            if line.strip() == "|===" and not in_table:
                in_table = True
            elif line.strip():
                text_data.append(line.strip())

        elif line.strip() == "|===" and not in_table:
            flush_text()
            in_table = True

        elif _TABLE_LINE_RE.match(line):
            in_table = True
            table_data.append(
                [c.strip() for c in line.split("|") if c.strip()]
            )

        elif in_table and (
            not _TABLE_LINE_RE.match(line) or line.strip() == "|==="
        ):
            flush_table()

        elif _PICTURE_RE.match(line):
            flush_text()
            if caption_data:
                items.append(Item(LABEL_CAPTION, " ".join(caption_data), BODY))
                caption_data = []
            items.append(Item(LABEL_PICTURE, "", BODY))

        elif _CAPTION_RE.match(line) and not caption_data:
            flush_text()
            caption_data.append(_CAPTION_RE.match(line).group(1))

        elif line.strip() and caption_data:
            caption_data.append(line.strip())

        elif not line.strip():
            flush_text()

        else:
            text_data.append(line.strip())

    flush_text()
    if in_table and table_data:
        flush_table()
    return items


def extract_asciidoc(text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    return serialize_items(extract_asciidoc_items(text))
