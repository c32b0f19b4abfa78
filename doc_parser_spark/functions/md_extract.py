"""Markdown main-content extraction (B6) — marko-backend-faithful.

Semantics verified against the reference's own md fixtures + groundtruth
(/root/reference/tests/data/md/*.md → groundtruth/docling_v2/*.md.md):

- ATX headings ``#..######`` → title (h1) / section_header; a bare ``#`` with
  no text produces nothing
- fenced AND 4-space/tab-indented code blocks → code items (language info
  strings dropped); empty code blocks produce nothing
- lists: nesting by leading tabs / 4-space units; a list continues across
  blank lines; a bullet-symbol change at the top level starts a new list;
  ordered items are enumerated with positional markers (source numbers are
  NOT preserved — marko renumbers); an item whose text is itself
  ``N. ...`` becomes a nested ordered item (marko parses it as a sublist);
  empty markers (``-`` / ``1.`` alone) produce nothing
- pipe tables (header + |---| separator) → table grid
- HTML blocks: items parse through the HTML walk; when any HTML block is
  present the md backend delegates the WHOLE document to the HTML backend
  (md_backend.py:577-608), so the HTML furniture-before-first-heading rule
  then applies document-wide
- no furniture rule otherwise (the md backend has no ContentLayer logic)
"""

from __future__ import annotations

import re

from doc_parser_spark.datamodel import (
    LABEL_CODE,
    LABEL_LIST_ITEM,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TEXT,
    LABEL_TITLE,
)
from doc_parser_spark.functions.html_extract import (
    BODY,
    FURNITURE,
    Item,
    extract_html_items,
    render_table,
    serialize_items,
)

# inline markup (marko inline-AST analog, md_backend.py inline handling):
# code spans, links, ***both***, **strong**, *em*. Each element becomes its
# own segment; segments join with ONE space — this reproduces marko's
# node-join artifact ('***both*** .', '( `code` )') byte-for-byte against
# the reference's inline_and_formatting groundtruth.
_INLINE_RE = re.compile(
    r"(?P<tick>`+)(?P<code>.+?)(?P=tick)"
    r"|\[(?P<label>[^\]]*)\]\((?P<url>[^)\s]*)\)"
    r"|\*\*\*(?P<both>[^*]+)\*\*\*"
    r"|\*\*(?P<strong>[^*]+)\*\*"
    r"|\*(?P<em>[^*\s][^*]*)\*"
)
# C-speed fast-path probe (the tuple-any genexpr was 16% of the md kernel)
_MARKER_SEARCH_RE = re.compile(r"[`*\[]")

_HEADING_RE = re.compile(r"^(#{1,6})(?:\s+(.*\S))?\s*$")
_LIST_RE = re.compile(r"^([\t ]*)([-*+]|\d+[.)])(?:\s+(.*\S))?\s*$")
_OLIST_TEXT_RE = re.compile(r"^(\d+)[.)]\s+(.*\S)\s*$")
_FENCE_RE = re.compile(r"^\s*```")
_TABLE_SEP_RE = re.compile(r"^\s*\|?[\s:|-]+\|[\s:|-]*$")
_HTML_BLOCK_RE = re.compile(r"^\s*<")
_INDENTED_RE = re.compile(r"^(?:\t| {4})(.*)$")


def _indent_level(ws: str) -> int:
    return ws.count("\t") + (len(ws) - ws.count("\t")) // 4


class _ListState:
    """Tracks nested list groups for depth/root/position bookkeeping."""

    def __init__(self) -> None:
        self.stack: list[dict] = []  # {level, ordered, bullet, pos, gid}
        self.root: int = 0
        self._next_gid = 1
        self.active = False

    def new_root(self) -> None:
        self.stack = []
        self.root = self._next_gid
        self._next_gid += 1
        self.active = True

    def close(self) -> None:
        self.stack = []
        self.active = False

    def enter(self, level: int, ordered: bool, bullet: str) -> tuple[int, int]:
        """→ (depth, position) for an item at this nesting level."""
        if not self.active:
            self.new_root()
        while self.stack and self.stack[-1]["level"] > level:
            self.stack.pop()
        top = self.stack[-1] if self.stack else None
        if top is not None and top["level"] == level:
            if top["ordered"] == ordered and top["bullet"] == bullet:
                top["pos"] += 1
            else:
                # symbol / kind change: new group (new root at top level)
                self.stack.pop()
                if level == 0 or not self.stack:
                    self.new_root()
                self.stack.append(
                    {"level": level, "ordered": ordered, "bullet": bullet,
                     "pos": 1, "gid": self._next_gid}
                )
                self._next_gid += 1
        else:
            self.stack.append(
                {"level": level, "ordered": ordered, "bullet": bullet,
                 "pos": 1, "gid": self._next_gid}
            )
            self._next_gid += 1
        return len(self.stack), self.stack[-1]["pos"]


def parse_inline(text: str) -> list[tuple[str, str]]:
    """Inline markup → (kind, serialized) segments. Raw-text segments are
    stripped and dropped when whitespace-only; markers are preserved in the
    serialized form. Fast path: markup-free text stays one untouched
    segment."""
    if _MARKER_SEARCH_RE.search(text) is None:
        return [("text", text)]
    parts: list[tuple[str, str]] = []
    pos = 0
    for m in _INLINE_RE.finditer(text):
        raw = text[pos : m.start()].strip()
        if raw:
            parts.append(("text", raw))
        if m.group("code") is not None:
            parts.append(("code", f"`{m.group('code')}`"))
        elif m.group("label") is not None:
            label = join_inline(parse_inline(m.group("label")))
            parts.append(("link", f"[{label}]({m.group('url')})"))
        elif m.group("both") is not None:
            inner = join_inline(parse_inline(m.group("both")))
            parts.append(("fmt", f"***{inner}***"))
        elif m.group("strong") is not None:
            inner = join_inline(parse_inline(m.group("strong")))
            parts.append(("fmt", f"**{inner}**"))
        else:
            inner = join_inline(parse_inline(m.group("em")))
            parts.append(("fmt", f"*{inner}*"))
        pos = m.end()
    tail = text[pos:].strip()
    if tail:
        parts.append(("text", tail))
    return parts


def join_inline(parts: list[tuple[str, str]]) -> str:
    return " ".join(p[1] for p in parts)


def plain_inline(text: str) -> str:
    """Marker-free plain text of inline content (table cells: the reference
    stores cell text without formatting, per the inline_and_formatting
    groundtruth table)."""
    if _MARKER_SEARCH_RE.search(text) is None:
        return text

    def plain(parts: list[tuple[str, str]]) -> str:
        out = []
        for kind, s in parts:
            if kind == "text":
                out.append(s)
            elif kind == "code":
                out.append(s.strip("`"))
            elif kind == "link":
                out.append(plain(parse_inline(s[1 : s.index("](")])))
            else:  # fmt
                out.append(plain(parse_inline(s.strip("*"))))
        return " ".join(x for x in out if x)

    return plain(parse_inline(text))


def _inline_item(label: str, text: str, **kw) -> Item:
    if _MARKER_SEARCH_RE.search(text) is None:
        # markup-free fast path: identical to parse_inline → join_inline
        # on a single untouched ("text", text) segment
        item = Item(label, text, BODY, **kw)
        item.inline_parts = [("text", text)]
        return item
    parts = parse_inline(text)
    item = Item(label, join_inline(parts), BODY, **kw)
    item.inline_parts = parts
    return item


def extract_md_items(text: str) -> list[Item]:
    lines = text.split("\n")
    items: list[Item] = []
    para: list[str] = []
    ls = _ListState()
    html_seen = False
    i = 0
    n = len(lines)

    def flush_para():
        nonlocal para
        if para:
            items.append(_inline_item(LABEL_TEXT, " ".join(para).strip()))
            para = []

    def emit_list_item(level: int, marker: str, body: str):
        nonlocal items
        ordered = marker[0].isdigit()
        bullet = "1" if ordered else marker
        # an item whose own text is "N. ..." is a nested ordered item
        if not ordered:
            m = _OLIST_TEXT_RE.match(body)
            if m:
                emit_list_item(level + 1, m.group(1) + ".", m.group(2))
                return
        depth, pos = ls.enter(level, ordered, bullet)
        items.append(
            _inline_item(
                LABEL_LIST_ITEM,
                body.strip(),
                enumerated=ordered,
                marker="",
                list_position=pos,
                list_depth=depth,
                list_root=ls.root,
            )
        )

    while i < n:
        line = lines[i]
        stripped = line.strip()

        if not stripped:
            flush_para()
            i += 1
            continue

        m = _LIST_RE.match(line)
        if m:
            flush_para()
            if m.group(3):  # empty markers produce nothing
                emit_list_item(_indent_level(m.group(1)), m.group(2), m.group(3))
            i += 1
            continue

        # any other content terminates the active list run
        ls.close()

        m = _HEADING_RE.match(line)
        if m:
            flush_para()
            if m.group(2):
                level = len(m.group(1))
                label = LABEL_TITLE if level == 1 else LABEL_SECTION_HEADER
                items.append(
                    _inline_item(label, m.group(2).strip(), level=level - 1)
                )
            i += 1
            continue

        if _FENCE_RE.match(stripped):
            flush_para()
            code_lines = []
            i += 1
            while i < n and not _FENCE_RE.match(lines[i].strip()):
                code_lines.append(lines[i])
                i += 1
            i += 1  # closing fence
            code = "\n".join(code_lines).strip()
            if code:
                items.append(Item(LABEL_CODE, code, BODY))
            continue

        im = _INDENTED_RE.match(line)
        if im and not para:
            # indented code block (outside paragraphs and lists)
            code_lines = []
            while i < n:
                cm = _INDENTED_RE.match(lines[i])
                if cm:
                    code_lines.append(cm.group(1))
                elif not lines[i].strip():
                    code_lines.append("")
                else:
                    break
                i += 1
            code = "\n".join(code_lines).strip()
            if code:
                items.append(Item(LABEL_CODE, code, BODY))
            continue

        if _HTML_BLOCK_RE.match(line):
            flush_para()
            html_seen = True
            block = [line]
            i += 1
            while i < n and lines[i].strip():
                block.append(lines[i])
                i += 1
            for item in extract_html_items("\n".join(block), fragment_text=False):
                item.layer = BODY
                items.append(item)
            continue

        # pipe table: current line has |, next line is a separator row
        if "|" in stripped and i + 1 < n and _TABLE_SEP_RE.match(lines[i + 1]):
            flush_para()
            grid = [_table_row(stripped)]
            i += 2
            while i < n and "|" in lines[i] and lines[i].strip():
                grid.append(_table_row(lines[i]))
                i += 1
            items.append(
                Item(LABEL_TABLE, render_table(grid), BODY, table_grid=grid)
            )
            continue

        para.append(stripped)
        i += 1

    flush_para()

    # whole-document HTML delegation (md_backend.py:577-608): the HTML
    # backend's furniture rule applies when any HTML block was present
    if html_seen and any(
        it.label in (LABEL_TITLE, LABEL_SECTION_HEADER) for it in items
    ):
        for it in items:
            if it.label in (LABEL_TITLE, LABEL_SECTION_HEADER):
                break
            it.layer = FURNITURE
    return items


def _table_row(line: str) -> list[str]:
    cells = line.strip().strip("|").split("|")
    return [plain_inline(c.strip()) for c in cells]


def extract_md(text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    return serialize_items(extract_md_items(text))
