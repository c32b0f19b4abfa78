"""HTML main-content extraction — a from-scratch port of the reference walk.

Reproduces the extraction semantics of the reference HTML backend
(/root/reference/docling/backend/html_backend.py), re-expressed as a pure
function suitable for Arrow-batched execution:

- ``<br>`` → ``"\\n"`` (html_backend.py:128-129)
- boilerplate rule: everything before the first h1-h6 is FURNITURE
  (html_backend.py:131-134); the first header flips the layer to BODY
  (html_backend.py:247)
- tag dispatch h1-h6 / p,address,summary / pre,code / ul,ol,li / table /
  figure / img / details (analyze_tag, html_backend.py:184-204)
- heading-level parent stack with h1 reset (html_backend.py:242-294)
- ordered-list ``start`` attribute and "N." marker synthesis
  (html_backend.py:331-419)
- colspan/rowspan grid table parse (parse_table_data, html_backend.py:421-535)
- floating text inside <div> captured as TEXT items (walk, html_backend.py:144-182)

On top of the reference rule, an Arc90-readability-style link-density filter
can be enabled (``boilerplate_mode="density"``) — the generalized boilerplate
layer the reference's before-first-heading rule is a degenerate case of.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from doc_parser_spark.datamodel import (
    LABEL_CAPTION,
    LABEL_CODE,
    LABEL_LIST_ITEM,
    LABEL_PICTURE,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TEXT,
    LABEL_TITLE,
    join_spans,
)
from doc_parser_spark.functions.htmldom import (
    Element,
    TextNode,
    find_body,
    parse_html,
    replace_br_with_newlines,
)

BODY = "body"
FURNITURE = "furniture"

# tags that generate node items (html_backend.py:33-52)
TAGS_FOR_NODE_ITEMS = frozenset(
    {
        "address", "details", "h1", "h2", "h3", "h4", "h5", "h6",
        "p", "pre", "code", "ul", "ol", "li", "summary", "table",
        "figure", "img",
    }
)

_HEADERS = ("h1", "h2", "h3", "h4", "h5", "h6")

# Arc90-ish boilerplate containers for density mode
_BOILERPLATE_CONTAINERS = frozenset({"nav", "header", "footer", "aside"})

# inline phrasing tags whose text joins a floating-text run at the FRAGMENT
# root (no reference analog: the reference never parses fragments, its sniffer
# only routes full documents — document.py:440-477; without this, fragment
# prose around/inside inline markup would be dropped silently)
_INLINE_TAGS = frozenset(
    {
        "a", "abbr", "b", "bdi", "bdo", "cite", "data", "dfn", "em", "i",
        "kbd", "mark", "q", "s", "samp", "small", "span", "strong", "sub",
        "sup", "time", "u", "var", "wbr", "del", "ins",
    }
)


@dataclass
class Item:
    """A flattened doc item (DoclingDocument node analog)."""

    label: str
    text: str
    layer: str
    level: int = 0  # heading level for section headers
    enumerated: bool = False
    marker: str = ""
    list_position: int = 0  # 1-based position among list items in its group
    list_depth: int = 0  # number of enclosing list groups (md indent)
    list_root: int = 0  # id of the outermost enclosing list group
    link_chars: int = 0  # chars of text under <a> descendants (density mode)
    in_boilerplate_container: bool = False
    table_grid: Optional[list[list[str]]] = None
    children: list = field(default_factory=list)
    # markdown-sourced items: (kind, serialized) inline segments — kind
    # "text" gets markdown-escaped at export, "code"/"link"/"fmt" stay
    # verbatim (marko inline-AST analog; None for html-sourced items)
    inline_parts: Optional[list[tuple[str, str]]] = None


class _Group:
    """list / section group node — only exists for parentage + marker math."""

    __slots__ = ("kind", "children", "ordered", "start")

    def __init__(self, kind: str, ordered: bool = False, start: Optional[int] = None):
        self.kind = kind
        self.children: list = []
        self.ordered = ordered
        self.start = start


def _element_text(el: Element) -> str:
    """bs4 ``element.text`` analog (all descendant strings concatenated)."""
    return el.text


def _link_chars(el: Element) -> int:
    return sum(len(a.text) for a in el.find_all("a"))


def _extract_text_recursively(el) -> list[str]:
    """Port of html_backend.py:213-225 — skips nested ul/ol content, appends
    a trailing space per tag level."""
    if isinstance(el, TextNode):
        return [str(el)]
    result: list[str] = []
    if el.name not in ("ul", "ol"):
        for child in el.children:
            result.extend(_extract_text_recursively(child))
    return ["".join(result) + " "]


def _get_text(el: Element) -> str:
    """Port of html_backend.py:206-210."""
    return "".join(_extract_text_recursively(el)) + " "


class _Walker:
    """Stateful walk matching HTMLDocumentBackend (html_backend.py:60-641)."""

    MAX_LEVELS = 10

    def __init__(
        self,
        in_container: bool = False,
        track_links: bool = False,
        fragment_text: bool = True,
    ):
        self.items: list[Item] = []
        self.level = 0
        self.parents: dict[int, Optional[object]] = {
            i: None for i in range(self.MAX_LEVELS)
        }
        self.content_layer = BODY
        self.container_depth = 1 if in_container else 0
        self.list_stack: list[int] = []  # ids of enclosing list groups
        # link-char bookkeeping is only needed for density-mode boilerplate
        self.track_links = track_links
        # fragment_text=False restores body-only semantics at the fragment
        # root (markdown HTML blocks: stray raw text there is a block-split
        # artifact, not content)
        self.fragment_text = fragment_text
        # set by extract_html_items when the payload had no <body>: the
        # whole document is a routed fragment, so EVERY container keeps its
        # floating/inline text (lossless mode) — full documents stay
        # reference-exact, including the div buffered-text drop
        self.fragment_mode = False

    def _links(self, el: Element) -> int:
        return _link_chars(el) if self.track_links else 0

    # -- item emission -------------------------------------------------------
    def _emit(self, item: Item, parent=None) -> Item:
        if parent is not None and isinstance(parent, (_Group, Item)):
            parent.children.append(item)
        item.in_boilerplate_container = self.container_depth > 0
        self.items.append(item)
        return item

    # -- walk (html_backend.py:144-182) ---------------------------------------
    def walk(self, tag: Element) -> None:
        # FRAGMENT mode (payload had no <body>): every container keeps its
        # floating text as TEXT items and absorbs inline-tag text into the
        # run — fragments have no reference groundtruth to stay
        # bug-compatible with, and dropping their prose would be data loss.
        # List internals are excluded: handle_list_item already captured the
        # li's descendant text, so collecting here would duplicate it.
        # FULL-DOCUMENT mode is reference-exact: only a <div> parent ever
        # emits floating text (html_backend.py:168), with the reference's
        # own sibling-scan flush (buffered text with no following TextNode
        # drops, bug-compatibly).
        frag = self.fragment_mode and tag.name not in ("ul", "ol", "li")
        legacy_div = tag.name == "div" and not frag
        text = ""

        def flush() -> str:
            stripped = text.strip()
            if stripped:
                self._emit(
                    Item(LABEL_TEXT, stripped, self.content_layer),
                    self.parents[self.level],
                )
            return ""

        children = tag.children
        for idx, element in enumerate(children):
            if isinstance(element, Element):
                if frag and element.name in _INLINE_TAGS:
                    text += element.text
                    continue
                if frag:
                    text = flush()
                self.analyze_tag(element)
            elif isinstance(element, TextNode) and not element.preformatted:
                if not (frag or legacy_div):
                    continue
                text += str(element)
                if frag:
                    continue  # fragment flushes at block boundaries / at end
                rest = children[idx + 1 :]
                siblings = [it for it in rest if isinstance(it, Element)]
                has_next = idx + 1 < len(children)
                if (not has_next) or any(
                    s.name in TAGS_FOR_NODE_ITEMS for s in siblings
                ):
                    text = flush()
        if frag:
            flush()

    # -- analyze_tag (html_backend.py:184-204) --------------------------------
    def analyze_tag(self, tag: Element) -> None:
        name = tag.name
        if name in _HEADERS:
            self.handle_header(tag)
        elif name in ("p", "address", "summary"):
            self.handle_paragraph(tag)
        elif name in ("pre", "code"):
            self.handle_code(tag)
        elif name in ("ul", "ol"):
            self.handle_list(tag)
        elif name == "li":
            self.handle_list_item(tag)
        elif name == "table":
            self.handle_table(tag)
        elif name == "figure":
            self.handle_figure(tag)
        elif name == "img":
            self.handle_image(tag)
        elif name == "details":
            self.handle_details(tag)
        else:
            if name in _BOILERPLATE_CONTAINERS:
                self.container_depth += 1
                self.walk(tag)
                self.container_depth -= 1
            else:
                self.walk(tag)

    # -- handlers --------------------------------------------------------------
    def handle_header(self, el: Element) -> None:
        hlevel = int(el.name[1])
        text = _element_text(el).strip()
        self.content_layer = BODY  # html_backend.py:247

        if hlevel == 1:
            for key in self.parents:
                self.parents[key] = None
            self.level = 1
            self.parents[1] = self._emit(
                Item(LABEL_TITLE, text, self.content_layer, level=0)
            )
        else:
            if hlevel > self.level:
                for i in range(self.level + 1, hlevel):
                    self.parents[i] = _Group("section")
                self.level = hlevel
            elif hlevel < self.level:
                for key in self.parents:
                    if key > hlevel:
                        self.parents[key] = None
                self.level = hlevel
            self.parents[hlevel] = self._emit(
                Item(
                    LABEL_SECTION_HEADER,
                    text,
                    self.content_layer,
                    level=hlevel - 1,
                    link_chars=self._links(el),
                ),
                self.parents[hlevel - 1],
            )

    def handle_paragraph(self, el: Element) -> None:
        text = _element_text(el).strip()
        if text:
            self._emit(
                Item(
                    LABEL_TEXT,
                    text,
                    self.content_layer,
                    link_chars=self._links(el),
                ),
                self.parents[self.level],
            )

    def handle_code(self, el: Element) -> None:
        text = _element_text(el).strip()
        if text:
            self._emit(
                Item(LABEL_CODE, text, self.content_layer),
                self.parents[self.level],
            )

    def handle_list(self, el: Element) -> None:
        start: Optional[int] = None
        is_ordered = el.name == "ol"
        if is_ordered:
            start_attr = el.get("start")
            if isinstance(start_attr, str) and start_attr.isnumeric():
                start = int(start_attr)
        group = _Group("list", ordered=is_ordered, start=start)
        parent = self.parents[self.level]
        if parent is not None and isinstance(parent, (_Group, Item)):
            parent.children.append(group)
        self.parents[self.level + 1] = group
        self.level += 1
        self.list_stack.append(id(group))
        self.walk(el)
        self.list_stack.pop()
        self.parents[self.level + 1] = None
        self.level -= 1

    def handle_list_item(self, el: Element) -> None:
        nested_list = el.find(("ul", "ol"))
        parent = self.parents[self.level]
        if parent is None:
            return
        enumerated = isinstance(parent, _Group) and parent.ordered
        start = parent.start if isinstance(parent, _Group) else None
        if enumerated and start:
            marker = f"{start + len(parent.children)}."
        else:
            marker = ""
        position = (
            1 + sum(1 for c in parent.children if isinstance(c, Item))
            if isinstance(parent, _Group)
            else 1
        )

        if nested_list is not None:
            text = _get_text(el)
            text = text.replace("\n", "").replace("\r", "")
            text = " ".join(text.split()).strip()
            if text:
                item = self._emit(
                    Item(
                        LABEL_LIST_ITEM,
                        text,
                        self.content_layer,
                        enumerated=enumerated,
                        marker=marker,
                        list_position=position,
                        list_depth=len(self.list_stack),
                        list_root=self.list_stack[0] if self.list_stack else 0,
                        link_chars=self._links(el),
                    ),
                    parent,
                )
                self.parents[self.level + 1] = item
                self.level += 1
                self.walk(el)
                self.parents[self.level + 1] = None
                self.level -= 1
            else:
                self.walk(el)
        else:
            text = _element_text(el).strip()
            if text:
                self._emit(
                    Item(
                        LABEL_LIST_ITEM,
                        text,
                        self.content_layer,
                        enumerated=enumerated,
                        marker=marker,
                        list_position=position,
                        list_depth=len(self.list_stack),
                        list_root=self.list_stack[0] if self.list_stack else 0,
                        link_chars=self._links(el),
                    ),
                    parent,
                )

    def handle_table(self, el: Element) -> None:
        grid = parse_table_grid(el)
        if grid is not None:
            text = render_table(grid)
            self._emit(
                Item(LABEL_TABLE, text, self.content_layer, table_grid=grid),
                self.parents[self.level],
            )

    def handle_figure(self, el: Element) -> None:
        """Picture first, then its caption — matching the reference's export
        order (the caption item attaches to the picture in the doc tree, so
        indented-text/markdown exports render picture → caption)."""
        self._emit(
            Item(LABEL_PICTURE, "", self.content_layer), self.parents[self.level]
        )
        caption = el.find("figcaption")
        if caption is not None:
            texts = [
                child.text if isinstance(child, Element) else str(child)
                for child in caption.children
            ]
            cap_text = "".join(texts).strip()
            self._emit(Item(LABEL_CAPTION, cap_text, self.content_layer))

    def handle_image(self, el: Element) -> None:
        self._emit(
            Item(LABEL_PICTURE, "", self.content_layer), self.parents[self.level]
        )

    def handle_details(self, el: Element) -> None:
        group = _Group("section")
        self.parents[self.level + 1] = group
        self.level += 1
        self.walk(el)
        self.parents[self.level + 1] = None
        self.level -= 1


# ---------------------------------------------------------------------------
# table grid parse (html_backend.py:421-535)
# ---------------------------------------------------------------------------
def parse_table_grid(el: Element) -> Optional[list[list[Optional[str]]]]:
    """colspan/rowspan-aware grid parse; returns None for nested tables."""
    if el.find("table") is not None:
        return None

    def _rowspan(cell) -> tuple[bool, int]:
        """(present, value). A th with rowspan='1' is NOT a band header —
        the rule that generated the JATS groundtruths (a th only banding
        when its rowspan actually spans); th without rowspan keeps the
        fork's html_backend.py:443 semantics."""
        val = cell.get("rowspan")
        if val is None:
            return False, 1
        return True, int(val) if isinstance(val, str) and val.isnumeric() else 1

    rows = [r for r in el.find_all("tr")]
    num_rows = 0
    num_cols = 0
    for row in rows:
        col_count = 0
        is_row_header = True
        for cell in _row_cells(row):
            val = cell.get("colspan", "1")
            colspan = int(val) if isinstance(val, str) and val.isnumeric() else 1
            col_count += colspan
            present, rs = _rowspan(cell)
            if cell.name == "td" or not present or rs == 1:
                is_row_header = False
        num_cols = max(num_cols, col_count)
        if not is_row_header:
            num_rows += 1

    if num_rows == 0 or num_cols == 0:
        return None

    grid: list[list[Optional[str]]] = [
        [None for _ in range(num_cols)] for _ in range(num_rows)
    ]

    start_row_span = 0
    row_idx = -1
    for row in rows:
        cells = _row_cells(row)
        row_header = True
        for c in cells:
            present, rs = _rowspan(c)
            if c.name == "td" or not present or rs == 1:
                row_header = False
        if not row_header:
            row_idx += 1
            start_row_span = 0
        else:
            start_row_span += 1

        col_idx = 0
        for cell in cells:
            text = cell.text
            col_val = cell.get("colspan", "1")
            col_span = (
                int(col_val) if isinstance(col_val, str) and col_val.isnumeric() else 1
            )
            row_val = cell.get("rowspan", "1")
            row_span = (
                int(row_val) if isinstance(row_val, str) and row_val.isnumeric() else 1
            )
            if row_header:
                row_span -= 1
            while (
                col_idx < num_cols
                and 0 <= row_idx + start_row_span < num_rows
                and grid[row_idx + start_row_span][col_idx] is not None
            ):
                col_idx += 1
            for r in range(start_row_span, start_row_span + row_span):
                for c in range(col_span):
                    if 0 <= row_idx + r < num_rows and col_idx + c < num_cols:
                        grid[row_idx + r][col_idx + c] = text

    return grid


def _row_cells(row: Element) -> list[Element]:
    return [c for c in row.find_all(("td", "th"))]


def render_table(grid: list[list[Optional[str]]]) -> str:
    """Deterministic markdown-ish serialization of a table grid."""
    lines = []
    for r, row in enumerate(grid):
        cells = [(c or "").strip().replace("\n", " ") for c in row]
        lines.append("| " + " | ".join(cells) + " |")
        if r == 0 and len(grid) > 1:
            lines.append("|" + "|".join(["---"] * len(row)) + "|")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def extract_html_items(
    markup: str, boilerplate_mode: str = "reference", fragment_text: bool = True
) -> list[Item]:
    """Parse HTML and return the flat item list in document order.

    boilerplate_mode:
        "reference" — FURNITURE before the first h1-h6 (html_backend.py:131-134)
        "density"   — reference rule + Arc90-style link-density demotion:
                      TEXT/LIST_ITEM items whose link-char ratio > 0.5, and any
                      item inside nav/header/footer/aside, become FURNITURE.
    fragment_text:
        True (default) — when the payload has no <body>, floating/inline text
        at the fragment root becomes TEXT items (transcript fragments);
        False — body-only semantics everywhere (markdown HTML blocks).
    """
    root = parse_html(markup)
    content = find_body(root)
    replace_br_with_newlines(content)

    walker = _Walker(
        track_links=(boilerplate_mode == "density"),
        fragment_text=fragment_text,
    )
    walker.fragment_mode = fragment_text and content.name == "[document]"
    has_header = content.find(_HEADERS) is not None
    walker.content_layer = FURNITURE if has_header else BODY
    walker.walk(content)
    items = walker.items

    if boilerplate_mode == "density":
        # Arc90-readability-style block scoring: a content block is
        # boilerplate when it lives in a nav/header/footer/aside container,
        # when its text is mostly link text (link density > 0.5), or when it
        # is short AND link-heavy (< 25 words and link density > 0.33) — the
        # classic menu/related-links signature
        for item in items:
            if item.layer != BODY:
                continue
            if item.in_boilerplate_container:
                item.layer = FURNITURE
            elif item.label in (LABEL_TEXT, LABEL_LIST_ITEM) and item.text:
                density = item.link_chars / len(item.text)
                n_words = len(item.text.split())
                if density > 0.5 or (n_words < 25 and density > 0.33):
                    item.layer = FURNITURE
    return items


def render_item(item: Item) -> str:
    """Serialize one item to its main-text representation."""
    if item.label == LABEL_LIST_ITEM:
        if item.enumerated:
            marker = item.marker if item.marker else f"{item.list_position}."
            return f"{marker} {item.text}"
        return f"- {item.text}"
    return item.text


def serialize_items(items: list[Item]) -> tuple[str, list[tuple[int, int, str, int]]]:
    """BODY items → (extracted_text, spans) through ``join_spans``."""
    return join_spans(
        (render_item(item), item.label, 1) for item in items if item.layer == BODY
    )


def extract_html(
    markup: str, boilerplate_mode: str = "reference"
) -> tuple[str, list[tuple[int, int, str, int]]]:
    """End-to-end: HTML markup → (main text, spans)."""
    return serialize_items(extract_html_items(markup, boilerplate_mode))
