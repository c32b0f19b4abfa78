"""Markdown export of docling-shaped node trees (docx/xlsx/pptx backends) —
the same serializer conventions proven byte-exact on the HTML path
(functions/export_md.py), plus formatting markers:

- title → "# ", heading level N → "#"*(N+1)
- *italic* / **bold** / ***both***; underline renders bare; hyperlinks as
  [text](target)
- inline groups join their children with single spaces
- lists nest by 4 spaces; bullets "-" (the reference's docx path never
  enumerates — msword_backend.py:717)
- tables via the tabulate-style renderer; pictures → "<!-- image -->"
- raw text escapes & and _ (link targets untouched)
"""

from __future__ import annotations

from doc_parser_spark.functions.docx_extract import DocxNode
from doc_parser_spark.functions.export_md import render_md_table


def _esc(text: str) -> str:
    # the tree serializer html-escapes angle brackets too (JATS groundtruths
    # show &lt;/&gt; in body text AND table cells); $$...$$ formula spans
    # stay verbatim (pnas: '$$ {\\mathrm{_{{F}}^{{2}}}} $$' keeps its raw
    # underscores while 'RRID:AB_262044' in elife cells is escaped)
    def esc(t: str) -> str:
        return (
            t.replace("&", "&amp;")
            .replace("<", "&lt;")
            .replace(">", "&gt;")
            .replace("_", "\\_")
        )

    if "$$" not in text:
        return esc(text)
    # even split-indexes are outside formula spans, odd ones inside
    return "$$".join(
        p if i % 2 else esc(p) for i, p in enumerate(text.split("$$"))
    )


def _fmt(n: DocxNode) -> str:
    if n.label == "formula":
        return f"${n.text}$"  # inline math, verbatim
    t = _esc(n.text)
    if n.bold and n.italic:
        t = f"***{t}***"
    elif n.bold:
        t = f"**{t}**"
    elif n.italic:
        t = f"*{t}*"
    if n.hyperlink:
        t = f"[{t}]({n.hyperlink})"
    return t


def _inline_text(group: DocxNode) -> str:
    return " ".join(_fmt(c) for c in group.children if c.text)


def _render_list(group: DocxNode, depth: int, lines: list[str]) -> None:
    for child in group.children:
        if child.label == "list":
            _render_list(child, depth + 1, lines)
        elif child.label == "list_item":
            inline = next(
                (c for c in child.children if c.label == "inline"), None
            )
            text = _inline_text(inline) if inline is not None else _fmt(child)
            # enumerated items carry their "N." marker in .name (pptx path)
            marker = child.name or "-"
            lines.append("    " * depth + marker + " " + text)


def export_tree_markdown(root: DocxNode) -> str:
    blocks: list[str] = []

    def walk(node: DocxNode) -> None:
        for child in node.children:
            label = child.label
            if label == "list":
                lines: list[str] = []
                _render_list(child, 0, lines)
                if lines:
                    blocks.append("\n".join(lines))
            elif label == "inline":
                text = _inline_text(child)
                if text:
                    blocks.append(text)
            elif label in ("section", "unspecified"):
                walk(child)
            elif label == "title":
                blocks.append("# " + _esc(child.text))
                walk(child)
            elif label == "section_header":
                level = child.level if child.level is not None else 1
                blocks.append("#" * (level + 1) + " " + _esc(child.text))
                walk(child)
            elif label == "table":
                # a caption child prints BEFORE the table (the reference's
                # serializer convention, same as captions before images)
                caption = next(
                    (c for c in child.children if c.label == "caption"), None
                )
                if caption is not None and caption.text:
                    blocks.append(_esc(caption.text))
                if child.grid:
                    # cell whitespace rules the groundtruths encode:
                    # LEADING whitespace drops entirely, TRAILING newlines
                    # drop but trailing literal spaces survive into the
                    # column width (pnas 'Males/females ' pads one wider),
                    # and interior newlines become spaces PER CHARACTER
                    # ('\n\n' → double space, pnas 'μ F  F'); widths are
                    # computed on that text; escaping happens on the
                    # rendered block (the groundtruth tables keep
                    # pre-escape widths around escaped &lt;/&gt; content)
                    grid = [
                        [
                            c.lstrip().rstrip("\n").replace("\n", " ")
                            for c in row
                        ]
                        for row in child.grid
                    ]
                    blocks.append(_esc(render_md_table(grid)))
                for c in child.children:
                    if c is not caption:
                        walk(c)
            elif label == "picture":
                caption = next(
                    (c for c in child.children if c.label == "caption"), None
                )
                if caption is not None and caption.text:
                    blocks.append(_esc(caption.text))
                blocks.append("<!-- image -->")
                for c in child.children:
                    if c is not caption:
                        walk(c)
            elif label == "formula":
                # tex-math body verbatim, whitespace preserved ($$ ... $$)
                blocks.append(f"$${child.text}$$")
                walk(child)
            else:  # paragraph / text / list_item at top level
                if child.text:
                    blocks.append(_fmt(child))
                walk(child)

    walk(root)
    return "\n\n".join(blocks)
