"""Markdown export of extraction items — docling export_to_markdown parity.

Format decoded from the reference's own groundtruth exports
(/root/reference/tests/data/groundtruth/docling_v2/*.html.md):

- title → "# ", section_header level L → "#"*(L+1) + " "
- list items: 4-space indent per nesting level; items of one top-level list
  (including its nested sublists) form one block; "-" for unordered,
  "N." markers for ordered (start attribute honored)
- tables: tabulate-github style — column width = max(content_max,
  header_len + 2); numeric columns (all body cells parse as numbers)
  right-aligned, text columns left-aligned; "|---|" separator padded to
  width + 2
- pictures → "<!-- image -->", with the caption text printed BEFORE the
  marker (markdown order; the item stream keeps picture-then-caption)
- code → fenced block
- blocks joined by blank lines; FURNITURE items excluded
"""

from __future__ import annotations

from doc_parser_spark.functions.html_extract import Item


def _is_number(s: str) -> bool:
    # tabulate's _isnumber: plain float() — "7,015" is NOT a number (the
    # JATS pone table left-aligns such columns in the reference groundtruth)
    try:
        float(s)
        return True
    except ValueError:
        return False


def render_md_table(grid: list[list[str | None]]) -> str:
    # cells keep spaces (a trailing space widens the column — verified on
    # wiki_duck's authority-control table) but boundary newlines drop and
    # inner newlines flatten to spaces
    rows = [
        [(c or "").strip("\n").replace("\n", " ") for c in row]
        for row in grid
    ]
    if not rows:
        return ""
    ncols = max(len(r) for r in rows)
    rows = [r + [""] * (ncols - len(r)) for r in rows]
    header, body = rows[0], rows[1:]

    numeric = [
        bool(body) and all(_is_number(r[c]) and r[c] != "" for r in body)
        for c in range(ncols)
    ]
    widths = [
        max(
            max((len(r[c]) for r in rows), default=0),
            len(header[c]) + 2,
        )
        for c in range(ncols)
    ]

    def fmt_row(r: list[str]) -> str:
        cells = [
            r[c].rjust(widths[c]) if numeric[c] else r[c].ljust(widths[c])
            for c in range(ncols)
        ]
        return "| " + " | ".join(cells) + " |"

    sep = "|" + "|".join("-" * (w + 2) for w in widths) + "|"
    return "\n".join([fmt_row(header), sep] + [fmt_row(r) for r in body])


def _esc(text: str) -> str:
    """docling's md serializer escapes ampersands and markdown-significant
    underscores in text-bearing items (but not in table cells — verified
    against example_04/wiki_duck groundtruth)."""
    return text.replace("&", "&amp;").replace("_", "\\_")


def _md_text(it: Item) -> str:
    """Item text for md output. Markdown-sourced items carry inline segments
    (marko-AST analog): raw-text segments get escaped, code spans / links /
    formatted spans stay verbatim — matching the inline_and_formatting
    groundtruth where `not_to_escape` and link URLs keep their underscores."""
    if it.inline_parts is None:
        return _esc(it.text)
    return " ".join(
        _esc(s) if kind == "text" else s for kind, s in it.inline_parts
    )


def export_markdown(items: list[Item]) -> str:
    body_items = [it for it in items if it.layer == "body"]
    blocks: list[str] = []
    i = 0
    n = len(body_items)
    while i < n:
        it = body_items[i]
        if it.label == "list_item":
            run: list[str] = []
            root = it.list_root
            while (
                i < n
                and body_items[i].label == "list_item"
                and body_items[i].list_root == root
            ):
                li = body_items[i]
                indent = "    " * max(li.list_depth - 1, 0)
                if li.enumerated:
                    marker = li.marker if li.marker else f"{li.list_position}."
                else:
                    marker = "-"
                run.append(f"{indent}{marker} {_md_text(li)}")
                i += 1
            blocks.append("\n".join(run))
            continue
        if it.label == "picture":
            if i + 1 < n and body_items[i + 1].label == "caption":
                if body_items[i + 1].text:
                    blocks.append(_esc(body_items[i + 1].text))
                i += 1
            blocks.append("<!-- image -->")
        elif it.label == "title":
            blocks.append("# " + _md_text(it))
        elif it.label == "section_header":
            blocks.append("#" * (it.level + 1) + " " + _md_text(it))
        elif it.label == "code":
            blocks.append(f"```\n{it.text}\n```")
        elif it.label == "table":
            if it.table_grid:
                blocks.append(render_md_table(it.table_grid))
        elif it.text:
            blocks.append(_md_text(it))
        i += 1
    return "\n\n".join(blocks)


def extract_html_markdown(markup: str) -> str:
    from doc_parser_spark.functions.html_extract import extract_html_items

    return export_markdown(extract_html_items(markup))
