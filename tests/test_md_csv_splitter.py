"""Markdown (B6) and CSV (B7) kernels."""

from __future__ import annotations

from doc_parser_spark.datamodel import (
    LABEL_CODE,
    LABEL_LIST_ITEM,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TEXT,
)
from doc_parser_spark.functions.csv_extract import extract_csv, sniff_csv
from doc_parser_spark.functions.md_extract import extract_md, extract_md_items
from doc_parser_spark.sources.sniff import sniff_text


class TestMarkdown:
    def test_no_furniture_in_pure_markdown(self):
        # the md backend has no ContentLayer logic: pre-heading text stays
        md = "intro before\n\n# Title\n\nbody para"
        text, spans = extract_md(md)
        assert text == "intro before\n\nTitle\n\nbody para"

    def test_html_block_triggers_furniture_rule(self):
        # any HTML block delegates the doc to the HTML backend semantics
        md = "nav junk\n\n<!-- html -->\n\n# Title\n\nbody para"
        text, _ = extract_md(md)
        assert "nav junk" not in text
        assert text.startswith("Title")

    def test_no_heading_all_body(self):
        assert extract_md("just a para")[0] == "just a para"

    def test_lists(self):
        md = "# T\n\n- one\n- two\n\n1. first\n2. second"
        text, _ = extract_md(md)
        assert text == "T\n\n- one\n\n- two\n\n1. first\n\n2. second"

    def test_nested_lists_by_indent(self):
        md = "- outer\n    - inner\n- outer2"
        items = extract_md_items(md)
        assert [(i.text, i.list_depth) for i in items] == [
            ("outer", 1), ("inner", 2), ("outer2", 1),
        ]

    def test_ordered_renumbered_positionally(self):
        # marko renumbers: source numbers are not preserved
        md = "5. five\n6. six"
        items = extract_md_items(md)
        assert [(i.list_position, i.marker) for i in items] == [(1, ""), (2, "")]

    def test_indented_code_block(self):
        md = "Code:\n\n    print(1)\n    print(2)\n\nafter"
        items = extract_md_items(md)
        assert [i.label for i in items] == [LABEL_TEXT, LABEL_CODE, LABEL_TEXT]
        assert items[1].text == "print(1)\nprint(2)"

    def test_empty_markers_dropped(self):
        items = extract_md_items("#\n\n-\n\n1.")
        assert items == []

    def test_fenced_code(self):
        md = "# T\n\n```\ncode line\n```"
        items = extract_md_items(md)
        assert items[1].label == LABEL_CODE
        assert items[1].text == "code line"

    def test_table(self):
        md = "# T\n\n| a | b |\n|---|---|\n| 1 | 2 |"
        items = extract_md_items(md)
        assert items[1].label == LABEL_TABLE
        assert items[1].table_grid == [["a", "b"], ["1", "2"]]

    def test_html_block_reroute(self):
        md = "# T\n\n<ul><li>from html</li></ul>"
        items = extract_md_items(md)
        li = [i for i in items if i.label == LABEL_LIST_ITEM]
        assert [i.text for i in li] == ["from html"]

    def test_section_headers(self):
        md = "# T\n\n## Sub\n\npara"
        items = extract_md_items(md)
        assert items[1].label == LABEL_SECTION_HEADER
        assert items[1].level == 1

    def test_sniff_routes_md(self):
        assert sniff_text("# Title\n\nbody") == "markdown"
        assert sniff_text("```\ncode\n```") == "markdown"
        assert sniff_text("not # a heading") == "plain"


class TestCsv:
    def test_sniff(self):
        assert sniff_csv("a,b,c\n1,2,3\n")
        assert not sniff_csv("one single line")
        assert not sniff_csv("plain words\nmore words")
        assert sniff_text("col0,col1\nx,y") == "csv"

    def test_extract(self):
        text, spans = extract_csv("h1,h2\na,b\nc,d")
        assert text == "| h1 | h2 |\n|---|---|\n| a | b |\n| c | d |"
        assert spans == [(0, len(text), LABEL_TABLE, 1)]

    def test_ragged_padded(self):
        text, _ = extract_csv("h1,h2,h3\na,b")
        assert "| a | b |  |" in text

    def test_semicolon(self):
        text, _ = extract_csv("x;y\n1;2")
        assert "| x | y |" in text


class TestAsciidoc:
    def test_title_sections_text(self):
        from doc_parser_spark.functions.asciidoc_extract import (
            extract_asciidoc,
            extract_asciidoc_items,
        )

        adoc = "= Title\n\nabstract text.\n\n== Section 1\n\nbody one\nbody two\n\n== Section 2\nbody three"
        items = extract_asciidoc_items(adoc)
        assert [(i.label, i.text) for i in items] == [
            ("title", "Title"),
            ("paragraph", "abstract text."),
            ("section_header", "Section 1"),
            ("paragraph", "body one body two"),
            ("section_header", "Section 2"),
            ("paragraph", "body three"),
        ]
        assert items[2].level == 1

    def test_lists_and_nesting(self):
        from doc_parser_spark.functions.asciidoc_extract import (
            extract_asciidoc_items,
        )

        adoc = "* one\n  * nested\n* two\n\nafter"
        items = extract_asciidoc_items(adoc)
        li = [i for i in items if i.label == "list_item"]
        assert [(i.text, i.list_depth) for i in li] == [
            ("one", 1), ("nested", 2), ("two", 1),
        ]
        assert items[-1].text == "after"

    def test_table_with_fences(self):
        from doc_parser_spark.functions.asciidoc_extract import (
            extract_asciidoc_items,
        )

        adoc = "|===\n|h1|h2|\n|a|b|\n|==="
        items = extract_asciidoc_items(adoc)
        assert items[0].label == "table"
        assert items[0].table_grid == [["h1", "h2"], ["a", "b"]]

    def test_picture_with_caption(self):
        from doc_parser_spark.functions.asciidoc_extract import (
            extract_asciidoc_items,
        )

        adoc = ".A caption\nimage::pic.png[Alt]"
        items = extract_asciidoc_items(adoc)
        assert [(i.label, i.text) for i in items] == [
            ("caption", "A caption"), ("picture", ""),
        ]

    def test_sniff(self):
        from doc_parser_spark.sources.sniff import sniff_text

        assert sniff_text("= Doc Title\n\ntext") == "asciidoc"
        assert sniff_text("== Section only") == "asciidoc"
        assert sniff_text("x = y equation") == "plain"
