"""Property-based extraction invariants over generated inputs.

Complements the DOM-equivalence fuzz: these run the FULL extractor and
assert semantic invariants that must hold for any input:

1. never raises; output is (str, list of (start < end, label, page));
2. spans tile the text: consecutive spans are separated by exactly "\\n\\n"
   and cover the whole extracted_text — for HTML, plain, PDF, markdown
   and asciidoc inputs, and for the docx/pptx/xlsx/hwpx/jats/uspto tree
   backends over random ``DocxNode`` trees, where each span's slice is
   its rendered ``flat_items`` item;
3. furniture rule: when the document has a heading, no body text that
   appears only before the first heading leaks into the output;
4. every extracted body fragment originates from the input markup
   (no invented text beyond list markers / table pipes).
"""

from __future__ import annotations

import importlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from doc_parser_spark.functions.asciidoc_extract import extract_asciidoc
from doc_parser_spark.functions.docx_extract import DocxNode, flat_items
from doc_parser_spark.functions.html_extract import extract_html, render_table
from doc_parser_spark.functions.md_extract import extract_md
from doc_parser_spark.functions.pdfish_extract import extract_pdfish
from doc_parser_spark.functions.plain_extract import extract_plain
from doc_parser_spark.sources import transcripts
from doc_parser_spark.sources.synth_pdf import build_report_pdf

_WORDS = st.lists(
    st.sampled_from("alpha beta gamma delta epsilon zeta omega".split()),
    min_size=1,
    max_size=6,
).map(" ".join)


@st.composite
def _element(draw, depth=0):
    kind = draw(
        st.sampled_from(
            ["p", "h1", "h2", "pre", "ul", "ol", "table", "div", "nav", "text"]
        )
    )
    words = draw(_WORDS)
    if kind == "text":
        return words
    if kind in ("p", "h1", "h2", "pre"):
        return f"<{kind}>{words}</{kind}>"
    if kind in ("ul", "ol"):
        items = draw(st.lists(_WORDS, min_size=1, max_size=3))
        start = ' start="3"' if kind == "ol" and draw(st.booleans()) else ""
        return (
            f"<{kind}{start}>"
            + "".join(f"<li>{i}</li>" for i in items)
            + f"</{kind}>"
        )
    if kind == "table":
        cells = draw(st.lists(_WORDS, min_size=1, max_size=4))
        return (
            "<table><tr>"
            + "".join(f"<td>{c}</td>" for c in cells)
            + "</tr></table>"
        )
    if depth >= 2:
        return f"<{kind}>{words}</{kind}>"
    children = draw(
        st.lists(_element(depth=depth + 1), min_size=0, max_size=3)
    )
    return f"<{kind}>{words}{''.join(children)}</{kind}>"


@st.composite
def _document(draw):
    blocks = draw(st.lists(_element(), min_size=0, max_size=8))
    return "<html><body>" + "".join(blocks) + "</body></html>"


def _assert_tiles(text, spans):
    """Spans are (start < end, label, page ≥ 1), consecutive spans are
    separated by exactly "\\n\\n", and together they cover ``text``."""
    assert isinstance(text, str)
    prev_end = None
    for start, end, label, page in spans:
        assert 0 <= start < end <= len(text)
        assert isinstance(label, str) and isinstance(page, int) and page >= 1
        if prev_end is not None:
            assert start == prev_end + 2
            assert text[prev_end:start] == "\n\n"
        prev_end = end
    if spans:
        assert spans[0][0] == 0
        assert spans[-1][1] == len(text)
    else:
        assert text == ""


@settings(max_examples=150, deadline=None)
@given(_document())
def test_extraction_invariants(markup):
    text, spans = extract_html(markup)

    # 1-2. types, monotone spans, exact tiling
    _assert_tiles(text, spans)
    assert all(page == 1 for _, _, _, page in spans)

    # 3. character conservation: the walk may concatenate text fragments
    # (reference buffer semantics) but never invents or duplicates content —
    # each letter of the output is covered by the tag-stripped input
    import re as _re
    from collections import Counter

    stripped = _re.sub(r"<[^>]*>", "", markup)
    out_letters = Counter(c for c in text if c.isalpha())
    in_letters = Counter(c for c in stripped if c.isalpha())
    for ch, cnt in out_letters.items():
        assert cnt <= in_letters[ch], f"invented/duplicated char {ch!r}"


@settings(max_examples=150, deadline=None)
@given(st.lists(_WORDS, min_size=1, max_size=3), _WORDS, _WORDS)
def test_furniture_rule_property(pre_heading_paras, title, body):
    """Text strictly before the first heading never reaches the output."""
    # make pre-heading text distinguishable
    pre = "".join(f"<p>furn{q} {p}</p>" for q, p in enumerate(pre_heading_paras))
    markup = f"<body>{pre}<h1>{title}</h1><p>{body}</p></body>"
    text, _ = extract_html(markup)
    assert "furn0" not in text
    assert text.startswith(title.strip())
    assert body.strip() in text


# the transcript generator's payload builders, driven by a hypothesis rng
_TEXT_BACKENDS = {
    "plain": (extract_plain, transcripts._plain_payload),
    "plain-whitespace": (
        extract_plain,
        lambda rng: "".join(rng.choice("ab \t\n") for _ in range(rng.randrange(40))),
    ),
    "pdf-sim": (extract_pdfish, transcripts._pdfish_payload),
    "pdf": (extract_pdfish, lambda rng: build_report_pdf(rng.randrange(500))),
    "markdown": (extract_md, transcripts._md_payload),
    "asciidoc": (extract_asciidoc, transcripts._asciidoc_payload),
}


@settings(max_examples=200, deadline=None)
@given(st.sampled_from(sorted(_TEXT_BACKENDS)), st.randoms(use_true_random=False))
def test_text_backends_tile(kind, rng):
    extract, payload = _TEXT_BACKENDS[kind]
    _assert_tiles(*extract(payload(rng)))


_TREE_LABELS = [
    "title", "section_header", "paragraph", "text", "list_item", "formula",
    "table", "picture", "caption",
    "inline", "list", "section", "chapter", "unspecified",  # groups
]
_TREE_TEXT = st.sampled_from(["", "alpha", "beta gamma", "delta\n\nepsilon"])
_GRID = st.one_of(
    st.none(),
    st.lists(
        st.lists(st.one_of(st.none(), _TREE_TEXT), max_size=3), max_size=3
    ),
)


@st.composite
def _tree_node(draw, depth=0):
    label = draw(st.sampled_from(_TREE_LABELS))
    node = DocxNode(
        label,
        text=draw(_TREE_TEXT),
        grid=draw(_GRID) if label == "table" else None,
    )
    if depth < 3:
        node.children = draw(st.lists(_tree_node(depth + 1), max_size=3))
    return node


def _root(children):
    return DocxNode("unspecified", name="_root_", children=children)


_TREE = st.lists(_tree_node(), max_size=4).map(_root)
# parse_xlsx's shape: one section per sheet holding tables and pictures
_SHEETS = st.lists(
    st.lists(
        st.one_of(
            st.builds(DocxNode, st.just("table"), grid=_GRID.map(lambda g: g or [])),
            st.just(DocxNode("picture")),
        ),
        max_size=3,
    ).map(lambda items: DocxNode("section", children=items)),
    max_size=3,
).map(_root)


def _rendered_items(node, page):
    """(slice, label, page) each span must show: the non-empty items of
    ``flat_items(node)``, a table as its rendered grid."""
    out = []
    for item in flat_items(node):
        text = item.text
        if item.label == "table":
            text = render_table(item.grid or [])
        if text:
            out.append((text, item.label, page))
    return out


def _extract_tree(backend, root):
    """``extract_<backend>`` with ``parse_<backend>`` returning ``root``,
    as (slice, label, page) per span after the tiling check."""
    module = importlib.import_module(f"doc_parser_spark.functions.{backend}_extract")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(module, f"parse_{backend}", lambda _payload: root)
        text, spans = getattr(module, f"extract_{backend}")(b"")
    _assert_tiles(text, spans)
    return [(text[s:e], label, page) for s, e, label, page in spans]


@pytest.mark.parametrize("backend", ["docx", "hwpx", "jats", "uspto"])
@settings(max_examples=150, deadline=None)
@given(root=_TREE)
def test_tree_backends_serialize_flat_items(backend, root):
    assert _extract_tree(backend, root) == _rendered_items(root, 1)


@pytest.mark.parametrize("backend", ["pptx", "xlsx"])
@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_paged_tree_backends_use_child_index(backend, data):
    """pptx and xlsx: page = 1-based slide / sheet index of the root child."""
    root = data.draw(_TREE if backend == "pptx" else _SHEETS)
    got = _extract_tree(backend, root)
    assert got == [
        piece
        for page, child in enumerate(root.children, 1)
        for piece in _rendered_items(child, page)
    ]
    if backend == "xlsx":
        assert all(label == "table" for _, label, _ in got)
