"""JATS article extraction (B12) — stdlib port of the reference's JATS
backend (/root/reference/docling/backend/xml/jats_backend.py), on
xml.etree instead of lxml, and on our own DOM table parser instead of bs4.

Ported semantics (file:line cites):
- metadata first: title (title-group children joined, multiple groups with
  " - "), authors "given surname, ..." paragraph, unique affiliations
  joined "; " as a second paragraph, abstracts as heading + text
  (_parse_title :267-289, _parse_authors :219-265, _add_abstract :299-315)
- body + back walked linearly: sec/ack → heading, list/list-item, fig →
  caption + picture, table-wrap → caption + grid table (parsed with the
  HTML colspan/rowspan algorithm), ref-list → "References" heading + list
  group, element-citation flattened with the exact field order
  (_walk_linear :609-707, _parse_element_citation :350-474)
- text nodes: newline→space, term/disp-formula/inline-formula skipped; text
  flushes into a TEXT item when a paragraph hits a flush tag (:618-637)
- tex-math $$...$$ → formula items (:476-485)
"""

from __future__ import annotations

from typing import Optional
from xml.etree import ElementTree as ET

from doc_parser_spark.datamodel import join_spans
from doc_parser_spark.functions.docx_extract import DocxNode, node_pieces

DEFAULT_HEADER_ABSTRACT = "Abstract"
DEFAULT_HEADER_ACKNOWLEDGMENTS = "Acknowledgments"
DEFAULT_HEADER_REFERENCES = "References"
DEFAULT_TEXT_ETAL = "et al."

_SKIP_TEXT_TAGS = {"term", "disp-formula", "inline-formula"}


def _get_text(node: ET.Element) -> str:
    text = (
        node.text.replace("\n", " ")
        if (node.tag not in _SKIP_TEXT_TAGS and node.text)
        else ""
    )
    for child in list(node):
        if child.tag not in _SKIP_TEXT_TAGS:
            text += _get_text(child)
        text += child.tail.replace("\n", " ") if child.tail else ""
    return text


def _replace_inline_formulas(root: ET.Element) -> None:
    """In-place: each <inline-formula> under a table becomes the plain text
    '$$math$$' when its text splits on '$$' into exactly 3 parts (the
    reference's html_backend.py:487-492 rule); otherwise it is flattened to
    its full text (bs4 .text keeps it)."""
    parents = {c: p for p in root.iter() for c in p}
    for f in [e for e in root.iter() if e.tag == "inline-formula"]:
        txt = "".join(f.itertext())
        parts = txt.split("$$")
        repl = f"$${parts[1]}$$" if len(parts) == 3 else txt
        parent = parents.get(f)
        if parent is None:
            continue
        idx = list(parent).index(f)
        tail = f.tail or ""
        if idx == 0:
            parent.text = (parent.text or "") + repl + tail
        else:
            prev = list(parent)[idx - 1]
            prev.tail = (prev.tail or "") + repl + tail
        parent.remove(f)


class _Jats:
    def __init__(self, tree: ET.Element):
        self.tree = tree
        self.doc_root = DocxNode("unspecified", name="_root_")
        self.root: DocxNode = self.doc_root  # becomes the title node

    # -- metadata -------------------------------------------------------------
    def _find_meta(self) -> Optional[ET.Element]:
        for name in ("article-meta", "book-part-meta"):
            node = self.tree.find(f".//{name}")
            if node is not None:
                return node
        return None

    def _parse_title(self) -> str:
        meta_names = ("article-meta", "collection-meta", "book-meta",
                      "book-part-meta")
        title_names = {"article-title", "subtitle", "title", "label"}
        titles = []
        for meta in meta_names:
            for tg in self.tree.findall(f".//{meta}/title-group"):
                titles.append(
                    " ".join(
                        (el.text or "").replace("\n", " ").strip()
                        for el in list(tg)
                        if el.tag in title_names
                    ).strip()
                )
        return " - ".join(titles)

    def _parse_authors(self) -> list[dict]:
        authors: list[dict] = []
        meta = self._find_meta()
        if meta is None:
            return authors
        aff_names: dict[str, str] = {}
        for aff in meta.findall(".//aff[@id]"):
            text = ", ".join(t for t in aff.itertext() if t.strip())
            text = text.replace("\n", " ")
            label = aff.find("label")
            if label is not None and label.text:
                text = text.removeprefix(f"{label.text}, ")
            aff_names[aff.get("id") or ""] = text
        for contrib in meta.findall(".//contrib-group/contrib"):
            if contrib.get("contrib-type") != "author":
                continue
            given = contrib.find("name/given-names")
            surname = contrib.find("name/surname")
            if given is None or surname is None:
                continue
            affs = []
            for xref in contrib.findall("xref"):
                if xref.get("ref-type") == "aff":
                    rid = xref.get("rid") or ""
                    if rid in aff_names:
                        affs.append(aff_names[rid])
            authors.append(
                {"name": f"{given.text} {surname.text}",
                 "affiliation_names": affs}
            )
        return authors

    def _parse_abstracts(self) -> list[dict]:
        out = []
        for abs_node in self.tree.findall(".//abstract"):
            texts = [
                _get_text(p).strip() for p in abs_node.findall("p")
            ]
            label = ""
            for tag in ("title", "label"):
                ln = abs_node.find(tag)
                if ln is not None and ln.text:
                    label = ln.text.strip()
                    break
            out.append({"label": label, "content": " ".join(texts)})
        return out

    def add_metadata(self) -> None:
        self.root = DocxNode("title", self._parse_title())
        self.doc_root.children.append(self.root)
        authors = self._parse_authors()
        authors_str = ", ".join(a["name"] for a in authors)
        affs = [n for a in authors for n in a["affiliation_names"]]
        affs_str = "; ".join(dict.fromkeys(affs))
        if authors_str:
            self.root.children.append(DocxNode("paragraph", authors_str))
        if affs_str:
            self.root.children.append(DocxNode("paragraph", affs_str))
        for abstract in self._parse_abstracts():
            if not abstract["content"]:
                continue
            heading = DocxNode(
                "section_header",
                abstract["label"] or DEFAULT_HEADER_ABSTRACT,
                level=1,
            )
            self.root.children.append(heading)
            heading.children.append(DocxNode("text", abstract["content"]))

    # -- citations (jats_backend.py:350-474) -----------------------------------
    def _element_citation(self, node: ET.Element) -> str:
        c = {k: "" for k in (
            "author_names", "title", "source", "year", "volume", "page",
            "pub_id", "publisher_name", "publisher_loc",
        )}
        names = []
        for n in node.findall(".//name"):
            s, g = n.find("surname"), n.find("given-names")
            if s is not None and g is not None:
                names.append(
                    f"{(s.text or '').replace(chr(10), ' ').strip()} "
                    f"{(g.text or '').replace(chr(10), ' ').strip()}"
                )
        etal = node.find(".//etal")
        if etal is not None:
            names.append(etal.text or DEFAULT_TEXT_ETAL)
        c["author_names"] = ", ".join(names)

        title_node = None
        for name in ("article-title", "chapter-title", "data-title",
                     "issue-title", "part-title", "trans-title"):
            tn = node.find(name)
            if tn is not None:
                title_node = tn
                break
        c["title"] = (
            _get_text(title_node)
            if title_node is not None
            else (node.text or "").replace("\n", " ").strip()
        )
        for item in ("source", "year", "publisher-name", "publisher-loc",
                     "volume"):
            it = node.find(item)
            if it is not None and it.text:
                c[item.replace("-", "_")] = it.text.replace("\n", " ").strip()
        pub_ids = []
        for idn in node.findall("pub-id"):
            id_type = idn.get("assigning-authority") or idn.get("pub-id-type")
            if id_type and idn.text:
                pub_ids.append(
                    id_type.replace("\n", " ").strip().upper()
                    + ": "
                    + idn.text.replace("\n", " ").strip()
                )
        if pub_ids:
            c["pub_id"] = ", ".join(pub_ids)
        eloc = node.find("elocation-id")
        fpage = node.find("fpage")
        if eloc is not None and eloc.text:
            c["page"] = eloc.text.replace("\n", " ").strip()
        elif fpage is not None and fpage.text:
            c["page"] = fpage.text.replace("\n", " ").strip()
            lpage = node.find("lpage")
            if lpage is not None and lpage.text:
                c["page"] += "–" + lpage.text.replace("\n", " ").strip()  # noqa: RUF001

        text = ""
        if c["author_names"]:
            text += c["author_names"].rstrip(".") + ". "
        if c["title"]:
            text += c["title"] + ". "
        if c["source"]:
            text += c["source"] + ". "
        if c["publisher_name"]:
            if c["publisher_loc"]:
                text += f"{c['publisher_loc']}: "
            text += c["publisher_name"] + ". "
        if c["volume"]:
            text = text.rstrip(". ")
            text += f" {c['volume']}. "
        if c["page"]:
            text = text.rstrip(". ")
            if c["volume"]:
                text += ":"
            text += c["page"] + ". "
        if c["year"]:
            text = text.rstrip(". ")
            text += f" ({c['year']})."
        if c["pub_id"]:
            text = text.rstrip(".") + ". "
            text += c["pub_id"]
        return text

    def _add_citation(self, parent: DocxNode, text: str) -> None:
        if parent.label == "list":
            parent.children.append(DocxNode("list_item", text))
        else:
            parent.children.append(DocxNode("text", text))

    # -- figures / tables -------------------------------------------------------
    def _caption_of(self, node: ET.Element) -> Optional[str]:
        caption_node = node.find("caption")
        if caption_node is None:
            return None
        caption = ""
        for par in list(caption_node):
            if par.find(".//supplementary-material") is not None:
                continue
            caption += _get_text(par).strip() + " "
        return caption.strip()

    def _add_figure(self, parent: DocxNode, node: ET.Element) -> None:
        label_node = node.find("label")
        label = _get_text(label_node).strip() if label_node is not None else ""
        caption = self._caption_of(node)
        fig_text = f"{label}{' ' if label and caption else ''}{caption or ''}"
        pic = DocxNode("picture")
        parent.children.append(pic)
        if fig_text:
            pic.children.append(DocxNode("caption", fig_text))

    def _add_table(self, parent: DocxNode, node: ET.Element) -> None:
        """table-wrap → caption + grid (jats_backend.py:535-599). Inline
        formulas inside cells follow html_backend.py:487-492: when the
        formula text splits on '$$' into exactly three parts (the tex-math
        minimal-document wrapper), the element is replaced by '$$math$$';
        otherwise its full text stays."""
        from doc_parser_spark.functions.html_extract import parse_table_grid
        from doc_parser_spark.functions.htmldom import parse_html

        content = node.find("table")
        if content is None:
            content = node.find("alternatives/table")
        grid = None
        if content is not None:
            _replace_inline_formulas(content)
            dom = parse_html(ET.tostring(content, encoding="unicode"))
            table_el = dom.find("table")
            if table_el is not None:
                grid = parse_table_grid(table_el)
        caption = self._caption_of(node) or ""
        label_node = node.find("label")
        label = (
            label_node.text if label_node is not None and label_node.text else ""
        )
        table_text = f"{label}{' ' if label and caption else ''}{caption}"
        if grid is None:
            return
        table = DocxNode(
            "table", grid=[[c or "" for c in row] for row in grid]
        )
        parent.children.append(table)
        if table_text:
            table.children.append(DocxNode("caption", table_text))

    # -- body walk (jats_backend.py:609-707) -------------------------------------
    def walk(self, parent: DocxNode, node: ET.Element,
             parent_tag: str = "") -> str:
        flush_tags = ("ack", "sec", "list", "boxed-text", "disp-formula", "fig")
        new_parent = parent
        node_text = (
            node.text.replace("\n", " ")
            if (node.tag not in ("term",) and node.text)
            else ""
        )
        for child in list(node):
            stop_walk = False
            if node.tag == "p" and node_text.strip() and child.tag in flush_tags:
                parent.children.append(DocxNode("text", node_text.strip()))
                node_text = ""

            if child.tag in ("sec", "ack"):
                text = None
                for tag in ("title", "label"):
                    h = child.find(tag)
                    if h is not None:
                        text = _get_text(h)
                        break
                if text is None and child.tag == "ack":
                    text = DEFAULT_HEADER_ACKNOWLEDGMENTS
                if text:
                    # heading depth follows section nesting (the md export's
                    # "##"/"###" ladder in the reference groundtruths)
                    level = (
                        (parent.level or 1) + 1
                        if parent.label == "section_header"
                        else 1
                    )
                    new_parent = DocxNode("section_header", text, level=level)
                    parent.children.append(new_parent)
            elif child.tag == "list":
                new_parent = DocxNode("list", name="list")
                parent.children.append(new_parent)
            elif child.tag == "list-item":
                text = _get_text(child).strip()
                new_parent = DocxNode("list_item", text)
                parent.children.append(new_parent)
                stop_walk = True
            elif child.tag == "fig":
                self._add_figure(parent, child)
                stop_walk = True
            elif child.tag == "table-wrap":
                try:
                    self._add_table(parent, child)
                except Exception:
                    pass
                stop_walk = True
            elif child.tag == "suplementary-material":
                stop_walk = True
            elif child.tag == "fn-group":
                stop_walk = True
            elif child.tag == "ref-list" and node.tag != "ref-list":
                h = None
                for tag in ("title", "label"):
                    hn = child.find(tag)
                    if hn is not None:
                        h = _get_text(hn)
                        break
                heading = DocxNode(
                    "section_header", h or DEFAULT_HEADER_REFERENCES, level=1
                )
                parent.children.append(heading)
                new_parent = DocxNode("list", name="list")
                heading.children.append(new_parent)
            elif child.tag == "element-citation":
                self._add_citation(parent, self._element_citation(child))
                stop_walk = True
            elif child.tag == "mixed-citation":
                self._add_citation(parent, _get_text(child).strip())
                stop_walk = True
            elif child.tag == "tex-math":
                parts = (child.text or "").split("$$")
                if len(parts) == 3:
                    parent.children.append(DocxNode("formula", parts[1]))
                stop_walk = True
            elif child.tag == "inline-formula":
                stop_walk = True

            if not stop_walk:
                new_text = self.walk(new_parent, child, node.tag)
                if not (parent_tag == "p" and node.tag in flush_tags):
                    node_text += new_text
            node_text += child.tail.replace("\n", " ") if child.tail else ""

        if node.tag == "p" and node_text.strip():
            parent.children.append(DocxNode("text", node_text.strip()))
            return ""
        return node_text


def parse_jats(xml_text: str | bytes) -> DocxNode:
    """JATS article XML → docling-shaped node tree."""
    tree = ET.fromstring(xml_text)
    jats = _Jats(tree)
    jats.add_metadata()
    body = tree.find(".//body")
    if body is not None:
        jats.walk(jats.root, body)
    back = tree.find(".//back")
    if back is not None:
        jats.walk(jats.root, back)
    return jats.doc_root


def extract_jats(xml_text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    """JATS XML → (main text, spans)."""
    return join_spans(node_pieces(parse_jats(xml_text)))
