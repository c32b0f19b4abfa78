"""CSV extraction (B7 analog) + text splitter (C5 analog).

CSV: the reference parses the whole file into one table with row 0 as the
header (csv_backend.py:52-131), sniffing the dialect with csv.Sniffer
(document.py:479-506). Here the payload is a turn's text; csv.Sniffer picks
the delimiter from {',', ';', '\\t', '|'}, the grid renders like any table.

Splitter: RecursiveCharacterTextSplitter semantics (the simple-processor
path, src/preprocessor.py:186-221 via langchain): split on the separator
hierarchy ["\\n\\n", "\\n", " ", ""], greedily packing pieces up to
chunk_size chars with chunk_overlap carry-over.
"""

from __future__ import annotations

import csv
import io

from doc_parser_spark.datamodel import LABEL_TABLE, join_spans
from doc_parser_spark.functions.html_extract import render_table

# Sniffer cost grows with sample size; the reference's content probes also
# examine only the head of the document (document.py:479-506 reads a chunk).
# The sample always ends on a line boundary so Sniffer sees whole rows.
SNIFF_SAMPLE_BYTES = 2048


def _sample(content: str) -> str:
    if len(content) <= SNIFF_SAMPLE_BYTES:
        return content
    cut = content.rfind("\n", 0, SNIFF_SAMPLE_BYTES)
    return content[: cut if cut > 0 else SNIFF_SAMPLE_BYTES]


def _guess_delimiter(content: str) -> str | None:
    """Direct dialect guess over the reference's accepted delimiter set
    ({',',';','\\t','|'} — document.py:500). csv.Sniffer's _guess_delimiter
    tries every ASCII char and dominates the csv kernel's profile; this is
    ~20x faster. A delimiter qualifies when every sampled line contains it
    and at least half the lines share the modal count (quoted cells may
    embed the delimiter, so exact equality is too strict — seen in the
    reference's csv-pipe fixture). Best (consistency, frequency) wins."""
    lines = [ln for ln in _sample(content).split("\n") if ln][:10]
    if len(lines) < 2:
        return None
    best: tuple[float, int, str] | None = None
    for d in (",", ";", "\t", "|"):
        counts = [ln.count(d) for ln in lines]
        if min(counts) < 1:
            continue
        mode = max(set(counts), key=counts.count)
        frac = counts.count(mode) / len(counts)
        if frac >= 0.5:
            cand = (frac, mode, d)
            if best is None or cand[:2] > best[:2]:
                best = cand
    return best[2] if best else None


def sniff_csv(text: str) -> bool:
    """Port of _detect_csv (document.py:479-506): multi-line + dialect probe."""
    content = text.strip()
    if "\n" not in content:
        return False
    return _guess_delimiter(content) is not None


def extract_csv(text: str) -> tuple[str, list[tuple[int, int, str, int]]]:
    """payload → one table item (row 0 = header), rendered + single span."""
    content = text.strip()

    class dialect(csv.excel):
        delimiter = _guess_delimiter(content) or ","
    rows = [r for r in csv.reader(io.StringIO(content), dialect) if r]
    # uniform-column check (csv_backend.py:80-95): ragged rows are padded
    width = max((len(r) for r in rows), default=0)
    grid = [r + [""] * (width - len(r)) for r in rows]
    return join_spans([(render_table(grid), LABEL_TABLE, 1)])


# ---------------------------------------------------------------------------
# C5 — recursive character text splitter
# ---------------------------------------------------------------------------
SEPARATORS = ["\n\n", "\n", " ", ""]


def recursive_split(
    text: str, chunk_size: int = 400, chunk_overlap: int = 50
) -> list[str]:
    """langchain RecursiveCharacterTextSplitter semantics: try the coarsest
    separator that yields pieces ≤ chunk_size; merge pieces greedily with
    overlap carry-over; recurse on oversize pieces with finer separators."""

    def split_with(text: str, separators: list[str]) -> list[str]:
        sep = separators[-1]
        rest: list[str] = []
        for i, s in enumerate(separators):
            if s == "":
                sep = ""
                break
            if s in text:
                sep = s
                rest = separators[i + 1 :]
                break
        splits = list(text) if sep == "" else text.split(sep)
        good: list[str] = []
        buf: list[str] = []

        def merge(pieces: list[str]) -> list[str]:
            docs: list[str] = []
            cur: list[str] = []
            total = 0
            sep_len = len(sep)
            for p in pieces:
                plen = len(p)
                if cur and total + plen + sep_len * len(cur) > chunk_size:
                    doc = sep.join(cur).strip()
                    if doc:
                        docs.append(doc)
                    # pop from the front until within overlap budget
                    while cur and (
                        total > chunk_overlap
                        or (total + plen + sep_len * len(cur) > chunk_size and total > 0)
                    ):
                        total -= len(cur[0])
                        cur.pop(0)
                cur.append(p)
                total += plen
            doc = sep.join(cur).strip()
            if doc:
                docs.append(doc)
            return docs

        for piece in splits:
            if len(piece) <= chunk_size:
                buf.append(piece)
            else:
                if buf:
                    good.extend(merge(buf))
                    buf = []
                if rest:
                    good.extend(split_with(piece, rest))
                else:
                    good.append(piece)
        if buf:
            good.extend(merge(buf))
        return good

    if not text:
        return []
    return split_with(text, SEPARATORS)
