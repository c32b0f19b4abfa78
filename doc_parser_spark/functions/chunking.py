"""Chunking kernels — HierarchicalChunker + HybridChunker semantics.

Ports the genon facade chunkers (per-document, here per-turn):

- heading context: a running {level: heading} stack over the item stream
  (HierarchicalChunker, facade/intelligent_processor.py:215-344)
- greedy token-budget packing: accumulate items while the packed text stays
  ≤ max_tokens; a table always flushes the buffer and gets its own chunk;
  a single oversize item becomes its own chunk
  (_split_document_by_tokens, facade/intelligent_processor.py:553-748)
- header re-emission: when an item's heading context differs from the
  current chunk section, the heading stack is prepended to the chunk text
  (_generate_text_from_items_with_headers, facade/intelligent_processor.py:418-472);
  section headers are not duplicated as content, titles are kept
- merge-small pass: chunks under max_tokens//3 greedily merge with
  neighbors while the merged text stays ≤ max_tokens
  (_merge_small_chunks, facade/intelligent_processor.py:750-856)
- token counting: the reference's fallback estimate int(words * 1.3)
  (facade/intelligent_processor.py:376-415 — the HF tokenizer path is an
  external model; the documented fallback is deterministic and
  environment-free)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from doc_parser_spark.datamodel import (
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TITLE,
)

DELIM = "\n"


def count_tokens(text: str) -> int:
    """Reference fallback token estimate (words * 1.3)."""
    if not text:
        return 0
    return int(len(text.split()) * 1.3)


@dataclass
class ChunkItem:
    label: str
    text: str
    headers: dict = field(default_factory=dict)  # {level: heading_text}
    index: int = -1  # position in the source item stream (page lookup)


@dataclass
class Chunk:
    text: str
    headings: list[str]
    n_tokens: int
    # source-item indices feeding this chunk — per-chunk page bounds come
    # from THESE items only (preprocessor.py:294-331), not the whole turn
    item_indices: list[int] = field(default_factory=list)


def with_heading_context(items: list[tuple[str, str]]) -> list[ChunkItem]:
    """Annotate each item with the active heading stack (C1 semantics).

    items: (label, text) in document order. A title resets the stack to
    {0: text}; a section_header at level L sets {L: text} and drops deeper
    levels. (Our extraction emits flat items; level is inferred by order —
    title=0, every section_header=1, matching the flattened span stream.)
    """
    out: list[ChunkItem] = []
    stack: dict[int, str] = {}
    for i, (label, text) in enumerate(items):
        if label == LABEL_TITLE:
            stack = {0: text}
        elif label == LABEL_SECTION_HEADER:
            stack = {k: v for k, v in stack.items() if k < 1}
            stack[1] = text
        out.append(ChunkItem(label, text, dict(stack), index=i))
    return out


def _render(items: list[ChunkItem]) -> tuple[str, list[str]]:
    """_generate_text_from_items_with_headers port: re-emit the heading
    stack on section change; skip section-header items as content; keep
    titles. Returns (text, used_headings)."""
    parts: list[str] = []
    used: list[str] = []
    current: dict = {}
    for item in items:
        if item.headers != current:
            to_add = [item.headers[k] for k in sorted(item.headers)]
            changed = any(
                k not in current or current[k] != v
                for k, v in item.headers.items()
            )
            if to_add and changed:
                parts.append(DELIM.join(to_add))
            current = dict(item.headers)
        for h in item.headers.values():
            if h and h not in used:
                used.append(h)
        if item.label == LABEL_SECTION_HEADER:
            continue
        if item.text:
            parts.append(item.text)
    return DELIM.join(parts), used


def _mk_chunk(items: list[ChunkItem]) -> Chunk:
    text, used = _render(items)
    return Chunk(
        text=text,
        headings=used,
        n_tokens=count_tokens(text),
        item_indices=[it.index for it in items if it.index >= 0],
    )


# the reference splits oversize tables at a FIXED 4096-token budget,
# independent of the chunker's max_tokens (intelligent_processor.py:630)
TABLE_SPLIT_TOKENS = 4096


def split_table_text(table_text: str) -> list[str]:
    """_split_table_text port (intelligent_processor.py:538-553): token-based
    split of a rendered table into pieces of at most TABLE_SPLIT_TOKENS
    tokens. The reference delegates to semchunk over its tokenizer; this
    port packs greedily on the same separator hierarchy (rows, then
    cells/words) under the deterministic count_tokens estimate.
    """
    if not table_text or count_tokens(table_text) <= TABLE_SPLIT_TOKENS:
        return [table_text]

    def pack(pieces: list[str], sep: str) -> list[str]:
        out: list[str] = []
        cur: list[str] = []
        for p in pieces:
            trial = sep.join(cur + [p])
            if cur and count_tokens(trial) > TABLE_SPLIT_TOKENS:
                out.append(sep.join(cur))
                cur = [p]
            else:
                cur.append(p)
        if cur:
            out.append(sep.join(cur))
        return out

    chunks: list[str] = []
    for line_group in pack(table_text.split("\n"), "\n"):
        if count_tokens(line_group) <= TABLE_SPLIT_TOKENS:
            chunks.append(line_group)
        else:  # a single monster row: fall back to word packing
            chunks.extend(pack(line_group.split(" "), " "))
    return chunks or [table_text]


def greedy_chunks(
    items: list[ChunkItem], max_tokens: int = 2000
) -> list[Chunk]:
    """The HybridChunker packing loop + merge-small pass. Oversize tables
    (rendered chunk > max_tokens) split at TABLE_SPLIT_TOKENS with the
    heading context re-emitted on every piece
    (intelligent_processor.py:626-653)."""
    if not items:
        return []
    chunks: list[Chunk] = []
    buf: list[ChunkItem] = []

    # incremental token accounting: token count of the rendered buffer is
    # int(total_words * 1.3) and rendered words are additive per appended
    # part (items join with DELIM; _render emits a header block on section
    # change) — so the packing test is O(item), not O(buffer) re-render.
    # _mk_chunk still renders once per EMITTED chunk (O(n) overall).
    buf_words = 0
    buf_headers: dict = {}

    def _added_words(item: ChunkItem, current: dict) -> int:
        w = 0
        if item.headers != current:
            to_add = [item.headers[k] for k in sorted(item.headers)]
            changed = any(
                k not in current or current[k] != v
                for k, v in item.headers.items()
            )
            if to_add and changed:
                w += sum(len(h.split()) for h in to_add)
        if item.label != LABEL_SECTION_HEADER and item.text:
            w += len(item.text.split())
        return w

    for item in items:
        if item.label == LABEL_TABLE:
            if buf:
                chunks.append(_mk_chunk(buf))
                buf, buf_words, buf_headers = [], 0, {}
            tchunk = _mk_chunk([item])
            if tchunk.n_tokens > max_tokens:
                for piece in split_table_text(item.text):
                    chunks.append(
                        _mk_chunk(
                            [ChunkItem(item.label, piece, item.headers, item.index)]
                        )
                    )
            else:
                chunks.append(tchunk)
            continue
        delta = _added_words(item, buf_headers)
        if int((buf_words + delta) * 1.3) <= max_tokens:
            buf.append(item)
            buf_words += delta
            if item.headers != buf_headers:
                buf_headers = dict(item.headers)
        else:
            if buf:
                chunks.append(_mk_chunk(buf))
                buf = [item]
                buf_words = _added_words(item, {})
                buf_headers = dict(item.headers)
            else:
                chunks.append(_mk_chunk([item]))
                buf, buf_words, buf_headers = [], 0, {}
    if buf:
        chunks.append(_mk_chunk(buf))

    return _merge_small(chunks, max_tokens)


def _merge_small(chunks: list[Chunk], max_tokens: int) -> list[Chunk]:
    """_merge_small_chunks port (text-level merge: texts join with DELIM,
    headings union preserving order)."""
    if not chunks:
        return chunks
    min_size = max_tokens // 3
    out: list[Chunk] = []
    cand: Chunk | None = None

    def merged(a: Chunk, b: Chunk) -> Chunk:
        text = a.text + DELIM + b.text if a.text and b.text else a.text + b.text
        headings = list(a.headings)
        for h in b.headings:
            if h not in headings:
                headings.append(h)
        return Chunk(
            text=text,
            headings=headings,
            n_tokens=count_tokens(text),
            item_indices=a.item_indices + b.item_indices,
        )

    for chunk in chunks:
        if chunk.n_tokens > max_tokens:
            if cand is not None:
                out.append(cand)
                cand = None
            out.append(chunk)
            continue
        if chunk.n_tokens < min_size:
            if cand is None:
                cand = chunk
            else:
                m = merged(cand, chunk)
                if m.n_tokens <= max_tokens:
                    cand = m
                else:
                    out.append(cand)
                    cand = chunk
        else:
            if cand is not None:
                if cand.n_tokens < min_size:
                    m = merged(cand, chunk)
                    if m.n_tokens <= max_tokens:
                        out.append(m)
                        cand = None
                        continue
                out.append(cand)
                cand = None
            out.append(chunk)

    if cand is not None:
        out.append(cand)
    return out


def chunk_items(
    labeled_items: list[tuple[str, str]], max_tokens: int = 2000
) -> list[Chunk]:
    """(label, text) items → chunks, end to end."""
    return greedy_chunks(with_heading_context(labeled_items), max_tokens)
