"""From-scratch stdlib ``%PDF`` text decoder (the B4-class real-PDF path).

Replaces the native parser layer (pypdfium2 / docling-parse) with a pure
Python object parser + content-stream interpreter; ``zlib`` is the only
compression dependency. The output contract is per-page TEXT CELLS with
top-left-origin bboxes — exactly what the existing pypdfium-style merge
pipeline in ``functions/pdfish_extract.py`` consumes (reference semantics:
/root/reference/docling/backend/pypdfium2_backend.py:120-252 builds
TextCells from pdfium text rects; everything downstream of the cells is
already ported there).

Implemented surface (what the reference's own PDF fixtures need):

- object syntax: literal/hex strings, names with ``#xx``, numbers, arrays,
  dicts, indirect refs, streams (indirect /Length supported)
- cross-reference: classic ``xref`` tables, xref STREAMS (/W tuples,
  /Index, /Prev chains, hybrid /XRefStm) and compressed objects (/ObjStm)
- filters: FlateDecode (with PNG predictors 10-15 and TIFF predictor 2),
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode, LZWDecode
- page tree walk with attribute inheritance (Resources, MediaBox, CropBox,
  Rotate); Form XObjects recursed with their /Matrix
- fonts: simple (Type1/TrueType/Type3) via ToUnicode CMap → /Encoding base
  (+ /Differences glyph names, AGL subset + uniXXXX) → cp1252 fallback;
  composite Type0 with Identity-H/V 2-byte codes, /W & /DW widths
- text operators: BT/ET Tf Tc Tw Tz TL Ts Tr Td TD Tm T* Tj TJ ' " with the
  full text-matrix advance model; q/Q/cm graphics state; BI..EI skipped

Out of scope (documented): encrypted PDFs (/Encrypt → ValueError), embedded
CMap programs other than Identity (treated as 2-byte), Type3 glyph proc
rendering (their ToUnicode still applies), vertical writing metrics (codes
decode; advances use horizontal widths).
"""

from __future__ import annotations

import functools
import re
import struct
import zlib
from dataclasses import dataclass, field
from typing import Any, Optional

# ---------------------------------------------------------------------------
# lexer
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR_STOP = _WS + _DELIM

_NUM_RE = re.compile(rb"[+-]?(?:\d+\.?\d*|\.\d+)")


class Name(str):
    """A PDF name object — a str that is not a PDF string."""

    __slots__ = ()


@dataclass(frozen=True, slots=True)
class Ref:
    num: int
    gen: int


@dataclass(slots=True)
class Stream:
    dict: dict
    raw: bytes  # undecoded bytes


class Keyword(str):
    __slots__ = ()


def _skip_ws(buf: bytes, i: int) -> int:
    n = len(buf)
    while i < n:
        c = buf[i]
        if c in _WS:
            i += 1
        elif c == 0x25:  # '%' comment to EOL
            while i < n and buf[i] not in (0x0A, 0x0D):
                i += 1
        else:
            break
    return i


def _lex(buf: bytes, i: int) -> tuple[Any, int]:
    """Next raw token at i (skips whitespace). Returns (token, next_i).

    Token kinds: Name, bytes (string), int/float, Keyword (incl. '[' ']'
    '<<' '>>' handled by the parser), None at EOF.
    """
    i = _skip_ws(buf, i)
    n = len(buf)
    if i >= n:
        return None, i
    c = buf[i]
    if c == 0x2F:  # /Name
        j = i + 1
        while j < n and buf[j] not in _REGULAR_STOP:
            j += 1
        raw = buf[i + 1 : j]
        if b"#" in raw:
            out = bytearray()
            k = 0
            while k < len(raw):
                if raw[k] == 0x23 and k + 2 < len(raw) + 0:
                    pass
                if raw[k] == 0x23 and k + 2 <= len(raw) - 1:
                    try:
                        out.append(int(raw[k + 1 : k + 3], 16))
                        k += 3
                        continue
                    except ValueError:
                        pass
                out.append(raw[k])
                k += 1
            raw = bytes(out)
        return Name(raw.decode("latin-1")), j
    if c == 0x28:  # ( literal string
        depth = 1
        j = i + 1
        out = bytearray()
        while j < n and depth:
            ch = buf[j]
            if ch == 0x5C:  # backslash
                j += 1
                if j >= n:
                    break
                e = buf[j]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12}[e])
                    j += 1
                elif e in b"()\\":
                    out.append(e)
                    j += 1
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    k = j
                    val = 0
                    while k < n and k < j + 3 and 0x30 <= buf[k] <= 0x37:
                        val = val * 8 + (buf[k] - 0x30)
                        k += 1
                    out.append(val & 0xFF)
                    j = k
                elif e == 0x0A:
                    j += 1  # line continuation
                elif e == 0x0D:
                    j += 1
                    if j < n and buf[j] == 0x0A:
                        j += 1
                else:
                    out.append(e)
                    j += 1
            elif ch == 0x28:
                depth += 1
                out.append(ch)
                j += 1
            elif ch == 0x29:
                depth -= 1
                if depth:
                    out.append(ch)
                j += 1
            else:
                out.append(ch)
                j += 1
        return bytes(out), j
    if c == 0x3C:  # < : hex string or <<
        if i + 1 < n and buf[i + 1] == 0x3C:
            return Keyword("<<"), i + 2
        j = buf.find(b">", i + 1)
        if j < 0:
            j = n
        hexstr = re.sub(rb"[^0-9A-Fa-f]", b"", buf[i + 1 : j])
        if len(hexstr) % 2:
            hexstr += b"0"
        return bytes.fromhex(hexstr.decode("ascii")), j + 1
    if c == 0x3E:  # >>
        if i + 1 < n and buf[i + 1] == 0x3E:
            return Keyword(">>"), i + 2
        return Keyword(">"), i + 1
    if c in b"[]{}":
        return Keyword(chr(c)), i + 1
    m = _NUM_RE.match(buf, i)
    if m and m.start() == i:
        s = m.group()
        j = m.end()
        if b"." in s:
            return float(s), j
        return int(s), j
    # keyword (obj, endobj, stream, R, true, false, null, operators)
    j = i
    while j < n and buf[j] not in _REGULAR_STOP:
        j += 1
    if j == i:  # lone delimiter we don't understand: skip it
        return Keyword(chr(c)), i + 1
    return Keyword(buf[i:j].decode("latin-1")), j


# ---------------------------------------------------------------------------
# object parser
# ---------------------------------------------------------------------------


def parse_object(buf: bytes, i: int) -> tuple[Any, int]:
    """Parse one object at i. Numbers are ref-resolved via lookahead."""
    tok, j = _lex(buf, i)
    return _parse_from(buf, tok, j)


def _parse_from(buf: bytes, tok: Any, j: int) -> tuple[Any, int]:
    if isinstance(tok, Keyword):
        if tok == "<<":
            d: dict = {}
            while True:
                k, j = _lex(buf, j)
                if k is None or (isinstance(k, Keyword) and k == ">>"):
                    return d, j
                if not isinstance(k, Name):
                    continue  # malformed key: skip
                v, j = parse_object(buf, j)
                d[str(k)] = v
        if tok == "[":
            arr: list = []
            while True:
                t, j2 = _lex(buf, j)
                if t is None or (isinstance(t, Keyword) and t == "]"):
                    return arr, j2
                v, j = _parse_from(buf, t, j2)
                arr.append(v)
        if tok == "true":
            return True, j
        if tok == "false":
            return False, j
        if tok == "null":
            return None, j
        return tok, j  # bare keyword (caller decides)
    if isinstance(tok, int):
        # possible "num gen R"
        save = j
        t2, j2 = _lex(buf, j)
        if isinstance(t2, int):
            t3, j3 = _lex(buf, j2)
            if isinstance(t3, Keyword) and t3 == "R":
                return Ref(tok, t2), j3
        return tok, save
    return tok, j


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


def _apply_predictor(data: bytes, parms: dict) -> bytes:
    pred = parms.get("Predictor", 1)
    if pred in (None, 1):
        return data
    colors = parms.get("Colors", 1) or 1
    bpc = parms.get("BitsPerComponent", 8) or 8
    columns = parms.get("Columns", 1) or 1
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (colors * bpc * columns + 7) // 8
    if pred == 2:  # TIFF
        if bpc != 8:
            return data
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for k in range(bpp, min(rowlen, len(out) - r)):
                out[r + k] = (out[r + k] + out[r + k - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: each row prefixed with a filter byte
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i + 1 <= n:
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + rowlen])
        i += rowlen
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))
        if ft == 1:  # Sub
            for k in range(bpp, rowlen):
                row[k] = (row[k] + row[k - bpp]) & 0xFF
        elif ft == 2:  # Up
            for k in range(rowlen):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(rowlen):
                left = row[k - bpp] if k >= bpp else 0
                row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(rowlen):
                a = row[k - bpp] if k >= bpp else 0
                b = prev[k]
                c = prev[k - bpp] if k >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[k] = (row[k] + pr) & 0xFF
        out.extend(row)
        prev = row
        if i >= n:
            break
    return bytes(out)


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits = 9
    buf = 0
    nbits = 0
    prev: Optional[bytes] = None
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= bits:
            code = (buf >> (nbits - bits)) & ((1 << bits) - 1)
            nbits -= bits
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                bits = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) + early - 1 >= (1 << bits) and bits < 12:
                bits += 1
    return bytes(out)


def _a85_decode(data: bytes) -> bytes:
    data = re.sub(rb"\s", b"", data)
    if data.endswith(b"~>"):
        data = data[:-2]
    import base64

    return base64.a85decode(data)


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out.extend(data[i + 1 : i + 2 + l])
            i += 2 + l
        else:
            if i + 1 < n:
                out.extend(data[i + 1 : i + 2] * (257 - l))
            i += 2
    return bytes(out)


_FILTER_ALIASES = {
    "Fl": "FlateDecode",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "RL": "RunLengthDecode",
    "LZW": "LZWDecode",
    "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}


# ---------------------------------------------------------------------------
# document
# ---------------------------------------------------------------------------


class PdfError(ValueError):
    pass


# Exception types that signal MALFORMED PDF BYTES somewhere below the public
# entry point (truncated buffer, corrupt flate stream, an index into a parsed
# table knocked out of range by a flipped bit, a reference cycle that exhausts
# the recursion guard margins).  Deliberately NOT Exception: programming-error
# types (TypeError, AttributeError, NameError) still propagate so the
# corruption-fuzz suite can't mask real bugs.  RecursionError is data-shaped
# HERE (unlike in media_decode): object graphs in a hostile PDF are cyclic by
# construction and the depth guards bound only the walks we anticipated.
_PDF_MALFORMED = (
    struct.error,
    zlib.error,
    KeyError,
    IndexError,
    ValueError,  # includes PdfError itself and int()/float() parse failures
    OverflowError,
    EOFError,
    ZeroDivisionError,
    UnicodeDecodeError,
    RecursionError,
)


def untrusted_pdf(fn):
    """Public decoder entry points parse UNTRUSTED bytes: any data-shaped
    failure must surface as PdfError — the one type the extract router maps
    to a ``failure`` status row (the reference's error envelope,
    docling/pipeline/base_pipeline.py:219-232) — never a raw struct/zlib/
    container error that would kill an executor task."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except PdfError:
            raise
        except _PDF_MALFORMED as ex:
            raise PdfError(
                f"malformed PDF in {fn.__name__}: {type(ex).__name__}: {ex}"
            ) from ex

    return wrapped


class PdfDocument:
    """Lazy, xref-driven PDF object store over a bytes buffer."""

    def __init__(self, data: bytes):
        if not data.lstrip()[:5].startswith(b"%PDF-"):
            raise PdfError("not a PDF")
        self.data = data
        self.xref: dict[int, tuple] = {}  # num -> ('o', offset) | ('c', stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, Any] = {}
        self._objstm_cache: dict[int, list] = {}
        # fonts are document-level objects referenced by every page; parsing
        # one (ToUnicode cmap, encoding differences, widths) costs more than
        # interpreting a page's whole content stream, so the cache must
        # outlive the per-page interpreter
        self._font_cache: dict[int, Any] = {}
        try:
            self._load_xref()
        except Exception:
            self.xref = {}
        if not self.xref or "Root" not in self.trailer:
            self._brute_scan()
        if "Encrypt" in self.trailer:
            raise PdfError("encrypted PDF not supported")

    # -- xref ---------------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if not m:
            raise PdfError("no startxref")
        offset = int(m.group(1))
        seen = set()
        while offset and offset not in seen and 0 <= offset < len(self.data):
            seen.add(offset)
            offset = self._load_xref_section(offset)

    def _load_xref_section(self, offset: int) -> int:
        buf = self.data
        i = _skip_ws(buf, offset)
        if buf[i : i + 4] == b"xref":
            return self._load_xref_table(i + 4)
        # xref stream: "num gen obj <<...>> stream"
        obj, _ = self._parse_indirect_at(i)
        if not isinstance(obj, Stream):
            raise PdfError("bad xref section")
        return self._load_xref_stream(obj)

    def _load_xref_table(self, i: int) -> int:
        buf = self.data
        while True:
            i = _skip_ws(buf, i)
            if buf[i : i + 7] == b"trailer":
                tr, _ = parse_object(buf, i + 7)
                if not isinstance(tr, dict):
                    raise PdfError("bad trailer")
                for k, v in tr.items():
                    self.trailer.setdefault(k, v)
                if "XRefStm" in tr:  # hybrid file
                    try:
                        self._load_xref_section(tr["XRefStm"])
                    except Exception:
                        pass
                return tr.get("Prev", 0)
            m = re.match(rb"(\d+)\s+(\d+)", buf[i : i + 40])
            if not m:
                raise PdfError("bad xref subsection")
            start, count = int(m.group(1)), int(m.group(2))
            i = _skip_ws(buf, i + m.end())
            for k in range(count):
                entry = buf[i : i + 20]
                em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", entry)
                if em:
                    if em.group(3) == b"n":
                        self.xref.setdefault(start + k, ("o", int(em.group(1))))
                    i += 20 if entry[18:20] in (b"\r\n", b" \n", b" \r") else 20
                else:  # tolerate slightly malformed rows
                    nm = re.match(rb"\s*(\d+)\s+(\d+)\s+([nf])\s*", buf[i : i + 24])
                    if not nm:
                        raise PdfError("bad xref row")
                    if nm.group(3) == b"n":
                        self.xref.setdefault(start + k, ("o", int(nm.group(1))))
                    i += nm.end()

    def _load_xref_stream(self, stm: Stream) -> int:
        d = stm.dict
        data = self.decode_stream(stm)
        w = [int(x) for x in d.get("W", [1, 1, 1])]
        size = d.get("Size", 0)
        index = d.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        for t in range(0, len(index), 2):
            start, count = index[t], index[t + 1]
            for k in range(count):
                if pos + rowlen > len(data):
                    break
                fields = []
                p = pos
                for width in w:
                    fields.append(
                        int.from_bytes(data[p : p + width], "big") if width else None
                    )
                    p += width
                pos += rowlen
                ftype = fields[0] if w[0] else 1
                num = start + k
                if ftype == 1:
                    self.xref.setdefault(num, ("o", fields[1]))
                elif ftype == 2:
                    self.xref.setdefault(num, ("c", fields[1], fields[2]))
        for k, v in d.items():
            if k not in ("W", "Index", "Filter", "DecodeParms", "Length", "Type"):
                self.trailer.setdefault(k, v)
        return d.get("Prev", 0)

    def _brute_scan(self) -> None:
        """Recovery path: scan every 'N G obj' in the file (later wins)."""
        for m in re.finditer(rb"(\d+)\s+(\d+)\s+obj\b", self.data):
            self.xref[int(m.group(1))] = ("o", m.start())
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer", self.data):
                tr, _ = parse_object(self.data, m.end())
                if isinstance(tr, dict) and "Root" in tr:
                    for k, v in tr.items():
                        self.trailer.setdefault(k, v)
        if "Root" not in self.trailer:
            # last resort: find a /Type /Catalog object
            for num in list(self.xref):
                try:
                    obj = self.get(num)
                except Exception:
                    continue
                if isinstance(obj, dict) and obj.get("Type") == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break
        # ObjStm objects are only reachable via xref streams; when brute
        # scanning, expand every object stream we can find
        for num in list(self.xref):
            try:
                obj = self.get(num)
            except Exception:
                continue
            if isinstance(obj, Stream) and obj.dict.get("Type") == "ObjStm":
                try:
                    for objnum, idx in self._objstm_index(num):
                        self.xref.setdefault(objnum, ("c", num, idx))
                except Exception:
                    pass

    # -- object access -------------------------------------------------------

    def _parse_indirect_at(self, offset: int) -> tuple[Any, int]:
        buf = self.data
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj\b", buf[offset : offset + 40])
        if not m:
            raise PdfError("no obj header at offset")
        i = offset + m.end()
        obj, i = parse_object(buf, i)
        tok, j = _lex(buf, i)
        if isinstance(tok, Keyword) and tok == "stream" and isinstance(obj, dict):
            # data starts after CRLF or LF
            k = j
            if buf[k : k + 2] == b"\r\n":
                k += 2
            elif buf[k : k + 1] in (b"\n", b"\r"):
                k += 1
            length = obj.get("Length")
            if isinstance(length, Ref):
                length = self.resolve(length)
            if not isinstance(length, int) or k + length > len(buf):
                end = buf.find(b"endstream", k)
                length = max(0, end - k)
            raw = buf[k : k + length]
            # tolerate off-by-a-few /Length: trim trailing EOL before endstream
            return Stream(obj, raw), k + length
        return obj, i

    def get(self, num: int) -> Any:
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None:
            return None
        if entry[0] == "o":
            try:
                obj, _ = self._parse_indirect_at(entry[1])
            except PdfError:
                obj = None
        else:
            obj = self._objstm_get(entry[1], entry[2], num)
        self._cache[num] = obj
        return obj

    def _objstm_index(self, stm_num: int):
        stm = self.get(stm_num) if stm_num not in self._objstm_cache else None
        if stm_num in self._objstm_cache:
            return [(n, i) for i, (n, _) in enumerate(self._objstm_cache[stm_num])]
        if not isinstance(stm, Stream):
            raise PdfError("bad ObjStm")
        data = self.decode_stream(stm)
        n = self.resolve(stm.dict.get("N", 0))
        first = self.resolve(stm.dict.get("First", 0))
        if not isinstance(n, int) or not isinstance(first, int):
            raise PdfError("bad ObjStm N/First")
        header: list[int] = []
        i = 0
        for _ in range(2 * n):
            tok, i = _lex(data, i)
            if not isinstance(tok, int):
                break
            header.append(tok)
        pairs = []
        for k in range(0, len(header) - 1, 2):
            pairs.append((header[k], first + header[k + 1]))
        self._objstm_cache[stm_num] = [(num, off) for num, off in pairs]
        # stash decoded data for _objstm_get
        self._objstm_cache[(stm_num, "data")] = data  # type: ignore[index]
        return [(num, i) for i, (num, _) in enumerate(pairs)]

    def _objstm_get(self, stm_num: int, idx: int, want_num: int) -> Any:
        if stm_num not in self._objstm_cache:
            self._objstm_index(stm_num)
        pairs = self._objstm_cache.get(stm_num, [])
        data = self._objstm_cache.get((stm_num, "data"), b"")  # type: ignore[call-overload]
        for i, (num, off) in enumerate(pairs):
            if num == want_num or i == idx:
                obj, _ = parse_object(data, off)
                if num == want_num:
                    return obj
        if 0 <= idx < len(pairs):
            obj, _ = parse_object(data, pairs[idx][1])
            return obj
        return None

    def resolve(self, obj: Any, depth: int = 0) -> Any:
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get(obj.num)
            depth += 1
        return obj

    # -- streams --------------------------------------------------------------

    def decode_stream(self, stm: Stream) -> bytes:
        filters = self.resolve(stm.dict.get("Filter"))
        parms = self.resolve(stm.dict.get("DecodeParms")) or self.resolve(
            stm.dict.get("DP")
        )
        if filters is None:
            return stm.raw
        if not isinstance(filters, list):
            filters = [filters]
            parms = [parms]
        elif not isinstance(parms, list):
            parms = [parms] + [None] * (len(filters) - 1)
        data = stm.raw
        for f, p in zip(filters, parms or [None] * len(filters)):
            f = _FILTER_ALIASES.get(str(f), str(f))
            p = self.resolve(p)
            if not isinstance(p, dict):  # corrupt DecodeParms → ignore them
                p = {}
            if f == "FlateDecode":
                try:
                    data = zlib.decompress(data)
                except zlib.error:
                    # salvage: some writers pad /Length; try incremental
                    d = zlib.decompressobj()
                    try:
                        data = d.decompress(data)
                    except zlib.error as exc:
                        raise PdfError(f"flate: {exc}") from exc
                data = _apply_predictor(data, {k: self.resolve(v) for k, v in p.items()})
            elif f == "LZWDecode":
                data = _lzw_decode(data, self.resolve(p.get("EarlyChange", 1)))
                data = _apply_predictor(data, {k: self.resolve(v) for k, v in p.items()})
            elif f == "ASCIIHexDecode":
                h = re.sub(rb"[^0-9A-Fa-f]", b"", data.split(b">")[0])
                if len(h) % 2:
                    h += b"0"
                data = bytes.fromhex(h.decode("ascii"))
            elif f == "ASCII85Decode":
                data = _a85_decode(data)
            elif f == "RunLengthDecode":
                data = _rl_decode(data)
            else:
                # image codecs (DCT/JPX/CCITT) — not text; leave undecoded
                return b""
        return data

    # -- pages ----------------------------------------------------------------

    def pages(self) -> list[dict]:
        """Flattened page dicts with inherited attributes resolved."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("no /Root catalog")
        tree = self.resolve(root.get("Pages"))
        out: list[dict] = []
        inheritable = ("Resources", "MediaBox", "CropBox", "Rotate")

        def walk(node: Any, inherited: dict, depth: int) -> None:
            node = self.resolve(node)
            if not isinstance(node, dict) or depth > 64 or len(out) >= 10000:
                return
            inh = dict(inherited)
            for k in inheritable:
                if k in node:
                    inh[k] = node[k]
            if node.get("Type") == "Pages" or "Kids" in node:
                for kid in self.resolve(node.get("Kids")) or []:
                    walk(kid, inh, depth + 1)
            else:
                page = dict(node)
                for k in inheritable:
                    if k not in page and k in inh:
                        page[k] = inh[k]
                out.append(page)

        walk(tree, {}, 0)
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return self.decode_stream(contents)
        parts = []
        if isinstance(contents, list):
            for c in contents:
                c = self.resolve(c)
                if isinstance(c, Stream):
                    parts.append(self.decode_stream(c))
        return b"\n".join(parts)


# ---------------------------------------------------------------------------
# fonts
# ---------------------------------------------------------------------------

# Adobe Glyph List subset: names that appear in /Differences arrays of
# non-symbolic text fonts (letters map via the single-char rule)
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "dagger": "†", "daggerdbl": "‡", "ellipsis": "…",
    "fi": "ﬁ", "fl": "ﬂ", "ff": "ﬀ", "ffi": "ﬃ",
    "ffl": "ﬄ", "germandbls": "ß", "ae": "æ", "AE": "Æ",
    "oe": "œ", "OE": "Œ", "oslash": "ø", "Oslash": "Ø",
    "aring": "å", "Aring": "Å", "ccedilla": "ç", "Ccedilla": "Ç",
    "eacute": "é", "egrave": "è", "ecircumflex": "ê", "edieresis": "ë",
    "aacute": "á", "agrave": "à", "acircumflex": "â", "adieresis": "ä",
    "iacute": "í", "igrave": "ì", "icircumflex": "î", "idieresis": "ï",
    "oacute": "ó", "ograve": "ò", "ocircumflex": "ô", "odieresis": "ö",
    "uacute": "ú", "ugrave": "ù", "ucircumflex": "û", "udieresis": "ü",
    "ntilde": "ñ", "atilde": "ã", "otilde": "õ", "yacute": "ý",
    "ydieresis": "ÿ", "cent": "¢", "sterling": "£", "yen": "¥",
    "euro": "€", "section": "§", "paragraph": "¶",
    "copyright": "©", "registered": "®", "trademark": "™",
    "degree": "°", "plusminus": "±", "multiply": "×", "divide": "÷",
    "minus": "−", "fraction": "⁄", "florin": "ƒ",
    "dotlessi": "ı", "circumflex": "ˆ", "tilde": "˜", "macron": "¯",
    "breve": "˘", "dotaccent": "˙", "ring": "˚", "cedilla": "¸",
    "hungarumlaut": "˝", "ogonek": "˛", "caron": "ˇ",
    "guillemotleft": "«", "guillemotright": "»", "guilsinglleft": "‹",
    "guilsinglright": "›", "exclamdown": "¡", "questiondown": "¿",
    "periodcentered": "·", "brokenbar": "¦", "nbspace": " ",
}


def _glyph_to_unicode(name: str) -> Optional[str]:
    if len(name) == 1:
        return name
    if name in _AGL:
        return _AGL[name]
    if name.startswith("uni") and len(name) >= 7:
        try:
            return chr(int(name[3:7], 16))
        except ValueError:
            return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        try:
            return chr(int(name[1:], 16))
        except ValueError:
            return None
    return None


_HEXSTR_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def parse_tounicode(data: bytes) -> dict[int, str]:
    """ToUnicode CMap → {code: unicode string} (bfchar + bfrange)."""
    out: dict[int, str] = {}

    def _hex2int(h: bytes) -> int:
        h = re.sub(rb"\s", b"", h)
        return int(h, 16) if h else 0

    def _hex2str(h: bytes) -> str:
        h = re.sub(rb"\s", b"", h)
        if len(h) % 4:  # pad odd utf-16 hex
            h = h.ljust((len(h) + 3) // 4 * 4, b"0")
        try:
            return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "ignore")
        except ValueError:
            return ""

    for m in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.DOTALL):
        body = m.group(1)
        toks = _HEXSTR_RE.findall(body)
        for k in range(0, len(toks) - 1, 2):
            out[_hex2int(toks[k])] = _hex2str(toks[k + 1])
    for m in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.DOTALL):
        body = m.group(1)
        i = 0
        n = len(body)
        while i < n:
            lo_m = _HEXSTR_RE.search(body, i)
            if not lo_m:
                break
            hi_m = _HEXSTR_RE.search(body, lo_m.end())
            if not hi_m:
                break
            lo, hi = _hex2int(lo_m.group(1)), _hex2int(hi_m.group(1))
            j = _skip_ws(body, hi_m.end())
            if j < n and body[j] == 0x5B:  # [ dst dst ... ]
                end = body.find(b"]", j)
                dsts = _HEXSTR_RE.findall(body[j:end if end > 0 else n])
                for k, d in enumerate(dsts):
                    if lo + k <= hi:
                        out[lo + k] = _hex2str(d)
                i = (end + 1) if end > 0 else n
            else:
                dst_m = _HEXSTR_RE.search(body, j)
                if not dst_m:
                    break
                base = dst_m.group(1)
                base_str = _hex2str(base)
                if hi - lo > 65535:
                    hi = lo + 65535
                if base_str:
                    base_cp = ord(base_str[-1])
                    prefix = base_str[:-1]
                    for k in range(hi - lo + 1):
                        out[lo + k] = prefix + chr(base_cp + k)
                i = dst_m.end()
    return out


class Font:
    """Per-font byte→(unicode, width/1000) decoder."""

    def __init__(self, doc: PdfDocument, fd: dict):
        self.doc = doc
        fd = {k: doc.resolve(v) for k, v in fd.items()}
        self.subtype = str(fd.get("Subtype", ""))
        self.two_byte = False
        self.tounicode: dict[int, str] = {}
        self.enc_map: dict[int, str] = {}
        self.widths: dict[int, float] = {}
        self.default_width = 500.0
        self.ascent = 0.8
        self.descent = -0.2

        tu = fd.get("ToUnicode")
        if isinstance(tu, Stream):
            try:
                self.tounicode = parse_tounicode(doc.decode_stream(tu))
            except Exception:
                self.tounicode = {}

        desc = None
        if self.subtype == "Type0":
            self.two_byte = True  # Identity-H/V and CMap streams: 2-byte CIDs
            dfonts = doc.resolve(fd.get("DescendantFonts")) or []
            d0 = doc.resolve(dfonts[0]) if dfonts else {}
            d0 = d0 if isinstance(d0, dict) else {}
            self.default_width = float(doc.resolve(d0.get("DW", 1000)) or 1000)
            self._parse_cid_widths(doc.resolve(d0.get("W")) or [])
            desc = doc.resolve(d0.get("FontDescriptor"))
            # CIDToGIDMap irrelevant for text; /Encoding CMap assumed identity
        else:
            first = doc.resolve(fd.get("FirstChar"))
            widths = doc.resolve(fd.get("Widths"))
            if isinstance(first, int) and isinstance(widths, list):
                for k, w in enumerate(widths):
                    w = doc.resolve(w)
                    if isinstance(w, (int, float)):
                        self.widths[first + k] = float(w)
            self._parse_simple_encoding(fd.get("Encoding"))
            desc = doc.resolve(fd.get("FontDescriptor"))
        if isinstance(desc, dict):
            mw = doc.resolve(desc.get("MissingWidth"))
            if isinstance(mw, (int, float)):
                self.default_width = float(mw) or self.default_width
            a = doc.resolve(desc.get("Ascent"))
            d = doc.resolve(desc.get("Descent"))
            if isinstance(a, (int, float)) and a:
                self.ascent = max(0.2, min(2.0, float(a) / 1000.0))
            if isinstance(d, (int, float)) and d:
                self.descent = max(-1.0, min(0.0, float(d) / 1000.0))

    def _parse_cid_widths(self, w: list) -> None:
        i = 0
        n = len(w)
        while i < n:
            c = self.doc.resolve(w[i])
            if not isinstance(c, (int, float)):
                i += 1
                continue
            if i + 1 < n:
                nxt = self.doc.resolve(w[i + 1])
                if isinstance(nxt, list):
                    for k, ww in enumerate(nxt):
                        ww = self.doc.resolve(ww)
                        if isinstance(ww, (int, float)):
                            self.widths[int(c) + k] = float(ww)
                    i += 2
                    continue
                if i + 2 < n and isinstance(nxt, (int, float)):
                    ww = self.doc.resolve(w[i + 2])
                    if isinstance(ww, (int, float)):
                        c2 = int(nxt)
                        if c2 - int(c) <= 65535:
                            for code in range(int(c), c2 + 1):
                                self.widths[code] = float(ww)
                    i += 3
                    continue
            i += 1

    def _parse_simple_encoding(self, enc: Any) -> None:
        enc = self.doc.resolve(enc)
        base = "WinAnsiEncoding"
        diffs = None
        if isinstance(enc, Name) or isinstance(enc, str):
            base = str(enc)
        elif isinstance(enc, dict):
            base = str(self.doc.resolve(enc.get("BaseEncoding")) or base)
            diffs = self.doc.resolve(enc.get("Differences"))
        codec = {
            "WinAnsiEncoding": "cp1252",
            "MacRomanEncoding": "mac_roman",
            "StandardEncoding": "cp1252",  # close enough for text
            "PDFDocEncoding": "cp1252",
        }.get(base, "cp1252")
        for code in range(256):
            try:
                ch = bytes([code]).decode(codec)
            except (UnicodeDecodeError, ValueError):
                continue
            self.enc_map[code] = ch
        if isinstance(diffs, list):
            cur = 0
            for item in diffs:
                item = self.doc.resolve(item)
                if isinstance(item, (int, float)):
                    cur = int(item)
                elif isinstance(item, (Name, str)):
                    u = _glyph_to_unicode(str(item))
                    if u is not None:
                        self.enc_map[cur] = u
                    else:
                        self.enc_map.pop(cur, None)
                    cur += 1

    def decode(self, raw: bytes) -> list[tuple[int, str, float]]:
        """→ [(code, unicode_text, width/1000)] per shown glyph."""
        out = []
        if self.two_byte:
            for k in range(0, len(raw) - 1, 2):
                code = (raw[k] << 8) | raw[k + 1]
                u = self.tounicode.get(code)
                if u is None:
                    u = "�" if code else ""
                out.append((code, u, self.widths.get(code, self.default_width)))
        else:
            for b in raw:
                u = self.tounicode.get(b)
                if u is None:
                    u = self.enc_map.get(b)
                if u is None:
                    u = "�"
                out.append((b, u, self.widths.get(b, self.default_width)))
        return out


# ---------------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------------


def _mat_mul(a, b):
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


_IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


@dataclass(slots=True)
class _Glyph:
    x0: float
    y0: float
    x1: float
    y1: float
    baseline: float
    size: float
    text: str


class _TextState:
    __slots__ = ("font", "size", "char_sp", "word_sp", "hscale", "leading",
                 "rise", "render", "tm", "tlm")

    def __init__(self):
        self.font: Optional[Font] = None
        self.size = 0.0
        self.char_sp = 0.0
        self.word_sp = 0.0
        self.hscale = 1.0
        self.leading = 0.0
        self.rise = 0.0
        self.render = 0
        self.tm = _IDENT
        self.tlm = _IDENT


class ContentInterpreter:
    """Executes one page's content streams, emitting positioned glyphs."""

    MAX_GLYPHS = 500_000

    def __init__(self, doc: PdfDocument, resources: dict):
        self.doc = doc
        self.glyphs: list[_Glyph] = []
        self._font_cache = doc._font_cache  # shared across pages
        self._res_stack: list[dict] = [
            resources if isinstance(resources, dict) else {}
        ]

    # -- resources -----------------------------------------------------------

    def _font(self, name: str) -> Optional[Font]:
        res = self._res_stack[-1]
        fonts = self.doc.resolve(res.get("Font"))
        if not isinstance(fonts, dict):  # corrupt bytes: /Font resolved to junk
            fonts = {}
        fd = fonts.get(name)
        # Refs key by object number; inline dicts by id() — the cached entry
        # pins fd so a freed dict's id can never alias into a stale hit
        key = ("r", fd.num) if isinstance(fd, Ref) else ("i", id(fd))
        hit = self._font_cache.get(key)
        if hit is not None:
            return hit[1]
        pin = fd
        fd = self.doc.resolve(fd)
        font = Font(self.doc, fd) if isinstance(fd, dict) else None
        self._font_cache[key] = (pin if not isinstance(pin, Ref) else fd, font)
        return font

    def _xobject(self, name: str):
        res = self._res_stack[-1]
        xo = self.doc.resolve(res.get("XObject"))
        if not isinstance(xo, dict):
            return None
        return self.doc.resolve(xo.get(name))

    # -- main loop -----------------------------------------------------------

    def run(self, content: bytes, ctm, depth: int = 0) -> None:
        if depth > 8 or len(self.glyphs) >= self.MAX_GLYPHS:
            return
        stack: list = []
        gs_stack: list = []
        ts = _TextState()
        i = 0
        n = len(content)
        while i < n:
            tok, i = _lex(content, i)
            if tok is None:
                break
            if not isinstance(tok, Keyword):
                v, i = _parse_from(content, tok, i)
                stack.append(v)
                continue
            if tok in ("<<", "["):
                v, i = _parse_from(content, tok, i)
                stack.append(v)
                continue
            op = str(tok)
            try:
                if op == "q":
                    gs_stack.append(ctm)
                elif op == "Q":
                    if gs_stack:
                        ctm = gs_stack.pop()
                elif op == "cm" and len(stack) >= 6:
                    m = tuple(float(x) for x in stack[-6:])
                    ctm = _mat_mul(m, ctm)
                elif op == "BT":
                    ts.tm = _IDENT
                    ts.tlm = _IDENT
                elif op == "ET":
                    pass
                elif op == "Tf" and len(stack) >= 2:
                    ts.size = float(stack[-1])
                    ts.font = self._font(str(stack[-2]))
                elif op == "Tc" and stack:
                    ts.char_sp = float(stack[-1])
                elif op == "Tw" and stack:
                    ts.word_sp = float(stack[-1])
                elif op == "Tz" and stack:
                    ts.hscale = float(stack[-1]) / 100.0
                elif op == "TL" and stack:
                    ts.leading = float(stack[-1])
                elif op == "Ts" and stack:
                    ts.rise = float(stack[-1])
                elif op == "Tr" and stack:
                    ts.render = int(stack[-1])
                elif op == "Td" and len(stack) >= 2:
                    ts.tlm = _mat_mul(
                        (1, 0, 0, 1, float(stack[-2]), float(stack[-1])), ts.tlm
                    )
                    ts.tm = ts.tlm
                elif op == "TD" and len(stack) >= 2:
                    ts.leading = -float(stack[-1])
                    ts.tlm = _mat_mul(
                        (1, 0, 0, 1, float(stack[-2]), float(stack[-1])), ts.tlm
                    )
                    ts.tm = ts.tlm
                elif op == "Tm" and len(stack) >= 6:
                    ts.tlm = tuple(float(x) for x in stack[-6:])
                    ts.tm = ts.tlm
                elif op == "T*":
                    ts.tlm = _mat_mul((1, 0, 0, 1, 0.0, -ts.leading), ts.tlm)
                    ts.tm = ts.tlm
                elif op == "Tj" and stack:
                    self._show(stack[-1], ts, ctm)
                elif op == "'" and stack:
                    ts.tlm = _mat_mul((1, 0, 0, 1, 0.0, -ts.leading), ts.tlm)
                    ts.tm = ts.tlm
                    self._show(stack[-1], ts, ctm)
                elif op == '"' and len(stack) >= 3:
                    ts.word_sp = float(stack[-3])
                    ts.char_sp = float(stack[-2])
                    ts.tlm = _mat_mul((1, 0, 0, 1, 0.0, -ts.leading), ts.tlm)
                    ts.tm = ts.tlm
                    self._show(stack[-1], ts, ctm)
                elif op == "TJ" and stack and isinstance(stack[-1], list):
                    for item in stack[-1]:
                        if isinstance(item, bytes):
                            self._show(item, ts, ctm)
                        elif isinstance(item, (int, float)):
                            tx = -item / 1000.0 * ts.size * ts.hscale
                            ts.tm = _mat_mul((1, 0, 0, 1, tx, 0.0), ts.tm)
                elif op == "Do" and stack:
                    xo = self._xobject(str(stack[-1]))
                    if (
                        isinstance(xo, Stream)
                        and str(self.doc.resolve(xo.dict.get("Subtype"))) == "Form"
                    ):
                        m = self.doc.resolve(xo.dict.get("Matrix")) or _IDENT
                        inner = _mat_mul(tuple(float(x) for x in m), ctm)
                        res = self.doc.resolve(xo.dict.get("Resources"))
                        self._res_stack.append(
                            res if isinstance(res, dict) else self._res_stack[-1]
                        )
                        try:
                            self.run(self.doc.decode_stream(xo), inner, depth + 1)
                        finally:
                            self._res_stack.pop()
                elif op == "BI":
                    # inline image: skip to EI bounded by whitespace
                    m = re.search(rb"\sEI(?=[\s\]/<(]|$)", content[i:])
                    i = i + m.end() if m else n
            except (ValueError, TypeError, IndexError):
                pass
            # postfix semantics: every operator consumes its operands
            stack.clear()

    # -- glyph emission --------------------------------------------------------

    def _show(self, raw: Any, ts: _TextState, ctm) -> None:
        if not isinstance(raw, bytes) or ts.font is None or ts.size == 0:
            return
        if ts.render == 3:  # invisible text (OCR underlays) — reference's
            pass  # pdfium extracts it too; keep it
        font = ts.font
        glyphs = self.glyphs
        if len(glyphs) >= self.MAX_GLYPHS:
            return
        asc, desc = font.ascent, font.descent
        # the glyph loop is the kernel hot path: the full per-glyph
        # trm = S×tm, m = trm×ctm mat-muls are hoisted by observing that
        # only tm's translation (e, f) advances between glyphs — every
        # surviving arithmetic expression below is the _mat_mul term order
        # (a point maps as x*m0 + y*m2 + m4, x*m1 + y*m3 + m5) with literal
        # zero terms dropped, so results stay bit-identical to the naive
        # form (parity suites pin this)
        b0, b1, b2, b3, e, f = ts.tm
        p = ts.size * ts.hscale
        q = ts.size
        r = ts.rise
        t0 = p * b0
        t1 = p * b1
        t2 = q * b2
        t3 = q * b3
        c0, c1, c2, c3, c4, c5 = ctm
        m0 = t0 * c0 + t1 * c2
        m1 = t0 * c1 + t1 * c3
        m2 = t2 * c0 + t3 * c2
        m3 = t2 * c1 + t3 * c3
        size_dev = abs(m3) + abs(m1)
        rb2 = r * b2
        rb3 = r * b3
        char_sp = ts.char_sp
        word_sp = ts.word_sp
        hscale = ts.hscale
        size = ts.size
        two_byte = font.two_byte
        try:
            for code, u, w1000 in font.decode(raw):
                w0 = w1000 / 1000.0
                tr4 = rb2 + e
                tr5 = rb3 + f
                m4 = tr4 * c0 + tr5 * c2 + c4
                m5 = tr4 * c1 + tr5 * c3 + c5
                # glyph box in text space: (0, desc)..(w0, asc)
                xa = desc * m2 + m4
                ya = desc * m3 + m5
                xb = w0 * m0 + asc * m2 + m4
                yb = w0 * m1 + asc * m3 + m5
                by = m5
                tx = (
                    w0 * size
                    + char_sp
                    + (word_sp if (code == 32 and not two_byte) else 0.0)
                ) * hscale
                e = tx * b0 + e
                f = tx * b1 + f
                if u:
                    glyphs.append(
                        _Glyph(
                            min(xa, xb), min(ya, yb), max(xa, xb),
                            max(ya, yb), by, size_dev, u,
                        )
                    )
        finally:
            ts.tm = (b0, b1, b2, b3, e, f)


# ---------------------------------------------------------------------------
# page → text cells
# ---------------------------------------------------------------------------

# cell assembly thresholds (em units of the current glyph size): chars whose
# gap is below GAP_CONT continue the run with no space; wider gaps split the
# cell — the downstream merge (pdfish_extract.merge_row) re-joins cells with
# a single space when the gap ≤ the average cell height, which is exactly
# the reference's merge_horizontal_cells rule
GAP_CONT = 0.24
BASELINE_TOL = 0.4
SPACE_GAP = 0.18  # gap > 0.18 em inside a cell = kerning-encoded word space


_RTL_RE = __import__("re").compile(
    "[֐-ࣿיִ-﷿ﹰ-﻿]"
)
_LTR_RE = __import__("re").compile(r"[A-Za-z0-9]")
_NEUTRAL_OK = frozenset(" .,:%/+-")
_MIRROR = str.maketrans("()[]{}<>", ")(][}{><")


def _logical_order(entries: list[str]) -> str:
    """Visual → logical reorder for RTL cells (docling-parse emits textline
    cells in LOGICAL order; PDF content streams place glyphs visually).

    Entry-level, not character-level: each entry is one glyph's ToUnicode
    expansion, so multi-char ligature expansions (lam-alef → "لا") keep
    their internal logical order through the reversal. Maximal LTR runs
    (Latin/digit glyphs plus neutrals BETWEEN them) are un-reversed back to
    visual order; paired brackets outside LTR runs mirror back."""
    text = "".join(entries)
    if not _RTL_RE.search(text):
        return text
    rev = entries[::-1]
    out: list[str] = []
    i, n = 0, len(rev)
    while i < n:
        e = rev[i]
        if _LTR_RE.search(e):
            k = i
            while k + 1 < n:
                nxt = k + 1
                if _LTR_RE.search(rev[nxt]):
                    k = nxt
                    continue
                m = nxt
                while (
                    m < n
                    and not _LTR_RE.search(rev[m])
                    and not _RTL_RE.search(rev[m])
                    and all(ch in _NEUTRAL_OK for ch in rev[m])
                ):
                    m += 1
                if m < n and _LTR_RE.search(rev[m]):
                    k = m
                else:
                    break
            out.extend(rev[i : k + 1][::-1])
            i = k + 1
        else:
            out.append(e if _RTL_RE.search(e) else e.translate(_MIRROR))
            i += 1
    return "".join(out)


def _merge_ltr_chains(
    cells: list[tuple[float, float, float, float, str]],
) -> list[tuple[float, float, float, float, str]]:
    """Order-preserving merge of x-adjacent LTR-safe cell fragments.

    RTL content streams often emit the pieces of an embedded LTR run
    (dates "1403/09/19", percentages "%50") as interleaved text objects,
    so in-emission-order assembly leaves them as separate fragments even
    though they are contiguous on the page; docling-parse's groundtruth
    has them as one logical cell. Full x-sorting before assembly is NOT an
    option (it destroys line grouping — measured 0.99 → 0.11 on
    amt_handbook), so this pass only merges chains of same-baseline,
    x-adjacent (gap ≤ GAP_CONT em) cells that contain NO RTL characters,
    in x order, placing the merged cell at the earliest member's emission
    position — every other cell keeps its emission order (rtl_03 textline
    sim 0.93 → 0.98; no effect on any other fixture).
    """
    n = len(cells)
    ltr = [
        i
        for i, c in enumerate(cells)
        if c[4].strip() and not _RTL_RE.search(c[4])
    ]
    used: set[int] = set()
    chains: list[list[int]] = []
    for i in sorted(ltr, key=lambda i: (cells[i][1], cells[i][0])):
        if i in used:
            continue
        h_i = cells[i][3] - cells[i][1]
        line = [
            j
            for j in ltr
            if j not in used
            and abs(cells[j][1] - cells[i][1])
            < 0.4 * max(h_i, cells[j][3] - cells[j][1])
        ]
        line.sort(key=lambda j: cells[j][0])
        chain = [line[0]]
        for j in line[1:]:
            prev = chain[-1]
            h = max(
                cells[prev][3] - cells[prev][1],
                cells[j][3] - cells[j][1],
                1e-6,
            )
            gap = cells[j][0] - cells[prev][2]
            if -0.6 * h <= gap <= GAP_CONT * h:
                chain.append(j)
            else:
                if len(chain) > 1:
                    chains.append(chain)
                chain = [j]
        if len(chain) > 1:
            chains.append(chain)
        used.update(line)
    drop: set[int] = set()
    out = {i: c for i, c in enumerate(cells)}
    for chain in chains:
        first = min(chain)
        x0 = min(cells[j][0] for j in chain)
        x1 = max(cells[j][2] for j in chain)
        y0 = min(cells[j][1] for j in chain)
        y1 = max(cells[j][3] for j in chain)
        h = max(y1 - y0, 1e-6)
        parts: list[str] = []
        prev = None
        for j in sorted(chain, key=lambda j: cells[j][0]):
            if prev is not None and cells[j][0] - cells[prev][2] > SPACE_GAP * h:
                parts.append(" ")
            parts.append(cells[j][4])
            prev = j
        out[first] = (x0, y0, x1, y1, "".join(parts))
        drop.update(j for j in chain if j != first)
    return [out[i] for i in range(n) if i not in drop]


# shadow-glyph suppression: a glyph re-rendered at (nearly) the same spot as
# the previous identical glyph is a double-render (fake-bold / kashida
# elongation artifacts), not a second character — pdfium's text page drops
# these, so the reference's textline groundtruth never contains them. Drop
# when the same unicode repeats within SHADOW_OVERLAP of the previous
# glyph's width on the same baseline (rtl_02 textline sim 0.79 → 0.91; no
# effect on any other fixture).
SHADOW_OVERLAP = 0.25


def _drop_shadow_glyphs(glyphs: list[_Glyph]) -> list[_Glyph]:
    out: list[_Glyph] = []
    for g in glyphs:
        if out:
            p = out[-1]
            if (
                g.text == p.text
                and abs(g.y0 - p.y0) < 0.3
                and abs(g.x0 - p.x0) < SHADOW_OVERLAP * max(p.x1 - p.x0, 1e-6)
            ):
                continue
        out.append(g)
    return out


def _assemble_cells(glyphs: list[_Glyph]) -> list[tuple[float, float, float, float, str]]:
    glyphs = _drop_shadow_glyphs(glyphs)
    cells = []
    cur: Optional[list] = None  # [x0,y0,x1,y1,baseline,size,chars]
    for g in glyphs:
        if g.text.isspace():
            # explicit space: terminate nothing, but record the advance gap
            if cur is not None:
                cur[6].append(" ")
                cur[2] = max(cur[2], g.x1)
            continue
        if cur is not None:
            same_line = abs(g.baseline - cur[4]) <= BASELINE_TOL * max(
                cur[5], g.size, 1e-6
            )
            gap = g.x0 - cur[2]
            if same_line and -0.6 * cur[5] <= gap <= GAP_CONT * max(
                cur[5], g.size, 1e-6
            ):
                if (
                    gap > SPACE_GAP * max(cur[5], g.size)
                    and cur[6]
                    and cur[6][-1] != " "
                ):
                    # word space encoded as a TJ kerning displacement, not a
                    # space glyph (pdfium synthesizes these too): a gap over
                    # ~0.18 em between letter boxes is a word break
                    cur[6].append(" ")
                cur[0] = min(cur[0], g.x0)
                cur[1] = min(cur[1], g.y0)
                cur[2] = max(cur[2], g.x1)
                cur[3] = max(cur[3], g.y1)
                cur[5] = max(cur[5], g.size)
                cur[6].append(g.text)
                continue
            cells.append(cur)
        cur = [g.x0, g.y0, g.x1, g.y1, g.baseline, g.size, [g.text]]
    if cur is not None:
        cells.append(cur)
    out = []
    for c in cells:
        text = _logical_order(c[6]).strip()
        if text:
            out.append((c[0], c[1], c[2], c[3], text))
    return out


@untrusted_pdf
def decode_pdf_pages(data: bytes):
    """bytes → (cells, pages) in the parse_cell_dump contract: cells are
    (page_no, x0, y0, x1, y1, text) with TOP-LEFT origin; pages maps
    page_no → (width, height)."""
    doc = PdfDocument(data)
    all_cells = []
    page_dims: dict[int, tuple[float, float]] = {}
    for pno, page in enumerate(doc.pages(), start=1):
        media = [float(x) for x in (doc.resolve(page.get("MediaBox")) or [0, 0, 612, 792])]
        crop = doc.resolve(page.get("CropBox"))
        box = media
        if isinstance(crop, list) and len(crop) == 4:
            c = [float(x) for x in crop]
            box = [
                max(min(c[0], c[2]), min(media[0], media[2])),
                max(min(c[1], c[3]), min(media[1], media[3])),
                min(max(c[0], c[2]), max(media[0], media[2])),
                min(max(c[1], c[3]), max(media[1], media[3])),
            ]
        x_off, y_off = box[0], box[1]
        width, height = box[2] - box[0], box[3] - box[1]
        rotate = int(doc.resolve(page.get("Rotate")) or 0) % 360
        if rotate in (90, 270):
            page_dims[pno] = (height, width)
        else:
            page_dims[pno] = (width, height)
        resources = doc.resolve(page.get("Resources")) or {}
        interp = ContentInterpreter(doc, resources)
        try:
            content = doc.page_content(page)
        except PdfError:
            continue
        interp.run(content, _IDENT)

        def norm(x0, y0, x1, y1):
            """Crop-box offset, page rotation, flip to top-left origin."""
            x0, y0, x1, y1 = x0 - x_off, y0 - y_off, x1 - x_off, y1 - y_off
            if rotate == 90:
                x0, y0, x1, y1 = y0, x0, y1, x1
                x0, y0, x1, y1 = x0, width - y1, x1, width - y0
                pw, ph = height, width
            elif rotate == 180:
                x0, y0, x1, y1 = width - x1, height - y1, width - x0, height - y0
                pw, ph = width, height
            elif rotate == 270:
                x0, y0, x1, y1 = height - y1, x0, height - y0, x1
                pw, ph = height, width
            else:
                pw, ph = width, height
            return x0, ph - y1, x1, ph - y0

        for x0, y0, x1, y1, text in _merge_ltr_chains(
            _assemble_cells(interp.glyphs)
        ):
            nx0, top0, nx1, top1 = norm(x0, y0, x1, y1)
            all_cells.append((pno, nx0, top0, nx1, top1, text))
    return all_cells, page_dims
