"""From-scratch VP8L (lossless WebP) bitstream decoder — stdlib + numpy.

Same approach as the %PDF (functions/pdf_decode.py) and T.81 JPEG
(functions/media_decode.py) decoders: the public spec (RFC 9649, "WebP
Image Format"), implemented directly, no codec libraries.

Coverage — the full lossless feature set:

- LSB-first bit reader, 14-bit dimensions header
- canonical prefix codes: "simple" (1-2 symbol) and code-length-coded
  forms, incl. the 16/17/18 repeat symbols and the max_symbol short-circuit
- color cache (1-11 bits, 0x1e35a7bd multiplier hash)
- meta prefix images (per-tile prefix-code groups)
- LZ77 backward references: 120-entry 2-D distance map + plain distances,
  prefix + extra-bits coding for lengths and distance codes
- all four transforms, inverse-applied in reverse read order:
  PREDICTOR (14 modes incl. Select and ClampAddSubtractHalf), COLOR
  (signed 3.5 fixed-point cross-channel deltas), SUBTRACT_GREEN, and
  COLOR_INDEXING (palette with delta-coded entries and sub-byte pixel
  bundling for palettes of ≤16 colors)

The reference accepts image/webp inputs (docling/datamodel/base_models.py:
82,112); its own fixture is a LOSSY VP8 keyframe, whose pixel decode is
genuinely codec-bound (boolean arithmetic coder + DCT + loop filter ≈ a
full video codec) — that path stays header-only (see
media_decode.decode_webp), which is still enough to reproduce the
reference groundtruth's page geometry for the fixture.

Decoded output is an ARGB uint32 numpy array of shape (height, width);
``media_decode.decode_webp`` reduces it to the (width, height, mean_luma)
feature contract shared by all image decoders.
"""

from __future__ import annotations

import numpy as np

from doc_parser_spark.functions.media_decode import (
    MediaDecodeError,
    _check_cpu_budget,
)

# ---------------------------------------------------------------------------
# bit reader (LSB-first within each byte, bytes in stream order)
# ---------------------------------------------------------------------------


class BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise MediaDecodeError("VP8L: bitstream exhausted")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def peek(self, n: int) -> int:
        """Next n bits WITHOUT consuming; past-the-end bits read as 0 (a
        code resolved from padding then over-consumed still raises in
        consume, preserving the truncation error)."""
        while self.nbits < n and self.pos < len(self.data):
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        return self.acc & ((1 << n) - 1)

    def consume(self, n: int) -> None:
        if n > self.nbits:
            raise MediaDecodeError("VP8L: bitstream exhausted")
        self.acc >>= n
        self.nbits -= n


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13,
                      14, 15, 16)


class PrefixCode:
    """Canonical prefix code (deflate-style assignment: codes of the same
    length are consecutive, shorter codes numerically precede; bits arrive
    MSB-of-code-first from the LSB-first reader), decoded by a peek table:
    one ``peek(max_len)`` + one list index per symbol instead of a
    per-bit dict walk (~4× on the entropy loop)."""

    __slots__ = ("single", "lut", "max_len")

    def __init__(self, lengths: list[int]):
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise MediaDecodeError("VP8L: empty prefix code")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.lut = None
            self.max_len = 0
            return
        self.single = None
        max_len = max(l for l, _ in nz)
        if max_len > 15:
            raise MediaDecodeError("VP8L: code length > 15")
        count = [0] * (max_len + 1)
        for l, _ in nz:
            count[l] += 1
        code = 0
        next_code = [0] * (max_len + 2)
        for l in range(1, max_len + 1):
            code = (code + count[l - 1]) << 1
            next_code[l] = code
        self.max_len = max_len
        lut = [None] * (1 << max_len)
        assigned = 0
        for l, s in sorted(nz):
            c = next_code[l]
            next_code[l] += 1
            if c >> l:  # over-subscribed: code ran past l bits
                raise MediaDecodeError("VP8L: over-subscribed prefix code")
            # stream order is MSB-of-code-first, reader is LSB-first, so
            # the peeked value holds the code bit-reversed in its low bits
            rev = 0
            for i in range(l):
                rev = (rev << 1) | ((c >> i) & 1)
            entry = (s, l)
            step = 1 << l
            for filler in range(rev, 1 << max_len, step):
                lut[filler] = entry
            assigned += 1
        if assigned != len(nz):  # pragma: no cover - guarded above
            raise MediaDecodeError("VP8L: over-subscribed prefix code")
        self.lut = lut

    def read(self, br: BitReader) -> int:
        if self.single is not None:
            return self.single
        entry = self.lut[br.peek(self.max_len)]
        if entry is None:
            raise MediaDecodeError("VP8L: bad prefix code")
        br.consume(entry[1])
        return entry[0]


def _read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixCode:
    if br.read(1):  # simple code
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read(1)
        if sym0 >= alphabet_size:
            raise MediaDecodeError("VP8L: simple-code symbol out of range")
        code = PrefixCode.__new__(PrefixCode)
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size:
                raise MediaDecodeError("VP8L: simple-code symbol out of range")
            # codes assigned in READ order (code 0 → first symbol), not by
            # canonical symbol sort — they differ when sym0 > sym1
            code.single = None
            code.max_len = 1
            code.lut = [(sym0, 1), (sym1, 1)]
        else:
            code.single = sym0  # 1-symbol code consumes 0 bits
            code.lut = None
            code.max_len = 0
        return code

    # normal: code lengths are themselves prefix-coded
    num_codes = br.read(4) + 4
    if num_codes > len(_CODE_LENGTH_ORDER):
        raise MediaDecodeError("VP8L: bad code-length count")
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)

    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = cl_code.read(br)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if symbol >= alphabet_size:
                    raise MediaDecodeError("VP8L: repeat past alphabet")
                lengths[symbol] = prev_len
                symbol += 1
        elif cl == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
    if symbol > alphabet_size:
        raise MediaDecodeError("VP8L: repeat past alphabet")
    return PrefixCode(lengths)


# ---------------------------------------------------------------------------
# LZ77 prefix + extra-bits value coding (lengths and distance codes)
# ---------------------------------------------------------------------------


def _read_lz77_value(br: BitReader, prefix_symbol: int) -> int:
    if prefix_symbol < 4:
        return prefix_symbol + 1
    extra_bits = (prefix_symbol - 2) >> 1
    offset = (2 + (prefix_symbol & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


# (dx, dy) neighborhood for distance codes 1..120 (RFC 9649 §4.2.2)
_DISTANCE_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _plane_distance(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _DISTANCE_MAP[code - 1]
    return max(1, dy * xsize + dx)


# ---------------------------------------------------------------------------
# entropy-coded image (the workhorse: literals + cache + LZ77)
# ---------------------------------------------------------------------------

_CACHE_MULT = 0x1E35A7BD


def _subsample_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_entropy_image(
    br: BitReader, xsize: int, ysize: int, is_main: bool
) -> np.ndarray:
    """One "spatially coded image" stream → flat uint32 ARGB array of
    xsize*ysize pixels. ``is_main`` gates the meta-prefix header (only the
    top-level ARGB image may carry one)."""
    # color cache
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise MediaDecodeError("VP8L: bad color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    # meta prefix image: per-tile prefix group indices
    meta = None
    meta_bits = 0
    num_groups = 1
    if is_main and br.read(1):
        meta_bits = br.read(3) + 2
        mx = _subsample_size(xsize, meta_bits)
        my = _subsample_size(ysize, meta_bits)
        meta = _decode_entropy_image(br, mx, my, False)
        # group index = (red << 8) | green
        meta = ((meta >> 8) & 0xFFFF).astype(np.int64)
        num_groups = int(meta.max()) + 1 if meta.size else 1

    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(num_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),   # red
            _read_prefix_code(br, 256),   # blue
            _read_prefix_code(br, 256),   # alpha
            _read_prefix_code(br, 40),    # distance
        ))

    npix = xsize * ysize
    out = np.zeros(npix, dtype=np.uint32)
    pos = 0
    group = groups[0]
    mrow_w = _subsample_size(xsize, meta_bits) if meta is not None else 0
    while pos < npix:
        if meta is not None:
            x = pos % xsize
            y = pos // xsize
            group = groups[meta[(y >> meta_bits) * mrow_w + (x >> meta_bits)]]
        g_code, r_code, b_code, a_code, d_code = group
        s = g_code.read(br)
        if s < 256:
            r = r_code.read(br)
            b = b_code.read(br)
            a = a_code.read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            pos += 1
            if cache_size:
                cache[(_CACHE_MULT * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < 280:
            length = _read_lz77_value(br, s - 256)
            dist_code = _read_lz77_value(br, d_code.read(br))
            dist = _plane_distance(dist_code, xsize)
            if dist > pos:
                raise MediaDecodeError("VP8L: backward reference before start")
            if pos + length > npix:
                raise MediaDecodeError("VP8L: backward reference past end")
            for _ in range(length):  # overlap-safe byte-at-a-time copy
                px = int(out[pos - dist])
                out[pos] = px
                pos += 1
                if cache_size:
                    cache[(_CACHE_MULT * px & 0xFFFFFFFF)
                          >> (32 - cache_bits)] = px
        else:
            out[pos] = cache[s - 280]
            pos += 1
    return out


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _channels(px: int) -> tuple[int, int, int, int]:
    return (px >> 24) & 0xFF, (px >> 16) & 0xFF, (px >> 8) & 0xFF, px & 0xFF


def _pack(a: int, r: int, g: int, b: int) -> int:
    return ((a & 0xFF) << 24) | ((r & 0xFF) << 16) | ((g & 0xFF) << 8) | (b & 0xFF)


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_half(c: int, d: int) -> int:
    # C semantics: (c - d) / 2 truncates toward zero
    diff = c - d
    half = diff // 2 if diff >= 0 else -((-diff) // 2)
    return _clamp(c + half)


def _predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    la, lr, lg, lb = _channels(L)
    ta, tr_, tg, tb = _channels(T)
    if mode == 7:
        return _pack((la + ta) // 2, (lr + tr_) // 2, (lg + tg) // 2,
                     (lb + tb) // 2)
    tla, tlr, tlg, tlb = _channels(TL)
    tra, trr, trg, trb = _channels(TR)
    if mode == 5:
        return _pack(
            (((la + tra) // 2) + ta) // 2,
            (((lr + trr) // 2) + tr_) // 2,
            (((lg + trg) // 2) + tg) // 2,
            (((lb + trb) // 2) + tb) // 2,
        )
    if mode == 6:
        return _pack((la + tla) // 2, (lr + tlr) // 2, (lg + tlg) // 2,
                     (lb + tlb) // 2)
    if mode == 8:
        return _pack((tla + ta) // 2, (tlr + tr_) // 2, (tlg + tg) // 2,
                     (tlb + tb) // 2)
    if mode == 9:
        return _pack((ta + tra) // 2, (tr_ + trr) // 2, (tg + trg) // 2,
                     (tb + trb) // 2)
    if mode == 10:
        return _pack(
            ((la + tla) // 2 + (ta + tra) // 2) // 2,
            ((lr + tlr) // 2 + (tr_ + trr) // 2) // 2,
            ((lg + tlg) // 2 + (tg + trg) // 2) // 2,
            ((lb + tlb) // 2 + (tb + trb) // 2) // 2,
        )
    if mode == 11:  # Select
        pa = la + ta - tla
        pr = lr + tr_ - tlr
        pg = lg + tg - tlg
        pb = lb + tb - tlb
        p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
        p_t = abs(pa - ta) + abs(pr - tr_) + abs(pg - tg) + abs(pb - tb)
        return L if p_l < p_t else T
    if mode == 12:  # ClampAddSubtractFull
        return _pack(_clamp(la + ta - tla), _clamp(lr + tr_ - tlr),
                     _clamp(lg + tg - tlg), _clamp(lb + tb - tlb))
    if mode == 13:  # ClampAddSubtractHalf
        return _pack(
            _cas_half((la + ta) // 2, tla),
            _cas_half((lr + tr_) // 2, tlr),
            _cas_half((lg + tg) // 2, tlg),
            _cas_half((lb + tb) // 2, tlb),
        )
    raise MediaDecodeError(f"VP8L: bad predictor mode {mode}")


def _inverse_predictor(img: np.ndarray, modes: np.ndarray, bits: int) -> None:
    """In-place inverse predictor transform over the (h, w) ARGB image;
    per-channel modular-256 addition of the prediction."""
    h, w = img.shape
    mrow_w = _subsample_size(w, bits)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(img[0, x - 1])  # top row: L
            elif x == 0:
                pred = int(img[y - 1, 0])  # left column: T
            else:
                mode = (int(modes[(y >> bits) * mrow_w + (x >> bits)])
                        >> 8) & 0xFF
                L = int(img[y, x - 1])
                T = int(img[y - 1, x])
                TL = int(img[y - 1, x - 1])
                # rightmost column: TR is the leftmost pixel of the SAME row
                TR = int(img[y - 1, x + 1]) if x + 1 < w else int(img[y, 0])
                pred = _predict(mode, L, T, TL, TR)
            px = int(img[y, x])
            pa, pr, pg, pb = _channels(px)
            qa, qr, qg, qb = _channels(pred)
            img[y, x] = _pack(pa + qa, pr + qr, pg + qg, pb + qb)


def _ct_delta(t: int, c: int) -> int:
    # signed 3.5 fixed point: (int8(t) * int8(c)) >> 5 with arithmetic shift
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inverse_color_transform(img: np.ndarray, cte: np.ndarray,
                             bits: int) -> None:
    h, w = img.shape
    mrow_w = _subsample_size(w, bits)
    for y in range(h):
        for x in range(w):
            e = int(cte[(y >> bits) * mrow_w + (x >> bits)])
            g2r = e & 0xFF            # stored in blue channel
            g2b = (e >> 8) & 0xFF     # stored in green channel
            r2b = (e >> 16) & 0xFF    # stored in red channel
            px = int(img[y, x])
            a, r, g, b = _channels(px)
            r = (r + _ct_delta(g2r, g)) & 0xFF
            b = (b + _ct_delta(g2b, g) + _ct_delta(r2b, r)) & 0xFF
            img[y, x] = _pack(a, r, g, b)


def _inverse_subtract_green(img: np.ndarray) -> None:
    g = (img >> 8) & 0xFF
    r = ((img >> 16) & 0xFF) + g
    b = (img & 0xFF) + g
    img[...] = (img & np.uint32(0xFF00FF00)) | ((r & 0xFF) << 16) | (b & 0xFF)


def _inverse_color_indexing(img: np.ndarray, palette: np.ndarray,
                            orig_w: int, width_bits: int) -> np.ndarray:
    h, packed_w = img.shape
    idx = ((img >> 8) & 0xFF).astype(np.int64)  # indices ride green
    if width_bits:
        per = 1 << width_bits
        bpe = 8 >> width_bits  # bits per index
        cols = []
        for k in range(per):
            cols.append((idx >> (k * bpe)) & ((1 << bpe) - 1))
        idx = np.stack(cols, axis=2).reshape(h, packed_w * per)[:, :orig_w]
    oob = idx >= len(palette)
    if oob.any():
        # out-of-range palette indices decode as transparent black per spec
        idx = np.where(oob, 0, idx)
        out = palette[idx]
        out[oob.reshape(out.shape)] = 0
        return out
    return palette[idx]


# ---------------------------------------------------------------------------
# top level
# ---------------------------------------------------------------------------

_TRANSFORM_PREDICTOR = 0
_TRANSFORM_COLOR = 1
_TRANSFORM_SUBTRACT_GREEN = 2
_TRANSFORM_COLOR_INDEXING = 3


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload → (height, width) uint32 ARGB array."""
    if not data or data[0] != 0x2F:
        raise MediaDecodeError("not a VP8L stream")
    br = BitReader(data[1:])
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha_is_used hint
    if br.read(3) != 0:
        raise MediaDecodeError("VP8L: bad version")
    if width * height > 100_000_000:
        raise MediaDecodeError("VP8L: implausible dimensions")
    # pure-Python entropy/LZ77/predictor loops: bound declared pixels by the
    # input size so a tiny stream with zero-bit single-symbol codes cannot
    # pin a core for minutes (see media_decode._check_cpu_budget)
    _check_cpu_budget(width, height, len(data), "VP8L")

    # transforms, in read order; pixel data below uses the post-indexing
    # (possibly reduced) width
    cur_w = width
    transforms: list[tuple[int, object]] = []
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise MediaDecodeError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype == _TRANSFORM_PREDICTOR or ttype == _TRANSFORM_COLOR:
            bits = br.read(3) + 2
            sub = _decode_entropy_image(
                br, _subsample_size(cur_w, bits), _subsample_size(height, bits),
                False,
            )
            transforms.append((ttype, (bits, sub)))
        elif ttype == _TRANSFORM_SUBTRACT_GREEN:
            transforms.append((ttype, None))
        else:  # COLOR_INDEXING
            table_size = br.read(8) + 1
            raw = _decode_entropy_image(br, table_size, 1, False)
            # palette entries are per-channel delta-coded
            pal = np.zeros(table_size, dtype=np.uint32)
            prev = 0
            for i in range(table_size):
                pa, pr, pg, pb = _channels(prev)
                da, dr, dg, db = _channels(int(raw[i]))
                prev = _pack(pa + da, pr + dr, pg + dg, pb + db)
                pal[i] = prev
            if table_size <= 2:
                width_bits = 3
            elif table_size <= 4:
                width_bits = 2
            elif table_size <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((ttype, (pal, cur_w, width_bits)))
            cur_w = _subsample_size(cur_w, width_bits)

    flat = _decode_entropy_image(br, cur_w, height, True)
    img = flat.reshape(height, cur_w)

    for ttype, arg in reversed(transforms):
        if ttype == _TRANSFORM_COLOR_INDEXING:
            pal, orig_w, width_bits = arg
            img = _inverse_color_indexing(img, pal, orig_w, width_bits)
        elif ttype == _TRANSFORM_SUBTRACT_GREEN:
            _inverse_subtract_green(img)
        elif ttype == _TRANSFORM_COLOR:
            bits, sub = arg
            _inverse_color_transform(img, sub, bits)
        else:
            bits, sub = arg
            _inverse_predictor(img, sub, bits)
    if img.shape != (height, width):
        raise MediaDecodeError("VP8L: decoded geometry mismatch")
    return img
