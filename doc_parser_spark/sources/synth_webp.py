"""Minimal-but-general VP8L (lossless WebP) encoder for oracles and tests.

The counterpart of ``functions/vp8l.py``: closed-form test images are
encoded here and must decode back bit-exactly. The encoder is feature-
complete enough to exercise EVERY decoder path — flat canonical prefix
codes (simple and code-length-coded forms, with the explicit max_symbol
field), color cache, LZ77 backward references (both plain distances and
2-D distance-map codes), meta prefix groups, and all four transforms
(predictor with any of the 14 modes, cross-channel color transform,
subtract-green, palette indexing with sub-byte bundling) — but makes no
attempt at rate optimality (flat code lengths, fixed transform elements).

Output is decodable by functions/vp8l.py; the bitstream layout follows
RFC 9649 so any conformant decoder should accept it too.
"""

from __future__ import annotations

import struct

import numpy as np

from doc_parser_spark.functions.vp8l import (
    _CODE_LENGTH_ORDER,
    _ct_delta,
    _pack,
    _channels,
    _predict,
    _subsample_size,
    _CACHE_MULT,
)


class BitWriter:
    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def write(self, value: int, n: int) -> None:
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def finish(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (length, code), deflate canonical assignment (mirror of the
    decoder's PrefixCode)."""
    nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
    max_len = max(l for l, _ in nz)
    count = [0] * (max_len + 1)
    for l, _ in nz:
        count[l] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for l in range(1, max_len + 1):
        code = (code + count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for l, s in sorted(nz):
        out[s] = (l, next_code[l])
        next_code[l] += 1
    return out


class _Code:
    """Writable prefix code over the used symbols of one alphabet."""

    def __init__(self, used: set[int], alphabet_size: int):
        if not used:
            used = {0}
        self.alphabet_size = alphabet_size
        self.simple = len(used) <= 2 and max(used) < 256
        syms = sorted(used)
        if self.simple:
            self.lengths = None
            self.syms = syms
            self.codes = (
                {syms[0]: (0, 0)} if len(syms) == 1
                else {syms[0]: (1, 0), syms[1]: (1, 1)}
            )
        else:
            nbits = max(1, (len(syms) - 1).bit_length())
            self.lengths = [0] * alphabet_size
            for s in syms:
                self.lengths[s] = nbits
            self.codes = _canonical_codes(self.lengths)

    def emit_header(self, bw: BitWriter) -> None:
        if self.simple:
            bw.write(1, 1)  # simple
            bw.write(len(self.syms) - 1, 1)
            if self.syms[0] < 2 and len(self.syms) == 1:
                bw.write(0, 1)  # 1-bit first symbol
                bw.write(self.syms[0], 1)
            else:
                bw.write(1, 1)  # 8-bit first symbol
                bw.write(self.syms[0], 8)
            if len(self.syms) == 2:
                bw.write(self.syms[1], 8)
            return
        bw.write(0, 1)  # normal
        # code-length code over the length-value alphabet (values used: 0, L)
        used_lens = sorted({l for l in self.lengths if l} | {0})
        cl_lengths = [0] * 19
        if len(used_lens) == 1:
            cl_lengths[used_lens[0]] = 1
        else:
            nbits = max(1, (len(used_lens) - 1).bit_length())
            for v in used_lens:
                cl_lengths[v] = nbits
        # num_code_lengths covers the highest used index in the order table
        max_order_idx = max(
            _CODE_LENGTH_ORDER.index(v) for v in used_lens
        )
        num_codes = max(4, max_order_idx + 1)
        bw.write(num_codes - 4, 4)
        for i in range(num_codes):
            bw.write(cl_lengths[_CODE_LENGTH_ORDER[i]], 3)
        cl_codes = _canonical_codes(cl_lengths)
        max_used = max(s for s, l in enumerate(self.lengths) if l)
        n_entries = max_used + 1
        # explicit max_symbol (exercises that decoder path)
        bw.write(1, 1)
        length_nbits = max(2, ((n_entries - 2).bit_length() + 1) & ~1)
        bw.write((length_nbits - 2) // 2, 3)
        bw.write(n_entries - 2, length_nbits)
        for s in range(n_entries):
            l, c = cl_codes[self.lengths[s]]
            self._emit_msb(bw, l, c)

    @staticmethod
    def _emit_msb(bw: BitWriter, length: int, code: int) -> None:
        # decoder reads MSB-of-code-first from an LSB-first stream → emit
        # the bit-reversed code in ONE write
        rev = 0
        for i in range(length):
            rev = (rev << 1) | ((code >> i) & 1)
        bw.write(rev, length)

    def emit(self, bw: BitWriter, symbol: int) -> None:
        l, c = self.codes[symbol]
        self._emit_msb(bw, l, c)


def _lz77_encode_value(value: int) -> tuple[int, int, int]:
    """value → (prefix_symbol, extra_bits, extra_value); inverse of the
    decoder's _read_lz77_value."""
    if value <= 4:
        return value - 1, 0, 0
    v = value - 1
    hi = v.bit_length() - 1
    extra_bits = hi - 1
    offset = (2 + ((v >> hi) & 1)) << extra_bits
    # symbol such that (2 + (sym & 1)) << ((sym - 2) >> 1) == offset
    sym = 2 * hi + ((v >> (hi - 1)) & 1)
    return sym, extra_bits, value - offset - 1


# ---------------------------------------------------------------------------
# token stream construction
# ---------------------------------------------------------------------------


def _tokenize(
    flat: np.ndarray, xsize: int, cache_bits: int, use_lz77: bool
) -> list[tuple]:
    """Pixel array → tokens: ('lit', a, r, g, b) | ('cache', idx) |
    ('ref', length, dist_code_value). Mirrors the decoder's cache update
    discipline exactly (insert on literal AND on every copied pixel)."""
    n = len(flat)
    flat = [int(v) for v in flat]  # python ints: no per-access numpy boxing
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    tokens: list[tuple] = []
    pos = 0
    while pos < n:
        px = int(flat[pos])
        if use_lz77 and pos >= 1:
            # copy-from-above run (distance-map code 1 → (0,1))
            if pos >= xsize:
                run = 0
                while (pos + run < n and run < 4096
                       and int(flat[pos + run]) == int(flat[pos + run - xsize])):
                    run += 1
                if run >= 3:
                    tokens.append(("ref", run, 1, True))
                    for k in range(run):
                        if cache_size:
                            cpx = int(flat[pos + k])
                            cache[(_CACHE_MULT * cpx & 0xFFFFFFFF)
                                  >> (32 - cache_bits)] = cpx
                    pos += run
                    continue
            # run of the previous pixel (plain distance 1 → code value 121)
            run = 0
            while (pos + run < n and run < 4096
                   and int(flat[pos + run]) == int(flat[pos + run - 1])):
                run += 1
            if run >= 3:
                tokens.append(("ref", run, 121, False))
                for k in range(run):
                    if cache_size:
                        cpx = int(flat[pos + k])
                        cache[(_CACHE_MULT * cpx & 0xFFFFFFFF)
                              >> (32 - cache_bits)] = cpx
                pos += run
                continue
        if cache_size:
            idx = (_CACHE_MULT * px & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[idx] == px:
                tokens.append(("cache", idx))
                pos += 1
                continue
            cache[idx] = px
        a, r, g, b = _channels(px)
        tokens.append(("lit", a, r, g, b))
        pos += 1
    return tokens


def _emit_image_stream(
    bw: BitWriter,
    flat: np.ndarray,
    xsize: int,
    ysize: int,
    is_main: bool,
    cache_bits: int = 0,
    use_lz77: bool = False,
    meta_bits: int | None = None,
) -> None:
    """Emit one entropy-coded image (color cache + [meta groups] + prefix
    codes + token data)."""
    cache_size = (1 << cache_bits) if cache_bits else 0
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)

    n_groups = 1
    group_of_pos = None
    if is_main:
        if meta_bits is not None:
            bw.write(1, 1)
            bw.write(meta_bits - 2, 3)
            mx = _subsample_size(xsize, meta_bits)
            my = _subsample_size(ysize, meta_bits)
            tiles = np.fromfunction(
                lambda y, x: (x + y) % 2, (my, mx), dtype=np.int64
            ).astype(np.uint32)
            # group index rides (red << 8) | green → keep it in green
            _emit_image_stream(bw, (tiles << 8).ravel(), mx, my, False)
            # a 1-tile grid only ever references group 0 — the decoder
            # derives the group count from the max tile value
            n_groups = int(tiles.max()) + 1
            ys, xs = np.divmod(np.arange(xsize * ysize), xsize)
            group_of_pos = (
                ((xs >> meta_bits) + (ys >> meta_bits)) % 2
            ).astype(np.int64)
        else:
            bw.write(0, 1)

    tokens = _tokenize(flat, xsize, cache_bits, use_lz77)

    # positions covered by each token, to map tokens → groups
    green_alpha = 256 + 24 + cache_size
    used = [
        {"g": set(), "r": set(), "b": set(), "a": set(), "d": set()}
        for _ in range(n_groups)
    ]
    pos = 0
    token_groups = []
    for tok in tokens:
        gidx = int(group_of_pos[pos]) if group_of_pos is not None else 0
        token_groups.append(gidx)
        u = used[gidx]
        if tok[0] == "lit":
            _, a, r, g, b = tok
            u["g"].add(g)
            u["r"].add(r)
            u["b"].add(b)
            u["a"].add(a)
            pos += 1
        elif tok[0] == "cache":
            u["g"].add(280 + tok[1])
            pos += 1
        else:
            _, length, dist_value, _above = tok
            lsym, _, _ = _lz77_encode_value(length)
            dsym, _, _ = _lz77_encode_value(dist_value)
            u["g"].add(256 + lsym)
            u["d"].add(dsym)
            pos += length

    codes = []
    for u in used:
        codes.append((
            _Code(u["g"], green_alpha),
            _Code(u["r"] or {0}, 256),
            _Code(u["b"] or {0}, 256),
            _Code(u["a"] or {0}, 256),
            _Code(u["d"] or {0}, 40),
        ))
    for g_c, r_c, b_c, a_c, d_c in codes:
        g_c.emit_header(bw)
        r_c.emit_header(bw)
        b_c.emit_header(bw)
        a_c.emit_header(bw)
        d_c.emit_header(bw)

    for tok, gidx in zip(tokens, token_groups):
        g_c, r_c, b_c, a_c, d_c = codes[gidx]
        if tok[0] == "lit":
            _, a, r, g, b = tok
            g_c.emit(bw, g)
            r_c.emit(bw, r)
            b_c.emit(bw, b)
            a_c.emit(bw, a)
        elif tok[0] == "cache":
            g_c.emit(bw, 280 + tok[1])
        else:
            _, length, dist_value, _above = tok
            lsym, lx, lv = _lz77_encode_value(length)
            g_c.emit(bw, 256 + lsym)
            if lx:
                bw.write(lv, lx)
            dsym, dx, dv = _lz77_encode_value(dist_value)
            d_c.emit(bw, dsym)
            if dx:
                bw.write(dv, dx)


# ---------------------------------------------------------------------------
# transforms (forward)
# ---------------------------------------------------------------------------


def _forward_predictor(img: np.ndarray, bits: int, mode: int) -> np.ndarray:
    """Residual image for a uniform predictor mode (the mode image is
    constant; edge pixels use the spec-forced modes)."""
    h, w = img.shape
    res = np.zeros_like(img)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = int(img[0, x - 1])
            elif x == 0:
                pred = int(img[y - 1, 0])
            else:
                L = int(img[y, x - 1])
                T = int(img[y - 1, x])
                TL = int(img[y - 1, x - 1])
                TR = int(img[y - 1, x + 1]) if x + 1 < w else int(img[y, 0])
                pred = _predict(mode, L, T, TL, TR)
            pa, pr, pg, pb = _channels(int(img[y, x]))
            qa, qr, qg, qb = _channels(pred)
            res[y, x] = _pack(pa - qa, pr - qr, pg - qg, pb - qb)
    return res


def _forward_color_transform(
    img: np.ndarray, g2r: int, g2b: int, r2b: int
) -> np.ndarray:
    out = np.zeros_like(img)
    h, w = img.shape
    for y in range(h):
        for x in range(w):
            a, r, g, b = _channels(int(img[y, x]))
            sr = (r - _ct_delta(g2r, g)) & 0xFF
            sb = (b - _ct_delta(g2b, g) - _ct_delta(r2b, r)) & 0xFF
            out[y, x] = _pack(a, sr, g, sb)
    return out


def _forward_subtract_green(img: np.ndarray) -> np.ndarray:
    g = (img >> np.uint32(8)) & np.uint32(0xFF)
    r = (((img >> np.uint32(16)) & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    b = ((img & np.uint32(0xFF)) - g) & np.uint32(0xFF)
    return (img & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


# ---------------------------------------------------------------------------
# top level
# ---------------------------------------------------------------------------


def encode_vp8l(
    img: np.ndarray,
    *,
    subtract_green: bool = False,
    cache_bits: int = 0,
    use_lz77: bool = False,
    palette: bool = False,
    predictor: tuple[int, int] | None = None,  # (size_bits, mode)
    color_transform: tuple[int, tuple[int, int, int]] | None = None,
    meta_bits: int | None = None,
) -> bytes:
    """(h, w) uint32 ARGB array → VP8L chunk payload."""
    img = img.astype(np.uint32)
    h, w = img.shape
    bw = BitWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if int((img >> 24).min()) < 255 else 0, 1)  # alpha hint
    bw.write(0, 3)  # version

    # forward transforms run in INVERSE of emission order; emit in the order
    # the decoder will read, transform the pixels in reverse of that
    emit_order: list[tuple[int, object]] = []
    if predictor is not None:
        emit_order.append((0, predictor))
    if color_transform is not None:
        emit_order.append((1, color_transform))
    if subtract_green:
        emit_order.append((2, None))
    pal = None
    width_bits = 0
    if palette:
        colors = sorted(set(int(v) for v in img.ravel()))
        if len(colors) > 256:
            raise ValueError("palette transform needs ≤256 distinct colors")
        pal = colors
        if len(colors) <= 2:
            width_bits = 3
        elif len(colors) <= 4:
            width_bits = 2
        elif len(colors) <= 16:
            width_bits = 1
        emit_order.append((3, (pal, width_bits)))

    # decoder applies inverses in REVERSE read order, so the forward chain
    # runs in read order: predictor → color → subtract-green → palette
    data = img.copy()
    for ttype, arg in emit_order:
        if ttype == 2:
            data = _forward_subtract_green(data)
        elif ttype == 1:
            bits, (g2r, g2b, r2b) = arg
            data = _forward_color_transform(data, g2r, g2b, r2b)
        elif ttype == 0:
            bits, mode = arg
            data = _forward_predictor(data, bits, mode)
        else:
            colors, wbits = arg
            lut = {c: i for i, c in enumerate(colors)}
            idx = np.vectorize(lut.__getitem__)(data.astype(np.int64))
            if wbits:
                per = 1 << wbits
                bpe = 8 >> wbits
                packed_w = _subsample_size(w, wbits)
                packed = np.zeros((h, packed_w), dtype=np.uint32)
                for k in range(per):
                    col = idx[:, k::per]
                    packed[:, : col.shape[1]] |= (
                        col.astype(np.uint32) << np.uint32(k * bpe)
                    )
                data = (packed << np.uint32(8)) | np.uint32(0xFF000000)
            else:
                data = ((idx.astype(np.uint32)) << np.uint32(8)) | np.uint32(
                    0xFF000000
                )

    cur_w = data.shape[1]

    for ttype, arg in emit_order:
        bw.write(1, 1)
        bw.write(ttype, 2)
        if ttype == 0:
            bits, mode = arg
            bw.write(bits - 2, 3)
            mx = _subsample_size(cur_w, bits)
            my = _subsample_size(h, bits)
            modes = np.full(mx * my, 0xFF000000 | (mode << 8), dtype=np.uint32)
            _emit_image_stream(bw, modes, mx, my, False)
        elif ttype == 1:
            bits, (g2r, g2b, r2b) = arg
            bw.write(bits - 2, 3)
            mx = _subsample_size(cur_w, bits)
            my = _subsample_size(h, bits)
            cte = np.full(
                mx * my,
                0xFF000000 | ((r2b & 0xFF) << 16) | ((g2b & 0xFF) << 8)
                | (g2r & 0xFF),
                dtype=np.uint32,
            )
            _emit_image_stream(bw, cte, mx, my, False)
        elif ttype == 3:
            colors, wbits = arg
            bw.write(len(colors) - 1, 8)
            deltas = []
            prev = 0
            for c in colors:
                pa, pr, pg, pb = _channels(prev)
                ca, cr, cg, cb = _channels(c)
                deltas.append(_pack(ca - pa, cr - pr, cg - pg, cb - pb))
                prev = c
            _emit_image_stream(
                bw, np.array(deltas, dtype=np.uint32), len(colors), 1, False
            )
    bw.write(0, 1)  # no more transforms

    _emit_image_stream(
        bw, data.ravel(), cur_w, h, True,
        cache_bits=cache_bits, use_lz77=use_lz77, meta_bits=meta_bits,
    )
    return bw.finish()


def encode_webp(img: np.ndarray, **kwargs) -> bytes:
    """ARGB array → complete RIFF/WEBP file with a VP8L chunk."""
    payload = encode_vp8l(img, **kwargs)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) % 2:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def build_webp(doc_id: int) -> bytes:
    """Deterministic closed-form GRAY gradient used by the m8 oracle:
    pixel (x, y) has r = g = b = (doc_id + 3y + 7x) % 256, alpha 255;
    width = 16 + doc_id % 5, height = 12 + doc_id % 7. Grayscale keeps the
    oracle integer-exact across engines (the float-portability rule: BT.601
    luma of (v,v,v) rounds to v at 4 dp — verified over 50k ids — so the
    DuckDB side is avg(v)/255 over integers, no cross-engine float-order
    hazard). Encoded with subtract-green + LZ77 + a color cache so the
    contract query also pins those bitstream paths."""
    w = 16 + doc_id % 5
    h = 12 + doc_id % 7
    x = np.arange(w).reshape(1, w)
    y = np.arange(h).reshape(h, 1)
    v = ((doc_id + 3 * y + 7 * x) % 256).astype(np.uint32)
    img = (
        np.uint32(0xFF000000)
        | (v << np.uint32(16))
        | (v << np.uint32(8))
        | v
    )
    return encode_webp(
        img, subtract_green=True, cache_bits=4, use_lz77=True
    )


# ---------------------------------------------------------------------------
# Minimal lossy VP8 keyframe encoder (RFC 6386) — the counterpart of
# functions/vp8.py, same role this module's VP8L encoder plays for
# functions/vp8l.py: deterministic closed-form oracle streams with no
# external codec.  Scope is deliberately tiny but spec-valid: every MB is
# 16x16 DC_PRED / chroma DC with all-zero residuals EXCEPT macroblock
# (0,0), which carries a single Y2 DC coefficient chosen so the decoded
# frame is a uniform luma V (the Y2/WHT cascade is the one arithmetic
# path a flat image can exercise end-to-end):
#   v2 = 8*(V-128) - 4 at qi=0 (y2dc quant = 8) decodes to
#   dc16 = (v2*8+3)>>3 = 8(V-128)-4, residual = (dc16+4)>>3 = V-128
#   on a 128 DC prediction -> V everywhere; all later MBs skip (their DC
#   prediction already reads V).  Streams decode identically in
#   functions/vp8.py and libwebp (asserted by tests/test_vp8.py).
# ---------------------------------------------------------------------------


class _VP8BoolEnc:
    """RFC 6386 §7.3 boolean encoder (carry-propagating byte list)."""

    def __init__(self):
        self.low = 0
        self.range = 255
        self.count = -24
        self.buf = bytearray()

    def put(self, prob: int, bit: int) -> None:
        split = 1 + (((self.range - 1) * prob) >> 8)
        if bit:
            self.low += split
            self.range -= split
        else:
            self.range = split
        shift = 0
        r = self.range
        while r < 128:
            r <<= 1
            shift += 1
        self.range = r
        self.count += shift
        if self.count >= 0:
            offset = shift - self.count
            if (self.low << (offset - 1)) & 0x80000000:
                x = len(self.buf) - 1
                while x >= 0 and self.buf[x] == 0xFF:
                    self.buf[x] = 0
                    x -= 1
                self.buf[x] += 1
            self.buf.append((self.low >> (24 - offset)) & 0xFF)
            self.low = (self.low << offset) & 0xFFFFFF
            shift = self.count
            self.count -= 8
        self.low = (self.low << shift) & 0xFFFFFFFF

    def literal(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put(128, (value >> i) & 1)

    def stop(self) -> bytes:
        for _ in range(32):
            self.put(128, 0)
        return bytes(self.buf)


def _put_coeff_token(enc, probs_row, value):
    """Write one coefficient token (tree path + extra bits + sign) with
    the §13.2 token tree.  probs_row: the 11 probs for this band/ctx."""
    from doc_parser_spark.functions.vp8_tables import CAT_PROBS

    v = abs(value)
    enc.put(probs_row[0], 1)  # not EOB
    if v == 0:
        enc.put(probs_row[1], 0)
        return
    enc.put(probs_row[1], 1)
    if v == 1:
        enc.put(probs_row[2], 0)
    else:
        enc.put(probs_row[2], 1)
        if v <= 4:
            enc.put(probs_row[3], 0)
            if v == 2:
                enc.put(probs_row[4], 0)
            else:
                enc.put(probs_row[4], 1)
                enc.put(probs_row[5], v == 4)
        else:
            enc.put(probs_row[3], 1)
            for cat in range(6):
                base, cps = CAT_PROBS[cat]
                hi = base + (1 << len(cps)) - 1
                if v <= hi or cat == 5:
                    break
            if cat < 2:
                enc.put(probs_row[6], 0)
                enc.put(probs_row[7], cat == 1)
            elif cat < 4:
                enc.put(probs_row[6], 1)
                enc.put(probs_row[8], 0)
                enc.put(probs_row[9], cat == 3)
            else:
                enc.put(probs_row[6], 1)
                enc.put(probs_row[8], 1)
                enc.put(probs_row[10], cat == 5)
            base, cps = CAT_PROBS[cat]
            extra = v - base
            for i, cp in enumerate(cps):
                enc.put(cp, (extra >> (len(cps) - 1 - i)) & 1)
    enc.put(128, 1 if value < 0 else 0)


def _put_eob(enc, probs_row):
    enc.put(probs_row[0], 0)


def encode_vp8_flat(width: int, height: int, luma: int,
                    n_parts: int = 1) -> bytes:
    """Encode a uniform-luma (chroma 128) VP8 keyframe -> ``VP8 `` chunk
    body.  Decodes to exactly Y=luma everywhere (see module comment)."""
    from doc_parser_spark.functions.vp8_tables import (
        DEFAULT_COEFF_PROBS,
        COEFF_UPDATE_PROBS,
        COEFF_BANDS,
    )

    if not (0 < width <= 0x3FFF and 0 < height <= 0x3FFF):
        raise ValueError("bad dims")
    if not (16 <= luma <= 240):
        raise ValueError("luma out of exactly-representable range")
    mb_w, mb_h = (width + 15) // 16, (height + 15) // 16

    # --- first partition: frame header + per-MB modes
    enc = _VP8BoolEnc()
    enc.put(128, 0)  # color_space
    enc.put(128, 0)  # clamping_type
    enc.put(128, 0)  # segmentation_enabled
    enc.put(128, 0)  # filter_type: normal (level 0 -> unused)
    enc.literal(0, 6)  # filter_level 0: no loop filter
    enc.literal(0, 3)  # sharpness
    enc.put(128, 0)  # lf_delta_enabled
    log2p = {1: 0, 2: 1, 4: 2, 8: 3}[n_parts]
    enc.literal(log2p, 2)
    enc.literal(0, 7)  # y_ac_qi = 0 -> y2dc quant = 2*dc_q[0] = 8
    for _ in range(5):
        enc.put(128, 0)  # all quant deltas absent
    enc.put(128, 1)  # refresh_entropy_probs
    for t in range(4):  # no coefficient probability updates
        for b in range(8):
            for c in range(3):
                for l in range(11):
                    enc.put(COEFF_UPDATE_PROBS[t][b][c][l], 0)
    enc.put(128, 1)  # mb_no_coeff_skip: per-MB skip flags present
    enc.literal(128, 8)  # prob_skip_false
    for mb_y in range(mb_h):
        for mb_x in range(mb_w):
            first = mb_y == 0 and mb_x == 0
            enc.put(128, 0 if first else 1)  # mb_skip_coeff
            # ymode DC_PRED via kf tree: bits 1,0,0 at probs 145,156,163
            enc.put(145, 1)
            enc.put(156, 0)
            enc.put(163, 0)
            enc.put(142, 0)  # uv mode DC_PRED
    part1 = enc.stop()

    # --- token partitions: only MB (0,0) (row 0 -> partition 0) has tokens
    v2 = 8 * (luma - 128) - 4
    tokens = [_VP8BoolEnc() for _ in range(n_parts)]
    te = tokens[0]
    y2_probs = DEFAULT_COEFF_PROBS[1]
    if v2 != 0:
        _put_coeff_token(te, y2_probs[COEFF_BANDS[0]][0], v2)
        _put_eob(te, y2_probs[COEFF_BANDS[1]][2])
    else:
        _put_eob(te, y2_probs[COEFF_BANDS[0]][0])
    y_probs = DEFAULT_COEFF_PROBS[0]  # luma-after-y2, first coeff = 1
    for _ in range(16):
        _put_eob(te, y_probs[COEFF_BANDS[1]][0])
    uv_probs = DEFAULT_COEFF_PROBS[2]
    for _ in range(8):
        _put_eob(te, uv_probs[COEFF_BANDS[0]][0])
    token_bytes = [t.stop() for t in tokens]

    # --- assemble: uncompressed header + part1 + size table + tokens
    tag = (len(part1) << 5) | (1 << 4)  # keyframe, version 0, show_frame
    head = bytes(
        (tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF, 0x9D, 0x01, 0x2A,
         width & 0xFF, width >> 8, height & 0xFF, height >> 8)
    )
    sizes = b"".join(
        struct.pack("<I", len(tb))[:3] for tb in token_bytes[:-1]
    )
    return head + part1 + sizes + b"".join(token_bytes)


def encode_webp_lossy(width: int, height: int, luma: int,
                      n_parts: int = 1) -> bytes:
    body = encode_vp8_flat(width, height, luma, n_parts)
    if len(body) & 1:
        body += b"\0"
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
            + b"VP8 " + struct.pack("<I", len(body)) + body)


def build_webp_lossy(doc_id: int) -> bytes:
    """Deterministic lossy-WebP bytes for the m10 oracle: dims and luma
    are closed-form in doc_id, so the expected (w, h, mean_luma) is
    computable in SQL with no decoding."""
    w = 32 + (doc_id % 5) * 16
    h = 16 + (doc_id % 3) * 16
    luma = 40 + (doc_id * 13) % 180
    return encode_webp_lossy(w, h, luma)
