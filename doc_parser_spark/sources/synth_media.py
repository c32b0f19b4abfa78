"""Deterministic REAL media payload builders (PNG/BMP/WAV/MP4) for tests
and by-construction oracles — the media analog of sources/synth_office.py
(OOXML) and sources/synth_pdf.py (%PDF). Every builder is bit-stable in its
input, and every derived feature (dims, luma, duration, rms) has a closed
form in ``doc_id`` so a DuckDB oracle can recompute it with arithmetic.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np

from doc_parser_spark.functions.media_decode import PNG_MAGIC


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray, filters: list[int] | None = None) -> bytes:
    """8-bit PNG encoder (gray HxW or color HxWxC for C in 2/3/4).

    ``filters``: per-row filter types 0-4 (default all 0) — lets tests
    exercise every unfilter branch with exact roundtrips.
    """
    if pixels.ndim == 2:
        pixels = pixels[:, :, None]
    h, w, c = pixels.shape
    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    bpp = c
    px = pixels.astype(np.int64)
    filters = filters if filters is not None else [0] * h
    raw = bytearray()
    for y in range(h):
        f = filters[y]
        row = px[y].reshape(-1)
        prev = px[y - 1].reshape(-1) if y > 0 else np.zeros_like(row)
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
        ul = np.concatenate([np.zeros(bpp, dtype=np.int64), prev[:-bpp]])
        if f == 0:
            out = row
        elif f == 1:
            out = row - left
        elif f == 2:
            out = row - prev
        elif f == 3:
            out = row - ((left + prev) >> 1)
        elif f == 4:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            out = row - pred
        else:
            raise ValueError(f"bad filter {f}")
        raw.append(f)
        raw.extend((out & 0xFF).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def build_png(doc_id: int) -> bytes:
    """Solid-gray PNG with closed-form features:
    width = 16 + doc_id % 32, height = 8 + doc_id % 16,
    mean_luma = (doc_id % 256) / 255."""
    w, h, v = 16 + doc_id % 32, 8 + doc_id % 16, doc_id % 256
    return encode_png(np.full((h, w), v, dtype=np.uint8))


def build_bmp(doc_id: int) -> bytes:
    """Solid-color 24-bit bottom-up BMP: width = 12 + doc_id % 20,
    height = 6 + doc_id % 10, all pixels (B,G,R) = (v,v,v) with
    v = doc_id % 256 → mean_luma = v / 255."""
    w, h, v = 12 + doc_id % 20, 6 + doc_id % 10, doc_id % 256
    stride = (w * 3 + 3) & ~3
    data_off = 54
    size = data_off + stride * h
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, data_off)
    hdr += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
    row = (bytes([v, v, v]) * w).ljust(stride, b"\x00")
    return hdr + row * h


def build_wav(doc_id: int) -> bytes:
    """PCM16 square wave with closed-form features:
    channels = 1 + doc_id % 2, sample_rate = 16000,
    n_frames = 8000 + (doc_id % 100) * 40 → duration = n_frames / 16000,
    amplitude = 1000 + (doc_id % 50) * 100 → rms = peak = amp / 32768
    (±amp square wave, 50% duty by construction)."""
    channels = 1 + doc_id % 2
    rate = 16000
    n_frames = 8000 + (doc_id % 100) * 40
    amp = 1000 + (doc_id % 50) * 100
    # alternate +amp/-amp every 8 frames: exactly half the samples each sign
    t = np.arange(n_frames)
    mono = np.where((t // 8) % 2 == 0, amp, -amp).astype("<i2")
    frames = np.repeat(mono, channels).tobytes()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(frames)
    return buf.getvalue()


def build_mp4(doc_id: int) -> bytes:
    """Minimal ISO-BMFF with closed-form metadata: brand 'isom',
    timescale 1000, duration_ms = 2000 + (doc_id % 60) * 500,
    n_tracks = 1 + doc_id % 3."""
    dur = 2000 + (doc_id % 60) * 500
    n_tracks = 1 + doc_id % 3

    def box(btype: bytes, body: bytes) -> bytes:
        return struct.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd = box(
        b"mvhd",
        struct.pack(">B3x", 0)
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", 1000, dur)  # timescale, duration
        + b"\x00" * 80,
    )
    traks = b"".join(box(b"trak", b"\x00" * 8) for _ in range(n_tracks))
    moov = box(b"moov", mvhd + traks)
    mdat = box(b"mdat", bytes((doc_id + i) % 256 for i in range(32)))
    return ftyp + moov + mdat


# ---------------------------------------------------------------------------
# JPEG (baseline grayscale encoder, T.81 Annex K tables)
# ---------------------------------------------------------------------------
# Per-8x8-block-constant images round-trip EXACTLY through baseline JPEG:
# a constant block's DCT is DC-only (AC all zero), and an even luma value
# makes the DC coefficient an exact multiple of the quantizer step
# (DC = 8*(c-128); step 16 ⇒ (c-128)/2 integer for even c), so the decoder
# reconstructs the exact input — which is what gives the m4 contract query
# a closed-form oracle despite JPEG being lossy in general.

_JPG_QL = [  # Annex K luminance quantization, zigzag order step[0]=16
    16, 11, 12, 14, 12, 10, 16, 14, 13, 14, 18, 17, 16, 19, 24, 40,
    26, 24, 22, 22, 24, 49, 35, 37, 29, 40, 58, 51, 61, 60, 57, 51,
    56, 55, 64, 72, 92, 78, 64, 68, 87, 69, 55, 56, 80, 109, 81, 87,
    95, 98, 103, 104, 103, 62, 77, 113, 121, 112, 100, 120, 92, 101,
    103, 99,
]
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _jpeg_codes(bits, vals):
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, length, code):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # pad with 1s per spec


def encode_jpeg_gray_blocks(block_vals) -> bytes:
    """Grayscale baseline JPEG from a 2-D grid of per-8x8-block EVEN luma
    values (rows × cols of blocks). Exactly reconstructable: every block
    is constant, so only the DC coefficient is coded."""
    import numpy as np

    grid = np.asarray(block_vals, dtype=np.int64)
    by, bx = grid.shape
    h, w = by * 8, bx * 8
    dc_codes = _jpeg_codes(_DC_BITS, _DC_VALS)
    ac_codes = _jpeg_codes(_AC_BITS, _AC_VALS)
    seg = bytearray()
    seg += b"\xff\xd8"
    seg += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(_JPG_QL)
    seg += (b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1)
            + bytes([1, 0x11, 0]))
    seg += (b"\xff\xc4" + struct.pack(">H", 19 + len(_DC_VALS) - 12 + 12)
            + bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    seg += (b"\xff\xc4" + struct.pack(">H", 3 + 16 + len(_AC_VALS))
            + bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    seg += b"\xff\xda" + struct.pack(">H", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bw = _JpegBitWriter()
    pred = 0
    for r in range(by):
        for c in range(bx):
            v = int(grid[r, c])
            if v % 2 or not 0 <= v <= 255:
                raise ValueError("block values must be even in [0, 255]")
            dc = (v - 128) * 8 // 16  # quantized DC, exact for even v
            diff = dc - pred
            pred = dc
            mag = abs(diff)
            s = mag.bit_length()
            bw.write(*dc_codes[s]) if s else bw.write(*dc_codes[0])
            if s:
                bits = diff if diff > 0 else diff + (1 << s) - 1
                bw.write(s, bits)
            bw.write(*ac_codes[0x00])  # EOB
    bw.flush()
    seg += bw.out
    seg += b"\xff\xd9"
    return bytes(seg)


def build_jpeg(doc_id: int) -> bytes:
    """Deterministic per-doc JPEG: 2×3 blocks (16×24 px), each block's even
    luma derived from doc_id — closed-form mean for the m4 oracle:
    mean = (Σ blocks)/6, blocks b(k) = 2*((doc_id*7 + k*11) % 128)."""
    vals = [[2 * ((doc_id * 7 + (r * 3 + c) * 11) % 128) for c in range(3)]
            for r in range(2)]
    return encode_jpeg_gray_blocks(vals)


# ---------------------------------------------------------------------------
# GIF (87a encoder with a REAL growing-dictionary LZW compressor, so the
# decoder's variable code widths and dictionary growth are exercised; LZW
# is lossless, so arbitrary index images round-trip exactly)
# ---------------------------------------------------------------------------
def _lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    width = min_code_size + 1

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    emit(clear)
    w = b""
    for ch in indices:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if nxt < 0x1000:
            table[wc] = nxt
            if nxt == (1 << width) and width < 12:
                width += 1
            nxt += 1
        else:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            nxt = eoi + 1
            width = min_code_size + 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif_gray(pixels) -> bytes:
    """GIF87a from a 2-D uint8 array, 256-entry grayscale palette (palette
    value v maps to RGB (v,v,v), so decoded BT.601 luma == v exactly)."""
    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    head = b"GIF87a" + struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
    palette = bytes(v for i in range(256) for v in (i, i, i))
    img = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    lzw = _lzw_encode(8, px.tobytes())
    blocks = bytearray([8])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return head + palette + img + bytes(blocks) + b"\x3b"


def build_gif(doc_id: int) -> bytes:
    """Deterministic per-doc GIF: (8 + doc_id % 8) × (6 + doc_id % 5)
    gradient; closed-form mean for the m5 oracle (LZW is lossless)."""
    import numpy as np

    w, h = 8 + doc_id % 8, 6 + doc_id % 5
    px = np.fromfunction(
        lambda y, x: (doc_id + 3 * y + 7 * x) % 256, (h, w), dtype=np.int64
    ).astype(np.uint8)
    return encode_gif_gray(px)


# ---------------------------------------------------------------------------
# TIFF (6.0 baseline writer: strip layout, uncompressed or PackBits, 8-bit
# grayscale or RGB, both byte orders — exercises every branch the decoder
# supports; both compressions are lossless, so arbitrary images round-trip
# exactly and the m6 oracle is closed-form)
# ---------------------------------------------------------------------------
def _packbits_encode(data: bytes) -> bytes:
    """Apple PackBits: runs of 2-128 → (257-L, byte); literals of 1-128 →
    (L-1, bytes). Inverse of media_decode._packbits."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        j = i
        while j < n - 1 and j - i < 127 and data[j] == data[j + 1]:
            j += 1
        if j > i:
            out.append((257 - (j - i + 1)) & 0xFF)
            out.append(data[i])
            i = j + 1
            continue
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def encode_tiff(
    pixels,
    byteorder: str = "<",
    packbits: bool = False,
    photometric: int | None = None,
    strips: int = 2,
) -> bytes:
    """TIFF 6.0 bytes from a 2-D (gray) or 3-D (RGB) uint8 array. Gray
    defaults to photometric 1 (BlackIsZero); pass 0 for WhiteIsZero (pixel
    values are the LUMA either way — the writer inverts stored bytes for 0,
    the reader inverts back). Multi-strip by default so strip reassembly is
    always exercised."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        h, w = px.shape
        spp = 1
        if photometric is None:
            photometric = 1
        stored = (255 - px) if photometric == 0 else px
    else:
        h, w, spp = px.shape
        assert spp == 3, "RGB only"
        photometric = 2
        stored = px
    bo = byteorder
    rows_per = max(1, -(-h // strips))
    strip_raw = [
        stored[r0 : r0 + rows_per].tobytes() for r0 in range(0, h, rows_per)
    ]
    strip_data = [
        _packbits_encode(s) if packbits else s for s in strip_raw
    ]
    nstrips = len(strip_data)
    tags = [  # (tag, type, values) — ascending tag order per spec
        (256, 4, [w]),
        (257, 4, [h]),
        (258, 3, [8] * spp),
        (259, 3, [32773 if packbits else 1]),
        (262, 3, [photometric]),
        (273, 4, None),  # strip offsets, patched below
        (277, 3, [spp]),
        (278, 4, [rows_per]),
        (279, 4, [len(s) for s in strip_data]),
    ]
    ifd_off = 8
    ext_base = ifd_off + 2 + 12 * len(tags) + 4
    # pass 1: measure the ext (out-of-line values) area
    sizes = {3: 2, 4: 4}
    ext_size = sum(
        sizes[t] * (nstrips if v is None else len(v))
        for _, t, v in tags
        if sizes[t] * (nstrips if v is None else len(v)) > 4
    )
    strip_base = ext_base + ext_size
    offs, acc = [], strip_base
    for s in strip_data:
        offs.append(acc)
        acc += len(s)
    tags[5] = (273, 4, offs)
    ifd = bytearray(struct.pack(bo + "H", len(tags)))
    ext = bytearray()
    for tag, typ, vals in tags:
        fmt = {3: "H", 4: "I"}[typ]
        raw = struct.pack(bo + fmt * len(vals), *vals)
        ifd += struct.pack(bo + "HHI", tag, typ, len(vals))
        if len(raw) <= 4:
            ifd += raw.ljust(4, b"\x00")
        else:
            ifd += struct.pack(bo + "I", ext_base + len(ext))
            ext += raw
    ifd += struct.pack(bo + "I", 0)  # no next IFD
    head = (b"II" if bo == "<" else b"MM") + struct.pack(bo + "HI", 42, 8)
    return head + bytes(ifd) + bytes(ext) + b"".join(strip_data)


def build_tiff(doc_id: int) -> bytes:
    """Deterministic per-doc TIFF: (9 + doc_id % 7) × (5 + doc_id % 6)
    gradient; byte order and PackBits alternate by doc_id so the contract
    query exercises II/MM and both compressions; closed-form mean for the
    m6 oracle (both paths lossless)."""
    w, h = 9 + doc_id % 7, 5 + doc_id % 6
    px = np.fromfunction(
        lambda y, x: (doc_id + 5 * y + 11 * x) % 256, (h, w), dtype=np.int64
    ).astype(np.uint8)
    return encode_tiff(
        px,
        byteorder="<" if doc_id % 2 == 0 else ">",
        packbits=(doc_id % 3 == 0),
    )


# ---------------------------------------------------------------------------
# AVI / MJPEG (RIFF writer whose '00dc' frames are REAL baseline JPEGs from
# encode_jpeg_gray_blocks — even block-constant values quantize exactly, so
# every sampled frame's mean luma has a closed form in (doc_id, frame_idx))
# ---------------------------------------------------------------------------
def _riff_chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _riff_list(list_type: bytes, body: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(frames: list, width: int, height: int,
                     fps: int = 10) -> bytes:
    """Minimal spec-shaped AVI: LIST hdrl (avih + one strl/strh/strf) +
    LIST movi with one '00dc' chunk per JPEG frame."""
    avih = struct.pack(
        "<10I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0, 0x10,        # maxbytes, padding, flags (HASINDEX off, INTERLEAVED-ish)
        len(frames), 0, 1, 0,  # totalframes, initial, streams, sugbufsize
        width, height,
    ) + b"\x00" * 16
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1,
                                            fps, 0, len(frames), 0, 0, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24, b"MJPG",
                       width * height * 3, 0, 0, 0, 0)
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh)
                     + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00dc", f) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_avi(doc_id: int) -> bytes:
    """Deterministic per-doc MJPEG AVI: (3 + doc_id % 4) frames of 24×16
    block-constant JPEGs; frame f block k value 2*((doc_id*7 + f*13 + k*11)
    % 128) — closed-form per-frame mean for the m7 oracle."""
    nf = 3 + doc_id % 4
    frames = []
    for f in range(nf):
        vals = [[2 * ((doc_id * 7 + f * 13 + (r * 3 + c) * 11) % 128)
                 for c in range(3)] for r in range(2)]
        frames.append(encode_jpeg_gray_blocks(vals))
    return encode_avi_mjpeg(frames, 24, 16)


def build_mp3(doc_id: int) -> bytes:
    """Deterministic MPEG-1 Layer III stream for the m9 header-walk oracle:
    ID3v2 tag + ``20 + doc_id % 30`` CBR frames at 128 kbps / 48 kHz (frame
    length exactly 144 * 128000 / 48000 = 384 bytes, no padding), mono for
    even ids / stereo for odd. Frame payloads are deterministic junk — the
    header walk never decodes PCM (status 'header_only')."""
    nf = 20 + doc_id % 30
    mono = doc_id % 2 == 0
    tag_body = b"synthetic" + bytes([doc_id % 251])
    id3 = b"ID3\x04\x00\x00" + bytes(
        [0, 0, (len(tag_body) >> 7) & 0x7F, len(tag_body) & 0x7F]
    ) + tag_body
    header = bytes([0xFF, 0xFB, 0x94, 0xC0 if mono else 0x00])
    base = (doc_id * 31 + np.arange(380)) % 256
    frames = bytearray()
    for k in range(nf):
        frames += header
        frames += ((base + k * 7) % 256).astype(np.uint8).tobytes()
    return id3 + bytes(frames)


# WebP builder lives in its own module (the VP8L encoder is sizeable);
# re-exported here so every media builder is reachable as synth_media.build_*
from doc_parser_spark.sources.synth_webp import (  # noqa: E402,F401
    build_webp,
    build_webp_lossy,
)
