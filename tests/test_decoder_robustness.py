"""Adversarial robustness sweep of every from-scratch binary decoder:
truncation and single-bit-flip corruptions of KNOWN-VALID payloads (synth
builders + the reference's own fixtures) must never hang, never kill the
worker with a raw struct/zlib/Index error, and never return malformed
feature values — they either still decode (a flipped pixel bit is a legal
image) or raise exactly the decoder's documented error type, which the
operator layer maps to a ``failure`` status row (the reference's error
envelope: docling/pipeline/base_pipeline.py:219-232 wraps every backend
exception into ConversionStatus.FAILURE with an ErrorItem, never a crash).

Two assertion tiers:

- media + PDF decoders have a HARD single-type contract (MediaDecodeError /
  PdfError) enforced by their ``_untrusted`` wrappers — anything else is a
  programming error the wrapper deliberately lets through so this suite
  fails on it;
- the zip-container extractors (xlsx/docx/pptx/hwpx) raise whatever the
  stdlib raises, so the contract there is (a) the exception class is
  data-shaped (BadZipFile, ParseError, ValueError, ...) and never a
  programming-error class (TypeError, AttributeError, UnboundLocalError),
  and (b) the ``extract_office`` envelope converts ALL of them into a
  ``failure`` row without raising.

The corruption schedule is seeded and deterministic — a failure reproduces.
"""

from __future__ import annotations

import random
import struct
import zipfile
import zlib
from pathlib import Path
from xml.etree.ElementTree import ParseError

import pytest

from doc_parser_spark.functions.media_decode import (
    MediaDecodeError,
    decode_avi_mjpeg,
    decode_bmp,
    decode_gif,
    decode_jpeg,
    decode_png,
    decode_tiff,
    decode_wav,
    decode_webp,
    parse_mp4_meta,
)
from doc_parser_spark.functions.pdf_decode import PdfError, decode_pdf_pages
from doc_parser_spark.operators.office import extract_office
from doc_parser_spark.sources import synth_media, synth_office, synth_pdf

REF = Path("/root/reference")
REF_JPEG = REF / "genon/preprocessor/sample_files/jpeg_sample.jpeg"
REF_HWPX = REF / "genon/preprocessor/sample_files/hwpx_sample.hwpx"
REF_WEBP = REF / "tests/data/webp/webp-test.webp"

# exception classes that signal MALFORMED DATA when a zip-container
# extractor meets corrupt bytes; programming-error classes are absent on
# purpose — seeing one of those IS the bug this suite exists to catch.
_DATA_SHAPED = (
    ValueError,  # covers PdfError, int() parses, "not an HWPX document"
    KeyError,
    IndexError,
    struct.error,
    zlib.error,
    zipfile.BadZipFile,
    zipfile.LargeZipFile,
    ParseError,  # ElementTree (subclasses SyntaxError, NOT ValueError)
    EOFError,
    OverflowError,
    UnicodeDecodeError,
    NotImplementedError,  # zipfile raises it for unsupported compress types
)

_PROGRAMMING_ERRORS = (TypeError, AttributeError, UnboundLocalError)


def _flip_bit(payload: bytes, bit: int) -> bytes:
    buf = bytearray(payload)
    buf[bit >> 3] ^= 1 << (bit & 7)
    return bytes(buf)


def _corruptions(payload: bytes, rng: random.Random, n_flips: int,
                 n_truncs: int):
    """Deterministic corruption schedule: single bit flips at seeded
    positions (header-biased: half the flips land in the first 256 bytes,
    where the parse-critical structure lives) + prefix truncations spread
    over the whole length."""
    nbits = len(payload) * 8
    head = min(nbits, 256 * 8)
    for _ in range(n_flips // 2):
        yield _flip_bit(payload, rng.randrange(head))
    for _ in range(n_flips - n_flips // 2):
        yield _flip_bit(payload, rng.randrange(nbits))
    for _ in range(n_truncs):
        yield payload[: rng.randrange(len(payload))]
    yield b""
    yield payload[:1]
    yield payload[: len(payload) // 2]


def _sweep_hard(decoder, payload: bytes, allowed: type, n_flips=120,
                n_truncs=30, check=None):
    """Run the corruption schedule through a hard-contract decoder: every
    call either succeeds (optionally validated by ``check``) or raises
    exactly ``allowed``."""
    rng = random.Random(0xD0C0DE)
    for corrupt in _corruptions(payload, rng, n_flips, n_truncs):
        try:
            out = decoder(corrupt)
        except allowed:
            continue
        if check is not None:
            check(out)


def _check_image(out):
    w, h, luma = out
    assert 0 < w * h <= 100_000_000
    assert 0.0 <= luma <= 1.0


# --- media decoders --------------------------------------------------------

@pytest.mark.parametrize(
    "name,builder,decoder,check",
    [
        ("png", synth_media.build_png, decode_png, _check_image),
        ("bmp", synth_media.build_bmp, decode_bmp, _check_image),
        ("jpeg", synth_media.build_jpeg, decode_jpeg, _check_image),
        ("gif", synth_media.build_gif, decode_gif, _check_image),
        ("tiff", synth_media.build_tiff, decode_tiff, _check_image),
        ("wav", synth_media.build_wav, decode_wav, None),
        ("mp4", synth_media.build_mp4, parse_mp4_meta, None),
        ("avi", synth_media.build_avi, decode_avi_mjpeg, None),
        ("webp", synth_media.build_webp, decode_webp, None),
        ("webp_lossy", synth_media.build_webp_lossy, decode_webp, None),
    ],
)
def test_media_decoder_corruption(name, builder, decoder, check):
    _sweep_hard(decoder, builder(7), MediaDecodeError, check=check)


@pytest.mark.skipif(not REF_WEBP.exists(), reason="reference asset missing")
def test_reference_webp_corruption():
    """Round 5: the fixture fully pixel-decodes now, so a corrupted-but-
    still-valid stream costs seconds of real decode — the broad bit-flip
    schedule lives on the small synth lossy stream above; here the big
    reference fixture gets every truncation (all fail fast at the RIFF
    chunk walk or a partition bound) plus a handful of flips."""
    payload = REF_WEBP.read_bytes()
    _sweep_hard(decode_webp, payload, MediaDecodeError, n_flips=6,
                n_truncs=15)


def test_filtered_lossy_webp_corruption():
    """Full corruption schedule on the checked-in libwebp-encoded stream
    (tests/data/webp_lossy_filtered.webp, normal loop filter level 10):
    the synth lossy streams in the parametrized sweep above all carry
    filter_level 0, so this is the sweep that drives corrupt bits through
    the filter, token-tree, and intra-prediction paths of the VP8
    decoder."""
    payload = (Path(__file__).parent
               / "data" / "webp_lossy_filtered.webp").read_bytes()
    _sweep_hard(decode_webp, payload, MediaDecodeError, n_flips=80,
                n_truncs=25)


@pytest.mark.skipif(not REF_JPEG.exists(), reason="reference asset missing")
def test_reference_jpeg_corruption():
    payload = REF_JPEG.read_bytes()
    _sweep_hard(decode_jpeg, payload, MediaDecodeError, n_flips=60,
                n_truncs=15, check=_check_image)


# --- PDF -------------------------------------------------------------------

def test_synth_pdf_corruption():
    payload = synth_pdf.build_report_pdf(3)
    _sweep_hard(decode_pdf_pages, payload, PdfError, n_flips=150,
                n_truncs=40)


def test_reference_pdf_corruption():
    # the smallest reference text-PDF fixture keeps the sweep fast while
    # still exercising xref streams / real fonts
    fixtures = sorted(
        (REF / "tests/data/pdf").glob("*.pdf"),
        key=lambda p: p.stat().st_size,
    )
    if not fixtures:
        pytest.skip("no reference pdf fixtures")
    payload = fixtures[0].read_bytes()
    _sweep_hard(decode_pdf_pages, payload, PdfError, n_flips=40, n_truncs=10)


# --- zip-container extractors ---------------------------------------------

def _sweep_soft(extractor, payload: bytes, n_flips=80, n_truncs=20):
    """Soft contract: corruption may raise, but only data-shaped classes —
    a TypeError/AttributeError/UnboundLocalError here is a real bug."""
    rng = random.Random(0xBADC0DE)
    for corrupt in _corruptions(payload, rng, n_flips, n_truncs):
        try:
            extractor(corrupt)
        except _PROGRAMMING_ERRORS as ex:  # pragma: no cover - fail loudly
            raise AssertionError(
                f"programming-error leak on corrupt input: "
                f"{type(ex).__name__}: {ex}"
            ) from ex
        except _DATA_SHAPED:
            continue


def _office_payloads():
    from doc_parser_spark.functions.docx_extract import extract_docx
    from doc_parser_spark.functions.hwpx_extract import extract_hwpx
    from doc_parser_spark.functions.pptx_extract import extract_pptx
    from doc_parser_spark.functions.xlsx_extract import extract_xlsx

    payloads = [
        ("docx", extract_docx,
         synth_office.build_docx("T", ["alpha beta", "gamma"], ["x", "y"])),
        ("xlsx", extract_xlsx,
         synth_office.build_xlsx("S", [["a", "1"], ["b", "2"]])),
        ("pptx", extract_pptx, synth_office.build_pptx("T", ["p", "q"])),
        ("hwpx", extract_hwpx, synth_office.build_hwpx(1, "사례 본문 내용")),
    ]
    if REF_HWPX.exists():
        payloads.append(("hwpx-ref", extract_hwpx, REF_HWPX.read_bytes()))
    return payloads


@pytest.mark.parametrize("name,extractor,payload",
                         _office_payloads(),
                         ids=lambda v: v if isinstance(v, str) else "")
def test_office_extractor_corruption(name, extractor, payload):
    n = 40 if name == "hwpx-ref" else 80
    _sweep_soft(extractor, payload, n_flips=n, n_truncs=n // 4)


def test_office_envelope_never_raises():
    """The operator-level envelope turns EVERY corrupt-zip failure into a
    ``failure`` status row — the property the executors rely on."""
    rng = random.Random(0x0FF1CE)
    for _, _, payload in _office_payloads()[:4]:
        for corrupt in _corruptions(payload, rng, 40, 10):
            kind, text, spans, status = extract_office(corrupt)
            assert status in ("success", "partial_success", "failure",
                              "skipped")
            if status == "failure":
                assert text is None and spans is None


# --- PDF content-stream interpreter (structure-aware fuzz) -----------------
#
# Bit flips in the compressed file mostly die in zlib before reaching the
# content-stream interpreter; this fuzz feeds the interpreter directly —
# a structurally VALID pdf whose page content is hostile: real operators
# with garbage operands, truncated ops, raw bytes — so the operand-
# confusion envelope (run()'s per-op catch + untrusted_pdf) is what's
# actually exercised.

def _wrap_content(stream: bytes, with_image: bool = False) -> bytes:
    """Minimal single-page PDF with an UNCOMPRESSED content stream (and,
    with ``with_image``, a 2x2 gray image XObject named ``/Im1``)."""
    xobject = b" /XObject << /Im1 6 0 R >>" if with_image else b""
    objects = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Count 1 /Kids [3 0 R] >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >>"
        + xobject + b" >> >>",
        b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
        + stream + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>",
    ]
    if with_image:
        objects.append(
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length 4 >>"
            b"\nstream\n\x80\xc8\xc8\x80\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode()
    return bytes(out)


_PDF_OPS = [b"q", b"Q", b"cm", b"BT", b"ET", b"Tf", b"Tc", b"Tw", b"Tz",
            b"TL", b"Ts", b"Tr", b"Td", b"TD", b"Tm", b"T*", b"Tj", b"'",
            b'"', b"TJ", b"Do", b"BI", b"EI", b"gs", b"re", b"f", b"W", b"n"]
_PDF_OPERANDS = [b"1", b"-3.5", b"0", b"99999999", b"(text)", b"<48656c>",
                 b"/F1", b"/Nope", b"[(a) -120 (b)]", b"[]", b"<< /A 1 >>",
                 b"(unclosed", b"null", b"true", b"1e9", b"(\\370\\termo)",
                 b"[1 2", b"%comment\n", b"\x00\x01\x02", b"/F1 12"]


def test_pdf_content_stream_interpreter_fuzz():
    rng = random.Random(0x5EED)
    for it in range(300):
        n_tok = rng.randrange(0, 30)
        parts = []
        for _ in range(n_tok):
            if rng.random() < 0.55:
                parts.append(rng.choice(_PDF_OPERANDS))
            else:
                parts.append(rng.choice(_PDF_OPS))
        stream = b" ".join(parts)
        if rng.random() < 0.25:  # splice raw garbage
            stream += bytes(rng.randrange(256) for _ in range(16))
        try:
            decode_pdf_pages(_wrap_content(stream))
        except PdfError:
            pass


def test_graphics_operators_do_not_change_text_cells():
    """Path segments, stroked and filled rulings and an image placement
    around the text leave the decoded cells exactly as the text-only
    stream gives them."""
    text = (b"BT /F1 12 Tf 72 700 Td (Total revenue) Tj "
            b"0 -20 Td (alpha beta 42) Tj ET")
    graphics = (b"72 690 m 540 690 l 300 600 400 650 500 620 c S "
                b"70 560 200 100 re S 300 560 40 20 re f "
                b"q 120 0 0 80 300 400 cm /Im1 Do Q")
    expected = decode_pdf_pages(_wrap_content(text))
    assert [c[5] for c in expected[0]] == ["Total revenue", "alpha beta 42"]
    for stream in (graphics + b" " + text, text + b" " + graphics,
                   graphics + b" " + text + b" " + graphics):
        assert decode_pdf_pages(
            _wrap_content(stream, with_image=True)
        ) == expected


def test_pdf_tounicode_cmap_fuzz():
    """Font CMap parsing on hostile bytes: parse_tounicode is reachable
    with arbitrary decompressed stream content."""
    from doc_parser_spark.functions.pdf_decode import parse_tounicode

    rng = random.Random(0xCA9)
    shards = [b"begincmap", b"endcmap", b"beginbfchar", b"endbfchar",
              b"beginbfrange", b"endbfrange", b"<0041>", b"<00410042>",
              b"<zz>", b"<>", b"[", b"]", b"(str)", b"1 2", b"\xff\xfe",
              b"<D800>", b"<0041> <0042>", b"endcodespacerange"]
    for it in range(300):
        payload = b" ".join(
            rng.choice(shards) for _ in range(rng.randrange(0, 20))
        )
        try:
            out = parse_tounicode(payload)
            assert isinstance(out, dict)
        except (ValueError, KeyError, IndexError):
            pass


# ---------------------------------------------------------------------------
# CPU-budget guard: declared-dimension bombs for the pure-Python pixel loops
# ---------------------------------------------------------------------------
class TestDeclaredDimensionBombs:
    """The 100 MP memory cap bounds allocation but not wall-clock: a
    ~30-byte stream declaring 8192x8192 with degenerate entropy codes
    would otherwise pin a core for minutes in the pure-Python entropy /
    LZ77 / predictor loops.  _check_cpu_budget rejects pixel counts
    implausible for the input size (1 MP floor, 512 px/byte) — these
    crafted payloads must raise the typed decode error IMMEDIATELY, not
    after a long decode."""

    def _timed(self, fn, payload):
        import time

        t0 = time.monotonic()
        with pytest.raises(MediaDecodeError):
            fn(payload)
        assert time.monotonic() - t0 < 5.0

    def test_vp8l_dimension_bomb(self):
        # VP8L header: sig 0x2F, then LSB-first (width-1):14 (height-1):14
        # alpha:1 version:3, followed by near-empty bitstream — zero-bit
        # single-symbol codes could emit pixels at no cost per pixel
        from doc_parser_spark.functions.vp8l import decode_vp8l

        dims = 8191 | (8191 << 14)  # 8192 x 8192 = 67 MP
        payload = b"\x2f" + dims.to_bytes(4, "little") + b"\x00" * 24
        self._timed(decode_vp8l, payload)

    def test_webp_vp8l_dimension_bomb(self):
        from doc_parser_spark.functions.media_decode import decode_webp

        dims = 8191 | (8191 << 14)
        vp8l = b"\x2f" + dims.to_bytes(4, "little") + b"\x00" * 24
        riff = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8l)) + b"WEBP"
                + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l)
        self._timed(decode_webp, riff)

    def test_webp_lossy_dimension_bomb(self):
        """A ~60-byte lossy stream declaring 8191x8191: functions/vp8.py
        refuses it on the CPU budget; decode_webp degrades it to the
        honest header_only row instead of erroring (dims are real header
        data), and must do so instantly."""
        import time

        from doc_parser_spark.functions.media_decode import decode_webp
        from doc_parser_spark.functions.vp8 import decode_vp8_frame
        from doc_parser_spark.sources.synth_webp import encode_vp8_flat

        body = bytearray(encode_vp8_flat(16, 16, 100))
        body[6], body[7] = 0xFF, 0x1F
        body[8], body[9] = 0xFF, 0x1F
        self._timed(decode_vp8_frame, bytes(body))
        if len(body) & 1:
            body += b"\0"
        riff = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
                + b"VP8 " + struct.pack("<I", len(body)) + bytes(body))
        t0 = time.monotonic()
        assert decode_webp(riff) == (8191, 8191, None, "header_only")
        assert time.monotonic() - t0 < 2.0

    def test_jpeg_dimension_bomb(self):
        # SOI + SOF0 declaring 8192x8192 in a <64-byte stream: rejected at
        # the frame header, before any Huffman table or scan parse
        body = bytes([8]) + struct.pack(">HH", 8192, 8192) + bytes(
            [1, 1, 0x11, 0]
        )
        seg = b"\xff\xc0" + struct.pack(">H", len(body) + 2) + body
        payload = b"\xff\xd8" + seg + b"\xff\xd9"
        self._timed(decode_jpeg, payload)

    def test_large_image_with_proportional_data_still_allowed(self):
        # the budget is input-size-scaled: a genuinely large SYNTH image
        # with real per-pixel data stays decodable (640x480 PNG >> floor
        # threshold is irrelevant — check budget arithmetic directly)
        from doc_parser_spark.functions.media_decode import (
            _check_cpu_budget,
        )

        _check_cpu_budget(4000, 3000, 1 << 20, "JPEG")  # 12 MP, 1 MiB: ok
        with pytest.raises(MediaDecodeError):
            _check_cpu_budget(4000, 3000, 1000, "JPEG")


class TestMp3SplicedStream:
    def test_mixed_version_duration_is_per_frame_exact(self):
        """A spliced stream switching MPEG1/48k -> MPEG2/24k mid-file gets
        sum(spf_i/rate_i), not first-frame parameters times frame count,
        and is flagged mixed_params."""
        from doc_parser_spark.functions.media_decode import parse_mp3_meta

        f1 = bytes([0xFF, 0xFB, 0x94, 0xC0]) + b"\x01" * 380  # MPEG1 L3 128k/48k
        f2 = bytes([0xFF, 0xF3, 0x94, 0xC0]) + b"\x01" * 236  # MPEG2 L3 80k/24k
        m = parse_mp3_meta(f1 + f2)
        assert m["n_frames"] == 2
        assert m["mixed_params"] is True
        assert abs(m["duration_s"] - (1152 / 48000 + 576 / 24000)) < 1e-12
        # first-frame-extrapolated figure would be 2*1152/48000 = 0.048 too
        # -- distinguish via a 3-frame splice
        m3 = parse_mp3_meta(f1 + f2 + f2)
        assert abs(m3["duration_s"] - (1152 / 48000 + 2 * 576 / 24000)) < 1e-12

    def test_constant_stream_bit_identical_to_closed_form(self):
        from doc_parser_spark.functions.media_decode import parse_mp3_meta

        d = synth_media.build_mp3(7)
        m = parse_mp3_meta(d)
        assert m["duration_s"] == m["n_frames"] * 1152 / 48000
        assert m["mixed_params"] is False
