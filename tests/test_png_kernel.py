"""PNG codec (kernels/png_kernel.py) + the round-4 extraction additions:
latex channel, channel-priority best_content, PNG OCR dispatch.

Reference parity targets: PNG uploads (main.py:366-373) OCR'd via the
scanned tier (tesseract_extractor.py:22-53); LATEX channel
(mathpix_extractor.py:133-136); consumer priority pick
(content-helpers.ts:50-67).
"""
from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pdf_extractor_spark.kernels import ocr_kernel as K
from pdf_extractor_spark.kernels import png_kernel as P


def _encode_with_filter(m: np.ndarray, ftype: int) -> bytes:
    """Grayscale encoder emitting ONE chosen filter type per scanline —
    the decoder must reconstruct identically for all five."""
    h, w = m.shape
    out = bytearray()
    prior = np.zeros(w, dtype=np.int32)
    for y in range(h):
        line = m[y].astype(np.int32)
        if ftype == 0:
            f = line
        elif ftype == 1:
            f = line.copy()
            f[1:] = (line[1:] - line[:-1]) % 256
        elif ftype == 2:
            f = (line - prior) % 256
        elif ftype == 3:
            f = line.copy()
            for i in range(w):
                left = line[i - 1] if i else 0
                f[i] = (line[i] - ((left + prior[i]) >> 1)) % 256
        else:
            f = line.copy()
            for i in range(w):
                a = line[i - 1] if i else 0
                b = prior[i]
                c = prior[i - 1] if i else 0
                f[i] = (line[i] - P._paeth(a, b, c)) % 256
        out.append(ftype)
        out.extend(f.astype(np.uint8).tobytes())
        prior = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (P._PNG_SIG + P._chunk(b"IHDR", ihdr)
            + P._chunk(b"IDAT", zlib.compress(bytes(out)))
            + P._chunk(b"IEND", b""))


def _encode_color_type(m: np.ndarray, ct: int) -> bytes:
    """Encode the luminance raster as color type 2/3/4/6 (value v in every
    color sample, opaque alpha, identity gray palette)."""
    h, w = m.shape
    body = bytearray()
    for y in range(h):
        body.append(0)
        for x in range(w):
            v = int(m[y, x])
            if ct == 2:
                body.extend([v, v, v])
            elif ct == 4:
                body.extend([v, 255])
            elif ct == 6:
                body.extend([v, v, v, 255])
            else:
                body.append(v)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    out = P._PNG_SIG + P._chunk(b"IHDR", ihdr)
    if ct == 3:
        out += P._chunk(b"PLTE", bytes(v for g in range(256)
                                       for v in (g, g, g)))
    return (out + P._chunk(b"IDAT", zlib.compress(bytes(body)))
            + P._chunk(b"IEND", b""))


def test_render_decode_ocr_roundtrip():
    text = "HELLO PNG WORLD 0123456789, OK."
    png = P.render_text_png(text, width=16)
    assert K.lines_to_stream_text(K.ocr_gray_rows(P.decode_png_gray(png))) == text


def test_multi_idat_chunks_concatenate():
    png = P.render_text_png("SPLIT IDAT", width=32)
    # re-pack the single IDAT as two chunks split mid-stream
    rows = P.decode_png_gray(png)
    raw = b"".join(b"\x00" + bytes(r) for r in rows)
    comp = zlib.compress(raw)
    ihdr = struct.pack(">IIBBBBB", len(rows[0]), len(rows), 8, 0, 0, 0, 0)
    two = (P._PNG_SIG + P._chunk(b"IHDR", ihdr)
           + P._chunk(b"IDAT", comp[:7]) + P._chunk(b"IDAT", comp[7:])
           + P._chunk(b"IEND", b""))
    assert P.decode_png_gray(two) == rows


@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_all_five_scanline_filters(ftype):
    rows = P.decode_png_gray(P.render_text_png("FILTER TEST PAGE", width=8))
    m = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
        len(rows), len(rows[0]))
    dec = P.decode_png_gray(_encode_with_filter(m, ftype))
    assert [bytes(r) for r in dec] == [bytes(r) for r in rows]


def test_filters_on_nontrivial_gradient():
    rng = np.random.default_rng(7)
    m = rng.integers(0, 256, size=(24, 31), dtype=np.uint8)
    for ftype in range(5):
        dec = P.decode_png_gray(_encode_with_filter(m, ftype))
        got = np.frombuffer(b"".join(dec), dtype=np.uint8).reshape(24, 31)
        assert (got == m).all(), ftype


@pytest.mark.parametrize("ct", [2, 3, 4, 6])
def test_color_types_map_to_same_luminance(ct):
    rows = P.decode_png_gray(P.render_text_png("COLOR TYPES", width=16))
    m = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
        len(rows), len(rows[0]))
    dec = P.decode_png_gray(_encode_color_type(m, ct))
    assert [bytes(r) for r in dec] == [bytes(r) for r in rows]


def test_noise_tolerant_ocr_through_png():
    text = "NOISY PNG SCAN"
    rows = [bytearray(r) for r in P.decode_png_gray(
        P.render_text_png(text, width=32))]
    # flip one pixel inside a glyph cell: Hamming-nearest still recovers
    rows[K.MARGIN + 1][K.MARGIN + 1] ^= 0xFF
    noisy = P.pack_png_gray(rows)
    assert K.lines_to_stream_text(
        K.ocr_gray_rows(P.decode_png_gray(noisy))) == text


@pytest.mark.parametrize("bad,label", [
    (b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, "truncated/empty chunks"),
    (b"\x89PNG\r\n\x1a\x00junk", "bad signature"),
    (P._PNG_SIG + P._chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 16, 0, 0, 0, 0))
     + P._chunk(b"IDAT", zlib.compress(b"\x00" * 100))
     + P._chunk(b"IEND", b""), "16-bit depth"),
    (P._PNG_SIG + P._chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 2))
     + P._chunk(b"IDAT", zlib.compress(b"\x00" * 100))
     + P._chunk(b"IEND", b""), "unknown interlace method"),
    (P._PNG_SIG + P._chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
     + P._chunk(b"IDAT", zlib.compress(b"\x00" * 20))
     + P._chunk(b"IEND", b""), "palette without PLTE"),
    (P._PNG_SIG + P._chunk(
        b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0))
     + P._chunk(b"IDAT", b"not deflate")
     + P._chunk(b"IEND", b""), "inflate failure"),
])
def test_out_of_profile_quarantines(bad, label):
    with pytest.raises(K.OcrUnsupported):
        P.decode_png_gray(bad)


def test_extract_document_png_dispatch():
    from pdf_extractor_spark.operators.extract import extract_document

    rows = extract_document(P.render_text_png("SCANNED PNG PAGE", width=32))
    assert rows[0]["text"] == "SCANNED PNG PAGE"
    assert rows[0]["meta"]["file_type"] == "png"
    assert rows[0]["meta"]["ocr"] == "true"
    # malformed PNG still quarantines loudly
    bad = extract_document(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    assert bad[0]["meta"]["needs_ocr"] == "true"
    # a noise-field PNG (real raster, not machine print) quarantines
    rng = np.random.default_rng(3)
    noise = P.pack_png_gray(
        [rng.integers(0, 256, size=64, dtype=np.uint8).tobytes()
         for _ in range(64)])
    q = extract_document(noise)
    assert q[0]["meta"]["needs_ocr"] == "true"


def test_multimodal_png_decode_and_twin():
    from pdf_extractor_spark.operators import multimodal as mm

    arr = mm._decode_image(P.render_text_png("DOC 8 PNG", width=32))
    assert arr.ndim == 3 and arr.shape[2] == 1
    w, h, mean = mm.expected_png_feature_row(8)
    assert (w, h) == (arr.shape[1], arr.shape[0])
    assert mean == float(arr.reshape(-1).astype(np.float64).mean())


def test_latex_of_text_and_formula_inner():
    from pdf_extractor_spark.kernels.html_kernel import _formula_inner
    from pdf_extractor_spark.operators.extract import latex_of_text

    assert latex_of_text("a $$x+y$$ b $$\\frac{1}{2}$$") == \
        "x+y\n\n\\frac{1}{2}"
    assert latex_of_text("no math") == ""
    assert _formula_inner("$$E = mc^2$$") == "E = mc^2"
    assert _formula_inner("prose $$x$$ prose") is None  # inline stays prose
    assert _formula_inner("$$$$") is None               # empty formula
    assert _formula_inner("$$a$$ and $$b$$") is None    # two spans ≠ block


def test_latex_channel_through_html_kernel():
    from pdf_extractor_spark.kernels.html_kernel import extract_html

    res = extract_html(
        b"<html><body><article><p>Before.</p>"
        b"<p>$$\\sum_i x_i$$</p><p>After.</p></article></body></html>")
    ch = res["channels"]
    assert ch["latex"] == "\\sum_i x_i"
    assert ch["text"] == "Before.\n\nAfter."
    assert ch["combined"] == "Before.\n\n$$\\sum_i x_i$$\n\nAfter."
    assert ch["markdown"] == ch["combined"]


def test_best_content_priority(spark):
    from pdf_extractor_spark.operators.extract import best_content

    rows = [
        # full set → combined wins
        ("u1", 1, "text", "t1"), ("u1", 1, "combined", "c1"),
        ("u1", 1, "markdown", "m1"),
        # no combined → text wins
        ("u2", 1, "markdown", "m2"), ("u2", 1, "text", "t2"),
        # only markdown + a blank text (meaningful-content gate) → markdown
        ("u3", 1, "text", "   "), ("u3", 1, "markdown", "m3"),
        # latex-only page
        ("u4", 1, "latex", "x+y"),
    ]
    df = spark.createDataFrame(
        rows, "url string, page_number int, channel string, content string")
    got = {(r["url"], r["channel"], r["content"])
           for r in best_content(df).collect()}
    assert got == {("u1", "combined", "c1"), ("u2", "text", "t2"),
                   ("u3", "markdown", "m3"), ("u4", "latex", "x+y")}


# ------------------------------------------------ Adam7 (round 4) ----

def test_adam7_roundtrip_matches_sequential():
    """The 7-pass deinterleave must reassemble the exact raster for any
    geometry (odd sizes hit passes with empty/partial grids)."""
    rng = np.random.default_rng(17)
    for h, w in [(1, 1), (3, 5), (9, 13), (8, 8), (17, 31), (2, 100)]:
        m = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        px = [m[y].tobytes() for y in range(h)]
        seq = P.decode_png_gray(P.pack_png_gray(px))
        adam = P.decode_png_gray(P.pack_png_gray(px, interlace=True))
        assert seq == adam == px, (h, w)


def test_adam7_ocr_exact():
    text = "ADAM SEVEN PASSES, OK."
    page = K.render_page_gray(K.wrap_fixed(text, 16))
    lines = K.ocr_gray_rows(
        P.decode_png_gray(P.pack_png_gray(page, interlace=True)))
    assert K.lines_to_stream_text(lines) == text


def test_adam7_truncated_pass_quarantines():
    rng = np.random.default_rng(2)
    m = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    px = [m[y].tobytes() for y in range(16)]
    good = P.pack_png_gray(px, interlace=True)
    # rebuild with the last pass's bytes cut off: raster truncates
    raw = zlib.decompressobj().decompress(
        good[good.find(b"IDAT") + 4:], 1 << 20)
    bad = (P._PNG_SIG
           + P._chunk(b"IHDR", struct.pack(">IIBBBBB", 16, 16, 8, 0, 0, 0, 1))
           + P._chunk(b"IDAT", zlib.compress(raw[:len(raw) // 2]))
           + P._chunk(b"IEND", b""))
    with pytest.raises(K.OcrUnsupported):
        P.decode_png_gray(bad)
