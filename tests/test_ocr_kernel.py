"""From-scratch fixed-pitch bitmap OCR: render→recognize roundtrip, noise
tolerance (the decoder is a Hamming-nearest classifier, not a byte inverse),
container edge cases, and the extraction dispatch integration.

Reference analogue: tesseract_extractor.py:22-53 (rasterize → OCR → TEXT
channel); enums.py:25-31 (image-capable file types).
"""
from __future__ import annotations

import random
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.kernels import ocr_kernel as K

CHARS = "".join(sorted(K.CHARSET - {" "}))


def _ocr_lines(bmp: bytes) -> list[str]:
    """BMP page -> raw grid lines: the container parse and grid OCR that
    extract_document runs on a BMP payload."""
    return K.ocr_gray_rows(K.decode_bmp_gray(bmp))


def _ocr_stream(bmp: bytes) -> str:
    """BMP page -> printed character stream (extraction-channel form)."""
    return K.lines_to_stream_text(_ocr_lines(bmp))


def _flip_pixels(bmp: bytes, n: int, seed: int) -> bytes:
    """Deterministic scanner noise: flip n pixels anywhere on the page."""
    buf = bytearray(bmp)
    (off,) = struct.unpack_from("<I", buf, 10)
    width, height = struct.unpack_from("<ii", buf, 18)
    stride = (width + 3) & ~3
    rng = random.Random(seed)
    for _ in range(n):
        x, y = rng.randrange(width), rng.randrange(abs(height))
        p = off + y * stride + x
        buf[p] = 255 - buf[p]
    return bytes(buf)


def test_roundtrip_full_charset():
    text = CHARS + " " + CHARS.lower().upper()
    bmp = K.render_text_bmp(text, width=16)
    assert _ocr_stream(bmp) == text


@pytest.mark.parametrize(
    "text",
    [
        "",
        "A",
        "HELLO, WORLD. 42",
        "X" * 64,                              # exact multiple of width
        "A B" + " C" * 20,                      # alternating spaces
        "ENDS WITH SPACE AT COL 32 XXXXX YMORE",  # space at wrap boundary
        "Y" * 31 + " " + "Z" * 10,              # space as last cell of a line
        "Q" * 32 + " TAIL",                     # space as first cell of a line
        ".,. ,., 0O0 O0O 1I1 I1I",              # confusable glyph pairs
    ],
)
def test_roundtrip_cases(text):
    bmp = K.render_text_bmp(text, width=32)
    assert _ocr_stream(bmp) == text


@settings(max_examples=60, deadline=None)
@given(st.text(alphabet=CHARS + " ", max_size=90))
def test_roundtrip_property(text):
    # the printed stream is right-trim invariant (trailing blank cells are
    # indistinguishable from padding on a fixed-pitch page)
    bmp = K.render_text_bmp(text, width=17)
    assert _ocr_stream(bmp) == text.rstrip(" ")


def test_noise_tolerance_is_classification():
    """One flipped pixel in ANY glyph cell must never change the output
    (guaranteed by the ≥3 min font distance) — exhaustive over cells and
    spot-checked over in-cell positions; plus light random page noise."""
    text = "NOISE TEST 123, OK. FIN"
    bmp = K.render_text_bmp(text, width=32)
    (off,) = struct.unpack_from("<I", bmp, 10)
    width, height = struct.unpack_from("<ii", bmp, 18)
    stride = (width + 3) & ~3
    for ci in range(len(text)):
        x0 = K.MARGIN + ci * K.PITCH_X
        y0 = K.MARGIN  # single line
        for (dr, dc) in ((0, 0), (3, 2), (6, 4)):
            buf = bytearray(bmp)
            # bottom-up row order inside the file
            y_file = height - 1 - (y0 + dr)
            p = off + y_file * stride + (x0 + dc)
            buf[p] = 255 - buf[p]
            assert _ocr_stream(bytes(buf)) == text, (ci, dr, dc)
    for seed in range(3):
        assert _ocr_stream(_flip_pixels(bmp, 8, seed)) == text


def test_unrecognizable_cell_degrades_to_question_mark():
    assert K.match_glyph((1 << 35) - 1) == "?"  # all ink
    # a glyph mangled beyond MAX_ERR must not silently guess
    bits = K._FONT_BITS["A"]
    for i in range(10):
        bits ^= 1 << (i * 3 % 35)
    assert min(bin(bits ^ t).count("1")
               for _, t in K._TEMPLATES) > K.MAX_ERR
    assert K.match_glyph(bits) == "?"


def test_font_min_hamming_distance():
    """Every glyph pair (incl. blank=space) must be ≥3 flipped pixels
    apart so a single-pixel scan error can never cross a decision
    boundary — the property that makes 1-flip recovery provable, not
    empirical."""
    items = sorted(K._FONT_BITS.items()) + [(" ", 0)]
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            d = bin(items[i][1] ^ items[j][1]).count("1")
            assert d >= 3, (items[i][0], items[j][0], d)


def test_match_glyph_exact_and_near():
    for ch, bits in K._FONT_BITS.items():
        assert K.match_glyph(bits) == ch
        assert K.match_glyph(bits ^ 1) == ch  # one flipped pixel
    assert K.match_glyph(0) == " "
    assert K.match_glyph(0b11) == " "  # 2 stray dots → nearest is blank


def test_vectorized_grid_matches_scalar_reference():
    """The numpy fast path must be cell-identical to the pure-Python
    reference, including on noisy pages where nearest-match kicks in."""
    text = ("PARITY CHECK 0123456789 .,. END OF LINE ONE AND SOME MORE "
            "TEXT TO WRAP ACROSS LINES")
    clean = K.render_text_bmp(text, width=24)
    for payload in (clean, _flip_pixels(clean, 40, 11), _flip_pixels(clean, 200, 3)):
        rows = K.decode_bmp_gray(payload)
        n_lines = (len(rows) - 2 * K.MARGIN) // K.PITCH_Y
        n_cols = (len(rows[0]) - 2 * K.MARGIN) // K.PITCH_X
        assert _ocr_lines(payload) == K._grid_chars_scalar(
            rows, n_lines, n_cols)


def test_unsupported_variants_raise():
    good = K.render_text_bmp("ABC")
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(b"BM" + b"\x00" * 20)  # truncated header
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(good[:80])  # truncated pixel data
    bad_bpp = bytearray(good)
    struct.pack_into("<H", bad_bpp, 28, 2)  # 2-bpp: no such profile
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(bad_bpp))
    # an 8-bpp file relabeled 16-bpp: the masked-word profile is real
    # (final wave) but the pixel data is now half-length — loud failure
    relabel16 = bytearray(good)
    struct.pack_into("<H", relabel16, 28, 16)
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(relabel16))
    jpeg_in_bmp = bytearray(good)
    struct.pack_into("<I", jpeg_in_bmp, 30, 4)  # BI_JPEG: out of profile
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(jpeg_in_bmp))
    bitfields24 = bytearray(K.render_text_bmp("ABC", profile="rgb24"))
    struct.pack_into("<I", bitfields24, 30, 3)  # 24-bpp BITFIELDS: invalid
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(bitfields24))
    # BITFIELDS with the mask words themselves truncated away
    bf = bytearray(K.render_text_bmp("ABC", profile="bf16"))
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(bf[:60]))
    # a raw 8-bpp file relabeled RLE8: its PAPER runs are longer than a
    # row, so the RLE interpreter must fail loudly, never emit garbage
    relabeled = bytearray(good)
    struct.pack_into("<I", relabeled, 30, 1)
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(relabeled))


def test_widened_bmp_profiles_roundtrip_with_noise():
    """Round 4: the scanned-bitmap tier accepts 24-bpp BI_RGB and
    RLE8-compressed BMPs — both decode to the same luminance raster and
    survive per-glyph noise exactly like the 8-bpp profile."""
    text = "WIDENED PROFILES 0123456789, OK."
    for profile in ("rgb24", "rle8"):
        payload = K.render_text_bmp(text, width=16, profile=profile)
        assert _ocr_stream(payload) == text, profile
    # one flipped pixel inside a glyph on the 24-bpp page still recovers
    noisy = bytearray(K.render_text_bmp(text, width=16, profile="rgb24"))
    (off,) = struct.unpack_from("<I", noisy, 10)
    width, height = struct.unpack_from("<ii", noisy, 18)
    stride = (width * 3 + 3) & ~3
    # flip one in-glyph pixel (margin+1 row/col from the bottom-up end)
    p = off + (height - 1 - (K.MARGIN + 1)) * stride + (K.MARGIN + 1) * 3
    for c in range(3):
        noisy[p + c] ^= 0xFF
    assert _ocr_stream(bytes(noisy)) == text


def test_rle8_absolute_mode_and_escapes():
    """The RLE8 interpreter handles absolute-mode packets (with word
    padding) and early end-of-line; the delta escape and top-down RLE are
    out of profile and raise."""
    text = "RLE"
    good = bytearray(K.render_text_bmp(text, profile="rle8"))
    (off,) = struct.unpack_from("<I", good, 10)
    width, height = struct.unpack_from("<ii", good, 18)
    # rewrite the pixel data: first stored row as one absolute packet
    # (width is even → no pad byte ambiguity), remaining rows as runs
    rows = K.render_page_gray(K.wrap_fixed(text, 32))
    stored = list(reversed(rows))  # bottom-up
    body = bytearray()
    first = bytes(stored[0])
    assert 3 <= len(first) <= 255
    body += bytes((0, len(first))) + first + (b"\x00" if len(first) & 1 else b"")
    body += b"\x00\x00"
    for r in stored[1:]:
        body += K._rle8_row(bytes(r))
    body = body[:-2] + b"\x00\x01"
    rebuilt = bytes(good[:off]) + bytes(body)
    assert _ocr_stream(rebuilt) == text

    delta = bytes(good[:off]) + b"\x00\x02\x01\x01" + bytes(good[off:])
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(delta)

    topdown = bytearray(good)
    struct.pack_into("<i", topdown, 22, -height)
    with pytest.raises(K.OcrUnsupported):
        _ocr_lines(bytes(topdown))


def test_final_wave_bmp_profiles_roundtrip():
    """Final wave: 1-bpp mono, 4-bpp palette, RLE4, 16-bpp RGB565
    BITFIELDS and 32-bpp BI_RGB all decode to the same luminance raster
    and OCR exactly; 16-bpp BI_RGB (no masks → the format's fixed 555
    defaults) decodes through the same masked-word path."""
    text = "MASKED WORDS AND NIBBLES 0123456789."
    for profile in ("mono1", "gray4", "rle4", "bf16", "rgb32"):
        payload = K.render_text_bmp(text, width=16, profile=profile)
        assert _ocr_stream(payload) == text, profile
    # relabel the 565 BITFIELDS file as plain BI_RGB 16-bpp (masks stay
    # in the gap before the pixel data): 555 defaults misread 565 words,
    # but ink (0x0000) and paper (0xFFFF) survive ANY sane mask set —
    # the page still OCRs
    bf = bytearray(K.render_text_bmp(text, width=16, profile="bf16"))
    struct.pack_into("<I", bf, 30, 0)
    assert _ocr_stream(bytes(bf)) == text


def test_embedded_codec_bmp_profiles_roundtrip():
    """Round 5: BI_JPEG/BI_PNG (compression 4/5, biBitCount 0 — the
    printer-driver pass-through layout) delegate to the from-scratch
    JPEG/PNG codecs. The PNG arm is byte-lossless vs the gray8 raster;
    the JPEG arm rides the all-ones-quant trick so OCR stays exact; a
    header whose dims disagree with the embedded stream quarantines."""
    text = "EMBEDDED CODEC PASSTHROUGH 42."
    ref = K.decode_bmp_gray(K.render_text_bmp(text, width=16,
                                              profile="gray8"))
    for profile in ("jpeg_embed", "png_embed"):
        payload = K.render_text_bmp(text, width=16, profile=profile)
        assert _ocr_stream(payload) == text, profile
    png_rows = K.decode_bmp_gray(
        K.render_text_bmp(text, width=16, profile="png_embed"))
    assert [bytes(r) for r in png_rows] == [bytes(r) for r in ref]
    bad = bytearray(K.render_text_bmp(text, width=16, profile="png_embed"))
    struct.pack_into("<i", bad, 18, 999)  # lie about the width
    with pytest.raises(K.OcrUnsupported, match="disagree"):
        K.decode_bmp_gray(bytes(bad))
    # a truncated embedded stream is a corrupt container, not a crash
    trunc = K.render_text_bmp(text, width=16, profile="jpeg_embed")[:80]
    with pytest.raises(K.OcrUnsupported):
        K.decode_bmp_gray(trunc)


def test_embedded_png_bmp_positive_height_keeps_stream_order():
    """BI_PNG with a positive (spec-form) biHeight decodes in the embedded
    PNG's own top-down row order: for compression 4/5 biHeight is the
    embedded image's height and carries no bottom-up flip."""
    from pdf_extractor_spark.kernels.png_kernel import pack_png_gray

    px = [bytes([0] * 4), bytes([85] * 4), bytes([170] * 4)]
    body = pack_png_gray(px)
    payload = K._bmp_headers(4, len(px), 0, 5, b"", len(body)) + body
    (height,) = struct.unpack_from("<i", payload, 22)
    assert height == 3
    assert [bytes(r) for r in K.decode_bmp_gray(payload)] == px


def test_rle4_absolute_mode_and_escapes():
    """The RLE4 interpreter: absolute-mode packets carry PACKED nibbles
    padded to a word boundary; encoded runs alternate the value byte's
    nibbles; the delta escape raises."""
    # handcrafted 6x2 bottom-up image, palette = identity-16 grayscale:
    # stored row 0 via absolute mode (6 nibbles F,0,F,0,F,F = 3 bytes +
    # 1 pad), stored row 1 via two runs (3x0xF, 3x0x0 -> alternating
    # nibble rule makes a solid run need v=(n<<4)|n)
    data = bytes((0, 6, 0xF0, 0xF0, 0xFF, 0x00,   # absolute, padded
                  0, 0,                            # EOL
                  3, 0xFF, 3, 0x00,                # runs
                  0, 1))                           # EOB
    idx = K._decode_rle4_indices(data, 6, 2)
    assert bytes(idx[0]) == bytes((0xF, 0, 0xF, 0, 0xF, 0xF))
    assert bytes(idx[1]) == bytes((0xF, 0xF, 0xF, 0, 0, 0))
    # alternating-nibble run: 5 pixels of 0xA0 -> A,0,A,0,A
    idx = K._decode_rle4_indices(bytes((5, 0xA0, 0, 1)), 5, 1)
    assert bytes(idx[0]) == bytes((0xA, 0, 0xA, 0, 0xA))
    with pytest.raises(K.OcrUnsupported):
        K._decode_rle4_indices(bytes((0, 2, 1, 1, 0, 1)), 6, 2)  # delta
    with pytest.raises(K.OcrUnsupported):
        K._decode_rle4_indices(bytes((7, 0xFF, 0, 1)), 6, 1)  # run > row
    with pytest.raises(K.OcrUnsupported):
        K._decode_rle4_indices(bytes((3, 0xFF,)), 6, 1)  # no EOB


def test_scanned_pdf_profiles_roundtrip():
    """Round 4: scanned PDFs embed their page raster as gray-raw,
    gray-Flate, RGB-Flate, DCTDecode (JPEG), PNG-predictored Flate,
    LZW, TIFF-predictored LZW, or CCITT Group 4 / Group 3 fax image
    XObjects — all nine OCR byte-identically through the same glyph
    machinery, including multi-page documents."""
    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf

    t1, t2 = "SCANNED PAGE ONE 42.", "PAGE TWO, MIXED 7."
    for profile in ("gray-raw", "gray-flate", "rgb-flate", "dct",
                    "gray-flate-pred", "gray-lzw", "gray-lzw-pred2",
                    "ccitt-g4", "ccitt-g3"):
        pdf = K.render_scanned_pdf([t1, t2], width=16, profile=profile)
        res = extract_pdf(pdf)
        assert res["pages"] == [(1, t1), (2, t2)], profile
        assert res["meta"]["ok"] == "true", profile
        assert res["meta"]["ocr_pages"] == "2", profile


def test_stream_bytes_length_fastpath_protects_binary_data():
    """A DCT/Flate stream is arbitrary binary and may contain the literal
    bytes '\\nendstream'; the reader must slice by the direct /Length and
    return the full data, not truncate at the embedded marker. Indirect
    /Length refs still fall back to the marker scan."""
    from pdf_extractor_spark.kernels.pdf_kernel import _stream_bytes

    data = b"A" * 10 + b"\nendstream" + b"B" * 10
    body = (b"<< /Length %d >>\nstream\n" % len(data)) + data + b"\nendstream"
    assert _stream_bytes(body) == data
    # indirect length: marker scan semantics (truncates at the embedded
    # marker — the pre-round-4 behavior, kept for refs we can't resolve)
    body_ind = b"<< /Length 5 0 R >>\nstream\n" + data + b"\nendstream"
    assert _stream_bytes(body_ind) == b"A" * 10
    # a WRONG direct length that doesn't land on 'endstream' falls back
    body_bad = (b"<< /Length 7 >>\nstream\n") + data + b"\nendstream"
    assert _stream_bytes(body_bad) == b"A" * 10


def test_top_down_bmp_decodes():
    """Negative height = top-down row order (valid BMP) — the decoder must
    handle both orientations."""
    text = "TOP DOWN"
    bmp = bytearray(K.render_text_bmp(text))
    (off,) = struct.unpack_from("<I", bmp, 10)
    width, height = struct.unpack_from("<ii", bmp, 18)
    stride = (width + 3) & ~3
    rows = [bytes(bmp[off + y * stride: off + (y + 1) * stride])
            for y in range(height)]
    flipped = b"".join(reversed(rows))
    bmp[off:off + stride * height] = flipped
    struct.pack_into("<i", bmp, 22, -height)
    assert _ocr_stream(bytes(bmp)) == text


def test_inverted_palette_decodes_correctly():
    """An 8-bpp BMP whose palette is INVERTED grayscale (index 0 = white,
    255 = black) must OCR to the same text, not to solid-ink garbage: the
    decoder maps indices through the color table, it does not threshold
    raw index values (review finding, round 3)."""
    text = "INVERTED PALETTE PAGE 9"
    bmp = bytearray(K.render_text_bmp(text))
    (off,) = struct.unpack_from("<I", bmp, 10)
    width, height = struct.unpack_from("<ii", bmp, 18)
    stride = (width + 3) & ~3
    # palette entry i = 255-i gray; pixel indices complemented to match
    for i in range(256):
        g = 255 - i
        struct.pack_into("<BBBB", bmp, 54 + 4 * i, g, g, g, 0)
    for p in range(off, off + stride * height):
        bmp[p] = 255 - bmp[p]
    assert _ocr_stream(bytes(bmp)) == text


def test_colored_ink_palette_decodes_correctly():
    """Dark-red ink on white paper (a colored scan) — luminance through the
    palette keeps ink dark and paper light."""
    text = "RED INK"
    bmp = bytearray(K.render_text_bmp(text))
    # index 0 (ink) -> dark red (B,G,R)=(0,0,140); index 255 stays white
    struct.pack_into("<BBBB", bmp, 54, 0, 0, 140, 0)
    assert _ocr_stream(bytes(bmp)) == text


def test_palette_less_bmp_keeps_identity_mapping():
    """data_offset == 14 + header size (no color table): indices are gray."""
    text = "NO PALETTE"
    bmp = K.render_text_bmp(text)
    (off,) = struct.unpack_from("<I", bmp, 10)
    stripped = bytearray(bmp[:54] + bmp[off:])
    struct.pack_into("<I", stripped, 10, 54)          # new data offset
    struct.pack_into("<I", stripped, 2, len(stripped))
    assert _ocr_stream(bytes(stripped)) == text


def test_scanned_pdf_roundtrip():
    """A scanned PDF (pages = DeviceGray image XObjects, zero text
    operators) must OCR back to its printed text through the normal PDF
    extraction path — the reference's tesseract tier
    (tesseract_extractor.py:22-53)."""
    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf

    texts = ["SCANNED PAGE ONE, HELLO WORLD.",
             "PAGE TWO WRAPS BECAUSE IT IS LONGER THAN THIRTY TWO CHARS",
             ""]
    pdf = K.render_scanned_pdf(texts, width=32)
    res = extract_pdf(pdf)
    assert res["meta"]["ok"] == "true"
    assert res["meta"]["ocr"] == "true"
    assert res["meta"]["ocr_pages"] == "2"  # blank page 3 yields no text
    assert res["meta"]["page_count"] == "3"
    assert res["pages"] == [(1, texts[0]), (2, texts[1]), (3, "")]


def test_mixed_text_and_scanned_pdf_pages():
    """Text operators win on pages that have them; OCR only fills
    textless pages — matching the canonical-extractor semantics."""
    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf

    scanned = "SCANNED SECOND PAGE."
    px = K.render_page_gray(K.wrap_fixed(scanned, 32))
    h, w = len(px), len(px[0])
    data = b"".join(bytes(r) for r in px)
    text_content = b"BT /F1 12 Tf 72 720 Td (Born digital page) Tj ET"
    objs = [
        b"<< /Type /Pages /Count 2 /Kids [2 0 R 4 0 R] >>",
        b"<< /Type /Page /Parent 1 0 R /Contents 3 0 R >>",
        b"<< /Length %d >>\nstream\n%s\nendstream"
        % (len(text_content), text_content),
        b"<< /Type /Page /Parent 1 0 R /Resources << /XObject"
        b" << /Im0 5 0 R >> >> /Contents 6 0 R >>",
        b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
        b" /ColorSpace /DeviceGray /BitsPerComponent 8 /Length %d >>\n"
        b"stream\n%s\nendstream" % (w, h, len(data), data),
        b"<< /Length 22 >>\nstream\nq 1 0 0 1 0 0 cm /Im0 Do Q\nendstream",
        b"<< /Type /Catalog /Pages 1 0 R >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    out += b"trailer\n<< /Root 7 0 R >>\n%%EOF\n"
    res = extract_pdf(bytes(out))
    assert res["pages"] == [(1, "Born digital page"), (2, scanned)]
    assert res["meta"]["ocr_pages"] == "1"


def test_out_of_profile_pdf_images_stay_textless():
    """Corrupt or out-of-profile image XObjects: the page stays empty and
    the document degrades to the no-content error row — never a crash,
    never garbage text. Round 4 widened the profile to DeviceRGB and
    DCTDecode, so the relabeled variants below now exercise the CORRUPT
    in-profile paths (RGB dict over gray-sized data; DCT dict over
    non-JPEG bytes); CCITTFax stays genuinely out of profile."""
    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf

    pdf = bytearray(K.render_scanned_pdf(["UNREADABLE"]))
    rgb_short = bytes(pdf).replace(b"/ColorSpace /DeviceGray",
                                   b"/ColorSpace /DeviceRGB")
    res = extract_pdf(rgb_short)  # promises 3x the data it holds
    assert res["pages"] == [(1, "")]
    assert res["meta"]["ok"] == "false" and "ocr" not in res["meta"]

    dct = bytes(pdf).replace(b"/BitsPerComponent 8",
                             b"/Filter /DCTDecode /BitsPerComponent 8")
    res = extract_pdf(dct)  # DCT dict, but the stream is a raw raster
    assert res["pages"] == [(1, "")] and res["meta"]["ok"] == "false"

    ccitt = bytes(pdf).replace(b"/BitsPerComponent 8",
                               b"/Filter /CCITTFaxDecode /BitsPerComponent 8")
    res = extract_pdf(ccitt)  # genuinely outside the widened profile
    assert res["pages"] == [(1, "")] and res["meta"]["ok"] == "false"

    # truncated raster: header promises more pixels than the stream holds
    trunc = bytes(pdf).replace(b"/Height ", b"/Height 9")  # 10x the rows
    res = extract_pdf(trunc)
    assert res["pages"] == [(1, "")] and res["meta"]["ok"] == "false"


def test_extract_document_scanned_pdf_dispatch():
    from pdf_extractor_spark.operators.extract import extract_document

    text = "DOC 45 SCANNED VIA PDF."
    rows = extract_document(K.render_scanned_pdf([text]))
    assert len(rows) == 1
    r = rows[0]
    assert r["meta"]["ok"] == "true" and r["meta"]["ocr"] == "true"
    assert r["text"] == text and r["page_number"] == 1
    assert "needs_ocr" not in r["meta"]


def _noise_bmp(seed: int = 7, width: int = 200, height: int = 110) -> bytes:
    """A 'real-world raster': seeded random pixels in a valid 8-bpp BMP —
    the shape of a grayscale photo, NOT machine print."""
    import random as _random

    bmp = bytearray(K.render_page_bmp(["X" * ((width - 2 * K.MARGIN) // K.PITCH_X)]
                                      * ((height - 2 * K.MARGIN) // K.PITCH_Y)))
    (off,) = struct.unpack_from("<I", bmp, 10)
    rng = _random.Random(seed)
    for p in range(off, len(bmp)):
        bmp[p] = rng.randrange(256)
    return bytes(bmp)


def test_plausibility_gate_rejects_photo_rasters():
    """A real-world grayscale raster (photo/noise) thresholded onto the
    glyph grid classifies overwhelmingly to '?': the plausibility gate
    must reject the page instead of emitting garbage text (review
    finding, round 3) — while clean and lightly-noisy machine print
    passes."""
    from pdf_extractor_spark.operators.extract import extract_document

    noise = _noise_bmp()
    lines = _ocr_lines(noise)
    assert not K.ocr_page_plausible(lines)
    r = extract_document(noise)[0]
    assert r["meta"]["ok"] == "false"
    assert r["meta"]["needs_ocr"] == "true"
    assert "not fixed-pitch machine print" in r["meta"]["error"]

    clean = K.render_text_bmp("CLEAN MACHINE PRINT 123", width=32)
    assert K.ocr_page_plausible(_ocr_lines(clean))
    assert K.ocr_page_plausible(_ocr_lines(_flip_pixels(clean, 8, 3)))
    # blank page is EMPTY, not implausible
    assert K.ocr_page_plausible(_ocr_lines(K.render_text_bmp("")))


def test_plausibility_gate_in_scanned_pdf():
    """A PDF embedding a photo-like DeviceGray image stays textless (the
    no-content error row), never OCR garbage."""
    import random as _random

    from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf

    pdf = bytearray(K.render_scanned_pdf(["PLACEHOLDER TEXT HERE"]))
    # overwrite the raster bytes with noise, in place (same /Length)
    start = bytes(pdf).index(b"stream\n") + 7
    end = bytes(pdf).index(b"\nendstream")
    rng = _random.Random(11)
    for p in range(start, end):
        pdf[p] = rng.randrange(256)
    res = extract_pdf(bytes(pdf))
    assert res["pages"] == [(1, "")]
    assert res["meta"]["ok"] == "false" and "ocr" not in res["meta"]


def test_decoder_fuzz_no_unexpected_exceptions():
    """Seeded mutation fuzz over every from-scratch media decoder: at
    10^12 documents, 'one in a billion' payload shapes arrive hourly, so
    each kernel must either decode, degrade, or raise EXACTLY its declared
    exception type — anything else would fail a whole Spark task instead
    of quarantining one row. Mutations: random byte flips across the
    container (headers included), truncations, and random prefixes."""
    import random as _random

    from pdf_extractor_spark.operators.extract import extract_document
    from pdf_extractor_spark.operators.multimodal import (
        _decode_wav,
        _iter_y4m_frames,
    )
    from tests.builders import encode_wav_pcm16, encode_y4m

    rng = _random.Random(42)

    def mutations(base: bytes, n: int):
        for _ in range(n):
            buf = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                buf[rng.randrange(len(buf))] = rng.randrange(256)
            yield bytes(buf)
        for _ in range(n // 4):
            yield base[: rng.randrange(len(base) + 1)]
        for _ in range(n // 4):
            yield bytes(rng.randrange(256)
                        for _ in range(rng.randrange(200))) + base[:40]

    bmp = K.render_text_bmp("FUZZ TARGET PAGE 123", width=16)
    for payload in mutations(bmp, 300):
        rows = extract_document(payload)  # must never raise
        assert rows and isinstance(rows[0]["text"], str)

    # the final-wave BMP profiles exercise their own parse paths (RLE4
    # nibble interpreter, sub-byte unpack, BITFIELDS masked words) —
    # same one-row-quarantine contract under mutation
    for profile in ("mono1", "gray4", "rle4", "bf16", "rgb32",
                    "jpeg_embed", "png_embed"):
        base = K.render_text_bmp("FUZZ PROFILE", width=16, profile=profile)
        for payload in mutations(base, 120):
            rows = extract_document(payload)
            assert rows and isinstance(rows[0]["text"], str), profile

    pdf = K.render_scanned_pdf(["FUZZ PDF PAGE"])
    for payload in mutations(pdf, 200):
        rows = extract_document(payload)
        assert rows and isinstance(rows[0]["meta"], dict)

    # the round-4 late-wave codec flavors, through the full extraction
    # dispatch (the same one-row-quarantine contract)
    from pdf_extractor_spark.kernels.jpeg_kernel import (
        render_text_jpeg_progressive,
    )
    from pdf_extractor_spark.kernels.png_kernel import render_text_png
    from pdf_extractor_spark.kernels.tiff_kernel import render_text_tiff

    for base in (render_text_jpeg_progressive("FUZZ PJPEG", width=16),
                 render_text_png("FUZZ ADAM7", width=16, interlace=True),
                 render_text_tiff("FUZZ LZW", width=16,
                                  compression=5, predictor=2)):
        for payload in mutations(base, 150):
            rows = extract_document(payload)
            assert rows and isinstance(rows[0]["meta"], dict)

    import numpy as np

    wav = encode_wav_pcm16(
        (1000 * np.sin(np.arange(800) / 9.0)).astype(np.int16))
    for payload in mutations(wav, 300):
        try:
            _decode_wav(payload)
        except (ValueError, NotImplementedError):
            pass  # the declared contract (every unpack is bounds-guarded)

    y4m = encode_y4m(3, n_frames=4, width=8, height=8)
    for payload in mutations(y4m, 300):
        try:
            list(_iter_y4m_frames(payload))
        except (ValueError, NotImplementedError):
            pass


@pytest.mark.parametrize("dy,dx", [(2, 2), (0, 0), (5, 3), (1, 4), (7, 0),
                                   (0, 11), (9, 6)])
def test_crop_shift_tolerant_decode(dy, dx):
    """A scanner crop/shift moves the glyph grid off the canonical margin:
    the decoder must re-locate the grid from the ink's pitch alignment and
    still read the page (origin estimation fallback). (2,2) is the
    canonical margin itself; others re-pad the page so the grid origin
    lands at (dy, dx)."""
    text = "SHIFTED SCAN PAGE 42, STILL READS."
    px = K.render_page_gray(K.wrap_fixed(text, 16))
    inner = [bytes(r)[K.MARGIN:] for r in px[K.MARGIN:]]  # strip top/left
    w = len(inner[0])
    repad = ([bytes([K.PAPER]) * (dx + w)] * dy
             + [bytes([K.PAPER]) * dx + r for r in inner])
    assert _ocr_stream(K.pack_bmp_gray(repad)) == text


def test_crop_loses_only_leading_blank_columns():
    """Cropping cannot preserve leading all-blank cell columns (no absolute
    reference survives) — the decode drops them, like any OCR dropping
    leading whitespace; inner spacing is preserved."""
    text = "  INDENTED LINE"
    px = K.render_page_gray([text])
    cropped = [bytes(r)[K.MARGIN:] for r in px[K.MARGIN:]]
    got = _ocr_stream(K.pack_bmp_gray(cropped))
    assert got == "INDENTED LINE"


def test_extract_document_reads_cropped_scan():
    from pdf_extractor_spark.operators.extract import extract_document

    text = "CROPPED BUT FINE."
    px = K.render_page_gray(K.wrap_fixed(text, 32))
    cropped = [bytes(r)[K.MARGIN:] for r in px[K.MARGIN:]]
    r = extract_document(K.pack_bmp_gray(cropped))[0]
    assert r["meta"]["ok"] == "true" and r["text"] == text


def test_inverse_video_scan_decodes():
    """White-on-black (fax-style) output: luminance inversion in the
    variant ladder — distinct from palette inversion, which the container
    decode already resolves."""
    import numpy as np

    text = "INVERSE VIDEO FAX PAGE."
    px = K.render_page_gray(K.wrap_fixed(text, 32))
    inverted = [bytes(255 - b for b in r) for r in px]
    assert _ocr_stream(K.pack_bmp_gray(inverted)) == text


@pytest.mark.parametrize("k", [2, 3])
def test_scaled_scan_decodes(k):
    """A 2x/3x-resolution scan of the same page (pixel-replicated zoom)
    block-averages back to the native pitch and reads identically."""
    import numpy as np

    text = "HIGH RESOLUTION SCAN 2X3X."
    px = K.render_page_gray(K.wrap_fixed(text, 16))
    m = np.array([list(r) for r in px], dtype=np.uint8)
    big = np.repeat(np.repeat(m, k, axis=0), k, axis=1)
    rows = [big[y].tobytes() for y in range(big.shape[0])]
    assert _ocr_stream(K.pack_bmp_gray(rows)) == text

    # zoom + crop compose: strip the scaled margin, decode via relocate
    cropped = [r[k * K.MARGIN:] for r in rows[k * K.MARGIN:]]
    assert _ocr_stream(K.pack_bmp_gray(cropped)) == text


def test_photo_still_rejects_through_the_ladder():
    """The variant ladder must not resurrect garbage: a noise raster stays
    implausible under inversion, relocation, and downscaling."""
    from pdf_extractor_spark.operators.extract import extract_document

    r = extract_document(_noise_bmp(seed=13))[0]
    assert r["meta"]["ok"] == "false" and r["meta"]["needs_ocr"] == "true"


def test_bottom_right_crop_keeps_last_line_and_column():
    """A bottom/right crop removes only inter-cell leading/gap pixels; the
    last text line and character column must still decode (a full-pitch
    requirement silently dropped them — review finding, round 3)."""
    text = "LINE ONE IS HERE" + " " * 16 + "LINE TWO SURVIVES"
    px = K.render_page_gray(K.wrap_fixed(text, 16))
    # keep the glyph area of the last line (7 rows) but cut the 2-px
    # trailing leading + 2-px margin; same on the right for the last col
    cropped = [bytes(r)[: len(r) - K.MARGIN - (K.PITCH_X - K.GLYPH_W)]
               for r in px[: len(px) - K.MARGIN - (K.PITCH_Y - K.GLYPH_H)]]
    got = _ocr_stream(K.pack_bmp_gray(cropped))
    assert got == text
    # and through extract_document: ok=true with ALL the text
    from pdf_extractor_spark.operators.extract import extract_document

    r = extract_document(K.pack_bmp_gray(cropped))[0]
    assert r["meta"]["ok"] == "true" and "LINE TWO SURVIVES" in r["text"]


def test_renderer_rejects_out_of_charset():
    with pytest.raises(ValueError):
        K.render_text_bmp("lowercase")
    with pytest.raises(ValueError):
        K.render_text_bmp("EMOJI ☃")


def test_extract_document_ocr_dispatch():
    """The extraction operator routes readable BMP pages through OCR into
    the TEXT channel (ok=true) and everything else to needs-OCR
    quarantine."""
    from pdf_extractor_spark.operators.extract import extract_document

    text = "SCANNED PAGE 1, HELLO."
    rows = extract_document(K.render_text_bmp(text))
    assert len(rows) == 1
    r = rows[0]
    assert r["meta"]["ok"] == "true"
    assert r["meta"]["file_type"] == "bmp"
    assert r["meta"]["ocr"] == "true"
    assert "needs_ocr" not in r["meta"]
    assert r["text"] == text and r["combined"] == text
    assert r["page_number"] == 1

    # BMP variant outside the OCR profile → loud quarantine, not a crash
    bad = bytearray(K.render_text_bmp("X"))
    struct.pack_into("<H", bad, 28, 24)
    r = extract_document(bytes(bad))[0]
    assert r["meta"]["ok"] == "false"
    assert r["meta"]["needs_ocr"] == "true"
    assert "needs_ocr" in r["meta"]["error"]

    # other image formats still quarantine
    r = extract_document(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)[0]
    assert r["meta"]["needs_ocr"] == "true"

    # blank page → no meaningful content (reference gate tasks.py:228-249)
    r = extract_document(K.render_text_bmp(""))[0]
    assert r["meta"]["ok"] == "false" and "needs_ocr" not in r["meta"]


@pytest.mark.parametrize("rot", [1, 2, 3])
def test_rotated_scan_decodes(rot):
    """A page fed rotated (90°/180°/270° — upside-down or landscape
    mis-feed) recovers through the rotation axis of the variant ladder."""
    import numpy as np

    text = "ROTATED FEED PAGE READS."
    px = K.render_page_gray(K.wrap_fixed(text, 16))
    m = np.array([list(r) for r in px], dtype=np.uint8)
    turned = np.rot90(m, rot)
    rows = [turned[y].tobytes() for y in range(turned.shape[0])]
    assert _ocr_stream(K.pack_bmp_gray(rows)) == text


def test_rotated_inverse_scaled_scan_composes():
    """The ladder axes compose: an upside-down, white-on-black, 2x scan
    still reads (rotation -> inversion -> downscale in one variant)."""
    import numpy as np

    text = "WORST CASE SCANNER OUTPUT."
    px = K.render_page_gray(K.wrap_fixed(text, 16))
    m = np.array([list(r) for r in px], dtype=np.uint8)
    worst = np.repeat(np.repeat(np.rot90(255 - m, 2), 2, axis=0), 2, axis=1)
    rows = [worst[y].tobytes() for y in range(worst.shape[0])]
    assert _ocr_stream(K.pack_bmp_gray(rows.copy())) == text


def test_clean_scan_path_is_bit_stable_with_rotation_axis():
    """The rotation axis lives behind the plausibility gate: a clean scan
    never enters the ladder, so its decode is unchanged."""
    text = "CLEAN PAGE FAST PATH."
    bmp = K.render_text_bmp(text, width=32)
    assert _ocr_stream(bmp) == text
