"""Baseline JPEG codec (kernels/jpeg_kernel.py): ITU-T T.81 huffman +
dequant + IDCT decode, encoder twin, extraction-tier dispatch.

Reference parity: jpg/jpeg lead the image-capable upload list
(models/enums.py:25-31) and OCR via the scanned tier
(tesseract_extractor.py:22-53).
"""
from __future__ import annotations

import numpy as np
import pytest

from pdf_extractor_spark.kernels import jpeg_kernel as J
from pdf_extractor_spark.kernels import ocr_kernel as K

TEXT = "JPEG BASELINE DCT 99, OK."


def _page():
    return K.render_page_gray(K.wrap_fixed(TEXT, 16))


def test_grayscale_roundtrip_ocr_exact():
    rows = J.decode_jpeg_gray(J.render_text_jpeg(TEXT, width=16))
    assert K.lines_to_stream_text(K.ocr_gray_rows(rows)) == TEXT
    # near-lossless: within 3 gray levels of the BMP raster everywhere
    bmp = K.decode_bmp_gray(K.render_text_bmp(TEXT, width=16))
    a = np.frombuffer(b"".join(rows), dtype=np.uint8).astype(int)
    b = np.frombuffer(b"".join(bmp), dtype=np.uint8).astype(int)
    assert np.abs(a - b).max() <= 3


@pytest.mark.parametrize("kwargs", [
    {"components": 3},                                    # YCbCr 4:4:4
    {"components": 3, "subsample": True},                 # 4:2:0 MCUs
    {"restart_interval": 2},                              # DRI/RSTn resync
    {"components": 3, "subsample": True, "restart_interval": 3},
])
def test_profile_variants_decode_same_luminance(kwargs):
    rows = J.decode_jpeg_gray(J.pack_jpeg_gray(_page(), **kwargs))
    assert K.lines_to_stream_text(K.ocr_gray_rows(rows)) == TEXT


def test_noise_roundtrip_error_bound():
    # random bytes are the worst case for DCT quantization; the all-ones
    # table keeps reconstruction within rounding of the rint'd spectrum
    rng = np.random.default_rng(4)
    m = rng.integers(0, 256, size=(24, 37), dtype=np.uint8)
    px = [m[y].tobytes() for y in range(24)]
    dec = J.decode_jpeg_gray(J.pack_jpeg_gray(px))
    d = np.frombuffer(b"".join(dec), dtype=np.uint8).astype(int)
    assert np.abs(d.reshape(24, 37) - m.astype(int)).max() <= 16


def test_non_multiple_of_mcu_dimensions():
    # 13x21 page: right/bottom MCU padding must crop away exactly
    rng = np.random.default_rng(8)
    m = rng.integers(0, 256, size=(13, 21), dtype=np.uint8)
    px = [m[y].tobytes() for y in range(13)]
    for kwargs in ({}, {"components": 3, "subsample": True}):
        dec = J.decode_jpeg_gray(J.pack_jpeg_gray(px, **kwargs))
        assert len(dec) == 13 and len(dec[0]) == 21


def test_bit_reader_accumulator_stays_bounded():
    # the accumulator holds only the bits not yet consumed, so a long
    # entropy stream never grows it into a bigint that every read shifts
    # (which made decode time quadratic in the payload size)
    rng = np.random.default_rng(11)
    data = rng.integers(0, 255, size=64 * 1024, dtype=np.uint8).tobytes()
    assert 0xFF not in data
    r = J._BitReader(data, 0)
    left = len(data) * 8
    widths = rng.integers(0, 17, size=left)
    i = 0
    while left:
        n = min(int(widths[i]), left)
        i += 1
        if n == 0:
            r.read_bit()
            n = 1
        else:
            r.read_bits(n)
        left -= n
        assert r.acc.bit_length() <= r.nbits + 8
    with pytest.raises(K.OcrUnsupported, match="truncated"):
        r.read_bit()


def test_out_of_profile_quarantines():
    jp = bytearray(J.render_text_jpeg("X", width=8))
    i = jp.find(b"\xff\xc0")
    jp[i + 1] = 0xC9  # SOF9 arithmetic sequential: out of profile
    with pytest.raises(K.OcrUnsupported, match="baseline"):
        J.decode_jpeg_gray(bytes(jp))
    jp[i + 1] = 0xC2  # SOF2 over a baseline 0..63 scan: bad spectral band
    with pytest.raises(K.OcrUnsupported, match="DC scan"):
        J.decode_jpeg_gray(bytes(jp))
    with pytest.raises(K.OcrUnsupported):
        J.decode_jpeg_gray(J.render_text_jpeg("X", width=8)[:40])
    with pytest.raises(K.OcrUnsupported):
        J.decode_jpeg_gray(b"\x89PNG\r\n\x1a\n")
    with pytest.raises(K.OcrUnsupported):
        J.decode_jpeg_gray(b"\xff\xd8\xff\xe0" + b"\x00" * 32)


def test_extract_document_jpeg_dispatch():
    from pdf_extractor_spark.operators.extract import extract_document

    rows = extract_document(J.render_text_jpeg("SCANNED VIA JPEG", width=32))
    assert rows[0]["text"] == "SCANNED VIA JPEG"
    assert rows[0]["meta"]["file_type"] == "jpeg"
    assert rows[0]["meta"]["ocr"] == "true"
    bad = extract_document(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    assert bad[0]["meta"]["needs_ocr"] == "true"


def test_multimodal_decode_jpeg():
    from pdf_extractor_spark.operators import multimodal as mm

    arr = mm._decode_image(J.render_text_jpeg("DOC 8", width=32))
    assert arr.ndim == 3 and arr.shape[2] == 1


# ---------------------------------------------------------------------
# progressive (SOF2) profile — T.81 Annex G.2
# ---------------------------------------------------------------------

def test_progressive_equals_baseline_bit_exact():
    """Progressive transmission is a lossless reordering of the same
    quantized coefficients, so after all scans land the decoded raster
    must equal the baseline encoding's byte-for-byte — across spectral
    selection, successive approximation, and restart intervals."""
    rng = np.random.default_rng(21)
    for h, w in [(8, 8), (16, 24), (23, 37), (1, 1), (5, 64)]:
        m = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        px = [m[y].tobytes() for y in range(h)]
        base = J.decode_jpeg_gray(J.pack_jpeg_gray(px))
        for succ in (False, True):
            for ri in (0, 3):
                prog = J.decode_jpeg_gray(J.pack_jpeg_gray_progressive(
                    px, successive=succ, restart_interval=ri))
                assert prog == base, (h, w, succ, ri)


def test_progressive_smooth_page_exercises_eob_runs():
    """A mostly-flat page makes whole blocks zero in the AC band, so the
    encoder accumulates multi-block EOB runs (with buffered correction
    bits in the refinement scan) — the decoder must track them."""
    px = [[255 if (x // 4 + y // 4) % 7 else 0 for x in range(64)]
          for y in range(48)]
    base = J.decode_jpeg_gray(J.pack_jpeg_gray(px))
    for succ in (False, True):
        got = J.decode_jpeg_gray(
            J.pack_jpeg_gray_progressive(px, successive=succ))
        assert got == base


def test_progressive_ocr_exact():
    rows = J.decode_jpeg_gray(J.render_text_jpeg_progressive(TEXT, width=16))
    assert K.lines_to_stream_text(K.ocr_gray_rows(rows)) == TEXT


def test_progressive_fuzz_quarantines_never_crashes():
    """Bit-flipped progressive streams must quarantine via OcrUnsupported
    or decode to something — never escape another exception type (the
    JPEG/WebP error-boundary discipline)."""
    import random

    rnd = random.Random(1234)
    base = J.pack_jpeg_gray_progressive(_page(), successive=True,
                                        restart_interval=4)
    for _ in range(800):
        b = bytearray(base)
        for _ in range(rnd.randrange(1, 4)):
            b[rnd.randrange(len(b))] = rnd.randrange(256)
        try:
            J.decode_jpeg_gray(bytes(b))
        except K.OcrUnsupported:
            pass


def test_sof2_no_longer_quarantined_other_sofs_still_do():
    stream = J.pack_jpeg_gray_progressive(_page())
    assert J.decode_jpeg_gray(stream)  # decodes
    # SOF9 (arithmetic sequential) must still raise loudly
    bad = stream.replace(b"\xff\xc2", b"\xff\xc9", 1)
    with pytest.raises(K.OcrUnsupported, match="SOF9"):
        J.decode_jpeg_gray(bad)


def test_progressive_dc_table_corruption_quarantines():
    """Review finding (round 4): a corrupted DC Huffman VALUE byte can
    decode to a category >= 64, whose read_bits value overflows the
    int32 coefficient buffer — that must surface as OcrUnsupported (one
    quarantined row), never OverflowError (a dead Spark task). Targeted
    fuzz over the DHT segments."""
    import random

    base = bytearray(J.pack_jpeg_gray_progressive(_page(), successive=True))
    i = bytes(base).find(b"\xff\xc4")
    rnd = random.Random(5)
    for _ in range(1200):
        b = bytearray(base)
        for _ in range(rnd.randrange(1, 3)):
            b[i + 4 + rnd.randrange(30)] = rnd.randrange(256)
        try:
            J.decode_jpeg_gray(bytes(b))
        except K.OcrUnsupported:
            pass
