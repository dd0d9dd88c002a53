"""From-scratch deterministic OCR for machine-printed fixed-pitch pages.

Closes the reference's scanned-document path (tesseract_extractor.py:22-53:
rasterize page -> OCR -> per-page TEXT channel) as far as this sandbox
allows: there is no OCR stack and no image library, so BOTH sides of the
scanned tier are built from scratch here —

- a renderer that "prints" text onto an 8-bit grayscale BMP page in a
  5x7 fixed-pitch machine font (the OCR-A/OCR-B shape: machine-readable
  type at a known pitch), and
- an OCR decoder that parses the BMP container (struct-level, no
  libraries), thresholds pixels to ink, segments the page into the fixed
  glyph grid, and classifies every cell by HAMMING-NEAREST template
  matching against the font — tolerant to scanner noise up to
  ``MAX_ERR`` flipped pixels per glyph (6 of 35), emitting ``?``
  for unrecognizable cells instead of guessing.

The decoder is genuinely a classifier (nearest-neighbor over bit
templates), not a byte-level inverse of the renderer: tests flip pixels
and still recover the text, and an all-ink cell degrades to ``?``.

Everything is deterministic, so extracted text is byte-reproducible and
the DuckDB oracle can gate OCR'd pages end-to-end (q37).

Scale shape: the kernel is pure CPU over one payload's bytes; it runs
per row inside the extraction ``mapInArrow`` pass exactly like the HTML
and PDF kernels — no joins, no shuffles, no driver involvement.
"""
from __future__ import annotations

import struct

# --------------------------------------------------------------------------
# 5x7 fixed-pitch font: A-Z, 0-9, '.', ',' — space is the blank cell.
# Each glyph is 7 rows of 5 pixels; 'X' = ink.
# --------------------------------------------------------------------------

_GLYPHS_RAW: dict[str, tuple[str, ...]] = {
    "A": (".XXX.", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "B": ("XXXX.", "X...X", "X...X", "XXXX.", "X...X", "X...X", "XXXX."),
    "C": (".XXX.", "X...X", "X....", "X....", "X....", "X...X", ".XXX."),
    "D": ("XXX..", "X..X.", "X...X", "X...X", "X...X", "X..X.", "XXX.."),
    "E": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "XXXXX"),
    "F": ("XXXXX", "X....", "X....", "XXXX.", "X....", "X....", "X...."),
    "G": (".XXX.", "X...X", "X....", "X.XXX", "X...X", "X...X", ".XXXX"),
    "H": ("X...X", "X...X", "X...X", "XXXXX", "X...X", "X...X", "X...X"),
    "I": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "XXXXX"),
    "J": ("..XXX", "...X.", "...X.", "...X.", "...X.", "X..X.", ".XX.."),
    "K": ("X...X", "X..X.", "X.X..", "XX...", "X.X..", "X..X.", "X...X"),
    "L": ("X....", "X....", "X....", "X....", "X....", "X....", "XXXXX"),
    "M": ("X...X", "XX.XX", "X.X.X", "X.X.X", "X...X", "X...X", "X...X"),
    "N": ("X...X", "XX..X", "X.X.X", "X..XX", "X...X", "X...X", "X...X"),
    "O": (".XXX.", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "P": ("XXXX.", "X...X", "X...X", "XXXX.", "X....", "X....", "X...."),
    "Q": (".XXX.", "X...X", "X...X", "X...X", "X.X.X", "X..X.", ".XX.X"),
    "R": ("XXXX.", "X...X", "X...X", "XXXX.", "X.X..", "X..X.", "X...X"),
    "S": (".XXXX", "X....", "X....", ".XXX.", "....X", "....X", "XXXX."),
    "T": ("XXXXX", "..X..", "..X..", "..X..", "..X..", "..X..", "..X.."),
    "U": ("X...X", "X...X", "X...X", "X...X", "X...X", "X...X", ".XXX."),
    "V": ("X...X", "X...X", "X...X", "X...X", "X...X", ".X.X.", "..X.."),
    "W": ("X...X", "X...X", "X...X", "X.X.X", "X.X.X", "XX.XX", "X...X"),
    "X": ("X...X", "X...X", ".X.X.", "..X..", ".X.X.", "X...X", "X...X"),
    "Y": ("X...X", "X...X", ".X.X.", "..X..", "..X..", "..X..", "..X.."),
    "Z": ("XXXXX", "....X", "...X.", "..X..", ".X...", "X....", "XXXXX"),
    "0": (".XXX.", "X...X", "X..XX", "X.X.X", "XX..X", "X...X", ".XXX."),
    "1": ("..X..", ".XX..", "..X..", "..X..", "..X..", "..X..", ".XXX."),
    "2": (".XXX.", "X...X", "....X", "...X.", "..X..", ".X...", "XXXXX"),
    "3": ("XXXXX", "...X.", "..X..", "...X.", "....X", "X...X", ".XXX."),
    "4": ("...X.", "..XX.", ".X.X.", "X..X.", "XXXXX", "...X.", "...X."),
    "5": ("XXXXX", "X....", "XXXX.", "....X", "....X", "X...X", ".XXX."),
    "6": ("..XX.", ".X...", "X....", "XXXX.", "X...X", "X...X", ".XXX."),
    "7": ("XXXXX", "....X", "...X.", "..X..", ".X...", ".X...", ".X..."),
    "8": (".XXX.", "X...X", "X...X", ".XXX.", "X...X", "X...X", ".XXX."),
    "9": (".XXX.", "X...X", "X...X", ".XXXX", "....X", "...X.", ".XX.."),
    ".": (".....", ".....", ".....", ".....", ".....", ".XX..", ".XX.."),
    ",": (".....", ".....", ".....", ".....", ".XX..", "..X..", ".X..."),
}

GLYPH_W = 5
GLYPH_H = 7
PITCH_X = 6   # 5 px glyph + 1 px gap
PITCH_Y = 9   # 7 px glyph + 2 px leading
MARGIN = 2    # page margin on every side, px
INK = 0       # ink gray value
PAPER = 255   # paper gray value
CHARSET = frozenset(_GLYPHS_RAW) | {" "}


def _bits_of(rows: tuple[str, ...]) -> int:
    """Row-major 35-bit integer of a glyph pattern."""
    v = 0
    for r, row in enumerate(rows):
        for c, ch in enumerate(row):
            if ch == "X":
                v |= 1 << (r * GLYPH_W + c)
    return v


_FONT_BITS: dict[str, int] = {ch: _bits_of(rows) for ch, rows in _GLYPHS_RAW.items()}
_BITS_TO_CHAR: dict[int, str] = {bits: ch for ch, bits in _FONT_BITS.items()}
# templates used by the nearest-neighbor matcher: every glyph plus blank=space,
# in codepoint order so distance ties break deterministically
_TEMPLATES: list[tuple[str, int]] = sorted([(" ", 0)] + list(_FONT_BITS.items()))

assert len(_BITS_TO_CHAR) == len(_FONT_BITS), "font glyphs must be distinct"


class OcrUnsupported(ValueError):
    """Payload is not a bitmap page this OCR profile can read (wrong
    container, compression, or bit depth). Callers route these to the
    needs-OCR quarantine channel rather than failing the wave."""


# --------------------------------------------------------------------------
# renderer ("the scanner"): text -> 8-bpp grayscale BMP
# --------------------------------------------------------------------------

def wrap_fixed(text: str, width: int = 32) -> list[str]:
    """Fixed-pitch line wrap (a printer feed, not word wrap): cut every
    ``width`` chars. Empty text renders one blank line."""
    if width <= 0:
        raise ValueError("width must be positive")
    if not text:
        return [""]
    return [text[i:i + width] for i in range(0, len(text), width)]


def render_page_gray(lines: list[str]) -> list[bytearray]:
    """Print ``lines`` in the 5x7 fixed-pitch font onto a TOP-DOWN matrix of
    luminance rows (one byte per pixel) — the shared raster behind both
    page containers (BMP file and PDF image XObject). Raises on characters
    outside the font charset (the caller controls the page text; silent
    substitution would corrupt the byte-identical contract)."""
    if not lines:
        lines = [""]
    bad = {ch for line in lines for ch in line} - CHARSET
    if bad:
        raise ValueError(f"characters outside the OCR font charset: {sorted(bad)!r}")
    n_cols = max((len(line) for line in lines), default=0)
    width = 2 * MARGIN + max(n_cols, 1) * PITCH_X
    height = 2 * MARGIN + len(lines) * PITCH_Y
    px = [bytearray([PAPER]) * width for _ in range(height)]
    for li, line in enumerate(lines):
        y0 = MARGIN + li * PITCH_Y
        for ci, ch in enumerate(line):
            if ch == " ":
                continue
            rows = _GLYPHS_RAW[ch]
            x0 = MARGIN + ci * PITCH_X
            for r in range(GLYPH_H):
                row = rows[r]
                prow = px[y0 + r]
                for c in range(GLYPH_W):
                    if row[c] == "X":
                        prow[x0 + c] = INK
    return px


def pack_bmp_gray(px: list) -> bytes:
    """Pack top-down luminance rows into the plainest BMP profile: 8
    bits/pixel, uncompressed, bottom-up, 256-entry identity grayscale
    palette — so the decoder's container parse stays a struct exercise."""
    height, width = len(px), len(px[0])
    stride = (width + 3) & ~3
    pad = b"\x00" * (stride - width)
    body = b"".join(bytes(px[y]) + pad for y in range(height - 1, -1, -1))
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
    data_offset = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 0, len(body),
        2835, 2835, 256, 0,
    )
    # reserved fields MUST be zero — extract.detect_image_format relies on it
    header = struct.pack("<2sIHHI", b"BM", data_offset + len(body), 0, 0, data_offset)
    return header + info + palette + body


def pack_bmp_rgb24(px: list) -> bytes:
    """Pack top-down luminance rows into a 24-bpp BI_RGB BMP (bottom-up,
    no palette, b=g=r=luminance) — the profile most desktop 'save as BMP'
    paths emit (round 4: widens the scanned-bitmap tier beyond the 8-bpp
    palette profile)."""
    height, width = len(px), len(px[0])
    stride = (width * 3 + 3) & ~3
    pad = b"\x00" * (stride - width * 3)
    body = b"".join(
        bytes(v for g in px[y] for v in (g, g, g)) + pad
        for y in range(height - 1, -1, -1))
    data_offset = 14 + 40
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body),
        2835, 2835, 0, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", data_offset + len(body), 0, 0, data_offset)
    return header + info + body


def _rle8_row(row: bytes) -> bytes:
    """One bottom-up pixel row as BI_RLE8 encoded runs + end-of-line."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        v = row[i]
        j = i + 1
        while j < n and j - i < 255 and row[j] == v:
            j += 1
        out += bytes((j - i, v))
        i = j
    out += b"\x00\x00"  # end of line
    return bytes(out)


def pack_bmp_rle8(px: list) -> bytes:
    """Pack top-down luminance rows into an RLE8-compressed 8-bpp BMP
    (BI_RLE8, bottom-up, identity grayscale palette). Machine print is
    long paper runs, so this is the compression scanners/fax paths
    actually apply to bilevel-ish pages."""
    height, width = len(px), len(px[0])
    body = b"".join(_rle8_row(bytes(px[y])) for y in range(height - 1, -1, -1))
    body = body[:-2] + b"\x00\x01"  # last EOL becomes end-of-bitmap
    palette = b"".join(struct.pack("<BBBB", g, g, g, 0) for g in range(256))
    data_offset = 14 + 40 + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 8, 1, len(body),
        2835, 2835, 256, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", data_offset + len(body), 0, 0, data_offset)
    return header + info + palette + body


def _bmp_headers(width: int, height: int, bpp: int, compression: int,
                 palette: bytes, body_len: int,
                 masks: bytes = b"") -> bytes:
    """File header + BITMAPINFOHEADER + optional BITFIELDS masks +
    palette, shared by every packer."""
    data_offset = 14 + 40 + len(masks) + len(palette)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, compression, body_len,
        2835, 2835, len(palette) // 4, 0,
    )
    header = struct.pack("<2sIHHI", b"BM", data_offset + body_len, 0, 0,
                         data_offset)
    return header + info + masks + palette


def pack_bmp_mono(px: list) -> bytes:
    """1-bpp monochrome BMP (bottom-up, MSB-first bits, palette
    0=white/1=black, ink threshold <128) — the classic bilevel scan
    container (round-4 final wave widens the bitmap tier to it)."""
    height, width = len(px), len(px[0])
    row_bytes = (width + 7) // 8
    stride = (row_bytes + 3) & ~3
    rows = []
    for y in range(height - 1, -1, -1):
        bits = bytearray(stride)
        for x in range(width):
            if px[y][x] < 128:
                bits[x >> 3] |= 0x80 >> (x & 7)
        rows.append(bytes(bits))
    body = b"".join(rows)
    palette = b"\xff\xff\xff\x00" + b"\x00\x00\x00\x00"
    return _bmp_headers(width, height, 1, 0, palette, len(body)) + body


_GRAY4_PALETTE = b"".join(
    struct.pack("<BBBB", g * 17, g * 17, g * 17, 0) for g in range(16))


def _gray4_rows(px: list) -> list[bytes]:
    """Bottom-up rows of packed 4-bpp nibbles (high nibble first),
    luminance quantized to 16 gray levels (index = g >> 4)."""
    height, width = len(px), len(px[0])
    out = []
    for y in range(height - 1, -1, -1):
        nib = bytearray((width + 1) // 2)
        for x in range(width):
            v = px[y][x] >> 4
            nib[x >> 1] |= v << (4 if x % 2 == 0 else 0)
        out.append(bytes(nib))
    return out


def pack_bmp_gray4(px: list) -> bytes:
    """4-bpp uncompressed BMP with a 16-step grayscale palette."""
    height, width = len(px), len(px[0])
    stride = (((width + 1) // 2) + 3) & ~3
    rows = _gray4_rows(px)
    body = b"".join(r + b"\x00" * (stride - len(r)) for r in rows)
    return (_bmp_headers(width, height, 4, 0, _GRAY4_PALETTE, len(body))
            + body)


def pack_bmp_rle4(px: list) -> bytes:
    """BI_RLE4-compressed 4-bpp BMP (compression 2): encoded runs carry
    the run nibble in BOTH halves of the value byte (a solid run per the
    format's alternating-nibble rule), one EOL per row, final EOB."""
    height, width = len(px), len(px[0])
    body = bytearray()
    for y in range(height - 1, -1, -1):
        x = 0
        while x < width:
            v = px[y][x] >> 4
            n = 1
            while x + n < width and n < 254 and (px[y][x + n] >> 4) == v:
                n += 1
            body += bytes((n, (v << 4) | v))
            x += n
        body += b"\x00\x00"
    body[-2:] = b"\x00\x01"  # last EOL becomes end-of-bitmap
    return (_bmp_headers(width, height, 4, 2, _GRAY4_PALETTE, len(body))
            + bytes(body))


def pack_bmp_bitfields16(px: list) -> bytes:
    """16-bpp BITFIELDS BMP with the ubiquitous RGB565 masks (the shape
    framebuffer dumps and old capture tools emit)."""
    height, width = len(px), len(px[0])
    stride = (width * 2 + 3) & ~3
    pad = b"\x00" * (stride - width * 2)
    body = b"".join(
        b"".join(struct.pack(
            "<H", ((g >> 3) << 11) | ((g >> 2) << 5) | (g >> 3))
            for g in px[y]) + pad
        for y in range(height - 1, -1, -1))
    masks = struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    return (_bmp_headers(width, height, 16, 3, b"", len(body), masks)
            + body)


def pack_bmp_rgb32(px: list) -> bytes:
    """32-bpp BI_RGB BMP (BGRx quads, the other common desktop profile)."""
    height, width = len(px), len(px[0])
    body = b"".join(
        b"".join(struct.pack("<BBBB", g, g, g, 0) for g in px[y])
        for y in range(height - 1, -1, -1))
    return _bmp_headers(width, height, 32, 0, b"", len(body)) + body


def pack_bmp_jpeg(px: list) -> bytes:
    """BI_JPEG (compression 4, biBitCount 0): a complete JPEG stream as
    the pixel data — the printer-driver pass-through profile. The
    embedded stream is the all-ones-quant baseline JPEG (round-trip
    error <= ~2 gray levels, far under the ink threshold, so OCR output
    stays EXACT and the q37 oracle can value-gate the tier)."""
    from pdf_extractor_spark.kernels.jpeg_kernel import pack_jpeg_gray

    body = pack_jpeg_gray(px)
    return _bmp_headers(len(px[0]), -len(px), 0, 4, b"", len(body)) + body


def pack_bmp_png(px: list) -> bytes:
    """BI_PNG (compression 5, biBitCount 0): a complete PNG stream as
    the pixel data (lossless — byte-exact round trip)."""
    from pdf_extractor_spark.kernels.png_kernel import pack_png_gray

    body = pack_png_gray(px)
    return _bmp_headers(len(px[0]), -len(px), 0, 5, b"", len(body)) + body


_BMP_PACKERS = {"gray8": pack_bmp_gray, "rgb24": pack_bmp_rgb24,
                "rle8": pack_bmp_rle8, "mono1": pack_bmp_mono,
                "gray4": pack_bmp_gray4, "rle4": pack_bmp_rle4,
                "bf16": pack_bmp_bitfields16, "rgb32": pack_bmp_rgb32,
                "jpeg_embed": pack_bmp_jpeg, "png_embed": pack_bmp_png}


def render_page_bmp(lines: list[str], profile: str = "gray8") -> bytes:
    """Print ``lines`` in the 5x7 fixed-pitch font onto a BMP in one of
    the supported container profiles: 8-bpp palette (``gray8``), 24-bpp
    BI_RGB (``rgb24``), RLE8-compressed 8-bpp (``rle8``), 1-bpp
    monochrome (``mono1``), 4-bpp palette (``gray4``), RLE4-compressed
    4-bpp (``rle4``), 16-bpp RGB565 BITFIELDS (``bf16``), or 32-bpp
    BI_RGB (``rgb32``)."""
    return _BMP_PACKERS[profile](render_page_gray(lines))


def render_text_bmp(text: str, width: int = 32, profile: str = "gray8") -> bytes:
    """Convenience: fixed-pitch wrap then print."""
    return render_page_bmp(wrap_fixed(text, width), profile=profile)


def _png_filter_rows(px: list) -> bytes:
    """Forward PNG row filtering for the predictored scanned profile:
    each row gets (1 filter byte + filtered samples), cycling the filter
    type 0..4 per row so one page exercises None/Sub/Up/Average/Paeth —
    the decoder must honor the per-row byte, not the declared 1x value.
    bpp = 1 (8-bit gray)."""
    from pdf_extractor_spark.kernels.png_kernel import _paeth

    out = bytearray()
    prior = bytes(len(px[0]))
    for y, row in enumerate(px):
        raw = bytes(row)
        f = y % 5
        out.append(f)
        if f == 0:
            out += raw
        elif f == 1:  # Sub
            out += bytes((raw[i] - (raw[i - 1] if i else 0)) & 0xFF
                         for i in range(len(raw)))
        elif f == 2:  # Up
            out += bytes((raw[i] - prior[i]) & 0xFF for i in range(len(raw)))
        elif f == 3:  # Average
            out += bytes((raw[i] - (((raw[i - 1] if i else 0)
                                     + prior[i]) >> 1)) & 0xFF
                         for i in range(len(raw)))
        else:  # Paeth
            out += bytes((raw[i] - _paeth(raw[i - 1] if i else 0, prior[i],
                                          prior[i - 1] if i else 0)) & 0xFF
                         for i in range(len(raw)))
        prior = raw
    return bytes(out)


def render_scanned_pdf(page_texts: list[str], width: int = 32,
                       profile: str = "gray-raw") -> bytes:
    """Build a SCANNED PDF: each page is one full-page image XObject
    printed in the fixed-pitch font — the real-world shape a scanner/
    copier emits and the input the reference feeds through Tesseract
    (tesseract_extractor.py:22-53 rasterizes PDF pages back to images
    before OCR; a scanned PDF is already that raster). The extraction
    kernel OCRs these pages via the same glyph machinery as BMP files.

    ``profile`` picks the embedding (round 4 widened beyond gray-raw to
    the shapes print-to-PDF/scanner drivers actually write):

    - ``gray-raw``: 8-bit /DeviceGray, unfiltered — the raster holds only
      INK/PAPER bytes, so the stream can never alias 'endstream';
    - ``gray-flate``: the same raster behind /FlateDecode;
    - ``rgb-flate``: 8-bit /DeviceRGB triplets behind /FlateDecode;
    - ``dct``: a complete baseline-JPEG (JFIF) stream behind /DCTDecode —
      the scanner-default embedding. Filtered/DCT bytes are arbitrary
      binary, which is exactly why the reader slices streams by the
      direct /Length written here instead of scanning for markers;
    - ``gray-flate-pred``: Flate with /Predictor 15 — PNG row filters
      (varying per row) under the deflate, the scanner-driver default;
    - ``gray-lzw``: /LZWDecode (EarlyChange 1, the spec default);
    - ``gray-lzw-pred2``: /LZWDecode with /Predictor 2 (TIFF horizontal
      differencing) — the TIFF-in-PDF shape fax pipelines emit;
    - ``ccitt-g4``: 1-bit /CCITTFaxDecode, K=-1 (Group 4 MMR) with the
      default sample polarity (BlackIs1 false: 0 = black) — THE fax/
      scanner embedding (PDF 2.0 §7.4.6);
    - ``ccitt-g3``: 1-bit /CCITTFaxDecode, K=4 mixed 1D/2D with EOL
      framing, /BlackIs1 true plus a /Decode [1 0] inversion — the
      other polarity knob pair, exercised together so a reader that
      honors only one of them misrenders and fails the value gate."""
    if not page_texts:
        page_texts = [""]
    objs: list[bytes] = []   # bodies; object number = index + 1

    def _add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    def _image_obj(px: list) -> bytes:
        import zlib

        h, w = len(px), len(px[0])
        bpc = 8
        extra = b""
        gray = b"".join(bytes(r) for r in px)  # top-down, per PDF convention
        if profile == "ccitt-g4":
            from pdf_extractor_spark.kernels.ccitt_kernel import (
                encode_gray_rows,
            )

            space, bpc = b"/DeviceGray", 1
            filt = (b" /Filter /CCITTFaxDecode /DecodeParms"
                    b" << /K -1 /Columns %d /Rows %d >>" % (w, h))
            data = encode_gray_rows([bytes(r) for r in px], k=-1)
        elif profile == "ccitt-g3":
            from pdf_extractor_spark.kernels.ccitt_kernel import (
                encode_gray_rows,
            )

            space, bpc = b"/DeviceGray", 1
            filt = (b" /Filter /CCITTFaxDecode /DecodeParms"
                    b" << /K 4 /Columns %d /Rows %d /EndOfLine true"
                    b" /BlackIs1 true >>" % (w, h))
            extra = b" /Decode [1 0]"
            data = encode_gray_rows([bytes(r) for r in px], k=4, eol=True)
        elif profile == "gray-raw":
            space, filt, data = b"/DeviceGray", b"", gray
        elif profile == "gray-flate":
            space, filt, data = b"/DeviceGray", b" /Filter /FlateDecode", zlib.compress(gray)
        elif profile == "rgb-flate":
            rgb = bytes(v for g in gray for v in (g, g, g))
            space, filt, data = b"/DeviceRGB", b" /Filter /FlateDecode", zlib.compress(rgb)
        elif profile == "dct":
            from pdf_extractor_spark.kernels.jpeg_kernel import pack_jpeg_gray

            space, filt, data = b"/DeviceGray", b" /Filter /DCTDecode", pack_jpeg_gray(px)
        elif profile == "gray-flate-pred":
            # PNG-predictored Flate — the shape scanner drivers default
            # to; the row filter VARIES per row (spec-legal under any
            # 10..15 declaration, and what optimizing encoders do)
            space = b"/DeviceGray"
            filt = (b" /Filter /FlateDecode /DecodeParms"
                    b" << /Predictor 15 /Columns %d >>" % w)
            data = zlib.compress(_png_filter_rows(px))
        elif profile == "gray-lzw":
            from pdf_extractor_spark.kernels.tiff_kernel import _lzw_encode

            space, filt = b"/DeviceGray", b" /Filter /LZWDecode"
            data = _lzw_encode(gray)
        elif profile == "gray-lzw-pred2":
            # TIFF horizontal differencing under LZW — the TIFF-in-PDF
            # shape fax/scan pipelines emit
            from pdf_extractor_spark.kernels.tiff_kernel import (
                _apply_predictor2,
                _lzw_encode,
            )

            space = b"/DeviceGray"
            filt = (b" /Filter /LZWDecode /DecodeParms"
                    b" << /Predictor 2 /Columns %d >>" % w)
            data = _lzw_encode(_apply_predictor2(gray, w, h, 1))
        else:
            raise ValueError(f"unknown scanned-PDF profile {profile!r}")
        return (b"<< /Type /XObject /Subtype /Image /Width %d /Height %d"
                b" /ColorSpace %s /BitsPerComponent %d%s%s /Length %d >>\n"
                b"stream\n%s\nendstream"
                % (w, h, space, bpc, extra, filt, len(data), data))

    page_ids: list[int] = []
    kids_slot = _add(b"")  # pages node patched once kids are known
    for text in page_texts:
        px = render_page_gray(wrap_fixed(text, width))
        h, w = len(px), len(px[0])
        img_id = _add(_image_obj(px))
        content = b"q %d 0 0 %d 0 0 cm /Im0 Do Q" % (w, h)
        content_id = _add(
            b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content))
        page_ids.append(_add(
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 %d %d]"
            b" /Resources << /XObject << /Im0 %d 0 R >> >>"
            b" /Contents %d 0 R >>" % (kids_slot, w, h, img_id, content_id)))
    objs[kids_slot - 1] = (
        b"<< /Type /Pages /Count %d /Kids [%s] >>"
        % (len(page_ids), b" ".join(b"%d 0 R" % p for p in page_ids)))
    root_id = _add(b"<< /Type /Catalog /Pages %d 0 R >>" % kids_slot)
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += (b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, root_id, xref_at))
    return bytes(out)


# --------------------------------------------------------------------------
# decoder ("the OCR"): BMP -> pixel matrix -> glyph grid -> text lines
# --------------------------------------------------------------------------

def _palette_lut(payload: bytes, hdr_size: int, data_offset: int) -> bytes:
    """8-bpp color table → index-to-luminance LUT. Pixel values are palette
    INDICES, not gray — the table may be inverted grayscale (index 0 =
    white) or colored, and thresholding raw indices would read such a page
    as solid ink (review finding, round 3). Each index maps through the
    color table to integer luminance (b+g+r)//3; a palette-less BMP (data
    immediately after the DIB header) keeps the identity mapping."""
    pal_start = 14 + hdr_size
    # bound by the PAYLOAD too: a corrupt data_offset past EOF must not
    # read a short slice (fuzz finding — ValueError escaped the contract)
    n_pal = max(0, min(256, (data_offset - pal_start) // 4,
                       (len(payload) - pal_start) // 4))
    lut = bytearray(range(256))  # identity for palette-less / short tables
    for i in range(n_pal):
        b, g, r = payload[pal_start + 4 * i: pal_start + 4 * i + 3]
        lut[i] = (b + g + r) // 3
    return bytes(lut)


def _decode_rle8_indices(data: bytes, width: int, height: int) -> list[bytearray]:
    """BI_RLE8 pixel data → bottom-up rows of palette indices. Supports
    encoded runs, absolute mode, end-of-line and end-of-bitmap escapes;
    the delta escape (0,2) leaves pixels undefined and is out of profile.
    Pixels an early EOL leaves unwritten read as index 0 (undefined per
    the format; deterministic here). Runs that would cross a row boundary
    are malformed and raise."""
    rows = [bytearray(width) for _ in range(height)]
    i, x, y = 0, 0, 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            if y >= height or x + n > width:
                raise OcrUnsupported("RLE8 run crosses row boundary")
            rows[y][x:x + n] = bytes((v,)) * n
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return rows
        elif v == 2:
            raise OcrUnsupported("RLE8 delta escape out of profile")
        else:  # absolute mode: v literal index bytes, word-aligned
            if y >= height or x + v > width or i + v > len(data):
                raise OcrUnsupported("RLE8 absolute run crosses row boundary")
            rows[y][x:x + v] = data[i:i + v]
            x += v
            i += v + (v & 1)
    raise OcrUnsupported("RLE8 data ends without end-of-bitmap")


def _decode_rle4_indices(data: bytes, width: int, height: int) -> list[bytearray]:
    """BI_RLE4 pixel data → bottom-up rows of palette indices. Encoded
    runs alternate the value byte's high/low nibbles across the run;
    absolute mode carries packed nibbles padded to a word boundary.
    Same escape/boundary contract as ``_decode_rle8_indices``."""
    rows = [bytearray(width) for _ in range(height)]
    i, x, y = 0, 0, 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run, nibbles alternate hi/lo
            if y >= height or x + n > width:
                raise OcrUnsupported("RLE4 run crosses row boundary")
            hi, lo = v >> 4, v & 0x0F
            for k in range(n):
                rows[y][x + k] = hi if k % 2 == 0 else lo
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return rows
        elif v == 2:
            raise OcrUnsupported("RLE4 delta escape out of profile")
        else:  # absolute mode: v packed nibbles, word-aligned
            nbytes = (v + 1) // 2
            if y >= height or x + v > width or i + nbytes > len(data):
                raise OcrUnsupported("RLE4 absolute run crosses row boundary")
            for k in range(v):
                b = data[i + (k >> 1)]
                rows[y][x + k] = (b >> 4) if k % 2 == 0 else (b & 0x0F)
            x += v
            i += (nbytes + 1) & ~1
    raise OcrUnsupported("RLE4 data ends without end-of-bitmap")


def _mask_shift_max(mask: int) -> tuple[int, int]:
    """(shift, max value) of a contiguous channel mask; zero mask → a
    channel that always reads 0 (max 1 avoids division by zero)."""
    if mask == 0:
        return 0, 1
    shift = (mask & -mask).bit_length() - 1
    return shift, mask >> shift


def _decode_bmp_masked(payload: bytes, data_offset: int, width: int,
                       height: int, bpp: int,
                       masks: tuple[int, int, int]) -> list[bytes]:
    """16/32-bpp pixel words → top-down luminance rows via the RGB
    channel masks (BITFIELDS, or the format's fixed BI_RGB defaults),
    one vectorized numpy pass."""
    import numpy as np

    word = bpp // 8
    stride = (width * word + 3) & ~3
    if len(payload) < data_offset + stride * height:
        raise OcrUnsupported("truncated pixel data")
    a = np.frombuffer(payload, np.uint8, count=stride * height,
                      offset=data_offset).reshape(height, stride)
    px = a[:, :width * word].reshape(height, width, word)
    vals = px.astype(np.uint32)
    words = vals[:, :, 0]
    for k in range(1, word):
        words = words | (vals[:, :, k] << (8 * k))
    lum = np.zeros((height, width), np.uint32)
    for mask in masks:
        shift, mx = _mask_shift_max(mask)
        lum += ((words & mask) >> shift) * 255 // mx
    lum = (lum // 3).astype(np.uint8)
    return [lum[y].tobytes() for y in range(height)]


def _unpack_subbyte_rows(payload: bytes, data_offset: int, width: int,
                         height: int, bpp: int) -> list[bytes]:
    """1/4-bpp packed pixel data → bottom-up rows of palette indices
    (MSB-first bit order per the format)."""
    row_bytes = (width * bpp + 7) // 8
    stride = (row_bytes + 3) & ~3
    if len(payload) < data_offset + stride * height:
        raise OcrUnsupported("truncated pixel data")
    rows = []
    for y in range(height):
        raw = payload[data_offset + y * stride:
                      data_offset + y * stride + row_bytes]
        out = bytearray(width)
        if bpp == 1:
            for x in range(width):
                out[x] = (raw[x >> 3] >> (7 - (x & 7))) & 1
        else:
            for x in range(width):
                b = raw[x >> 1]
                out[x] = (b >> 4) if x % 2 == 0 else (b & 0x0F)
        rows.append(bytes(out))
    return rows


def decode_bmp_gray(payload: bytes) -> list[bytes]:
    """Parse a BMP into a top-down list of pixel rows (one LUMINANCE byte
    per pixel). Supported container profiles (round 4 widened the original
    8-bpp-uncompressed-only profile to every shape the scanned-page domain
    actually emits; the final wave added the sub-byte, RLE4 and masked
    word profiles): 1/4/8-bpp palette uncompressed, 4-bpp RLE4, 8-bpp
    RLE8, 16-bpp BI_RGB (the format's fixed 555 masks) and BITFIELDS,
    24-bpp BI_RGB, 32-bpp BI_RGB and BITFIELDS, and (round 5) the
    BI_JPEG/BI_PNG embedded-codec profiles (compression 4/5,
    biBitCount 0 — the pixel data is a complete JPEG/PNG stream,
    delegated to the in-repo codecs; header dims must agree with the
    stream). Raises OcrUnsupported on anything else (alpha-only masks,
    unknown compressions); raises nothing else.
    """
    if len(payload) < 54 or not payload.startswith(b"BM"):
        raise OcrUnsupported("not a BMP container")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    (hdr_size,) = struct.unpack_from("<I", payload, 14)
    if hdr_size < 40 or len(payload) < 14 + hdr_size:
        raise OcrUnsupported(f"unsupported DIB header size {hdr_size}")
    width, height = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    (compression,) = struct.unpack_from("<I", payload, 30)
    profiles = ((1, 0), (4, 0), (4, 2), (8, 0), (8, 1), (16, 0), (16, 3),
                (24, 0), (32, 0), (32, 3), (0, 4), (0, 5))
    if planes != 1 or (bpp, compression) not in profiles:
        raise OcrUnsupported(
            f"unsupported BMP variant (planes={planes} bpp={bpp} "
            f"compression={compression})")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height <= 0 or width > 1 << 16 or height > 1 << 16:
        raise OcrUnsupported(f"implausible dimensions {width}x{height}")
    if data_offset < 54:
        raise OcrUnsupported("truncated pixel data")

    if compression in (4, 5):  # BI_JPEG / BI_PNG (biBitCount = 0 per spec):
        # the "pixel data" is a complete embedded JPEG/PNG stream — the
        # printer-driver pass-through layout. Delegate to the from-scratch
        # codecs (lazy imports: those kernels import from this module);
        # their own errors are already OcrUnsupported subclasses' siblings.
        stream = payload[data_offset:]
        if compression == 4:
            from pdf_extractor_spark.kernels.jpeg_kernel import (
                decode_jpeg_gray,
            )
            rows = decode_jpeg_gray(stream)
        else:
            from pdf_extractor_spark.kernels.png_kernel import (
                decode_png_gray,
            )
            rows = decode_png_gray(stream)
        # the embedded stream owns orientation, so rows are never flipped:
        # per BITMAPINFOHEADER a top-down (negative-height) DIB cannot be
        # compressed, and for BI_JPEG/BI_PNG biHeight is the height of the
        # embedded image, whose own top-down row order governs. A positive
        # height is the spec's form; the negative one pack_bmp_jpeg/_png
        # write is tolerated. The header dims must agree with the stream
        # or the container is lying — quarantine, don't guess
        if len(rows) != height or (rows and len(rows[0]) != width):
            raise OcrUnsupported(
                "BMP embedded stream dimensions disagree with header")
        return rows

    if compression in (1, 2):  # BI_RLE8 / BI_RLE4 (bottom-up per format)
        if top_down:
            raise OcrUnsupported("top-down RLE is invalid BMP")
        lut_b = _palette_lut(payload, hdr_size, data_offset)
        dec = _decode_rle8_indices if compression == 1 else _decode_rle4_indices
        idx = dec(payload[data_offset:], width, height)
        return [bytes(idx[y]).translate(lut_b)
                for y in range(height - 1, -1, -1)]

    if bpp in (16, 32):  # masked words: BITFIELDS or the BI_RGB defaults
        if compression == 3:
            if len(payload) < 66:
                raise OcrUnsupported("truncated BITFIELDS masks")
            masks = struct.unpack_from("<III", payload, 54)
        elif bpp == 16:
            masks = (0x7C00, 0x03E0, 0x001F)
        else:
            masks = (0x00FF0000, 0x0000FF00, 0x000000FF)
        rows = _decode_bmp_masked(payload, data_offset, width, height,
                                  bpp, masks)
    elif bpp in (1, 4):  # sub-byte palette indices
        lut_b = _palette_lut(payload, hdr_size, data_offset)
        rows = [r.translate(lut_b) for r in _unpack_subbyte_rows(
            payload, data_offset, width, height, bpp)]
    elif bpp == 24:  # BI_RGB triplets -> luminance, one vectorized pass
        import numpy as np

        row_bytes = width * 3
        stride = (row_bytes + 3) & ~3
        if len(payload) < data_offset + stride * height:
            raise OcrUnsupported("truncated pixel data")
        a = np.frombuffer(payload, np.uint8, count=stride * height,
                          offset=data_offset)
        tri = a.reshape(height, stride)[:, :row_bytes].reshape(height, width, 3)
        lum = (tri.sum(axis=2, dtype=np.uint16) // 3).astype(np.uint8)
        rows = [lum[y].tobytes() for y in range(height)]
    else:  # 8-bpp palette, uncompressed
        stride = (width + 3) & ~3
        if len(payload) < data_offset + stride * height:
            raise OcrUnsupported("truncated pixel data")
        lut_b = _palette_lut(payload, hdr_size, data_offset)
        rows = [
            payload[data_offset + y * stride: data_offset + y * stride + width]
            .translate(lut_b)
            for y in range(height)
        ]
    if not top_down:
        rows.reverse()
    return rows


def _popcount(v: int) -> int:
    return bin(v).count("1")


# Most flipped pixels a cell may differ from its template and still match.
MAX_ERR = 6


def match_glyph(bits: int) -> str:
    """Classify one 35-bit glyph cell: exact template hit, else the
    Hamming-nearest font template (space = blank) within ``MAX_ERR``
    flipped pixels, else '?'. Distance ties break to the lower codepoint
    (deterministic)."""
    if bits == 0:
        return " "
    hit = _BITS_TO_CHAR.get(bits)
    if hit is not None:
        return hit
    best_ch, best_d = "?", MAX_ERR + 1
    for ch, tmpl in _TEMPLATES:
        d = _popcount(bits ^ tmpl)
        if d < best_d:
            best_ch, best_d = ch, d
    return best_ch if best_d <= MAX_ERR else "?"


def _cell_bits_numpy(rows: list[bytes], n_lines: int, n_cols: int,
                     oy: int = MARGIN, ox: int = MARGIN):
    """Vectorized glyph-grid bit extraction: the whole page's cells become
    one (n_lines*n_cols,) int64 array of 35-bit patterns in a handful of
    numpy ops — reshape to (line, y, col, x) cells, crop the glyph area,
    dot with powers of two. ~20× the scalar loop on full pages; the
    scalar path below stays as the semantic reference (parity-tested)."""
    import numpy as np

    m = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(len(rows), -1)
    region = m[oy:oy + n_lines * PITCH_Y,
               ox:ox + n_cols * PITCH_X] < 128
    cells = region.reshape(n_lines, PITCH_Y, n_cols, PITCH_X)
    glyphs = cells[:, :GLYPH_H, :, :GLYPH_W].transpose(0, 2, 1, 3)
    flat = glyphs.reshape(n_lines * n_cols, GLYPH_H * GLYPH_W)
    pow2 = (1 << np.arange(GLYPH_H * GLYPH_W, dtype=np.int64))
    return flat @ pow2


def _estimate_origin(rows: list[bytes]) -> tuple[int, int]:
    """Locate the glyph grid on a cropped/shifted scan: for each axis pick
    the pitch-offset class that keeps the most ink inside glyph areas
    (for the true offset ALL ink lies in glyph rows/columns), then anchor
    the origin at the first ink position of that class. Deterministic
    (ties break to the smaller offset); (MARGIN, MARGIN) on blank pages."""
    import numpy as np

    m = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(len(rows), -1)
    ink_y, ink_x = np.nonzero(m < 128)
    if ink_x.size == 0:
        return MARGIN, MARGIN

    def best(coords, pitch: int, glyph: int) -> int:
        scores = [(int(((coords - o) % pitch < glyph).sum()), -o)
                  for o in range(pitch)]
        o = -max(scores)[1]
        lo = int(coords.min())
        origin = lo - ((lo - o) % pitch)
        while origin < 0:  # first cell cut by the crop: skip the partial
            origin += pitch
        return origin

    return best(ink_y, PITCH_Y, GLYPH_H), best(ink_x, PITCH_X, GLYPH_W)


def _decode_at(rows: list[bytes], oy: int, ox: int) -> list[str]:
    """Grid decode anchored at origin (oy, ox).

    The last line/column counts as soon as its GLYPH area fits — a
    bottom/right crop removes only inter-cell leading/gap pixels, and
    requiring a full PITCH block would silently drop the final text line
    (review finding, round 3); the missing gap pixels are padded with
    paper. For canonical pages the counts are identical to the full-pitch
    formula (margin 2 < pitch−glyph never adds a row/col).
    """
    height, width = len(rows), len(rows[0]) if rows else 0
    avail_y, avail_x = height - oy, width - ox
    n_lines = (avail_y - GLYPH_H) // PITCH_Y + 1 if avail_y >= GLYPH_H else 0
    n_cols = (avail_x - GLYPH_W) // PITCH_X + 1 if avail_x >= GLYPH_W else 0
    if n_lines <= 0 or n_cols <= 0:
        return []
    need_y, need_x = oy + n_lines * PITCH_Y, ox + n_cols * PITCH_X
    if need_y > height or need_x > width:
        paper = PAPER.to_bytes(1, "little")
        rows = [r + paper * max(0, need_x - width) for r in rows]
        rows += [paper * max(width, need_x)] * max(0, need_y - height)
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked into this env
        return _grid_chars_scalar(rows, n_lines, n_cols, oy, ox)
    bits_arr = _cell_bits_numpy(rows, n_lines, n_cols, oy, ox)
    uniq, inv = np.unique(bits_arr, return_inverse=True)
    lut = np.array([match_glyph(int(b)) for b in uniq], dtype="<U1")
    chars = lut[inv].reshape(n_lines, n_cols)
    return ["".join(line) for line in chars]


def ocr_gray_rows(rows: list[bytes]) -> list[str]:
    """OCR a top-down luminance-row raster into raw grid lines — the
    container-independent core shared by BMP files and PDF image XObjects.

    Grid segmentation first at the page profile's canonical margin (the
    clean-scan fast path — bit-stable for rendered pages); if that decode
    is implausible, a bounded ladder of scanner
    normalizations is tried (see ``_page_variants``): grid-origin
    re-estimation for cropped/shifted scans, 90°/180°/270° rotation for
    mis-fed pages, luminance inversion for white-on-black output, and
    2x/3x block-average downscale for higher-resolution rasters — each
    accepted only if its decode is itself plausible, else the original
    (implausible) decode returns and the caller's gate rejects it. Each
    cell is classified independently by ``match_glyph``. Lines
    are returned as the full cell grid (blank cells ARE spaces in a
    fixed-pitch page) — no trimming, so callers can reconstruct the exact
    printed character stream. ``lines_to_stream_text`` assembles the
    stream form. Note a crop that removes entire leading blank cell
    columns loses them (no absolute reference survives cropping) — the
    standard OCR behavior of dropping leading whitespace.

    Bit extraction is vectorized over the whole page; template matching
    runs once per DISTINCT cell pattern (a clean page has ≤ |font|+1 of
    them, a noisy page a few more), so per-page cost is numpy ops plus
    O(unique patterns) Python.
    """
    lines = _decode_at(rows, MARGIN, MARGIN)
    if ocr_page_plausible(lines):
        return lines
    for i, variant in enumerate(_page_variants(rows)):
        # the first variant IS the raw page, whose canonical decode just
        # failed above — only its estimated-origin attempt is new
        got = _try_decode(variant, try_canonical=i > 0)
        if got is not None:
            return got
    return lines


def _try_decode(rows: list[bytes],
                try_canonical: bool = True) -> list[str] | None:
    """Decode one page variant: canonical origin, then estimated origin.
    Accept only a plausible decode with at least one recognized glyph —
    a blank or '?'-ridden variant must NOT mask the implausibility signal
    (the caller's gate turns that into a loud quarantine, not silence)."""
    origins = ((MARGIN, MARGIN),) if try_canonical else ()
    for oy, ox in origins + (_estimate_origin(rows),):
        got = _decode_at(rows, oy, ox)
        if got and ocr_page_plausible(got) and any(
                ln.strip(" ") for ln in got):
            return got
    return None


def _page_variants(rows: list[bytes]):
    """Scanner-axis normalizations, tried in order on implausible pages:
    crop/shift (handled by origin estimation inside _try_decode), page
    ROTATION (180° upside-down feed first — the common mis-feed — then
    90°/270° landscape feeds; np.rot90 is exact, no resampling), inverse
    video (white-on-black fax output — luminance inversion, distinct from
    the palette inversion the BMP container decode already resolves), and
    integer-scaled scans (a 2x/3x-resolution raster block-averages back to
    the native pitch; exact for pixel-replicated zoom, threshold-stable
    under light noise). The axes COMPOSE (per rotation: plain, inverted,
    then 2x/3x of each), bounding the ladder at 24 variant decodes per
    page — cheap numpy transforms, tried only for pages the fast path
    already rejected, and every accepted variant must itself pass the
    plausibility gate (rotated/inverted REAL text classifies to '?' and
    keeps rejecting — see test_photo_still_rejects_through_the_ladder)."""
    import numpy as np

    m0 = np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(len(rows), -1)

    def as_rows(a) -> list[bytes]:
        return [a[y].tobytes() for y in range(a.shape[0])]

    for rot in (0, 2, 1, 3):  # 0°, 180°, 90°, 270°
        m = np.rot90(m0, rot) if rot else m0
        inv = (255 - m).astype(np.uint8)
        yield as_rows(m)  # origin re-estimation on the (rotated) page
        yield as_rows(inv)
        for base in (m, inv):
            for k in (2, 3):
                h, w = (base.shape[0] // k) * k, (base.shape[1] // k) * k
                if h < PITCH_Y or w < PITCH_X:
                    continue
                small = (base[:h, :w].reshape(h // k, k, w // k, k)
                         .mean(axis=(1, 3)).astype(np.uint8))
                yield as_rows(small)


def _grid_chars_scalar(rows: list[bytes], n_lines: int, n_cols: int,
                       oy: int = MARGIN, ox: int = MARGIN) -> list[str]:
    """Pure-Python reference for the vectorized grid decode (parity-tested
    against it; also the no-numpy fallback)."""
    out: list[str] = []
    for li in range(n_lines):
        y0 = oy + li * PITCH_Y
        chars_l = []
        for ci in range(n_cols):
            x0 = ox + ci * PITCH_X
            bits = 0
            for r in range(GLYPH_H):
                prow = rows[y0 + r]
                for c in range(GLYPH_W):
                    if prow[x0 + c] < 128:
                        bits |= 1 << (r * GLYPH_W + c)
            chars_l.append(match_glyph(bits))
        out.append("".join(chars_l))
    return out


# Plausibility gate: a page is only accepted as machine print when at most
# this fraction of its inked cells failed classification. A real-world
# grayscale raster (photo, scanner noise field) thresholded onto the glyph
# grid classifies overwhelmingly to '?' (a random 35-bit cell lands within
# MAX_ERR of any template with p ≈ 0.2%), so garbage pages reject loudly
# instead of polluting the TEXT channel — while a legit page with a few
# damaged cells still reads.
OCR_MAX_UNKNOWN_FRAC = 0.15


def ocr_page_plausible(lines: list[str]) -> bool:
    """True when the decoded grid looks like machine print: '?' cells are
    at most OCR_MAX_UNKNOWN_FRAC of the non-blank cells. An all-blank page
    is plausible (it is EMPTY, not unreadable — callers handle empty)."""
    n_unknown = sum(ln.count("?") for ln in lines)
    n_nonblank = sum(len(ln) - ln.count(" ") for ln in lines)
    return n_nonblank == 0 or n_unknown <= OCR_MAX_UNKNOWN_FRAC * n_nonblank


def lines_to_stream_text(lines: list[str]) -> str:
    """Grid lines → the printed character stream: the renderer wraps at a
    fixed pitch with no layout semantics (a printer feed), so the inverse
    is plain concatenation (blank cells ARE spaces), trailing padding
    stripped. The single definition of the stream-form contract — shared
    by the BMP tier and the scanned-PDF tier so the two can never
    diverge under q37's common checksum."""
    return "".join(lines).rstrip(" ")
