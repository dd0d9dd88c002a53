"""From-scratch PNG codec (stdlib zlib + the 5 scanline filters).

Closes the reference's PNG upload domain (main.py:366-373 accepts
``.png`` uploads; tesseract_extractor.py:22-53 OCRs them): the container
has no image library, so the decoder is built from the public PNG spec
(RFC 2083 / ISO 15948) the same way the BMP/WAV/Y4M decoders were —
struct-level chunk walk, ``zlib`` inflate, and the five scanline filters
(None/Sub/Up/Average/Paeth) reconstructed per row.

Profile (everything outside it raises ``OcrUnsupported`` so the
extraction tier quarantines loudly instead of mis-reading):

- bit depth 8; interlace methods 0 (sequential) and 1 (Adam7 — the
  7-pass deinterleave below, each pass filtered independently per the
  spec's "treat each pass as an independent image" rule)
- color types 0 (grayscale), 2 (truecolor → integer luminance
  ``(r+g+b)//3``, the BMP palette discipline), 3 (palette, mapped
  through PLTE with the same luminance rule), and 4/6 (gray/RGB with
  alpha — alpha is DROPPED, a scan has no transparency)

The encoder twin (``pack_png_gray``) emits the plainest conforming
profile — 8-bit grayscale, filter 0 per scanline, one IDAT — so tests
and the q37/q27 oracles can synthesize scanned-PNG pages closed-form.
Decode output is the same top-down luminance-row shape as
``decode_bmp_gray``, so PNG pages OCR through the identical
``ocr_gray_rows`` machinery (kernels/ocr_kernel.py).

Scale shape: pure CPU over one payload's bytes, run per row inside the
extraction ``mapInArrow`` pass — no joins, no shuffles, no driver work.
"""
from __future__ import annotations

import struct
import zlib

from pdf_extractor_spark.kernels.ocr_kernel import OcrUnsupported

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# Inflate bomb cap — the FlateDecode/_MAX_MEMBER_BYTES discipline: a page
# raster bigger than this is hostile, not a scan.
_MAX_RASTER_BYTES = 64 * 1024 * 1024
# samples per pixel by color type (before the bit-depth multiplier)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 pass grid (PNG spec §8.2): (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _chunks(payload: bytes):
    """Yield (type, data) over the chunk stream; stops at IEND. CRCs are
    not verified (a flipped bit surfaces as an inflate error or garbage
    pixels the OCR plausibility gate rejects — same tolerance the BMP
    decoder has for header noise)."""
    pos = 8
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data_at = pos + 8
        if length > n - data_at:
            raise OcrUnsupported("png: truncated chunk")
        yield ctype, payload[data_at:data_at + length]
        if ctype == b"IEND":
            return
        pos = data_at + length + 4  # skip CRC
    raise OcrUnsupported("png: missing IEND")


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §6.6) — exact integer form."""
    p = a + b - c
    pa = p - a if p >= a else a - p
    pb = p - b if p >= b else b - p
    pc = p - c if p >= c else c - p
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> list[bytearray]:
    """Reverse the per-scanline filters: raw is height rows of
    (1 filter byte + width*bpp sample bytes); returns reconstructed rows.
    Filters 0/2 (None/Up) vectorize trivially; 1 (Sub) is a running sum;
    3/4 (Average/Paeth) are the spec's sequential recurrences — pages are
    one-shot decodes, so the scalar loops are fine and keep this a direct
    transcription of the spec (easy to audit)."""
    stride = width * bpp
    if len(raw) < height * (stride + 1):
        raise OcrUnsupported("png: truncated raster")
    rows: list[bytearray] = []
    prior = bytearray(stride)
    pos = 0
    for _y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prior[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prior[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                ul = prior[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prior[i], ul)) & 0xFF
        else:
            raise OcrUnsupported(f"png: unknown filter type {ftype}")
        rows.append(line)
        prior = line
    return rows


def _deinterlace_adam7(raw: bytes, width: int, height: int,
                       bpp: int) -> list[bytearray]:
    """Reassemble an Adam7 raster: each of the 7 passes is an independent
    filtered sub-image (its own filter bytes, its own prior-row state —
    PNG spec §8.2/§12.8), consumed in order from the inflated stream and
    scattered onto the full-resolution grid."""
    full = [bytearray(width * bpp) for _ in range(height)]
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = -(-(width - x0) // dx) if width > x0 else 0
        ph = -(-(height - y0) // dy) if height > y0 else 0
        if pw <= 0 or ph <= 0:
            continue  # empty pass contributes zero bytes
        span = ph * (1 + pw * bpp)
        sub = _unfilter(raw[pos:pos + span], pw, ph, bpp)
        pos += span
        for py, line in enumerate(sub):
            y = y0 + py * dy
            row = full[y]
            for px_i in range(pw):
                x = (x0 + px_i * dx) * bpp
                row[x:x + bpp] = line[px_i * bpp:(px_i + 1) * bpp]
    return full


def decode_png_gray(payload: bytes) -> list[bytes]:
    """Parse a PNG into top-down luminance rows (one byte per pixel) —
    the ``decode_bmp_gray`` output shape, so PNG pages feed the same OCR
    grid machinery. Raises ``OcrUnsupported`` on any container shape
    outside the profile (signature, bit depth, interlace, codec-less
    formats); raises nothing else — including on arbitrarily corrupted
    chunk contents (the JPEG/WebP error-boundary discipline; a corrupt
    crawl payload must quarantine, not kill the task)."""
    try:
        return _decode_png_gray(payload)
    except OcrUnsupported:
        raise
    except (IndexError, KeyError, ValueError, ZeroDivisionError,
            MemoryError, OverflowError, struct.error) as exc:
        raise OcrUnsupported(
            f"png: corrupt stream ({type(exc).__name__})") from exc


def _decode_png_gray(payload: bytes) -> list[bytes]:
    if not payload.startswith(_PNG_SIG):
        raise OcrUnsupported("not a PNG container")
    width = height = None
    bit_depth = color_type = interlace = None
    idat: list[bytes] = []
    palette: bytes | None = None
    for ctype, data in _chunks(payload):
        if ctype == b"IHDR":
            if len(data) != 13:
                raise OcrUnsupported("png: malformed IHDR")
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data))
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"IDAT":
            idat.append(data)
    if width is None:
        raise OcrUnsupported("png: missing IHDR")
    if bit_depth != 8:
        raise OcrUnsupported(f"png: unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise OcrUnsupported(f"png: unsupported color type {color_type}")
    if interlace not in (0, 1):
        raise OcrUnsupported(f"png: unknown interlace method {interlace}")
    if width <= 0 or height <= 0 or width > 1 << 16 or height > 1 << 16:
        raise OcrUnsupported(f"png: implausible dimensions {width}x{height}")
    if not idat:
        raise OcrUnsupported("png: missing IDAT")
    if color_type == 3 and palette is None:
        raise OcrUnsupported("png: palette image without PLTE")
    bpp = _CHANNELS[color_type]
    if width * bpp * height > _MAX_RASTER_BYTES:
        raise OcrUnsupported("png: raster exceeds decode cap")
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), _MAX_RASTER_BYTES + 1)
    except zlib.error as exc:
        raise OcrUnsupported(f"png: inflate failed ({exc})") from None
    if len(raw) > _MAX_RASTER_BYTES:
        raise OcrUnsupported("png: raster exceeds decode cap")
    if interlace == 1:
        rows = _deinterlace_adam7(raw, width, height, bpp)
    else:
        rows = _unfilter(raw, width, height, bpp)
    if color_type == 0:
        return [bytes(r) for r in rows]
    if color_type == 3:
        # palette index → integer luminance (b+g+r)//3, one C-speed
        # translate per row — the BMP color-table discipline; a hostile
        # PLTE longer than 256 entries is clamped (indices are one byte,
        # so entries past 256 are unreachable anyway)
        lut = bytearray(range(256))
        for i in range(min(len(palette) // 3, 256)):
            r, g, b = palette[3 * i:3 * i + 3]
            lut[i] = (r + g + b) // 3
        lut_b = bytes(lut)
        return [bytes(r).translate(lut_b) for r in rows]
    try:
        import numpy as np
    except ImportError:  # pragma: no cover - numpy is baked into this env
        out = []
        for r in rows:
            if color_type == 4:  # gray+alpha: keep gray
                out.append(bytes(r[0::2]))
            else:  # 2 / 6: truecolor (+alpha): integer luminance
                out.append(bytes(
                    (r[i] + r[i + 1] + r[i + 2]) // 3
                    for i in range(0, len(r), bpp)))
        return out
    m = np.frombuffer(b"".join(bytes(r) for r in rows),
                      dtype=np.uint8).reshape(height, width, bpp)
    if color_type == 4:
        lum = m[:, :, 0]
    else:
        lum = (m[:, :, 0].astype(np.int32) + m[:, :, 1] + m[:, :, 2]) // 3
    return [lum[y].astype(np.uint8).tobytes() for y in range(height)]


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data)))


def pack_png_gray(px: list, interlace: bool = False) -> bytes:
    """Pack top-down luminance rows into the plainest conforming PNG:
    8-bit grayscale (color type 0), filter 0 per scanline, one IDAT.
    ``interlace=True`` emits Adam7 pass order (each pass an independent
    filter-0 sub-image — the web-optimized layout browsers render
    progressively). Encoder twin of ``decode_png_gray`` (round-trips
    pinned by tests)."""
    height, width = len(px), len(px[0])
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0,
                       1 if interlace else 0)
    if interlace:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            for y in range(y0, height, dy):
                line = bytes(px[y][x] for x in range(x0, width, dx))
                if line:
                    parts.append(b"\x00" + line)
        raw = b"".join(parts)
    else:
        raw = b"".join(b"\x00" + bytes(px[y]) for y in range(height))
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, 6))
            + _chunk(b"IEND", b""))


def render_text_png(text: str, width: int = 32,
                    interlace: bool = False) -> bytes:
    """Print ``text`` in the 5x7 fixed-pitch OCR font onto a grayscale
    PNG — the PNG twin of ``render_text_bmp`` (shared raster, different
    container), the scanned-page shape the reference OCRs via Tesseract
    (tesseract_extractor.py:22-53). ``interlace=True`` emits Adam7."""
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_page_gray, wrap_fixed,
    )

    return pack_png_gray(render_page_gray(wrap_fixed(text, width)),
                         interlace=interlace)
