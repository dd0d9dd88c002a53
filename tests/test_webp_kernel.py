"""Lossless WebP / VP8L codec (kernels/webp_kernel.py): prefix codes,
LZ77, color cache, all four transforms, encoder twin, extraction-tier
dispatch.

Reference parity: ``.webp`` closes the reference's image-capable upload
list (backend main.py:371, frontend accept list) — the last container
type; lossy ``VP8 `` stays on the loud quarantine path.
"""
from __future__ import annotations

import random
import struct

import pytest

from pdf_extractor_spark.kernels import ocr_kernel as K
from pdf_extractor_spark.kernels import webp_kernel as W

TEXT = "VP8L LOSSLESS OK 42."


def _gray(rows):
    return [bytes(r) for r in rows]


@pytest.mark.parametrize("flavors", [
    {},                                    # normal green code
    {"use_simple2": True},                 # 2-symbol simple code
    {"use_lz77": True},                    # distance-1 backrefs
    {"cache_bits": 6},                     # color cache hits
    {"use_lz77": True, "cache_bits": 4},   # both
    {"use_near": True},                    # near-neighbor code 1 (prev row)
    {"use_near": True, "use_lz77": True},  # mixed distance prefixes
    {"use_near": True, "use_lz77": True, "cache_bits": 4},  # all paths
])
def test_roundtrip_ocr_exact(flavors):
    payload = W.render_text_webp(TEXT, width=16, **flavors)
    rows = W.decode_webp_gray(payload)
    assert K.lines_to_stream_text(K.ocr_gray_rows(rows)) == TEXT
    # the decode is LOSSLESS: byte-identical to the BMP raster
    bmp = K.decode_bmp_gray(K.render_text_bmp(TEXT, width=16))
    assert _gray(rows) == _gray(bmp)


def test_near_neighbor_offset_table_generation():
    """The 120-entry distance map is GENERATED from the spec's closed-form
    enumeration; pin the enumeration's invariants and its leading rows
    against the published table text (RFC 9649 §4.2.2)."""
    t = W._NEAR_OFFSETS
    assert len(t) == 120 and len(set(t)) == 120
    # candidate domain: y 0..7; y==0 -> x 1..8 (8 codes), else x -7..8
    assert all(0 <= y <= 7 and -7 <= x <= 8 and (y > 0 or x > 0)
               for x, y in t)
    assert sum(1 for x, y in t if y == 0) == 8
    # ordering: non-decreasing squared distance; within a distance class
    # |x| ascends and +x precedes -x
    d2 = [x * x + y * y for x, y in t]
    assert d2 == sorted(d2)
    # the spec table's first two rows and its tail, verbatim
    assert t[:16] == [(0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0),
                      (1, 2), (-1, 2), (2, 1), (-2, 1), (2, 2), (-2, 2),
                      (0, 3), (3, 0), (1, 3), (-1, 3)]
    assert t[-6:] == [(-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7)]
    # code 1 = offset (0, 1): distance == xsize — the previous-row copy
    # the use_near encoder emits
    assert t[0] == (0, 1)


def test_near_neighbor_distance_clamp():
    """Offsets with x + y*xsize < 1 clamp to distance 1 (spec). Build a
    3-wide image whose LZ77 reference uses code 4 = offset (-1, 1):
    distance = 3 - 1 = 2 on a 3-wide image — and verify against the
    direct-distance equivalent; then check the clamp arithmetic on the
    narrowest image where the offset would go negative."""
    ox, oy = W._NEAR_OFFSETS[3]           # code 4
    assert (ox, oy) == (-1, 1)
    assert max(ox + oy * 3, 1) == 2       # 3-wide: one-left-one-up
    assert max(ox + oy * 1, 1) == 1       # 1-wide degenerate: clamps ON 0
    ox, oy = W._NEAR_OFFSETS[119]         # code 120 = (8, 7)
    assert max(ox + oy * 2, 1) == 22


# -- hand-built streams driving each decoder path from real bits -------------

def _wrap(vp8l_bits: bytes) -> bytes:
    payload = b"\x2f" + vp8l_bits
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def _code_for(bw, syms, alphabet):
    if len(syms) <= 2 and max(syms) <= 255:
        return W._write_simple_code(bw, sorted(syms))
    return W._write_normal_code(bw, sorted(syms), alphabet)


def _write_literal_image(bw, pixels, is_main):
    """Entropy-coded image of pure literals (no cache, no meta, no LZ77)
    for arbitrary ARGB pixels — the raw building block the transform
    tests compose."""
    bw.write(0, 1)  # no color cache
    if is_main:
        bw.write(0, 1)  # no meta prefix codes
    g = _code_for(bw, {(p >> 8) & 0xFF for p in pixels}, 280)
    r = _code_for(bw, {(p >> 16) & 0xFF for p in pixels}, 256)
    b = _code_for(bw, {p & 0xFF for p in pixels}, 256)
    a = _code_for(bw, {(p >> 24) & 0xFF for p in pixels}, 256)
    W._write_simple_code(bw, [0])  # distance code (unused)
    for p in pixels:
        for cmap, val in ((g, (p >> 8) & 0xFF), (r, (p >> 16) & 0xFF),
                          (b, p & 0xFF), (a, (p >> 24) & 0xFF)):
            code, ln = cmap[val]
            W._write_code_msb(bw, code, ln)


def _header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def _argb(v):
    return (255 << 24) | (v << 16) | (v << 8) | v


def test_prefix_lookahead_matches_code_table():
    # codes up to 15 bits: the 8-bit lookahead resolves the short ones,
    # the bit walk the long ones; both must follow the canonical table
    rng = random.Random(7)
    chain = list(range(1, 16)) + [15]          # Kraft-complete, 1..15 bits
    balanced = W._balanced_lengths(list(range(300)))   # 8 and 9 bits
    for lengths in (chain, [balanced[s] for s in range(300)]):
        prefix = W._canonical(lengths)
        codes = W._codes_from_lengths(dict(enumerate(lengths)))
        syms = [rng.randrange(len(lengths)) for _ in range(3000)]
        bw = W._BitWriter()
        for s in syms:
            W._write_code_msb(bw, *codes[s])
        br = W._Bits(bw.finish())
        assert [prefix.decode(br) for _ in syms] == syms


def test_subtract_green_and_gray_conversion_match_loop_reference():
    # the array inverse and gray conversion must equal the per-pixel
    # loops they replaced on full-range ARGB pixels (the rendered pages
    # only carry red = blue = 0 after subtract-green)
    rng = random.Random(3)
    w, h = 23, 9
    pixels = [rng.getrandbits(32) for _ in range(w * h)]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)  # no more transforms
    _write_literal_image(bw, pixels, True)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    expect = []
    for p in pixels:
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        expect.append((r + g + b) // 3)
    assert b"".join(rows) == bytes(expect)


def test_plain_literal_image_no_transforms():
    w, h = 5, 3
    vals = [(x * 37 + y * 11) % 256 for y in range(h) for x in range(w)]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    _write_literal_image(bw, [_argb(v) for v in vals], True)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    assert [list(r) for r in rows] == [
        vals[y * w:(y + 1) * w] for y in range(h)]


def test_color_indexing_transform_with_pixel_bundling():
    # 2-entry palette -> xbits=3 -> 8 indices packed per green byte
    w, h = 11, 2
    c = [(255 << 24) | (10 << 16) | (10 << 8) | 10,
         (255 << 24) | (200 << 16) | (200 << 8) | 200]
    idx = [(x + y) % 2 for y in range(h) for x in range(w)]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(3, 2)  # color indexing
    bw.write(1, 8)  # palette size - 1
    # palette entries are delta-coded per channel: d with c1 == add(c0, d)
    d = 0
    for sh in (24, 16, 8, 0):
        d |= ((((c[1] >> sh) & 0xFF) - ((c[0] >> sh) & 0xFF)) % 256) << sh
    _write_literal_image(bw, [c[0], d], False)
    bw.write(0, 1)  # no more transforms
    packed_w = (w + 7) // 8
    packed = []
    for y in range(h):
        for bx in range(packed_w):
            byte = 0
            for k in range(8):
                x = bx * 8 + k
                if x < w and idx[y * w + x]:
                    byte |= 1 << k
            packed.append(byte << 8)
    _write_literal_image(bw, packed, True)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    assert len(rows) == h and len(rows[0]) == w
    for y in range(h):
        for x in range(w):
            assert rows[y][x] == (200 if idx[y * w + x] else 10)


def _forward_predict(vals, w, h, mode):
    """Forward predictor residuals for a single-block mode image, with
    the spec's forced edge modes (origin=black, top row=L, left col=T).
    Gray pixels (a=255, r=g=b=v)."""
    px = [_argb(v) for v in vals]
    res = []
    for i, p in enumerate(px):
        y, x = divmod(i, w)
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - w]
        else:
            left, top, tl = px[i - 1], px[i - w], px[i - w - 1]
            if mode == 1:
                pred = left
            elif mode == 7:
                pred = W._avg2(left, top)
            elif mode == 12:
                pred = 0
                for sh in (24, 16, 8, 0):
                    v = W._clip255(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)
                                   - ((tl >> sh) & 0xFF))
                    pred |= v << sh
            else:
                raise AssertionError(mode)
        r = 0
        for sh in (24, 16, 8, 0):
            r |= ((((p >> sh) & 0xFF) - ((pred >> sh) & 0xFF)) % 256) << sh
        res.append(r)
    return res


@pytest.mark.parametrize("mode", [1, 7, 12])
def test_predictor_transform(mode):
    w, h = 6, 5
    vals = [(x * 53 + y * 29 + (x * y) % 7) % 256
            for y in range(h) for x in range(w)]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)   # predictor transform
    bw.write(3 - 2, 3)  # size_bits = 3 -> 8x8 blocks -> single block
    _write_literal_image(bw, [(mode << 8)], False)
    bw.write(0, 1)
    _write_literal_image(bw, _forward_predict(vals, w, h, mode), True)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    assert [list(r) for r in rows] == [
        vals[y * w:(y + 1) * w] for y in range(h)]


def test_color_transform_roundtrip():
    w, h = 4, 3
    g2r, g2b, r2b = 3, 250, 16  # 250 = int8 -6

    def s8(v):
        return v - 256 if v >= 128 else v

    def ctd(t, c):
        return (s8(t) * s8(c)) >> 5

    pix = []
    for i in range(w * h):
        r0, g0, b0 = (i * 67) % 256, (i * 41 + 9) % 256, (i * 89 + 3) % 256
        r_in = (r0 - ctd(g2r, g0)) % 256
        b_in = (b0 - ctd(g2b, g0) - ctd(r2b, s8(r0))) % 256
        pix.append((255 << 24) | (r_in << 16) | (g0 << 8) | b_in)
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)   # color transform
    bw.write(3 - 2, 3)  # 8x8 blocks -> single element
    elem = (r2b << 16) | (g2b << 8) | g2r
    _write_literal_image(bw, [elem], False)
    bw.write(0, 1)
    _write_literal_image(bw, pix, True)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    for i in range(w * h):
        r0, g0, b0 = (i * 67) % 256, (i * 41 + 9) % 256, (i * 89 + 3) % 256
        assert rows[i // w][i % w] == (r0 + g0 + b0) // 3


def test_meta_prefix_codes_partition_the_image():
    # 8x4 image, meta bits 2 -> 2x1 meta image: left half group 0 (gray
    # 40), right half group 1 (gray 220); a group mixup breaks the values
    w, h, bits = 8, 4, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(1, 1)  # meta prefix codes present
    bw.write(bits - 2, 3)
    # meta image (2x1): group index in (red<<8)|green
    _write_literal_image(bw, [(255 << 24) | 0, (255 << 24) | (1 << 8)],
                         False)
    groups = []
    for gray in (40, 220):
        g = W._write_simple_code(bw, [gray])
        W._write_simple_code(bw, [gray])   # red
        W._write_simple_code(bw, [gray])   # blue
        W._write_simple_code(bw, [255])    # alpha
        W._write_simple_code(bw, [0])      # distance
        groups.append(g)
    # all codes are single-symbol -> zero pixel bits to write
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    for y in range(h):
        assert list(rows[y]) == [40] * 4 + [220] * 4


def test_quarantines():
    with pytest.raises(K.OcrUnsupported, match="lossy VP8"):
        W.decode_webp_gray(
            b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"VP8 " + struct.pack("<I", 4) + b"\x00\x00\x00\x00")
    with pytest.raises(K.OcrUnsupported, match="WEBP"):
        W.decode_webp_gray(b"RIFF" + b"\x00" * 20)
    with pytest.raises(K.OcrUnsupported, match="signature"):
        W.decode_webp_gray(
            b"RIFF" + struct.pack("<I", 13) + b"WEBP"
            + b"VP8L" + struct.pack("<I", 1) + b"\x00\x00")
    good = W.render_text_webp("X", width=8)
    with pytest.raises(K.OcrUnsupported):
        W.decode_webp_gray(good[:30])
    # version != 0
    bad = bytearray(good)
    # VP8L payload starts after the 20-byte RIFF+chunk headers + 0x2f
    bad[21 + 3] |= 0xE0  # version bits live at bit offsets 29..31
    with pytest.raises(K.OcrUnsupported, match="version"):
        W.decode_webp_gray(bytes(bad))


def test_near_distance_code_decodes_previous_row():
    # hand-built stream: two literal pixels then a run-of-2 backref with
    # dist_code 1 = offset (0, 1) -> distance = xsize: the second row
    # must copy the first (the round-4 quarantine lifted; the offset map
    # is generated from the spec's closed-form enumeration)
    w, h = 2, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    green = W._write_normal_code(bw, [7, 9, 257], 280)
    W._write_simple_code(bw, [0])   # red
    W._write_simple_code(bw, [0])   # blue
    W._write_simple_code(bw, [255])  # alpha
    W._write_simple_code(bw, [0])   # distance: prefix 0 -> dist_code 1
    for sym in (7, 9):
        code, ln = green[sym]
        W._write_code_msb(bw, code, ln)
    code, ln = green[257]           # length prefix 1 -> run of 2
    W._write_code_msb(bw, code, ln)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    # no transform in the hand-built header: gray = mean(0, g, 0) = g // 3
    assert [list(r) for r in rows] == [[2, 3], [2, 3]]


def test_near_distance_code_clamps_to_one():
    # offset (-2, 1) (dist_code 10) on a 2-wide image: -2 + 1*2 = 0 ->
    # the spec clamps the distance to 1, so the run repeats the previous
    # pixel; dist_code 10 encodes as distance prefix 6 + 2 extra bits = 1
    w, h = 2, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    green = W._write_normal_code(bw, [7, 9, 257], 280)
    W._write_simple_code(bw, [0])   # red
    W._write_simple_code(bw, [0])   # blue
    W._write_simple_code(bw, [255])  # alpha
    W._write_simple_code(bw, [6])   # distance prefix 6 (+2 extra bits)
    for sym in (7, 9):
        code, ln = green[sym]
        W._write_code_msb(bw, code, ln)
    code, ln = green[257]           # run of 2
    W._write_code_msb(bw, code, ln)
    bw.write(1, 2)                  # extra bits: dist_code = 8 + 1 + 1 = 10
    assert W._NEAR_OFFSETS[9] == (-2, 1)
    rows = W.decode_webp_gray(_wrap(bw.finish()))
    # gray = g // 3 (no transform): greens [7,9],[9,9] -> [2,3],[3,3]
    assert [list(r) for r in rows] == [[2, 3], [3, 3]]


def test_near_distance_before_image_start_still_quarantines():
    # dist_code 1 referencing above the first row is a corrupt stream ->
    # loud OcrUnsupported, not silent pixels
    w, h = 4, 2
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(0, 1)
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    green = W._write_normal_code(bw, [7, 256], 280)
    W._write_simple_code(bw, [0])   # red
    W._write_simple_code(bw, [0])   # blue
    W._write_simple_code(bw, [255])  # alpha
    W._write_simple_code(bw, [0])   # distance: prefix 0 -> dist_code 1
    code, ln = green[7]
    W._write_code_msb(bw, code, ln)
    code, ln = green[256]           # length prefix 0 -> run of 1
    W._write_code_msb(bw, code, ln)
    with pytest.raises(K.OcrUnsupported, match="before image start"):
        W.decode_webp_gray(_wrap(bw.finish()))


def test_extract_document_webp_dispatch():
    from pdf_extractor_spark.operators.extract import extract_document

    rows = extract_document(W.render_text_webp("SCANNED VIA WEBP", width=32))
    assert rows[0]["text"] == "SCANNED VIA WEBP"
    assert rows[0]["meta"]["file_type"] == "webp"
    assert rows[0]["meta"]["ocr"] == "true"
    lossy = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
             + b"VP8 " + struct.pack("<I", 4) + b"\x00\x00\x00\x00")
    bad = extract_document(lossy)
    assert bad[0]["meta"]["needs_ocr"] == "true"
    assert "lossy" in bad[0]["meta"]["error"]


def test_multimodal_decode_webp():
    from pdf_extractor_spark.operators import multimodal as mm

    arr = mm._decode_image(W.render_text_webp("DOC 9", width=32))
    assert arr.ndim == 3 and arr.shape[2] == 1
