"""From-scratch lossless WebP (VP8L) codec.

Closes the reference's final image-upload type (backend main.py:371 and
the frontend accept list both take ``.webp``; tesseract_extractor.py
OCRs every accepted image): no image library exists in this container,
so the decoder is built from the public "WebP Lossless Bitstream
Specification" the same way the PNG/GIF/TIFF/JPEG decoders were — RIFF
chunk walk, LSB-first bit reader, canonical prefix (Huffman) codes
including the code-length-coded form, LZ77 backward references, the
color cache, meta prefix-code partitioning, and all four transforms
(predictor, color, subtract-green, color-indexing with pixel bundling)
inverted in reverse order.

Profile (everything outside it raises ``OcrUnsupported`` so the
extraction tier quarantines loudly instead of mis-reading):

- lossless ``VP8L`` only — lossy ``VP8 `` is a full video intra codec
  (boolean arithmetic coder, prediction modes, loop filter) and stays on
  the quarantine path, like arithmetic-coded JPEG;
- LZ77 distance codes 1..120 (the near-neighbor map) now DECODE (the
  round-4 quarantine lifted): the 120-entry (x, y) offset table is not
  quoted from memory but GENERATED from the spec's closed-form
  enumeration — all offsets with y in 0..7, x in -7..8, (y > 0 or
  x > 0), sorted by (x² + y², |x|, positive-x-first) — which reproduces
  the published table (RFC 9649 §4.2.2 "Distance Mapping"); tests pin
  the enumeration's invariants and its leading rows against the spec
  text, and the encoder's ``use_near`` flavor round-trips previous-row
  copies (distance code 1) through the mapping from real bits.

Prefix codes decode through an 8-bit lookahead built with each code
(indexed LSB-first, since VP8L packs code bits MSB-first into an
LSB-first stream): one probe resolves any code of <= 8 bits; longer
codes and the stream's last bits walk bit by bit, so truncated streams
raise at the same bit. Single-symbol codes cost no call in the pixel
loop, and subtract-green and the final gray conversion run as numpy
array operations.

The encoder twin (``pack_webp_gray``) emits conforming minimal streams —
subtract-green transform + literal-only entropy image — with optional
flavors (two-symbol simple code, LZ77 run-length at distance 1, color
cache) so tests can drive each decoder path from real bits. Decode
output is the same top-down luminance-row shape as ``decode_bmp_gray``,
so WEBP pages OCR through the identical ``ocr_gray_rows`` machinery.

Scale shape: pure CPU over one payload's bytes, run per row inside the
extraction ``mapInArrow`` pass — no joins, no shuffles, no driver work.
"""
from __future__ import annotations

import struct

import numpy as np

from pdf_extractor_spark.kernels.ocr_kernel import OcrUnsupported

_MAX_PIXELS = 64 * 1024 * 1024  # decode-bomb cap, the shared discipline
# code-length-code symbol order (spec §"Decoding the Code Lengths")
_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)
_HASH_MUL = 0x1E35A7BD  # color-cache hash multiplier (spec constant)


def _near_neighbor_offsets() -> list:
    """The 120-entry near-neighbor (x, y) offset table for distance codes
    1..120, GENERATED from the spec's closed-form enumeration instead of
    quoted: candidates are every offset in the 8-row neighborhood above /
    beside the current pixel — y in 0..7, x in -7..8, restricted to
    offsets that point BACKWARD in scan order (y > 0, or y == 0 with
    x > 0) — ordered by squared euclidean distance, ties by |x| then
    positive-x-before-negative. 8 + 7×16 = 120 entries, matching RFC 9649
    §4.2.2's published table row for row (leading rows pinned in tests).
    Actual distance = x + y·xsize, clamped to ≥ 1 (spec)."""
    cands = [(x, y) for y in range(8) for x in range(-7, 9)
             if y > 0 or x > 0]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], abs(p[0]),
                              p[0] < 0))
    return cands


_NEAR_OFFSETS = _near_neighbor_offsets()


# -- bit I/O (LSB-first, per spec) -------------------------------------------

class _Bits:
    """LSB-first bit reader over a bytes buffer; running off the end is a
    corrupt stream and raises ``OcrUnsupported`` (quarantine, not crash)."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise OcrUnsupported("webp: truncated bitstream")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v

    def prefetch(self) -> None:
        """Buffer up to 32 more bits for a lookahead; never raises — a
        read past the end still raises from ``read`` at the bit it needs."""
        chunk = self.data[self.pos:self.pos + 4]
        self.acc |= int.from_bytes(chunk, "little") << self.nbits
        self.nbits += 8 * len(chunk)
        self.pos += len(chunk)


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

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


# -- prefix (Huffman) codes ---------------------------------------------------

class _Prefix:
    """Canonical prefix code. ``lut`` is the 8-bit lookahead: indexed by
    the next 8 stream bits (LSB-first, so a code's first bit is the
    index's lowest), entry ``(length << 16) | symbol`` for codes of <= 8
    bits, 0 for longer ones. Those, and codes the stream's last bits
    cannot hold, walk one bit at a time, building the code MSB-first
    (spec bit order). A single-symbol code consumes zero bits."""

    __slots__ = ("table", "single", "max_len", "lut")

    def __init__(self, table: dict, single: int | None, max_len: int):
        self.table = table
        self.single = single
        self.max_len = max_len
        self.lut = [0] * 256
        for (length, code), sym in table.items():
            if length <= 8:
                rev = int(format(code, f"0{length}b")[::-1], 2)
                self.lut[rev::1 << length] = \
                    [(length << 16) | sym] * (1 << (8 - length))

    def decode(self, br: _Bits) -> int:
        if self.single is not None:
            return self.single
        if br.nbits < 8:
            br.prefetch()
        e = self.lut[br.acc & 0xFF]
        if e and e >> 16 <= br.nbits:
            br.acc >>= e >> 16
            br.nbits -= e >> 16
            return e & 0xFFFF
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read(1)
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise OcrUnsupported("webp: invalid prefix code in stream")


def _canonical(lengths: list[int]) -> _Prefix:
    """DEFLATE-style canonical code from per-symbol bit lengths: codes
    assigned in increasing length, ties by symbol index. Incomplete or
    over-subscribed codes are corrupt streams (except the one-symbol
    degenerate code, which is valid and zero-cost per spec)."""
    nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not nz:
        raise OcrUnsupported("webp: empty prefix code")
    if len(nz) == 1:
        return _Prefix({}, nz[0][1], 0)
    max_len = max(l for l, _ in nz)
    if max_len > 15:
        raise OcrUnsupported("webp: prefix code length > 15")
    kraft = sum(1 << (max_len - l) for l, _ in nz)
    if kraft != 1 << max_len:
        raise OcrUnsupported("webp: non-canonical prefix code")
    nz.sort()
    table: dict = {}
    code = 0
    prev_len = nz[0][0]
    for l, s in nz:
        code <<= l - prev_len
        prev_len = l
        table[(l, code)] = s
        code += 1
    return _Prefix(table, None, max_len)


def _read_prefix_code(br: _Bits, alphabet_size: int) -> _Prefix:
    if br.read(1):  # simple code: 1 or 2 symbols, read-order codes 0/1
        n_syms = br.read(1) + 1
        first_8bit = br.read(1)
        s0 = br.read(8 if first_8bit else 1)
        if n_syms == 1:
            if s0 >= alphabet_size:
                raise OcrUnsupported("webp: simple-code symbol out of range")
            return _Prefix({}, s0, 0)
        s1 = br.read(8)
        if s0 >= alphabet_size or s1 >= alphabet_size:
            raise OcrUnsupported("webp: simple-code symbol out of range")
        return _Prefix({(1, 0): s0, (1, 1): s1}, None, 1)
    # normal: code lengths are themselves prefix-coded
    n_cl = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(n_cl):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _canonical(cl_lengths)
    if br.read(1):  # explicit max-symbol bound
        nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    sym = 0
    prev_len = 8
    while sym < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        c = cl_code.decode(br)
        if c < 16:
            lengths[sym] = c
            sym += 1
            if c:
                prev_len = c
        else:
            if c == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif c == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if sym + repeat > alphabet_size:
                raise OcrUnsupported("webp: code-length repeat overflow")
            for _ in range(repeat):
                lengths[sym] = fill
                sym += 1
    return _canonical(lengths)


def _lz77_value(prefix: int, br: _Bits) -> int:
    """Length/distance prefix decode (spec §"LZ77 backward reference")."""
    if prefix < 4:
        return prefix + 1
    extra = (prefix - 2) >> 1
    offset = (2 + (prefix & 1)) << extra
    return offset + br.read(extra) + 1


def _sub(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# -- entropy-coded image ------------------------------------------------------

def _entropy_image(br: _Bits, w: int, h: int, is_main: bool) -> list[int]:
    """Decode one entropy-coded image to a flat row-major list of ARGB
    ints: color cache + (main image only) meta prefix-code partitioning +
    per-group 5 prefix codes + the literal / LZ77 / cache pixel loop."""
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise OcrUnsupported(f"webp: bad color-cache size {cache_bits}")
    meta = None
    meta_bits = 0
    mw = 0
    n_groups = 1
    if is_main and br.read(1):
        meta_bits = br.read(3) + 2
        mw, mh = _sub(w, meta_bits), _sub(h, meta_bits)
        meta_img = _entropy_image(br, mw, mh, False)
        meta = [(p >> 8) & 0xFFFF for p in meta_img]
        n_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    groups = []
    for _g in range(n_groups):
        groups.append((
            _read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits if cache_bits else 0
    n = w * h
    pixels = [0] * n
    pos = 0
    green, red, blue, alpha, dist_prefix = groups[0]
    while pos < n:
        if meta is not None:
            y, x = divmod(pos, w)
            green, red, blue, alpha, dist_prefix = \
                groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]
        s = green.decode(br)
        if s < 256:
            # single-symbol codes (e.g. red/blue after subtract-green,
            # opaque alpha) cost no bits: skip the call
            r = red.single
            if r is None:
                r = red.decode(br)
            b = blue.single
            if b is None:
                b = blue.decode(br)
            a = alpha.single
            if a is None:
                a = alpha.decode(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            pixels[pos] = px
            pos += 1
            if cache_size:
                cache[(_HASH_MUL * px & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(dist_prefix.decode(br), br)
            if dist_code <= 120:
                # near-neighbor map (spec §"Distance Mapping"): the code
                # addresses a (x, y) offset in the generated table;
                # distance = x + y·xsize, clamped to >= 1
                ox, oy = _NEAR_OFFSETS[dist_code - 1]
                dist = max(ox + oy * w, 1)
            else:
                dist = dist_code - 120
            if dist > pos:
                raise OcrUnsupported("webp: LZ77 distance before image start")
            if pos + length > n:
                raise OcrUnsupported("webp: LZ77 run past image end")
            for _ in range(length):
                px = pixels[pos - dist]
                pixels[pos] = px
                pos += 1
                if cache_size:
                    cache[(_HASH_MUL * px & 0xFFFFFFFF) >> cache_shift] = px
        else:
            idx = s - 280
            if idx >= cache_size:
                raise OcrUnsupported("webp: color-cache index out of range")
            pixels[pos] = cache[idx]
            pos += 1
    return pixels


# -- inverse transforms -------------------------------------------------------

def _avg2(a: int, b: int) -> int:
    """Per-channel floor average of two ARGB pixels (spec Average2)."""
    return ((((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)) & 0xFFFFFFFF


def _clip255(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _inv_predictor(px: list[int], w: int, h: int, bits: int, tw: int,
                   img: list[int]) -> None:
    """Invert the predictor transform in place (residual + prediction per
    channel, mod 256). Top row forces mode L, left column mode T, origin
    0xFF000000 — the spec's implicit edge modes. TR for the rightmost
    pixel is the already-reconstructed first pixel of the current row
    (contiguous-memory indexing, matching the reference decoder)."""
    for i in range(w * h):
        y, x = divmod(i, w)
        if i == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]
        elif x == 0:
            pred = px[i - w]
        else:
            mode = (img[(y >> bits) * tw + (x >> bits)] >> 8) & 0xFF
            left = px[i - 1]
            top = px[i - w]
            tl = px[i - w - 1]
            tr = px[i - w + 1]  # == px[y*w] when x == w-1 (see docstring)
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = left
            elif mode == 2:
                pred = top
            elif mode == 3:
                pred = tr
            elif mode == 4:
                pred = tl
            elif mode == 5:
                pred = _avg2(_avg2(left, tr), top)
            elif mode == 6:
                pred = _avg2(left, tl)
            elif mode == 7:
                pred = _avg2(left, top)
            elif mode == 8:
                pred = _avg2(tl, top)
            elif mode == 9:
                pred = _avg2(top, tr)
            elif mode == 10:
                pred = _avg2(_avg2(left, tl), _avg2(top, tr))
            elif mode == 11:
                # Select(T, L, TL): whichever of T/L is closer to TL
                d = 0
                for sh in (24, 16, 8, 0):
                    lc = (left >> sh) & 0xFF
                    tc = (top >> sh) & 0xFF
                    cc = (tl >> sh) & 0xFF
                    d += abs(lc - cc) - abs(tc - cc)
                pred = top if d <= 0 else left
            elif mode == 12:
                pred = 0
                for sh in (24, 16, 8, 0):
                    c = _clip255(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)
                                 - ((tl >> sh) & 0xFF))
                    pred |= c << sh
            elif mode == 13:
                ave = _avg2(left, top)
                pred = 0
                for sh in (24, 16, 8, 0):
                    a = (ave >> sh) & 0xFF
                    b = (tl >> sh) & 0xFF
                    c = _clip255(a + int((a - b) / 2))  # C trunc division
                    pred |= c << sh
            else:
                raise OcrUnsupported(f"webp: bad predictor mode {mode}")
        # per-channel (residual + prediction) mod 256, no carry between
        # channels: mask out the carry bit of each byte lane
        res = px[i]
        px[i] = (((res & 0x00FF00FF) + (pred & 0x00FF00FF)) & 0x00FF00FF) | \
                (((res & 0xFF00FF00) + (pred & 0xFF00FF00)) & 0xFF00FF00)


def _s8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _inv_color(px: list[int], w: int, h: int, bits: int, tw: int,
               img: list[int]) -> None:
    """Invert the color transform in place. A transform element pixel
    packs green_to_red in its blue channel, green_to_blue in green, and
    red_to_blue in red (spec §"Color Transform"); each delta is
    (int8(multiplier) * int8(channel)) >> 5 with arithmetic shift."""
    for i in range(w * h):
        y, x = divmod(i, w)
        e = img[(y >> bits) * tw + (x >> bits)]
        g2r = _s8(e & 0xFF)
        g2b = _s8((e >> 8) & 0xFF)
        r2b = _s8((e >> 16) & 0xFF)
        p = px[i]
        g = _s8((p >> 8) & 0xFF)
        r = ((p >> 16) & 0xFF) + ((g2r * g) >> 5)
        r &= 0xFF
        b = (p & 0xFF) + ((g2b * g) >> 5) + ((r2b * _s8(r)) >> 5)
        px[i] = (p & 0xFF00FF00) | (r << 16) | (b & 0xFF)


def _inv_subtract_green(px: np.ndarray) -> np.ndarray:
    """Add green back into red and blue, mod 256 per channel."""
    g = (px >> 8) & 0xFF
    r = (((px >> 16) & 0xFF) + g) & 0xFF
    b = ((px & 0xFF) + g) & 0xFF
    return (px & 0xFF00FF00) | (r << 16) | b


def _inv_palette(px: list[int], packed_w: int, h: int, xbits: int,
                 pal: list[int], out_w: int) -> list[int]:
    """Invert color indexing: green channel holds the palette index —
    with pixel bundling (palette <= 16) each packed green byte holds
    2^xbits sub-pixels, low bits first."""
    out = [0] * (out_w * h)
    idx_bits = 8 >> xbits
    idx_mask = (1 << idx_bits) - 1
    for y in range(h):
        row = y * packed_w
        orow = y * out_w
        for x in range(out_w):
            g = (px[row + (x >> xbits)] >> 8) & 0xFF
            idx = (g >> ((x & ((1 << xbits) - 1)) * idx_bits)) & idx_mask
            if idx >= len(pal):
                raise OcrUnsupported("webp: palette index out of range")
            out[orow + x] = pal[idx]
    return out


def _add_pixels(a: int, b: int) -> int:
    """Per-channel byte add mod 256 (palette delta decoding)."""
    return (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF) | \
           (((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)


# -- decoder ------------------------------------------------------------------

def _vp8l_payload(payload: bytes) -> bytes:
    """RIFF walk to the VP8L chunk (direct or inside a VP8X extended
    container); lossy VP8 quarantines (full video intra codec)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise OcrUnsupported("not a WEBP container")
    pos = 12
    n = len(payload)
    saw_lossy = False
    while pos + 8 <= n:
        tag = payload[pos:pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8:pos + 8 + size]
        if tag == b"VP8L":
            if len(body) < size:
                raise OcrUnsupported("webp: truncated VP8L chunk")
            return body
        if tag == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)  # chunks pad to even
    if saw_lossy:
        raise OcrUnsupported(
            "webp: lossy VP8 payload (full intra video codec) outside "
            "this profile")
    raise OcrUnsupported("webp: no VP8L chunk")


def decode_webp_gray(payload: bytes) -> list[bytes]:
    """Parse a lossless WebP into top-down luminance rows (one byte per
    pixel) — the ``decode_bmp_gray`` output shape, so WEBP pages feed the
    same OCR grid machinery. Raises ``OcrUnsupported`` outside the
    profile; nothing else — including on arbitrarily truncated or
    bit-flipped streams (the JPEG error-boundary discipline)."""
    try:
        return _decode_webp_gray(payload)
    except OcrUnsupported:
        raise
    except (IndexError, KeyError, ValueError, ZeroDivisionError,
            MemoryError, OverflowError, struct.error) as exc:
        raise OcrUnsupported(
            f"webp: corrupt stream ({type(exc).__name__})") from exc


def _decode_webp_gray(payload: bytes) -> list[bytes]:
    data = _vp8l_payload(payload)
    if not data or data[0] != 0x2F:
        raise OcrUnsupported("webp: bad VP8L signature")
    br = _Bits(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise OcrUnsupported("webp: unknown VP8L version")
    if w * h > _MAX_PIXELS:
        raise OcrUnsupported(f"webp: implausible dimensions {w}x{h}")
    xsize = w
    transforms: list[tuple] = []
    seen: set[int] = set()
    while br.read(1):
        t = br.read(2)
        if t in seen:
            raise OcrUnsupported("webp: duplicate transform")
        seen.add(t)
        if t == 2:  # subtract green
            transforms.append(("sub_green",))
        elif t in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            tw, th = _sub(xsize, bits), _sub(h, bits)
            img = _entropy_image(br, tw, th, False)
            transforms.append(
                ("predictor" if t == 0 else "color", bits, tw, img))
        else:  # color indexing
            psize = br.read(8) + 1
            raw = _entropy_image(br, psize, 1, False)
            pal: list[int] = []
            prev = 0
            for p in raw:  # palette entries are delta-coded
                prev = _add_pixels(prev, p)
                pal.append(prev)
            xbits = 3 if psize <= 2 else 2 if psize <= 4 else \
                1 if psize <= 16 else 0
            transforms.append(("palette", xbits, pal, xsize))
            xsize = _sub(xsize, xbits)
    px = _entropy_image(br, xsize, h, True)
    cur_w = xsize
    for tr in reversed(transforms):
        if tr[0] == "sub_green":
            px = _inv_subtract_green(np.asarray(px, dtype=np.uint32))
            continue
        if isinstance(px, np.ndarray):  # the other inverses index a list
            px = px.tolist()
        if tr[0] == "palette":
            _, xbits, pal, out_w = tr
            px = _inv_palette(px, cur_w, h, xbits, pal, out_w)
            cur_w = out_w
        elif tr[0] == "predictor":
            _inv_predictor(px, cur_w, h, tr[1], tr[2], tr[3])
        else:
            _inv_color(px, cur_w, h, tr[1], tr[2], tr[3])
    if cur_w != w:
        raise OcrUnsupported("webp: transform width mismatch")
    argb = np.asarray(px, dtype=np.uint32)
    gray = (((argb >> 16) & 0xFF) + ((argb >> 8) & 0xFF) + (argb & 0xFF)) // 3
    return [row.tobytes() for row in gray.astype(np.uint8).reshape(h, w)]


# -- encoder twin -------------------------------------------------------------

def _write_code_msb(bw: _BitWriter, code: int, length: int) -> None:
    """Prefix-code bits enter the stream MSB-first (spec bit order)."""
    for k in range(length - 1, -1, -1):
        bw.write((code >> k) & 1, 1)


def _write_simple_code(bw: _BitWriter, syms: list[int]) -> dict[int, tuple]:
    """Emit a simple prefix code (1 or 2 symbols); returns sym→(code,len)."""
    bw.write(1, 1)
    bw.write(len(syms) - 1, 1)
    if syms[0] <= 1:
        bw.write(0, 1)
        bw.write(syms[0], 1)
    else:
        bw.write(1, 1)
        bw.write(syms[0], 8)
    if len(syms) == 1:
        return {syms[0]: (0, 0)}
    bw.write(syms[1], 8)
    return {syms[0]: (0, 1), syms[1]: (1, 1)}


def _balanced_lengths(symbols: list[int]) -> dict[int, int]:
    """Complete canonical code lengths for a symbol set: with n symbols
    and L = ceil(log2 n), the first 2^L - n symbols (by id) get length
    L-1 and the rest length L — Kraft-exact by construction."""
    n = len(symbols)
    L = max(1, (n - 1).bit_length())
    k = (1 << L) - n
    out: dict[int, int] = {}
    for i, s in enumerate(sorted(symbols)):
        out[s] = L - 1 if i < k and L > 1 else L
    return out


def _codes_from_lengths(lengths: dict[int, int]) -> dict[int, tuple]:
    """sym -> (code, len) under the canonical assignment _canonical uses
    (increasing length, ties by symbol id)."""
    items = sorted(lengths.items(), key=lambda kv: (kv[1], kv[0]))
    out: dict[int, tuple] = {}
    code = 0
    prev = items[0][1]
    for s, l in items:
        code <<= l - prev
        prev = l
        out[s] = (code, l)
        code += 1
    return out


def _write_normal_code(bw: _BitWriter, needed: list[int],
                       alphabet_size: int) -> dict[int, tuple]:
    """Emit a normal (code-length-coded) prefix code covering exactly the
    ``needed`` symbols with balanced lengths; returns sym -> (code, len).
    Zero-gaps between needed symbols are run-length coded (cl symbols
    17/18, singles as cl 0); the explicit max-symbol feature bounds the
    reader loop so no trailing zeros are written."""
    lengths = _balanced_lengths(needed)
    # build the cl-symbol emission sequence first (its count feeds the
    # max-symbol header field, which is written BEFORE the sequence)
    seq: list[tuple[int, int, int]] = []  # (cl_sym, extra_val, extra_bits)
    last = max(lengths)
    sym = 0
    while sym <= last:
        if sym in lengths:
            seq.append((lengths[sym], 0, 0))
            sym += 1
            continue
        run = 0
        while sym + run <= last and (sym + run) not in lengths:
            run += 1
        sym += run
        while run:
            if run >= 11:
                take = min(run, 138)
                seq.append((18, take - 11, 7))
            elif run >= 3:
                take = run
                seq.append((17, take - 3, 3))
            else:
                take = 1
                seq.append((0, 0, 0))
            run -= take
    cl_set = sorted({s for s, _, _ in seq})
    if len(cl_set) == 1:  # cl codes must be complete: pad with a dummy
        cl_set.append(15 if cl_set[0] != 15 else 14)
    cl_lengths = _balanced_lengths(cl_set)
    if max(cl_lengths.values()) > 7:
        raise ValueError("cl code lengths exceed the 3-bit field")
    upto = max(_CL_ORDER.index(s) for s in cl_set) + 1
    bw.write(0, 1)  # normal code
    bw.write(max(upto, 4) - 4, 4)
    for i in range(max(upto, 4)):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    # explicit iteration bound = number of cl symbols emitted
    n_iter = len(seq)
    bw.write(1, 1)
    nbits = 2
    while (1 << nbits) <= max(n_iter - 2, 0):
        nbits += 2
    bw.write((nbits - 2) // 2, 3)
    bw.write(n_iter - 2, nbits)
    cl_codes = _codes_from_lengths(cl_lengths)
    for s, extra, ebits in seq:
        code, ln = cl_codes[s]
        _write_code_msb(bw, code, ln)
        if ebits:
            bw.write(extra, ebits)
    return _codes_from_lengths(lengths)


def pack_webp_gray(px_rows: list, use_simple2: bool = False,
                   use_lz77: bool = False, cache_bits: int = 0,
                   use_near: bool = False) -> bytes:
    """Pack top-down luminance rows into a conforming minimal VP8L
    stream: subtract-green transform (gray pixels then carry r=b=0, so
    red/blue are zero-cost single-symbol codes) + a literal entropy
    image. Encoder twin of ``decode_webp_gray`` (round-trip pinned by
    tests). Flavors drive specific decoder paths from real bits:

    - ``use_simple2``: two-symbol simple green code (requires the page to
      use exactly 2 gray values, e.g. plain ink-on-paper renders);
    - ``use_lz77``: run-length encodes repeats of the previous pixel as
      backward references at distance 1 (direct distance code 121, via
      the distance prefix 13 + 5 extra bits);
    - ``use_near``: encodes runs equal to the PREVIOUS ROW as backward
      references through near-neighbor distance code 1 (offset (0, 1) →
      distance = xsize), driving the generated offset-map decode path
      from real bits — the fixture shape real encoders emit constantly
      (vertically repetitive scans);
    - ``cache_bits``: routes repeated colors through the color cache
      (cache symbols join the green alphabet at 280+slot).
    """
    h, w = len(px_rows), len(px_rows[0])
    flat = [v for row in px_rows for v in row]
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache_shift = 32 - cache_bits if cache_bits else 0

    def events():
        """The emission stream, shared by the symbol-collection pass and
        the bit-writing pass (they must agree exactly). ``copy`` events
        carry the distance PREFIX symbol (0 → near code 1, 13 → direct
        distance 1 via code 121)."""
        cache: list = [None] * cache_size
        i = 0
        n = len(flat)
        while i < n:
            if use_near and i >= w and flat[i] == flat[i - w]:
                run = 1
                while (i + run < n and run < 24
                       and flat[i + run] == flat[i + run - w]):
                    run += 1
                yield ("copy", run, 0)
                if cache_size:
                    for j in range(i, i + run):
                        px = (255 << 24) | (flat[j] << 8)
                        cache[(_HASH_MUL * px & 0xFFFFFFFF)
                              >> cache_shift] = px
                i += run
                continue
            if use_lz77 and i > 0 and flat[i] == flat[i - 1]:
                run = 1
                while (i + run < n and flat[i + run] == flat[i - 1]
                       and run < 24):
                    run += 1
                yield ("copy", run, 13)
                if cache_size:
                    px = (255 << 24) | (flat[i] << 8)
                    cache[(_HASH_MUL * px & 0xFFFFFFFF) >> cache_shift] = px
                i += run
                continue
            g = flat[i]
            px = (255 << 24) | (g << 8)  # post-subtract-green: r = b = 0
            if cache_size:
                slot = (_HASH_MUL * px & 0xFFFFFFFF) >> cache_shift
                if cache[slot] == px:
                    yield ("cache", slot)
                    i += 1
                    continue
                cache[slot] = px
            yield ("lit", g)
            i += 1

    def length_prefix(run: int) -> tuple[int, int, int]:
        if run < 5:
            return run - 1, 0, 0
        prefix = 4
        while True:
            ebits = (prefix - 2) >> 1
            lo = ((2 + (prefix & 1)) << ebits) + 1
            if lo <= run <= lo + (1 << ebits) - 1:
                return prefix, run - lo, ebits
            prefix += 1

    needed: set[int] = set()
    dist_needed: set[int] = set()
    for ev in events():
        kind, v = ev[0], ev[1]
        if kind == "lit":
            needed.add(v)
        elif kind == "copy":
            needed.add(256 + length_prefix(v)[0])
            dist_needed.add(ev[2])
        else:
            needed.add(280 + v)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # no alpha
    bw.write(0, 3)  # version
    bw.write(1, 1)
    bw.write(2, 2)  # subtract green
    bw.write(0, 1)  # no more transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)  # no meta prefix codes
    if use_simple2:
        if cache_bits or use_lz77 or use_near \
                or not needed <= set(range(256)) or len(needed) > 2:
            raise ValueError("use_simple2: <= 2 gray values, no lz77/cache")
        green = _write_simple_code(bw, sorted(needed))
    elif len(needed) == 1 and max(needed) <= 255:
        green = _write_simple_code(bw, sorted(needed))
    else:
        green = _write_normal_code(bw, sorted(needed),
                                   256 + 24 + cache_size)
    _write_simple_code(bw, [0])    # red (0 after subtract-green)
    _write_simple_code(bw, [0])    # blue
    _write_simple_code(bw, [255])  # alpha
    # distance prefix code over the prefixes actually emitted: 0 (near-
    # neighbor code 1, no extra bits) and/or 13 (+5 extra bits, spanning
    # dist_code 97..160 — the direct-distance-1 code 121); a copy-free
    # stream keeps the historical single-symbol 13 bitstream.
    dist = _write_simple_code(bw, sorted(dist_needed) or [13])
    for ev in events():
        kind, v = ev[0], ev[1]
        if kind == "lit":
            code, ln = green[v]
            _write_code_msb(bw, code, ln)
        elif kind == "copy":
            prefix, extra, ebits = length_prefix(v)
            code, ln = green[256 + prefix]
            _write_code_msb(bw, code, ln)
            if ebits:
                bw.write(extra, ebits)
            dcode, dln = dist[ev[2]]
            _write_code_msb(bw, dcode, dln)
            if ev[2] == 13:
                bw.write(24, 5)  # dist_code 121 = ((2+1)<<5) + 24 + 1
        else:
            code, ln = green[280 + v]
            _write_code_msb(bw, code, ln)
    payload = b"\x2f" + bw.finish()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def render_text_webp(text: str, width: int = 32, **flavors) -> bytes:
    """Print ``text`` in the 5x7 fixed-pitch OCR font onto a lossless
    WebP — the WEBP twin of ``render_text_bmp`` (shared raster, different
    container), the scanned-page shape the reference OCRs via Tesseract."""
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_page_gray, wrap_fixed,
    )

    return pack_webp_gray(
        render_page_gray(wrap_fixed(text, width)),
        use_simple2=flavors.get("use_simple2", False),
        use_lz77=flavors.get("use_lz77", False),
        cache_bits=flavors.get("cache_bits", 0),
        use_near=flavors.get("use_near", False))
