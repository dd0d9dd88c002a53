"""From-scratch baseline JPEG decoder (+ encoder twin).

Closes the LAST codec slice of the reference's image-upload domain
(models/enums.py:25-31 lists jpg/jpeg first; main.py:366-373 accepts the
uploads; tesseract_extractor.py:22-53 OCRs them): built from the public
ITU-T T.81 (JPEG) specification — marker segments, Annex-C Huffman table
construction, the Annex-F entropy-coded DC/AC decode procedures, zig-zag
dequantization, and the type-II inverse DCT as an exact 8×8 matrix
product (numpy, deterministic).

Profile (everything else raises ``OcrUnsupported`` → loud quarantine):

- SOF0 baseline sequential DCT and SOF2 progressive DCT (both spectral
  selection and successive approximation: DC first/refine and AC
  first/refine scans with EOB runs, per T.81 Annex G.2 — coefficients
  accumulate in per-component buffers across scans, one IDCT at the
  end); arithmetic coding (SOF9/SOF10) and the hierarchical modes stay
  out of profile
- 1 component (grayscale) or 3 components (YCbCr, any h/v sampling
  factors ≤ 2 — 4:4:4, 4:2:2, 4:2:0); only the LUMINANCE plane is
  reconstructed (the OCR tier reads gray), but chroma blocks are fully
  entropy-decoded to keep the bitstream in sync
- restart intervals (DRI/RSTn) honored; 0xFF00 byte stuffing unstuffed

Entropy decoding is table-driven and linear in the stream length: the
bit reader's accumulator holds only the bits not yet consumed (refilled
up to 32 bits at a time), ``read_bits(n)`` takes n bits in one shift and
mask, and every DHT table carries an 8-bit lookahead (built once per
table) that resolves any code of <= 8 bits in one probe. Longer codes
and the last bits before a marker or the stream end fall back to the
bit-at-a-time walk, so a truncated or desynced stream raises the same
``OcrUnsupported`` at the same bit as a pure bit walk. The baseline path
runs the IDCT on luminance blocks only.

The encoder twin (``pack_jpeg_gray``) emits a conforming baseline
grayscale JPEG with near-lossless quantization (all-ones table), so
rendered OCR pages survive the DCT round-trip bit-safely above the ink
threshold; a 3-component variant exercises the decoder's MCU
interleave. Both sides are pure numpy/stdlib — deterministic, so the
q37 oracle can value-gate OCR'd JPEG pages end-to-end.

Scale shape: pure CPU over one payload's bytes inside the extraction
``mapInArrow`` pass — no joins, no shuffles, no driver work.
"""
from __future__ import annotations

import struct

import numpy as np

from pdf_extractor_spark.kernels.ocr_kernel import OcrUnsupported

_MAX_PIXELS = 64 * 1024 * 1024

# zig-zag scan order (T.81 Figure 5): index i of the scan -> (row, col)
ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# the exact type-II DCT basis (orthonormal): IDCT(X) = M.T @ X @ M
_DCT_M = np.zeros((8, 8), dtype=np.float64)
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    for _n in range(8):
        _DCT_M[_k, _n] = _c * np.cos((2 * _n + 1) * _k * np.pi / 16)
del _k, _c, _n


def _build_huffman(bits: list[int], vals: bytes) -> tuple[dict, list[int]]:
    """T.81 Annex C: (code length, code) -> value, plus the 8-bit
    lookahead table: for every byte-wide window of the stream whose
    leading bits are a code of <= 8 bits, ``(length << 8) | value``; 0
    where the code is longer (``decode_huff`` then walks bit by bit).
    Canonical codes are prefix-free, so each window has one entry."""
    table: dict[tuple[int, int], int] = {}
    lut = [0] * 256
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            if length <= 8 and code < 1 << length:
                span = 1 << (8 - length)
                lut[code * span:(code + 1) * span] = \
                    [(length << 8) | vals[k]] * span
            code += 1
            k += 1
        code <<= 1
    return table, lut


class _BitReader:
    """Entropy-coded-segment bit reader: unstuffs 0xFF00, stops at
    markers, byte-aligns across restart markers. ``acc`` holds exactly
    the ``nbits`` bits not yet consumed, so its size stays bounded
    however long the entropy stream is."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        """Buffer more bits, or raise where the stream cannot supply the
        next byte."""
        nbits = self.nbits
        self._prefetch()
        if self.nbits == nbits:
            if self.pos >= len(self.data):
                raise OcrUnsupported("jpeg: truncated entropy stream")
            # restart marker reached while bits were still requested
            raise OcrUnsupported("jpeg: entropy stream desync at RST")

    def _prefetch(self) -> None:
        """Top the accumulator up by up to 32 bits without raising:
        unstuff 0xFF00, pad a marker tail with 1-bits (T.81), and stop
        before the stream end or an RST marker, so a truncated or
        desynced stream raises from ``_fill`` only at the bit that needs
        the missing byte. Reading ahead is safe for ``restart`` and the
        progressive next-marker search: the bytes it passes are data
        bytes or stuffed 0xFF00 pairs, never a marker."""
        d = self.data
        pos = self.pos
        chunk = d[pos:pos + 4]
        if len(chunk) == 4 and 0xFF not in chunk:
            self.acc = (self.acc << 32) | int.from_bytes(chunk, "big")
            self.nbits += 32
            self.pos = pos + 4
            return
        n = len(d)
        acc = self.acc
        nbits = self.nbits
        for _ in range(4):
            if pos >= n:
                break
            b = d[pos]
            if b == 0xFF:
                nxt = d[pos + 1] if pos + 1 < n else 0xD9
                if nxt == 0x00:
                    pos += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break
                # else: marker tail, padded with 1-bits in place
            else:
                pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.pos = pos
        self.acc = acc
        self.nbits = nbits

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_bits(self, n: int) -> int:
        if self.nbits < n:
            self._prefetch()
            if self.nbits < n:  # the stream's last bits: raise at the bit
                v = 0
                for _ in range(n):
                    v = (v << 1) | self.read_bit()
                return v
        self.nbits -= n
        v = self.acc >> self.nbits
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Byte-align and consume one RSTn marker."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise OcrUnsupported("jpeg: missing restart marker")

    def decode_huff(self, table: tuple[dict, list[int]]) -> int:
        if self.nbits < 8:
            self._prefetch()
        nb = self.nbits
        # before a marker fewer than 8 bits may be buffered: the window is
        # then zero-padded and only a code within the real bits counts
        e = table[1][self.acc >> (nb - 8) if nb >= 8 else self.acc << (8 - nb)]
        if e and e >> 8 <= nb:
            nb -= e >> 8
            self.nbits = nb
            self.acc &= (1 << nb) - 1
            return e & 0xFF
        # code longer than the lookahead or than the bits left before a
        # marker: walk one bit at a time so errors surface at the same bit
        codes = table[0]
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            v = codes.get((length, code))
            if v is not None:
                return v
        raise OcrUnsupported("jpeg: invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t raw bits to the signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _decode_block(r: _BitReader, dc_tab, ac_tab, qt: np.ndarray,
                  pred: int, idct: bool) -> tuple[np.ndarray | None, int]:
    """One 8×8 block: DC diff + AC run-lengths → dequantized spatial
    samples (before level shift), or None without ``idct`` (chroma
    blocks are decoded only to stay in sync with the bitstream)."""
    t = r.decode_huff(dc_tab)
    if t > 15:  # T.81: DC categories are <= 11
        raise OcrUnsupported("jpeg: invalid DC category")
    diff = _extend(r.read_bits(t), t) if t else 0
    dc = pred + diff
    coef = np.zeros(64, dtype=np.float64)
    coef[0] = dc * qt[0]
    k = 1
    while k < 64:
        rs = r.decode_huff(ac_tab)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise OcrUnsupported("jpeg: AC run past block end")
        coef[k] = _extend(r.read_bits(size), size) * qt[k]
        k += 1
    if not idct:
        return None, dc
    block = np.zeros((8, 8), dtype=np.float64)
    block.flat[ZIGZAG] = coef
    return _DCT_M.T @ block @ _DCT_M, dc


def _refine_nonzero(r: _BitReader, coef: np.ndarray, k: int, se: int,
                    p1: int) -> None:
    """T.81 G.2 AC-refinement correction walk: every already-nonzero
    coefficient in [k, se] consumes one bit; a 1-bit grows the magnitude
    by one quantum (p1 = 1 << Al) unless that quantum is already set."""
    for i in range(k, se + 1):
        c = int(coef[i])
        if c != 0 and r.read_bit() and (c & p1) == 0:
            coef[i] = c + (p1 if c >= 0 else -p1)


def _decode_scan_progressive(payload: bytes, body_at: int, seg: bytes,
                             frame, huff_dc, huff_ac, coefs,
                             restart_interval: int) -> int:
    """One progressive scan (T.81 Annex G.2): decode its entropy data
    into the per-component zig-zag coefficient buffers and return the
    payload offset of the next marker. Handles all four scan kinds —
    DC first (interleaved or single-component), DC refine, AC first and
    AC refine (single-component by G.1.1.1.1), with EOB runs and
    restart-interval resync."""
    h, w, comps = frame
    ns = seg[0]
    sel = []
    for s in range(ns):
        cs, tdta = struct.unpack_from(">BB", seg, 1 + 2 * s)
        for ci, (cid, hi, vi, tq) in enumerate(comps):
            if cid == cs:
                sel.append((ci, tdta >> 4, tdta & 0x0F))
                break
        else:
            raise OcrUnsupported("jpeg: scan selects unknown component")
    ss, se, a = struct.unpack_from(">BBB", seg, 1 + 2 * ns)
    ah, al = a >> 4, a & 0x0F
    if ss > se or se > 63 or al > 13:
        raise OcrUnsupported("jpeg: bad spectral selection")
    is_dc = ss == 0
    if is_dc and se != 0:
        raise OcrUnsupported("jpeg: DC scan with AC band")
    if not is_dc and ns != 1:
        raise OcrUnsupported("jpeg: interleaved AC scan (G.1.1.1.1)")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # entropy data starts right after the scan header (body_at is the
    # segment body start, len(seg) its length)
    r = _BitReader(payload, body_at + len(seg))
    preds = [0] * len(comps)
    eobrun = 0

    def block_dc_first(coef: np.ndarray, ci: int, tab) -> None:
        t = r.decode_huff(tab)
        if t > 15:  # T.81: DC categories are <= 11; a bigger VALUE byte
            raise OcrUnsupported("jpeg: invalid DC category")  # is garbage
        preds[ci] += _extend(r.read_bits(t), t) if t else 0
        # corrupt streams can random-walk preds past int32 through many
        # small valid diffs — clamp instead of letting the numpy int32
        # assignment raise OverflowError past the error boundary
        if not -(1 << 28) <= preds[ci] <= (1 << 28):
            raise OcrUnsupported("jpeg: DC prediction out of range")
        coef[0] = preds[ci] << al

    def block_ac_first(coef: np.ndarray, tab) -> None:
        nonlocal eobrun
        if eobrun:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = r.decode_huff(tab)
            run, size = rs >> 4, rs & 0x0F
            if size == 0:
                if run == 15:
                    k += 16
                    continue
                eobrun = (1 << run) - 1
                if run:
                    eobrun += r.read_bits(run)
                return
            k += run
            if k > se:
                raise OcrUnsupported("jpeg: AC run past band end")
            coef[k] = _extend(r.read_bits(size), size) << al
            k += 1

    def block_ac_refine(coef: np.ndarray, tab) -> None:
        nonlocal eobrun
        p1 = 1 << al
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = r.decode_huff(tab)
                run, size = rs >> 4, rs & 0x0F
                newval = 0
                if size == 0:
                    if run != 15:  # EOB run covers this + `eobrun` blocks
                        eobrun = 1 << run
                        if run:
                            eobrun += r.read_bits(run)
                        break
                    # ZRL: pass over 16 zero-history positions
                elif size == 1:
                    newval = p1 if r.read_bit() else -p1
                else:
                    raise OcrUnsupported("jpeg: refinement size > 1")
                # advance over `run` zero-history coefficients, paying a
                # correction bit at every nonzero-history one en route
                while k <= se:
                    c = int(coef[k])
                    if c != 0:
                        if r.read_bit() and (c & p1) == 0:
                            coef[k] = c + (p1 if c >= 0 else -p1)
                    else:
                        if run == 0:
                            break
                        run -= 1
                    k += 1
                if newval and k <= se:
                    coef[k] = newval
                k += 1
        if eobrun:
            _refine_nonzero(r, coef, k, se, p1)
            eobrun -= 1

    if ns == 1:
        # non-interleaved: the scan's MCU is ONE block over the
        # component's own (unpadded) block grid, T.81 A.2.2
        ci, td, ta = sel[0]
        _, hi, vi, _ = comps[ci]
        bw = -(-(-(-w * hi // hmax)) // 8)
        bh = -(-(-(-h * vi // vmax)) // 8)
        units = [(ci, td, ta, by, bx)
                 for by in range(bh) for bx in range(bw)]
    else:
        units = []
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, td, ta in sel:
                    _, hi, vi, _ = comps[ci]
                    for by in range(vi):
                        for bx in range(hi):
                            units.append((ci, td, ta,
                                          my * vi + by, mx * hi + bx))
        units_per_mcu = sum(hi * vi for _, hi, vi, _ in
                            (comps[ci] for ci, _, _ in sel))
    done = 0
    per_mcu = 1 if ns == 1 else units_per_mcu
    for ui, (ci, td, ta, by, bx) in enumerate(units):
        if restart_interval and ui % per_mcu == 0:
            done = ui // per_mcu
            if done and done % restart_interval == 0:
                r.restart()
                preds = [0] * len(comps)
                eobrun = 0
        coef = coefs[ci][by, bx]
        if is_dc:
            if ah == 0:
                tab = huff_dc.get(td)
                if tab is None:
                    raise OcrUnsupported("jpeg: missing Huffman table")
                block_dc_first(coef, ci, tab)
            elif r.read_bit():  # DC refine: one raw bit per block
                coef[0] = int(coef[0]) | (1 << al)
        else:
            tab = huff_ac.get(ta)
            if tab is None:
                raise OcrUnsupported("jpeg: missing Huffman table")
            if ah == 0:
                block_ac_first(coef, tab)
            else:
                block_ac_refine(coef, tab)
    # find the next marker after this scan's entropy data
    pos = r.pos
    n = len(payload)
    while pos + 1 < n:
        if payload[pos] == 0xFF and payload[pos + 1] != 0x00:
            if not 0xD0 <= payload[pos + 1] <= 0xD7:
                return pos
            pos += 2
            continue
        pos += 1
    raise OcrUnsupported("jpeg: unterminated progressive scan")


def _reconstruct_progressive(frame, coefs, qtables) -> list[bytes]:
    """Final pass after all progressive scans: dequantize the luminance
    component's accumulated zig-zag coefficients and IDCT every block
    (one vectorized einsum over all blocks), then upsample/crop exactly
    like the baseline path."""
    h, w, comps = frame
    _, lh, lv, tq = comps[0]
    qt = qtables.get(tq)
    if qt is None:
        raise OcrUnsupported("jpeg: missing quant table")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    by, bx = coefs[0].shape[:2]
    deq = coefs[0].astype(np.float64) * qt  # (by, bx, 64), zig-zag order
    blocks = np.zeros((by, bx, 64), dtype=np.float64)
    blocks[:, :, ZIGZAG] = deq
    blocks = blocks.reshape(by, bx, 8, 8)
    # IDCT all blocks at once: M.T @ B @ M
    spatial = np.einsum("ij,yxjk,kl->yxil", _DCT_M.T, blocks, _DCT_M)
    ypl = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
    lum = np.clip(np.rint(ypl + 128.0), 0, 255).astype(np.uint8)
    if lh != hmax or lv != vmax:
        lum = np.repeat(np.repeat(lum, vmax // lv, axis=0),
                        hmax // lh, axis=1)
    lum = lum[:h, :w]
    return [lum[y].tobytes() for y in range(h)]


def decode_jpeg_gray(payload: bytes) -> list[bytes]:
    """Baseline or progressive JPEG → top-down luminance rows (the shared raster every
    scanned-container decoder here emits). Raises ``OcrUnsupported``
    outside the profile; nothing else — including on arbitrarily
    truncated or bit-flipped streams (a corrupt crawl payload must land
    in quarantine, not kill the task), which is why the parse runs behind
    this boundary that converts low-level decode errors."""
    try:
        return _decode_jpeg_gray(payload)
    except OcrUnsupported:
        raise
    except (IndexError, KeyError, ValueError, ZeroDivisionError,
            OverflowError, struct.error) as exc:
        raise OcrUnsupported(
            f"jpeg: corrupt stream ({type(exc).__name__})") from exc


def _decode_jpeg_gray(payload: bytes) -> list[bytes]:
    if payload[:2] != b"\xff\xd8":
        raise OcrUnsupported("not a JPEG container")
    pos = 2
    n = len(payload)
    qtables: dict[int, np.ndarray] = {}
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    frame = None  # (h, w, comps) comps = [(cid, hi, vi, tq)]
    restart_interval = 0
    progressive = False
    coefs: list[np.ndarray] | None = None  # per-comp (by, bx, 64) zig-zag
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise OcrUnsupported("jpeg: marker desync")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            if coefs is not None:
                return _reconstruct_progressive(frame, coefs, qtables)
            raise OcrUnsupported("jpeg: EOI before scan")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2:pos + seglen]
        body_at = pos + 2
        pos += seglen
        if marker == 0xDB:  # DQT
            at = 0
            while at < len(seg):
                pq, tq = seg[at] >> 4, seg[at] & 0x0F
                at += 1
                if pq == 0:
                    qtables[tq] = np.frombuffer(
                        seg[at:at + 64], dtype=np.uint8).astype(np.float64)
                    at += 64
                elif pq == 1:
                    qtables[tq] = np.frombuffer(
                        seg[at:at + 128], dtype=">u2").astype(np.float64)
                    at += 128
                else:
                    raise OcrUnsupported("jpeg: bad DQT precision")
        elif marker == 0xC4:  # DHT
            at = 0
            while at < len(seg):
                tc, th = seg[at] >> 4, seg[at] & 0x0F
                bits = list(seg[at + 1:at + 17])
                nv = sum(bits)
                vals = seg[at + 17:at + 17 + nv]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(
                    bits, vals)
                at += 17 + nv
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise OcrUnsupported(f"jpeg: {prec}-bit samples")
            if nc not in (1, 3):
                raise OcrUnsupported(f"jpeg: {nc} components")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                hi, vi = hv >> 4, hv & 0x0F
                if not (1 <= hi <= 2 and 1 <= vi <= 2):
                    raise OcrUnsupported(f"jpeg: sampling {hi}x{vi}")
                comps.append((cid, hi, vi, tq))
            if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
                raise OcrUnsupported(f"jpeg: implausible dimensions {w}x{h}")
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise OcrUnsupported(
                f"jpeg: SOF{marker - 0xC0} outside the "
                "baseline/progressive profile")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — decode the scan
            if frame is None:
                raise OcrUnsupported("jpeg: SOS before SOF")
            h, w, comps = frame
            if progressive:
                if coefs is None:
                    hmax = max(c[1] for c in comps)
                    vmax = max(c[2] for c in comps)
                    mcus_x = -(-w // (8 * hmax))
                    mcus_y = -(-h // (8 * vmax))
                    coefs = [
                        np.zeros((mcus_y * vi, mcus_x * hi, 64),
                                 dtype=np.int32)
                        for _, hi, vi, _ in comps
                    ]
                pos = _decode_scan_progressive(
                    payload, body_at, seg, frame, huff_dc, huff_ac,
                    coefs, restart_interval)
                continue
            ns = seg[0]
            if ns != len(comps):
                raise OcrUnsupported("jpeg: non-interleaved scans")
            sel: dict[int, tuple[int, int]] = {}
            for s in range(ns):
                cs, tdta = struct.unpack_from(">BB", seg, 1 + 2 * s)
                sel[cs] = (tdta >> 4, tdta & 0x0F)
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            # luminance plane buffer (first component)
            _, lh, lv, _ = comps[0]
            ypl = np.zeros((mcus_y * lv * 8, mcus_x * lh * 8),
                           dtype=np.float64)
            r = _BitReader(payload, body_at + seglen - 2)
            preds = {cid: 0 for cid, *_ in comps}
            done = 0
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    if restart_interval and done and \
                            done % restart_interval == 0:
                        r.restart()
                        preds = {cid: 0 for cid, *_ in comps}
                    for ci, (cid, hi, vi, tq) in enumerate(comps):
                        td, ta = sel[cid]
                        try:
                            dc_tab = huff_dc[td]
                            ac_tab = huff_ac[ta]
                            qt = qtables[tq]
                        except KeyError:
                            raise OcrUnsupported(
                                "jpeg: missing Huffman/quant table") from None
                        for by in range(vi):
                            for bx in range(hi):
                                blk, preds[cid] = _decode_block(
                                    r, dc_tab, ac_tab, qt, preds[cid],
                                    ci == 0)
                                if ci == 0:
                                    y0 = (my * vi + by) * 8
                                    x0 = (mx * hi + bx) * 8
                                    ypl[y0:y0 + 8, x0:x0 + 8] = blk
                    done += 1
            lum = np.clip(np.rint(ypl + 128.0), 0, 255).astype(np.uint8)
            # the luminance plane is sampled at (lh/hmax, lv/vmax) of full
            # resolution; replicate up when subsampled (Y almost never is)
            if lh != hmax or lv != vmax:
                lum = np.repeat(np.repeat(lum, vmax // lv, axis=0),
                                hmax // lh, axis=1)
            lum = lum[:h, :w]
            return [lum[y].tobytes() for y in range(h)]
        # APPn/COM/others: skipped via seglen
    if coefs is not None:
        # EOI sits at the stream tail (or a sloppy writer omitted it)
        return _reconstruct_progressive(frame, coefs, qtables)
    raise OcrUnsupported("jpeg: no scan data")


# ---------------------------------------------------------------------
# encoder twin: baseline, near-lossless (all-ones quant), std tables
# ---------------------------------------------------------------------

# T.81 Annex K.3 typical Huffman tables (luminance DC/AC)
_STD_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_STD_DC_VALS = bytes(range(12))
_STD_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_STD_AC_VALS = bytes([
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
])


def _encode_codes(bits: list[int], vals: bytes) -> dict[int, tuple[int, int]]:
    """value -> (code, length), the encoder-side view of Annex C."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | code
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def marker(self, b: int) -> None:
        """Byte-align and append a bare marker (RSTn) to the stream."""
        self.flush()
        self.buf += bytes([0xFF, b])


def _mag(v: int) -> tuple[int, int]:
    """Signed coefficient -> (category, raw bits) per F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, v if v > 0 else v + (1 << t) - 1


def pack_jpeg_gray(px: list, components: int = 1,
                   subsample: bool = False,
                   restart_interval: int = 0) -> bytes:
    """Pack top-down luminance rows into a baseline JPEG: all-ones
    quantization (near-lossless — DCT round-trip error ≤ ~2 gray levels,
    far under the 128 ink threshold), standard Annex-K Huffman tables.
    ``components=3`` emits YCbCr with neutral chroma, exercising the
    decoder's interleaved-MCU path; ``subsample`` makes it 4:2:0 (Y at
    2×2 sampling — four Y blocks per MCU, the camera default);
    ``restart_interval`` emits DRI + RSTn markers every that many MCUs
    (the decoder's resync path). 1 component (default) is grayscale."""
    if components not in (1, 3):
        raise ValueError("components must be 1 or 3")
    if subsample and components != 3:
        raise ValueError("subsample requires 3 components")
    ly = 2 if subsample else 1  # luminance h=v sampling factor
    h, w = len(px), len(px[0])
    m = np.frombuffer(b"".join(bytes(r) for r in px),
                      dtype=np.uint8).reshape(h, w).astype(np.float64)
    mcu = 8 * ly
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = m
    padded[h:, :w] = m[h - 1:h, :]  # edge-replicate padding
    padded[:, w:] = padded[:, w - 1:w]
    dc_codes = _encode_codes(_STD_DC_BITS, _STD_DC_VALS)
    ac_codes = _encode_codes(_STD_AC_BITS, _STD_AC_VALS)
    wtr = _BitWriter()
    preds = [0] * components

    def write_block(block: np.ndarray, ci: int) -> None:
        coef = _DCT_M @ (block - 128.0) @ _DCT_M.T
        q = np.rint(coef).astype(np.int64).flatten()[ZIGZAG]
        t, bits_v = _mag(int(q[0]) - preds[ci])
        preds[ci] = int(q[0])
        code, ln = dc_codes[t]
        wtr.write(code, ln)
        if t:
            wtr.write(bits_v, t)
        run = 0
        for k in range(1, 64):
            v = int(q[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]
                wtr.write(code, ln)
                run -= 16
            t, bits_v = _mag(v)
            code, ln = ac_codes[(run << 4) | t]
            wtr.write(code, ln)
            wtr.write(bits_v, t)
            run = 0
        if run:
            code, ln = ac_codes[0x00]
            wtr.write(code, ln)

    neutral = np.full((8, 8), 128.0)
    done = 0
    for my in range(ph // mcu):
        for mx in range(pw // mcu):
            if restart_interval and done and done % restart_interval == 0:
                wtr.marker(0xD0 + (done // restart_interval - 1) % 8)
                preds = [0] * components
            for by in range(ly):
                for bx in range(ly):
                    y0 = my * mcu + by * 8
                    x0 = mx * mcu + bx * 8
                    write_block(padded[y0:y0 + 8, x0:x0 + 8], 0)
            for ci in range(1, components):
                write_block(neutral, ci)
            done += 1
    wtr.flush()

    out = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([1] * 64)  # table 0, all-ones
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    sof = struct.pack(">BHHB", 8, h, w, components)
    for ci in range(components):
        hv = (ly << 4) | ly if ci == 0 else 0x11
        sof += struct.pack(">BBB", ci + 1, hv, 0)
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    for tc, bits, vals in ((0, _STD_DC_BITS, _STD_DC_VALS),
                           (1, _STD_AC_BITS, _STD_AC_VALS)):
        seg = bytes([tc << 4]) + bytes(bits) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    sos = bytes([components])
    for ci in range(components):
        sos += struct.pack(">BB", ci + 1, 0x00)
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += wtr.buf
    out += b"\xff\xd9"
    return bytes(out)


# flat AC table for the progressive twin: every RS byte gets a code
# (255 at 8 bits, the last at 9), since Annex K's table lacks EOBn
_FLAT_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0]
_FLAT_AC_VALS = bytes(range(256))


class _ProgAcState:
    """Encoder-side EOB-run state for one progressive AC scan: the run
    counter plus (refinement scans) the correction bits buffered until
    the run flushes — T.81 G.1.2.2-G.1.2.3 / the libjpeg BE buffer."""

    __slots__ = ("eobrun", "pending")

    def __init__(self) -> None:
        self.eobrun = 0
        self.pending: list[int] = []

    def flush(self, wtr: _BitWriter, ac_codes) -> None:
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            code, ln = ac_codes[nbits << 4]
            wtr.write(code, ln)
            if nbits:
                wtr.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            wtr.write(b, 1)
        self.pending = []


def pack_jpeg_gray_progressive(px: list, successive: bool = True,
                               restart_interval: int = 0) -> bytes:
    """Pack top-down luminance rows into a PROGRESSIVE (SOF2) grayscale
    JPEG — same all-ones quantization and Annex-K tables as the baseline
    twin, so after every scan lands the accumulated coefficients are
    bit-identical to the baseline encoding's and the two decode to the
    same raster (pinned by test). ``successive=True`` uses successive
    approximation (Al=1 first scans + Ah=1 refinement scans — all four
    progressive block-decode procedures, EOB runs and the buffered
    correction bits included); False emits spectral selection only
    (DC scan + two AC band scans). ``restart_interval`` adds DRI/RSTn
    resync inside every scan."""
    h, w = len(px), len(px[0])
    m = np.frombuffer(b"".join(bytes(r) for r in px),
                      dtype=np.uint8).reshape(h, w).astype(np.float64)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:h, :w] = m
    padded[h:, :w] = m[h - 1:h, :]
    padded[:, w:] = padded[:, w - 1:w]
    # all blocks' quantized zig-zag coefficients (all-ones quant)
    bh, bw = ph // 8, pw // 8
    blocks = []
    for by in range(bh):
        for bx in range(bw):
            blk = padded[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
            coef = _DCT_M @ (blk - 128.0) @ _DCT_M.T
            blocks.append(np.rint(coef).astype(np.int64).flatten()[ZIGZAG])
    dc_codes = _encode_codes(_STD_DC_BITS, _STD_DC_VALS)
    # Annex K's baseline AC table has no EOBn (n>0) symbols, which
    # progressive EOB runs need — use a flat canonical table covering
    # every RS byte (255 8-bit codes + one 9-bit, keeping the all-ones
    # code of each length unassigned per Annex C)
    ac_codes = _encode_codes(_FLAT_AC_BITS, _FLAT_AC_VALS)

    def scan_header(ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytes([1]) + struct.pack(">BB", 1, 0x00) + \
            bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body

    def rst(wtr: _BitWriter, i: int) -> None:
        wtr.marker(0xD0 + i % 8)

    def dc_first(al: int) -> bytes:
        wtr = _BitWriter()
        pred = 0
        for i, q in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                rst(wtr, i // restart_interval - 1)
                pred = 0
            d = int(q[0]) >> al  # DC point transform: arithmetic shift
            t, bits_v = _mag(d - pred)
            pred = d
            code, ln = dc_codes[t]
            wtr.write(code, ln)
            if t:
                wtr.write(bits_v, t)
        wtr.flush()
        return bytes(wtr.buf)

    def dc_refine(al: int) -> bytes:
        wtr = _BitWriter()
        for i, q in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                rst(wtr, i // restart_interval - 1)
            wtr.write((int(q[0]) >> al) & 1, 1)
        wtr.flush()
        return bytes(wtr.buf)

    def ac_first(ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        st = _ProgAcState()
        for i, q in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                st.flush(wtr, ac_codes)
                rst(wtr, i // restart_interval - 1)
            # AC point transform: division truncating toward zero
            vals = [(abs(int(q[k])) >> al) * (1 if q[k] >= 0 else -1)
                    for k in range(ss, se + 1)]
            last_nz = -1
            for j, v in enumerate(vals):
                if v:
                    last_nz = j
            if last_nz < 0:
                st.eobrun += 1
                if st.eobrun == 0x7FFF:
                    st.flush(wtr, ac_codes)
                continue
            st.flush(wtr, ac_codes)  # this block has codes: flush first
            run = 0
            for j in range(last_nz + 1):
                v = vals[j]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_codes[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                t, bits_v = _mag(v)
                code, ln = ac_codes[(run << 4) | t]
                wtr.write(code, ln)
                wtr.write(bits_v, t)
                run = 0
            if last_nz < se - ss:  # trailing zeros: this block EOBs
                st.eobrun += 1
        st.flush(wtr, ac_codes)
        wtr.flush()
        return bytes(wtr.buf)

    def ac_refine(ss: int, se: int, al: int) -> bytes:
        wtr = _BitWriter()
        st = _ProgAcState()
        for i, q in enumerate(blocks):
            if restart_interval and i and i % restart_interval == 0:
                st.flush(wtr, ac_codes)
                rst(wtr, i // restart_interval - 1)
            absv = [abs(int(q[k])) >> al for k in range(ss, se + 1)]
            eob = -1  # index after which only history coefs remain
            for j, t in enumerate(absv):
                if t == 1:
                    eob = j
            run = 0
            bits: list[int] = []
            for j, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and j <= eob:
                    st.flush(wtr, ac_codes)
                    code, ln = ac_codes[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                    for b in bits:
                        wtr.write(b, 1)
                    bits = []
                if t > 1:  # history coefficient: buffered correction bit
                    bits.append(t & 1)
                    continue
                st.flush(wtr, ac_codes)
                code, ln = ac_codes[(run << 4) | 1]
                wtr.write(code, ln)
                wtr.write(0 if q[ss + j] < 0 else 1, 1)
                for b in bits:
                    wtr.write(b, 1)
                bits = []
                run = 0
            if run > 0 or bits:
                st.eobrun += 1
                st.pending.extend(bits)
                if st.eobrun == 0x7FFF:
                    st.flush(wtr, ac_codes)
        st.flush(wtr, ac_codes)
        wtr.flush()
        return bytes(wtr.buf)

    if successive:
        scans = [
            (scan_header(0, 0, 0, 1), dc_first(1)),
            (scan_header(1, 5, 0, 1), ac_first(1, 5, 1)),
            (scan_header(6, 63, 0, 1), ac_first(6, 63, 1)),
            (scan_header(0, 0, 1, 0), dc_refine(0)),
            (scan_header(1, 5, 1, 0), ac_refine(1, 5, 0)),
            (scan_header(6, 63, 1, 0), ac_refine(6, 63, 0)),
        ]
    else:
        scans = [
            (scan_header(0, 0, 0, 0), dc_first(0)),
            (scan_header(1, 5, 0, 0), ac_first(1, 5, 0)),
            (scan_header(6, 63, 0, 0), ac_first(6, 63, 0)),
        ]

    out = bytearray(b"\xff\xd8")
    qt = bytes([0]) + bytes([1] * 64)
    out += b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt
    sof = struct.pack(">BHHB", 8, h, w, 1) + struct.pack(">BBB", 1, 0x11, 0)
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    for tc, bits_t, vals in ((0, _STD_DC_BITS, _STD_DC_VALS),
                             (1, _FLAT_AC_BITS, _FLAT_AC_VALS)):
        seg = bytes([tc << 4]) + bytes(bits_t) + vals
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    for header, body in scans:
        out += header + body
    out += b"\xff\xd9"
    return bytes(out)


def render_text_jpeg(text: str, width: int = 32) -> bytes:
    """Print ``text`` in the fixed-pitch OCR font onto a baseline JPEG —
    the JPEG twin of ``render_text_bmp``/``render_text_png``."""
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_page_gray, wrap_fixed,
    )

    return pack_jpeg_gray(render_page_gray(wrap_fixed(text, width)))


def render_text_jpeg_progressive(text: str, width: int = 32) -> bytes:
    """Print ``text`` onto a PROGRESSIVE (SOF2) JPEG — successive
    approximation with restart markers, the web-CDN default encoding the
    reference's .jpg upload path receives most often in the wild."""
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_page_gray, wrap_fixed,
    )

    return pack_jpeg_gray_progressive(
        render_page_gray(wrap_fixed(text, width)),
        successive=True, restart_interval=7)
