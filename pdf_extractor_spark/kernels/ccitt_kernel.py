"""From-scratch ITU-T T.4 / T.6 (CCITT Group 3 / Group 4) bilevel fax
codec — the dominant real-world scanned-document encoding, and the last
lossless image codec the extraction tier quarantined.

The reference OCRs every uploaded scan through Tesseract
(tesseract_extractor.py:22-53); real scanner/fax pipelines deliver those
scans as CCITT-compressed rasters — /CCITTFaxDecode image XObjects in
PDFs (PDF 2.0 §7.4.6) and TIFF compression 2/3/4 strips (TIFF 6.0 §10
+ Section 11). Both containers route here.

What is implemented, all from the public specs:

- **MH (Modified Huffman, T.4 §4.1)**: 1D run-length coding of
  alternating white/black runs, makeup + terminating codes, the
  extended makeup set to 2560 with repetition for longer runs.
- **MR (Modified READ, T.4 §4.2)**: 2D coding against the previous
  line — pass / vertical(±3) / horizontal modes — with the K-factor
  line tagging (EOL + 1D/2D tag bit).
- **MMR (Modified Modified READ, T.6 §2)**: pure 2D, no EOLs, an
  imaginary all-white reference above the first line, optional EOFB.
- Framing knobs both containers use: per-line EOLs with fill bits,
  encoded-byte-alignment (TIFF compression 2 rows and PDF
  /EncodedByteAlign), EOFB/RTC termination tolerance.

PROVENANCE of the code tables: the white/black terminating + makeup
tables are the published constants of ITU-T Rec. T.4 (03/93) Tables
2/3 and the shared extended-makeup Table 4, reproduced verbatim in
TIFF 6.0 and every fax implementation. Like the PDF standard-security
password pad (pdf_kernel.py), they are universally-reproduced spec
constants, not borrowed implementation code; the tests pin their
structural invariants (exact counts, prefix-freeness per color tree,
spec-known spot values) and the encoder twin round-trips every profile
so a mistranscribed entry cannot hide.

Internal row representation: a line is its list of CHANGING ELEMENTS
("transitions") — strictly increasing pixel positions where the color
flips, with every line starting white by convention (a leading black
pixel is a transition at 0). This is the native vocabulary of the 2D
modes, avoids materializing pixels between lines, and converts to/from
the 8-bit ink/paper rows the OCR kernel consumes in one pass.

Scale shape: like the other codec kernels this is pure CPU over one
payload's bytes inside the extraction ``mapInArrow`` pass — no joins,
no shuffles, no driver involvement.
"""
from __future__ import annotations


class CcittError(ValueError):
    """Corrupt or out-of-profile CCITT stream; callers quarantine."""


# --------------------------------------------------------------------------
# ITU-T T.4 Tables 2/3/4 — run-length code books.
# Written as bit STRINGS so code length is explicit (leading zeros are
# significant); compiled once below into (length, value) -> run maps.
# --------------------------------------------------------------------------

_WHITE_TERM = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
}

_WHITE_MAKEUP = {
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

_BLACK_TERM = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011", 5: "0011",
    6: "0010", 7: "00011", 8: "000101", 9: "000100", 10: "0000100",
    11: "0000101", 12: "0000111", 13: "00000100", 14: "00000111",
    15: "000011000", 16: "0000010111", 17: "0000011000",
    18: "0000001000", 19: "00001100111", 20: "00001101000",
    21: "00001101100", 22: "00000110111", 23: "00000101000",
    24: "00000010111", 25: "00000011000", 26: "000011001010",
    27: "000011001011", 28: "000011001100", 29: "000011001101",
    30: "000001101000", 31: "000001101001", 32: "000001101010",
    33: "000001101011", 34: "000011010010", 35: "000011010011",
    36: "000011010100", 37: "000011010101", 38: "000011010110",
    39: "000011010111", 40: "000001101100", 41: "000001101101",
    42: "000011011010", 43: "000011011011", 44: "000001010100",
    45: "000001010101", 46: "000001010110", 47: "000001010111",
    48: "000001100100", 49: "000001100101", 50: "000001010010",
    51: "000001010011", 52: "000000100100", 53: "000000110111",
    54: "000000111000", 55: "000000100111", 56: "000000101000",
    57: "000001011000", 58: "000001011001", 59: "000000101011",
    60: "000000101100", 61: "000001011010", 62: "000001100110",
    63: "000001100111",
}

_BLACK_MAKEUP = {
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# T.4 Table 4: extended makeups 1792..2560, shared by both colors.
_EXT_MAKEUP = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

EOL = "000000000001"  # T.4 §4.1.2 — 11 zeros + 1

# 2D mode codes (T.4 Table 7 / T.6): vertical by offset, pass,
# horizontal, and the extension escape (uncompressed mode — out of
# profile here, quarantined loudly).
_MODE_V = {0: "1", 1: "011", 2: "000011", 3: "0000011",
           -1: "010", -2: "000010", -3: "0000010"}
_MODE_PASS = "0001"
_MODE_HORIZ = "001"
_MODE_EXT = "0000001"

_MAX_RUN_CODE = 2560


def _compile(*tables: dict[int, str]) -> dict[tuple[int, int], int]:
    out: dict[tuple[int, int], int] = {}
    for t in tables:
        for run, bits in t.items():
            key = (len(bits), int(bits, 2))
            if key in out:  # pragma: no cover - table typo guard
                raise AssertionError(f"duplicate code {bits}")
            out[key] = run
    return out


def _tree(dec: dict[tuple[int, int], object]) -> tuple:
    """(codebook, lookahead, width): ``width`` is the tree's longest
    codeword; the lookahead maps every ``width``-bit window to the
    (length, value) of the codeword it starts with, or None where none
    does. Prefix-freeness (pinned by test) makes each entry unique."""
    width = max(ln for ln, _ in dec)
    lut: list = [None] * (1 << width)
    for (ln, code), value in dec.items():
        span = 1 << (width - ln)
        lut[code * span:(code + 1) * span] = [(ln, value)] * span
    return dec, lut, width


_WHITE_DEC = _tree(_compile(_WHITE_TERM, _WHITE_MAKEUP, _EXT_MAKEUP))
_BLACK_DEC = _tree(_compile(_BLACK_TERM, _BLACK_MAKEUP, _EXT_MAKEUP))
_WHITE_ENC = {r: (len(b), int(b, 2))
              for r, b in {**_WHITE_TERM, **_WHITE_MAKEUP,
                           **_EXT_MAKEUP}.items()}
_BLACK_ENC = {r: (len(b), int(b, 2))
              for r, b in {**_BLACK_TERM, **_BLACK_MAKEUP,
                           **_EXT_MAKEUP}.items()}
_MODE_DEC = _tree({
    **{(len(b), int(b, 2)): ("V", d) for d, b in _MODE_V.items()},
    (len(_MODE_PASS), int(_MODE_PASS, 2)): ("P", 0),
    (len(_MODE_HORIZ), int(_MODE_HORIZ, 2)): ("H", 0),
    (len(_MODE_EXT), int(_MODE_EXT, 2)): ("X", 0),
})
_MAX_CODE_LEN = 14  # longest entry across all trees (13) + margin


# --------------------------------------------------------------------------
# bit I/O (MSB-first, like every other kernel here)
# --------------------------------------------------------------------------

class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, nbits: int, value: int) -> None:
        self.acc = (self.acc << nbits) | value
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def put_str(self, bits: str) -> None:
        self.put(len(bits), int(bits, 2))

    def align(self) -> None:
        """Zero-fill to the next byte boundary (fill bits are 0s, which
        every reader treats as EOL fill / alignment padding)."""
        if self.nbits:
            self.put(8 - self.nbits, 0)

    def bytes(self) -> bytes:
        w = _BitWriter.__new__(_BitWriter)  # flush without mutating self
        w.out = bytearray(self.out)
        w.acc, w.nbits = self.acc, self.nbits
        w.align()
        return bytes(w.out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 0  # bit index
        self.end = len(data) * 8

    def read(self, nbits: int) -> int:
        v = self.peek(nbits)
        if v is None:
            raise CcittError("ccitt: truncated stream")
        self.pos += nbits
        return v

    def peek(self, nbits: int) -> int | None:
        p = self.pos
        if p + nbits > self.end:
            return None
        stop = (p + nbits + 7) >> 3  # bytes spanned by the window
        v = int.from_bytes(self.d[p >> 3:stop], "big")
        return (v >> ((stop << 3) - p - nbits)) & ((1 << nbits) - 1)

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def exhausted(self) -> bool:
        return self.pos >= self.end


def _read_code(bits: _BitReader, tree: tuple):
    """Decode one codeword of a prefix-free tree (``_tree``): one probe
    of its lookahead resolves any codeword when a full window is left.
    Near the stream end, or on a window no codeword starts, walk instead:
    extend the peek a bit at a time until a codeword matches, so the
    error is the one the walk reaches. Prefix-freeness (pinned by test)
    makes the first match the only parse."""
    table, lut, width = tree
    v = bits.peek(width)
    if v is not None and lut[v] is not None:
        ln, value = lut[v]
        bits.pos += ln
        return value
    for ln in range(1, _MAX_CODE_LEN + 1):
        b = bits.peek(ln)
        if b is None:
            raise CcittError("ccitt: truncated codeword")
        key = (ln, b)
        if key in table:
            bits.pos += ln
            return table[key]
    raise CcittError("ccitt: unknown codeword")


def _read_run(bits: _BitReader, white: bool) -> int:
    """One complete run length: zero or more makeup codes (≥64, incl.
    repeated 2560s for very long runs) then exactly one terminating
    code (<64), per T.4 §4.1.3."""
    table = _WHITE_DEC if white else _BLACK_DEC
    total = 0
    while True:
        run = _read_code(bits, table)
        total += run
        if run < 64:
            return total
        if total > 10**7:  # crafted stream of chained makeups
            raise CcittError("ccitt: run length overflow")


def _put_run(w: _BitWriter, run: int, white: bool) -> None:
    enc = _WHITE_ENC if white else _BLACK_ENC
    while run >= 64:
        makeup = min(_MAX_RUN_CODE, (run >> 6) << 6)
        w.put(*enc[makeup])
        run -= makeup
    w.put(*enc[run])


# --------------------------------------------------------------------------
# row representations
# --------------------------------------------------------------------------

def gray_row_to_transitions(row: bytes, threshold: int = 128) -> list[int]:
    """8-bit luminance row -> changing elements (ink = value < threshold),
    starting-white convention."""
    t: list[int] = []
    black = False
    for x, v in enumerate(row):
        b = v < threshold
        if b != black:
            t.append(x)
            black = b
    return t


def transitions_to_gray_row(t: list[int], columns: int) -> bytes:
    """Changing elements -> 8-bit ink/paper row (ink=0, paper=255)."""
    row = bytearray(b"\xff" * columns)
    for i in range(0, len(t), 2):
        start = t[i]
        end = t[i + 1] if i + 1 < len(t) else columns
        row[start:end] = b"\x00" * (end - start)
    return bytes(row)


# --------------------------------------------------------------------------
# 2D mode machinery (shared by MR and MMR)
# --------------------------------------------------------------------------

def _b1_b2(ref: list[int], a0: int, white: bool,
           columns: int) -> tuple[int, int]:
    """b1 = first changing element on the reference line strictly right
    of a0 whose new color is opposite a0's color; b2 = the next one.
    Missing elements sit on the imaginary margin at ``columns``
    (T.4 §4.2.1.3.1). Transitions alternate white->black (even index) /
    black->white (odd), so the color constraint is an index parity."""
    parity = 0 if white else 1
    import bisect

    i = bisect.bisect_right(ref, a0)
    if i % 2 != parity:
        i += 1
    b1 = ref[i] if i < len(ref) else columns
    b2 = ref[i + 1] if i + 1 < len(ref) else columns
    return b1, b2


def _encode_2d_line(w: _BitWriter, cur: list[int], ref: list[int],
                    columns: int) -> None:
    a0 = -1
    white = True
    ci = 0
    while a0 < columns:
        a1 = cur[ci] if ci < len(cur) else columns
        a2 = cur[ci + 1] if ci + 1 < len(cur) else columns
        b1, b2 = _b1_b2(ref, a0, white, columns)
        if b2 < a1:
            w.put_str(_MODE_PASS)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            w.put_str(_MODE_V[a1 - b1])
            a0 = a1
            white = not white
            ci += 1
        else:
            w.put_str(_MODE_HORIZ)
            start = 0 if a0 < 0 else a0
            _put_run(w, a1 - start, white)
            _put_run(w, a2 - a1, not white)
            a0 = a2
            ci += 2


def _decode_2d_line(bits: _BitReader, ref: list[int],
                    columns: int) -> list[int]:
    cur: list[int] = []
    a0 = -1
    white = True
    while a0 < columns:
        kind, d = _read_code(bits, _MODE_DEC)
        if kind == "X":
            raise CcittError("ccitt: 2D extension/uncompressed mode "
                             "out of profile")
        b1, b2 = _b1_b2(ref, a0, white, columns)
        if kind == "P":
            if b2 > columns:
                raise CcittError("ccitt: pass mode beyond line end")
            a0 = b2
        elif kind == "V":
            a1 = b1 + d
            if a1 < 0 or a1 > columns or a1 <= a0:
                raise CcittError("ccitt: vertical mode out of range")
            cur.append(a1)
            a0 = a1
            white = not white
        else:  # horizontal: two runs, colors from the current state
            r1 = _read_run(bits, white)
            r2 = _read_run(bits, not white)
            start = 0 if a0 < 0 else a0
            a1 = start + r1
            a2 = a1 + r2
            if a2 > columns or (r2 == 0 and a2 < columns):
                raise CcittError("ccitt: horizontal runs overrun line")
            if a0 >= 0 and a1 <= a0:
                # a1 is strictly right of a0 (T.4 §4.2.1.3.1); a zero
                # first run is legal only at the imaginary line start
                raise CcittError("ccitt: non-monotone horizontal runs")
            cur.append(a1)
            cur.append(a2)
            a0 = a2
    if a0 != columns:
        raise CcittError("ccitt: line overruns declared columns")
    return [x for x in cur if x < columns]


def _encode_1d_line(w: _BitWriter, cur: list[int], columns: int) -> None:
    prev = 0
    white = True
    for x in cur:
        _put_run(w, x - prev, white)
        prev = x
        white = not white
    _put_run(w, columns - prev, white)


def _decode_1d_line(bits: _BitReader, columns: int) -> list[int]:
    cur: list[int] = []
    pos = 0
    white = True
    while pos < columns:
        run = _read_run(bits, white)
        if run == 0 and pos > 0:
            raise CcittError("ccitt: zero-length mid-line run")
        pos += run
        if pos > columns:
            raise CcittError("ccitt: 1D run overruns line")
        if pos < columns:
            cur.append(pos)
        white = not white
    return cur


# --------------------------------------------------------------------------
# stream-level encode/decode
# --------------------------------------------------------------------------

def ccitt_encode(lines: list[list[int]], columns: int, k: int = -1,
                 eol: bool | None = None, byte_align: bool = False,
                 eofb: bool = True) -> bytes:
    """Encode transition lines.

    ``k`` selects the scheme exactly as PDF's /K parameter (§7.4.6
    Table 11, which subsumes the TIFF compression tags): k < 0 pure 2D
    (G4/MMR, TIFF compression 4), k == 0 pure 1D (MH, TIFF compression
    2 with ``byte_align=True`` / PDF K=0), k > 0 mixed (G3 2D: EOL+tag
    per line, a 1D line at least every ``k`` lines). ``eol`` defaults
    to the scheme's framing (True only for k > 0; G3 1D emits EOLs only
    when asked — PDF's /EndOfLine default is false, TIFF compression 3
    1D wants True). ``eofb`` appends the end-of-block/RTC marker."""
    if eol is None:
        eol = k > 0
    w = _BitWriter()
    ref: list[int] = []
    for i, cur in enumerate(lines):
        one_d = k == 0 or (k > 0 and i % k == 0)
        if byte_align:
            w.align()
        if eol:
            w.put_str(EOL)
            if k > 0:
                w.put(1, 1 if one_d else 0)
        if k < 0 or not one_d:
            _encode_2d_line(w, cur, ref, columns)
        else:
            _encode_1d_line(w, cur, columns)
        ref = cur
    if eofb:
        if k < 0:
            w.put_str(EOL + EOL)  # T.6 EOFB
        elif eol:
            for _ in range(6):  # T.4 RTC
                w.put_str(EOL)
                if k > 0:
                    w.put(1, 1)
    return w.bytes()


def _consume_eol(bits: _BitReader, require: bool) -> bool:
    """Skip fill zeros and one EOL. Returns True if an EOL was consumed;
    with ``require=False`` the reader position is restored when the
    lookahead is not an EOL (PDF streams where /EndOfLine is false)."""
    start = bits.pos
    zeros = 0
    while True:
        b = bits.peek(1)
        if b is None:
            bits.pos = start
            if require:
                raise CcittError("ccitt: missing EOL")
            return False
        if b == 0:
            zeros += 1
            if zeros > 4096:
                raise CcittError("ccitt: runaway EOL fill")
            bits.pos += 1
            continue
        if zeros >= 11:
            bits.pos += 1  # the terminating 1 bit
            return True
        bits.pos = start
        if require:
            raise CcittError("ccitt: missing EOL")
        return False


def ccitt_decode(data: bytes, columns: int, rows: int, k: int = -1,
                 eol: bool = False, byte_align: bool = False) -> list[list[int]]:
    """Decode ``rows`` transition lines (both containers declare the
    raster height, so decoding is bounded; a premature EOFB/RTC stops
    early and the caller treats the shortfall as corruption)."""
    if columns <= 0 or rows <= 0 or columns > 1 << 20:
        raise CcittError(f"ccitt: implausible geometry {columns}x{rows}")
    bits = _BitReader(data)
    out: list[list[int]] = []
    ref: list[int] = []
    while len(out) < rows:
        if byte_align:
            bits.align()
        if bits.exhausted():
            raise CcittError(
                f"ccitt: stream ends at row {len(out)} of {rows}")
        if k < 0:
            # tolerate (and stop at) an early EOFB
            probe = bits.peek(24)
            if probe is not None and probe == int(EOL + EOL, 2):
                raise CcittError(
                    f"ccitt: EOFB at row {len(out)} of {rows}")
            cur = _decode_2d_line(bits, ref, columns)
        else:
            saw_eol = _consume_eol(bits, require=eol)
            if saw_eol and k > 0:
                one_d = bits.read(1) == 1
            elif k > 0:
                raise CcittError("ccitt: G3 2D line without EOL tag")
            else:
                one_d = True
            if saw_eol:
                nxt = bits.peek(12)
                if nxt is not None and nxt == int(EOL, 2):
                    raise CcittError(
                        f"ccitt: RTC at row {len(out)} of {rows}")
            cur = (_decode_1d_line(bits, columns) if one_d
                   else _decode_2d_line(bits, ref, columns))
        out.append(cur)
        ref = cur
    return out


# --------------------------------------------------------------------------
# gray-row conveniences (the shape the OCR kernel and the containers use)
# --------------------------------------------------------------------------

def encode_gray_rows(rows: list[bytes], k: int = -1, eol: bool | None = None,
                     byte_align: bool = False, eofb: bool = True,
                     threshold: int = 128) -> bytes:
    if not rows:
        raise CcittError("ccitt: empty raster")
    columns = len(rows[0])
    lines = [gray_row_to_transitions(bytes(r), threshold) for r in rows]
    return ccitt_encode(lines, columns, k=k, eol=eol,
                        byte_align=byte_align, eofb=eofb)


def decode_to_gray_rows(data: bytes, columns: int, rows: int, k: int = -1,
                        eol: bool = False,
                        byte_align: bool = False) -> list[bytes]:
    lines = ccitt_decode(data, columns, rows, k=k, eol=eol,
                         byte_align=byte_align)
    return [transitions_to_gray_row(t, columns) for t in lines]
