"""From-scratch AES (FIPS-197) — the block cipher the PDF Standard
security handler's AESV2/AESV3 crypt filters use (ISO 32000-1 §7.6.5 /
ISO 32000-2 §7.6.4).

Everything here is derived from the public FIPS-197 specification: the
S-box is COMPUTED (GF(2^8) multiplicative inverse under the AES
polynomial x^8+x^4+x^3+x+1, then the affine transform) rather than
embedded as an opaque table, and the GF multiplication tables for
MixColumns / InvMixColumns are built from the same field arithmetic.
Tests pin the FIPS-197 Appendix C known-answer vectors (AES-128/192/256)
and the NIST SP 800-38A CBC vectors, so the implementation is verified
against PUBLISHED test vectors — not merely self-consistent with its own
encryptor.

Shape: the ECB core is numpy-vectorized over all blocks at once (a
(n, 4, 4) uint8 state array; SubBytes = one table gather, ShiftRows =
one fancy-index, MixColumns = four table gathers + XOR), so CBC
*decryption* — D(c_i) XOR c_{i-1}, data-parallel across blocks — runs at
array speed inside the Arrow extraction kernel. CBC encryption is
inherently sequential and only the corpus writer twin uses it, one block
per step through the same vectorized core.

Reference parity: PDF-Extractor opens encrypted uploads through
PyPDF2's ``decrypt('')`` path (ref ``pdf_extractor.py``), whose AES
arm delegates to this same FIPS-197 cipher.
"""
from __future__ import annotations

import functools

import numpy as np

_POLY = 0x11B  # x^8 + x^4 + x^3 + x + 1, the AES field polynomial


def _gf_mul(a: int, b: int) -> int:
    """Multiply in GF(2^8) mod the AES polynomial (schoolbook)."""
    out = 0
    while b:
        if b & 1:
            out ^= a
        a <<= 1
        if a & 0x100:
            a ^= _POLY
        b >>= 1
    return out


def _build_tables() -> dict[str, np.ndarray]:
    # multiplicative inverse via brute force (256 entries, build-once)
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gf_mul(x, y) == 1:
                inv[x] = y
                break
    sbox = np.zeros(256, dtype=np.uint8)
    for x in range(256):
        b = inv[x]
        # affine transform: b ^ rotl(b,1) ^ rotl(b,2) ^ rotl(b,3) ^
        # rotl(b,4) ^ 0x63
        v = b
        for r in (1, 2, 3, 4):
            v ^= ((b << r) | (b >> (8 - r))) & 0xFF
        sbox[x] = v ^ 0x63
    inv_sbox = np.zeros(256, dtype=np.uint8)
    inv_sbox[sbox] = np.arange(256, dtype=np.uint8)
    mul = {
        c: np.array([_gf_mul(c, x) for x in range(256)], dtype=np.uint8)
        for c in (2, 3, 9, 11, 13, 14)
    }
    return {"sbox": sbox, "inv_sbox": inv_sbox, "mul": mul}


_T = _build_tables()
_SBOX: np.ndarray = _T["sbox"]
_INV_SBOX: np.ndarray = _T["inv_sbox"]
_MUL: dict[int, np.ndarray] = _T["mul"]


@functools.lru_cache(maxsize=4096)
def _expand_key(key: bytes) -> np.ndarray:
    """FIPS-197 §5.2 key expansion → (Nr+1, 4, 4) round-key array in
    COLUMN-major state layout (state[r][c] = byte 4*c + r, §3.4).

    Memoized (read-only result): a PDF's object streams all share per-object
    keys drawn from a tiny set, so the pure-Python schedule ran hundreds of
    times per task for a handful of distinct keys (q26 profile)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError(f"bad AES key length {len(key)}")
    nr = nk + 6
    words = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        temp = list(words[i - 1])
        if i % nk == 0:
            temp = temp[1:] + temp[:1]                       # RotWord
            temp = [int(_SBOX[b]) for b in temp]             # SubWord
            temp[0] ^= rcon
            rcon = _gf_mul(rcon, 2)
        elif nk > 6 and i % nk == 4:
            temp = [int(_SBOX[b]) for b in temp]
        words.append([a ^ b for a, b in zip(words[i - nk], temp)])
    flat = np.array(words, dtype=np.uint8).reshape(nr + 1, 4, 4)
    rk = np.ascontiguousarray(flat.transpose(0, 2, 1))  # word c -> col c
    rk.setflags(write=False)  # cached + shared: callers must not mutate
    return rk


# ShiftRows: row r rotates LEFT by r; as a gather over columns per row
_SHIFT_COLS = np.array([[(c + r) % 4 for c in range(4)] for r in range(4)])
_INV_SHIFT_COLS = np.array([[(c - r) % 4 for c in range(4)] for r in range(4)])
_ROWS = np.arange(4)[:, None]
# MixColumns row rotations as precomputed gathers (np.roll spends most of
# its time in argument normalization at these tiny shapes — measured in
# the q26 profile)
_ROLL1 = np.array([1, 2, 3, 0])
_ROLL2 = np.array([2, 3, 0, 1])
_ROLL3 = np.array([3, 0, 1, 2])


def _ecb_encrypt_blocks(states: np.ndarray, rk: np.ndarray) -> np.ndarray:
    """Cipher (FIPS-197 §5.1) over an (n, 4, 4) state batch."""
    nr = rk.shape[0] - 1
    s = states ^ rk[0]
    for rnd in range(1, nr):
        s = _SBOX[s]
        s = s[:, _ROWS, _SHIFT_COLS]
        # MixColumns: out_r = 2*s_r ^ 3*s_{r+1} ^ s_{r+2} ^ s_{r+3}
        m2, m3 = _MUL[2][s], _MUL[3][s]
        s = (m2
             ^ m3[:, _ROLL1]
             ^ s[:, _ROLL2]
             ^ s[:, _ROLL3])
        s ^= rk[rnd]
    s = _SBOX[s]
    s = s[:, _ROWS, _SHIFT_COLS]
    return s ^ rk[nr]


def _ecb_decrypt_blocks(states: np.ndarray, rk: np.ndarray) -> np.ndarray:
    """Inverse cipher (FIPS-197 §5.3) over an (n, 4, 4) state batch."""
    nr = rk.shape[0] - 1
    s = states ^ rk[nr]
    for rnd in range(nr - 1, 0, -1):
        s = s[:, _ROWS, _INV_SHIFT_COLS]
        s = _INV_SBOX[s]
        s = s ^ rk[rnd]
        # InvMixColumns: out_r = 14*s_r ^ 11*s_{r+1} ^ 13*s_{r+2} ^ 9*s_{r+3}
        s = (_MUL[14][s]
             ^ _MUL[11][s][:, _ROLL1]
             ^ _MUL[13][s][:, _ROLL2]
             ^ _MUL[9][s][:, _ROLL3])
    s = s[:, _ROWS, _INV_SHIFT_COLS]
    s = _INV_SBOX[s]
    return s ^ rk[0]


def _to_states(data: bytes) -> np.ndarray:
    """bytes → (n, 4, 4) column-major states (§3.4: state[r][c] = in[r+4c])."""
    a = np.frombuffer(data, dtype=np.uint8).reshape(-1, 4, 4)
    return a.transpose(0, 2, 1)


def _from_states(states: np.ndarray) -> bytes:
    return states.transpose(0, 2, 1).tobytes()


def encrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block ECB encrypt (the FIPS-197 Cipher)."""
    if len(block) != 16:
        raise ValueError("AES block must be 16 bytes")
    return _from_states(_ecb_encrypt_blocks(_to_states(block),
                                            _expand_key(key)))


def decrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block ECB decrypt (the FIPS-197 Inverse Cipher)."""
    if len(block) != 16:
        raise ValueError("AES block must be 16 bytes")
    return _from_states(_ecb_decrypt_blocks(_to_states(block),
                                            _expand_key(key)))


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt WITHOUT padding removal. Vectorized: ECB-decrypt every
    block at once, then XOR each with the previous ciphertext block."""
    if len(data) % 16 or len(iv) != 16:
        raise ValueError("CBC data must be a multiple of 16 with 16-byte IV")
    if not data:
        return b""
    rk = _expand_key(key)
    plain = _ecb_decrypt_blocks(_to_states(data), rk)
    prev = _to_states(iv + data[:-16])
    return _from_states(plain ^ prev)


# --- fast scalar path for the inherently-sequential CBC encrypt --------
# The numpy core is batch-oriented; a 1-block numpy call costs ~0.3 ms of
# array overhead, which makes the R6 KDF (≥64 CBC rounds over 2 KB)
# multi-second. The classic T-table formulation (FIPS-197 §5.1 with the
# round collapsed into four 32-bit word lookups) runs a block in ~5 µs of
# pure Python. The tables are derived from the same computed S-box /
# field arithmetic; equality with the vectorized core is test-pinned.


def _build_t_tables() -> list[list[int]]:
    t0, t1, t2, t3 = [], [], [], []
    for x in range(256):
        s = int(_SBOX[x])
        m2, m3 = _gf_mul(2, s), _gf_mul(3, s)
        t0.append((m2 << 24) | (s << 16) | (s << 8) | m3)
        t1.append((m3 << 24) | (m2 << 16) | (s << 8) | s)
        t2.append((s << 24) | (m3 << 16) | (m2 << 8) | s)
        t3.append((s << 24) | (s << 16) | (m3 << 8) | m2)
    return [t0, t1, t2, t3]


_TT = _build_t_tables()
_SBOX_LIST = [int(b) for b in _SBOX]


def _rk_words(rk: np.ndarray) -> list[int]:
    """Round keys as big-endian 32-bit column words (word c of round n =
    state column c)."""
    out = []
    for rnd in rk:
        for c in range(4):
            out.append((int(rnd[0][c]) << 24) | (int(rnd[1][c]) << 16)
                       | (int(rnd[2][c]) << 8) | int(rnd[3][c]))
    return out


def _encrypt_block_words(w: list[int], rkw: list[int], nr: int) -> list[int]:
    t0, t1, t2, t3 = _TT
    sb = _SBOX_LIST
    s0 = w[0] ^ rkw[0]
    s1 = w[1] ^ rkw[1]
    s2 = w[2] ^ rkw[2]
    s3 = w[3] ^ rkw[3]
    for rnd in range(1, nr):
        k = 4 * rnd
        u0 = (t0[s0 >> 24] ^ t1[(s1 >> 16) & 255] ^ t2[(s2 >> 8) & 255]
              ^ t3[s3 & 255] ^ rkw[k])
        u1 = (t0[s1 >> 24] ^ t1[(s2 >> 16) & 255] ^ t2[(s3 >> 8) & 255]
              ^ t3[s0 & 255] ^ rkw[k + 1])
        u2 = (t0[s2 >> 24] ^ t1[(s3 >> 16) & 255] ^ t2[(s0 >> 8) & 255]
              ^ t3[s1 & 255] ^ rkw[k + 2])
        u3 = (t0[s3 >> 24] ^ t1[(s0 >> 16) & 255] ^ t2[(s1 >> 8) & 255]
              ^ t3[s2 & 255] ^ rkw[k + 3])
        s0, s1, s2, s3 = u0, u1, u2, u3
    k = 4 * nr
    o0 = ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 255] << 16)
          | (sb[(s2 >> 8) & 255] << 8) | sb[s3 & 255]) ^ rkw[k]
    o1 = ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 255] << 16)
          | (sb[(s3 >> 8) & 255] << 8) | sb[s0 & 255]) ^ rkw[k + 1]
    o2 = ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 255] << 16)
          | (sb[(s0 >> 8) & 255] << 8) | sb[s1 & 255]) ^ rkw[k + 2]
    o3 = ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 255] << 16)
          | (sb[(s1 >> 8) & 255] << 8) | sb[s2 & 255]) ^ rkw[k + 3]
    return [o0, o1, o2, o3]


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt WITHOUT padding (caller pads). Sequential by nature —
    only the corpus writer twin and the R6 key-derivation hash use it —
    so it runs on the scalar T-table path."""
    import struct

    if len(data) % 16 or len(iv) != 16:
        raise ValueError("CBC data must be a multiple of 16 with 16-byte IV")
    rk = _expand_key(key)
    nr = rk.shape[0] - 1
    rkw = _rk_words(rk)
    out = bytearray(len(data))
    prev = list(struct.unpack(">4I", iv))
    for i in range(0, len(data), 16):
        w = struct.unpack_from(">4I", data, i)
        prev = _encrypt_block_words(
            [w[0] ^ prev[0], w[1] ^ prev[1], w[2] ^ prev[2],
             w[3] ^ prev[3]], rkw, nr)
        struct.pack_into(">4I", out, i, *prev)
    return bytes(out)


def pkcs7_pad(data: bytes) -> bytes:
    """RFC 2315 block padding — what ISO 32000 §7.6.5 mandates for AES
    stream content (1..16 pad bytes, each equal to the pad length)."""
    n = 16 - len(data) % 16
    return data + bytes([n]) * n


def pkcs7_unpad(data: bytes) -> bytes:
    """Strip and VALIDATE the padding; raises ValueError on malformed
    padding (the decrypt path turns that into the quarantine contract)."""
    if not data or len(data) % 16:
        raise ValueError("bad CBC length")
    n = data[-1]
    if not 1 <= n <= 16 or data[-n:] != bytes([n]) * n:
        raise ValueError("bad PKCS#7 padding")
    return data[:-n]


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    # canonicalize to three positional args so every call shape shares
    # one lru key (f(a, b) and f(a, b, b"") cache separately otherwise)
    return _hash_2b(password, salt, udata)


@functools.lru_cache(maxsize=256)
def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the R6 password hash: an
    iterated SHA-256/384/512 schedule keyed by AES-128-CBC of the 64×
    repeated (password ‖ K ‖ udata) block, terminating once round ≥ 64
    and the last byte of E is ≤ round − 32. (R5, Adobe's pre-ISO
    extension, is the degenerate single SHA-256 — handled by callers.)

    Memoized in-process by the lru: Spark reuses Python workers across
    tasks, stages and jobs, so repeat derivations in a worker are
    lookups. An OPT-IN disk memo (content-keyed, 32-byte values) also
    shares results between processes: set SPARK_GRAFT_KDF_CACHE to a
    directory to enable it; unset or empty means no disk layer, so no
    derived key is ever written to disk by default. Neither layer
    weakens first-sight cost for genuinely new inputs.

    Trust boundary: a KDF output IS key material, so the memo is only
    honored when the cache directory is OWNED by this uid and not
    group/world-writable — a foreign, linked or pre-planted directory is
    ignored (derive fresh, write nothing) rather than trusted; entries
    are written 0o600 under a 0o700 dir."""
    import hashlib
    import os
    import stat

    cache_dir = os.environ.get("SPARK_GRAFT_KDF_CACHE")
    path = None
    if cache_dir:
        try:
            os.makedirs(cache_dir, mode=0o700, exist_ok=True)
            # lstat + S_ISDIR: os.stat follows symlinks, so a pre-planted
            # link at the cache path pointing into a victim-owned 0700
            # directory would pass an os.stat ownership check while
            # redirecting key-cache reads/writes wherever the attacker
            # chose (second review wave)
            st = os.lstat(cache_dir)
            dir_ok = (stat.S_ISDIR(st.st_mode)
                      and st.st_uid == os.getuid()
                      and not st.st_mode & (stat.S_IWGRP | stat.S_IWOTH))
        except OSError:
            dir_ok = False
        if dir_ok:
            digest = hashlib.sha256(
                b"2b|%d|" % len(password) + password + b"|%d|" % len(salt)
                + salt + b"|" + udata).hexdigest()
            path = os.path.join(cache_dir, digest)
            try:
                with open(path, "rb") as fh:
                    v = fh.read()
                if len(v) == 32:
                    return v
            except OSError:
                pass

    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            out = k[:32]
            if path is not None:
                # atomic publish: concurrent workers may race to the same
                # key; both compute the same value, last rename wins.
                # 0o600 — derived keys are secrets, not shared state
                try:
                    tmp = f"{path}.{os.getpid()}"
                    fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_TRUNC,
                                 0o600)
                    with os.fdopen(fd, "wb") as fh:
                        fh.write(out)
                    os.replace(tmp, path)
                except OSError:
                    pass
            return out
