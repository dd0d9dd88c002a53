"""Differential mutation tests for the table-driven entropy decoders
(kernels/jpeg_kernel.py, kernels/webp_kernel.py, kernels/ccitt_kernel.py).

Every fixture flavor is mutated with seeded truncations, bit flips and
byte replacements; each case's outcome — a digest of its rows, or the
exact error message — is folded into one digest per fixture. The pinned
digests were generated with the bit-at-a-time decoders the lookahead
tables replaced, so a mismatch means the lookahead/fallback split
changed which bit raises (or what decodes).

Regenerate a digest (only after an intended behavior change) with
``python -c "import tests.test_decode_parity as t; print(t.all_digests())"``.
"""
from __future__ import annotations

import hashlib
import random

import pytest

from pdf_extractor_spark.kernels import ccitt_kernel as C
from pdf_extractor_spark.kernels import jpeg_kernel as J
from pdf_extractor_spark.kernels import ocr_kernel as K
from pdf_extractor_spark.kernels import webp_kernel as W

MUTATIONS = 96


def _page(text: str) -> list[bytes]:
    return [bytes(r) for r in K.render_page_gray(K.wrap_fixed(text, 16))]


def _noise(rows: int, cols: int, seed: int) -> list[bytes]:
    rng = random.Random(seed)
    return [bytes(0 if rng.random() < 0.3 else 255 for _ in range(cols))
            for _ in range(rows)]


def _jpeg_fixtures() -> dict:
    page = _page("JPEG PARITY 0123 XYZ.")
    return {
        "jpeg_baseline": J.pack_jpeg_gray(page),
        "jpeg_restart": J.pack_jpeg_gray(page, restart_interval=2),
        "jpeg_3comp": J.pack_jpeg_gray(page, components=3),
        "jpeg_420_restart": J.pack_jpeg_gray(
            page, components=3, subsample=True, restart_interval=3),
        "jpeg_progressive": J.pack_jpeg_gray_progressive(
            page, successive=True, restart_interval=7),
        "jpeg_progressive_spectral": J.pack_jpeg_gray_progressive(
            page, successive=False),
    }


WEBP_FLAVORS = {
    "webp_normal": {},
    "webp_simple2": {"use_simple2": True},
    "webp_lz77": {"use_lz77": True},
    "webp_cache": {"cache_bits": 6},
    "webp_lz77_cache": {"use_lz77": True, "cache_bits": 4},
    "webp_near": {"use_near": True},
    "webp_near_lz77": {"use_near": True, "use_lz77": True},
    "webp_all": {"use_near": True, "use_lz77": True, "cache_bits": 4},
}

# (encode kwargs, decode kwargs) per CCITT scheme
CCITT_SCHEMES = {
    "g4": ({"k": -1}, {"k": -1}),
    "g4_no_eofb": ({"k": -1, "eofb": False}, {"k": -1}),
    "g4_byte_align": ({"k": -1, "byte_align": True},
                      {"k": -1, "byte_align": True}),
    "g3_1d": ({"k": 0}, {"k": 0}),
    "g3_2d": ({"k": 2}, {"k": 2, "eol": True}),
}


def _mutants(base: bytes, seed: int, start: int):
    """The unmutated payload, then MUTATIONS seeded variants; bytes
    before ``start`` (container signatures) stay intact."""
    rng = random.Random(seed)
    yield base
    for j in range(MUTATIONS):
        b = bytearray(base)
        kind = j % 4
        if kind == 0:
            b = b[:rng.randrange(start, len(b))]
        elif kind == 1:
            i = rng.randrange(start, len(b))
            b[i] ^= 1 << rng.randrange(8)
        elif kind == 2:
            for _ in range(rng.randint(2, 5)):
                i = rng.randrange(start, len(b))
                b[i] ^= 1 << rng.randrange(8)
        else:
            b[rng.randrange(start, len(b))] = rng.randrange(256)
        yield bytes(b)


def _outcomes_digest(decode, payloads, errors) -> str:
    h = hashlib.sha256()
    for p in payloads:
        try:
            out = "rows:" + hashlib.sha256(b"\n".join(decode(p))).hexdigest()
        except errors as exc:
            out = "err:" + str(exc)
        h.update(out.encode() + b"\n")
    return h.hexdigest()[:24]


def _seed(name: str) -> int:
    return int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "big")


def fixture_digest(name: str) -> str:
    if name.startswith("jpeg"):
        base = _jpeg_fixtures()[name]
        return _outcomes_digest(J.decode_jpeg_gray,
                                _mutants(base, _seed(name), 2),
                                K.OcrUnsupported)
    if name.startswith("webp"):
        base = W.render_text_webp("WEBP PARITY 0123 XYZ.", width=16,
                                  **WEBP_FLAVORS[name])
        return _outcomes_digest(W.decode_webp_gray,
                                _mutants(base, _seed(name), 12),
                                K.OcrUnsupported)
    scheme, raster = name.split(":")
    rows = _page("CCITT PARITY 0123.") if raster == "page" \
        else _noise(20, 70, 5)
    enc, dec = CCITT_SCHEMES[scheme]
    base = C.encode_gray_rows(rows, **enc)
    return _outcomes_digest(
        lambda p: C.decode_to_gray_rows(p, len(rows[0]), len(rows), **dec),
        _mutants(base, _seed(name), 0), C.CcittError)


PINNED = {
    "jpeg_baseline": "402db0270179b3245fe10efd",
    "jpeg_restart": "83a23de5d6da538a038ca3ef",
    "jpeg_3comp": "c50e019ff8a487ec3e48f9ba",
    "jpeg_420_restart": "ff690eb8c5f7719806b3ccb5",
    "jpeg_progressive": "cc8068503812271bdb8fe391",
    "jpeg_progressive_spectral": "d93fdbba7731137666df6738",
    "webp_normal": "6ff2e97e1102484eb908afab",
    "webp_simple2": "381c0558ef71d7e761f2b73e",
    "webp_lz77": "6483e006615040d2c4cf831d",
    "webp_cache": "1b186c4cd137d2652ed7702f",
    "webp_lz77_cache": "36c9e514fb3bac8aa5c04677",
    "webp_near": "f2180c1e8730a73a5205f7a3",
    "webp_near_lz77": "bcc4a4a88a91373ded15ca99",
    "webp_all": "16d276bb045b3ebabc713735",
    "g4:page": "c05cad3704b964b076575945",
    "g4:noise": "39ece32f1f7f369ea70185e6",
    "g4_no_eofb:page": "24ca7621f113f075b4e76cf1",
    "g4_no_eofb:noise": "435419ad287a2553a1521587",
    "g4_byte_align:page": "b2cf3aa33c7e192fff7c9330",
    "g4_byte_align:noise": "191ce8bb74bdfba2da0f9399",
    "g3_1d:page": "a35a9e05a49c93ead7f715dd",
    "g3_1d:noise": "f11d6f509f7569cf27cb8b4b",
    "g3_2d:page": "33b21ca809db3460352c10b5",
    "g3_2d:noise": "5793a23cc6cb95963713fd46",
}


def all_digests() -> dict:
    return {name: fixture_digest(name) for name in PINNED}


@pytest.mark.parametrize("name", list(PINNED))
def test_mutation_outcomes_match_bitwalk_decoder(name):
    assert fixture_digest(name) == PINNED[name]
