"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio/video codec libraries, so decode is a
three-tier story: REAL for every reference image upload type —
BMP / PNG (sequential + Adam7) / GIF / TIFF (none/LZW/Deflate/PackBits
strips ± predictor) / JPEG (baseline + progressive) / lossless-WEBP via
the from-scratch kernels — plus RIFF/WAVE PCM-16 audio and YUV4MPEG2
video, a deterministic fake container for everything the tests exercise
at scale, and a loud failure for codec variants outside the documented
profiles (arithmetic-coded JPEG, lossy VP8, MP3/MP4) — while everything
Spark-side — schema, Arrow batch shape, partitioning, mapInPandas
signature — is real and tested. On a cluster with ffmpeg-class codecs
installed, only `_decode_image` / `_sample_frames` grow arms.

Payload container format (deterministic fake, self-describing):
    b"IMG1" + width:uint16 + height:uint16 + channels:uint8 + payload
so header parsing, feature extraction shape, and batching are exercised
end-to-end without a codec.
"""
from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_DDL = (
    "media_id long, kind string, payload binary, meta map<string,string>"
)
FEATURES_DDL = (
    "media_id long, kind string, width int, height int, channels int, "
    "mean_intensity double, feature array<float>, error string"
)

MAGIC = b"IMG1"


def encode_fake_image(media_id: int, width: int, height: int) -> bytes:
    """Deterministic fake 'image': header + seeded byte payload."""
    rng = np.random.default_rng(media_id)
    body = rng.integers(0, 256, size=width * height * 3, dtype=np.uint8).tobytes()
    return MAGIC + struct.pack("<HHB", width, height, 3) + body


def _decode_image(payload: bytes) -> np.ndarray:
    """Image decode: REAL for every reference image upload type — BMP,
    PNG (incl. Adam7), GIF, TIFF (incl. LZW/Deflate/PackBits),
    JPEG (baseline + progressive), and lossless WEBP, all via the
    from-scratch decoders in kernels/ (luminance (h, w, 1)) — plus the
    deterministic fake container for tests. Container variants outside
    the documented profiles (arithmetic-coded JPEG, lossy VP8, ...)
    raise OcrUnsupported (a ValueError) and quarantine at the operator
    layer."""
    if payload[:2] == b"BM":
        from pdf_extractor_spark.kernels.ocr_kernel import decode_bmp_gray

        rows = decode_bmp_gray(payload)  # raises OcrUnsupported (a ValueError)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from pdf_extractor_spark.kernels.png_kernel import decode_png_gray

        rows = decode_png_gray(payload)  # raises OcrUnsupported (a ValueError)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from pdf_extractor_spark.kernels.gif_kernel import decode_gif_gray

        rows = decode_gif_gray(payload)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from pdf_extractor_spark.kernels.tiff_kernel import decode_tiff_gray

        rows = decode_tiff_gray(payload)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:2] == b"\xff\xd8":
        from pdf_extractor_spark.kernels.jpeg_kernel import decode_jpeg_gray

        rows = decode_jpeg_gray(payload)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        from pdf_extractor_spark.kernels.webp_kernel import decode_webp_gray

        rows = decode_webp_gray(payload)
        return np.frombuffer(b"".join(rows), dtype=np.uint8).reshape(
            len(rows), len(rows[0]), 1)
    if payload[:4] != MAGIC:
        raise ValueError("unknown media container")
    w, h, c = struct.unpack("<HHB", payload[4:9])
    arr = np.frombuffer(payload[9 : 9 + w * h * c], dtype=np.uint8)
    return arr.reshape(h, w, c)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary media columns.

    Real Spark plumbing: Arrow-batched, one output row per input row, errors
    degrade to an error column (reference error contract,
    pypdf2_extractor.py:41-48). The 'feature' is a deterministic downsample
    (mean of 8 stripes) standing in for a real embedding.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": [], "kind": [], "width": [], "height": [],
                "channels": [], "mean_intensity": [], "feature": [], "error": [],
            }
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf["payload"]):
                try:
                    arr = _decode_image(bytes(payload))
                    h, w, c = arr.shape
                    flat = arr.reshape(-1).astype(np.float64)
                    stripes = np.array_split(flat, 8)
                    feat = [float(s.mean()) for s in stripes]
                    out["media_id"].append(mid)
                    out["kind"].append(kind)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["channels"].append(c)
                    out["mean_intensity"].append(float(flat.mean()))
                    out["feature"].append(feat)
                    out["error"].append(None)
                except Exception as exc:
                    out["media_id"].append(mid)
                    out["kind"].append(kind)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["channels"].append(None)
                    out["mean_intensity"].append(None)
                    out["feature"].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FEATURES_DDL)


def expected_image_feature_row(media_id: int, n_chars: int) -> tuple[int, int, float]:
    """Pure-Python/numpy twin of fake_media_table + extract_features for one
    document: (width, height, mean_intensity) with mean_intensity replicating
    the kernel's float64 mean bit-for-bit (same numpy calls, same order).
    Used to pin the rng-dependent feature values into the q27 oracle as
    literals; the structural columns are derived in SQL instead."""
    w = 8 + int(n_chars) % 24
    h = 8 + (int(n_chars) // 7) % 24
    arr = _decode_image(encode_fake_image(int(media_id), w, h))
    flat = arr.reshape(-1).astype(np.float64)
    return w, h, float(flat.mean())


def png_media_text(doc_id: int) -> str:
    """The deterministic page text of the q27 PNG media arm — one
    definition shared by the Spark generator and the oracle twin."""
    return f"DOC {int(doc_id)} PNG"


def expected_png_feature_row(doc_id: int) -> tuple[int, int, float]:
    """Pure-Python twin of the q27 PNG arm for one document:
    (width, height, mean_intensity) via the same render→decode→feature
    path the Spark kernel runs (kernels/png_kernel.py), so the oracle can
    pin the values as literals."""
    from pdf_extractor_spark.kernels.png_kernel import render_text_png

    arr = _decode_image(render_text_png(png_media_text(doc_id), width=32))
    h, w, _ = arr.shape
    return w, h, float(arr.reshape(-1).astype(np.float64).mean())


def png_media_table(spark, documents: DataFrame) -> DataFrame:
    """REAL-PNG media rows derived from documents (every 4th doc): each
    becomes a rendered scanned-text PNG page at media_id -(2*doc_id+1) —
    the NEGATIVE odd id space, provably disjoint from the fake arm's
    media_id = doc_id at ANY corpus size (a fixed offset would collide
    once doc_ids pass it) — the reference's PNG upload domain
    (main.py:366-373) exercised through the from-scratch codec."""
    from pdf_extractor_spark.kernels.png_kernel import render_text_png

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keep = [int(d) for d in pdf["doc_id"] if int(d) % 4 == 0]
            yield pd.DataFrame(
                {
                    "media_id": [-(2 * d + 1) for d in keep],
                    "kind": ["image"] * len(keep),
                    "payload": [
                        render_text_png(png_media_text(d), width=32)
                        for d in keep
                    ],
                    "meta": [{} for _ in keep],
                }
            )

    return documents.select("doc_id").mapInPandas(gen, MEDIA_DDL)


def webp_media_text(doc_id: int) -> str:
    """The deterministic page text of the q27 WEBP media arm — one
    definition shared by the Spark generator and the oracle twin."""
    return f"DOC {int(doc_id)} WEBP"


def expected_webp_feature_row(doc_id: int) -> tuple[int, int, float]:
    """Pure-Python twin of the q27 WEBP arm for one document:
    (width, height, mean_intensity) via the same render→decode→feature
    path the Spark kernel runs (kernels/webp_kernel.py — VP8L prefix
    codes + subtract-green), so the oracle can pin the values as
    literals."""
    from pdf_extractor_spark.kernels.webp_kernel import render_text_webp

    arr = _decode_image(render_text_webp(webp_media_text(doc_id), width=32))
    h, w, _ = arr.shape
    return w, h, float(arr.reshape(-1).astype(np.float64).mean())


def webp_media_table(spark, documents: DataFrame) -> DataFrame:
    """REAL-WEBP media rows derived from documents (every doc_id % 4 == 1):
    each becomes a rendered scanned-text lossless WebP page at
    media_id -(2*doc_id+2) — the NEGATIVE even id space, disjoint from
    both the fake arm (nonnegative) and the PNG arm (negative odd) at
    any corpus size — the reference's final image upload type
    (main.py:371 accepts .webp) exercised through the from-scratch VP8L
    codec."""
    from pdf_extractor_spark.kernels.webp_kernel import render_text_webp

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            keep = [int(d) for d in pdf["doc_id"] if int(d) % 4 == 1]
            yield pd.DataFrame(
                {
                    "media_id": [-(2 * d + 2) for d in keep],
                    "kind": ["image"] * len(keep),
                    "payload": [
                        render_text_webp(webp_media_text(d), width=32)
                        for d in keep
                    ],
                    "meta": [{} for _ in keep],
                }
            )

    return documents.select("doc_id").mapInPandas(gen, MEDIA_DDL)


def round_half_up(x: float, scale: int) -> float:
    """Bit-exact twin of Spark's F.round on doubles: BigDecimal.valueOf
    (shortest decimal repr) → setScale(scale, HALF_UP) → toDouble."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(f"1e-{scale}"),
                                           rounding=ROUND_HALF_UP))


def fake_media_table(spark, documents: DataFrame) -> DataFrame:
    """Derive a deterministic media table from documents (no external data):
    each doc_id becomes one fake image sized by its n_chars."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {
                "media_id": [], "kind": [], "payload": [], "meta": [],
            }
            for did, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 8 + int(n_chars) % 24
                h = 8 + (int(n_chars) // 7) % 24
                rows["media_id"].append(int(did))
                rows["kind"].append("image")
                rows["payload"].append(encode_fake_image(int(did), w, h))
                rows["meta"].append({"w": str(w), "h": str(h)})
            yield pd.DataFrame(rows)

    return documents.select("doc_id", "n_chars").mapInPandas(gen, MEDIA_DDL)


# -- image near-duplicate detection (perceptual hash) -------------------------

def dhash64(arr: np.ndarray) -> int:
    """64-bit difference hash (dHash) of an image array (h, w, c) or
    (h, w, 1): channel-mean grayscale, nearest-neighbor downsample to a
    9x8 grid (deterministic integer indexing, no interpolation), then one bit per horizontal gradient
    g[r, c+1] > g[r, c]. Returned as a SIGNED 64-bit value so it round-
    trips through Spark/parquet BIGINT columns unchanged. Pure numpy —
    the same function is the oracle twin (q21 image arm pins its outputs
    as literals), so parity is structural."""
    g = arr.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = (np.arange(8) * h // 8).clip(0, h - 1)
    xs = (np.arange(9) * w // 9).clip(0, w - 1)
    s = g[ys][:, xs]
    bits = (s[:, 1:] > s[:, :-1]).reshape(-1)
    v = 0
    for i, b in enumerate(bits):
        if b:
            v |= 1 << i
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def fake_near_dup_image(media_id: int, width: int, height: int) -> bytes:
    """A near-duplicate of ``encode_fake_image(media_id, ...)``: the same
    payload with 3 seeded body bytes shifted by +64 (mod 256) — the
    'slightly re-encoded copy' shape crawl dedup hunts for. Shared by the
    q21 image arm and its oracle twin."""
    base = bytearray(encode_fake_image(media_id, width, height))
    rng = np.random.default_rng(media_id + 999_983)
    body = len(base) - 9
    for p in rng.integers(0, body, size=3):
        q = 9 + int(p)
        base[q] = (base[q] + 64) % 256
    return bytes(base)


def _hash_table(media: DataFrame, hash_fn) -> DataFrame:
    """(media_id, dhash) via mapInPandas over the binary payload column;
    undecodable payloads are dropped (the features operators carry the
    error contract — dedup only consumes decodable media)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    hs.append(hash_fn(bytes(payload)))
                    ids.append(mid)
                except Exception:
                    continue
            yield pd.DataFrame({"media_id": ids,
                                "dhash": np.array(hs, dtype=np.int64)})

    return media.mapInPandas(batches, "media_id long, dhash long")


def image_dhash_table(media: DataFrame) -> DataFrame:
    return _hash_table(media, lambda raw: dhash64(_decode_image(raw)))


def image_neardup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate image pairs: dHash + ``hamming_neardup_pairs``."""
    return hamming_neardup_pairs(image_dhash_table(media), max_hamming)


def hamming_neardup_pairs(hashes: DataFrame,
                          max_hamming: int = 3,
                          bits: int = 64) -> DataFrame:
    """Near-duplicate pairs over any (media_id, dhash) fingerprint table:
    banded Hamming-LSH + exact verify. The ``bits``-wide hash splits into
    max_hamming+1 disjoint bands; by pigeonhole, any pair within
    ``max_hamming`` differing bits agrees on at least one band, so the
    keyed (band, band_val) equi-join has GUARANTEED recall at the
    threshold — no all-pairs stage, the q18 banding shape applied to
    fingerprint space (images, audio envelopes, text SimHash — any
    perceptual hash up to 64 bits; Manku et al. 2007 WWW, "Detecting
    Near-Duplicates for Web Crawling", uses exactly this table layout).
    Returns (a, b, cos) with cos = 1 - hamming/bits, rounded 6dp (for
    bits=64 the fraction is exact binary; otherwise both engines round
    the same IEEE double identically)."""
    n_bands = max_hamming + 1
    width = bits // n_bands  # last band absorbs the bits % n_bands remainder

    def _mask(nbits: int) -> int:
        # a full-64-bit band (max_hamming=0, bits=64): (1<<64)-1 overflows
        # the signed long literal; -1 is the same all-ones two's-complement
        return -1 if nbits >= 64 else (1 << nbits) - 1

    bands = hashes.select(
        "media_id", "dhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftrightunsigned(F.col("dhash"), width * i)
                     .bitwiseAND(F.lit(_mask(bits - width * (n_bands - 1)
                                             if i == n_bands - 1 else width)))
                     .alias("band_val"))
            for i in range(n_bands)])).alias("bv"),
    ).select("media_id", "dhash", "bv.band", "bv.band_val")
    left = bands.alias("l")
    right = bands.alias("r")
    cand = (
        left.join(right, ["band", "band_val"])
        .where(F.col("l.media_id") < F.col("r.media_id"))
        .select(F.col("l.media_id").alias("a"), F.col("r.media_id").alias("b"),
                F.col("l.dhash").alias("ha"), F.col("r.dhash").alias("hb"))
        .distinct()
    )
    d = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.withColumn("hamming", d)
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b",
                F.round(F.lit(1.0) - F.col("hamming") / F.lit(float(bits)), 6)
                .alias("cos"))
    )


# -- video / audio plumbing ---------------------------------------------------
# Same stub discipline: self-describing fake containers exercise the real
# Spark shapes (one row in → N frame rows out; waveform → fixed feature
# vector); a real cluster swaps the parser for ffmpeg/soundfile.

VID_MAGIC = b"VID1"
AUD_MAGIC = b"AUD1"
FRAMES_DDL = (
    "media_id long, frame_index int, frame_ts_ms long, payload binary, error string"
)


def encode_fake_video(media_id: int, n_frames: int) -> bytes:
    """header + n_frames 8x8 fake image frames at 10 fps, each seeded by
    (media_id, idx)."""
    frames = b"".join(
        encode_fake_image(media_id * 1000 + i, 8, 8) for i in range(n_frames)
    )
    return VID_MAGIC + struct.pack("<HHB", n_frames, 10, 0) + frames


def encode_fake_audio(media_id: int, n_samples: int) -> bytes:
    """header + n_samples seeded 16-bit PCM samples at 16 kHz."""
    rng = np.random.default_rng(media_id)
    pcm = (rng.normal(0, 3000, size=n_samples)).astype(np.int16)
    return AUD_MAGIC + struct.pack("<IH", n_samples, 16000) + pcm.tobytes()


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL decode of RIFF/WAVE PCM (struct-level chunk walk, no codec):
    returns (samples float64 mono-mixed, sample_rate). Raises
    NotImplementedError for compressed format codes (MP3/ADPCM/float —
    codec territory) and ValueError for malformed containers."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        (clen,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8: pos + 8 + clen]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("missing fmt/data chunk")
    code, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if code != 1:
        raise NotImplementedError(
            f"WAVE format code {code} requires an audio codec (not installed); "
            "only uncompressed PCM decodes here")
    if bits != 16 or channels < 1:
        raise ValueError(f"unsupported PCM layout ({bits}-bit, {channels}ch)")
    n = len(data) // (2 * channels)
    x = np.frombuffer(data[: n * 2 * channels], dtype="<i2").astype(np.float64)
    if channels > 1:
        x = x.reshape(n, channels).mean(axis=1)  # mono mix
    return x, int(rate)


_Y4M_FRAME_FRACTION = {"420": 3, "mono": 2, "422": 4, "444": 6}  # x/2 of w*h


def _iter_y4m_frames(raw: bytes):
    """REAL decode of a YUV4MPEG2 stream (struct/text-level, no codec):
    yields (frame_index, ts_ms, frame_plane_bytes). Raises ValueError on
    malformed containers; unsupported chroma subsamplings raise
    NotImplementedError."""
    nl = raw.index(b"\n")
    head = raw[:nl].decode("ascii", "replace").split(" ")
    w = h = None
    num, den = 25, 1
    chroma = "420"
    for tok in head[1:]:
        if tok[:1] == "W":
            w = int(tok[1:])
        elif tok[:1] == "H":
            h = int(tok[1:])
        elif tok[:1] == "F":
            num, den = (int(x) for x in tok[1:].split(":"))
        elif tok[:1] == "C":
            chroma = tok[1:]
    if (w is None or h is None or w <= 0 or h <= 0
            or w > 1 << 16 or h > 1 << 16 or num <= 0 or den <= 0):
        # negative/zero dims would make the frame stride non-positive and
        # the walk non-terminating (review finding, round 3)
        raise ValueError("malformed YUV4MPEG2 header")
    if chroma.startswith("mono"):
        key = "mono"
    elif chroma in ("420", "420jpeg", "420mpeg2", "420paldv"):
        key = "420"
    elif chroma in ("422", "444"):
        key = chroma
    else:  # e.g. 444alpha (4 planes), 411 — not in this profile
        raise NotImplementedError(
            f"YUV4MPEG2 chroma C{chroma} requires a converter (not installed)")
    fsize = w * h * _Y4M_FRAME_FRACTION[key] // 2
    pos, i = nl + 1, 0
    while pos < len(raw):
        fnl = raw.index(b"\n", pos)
        if raw[pos:pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        body = raw[fnl + 1: fnl + 1 + fsize]
        if len(body) < fsize:
            raise ValueError("truncated frame")
        yield i, i * 1000 * den // num, body
        pos = fnl + 1 + fsize
        i += 1


def _decode_audio(raw: bytes) -> tuple[np.ndarray, int]:
    """(samples float64, sample_rate) from either supported container:
    real RIFF/WAVE PCM-16 or the fake test container; loud
    NotImplementedError for codec formats."""
    if raw[:4] == b"RIFF":
        return _decode_wav(raw)
    if raw[:4] != AUD_MAGIC:
        raise NotImplementedError(
            "real audio decode requires a codec (not installed)")
    n, sr = struct.unpack("<IH", raw[4:10])
    pcm = np.frombuffer(raw[10: 10 + 2 * n], dtype=np.int16)
    return pcm.astype(np.float64), int(sr)


def audio_fingerprint64(x: np.ndarray) -> int:
    """64-bit audio envelope fingerprint: the waveform splits into 65
    equal windows (np.array_split sizing), each reduced to RMS energy,
    and one bit per envelope gradient rms[i+1] > rms[i] — the dHash idea
    applied to the energy envelope (robust to small sample-level noise,
    cheap, deterministic). Signed 64-bit like dhash64; the same function
    is the oracle twin on BOTH sides, so the vectorized fast path below
    (one reduceat over x², replacing 65 per-window numpy calls — the q21
    audio arm's dominant cost at bench scale) cannot desync Spark from
    the oracle."""
    n = x.size
    if n >= 65:
        base, rem = divmod(n, 65)
        sizes = np.full(65, base, dtype=np.int64)
        sizes[:rem] += 1
        offsets = np.zeros(65, dtype=np.int64)
        np.cumsum(sizes[:-1], out=offsets[1:])
        rms = np.sqrt(np.add.reduceat(x * x, offsets) / sizes)
    else:
        parts = np.array_split(x, 65)
        rms = np.array([float(np.sqrt((w * w).mean())) if w.size else 0.0
                        for w in parts])
    v = 0
    for i in range(64):
        if rms[i + 1] > rms[i]:
            v |= 1 << i
    if v >= 1 << 63:
        v -= 1 << 64
    return v


def fake_near_dup_audio(media_id: int, n_samples: int) -> bytes:
    """A near-duplicate of ``encode_fake_audio``: the same PCM with 5
    seeded samples nudged by +500 — a lightly re-encoded copy whose
    envelope fingerprint stays within a few bits. Shared with the oracle
    twin."""
    base = bytearray(encode_fake_audio(media_id, n_samples))
    rng = np.random.default_rng(media_id + 424_243)
    pcm = np.frombuffer(bytes(base[10:]), dtype=np.int16).copy()
    for p in rng.integers(0, len(pcm), size=5):
        pcm[int(p)] = np.clip(int(pcm[int(p)]) + 500, -32768, 32767)
    return bytes(base[:10]) + pcm.tobytes()


def audio_fingerprint_table(media: DataFrame) -> DataFrame:
    return _hash_table(
        media, lambda raw: audio_fingerprint64(_decode_audio(raw)[0]))


def audio_neardup_pairs(media: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate audio pairs: envelope fingerprint +
    ``hamming_neardup_pairs`` (same banded machinery as images)."""
    return hamming_neardup_pairs(audio_fingerprint_table(media), max_hamming)


def sample_frames(media: DataFrame, every_n: int = 5) -> DataFrame:
    """Video frame sampling: one input row → one output row per kept frame
    (the 1→N explode shape a real frame sampler has). Decode is REAL for
    YUV4MPEG2 (uncompressed planar YUV — `_iter_y4m_frames`), the fake
    container for scale tests, and a loud NotImplementedError for codec
    formats (MP4/H.264 → ffmpeg on a real cluster)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"media_id": [], "frame_index": [], "frame_ts_ms": [],
                   "payload": [], "error": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    if raw[:9] == b"YUV4MPEG2":
                        # buffer, then commit only on a complete walk: a
                        # mid-stream truncation must yield ONE error row,
                        # not frames AND an error row for the same media
                        # (the per-media error-XOR-data contract every
                        # other decode arm keeps)
                        kept = [(i, ts, body)
                                for i, ts, body in _iter_y4m_frames(raw)
                                if i % every_n == 0]
                        for i, ts, body in kept:
                            out["media_id"].append(mid)
                            out["frame_index"].append(i)
                            out["frame_ts_ms"].append(ts)
                            out["payload"].append(body)
                            out["error"].append(None)
                        continue
                    if raw[:4] != VID_MAGIC:
                        raise NotImplementedError(
                            "real video decode requires ffmpeg (not installed)"
                        )
                    n_frames, fps, _ = struct.unpack("<HHB", raw[4:9])
                    pos = 9
                    for i in range(n_frames):
                        w, h, c = struct.unpack("<HHB", raw[pos + 4 : pos + 9])
                        flen = 9 + w * h * c
                        if i % every_n == 0:
                            out["media_id"].append(mid)
                            out["frame_index"].append(i)
                            out["frame_ts_ms"].append(int(i * 1000 / fps))
                            out["payload"].append(raw[pos : pos + flen])
                            out["error"].append(None)
                        pos += flen
                except Exception as exc:
                    out["media_id"].append(mid)
                    out["frame_index"].append(None)
                    out["frame_ts_ms"].append(None)
                    out["payload"].append(None)
                    out["error"].append(f"{type(exc).__name__}: {exc}")
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, FRAMES_DDL)
