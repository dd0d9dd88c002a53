"""Text-analysis twins, multimodal plumbing, streaming batch-equivalence."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.kernels import textstats
from pdf_extractor_spark.kernels.lang import detect_lang
from pdf_extractor_spark.operators import text_analysis
from pdf_extractor_spark.operators.multimodal import (
    extract_features, fake_media_table,
)
from tests.builders import encode_wav_pcm16, encode_y4m

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_token_counts_match_python(spark, docs):
    """doc_metrics' token counts: whitespace tokens equal the Python twin,
    and the kernel's TOKEN_RE count equals the JVM regex engine's (the q12
    oracle counts with SQL regexp_extract_all)."""
    jvm = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(textstats.TOKEN_RE), 0))
        .alias("jvm_bpe"))
    got = text_analysis.doc_metrics(docs).join(jvm, "doc_id").collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(got) == len(raw)
    for r in got:
        assert r["ws_tokens"] == textstats.ws_token_count(raw[r["doc_id"]])
        assert r["bpe_tokens"] == r["jvm_bpe"], r["doc_id"]


def test_quality_scores_match_python(spark, docs):
    got = text_analysis.quality_scores(docs).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in got:
        assert abs(r["quality"] - textstats.quality_score(raw[r["doc_id"]])) < 1e-5


def test_fingerprints_match_python(spark, docs):
    got = text_analysis.fingerprints(docs).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in got:
        assert r["fp"] == textstats.fingerprint(raw[r["doc_id"]])


def test_lang_id_matches_python(spark, docs):
    got = text_analysis.lang_id(docs).collect()
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in got:
        assert r["detected_lang"] == detect_lang(raw[r["doc_id"]]), r["doc_id"]


# -- multimodal --------------------------------------------------------------

def test_multimodal_feature_plumbing(spark, docs):
    media = fake_media_table(spark, docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    ok = [r for r in rows if r["error"] is None]
    assert len(ok) == len(rows)
    for r in ok[:20]:
        assert len(r["feature"]) == 8
        assert 0 <= r["mean_intensity"] <= 255
        assert r["width"] > 0 and r["height"] > 0 and r["channels"] == 3


def test_multimodal_error_contract(spark):
    rows = [(1, "image", b"\xff\xd8fakejpeg", {}), (2, "image", b"junk", {})]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, meta map<string,string>"
    )
    out = {r["media_id"]: r for r in extract_features(media).collect()}
    # round 4: JPEG has a REAL from-scratch decoder, so a malformed JPEG
    # surfaces its loud container error instead of a codec stub
    assert "OcrUnsupported" in out[1]["error"]
    assert "ValueError" in out[2]["error"]
    assert out[1]["width"] is None


def test_multimodal_real_bmp_decode(spark):
    """Uncompressed 8-bpp BMP is a REAL decode arm (shared with the OCR
    kernel, palette-aware): width/height/channels/mean come from actual
    pixel data."""
    import numpy as np

    from pdf_extractor_spark.kernels.ocr_kernel import (
        decode_bmp_gray,
        render_text_bmp,
    )

    bmp = render_text_bmp("REAL IMAGE", width=32)
    rows_px = decode_bmp_gray(bmp)
    want_h, want_w = len(rows_px), len(rows_px[0])
    want_mean = float(
        np.frombuffer(b"".join(rows_px), dtype=np.uint8)
        .astype(np.float64).mean())

    media = spark.createDataFrame(
        [(7, "image", bmp, {})],
        "media_id long, kind string, payload binary, meta map<string,string>")
    r = extract_features(media).collect()[0]
    assert r["error"] is None
    assert (r["width"], r["height"], r["channels"]) == (want_w, want_h, 1)
    assert r["mean_intensity"] == want_mean
    assert len(r["feature"]) == 8
    # out-of-profile BMP (24-bpp) degrades to the error row, not garbage
    import struct as _struct
    bad = bytearray(bmp)
    _struct.pack_into("<H", bad, 28, 24)
    media_bad = spark.createDataFrame(
        [(8, "image", bytes(bad), {})],
        "media_id long, kind string, payload binary, meta map<string,string>")
    rb = extract_features(media_bad).collect()[0]
    assert rb["error"] is not None and "OcrUnsupported" in rb["error"]


# -- streaming ---------------------------------------------------------------

def test_streaming_equals_batch(spark):
    from pdf_extractor_spark.operators.relational import event_type_windowed_counts
    from pdf_extractor_spark.streaming.stream import (
        read_events_stream, run_stream_to_memory, windowed_counts_stream,
    )

    stream = windowed_counts_stream(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(spark, stream, "stream_batch_eq_test")
    batch = event_type_windowed_counts(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_stateful_session_totals(spark):
    from pdf_extractor_spark.streaming.stream import (
        read_events_stream, run_stream_to_memory, user_session_totals_stream,
    )

    stream = user_session_totals_stream(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(spark, stream, "session_totals_test", output_mode="update")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expected = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )
    # keep the last update per user (stream emits one row per user per batch)
    from pyspark.sql.window import Window

    final = got.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_value").alias("total_value")
    )
    joined = final.join(expected.withColumnRenamed("n_events", "exp_n")
                        .withColumnRenamed("total_value", "exp_v"), "user_id")
    bad = joined.where(
        (F.col("n_events") != F.col("exp_n"))
        | (F.abs(F.col("total_value") - F.col("exp_v")) > 1e-6)
    )
    assert bad.count() == 0
    assert final.count() == expected.count()


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """A self-unioned stream deduped on event_id yields each row once."""
    import datetime as dt

    from pdf_extractor_spark.streaming.stream import (
        EVENTS_DDL, dedup_events_stream, run_stream_to_memory,
    )

    rows = [
        (i, dt.datetime(2024, 1, 1, 12, 0, i), i % 3, "click", float(i), "{}")
        for i in range(20)
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, EVENTS_DDL).write.parquet(src)
    stream = spark.readStream.schema(EVENTS_DDL).parquet(src)
    doubled = stream.unionByName(stream)
    out = run_stream_to_memory(
        spark, dedup_events_stream(doubled), "dedup_stream_t", output_mode="append"
    )
    got = sorted(r["event_id"] for r in out.collect())
    assert got == list(range(20))


def test_video_frame_sampling_shape(spark):
    from pdf_extractor_spark.operators import multimodal as mm

    rows = [(1, "video", mm.encode_fake_video(1, 12), {}),
            (2, "video", b"\x00\x00\x00\x01ftyp", {})]  # real-ish mp4 -> error row
    df = spark.createDataFrame(rows, mm.MEDIA_DDL)
    out = mm.sample_frames(df, every_n=5).collect()
    ok = [r for r in out if r["error"] is None]
    assert [(r["media_id"], r["frame_index"], r["frame_ts_ms"]) for r in ok] == [
        (1, 0, 0), (1, 5, 500), (1, 10, 1000),
    ]
    errs = [r for r in out if r["error"] is not None]
    assert len(errs) == 1 and "NotImplementedError" in errs[0]["error"]
    # sampled frames are themselves decodable images
    from pdf_extractor_spark.operators.multimodal import _decode_image
    assert _decode_image(bytes(ok[0]["payload"])).shape == (8, 8, 3)


def test_real_wav_decode():
    """RIFF/WAVE PCM-16 is a REAL decode arm: the actual samples come back,
    stereo mono-mixed, compressed format codes fail loudly, malformed
    containers raise ValueError."""
    import struct as _struct

    from pdf_extractor_spark.operators import multimodal as mm

    t = np.arange(1600)
    mono = (3000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    wav = encode_wav_pcm16(mono, 16000)
    x, sr = mm._decode_audio(wav)
    assert sr == 16000 and np.array_equal(x, mono.astype(np.float64))

    # stereo: two channels, mono mix = per-frame mean
    stereo = np.empty(3200, dtype=np.int16)
    stereo[0::2], stereo[1::2] = mono, mono
    fmt = _struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
    data = stereo.astype("<i2").tobytes()
    wav2 = (b"RIFF" + _struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + _struct.pack("<I", 16) + fmt
            + b"data" + _struct.pack("<I", len(data)) + data)
    x2, sr2 = mm._decode_audio(wav2)
    assert sr2 == 16000 and np.array_equal(x2, x)
    # compressed format code -> loud stub; truncated -> ValueError
    bad = bytearray(wav)
    _struct.pack_into("<H", bad, 20, 85)  # MP3 format code
    with pytest.raises(NotImplementedError):
        mm._decode_audio(bytes(bad))
    with pytest.raises(ValueError):
        mm._decode_audio(b"RIFFjunk")


def test_real_y4m_frame_sampling(spark):
    """YUV4MPEG2 is a REAL video decode arm: header parse, FRAME walk,
    fps-derived timestamps, chroma-sized planes; unsupported chroma fails
    loudly; truncated streams degrade to error rows."""
    from pdf_extractor_spark.operators import multimodal as mm

    y4m = encode_y4m(5, n_frames=12, width=8, height=8, fps=(25, 1))
    mono = encode_y4m(6, n_frames=3, width=4, height=4, fps=(30000, 1001),
                         chroma="mono")
    alpha = y4m.replace(b" C420\n", b" C444alpha\n", 1)
    df = spark.createDataFrame(
        [(5, "video", y4m, {}), (6, "video", mono, {}),
         (7, "video", alpha, {}), (8, "video", y4m[:40], {})],
        mm.MEDIA_DDL)
    out = mm.sample_frames(df, every_n=5).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    f5 = sorted((r["frame_index"], r["frame_ts_ms"], len(r["payload"]))
                for r in by_id[5])
    assert f5 == [(0, 0, 96), (5, 200, 96), (10, 400, 96)]  # 8*8*3/2 = 96
    f6 = sorted((r["frame_index"], r["frame_ts_ms"], len(r["payload"]))
                for r in by_id[6])
    assert f6 == [(0, 0, 16)]  # mono: 4*4; ts = 0*1001000/30000
    assert "NotImplementedError" in by_id[7][0]["error"]
    assert by_id[8][0]["error"] is not None

    # truncated mid-stream: ONE error row, never frames AND an error row
    # for the same media (the per-media error-XOR-data contract)
    assert len(by_id[8]) == 1 and by_id[8][0]["frame_index"] is None

    # negative/absurd header dims terminate with an error row, not an
    # infinite frame walk (non-positive stride — review finding, round 3)
    neg = b"YUV4MPEG2 W4 H-1 C420\n" + b"FRAME\n" * 4
    df_neg = spark.createDataFrame([(9, "video", neg, {})], mm.MEDIA_DDL)
    out_neg = mm.sample_frames(df_neg, every_n=1).collect()
    assert len(out_neg) == 1 and "ValueError" in out_neg[0]["error"]


def test_image_dhash_neardup_pairs(spark):
    """Perceptual-hash image dedup: a slightly re-encoded copy pairs with
    its original (hamming <= 3 via the banded join), unrelated images do
    not; the hash is identical for identical payloads and works over real
    BMP input too."""
    import numpy as np

    from pdf_extractor_spark.kernels.ocr_kernel import render_text_bmp
    from pdf_extractor_spark.operators import multimodal as mm

    w, h = 16, 12
    orig = mm.encode_fake_image(3, w, h)
    clone = mm.fake_near_dup_image(3, w, h)
    other = mm.encode_fake_image(4, w, h)
    h_orig = mm.dhash64(mm._decode_image(orig))
    assert mm.dhash64(mm._decode_image(orig)) == h_orig  # deterministic
    d_clone = bin((h_orig ^ mm.dhash64(mm._decode_image(clone)))
                  & ((1 << 64) - 1)).count("1")
    d_other = bin((h_orig ^ mm.dhash64(mm._decode_image(other)))
                  & ((1 << 64) - 1)).count("1")
    assert d_clone <= 3 < d_other

    bmp = render_text_bmp("HASHABLE BMP", width=16)
    assert isinstance(mm.dhash64(mm._decode_image(bmp)), int)

    media = spark.createDataFrame(
        [(3, "image", orig, {}), (1000003, "image", clone, {}),
         (4, "image", other, {}), (9, "image", b"junk", {})],
        mm.MEDIA_DDL)
    pairs = mm.image_neardup_pairs(media, max_hamming=3).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(3, 1000003)]
    assert pairs[0]["cos"] == 1.0 - d_clone / 64.0


def test_audio_envelope_neardup_pairs(spark):
    """Envelope-fingerprint audio dedup through the shared banded Hamming
    machinery: a lightly perturbed copy pairs with its original; an
    unrelated clip does not; the WAV arm fingerprints too."""
    import numpy as np

    from pdf_extractor_spark.operators import multimodal as mm

    orig = mm.encode_fake_audio(11, 2500)
    clone = mm.fake_near_dup_audio(11, 2500)
    other = mm.encode_fake_audio(12, 2500)
    h = mm.audio_fingerprint64(mm._decode_audio(orig)[0])
    d_clone = bin((h ^ mm.audio_fingerprint64(mm._decode_audio(clone)[0]))
                  & ((1 << 64) - 1)).count("1")
    assert d_clone <= 3

    wav = encode_wav_pcm16(
        (2000 * np.sin(np.arange(2000) / 7.0)).astype(np.int16))
    assert isinstance(mm.audio_fingerprint64(mm._decode_audio(wav)[0]), int)

    media = spark.createDataFrame(
        [(11, "audio", orig, {}), (2000011, "audio", clone, {}),
         (12, "audio", other, {}), (13, "audio", b"\xff\xfbmp3", {})],
        mm.MEDIA_DDL)
    pairs = mm.audio_neardup_pairs(media, max_hamming=3).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(11, 2000011)]


def test_audio_features_shape():
    from pdf_extractor_spark.operators import multimodal as mm

    x, sr = mm._decode_audio(mm.encode_fake_audio(1, 4000))
    assert len(x) == 4000 and sr == 16000 and np.abs(x).max() > 0
    # RIFF/WAVE is a REAL arm: a header with no chunks is a malformed
    # container (ValueError), while codec formats like MP3 frames stay a
    # loud NotImplementedError
    with pytest.raises(ValueError):
        mm._decode_audio(b"RIFF....WAVE")
    with pytest.raises(NotImplementedError):
        mm._decode_audio(b"\xff\xfbjunk mp3 frame")


def test_chunk_documents_windows(spark):
    from pdf_extractor_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(300))), (2, "short text"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, chunk_tokens=128, overlap=16).collect()
    got = {(r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"]) for r in rows}
    assert got[(1, 0)][0].startswith("w0 ") and got[(1, 0)][1] == 128
    assert got[(1, 1)][0].startswith("w112 ")  # stride = 128 - 16
    assert got[(1, 2)][1] == 300 - 224  # tail window
    assert got[(2, 0)] == ("short text", 2)
    assert (3, 0) in got  # empty doc still yields one (empty) chunk
    # consecutive chunks overlap by exactly `overlap` tokens
    assert got[(1, 0)][0].split()[-16:] == got[(1, 1)][0].split()[:16]


def test_winnowing_fingerprints_match_twin_and_localize(spark):
    from pdf_extractor_spark.kernels.textstats import normalize, rolling_hashes
    from pdf_extractor_spark.operators.text_analysis import winnowing_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " EXTRA TAIL CONTENT"), (3, "xy"), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: ([int(x) for x in r["fingerprints"].split(",")]
                         if r["fingerprints"] else [])
           for r in winnowing_fingerprints(docs).collect()}

    def twin(text, k=8, window=4):
        hs = rolling_hashes(normalize(text), window=k)
        if not hs:
            return []
        mins = {min(hs[i:i + window]) for i in range(max(len(hs) - window + 1, 1))}
        return sorted(mins)

    for i, t in [(1, base), (3, "xy"), (4, "")]:
        assert got[i] == twin(t), i
    # local property: shared prefix -> large fingerprint overlap
    s1, s2 = set(got[1]), set(got[2])
    assert len(s1 & s2) / len(s1) > 0.8


def test_sliding_counts_stream_equals_batch(spark):
    from pdf_extractor_spark.streaming.stream import (
        read_events_stream, run_stream_to_memory, sliding_counts_stream,
    )

    stream = sliding_counts_stream(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(spark, stream, "sliding_counts_test").collect()
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = (
        events.select(
            F.explode(
                F.array(
                    F.date_trunc("day", F.col("ts")),
                    F.date_trunc("day", F.col("ts")) - F.expr("INTERVAL 1 DAY"),
                )
            ).alias("window_start"),
            "event_type",
            "value",
        )
        .groupBy("window_start", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .collect()
    )
    key = lambda r: (r["window_start"], r["event_type"])
    gmap = {key(r): (r["n"], r["sum_value"]) for r in got}
    bmap = {key(r): (r["n"], r["sum_value"]) for r in batch}
    assert gmap == bmap and len(gmap) > 0


def test_enriched_events_stream_equals_batch_join(spark):
    from pdf_extractor_spark.streaming.stream import (
        enriched_events_stream, read_events_stream, run_stream_to_memory,
    )

    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    stream = enriched_events_stream(read_events_stream(spark, SF_DIR), customer)
    got = run_stream_to_memory(spark, stream, "enriched_events_test",
                               output_mode="append").collect()
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = (
        events.join(customer, events["user_id"] == customer["c_custkey"])
        .select("event_id", "c_name", "c_mktsegment")
        .collect()
    )
    gmap = {r["event_id"]: (r["c_name"], r["c_mktsegment"]) for r in got}
    bmap = {r["event_id"]: (r["c_name"], r["c_mktsegment"]) for r in batch}
    assert gmap == bmap and len(gmap) == events.count()


def test_session_window_stream_equals_batch(spark):
    from pdf_extractor_spark.streaming.stream import (
        read_events_stream, run_stream_to_memory, session_window_stream,
    )

    stream = session_window_stream(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(spark, stream, "session_windows_test").collect()
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "sum_value")
        .collect()
    )
    key = lambda r: (r["user_id"], r["session_start"])
    gmap = {key(r): (r["n_events"], r["sum_value"]) for r in got}
    bmap = {key(r): (r["n_events"], r["sum_value"]) for r in batch}
    assert gmap == bmap and len(gmap) > 0


def test_tf_table_reuse_matches_persist_path(spark, tmp_path):
    from pdf_extractor_spark.operators.text_analysis import tfidf_topk

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "beta beta delta"),
         (3, "alpha delta delta delta")],
        "doc_id long, text string")
    store = str(tmp_path / "tf")
    base = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
            for r in tfidf_topk(docs, k=2).collect()}
    stored = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
              for r in tfidf_topk(docs, k=2, tf_store=store).collect()}
    again = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
             for r in tfidf_topk(docs, k=2, tf_store=store).collect()}
    assert base == stored == again


def test_dsir_gram_store_matches_persist_path(spark, tmp_path):
    """dsir_weights(gram_store=...) — the 100 TB path that routes the
    shared exploded gram stream through a SnapshotTable instead of a
    session-lifetime executor-cache persist (round-2 advice) — must
    produce the identical weights, and a repeat call must reuse the
    committed stream."""
    from pdf_extractor_spark.operators.text_analysis import dsir_weights

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog", "en"),
         (2, "der schnelle braune fuchs springt", "de"),
         (3, "the lazy dog sleeps all day long", "en"),
         (4, "le renard brun rapide saute", "fr")],
        "doc_id long, text string, lang string")
    store = str(tmp_path / "grams")
    base = {r["doc_id"]: r["dsir_weight"] for r in dsir_weights(docs).collect()}
    stored = {r["doc_id"]: r["dsir_weight"]
              for r in dsir_weights(docs, gram_store=store).collect()}
    again = {r["doc_id"]: r["dsir_weight"]
             for r in dsir_weights(docs, gram_store=store).collect()}
    assert base == stored == again and len(base) == 4


def test_extract_pages_stream_equals_batch(spark, tmp_path):
    """The flagship extraction kernel must compose with Structured
    Streaming unchanged: readStream over landed page segments →
    extract_pages_stream (same Arrow batch function as run_extract) must
    produce exactly the batch path's rows — byte-identical text, spans,
    meta — across multiple micro-batches (maxFilesPerTrigger=1 over
    several files exercises the per-trigger path). A page over the size
    cap yields the same single size_cap not-ok row on both paths."""
    from pdf_extractor_spark.operators.extract import (
        SIZE_CAP_BYTES, run_extract,
    )
    from tests.builders import pages_df
    from pdf_extractor_spark.streaming.stream import (
        extract_pages_stream, read_pages_stream, run_stream_to_memory,
    )

    over = spark.createDataFrame(
        [("doc://overcap", None, b"x" * (SIZE_CAP_BYTES + 1))],
        "url string, warc_ts timestamp, html binary")
    pages = pages_df(spark, 60, 42).select(
        "url", "warc_ts", "html").unionByName(over)
    pdir = str(tmp_path / "pages")
    pages.repartition(4).write.parquet(pdir)

    stream = extract_pages_stream(read_pages_stream(spark, pdir))
    got = run_stream_to_memory(
        spark, stream, "extract_pages_test", output_mode="append")
    batch = run_extract(spark.read.parquet(pdir), num_partitions=4, salt=3)

    # partition_id depends on the physical layout and elapsed_us is a
    # wall-clock cost metric — everything else must be byte-identical
    cols = [c for c in batch.columns if c not in ("partition_id", "elapsed_us")]

    def canon(df):
        return sorted(
            tuple(str(r[c]) for c in cols)
            for r in df.select(*cols).collect()
        )

    g, b = canon(got), canon(batch)
    assert len(g) == len(b) > 0
    assert g == b
    capped = batch.where(F.col("url") == "doc://overcap").collect()
    assert len(capped) == 1
    assert capped[0]["page_number"] == 1
    assert capped[0]["payload_bytes"] == SIZE_CAP_BYTES + 1
    assert capped[0]["meta"] == {
        "ok": "false",
        "error": f"size_cap: payload_over_cap:{SIZE_CAP_BYTES + 1}"}


def test_streaming_hll_registers_equal_batch_and_bounded(spark):
    """The streamed HLL registers equal the batch register computation
    (shared hll_idx_rank expressions, availableNow drain), and the state
    cardinality is bounded by windows x types x 256 regardless of how
    many distinct users the stream carries."""
    from pdf_extractor_spark.operators.sketch import HLL_M, hll_idx_rank
    from pdf_extractor_spark.streaming.stream import (
        hll_user_registers_stream, read_events_stream, run_stream_to_memory,
    )

    stream = hll_user_registers_stream(read_events_stream(spark, SF_DIR))
    got = run_stream_to_memory(spark, stream, "hll_regs_test")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    idx, rank = hll_idx_rank(F.col("user_id").cast("string"))
    batch = (
        events.select(
            F.date_trunc("day", "ts").alias("window_start"),
            "event_type", idx.alias("idx"), rank.alias("rank"))
        .groupBy("window_start", "event_type", "idx")
        .agg(F.max("rank").alias("m_j"))
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0
    n_groups = got.select("window_start", "event_type").distinct().count()
    assert got.count() <= n_groups * HLL_M


def test_pack_sequences_ignores_empty_docs(spark):
    """An empty/whitespace-only document contributes ZERO tokens: offsets
    of later docs are unshifted and no '' piece enters any sequence."""
    from pdf_extractor_spark.operators.text_analysis import pack_sequences

    rows = [(0, "a b c"), (1, "   "), (2, ""), (3, "d e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_tokens=4).collect()
    assert len(out) == 2
    assert out[0]["seq_text"] == "a b c d" and out[0]["n_tokens"] == 4
    assert out[1]["seq_text"] == "e" and out[1]["n_tokens"] == 1
    assert "  " not in out[0]["seq_text"]


def test_null_text_rows_do_not_crash_kernels(spark):
    """A NULL text row is an in-domain empty document for every Arrow
    kernel (pandas delivers None; the JVM twins treat NULL as empty) —
    no AttributeError, and metrics equal the empty-string row's."""
    from pdf_extractor_spark.operators import dedup, text_analysis

    rows = [(0, "real words here", "en", "s0", 15),
            (1, None, "en", "s0", 0),
            (2, "", "en", "s0", 0)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long")
    q = {r["doc_id"]: r for r in text_analysis.quality_scores(df).collect()}
    assert q[1]["quality"] == q[2]["quality"]
    lid = {r["doc_id"]: r["detected_lang"]
           for r in text_analysis.lang_id(df).collect()}
    assert lid[1] == lid[2]
    g = {r["doc_id"]: r["keep"] for r in text_analysis.gopher_quality(df).collect()}
    assert g[1] == g[2]
    fp = {r["doc_id"]: r["simhash"]
          for r in dedup.simhash_signatures(df).collect()}
    assert fp[1] == fp[2]


def test_doc_metrics_keep_equals_gopher_quality(spark, sf_dir):
    """doc_metrics and gopher_quality are two views of the SAME gate — the
    keep flag must agree doc-for-doc (doc_metrics once gated on 6dp-rounded
    stats, which diverges at rounding boundaries)."""
    from pdf_extractor_spark.operators import text_analysis

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = text_analysis.doc_metrics(docs).select("doc_id", "keep")
    b = text_analysis.gopher_quality(docs).select("doc_id", "keep")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_extract_stream_to_table_quarantine(spark, tmp_path):
    """The streaming table gets the batch job's quarantine view: an
    over-cap page and a PNG page landed as segments surface as one
    ``size_cap`` row and one ``needs_ocr`` row; a plain HTML page as none."""
    from pdf_extractor_spark.operators.extract import SIZE_CAP_BYTES
    from pdf_extractor_spark.pipeline import quarantine_rows
    from pdf_extractor_spark.sources.table_format import SnapshotTable
    from pdf_extractor_spark.streaming.stream import extract_stream_to_table

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 16
    ddl = "url string, warc_ts timestamp, html binary"
    pdir = str(tmp_path / "pages")
    for url, payload in (("doc://oversize", b"x" * (SIZE_CAP_BYTES + 1)),
                         ("doc://scan.png", png),
                         ("doc://page", b"<html><p>plain text page</p></html>")):
        spark.createDataFrame([(url, None, payload)], ddl).write.mode(
            "append").parquet(pdir)
    table = SnapshotTable(str(tmp_path / "out"))
    extract_stream_to_table(spark, pdir, table, str(tmp_path / "ckpt"))

    quar = {r["url"]: r for r in quarantine_rows(table.read(spark)).collect()}
    assert set(quar) == {"doc://oversize", "doc://scan.png"}
    assert quar["doc://oversize"]["stage"] == "size_cap"
    assert quar["doc://oversize"]["error"] == (
        f"payload_over_cap:{SIZE_CAP_BYTES + 1}")
    assert quar["doc://scan.png"]["stage"] == "extract"
    assert "needs_ocr" in quar["doc://scan.png"]["error"]


def test_extract_stream_to_table_exactly_once(spark, tmp_path):
    """Streaming ingestion into the snapshot-table layer must be
    exactly-once across restarts: (a) the drained table equals the batch
    extraction byte-for-byte; (b) re-running the SAME stream over the same
    checkpoint appends NOTHING (replayed batches skipped by batch-id);
    (c) landing a new segment and re-running appends ONLY its rows; (d) a
    compact in between keeps the batch-id watermark (carry-state)."""
    from pdf_extractor_spark.operators.extract import run_extract
    from tests.builders import pages_df
    from pdf_extractor_spark.sources.table_format import SnapshotTable
    from pdf_extractor_spark.streaming.stream import extract_stream_to_table

    pages = pages_df(spark, 40, 11).select("url", "warc_ts", "html")
    pdir = str(tmp_path / "pages")
    pages.repartition(4).write.parquet(pdir)
    table = SnapshotTable(str(tmp_path / "out"))
    ckpt = str(tmp_path / "ckpt")

    extract_stream_to_table(spark, pdir, table, ckpt)
    batch = {(r["url"], r["page_number"], r["text"])
             for r in run_extract(pages, num_partitions=4).collect()}
    got = {(r["url"], r["page_number"], r["text"])
           for r in table.read(spark).collect()}
    assert got == batch and len(got) >= 40

    # (b) restart over the same checkpoint: nothing new
    n_before = table.read(spark).count()
    extract_stream_to_table(spark, pdir, table, ckpt)
    assert table.read(spark).count() == n_before

    # (d) compaction carries the stream_batch_id watermark
    table.compact(spark)
    assert "stream_batch_id" in (table.current_manifest()["summary"] or {})

    # (c) a new landed segment: only its rows append
    more = pages_df(spark, 50, 11).where("url > ''").select(
        "url", "warc_ts", "html").subtract(pages)
    more.coalesce(1).write.mode("append").parquet(pdir)
    extract_stream_to_table(spark, pdir, table, ckpt)
    final = {(r["url"], r["page_number"], r["text"])
             for r in table.read(spark).collect()}
    expected = {(r["url"], r["page_number"], r["text"])
                for r in run_extract(pages.unionByName(more),
                                     num_partitions=4).collect()}
    assert final == expected
