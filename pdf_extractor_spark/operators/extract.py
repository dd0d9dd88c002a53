"""Distributed extraction operator: Arrow-batched kernels over the pages table.

The whole extraction stage is ONE narrow ``mapInArrow`` pass after an explicit
salted hash-repartition on ``url`` (north_rule: explicit partitioning, no
per-row Python at the DataFrame level). Payload kind is dispatched per row on
the %PDF magic like the reference upload validation (main.py:394).

At 100 TB scale this plan is: parquet scan (pruned to the 3 needed columns) →
shuffle on pmod(hash(url)+salt, n) → per-partition Arrow batches through the
Python workers → columnar write. No joins, no second shuffle; throughput is
bounded by kernel CPU, which is why the kernels avoid any per-row Spark
round-trips. Arrow batches are capped in records and bytes by the session
(``session.get_spark``, multi-MB payloads, SURVEY.md §7 hard parts), so
this module sets no batch policy of its own.
"""
from __future__ import annotations

import gc
import sys
import time
import zipimport
from array import array
from collections.abc import Iterable, Iterator
from itertools import accumulate, chain

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, MapType, StringType, StructField,
    StructType, TimestampType,
)

from pdf_extractor_spark.kernels.html_kernel import extract_html
from pdf_extractor_spark.kernels.lang import lang_spans
from pdf_extractor_spark.kernels.ocr_kernel import (
    OcrUnsupported,
    decode_bmp_gray,
    lines_to_stream_text,
    ocr_gray_rows,
    ocr_page_plausible,
)
from pdf_extractor_spark.kernels.gif_kernel import decode_gif_gray
from pdf_extractor_spark.kernels.jpeg_kernel import decode_jpeg_gray
from pdf_extractor_spark.kernels.webp_kernel import decode_webp_gray
from pdf_extractor_spark.kernels.pdf_kernel import extract_pdf
from pdf_extractor_spark.kernels.png_kernel import decode_png_gray
from pdf_extractor_spark.kernels.tiff_kernel import decode_tiff_gray

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("lang", StringType()),
        ]
    )
)

# FIXTURES.md §3 `extracted` contract.
EXTRACTED_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("partition_id", IntegerType(), True),
        StructField("page_number", IntegerType(), True),
        StructField("text", StringType(), True),
        StructField("combined", StringType(), True),
        StructField("table", StringType(), True),
        StructField("markdown", StringType(), True),
        StructField("titles", StringType(), True),
        StructField("latex", StringType(), True),
        StructField("spans", SPAN_TYPE, True),
        StructField("meta", MapType(StringType(), StringType()), True),
        StructField("payload_bytes", LongType(), True),
        StructField("elapsed_us", LongType(), True),
    ]
)

_ARROW_OUT = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("partition_id", pa.int32()),
        pa.field("page_number", pa.int32()),
        pa.field("text", pa.string()),
        pa.field("combined", pa.string()),
        pa.field("table", pa.string()),
        pa.field("markdown", pa.string()),
        pa.field("titles", pa.string()),
        pa.field("latex", pa.string()),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("start", pa.int32()),
                        pa.field("end", pa.int32()),
                        pa.field("lang", pa.string()),
                    ]
                )
            ),
        ),
        pa.field("meta", pa.map_(pa.string(), pa.string())),
        pa.field("payload_bytes", pa.int64()),
        pa.field("elapsed_us", pa.int64()),
    ]
)


def detect_image_format(payload: bytes) -> str | None:
    """Magic-byte sniff for the reference's image-capable file types
    (models/enums.py:25-31: png/jpg/tiff/bmp/gif + webp). BMP's 2-byte
    magic is too weak alone, so the BMP branch also requires the reserved
    header fields to be zero (mandatory per the format)."""
    if payload.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return "png"
    if payload.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if payload.startswith((b"II*\x00", b"MM\x00*")):
        return "tiff"
    if payload.startswith(b"RIFF") and payload[8:12] == b"WEBP":
        return "webp"
    if payload.startswith(b"BM") and len(payload) > 10 and payload[6:10] == b"\x00\x00\x00\x00":
        return "bmp"
    return None


def _failed_row(meta: dict) -> dict:
    """One empty page-1 row carrying a not-ok ``meta``: the row-level
    error contract (reference tasks.py:112-123) for a document that
    yields no text."""
    return {
        "page_number": 1, "text": "", "combined": "", "table": "",
        "markdown": "", "titles": "", "latex": "", "spans": [],
        "meta": {"ok": "false", **meta},
    }


def _needs_ocr_row(img: str, why: str) -> dict:
    """The loud quarantine row for image payloads the engine cannot read
    (reference file_type semantics, enums.py:25-31)."""
    return _failed_row({
        "error": f"needs_ocr: {img} payload{why}",
        "file_type": img,
        "needs_ocr": "true",
    })


# Scanned-page container decoders the OCR tier reads (all produce the
# shared top-down luminance-row raster consumed by ocr_gray_rows) — ALL
# of the reference's image-capable upload types (enums.py:25-31,
# main.py:371), every one decoded from scratch in this repo (round 4:
# kernels/png_kernel.py zlib+filters, gif_kernel.py LZW, tiff_kernel.py
# IFD strips, jpeg_kernel.py baseline Huffman+IDCT, webp_kernel.py VP8L
# prefix codes + transforms; lossy VP8 inside a WEBP container
# quarantines loudly — a full video intra codec).
_OCR_DECODERS = {
    "bmp": decode_bmp_gray,
    "png": decode_png_gray,
    "gif": decode_gif_gray,
    "tiff": decode_tiff_gray,
    "jpeg": decode_jpeg_gray,
    "webp": decode_webp_gray,
}


def extract_document(payload: bytes | None,
                     transport_charset: str | None = None) -> list[dict]:
    """One document → one output row per page (HTML: single page 1).
    ``transport_charset`` is the HTTP Content-Type charset label when the
    ingest layer carries one (read_warc) — it only affects the HTML
    branch, where WHATWG precedence slots it between BOM and meta.

    Pure Python, shared by the Arrow batch path and unit tests. Follows the
    reference per-page result invariants (SURVEY.md §2a): 1-based pages,
    error rows degrade instead of raising (pypdf2_extractor.py:41-48).
    Image payloads (scanned-document tier, reference enums.py:25-31,
    tesseract_extractor.py:22-53): fixed-pitch bitmap pages (the BMP and
    PNG profiles of kernels/ocr_kernel.py + kernels/png_kernel.py) are
    OCR'd from scratch into the TEXT channel; a container variant outside
    the OCR profile, or a raster that is not machine print, dispatches to
    a loud needs-OCR quarantine row (meta ok=false) instead of silently
    extracting as empty text, preserving the reference's file_type
    semantics.
    """
    if payload:
        img = detect_image_format(payload)
        if img is not None:
            try:
                lines = ocr_gray_rows(_OCR_DECODERS[img](payload))
            except OcrUnsupported as exc:
                return [_needs_ocr_row(img, f" ({exc})")]
            if not ocr_page_plausible(lines):
                # a real-world raster (photo/noise field), not machine
                # print: quarantine loudly instead of emitting '?' garbage
                # into the TEXT channel with ok=true
                return [_needs_ocr_row(
                    img, " (raster is not fixed-pitch machine print)")]
            text = lines_to_stream_text(lines)
            ok = bool(text)
            meta = {"ok": "true" if ok else "false", "file_type": img,
                    "ocr": "true"}
            if not ok:
                meta["error"] = "no meaningful content"
            return [
                {
                    "page_number": 1, "text": text, "combined": text,
                    "table": "", "markdown": "", "titles": "", "latex": "",
                    "spans": lang_spans(text), "meta": meta,
                }
            ]
    if payload and payload.startswith(b"%PDF"):
        res = extract_pdf(payload)
        rows = []
        for page_no, text in res["pages"] or [(1, "")]:
            rows.append(
                {
                    "page_number": page_no,
                    "text": text,
                    "combined": text,
                    "table": "",
                    "markdown": text,
                    "titles": "",
                    # PDF pages surface display-math spans as the LATEX
                    # channel (reference mathpix_extractor.py:133-136)
                    "latex": latex_of_text(text),
                    "spans": lang_spans(text),
                    "meta": res["meta"],
                }
            )
        return rows
    res = extract_html(payload or b"", transport_charset)
    ch = res["channels"]
    return [
        {
            "page_number": 1,
            "text": ch["text"],
            "combined": ch["combined"],
            "table": ch["table"],
            "markdown": ch["markdown"],
            "titles": ch["titles"],
            "latex": ch["latex"],
            "spans": lang_spans(ch["text"]),
            "meta": res["meta"],
        }
    ]


def _settle_worker() -> None:
    """Cut the fixed CPU a reused Python worker spends around each task.
    Runs at the start of every extraction task, and only inside a Spark
    task: in the driver or a test process it does nothing.

    * Drops every cached zip importer. Spark's worker calls
      ``importlib.invalidate_caches()`` at the start of each task, and on
      CPython versions whose zipimporter re-reads eagerly (3.11 does)
      each cached zip/jar importer then re-parses its archive's central
      directory (pyspark.zip, py4j's zip, the Spark jar, any --py-files
      zip). The dict is only a cache: PathFinder rebuilds an entry from
      ``sys.path_hooks`` the next time an import needs that archive.
      ``worker_daemon`` moves the first three behind the installed
      packages, but each worker still caches an importer for all three:
      the daemon's lookup of this package walked them before they moved,
      and an import that no earlier entry satisfies (an optional module
      a library probes for) walks every entry of ``sys.path``.
    * Freezes the live heap (``gc.freeze``). ``pyspark.daemon`` runs a
      full ``gc.collect()`` after every task of a reused worker, and
      without the freeze it walks every tracked object of pyspark,
      pyarrow, numpy and the kernels' tables each time. Frozen objects
      are still freed by refcount; only cycles among them are not.
      Freezing on every task, not once, also moves what the previous task
      cached (and survived the daemon's collect just before this task)
      out of the next collect's way.

    Spark reuses a worker across the tasks, stages and jobs of a
    SparkContext, so every later task on this worker gains, whatever
    Python stage it runs.
    """
    if TaskContext.get() is None:
        return
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    gc.freeze()


# input columns that reach the output unchanged, gathered per output row
_TAKEN = ("url", "warc_ts", "partition_id", "payload_bytes")


def _ints(code: str, values: Iterable[int]) -> pa.Array:
    """Non-null int32 (``code`` "i") or int64 ("q") array over an
    ``array`` buffer. An out-of-range value raises OverflowError
    (``array`` checks every item), so an int32 offset never wraps."""
    buf = array(code, values)
    typ = pa.int32() if code == "i" else pa.int64()
    return pa.Array.from_buffers(typ, len(buf), [None, pa.py_buffer(buf)])


def _offsets(lengths: Iterable[int]) -> pa.Array:
    """int32 Arrow offsets of consecutive runs of ``lengths``."""
    return _ints("i", accumulate(lengths, initial=0))


def _strings(values: list[str]) -> pa.Array:
    """Non-null string array. An all-ASCII column (``isascii`` is a flag
    test) is encoded once, joined, with its values' lengths as byte
    lengths; any other column encodes each value and joins the bytes."""
    text = "".join(values)
    if text.isascii():
        lengths, data = map(len, values), text.encode()
    else:
        encoded = [v.encode() for v in values]
        lengths, data = map(len, encoded), b"".join(encoded)
    return pa.Array.from_buffers(
        pa.string(), len(values),
        [None, _offsets(lengths).buffers()[1], pa.py_buffer(data)])


_SPANS = _ARROW_OUT.field("spans").type
_META = _ARROW_OUT.field("meta").type


def _spans(rows: list[list[tuple[int, int, str]]]) -> pa.Array:
    flat = list(chain.from_iterable(rows))
    items = pa.StructArray.from_arrays(
        [_ints("i", [s for s, _, _ in flat]),
         _ints("i", [e for _, e, _ in flat]),
         _strings([lg for _, _, lg in flat])],
        fields=list(_SPANS.value_type))
    return pa.ListArray.from_arrays(_offsets(map(len, rows)), items,
                                    type=_SPANS)


def _meta(rows: list[dict[str, str]]) -> pa.Array:
    return pa.MapArray.from_arrays(
        _offsets(map(len, rows)),
        _strings(list(chain.from_iterable(rows))),
        _strings(list(chain.from_iterable(map(dict.values, rows)))),
        type=_META)


# builder of each output column the kernel computes (the rest are _TAKEN)
_BUILD = {
    "page_number": lambda v: _ints("i", v),
    "text": _strings, "combined": _strings, "table": _strings,
    "markdown": _strings, "titles": _strings, "latex": _strings,
    "spans": _spans,
    "meta": _meta,
    "elapsed_us": lambda v: _ints("q", v),
}


def _extract_arrow_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow kernel: input batches of (url, warc_ts, html,
    payload_bytes, partition_id) — the :func:`eligible_pages` columns.

    Pass-through columns (url, warc_ts, partition_id, payload_bytes) never
    become Python objects: output rows carry a source-row index and the
    columns are gathered with pa.compute.take — timestamp<->datetime
    conversion per row was a measurable share of the batch loop. A row
    whose payload the size cap removed yields one ``size_cap`` not-ok row.

    The computed columns are built from flat per-column lists with
    ``pa.Array.from_buffers`` (``array`` offsets and values, joined UTF-8
    bytes) and the ``ListArray`` / ``StructArray`` / ``MapArray``
    constructors, never ``pa.array``: in pyarrow 16 ``pa.array`` probes
    for pandas, so its first call imported all of pandas (337 modules,
    ~30 MB of RSS and ~0.2 s of CPU per fresh worker) into every Python
    worker, which the kernel never uses.
    """
    import pyarrow.compute as pc

    _settle_worker()
    for batch in batches:
        payloads = batch.column("html").to_pylist()
        sizes = batch.column("payload_bytes").to_pylist()
        # optional transport-charset column (WARC ingest): absent on the
        # plain pages-table path, so the fast path allocates nothing
        charsets = (batch.column("charset").to_pylist()
                    if "charset" in batch.schema.names
                    else [None] * len(payloads))
        idx: list[int] = []
        out: dict[str, list] = {name: [] for name in _BUILD}
        for i, payload in enumerate(payloads):
            d0 = time.perf_counter_ns()
            if payload is None and sizes[i] > SIZE_CAP_BYTES:
                rows = [_failed_row(
                    {"error": f"size_cap: payload_over_cap:{sizes[i]}"})]
            else:
                rows = extract_document(payload, charsets[i])
            for row in rows:
                idx.append(i)
                out["page_number"].append(row["page_number"])
                out["text"].append(row["text"])
                out["combined"].append(row["combined"])
                out["table"].append(row["table"])
                out["markdown"].append(row["markdown"])
                out["titles"].append(row["titles"])
                out["latex"].append(row["latex"])
                out["spans"].append(row["spans"])
                out["meta"].append(row["meta"])
                out["elapsed_us"].append((time.perf_counter_ns() - d0) // 1000)
        take = _ints("i", idx)
        arrays = [
            pc.take(batch.column(field.name), take).cast(field.type)
            if field.name in _TAKEN
            else _BUILD[field.name](out[field.name])
            for field in _ARROW_OUT
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=_ARROW_OUT)


def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Explicit hash partitioning on url with a salt to defuse host-level
    skew (north_rule; SURVEY.md §4 skew row).

    Partitions directly on ``hash(url) + salt`` (fine-grained key) rather
    than on a pre-quantized bucket value: quantizing to num_partitions
    values first and re-hashing those leaves ~1/e of partitions empty and
    doubles up others (verified empirically). Logical lineage buckets are a
    separate column (pipeline.py) so physical layout and checkpoint
    granularity stay decoupled.
    """
    return df.repartition(num_partitions, F.hash(F.col("url")) + F.lit(salt))


# reference 20 MB upload cap (main.py:386-392). Enforced here and nowhere
# else: eligible_pages drops the bytes of a larger payload and
# _extract_arrow_batches turns its row into a size_cap quarantine row, so
# the batch pass, the streaming pass and the pipeline all see the cap the
# same way.
SIZE_CAP_BYTES = 20 * 1024 * 1024


def eligible_pages(pages: DataFrame) -> DataFrame:
    """The shared extraction prologue: prune to (url, warc_ts, html) —
    plus the transport ``charset`` column when the ingest layer carries
    one (read_warc; WHATWG precedence inside sniff_decode) — and add
    ``payload_bytes`` (the payload's length, 0 for NULL).

    A payload over :data:`SIZE_CAP_BYTES` keeps its row but its ``html``
    becomes NULL, so its bytes never reach the shuffle or the JVM→Python
    channel; the kernel emits one ``size_cap`` not-ok row for it. Every
    input url therefore yields at least one output row."""
    nbytes = F.coalesce(F.length("html"), F.lit(0)).cast("long")
    cols = [
        "url", "warc_ts",
        F.when(nbytes <= SIZE_CAP_BYTES, F.col("html")).alias("html"),
    ]
    if "charset" in pages.columns:
        cols.append("charset")
    return pages.select(*cols, nbytes.alias("payload_bytes"))


def run_extract(pages: DataFrame, num_partitions: int = 32,
                salt: int = 0) -> DataFrame:
    """pages(url, warc_ts, html, ...) → extracted DataFrame (one row/page).

    One pass: :func:`eligible_pages` (column pruning to url/warc_ts/html,
    the reference 20 MB upload cap of main.py:386-392) → salted url-hash
    repartition → ``mapInArrow`` kernel. A row over the cap yields one
    not-ok page-1 row whose meta error is ``size_cap:
    payload_over_cap:<bytes>``. Arrow batches are bounded in records and
    bytes by the session (``session.get_spark``), so big in-cap payloads
    need no separate pass: the salted hash spreads them over partitions
    and the byte cap keeps each batch's working set bounded.
    """
    src = salted_repartition(eligible_pages(pages), num_partitions, salt)
    src = src.withColumn("partition_id", F.spark_partition_id())
    return src.mapInArrow(_extract_arrow_batches, EXTRACTED_SCHEMA)


def annotation_span_intersections(extracted: DataFrame,
                                  annotations: DataFrame) -> DataFrame:
    """Intersect user annotation selections with the extracted language
    spans (reference models/database.py:92-104: annotations carry
    selection_start/selection_end character offsets into the extracted
    text; the repo emits per-paragraph language spans in the same offset
    space, extract.py spans column).

    annotations(url, ann_id, selection_start, selection_end) × explode(spans)
    → one row per (annotation, overlapping span) with the overlap width.
    Plan: narrow explode + one hash join on url (broadcast-able when the
    annotation table is small, which it is — human annotations); no other
    shuffle.
    """
    sp = extracted.select("url", "page_number", F.explode("spans").alias("s"))
    j = sp.join(annotations, "url")
    ov = F.greatest(
        F.lit(0),
        F.least(F.col("s.end"), F.col("selection_end"))
        - F.greatest(F.col("s.start"), F.col("selection_start")),
    )
    return (
        j.withColumn("overlap_chars", ov)
        .where(F.col("overlap_chars") > 0)
        .select(
            "url", "ann_id", "page_number",
            F.col("s.start").alias("span_start"),
            F.col("s.end").alias("span_end"),
            F.col("s.lang").alias("span_lang"),
            "overlap_chars",
        )
    )


def fanout_channels(extracted: DataFrame) -> DataFrame:
    """Reference fan-out parity (one job row per doc × extractor,
    main.py:110-137): every reference extractor's output is one channel of
    the single-pass kernel (SURVEY.md §2a mapping), so the multi-extractor
    view is a per-channel explode of the extracted table — no second
    extraction pass. Empty channels are dropped (a reference job with no
    meaningful content fails rather than persisting, tasks.py:228-249)."""
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("channel"), F.col(c).alias("content"))
            for c in ("text", "combined", "table", "markdown", "titles",
                      "latex")
        ]
    )
    return (
        extracted.select("url", "page_number", F.explode(pairs).alias("x"))
        .select("url", "page_number", F.col("x.channel").alias("channel"),
                F.col("x.content").alias("content"))
        .where(F.col("content") != "")
    )


# Reference consumer display priority (content-helpers.ts:50-67,96-102):
# the frontend picks ONE content channel per document to show, in this
# exact order, skipping channels without meaningful content.
CHANNEL_PRIORITY = ("combined", "text", "markdown", "table", "latex",
                    "titles")


def latex_of_text(text: str) -> str:
    """Display-math spans (``$$...$$``) of a text stream, joined "\\n\\n"
    — the LATEX channel for page-stream extractors (reference
    mathpix_extractor.py:133-136 emits latex alongside text). Pure
    function shared by the PDF page path and unit tests."""
    import re

    return "\n\n".join(
        m.strip() for m in re.findall(r"\$\$(.+?)\$\$", text, re.S)
        if m.strip())


def best_content(channels: DataFrame) -> DataFrame:
    """Channel-priority selection — the reference consumer's read path
    (content-helpers.ts:50-67: COMBINED > TEXT > MARKDOWN > ... display
    pick with the meaningful-content gate): given per-channel rows
    ``(url, page_number, channel, content)`` (the :func:`fanout_channels`
    frame — one row per channel an extractor actually produced), return
    ONE row per (url, page_number) carrying the highest-priority channel
    with non-blank content.

    Plan: a priority rank joins in as a literal CASE (no lookup table),
    then ONE ``min_by`` over a (channel, content) struct keyed by
    (_prio, channel) — a single map-side-combinable shuffle on the
    (url, page) key, no window sort, no self-join. The struct keeps the
    picked channel and its content ATOMIC (two independent min_by calls
    could pair the channel of one tied row with the content of another),
    and the channel-name tiebreak makes unknown channels — which all
    share the last rank — deterministic.
    """
    prio = F.lit(len(CHANNEL_PRIORITY))
    for i, c in enumerate(reversed(CHANNEL_PRIORITY)):
        prio = F.when(F.col("channel") == c,
                      F.lit(len(CHANNEL_PRIORITY) - 1 - i)).otherwise(prio)
    meaningful = channels.where(F.trim(F.col("content")) != "")
    picked = F.min_by(
        F.struct(F.col("channel"), F.col("content")),
        F.struct(F.col("_prio"), F.col("channel")),
    )
    return (
        meaningful.withColumn("_prio", prio)
        .groupBy("url", "page_number")
        .agg(picked.alias("_best"))
        .select("url", "page_number",
                F.col("_best.channel").alias("channel"),
                F.col("_best.content").alias("content"))
    )
