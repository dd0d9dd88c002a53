"""M2 integration: Spark extraction pass matches golden fixtures per url
through the full mapInArrow path (SURVEY.md §7 M2)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extract import run_extract
from tests.builders import golden_df, pages_df

N = 250
SEED = 42


@pytest.fixture(scope="module")
def extracted(spark):
    df = run_extract(pages_df(spark, N, SEED), num_partitions=8, salt=3)
    df.cache()
    yield df
    df.unpersist()


def test_row_per_page(spark, extracted):
    golden = golden_df(spark, N, SEED)
    exp_rows = golden.select(
        F.when(F.size("expected_pages") > 0, F.size("expected_pages"))
        .otherwise(F.lit(1))
        .alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert extracted.count() == exp_rows


def test_html_channels_match_golden(spark, extracted):
    golden = golden_df(spark, N, SEED)
    html_docs = extracted.filter(F.col("page_number") == 1).join(
        golden.filter(F.size("expected_pages") == 0), "url"
    )
    bad = html_docs.filter(
        (F.col("text") != F.col("expected_text"))
        | (F.col("combined") != F.col("expected_combined"))
        | (F.col("table") != F.col("expected_table"))
        | (F.col("markdown") != F.col("expected_markdown"))
    )
    assert bad.count() == 0, bad.select("url", "text", "expected_text").first()
    assert html_docs.count() > 0


def test_pdf_pages_match_golden(spark, extracted):
    golden = golden_df(spark, N, SEED)
    exp = golden.filter(F.size("expected_pages") > 0).select(
        "url", F.explode("expected_pages").alias("p")
    ).select("url", F.col("p.page").alias("page_number"), F.col("p.text").alias("expected"))
    got = extracted.join(exp, ["url", "page_number"], "inner")
    assert got.count() == exp.count()
    assert got.filter(F.col("text") != F.col("expected")).count() == 0


def test_spans_match_golden(spark, extracted):
    golden = golden_df(spark, N, SEED)
    joined = extracted.filter(F.col("page_number") == 1).join(
        golden.filter((F.size("expected_spans") > 0) & (F.size("expected_pages") == 0)),
        "url",
        "inner",
    )
    norm = F.transform(
        "expected_spans",
        lambda x: F.struct(
            x["start"].cast("int").alias("start"),
            x["end"].cast("int").alias("end"),
            x["lang"].alias("lang"),
        ),
    )
    bad = joined.filter(F.to_json(F.col("spans")) != F.to_json(norm))
    assert bad.count() == 0, bad.select("url", "spans", "expected_spans").first()


def test_meaningful_content_gate(spark, extracted):
    """Degenerate rows degrade with ok=false, never raise (tasks.py:228-249)."""
    golden = golden_df(spark, N, SEED)
    joined = extracted.filter(F.col("page_number") == 1).join(golden, "url")
    mismatch = joined.filter(
        (F.col("meta")["ok"] == "true") != F.col("expected_ok")
    )
    assert mismatch.count() == 0
    assert joined.filter(F.col("meta")["ok"] == "false").count() > 0


def test_partitioning_is_salted_hash(spark):
    """Same salt → same bucket per url; different salt → different layout."""
    from pdf_extractor_spark.operators.extract import salted_repartition

    df = pages_df(spark, 100, SEED).select("url", "warc_ts", "html")
    a = salted_repartition(df, 8, 0).withColumn("p", F.spark_partition_id())
    b = salted_repartition(df, 8, 1).withColumn("p", F.spark_partition_id())
    pa_ = {r["url"]: r["p"] for r in a.select("url", "p").collect()}
    pb = {r["url"]: r["p"] for r in b.select("url", "p").collect()}
    assert pa_ != pb  # salt actually changes the layout
    # all partitions non-empty-ish (skew defused at this scale)
    sizes = a.groupBy("p").count().collect()
    assert len(sizes) >= 6


def test_salted_repartition_defuses_host_skew(spark):
    """The corpus deliberately gives two hot hosts ~30% of rows. Partitioning
    by host would bottleneck two tasks; the url-granular salted hash must
    keep the max/mean partition ratio near 1."""
    from pdf_extractor_spark.operators.extract import salted_repartition

    df = pages_df(spark, 2000, seed=11)
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    hot_share = (
        df.groupBy(host.alias("h")).count().orderBy(F.col("count").desc()).limit(2)
        .agg(F.sum("count")).collect()[0][0]
    ) / 2000
    assert hot_share > 0.2  # the skew actually exists in the corpus

    by_host = df.repartition(16, host).groupBy(F.spark_partition_id()).count()
    salted = salted_repartition(df, 16, salt=5).groupBy(F.spark_partition_id()).count()

    def imbalance(rows):
        counts = [r["count"] for r in rows.collect()]
        return max(counts) / (sum(counts) / 16)

    assert imbalance(salted) < 1.35           # near-uniform
    assert imbalance(salted) < imbalance(by_host)  # strictly better than host keys


def test_oversized_payloads_routed_not_dropped(spark):
    """A big in-cap payload goes through the single extraction pass and
    produces text; a payload over the 20 MB cap yields one not-ok size_cap
    row instead of text."""
    import pandas as pd

    from pdf_extractor_spark.corpus import _wrap  # noqa: F401  (html builder)
    from pdf_extractor_spark.operators.extract import (
        SIZE_CAP_BYTES, run_extract,
    )

    big_body = ("<p>" + "big payload text. " * 50 + "</p>")
    huge = b"<html><body>" + big_body.encode() * 80 + b"</body></html>"
    rows = pd.DataFrame(
        {
            "url": ["u://small", "u://big", "u://overcap"],
            "warc_ts": pd.Timestamp("2024-01-01", tz="UTC"),
            "html": [
                b"<html><body><p>small doc</p></body></html>",
                huge,
                b"x" * (SIZE_CAP_BYTES + 100),
            ],
        }
    )
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = run_extract(df, num_partitions=4)
    got = {r["url"]: r for r in out.collect()}
    assert set(got) == {"u://small", "u://big", "u://overcap"}
    assert got["u://big"]["meta"]["ok"] == "true"
    assert "big payload text" in got["u://big"]["text"]
    assert got["u://overcap"]["meta"] == {
        "ok": "false",
        "error": f"size_cap: payload_over_cap:{SIZE_CAP_BYTES + 100}"}
    assert got["u://overcap"]["text"] == ""


def _kernel_batch():
    """One pages row in the :func:`eligible_pages` columns the extraction
    kernel reads."""
    import pyarrow as pa

    html = b"<html><body><p>one row</p></body></html>"
    return pa.RecordBatch.from_pydict(
        {
            "url": ["u://one"],
            "warc_ts": pa.array([0], pa.timestamp("us", tz="UTC")),
            "html": [html],
            "payload_bytes": pa.array([len(html)], pa.int64()),
            "partition_id": pa.array([0], pa.int32()),
        }
    )


def _in_one_task(spark, fn, schema: str) -> dict:
    """Run ``fn() -> dict`` once inside a Spark Python task (one
    ``mapInArrow`` task, on a reused worker) and return its dict."""
    import pyarrow as pa

    def task(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([fn()])

    rows = spark.range(0, 1, 1, 1).mapInArrow(task, schema).collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_kernel_drops_cached_zip_importers(spark, tmp_path):
    """Inside a Spark task the extraction kernel empties
    sys.path_importer_cache of zip importers (so a reused Python worker
    stops re-reading pyspark.zip on every task), and imports from the
    same archive still work after."""
    import zipfile

    archive = tmp_path / "kernel_cache_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zcache_probe_a.py", "VALUE = 'a'\n")
        z.writestr("zcache_probe_b.py", "VALUE = 'b'\n")
    entry = str(archive)
    batch = _kernel_batch()

    def probe():
        import sys
        import zipimport

        from pdf_extractor_spark.operators.extract import _extract_arrow_batches

        # the kernel's first batch in a worker imports modules lazily
        # (pyarrow.compute, the kernels' deferred imports), which caches
        # the importers of sys.path's archives again
        list(_extract_arrow_batches(iter([batch])))
        sys.path.insert(0, entry)
        try:
            import zcache_probe_a

            cached = isinstance(sys.path_importer_cache.get(entry),
                                zipimport.zipimporter)
            rows = sum(b.num_rows for b in _extract_arrow_batches(iter([batch])))
            left = sum(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
            import zcache_probe_b

            return {"a": zcache_probe_a.VALUE, "cached": cached, "rows": rows,
                    "left": left, "b": zcache_probe_b.VALUE}
        finally:
            sys.path.remove(entry)
            sys.path_importer_cache.pop(entry, None)
            for name in ("zcache_probe_a", "zcache_probe_b"):
                sys.modules.pop(name, None)

    got = _in_one_task(
        spark, probe, "a string, cached boolean, rows long, left long, b string")
    assert got == {"a": "a", "cached": True, "rows": 1, "left": 0, "b": "b"}


def test_kernel_outside_a_task_changes_no_process_state(tmp_path):
    """Called in-process (the driver, a test, ``extract_document`` users),
    the kernel freezes nothing and keeps the process's cached zip
    importers."""
    import gc
    import sys
    import zipfile
    import zipimport

    from pdf_extractor_spark.operators.extract import _extract_arrow_batches

    archive = tmp_path / "kernel_keep_probe.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zkeep_probe.py", "VALUE = 'k'\n")
    entry = str(archive)
    sys.path.insert(0, entry)
    try:
        import zkeep_probe

        assert zkeep_probe.VALUE == "k"
        before = gc.get_freeze_count()
        out = list(_extract_arrow_batches(iter([_kernel_batch()])))
        assert sum(b.num_rows for b in out) == 1
        assert gc.get_freeze_count() == before == 0
        assert isinstance(sys.path_importer_cache[entry], zipimport.zipimporter)
    finally:
        sys.path.remove(entry)
        sys.path_importer_cache.pop(entry, None)
        sys.modules.pop("zkeep_probe", None)


def test_kernel_freeze_does_not_grow_per_task(spark):
    """Inside a Spark task the extraction kernel freezes the worker's live
    heap, so the full gc.collect() pyspark.daemon runs after every task
    walks only what the task created, not the ~74k long-lived objects of
    pyspark, pyarrow, numpy and the kernels. Leak bound of freezing on
    every task: K kernel runs in one task, each followed by a gc.collect()
    as the daemon does between tasks, grow the frozen set by at most a
    small constant, and leave no unfrozen objects behind. The first
    run's lazy imports (pyarrow.compute, the kernels' deferred imports)
    come after its freeze; what they create is frozen from the second run
    on."""
    runs = 12
    batch = _kernel_batch()

    def probe():
        import gc

        from pdf_extractor_spark.operators.extract import _extract_arrow_batches

        frozen, tracked, rows = [], [], 0
        for _ in range(runs):
            rows += sum(b.num_rows for b in _extract_arrow_batches(iter([batch])))
            gc.collect()
            frozen.append(gc.get_freeze_count())
            tracked.append(len(gc.get_objects()))
        return {"rows": rows, "first": frozen[0], "second": frozen[1],
                "last": frozen[-1], "tracked": max(tracked[1:])}

    got = _in_one_task(
        spark, probe,
        "rows long, first long, second long, last long, tracked long")
    assert got["rows"] == runs
    assert got["first"] > 10_000
    assert got["last"] - got["second"] <= 64, got
    assert got["tracked"] < 2_000, got


def test_image_payload_dispatch_needs_ocr():
    """Image payloads (reference enums.py image-capable types) must route to
    a loud needs-OCR quarantine row, not silently-empty text."""
    import ast
    import inspect

    from pdf_extractor_spark.operators.extract import (
        _OCR_DECODERS, detect_image_format, extract_document,
    )

    # extract_document indexes _OCR_DECODERS[img] for every sniffed
    # format, so each format the sniffer can return needs a decoder
    sniffed = {
        n.value.value
        for n in ast.walk(ast.parse(inspect.getsource(detect_image_format)))
        if isinstance(n, ast.Return) and isinstance(n.value, ast.Constant)
        and n.value.value is not None
    }
    assert sniffed == set(_OCR_DECODERS)

    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32
    jpg = b"\xff\xd8\xff\xe0" + b"\x00" * 32
    gif = b"GIF89a" + b"\x00" * 16
    tiff = b"II*\x00" + b"\x00" * 16
    webp = b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 8
    bmp = b"BM\x46\x00\x00\x00\x00\x00\x00\x00\x36\x00\x00\x00"
    for payload, fmt in [(png, "png"), (jpg, "jpeg"), (gif, "gif"),
                         (tiff, "tiff"), (webp, "webp"), (bmp, "bmp")]:
        assert detect_image_format(payload) == fmt
        rows = extract_document(payload)
        assert len(rows) == 1
        assert rows[0]["meta"]["ok"] == "false"
        assert rows[0]["meta"]["needs_ocr"] == "true"
        assert rows[0]["meta"]["file_type"] == fmt
        assert "needs_ocr" in rows[0]["meta"]["error"]
    # text that merely starts with 'BM' or binary junk is NOT an image
    assert detect_image_format(b"BMW cars are great " * 3) is None
    assert extract_document(b"<p>BMW cars</p>")[0]["meta"].get("ok") != "false"


def test_image_payloads_quarantined_by_pipeline(spark, tmp_path, monkeypatch):
    from pdf_extractor_spark import pipeline
    from pdf_extractor_spark.pipeline import ExtractionJob

    pages = pages_df(spark, 40, seed=3)
    # overwrite every 8th payload with a PNG header -> 5 needs-OCR docs
    from pyspark.sql import functions as F

    png = bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)
    pages = pages.withColumn(
        "html",
        F.when(
            F.crc32(F.col("url")) % 8 == 0, F.lit(bytes(png))
        ).otherwise(F.col("html")),
    )
    n_img = pages.where(F.crc32(F.col("url")) % 8 == 0).count()
    # a small wave of failing images must not open the breaker
    monkeypatch.setattr(pipeline, "FAILURE_RATE_ABORT", 0.9)
    job = ExtractionJob(spark, str(tmp_path / "imgq"), n_buckets=4,
                        partitions=4, wave_size=4)
    job.run(pages)
    quar = job.read_quarantine()
    needs = quar.where(quar["error"].contains("needs_ocr")).count()
    assert needs == n_img and n_img > 0


def test_arrow_batches_bounded_by_session_byte_cap(spark):
    """The session (get_spark) caps every engine→Python Arrow batch at 32 MB
    as well as 256 records. Spark closes a batch as soon as it holds the
    cap, so no input batch of the extraction prologue's mapInArrow
    exceeds the cap by more than one row:

    (a) multi-MB payloads totalling several caps in ONE partition arrive
        in several batches, none over cap + one payload;
    (b) the heavy tail: one 2 MB+ payload among ~200 smaller rows that
        fit the cap without it still splits the batch by its real bytes.
    """
    from pdf_extractor_spark.operators.extract import eligible_pages

    cap = int(spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch"))
    assert cap == 32 << 20

    def probe(batches):
        import pyarrow as pa

        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"num_rows": [b.num_rows], "nbytes": [b.nbytes]})

    def batches(pages):
        got = (eligible_pages(pages)
               .mapInArrow(probe, "num_rows long, nbytes long").collect())
        return [(r["num_rows"], r["nbytes"]) for r in got]

    def pages(n, size_expr):
        return spark.range(n, numPartitions=1).select(
            F.concat(F.lit("u://"), F.col("id").cast("string")).alias("url"),
            F.current_timestamp().alias("warc_ts"),
            F.expr(f"repeat('x', {size_expr})").cast("binary").alias("html"),
        )

    # (a) 30 x 4 MB = 120 MB in one partition: > 3 caps
    big = 4 << 20
    got = batches(pages(30, big))
    assert sum(n for n, _ in got) == 30
    assert len(got) >= 4
    assert max(nb for _, nb in got) <= cap + big + (64 << 10)

    # (b) 200 x 160 KB = 31.25 MB fits the cap; one 2.5 MB payload in the
    # middle of the partition takes the total past it
    heavy = (5 << 20) // 2
    got = batches(pages(
        201, f"CASE WHEN id = 100 THEN {heavy} ELSE {160 << 10} END"))
    assert sum(n for n, _ in got) == 201
    assert len(got) >= 2
    assert max(nb for _, nb in got) <= cap + heavy + (64 << 10)
