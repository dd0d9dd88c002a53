"""Volume smoke for the EIGHT-container OCR tier: 100k pages where the
q37 slot mix routes ~16% of documents through real container encoders —
scanned BMP / PDF / PNG (Adam7) / GIF / TIFF (LZW+predictor) / baseline
JPEG / progressive JPEG / lossless WEBP — then the full extraction
kernel decodes+OCRs them inside the same salted mapInArrow pass as the
HTML pages. Evidence that the codec tier holds up at ~10x the bench
corpus: no OOM, no task death (a single corrupt-stream escape kills a
whole Arrow batch), and every routed page lands as an OCR success.
Run:  python tools/media_smoke.py  [env: SPARK_GRAFT_SMOKE_DOCS]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DOCS = int(os.environ.get("SPARK_GRAFT_SMOKE_DOCS", "100000"))


def main() -> None:
    from pyspark.sql import functions as F

    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.operators.extract import run_extract
    from pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="media-smoke", cores=32,
                      shuffle_partitions=128)
    spark.sparkContext.setLogLevel("ERROR")
    corpus.pages_df_distributed(spark, 3200, seed=1, partitions=128).count()
    pages = corpus.pages_df_distributed(spark, DOCS, seed=7, partitions=128)

    # q37's slot discipline keyed on a url hash (pages carry no doc_id)
    slot = F.pmod(F.crc32(F.col("url")), F.lit(50))

    def render_udf(fn):
        return F.pandas_udf(
            lambda texts: texts.map(
                lambda t: None if t is None else fn(t, width=32)), "binary")

    from pdf_extractor_spark.kernels.gif_kernel import render_text_gif
    from pdf_extractor_spark.kernels.jpeg_kernel import (
        render_text_jpeg, render_text_jpeg_progressive)
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_text_bmp, render_scanned_pdf)
    from pdf_extractor_spark.kernels.png_kernel import render_text_png
    from pdf_extractor_spark.kernels.tiff_kernel import render_text_tiff
    from pdf_extractor_spark.kernels.webp_kernel import render_text_webp

    tiers = {
        25: render_udf(render_text_bmp),
        45: render_udf(lambda t, width: render_scanned_pdf([t], width=width)),
        35: render_udf(lambda t, width: render_text_png(
            t, width=width, interlace=True)),
        5: render_udf(render_text_gif),
        15: render_udf(lambda t, width: render_text_tiff(
            t, width=width, compression=5, predictor=2)),
        20: render_udf(render_text_jpeg),
        10: render_udf(render_text_jpeg_progressive),
        30: render_udf(render_text_webp),
    }
    # font-charset-safe per-page text (digits + uppercase words)
    ocr_src = F.concat(F.lit("PAGE "), F.crc32(F.col("url")).cast("string"),
                       F.lit(" SCANNED CONTAINER OK"))
    html = F.col("html")
    for s, udf in tiers.items():
        html = F.when(slot == s, udf(F.when(slot == s, ocr_src))) \
            .otherwise(html)
    routed = pages.select("url", "warc_ts", html.alias("html"))

    t0 = time.time()
    out = run_extract(routed, num_partitions=128, salt=1)
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(F.col("meta")["ocr"] == "true", 1).otherwise(0))
        .alias("ocr_rows"),
        F.sum(F.when(F.col("meta")["needs_ocr"] == "true", 1).otherwise(0))
        .alias("quarantined"),
    ).first()
    el = time.time() - t0
    expected_ocr_frac = len(tiers) / 50.0
    print(json.dumps({
        "docs": DOCS, "rows_out": int(agg["rows"]),
        "ocr_rows": int(agg["ocr_rows"]),
        "quarantined": int(agg["quarantined"]),
        "expected_ocr_rows_approx": int(DOCS * expected_ocr_frac),
        "elapsed_s": round(el, 1),
        "docs_per_sec": round(DOCS / el, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
