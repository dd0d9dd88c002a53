"""spark-submit entrypoint for the extraction pipeline (north_rule).

Usage (cluster):
    zip -r engine.zip pdf_extractor_spark
    spark-submit --py-files engine.zip pdf_extractor_spark/job.py \
        --input /data/pages_parquet --output /data/extracted \
        --n-buckets 4096 --partitions 8192 --wave-size 64 --salt 17

Local smoke:
    python -m pdf_extractor_spark.job --generate 5000 --output /tmp/out

The job is idempotent: re-running with the same --output resumes from the
output table's manifest chain (pipeline.ExtractionJob.done_buckets) and
only processes pending buckets.
"""
from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="PySpark web-text extraction job")
    p.add_argument("--input", help="pages table path (parquet/orc/json/csv)")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "orc", "json", "csv"])
    p.add_argument("--generate", type=int, default=0,
                   help="instead of --input: synthesize N corpus docs (smoke)")
    p.add_argument("--output", required=True, help="output table root")
    p.add_argument("--n-buckets", type=int, default=64,
                   help="checkpoint granularity (lineage buckets)")
    p.add_argument("--partitions", type=int, default=0,
                   help="shuffle partitions for the extract pass (0 = 2×cores)")
    p.add_argument("--wave-size", type=int, default=8,
                   help="buckets committed per wave")
    p.add_argument("--salt", type=int, default=0, help="repartition salt")
    p.add_argument("--max-waves", type=int, default=None)
    p.add_argument("--cores", default=None,
                   help="local[N] cores (local mode only; see --cluster)")
    p.add_argument("--cluster", action="store_true",
                   help="defer to the spark-submit --master instead of "
                        "forcing local[] (sets SPARK_GRAFT_MASTER=external)")
    p.add_argument("--stream", action="store_true",
                   help="continuous-ingest mode: readStream over --input "
                        "(landed parquet segments), the same extraction "
                        "kernel per micro-batch, exactly-once appends into "
                        "the output snapshot table; drains what is "
                        "available, then exits (availableNow) — re-run to "
                        "pick up newly landed segments from the checkpoint")
    p.add_argument("--checkpoint", default=None,
                   help="stream checkpoint dir (default <output>/_checkpoint)")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if bool(args.input) == bool(args.generate):
        # both set would SILENTLY extract synthetic docs into the real
        # output table's manifest chain (resume then skips those buckets
        # of the real input forever); neither set has nothing to do
        print("exactly one of --input / --generate is required",
              file=sys.stderr)
        return 2
    if args.stream and (not args.input or args.input_format != "parquet"):
        # validate BEFORE get_spark(): the later early-exit would leak an
        # owned SparkSession for in-process callers
        print("--stream requires --input with parquet segments",
              file=sys.stderr)
        return 2
    if args.cluster:
        import os

        os.environ["SPARK_GRAFT_MASTER"] = "external"

    from pyspark.sql import SparkSession

    from pdf_extractor_spark.pipeline import ExtractionJob, quarantine_rows
    from pdf_extractor_spark.session import get_spark
    from pdf_extractor_spark.sources import io as pio

    # ownership must consult the process-global instantiated session too:
    # getActiveSession() is thread-local, and stopping a session this call
    # merely JOINED (getOrCreate) would kill an in-process caller's session
    pre = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None)
    owns_session = pre is None
    spark = get_spark(app_name="pdfx-extract", cores=args.cores)
    spark.sparkContext.setLogLevel("WARN")
    partitions = args.partitions or 2 * (
        spark.sparkContext.defaultParallelism or 8
    )
    if args.stream:
        import os as _os

        from pdf_extractor_spark.sources.table_format import SnapshotTable
        from pdf_extractor_spark.streaming.stream import (
            extract_stream_to_table,
        )

        table = SnapshotTable(_os.path.join(args.output, "extracted"))
        ckpt = args.checkpoint or _os.path.join(args.output, "_checkpoint")
        extract_stream_to_table(spark, args.input, table, ckpt)
        out = table.read(spark)
        print(json.dumps({
            "output": args.output, "mode": "stream",
            "rows": out.count() if out is not None else 0,
            "quarantined": (quarantine_rows(out).count()
                            if out is not None else 0)}))
        if owns_session:
            spark.stop()
        return 0

    if args.generate:
        from pdf_extractor_spark import corpus

        pages = corpus.pages_df_distributed(
            spark, args.generate, seed=42, partitions=min(partitions, 64)
        ).persist()  # each wave scans its source once — without this
        # the whole corpus regenerates n_buckets/wave_size times
    else:
        pages = pio.read_pages(spark, args.input, fmt=args.input_format)

    job = ExtractionJob(
        spark,
        args.output,
        n_buckets=args.n_buckets,
        partitions=partitions,
        salt=args.salt,
        wave_size=args.wave_size,
    )
    try:
        totals = job.run(pages.select("url", "warc_ts", "html"),
                         max_waves=args.max_waves)
    finally:
        pages.unpersist()  # a generated corpus stays cached otherwise
    print(json.dumps({"output": args.output, **totals}))
    if owns_session:  # don't stop a session we merely joined (in-process callers)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
