"""Skew benchmark for run_extract (round-2 verdict item 6): a pathological
corpus — one host carrying 50% of all documents, plus a handful of big
payloads — measured through the extraction pass under each mitigation, to
justify the salted url-hash partitioning documented at
operators/extract.py. Big in-cap payloads need no separate pass: the
session's Arrow byte cap (session.get_spark) bounds every batch they ride in.

Arms:
  host_partitioned : repartition on HOST (the naive politeness layout) —
                     half the corpus lands in one task.
  salted (default) : salted_repartition on hash(url)+salt.
  big+salted       : 8 big (~4 MB) payloads added — the stragglers ride
                     inside normal partitions.

Usage: python tools/skew_bench.py      # prints one JSON line
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pdf_extractor_spark import corpus  # noqa: E402
from pdf_extractor_spark.operators.extract import (  # noqa: E402
    EXTRACTED_SCHEMA, _extract_arrow_batches, eligible_pages, run_extract,
)
from pdf_extractor_spark.session import get_spark  # noqa: E402

N_DOCS = int(os.environ.get("SPARK_GRAFT_SKEW_DOCS", "24000"))
N_BIG = 8
BIG_MB = 4
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.time()
    fn()
    return round(time.time() - t0, 2)


def main() -> None:
    spark = get_spark(app_name="skew-bench", cores=CPUS,
                      shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    pages = corpus.pages_df_distributed(spark, N_DOCS, seed=7,
                                        partitions=CPUS)
    # one host = 50% of docs: even doc index -> megahost.example
    skewed = pages.select(
        F.when(
            F.monotonically_increasing_id() % 2 == 0,
            F.concat(F.lit("https://megahost.example/p/"),
                     F.md5("url")),
        ).otherwise(F.col("url")).alias("url"),
        "warc_ts", "html",
    ).persist()
    skewed.count()

    # near-cap payloads: N_BIG documents of ~BIG_MB MB of real parseable
    # HTML paragraphs (deterministic), urls on the mega host
    para = ("<p>" + "straggler payload sentence with many words " * 40
            + "</p>")
    reps = (BIG_MB * 1024 * 1024) // len(para)
    big_html = ("<html><body>" + para * reps + "</body></html>").encode()
    big = spark.createDataFrame(
        [(f"https://megahost.example/big/{i}", big_html)
         for i in range(N_BIG)],
        "url string, html binary",
    ).select("url", F.to_timestamp(F.lit("2024-01-01")).alias("warc_ts"),
             "html")
    with_big = skewed.unionByName(big).persist()
    with_big.count()

    out: dict = {"n_docs": N_DOCS, "n_big": N_BIG, "big_mb": BIG_MB,
                 "cpus": CPUS, "arms": {}}

    # arm 1: naive host partitioning (what salting protects against)
    host = F.regexp_extract("url", r"https?://([^/]+)/", 1)
    naive = (
        eligible_pages(skewed)
        .repartition(2 * CPUS, host)
        .withColumn("partition_id", F.spark_partition_id())
        .mapInArrow(_extract_arrow_batches, EXTRACTED_SCHEMA)
    )
    out["arms"]["host_partitioned"] = {
        "wall_s": timed(lambda: force(naive)),
        "max_partition_docs": naive.groupBy("partition_id").count()
        .agg(F.max("count")).first()[0],
    }

    # arm 2: the default salted url-hash layout, same corpus
    out["arms"]["salted"] = {
        "wall_s": timed(lambda: force(
            run_extract(skewed, num_partitions=2 * CPUS, salt=1))),
    }

    # arm 3: big payloads (stragglers inside the wave)
    out["arms"]["big_salted"] = {
        "wall_s": timed(lambda: force(
            run_extract(with_big, num_partitions=2 * CPUS, salt=1))),
    }

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
