"""Large-scale extraction smoke: 500k docs (~630 MB of payloads) streamed
uncached through generation → salted shuffle → Arrow kernels → count, at 128
partitions. Evidence that partition sizing holds memory bounded (no OOM, no
spill storm) when the input is ~10× the bench corpus. Run:
  python tools/large_smoke.py
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pdf_extractor_spark import corpus
    from pdf_extractor_spark.operators.extract import run_extract
    from pdf_extractor_spark.session import get_spark

    spark = get_spark(app_name="large-smoke", cores=32, shuffle_partitions=128)
    spark.sparkContext.setLogLevel("ERROR")
    # warm the Python workers (module import on each worker's first task is
    # ~12 s fleet-wide at 32 cores and amortizes to zero on a real job) —
    # the same steady-state protocol bench.py uses
    corpus.pages_df_distributed(spark, 3200, seed=1, partitions=128).count()
    pages = corpus.pages_df_distributed(spark, 500000, seed=42, partitions=128)
    t0 = time.time()
    out = run_extract(pages.select("url", "warc_ts", "html"), num_partitions=128, salt=1)
    n = out.count()
    el = time.time() - t0
    print(json.dumps({"docs": 500000, "rows_out": n, "elapsed_s": round(el, 1),
                      "docs_per_sec": round(500000 / el, 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
