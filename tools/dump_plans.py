"""Regenerate PLANS.md: formatted physical plans + plan-shape rationale for
the scale-critical queries. Run: python tools/dump_plans.py"""
from __future__ import annotations

import contextlib
import io
import sys

import os as _os

_REPO = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

PICKS = {
    "q01_pricing_summary": (
        "Scan→partial agg→1 exchange→final agg; filter and 5-column projection "
        "pushed to parquet."
    ),
    "q02_revenue_by_region": (
        "Fact-fact join shuffles on o_orderkey via AQE; all three dimensions "
        "broadcast — the lineitem side is the only large shuffle."
    ),
    "q46_channel_fanout": (
        "Exactly ONE exchange: the mandated salted hash-repartition on url; "
        "extraction is a narrow mapInArrow after it (column pruning to "
        "url/warc_ts/html); the per-channel fanout is a narrow explode."
    ),
    "q18_neardup_pairs": (
        "MinHash arm: one md5 pass → int64 shingle hashes (persisted, feeds "
        "banding AND verify) → numpy banding → ONE exchange into the "
        "(band, band_sig) groupBy → in-bucket pair explode → exact verify "
        "over int64 arrays; no cross join, no string shuffles anywhere. "
        "The exact n-gram arm is the small-side ground-truth union branch. "
        "The prefix-filter arm indexes only df-ordered prefixes (posting "
        "explode ~halves), prunes with the PPJoin positional bound in the "
        "same groupBy that replaces distinct, and re-verifies survivors "
        "with the batched int64-key intersect kernel — lossless at any "
        "skew, no LSH miss probability."
    ),
    "q12_doc_metrics": (
        "ONE fused Arrow kernel emits every per-doc text metric from a single "
        "normalize/tokenize pass; split/sample assignment are JVM projections "
        "on the same rows — one scan, zero joins inside the metrics core "
        "(the naive 6-way join composition measured 2.3× slower). The "
        "url-gate, robots and page-metadata arms are narrow per-doc "
        "projections (the metadata harvest is pure scan-stage regexp/JSON "
        "expressions, zero Python) equi-joined back on doc_id."
    ),
    "q22_ann_topk": (
        "Four ANN variants share one embeddings scan pattern: assignment is "
        "one n×k BLAS matmul per Arrow batch, probe cells broadcast (query "
        "set is tiny by contract), exact re-rank only within probed cells. "
        "The kNN-graph arm is one sketch pass → ONE shuffle on bucket → "
        "per-bucket BLAS gram + in-kernel top-k (no window shuffle). "
        "Union is a barrier-free unionByName of independent subplans."
    ),
    "q52_tfidf_topk": (
        "Tokenize+tf once (persisted — without it Catalyst re-explodes the "
        "corpus for the df branch); vocabulary-sized df aggregate broadcasts "
        "back; WindowGroupLimit prunes to top-k before the final window sort."
    ),
    "q55_decontaminate": (
        "Benchmark gram set is eval-suite-sized → broadcast into the training "
        "gram stream; per-doc overlap agg; final left join back to docs also "
        "broadcast (overlap table ≈ contaminated docs only)."
    ),
    "q21_embedding_neardup": (
        "Banded arm: one Arrow sign-sketch pass → ONE exchange into the "
        "(band, band_sig) groupBy → in-bucket pair explode → two narrow "
        "joins fetch vectors → exact JVM-fold cosine on candidates only. "
        "SemDeDup arm: k-means centroids (k scales with corpus size) "
        "broadcast into one Arrow assignment pass → ONE exchange on cell "
        "(each vector ships once — no pair-join) → per-cell BLAS gram "
        "matrix emits only threshold survivors; per-cell work bounded by "
        "cell_target. Image/audio arms: one mapInPandas fingerprint pass "
        "each → 4-way band explode → keyed (band, band_val) equi-join "
        "(pigeonhole recall at hamming<=3) → bit_count verify on "
        "candidates only. No O(n²) stage anywhere (the blocked all-pairs "
        "matmul is now test-only ground truth)."
    ),
    "q33_asof_order_events": (
        "Tagged union → single exchange on user_id → window carry-forward; linear "
        "in |orders|+|events| (no range-join row explosion)."
    ),
    "q63_embedding_covariance": (
        "Each partition emits ONE d×d BLAS partial (triangle rows) — the "
        "single exchange carries O(partitions · d²) rows regardless of "
        "corpus size; partials combine through exact decimal casts "
        "(order-independent, run-deterministic 6dp output)."
    ),
    "q66_pca_project": (
        "Covariance plan above collapses to a driver-side d×d eigh (d² "
        "doubles); the projection itself is a NARROW Arrow matmul over the "
        "scan — the only exchanges are the covariance/mean aggregates, both "
        "O(d²)/O(d) in shuffle volume at any corpus size."
    ),
    "q39_line_freq_dedup": (
        "ExactSubstr token arm: k-token window hashes are a narrow "
        "transform(sequence) explode (no suffix array, no cross join); ONE "
        "exchange aggregates corpus window frequency on the 16-byte hash; "
        "the duplicated-window set is heavy-tail-small so the semi-join "
        "back broadcasts; reassembly shuffles once on doc_id — same shape "
        "as the line-frequency arm it unions with. Site-template arm "
        "(round 3): per-(host, line-hash) df aggregate joined to "
        "BROADCAST per-host doc counts, template set broadcasts into the "
        "anti-join — plan-audited 3 BroadcastHashJoin / 0 SortMergeJoin. "
        "Char-level arm (round 5): window hashing is an Arrow kernel "
        "(chunk-bounded yields); the shuffle carries DUPLICATED windows "
        "only, merged to removal intervals via gaps-and-islands, rebuild "
        "is a per-doc fold — never one row per character."
    ),
    "q26_extract_pdf": (
        "Writer stage is a narrow mapInPandas over the documents scan (one "
        "builder per row, layout picked by doc_id%9); then the mandated "
        "salted hash-repartition on url is the ONLY exchange before the "
        "mapInArrow kernel pass (no trailing sort: its range sampler "
        "re-ran the whole pipeline). "
        "Kernel CPU is bounded per doc: the RC4/AES key-derivation chains "
        "(Algorithms 2/3/5, the 20-round RC4 validation) and the FIPS-197 "
        "key schedule are memoized per worker — a dedup-heavy corpus "
        "repeats (O, P, ID) tuples constantly, so warm per-doc cost is "
        "~0.5 ms across the 9-layout rotation (was 2.3 ms; 41% of it was "
        "repeated derivation RC4). AES-CBC decrypt itself is the "
        "numpy-vectorized block-parallel path (P_i = D(C_i) XOR C_{i-1})."
    ),
    "q53_source_rollup": (
        "Four Common-Crawl artifact round-trips (WARC segments written "
        "per-partition then re-read one-file-one-task; WET; WAT; CDXJ "
        "index over the same segments) feed per-host rollups whose "
        "checksums aggregate at plan-build into literal frames, so the "
        "temp segments free immediately. PageRank AND HITS run as "
        "integer fixed-points with localCheckpoint per half-iteration "
        "(a lazily composed plan grows ~4^iters); no scan in the "
        "iterative parts is wider than (url, md5/host). Sitemap/robots "
        "joins broadcast (per-host rule tables are tiny); HLL "
        "distinct-per-host keeps register state bounded at 256 ints/host."
    ),
    "q47_chunk_documents": (
        "Chunking is a narrow per-doc explode; packing's global token "
        "offset is a bucketed two-level prefix sum — per-bucket subtotals, "
        "cumulative offsets over the tiny subtotal table broadcast back, "
        "in-bucket window — so the plan's only SinglePartition exchange "
        "holds corpus/1024 rows. BPE arm: capped-vocab learn collects the "
        "top-N vocabulary ONCE (vocab-bounded, not corpus-bounded); encode "
        "is one Arrow pass with the word→ids map in the closure."
    ),
    "q62_training_mix": (
        "Perplexity branch: bigram/context LM counts are two hash "
        "aggregates; doc-gram scoring joins them on the gram key (broadcast "
        "in production — the LM corpus is curated and small); per-doc "
        "log-prob sums are exact decimals (order-independent), tercile "
        "assignment is a per-language ntile window. Gopher gate and "
        "stratified sample stay narrow; one final (lang, bucket) rollup. "
        "DSIR branch: both bucket distributions collapse to 1024 rows and "
        "broadcast back onto the gram stream. Classifier branch: the only "
        "corpus-sized state is the persisted (doc_id, bucket, x) feature "
        "table; each Adagrad iteration is a broadcast join of the 261-row "
        "weight table + two decimal aggregates, and only 261 doubles cross "
        "the driver per iteration."
    ),
}

HEADER = """# PLANS — physical-plan audit of the scale-critical queries

`df.explain(\"formatted\")` dumps (sf0.01, local[8], AQE on) with the plan-shape
rationale per query. Regenerate with `python tools/dump_plans.py`.
The invariants asserted here (one exchange per logical step, broadcast
dimensions, pushdown reaching the scan, no nested-loop joins in hot paths)
are what make these plans survive a 100× scale-up.
"""


def _check_bench_coverage(threshold_sec: float = 3.0) -> None:
    """Fail if any driver-contract query at or above `threshold_sec` in the
    LATEST recorded BENCH_r{N}.json lacks a PLANS.md section (round-4
    verdict item 2: the plan audit must cover the top of the bench table).
    `extract_corpus` is bench-internal (not a queries() entry) and exempt."""
    import glob
    import json
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prevs = sorted(
        glob.glob(os.path.join(repo, "BENCH_r*.json")),
        # basename, NOT the full path: a checkout under a directory whose
        # name contains r<digit> would otherwise poison every sort key
        key=lambda p: int(
            re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not prevs:
        return
    with open(prevs[-1]) as fh:
        bench = json.load(fh)
    bench = bench.get("parsed", bench)  # driver wraps under "parsed"
    slow = {
        q for q, sec in bench.get("queries", {}).items()
        if sec >= threshold_sec and q != "extract_corpus"
    }
    missing = sorted(slow - set(PICKS))
    if missing:
        raise SystemExit(
            f"PLANS.md coverage gap: queries >= {threshold_sec}s in "
            f"{prevs[-1]} without a PICKS section: {missing}"
        )


def main() -> None:
    from pyspark.sql import SparkSession

    _check_bench_coverage()

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    with open(_os.path.join(_REPO, "PLANS.md"), "w") as out:
        out.write(HEADER)
        for name, note in PICKS.items():
            df = qs[name](spark, "/root/testdata/sf0.01")
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            head = buf.getvalue().split("\n\n")[0]
            out.write(f"\n## {name}\n\n{note}\n\n```\n{head}\n```\n")
    spark.stop()


if __name__ == "__main__":
    main()
