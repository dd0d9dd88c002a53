"""End-to-end extraction job: lineage, metrics, quarantine, idempotent resume.

Maps the reference's orchestration semantics (SURVEY.md §2b) onto Spark:

  - fan-out / worker task (tasks.py:154-289)  → one mapInArrow pass per wave
  - completion tracking (file_coordinator.py) → bucket list recorded in the
    snapshot manifest of the output table (single source of truth) + a
    lineage table for observability
  - idempotent retry endpoint (main.py:1695-1786 soft-delete + re-enqueue)
    → resume = anti-join of buckets against manifest-recorded done buckets;
    a bucket is only visible once committed, so re-runs cannot duplicate
  - circuit breaker (tasks.py:126-151, ≥5 consecutive failures)
    → per-wave failure-rate gate between waves
  - cost/latency accounting (tasks.py:265-282) → per-partition metrics rows

Scale notes (100 TB / 1000 executors): buckets are the checkpoint granule —
set n_buckets so one wave ≈ one cluster-full of work (e.g. 4096 buckets,
wave_size 64). Each wave is ONE pass: scan(pruned) → shuffle(hash(url)+salt)
→ kernel → columnar write, with no cache and no second read of the source.
Metrics, quarantine and lineage come from a narrow read-back of only the
data dir that wave's append wrote. The size cap is not a pipeline policy:
the kernel pass emits a ``size_cap`` not-ok row for an over-cap page
(operators/extract.py), so it is quarantined like any other failed doc.
The SnapshotTable binds 1:1 to Iceberg (append/overwritePartitions) when
jars are present.
"""
from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extract import run_extract
from pdf_extractor_spark.sources.table_format import SnapshotTable

LINEAGE_DDL = (
    "bucket int, stage string, status string, started_at timestamp, "
    "finished_at timestamp, docs long, bytes long, failures long, attempt int"
)
METRICS_DDL = (
    "bucket int, partition_id int, docs long, pages long, bytes long, "
    "elapsed_ms long, docs_per_sec double, bytes_per_sec double, failure_count long"
)


# Per-page cost model (reference tasks.py:88-104): local library extractors
# are free; hosted services bill per page. The engine's kernels are all
# 'local', so job cost is 0.0 — the model exists for parity and for pricing
# a hypothetical hosted-OCR branch of the needs-OCR quarantine.
PAGE_COST_USD = {
    "local": 0.0,
    "textract": 0.0015,
    "gpt-4o-mini": 0.005,
    "gpt-4o": 0.010,
    "gpt-4-turbo": 0.015,
    "unknown": 0.001,
}


def job_cost_usd(pages: int, extractor: str = "local") -> float:
    """Reference cost accounting: per-page rate × page count
    (tasks.py:88-104; unknown extractors bill at the 'unknown' rate)."""
    return PAGE_COST_USD.get(extractor, PAGE_COST_USD["unknown"]) * pages


def _wave_metrics(wrote: DataFrame) -> DataFrame:
    """Per-(bucket, partition) metrics rows (tasks.py:265-282 analogue)
    of one wave's committed rows."""
    # per-url rollup first: elapsed_us is CUMULATIVE since the document
    # start on every page row, so the per-doc total is the MAX, not the
    # sum (summing overcounts an N-page doc ~N/2-fold)
    first_page = F.col("page_number") == 1
    per_url = wrote.groupBy("bucket", "partition_id", "url").agg(
        F.count("*").alias("pages"),
        F.max(F.when(first_page, F.col("payload_bytes"))).alias("doc_bytes"),
        F.max("elapsed_us").alias("doc_us"),
        F.max(
            F.when((F.col("meta")["ok"] == "false") & first_page, 1)
            .otherwise(0)
        ).alias("doc_fail"),
    )
    elapsed_s = F.col("elapsed_ms") / 1000.0
    return (
        per_url.groupBy("bucket", "partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("pages").alias("pages"),
            F.sum(F.coalesce("doc_bytes", F.lit(0))).alias("bytes"),
            (F.sum("doc_us") / 1000).cast("long").alias("elapsed_ms"),
            F.sum("doc_fail").alias("failure_count"),
        )
        .withColumn("docs_per_sec",
                    F.when(F.col("elapsed_ms") > 0, F.col("docs") / elapsed_s))
        .withColumn("bytes_per_sec",
                    F.when(F.col("elapsed_ms") > 0, F.col("bytes") / elapsed_s))
        .select(
            "bucket", "partition_id", "docs", "pages", "bytes", "elapsed_ms",
            "docs_per_sec", "bytes_per_sec", "failure_count",
        )
    )


def _quarantine_rows(wrote: DataFrame) -> DataFrame:
    """Quarantine rows (row-level error contract, tasks.py:112-123;
    FIXTURES.md §3 shape): one per failed doc. A doc the size cap stopped
    is stage ``size_cap`` with error ``payload_over_cap:<bytes>``; every
    other failure is stage ``extract``."""
    err = F.coalesce(F.col("meta")["error"], F.lit("unknown"))
    capped = err.startswith("size_cap: ")
    return wrote.where(
        (F.col("meta")["ok"] == "false") & (F.col("page_number") == 1)
    ).select(
        "url",
        F.when(capped, F.lit("size_cap")).otherwise(F.lit("extract"))
        .alias("stage"),
        F.regexp_replace(err, "^size_cap: ", "").alias("error"),
    )


class ExtractionAborted(RuntimeError):
    """Raised when the failure-rate circuit breaker opens (tasks.py:126-151)."""


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        out_root: str,
        n_buckets: int = 32,
        partitions: int = 32,
        salt: int = 0,
        wave_size: int = 8,
        failure_rate_abort: float = 0.5,
    ) -> None:
        self.spark = spark
        self.out_root = out_root
        self.n_buckets = n_buckets
        self.partitions = partitions
        self.salt = salt
        self.wave_size = wave_size
        self.failure_rate_abort = failure_rate_abort
        self.extracted = SnapshotTable(os.path.join(out_root, "extracted"))
        self.lineage = SnapshotTable(os.path.join(out_root, "lineage"))
        self.metrics = SnapshotTable(os.path.join(out_root, "metrics"))
        self.quarantine = SnapshotTable(os.path.join(out_root, "quarantine"))

    # -- checkpoint state ----------------------------------------------------
    def done_buckets(self) -> set[int]:
        """Buckets already committed, from the output table's manifest
        CHAIN (authoritative — a bucket is visible iff its data committed).

        Walk parent pointers from CURRENT: a commit carrying the cumulative
        `buckets_done` summary (every pipeline append writes it; compact/
        soft_delete/undelete carry it forward) is self-sufficient — stop
        there. Otherwise union per-append `buckets` and keep walking
        through row-PRESERVING maintenance commits; a plain overwrite
        replaced the data, so older appends no longer count. (The previous
        own-dir∈CURRENT heuristic collapsed to the empty set after any
        compact/soft_delete, making a resumed run() re-extract and
        duplicate every bucket.)"""
        by_id = {m["snapshot_id"]: m for m in self.extracted.snapshots()}
        sid = self.extracted._current_id()
        done: set[int] = set()
        while sid is not None and sid in by_id:
            m = by_id[sid]
            summ = m.get("summary") or {}
            if "buckets_done" in summ:
                done.update(summ["buckets_done"])
                break
            if m["op"] == "append":
                done.update(summ.get("buckets", []))
            elif not (m["op"] in ("compact", "add_column", "rename_column", "drop_column")
                      or "soft_delete" in summ or "undelete" in summ
                      or "backfill" in summ):
                break  # plain overwrite: data replaced
            sid = m.get("parent_id")
        return done

    def _with_bucket(self, pages: DataFrame) -> DataFrame:
        return pages.withColumn(
            "bucket", F.pmod(F.hash(F.col("url")), F.lit(self.n_buckets))
        )

    # -- main entry ------------------------------------------------------------
    def run(self, pages: DataFrame, max_waves: int | None = None) -> dict:
        """Process all pending buckets in waves; resumable and idempotent.
        Each wave is one ``run_extract`` pass; the job launches no other
        Spark work before its first wave, so a run with nothing pending
        reads only the output table's manifests, never the source. Arrow
        batches are bounded by the session's record and byte caps
        (``session.get_spark``)."""
        pages_b = self._with_bucket(pages)
        done = self.done_buckets()
        pending = [b for b in range(self.n_buckets) if b not in done]
        waves = [
            pending[i : i + self.wave_size]
            for i in range(0, len(pending), self.wave_size)
        ]
        if max_waves is not None:
            waves = waves[:max_waves]
        total = {"docs": 0, "failures": 0, "waves": 0, "buckets": 0}
        cum = set(done)
        for wave in waves:
            cum.update(wave)
            stats = self._run_wave(pages_b, wave, sorted(cum))
            total["docs"] += stats["docs"]
            total["failures"] += stats["failures"]
            total["waves"] += 1
            total["buckets"] += len(wave)
            if stats["docs"] > 0 and (
                stats["failures"] / stats["docs"] > self.failure_rate_abort
            ):
                raise ExtractionAborted(
                    f"failure rate {stats['failures']}/{stats['docs']} exceeds "
                    f"{self.failure_rate_abort} — circuit breaker open"
                )
        return total

    def _run_wave(self, pages_b: DataFrame, wave: list[int],
                  buckets_done: list[int]) -> dict:
        import datetime as _dt

        t0 = time.time()
        # bind the wall-clock start as a LITERAL: F.current_timestamp() is
        # evaluated once at query execution, so using it for started_at
        # would record zero wave duration (start == finish == commit time)
        started_at = F.lit(_dt.datetime.now(_dt.timezone.utc)
                           .replace(tzinfo=None))
        out = self._with_bucket(run_extract(
            pages_b.where(F.col("bucket").isin(wave))
            .select("url", "warc_ts", "html"),
            num_partitions=self.partitions,
            salt=self.salt,
        ))
        # commit order: data first (the manifest records the buckets — the
        # checkpoint), then metrics/quarantine/lineage (observability),
        # all derived from a narrow read-back of only what this append
        # wrote: the extraction runs once and nothing is cached
        parent = self.extracted._current_id()
        self.extracted.append(
            out, summary={"buckets": wave, "buckets_done": buckets_done})
        wrote = self.extracted.read_incremental(self.spark, parent).select(
            "url", "bucket", "partition_id", "page_number", "payload_bytes",
            "elapsed_us", "meta")

        mrows = _wave_metrics(wrote).collect()
        docs = sum(r["docs"] for r in mrows)
        failures = sum(r["failure_count"] for r in mrows)
        nbytes = sum(r["bytes"] for r in mrows)
        self.metrics.append(self.spark.createDataFrame(mrows, METRICS_DDL))
        self.quarantine.append(_quarantine_rows(wrote))
        lineage_rows = (
            self.spark.createDataFrame(
                [(b,) for b in wave], "bucket int"
            )
            .withColumn("stage", F.lit("extract"))
            .withColumn("status", F.lit("success"))
            .withColumn("started_at", started_at)
            .withColumn("finished_at", F.current_timestamp())
            .withColumn("docs", F.lit(docs).cast("long"))
            .withColumn("bytes", F.lit(nbytes).cast("long"))
            .withColumn("failures", F.lit(failures).cast("long"))
            .withColumn("attempt", F.lit(1))
        )
        self.lineage.append(lineage_rows)
        return {"docs": docs, "failures": failures, "elapsed_s": time.time() - t0}

    # -- reads -----------------------------------------------------------------
    def read_extracted(self) -> DataFrame | None:
        return self.extracted.read(self.spark)

    def read_metrics(self) -> DataFrame | None:
        return self.metrics.read(self.spark)

    def read_lineage(self) -> DataFrame | None:
        return self.lineage.read(self.spark)

    def read_quarantine(self) -> DataFrame | None:
        return self.quarantine.read(self.spark)
