"""End-to-end extraction job: lineage, metrics, quarantine, idempotent resume.

Maps the reference's orchestration semantics (SURVEY.md §2b) onto Spark:

  - fan-out / worker task (tasks.py:154-289)  → one mapInArrow pass per wave
  - completion tracking (file_coordinator.py) → the cumulative ``waves``
    record (each committed wave's buckets, start and finish time) in the
    snapshot manifest of the output table: the single source of truth for
    both the checkpoint and the lineage
  - idempotent retry endpoint (main.py:1695-1786 soft-delete + re-enqueue)
    → resume = anti-join of buckets against manifest-recorded done buckets;
    a bucket is only visible once committed, so re-runs cannot duplicate
  - circuit breaker (tasks.py:126-151, ≥5 consecutive failures)
    → per-wave failure-rate gate between waves, fed by an Observation on
    the wave's append
  - cost/latency accounting (tasks.py:265-282) → per-partition metrics rows

Scale notes (100 TB / 1000 executors): buckets are the checkpoint granule —
set n_buckets so one wave ≈ one cluster-full of work (e.g. 4096 buckets,
wave_size 64). Each wave is ONE append: scan(pruned) → shuffle(hash(url)+salt)
→ kernel → columnar write; no cache, no re-read, no other table. Metrics,
quarantine and lineage are views over ``extracted`` (soft-deleted rows
included, so a delete does not rewrite history) and its manifests; each
(bucket, partition_id) group belongs to exactly one wave. The size cap is
not a pipeline policy: the kernel emits a ``size_cap`` not-ok row for an
over-cap page (operators/extract.py), quarantined like any failed doc.
The SnapshotTable binds 1:1 to Iceberg (append/overwritePartitions).
"""
from __future__ import annotations

import os
import time

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pdf_extractor_spark.operators.extract import run_extract
from pdf_extractor_spark.sources.table_format import SnapshotTable


def _doc_counts() -> list[Column]:
    """Docs, failures and payload bytes of extracted rows; a doc counts
    through its page-1 row. Shared by each wave's Observation and the
    lineage view, so the breaker and lineage count the same thing."""
    first_page = F.col("page_number") == 1
    return [
        F.count_if(first_page).alias("docs"),
        F.count_if(first_page & (F.col("meta")["ok"] == "false"))
        .alias("failures"),
        F.sum(F.when(first_page, F.col("payload_bytes"))).alias("bytes"),
    ]


def _wave_metrics(extracted: DataFrame) -> DataFrame:
    """Per-(bucket, partition) metrics rows (tasks.py:265-282 analogue)
    of extracted rows. Needs the ``bucket`` column ExtractionJob adds; the
    streaming table has no equivalent of it, so it gets no metrics view."""
    # per-url rollup first: elapsed_us is CUMULATIVE since the document
    # start on every page row, so the per-doc total is the MAX, not the
    # sum (summing overcounts an N-page doc ~N/2-fold)
    first_page = F.col("page_number") == 1
    per_url = extracted.groupBy("bucket", "partition_id", "url").agg(
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


def quarantine_rows(extracted: DataFrame) -> DataFrame:
    """Quarantine rows (row-level error contract, tasks.py:112-123;
    FIXTURES.md §3 shape) of any extracted frame — the job's table or the
    streaming sink's: one per failed doc. A doc the size cap stopped is
    stage ``size_cap`` with error ``payload_over_cap:<bytes>``; every
    other failure is stage ``extract``."""
    err = F.coalesce(F.col("meta")["error"], F.lit("unknown"))
    capped = err.startswith("size_cap: ")
    return extracted.where(
        (F.col("meta")["ok"] == "false") & (F.col("page_number") == 1)
    ).select(
        "url",
        F.when(capped, F.lit("size_cap")).otherwise(F.lit("extract"))
        .alias("stage"),
        F.regexp_replace(err, "^size_cap: ", "").alias("error"),
    )


class ExtractionAborted(RuntimeError):
    """Raised when the failure-rate circuit breaker opens (tasks.py:126-151)."""


# Share of a wave's documents that may fail before the circuit breaker
# opens and the job aborts.
FAILURE_RATE_ABORT = 0.5


class ExtractionJob:
    def __init__(
        self,
        spark: SparkSession,
        out_root: str,
        n_buckets: int = 32,
        partitions: int = 32,
        salt: int = 0,
        wave_size: int = 8,
    ) -> None:
        self.spark = spark
        self.out_root = out_root
        self.n_buckets = n_buckets
        self.partitions = partitions
        self.salt = salt
        self.wave_size = wave_size
        self.extracted = SnapshotTable(os.path.join(out_root, "extracted"))

    # -- checkpoint state ----------------------------------------------------
    def _waves(self) -> list[dict]:
        """Committed waves, oldest first, as ``{buckets, started_at,
        finished_at}`` (epoch ms), from the output table's manifest CHAIN
        (authoritative — a bucket is visible iff its data committed).

        Walk parent pointers from CURRENT to the newest commit carrying the
        cumulative ``waves`` record (pipeline appends write it; maintenance
        commits carry it); an entry without ``finished_at`` is the wave
        that commit appended. Appends by other writers and row-PRESERVING
        maintenance commits are walked through; a plain overwrite replaced
        the data, so nothing older counts."""
        by_id = {m["snapshot_id"]: m for m in self.extracted.snapshots()}
        sid = self.extracted._current_id()
        while sid is not None and sid in by_id:
            m = by_id[sid]
            summ = m.get("summary") or {}
            if "waves" in summ:
                return [{"finished_at": m.get("committed_at"), **w}
                        for w in summ["waves"]]
            if not (m["op"] in ("append", "compact", "add_column",
                                "rename_column", "drop_column")
                    or "soft_delete" in summ or "undelete" in summ
                    or "backfill" in summ):
                break  # plain overwrite: data replaced
            sid = m.get("parent_id")
        return []

    def done_buckets(self) -> set[int]:
        """Buckets already committed (see ``_waves``)."""
        return {b for w in self._waves() for b in w["buckets"]}

    def _with_bucket(self, pages: DataFrame) -> DataFrame:
        return pages.withColumn(
            "bucket", F.pmod(F.hash(F.col("url")), F.lit(self.n_buckets))
        )

    # -- main entry ------------------------------------------------------------
    def run(self, pages: DataFrame, max_waves: int | None = None) -> dict:
        """Process all pending buckets in waves; resumable and idempotent.
        Each wave is one ``run_extract`` pass written by one append; the
        job launches no other Spark work, so a run with nothing pending
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
        total = {"docs": 0, "failures": 0, "bytes": 0, "waves": 0, "buckets": 0}
        for wave in waves:
            stats = self._run_wave(pages_b, wave)
            for k in ("docs", "failures", "bytes"):
                total[k] += stats[k]
            total["waves"] += 1
            total["buckets"] += len(wave)
            if stats["docs"] > 0 and (
                stats["failures"] / stats["docs"] > FAILURE_RATE_ABORT
            ):
                raise ExtractionAborted(
                    f"failure rate {stats['failures']}/{stats['docs']} exceeds "
                    f"{FAILURE_RATE_ABORT} — circuit breaker open"
                )
        return total

    def _run_wave(self, pages_b: DataFrame, wave: list[int]) -> dict:
        """Extract and commit one wave in a single append; its totals come
        from an Observation on that write, so nothing is read back. The
        manifest's ``waves`` record gets this wave's start time; its finish
        time is the commit's ``committed_at``."""
        waves = self._waves() + [
            {"buckets": wave, "started_at": int(time.time() * 1000)}]
        out = self._with_bucket(run_extract(
            pages_b.where(F.col("bucket").isin(wave))
            .select("url", "warc_ts", "html"),
            num_partitions=self.partitions,
            salt=self.salt,
        ))
        obs = Observation()
        self.extracted.append(out.observe(obs, *_doc_counts()),
                              summary={"waves": waves})
        # an empty wave observes sum(bytes) = NULL
        return {k: v or 0 for k, v in obs.get.items()}

    # -- reads -----------------------------------------------------------------
    def _view(self, view) -> DataFrame | None:
        ext = self.extracted.read(self.spark, include_deleted=True)
        return None if ext is None else view(ext)

    def read_extracted(self) -> DataFrame | None:
        return self.extracted.read(self.spark)

    def read_metrics(self) -> DataFrame | None:
        return self._view(_wave_metrics)

    def read_quarantine(self) -> DataFrame | None:
        return self._view(quarantine_rows)

    def read_lineage(self) -> DataFrame | None:
        """One row per committed bucket: its wave's start and finish times
        from the manifest chain, its docs, bytes and failures from its rows
        in ``extracted``. A committed wave is ``status='success',
        attempt=1``; a wave that raised committed nothing."""
        waves = self.spark.createDataFrame(
            [(b, w.get("started_at"), w.get("finished_at"))
             for w in self._waves() for b in w["buckets"]],
            "bucket int, started_ms long, finished_ms long")
        return self._view(lambda ext: waves.join(
            ext.groupBy("bucket").agg(*_doc_counts()), "bucket", "left"
        ).select(
            "bucket",
            F.lit("extract").alias("stage"),
            F.lit("success").alias("status"),
            F.timestamp_millis("started_ms").alias("started_at"),
            F.timestamp_millis("finished_ms").alias("finished_at"),
            *(F.coalesce(c, F.lit(0)).cast("long").alias(c)
              for c in ("docs", "bytes", "failures")),
            F.lit(1).alias("attempt"),
        ))
