"""Structured Streaming operators over the events table.

The reference has no streaming surface (work arrives via HTTP+queue,
SURVEY.md §2 scope note); these operators are the Spark-native replacement
for its queue-drain loop: a file-source stream with watermarked tumbling
windows and a stateful per-user session operator via applyInPandasWithState.

Tests run with trigger(availableNow=True) against the parquet events table,
asserting batch-equivalence to operators/relational.event_type_windowed_counts.
"""
from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

# Lateness the event-time operators tolerate before a row is dropped and
# its state expires.
WATERMARK = "1 day"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file stream source needs a directory; select the events table via
    # a glob filter over the sf dir
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window counts per event type — late rows beyond
    the watermark are dropped; with availableNow the result equals the batch
    twin (relational.event_type_windowed_counts)."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


SESSION_DDL = "user_id long, n_events long, total_value double, max_ts timestamp"


def _session_fn(key, pdfs, state: GroupState):
    """Stateful per-user running aggregate (custom stateful operator shape;
    replaces the reference's Redis per-doc task-set counters,
    file_coordinator.py:18-35)."""
    (user_id,) = key
    n, total, max_ts = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        m = pdf["ts"].max()
        max_ts = m if max_ts is None else max(max_ts, m)
    state.update((n, total, max_ts))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total], "max_ts": [max_ts]}
    )


def user_session_totals_stream(events: DataFrame) -> DataFrame:
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=SESSION_DDL,
            stateStructType="n_events long, total_value double, max_ts timestamp",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events_stream(events: DataFrame) -> DataFrame:
    """Streaming exact-dedup on event_id with watermarked state expiry —
    the streaming arm of the dedup family (operators/dedup.py): state for
    ids older than the watermark is dropped, so state size is bounded by
    the watermark horizon instead of the full stream history. Core shape of
    a continuous training-data ingest dedup at web scale."""
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_to_memory(spark: SparkSession, stream_df: DataFrame, name: str,
                         output_mode: str = "complete") -> DataFrame:
    """Drive a streaming query to completion with availableNow and return the
    materialized result as a batch DataFrame."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def sliding_counts_stream(events: DataFrame) -> DataFrame:
    """Watermarked SLIDING-window counts (2-day windows advancing 1 day):
    each event contributes to exactly two overlapping windows. The sliding
    variant of windowed_counts_stream — the shape used for rolling ingest
    dashboards over a continuous training-data feed."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def enriched_events_stream(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static equi-join: enrich the event stream with the customer
    dimension (user_id = c_custkey). The static side is read fresh per
    micro-batch and broadcast (dimension-sized) — the canonical pattern for
    joining a continuous ingest feed against slowly-changing reference data
    without restarting the query."""
    dim = F.broadcast(
        customer.select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    )
    return events.join(dim, events["user_id"] == dim["c_custkey"], "inner").select(
        "event_id", "user_id", "event_type",
        F.round("value", 4).alias("value"),
        "c_name", "c_nationkey", "c_mktsegment",
    )


# the stream carries the extraction-relevant subset of the canonical pages
# schema (session.PAGES_DDL) — derived, not re-typed, so it cannot drift
from pdf_extractor_spark.session import PAGES_DDL as _FULL_PAGES_DDL

PAGES_DDL = ", ".join(
    c for c in _FULL_PAGES_DDL.split(", ")
    if c.split(" ")[0] in ("url", "warc_ts", "html"))


# Page segment files one micro-batch of the page stream reads.
MAX_FILES_PER_TRIGGER = 1


def read_pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    """File-source stream of Common-Crawl-style pages (the input_hint
    schema) — the streaming ingest shape of a crawler that lands parquet
    segments continuously."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(pages_dir)
    )


def extract_pages_stream(pages: DataFrame) -> DataFrame:
    """Streaming variant of the flagship extraction pass: the SAME prologue
    and Arrow kernel batch function as batch run_extract (no second code
    path — the kernels never know whether the DataFrame is streaming), so
    an over-cap page yields the same ``size_cap`` not-ok row. Applied per
    micro-batch. The batch path's salted repartition is intentionally
    absent: in a stream, micro-batch sizing (maxFilesPerTrigger /
    maxBytesPerTrigger) bounds per-trigger work, and a per-batch shuffle
    would only add latency. Stateless — no watermark needed; append mode."""
    from pdf_extractor_spark.operators.extract import (
        EXTRACTED_SCHEMA, _extract_arrow_batches, eligible_pages,
    )

    src = eligible_pages(pages).withColumn(
        "partition_id", F.spark_partition_id())
    return src.mapInArrow(_extract_arrow_batches, EXTRACTED_SCHEMA)


def snapshot_table_sink(table):
    """foreachBatch sink writing micro-batches into a SnapshotTable with
    EXACTLY-ONCE appends: Structured Streaming replays the in-flight batch
    after a restart, so each append records its batch id and a replayed
    batch id <= the last committed one is skipped — the standard
    idempotent-foreachBatch pattern (and precisely what the Iceberg sink
    does with its commit metadata). Combined with the stream's checkpoint
    (which makes batch contents deterministic per id), a kill/restart
    cannot duplicate or drop rows."""
    # replay watermark = MAX over the CURRENT parent chain, not just the
    # CURRENT manifest: an interleaved commit by another writer (plain
    # append, custom-summary overwrite) does not carry stream_batch_id,
    # and reading only CURRENT would reset the guard to None — letting a
    # restarted stream append its replayed batch twice. Computed ONCE per
    # sink (then advanced in-closure): per-batch chain walks would be
    # O(chain length) manifest reads per micro-batch on a long-lived
    # table; within one query this writer is the only source of new ids.
    state = {"last": None, "init": False}

    def write(batch_df, batch_id: int) -> None:
        if not state["init"]:
            state["last"] = table.chain_max_summary("stream_batch_id")
            state["init"] = True
        if state["last"] is not None and batch_id <= state["last"]:
            return
        table.append(batch_df, summary={"stream_batch_id": batch_id})
        state["last"] = batch_id

    return write


def extract_stream_to_table(spark: SparkSession, pages_dir: str, table,
                            checkpoint_dir: str) -> None:
    """End-to-end streaming ingestion: landed page segments → the flagship
    extraction kernel → exactly-once appends into a snapshot table. The
    streaming twin of pipeline.ExtractionJob's wave loop — the checkpoint
    plays the role of done_buckets (source progress) and the batch-id
    summary plays the role of the bucket manifest (sink idempotence).
    Drains everything available, then stops (availableNow)."""
    sdf = extract_pages_stream(read_pages_stream(spark, pages_dir))
    q = (
        sdf.writeStream.foreachBatch(snapshot_table_sink(table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_window_stream(events: DataFrame) -> DataFrame:
    """Native session windows (Spark's session_window): per-user sessions
    that close after 30 minutes of inactivity — the built-in complement to the
    custom applyInPandasWithState operator (user_session_totals_stream) and
    the batch sessionize (q49). State is bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                 F.col("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "sum_value")
    )


def hll_user_registers_stream(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog register maintenance: distinct-user
    cardinality state per (tumbling day window, event_type) as
    (window_start, event_type, idx, m_j) register rows. The streaming
    state is BOUNDED at windows x types x 256 registers regardless of how
    many distinct users flow past — the whole point of sketching a stream
    (an exact streaming distinct-count would hold every user id in state).
    max(rank) is an algebraic aggregate, so late rows within the watermark
    fold in exactly; with availableNow the registers equal the batch twin
    (operators.sketch.hll_idx_rank is the shared expression pair), so the
    downstream estimate rollup is oracle-checkable."""
    from pdf_extractor_spark.operators.sketch import hll_idx_rank

    idx, rank = hll_idx_rank(F.col("user_id").cast("string"))
    return (
        # NULL user_id carries no element — must not mint a NULL register
        # (mirrors the batch hll_distinct filter exactly)
        events.where(F.col("user_id").isNotNull())
        .withWatermark("ts", WATERMARK)
        .select("ts", "event_type", idx.alias("idx"), rank.alias("rank"))
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", "idx")
        .agg(F.max("rank").alias("m_j"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "idx", "m_j")
    )
