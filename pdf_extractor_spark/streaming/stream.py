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


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file stream source needs a directory; select the events table via
    # a glob filter over the sf dir
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked tumbling-window counts per event type — late rows beyond
    the watermark are dropped; with availableNow the result equals the batch
    twin (relational.event_type_windowed_counts)."""
    return (
        events.withWatermark("ts", watermark)
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


def dedup_events_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Streaming exact-dedup on event_id with watermarked state expiry —
    the streaming arm of the dedup family (operators/dedup.py): state for
    ids older than the watermark is dropped, so state size is bounded by
    the watermark horizon instead of the full stream history. Core shape of
    a continuous training-data ingest dedup at web scale."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
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


def sliding_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermarked SLIDING-window counts (2-day windows advancing 1 day):
    each event contributes to exactly two overlapping windows. The sliding
    variant of windowed_counts_stream — the shape used for rolling ingest
    dashboards over a continuous training-data feed."""
    return (
        events.withWatermark("ts", watermark)
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


def read_pages_stream(spark: SparkSession, pages_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of Common-Crawl-style pages (the input_hint
    schema) — the streaming ingest shape of a crawler that lands parquet
    segments continuously."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
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
                            checkpoint_dir: str,
                            max_files_per_trigger: int = 1) -> None:
    """End-to-end streaming ingestion: landed page segments → the flagship
    extraction kernel → exactly-once appends into a snapshot table. The
    streaming twin of pipeline.ExtractionJob's wave loop — the checkpoint
    plays the role of done_buckets (source progress) and the batch-id
    summary plays the role of the bucket manifest (sink idempotence).
    Drains everything available, then stops (availableNow)."""
    sdf = extract_pages_stream(
        read_pages_stream(spark, pages_dir, max_files_per_trigger))
    q = (
        sdf.writeStream.foreachBatch(snapshot_table_sink(table))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _watermark(table, cache: dict | None = None, key: str | None = None):
    """Replay watermark for ``table`` (MAX stream_batch_id over the chain),
    memoized per (query, cache-key): the chain walk — O(manifests) file
    reads — runs once per query, then advances in-closure, exactly like
    snapshot_table_sink; within one query this writer is the only source
    of new ids."""
    if cache is not None and key in cache:
        return cache[key]
    last = table.chain_max_summary("stream_batch_id")
    if cache is not None:
        cache[key] = last
    return last


def _append_once(table, df: DataFrame, batch_id: int,
                 cache: dict | None = None, key: str | None = None) -> None:
    """Idempotent per-table append keyed by the stream batch id: each
    table carries its OWN replay watermark, so a crash between the two
    appends of a multi-table sink replays the batch and each table
    independently skips or lands it — no duplicates, no gaps."""
    last = _watermark(table, cache, key)
    if last is not None and batch_id <= last:
        return
    table.append(df, summary={"stream_batch_id": batch_id})
    if cache is not None:
        cache[key] = batch_id


def neardup_stream_to_tables(spark: SparkSession, docs_dir: str,
                             shingle_store, pairs_table,
                             checkpoint_dir: str,
                             sig_store=None,
                             num_perm: int = 64, bands: int = 32,
                             n: int = 3, jaccard_threshold: float = 0.5,
                             max_files_per_trigger: int = 1) -> None:
    """Continuous-crawl near-duplicate detection: landed document segments
    stream in; each micro-batch is (a) deduped AGAINST THE COMMITTED INDEX
    (delta-vs-index — the corpus text is never re-scanned), (b) deduped
    within itself, and then (c) its shingles AND banded signatures are
    appended to the stores so later batches match against them. Pairs land
    in `pairs_table`; every table uses a per-table batch-id watermark
    (_append_once) so a kill/restart at ANY point replays exactly-once.

    `sig_store` (recommended; created under the shingle store's root when
    omitted) holds the corpus's banded signatures: with it, per-batch
    compute is O(|batch|) hashing + one keyed join against the signature
    table — WITHOUT it the corpus's signatures would be re-derived from
    the shingle store every trigger, corpus-sized numpy work per batch.
    The exact-Jaccard verify joins candidate ids back to the shingle
    store. At 10^12 documents the signature table additionally partitions
    on a band_sig prefix so the join prunes to matching buckets.

    The union of intra-batch and delta-vs-index pairs over all batches
    equals the batch operator's pairs on the full corpus (same banding
    geometry, same exact verify; every unordered pair is found exactly
    once — in the batch where its later member arrives). Drains available
    segments, then stops (availableNow); re-run to pick up new segments.
    """
    from pdf_extractor_spark.operators import dedup
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    if sig_store is None:
        sig_store = SnapshotTable(shingle_store.root.rstrip("/") + "_sigs")

    wm: dict = {}  # per-query watermark memo (one chain walk per table)

    def sink(batch_df, batch_id: int) -> None:
        pairs_last = _watermark(pairs_table, wm, "pairs")
        if pairs_last is not None and batch_id <= pairs_last:
            return
        batch_shh = dedup.shingle_hash_arrays(
            batch_df.select("doc_id", "text"), n).localCheckpoint()
        batch_sigs = dedup.minhash_banded_from_hashes(
            batch_shh, num_perm, bands).localCheckpoint()
        # Exclude this batch's own doc_ids from the index view: a crash
        # BETWEEN the store appends and the pairs append replays the batch
        # with its rows already committed to the stores — without the
        # anti-join the delta arm would see each batch doc twice (fanned-out
        # duplicate pairs) and re-find intra-batch pairs through the inter
        # arm in both orientations. The batch id set is tiny → broadcast.
        batch_ids = batch_shh.select("doc_id").distinct()
        base_shh = shingle_store.read(spark)
        if base_shh is not None:
            base_shh = base_shh.join(
                F.broadcast(batch_ids), "doc_id", "left_anti")
        base_sigs = sig_store.read(spark)
        if base_sigs is not None:
            base_sigs = base_sigs.join(
                F.broadcast(batch_ids), "doc_id", "left_anti")
        if base_shh is not None and not wm.get("lag_reconciled"):
            # Signature store may LAG the shingle store — empty (corpus
            # built by the batch path) or partial (batch-path appends
            # between streaming runs). Skipping the delta arm for lagging
            # docs would silently drop every incoming-vs-those-docs pair
            # forever, so reconcile ONCE per query: derive signatures for
            # exactly the corpus docs missing from the signature store and
            # backfill them in their OWN commit (not the batch's
            # watermarked append — a crash-replay whose sig append was
            # already committed would skip it and the lag would persist).
            # Idempotent by re-detection: the next query recomputes the
            # missing set, which is then empty. Later batches in the same
            # query append both stores together, so no new lag arises
            # mid-query (single-writer discipline, as documented).
            lag_shh = base_shh
            if base_sigs is not None:
                lag_shh = base_shh.join(
                    base_sigs.select("doc_id").distinct(),
                    "doc_id", "left_anti")
            lag_sigs = dedup.minhash_banded_from_hashes(
                lag_shh, num_perm, bands).localCheckpoint()
            if not lag_sigs.isEmpty():
                sig_store.append(lag_sigs)
                base_sigs = (lag_sigs if base_sigs is None
                             else base_sigs.unionByName(lag_sigs))
            elif base_sigs is None:
                base_sigs = lag_sigs  # empty frame with the right schema
            wm["lag_reconciled"] = True
        intra = dedup.minhash_pairs_from_hashes(
            batch_shh, num_perm, bands, jaccard_threshold)
        if base_shh is not None:
            inter = dedup.minhash_pairs_delta_vs_index(
                batch_shh, base_sigs, base_shh, num_perm, bands,
                jaccard_threshold, new_banded=batch_sigs)
            pairs = intra.unionByName(inter)
        else:
            pairs = intra
        # index stores FIRST: if we crash after these appends, the replay
        # skips them via each store's own watermark and still lands pairs
        _append_once(shingle_store, batch_shh, batch_id, wm, "shingle")
        _append_once(sig_store, batch_sigs, batch_id, wm, "sig")
        _append_once(pairs_table, pairs, batch_id, wm, "pairs")

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(docs_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_window_stream(events: DataFrame, gap: str = "30 minutes",
                          watermark: str = "1 day") -> DataFrame:
    """Native session windows (Spark's session_window): per-user sessions
    that close after `gap` of inactivity — the built-in complement to the
    custom applyInPandasWithState operator (user_session_totals_stream) and
    the batch sessionize (q49). State is bounded by the watermark horizon."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "sum_value")
    )


def hll_user_registers_stream(events: DataFrame,
                              watermark: str = "1 day") -> DataFrame:
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
        .withWatermark("ts", watermark)
        .select("ts", "event_type", idx.alias("idx"), rank.alias("rank"))
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type", "idx")
        .agg(F.max("rank").alias("m_j"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "idx", "m_j")
    )


def cm_user_cells_stream(events: DataFrame,
                         watermark: str = "1 day") -> DataFrame:
    """Streaming Count-Min cell maintenance: per (tumbling day window) the
    4x1024 cell table counting user_id occurrences — constant state per
    window (<= depth x width rows) however many distinct users flow past,
    and the cells are a LINEAR sketch so late rows within the watermark
    and cross-shard merges fold in by plain addition. With availableNow
    the cells equal the batch build (shared sketch._cm_pos hashing), so
    any key's frequency estimate afterwards is min over its 4 cells.
    Test-demonstrated (not a driver query: the q28 suite schema has no
    cell-grain home); the batch arm lives in q54."""
    from pdf_extractor_spark.operators.sketch import cm_cell_expand

    keyed = cm_cell_expand(
        events.where(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .select("ts", F.col("user_id").cast("string").alias("key")),
        "key", carry=("ts",),
    )
    return (
        keyed.groupBy(F.window("ts", "1 day").alias("w"), "row", "pos")
        .agg(F.count("*").alias("cell_total"))
        .select(F.col("w.start").alias("window_start"), "row", "pos",
                "cell_total")
    )
