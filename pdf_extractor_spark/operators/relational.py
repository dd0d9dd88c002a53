"""Relational operators from the reference's read API (SURVEY.md §2c),
re-expressed as single-pass DataFrame plans over the testdata star schema.

Each function mirrors one SQLAlchemy/app-side pattern from
/root/reference/backend/src/main.py and fixes its N+1 / Python-side
aggregation with the equivalent one-pass Spark plan. All aggregates are
aliased to match the DuckDB oracle SQL in __spark_entry__ (driver hash gate).

Scale notes: dimension joins are broadcast (nation/region/supplier are tiny);
fact-fact joins shuffle on their keys with AQE handling skew; windows
partition on the group key only.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-shaped scan+group-by (maps the reference's status-rollup
    read pattern, main.py:925-968, to a columnar aggregate), extended with
    the statistical-profile aggregates (stddev/variance/corr — the former
    standalone q69) so one pass covers both operator families."""
    return (
        lineitem.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.round(F.stddev("l_quantity"), 6).alias("sd_qty"),
            F.round(F.variance("l_extendedprice"), 4).alias("var_price"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def job_quality_rollup(events: DataFrame) -> DataFrame:
    """EP2 analogue (main.py:925-968): per user — count, distinct active
    days, rounded average value. One pass, no N+1."""
    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("total_events"),
            F.count_distinct(F.to_date("ts")).alias("active_days"),
            # floor(x*100+0.5+1e-9)/100 instead of round(): identical double
            # arithmetic in Spark and DuckDB (immune to rounding-mode
            # differences), and the 1e-9 nudge absorbs the ~1e-12 summation-
            # order differences between the engines' avg() at the boundary
            (F.floor(F.avg("value") * 100 + 0.5 + 1e-9) / 100).alias("avg_value"),
        )
        .orderBy("user_id")
    )


def latest_per_user(events: DataFrame) -> DataFrame:
    """Latest event per user (main.py:1282-1318 latest-per-group):
    window row_number over (ts desc, event_id desc) — deterministic ties."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", F.round("value", 6).alias("value"))
        .orderBy("user_id")
    )


def paginated_orders(orders: DataFrame) -> DataFrame:
    """Sorted page read (main.py:581-684): the third page of 10 orders by
    total price, descending. o_orderkey tie-break keeps pagination
    deterministic."""
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice"))
        .offset(20)
        .limit(10)
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """Existence check inverted → anti join (main.py:904-913 semantics)."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


def customers_with_high_value_orders(customer: DataFrame,
                                     orders: DataFrame) -> DataFrame:
    """Existence check → left semi join (main.py:984-1002): customers with
    an order of at least 400,000."""
    big = orders.where(F.col("o_totalprice") >= 400000.0)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy("c_custkey")
    )


def scalar_avg_with_point_lookup(events: DataFrame, user_id: int) -> DataFrame:
    """Scalar avg + point value from one scan (main.py:1353-1386)."""
    return events.agg(
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(
            F.max(F.when(F.col("user_id") == user_id, F.col("value"))), 6
        ).alias("user_max_value"),
        F.count("*").alias("n"),
    )


def revenue_by_region(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                      nation: DataFrame, region: DataFrame) -> DataFrame:
    """TPC-H Q5-shaped join chain: two fact shuffles + broadcast dims,
    exercising Catalyst join reordering at scale."""
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("line_count"),
        )
        .orderBy("r_name")
    )


def event_type_windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-day windows per event type — the batch twin of the
    streaming query (streaming/stream.py); oracle = GROUP BY date_trunc."""
    return (
        events.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def merge_upsert(base: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE INTO emulation (reference feedback upsert, main.py:1124-1159:
    update the row if the key exists, else insert).

    Algebraically: (base ▷ updates) ∪ updates — one anti-join on the key.
    On snapshot storage this is read-modify-overwrite of the matched
    partitions only (sources/table_format.SnapshotTable.overwrite_partitions
    gives the atomic-commit half); with real Iceberg it is MERGE INTO
    verbatim. The anti-join broadcasts when updates are small — the common
    upsert shape — so the base table never shuffles.
    """
    return base.join(updates, keys, "left_anti").unionByName(updates)


def upserted_events(events: DataFrame) -> DataFrame:
    """Deterministic upsert exercise over `events`: every event_id % 10 == 0
    gets value += 100 (update arm); the same rows shifted by +10_000_000 are
    brand-new keys (insert arm). Rows with event_id % 17 == 3 are then
    tombstoned (deleted_at) and the read-side
    scan filters `deleted_at IS NULL` — the reference's soft-delete read
    discipline (main.py:609,626-631) as an oracle-gated query; the storage
    half lives in sources/table_format.SnapshotTable.soft_delete."""
    upd = events.where(F.col("event_id") % 10 == 0).withColumn(
        "value", F.col("value") + 100.0
    )
    ins = upd.withColumn("event_id", F.col("event_id") + 10_000_000)
    merged = merge_upsert(events, upd.unionByName(ins), ["event_id"])
    merged = merged.withColumn(
        "deleted_at",
        F.when(
            F.col("event_id") % 17 == 3,
            F.to_timestamp(F.lit("2024-06-01 00:00:00")),
        ),
    ).where(F.col("deleted_at").isNull())
    return merged.select(
        "event_id", "user_id", F.round("value", 6).alias("value")
    ).orderBy("event_id")


def scalar_functions_showcase(docs: DataFrame, carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Every scalar function family the reference uses (SURVEY.md §2 scalar
    row: strip/join/split/ilike/lower/startswith/regex, round/ceil, base64)
    in one JVM-side projection — zero shuffle, whole-stage codegen.
    carry_cols: pass-through input columns appended to the projection."""
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select(
        "doc_id",
        *carry_cols,
        F.length(norm).alias("norm_len"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
        norm.rlike("data").alias("mentions_data"),
        norm.startswith("the").alias("starts_the"),
        F.concat_ws("|", F.col("lang"), F.col("source")).alias("lang_source"),
        F.ceil(F.col("n_chars") / 100.0).cast("long").alias("len_bucket"),
        F.round(F.col("n_chars") / F.lit(7.0), 4).alias("len_over_7"),
        F.base64(F.encode(F.substring("text", 1, 9), "utf-8")).alias("head_b64"),
    ).orderBy("doc_id")


def revenue_rollup(orders: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """ROLLUP(nation, segment) revenue — subtotals + grand total in one
    pass (partial aggregation map-side; nation broadcast). Group keys are
    coalesced to '(all)' so the oracle needs no NULL-ordering contortions."""
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey).join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    )
    return (
        joined.rollup("n_name", "c_mktsegment")
        .agg(F.count("*").alias("orders"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            F.coalesce("n_name", F.lit("(all)")).alias("n_name"),
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("c_mktsegment"),
            "orders",
            "revenue",
        )
        .orderBy("n_name", "c_mktsegment")
    )


def asof_join_latest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Generic as-of join: for every left row, the latest right row with
    right_ts <= left_ts on the same key. Spark has no ASOF JOIN; the
    range-join formulation explodes (|left|·|right| per key), so this uses
    the union+window plan: tag both sides, sort within key by (ts, side),
    and carry the right side's values forward with last(ignorenulls).
    One shuffle on the key, linear work — survives 100× scale-up where the
    naive theta-join does not.

    Tie-break: a right row at exactly left_ts matches (right sorts before
    left at equal ts); among right ties the one latest in `right_ts`,
    then highest in the first value col, wins deterministically.
    """
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in lcols if c not in (key,)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in (key,)],
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col(f"_r_{value_cols[0]}").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l_tagged.unionByName(r_tagged).select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return carried.where(F.col("_side") == 1).drop(
        "_side", *[f"_r_{c}" for c in value_cols]
    )


def orders_with_latest_event(orders: DataFrame, events: DataFrame) -> DataFrame:
    """As-of exercise: each order picks up the value of its pseudo-user's
    (o_custkey % 150) latest event at or before the order's probe time.
    Order dates (1995-2001) predate the events table (Jan 2024), so the
    probe time is synthesized deterministically inside the events range:
    2024-01-01 + (o_orderkey % 40000) minutes."""
    lo = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 150).alias("user_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=(F.col("o_orderkey") % 40000).cast("int"))
        ).alias("probe_ts"),
    )
    re = events.select("user_id", "ts", "value")
    out = asof_join_latest(lo, re, "user_id", "probe_ts", "ts", ["value"])
    return out.select(
        "o_orderkey",
        F.col("_k").alias("user_id"),
        F.round("asof_value", 6).alias("asof_value"),
    ).orderBy("o_orderkey")


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds 30 minutes. The classic lag → gap-flag →
    running-sum window composition; one shuffle on user_id, both windows
    share the same partitioning so the second is shuffle-free. Emits one
    row per session with bounds and totals."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id", "event_id", "ts", "value",
        F.when(
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
            > 30 * 60,
            1,
        ).otherwise(0).alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            # decimal sum: double summation order is nondeterministic across
            # engines/partitionings; decimal addition is exact and therefore
            # order-independent, so the driver's value hash is stable
            # (CORRECTNESS_r01 q49 was a last-ulp hash mismatch). The final
            # double cast keeps the client dtype float64 on both engines
            # (DuckDB's pandas bridge renders DECIMAL as float64; Spark's
            # renders it as Decimal objects) — decimal→double is one
            # deterministic round-to-nearest, so the value stays bit-stable.
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_id")
    )


def customer_year_cohorts(orders: DataFrame) -> DataFrame:
    """Set-operation parity (UNION/INTERSECT/EXCEPT — beyond-reference §2
    scope note): customers who ordered in both 1995 and 1996, only in 1995,
    only in 1996. Distinct custkey sets are narrow (one column), so the
    intersect/except hash shuffles stay minimal-width; the three cohorts
    union into one tagged output.
    """
    c1 = (
        orders.where(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    )
    c2 = (
        orders.where(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    )
    both = c1.intersect(c2).select("o_custkey", F.lit("both").alias("cohort"))
    only1 = c1.subtract(c2).select("o_custkey", F.lit("only_1995").alias("cohort"))
    only2 = c2.subtract(c1).select("o_custkey", F.lit("only_1996").alias("cohort"))
    return both.unionByName(only1).unionByName(only2).orderBy("o_custkey", "cohort")


def revenue_cube(orders: DataFrame) -> DataFrame:
    """CUBE over (order priority, order year) with grouping_id — the full
    grouping-sets lattice (ROLLUP's big sibling, q32). One shuffle; Spark
    expands the lattice map-side with partial aggregation per grouping set.
    """
    yr = F.year("o_orderdate").alias("yr")
    return (
        orders.select("o_orderpriority", yr, "o_totalprice")
        .cube("o_orderpriority", "yr")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count("*").alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
        .orderBy("gid", "o_orderpriority", "yr")
    )


def order_value_percentiles(orders: DataFrame) -> DataFrame:
    """Exact percentiles (linear interpolation) of order value per priority
    — p50/p90/p99 analytics over the catalog. Spark's `percentile` is the
    exact (sort-based) aggregate, semantics identical to SQL quantile_cont;
    one shuffle keyed by the 5-value priority column."""
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def event_time_heatmap(events: DataFrame) -> DataFrame:
    """Date-dimension rollup: events per (day-of-week, hour) — the
    activity-heatmap query, covering the date/time scalar family
    (dayofweek/hour). One shuffle onto a 7×24-key grid (tiny)."""
    return (
        events.groupBy(
            F.dayofweek("ts").alias("dow"),  # 1=Sunday..7=Saturday
            F.hour("ts").alias("hour"),
        )
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("dow", "hour")
    )


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def user_event_pivot(events: DataFrame) -> DataFrame:
    """PIVOT parity: per-user event counts fanned into one column per event
    type. The pivot values are DECLARED (not discovered) — at scale an
    undeclared pivot triggers an extra distinct-scan job; declaring them
    keeps it one shuffle with map-side partials."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


def pivot_roundtrip(events: DataFrame) -> DataFrame:
    """Declared-value PIVOT then UNPIVOT back to long form in one plan —
    both reshape operators in a single oracle-gated query (the former
    q71+q72). The unpivot of the filled pivot also materializes explicit
    zero rows for absent (user, type) combinations, which the long-form
    oracle reproduces with a cross join + coalesce."""
    wide = user_event_pivot(events)
    return (
        wide.unpivot("user_id", EVENT_TYPES, "event_type", "n")
        .orderBy("user_id", "event_type")
    )


def user_event_windows(events: DataFrame) -> DataFrame:
    """Window-function suite per user over event time: bounded-frame moving
    average + running total (ROWS frames) and ntile(4)/dense_rank ranking by
    value — the former q73+q74 in one shuffle-shared pass (all windows
    partition on user_id, so Spark plans a single exchange)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return events.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w.rowsBetween(-3, 0)), 6).alias("mavg4"),
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .alias("running_total"),
        F.ntile(4).over(wr).alias("value_quartile"),
        F.dense_rank().over(wr).alias("value_rank"),
    ).orderBy("user_id", "event_id")
