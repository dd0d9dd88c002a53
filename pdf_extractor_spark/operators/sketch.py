"""Probabilistic sketch operators: HyperLogLog cardinality and Count-Min
frequency — the constant-memory summaries a 100 TB corpus-statistics job
computes where exact state would not fit (distinct-URL/text counts per host,
heavy-hitter vocabulary without materializing the full term dictionary).

Reference analogue: the reference keeps exact per-user/job COUNT rollups in
Postgres (main.py:925-968) — fine at service scale, impossible at corpus
scale. These operators are the scale path: register/cell state is O(m) per
group regardless of input size, built in ONE shuffle with map-side partial
aggregation (max/sum are algebraic aggregates, so partials combine).

Everything here is deterministic and engine-portable by construction, so the
DuckDB oracle recomputes the sketches EXACTLY rather than asserting error
bounds:
- the hash is md5 → first 15 hex chars → int64, the repo's established
  portable idiom (Spark `conv(substring(md5(x),1,15),16,10)` ==
  DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`);
- HLL's Z = sum(2^-M_j) is computed as the INTEGER sum(2^(53-M_j)) — each
  term a power of two <= 2^53, total <= m * 2^53 = 2^61 < 2^63 — so the
  register combine is exact in int64 with no float-summation-order hazard;
  the only float ops are one literal/int division (IEEE-deterministic) and,
  on the linear-counting branch, one ln() (the same 1-ulp-then-round(6)
  knife-edge class the green TF-IDF/BM25 queries carry).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---- HyperLogLog (Flajolet et al. 2007), m = 256 registers (b = 8) ----
HLL_M = 256
# the md5-prefix hash is 60 bits; 8 index bits leave a 52-bit pattern word,
# so ranks lie in [1, 53] (rank 53 = pattern word is all zeros)
_W_BITS = 52
# alpha_256 * m^2 * 2^53, precomputed so the estimate is ONE division; the
# identical literal is pasted into the SQL twin (hll_oracle_sql below)
HLL_EST_NUM = 4.2399330249068963e+20
# small-range (linear counting) threshold: 2.5 * m
HLL_SMALL = 640.0


def _hash60(col: Column) -> Column:
    """Portable 60-bit hash: md5 hex prefix as int64 (>= 0)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_idx_rank(key: Column) -> tuple[Column, Column]:
    """(register index, rank) column pair for a key expression — shared by
    the batch operator and the streaming register aggregation so both
    maintain bit-identical register state. rank = leading zeros of the
    52-bit pattern word + 1 = 53 - bit_length(h >> 8); ltrim('0', bin(x))
    gives bit_length uniformly (bin(0)='0' -> '' -> length 0 -> rank 53).
    h >> 8 (not `/ 256`): Column `/` is DOUBLE division and h has 60 bits
    (> 2^53), so float division would corrupt low bits of the word."""
    h = _hash60(key)
    idx = (h % HLL_M).cast("int")
    rank = F.lit(_W_BITS + 1) - F.length(
        F.ltrim(F.bin(F.shiftright(h, 8)), F.lit("0")))
    return idx, rank


def hll_est_expr(dp: int = 6) -> Column:
    """The HLL estimator (one division of the integer register sum, with
    the linear-counting small-range branch) over columns `hll_nonzero` and
    `hll_sum_int`, rounded to `dp` decimals — THE single source of the
    formula; every consumer (batch rollup, streaming arm) derives from it
    so the two cannot drift."""
    v = F.lit(HLL_M) - F.col("hll_nonzero")
    raw = F.lit(HLL_EST_NUM) / F.col("hll_sum_int")
    linear = F.round(
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
        dp,
    )
    return F.when((raw <= HLL_SMALL) & (v > 0), linear).otherwise(
        F.round(raw, dp))


def hll_rollup(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Registers (group_cols..., idx, m_j) → (group_cols..., hll_nonzero,
    hll_sum_int, hll_est): the integer-exact register combine and the
    one-division estimate with linear-counting small-range correction."""
    two53 = F.lit(2 ** 53).cast("long")
    per = regs.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("hll_nonzero"),
        F.sum(F.expr("shiftleft(1L, 53 - m_j)")).alias("sum_present"),
    )
    v = F.lit(HLL_M) - F.col("hll_nonzero")
    return per.select(
        *group_cols,
        "hll_nonzero",
        (F.col("sum_present") + v.cast("long") * two53).alias("hll_sum_int"),
    ).select(
        *group_cols,
        "hll_nonzero",
        "hll_sum_int",
        # decimal quantize then back to double: the q16 driver-gate pattern
        # — both pandas bridges (Spark: Decimal objects; DuckDB: float64)
        # then deliver bit-identical float64 of the same exact 6dp value
        hll_est_expr(6)
        .cast("decimal(28,6)")
        .cast("double")
        .alias("hll_est"),
    )


def hll_distinct(df: DataFrame, key_col: str, group_col: str) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate of `key_col`.

    Returns (group_col, hll_nonzero int, hll_sum_int long, hll_est double
    — quantized through decimal(28,6) then bridged back to double so both
    engines' pandas clients see bit-identical float64). hll_nonzero and
    hll_sum_int pin the exact integer register state; hll_est is the
    standard HLL estimator with the linear-counting small-range
    correction.

    Plan at 100 TB: one narrow projection (hash/idx/rank are JVM
    expressions) → groupBy(group, idx) max — map-side combine collapses
    each partition to <= m rows per group before the ONLY data-sized
    shuffle → a group-cardinality-sized register aggregate. No Python, no
    second pass over the input, register state bounded at m rows/group.
    """
    idx, rank = hll_idx_rank(F.col(key_col))
    regs = (
        # a NULL key carries no element — it must not mint a NULL register
        # (count(*) in the rollup would count it); the twin filters too
        df.where(F.col(key_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            idx.alias("idx"),
            rank.alias("rank"),
        )
        .groupBy("grp", "idx")
        .agg(F.max("rank").alias("m_j"))
    )
    return hll_rollup(regs, ["grp"]).withColumnRenamed("grp", group_col)


def hll_oracle_sql(table_expr: str, key_sql: str, group_sql: str) -> str:
    """DuckDB CTE body recomputing hll_distinct exactly. Returns a
    SELECT (group, hll_nonzero, hll_sum_int, hll_est) statement fragment;
    `table_expr` is the FROM source. `key_sql`/`group_sql` must be BARE
    column names (they are re-selected across subquery levels and used as
    an output alias — a computed expression would not parse)."""
    return f"""
        SELECT grp AS {group_sql},
               hll_nonzero::INT AS hll_nonzero,
               hll_sum_int::BIGINT AS hll_sum_int,
               CAST(CAST(CASE
                    WHEN ({HLL_EST_NUM!r} / hll_sum_int) <= {HLL_SMALL!r}
                          AND ({HLL_M} - hll_nonzero) > 0
                    THEN round({float(HLL_M)!r} * ln({float(HLL_M)!r} /
                         ({HLL_M} - hll_nonzero)), 6)
                    ELSE round({HLL_EST_NUM!r} / hll_sum_int, 6)
               END AS DECIMAL(28,6)) AS DOUBLE) AS hll_est
        FROM (
          SELECT grp, count(*) AS hll_nonzero,
                 sum(1::BIGINT << (53 - m_j))::BIGINT
                   + ({HLL_M} - count(*)) * (1::BIGINT << 53) AS hll_sum_int
          FROM (
            SELECT grp, idx, max(rank) AS m_j
            FROM (
              SELECT {group_sql} AS grp,
                     h % {HLL_M} AS idx,
                     53 - length(ltrim(bin(h // {HLL_M}), '0')) AS rank
              FROM (SELECT {group_sql}, {key_sql},
                           ('0x' || substr(md5({key_sql}), 1, 15))::BIGINT AS h
                    FROM {table_expr}
                    WHERE {key_sql} IS NOT NULL)
            ) GROUP BY grp, idx
          ) GROUP BY grp
        )
    """


# ---- Count-Min sketch (Cormode & Muthukrishnan 2005), d x w cells ----
CM_DEPTH = 4
CM_WIDTH = 1024


def _cm_pos(word: Column, row: Column) -> Column:
    """Cell column for `word` under hash row `row` (md5-portable)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(word, F.lit("#cm"), row.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % CM_WIDTH
    )


def cm_cell_expand(df: DataFrame, key_col: str,
                   carry: tuple[str, ...] = ()) -> DataFrame:
    """The Count-Min cell expansion: one row per (input row x depth) with
    the md5 cell position — (carry..., cm_key, row, pos)."""
    rows = F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))
    out = df.select(
        *carry, F.col(key_col).alias("cm_key"), F.explode(rows).alias("row"))
    return out.withColumn("pos", _cm_pos(F.col("cm_key"), F.col("row")))


# Heavy hitters countmin_topk keeps.
CM_TOP_K = 20


def countmin_topk(words: DataFrame) -> DataFrame:
    """Count-Min heavy hitters over a (word, freq) vocabulary table:
    build the d x w cell table, then score every word as
    min_i cells[i][pos_i(word)] and keep the top CM_TOP_K by (estimate DESC,
    word ASC). Returns (gram, cnt, rank) where cnt is the CM ESTIMATE
    (>= true frequency; over-counts come only from deterministic md5
    cell collisions, so the oracle reproduces them bit-exactly).

    Plan at 100 TB: the corpus has already collapsed to the vocab-sized
    (word, freq) table (one aggregate, the same table BPE learning uses),
    so the sketch build explodes vocab x d rows into <= d*w = 4096 cells
    (map-side combine bounds per-partition state at 4096). Scoring
    broadcasts the 4096-cell table back against vocab x d — no
    corpus-sized shuffle anywhere, and the cell table IS the
    constant-memory summary a streaming ingest would maintain.
    """
    # localCheckpoint: wr feeds BOTH the cell aggregate and the scoring
    # join — without it the vocab explode and 4 md5 hashes per word run
    # twice (and the upstream vocab aggregate with them when the caller
    # didn't persist). Eager, bounded at vocab x 4 narrow rows; the
    # checkpoint RDD is reclaimed by the ContextCleaner once the returned
    # frame is unreferenced (callers should NOT stack another checkpoint
    # on the result)
    wr = (
        cm_cell_expand(words, "word", carry=("freq",))
        .withColumnRenamed("cm_key", "word")
        .localCheckpoint()
    )
    cells = wr.groupBy("row", "pos").agg(F.sum("freq").alias("cell_total"))
    est = (
        wr.join(F.broadcast(cells), ["row", "pos"])
        .groupBy("word")
        .agg(F.min("cell_total").alias("est"))
    )
    from pyspark.sql.window import Window

    # TakeOrderedAndProject first (per-partition heaps, no global window
    # over the vocab-sized estimate table), THEN rank the k survivors —
    # a bare global row_number window would funnel the whole vocabulary
    # through one task (the corpus_top_ngrams pattern)
    top = est.orderBy(F.col("est").desc(), F.col("word").asc()).limit(CM_TOP_K)
    rank_w = Window.orderBy(F.col("est").desc(), F.col("word").asc())
    return (
        top.withColumn("rank", F.row_number().over(rank_w))
        .select(
            F.col("word").alias("gram"),
            F.col("est").cast("long").alias("cnt"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def countmin_oracle_sql(vocab_cte: str) -> str:
    """DuckDB fragment recomputing countmin_topk over `vocab_cte`, a CTE
    name with columns (word, freq)."""
    return f"""
        SELECT word AS gram, est::BIGINT AS cnt,
               row_number() OVER (ORDER BY est DESC, word ASC)::INT AS rank
        FROM (
          SELECT wr.word, min(c.cell_total) AS est
          FROM (SELECT word, freq, r.row,
                       ('0x' || substr(md5(word || '#cm' || r.row::VARCHAR),
                                       1, 15))::BIGINT % {CM_WIDTH} AS pos
                FROM {vocab_cte}, (SELECT unnest(range({CM_DEPTH})) AS row) r
               ) wr
          JOIN (SELECT row, pos, sum(freq) AS cell_total
                FROM (SELECT word, freq, r.row,
                             ('0x' || substr(md5(word || '#cm' ||
                                             r.row::VARCHAR),
                                             1, 15))::BIGINT % {CM_WIDTH} AS pos
                      FROM {vocab_cte},
                           (SELECT unnest(range({CM_DEPTH})) AS row) r)
                GROUP BY row, pos) c
            ON c.row = wr.row AND c.pos = wr.pos
          GROUP BY wr.word
        )
        ORDER BY est DESC, word ASC
        LIMIT {CM_TOP_K}
    """


# ---- Fixed-width histogram quantile sketch ----
HIST_WIDTH = 1000.0


def histogram_quantiles(df: DataFrame, value_col: str,
                        group_col: str) -> DataFrame:
    """Single-pass histogram quantile estimates (p50/p90/p99) per group:
    bucket counts at fixed width `HIST_WIDTH`, then the quantile is the upper
    edge of the first bucket whose cumulative count reaches ceil(q*n).
    Returns (group_col, h50, h90, h99) — the constant-memory companion to
    the exact sort-based percentile (state is range/width buckets per
    group instead of every value; the error bound is `HIST_WIDTH`).

    Determinism note: ceil(q*n) inherits IEEE double literal-times-int
    semantics (0.9 is not binary-exact), which both engines evaluate
    identically — the sketch is bit-portable even where the rank is
    mathematically off by one from the rational q*n.

    Plan at 100 TB: one narrow bucket projection → groupBy(group, bucket)
    count (map-side combine bounds per-partition state at buckets/group) →
    a bucket-cardinality window + rollup. No sort of the data, no
    per-value state — the scale path where exact percentile's global sort
    per group would dominate the job.
    """
    from pyspark.sql.window import Window

    # NULL values carry no rank — percentile/quantile_cont ignore them, and
    # an unfiltered NULL bucket would also order differently across engines
    # (Spark windows put NULLS FIRST, DuckDB NULLS LAST)
    b = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.floor(F.col(value_col) / HIST_WIDTH).cast("long").alias("bucket"),
    )
    cells = b.groupBy("grp", "bucket").agg(F.count("*").alias("c"))
    w = Window.partitionBy("grp").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = cells.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("grp")))

    def est(q: float) -> Column:
        rank = F.ceil(F.lit(q) * F.col("n"))
        return F.min(
            F.when(F.col("cum") >= rank, (F.col("bucket") + 1) * HIST_WIDTH)
        )

    return (
        cum.groupBy("grp")
        .agg(est(0.5).alias("h50"), est(0.9).alias("h90"),
             est(0.99).alias("h99"))
        .withColumnRenamed("grp", group_col)
    )


def histogram_quantiles_sql(table_expr: str, value_sql: str,
                            group_sql: str) -> str:
    """DuckDB fragment recomputing histogram_quantiles exactly.
    `value_sql`/`group_sql` must be bare column names (re-selected across
    subquery levels / used as an output alias)."""
    # CAST to DOUBLE: a bare float literal is DECIMAL in DuckDB, and a
    # decimal-typed estimate would canon-differ from Spark's double
    ests = ", ".join(
        f"min(CASE WHEN cum >= ceil(CAST({q!r} AS DOUBLE) * n) "
        f"THEN (bucket + 1) * CAST({HIST_WIDTH!r} AS DOUBLE) END) "
        f"AS h{int(q * 100)}"
        for q in (0.5, 0.9, 0.99)
    )
    return f"""
        SELECT grp AS {group_sql}, {ests}
        FROM (
          SELECT grp, bucket, c,
                 sum(c) OVER (PARTITION BY grp ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(c) OVER (PARTITION BY grp) AS n
          FROM (SELECT grp, bucket, count(*) AS c
                FROM (SELECT {group_sql} AS grp,
                             CAST(floor({value_sql}
                                        / CAST({HIST_WIDTH!r} AS DOUBLE))
                                  AS BIGINT) AS bucket
                      FROM {table_expr}
                      WHERE {value_sql} IS NOT NULL)
                GROUP BY grp, bucket)
        ) GROUP BY grp
    """
