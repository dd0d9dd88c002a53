"""Sketch operators: HyperLogLog distinct and Count-Min heavy hitters.

Covers (a) the estimator-vs-exact accuracy contract each sketch is used
for, (b) the integer-exactness invariants that make the DuckDB oracle a
bit-exact twin, and (c) direct DuckDB parity on a synthetic corpus that is
NOT the oracle-gate parquet (so parity is established independently of the
driver sweep's dataset).
"""
from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.operators import sketch


@pytest.fixture(scope="module")
def keyed_df(spark):
    # two groups: g0 has 600 distinct keys, g1 has 7 (exercises BOTH the
    # raw-estimate branch and the linear-counting small-range branch)
    rows = [("g0", f"key-{i}") for i in range(600)]
    rows += [("g1", f"dup-{i % 7}") for i in range(100)]
    return spark.createDataFrame(rows, "grp string, k string")


def test_hll_accuracy_and_branches(keyed_df):
    out = {
        r["grp"]: r
        for r in sketch.hll_distinct(keyed_df, "k", "grp").collect()
    }
    # m=256 -> relative error sigma ~= 1.04/sqrt(256) = 6.5%; assert 3 sigma
    est0 = float(out["g0"]["hll_est"])
    assert abs(est0 - 600) / 600 < 0.20
    # small group: linear counting is near-exact at this load factor
    est1 = float(out["g1"]["hll_est"])
    assert abs(est1 - 7) < 1.5
    assert out["g1"]["hll_nonzero"] <= 7
    # register-state integers are present and bounded
    assert 0 < out["g0"]["hll_nonzero"] <= sketch.HLL_M
    assert out["g0"]["hll_sum_int"] <= sketch.HLL_M * (1 << 53)


def test_hll_insensitive_to_duplication(keyed_df, spark):
    # HLL state depends only on the distinct key set: double every row
    doubled = keyed_df.unionAll(keyed_df)
    a = sorted(map(tuple, sketch.hll_distinct(keyed_df, "k", "grp").collect()))
    b = sorted(map(tuple, sketch.hll_distinct(doubled, "k", "grp").collect()))
    assert a == b


def test_hll_duckdb_parity(keyed_df):
    sp = sorted(
        (r["grp"], r["hll_nonzero"], r["hll_sum_int"], str(r["hll_est"]))
        for r in sketch.hll_distinct(keyed_df, "k", "grp").collect()
    )
    con = duckdb.connect()
    con.register("tbl", keyed_df.toPandas())
    du = sorted(
        (g, nz, si, str(e))
        for g, nz, si, e in con.execute(
            sketch.hll_oracle_sql("tbl", "k", "grp")
        ).fetchall()
    )
    assert sp == du


@pytest.fixture(scope="module")
def vocab_df(spark):
    # Zipf-ish skew: word-0 dominates, long tail of 3000 singletons
    rows = [(f"w{i}", 3000 // (i + 1) + 1) for i in range(3000)]
    return spark.createDataFrame(rows, "word string, freq long")


def test_countmin_overestimates_and_ranks(vocab_df):
    out = sketch.countmin_topk(vocab_df).collect()
    assert len(out) == 20
    true = {r["word"]: r["freq"] for r in vocab_df.collect()}
    for r in out:
        # CM never under-counts
        assert r["cnt"] >= true[r["gram"]]
    # the dominant word survives sketching as the top hitter
    assert out[0]["gram"] == "w0" and out[0]["rank"] == 1
    # ranks are 1..20 dense
    assert [r["rank"] for r in out] == list(range(1, 21))


def test_countmin_duckdb_parity(vocab_df):
    sp = [tuple(r) for r in sketch.countmin_topk(vocab_df).collect()]
    con = duckdb.connect()
    con.register("vtbl", vocab_df.toPandas())
    du = con.execute(
        "WITH v AS (SELECT word, freq FROM vtbl) "
        + sketch.countmin_oracle_sql("v")
    ).fetchall()
    assert sp == [tuple(r) for r in du]


def test_countmin_cell_bound(vocab_df):
    # the sketch's whole state is <= d*w cells regardless of vocab size
    rows = F.sequence(F.lit(0), F.lit(sketch.CM_DEPTH - 1))
    wr = vocab_df.select(
        "word", "freq", F.explode(rows).alias("row")
    ).withColumn("pos", sketch._cm_pos(F.col("word"), F.col("row")))
    n_cells = wr.groupBy("row", "pos").count().count()
    assert n_cells <= sketch.CM_DEPTH * sketch.CM_WIDTH

def test_hll_null_keys_carry_no_element(spark):
    # NULL keys must not mint registers — estimate over (k, NULL, NULL)
    # equals estimate over (k,), on both engines
    import duckdb
    import pandas as pd

    from pdf_extractor_spark.operators import sketch

    with_nulls = spark.createDataFrame(
        [("g", "k1"), ("g", None), ("g", None), ("g", "k2")],
        "grp string, k string",
    )
    clean = spark.createDataFrame(
        [("g", "k1"), ("g", "k2")], "grp string, k string")
    a = [tuple(r) for r in sketch.hll_distinct(with_nulls, "k", "grp").collect()]
    b = [tuple(r) for r in sketch.hll_distinct(clean, "k", "grp").collect()]
    assert a == b
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(
        {"grp": ["g"] * 4, "k": ["k1", None, None, "k2"]}))
    du = con.execute(sketch.hll_oracle_sql("tbl", "k", "grp")).fetchall()
    assert [tuple(map(str, r)) for r in du] == [tuple(map(str, r)) for r in a]


def test_histogram_quantiles_bound_exact_and_parity(spark):
    """h_q is the upper edge of the bucket containing the rank-q value, so
    exact_q <= h_q <= exact_q + width; DuckDB twin bit-exact."""
    import duckdb
    import pandas as pd

    rows = [("a", float(v)) for v in range(0, 5000, 7)]
    rows += [("b", float(v * v % 9000)) for v in range(900)]
    df = spark.createDataFrame(rows, "grp string, val double")
    got = {r["grp"]: r for r in
           sketch.histogram_quantiles(df, "val", "grp").collect()}
    exact = {r["grp"]: r for r in df.groupBy("grp").agg(
        F.percentile("val", F.lit(0.5)).alias("p50"),
        F.percentile("val", F.lit(0.9)).alias("p90"),
        F.percentile("val", F.lit(0.99)).alias("p99")).collect()}
    for g in ("a", "b"):
        for q in ("50", "90", "99"):
            e, h = exact[g][f"p{q}"], got[g][f"h{q}"]
            assert e <= h <= e + sketch.HIST_WIDTH, (g, q, e, h)

    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["grp", "val"]))
    du = {g: (h50, h90, h99) for g, h50, h90, h99 in con.execute(
        sketch.histogram_quantiles_sql("t", "val", "grp")).fetchall()}
    assert du == {g: (r["h50"], r["h90"], r["h99"]) for g, r in got.items()}


def test_sketches_on_empty_input(spark):
    """Empty input → empty result with a stable schema for every sketch
    (no div-by-zero, no null-register rows)."""
    e_docs = spark.createDataFrame([], "grp string, k string")
    out = sketch.hll_distinct(e_docs, "k", "grp")
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "grp", "hll_nonzero", "hll_sum_int", "hll_est"]
    e_vocab = spark.createDataFrame([], "word string, freq long")
    assert sketch.countmin_topk(e_vocab).count() == 0
    e_vals = spark.createDataFrame([], "grp string, val double")
    assert sketch.histogram_quantiles(e_vals, "val", "grp").count() == 0
