"""M3+M4: manifest checkpointing, idempotent resume, lineage, metrics and
quarantine views, circuit breaker (SURVEY.md §7 M3/M4; FIXTURES.md §3
contracts)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.pipeline import ExtractionAborted, ExtractionJob
from tests.builders import pages_df

N = 150
SEED = 11


def _job(spark, tmp, **kw):
    kw.setdefault("n_buckets", 8)
    kw.setdefault("partitions", 8)
    kw.setdefault("wave_size", 3)
    return ExtractionJob(spark, str(tmp), **kw)


def test_kill_and_resume_identical_no_duplicates(spark, tmp_path):
    pages = pages_df(spark, N, SEED)

    clean = _job(spark, tmp_path / "clean")
    clean.run(pages)
    expected = clean.read_extracted()

    # "kill after wave 1": run only one wave, then resume to completion
    job = _job(spark, tmp_path / "resumed")
    job.run(pages, max_waves=1)
    partial = job.read_extracted().count()
    assert 0 < partial < expected.count()
    done_before = job.done_buckets()
    assert 0 < len(done_before) < 8

    job2 = _job(spark, tmp_path / "resumed")  # fresh handle, same root
    job2.run(pages)
    final = job2.read_extracted()

    assert final.count() == expected.count()
    # no duplicate (url, page_number)
    dups = final.groupBy("url", "page_number").count().where("count > 1").count()
    assert dups == 0
    # identical content to the clean one-shot run
    key = ["url", "page_number"]
    diff = (
        final.select(*key, "text", "combined")
        .exceptAll(expected.select(*key, "text", "combined"))
        .count()
    )
    assert diff == 0


def test_resume_is_noop_when_complete(spark, tmp_path):
    pages = pages_df(spark, 60, SEED)
    job = _job(spark, tmp_path)
    job.run(pages)
    n1 = job.read_extracted().count()
    res = ExtractionJob(spark, str(tmp_path), n_buckets=8, partitions=8, wave_size=3).run(pages)
    assert res["waves"] == 0
    assert job.read_extracted().count() == n1


def test_metrics_and_lineage_shape(spark, tmp_path):
    pages = pages_df(spark, 80, SEED)
    job = _job(spark, tmp_path)
    job.run(pages)

    met = job.read_metrics()
    assert set(met.columns) == {
        "bucket", "partition_id", "docs", "pages", "bytes", "elapsed_ms",
        "docs_per_sec", "bytes_per_sec", "failure_count",
    }
    agg = met.agg(F.sum("docs").alias("d"), F.sum("bytes").alias("b")).first()
    assert agg["d"] == 80
    assert agg["b"] > 0

    lin = job.read_lineage()
    assert lin.where("status = 'success' and stage = 'extract'").count() == 8
    assert lin.where("finished_at < started_at").count() == 0
    # lineage counts each bucket's own docs (not its whole wave's)
    page1 = job.read_extracted().where("page_number = 1").count()
    assert lin.agg(F.sum("docs")).first()[0] == page1 == 80


def test_quarantine_captures_degenerate_rows(spark, tmp_path):
    pages = pages_df(spark, 200, SEED)
    job = _job(spark, tmp_path)
    job.run(pages)
    quar = job.read_quarantine()
    assert set(quar.columns) == {"url", "stage", "error"}
    assert quar.count() > 0  # corpus contains degenerate rows
    # every quarantined url is flagged not-ok in the output, not missing
    ext = job.read_extracted()
    joined = quar.join(ext.where("page_number = 1"), "url", "inner")
    assert joined.count() == quar.count()
    assert joined.where(F.col("meta")["ok"] == "true").count() == 0


def test_circuit_breaker_opens_on_failure_storm(spark, tmp_path):
    # all-degenerate input → failure rate 1.0 → abort (tasks.py:126-151)
    rows = [(f"https://x.example.com/{i}", None, b"", None, None) for i in range(40)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    job = _job(spark, tmp_path)
    with pytest.raises(ExtractionAborted):
        job.run(pages)


def test_snapshot_time_travel(spark, tmp_path):
    pages = pages_df(spark, 60, SEED)
    job = _job(spark, tmp_path)
    job.run(pages, max_waves=1)
    first = job.extracted.current_manifest()["snapshot_id"]
    n_first = job.read_extracted().count()
    job.run(pages)
    assert job.read_extracted().count() > n_first
    assert job.extracted.read_snapshot(spark, first).count() == n_first


def test_compact_and_expire_snapshots(spark, tmp_path):
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 10).toDF("id"))
    m = t.current_manifest()
    assert len(m["data_dirs"]) == 4

    pre_compact_id = m["snapshot_id"]
    sid = t.compact(spark, target_partitions=1)
    assert sid is not None
    m2 = t.current_manifest()
    assert len(m2["data_dirs"]) == 1 and m2["op"] == "compact"
    # table contents unchanged; time travel to pre-compaction still works
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(40))
    assert t.read_snapshot(spark, pre_compact_id).count() == 40

    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 4  # all pre-compaction manifests dropped
    assert sorted(r["id"] for r in t.read(spark).collect()) == list(range(40))
    import os
    assert len(os.listdir(t.data_dir)) == 1  # orphaned commit dirs removed


def test_incremental_read(spark, tmp_path):
    import pytest as _pytest

    from pdf_extractor_spark.sources.table_format import SnapshotTable

    t = SnapshotTable(str(tmp_path / "inc"))
    s1 = t.append(spark.range(0, 10).toDF("id"))
    s2 = t.append(spark.range(10, 20).toDF("id"))
    t.append(spark.range(20, 30).toDF("id"))

    inc = t.read_incremental(spark, s1)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 30))
    inc2 = t.read_incremental(spark, s2)
    assert sorted(r["id"] for r in inc2.collect()) == list(range(20, 30))
    # since CURRENT -> empty frame, same schema
    cur = t.current_manifest()["snapshot_id"]
    assert t.read_incremental(spark, cur).count() == 0

    # an overwrite breaks incremental semantics
    t.overwrite(spark.range(0, 5).toDF("id"))
    with _pytest.raises(ValueError):
        t.read_incremental(spark, s1)


def test_job_entrypoint_runs_and_resumes(spark, tmp_path):
    """python -m pdf_extractor_spark.job smoke: full run then no-op resume.
    Reuses the session-scoped SparkSession by calling main() in-process
    (getOrCreate returns the active session; --cores is then ignored)."""
    from pdf_extractor_spark.job import main

    out = str(tmp_path / "jobout")
    assert main(["--generate", "300", "--output", out, "--n-buckets", "4"]) == 0
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    extracted = SnapshotTable(out + "/extracted").read(spark)
    n1 = extracted.count()
    assert n1 > 250
    # second run: everything committed -> zero new work
    assert main(["--generate", "300", "--output", out, "--n-buckets", "4"]) == 0
    assert SnapshotTable(out + "/extracted").read(spark).count() == n1


def test_incremental_scan_feeds_dedup_on_new_docs_only(spark, tmp_path):
    """Iceberg-style incremental consumption: after an append, dedup work
    runs over ONLY the newly appended documents (read_incremental), and the
    incremental fingerprints anti-joined against the old ones find exactly
    the new docs that duplicate existing content — without rescanning or
    re-hashing the base corpus."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    t = SnapshotTable(str(tmp_path / "docs"))
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "totally different content here")],
        "doc_id long, text string")
    snap1 = t.append(base)
    new = spark.createDataFrame(
        [(3, "alpha beta gamma delta"),   # dup of doc 1
         (4, "fresh unseen text entirely")],
        "doc_id long, text string")
    t.append(new)

    inc = t.read_incremental(spark, snap1)
    assert {r["doc_id"] for r in inc.collect()} == {3, 4}

    from pdf_extractor_spark.operators.text_analysis import fingerprints

    old_fp = fingerprints(t.read_snapshot(spark, snap1))
    new_fp = fingerprints(inc)
    dup_new = new_fp.join(old_fp.select("fp"), "fp", "left_semi")
    assert {r["doc_id"] for r in dup_new.collect()} == {3}


def test_resume_after_compact_and_soft_delete_no_duplicates(spark, tmp_path):
    """Maintenance commits must not amnesia the checkpoint: after compact()
    or soft_delete() on the extracted table, done_buckets() still reports
    every committed bucket and a resumed run() appends NOTHING (the old
    own-dir heuristic collapsed to the empty set and re-extracted — and
    duplicated — every bucket)."""
    pages = pages_df(spark, N, SEED)
    job = _job(spark, tmp_path / "maint")
    job.run(pages)
    all_done = job.done_buckets()
    n_rows = job.read_extracted().count()
    assert len(all_done) == job.n_buckets

    job.extracted.compact(spark)
    assert job.done_buckets() == all_done
    job.run(pages)  # must be a no-op
    assert job.read_extracted().count() == n_rows

    job.extracted.soft_delete(spark, "page_number = 999999")  # matches none
    assert job.done_buckets() == all_done
    job.run(pages)
    assert job.read_extracted().count() == n_rows


def test_oversize_payload_quarantined_not_lost(spark, tmp_path):
    """A page over the 20 MB cap yields exactly one not-ok row in the
    extracted table and MUST surface in the quarantine table (silent loss
    otherwise — its bucket commits as done and resume never retries it);
    a resume afterwards is a no-op."""
    import pyspark.sql.functions as F

    from pdf_extractor_spark.operators.extract import SIZE_CAP_BYTES

    pages = pages_df(spark, 40, SEED)
    big = spark.createDataFrame(
        [("doc://oversize", None, b"x" * (SIZE_CAP_BYTES + 1), None, None)],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    job = _job(spark, tmp_path / "oversize")
    job.run(pages.unionByName(big))
    quar = job.read_quarantine()
    row = quar.where(F.col("url") == "doc://oversize").collect()
    assert len(row) == 1 and row[0]["stage"] == "size_cap"
    assert row[0]["error"] == f"payload_over_cap:{SIZE_CAP_BYTES + 1}"
    out = job.read_extracted().where(F.col("url") == "doc://oversize").collect()
    assert len(out) == 1 and out[0]["meta"]["ok"] == "false"
    n_rows = job.read_extracted().count()

    again = _job(spark, tmp_path / "oversize").run(pages.unionByName(big))
    assert again["waves"] == 0 and again["docs"] == 0
    assert job.read_extracted().count() == n_rows
    assert job.read_quarantine().count() == quar.count()


def test_wave_is_one_append(spark, tmp_path):
    """A wave runs only its append's Spark jobs (the shuffle map stage and
    the write) and the job writes no table beside ``extracted``: metrics,
    quarantine and lineage are views, and the breaker's totals come from
    an Observation on the append, not a read-back."""
    import os

    pages = pages_df(spark, 80, SEED)
    sc = spark.sparkContext
    group = f"wave-jobs-{os.getpid()}"
    sc.setJobGroup(group, "two-wave ExtractionJob")
    try:
        res = _job(spark, tmp_path, n_buckets=8, wave_size=4).run(pages)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert res["waves"] == 2 and res["docs"] == 80
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2 * res["waves"]
    assert os.listdir(tmp_path) == ["extracted"]


def test_wave_records_survive_maintenance(spark, tmp_path):
    """The manifest's wave record (checkpoint and lineage in one) survives
    compact, soft_delete and expire_snapshots(keep_last=1): lineage still
    lists every bucket with its wave's times, metrics and quarantine still
    count tombstoned rows, and a resume is a no-op."""
    pages = pages_df(spark, N, SEED)
    job = _job(spark, tmp_path)
    job.run(pages)
    docs = job.read_metrics().agg(F.sum("docs")).first()[0]
    n_quar = job.read_quarantine().count()

    job.extracted.compact(spark)
    job.extracted.soft_delete(spark, "page_number = 1 and bucket = 0")
    job.extracted.expire_snapshots(keep_last=1)
    assert len(job.extracted.snapshots()) == 1

    lin = job.read_lineage()
    assert sorted(r["bucket"] for r in lin.collect()) == list(range(8))
    assert lin.where("started_at is null or finished_at is null").count() == 0
    assert lin.where("finished_at < started_at").count() == 0
    assert lin.agg(F.sum("docs")).first()[0] == docs == N
    assert job.read_quarantine().count() == n_quar

    n_rows = job.read_extracted().count()
    again = _job(spark, tmp_path).run(pages)
    assert again["waves"] == 0 and again["docs"] == 0
    assert job.read_extracted().count() == n_rows
