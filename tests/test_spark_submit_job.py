"""End-to-end spark-submit test for the job entrypoint (north_rule).

The scaling rule mandates the pipeline run "via spark-submit --py-files on a
multi-executor cluster". Everything else in tests/ drives ExtractionJob
in-process; this test executes the literal deployment command — zip the
package, `spark-submit --py-files engine.zip pdf_extractor_spark/job.py` as a
subprocess — and asserts the job completes, reports totals on stdout, and is
idempotent on re-submit (resume from the manifest chain, zero re-extraction).

Reference parity: the reference deploys workers as containers re-running the
same Celery task idempotently (docker-compose.yml worker service;
backend/src/tasks.py re-entry semantics); here the unit of deployment is one
spark-submit of the same job against the same output root.
"""
from __future__ import annotations

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
CORES = 4  # --master local[CORES]; job.py --cluster defers to it


def _zip_package(tmp: Path) -> Path:
    zpath = tmp / "engine.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for f in sorted((REPO / "pdf_extractor_spark").rglob("*.py")):
            z.write(f, f.relative_to(REPO))
    return zpath


def _submit(zpath: Path, out: Path, extra: list[str]) -> dict:
    cmd = [
        SPARK_SUBMIT,
        "--master", f"local[{CORES}]",
        "--py-files", str(zpath),
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        str(REPO / "pdf_extractor_spark" / "job.py"),
        "--output", str(out),
        "--n-buckets", "8",
        "--wave-size", "4",
        "--cluster",
        *extra,
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, cwd=str(zpath.parent)
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # totals JSON is the last stdout line the job prints
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, f"no totals JSON on stdout:\n{proc.stdout[-2000:]}"
    return json.loads(lines[-1])


def _current_data_dirs(table_root: Path) -> list[str]:
    sid = (table_root / "_snapshots" / "CURRENT").read_text().strip()
    manifest = json.loads((table_root / "_snapshots" / f"{sid}.json").read_text())
    return manifest["data_dirs"]


def _planted_failures(n_docs: int, partitions: int) -> int:
    """Docs the corpus plants as expected_ok=False (empty/degenerate HTML
    and PDF) for ``job.py --generate n_docs``: one generate_chunk per
    partition, as in corpus.pages_df_distributed, so the count depends
    on the partition count the job generated with."""
    from pdf_extractor_spark import corpus

    per, extra = divmod(n_docs, partitions)
    return sum(
        not d.expected_ok
        for cid in range(partitions)
        for d in corpus.generate_chunk(cid, per + (cid < extra), seed=42)
    )


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    zpath = _zip_package(tmp_path)
    out = tmp_path / "extracted"

    totals = _submit(zpath, out, ["--generate", "400"])
    assert totals["docs"] == 400
    assert totals["buckets"] == 8
    assert totals["waves"] == 2
    # the corpus plants degenerate HTML/PDF docs that fail into quarantine
    # by design; job.py generates on min(2 × defaultParallelism, 64)
    # partitions, which is 2 × CORES under the submit-time master
    assert totals["failures"] == _planted_failures(400, min(2 * CORES, 64))

    # idempotent re-submit against the same output root: the manifest chain
    # marks every bucket done, so the second run has no pending work
    totals2 = _submit(zpath, out, ["--generate", "400"])
    assert {k: totals2[k] for k in ("docs", "failures", "waves", "buckets")} == {
        "docs": 0, "failures": 0, "waves": 0, "buckets": 0,
    }

    # snapshot-visible output: every generated url extracted exactly once
    dirs = _current_data_dirs(out / "extracted")
    rel = ", ".join(f"'{d}/*.parquet'" for d in dirs)
    n_urls, n_dup = duckdb.connect().execute(
        f"SELECT count(DISTINCT url), "
        f"count(*) - count(DISTINCT (url, page_number)) "
        f"FROM read_parquet([{rel}])"
    ).fetchone()
    assert n_urls == 400
    assert n_dup == 0


def test_job_stream_mode_exactly_once(spark, tmp_path, capsys):
    """--stream drives the streaming ingestion path end-to-end through the
    job entrypoint (in-process: the spark-submit deployment shape is
    covered by the batch test above): drain landed segments, re-run with
    the same checkpoint → zero duplicates, land a new segment → only its
    rows append. Its JSON line reports the rows and the quarantine count."""
    from pdf_extractor_spark.job import main
    from tests.builders import pages_df
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    pages = pages_df(spark, 30, 5).select("url", "warc_ts", "html")
    pdir = str(tmp_path / "pages")
    pages.repartition(3).write.parquet(pdir)
    out = str(tmp_path / "out")

    rc = main(["--input", pdir, "--output", out, "--stream"])
    assert rc == 0
    t = SnapshotTable(out + "/extracted")
    n1 = t.read(spark).count()
    assert n1 >= 30
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    failed = t.read(spark).where(
        "page_number = 1 and meta['ok'] = 'false'").count()
    assert line["rows"] == n1 and line["quarantined"] == failed > 0
    # idempotent re-run: nothing new
    assert main(["--input", pdir, "--output", out, "--stream"]) == 0
    assert t.read(spark).count() == n1
    # a newly landed segment appends only its rows
    more = pages_df(spark, 40, 5).select("url", "warc_ts", "html").subtract(pages)
    more.coalesce(1).write.mode("append").parquet(pdir)
    assert main(["--input", pdir, "--output", out, "--stream"]) == 0
    assert t.read(spark).count() == n1 + more.count()
