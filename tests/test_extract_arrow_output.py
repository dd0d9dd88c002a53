"""The extraction kernel's Arrow output assembly: the buffer-built columns
equal a ``pa.array`` build of the same values, and a Python process that
runs the kernel never imports pandas (no Spark needed)."""
from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

from pdf_extractor_spark.corpus import build_pdf
from pdf_extractor_spark.operators import extract as X

REPO = Path(__file__).resolve().parent.parent

_HTML = (
    "<html><head><meta charset='utf-8'><title>Grüße</title></head><body>"
    "<p>The quick brown fox jumps over the lazy dog and the cat.</p>"
    "<p>Le café est très bon et les enfants sont dans le jardin.</p>"
    "<p>日本語のテキスト 😀 with an emoji and more words here.</p>"
    "</body></html>"
).encode()
_PDF = build_pdf([[(72.0, 720.0, "Page one line.")],
                  [(72.0, 720.0, "Page two line.")],
                  [(72.0, 720.0, "Page three line.")]])
_PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32  # sniffed as PNG, not decodable


def _mixed_batch() -> pa.RecordBatch:
    """One kernel input batch: an HTML page of several paragraphs, a
    3-page PDF, an image that yields a needs_ocr row, and a row whose
    payload the size cap NULLed."""
    html = [_HTML, _PDF, _PNG, None]
    sizes = [len(_HTML), len(_PDF), len(_PNG), X.SIZE_CAP_BYTES + 1]
    return pa.RecordBatch.from_pydict({
        "url": ["u://html", "u://pdf", "u://png", "u://big"],
        "warc_ts": pa.array([0, 1, 2, 3], pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "payload_bytes": pa.array(sizes, pa.int64()),
        "partition_id": pa.array([5, 5, 6, 7], pa.int32()),
    })


def _reference(batch: pa.RecordBatch) -> pa.Table:
    """The kernel's output built row by row with ``pa.array``."""
    cols: dict[str, list] = {name: [] for name in X._ARROW_OUT.names}
    for i, payload in enumerate(batch.column("html").to_pylist()):
        size = batch.column("payload_bytes")[i].as_py()
        rows = ([X._failed_row({"error": f"size_cap: payload_over_cap:{size}"})]
                if payload is None else X.extract_document(payload))
        for row in rows:
            for name in X._TAKEN:
                cols[name].append(batch.column(name)[i].as_py())
            for name in ("page_number", "text", "combined", "table",
                         "markdown", "titles", "latex"):
                cols[name].append(row[name])
            cols["spans"].append([{"start": s, "end": e, "lang": lg}
                                  for s, e, lg in row["spans"]])
            cols["meta"].append(list(row["meta"].items()))
            cols["elapsed_us"].append(0)
    return pa.table([pa.array(cols[f.name], f.type) for f in X._ARROW_OUT],
                    schema=X._ARROW_OUT)


def _without_elapsed(batches) -> pa.Table:
    t = pa.Table.from_batches(list(batches), schema=X._ARROW_OUT)
    return t.drop_columns(["elapsed_us"])


def test_kernel_output_equals_pa_array_build():
    batch = _mixed_batch()
    out = list(X._extract_arrow_batches(iter([batch])))
    for b in out:
        b.validate(full=True)
    got = _without_elapsed(out)
    want = _reference(batch).drop_columns(["elapsed_us"])
    assert got.schema.equals(want.schema, check_metadata=True)
    assert got.equals(want)
    # 1 HTML row with several spans, 3 PDF pages, needs_ocr, size_cap
    assert got.num_rows == 6
    assert [len(s) for s in got.column("spans").to_pylist()][0] == 3
    meta = got.column("meta").to_pylist()
    assert dict(meta[4])["needs_ocr"] == "true"
    assert dict(meta[5])["error"] == (
        f"size_cap: payload_over_cap:{X.SIZE_CAP_BYTES + 1}")

    empty = list(X._extract_arrow_batches(iter([batch.slice(0, 0)])))
    assert [b.num_rows for b in empty] == [0]
    empty[0].validate(full=True)
    assert empty[0].schema.equals(X._ARROW_OUT)


@pytest.mark.parametrize("values", [
    [], [""], ["", "a", ""], ["ascii", "café", "日本語", "😀", "\x00"],
])
def test_strings_match_pa_array(values):
    got = X._strings(values)
    got.validate(full=True)
    assert got.equals(pa.array(values, pa.string()))


def test_ints_and_offsets_match_pa_array_and_never_wrap():
    for code, typ, vals in [("i", pa.int32(), [0, -1, 2**31 - 1, -2**31]),
                            ("q", pa.int64(), [0, -1, 2**63 - 1, -2**63]),
                            ("i", pa.int32(), [])]:
        assert X._ints(code, vals).equals(pa.array(vals, typ))
    assert X._offsets([3, 0, 2]).to_pylist() == [0, 3, 3, 5]
    with pytest.raises(OverflowError):
        X._offsets([2**31 - 1, 1])
    with pytest.raises(OverflowError):
        X._ints("i", [2**31])


def test_spans_and_meta_match_pa_array():
    spans = [[], [(0, 5, "en")], [(0, 3, "en"), (5, 9, "fr"), (11, 11, "und")],
             []]
    got = X._spans(spans)
    got.validate(full=True)
    assert got.equals(pa.array(
        [[{"start": s, "end": e, "lang": lg} for s, e, lg in row]
         for row in spans], X._SPANS))
    assert X._spans([]).equals(pa.array([], X._SPANS))

    metas = [{"ok": "true", "encoding": "utf-8", "n_blocks": "3"}, {},
             {"ok": "false", "error": "délai: 日本"}]
    got = X._meta(metas)
    got.validate(full=True)
    assert got.equals(pa.array([list(m.items()) for m in metas], X._META))
    assert X._meta([]).equals(pa.array([], X._META))


_NO_PANDAS_PROBE = """
import sys
import pyarrow as pa
from pdf_extractor_spark.operators.extract import _extract_arrow_batches
batch = pa.ipc.open_stream(sys.argv[1]).read_next_batch()
assert "pandas" not in sys.modules, "pandas imported before the kernel ran"
rows = sum(b.num_rows for b in _extract_arrow_batches(iter([batch])))
empty = sum(b.num_rows for b in _extract_arrow_batches(iter([batch.slice(0, 0)])))
print(rows, empty, "pandas" in sys.modules)
"""


def test_kernel_never_imports_pandas(tmp_path):
    """A fresh Python process that runs the kernel over a mixed batch and
    over a zero-row batch has not imported pandas: the output is built
    from buffers, and ``pa.array`` (which probes for pandas) is not
    called. The input arrives as an Arrow IPC stream, which reads without
    pandas too."""
    batch = _mixed_batch()
    path = tmp_path / "batch.arrows"
    with pa.OSFile(str(path), "wb") as fh, \
            pa.ipc.new_stream(fh, batch.schema) as w:
        w.write_batch(batch)
    proc = subprocess.run(
        [sys.executable, "-c", _NO_PANDAS_PROBE, str(path)],
        cwd=REPO, capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": str(REPO)},
    )
    assert proc.returncode == 0, proc.stderr
    assert proc.stdout.split() == ["6", "0", "False"], proc.stdout
