"""Builders and probes that only tests use: a PDF with a nested page
tree, a RIFF/WAVE PCM-16 file, a YUV4MPEG2 stream, the small driver-side
pages/golden tables, and a parquet row-group skip probe."""
from __future__ import annotations

import glob
import os
import struct

import numpy as np

from pdf_extractor_spark import corpus
from pdf_extractor_spark.corpus import _assemble_classic, _pdf_escape
from pdf_extractor_spark.operators.multimodal import _Y4M_FRAME_FRACTION
from pdf_extractor_spark.session import PAGES_DDL


def build_pdf_nested(
    page_runs: list[list[tuple[float, float, str]]], fanout: int = 2,
) -> bytes:
    """``build_pdf`` with a BALANCED page tree: pages grouped under
    nested intermediate /Pages nodes ``fanout`` at a time up to a single
    root — the layout real writers emit for long documents (a flat
    1000-kid /Kids array is the exception). Exercises the kernel's
    recursive page-tree walk; same text, same page order."""
    objs: list[bytes] = []

    def add(body: bytes) -> int:
        objs.append(body)
        return len(objs)

    page_nums: list[int] = []
    for runs in page_runs:
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_pdf_escape(text)}) Tj")
        ops.append("ET")
        s = "\n".join(ops).encode("latin-1")
        c = add(b"<< /Length " + str(len(s)).encode()
                + b" >>\nstream\n" + s + b"\nendstream")
        page_nums.append(add((
            f"<< /Type /Page /Parent 0 0 R"  # patched once parents exist
            f" /MediaBox [0 0 612 792] /Contents {c} 0 R >>").encode()))

    level = page_nums
    first = True
    while first or len(level) > 1:
        first = False
        nxt: list[int] = []
        for at in range(0, len(level), fanout):
            chunk = level[at:at + fanout]
            kids = " ".join(f"{k} 0 R" for k in chunk)
            n = add((f"<< /Type /Pages /Parent 0 0 R /Kids [{kids}]"
                     f" /Count {len(chunk)} >>").encode())
            for k in chunk:  # patch the children's /Parent
                objs[k - 1] = objs[k - 1].replace(
                    b"/Parent 0 0 R", b"/Parent %d 0 R" % n)
            nxt.append(n)
        level = nxt
    root = level[0]
    objs[root - 1] = objs[root - 1].replace(b" /Parent 0 0 R", b"")
    cat = add(f"<< /Type /Catalog /Pages {root} 0 R >>".encode())
    return _assemble_classic(objs, root_num=cat)


def encode_wav_pcm16(pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
    """A real RIFF/WAVE file: 16-bit mono PCM, the canonical uncompressed
    audio container (format code 1), the shape `multimodal._decode_wav`
    reads."""
    data = pcm.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def encode_y4m(media_id: int, n_frames: int, width: int = 8, height: int = 8,
               fps: tuple[int, int] = (25, 1), chroma: str = "420") -> bytes:
    """A real YUV4MPEG2 stream (uncompressed planar YUV — the ffmpeg
    interchange format): header line, then FRAME marker + raw planes per
    frame. Seeded deterministic plane bytes."""
    rng = np.random.default_rng(media_id)
    fsize = width * height * _Y4M_FRAME_FRACTION[chroma] // 2
    head = (f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
            f"C{'mono' if chroma == 'mono' else chroma}\n").encode("ascii")
    frames = b"".join(
        b"FRAME\n" + rng.integers(0, 256, size=fsize, dtype=np.uint8).tobytes()
        for _ in range(n_frames))
    return head + frames


def pages_df(spark, n: int, seed: int = 42):
    """Synthesize the Common-Crawl-style pages table (FIXTURES.md §1) as a
    Spark DataFrame. Small-scale only (driver-side generation);
    ``corpus.pages_df_distributed`` generates on the executors."""
    pdf, _ = corpus.to_pandas(corpus.generate(n, seed))
    return spark.createDataFrame(pdf, schema=PAGES_DDL)


def golden_df(spark, n: int, seed: int = 42):
    """The golden extraction table (FIXTURES.md §2) for ``pages_df``."""
    _, gdf = corpus.to_pandas(corpus.generate(n, seed))
    return spark.createDataFrame(gdf)


def parquet_skip_fraction(dirs: list[str], predicates: dict) -> float:
    """Fraction of row groups a min/max-pruning reader SKIPS for an AND of
    range predicates ``{col: (lo, hi)}``, judged from parquet footer
    statistics alone — the same stats Iceberg manifests and parquet
    readers prune on, so this measures exactly the I/O a clustered layout
    saves (see SnapshotTable.compact(cluster_by=...))."""
    import pyarrow.parquet as pq

    total = skipped = 0
    for d in dirs:
        for f in glob.glob(os.path.join(d, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                stats = {}
                for i in range(g.num_columns):
                    col = g.column(i)
                    if col.statistics is not None and \
                            col.statistics.has_min_max:
                        stats[col.path_in_schema] = (
                            col.statistics.min, col.statistics.max)
                total += 1
                for cname, (lo, hi) in predicates.items():
                    if cname in stats:
                        cmn, cmx = stats[cname]
                        if cmx < lo or cmn > hi:
                            skipped += 1
                            break
    return skipped / total if total else 0.0
