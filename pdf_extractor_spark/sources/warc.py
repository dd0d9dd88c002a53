"""From-scratch WARC (ISO 28500) source for Common-Crawl-style ingest.

The engine's canonical input is the Iceberg-style pages table
``(url, warc_ts, html, text, lang)`` — but Common-Crawl ships as WARC
segment files (~1 GB each, per-record gzip members concatenated), so a real
100 TB ingest starts here. This module implements the WARC/1.0 record
grammar from the public ISO 28500 spec, pure Python, no external libs:

    WARC/1.0\\r\\n
    <Name>: <value>\\r\\n ...            (headers, case-insensitive names)
    \\r\\n
    <Content-Length bytes of block>
    \\r\\n\\r\\n                          (record trailer)

``response`` records carry an HTTP message as their block
(``Content-Type: application/http``): status line, HTTP headers, blank
line, payload. The payload is the page body; the HTTP ``Content-Type``
charset parameter is surfaced per record so callers can feed it to the
HTML kernel's ``sniff_decode`` transport slot (WHATWG precedence:
BOM > transport > meta > UTF-8).

Scale shape of ``read_warc``: ``binaryFile`` hands each segment file to ONE
task (Common Crawl's native unit of parallelism — 100 TB ≈ 100k segments
spread across executors), the record parse is a narrow ``mapInPandas``
(zero shuffle), and malformed trailing bytes degrade per-file instead of
failing the job, mirroring the extraction kernels' row-level error
contract (reference pypdf2_extractor.py:41-48).
"""
from __future__ import annotations

import datetime as dt
import gzip
import io as _io
import re
import zlib

_GZIP_MAGIC = b"\x1f\x8b"
# Per-record decompression cap — same bomb discipline as the PDF kernel's
# FlateDecode cap (_MAX_STREAM_BYTES): a segment is ~1 GB compressed, and
# one member expanding past this is hostile, not a web page.
_MAX_MEMBER_BYTES = 64 * 1024 * 1024

# no ^ anchor: matched with .match(data, pos) mid-buffer, where ^ would
# only assert at offset 0
_VERSION_RE = re.compile(rb"WARC/\d+\.\d+\r?\n")
_CHARSET_RE = re.compile(rb"charset\s*=\s*\"?'?([A-Za-z0-9_.:-]+)", re.I)


def _hdr_decode(b: bytes) -> str:
    """ISO 28500 says WARC named fields are UTF-8; fall back to the
    byte-transparent latin-1 for malformed wire data (never raises)."""
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _parse_headers(block: bytes) -> dict[str, str]:
    """Header lines → dict with lower-cased names (UTF-8 per ISO 28500,
    latin-1 fallback — never raises on arbitrary bytes)."""
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n"):
        if not line or line[:1] in (b" ", b"\t"):  # continuations: skip
            continue
        name, sep, value = line.partition(b":")
        if sep:
            headers[_hdr_decode(name).strip().lower()] = (
                _hdr_decode(value).strip())
    return headers


def _parse_warc_ts(value: str) -> dt.datetime | None:
    """WARC-Date (ISO 8601 Zulu) → naive UTC datetime (the pages table's
    warc_ts convention)."""
    try:
        return dt.datetime.fromisoformat(value.replace("Z", "+00:00")).replace(
            tzinfo=None)
    except ValueError:
        return None


def _split_records_spans(
        data: bytes) -> tuple[list[tuple[dict[str, str], bytes, int, int]], int]:
    """Raw (already-decompressed) WARC bytes →
    [(headers, block, record_start, record_end)], n_bad — the single
    record-grammar walk shared by the parsers AND the CDX indexer (which
    needs the byte spans).

    Malformed data stops the scan of the remaining bytes (one bad count) —
    record boundaries are length-prefixed, so a corrupt length makes
    everything after it unrecoverable by design of the format.
    """
    records: list[tuple[dict[str, str], bytes, int, int]] = []
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):  # inter-record
            pos += 1
        if pos >= n:
            break
        m = _VERSION_RE.match(data, pos)
        if m is None:
            return records, 1
        head_end = data.find(b"\r\n\r\n", m.end())
        if head_end < 0:
            return records, 1
        headers = _parse_headers(data[m.end():head_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return records, 1
        body_start = head_end + 4
        if body_start + length > n:
            return records, 1
        records.append((headers, data[body_start:body_start + length],
                        pos, body_start + length))
        pos = body_start + length
    return records, 0


def _split_records(data: bytes) -> tuple[list[tuple[dict[str, str], bytes]], int]:
    """Span-free view of ``_split_records_spans`` for the parsers."""
    recs, bad = _split_records_spans(data)
    return [(h, b) for h, b, _s, _e in recs], bad


def _gunzip_members(data: bytes):
    """Yield decompressed gzip members from concatenated-member data (the
    Common-Crawl per-record layout), each capped at _MAX_MEMBER_BYTES."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out = d.decompress(data[pos:], _MAX_MEMBER_BYTES)
        if d.unconsumed_tail:
            raise ValueError("warc: gzip member exceeds decompression cap")
        yield out
        rest = d.unused_data
        if not rest:
            break
        pos = n - len(rest)


def _record_to_page(headers: dict[str, str],
                    block: bytes) -> tuple[dict | None, int]:
    """One WARC record → (page dict | None, n_bad increment). Skips
    non-response records; unwraps the HTTP block; inflates gzip bodies
    under the decompression cap."""
    if headers.get("warc-type") != "response":
        return None, 0
    url = headers.get("warc-target-uri")
    if not url:
        return None, 1
    ts = _parse_warc_ts(headers.get("warc-date", ""))
    status = None
    mime = None
    charset = None
    body = block
    if "application/http" in headers.get("content-type", ""):
        split = block.find(b"\r\n\r\n")
        if split < 0:
            return None, 1
        http_head = block[:split]
        body = block[split + 4:]
        status_line, _, rest = http_head.partition(b"\r\n")
        parts = status_line.split(None, 2)
        if len(parts) >= 2 and parts[1].isdigit():
            status = int(parts[1])
        http_headers = _parse_headers(rest)
        ct = http_headers.get("content-type", "")
        mime = ct.split(";", 1)[0].strip().lower() or None
        cm = _CHARSET_RE.search(ct.encode("latin-1", errors="replace"))
        if cm:
            charset = cm.group(1).decode("latin-1").lower()
        if http_headers.get("content-encoding", "").lower() == "gzip":
            try:
                body = gzip.GzipFile(fileobj=_io.BytesIO(body)).read(
                    _MAX_MEMBER_BYTES + 1)
                if len(body) > _MAX_MEMBER_BYTES:
                    raise ValueError("body exceeds decompression cap")
            except (OSError, EOFError, zlib.error, ValueError):
                return None, 1
    return (
        {
            "url": url,
            "warc_ts": ts,
            "http_status": status,
            "mime": mime,
            "charset": charset,
            "body": body,
        },
        0,
    )


def _parse_records(data: bytes, to_row) -> tuple[list[dict], int]:
    """Shared record walk for WARC/WET files (plain or per-record-gzip):
    apply ``to_row(headers, block) -> (row | None, bad)`` to every record.

    Records are processed PER gzip MEMBER — materializing every member's
    records before building pages held the whole decompressed segment
    (multiple GB for a real Common-Crawl file) in memory at once; streaming
    bounds intermediate residency at one member (_MAX_MEMBER_BYTES).
    """
    rows: list[dict] = []
    n_bad = 0

    def handle(recs: list[tuple[dict[str, str], bytes]]) -> None:
        nonlocal n_bad
        for headers, block in recs:
            row, bad = to_row(headers, block)
            n_bad += bad
            if row is not None:
                rows.append(row)

    try:
        if data[:2] == _GZIP_MAGIC:
            for member in _gunzip_members(data):
                recs, bad = _split_records(member)
                n_bad += bad
                handle(recs)
        else:
            recs, bad = _split_records(data)
            n_bad += bad
            handle(recs)
    except (zlib.error, ValueError, EOFError):
        return rows, n_bad + 1
    return rows, n_bad


def parse_warc(data: bytes) -> tuple[list[dict], int]:
    """One WARC file's bytes (plain or per-record-gzip) → (pages, n_bad).

    Each page dict: url, warc_ts (naive-UTC datetime|None), http_status
    (int|None), mime (str|None), charset (str|None), body (bytes).
    Only ``WARC-Type: response`` records with an HTTP block become pages;
    warcinfo/request/metadata records are structural and skipped.
    """
    return _parse_records(data, _record_to_page)


def _record_to_wet_row(headers: dict[str, str],
                       block: bytes) -> tuple[dict | None, int]:
    """One WET record → (row | None, bad). WET files carry the EXTRACTED
    text of each page as ``WARC-Type: conversion`` records with a
    text/plain body (the Common-Crawl *.warc.wet.gz layout); everything
    else in the file is structural and skipped."""
    if headers.get("warc-type") != "conversion":
        return None, 0
    url = headers.get("warc-target-uri")
    if not url:
        return None, 1
    return (
        {
            "url": url,
            "warc_ts": _parse_warc_ts(headers.get("warc-date", "")),
            "text": block.decode("utf-8", errors="replace"),
        },
        0,
    )


def parse_wet(data: bytes) -> tuple[list[dict], int]:
    """One WET file's bytes → (rows, n_bad); each row: url, warc_ts,
    text (the page's extracted text)."""
    return _parse_records(data, _record_to_wet_row)


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    # UTF-8 per ISO 28500 — latin-1 raised UnicodeEncodeError on any
    # non-latin-1 URL (CJK paths exist in real WARC-Target-URIs) and
    # aborted the whole file write
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
    ) + f"Content-Length: {len(block)}\r\n\r\n".encode()
    return head + block + b"\r\n\r\n"


def write_wet(path: str, rows: list[dict],
              gzip_per_record: bool = True) -> None:
    """Write extracted text as a WET file (Common-Crawl *.warc.wet
    layout): a warcinfo header then one ``WARC-Type: conversion``
    record per row with a text/plain UTF-8 body — the twin of
    parse_wet. Each row dict needs url + text; optional warc_ts."""
    out: list[bytes] = [_warc_record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", "2024-01-01T00:00:00Z"),
         ("Content-Type", "application/warc-fields")],
        b"software: pyspark-webtext-extractor\r\n")]
    for r in rows:
        ts = r.get("warc_ts") or dt.datetime(2024, 1, 1)
        out.append(_warc_record(
            [("WARC-Type", "conversion"),
             ("WARC-Target-URI", r["url"]),
             ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
             ("Content-Type", "text/plain")],
            (r["text"] or "").encode("utf-8")))
    with open(path, "wb") as f:
        for rec in out:
            f.write(gzip.compress(rec) if gzip_per_record else rec)


def write_warc(path: str, pages: list[dict], gzip_per_record: bool = True,
               warcinfo: str = "software: pyspark-webtext-extractor") -> None:
    """Write pages as a WARC/1.0 file — the test/corpus twin of parse_warc
    (Common-Crawl layout when gzip_per_record, per ISO 28500 annex).

    Each page dict needs url + body (bytes); optional warc_ts (datetime),
    http_status (default 200), mime (default text/html), charset.
    """
    record = _warc_record
    out: list[bytes] = []
    info_block = (warcinfo + "\r\n").encode()
    out.append(record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", "2024-01-01T00:00:00Z"),
         ("Content-Type", "application/warc-fields")], info_block))
    for p in pages:
        body = p["body"]
        ts = p.get("warc_ts") or dt.datetime(2024, 1, 1)
        ct = p.get("mime") or "text/html"
        if p.get("charset"):
            ct = f"{ct}; charset={p['charset']}"
        http = (
            f"HTTP/1.1 {p.get('http_status', 200)} OK\r\n"
            f"Content-Type: {ct}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("utf-8") + body
        out.append(record(
            [("WARC-Type", "response"),
             ("WARC-Target-URI", p["url"]),
             ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
             ("Content-Type", "application/http; msgtype=response")], http))
    with open(path, "wb") as f:
        if gzip_per_record:
            for rec in out:
                f.write(gzip.compress(rec))
        else:
            for rec in out:
                f.write(rec)


def read_warc(spark, path: str):
    """WARC segment files → pages DataFrame (url, warc_ts, html, text,
    lang) ready for run_extract.

    One file = one input task (binaryFile does not split), the Common-Crawl
    unit of work; the parse is a narrow Arrow stage with zero shuffle —
    downstream extraction adds its own salted repartition, which also
    defuses segment-size skew here. Non-HTML responses are kept (the
    extraction kernel dispatches on magic bytes); text/lang are null until
    extraction/lang-ID fill them. The HTTP envelope rides along as typed
    columns — ``http_status``/``mime`` for fetch-status filtering and
    ``charset`` (the transport Content-Type label), which run_extract
    threads into the HTML kernel's sniff_decode transport slot (WHATWG
    precedence: BOM > transport > meta > UTF-8).
    """
    return _read_records_df(
        spark, path, parse_warc,
        ["url", "warc_ts", "html", "text", "lang",
         "http_status", "mime", "charset"],
        lambda p: (p["url"], p["warc_ts"], p["body"], None, None,
                   p["http_status"], p["mime"], p["charset"]),
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, http_status int, mime string, charset string")


def _read_records_df(spark, path: str, parser, columns: list[str],
                     to_tuple, ddl: str):
    """Shared binaryFile → mapInPandas scaffold for the three segment
    readers (review finding — they were hand-copied clones): one file =
    one input task (binaryFile does not split, the Common-Crawl unit of
    work), the parse a narrow Arrow stage with zero shuffle, per-file
    degradation via each parser's bad counter."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path).select("content")

    def kernel(batches):
        for pdf in batches:
            rows = [to_tuple(r)
                    for content in pdf["content"]
                    for r in parser(bytes(content))[0]]
            yield pd.DataFrame(rows, columns=columns)

    return files.mapInPandas(kernel, ddl)


def read_wet(spark, path: str):
    """WET segment files → (url, warc_ts, text) DataFrame — the
    extracted-text side of the Common-Crawl triple (WARC holds the raw
    responses, WET the conversion records this engine's extraction
    emits). Same execution shape as read_warc: one file = one input
    task, narrow Arrow parse, zero shuffle."""
    return _read_records_df(
        spark, path, parse_wet, ["url", "warc_ts", "text"],
        lambda r: (r["url"], r["warc_ts"], r["text"]),
        "url string, warc_ts timestamp, text string")


def _record_to_wat_row(headers: dict[str, str],
                       block: bytes) -> tuple[dict | None, int]:
    """One WAT record → (row | None, bad). WAT files carry per-page
    METADATA as ``WARC-Type: metadata`` records with a JSON body (the
    Common-Crawl *.warc.wat.gz layout; this engine writes the documented
    flat subset {links, title, url})."""
    if headers.get("warc-type") != "metadata":
        return None, 0
    url = headers.get("warc-target-uri")
    if not url:
        return None, 1
    import json

    try:
        meta = json.loads(block.decode("utf-8", errors="replace"))
        if not isinstance(meta, dict):
            raise ValueError("WAT body is not a JSON object")
    # RecursionError: a deeply nested body (50k of '[') blows the parser
    # stack — without this it would escape the per-record degrade
    # contract and kill the whole Spark task (review finding)
    except (ValueError, RecursionError):
        return None, 1
    links = meta.get("links")
    if not (isinstance(links, list)
            and all(isinstance(x, str) for x in links)):
        links = []
    title = meta.get("title")
    return (
        {
            "url": url,
            "warc_ts": _parse_warc_ts(headers.get("warc-date", "")),
            "title": title if isinstance(title, str) else None,
            "links": links,
        },
        0,
    )


def parse_wat(data: bytes) -> tuple[list[dict], int]:
    """One WAT file's bytes → (rows, n_bad); each row: url, warc_ts,
    title (str|None), links (list[str] — the page's outlink URLs)."""
    return _parse_records(data, _record_to_wat_row)


def write_wat(path: str, rows: list[dict],
              gzip_per_record: bool = True) -> None:
    """Write per-page metadata as a WAT file (Common-Crawl *.warc.wat
    layout): a warcinfo header then one ``WARC-Type: metadata`` record
    per row with an ``application/json`` body — the twin of parse_wat.
    Each row dict needs url; optional title, links (list of outlink
    URLs), warc_ts. The JSON subset is flat {links, title, url} with
    sorted keys, deterministic byte-for-byte."""
    import json

    out: list[bytes] = [_warc_record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", "2024-01-01T00:00:00Z"),
         ("Content-Type", "application/warc-fields")],
        b"software: pyspark-webtext-extractor\r\n")]
    for r in rows:
        ts = r.get("warc_ts") or dt.datetime(2024, 1, 1)
        body = json.dumps(
            {"links": list(r.get("links") or []),
             "title": r.get("title"), "url": r["url"]},
            sort_keys=True, ensure_ascii=False).encode("utf-8")
        out.append(_warc_record(
            [("WARC-Type", "metadata"),
             ("WARC-Target-URI", r["url"]),
             ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
             ("Content-Type", "application/json")], body))
    with open(path, "wb") as f:
        for rec in out:
            f.write(gzip.compress(rec) if gzip_per_record else rec)


def read_wat(spark, path: str):
    """WAT segment files → (url, warc_ts, title, links) DataFrame — the
    metadata side of the Common-Crawl triple. Same execution shape as
    read_warc/read_wet: one file = one input task, narrow Arrow parse,
    zero shuffle."""
    return _read_records_df(
        spark, path, parse_wat, ["url", "warc_ts", "title", "links"],
        lambda r: (r["url"], r["warc_ts"], r["title"], r["links"]),
        "url string, warc_ts timestamp, title string, links array<string>")


def surt_key(url: str) -> str:
    """SURT-style canonical index key (the CDX sort key): lower-cased
    host with 'www.' stripped and labels REVERSED comma-joined, then
    ')' + path ('/' when empty) + ('?' + query when present). Subset of
    the public SURT spec (no per-scheme rules, query kept verbatim) —
    documented like the url-canonicalizer's subset."""
    import re as _re

    m = _re.match(r"(?i)^[a-z][a-z0-9+.-]*://([^/?#]+)([^?#]*)(?:\?([^#]*))?",
                  url.strip())
    if not m:
        return url.strip().lower()
    host = m.group(1).lower()
    if host.startswith("www."):
        host = host[4:]
    path = m.group(2) or "/"
    q = m.group(3)
    return (",".join(reversed(host.split("."))) + ")" + path
            + (f"?{q}" if q else ""))


def index_warc(data: bytes) -> tuple[list[dict], int]:
    """CDXJ-style index of one WARC segment: one entry per ``response``
    record with (surt, url, warc_ts, offset, length, digest) — the
    fourth Common-Crawl artifact, enabling random access into segments.

    For the per-record-gzip layout, offset/length address the COMPRESSED
    gzip member (the real CDX contract: a range request for
    [offset, offset+length) returns one independently decompressable
    member). For a plain segment they address the raw record bytes;
    ``parse_warc(data[offset:offset + length])`` reads either. digest = md5 hex of the
    unwrapped HTTP payload body (Common Crawl uses base32-SHA-1; md5
    here so the DuckDB oracle twin can recompute it — documented
    deviation, same role)."""
    import hashlib

    entries: list[dict] = []
    n_bad = 0

    def add(headers, block, offset: int, length: int) -> None:
        nonlocal n_bad
        page, bad = _record_to_page(headers, block)
        n_bad += bad
        if page is not None:
            entries.append({
                "surt": surt_key(page["url"]),
                "url": page["url"],
                "warc_ts": page["warc_ts"],
                "offset": offset,
                "length": length,
                "digest": hashlib.md5(page["body"]).hexdigest(),
            })

    try:
        if data[:2] == _GZIP_MAGIC:
            pos, n = 0, len(data)
            while pos < n:
                d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
                member = d.decompress(data[pos:], _MAX_MEMBER_BYTES)
                if d.unconsumed_tail:
                    raise ValueError("gzip member exceeds decompression cap")
                rest = d.unused_data
                next_pos = n - len(rest) if rest else n
                recs, bad = _split_records(member)
                n_bad += bad
                before = len(entries)
                for headers, block in recs:
                    add(headers, block, pos, next_pos - pos)
                if len(entries) - before > 1:
                    # a member with >1 response record (whole-file gzip, not
                    # the per-record CDX layout): every entry shares the
                    # member-wide span, so only the FIRST is random-access
                    # recoverable. Flag the degradation instead of silently
                    # half-indexing.
                    n_bad += 1
                if next_pos <= pos:
                    break
                pos = next_pos
        else:
            recs, bad = _split_records_spans(data)
            n_bad += bad
            for headers, block, start, end in recs:
                add(headers, block, start, end - start)
    except (zlib.error, ValueError, EOFError):
        return entries, n_bad + 1
    return entries, n_bad


def index_warc_files(spark, path: str):
    """WARC segment files → CDXJ index DataFrame (file, surt, url,
    warc_ts, offset, length, digest). Same execution shape as the
    readers: one file = one input task, narrow Arrow parse, zero
    shuffle — at Common-Crawl scale this job IS how the public cluster
    index gets built."""
    import pandas as pd

    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def kernel(batches):
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                entries, _bad = index_warc(bytes(content))
                rows.extend(
                    (fpath, e["surt"], e["url"], e["warc_ts"], e["offset"],
                     e["length"], e["digest"]) for e in entries)
            yield pd.DataFrame(rows, columns=[
                "file", "surt", "url", "warc_ts", "offset", "length",
                "digest"])

    return files.mapInPandas(
        kernel,
        "file string, surt string, url string, warc_ts timestamp, "
        "offset long, length long, digest string")
