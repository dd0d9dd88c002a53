"""WARC source (ISO 28500 grammar, Common-Crawl layout) and charset-sniff
decode: round-trip, malformed-data degradation, transport-vs-meta
precedence, and parity of WARC-ingested extraction with the parquet path."""
from __future__ import annotations

import datetime as dt
import gzip

from pdf_extractor_spark.kernels.html_kernel import extract_html, sniff_decode
from pdf_extractor_spark.sources import warc

TS = dt.datetime(2024, 3, 5, 12, 30, 0)


def _pages():
    return [
        {"url": "https://a.example/x", "warc_ts": TS, "http_status": 200,
         "mime": "text/html", "charset": "utf-8",
         "body": b"<html><p>hello world</p></html>"},
        {"url": "https://b.example/y", "warc_ts": TS, "http_status": 404,
         "body": b"<html><p>not found</p></html>"},
        {"url": "https://c.example/z", "warc_ts": TS,
         "mime": "application/pdf", "body": b"%PDF-1.4 fake"},
    ]


def test_warc_roundtrip_plain_and_gzip(tmp_path):
    for gz in (False, True):
        p = str(tmp_path / (f"seg-{gz}.warc" + (".gz" if gz else "")))
        warc.write_warc(p, _pages(), gzip_per_record=gz)
        got, n_bad = warc.parse_warc(open(p, "rb").read())
        assert n_bad == 0
        assert [g["url"] for g in got] == [p_["url"] for p_ in _pages()]
        for g, want in zip(got, _pages()):
            assert g["body"] == want["body"]
            assert g["warc_ts"] == TS
            assert g["http_status"] == want.get("http_status", 200)
        assert got[0]["charset"] == "utf-8"
        assert got[2]["mime"] == "application/pdf"


def test_warc_scanned_payloads_extract_via_ocr(tmp_path):
    """The crawl story end-to-end for the scanned tier: a WARC segment
    carrying a BMP scan and a scanned PDF round-trips through the WARC
    reader and extracts via OCR into the TEXT channel, while a JPEG
    record still dispatches to the needs-OCR quarantine row."""
    from pdf_extractor_spark.kernels.ocr_kernel import (
        render_scanned_pdf,
        render_text_bmp,
    )
    from pdf_extractor_spark.operators.extract import extract_document

    bmp_text = "WARC BMP SCAN 7."
    pdf_text = "WARC PDF SCAN 9."
    pages = [
        {"url": "https://s.example/scan.bmp", "warc_ts": TS,
         "mime": "image/bmp", "body": render_text_bmp(bmp_text, width=32)},
        {"url": "https://s.example/scan.pdf", "warc_ts": TS,
         "mime": "application/pdf", "body": render_scanned_pdf([pdf_text])},
        {"url": "https://s.example/photo.jpg", "warc_ts": TS,
         "mime": "image/jpeg", "body": b"\xff\xd8\xff\xe0" + b"\x00" * 32},
    ]
    p = str(tmp_path / "scans.warc.gz")
    warc.write_warc(p, pages, gzip_per_record=True)
    got, n_bad = warc.parse_warc(open(p, "rb").read())
    assert n_bad == 0 and [g["mime"] for g in got] == [
        "image/bmp", "application/pdf", "image/jpeg"]
    rows = {g["url"]: extract_document(g["body"]) for g in got}
    r_bmp = rows["https://s.example/scan.bmp"][0]
    assert r_bmp["meta"]["ok"] == "true" and r_bmp["text"] == bmp_text
    r_pdf = rows["https://s.example/scan.pdf"][0]
    assert r_pdf["meta"]["ok"] == "true" and r_pdf["text"] == pdf_text
    r_jpg = rows["https://s.example/photo.jpg"][0]
    assert r_jpg["meta"]["needs_ocr"] == "true"


def test_warc_malformed_degrades_not_raises():
    ok_pages, _ = warc.parse_warc(b"")
    assert ok_pages == []
    pages, n_bad = warc.parse_warc(b"NOT A WARC AT ALL")
    assert pages == [] and n_bad == 1
    # valid record followed by truncated garbage: keep the good one
    import io as _io
    buf = _io.BytesIO()
    warc.write_warc("/dev/null", [], gzip_per_record=False)  # smoke
    good = b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" \
           b"Content-Length: 4\r\n\r\nBODY\r\n\r\n"
    pages, n_bad = warc.parse_warc(good + b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort")
    assert len(pages) == 1 and pages[0]["body"] == b"BODY" and n_bad == 1
    # corrupt gzip
    pages, n_bad = warc.parse_warc(b"\x1f\x8b" + b"\x00" * 20)
    assert pages == [] and n_bad >= 1


def test_warc_http_body_gzip_content_encoding(tmp_path):
    body = b"<html><p>compressed page</p></html>"
    http = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\n\r\n") + gzip.compress(body)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://gz.example/\r\n"
           b"WARC-Date: 2024-03-05T12:30:00Z\r\n"
           b"Content-Type: application/http; msgtype=response\r\n"
           + f"Content-Length: {len(http)}\r\n\r\n".encode() + http + b"\r\n\r\n")
    pages, n_bad = warc.parse_warc(rec)
    assert n_bad == 0 and pages[0]["body"] == body


def test_read_warc_spark_matches_parse_and_extracts(spark, tmp_path):
    from pdf_extractor_spark.operators.extract import run_extract

    p = str(tmp_path / "seg.warc.gz")
    warc.write_warc(p, _pages(), gzip_per_record=True)
    df = warc.read_warc(spark, p)
    assert df.columns == ["url", "warc_ts", "html", "text", "lang",
                          "http_status", "mime", "charset"]
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == {p_["url"] for p_ in _pages()}
    assert bytes(rows["https://a.example/x"]["html"]) == _pages()[0]["body"]
    assert rows["https://a.example/x"]["warc_ts"] == TS
    # the WARC path feeds extraction identically to the parquet path
    out = run_extract(df.select("url", "warc_ts", "html"), num_partitions=2)
    got = {r["url"]: r for r in out.collect()}
    direct = extract_html(_pages()[0]["body"])
    assert got["https://a.example/x"]["text"] == direct["channels"]["text"]


def test_sniff_decode_precedence_and_labels():
    # BOM beats everything
    assert sniff_decode(b"\xef\xbb\xbfhi", "iso-8859-1") == ("hi", "utf-8")
    t, enc = sniff_decode("héllo".encode("utf-16-le")[0:0] + b"\xff\xfe"
                          + "héllo".encode("utf-16-le"))
    assert (t, enc) == ("héllo", "utf-16-le")
    # transport label beats meta
    payload = '<meta charset="utf-8"><p>caf\xe9</p>'.encode("latin-1")
    t, enc = sniff_decode(payload, "windows-1252")
    assert enc == "cp1252" and "café" in t
    # meta charset drives the decode when no transport label
    doc = '<html><meta charset="windows-1252"><p>s\xf6nderweg</p>'.encode("latin-1")
    t, enc = sniff_decode(doc)
    assert enc == "cp1252" and "sönderweg" in t
    # http-equiv form
    doc2 = (b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=iso-8859-1"><p>\xe9</p>')
    t, enc = sniff_decode(doc2)
    assert enc == "iso-8859-1" and "é" in t
    # unknown/hostile labels fall back to utf-8 (never codecs.lookup)
    assert sniff_decode(b'<meta charset="utf-7"><p>+ADw-x</p>')[1] == "utf-8"
    assert sniff_decode(b"plain", "no-such-charset")[1] == "utf-8"
    # beyond the 1024-byte sniff window: ignored
    far = b"<p>" + b"x" * 1100 + b'</p><meta charset="windows-1252">'
    assert sniff_decode(far)[1] == "utf-8"


def test_extract_html_charset_meta_key_and_unchanged_utf8():
    # utf-8 docs: identical output, NO encoding key (golden-parity guard)
    res = extract_html(b"<html><p>plain utf-8 doc</p></html>")
    assert "encoding" not in res["meta"]
    assert res["channels"]["text"] == "plain utf-8 doc"
    # declared cp1252 decodes correctly and is labeled
    doc = '<html><meta charset="windows-1252"><p>d\xe9j\xe0 vu</p>'.encode("latin-1")
    res = extract_html(doc)
    assert res["meta"]["encoding"] == "cp1252"
    assert "déjà vu" in res["channels"]["text"]


def test_warc_unicode_url_roundtrip(tmp_path):
    """Non-latin-1 WARC-Target-URIs (CJK/umlaut paths exist in real
    Common-Crawl) must write (UTF-8 per ISO 28500) and read back exactly —
    the latin-1 writer raised UnicodeEncodeError and aborted the file."""
    from pdf_extractor_spark.sources.warc import parse_warc, write_warc

    url = "https://example.com/für/中文"
    p = str(tmp_path / "u.warc.gz")
    write_warc(p, [{"url": url, "body": b"<html>x</html>"}])
    with open(p, "rb") as f:
        pages, n_bad = parse_warc(f.read())
    assert n_bad == 0 and len(pages) == 1
    assert pages[0]["url"] == url
    assert pages[0]["body"] == b"<html>x</html>"


def test_wet_roundtrip_and_type_filtering(tmp_path, spark):
    """WET (Common-Crawl conversion records): write_wet -> parse_wet is
    an exact text round-trip (UTF-8, per-record gzip), the warcinfo
    header and any response records in the same file are skipped, a
    conversion record without a target URI counts bad, and read_wet
    surfaces the rows through Spark."""
    import datetime as dt

    from pdf_extractor_spark.sources.warc import (
        _warc_record, parse_wet, read_wet, write_wet,
    )

    rows = [
        {"url": "https://a.example/x", "text": "hello wet world"},
        {"url": "https://b.example/y", "text": "päge twö 中文",
         "warc_ts": dt.datetime(2025, 6, 1, 12, 30)},
        {"url": "https://a.example/z", "text": ""},
    ]
    p = str(tmp_path / "seg.warc.wet.gz")
    write_wet(p, rows)
    got, n_bad = parse_wet(open(p, "rb").read())
    assert n_bad == 0
    assert [(r["url"], r["text"]) for r in got] == [
        (r["url"], r["text"]) for r in rows]
    assert got[1]["warc_ts"] == dt.datetime(2025, 6, 1, 12, 30)

    # a response record in the same bytes is structural for WET purposes;
    # a conversion record without a URI counts bad
    extra = (_warc_record(
        [("WARC-Type", "response"),
         ("WARC-Target-URI", "https://a.example/r"),
         ("Content-Type", "application/http; msgtype=response")],
        b"HTTP/1.1 200 OK\r\n\r\nhtml") + _warc_record(
        [("WARC-Type", "conversion"), ("Content-Type", "text/plain")],
        b"orphan text"))
    got2, n_bad2 = parse_wet(extra)
    assert got2 == [] and n_bad2 == 1

    sdf = read_wet(spark, str(tmp_path)).orderBy("url").collect()
    assert [(r["url"], r["text"]) for r in sdf] == sorted(
        (r["url"], r["text"]) for r in rows)


def test_wat_roundtrip_and_malformed_json(tmp_path, spark):
    """WAT (Common-Crawl metadata records): write_wat -> parse_wat
    round-trips {links, title, url} byte-deterministically, malformed
    JSON bodies and wrong-shape fields degrade per record (bad count /
    field reset, never a raise), and read_wat surfaces typed rows."""
    from pdf_extractor_spark.sources.warc import (
        _warc_record, parse_wat, read_wat, write_wat,
    )

    rows = [
        {"url": "https://a.example/x", "title": "Tïtle",
         "links": ["https://c.example/1", "https://b.example/2"]},
        {"url": "https://a.example/y", "links": []},  # no title
    ]
    p = str(tmp_path / "seg.warc.wat.gz")
    write_wat(p, rows)
    got, n_bad = parse_wat(open(p, "rb").read())
    assert n_bad == 0
    assert [(r["url"], r["title"], r["links"]) for r in got] == [
        ("https://a.example/x", "Tïtle",
         ["https://c.example/1", "https://b.example/2"]),
        ("https://a.example/y", None, []),
    ]

    # malformed JSON -> bad; non-list links / non-string title -> reset
    bad = (_warc_record(
        [("WARC-Type", "metadata"),
         ("WARC-Target-URI", "https://m/1"),
         ("Content-Type", "application/json")], b"{not json") + _warc_record(
        [("WARC-Type", "metadata"),
         ("WARC-Target-URI", "https://m/2"),
         ("Content-Type", "application/json")],
        b'{"links": "nope", "title": 7, "url": "https://m/2"}'))
    got2, n_bad2 = parse_wat(bad)
    assert n_bad2 == 1
    assert [(r["url"], r["title"], r["links"]) for r in got2] == [
        ("https://m/2", None, [])]

    sdf = read_wat(spark, str(tmp_path)).orderBy("url").collect()
    assert [(r["url"], r["title"], list(r["links"])) for r in sdf] == [
        ("https://a.example/x", "Tïtle",
         ["https://c.example/1", "https://b.example/2"]),
        ("https://a.example/y", None, []),
    ]


def test_transport_charset_threads_from_warc_to_extraction(tmp_path, spark):
    """End-to-end WHATWG transport precedence: a WARC response declaring
    charset=iso-8859-1 ONLY in the HTTP Content-Type header (no BOM, no
    meta tag) must decode its latin-1 bytes correctly through
    read_warc -> run_extract; the same bytes WITHOUT the transport label
    mojibake under the utf-8 fallback — proving the column is load-
    bearing, not decorative."""
    from pdf_extractor_spark.operators.extract import run_extract

    body = "<html><body><p>café crème naïveté über</p></body></html>".encode(
        "iso-8859-1")
    p = str(tmp_path / "seg.warc.gz")
    warc.write_warc(p, [{
        "url": "https://l1.example/x", "body": body,
        "mime": "text/html", "charset": "iso-8859-1",
    }])
    df = warc.read_warc(spark, p)
    row = df.collect()[0]
    assert row["charset"] == "iso-8859-1"
    assert row["mime"] == "text/html" and row["http_status"] == 200

    out = run_extract(df, num_partitions=2).collect()[0]
    assert "café crème naïveté über" in out["text"]
    # the envelope column is what carried the label: same frame without
    # it falls back to utf-8 replacement decoding
    bad = run_extract(df.select("url", "warc_ts", "html"),
                      num_partitions=2).collect()[0]
    assert "café" not in bad["text"] and "caf" in bad["text"]


def test_wat_deeply_nested_json_degrades_per_record():
    """A 50k-deep nested JSON body must count as ONE bad record (the
    parser's RecursionError is part of the degrade contract), not kill
    the whole parse."""
    from pdf_extractor_spark.sources.warc import _warc_record, parse_wat

    bomb = _warc_record(
        [("WARC-Type", "metadata"),
         ("WARC-Target-URI", "https://deep/1"),
         ("Content-Type", "application/json")], b"[" * 50000)
    good = _warc_record(
        [("WARC-Type", "metadata"),
         ("WARC-Target-URI", "https://ok/2"),
         ("Content-Type", "application/json")],
        b'{"links": [], "title": "t", "url": "https://ok/2"}')
    rows, n_bad = parse_wat(bomb + good)
    assert n_bad == 1
    assert [(r["url"], r["title"]) for r in rows] == [("https://ok/2", "t")]


def test_cdx_index_random_access_and_surt(tmp_path, spark):
    """CDXJ index (the fourth Common-Crawl artifact): every entry's
    (offset, length) slices back to exactly its record — gzip members
    AND plain record byte-ranges — the digest matches the payload, the
    SURT key reverses host labels with www stripped, and the Spark
    index job surfaces typed rows."""
    import hashlib

    pages = [
        {"url": "https://www.Example.com/a/b?x=1",
         "body": b"<html>one</html>"},
        {"url": "https://sub.site.org/p", "body": b"<html>two</html>"},
        {"url": "https://site.org/q", "body": b"<html>three</html>"},
    ]
    for gz in (True, False):
        p = str(tmp_path / ("seg-%s.warc%s" % (gz, ".gz" if gz else "")))
        warc.write_warc(p, pages, gzip_per_record=gz)
        data = open(p, "rb").read()
        idx, n_bad = warc.index_warc(data)
        assert n_bad == 0 and [e["url"] for e in idx] == [
            p_["url"] for p_ in pages]
        for e, want in zip(idx, pages):
            recs, bad = warc.parse_warc(
                data[e["offset"]:e["offset"] + e["length"]])
            assert bad == 0 and len(recs) == 1
            rec = recs[0]
            assert rec["url"] == e["url"]
            assert rec["body"] == want["body"]
            assert e["digest"] == hashlib.md5(want["body"]).hexdigest()
    assert [e["surt"] for e in idx] == [
        "com,example)/a/b?x=1", "org,site,sub)/p", "org,site)/q"]
    assert warc.surt_key("not a url") == "not a url"

    # truncated tail: the good prefix indexes, one bad counted
    cut = data[: idx[-1]["offset"] + 10]
    idx2, n_bad2 = warc.index_warc(cut)
    assert [e["url"] for e in idx2] == [p_["url"] for p_ in pages[:2]]
    assert n_bad2 == 1

    sdf = warc.index_warc_files(spark, str(tmp_path)).orderBy(
        "file", "offset").collect()
    assert len(sdf) == 6  # both files indexed
    assert {r["surt"] for r in sdf} == {
        "com,example)/a/b?x=1", "org,site,sub)/p", "org,site)/q"}
    assert all(r["length"] > 0 and r["offset"] >= 0 for r in sdf)


def test_cdx_index_flags_whole_file_gzip(tmp_path):
    """A valid WARC compressed as ONE whole-file gzip stream (not
    per-record members) gives every index entry the member-wide
    (offset, length), whose slice parses to the member's FIRST response
    only; index_warc must flag that member as degraded (n_bad > 0)."""
    import gzip as _gzip

    pages = [{"url": f"https://w.example/{i}",
              "body": f"<html>w{i}</html>".encode()} for i in range(4)]
    raw = tmp_path / "raw.warc"
    warc.write_warc(str(raw), pages, gzip_per_record=False)
    whole = _gzip.compress(raw.read_bytes())

    entries, n_bad = warc.index_warc(whole)
    assert len(entries) == 4          # all responses indexed...
    assert n_bad >= 1                 # ...but the layout is flagged
    assert len({(e["offset"], e["length"]) for e in entries}) == 1
    e = entries[0]
    recs, _bad = warc.parse_warc(whole[e["offset"]:e["offset"] + e["length"]])
    assert recs[0]["url"] == "https://w.example/0"
