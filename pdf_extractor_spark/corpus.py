"""Deterministic synthetic corpus generator (FIXTURES.md §1-2).

Generates the Common-Crawl-style ``pages`` input table
(url, warc_ts, html:binary, text, lang) and the ``golden`` fixture table
(url, expected_text, expected_pages, expected_spans) from a fixed seed.

The generator computes goldens **by construction** — it knows what main
content it embedded and applies the frozen channel-assembly rules
(blocks joined "\n\n", table rows pipe-joined, lines "\n") independently of
the kernels, so golden tests actually validate the kernels.

Payload families (FIXTURES.md §1): article, table page, list/heading page,
boilerplate-heavy, multilingual, degenerate HTML; and PDF families simple,
multi-page, out-of-order runs, FlateDecode, degenerate. URL host distribution
is skewed (a few hosts own ~30% of rows) so salted repartitioning is
exercised (SURVEY.md §4).
"""
from __future__ import annotations

import datetime as dt
import random
import struct
import zlib
from dataclasses import dataclass, field

from pdf_extractor_spark.kernels.lang import detect_lang

WORDS = {
    "en": ("the data engine reads every page and keeps the main content while "
           "it drops the navigation noise for a clean corpus that we can use "
           "to train a model on text from the web").split(),
    "de": ("der motor liest die seite und behält den inhalt aber nicht das "
           "menü damit wir einen sauberen korpus für das training mit text "
           "aus dem netz haben und die qualität der daten gut ist").split(),
    "fr": ("le moteur lit la page et garde le contenu mais pas le menu pour "
           "un corpus propre que nous pouvons utiliser avec du texte du web "
           "et la qualité des données est bien").split(),
    "es": ("el motor lee la página y guarda el contenido pero no el menú "
           "para un corpus limpio que podemos usar con texto de la web y la "
           "calidad de los datos es muy buena").split(),
}

NAV_LINKS = ["Home", "About", "Products", "Pricing", "Contact", "Blog", "Careers", "Login"]
HOSTS_HOT = ["bighost-a.example.com", "bighost-b.example.com"]
HOSTS_COLD = [f"site-{i:03d}.example.org" for i in range(40)]

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _sentence(rng: random.Random, lang: str, n_words: int) -> str:
    ws = WORDS[lang]
    return " ".join(rng.choice(ws) for _ in range(n_words))


def _paragraph(rng: random.Random, lang: str) -> str:
    return " ".join(
        _sentence(rng, lang, rng.randint(6, 14)).capitalize() + "."
        for _ in range(rng.randint(2, 4))
    )


@dataclass
class Doc:
    url: str
    warc_ts: dt.datetime
    html: bytes | None
    text: str | None
    lang: str | None
    family: str
    expected_text: str  # expected `text` channel (blocks joined "\n\n")
    expected_table: str = ""
    expected_combined: str = ""
    expected_markdown: str = ""
    expected_pages: list[tuple[int, str]] = field(default_factory=list)
    expected_spans: list[tuple[int, int, str]] = field(default_factory=list)
    expected_ok: bool = True


def _nav_html() -> str:
    links = "".join(f'<a href="/{w.lower()}">{w}</a> ' for w in NAV_LINKS)
    return f"<nav><ul>{''.join(f'<li><a href=#>{w}</a></li>' for w in NAV_LINKS)}</ul></nav><header><h1>{links}</h1></header>"


def _sidebar_html() -> str:
    items = "".join(
        f'<li><a href="/r/{i}">Related story number {i} read more</a></li>' for i in range(8)
    )
    return f'<div class="sidebar"><ul>{items}</ul></div>'


def _footer_html() -> str:
    return "<footer><p>Copyright 2024 Example Corp. All rights reserved. Terms Privacy Cookies</p></footer>"


def _wrap(body: str) -> bytes:
    return f"<!DOCTYPE html><html><head><title>t</title><style>p{{x}}</style></head><body>{body}</body></html>".encode()


def _spans_for(paras: list[str]) -> list[tuple[int, int, str]]:
    """Golden spans pin SEGMENTATION (byte offsets) plus the kernel's own
    deterministic lang label. The label deliberately comes from detect_lang
    (short headings/snippets have no reliable truth), so span goldens are a
    determinism pin, NOT a lang-accuracy gate — accuracy is gated
    independently in tests/test_kernels_golden.py
    (test_detect_lang_accuracy_on_generated_paragraphs) against the
    generator's true language on full paragraphs."""
    spans = []
    pos = 0
    for p in paras:
        spans.append((pos, pos + len(p), detect_lang(p)))
        pos += len(p) + 2
    return spans


def gen_article(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lang = rng.choice(["en", "en", "en", "de", "fr", "es"])
    paras = [_paragraph(rng, lang) for _ in range(rng.randint(2, 5))]
    body = (
        _nav_html()
        + "<article>"
        + "".join(f"<p>{p}</p>" for p in paras)
        + "</article>"
        + _sidebar_html()
        + _footer_html()
    )
    expected = "\n\n".join(paras)
    return Doc(url, ts, _wrap(body), None, lang, "article", expected,
               expected_combined=expected, expected_markdown=expected,
               expected_spans=_spans_for(paras))


def gen_table_page(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lang = "en"
    intro = _paragraph(rng, lang)
    rows = [[f"r{r}c{c}" for c in range(3)] for r in range(rng.randint(2, 4))]
    table_html = "<table>" + "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in rows
    ) + "</table>"
    outro = _paragraph(rng, lang)
    body = _nav_html() + f"<article><p>{intro}</p>{table_html}<p>{outro}</p></article>" + _footer_html()
    table_txt = "\n".join(" | ".join(r) for r in rows)
    expected_text = intro + "\n\n" + outro
    combined = intro + "\n\n" + table_txt + "\n\n" + outro
    return Doc(url, ts, _wrap(body), None, lang, "table", expected_text,
               expected_table=table_txt, expected_combined=combined,
               expected_markdown=combined,
               expected_spans=_spans_for([intro, outro]))


def gen_list_page(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lang = "en"
    h1 = _sentence(rng, lang, 4).capitalize()
    h2 = _sentence(rng, lang, 5).capitalize()
    items = [_sentence(rng, lang, rng.randint(4, 8)).capitalize() for _ in range(rng.randint(3, 5))]
    para = _paragraph(rng, lang)
    body = (
        _nav_html()
        + f"<main><h1>{h1}</h1><p>{para}</p><h2>{h2}</h2><ul>"
        + "".join(f"<li>{i}</li>" for i in items)
        + "</ul></main>"
        + _footer_html()
    )
    parts = [h1, para, h2] + items
    expected = "\n\n".join(parts)
    md = "\n\n".join(["# " + h1, para, "## " + h2] + ["- " + i for i in items])
    return Doc(url, ts, _wrap(body), None, lang, "list", expected,
               expected_combined=expected, expected_markdown=md,
               expected_spans=_spans_for(parts))


def gen_boilerplate_heavy(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lang = "en"
    main = _sentence(rng, lang, rng.randint(8, 12)).capitalize() + "."
    banners = "".join(
        f'<div><a href="/x{i}">{" ".join(rng.choice(NAV_LINKS) for _ in range(6))}</a></div>'
        for i in range(10)
    )
    cookie = '<div id="cookie"><a href="#">Accept all cookies</a><a href="#">Reject</a></div>'
    body = _nav_html() + banners + cookie + f"<div><p>{main}</p></div>" + _sidebar_html() + _footer_html()
    return Doc(url, ts, _wrap(body), None, lang, "boilerplate", main,
               expected_combined=main, expected_markdown=main,
               expected_spans=_spans_for([main]))


def gen_multilingual(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    langs = rng.sample(["en", "de", "fr", "es"], k=3)
    paras = [_paragraph(rng, lg) for lg in langs]
    body = _nav_html() + "<article>" + "".join(f"<p>{p}</p>" for p in paras) + "</article>" + _footer_html()
    expected = "\n\n".join(paras)
    return Doc(url, ts, _wrap(body), None, langs[0], "multilingual", expected,
               expected_combined=expected, expected_markdown=expected,
               expected_spans=_spans_for(paras))


def gen_degenerate_html(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    kind = rng.choice(["empty_body", "empty_bytes", "malformed", "entities"])
    if kind == "empty_bytes":
        return Doc(url, ts, b"", None, None, "degenerate", "", expected_ok=False)
    if kind == "empty_body":
        return Doc(url, ts, _wrap(""), None, None, "degenerate", "", expected_ok=False)
    if kind == "malformed":
        txt = "Broken but readable text survives."
        body = f"<div><p>{txt}<div><span>"
        return Doc(url, ts, _wrap(body), None, "en", "degenerate", txt,
                   expected_combined=txt, expected_markdown=txt,
                   expected_spans=_spans_for([txt]))
    txt_raw = "Fish &amp; chips &lt;cost&gt; 5&#8364; &quot;cheap&quot;"
    txt = 'Fish & chips <cost> 5€ "cheap"'
    return Doc(url, ts, _wrap(f"<p>{txt_raw}</p>"), None, "en", "degenerate", txt,
               expected_combined=txt, expected_markdown=txt,
               expected_spans=_spans_for([txt]))


# ---------------------------------------------------------------------------
# PDF builders (operator subset matches pdf_kernel: BT/Tf/Td/TD/Tm/T*/Tj/TJ)
# ---------------------------------------------------------------------------

def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """PDF LZWDecode encoder twin (PDF 2.0 §7.4.4 bit layout = TIFF 6.0
    §13): MSB-first, leading Clear (256), EOD (257), 12-bit table cap with
    in-stream reset. ``early_change=1`` (the PDF default) grows the WRITE
    width when the next free code equals 2^width — the decoder's table
    lags this one by exactly one entry, so its threshold of 2^w − 1 pairs
    with 2^w here (the same lag documented in the TIFF/JPEG kernels);
    ``early_change=0`` pairs encoder 2^w + 1 with decoder 2^w."""
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    emit(256, width)
    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        if nxt == (1 << width) + (1 - early_change) and width < 12:
            width += 1
        elif nxt >= 4094:  # 12-bit table nearly full: in-stream reset
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(257, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rle_encode(data: bytes) -> bytes:
    """RunLengthDecode encoder twin (PDF 2.0 §7.4.5): literal/run
    alternation (the PackBits shape — runs ≥ 3 bytes pay) terminated by
    the 128 EOD byte the PDF flavor requires."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit = i
        while i < n and i - lit < 128:
            run = 1
            while i + run < n and run < 3 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    out.append(128)  # EOD
    return bytes(out)


def build_pdf(page_runs: list[list[tuple[float, float, str]]],
              compress: bool | str = False) -> bytes:
    """Minimal single-font PDF with one content stream per page.

    page_runs: per page, list of (x, y, text) runs emitted in the given
    order (callers may scramble the order; coordinates define reading order).

    ``compress`` picks the content-stream filter: False = none, True or
    ``"flate"`` = /FlateDecode, ``"lzw"`` = /LZWDecode (EarlyChange 1, the
    spec default — no DecodeParms written), ``"lzw0"`` = /LZWDecode with
    an explicit ``/DecodeParms << /EarlyChange 0 >>``, ``"rle"`` =
    /RunLengthDecode — the lossless filter set pre-1.2 writers and
    scan-to-PDF paths actually emit.
    """
    objs: list[bytes] = []
    n_pages = len(page_runs)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, runs in enumerate(page_runs):
        content_ref = 4 + 2 * i
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents {content_ref} 0 R >>".encode()
        )
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_pdf_escape(text)}) Tj")
        ops.append("ET")
        stream = "\n".join(ops).encode("latin-1")
        if compress:
            if compress in (True, "flate"):
                comp, filt = zlib.compress(stream), b" /Filter /FlateDecode"
            elif compress == "lzw":
                comp, filt = _lzw_encode(stream), b" /Filter /LZWDecode"
            elif compress == "lzw0":
                comp = _lzw_encode(stream, early_change=0)
                filt = (b" /Filter /LZWDecode"
                        b" /DecodeParms << /EarlyChange 0 >>")
            elif compress == "rle":
                comp, filt = _rle_encode(stream), b" /Filter /RunLengthDecode"
            else:
                raise ValueError(f"unknown compress flavor {compress!r}")
            objs.append(
                b"<< /Length " + str(len(comp)).encode() + filt
                + b" >>\nstream\n" + comp + b"\nendstream"
            )
        else:
            objs.append(
                b"<< /Length " + str(len(stream)).encode() + b" >>\nstream\n"
                + stream + b"\nendstream"
            )
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\nstartxref\n{xref_at}\n%%EOF\n".encode()
    )
    return bytes(out)


def build_pdf_encrypted(page_runs: list[list[tuple[float, float, str]]],
                        r: int = 3, user_pw: bytes = b"",
                        compress: bool = False) -> bytes:
    """The classic ``build_pdf`` layout under the Standard security
    handler, owner password "owner", user password EMPTY by default — the
    "protected but readable" shape a web corpus carries in volume and the
    reference's PyPDF2 path opens via decrypt(''). Revisions:

      * ``r=2`` / ``r=3`` — legacy RC4 V1 (40-bit) / V2 (128-bit),
        ISO 32000-1 §7.6.3
      * ``r=4`` — V4 crypt filters with /CFM /AESV2 (AES-128-CBC, IV
        prefix + PKCS#7), ISO 32000-1 §7.6.5
      * ``r=5`` / ``r=6`` — V5 /AESV3 (AES-256; SHA-2 password hash —
        single SHA-256 for R5, Algorithm 2.B for R6 — /UE key wrap,
        /Perms), ISO 32000-2 §7.6.4

    Every content stream is encrypted with its per-object (RC4/AESV2) or
    file-wide (AESV3) key; the layout has no top-level strings, so stream
    encryption alone is fully spec-compliant. IVs and salts are derived
    deterministically from the content so the corpus is reproducible.
    A non-empty ``user_pw`` produces a genuinely locked file (the reader
    must quarantine it as password-required)."""
    import hashlib
    import struct

    from pdf_extractor_spark.kernels import aes as _aes
    from pdf_extractor_spark.kernels.pdf_kernel import (
        _obj_key,
        _rc4,
        _std_file_key,
        _std_owner_entry,
        _std_user_entry,
    )

    if r not in (2, 3, 4, 5, 6):
        raise ValueError(f"unsupported revision {r}")
    owner_pw = b"owner"
    p = -4  # all permissions granted (the common all-bits value)
    id0 = hashlib.md5(
        repr(page_runs).encode() + bytes([r])).digest()  # deterministic

    extra_entries = b""
    if r in (2, 3, 4):
        v, length = {2: (1, 40), 3: (2, 128), 4: (4, 128)}[r]
        o_entry = _std_owner_entry(owner_pw, user_pw, r, length // 8)
        key = _std_file_key(user_pw, o_entry, p, id0, r, length // 8)
        u_entry = _std_user_entry(key, id0, r)
        if r == 4:
            extra_entries = (
                b" /CF << /StdCF << /CFM /AESV2 /Length 16"
                b" /AuthEvent /DocOpen >> >>"
                b" /StmF /StdCF /StrF /StdCF")

            def enc_stream(num: int, stream: bytes) -> bytes:
                iv = hashlib.md5(stream + str(num).encode()).digest()
                return iv + _aes.cbc_encrypt(
                    _obj_key(key, num, 0, aes=True), iv,
                    _aes.pkcs7_pad(stream))
        else:
            def enc_stream(num: int, stream: bytes) -> bytes:
                return _rc4(_obj_key(key, num, 0), stream)
    else:
        v, length = 5, 256
        seed = hashlib.sha256(repr(page_runs).encode() + bytes([r]))
        file_key = seed.digest()
        # Salt CLASS is bounded (2 classes), not per-file: Algorithm 2.B
        # is deliberately slow (~0.2 s per derivation in the from-scratch
        # kernel), and content-derived per-file salts made a synthetic
        # corpus pay the full KDF per FILE on both write and read (q26 at
        # sf0.1 regressed 2 s → 949 s). Real files carry random salts, but
        # salt reuse is spec-valid; bounding the classes keeps hash_2b's
        # lru_cache effective corpus-wide while still exercising several
        # distinct derivations. The FILE key stays content-derived (it is
        # wrapped, not KDF'd — per-file diversity where it matters).
        # (2 classes × 2 salts × 2 passwords = 8 cold derivations ≈ 1.8 s
        # per fresh Python worker — the bench-visible warmup floor)
        salt_class = seed.digest()[0] % 2
        salts = hashlib.sha256(b"salts" + bytes([r, salt_class])).digest()
        vs_u, ks_u, vs_o, ks_o = (salts[0:8], salts[8:16],
                                  salts[16:24], salts[24:32])

        def _pw_hash(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
            if r == 5:
                return hashlib.sha256(pw + salt + udata).digest()
            return _aes.hash_2b(pw, salt, udata)

        u_entry = _pw_hash(user_pw, vs_u) + vs_u + ks_u
        ue = _aes.cbc_encrypt(_pw_hash(user_pw, ks_u), b"\x00" * 16,
                              file_key)
        o_entry = _pw_hash(owner_pw, vs_o, u_entry) + vs_o + ks_o
        oe = _aes.cbc_encrypt(_pw_hash(owner_pw, ks_o, u_entry),
                              b"\x00" * 16, file_key)
        perms_plain = (struct.pack("<i", p) + b"\xff\xff\xff\xff"
                       + b"Tadb" + salts[:4])
        perms = _aes.encrypt_block(file_key, perms_plain)
        extra_entries = (
            b" /CF << /StdCF << /CFM /AESV3 /Length 32"
            b" /AuthEvent /DocOpen >> >>"
            b" /StmF /StdCF /StrF /StdCF"
            b" /OE <" + oe.hex().encode().upper() + b">"
            b" /UE <" + ue.hex().encode().upper() + b">"
            b" /Perms <" + perms.hex().encode().upper() + b">")

        def enc_stream(num: int, stream: bytes) -> bytes:
            iv = hashlib.md5(stream + str(num).encode()).digest()
            return iv + _aes.cbc_encrypt(file_key, iv,
                                         _aes.pkcs7_pad(stream))

    objs: list[bytes] = []
    n_pages = len(page_runs)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, runs in enumerate(page_runs):
        content_ref = 4 + 2 * i
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f" /Contents {content_ref} 0 R >>".encode())
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_pdf_escape(text)}) Tj")
        ops.append("ET")
        stream = "\n".join(ops).encode("latin-1")
        filt = b""
        if compress:
            stream, filt = zlib.compress(stream), b" /Filter /FlateDecode"
        enc = enc_stream(content_ref, stream)
        objs.append(b"<< /Length " + str(len(enc)).encode() + filt
                    + b" >>\nstream\n" + enc + b"\nendstream")
    enc_num = len(objs) + 1
    objs.append(
        b"<< /Filter /Standard /V %d /R %d /Length %d /P %d /O <%s> /U <%s>%s >>"
        % (v, r, length, p, o_entry.hex().encode().upper(),
           u_entry.hex().encode().upper(), extra_entries))
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R"
        b" /ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, enc_num, id0.hex().encode().upper(),
           id0.hex().encode().upper(), xref_at))
    return bytes(out)


def build_pdf_objstm(page_runs: list[list[tuple[float, float, str]]]) -> bytes:
    """The PDF 1.5 layout of ``build_pdf``: every NON-stream object
    (catalog, pages node, page dicts) packed into one Flate-compressed
    /Type /ObjStm container, content streams top-level, and a cross-
    reference STREAM (/Type /XRef, W [1 2 2]: type-1 offsets for
    top-level objects, type-2 (container, index) entries for members) in
    place of the classic xref table + trailer — the layout pdf writers
    default to since 1.5. Same text, same reading order."""
    n_pages = len(page_runs)
    streams: list[bytes] = []
    for runs in page_runs:
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_pdf_escape(text)}) Tj")
        ops.append("ET")
        s = "\n".join(ops).encode("latin-1")
        streams.append(
            b"<< /Length " + str(len(s)).encode() + b" >>\nstream\n"
            + s + b"\nendstream")
    # numbering: content streams 1..P; ObjStm P+1; xref stream P+2;
    # members (inside the ObjStm): catalog P+3, pages node P+4,
    # page dicts P+5..P+4+P
    objstm_num = n_pages + 1
    xref_num = n_pages + 2
    cat_num = n_pages + 3
    pages_num = n_pages + 4
    page_nums = [pages_num + 1 + i for i in range(n_pages)]
    members: list[tuple[int, bytes]] = [
        (cat_num, f"<< /Type /Catalog /Pages {pages_num} 0 R >>".encode()),
        (pages_num, ("<< /Type /Pages /Kids ["
                     + " ".join(f"{p} 0 R" for p in page_nums)
                     + f"] /Count {n_pages} >>").encode()),
    ]
    for i, pnum in enumerate(page_nums):
        members.append((pnum, (
            f"<< /Type /Page /Parent {pages_num} 0 R"
            f" /MediaBox [0 0 612 792] /Contents {i + 1} 0 R >>").encode()))
    bodies = b" ".join(b for _, b in members)
    offsets, pos = [], 0
    for _, b in members:
        offsets.append(pos)
        pos += len(b) + 1
    header = " ".join(f"{num} {off}"
                      for (num, _), off in zip(members, offsets)).encode() + b"\n"
    stm_data = zlib.compress(header + bodies)
    objstm = (b"<< /Type /ObjStm /N " + str(len(members)).encode()
              + b" /First " + str(len(header)).encode()
              + b" /Filter /FlateDecode /Length "
              + str(len(stm_data)).encode() + b" >>\nstream\n"
              + stm_data + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}
    for num, body in list(enumerate(streams, start=1)) + [(objstm_num, objstm)]:
        top_offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"

    size = page_nums[-1] + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += struct.pack(">BIH", 0, 0, 65535)
        elif num in top_offsets:
            rows += struct.pack(">BIH", 1, top_offsets[num], 0)
        elif num == xref_num:
            rows += struct.pack(">BIH", 1, 0, 0)  # patched below
        else:  # an ObjStm member: (container, index-in-container)
            idx = next(i for i, (m, _) in enumerate(members) if m == num)
            rows += struct.pack(">BIH", 2, objstm_num, idx)
    xref_at = len(out)
    struct.pack_into(">I", rows, xref_num * 7 + 1, xref_at)
    xref_data = zlib.compress(bytes(rows))
    out += (f"{xref_num} 0 obj\n".encode()
            + (b"<< /Type /XRef /Size " + str(size).encode()
               + b" /W [1 4 2] /Root " + str(cat_num).encode()
               + b" 0 R /Filter /FlateDecode /Length "
               + str(len(xref_data)).encode() + b" >>\nstream\n"
               + xref_data + b"\nendstream")
            + b"\nendobj\n")
    out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    return bytes(out)


def _cmap_stream(codes: list[tuple[int, str]]) -> bytes:
    """A /ToUnicode CMap body mapping 2-byte codes to UTF-16BE chars."""
    ents = "\n".join(
        "<%04X> <%s>" % (code, ch.encode("utf-16-be").hex().upper())
        for code, ch in codes)
    return ("/CIDInit /ProcSet findresource begin\n"
            "12 dict begin begincmap\n"
            "1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            f"{len(codes)} beginbfchar\n{ents}\nendbfchar\n"
            "endcmap CMapName currentdict /CMap defineresource pop "
            "end end").encode("latin-1")


def build_pdf_type0(page_runs: list[list[tuple[float, float, str]]]) -> bytes:
    """``build_pdf`` with a SUBSET Type0 font: show strings are 2-byte
    glyph codes assigned in first-appearance order (the shape every
    embedded-subset-font PDF has — the bytes mean nothing without the
    font's /ToUnicode CMap, which this builder embeds). Exercises the
    kernel's CMap path end-to-end; same text, same reading order."""
    code_of: dict[str, int] = {}
    for runs in page_runs:
        for _, _, text in runs:
            for ch in text:
                code_of.setdefault(ch, len(code_of) + 1)
    objs: list[bytes] = []
    n_pages = len(page_runs)
    # 1 catalog, 2 pages, per page (page, content) -> 3+2i / 4+2i,
    # then font / descendant / tounicode
    font_num = 3 + 2 * n_pages
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, runs in enumerate(page_runs):
        objs.append((
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
            f" /Contents {4 + 2 * i} 0 R >>").encode())
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            hexcodes = "".join("%04X" % code_of[ch] for ch in text)
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"<{hexcodes}> Tj")
        ops.append("ET")
        s = "\n".join(ops).encode("latin-1")
        objs.append(b"<< /Length " + str(len(s)).encode()
                    + b" >>\nstream\n" + s + b"\nendstream")
    objs.append((
        f"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Synth"
        f" /Encoding /Identity-H /DescendantFonts [{font_num + 1} 0 R]"
        f" /ToUnicode {font_num + 2} 0 R >>").encode())
    objs.append(b"<< /Type /Font /Subtype /CIDFontType2"
                b" /BaseFont /AAAAAA+Synth >>")
    cmap = _cmap_stream(sorted((c, ch) for ch, c in code_of.items()))
    objs.append(b"<< /Length " + str(len(cmap)).encode()
                + b" >>\nstream\n" + cmap + b"\nendstream")
    return _assemble_classic(objs)


# reverse AGL for the Differences builder: char -> glyph name (letters and
# digits use their conventional names; anything absent keeps its latin-1
# byte and needs no Differences entry)
_AGL_NAME_OF = {
    " ": "space", ".": "period", ",": "comma", "-": "hyphen",
    "'": "quotesingle", "?": "question", "!": "exclam", ":": "colon",
    ";": "semicolon", "(": "parenleft", ")": "parenright",
    **{d: n for d, n in zip("0123456789",
                            ["zero", "one", "two", "three", "four", "five",
                             "six", "seven", "eight", "nine"])},
    **{c: c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"},
}


def build_pdf_differences(
    page_runs: list[list[tuple[float, float, str]]],
) -> bytes:
    """``build_pdf`` with a simple font whose /Encoding /Differences array
    REMAPS every nameable character to a high byte (128+k in appearance
    order): the show-string bytes are wrong under latin-1 and only the
    Differences table recovers the text — the non-standard-encoding shape
    the reference's PyPDF2 tier resolves. Same text, same reading order."""
    code_of: dict[str, int] = {}
    for runs in page_runs:
        for _, _, text in runs:
            for ch in text:
                if ch in _AGL_NAME_OF and ch not in code_of \
                        and len(code_of) < 127:
                    code_of[ch] = 128 + len(code_of)
    objs: list[bytes] = []
    n_pages = len(page_runs)
    font_num = 3 + 2 * n_pages
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objs.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    for i, runs in enumerate(page_runs):
        objs.append((
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
            f" /Contents {4 + 2 * i} 0 R >>").encode())
        ops = ["BT", "/F1 12 Tf"]
        for x, y, text in runs:
            enc = "".join(chr(code_of.get(ch, ord(ch))) for ch in text)
            ops.append(f"1 0 0 1 {x:g} {y:g} Tm")
            ops.append(f"({_pdf_escape(enc)}) Tj")
        ops.append("ET")
        s = "\n".join(ops).encode("latin-1")
        objs.append(b"<< /Length " + str(len(s)).encode()
                    + b" >>\nstream\n" + s + b"\nendstream")
    diffs = " ".join(
        f"{code} /{_AGL_NAME_OF[ch]}"
        for ch, code in sorted(code_of.items(), key=lambda kv: kv[1]))
    objs.append((
        f"<< /Type /Font /Subtype /Type1 /BaseFont /Synth"
        f" /Encoding << /Type /Encoding /Differences [{diffs}] >> >>"
    ).encode())
    return _assemble_classic(objs)


def _assemble_classic(objs: list[bytes], root_num: int = 1) -> bytes:
    """Classic xref-table assembly shared by the variant builders
    (same trailer shape as ``build_pdf``)."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root {root_num} 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def _pdf_lines(rng: random.Random, n_lines: int) -> list[str]:
    return [
        _sentence(rng, "en", rng.randint(4, 8)).capitalize() + "."
        for _ in range(n_lines)
    ]


def gen_pdf_simple(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lines = _pdf_lines(rng, rng.randint(2, 4))
    runs = [(72.0, 720.0 - 14 * i, ln) for i, ln in enumerate(lines)]
    text = "\n".join(lines)
    return Doc(url, ts, build_pdf([runs]), None, "en", "pdf_simple", text,
               expected_combined=text, expected_pages=[(1, text)])


def gen_pdf_multipage(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    n_pages = rng.randint(2, 4)
    pages, texts = [], []
    for _ in range(n_pages):
        lines = _pdf_lines(rng, rng.randint(2, 3))
        pages.append([(72.0, 720.0 - 14 * i, ln) for i, ln in enumerate(lines)])
        texts.append("\n".join(lines))
    joined = "\n\n".join(texts)
    return Doc(url, ts, build_pdf(pages), None, "en", "pdf_multipage", joined,
               expected_combined=joined,
               expected_pages=[(i + 1, t) for i, t in enumerate(texts)])


def gen_pdf_scrambled(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lines = _pdf_lines(rng, rng.randint(3, 5))
    runs = [(72.0, 720.0 - 14 * i, ln) for i, ln in enumerate(lines)]
    shuffled = runs[:]
    rng.shuffle(shuffled)
    text = "\n".join(lines)  # reading order, not emission order
    return Doc(url, ts, build_pdf([shuffled]), None, "en", "pdf_scrambled", text,
               expected_combined=text, expected_pages=[(1, text)])


def gen_pdf_flate(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    lines = _pdf_lines(rng, rng.randint(2, 4))
    runs = [(72.0, 720.0 - 14 * i, ln) for i, ln in enumerate(lines)]
    text = "\n".join(lines)
    return Doc(url, ts, build_pdf([runs], compress=True), None, "en", "pdf_flate",
               text, expected_combined=text, expected_pages=[(1, text)])


def gen_pdf_degenerate(rng: random.Random, url: str, ts: dt.datetime) -> Doc:
    payload = b"%PDF-1.4\ngarbage" + bytes(rng.randrange(256) for _ in range(64))
    return Doc(url, ts, payload, None, None, "pdf_degenerate", "", expected_ok=False)


FAMILIES = [
    (gen_article, 30),
    (gen_table_page, 10),
    (gen_list_page, 10),
    (gen_boilerplate_heavy, 10),
    (gen_multilingual, 8),
    (gen_degenerate_html, 5),
    (gen_pdf_simple, 10),
    (gen_pdf_multipage, 7),
    (gen_pdf_scrambled, 5),
    (gen_pdf_flate, 3),
    (gen_pdf_degenerate, 2),
]


def generate(n: int, seed: int = 42) -> list[Doc]:
    """Generate n documents; deterministic in (n, seed).

    Host skew: ~30% of urls land on 2 hot hosts (FIXTURES.md §1).
    """
    rng = random.Random(seed)
    docs: list[Doc] = []
    gens = [g for g, w in FAMILIES for _ in range(w)]
    for i in range(n):
        if rng.random() < 0.30:
            host = rng.choice(HOSTS_HOT)
        else:
            host = rng.choice(HOSTS_COLD)
        url = f"https://{host}/p/{seed}-{i:07d}"
        ts = EPOCH + dt.timedelta(seconds=rng.randint(0, 365 * 24 * 3600))
        gen = rng.choice(gens)
        d = gen(rng, url, ts)
        # `text` column: raw pre-existing text hint (may be null); `lang` may
        # be wrong for some rows (FIXTURES.md: hint, not truth).
        if rng.random() < 0.3:
            d.text = d.expected_text[:100] or None
        if d.lang and rng.random() < 0.1:
            d.lang = rng.choice(["xx", "en", "zz"])
        docs.append(d)
    return docs


def generate_chunk(chunk_id: int, n: int, seed: int = 42) -> list[Doc]:
    """Deterministic chunk for distributed generation: chunk seeds are
    derived so urls are globally unique (the url embeds the derived seed)."""
    return generate(n, seed=seed * 100003 + chunk_id + 1)


def pages_df_distributed(spark, n_docs: int, seed: int = 42, partitions: int = 32):
    """Generate the pages table ON THE EXECUTORS (driver never holds the
    corpus): one generator chunk per partition. Deterministic in
    (n_docs, seed, partitions)."""
    from pdf_extractor_spark.session import PAGES_DDL

    per = n_docs // partitions
    sizes = [per + (1 if i < n_docs % partitions else 0) for i in range(partitions)]
    # repartitionByRange: hash-partitioning n chunk ids into n partitions
    # leaves ~1/e of partitions EMPTY (birthday collisions) while others
    # generate 2-3 chunks serially; range partitioning gives one chunk per
    # partition (the parallelism the docstring promises)
    chunks = spark.createDataFrame(
        [(i, sizes[i]) for i in range(partitions)], "chunk_id int, n int"
    ).repartitionByRange(partitions, "chunk_id")

    def gen(it):
        for pdf in it:
            for cid, cn in zip(pdf["chunk_id"], pdf["n"]):
                docs = generate_chunk(int(cid), int(cn), seed)
                pages, _ = to_pandas(docs)
                yield pages

    return chunks.mapInPandas(gen, PAGES_DDL)


def to_pandas(docs: list[Doc]):
    """(pages_df, golden_df) as pandas DataFrames matching FIXTURES.md §1-2."""
    import pandas as pd

    pages = pd.DataFrame(
        {
            "url": [d.url for d in docs],
            "warc_ts": [d.warc_ts for d in docs],
            "html": [d.html for d in docs],
            "text": [d.text for d in docs],
            "lang": [d.lang for d in docs],
        }
    )
    golden = pd.DataFrame(
        {
            "url": [d.url for d in docs],
            "family": [d.family for d in docs],
            "expected_text": [d.expected_text for d in docs],
            "expected_table": [d.expected_table for d in docs],
            "expected_combined": [d.expected_combined for d in docs],
            "expected_markdown": [d.expected_markdown for d in docs],
            "expected_pages": [
                [{"page": p, "text": t} for p, t in d.expected_pages] for d in docs
            ],
            "expected_spans": [
                [{"start": s, "end": e, "lang": lg} for s, e, lg in d.expected_spans]
                for d in docs
            ],
            "expected_ok": [d.expected_ok for d in docs],
        }
    )
    return pages, golden
