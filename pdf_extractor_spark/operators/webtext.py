"""Web-corpus operators beyond the reference's API: URL canonicalization
(crawl dedup's first line of defense), link extraction with relative-URL
resolution, and a host-level fixed-point PageRank (the canonical web-graph
centrality signal used for crawl prioritization and quality weighting of
training corpora).

All of these are pure JVM expression/aggregation plans — no Python in
the hot path, every stage map-side-partial — and all carry DuckDB SQL
twins (tests/test_webtext_ops.py locally; the link-graph path is also
driver-oracle-gated inside q53).

Canonicalization spec (deterministic, documented so the SQL twin is exact):
ASCII-lowercase scheme+authority (Unicode case folding is not
engine-portable — Java lower('İ') is 2 chars, DuckDB's is 1; real
authorities are punycode/ASCII), strip fragment, strip default ports (http:80 /
https:443), empty path → "/", strip one trailing slash from non-root
paths, drop empty query components and sort the rest byte-wise.
"""
from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_AUTH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"


def canonical_url_expr(url: Column) -> Column:
    """Column expression computing the canonical form of an absolute URL
    (whole-stage-codegen'd: regexp_extract / array_sort / concat only)."""
    u = F.trim(url)
    scheme = _ascii_lower(
        F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    auth = _ascii_lower(F.regexp_extract(u, _AUTH_RE, 1))
    auth = F.when(scheme == "http", F.regexp_replace(auth, ":80$", "")) \
        .when(scheme == "https", F.regexp_replace(auth, ":443$", "")) \
        .otherwise(auth)
    path2 = F.regexp_extract(u, _AUTH_RE + r"([^?#]*)", 2)
    path2 = F.when(path2 == "", F.lit("/")).otherwise(path2)
    path2 = F.when((path2 != "/") & path2.endswith("/"),
                   path2.substr(F.lit(1), F.length(path2) - 1)).otherwise(path2)
    # query from the pre-fragment prefix: a lone \?([^#]*) would match a
    # '?' sitting AFTER '#' and leak fragment content into the query
    query = F.regexp_extract(F.regexp_extract(u, "^[^#]*", 0), r"\?(.*)", 1)
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda x: x != "")), "&")
    return F.concat(
        scheme, F.lit("://"), auth, path2,
        F.when(qsorted != "", F.concat(F.lit("?"), qsorted)).otherwise(F.lit("")),
    )


# --------------------------------------------------------------------------
# Link graph: href extraction, relative-URL resolution, host-level PageRank
# --------------------------------------------------------------------------

_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"


def resolve_url_expr(base: Column, href: Column) -> Column:
    """Resolve ``href`` against absolute ``base`` (RFC 3986 subset,
    documented so the DuckDB SQL twin is exact — see tests):

    - fragment is stripped from href first;
    - ``scheme://...`` absolute → unchanged;
    - ``//host/...`` protocol-relative → base scheme + ``:`` + href;
    - ``/path`` root-relative → base ``scheme://authority`` + path;
    - empty (fragment-only) href → base stripped of query+fragment;
    - anything else is path-relative → resolved against the base path's
      directory (everything up to and including the last ``/``; ``/`` when
      the base path is empty). Dot-segment normalization (``../``) is out
      of spec — the synthetic corpus never emits it.

    Pure when/regexp/concat — whole-stage codegen, no shuffle, no Python.
    """
    h = F.trim(F.regexp_replace(href, "#.*$", ""))
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    auth = F.regexp_extract(base, _AUTH_RE, 1)
    path = F.regexp_extract(base, _AUTH_RE + r"([^?#]*)", 2)
    basedir = F.regexp_extract(path, r"^(.*/)", 1)
    basedir = F.when(basedir == "", F.lit("/")).otherwise(basedir)
    root = F.concat(scheme, F.lit("://"), auth)
    return (
        F.when(h.rlike(_SCHEME_RE), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(root, h))
        .when(h == "", F.concat(root, path))
        .otherwise(F.concat(root, basedir, h))
    )


def host_of_expr(url: Column) -> Column:
    """Lower-cased authority of an absolute URL (the host key of the web
    graph). Port/userinfo stripping is the canonicalizer's job — this is
    the raw grouping key."""
    return _ascii_lower(F.regexp_extract(url, _AUTH_RE, 1))


# HTML attribute VALUE in any of the spec's three quoting forms
# (WHATWG HTML §13.1.2.3): double-quoted / single-quoted / unquoted
# token (unquoted excludes the spec's forbidden set: whitespace and
# "'=<>`). One regex group cannot coalesce three alternatives, so the
# capture INCLUDES the quotes and consumers strip one layer with
# _unquote_attr (a quote char cannot appear at either end of a legal
# unquoted value, so the strip is unambiguous).
_ATTR_VAL = "\"[^\"]*\"|'[^']*'|[^\\s\"'<>=`]+"
# 'href'/'rel' must START the attribute name — data-href / xhref are
# different attributes (lookbehind is Java-regex-only, which is fine:
# these patterns run Spark-side only; every oracle twin derives its
# expected link set closed-form, never by regex).
_HREF_EQ = r'(?<![\w-])href\s*=\s*'
_REL_EQ = r'(?<![\w-])rel\s*=\s*'
_BASE_HREF_PATTERN = rf'(?i)<base\s[^>]*?{_HREF_EQ}({_ATTR_VAL})'
# full <a ...> tag attrs (group 1) for per-link href+rel inspection.
# The attrs body is [^<>] (not [^>]): a mid-document UNCLOSED anchor must
# stop at the next tag's '<' instead of swallowing the following link —
# truncated tags are routine in WARC captures, and losing the NEXT link
# to one is worse than losing an anchor whose quoted attr legitimately
# contains '<' (vanishingly rare). The tail accepts '>', a lookahead at
# the next '<' (unclosed tag), or end-of-input.
_A_TAG_PATTERN = (rf'(?i)<a\s([^<>]*?{_HREF_EQ}(?:{_ATTR_VAL})[^<>]*)'
                  r'(?:>|(?=<)|$)')


def _unquote_attr(v: Column) -> Column:
    """Strip one layer of surrounding quotes from an ``_ATTR_VAL``
    capture (quoted forms carry them; unquoted values cannot start or
    end with a quote char, so at most the genuine delimiters match)."""
    return F.regexp_replace(v, "^[\"']|[\"']$", "")


def base_href_expr(html_str: Column, url: Column) -> Column:
    """The page's effective base URL (HTML ``<base href>``, first
    occurrence wins per the HTML spec) resolved against the page URL —
    or the page URL itself when absent. Relative hrefs resolve against
    THIS, not the page URL (a page at /deep/page with
    ``<base href="/">`` links 'x' to /x, not /deep/x)."""
    b = _unquote_attr(F.regexp_extract(html_str, _BASE_HREF_PATTERN, 1))
    return F.when(b == "", url).otherwise(resolve_url_expr(url, b))


def extract_links(pages: DataFrame) -> DataFrame:
    """``(url, html)`` pages → one row per ``<a href="...">`` occurrence:
    ``(url, href, link_url, nofollow)`` with ``link_url`` resolved
    against the page's effective base (``<base href>`` honored — the
    HTML mechanism that silently re-points every relative link) and
    ``nofollow`` true when the anchor's rel attribute carries the
    nofollow token (rel="nofollow ugc" etc.) — the link-graph edges a
    PageRank/HITS pass must exclude (that is the entire point of the
    attribute). The whole plan is narrow (regexp_extract_all → explode →
    per-tag extracts): zero shuffles, zero Python — at 10^12 pages this
    runs entirely inside the scan stage."""
    html_str = F.decode(F.col("html"), "utf-8")
    tags = F.regexp_extract_all(html_str, F.lit(_A_TAG_PATTERN), 1)
    out = pages.select(
        F.col("url").alias("url"),
        base_href_expr(html_str, F.col("url")).alias("base"),
        F.explode(tags).alias("attrs"),
    )
    href = _unquote_attr(F.regexp_extract(
        F.col("attrs"), rf'(?i){_HREF_EQ}({_ATTR_VAL})', 1))
    rel = _ascii_lower(_unquote_attr(F.regexp_extract(
        F.col("attrs"), rf'(?i){_REL_EQ}({_ATTR_VAL})', 1)))
    nofollow = F.array_contains(F.split(rel, r"\s+"), "nofollow")
    return out.select(
        "url",
        href.alias("href"),
        resolve_url_expr(F.col("base"), href).alias("link_url"),
        nofollow.alias("nofollow"),
    )


# attrs (group 1), href-with-quotes (group 2), anchor body (group 3) —
# three extract_all passes over ONE pattern zip positionally (identical
# spans); the href capture carries its quotes (_ATTR_VAL) and is
# stripped with _unquote_attr downstream
_ANCHOR_PATTERN = (rf'(?i)<a\s([^>]*?{_HREF_EQ}({_ATTR_VAL})[^>]*)'
                   r'>([^<]*)</a>')


def extract_anchor_texts(pages: DataFrame) -> DataFrame:
    """``(url, html)`` pages → one row per ``<a href="...">anchor</a>``
    occurrence: ``(url, href, anchor, link_url)``. The inbound-anchor-text
    signal of classic web search (what OTHER pages call a target is a
    stronger description than the target's own markup) and of link-spam
    gates.

    Same extraction subset as ``extract_links`` (hrefs in any of the
    spec's three quoting forms) plus a plain-text anchor body (``[^<]*``
    — an anchor with nested markup is out of the subset and is skipped
    here while still counted as a link by extract_links). Three
    regexp_extract_all passes over the same pattern (group 2 = href,
    group 3 = anchor) zip positionally — identical match spans by
    construction. Relative hrefs resolve against the page's
    effective base (``<base href>`` honored, same as extract_links), and
    each row carries the same ``nofollow`` flag extract_links emits so
    inbound signals can honor the attribute. Narrow plan: zero shuffles,
    zero Python, runs inside the scan stage at 10^12 pages."""
    html_str = F.decode(F.col("html"), "utf-8")
    pat = F.lit(_ANCHOR_PATTERN)
    zipped = F.arrays_zip(
        F.regexp_extract_all(html_str, pat, 1).alias("attrs"),
        F.regexp_extract_all(html_str, pat, 2).alias("href"),
        F.regexp_extract_all(html_str, pat, 3).alias("anchor"),
    )
    out = pages.select(
        F.col("url").alias("url"),
        base_href_expr(html_str, F.col("url")).alias("base"),
        F.explode(zipped).alias("z"),
    ).select("url", "base", F.col("z.attrs").alias("attrs"),
             _unquote_attr(F.col("z.href")).alias("href"),
             F.col("z.anchor").alias("anchor"))
    rel = _ascii_lower(_unquote_attr(F.regexp_extract(
        F.col("attrs"), rf'(?i){_REL_EQ}({_ATTR_VAL})', 1)))
    return out.select(
        "url", "href", "anchor",
        resolve_url_expr(F.col("base"), F.col("href")).alias("link_url"),
        F.array_contains(F.split(rel, r"\s+"), "nofollow").alias("nofollow"),
    )


def inbound_host_signals(anchors: DataFrame) -> DataFrame:
    """Anchor rows → per-TARGET-host inbound signals: ``(host, in_degree,
    inbound_anchor_terms)``. In-degree is THE classic page/host quality
    prior (a host many others link to is worth keeping at crawl-filter
    time); distinct inbound anchor terms measure description diversity
    (one repeated anchor across thousands of links is the link-farm
    shape). One shuffle — the groupBy on target host with map-side
    partial aggregation; anchor terms dedup inside the aggregate.
    rel=nofollow anchors are EXCLUDED when the input carries the flag
    (the attribute exists precisely to keep paid/UGC links out of this
    quality prior), mirroring host_edges."""
    if "nofollow" in anchors.columns:
        anchors = anchors.where(
            ~F.coalesce(F.col("nofollow"), F.lit(False)))
    return (
        anchors.select(
            host_of_expr(F.col("link_url")).alias("host"),
            _ascii_lower(F.trim(F.col("anchor"))).alias("term"),
        )
        .where(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count("*").alias("in_degree"),
            F.countDistinct("term").alias("inbound_anchor_terms"),
        )
    )


# ---------------------------------------------------------------------------
# Page metadata harvest: <title>, meta/OpenGraph tags, JSON-LD, publish date.
# The curation-side twin of extract_links: a Common-Crawl training pipeline
# routes pages on og:type / JSON-LD @type (news vs recipe vs product sets)
# and date-filters on the published timestamp, and the reference's consumer
# shows title+metadata next to extracted content. All patterns follow the
# href-parser discipline: first occurrence wins, the three WHATWG quoting
# forms accepted, attribute order independent, zero Python.

_TITLE_PATTERN = r"(?is)<title[^>]*>\s*([^<]*?)\s*</title>"
# (?<![\w-]) on the attribute name, like _HREF_EQ: data-datetime is a
# different attribute and must not match (review finding)
_TIME_DATETIME_PATTERN = (
    rf"(?i)<time\s[^<>]*?(?<![\w-])datetime\s*=\s*({_ATTR_VAL})")
# /YYYY/MM/DD/ in the url path — htmldate's last-resort signal.
# ((?i): scheme case is insignificant per RFC 3986 §3.1.) The year must
# START a path segment ((?:.*?/)? always ends at '/'), so an ID segment
# like /item2024/11/05 cannot shed its prefix and parse as a date
# (review finding — try_cast only filters IMPLAUSIBLE dates).
_URL_DATE_PATTERN = (
    r"(?i)^[a-z]+://[^/]+/(?:.*?/)?(\d{4})/(\d{2})/(\d{2})(?:/|$)")
_LD_JSON_PATTERN = (
    r"(?is)<script\s[^>]*?(?<![\w-])type\s*=\s*"
    r"(?:\"application/ld\+json\"|'application/ld\+json'"
    r"|application/ld\+json(?=[\s>]))"
    r"[^>]*>\s*(.*?)\s*</script>")


def _meta_content_patterns(name_attr: str, value: str) -> tuple[str, str]:
    """Patterns for ``<meta {name_attr}={value} content=...>`` in both
    attribute orders; ``value`` matched in any of the three quoting forms
    (regex-escaped — og: names carry ':')."""
    v = re.escape(value)
    val = rf"(?:\"{v}\"|'{v}'|{v}(?=[\s/>]|$))"
    name = rf"(?<![\w-]){name_attr}\s*=\s*{val}"
    content = rf"(?<![\w-])content\s*=\s*({_ATTR_VAL})"
    return (rf"(?i)<meta\s[^<>]*?{name}[^<>]*?{content}",
            rf"(?i)<meta\s[^<>]*?{content}[^<>]*?{name}")


def _meta_content(html_str: Column, name_attr: str, value: str) -> Column:
    """First ``<meta>`` content for the given name/property, either
    attribute order, one unquoting layer stripped; empty string → NULL.
    First occurrence wins ACROSS the two attribute-order patterns too
    (review finding): the document-position of each pattern's first
    match (regexp_instr) decides, not a fixed pattern preference — a
    content-first tag earlier in the page beats a name-first tag later."""
    p1, p2 = _meta_content_patterns(name_attr, value)
    c1 = _unquote_attr(F.regexp_extract(html_str, p1, 1))
    c2 = _unquote_attr(F.regexp_extract(html_str, p2, 1))
    # the regexp_instr position probes only run in the both-matched branch
    # (CaseWhen evaluates branch values lazily) — the common one-order page
    # pays 2 full-document regex passes per field instead of 4
    pos1 = F.regexp_instr(html_str, F.lit(p1))
    pos2 = F.regexp_instr(html_str, F.lit(p2))
    out = (F.when(c1 == "", F.when(c2 != "", c2))
           .when(c2 == "", c1)
           .when(pos1 <= pos2, c1)
           .otherwise(c2))
    return F.when(out != "", out)


def page_metadata(pages: DataFrame) -> DataFrame:
    """``(url, html)`` pages → one row per page with the harvested head
    metadata: ``(url, title, meta_description, og_title, og_type,
    ld_type, ld_headline, published_ts, date_source)``.

    - ``title``: first ``<title>`` body (plain-text subset, trimmed).
    - ``meta_description``: ``<meta name=description content=...>``.
    - ``og_title`` / ``og_type``: OpenGraph ``<meta property=og:*>``.
    - ``ld_type`` / ``ld_headline``: first ``<script type=
      "application/ld+json">`` block, fields read with JVM-side
      ``get_json_object`` (``$['@type']`` / ``$['headline']``) — real
      JSON parsing, not regex, so escaped strings and reordered keys
      parse correctly.
    - ``published_ts`` + ``date_source``: the htmldate-style precedence
      chain — ``article:published_time`` meta (source ``og``) >
      JSON-LD ``datePublished`` (``ld``) > ``<time datetime=...>``
      (``time``) > a ``/YYYY/MM/DD/`` url-path date (``url``) — NULL
      when no signal exists. Each candidate parses via timestamp cast
      (ISO date or date-time forms) BEFORE precedence, so a malformed
      higher-precedence value (``datetime="soon"``, a bogus url date
      like 2408-15-01 from a longer digit run) falls through to the
      next parseable signal instead of shadowing it.

    Reference parity: the consumer surfaces document title/metadata next
    to extracted channels (content-helpers.ts); at Common-Crawl scale
    this is the routing/date-filter stage of corpus curation. Narrow
    plan: per-row expressions only — zero shuffles, zero Python, runs
    inside the scan stage at 10^12 pages like extract_links."""
    html_str = F.decode(F.col("html"), "utf-8")
    url = F.col("url")

    title = F.regexp_extract(html_str, _TITLE_PATTERN, 1)
    ld_body = F.regexp_extract(html_str, _LD_JSON_PATTERN, 1)
    og_ts = _meta_content(
        html_str, "property", "article:published_time").try_cast("timestamp")
    ld_ts = F.get_json_object(
        ld_body, "$['datePublished']").try_cast("timestamp")
    time_raw = _unquote_attr(
        F.regexp_extract(html_str, _TIME_DATETIME_PATTERN, 1))
    time_ts = F.when(time_raw != "", time_raw).try_cast("timestamp")
    url_ts = F.when(
        F.regexp_extract(url, _URL_DATE_PATTERN, 1) != "",
        F.concat_ws("-",
                    F.regexp_extract(url, _URL_DATE_PATTERN, 1),
                    F.regexp_extract(url, _URL_DATE_PATTERN, 2),
                    F.regexp_extract(url, _URL_DATE_PATTERN, 3)),
    ).try_cast("timestamp")
    published = F.coalesce(og_ts, ld_ts, time_ts, url_ts)
    source = (F.when(og_ts.isNotNull(), "og")
              .when(ld_ts.isNotNull(), "ld")
              .when(time_ts.isNotNull(), "time")
              .when(url_ts.isNotNull(), "url"))
    return pages.select(
        url.alias("url"),
        F.when(title != "", title).alias("title"),
        _meta_content(html_str, "name", "description")
        .alias("meta_description"),
        _meta_content(html_str, "property", "og:title").alias("og_title"),
        _meta_content(html_str, "property", "og:type").alias("og_type"),
        F.get_json_object(ld_body, "$['@type']").alias("ld_type"),
        F.get_json_object(ld_body, "$['headline']").alias("ld_headline"),
        published.alias("published_ts"),
        source.alias("date_source"),
    )


_SITEMAP_URL_BLOCK = r"(?is)<url[\s>].*?</url>"
_SITEMAP_INDEX_BLOCK = r"(?is)<sitemap[\s>].*?</sitemap>"
_SITEMAP_LOC = r"(?is)<loc>\s*([^<]*?)\s*</loc>"
_SITEMAP_LASTMOD = r"(?is)<lastmod>\s*([^<]*?)\s*</lastmod>"


def parse_sitemap(sitemaps: DataFrame) -> DataFrame:
    """``(url, xml)`` sitemap documents → one row per entry:
    ``(url, loc, lastmod, is_index)`` — the crawl-frontier feed
    (sitemaps.org protocol, public spec). ``<urlset>`` entries carry
    ``is_index = false``; ``<sitemapindex>`` entries (pointers to child
    sitemaps a fetcher must recurse into) carry ``is_index = true``.
    ``lastmod`` is NULL when the entry omits it; entries without a
    ``<loc>`` are dropped (spec-required field).

    Extraction subset, documented like the href/anchor parsers: block
    scan for ``<url>…</url>`` / ``<sitemap>…</sitemap>`` (case-
    insensitive, dot-matches-newline), then ``<loc>``/``<lastmod>``
    inside each block — whitespace around values trimmed by the pattern.
    CDATA and entity decoding are out of the subset. The whole plan is
    narrow (two regexp_extract_all passes → explode → per-block
    extracts): zero shuffles, zero Python — at a 10^12-page crawl the
    frontier refresh runs entirely inside the scan stage, like
    extract_links.
    """
    xml = F.col("xml")

    def entries(block_re: str, is_index: bool) -> DataFrame:
        blocks = F.regexp_extract_all(xml, F.lit(block_re), 0)
        out = sitemaps.select(
            F.col("url").alias("url"), F.explode(blocks).alias("b"))
        loc = F.regexp_extract(F.col("b"), _SITEMAP_LOC, 1)
        lastmod = F.regexp_extract(F.col("b"), _SITEMAP_LASTMOD, 1)
        return out.select(
            "url",
            loc.alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
            F.lit(is_index).alias("is_index"),
        ).where(F.col("loc") != "")

    return entries(_SITEMAP_URL_BLOCK, False).unionByName(
        entries(_SITEMAP_INDEX_BLOCK, True))


def host_edges(links: DataFrame) -> DataFrame:
    """Link rows → weighted host-graph edges ``(src, dst, w)``. One shuffle
    (the (src, dst) groupBy, map-side partial). Self-loops are kept — they
    are real edges in the web graph and the fixed-point PageRank handles
    them like any other. rel=nofollow links (flagged by extract_links)
    are EXCLUDED when the input carries the flag — honoring the
    attribute's contract that the linking page vouches nothing."""
    if "nofollow" in links.columns:
        # NULL (no verdict, e.g. a unioned legacy 3-column shape) keeps
        # the edge — only an explicit nofollow drops it
        links = links.where(~F.coalesce(F.col("nofollow"), F.lit(False)))
    e = links.select(
        host_of_expr(F.col("url")).alias("src"),
        host_of_expr(F.col("link_url")).alias("dst"),
    ).where((F.col("src") != "") & (F.col("dst") != ""))
    return e.groupBy("src", "dst").agg(F.count("*").alias("w"))


PAGERANK_SCALE = 10**12


def _graph_nodes(edges: DataFrame) -> DataFrame:
    """Distinct hosts on either side of the edge table — the node set
    both centrality fixed-points iterate over."""
    return (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )


# Measured physical-plan crossover for the score-side join of both
# centrality fixed-points (BENCH.md graph ladder, round 3→4): below this
# many nodes the per-iteration broadcast overhead exceeds the cost of
# shuffling the tiny score table (shuffle ~2× faster at the 1x rung);
# above it the broadcast avoids re-shuffling the edge table and wins
# (10x rung). Results are bit-identical either way — this is a physical
# knob only.
GRAPH_BROADCAST_MIN_NODES = 100_000

# PageRank damping factor 0.85 as the exact fraction NUM/DEN of the
# fixed-point recurrence (shared by the Spark operator and its SQL twin).
PAGERANK_DAMPING_NUM = 85
PAGERANK_DAMPING_DEN = 100


def pagerank_fixedpoint(edges: DataFrame, iters: int = 5,
                        broadcast_ranks: bool | None = None,
                        init_ranks: DataFrame | None = None) -> DataFrame:
    """Host-level PageRank over weighted edges ``(src, dst, w)`` in exact
    fixed-point integer arithmetic (ranks scaled by 1e12, truncating
    division) — every operation is associative/commutative-exact, so the
    result is BIT-IDENTICAL regardless of partitioning, task order, or
    engine. That is the property a 1000-executor job needs for
    reproducible reruns, and it is what lets DuckDB's unrolled-CTE twin
    hash-match Spark exactly (float PageRank cannot: summation order
    differs per run).

    Per iteration: contribution of edge (s→d) = (rank_s[s] * w) div
    outdeg[s]; rank' = teleport + 85 * Σ contrib div 100 (damping 0.85 as
    PAGERANK_DAMPING_NUM/DEN), with teleport = (100-85)·SCALE div (100·N).
    Truncation loses ≤1e-12 mass per edge per round — far below any ranking-relevant
    signal. Dangling hosts (no outlinks) keep only teleport mass (the
    classic simplification; documented, matched by the twin).

    Scale notes: ranks are host-cardinality (~1e8 rows at web scale ≪
    pages), broadcast to the edge partitions when ``broadcast_ranks``
    (set False past broadcast size → shuffle hash join on ``src``).
    Default ``None`` AUTO-SELECTS on the node count already computed for
    the teleport term: broadcast only at ≥ GRAPH_BROADCAST_MIN_NODES
    (the measured crossover — shuffle wins on small graphs, broadcast on
    large; bit-identical results either way).
    Overflow bound: rank_s·w < 2^63 requires per-edge weight < 9.2e6 at
    SCALE=1e12 — pre-cap w above that (no real host pair exceeds it).
    The edge table (joined with out-degree once) is persisted and reused
    across the ``iters`` joins; each round is one join + one
    host-cardinality groupBy.

    ``init_ranks`` (host, rank_scaled) WARM-STARTS the power iteration —
    the month-over-month crawl shape: last crawl's converged ranks are
    already near this crawl's fixed point (the graph changed at the
    edges, not wholesale), so 1-2 refresh iterations replace a
    from-uniform convergence run. Hosts absent from ``init_ranks`` (new
    this crawl) start at the uniform SCALE/N; hosts that vanished are
    dropped by the node join. Measured in BENCH.md (graph ladder): the
    warm-started single iteration lands within a few fixed-point units
    of the cold 5-iteration result.
    """
    from pyspark.sql.functions import broadcast

    nodes = _graph_nodes(edges)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "host", F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("pagerank"))
    num, den = PAGERANK_DAMPING_NUM, PAGERANK_DAMPING_DEN
    teleport = (den - num) * PAGERANK_SCALE // (den * n)
    if broadcast_ranks is None:
        broadcast_ranks = n >= GRAPH_BROADCAST_MIN_NODES
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("od"))
    ew = edges.join(outdeg, "src").persist()
    if init_ranks is not None:
        ranks = nodes.join(
            init_ranks.select("host", "rank_scaled"), "host", "left"
        ).select(
            "host",
            F.coalesce(F.col("rank_scaled"),
                       F.lit(PAGERANK_SCALE // n)).cast("long")
            .alias("rank_scaled"),
        )
    else:
        ranks = nodes.select(
            "host",
            F.lit(PAGERANK_SCALE // n).cast("long").alias("rank_scaled"))
    for _ in range(iters):
        r = broadcast(ranks) if broadcast_ranks else ranks
        contrib = ew.join(
            r.withColumnRenamed("host", "src"), "src"
        ).select(
            F.col("dst").alias("host"),
            F.expr("(rank_scaled * w) div od").alias("c"),
        )
        sums = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "host", "left").select(
            "host",
            (F.lit(teleport)
             + F.expr(f"({num} * coalesce(s, 0L)) div {den}")
             ).cast("long").alias("rank_scaled"),
        )
    # ew stays persisted until the returned plan is materialized (the five
    # per-iteration joins all reference it); caller may unpersist after.
    return ranks.select(
        "host", "rank_scaled",
        (F.col("rank_scaled") / F.lit(float(PAGERANK_SCALE))).alias("pagerank"),
    )


def pagerank_unrolled_sql(edges_cte: str, iters: int = 5) -> str:
    """DuckDB SQL twin of :func:`pagerank_fixedpoint`: the same fixed-point
    integer recurrence unrolled as ``iters`` chained CTEs over an existing
    edge CTE/table ``edges_cte(src, dst, w)``. Floor division (``//``)
    equals Spark's ``div`` on the all-positive quantities involved, so the
    twin is bit-exact. Pure string building — deterministic across calls.
    Shared by the unit tests and the driver oracle (q53)."""
    s = PAGERANK_SCALE
    num, den = PAGERANK_DAMPING_NUM, PAGERANK_DAMPING_DEN
    tele = (f"({den - num} * {s}) "
            f"// ({den} * (SELECT c FROM pr_n))")
    parts = [
        f"pr_nodes AS (SELECT DISTINCT host FROM ("
        f"SELECT src AS host FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        "pr_n AS (SELECT count(*) AS c FROM pr_nodes)",
        f"pr_od AS (SELECT src, sum(w) AS od FROM {edges_cte} GROUP BY src)",
        f"pr_r0 AS (SELECT host, CAST({s} // (SELECT c FROM pr_n) AS BIGINT)"
        " AS rank_scaled FROM pr_nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"pr_r{i} AS (SELECT pr_nodes.host, "
            f"CAST({tele} + ({num} * coalesce(t.s, 0)) "
            f"// {den} AS BIGINT) AS rank_scaled "
            f"FROM pr_nodes LEFT JOIN ("
            f"SELECT e.dst AS host, "
            f"sum((r.rank_scaled * e.w) // o.od) AS s "
            f"FROM {edges_cte} e "
            f"JOIN pr_od o ON e.src = o.src "
            f"JOIN pr_r{i-1} r ON r.host = e.src "
            f"GROUP BY e.dst) t ON t.host = pr_nodes.host)"
        )
    return ",\n".join(parts) + f",\npr_final AS (SELECT host, rank_scaled, " \
        f"rank_scaled / {float(s)} AS pagerank FROM pr_r{iters})"


HITS_SCALE = 10**5


def _release_checkpoint(df: DataFrame) -> None:
    """Free the block-manager storage behind a ``localCheckpoint`` ed
    DataFrame. ``DataFrame.unpersist()`` is a no-op for checkpoint blocks
    (it goes through the SQL cache manager, not the RDD store — verified
    empirically), so this reaches the LogicalRDD's backing RDD through
    the analyzed plan. Defensive: a plan shape without ``.rdd()`` just
    leaves the blocks to the ContextCleaner's GC-driven release."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def hits_fixedpoint(edges: DataFrame, iters: int = 5,
                    broadcast_scores: bool | None = None) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, public) over weighted
    edges ``(src, dst, w)`` in exact fixed-point integer arithmetic — the
    second classic web-graph centrality next to PageRank: a good HUB links
    to many good authorities; a good AUTHORITY is linked from many good
    hubs. Crawl schedulers use hubs to find link pages; quality gates use
    authorities as an independent signal from PageRank (which mixes both
    roles into one score).

    Per iteration (all integers, truncating division — bit-identical
    across partitionings, task orders, and engines, like
    :func:`pagerank_fixedpoint`):
      auth_j  = Σ_{(i→j)} w · hub_i          (one join + groupBy(dst))
      auth_j := (auth_j · SCALE) div max(auth)   (max-normalization)
      hub_i   = Σ_{(i→j)} w · auth_j         (one join + groupBy(src))
      hub_i  := (hub_i · SCALE) div max(hub)
    Max-normalization replaces the float L2 norm of the textbook
    formulation: it keeps every score in [0, SCALE] with the SAME
    fixed-point ranking and is exactly expressible in both engines
    (coordinate-wise division by a scalar preserves the eigenvector
    direction the power iteration converges to). `greatest(max, 1)`
    guards the all-zero edge case (graph with no edges after filtering).

    Scale notes: scores are host-cardinality; broadcast to the edge
    partitions when ``broadcast_scores`` (False past broadcast size →
    shuffle hash join; default None auto-selects on the node count at
    the measured GRAPH_BROADCAST_MIN_NODES crossover, like
    pagerank_fixedpoint). Overflow bound: the raw sum Σ w·score ≤
    W_in·SCALE per host and the normalization multiplies by SCALE before
    dividing, so W_in·SCALE² < 2^63 requires total inbound (resp.
    outbound) weight per host < 9.2e8 at SCALE=1e5 — ENFORCED by a cheap
    max-aggregate before iterating (Spark's non-ANSI long arithmetic
    wraps silently past the bound while DuckDB's sum promotes to
    HUGEINT, so the twins would silently diverge instead of failing
    loudly — the widen_column discipline). The max() is a
    2-row-per-partition aggregate, not a driver collect; it joins back as
    a broadcast 1-row frame (crossJoin), so each iteration is two
    join+groupBy rounds over the persisted edge table.

    Unlike pagerank (whose per-iteration plan references the previous
    ranks ONCE, so 5 lazy iterations stay linear), each HITS
    normalization references its input twice (the max aggregate + the
    scores themselves) — a lazily-composed plan grows ~4^iters and stalls
    Catalyst analysis. Each normalized score table is therefore
    ``localCheckpoint(eager=True)``-ed: lineage truncates to a
    host-cardinality materialized RDD per half-iteration — the standard
    iterative-graph pattern (GraphX/Pregel checkpoint cadence), 2 small
    jobs per iteration instead of one exponential plan.

    ``iters`` must be >= 1 — the SQL twin's final join references the
    last iteration's tables, so iters=0 has no cross-engine meaning.
    """
    from pyspark.sql.functions import broadcast

    if iters < 1:
        raise ValueError("hits_fixedpoint requires iters >= 1")
    nodes = _graph_nodes(edges).localCheckpoint(eager=True)
    if broadcast_scores is None:
        broadcast_scores = nodes.count() >= GRAPH_BROADCAST_MIN_NODES
    e = edges.select("src", "dst", "w").persist()
    # overflow precondition (see docstring): loud failure instead of a
    # silent long wrap that would desync the engines
    w_cap = (2 ** 63 - 1) // (HITS_SCALE * HITS_SCALE)
    w_max = e.groupBy("dst").agg(F.sum("w").alias("s")).agg(
        F.max("s").alias("m")).unionAll(
        e.groupBy("src").agg(F.sum("w").alias("s")).agg(
            F.max("s").alias("m"))).agg(F.max("m")).first()[0]
    if w_max is not None and w_max > w_cap:
        e.unpersist()
        raise ValueError(
            f"hits_fixedpoint: per-host total edge weight {w_max} exceeds "
            f"the 64-bit fixed-point bound {w_cap} at SCALE={HITS_SCALE}; "
            "pre-cap w (e.g. least(w, cap)) before calling")
    hubs = nodes.select(
        "host", F.lit(HITS_SCALE).cast("long").alias("score"))
    released: list[DataFrame] = []  # superseded checkpoints to free

    def _norm_join(raw: DataFrame) -> DataFrame:
        # (host, raw) -> (host, (raw*SCALE) div greatest(max(raw),1)) with
        # the scalar max attached via a 1-row crossJoin (stays distributed)
        mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).alias("mx"))
        return raw.crossJoin(broadcast(mx)).select(
            "host",
            F.expr(f"(raw * {HITS_SCALE}) div mx").cast("long")
            .alias("score"),
        ).localCheckpoint(eager=True)

    auths = hubs
    for it in range(iters):
        h = broadcast(hubs) if broadcast_scores else hubs
        araw = nodes.join(
            e.join(h.withColumnRenamed("host", "src"), "src")
            .groupBy("dst").agg(F.sum(F.expr("w * score")).alias("s"))
            .withColumnRenamed("dst", "host"),
            "host", "left",
        ).select("host", F.coalesce(F.col("s"), F.lit(0)).alias("raw"))
        if it > 0:
            released.append(auths)
        auths = _norm_join(araw)
        a = broadcast(auths) if broadcast_scores else auths
        hraw = nodes.join(
            e.join(a.withColumnRenamed("host", "dst"), "dst")
            .groupBy("src").agg(F.sum(F.expr("w * score")).alias("s"))
            .withColumnRenamed("src", "host"),
            "host", "left",
        ).select("host", F.coalesce(F.col("s"), F.lit(0)).alias("raw"))
        if it > 0:
            released.append(hubs)
        hubs = _norm_join(hraw)
    # e stays persisted until the checkpointed iterations have run (i.e.
    # this point); safe to release here since every downstream reference
    # is to the truncated score RDDs. Likewise every SUPERSEDED
    # half-iteration checkpoint (eager=True means iteration i+1's blocks
    # are already materialized, so freeing iteration i's cannot trigger
    # recompute) — only the FINAL hubs/auths stay pinned for the returned
    # plan, bounding block-manager residency at O(2·|hosts|) instead of
    # O(2·iters·|hosts|) across repeated plan builds (review finding,
    # round 3).
    e.unpersist()
    for df in released:
        _release_checkpoint(df)
    return (
        hubs.withColumnRenamed("score", "hub_scaled")
        .join(auths.withColumnRenamed("score", "auth_scaled"), "host")
        .select(
            "host",
            F.col("hub_scaled").cast("long").alias("hub_scaled"),
            F.col("auth_scaled").cast("long").alias("auth_scaled"),
            (F.col("hub_scaled") / F.lit(float(HITS_SCALE))).alias("hub"),
            (F.col("auth_scaled") / F.lit(float(HITS_SCALE)))
            .alias("authority"),
        )
    )


def _edges_key(edges: DataFrame) -> str:
    """Content-sensitive reuse key over a weighted edge table: count + an
    order-free crc32 of the (src, dst, w) binding, one narrow aggregate —
    the dedup._corpus_key discipline, graph edition. Any added, dropped,
    or reweighted edge changes the key."""
    row = edges.agg(
        F.count("*").alias("c"),
        F.sum(F.crc32(F.concat_ws(
            ":", F.col("src"), F.col("dst"),
            F.col("w").cast("string")))).alias("s"),
    ).first()
    return f"{row['c']}:{row['s']}"


def centrality_stored(edges: DataFrame, store_root: str,
                      iters: int = 5) -> DataFrame:
    """PageRank + HITS behind a committed MODEL STORE (SnapshotTable of
    (host, rank_scaled, hub_scaled, auth_scaled) keyed by the edge-set
    checksum + iteration count) — the production crawl shape: link-graph
    centrality is computed ONCE per crawl snapshot and served to every
    downstream consumer (rollups, frontier priorities, quality gates),
    not re-iterated per query. Both fixed-points are exact integer
    arithmetic, so stored == recomputed bit-for-bit and every
    unrolled-CTE oracle is unchanged — the kmeans_centroids_stored /
    quality-classifier-weight-store discipline applied to the graph.
    On a store hit the eager HITS half-iteration jobs (the dominant q53
    arm: ~9 s of checkpointed joins at sf0.1) never run."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    spark = edges.sparkSession
    t = SnapshotTable(store_root)
    key = {"edges": _edges_key(edges), "iters": iters}
    m = t.current_manifest()
    # a store written by the removed warm-refresh path may still hold an
    # approximate table (marked refreshed_from) — never serve it from this
    # exact, twin-verifiable path
    if m is None or m.get("summary", {}).get("key") != key \
            or m["summary"].get("refreshed_from"):
        cent = (
            pagerank_fixedpoint(edges, iters=iters)
            .select("host", "rank_scaled")
            .join(hits_fixedpoint(edges, iters=iters)
                  .select("host", "hub_scaled", "auth_scaled"), "host")
        )
        t.overwrite(cent, summary={"key": key})
    # serve the committed table in both branches (a second lazy
    # materialization of the PageRank plan would re-run its joins)
    return t.read(spark).select(
        "host", "rank_scaled", "hub_scaled", "auth_scaled")


def hits_unrolled_sql(edges_cte: str, iters: int = 5) -> str:
    """DuckDB SQL twin of :func:`hits_fixedpoint`: the same fixed-point
    integer recurrence unrolled as chained CTEs over an existing edge
    CTE/table ``edges_cte(src, dst, w)``. Floor division equals Spark's
    ``div`` on the all-nonnegative quantities involved, so the twin is
    bit-exact. Ends with ``hits_final(host, hub_scaled, auth_scaled,
    hub, authority)``. Shared by the unit tests and the driver oracle
    (q53). ``iters`` must be >= 1 (hits_final references the last
    iteration's tables)."""
    if iters < 1:
        raise ValueError("hits_unrolled_sql requires iters >= 1")
    s = HITS_SCALE
    # Every per-iteration CTE is referenced twice (the scalar max subquery
    # + the main SELECT); DuckDB inlines non-materialized CTEs, so a plain
    # chain re-evaluates each level per reference — ~4^iters blowup
    # (measured: iters=3 took 9.5 s, iters=5 never finished). MATERIALIZED
    # pins each level to one evaluation, the exact analogue of the Spark
    # side's per-half-iteration localCheckpoint.
    parts = [
        f"hits_nodes AS MATERIALIZED (SELECT DISTINCT host FROM ("
        f"SELECT src AS host FROM {edges_cte} "
        f"UNION ALL SELECT dst FROM {edges_cte}))",
        f"hits_h0 AS MATERIALIZED (SELECT host, CAST({s} AS BIGINT) AS score "
        "FROM hits_nodes)",
    ]
    prev_h = "hits_h0"
    for i in range(1, iters + 1):
        parts.append(
            f"hits_araw{i} AS MATERIALIZED (SELECT n.host, "
            f"CAST(coalesce(t.s, 0) AS BIGINT) AS raw "
            f"FROM hits_nodes n LEFT JOIN ("
            f"SELECT e.dst AS host, sum(e.w * h.score) AS s "
            f"FROM {edges_cte} e JOIN {prev_h} h ON h.host = e.src "
            f"GROUP BY e.dst) t ON t.host = n.host)"
        )
        parts.append(
            f"hits_a{i} AS MATERIALIZED (SELECT host, CAST((raw * {s}) // "
            f"greatest((SELECT max(raw) FROM hits_araw{i}), 1) AS BIGINT) "
            f"AS score FROM hits_araw{i})"
        )
        parts.append(
            f"hits_hraw{i} AS MATERIALIZED (SELECT n.host, "
            f"CAST(coalesce(t.s, 0) AS BIGINT) AS raw "
            f"FROM hits_nodes n LEFT JOIN ("
            f"SELECT e.src AS host, sum(e.w * a.score) AS s "
            f"FROM {edges_cte} e JOIN hits_a{i} a ON a.host = e.dst "
            f"GROUP BY e.src) t ON t.host = n.host)"
        )
        parts.append(
            f"hits_h{i} AS MATERIALIZED (SELECT host, CAST((raw * {s}) // "
            f"greatest((SELECT max(raw) FROM hits_hraw{i}), 1) AS BIGINT) "
            f"AS score FROM hits_hraw{i})"
        )
        prev_h = f"hits_h{i}"
    parts.append(
        f"hits_final AS (SELECT h.host, h.score AS hub_scaled, "
        f"a.score AS auth_scaled, h.score / {float(s)} AS hub, "
        f"a.score / {float(s)} AS authority "
        f"FROM hits_h{iters} h JOIN hits_a{iters} a ON a.host = h.host)"
    )
    return ",\n".join(parts)


# ---- URL quality gate (FineWeb/RefinedWeb-style pre-extraction filter) ----
# Deterministic, regex-light, and integer-exact so the DuckDB twin is
# bit-identical: the digit-ratio test is the cross-multiplied integer
# comparison 10*digits <= 3*len (never a float division).
URL_BLOCKLIST = ("casino", "porn", "xxx", "viagra", "poker", "escort")
URL_MAX_LEN = 256
URL_MAX_DEPTH = 8
URL_MAX_PARAMS = 4
# ASCII-only case fold: Java's lower('İ') is 'i'+U+0307 (2 chars) while
# DuckDB's is 'i' — Unicode lowercasing is NOT engine-portable (the İ
# length-change class from the kernel parity work). Real hosts are
# punycode/ASCII, and the blocklist tokens are ASCII, so folding only A-Z
# is both correct and bit-portable (translate() in both engines).
_UC = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LC = "abcdefghijklmnopqrstuvwxyz"


def _ascii_lower(col: Column) -> Column:
    return F.translate(col, _UC, _LC)


def url_quality_filter(df: DataFrame) -> DataFrame:
    """Append URL-quality gate columns (url_host, url_ok, url_reason) —
    the crawl-side filter a web-scale training pipeline applies BEFORE
    fetching/extracting a page: scheme whitelist, token blocklist,
    digit-heavy-host, length, path-depth, and query-param-count gates.
    `url_reason` names the FIRST failing gate in a fixed order ('ok' when
    all pass), so downstream rollups can attribute rejections.

    All gates are JVM string/regexp expressions (whole-stage codegen, no
    shuffle — this is a narrow map over the frontier/pages table).
    """
    u = F.col("url")
    # scheme chars are regex-constrained to ASCII, but host and the whole
    # URL are not — fold case ASCII-only everywhere for engine parity
    scheme = _ascii_lower(
        F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    hostport = _ascii_lower(F.regexp_extract(u, _AUTH_RE, 1))
    host = F.split_part(hostport, F.lit(":"), F.lit(1))
    path = F.regexp_extract(u, _AUTH_RE + r"([^?#]*)", 2)
    # query from the pre-fragment prefix: a lone \?([^#]*) would match a
    # '?' sitting AFTER '#' and leak fragment content into the query
    query = F.regexp_extract(F.regexp_extract(u, "^[^#]*", 0), r"\?(.*)", 1)
    n_digits = F.length(F.regexp_replace(host, "[^0-9]", ""))
    f_scheme = scheme.isin("http", "https")
    lu = _ascii_lower(u)
    f_block = ~sum(
        (lu.contains(t).cast("int") for t in URL_BLOCKLIST), F.lit(0)
    ).cast("boolean")
    f_digit = (n_digits * 10 <= F.length(host) * 3) & (F.length(host) > 0)
    f_len = F.length(u) <= URL_MAX_LEN
    depth = F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit("")))
    f_depth = depth <= URL_MAX_DEPTH
    n_params = F.when(query == "", F.lit(0)).otherwise(
        F.length(query) - F.length(F.replace(query, F.lit("&"), F.lit(""))) + 1
    )
    f_params = n_params <= URL_MAX_PARAMS
    reason = (
        # a NULL url makes every predicate NULL, which would fall through
        # every WHEN to 'ok' — fail it explicitly at the scheme gate
        F.when(u.isNull(), F.lit("scheme"))
        .when(~f_scheme, F.lit("scheme"))
        .when(~f_block, F.lit("blocklist"))
        .when(~f_digit, F.lit("digit_host"))
        .when(~f_len, F.lit("too_long"))
        .when(~f_depth, F.lit("too_deep"))
        .when(~f_params, F.lit("too_many_params"))
        .otherwise(F.lit("ok"))
    )
    return df.select(
        "*",
        host.alias("url_host"),
        (reason == "ok").alias("url_ok"),
        reason.alias("url_reason"),
    )


def url_filter_sql(url_sql: str) -> str:
    """DuckDB select-list fragment recomputing url_quality_filter's
    (url_host, url_ok, url_reason) from the URL expression `url_sql` —
    gate-for-gate identical to the Spark expressions above."""
    auth = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    fold = "'" + _UC + "', '" + _LC + "'"
    host = (f"split_part(translate(regexp_extract({url_sql}, '{auth}', 1), "
            f"{fold}), ':', 1)")
    path = f"regexp_extract({url_sql}, '{auth}([^?#]*)', 2)"
    query = (f"regexp_extract(regexp_extract({url_sql}, '^[^#]*', 0), "
             f"'\\?(.*)', 1)")
    block = " OR ".join(
        f"contains(translate({url_sql}, {fold}), '{t}')"
        for t in URL_BLOCKLIST)
    reason = f"""CASE
        WHEN {url_sql} IS NULL THEN 'scheme'
        WHEN translate(regexp_extract({url_sql},
             '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), {fold})
             NOT IN ('http', 'https')
             THEN 'scheme'
        WHEN {block} THEN 'blocklist'
        WHEN NOT (length(regexp_replace({host}, '[^0-9]', '', 'g')) * 10
                  <= length({host}) * 3 AND length({host}) > 0)
             THEN 'digit_host'
        WHEN length({url_sql}) > {URL_MAX_LEN} THEN 'too_long'
        WHEN length({path}) - length(replace({path}, '/', ''))
             > {URL_MAX_DEPTH} THEN 'too_deep'
        WHEN (CASE WHEN {query} = '' THEN 0
              ELSE length({query}) - length(replace({query}, '&', '')) + 1
              END) > {URL_MAX_PARAMS} THEN 'too_many_params'
        ELSE 'ok' END"""
    return (
        f"{host} AS url_host, ({reason}) = 'ok' AS url_ok, "
        f"({reason}) AS url_reason"
    )


def robots_match(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """RFC 9309 robots.txt evaluation: match each URL against its host's
    allow/disallow path rules — plain prefixes AND the §2.2.3 special
    characters ('*' matches any sequence, trailing '$' anchors); the
    LONGEST matching rule (octets of the rule text) wins and an allow
    beats a disallow of equal length (the Google tie-break). URLs whose
    host has no matching rule are allowed.

    `rules` is (host, prefix, allow boolean) — the parsed robots table a
    crawler maintains per host. Returns (doc_id, robots_allowed,
    robots_rule) where robots_rule is the winning prefix ('' if none).
    A URL with no path component evaluates as path '/' (RFC 9309 — a
    full-site `Disallow: /` must match `https://host`).

    Plan at 100 TB: the rules table is host-cardinality (tiny vs the
    frontier) and broadcasts; matching is one BroadcastHashJoin on host +
    a startswith filter, and the winner is a per-key window over the few
    matched rules — no data-sized shuffle beyond the window's keyed
    exchange.
    """
    from pyspark.sql.window import Window

    u = urls.select(
        F.col("doc_id"),
        _ascii_lower(F.split_part(
            F.regexp_extract(F.col("url"), _AUTH_RE, 1),
            F.lit(":"), F.lit(1))).alias("host"),
        F.when(
            F.regexp_extract(F.col("url"), _AUTH_RE + r"([^?#]*)", 2)
            == "", F.lit("/"))
        .otherwise(
            F.regexp_extract(F.col("url"), _AUTH_RE + r"([^?#]*)", 2))
        .alias("path"),
    )
    # the match predicate must live INSIDE the left-join condition: a
    # URL whose host has rules but none matching must survive as an
    # all-NULL match (-> allowed), not be filtered away.
    #
    # RFC 9309 §2.2.3 special characters: '*' matches any sequence, '$'
    # at the END of a rule anchors it; everything else is literal.
    # Wildcard-free rules (the overwhelming majority) keep the
    # whole-stage-codegen startswith fast path; wildcard rules translate
    # to an anchored regex (metachars escaped, '*' -> '.*', trailing '$'
    # kept as the anchor — a mid-rule '$' is literal) and match via
    # RLIKE with a per-rule pattern. Rule precedence is octet length of
    # the ORIGINAL rule text (RFC: most specific = longest), allow wins
    # ties — unchanged by wildcards.
    anchored = F.col("prefix").endswith("$")
    body = F.when(
        anchored, F.expr("substring(prefix, 1, length(prefix) - 1)")
    ).otherwise(F.col("prefix"))
    esc = F.regexp_replace(body, "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
    pat = F.concat(
        F.lit("^"), F.regexp_replace(esc, "\\*", ".*"),
        F.when(anchored, F.lit("$")).otherwise(F.lit("")))
    r = rules.select(
        F.col("host").alias("r_host"), "prefix", "allow",
        (F.col("prefix").contains("*") | anchored).alias("is_wc"),
        pat.alias("pat"))
    m = u.join(
        F.broadcast(r),
        (F.col("host") == F.col("r_host"))
        & F.when(F.col("is_wc"), F.expr("rlike(path, pat)"))
        .otherwise(F.col("path").startswith(F.col("prefix"))),
        "left",
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.length(F.col("prefix")).desc_nulls_last(),
        F.col("allow").desc_nulls_last(),
        F.col("prefix").asc_nulls_last(),
    )
    return (
        m.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("allow"), F.lit(True)).alias("robots_allowed"),
            F.coalesce(F.col("prefix"), F.lit("")).alias("robots_rule"),
        )
    )


def robots_match_sql(urls_cte: str, rules_cte: str) -> str:
    """DuckDB fragment recomputing robots_match over CTEs `urls_cte`
    (key, url) and `rules_cte` (host, prefix, allow) — including the RFC
    9309 §2.2.3 '*'/'$' wildcard translation (same two-path shape as the
    Spark side: starts_with for wildcard-free rules, anchored regex for
    wildcard rules; DuckDB regexp_replace needs the 'g' flag where
    Spark's is global by default, and backreferences are \\1 not $1)."""
    auth = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    return f"""
        SELECT doc_id,
               coalesce(allow, TRUE) AS robots_allowed,
               coalesce(prefix, '') AS robots_rule
        FROM (
          SELECT u.doc_id, r.allow, r.prefix,
                 row_number() OVER (
                   PARTITION BY u.doc_id
                   ORDER BY length(r.prefix) DESC NULLS LAST,
                            r.allow DESC NULLS LAST,
                            r.prefix ASC NULLS LAST) AS rn
          FROM (SELECT doc_id,
                       split_part(translate(regexp_extract(url,
                                      '{auth}', 1),
                                      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
                                  ':', 1) AS host,
                       CASE WHEN regexp_extract(url, '{auth}([^?#]*)', 2)
                                 = '' THEN '/'
                            ELSE regexp_extract(url, '{auth}([^?#]*)', 2)
                       END AS path
                FROM {urls_cte}) u
          LEFT JOIN (
            SELECT host, prefix, allow,
                   (contains(prefix, '*') OR prefix LIKE '%$') AS is_wc,
                   '^' || regexp_replace(
                       regexp_replace(
                           CASE WHEN prefix LIKE '%$'
                                THEN substring(prefix, 1, length(prefix) - 1)
                                ELSE prefix END,
                           '([.^$+?(){{}}[\\]|\\\\])', '\\\\\\1', 'g'),
                       '\\*', '.*', 'g')
                   || CASE WHEN prefix LIKE '%$' THEN '$' ELSE '' END AS pat
            FROM {rules_cte}) r
            ON r.host = u.host
            AND CASE WHEN r.is_wc THEN regexp_matches(u.path, r.pat)
                     ELSE starts_with(u.path, r.prefix) END
        ) WHERE rn = 1
    """


def meta_noindex_expr(html_str: Column) -> Column:
    """True when the page carries a `<meta name="robots" ...>` tag whose
    CONTENT ATTRIBUTE VALUE includes `noindex` — pages a compliant corpus
    builder must drop even after fetching them. Pure JVM regexp over the
    decoded html (bounded quantifiers, ASCII-folded containment only —
    Unicode lower is not engine-portable, NOTES #28, and the tokens are
    ASCII), portable Java-regex/RE2 subset.

    Round-2 advice hardening: the name value is anchored with a closing
    delimiter (`robots` followed by quote/whitespace/`/`/`>`), so
    `name="robots-news"` no longer matches, and `noindex` is checked
    inside the extracted content value only — a 'noindex' token elsewhere
    in the tag no longer false-positives."""
    low = _ascii_lower(html_str)
    # the unquoted-name delimiter is a LOOKAHEAD — consuming it would eat
    # the tag's closing '>' (name=robots>) and let the [^>] tail spill into
    # the NEXT tag, reading that tag's content attribute (false positive)
    tag = F.regexp_extract(
        low,
        r"<meta\s[^>]{0,512}?name\s*=\s*(\"robots\"|'robots'|robots(?=[\s/>]|$))"
        r"[^>]{0,512}",
        0,
    )
    c_dq = F.regexp_extract(tag, r"content\s*=\s*\"([^\"]{0,512})\"", 1)
    c_sq = F.regexp_extract(tag, r"content\s*=\s*'([^']{0,512})'", 1)
    c_uq = F.regexp_extract(tag, r"content\s*=\s*([^\s\"'>]{1,512})", 1)
    val = (
        F.when(c_dq != "", c_dq)
        .when(c_sq != "", c_sq)
        .otherwise(c_uq)
    )
    return val.contains("noindex")
