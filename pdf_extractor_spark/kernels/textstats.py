"""Text-analysis kernels for the training-data pipeline operators.

All functions are deterministic and SQL-mirrorable (each has an exact ANSI-SQL
equivalent used as the DuckDB oracle in __spark_entry__.oracle_sql), so the
driver's value-hash correctness gate applies to them. Spark-side equivalents
live in pdf_extractor_spark/operators/text_analysis.py and are expressed with
built-in pyspark.sql.functions (JVM-side, no Python in the hot path); these
pure-Python twins exist for unit tests and the corpus generator.
"""
from __future__ import annotations

import hashlib
import re

# re.ASCII: the Spark twins run Java regex (\s = ASCII [ \t\n\x0B\f\r]) and
# the DuckDB oracles run RE2 (\s = ASCII) — Python's default Unicode \s also
# matches NBSP/U+2028 etc. and would silently diverge on non-ASCII
# whitespace. Same for \w. (Unicode LOWERCASE is kept: Python and the JVM
# agree on accented letters, which the multilingual corpus needs.)
_WS_RE = re.compile(r"\s+", re.ASCII)
_PUNCT_RE = re.compile(r"[^\w\s]", re.ASCII)
# BPE-ish word/number/punctuation segmentation (mirrors the regex used in the
# Spark operator and the DuckDB oracle — keep the three in sync).
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_TOKEN_RE_C = re.compile(TOKEN_RE, re.ASCII)

EN_STOPWORDS_SMALL = (
    "the of and to in a is that it for on with as are was be this by an at "
    "from or have has not but they you we".split()
)


def normalize(text: str) -> str:
    """Canonical form for hashing/dedup: lowercase, whitespace collapsed."""
    return _WS_RE.sub(" ", text.lower()).strip()


def ws_token_count(text: str) -> int:
    """Whitespace token count (ASCII-whitespace, matching the Spark twin's
    split of the normalized text on ' ')."""
    norm = normalize(text)
    return len(norm.split(" ")) if norm else 0


def punct_ratio(text: str) -> float:
    """Punctuation chars / total non-space chars."""
    squeezed = _WS_RE.sub("", text)
    if not squeezed:
        return 0.0
    return len(_PUNCT_RE.findall(squeezed)) / len(squeezed)


def stopword_ratio(text: str) -> float:
    toks = normalize(text).split(" ") if normalize(text) else []
    if not toks:
        return 0.0
    sw = set(EN_STOPWORDS_SMALL)
    return sum(1 for t in toks if t in sw) / len(toks)


def quality_score(text: str) -> float:
    """Composite document-quality heuristic in [0,1].

    0.5*length_term + 0.3*(1-punct_ratio) + 0.2*stopword_presence, where
    length_term = min(n_ws_tokens, 100)/100. Mirrored exactly in SQL.
    """
    length_term = min(ws_token_count(text), 100) / 100.0
    return 0.5 * length_term + 0.3 * (1.0 - punct_ratio(text)) + 0.2 * min(
        stopword_ratio(text) * 5.0, 1.0
    )


def fingerprint(text: str) -> str:
    """Document fingerprint: md5 hex of the normalized text (exact-dedup key)."""
    return hashlib.md5(normalize(text).encode("utf-8")).hexdigest()


def shingles(text: str) -> set[str]:
    """Distinct word 3-gram shingles of the normalized text."""
    n = 3
    norm = normalize(text)
    toks = norm.split(" ") if norm else []
    if len(toks) < n:
        return {" ".join(toks)} if toks else set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


MINHASH_P = (1 << 31) - 1  # Mersenne prime: a*h+b stays < 2^59 (exact in int64)


def shingle_hash(shingle: str) -> int:
    """Deterministic 60-bit base hash of a shingle (first 15 md5 hex chars).

    One md5 per shingle; the num_perm permutations are cheap universal
    hashes over this value (vs. the naive one-md5-per-(seed, shingle),
    which costs num_perm× the digest work for identical LSH recall).
    """
    return int(hashlib.md5(shingle.encode("utf-8")).hexdigest()[:15], 16)


def minhash_perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash parameters per permutation:
    a = odd 28-bit md5-derived multiplier, b = 28-bit md5-derived offset."""
    params = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"mh-a:{i}".encode()).hexdigest()[:7], 16) | 1
        b = int(hashlib.md5(f"mh-b:{i}".encode()).hexdigest()[:7], 16)
        params.append((a, b))
    return params


def minhash_signature(text: str, num_perm: int = 64) -> list[int]:
    sh = shingles(text) or {""}  # empty text → hash of "" (Spark twin)
    hms = [shingle_hash(s) % MINHASH_P for s in sh]
    return [
        min((a * h + b) % MINHASH_P for h in hms)
        for a, b in minhash_perm_params(num_perm)
    ]


SIMHASH_BITS = 60  # fits exact signed-64 integer math in Spark AND DuckDB


def simhash(text: str) -> int:
    """SimHash over whitespace tokens of the normalized text.

    Token hash = first bits/4 md5 hex chars as int. 60 bits (not 64) so the
    Spark/DuckDB twins can use exact signed-64 integer arithmetic.
    """
    bits = SIMHASH_BITS
    norm = normalize(text)
    toks = norm.split(" ") if norm else []
    if not toks:
        return 0
    acc = [0] * bits
    for t in toks:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[: bits // 4], 16)
        for b in range(bits):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(bits):
        if acc[b] > 0:
            out |= 1 << b
    return out


ROLLING_BASE = 257
ROLLING_MOD = (1 << 61) - 1  # Mersenne prime


def rolling_hashes(text: str, window: int = 8) -> list[int]:
    """Rabin-Karp rolling hashes over characters of the normalized text."""
    base, mod = ROLLING_BASE, ROLLING_MOD
    s = normalize(text)
    if len(s) < window:
        return []
    h = 0
    power = pow(base, window - 1, mod)
    out = []
    for i, ch in enumerate(s):
        h = (h * base + ord(ch)) % mod
        if i >= window - 1:
            out.append(h)
            h = (h - ord(s[i - window + 1]) * power) % mod
    return out


def winnow_fingerprint_set(text: str) -> tuple[str, int]:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken) of ONE document:
    Rabin-Karp rolling hashes over 8-char grams of the normalized text, the
    minimum per sliding window of 4 grams, deduplicated and sorted,
    returned as (comma-joined string, count).

    The single source of truth shared by the Spark kernel
    (operators/text_analysis.winnowing_fingerprints) and the q48 literal
    oracle in __spark_entry__.py — both MUST call this so the oracle can
    never drift from the engine. Exact integer arithmetic throughout.
    """
    import numpy as np

    hs = rolling_hashes(text, window=8)
    if not hs:
        return "", 0
    a = np.array(hs, dtype=np.uint64)
    if len(a) <= 4:
        mins = [a.min()]
    else:
        mins = np.lib.stride_tricks.sliding_window_view(a, 4).min(axis=1)
    sel = sorted({int(x) for x in mins})
    return ",".join(map(str, sel)), len(sel)


def bpe_apply_merges(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Segment ONE word into subword symbols by applying learned BPE merges
    in rank order (Sennrich et al. 2016 'Neural Machine Translation of Rare
    Words with Subword Units', Algorithm 1's apply step): start from the
    character sequence plus an end-of-word marker, and for each merge
    (a, b) collapse every adjacent (a, b) occurrence left-to-right into
    the single symbol a+b.

    Single source of truth shared by the Spark pair-count/segmentation
    kernels (operators/text_analysis.bpe_learn_merges / bpe_token_counts)
    and the pure-Python oracle twin — exact string/integer work, no
    floats, so the two can never drift."""
    syms = list(word) + ["</w>"]
    for a, b in merges:
        if len(syms) < 2:
            break
        out = []
        i = 0
        n = len(syms)
        while i < n:
            if i < n - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_learn_from_vocab(
    wf: list[tuple[str, int]] | dict[str, int],
    n_merges: int,
    min_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Exact greedy BPE merge learning over a (word, freq) VOCABULARY
    (Sennrich et al. 2016, Algorithm 1's learn step): each step counts
    adjacent symbol pairs weighted by word frequency and commits the most
    frequent (tie-break count DESC, then (a, b) ASC — code-point order,
    identical to the Spark aggregate's ORDER BY cnt DESC, a, b). Returns
    [(rank, left, right, weighted_count), ...]; stops early when the best
    pair falls below min_count.

    Single source of truth shared by the Spark CAPPED-VOCAB learning path
    (operators/text_analysis.bpe_learn_merges with vocab_cap — one collect
    of the top-N vocabulary rows, then zero per-merge Spark jobs) and the
    pure-Python oracle twin — exact string/integer work, no floats, so the
    two can never drift. Complexity is O(n_merges x total vocab chars),
    bounded by the cap, never by the corpus."""
    from collections import Counter

    items = list(wf.items()) if isinstance(wf, dict) else list(wf)
    merges: list[tuple[str, str]] = []
    learned: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        pc: Counter = Counter()
        for w, f in items:
            syms = bpe_apply_merges(w, merges)
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_count:
            break
        merges.append((a, b))
        learned.append((step + 1, a, b, cnt))
    return learned


def gopher_doc_stats(text: str) -> tuple[int, float, float, float]:
    """(n_words, mean_word_len, top_bigram_frac, dup_trigram_frac) of ONE
    document — the Gopher repetition/quality signals (Rae et al. 2021,
    §A1.1). Single source of truth shared by the Spark kernel
    (operators/text_analysis.gopher_quality) and any pure-Python oracle
    twin that needs Gopher labels, so the two can never drift."""
    from collections import Counter

    norm = normalize(text)
    toks = norm.split(" ") if norm else []
    n = len(toks)
    nchars = len(norm)
    mwl = sum(map(len, toks)) / n if n else 0.0
    if n >= 2 and nchars:
        bg = Counter(zip(toks, toks[1:]))
        top = max(c * (len(a) + len(b) + 1) for (a, b), c in bg.items())
        topbg = min(1.0, top / nchars)
    else:
        topbg = 0.0
    if n >= 3 and nchars:
        tg = Counter(zip(toks, toks[1:], toks[2:]))
        dup = sum(
            c * (len(a) + len(b) + len(g) + 2)
            for (a, b, g), c in tg.items()
            if c > 1
        )
        duptg = min(1.0, dup / nchars)
    else:
        duptg = 0.0
    return n, mwl, topbg, duptg


def gopher_keep(n_words: int, mean_word_len: float, top_bigram_frac: float,
                dup_trigram_frac: float) -> bool:
    """The Gopher gate over UNROUNDED stats — the same comparisons the JVM
    evaluates in gopher_quality's keep column."""
    return (
        n_words >= 50
        and 3.0 <= mean_word_len <= 10.0
        and top_bigram_frac <= 0.20
        and dup_trigram_frac <= 0.30
    )


def sigmoid(z: float) -> float:
    """Numerically-stable logistic σ(z), shared by the distributed quality-
    classifier trainer's per-doc kernel and its pure-Python twin — the SAME
    CPython/libm math.exp on both sides, so trained weights replicate
    bit-exactly."""
    import math

    if z >= 0:
        return 1.0 / (1.0 + math.exp(-z))
    e = math.exp(z)
    return e / (1.0 + e)
