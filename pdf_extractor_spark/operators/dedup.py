"""Deduplication operators for the training-data pipeline.

All hash primitives are md5-based so results are portable across engines
(Spark's murmur3 `hash()` is not): exact-dedup/SimHash oracles reproduce the
hashes bit-exactly in DuckDB SQL; MinHash-LSH is verified against the exact
all-pairs Jaccard oracle (recall ≈ 1 at the configured bands/rows).
Pure-Python twins in kernels/textstats.py.

Scale notes (100 TB):
  - MinHash-LSH: signatures are computed scan-side (one pass, no shuffle),
    then ONE shuffle on (band_id, band_hash) to bucket candidates, then a
    self-join restricted to buckets — the classic way to avoid the O(n²)
    cross join. Band count/rows tune recall; verification re-checks exact
    Jaccard so precision is exact.
  - SimHash: per-doc 64-bit signature scan-side; grouping on the signature
    is one narrow shuffle.
  - n-gram Jaccard: explode(shingles) → shuffle on shingle → pair counts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared text canonicalization (twin of kernels/textstats.normalize)
# ---------------------------------------------------------------------------

def _norm(col):
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


# Word n-gram size of the near-duplicate pair operators (MinHash-LSH, exact
# and prefix-filtered Jaccard), the same shingles textstats.shingles builds.
SHINGLE_N = 3


# ---------------------------------------------------------------------------
# shingles
# ---------------------------------------------------------------------------

def shingle_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh array<string>) — distinct word n-gram shingles, sorted.

    Arrow-batched kernel twin of textstats.shingles and of the JVM
    `_shingles` expression (which builds each shingle with an O(n) array
    slice + concat per token position — measurably slower per scan). Sorted
    so output is deterministic across workers.
    """
    import pandas as pd

    from pdf_extractor_spark.kernels.textstats import normalize

    def kernel(batches):
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                text = text or ""
                nrm = normalize(text)
                toks = nrm.split(" ") if nrm else []
                if len(toks) < n:
                    out.append([" ".join(toks)])
                else:
                    out.append(
                        sorted({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sh": out})

    return _widen(docs.select("doc_id", "text")).mapInPandas(
        kernel, "doc_id long, sh array<string>"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def _widen(df: DataFrame) -> DataFrame:
    """Repartition a scan up to the session's default parallelism when the
    source produced fewer partitions (small files), so Arrow kernel stages
    use every core. No-op (no shuffle) when the input is already wide —
    at 100 TB the scan is thousands of splits and this never fires."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_hash_arrays(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shh array<long>) — sorted distinct 60-bit md5 shingle hashes.

    The narrow twin of shingle_arrays: carrying int64 hashes instead of the
    shingle strings makes every downstream shuffle (banding, verify joins)
    a fraction of the width, and the md5 work happens exactly once (batch-
    memoised) instead of once per consumer kernel. Jaccard over the hash
    sets equals Jaccard over the string sets absent 60-bit collisions
    (P ≈ 4e-11 for 10^4-shingle docs — and the LSH verify is the only
    consumer, so a collision could only perturb a candidate's score, not
    drop a document).
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from pdf_extractor_spark.kernels.textstats import normalize

    def kernel(batches):
        cache: dict[str, int] = {}

        def shash(s: str) -> int:
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                cache[s] = v
            return v

        for pdf in batches:
            out = []
            for text in pdf["text"]:
                text = text or ""
                nrm = normalize(text)
                toks = nrm.split(" ") if nrm else []
                if len(toks) < n:
                    sh = {" ".join(toks)}
                else:
                    sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
                hs = np.fromiter((shash(s) for s in sh), dtype=np.int64, count=len(sh))
                hs = np.unique(hs)  # sorted; dedups the (negligible) collisions
                out.append(hs)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "shh": out})

    return _widen(docs.select("doc_id", "text")).mapInPandas(
        kernel, "doc_id long, shh array<long>"
    )


def minhash_banded_from_hashes(
    shh_df: DataFrame, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """(doc_id, band, band_sig long) LSH band rows from precomputed shingle
    hashes — pure numpy (no hashing, no string assembly). The per-band
    signature rows are folded into ONE int64 via a polynomial rolling
    combine mod 2^61-1: equal row-vectors always fold equal (recall is
    unaffected), a fold collision merely adds a candidate pair that exact
    verify then rejects — so correctness is unchanged and the shuffle row
    is (long, int, long) instead of (long, int, string)."""
    import numpy as np
    import pandas as pd

    from pdf_extractor_spark.kernels.textstats import MINHASH_P, minhash_perm_params

    rows = num_perm // bands
    params = minhash_perm_params(num_perm)
    A = np.array([a for a, _ in params], dtype=np.int64)
    B = np.array([b for _, b in params], dtype=np.int64)
    FOLD_P = (1 << 61) - 1
    FOLD_X = 1_000_003

    def kernel(batches):
        for pdf in batches:
            n_docs = len(pdf)
            doc_ids = np.repeat(pdf["doc_id"].to_numpy(), bands)
            band_ids = np.tile(np.arange(bands, dtype=np.int32), n_docs)
            band_sigs = np.empty(n_docs * bands, dtype=np.int64)
            for i, shh in enumerate(pdf["shh"]):
                hs = np.asarray(shh, dtype=np.int64) % MINHASH_P
                sig = ((hs[:, None] * A + B) % MINHASH_P).min(axis=0)
                folded = sig.reshape(bands, rows)
                acc = np.zeros(bands, dtype=object)
                for r in range(rows):
                    acc = (acc * FOLD_X + folded[:, r]) % FOLD_P
                band_sigs[i * bands : (i + 1) * bands] = acc.astype(np.int64)
            yield pd.DataFrame(
                {"doc_id": doc_ids, "band": band_ids, "band_sig": band_sigs}
            )

    return shh_df.mapInPandas(kernel, "doc_id long, band int, band_sig long")


def _corpus_key(docs) -> str:
    """Content-sensitive reuse key for committed derived tables: count
    alone would silently reuse a stale snapshot when a re-crawl replaces
    documents without changing the row count. The crc32 covers the
    (doc_id, text) BINDING, not just the text multiset — a re-crawl that
    keeps the same texts but reassigns them to different doc_ids must
    invalidate the snapshot too, or the store serves the OLD id→content
    mapping to every downstream join (round-2 advice). count + an
    order-free crc32 checksum come out of ONE narrow aggregate (same
    single scan the old count() action cost)."""
    row = docs.agg(
        F.count("*").alias("c"),
        F.sum(
            F.crc32(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            )
        ).alias("ck"),
    ).first()
    return f"{row['c']}:{row['ck']}"


def shingle_table(docs: DataFrame, n: int, store_root: str,
                  corpus_key: str | None = None) -> DataFrame:
    """Materialized int64 shingle-hash table (SnapshotTable) keyed by
    (corpus count+crc32 checksum, n): reuse the committed snapshot when it matches, else rebuild
    with one md5 Arrow pass and overwrite-commit. Replaces `.persist()` for
    the MinHash pipeline's shared shingles — at 100 TB an executor cache of
    the full shingle set is a multi-TB memory dependency, while a parquet
    table is scanned twice (banding + verify) with column pruning and no
    residency requirement; steady-state runs skip the hash pass entirely
    (BENCH q18 first-run ≈ steady-state)."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    t = SnapshotTable(store_root)
    key = {"n_docs": corpus_key if corpus_key is not None
           else _corpus_key(docs), "n": n}
    m = t.current_manifest()
    if m is not None and m.get("summary", {}).get("key") == key:
        return t.read(docs.sparkSession)
    t.overwrite(shingle_hash_arrays(docs, n), summary={"key": key})
    return t.read(docs.sparkSession)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    shingle_store: str | None = None,
    corpus_key: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    Jaccard (so output is exact given candidate recall).

    Plan: scan→shingle hashes (one md5 kernel pass, int64 arrays) →
    numpy banding kernel → ONE shuffle on (band, band_sig) groupBy →
    within-bucket pair explode → distinct candidate pairs → exact-Jaccard
    verify via int64 shingle-hash joins. The bucket groupBy replaces the
    earlier two-sided self-join (same logical candidates, half the
    exchange volume). Both banding and verify consume the shingle hashes
    and Arrow stages are not exchange-reused by Catalyst, so they are
    shared either via executor cache (.persist(), default) or — the scale
    path — via `shingle_store`, a committed SnapshotTable reused across
    runs (see shingle_table).
    """
    if shingle_store is not None:
        shh = shingle_table(docs, SHINGLE_N, shingle_store,
                            corpus_key=corpus_key)
    else:
        shh = shingle_hash_arrays(docs, SHINGLE_N).persist()
    return minhash_pairs_from_hashes(shh, num_perm, bands, jaccard_threshold)


def banded_candidate_pairs(banded: DataFrame, id_col: str) -> DataFrame:
    """(id, band, band_sig) band rows → distinct candidate pairs (a < b)
    via the bucket groupBy pair-explode — the shared no-self-join core of
    every banded LSH in this module.
    """
    grouped = (
        banded.groupBy("band", "band_sig")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def minhash_pairs_from_hashes(shh: DataFrame, num_perm: int, bands: int,
                              jaccard_threshold: float) -> DataFrame:
    """The hash-level core of minhash_lsh_pairs: (doc_id, shh) shingle
    table → banded candidates → exact-Jaccard-verified (a < b) pairs.
    Shared by the batch operator and the streaming intra-batch arm.
    Buckets are tiny on organic corpora (near-dup cliques), so the
    interpreted pair-comprehension HOF is negligible next to the shuffle
    it avoids."""
    banded = minhash_banded_from_hashes(shh, num_perm, bands)
    cand = banded_candidate_pairs(banded, "doc_id")
    return verify_jaccard_hashed(cand, shh, threshold=jaccard_threshold)


def verify_jaccard_hashed(
    pairs: DataFrame, shh_df: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard for candidate (a,b) pairs over sorted int64 shingle-hash
    arrays: two narrow joins + ONE vectorized structured-array intersect
    per Arrow batch — (pair_idx, value) rows from both sides intersect in
    a single np.intersect1d over an (i8, i8) struct view, and per-pair
    intersection counts fall out of a bincount on the surviving pair
    indices. This replaced a per-row intersect1d loop whose per-call
    overhead dominated once candidate sets reached 10^5 pairs (the prefix
    arm's regime; measured at sf0.1 in BENCH.md). Bit-identical scores to
    the string-set verify absent 60-bit hash collisions: the intersection
    COUNT is exact integer work either way and the final division is the
    same IEEE op."""
    import numpy as np
    import pandas as pd

    joined = pairs.join(
        shh_df.withColumnRenamed("doc_id", "a").withColumnRenamed("shh", "sha"), "a"
    ).join(shh_df.withColumnRenamed("doc_id", "b").withColumnRenamed("shh", "shb"), "b")

    def kernel(batches):
        def flat(series, m):
            arrs = [np.asarray(x, dtype=np.int64) for x in series]
            ln = np.fromiter((x.size for x in arrs), np.int64, m)
            vals = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
            return np.repeat(np.arange(m, dtype=np.int64), ln), vals, ln

        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ka, va, la = flat(pdf["sha"], m)
            kb, vb, lb = flat(pdf["shb"], m)
            # (pair_idx, value) → ONE int64 key: rank-compress the 60-bit
            # values into 32 bits (np.unique over the batch) and pack the
            # pair index above them — structured/void dtypes sort with a
            # generic comparator (measured 4x SLOWER end-to-end than the
            # per-row loop); int64 keys keep every sort/intersect in
            # vectorized numpy. Arrow batches are ≤10^4 rows, so the pair
            # index needs ≤ 31 bits and the pack cannot overflow.
            uniq = np.unique(np.concatenate([va, vb]))
            keya = (ka << np.int64(32)) | np.searchsorted(uniq, va)
            keyb = (kb << np.int64(32)) | np.searchsorted(uniq, vb)
            # unique within a pair (arrays are distinct-shingle sets) and
            # across pairs (the pair index differs) → assume_unique holds
            inter = np.intersect1d(keya, keyb, assume_unique=True)
            cnt = (np.bincount(inter >> np.int64(32), minlength=m)
                   if inter.size else np.zeros(m, np.int64))
            jac = cnt / (la + lb - cnt)
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"], "jaccard": jac})

    return (
        joined.mapInPandas(kernel, "a long, b long, jaccard double")
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard over all pairs (small-side ground truth / verifier)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        shingle_store: str | None = None,
                        corpus_key: str | None = None) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold via inverted index (explode on
    shingle, pair within posting lists) — NOT a cross join.
    """
    # int64 shingle hashes, not strings: the posting-list explode is the
    # wide part of this plan, and 8-byte keys shuffle/join at a fraction of
    # the cost of n-gram strings (same Jaccard absent 60-bit collisions).
    # shingle_store (when given) reuses the committed shingle table shared
    # with the MinHash arm instead of re-hashing the corpus.
    if shingle_store is not None:
        sh = shingle_table(docs, SHINGLE_N, shingle_store,
                           corpus_key=corpus_key)
    else:
        # feeds postings AND sizes
        sh = shingle_hash_arrays(docs, SHINGLE_N).persist()
    sizes = sh.select("doc_id", F.size("shh").alias("sz"))
    posts = sh.select("doc_id", F.explode("shh").alias("s"))
    a = posts.alias("pa")
    b = posts.alias("pb")
    inter = (
        a.join(b, (F.col("pa.s") == F.col("pb.s")) & (F.col("pa.doc_id") < F.col("pb.doc_id")))
        .groupBy(F.col("pa.doc_id").alias("a"), F.col("pb.doc_id").alias("b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
        .select(
            "a",
            "b",
            (F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("a", "b")
    )
    return out


# ---------------------------------------------------------------------------
# exact all-pairs Jaccard via prefix filtering (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

def prefix_filter_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                                shingle_store: str | None = None,
                                corpus_key: str | None = None) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold via prefix filtering
    (Chaudhuri et al. SSJoin / Bayardo et al. AllPairs): identical output
    to ngram_jaccard_pairs, but the inverted index holds only each set's
    PREFIX — the first ``|s| - ceil(t·|s|) + 1`` shingle hashes under the
    global hash order — instead of every posting.

    Correctness (full recall, no LSH miss probability): J(a,b) ≥ t implies
    the sets share a token that lies in BOTH prefixes. Proof sketch: let w
    be the smallest common token. If w is outside a's prefix, every common
    token sits in a's suffix, so overlap ≤ ceil(t·|a|) - 1 < t·|a| ≤
    t(|a|+|b|)/(1+t) = the minimum overlap J ≥ t requires (using |b| ≥
    t·|a|, itself implied by J ≥ t); symmetrically for b via |a| ≥ t·|b|.
    Either way J < t — contradiction. Precision is exact because survivors
    re-verify with the full-array intersect kernel (verify_jaccard_hashed).

    Scale notes (100 TB): the posting explode — the wide stage of any
    inverted-index similarity join — shrinks to ~(1-t) of the full index
    (half at t=0.5), and the candidate join carries the length filter
    ``ceil(t·max(sz)) ≤ min(sz)`` inside the join condition so
    incompatible-size pairs never materialize. The global order is
    ASCENDING DOCUMENT FREQUENCY (ties by shingle hash) — the AllPairs
    ordering — so every prefix holds each set's RAREST shingles and the
    candidate join only collides on rare tokens. This matters: with a
    hash-value order (free — the arrays are already hash-sorted) this
    corpus's template-shared stop-shingles put 24% of ALL pairs in the
    candidate set (718k at sf0.1, measured); df-order collapses that to
    ~the true near-dup population at the cost of one vocabulary groupBy
    and one per-doc rank shuffle (both posting-width). Unlike ``max_df``
    pruning on the full index, prefix filtering is lossless at any skew.
    """
    if shingle_store is not None:
        sh = shingle_table(docs, SHINGLE_N, shingle_store,
                           corpus_key=corpus_key)
    else:
        sh = shingle_hash_arrays(docs, SHINGLE_N).persist()
    t = float(threshold)
    # ceil(t·sz) with a 1e-9 back-off: when the true product is an integer
    # k, IEEE may evaluate k+ulp and ceil would return k+1 — shortening the
    # prefix / tightening the length filter by one, i.e. a RECALL bug. The
    # back-off only ever errs the safe way (longer prefix, looser filter).
    def _tceil(col):
        return F.ceil(col * F.lit(t) - F.lit(1e-9))

    posts = prefix_postings(sh, t)
    a, b = posts.alias("pa"), posts.alias("pb")
    rows = a.join(
        b,
        (F.col("pa.s") == F.col("pb.s"))
        & (F.col("pa.doc_id") < F.col("pb.doc_id"))
        # length filter folded into the join condition: J ≥ t forces
        # t·|b| ≤ |a| and t·|a| ≤ |b|
        & (F.col("pa.sz") >= _tceil(F.col("pb.sz")))
        & (F.col("pb.sz") >= _tceil(F.col("pa.sz"))),
    ).select(
        F.col("pa.doc_id").alias("a"), F.col("pb.doc_id").alias("b"),
        F.col("pa.sz").alias("sza"), F.col("pb.sz").alias("szb"),
        F.col("pa.rk").alias("rka"), F.col("pb.rk").alias("rkb"),
    )
    # POSITIONAL filter (PPJoin, Xiao et al. 2008): for the FIRST shared
    # prefix token w — within one pair the shared tokens sort identically
    # in both prefixes (one global order), so argmin(rka) = argmin(rkb) =
    # w and the groupBy's two mins come from the same token — the common
    # tokens are ⊆ {w} ∪ a's suffix after rka ∪ b's suffix after rkb, so
    # overlap ≤ 1 + min(sza - rka, szb - rkb). J ≥ t needs overlap ≥
    # α = ceil(t/(1+t)·(sza+szb)); pairs whose bound can't reach α are
    # pruned BEFORE the array-shipping verify. This replaces the naive
    # .distinct() with a same-shuffle groupBy and is what keeps verify
    # volume ≈ the true near-dup population on template-heavy corpora
    # (measured at sf0.1: candidates 454k → verify input after this
    # filter is a small fraction; BENCH.md).
    alpha = F.ceil((F.col("sza") + F.col("szb")) * F.lit(t / (1.0 + t))
                   - F.lit(1e-9))
    cand = (
        rows.groupBy("a", "b", "sza", "szb")
        .agg(F.min("rka").alias("rka"), F.min("rkb").alias("rkb"))
        .where(F.lit(1) + F.least(F.col("sza") - F.col("rka"),
                                  F.col("szb") - F.col("rkb")) >= alpha)
        .select("a", "b")
    )
    return verify_jaccard_hashed(cand, sh, threshold=t)


def prefix_postings(sh: DataFrame, threshold: float) -> DataFrame:
    """(doc_id, shh) shingle table → the PREFIX posting list ``(doc_id,
    sz, s)``: each set's first ``sz - ceil(t·sz) + 1`` shingles under the
    global (document-frequency asc, shingle hash) order. Shared by
    prefix_filter_jaccard_pairs and the scale ladder's posting-volume
    measurement. Prefix length ≥ 1 whenever the set is non-empty (t ≤ 1);
    empty sets emit nothing and can never reach J ≥ t > 0.

    Two posting-width exchanges: the vocabulary groupBy (map-side
    combined) and the per-doc rank window — each bounded per doc/term,
    no skew amplification (the df table is joined back by shingle key,
    which Spark hash-distributes)."""
    from pyspark.sql.window import Window

    t = float(threshold)
    posts = sh.select(
        "doc_id", F.size("shh").alias("sz"), F.explode("shh").alias("s"))
    dft = posts.groupBy("s").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    plen = (F.col("sz")
            - F.ceil(F.col("sz") * F.lit(t) - F.lit(1e-9)) + F.lit(1))
    return (
        posts.join(dft, "s")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= plen)
        .select("doc_id", "sz", "s", "rk")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars → fits exact signed-64 integer math
# in both Spark and the DuckDB oracle (16 chars would need unsigned 64).


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over whitespace tokens (textstats.simhash twin).

    Token hash = first 15 md5 hex chars as int; bit b of the signature is 1
    iff sum over tokens of (bit set ? +1 : -1) > 0.

    Arrow-batched numpy kernel (mapInPandas): the 60-bit ±1 spreading is a
    single (tokens × 60) bit-unpack + column sum per doc, and token digests
    are memoised across the batch (web text repeats tokens heavily). This
    replaced a JVM higher-order-function formulation that evaluated 60
    interpreted folds per row — ~20× slower at bench scale. Values are
    bit-identical to textstats.simhash, so the DuckDB oracle (which
    replicates the md5 scheme in SQL) still matches exactly.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    from pdf_extractor_spark.kernels.textstats import normalize

    bits = SIMHASH_BITS

    def kernel(batches):
        cache: dict[str, int] = {}
        shifts = np.arange(bits, dtype=np.int64)
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf["text"]):
                text = text or ""
                nrm = normalize(text)
                toks = nrm.split(" ") if nrm else []
                if not toks:
                    continue
                hs = np.empty(len(toks), dtype=np.int64)
                for j, tok in enumerate(toks):
                    v = cache.get(tok)
                    if v is None:
                        v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                        cache[tok] = v
                    hs[j] = v
                acc = (2 * ((hs[:, None] >> shifts) & 1) - 1).sum(axis=0)
                out[i] = ((acc > 0).astype(np.int64) << shifts).sum()
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return _widen(docs.select("doc_id", "text")).mapInPandas(
        kernel, "doc_id long, simhash long"
    )


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(a, b, cos): document pairs whose 60-bit SimHash signatures differ
    in at most ``max_hamming`` bits — the Manku/Jain/Das Sarma web-crawl
    near-dup detector (WWW 2007), which runs Google-scale dedup as exactly
    this: SimHash + all pairs within hamming distance 3.

    Candidates come from the SHARED banded Hamming-LSH
    (multimodal.hamming_neardup_pairs): max_hamming+1 disjoint bands of
    the 60-bit signature, so any qualifying pair collides on ≥1 band by
    pigeonhole — guaranteed recall, one keyed equi-join, no all-pairs
    stage (the same machinery that serves image dHash and audio envelope
    fingerprints; one banding implementation, three fingerprint spaces).
    cos = 1 − hamming/60 rounded 6dp (identical IEEE division both
    engines). At 100 TB the signature table is 8 bytes/doc and the join
    ships (max_hamming+1) narrow rows per doc — the cheapest text
    near-dup pass in the suite, complementary to MinHash (token-set
    overlap) and embedding LSH (semantic)."""
    from pdf_extractor_spark.operators.multimodal import hamming_neardup_pairs

    s = simhash_signatures(docs).select(
        F.col("doc_id").alias("media_id"), F.col("simhash").alias("dhash"))
    return hamming_neardup_pairs(s, max_hamming=max_hamming,
                                 bits=SIMHASH_BITS)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def _round6_np(x):
    """Half-away-from-zero rounding at 6 decimals in numpy — matches
    F.round/DuckDB round (the proven parity trick from the round-1 blocked
    all-pairs kernel, which hash-matched the DuckDB oracle)."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6


def cosine_pairs_arrow(joined: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Exact cosine for candidate PAIRS as one BLAS pass per Arrow batch,
    replacing the interpreted per-row fold (the measured hot spot once
    candidate sets reach ~10⁵ pairs). Output values are rounded
    half-away-from-zero at 6 dp, the same contract every oracle checks;
    float64 BLAS agrees with both engines' sequential folds to ~1 ulp,
    far inside the rounding tolerance."""
    import numpy as np
    import pandas as pd

    other = [f for f in joined.schema if f.name not in (a_col, b_col)]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in other
    ) + ", cos double"

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf[a_col].to_numpy())
            B = np.stack(pdf[b_col].to_numpy())
            denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.einsum("ij,ij->i", A, B) / denom
            outd = {f.name: pdf[f.name] for f in other}
            outd["cos"] = _round6_np(cos)
            yield pd.DataFrame(outd)

    return joined.mapInPandas(kern, schema)


def assign_cells(e: DataFrame, cent_lists: list[list[float]]) -> DataFrame:
    """(vec_id, v, cell): nearest-centroid assignment by cosine as one
    n×k BLAS matmul per Arrow batch. argmax takes the FIRST max (matching
    array_position/list_position); zero-norm vectors park in cell 0."""
    import numpy as np
    import pandas as pd

    C = np.array(cent_lists, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy())
            Mn = np.linalg.norm(M, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (M @ C.T) / (Mn[:, None] * Cn[None, :])
            sims = np.where(np.isfinite(sims), sims, -np.inf)
            cells = sims.argmax(axis=1).astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "cell": cells}
            )

    return e.mapInPandas(kern, "vec_id long, v array<double>, cell int")


def embedding_neardup_pairs(
    embs: DataFrame, threshold: float = 0.95, num_blocks: int = 8
) -> DataFrame:
    """Pairs of embeddings with cosine ≥ threshold — blocked matrix product.

    EXACT BASELINE for tests and small corpora only: O(n²/B) flops is
    quadratic however you block it, so the driver-facing query path uses
    embedding_neardup_pairs_lsh (banded LSH candidates + exact verify)
    instead; this function remains the ground-truth twin the LSH variant is
    tested against.

    The corpus is split into `num_blocks` blocks by vec_id; every block-pair
    (i ≤ j) becomes one group whose all-pairs cosine is ONE BLAS matmul
    inside an Arrow-batched applyInPandas. Each vector is replicated to
    exactly num_blocks groups (narrow rows: id + vector), so the shuffle is
    O(n·num_blocks) rows while pair scoring is O(n²) *flops, not rows* —
    this replaced a nested-loop self-join that materialised n²/2 rows with
    an interpreted fold-cosine each (~70× slower at bench scale). At 100 TB
    scale, raise num_blocks so each block fits executor memory (group size
    ≈ 2·n/num_blocks vectors) and pre-filter candidates with
    similarity.lsh_neardup_pairs when n² flops is itself too much.

    Rounding is half-away-from-zero at 6 decimals, matching F.round/DuckDB.
    """
    import numpy as np
    import pandas as pd

    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    blk = F.pmod(F.col("vec_id"), F.lit(num_blocks)).cast("int")
    keys = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(o)).alias("bi"), F.greatest(blk, F.lit(o)).alias("bj")
            )
            for o in range(num_blocks)
        ]
    )
    ex = (
        e.withColumn("blk", blk)
        .withColumn("k", F.explode(keys))
        .select(F.col("k.bi").alias("bi"), F.col("k.bj").alias("bj"), "blk", "vec_id", "v")
    )
    thr = float(threshold)

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"a": pd.Series(dtype="int64"),
                              "b": pd.Series(dtype="int64"),
                              "cos": pd.Series(dtype="float64")})
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        left = pdf[pdf["blk"] == bi]
        right = pdf[pdf["blk"] == bj]
        if left.empty or right.empty:
            return empty
        vl = np.stack(left["v"].to_numpy())
        vr = np.stack(right["v"].to_numpy())
        sim = (vl @ vr.T) / np.outer(
            np.linalg.norm(vl, axis=1), np.linalg.norm(vr, axis=1)
        )
        sim = np.sign(sim) * np.floor(np.abs(sim) * 1e6 + 0.5) / 1e6  # round half-up
        ids_l = left["vec_id"].to_numpy()
        ids_r = right["vec_id"].to_numpy()
        if bi == bj:
            # diagonal block: left == right, keep the upper triangle only
            mask = (sim >= thr) & (ids_l[:, None] < ids_r[None, :])
        else:
            # off-diagonal: every cross pair is unique to this group; emit
            # all of them with (a, b) ordered by id
            mask = sim >= thr
        li, ri = np.nonzero(mask)
        if li.size == 0:
            return empty
        pa, pb = ids_l[li], ids_r[ri]
        return pd.DataFrame(
            {"a": np.minimum(pa, pb), "b": np.maximum(pa, pb), "cos": sim[li, ri]}
        )

    return (
        ex.groupBy("bi", "bj")
        .applyInPandas(block_pairs, "a long, b long, cos double")
        .orderBy("a", "b")
    )


def embedding_lsh_band_signatures(
    embs: DataFrame, n_bands: int = 16, band_bits: int = 8, seed: int = 7
) -> DataFrame:
    """(vec_id, band, band_sig) sign-sketch band rows: one Arrow pass does
    the n×(bands·bits) hyperplane matmul in BLAS, packs each band's sign
    bits into an int signature. Hyperplanes are md5-seeded (deterministic,
    data-independent). Narrow output rows — bands·n total — so the banding
    shuffle is O(n·bands), never O(n²)."""
    import hashlib

    import numpy as np
    import pandas as pd

    def kernel(batches):
        R = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy())
            if R is None:
                dim, total = m.shape[1], n_bands * band_bits
                R = np.array(
                    [
                        [
                            (int(hashlib.md5(f"elsh:{seed}:{p}:{d}".encode())
                                 .hexdigest()[:8], 16) % 1000) / 1000.0 - 0.5
                            for p in range(total)
                        ]
                        for d in range(dim)
                    ],
                    dtype=np.float64,
                )
            bits = (m @ R) > 0  # n × (bands·bits)
            weights = (1 << np.arange(band_bits, dtype=np.int64))
            sigs = bits.reshape(len(m), n_bands, band_bits) @ weights  # n × bands
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), len(m)),
                    "band_sig": sigs.reshape(-1),
                }
            )

    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return e.mapInPandas(kernel, "vec_id long, band int, band_sig long")


def _auto_lsh_bands(band_bits: int, base_bands: int = 16) -> int:
    """Bands needed so the banded hyperplane-LSH per-pair miss
    probability at cosine 0.99 is no worse than the ``(12, base_bands)``
    operating point: solve (1 − p^bits)^bands ≤ (1 − p^12)^base_bands
    with p = 1 − acos(0.99)/π (the hyperplane collision probability).
    Monotone: returns ``base_bands`` when bits do not exceed the base.
    Pure math (no Spark) so the growth rule is unit-testable."""
    import math

    base_bits = 12
    if band_bits <= base_bits:
        return base_bands
    p = 1.0 - math.acos(0.99) / math.pi
    target = base_bands * math.log(1.0 - p ** base_bits)
    per_band = math.log(max(1.0 - p ** band_bits, 1e-300))
    return max(base_bands, math.ceil(target / per_band))


def embedding_neardup_pairs_lsh(
    embs: DataFrame, threshold: float = 0.95, n_bands: int = 16,
    band_bits: int | None = 12,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: banded hyperplane-LSH
    candidates + exact cosine verify — the q18 MinHash shape transplanted
    to the embedding column, replacing the blocked all-pairs matmul whose
    O(n²/B) flops is a scale-killer at 100× no matter the blocking
    (round-1 verdict `weak` item).

    Plan: one Arrow sign-sketch pass → groupBy (band, band_sig) pair-explode
    (no self-join) → distinct candidates → two narrow joins fetch the
    vectors → exact JVM-fold cosine ≥ threshold. No O(n²) stage: candidate
    volume is bucket-bounded; at larger n, grow band_bits with log₂(n) to
    hold bucket sizes constant (recall is then retuned via n_bands).
    Verify cosine matches the exact all-pairs oracle after the shared
    6-dp rounding, so a candidate miss is the only possible divergence; at
    the operating point (injected near-dups at cos ≈ 0.998, p_bit ≈ 0.984)
    the per-pair miss probability is (1 − 0.984¹²)¹⁶ ≈ 9e-13, while the
    4096-bucket bands keep random-pair candidates ~n²/4096 per band —
    bucket width is the log₂(n)-scaling knob at larger corpora.

    ``band_bits=None`` AUTO-GROWS the bucket width from a cheap corpus
    count with the documented rule: ``max(12, ceil(log₂(n)))`` — i.e.
    ≥ n buckets per band, holding expected bucket size at O(1) as the
    corpus scales (the manually-grown ladder rungs in BENCH.md). Wider
    bands REDUCE per-band collision probability for true pairs (unlike
    the banded-Hamming arm, hyperplane-LSH recall is probabilistic, not
    pigeonhole-guaranteed), so the auto mode ALSO grows ``n_bands`` to
    hold the per-pair miss bound at the 12-bit/16-band operating point:
    ``(1 − p^bits)^bands ≤ (1 − p^12)^16`` evaluated at p = p_bit(0.99)
    (see :func:`_auto_lsh_bands`). At the default sf0.01 geometry the
    rule lands on exactly (12, 16), so the oracle-pinned configuration
    is unchanged; past it, candidate volume stays O(n) while recall does
    not degrade with corpus size. Exact verify still filters every
    candidate, so extra candidates never change results.
    """
    if band_bits is None:
        import math

        n_vec = embs.count()
        band_bits = max(12, math.ceil(math.log2(max(n_vec, 2))))
        n_bands = _auto_lsh_bands(band_bits, n_bands)
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    banded = embedding_lsh_band_signatures(embs, n_bands, band_bits, 7)
    cand = banded_candidate_pairs(banded, "vec_id")
    joined = cand.join(
        e.select(F.col("vec_id").alias("a"), F.col("v").alias("va")), "a"
    ).join(e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb")), "b")
    return (
        cosine_pairs_arrow(joined.select("a", "b", "va", "vb"), "va", "vb")
        .where(F.col("cos") >= threshold)
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# line/paragraph-frequency dedup (CCNet/C4-style boilerplate removal)
# ---------------------------------------------------------------------------

# Sentence split pattern of the line-grain dedup family, and the joiner its
# order-preserving reassembly puts back between kept sentences.
_SENT_SEP = r"\. "
_SENT_JOINER = ". "
# a line in more than this many distinct documents is boilerplate
LINE_MAX_DF = 50


def line_frequency_dedup(docs: DataFrame) -> DataFrame:
    """Remove sentences/paragraphs whose exact hash occurs in more than
    ``LINE_MAX_DF`` distinct documents (the CCNet/C4 boilerplate-line rule: a line
    repeated across many pages is chrome, not content).

    Plan: posexplode(split) → md5 per line → doc-frequency aggregate (one
    narrow shuffle on the 16-byte hash) → broadcast-able anti-join of lines
    against the boilerplate set → order-preserving reassembly
    (sort_array(collect_list(struct(pos, line)))). At 100 TB the df table is
    tiny relative to the corpus (boilerplate is heavy-tailed), so the
    anti-join broadcasts; reassembly shuffles on doc_id once.
    """
    sents = _exploded_lines(docs)
    boiler = (
        sents.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") > LINE_MAX_DF)
        .select("h")
    )
    kept = sents.join(boiler, "h", "left_anti")
    return _reassemble_clean(docs, kept)


def _exploded_lines(docs: DataFrame, *extra: str) -> DataFrame:
    """(doc_id, *extra, pos, sent, h=md5(sent)) — the shared explode of the
    line-grain dedup family (line_frequency_dedup, site_template_dedup)."""
    return docs.select(
        "doc_id", *extra,
        F.posexplode(F.split("text", _SENT_SEP, -1)).alias("pos", "sent"),
    ).withColumn("h", F.md5("sent"))


def _reassemble_clean(docs: DataFrame, kept: DataFrame) -> DataFrame:
    """Order-preserving reassembly of kept lines into (doc_id, clean_text),
    total over the input: docs whose every line was removed drop out of the
    groupBy and are restored as empty strings. Shared by the line-grain
    dedup family so the separator round-trip rule cannot diverge."""
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                _SENT_JOINER,
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
            ).alias("clean_text")
        )
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


def site_template_dedup(docs: DataFrame, host_col: str = "host") -> DataFrame:
    """Per-SITE template suppression: remove sentences/lines that repeat
    across more than half of a HOST's documents (and at least 2 of them)
    — the site-chrome rule production web extractors
    apply on top of corpus-global line frequency (line_frequency_dedup):
    a nav/footer sentence shared by most pages of one host is template even
    when the host is too small for its chrome to clear a corpus-wide df
    threshold, and a sentence popular across MANY hosts (a quote, a
    license line) is NOT this operator's business.

    The floor of 2 guards small hosts: on a 1-document host every unique
    sentence trivially exceeds any fraction of 1 — without the floor the
    whole document would be deleted as its own template.

    Plan: posexplode(split) → md5 per line → per-(host, hash)
    doc-frequency aggregate (one narrow shuffle) joined to broadcast-able
    per-host doc counts → anti-join → the same order-preserving reassembly
    as line_frequency_dedup. At 100 TB the template set is
    hosts x chrome-lines (tiny vs the corpus) and broadcasts.
    """
    sents = _exploded_lines(docs, host_col)
    host_docs = docs.groupBy(host_col).agg(
        F.countDistinct("doc_id").alias("n_docs"))
    tmpl = (
        sents.groupBy(host_col, "h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .join(F.broadcast(host_docs), host_col)
        .where((F.col("df") >= 2)
               & (F.col("df") > F.lit(0.5) * F.col("n_docs")))
        .select(host_col, "h")
    )
    kept = sents.join(F.broadcast(tmpl), [host_col, "h"], "left_anti")
    return _reassemble_clean(docs, kept)


# ---------------------------------------------------------------------------
# corpus-level exact-substring dedup (ExactSubstr, Lee et al. 2021)
# ---------------------------------------------------------------------------

def exact_substring_dedup(docs: DataFrame, k: int = 8) -> DataFrame:
    """Remove every token span covered by a k-token window whose exact text
    occurs more than once in the whole corpus — the ExactSubstr rule of Lee
    et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"), which the paper implements with a corpus suffix array. A
    suffix array is a single-node design; the Spark-first equivalent hashes
    every k-token window and aggregates corpus frequency:

      windows   : one narrow pass — posexplode over a transform(sequence)
                  of md5'd k-token slices (no shuffle; ~n_tokens rows/doc).
      dup set   : ONE shuffle on the 16-byte window hash; `count(*) > 1`
                  keeps only duplicated windows. Duplication is heavy-tailed
                  at web scale, so this set is small relative to the corpus
                  and the join back is a broadcast-able semi-join.
      coverage  : duplicated windows explode to their k covered token
                  positions; distinct per (doc_id, tpos).
      rebuild   : survivors reassemble order-preservingly with
                  sort_array(collect_list(struct(pos, tok))) — one shuffle
                  keyed by doc_id, same shape as line_frequency_dedup.

    Output is total over the input: (doc_id, clean_text, n_removed_tokens);
    docs shorter than k tokens pass through untouched (no window exists).
    Matching the paper, frequency counts OCCURRENCES (a span repeated twice
    inside one document is also removed), not distinct documents.
    """
    t = docs.select("doc_id", F.split(_norm(F.col("text")), " ").alias("toks"))
    n = F.size("toks")
    # window start positions 0..n-k (guarded: no windows when n < k)
    wins = (
        t.where(n >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n - k),
                    lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + 1, k))),
                )
            ).alias("pos", "h"),
        )
    )
    dup = wins.groupBy("h").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    covered = (
        wins.join(dup.select("h"), "h", "left_semi")
        .select("doc_id", F.explode(F.sequence("pos", F.col("pos") + (k - 1))).alias("tpos"))
        .distinct()
    )
    toks = t.select("doc_id", F.posexplode("toks").alias("tpos", "tok"))
    kept = toks.join(covered, ["doc_id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    return (
        t.select("doc_id", n.alias("n_toks"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.col("n_toks") - F.coalesce("n_kept", F.lit(0))).alias(
                "n_removed_tokens"
            ),
        )
    )


def exact_substring_dedup_chars(docs: DataFrame,
                                min_len: int = 50) -> DataFrame:
    """CHARACTER-level ExactSubstr — the exact rule of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better", §4.1:
    remove every substring of ≥ 50 BYTES that occurs more than once in
    the corpus), which `exact_substring_dedup` approximates at token
    granularity. The token path MISSES spans long in characters but
    short in tokens (a duplicated 60-char blob that normalizes to one
    token contains no duplicated 8-token window — the adversarial
    fixture pinned in tests and gated in q39's `exact_substr_chars`
    arm); this path closes that gap.

    The paper's suffix array is a single-node design. The Spark-native
    equivalent hashes every length-L character window: a position is
    covered by a duplicated substring of length ≥ L **iff** it is
    covered by a duplicated length-L window (every length-L substring
    of a duplicated span is itself duplicated, and a duplicated window
    IS a duplicated length-L substring) — so windowed hashing computes
    the suffix array's exact coverage set, not an approximation of it.

      windows  : an Arrow (mapInPandas) kernel after a narrow repartition
                 on doc_id — the 16-byte md5 of each length-L char slice
                 of the normalized text (~n_chars rows/doc), yielded in
                 bounded chunks.
      dup set  : ONE shuffle on the window hash; count(*) > 1.
      intervals: duplicated windows per doc become [s, s+L-1] intervals,
                 merged with a gaps-and-islands window over (doc_id, s)
                 — the shuffle carries DUPLICATED windows only
                 (heavy-tail-small at web scale), never one row per
                 character, so the rebuild cost is O(dup spans), not
                 O(corpus chars) — the property that survives a 100×
                 scale-up where a per-char explode would not.
      rebuild  : per-doc aggregate() over the few merged intervals
                 stitches the kept slices (interpreted HOF over a small
                 array — fine; the per-char work stays in the window
                 kernel).

    Output is total over input: (doc_id, clean_text, n_removed_chars);
    docs shorter than min_len pass through untouched. Like the token
    path, frequency counts OCCURRENCES, matching the paper.
    """
    from pyspark.sql import Window

    t = docs.select("doc_id", _norm(F.col("text")).alias("t"))
    n = F.length("t")

    def _win_kernel(it):
        # Arrow kernel for the window-hash stage: the transform(sequence)
        # HOF formulation is interpreted (never codegen'd — the round-1
        # lesson) and measured 7.8 s at sf0.1; C-speed char slicing +
        # hashlib here cuts the arm to ~2 s. 16-byte digests (not hex
        # strings) halve the shuffle. Semantics are EXACTLY the oracle's
        # md5-over-the-50-char-slice rule — at 128 bits the dup sets are
        # collision-free, so both sides compute identical coverage.
        import hashlib

        import pandas as pd

        # yield in bounded chunks, not one frame per Arrow batch: peak
        # memory would otherwise be O(batch_chars) boxed rows — a batch
        # of large docs is millions of windows (review finding)
        chunk = 1 << 16
        ids: list = []
        ss: list = []
        hs: list = []
        for pdf in it:
            for did, tx in zip(pdf["doc_id"], pdf["t"]):
                if tx is None or len(tx) < min_len:
                    continue
                # flush MID-DOC too (second review wave): one multi-MB
                # doc is millions of windows, so a per-doc check would
                # re-gate peak memory on doc size; window rows are
                # independent, so splitting inside a doc is safe
                for i in range(len(tx) - min_len + 1):
                    ids.append(did)
                    ss.append(i + 1)
                    hs.append(hashlib.md5(
                        tx[i:i + min_len].encode("utf-8")).digest())
                    if len(ids) >= chunk:
                        yield pd.DataFrame(
                            {"doc_id": ids, "s": ss, "h": hs})
                        ids, ss, hs = [], [], []
        if ids:
            yield pd.DataFrame({"doc_id": ids, "s": ss, "h": hs})

    # spread the O(n_chars) kernel across the session's cores: a small-SF
    # corpus arrives as ONE parquet split, which would serialize the whole
    # window pass into a single task; the (doc_id, t) exchange is narrow
    # and trivially cheaper than the per-char work it parallelizes.
    # `wins` feeds both the dup count and the semi-join through different
    # exchanges (no exchange reuse), so it is checkpointed: the kernel
    # runs once, here, instead of once per consumer
    spark = docs.sparkSession
    wins = (
        t.where(n >= min_len)
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .mapInPandas(_win_kernel, "doc_id long, s int, h binary")
        .localCheckpoint()
    )
    dup = wins.groupBy("h").agg(F.count("*").alias("c")).where(F.col("c") > 1)
    iv = (
        wins.join(dup.select("h"), "h", "left_semi")
        .select("doc_id", "s", (F.col("s") + (min_len - 1)).alias("e"))
    )
    w = Window.partitionBy("doc_id").orderBy("s")
    iv = iv.withColumn(
        "pe", F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
    iv = iv.withColumn(
        "isl",
        F.sum(
            (F.col("pe").isNull() | (F.col("s") > F.col("pe") + 1))
            .cast("int")
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = (
        iv.groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"),
            F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
        )
    )
    # stitch kept slices: fold over merged intervals, carrying (acc, pos)
    stitched = F.expr(
        "aggregate(ivs, struct(cast('' as string) as acc, 1L as pos), "
        "(a, iv) -> struct(concat(a.acc, substring(t, a.pos, iv.s - a.pos)), "
        "cast(iv.e + 1 as bigint)), "
        "a -> concat(a.acc, substring(t, a.pos, length(t) - a.pos + 1)))"
    )
    return (
        t.join(merged, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("ivs").isNull(), F.col("t"))
            .otherwise(stitched).alias("clean_text"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed_chars"),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (training-data hygiene)
# ---------------------------------------------------------------------------

def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  min_overlap: int = 1) -> DataFrame:
    """Flag training documents sharing ≥ min_overlap word n-grams with any
    benchmark document (the standard eval-decontamination pass, e.g.
    GPT-3 appendix C / PaLM §6.2 — public papers).

    Plan: benchmark n-gram set (distinct, exploded) is aggregated once —
    at 100 TB the benchmark side is eval-suite-sized (tiny), so the join
    against training grams is a broadcast hash join; the per-doc overlap
    count is one aggregation keyed by doc_id. Output is total over input
    docs: (doc_id, overlap_ngrams, contaminated).
    """
    doc_grams = shingle_arrays(docs, n).select(
        "doc_id", F.explode("sh").alias("g")
    )
    bench_grams = (
        shingle_arrays(benchmark, n)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )
    return (
        docs.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= min_overlap).alias(
                "contaminated"
            ),
        )
    )


def fuzzy_decontaminate(docs: DataFrame, benchmark: DataFrame,
                        n: int = 8) -> DataFrame:
    """Near-duplicate decontamination: flag training documents whose
    word-n-gram Jaccard similarity with ANY benchmark document reaches
    1/2 — the fuzzy companion of
    ``decontaminate`` (an eval answer paraphrased or truncated into a
    training page shares most but not all n-grams, so set-intersection
    alone under-flags; near-dup decontamination is the FineWeb/Llama
    practice, public reports).

    The threshold compares as INTEGERS (``2*inter >= union``) so
    the SQL twin agrees bit-for-bit — no float rounding seam.

    Plan: the benchmark side is eval-suite-sized at any corpus scale, so
    its exploded distinct grams (with per-doc sizes) BROADCAST and exact
    per-pair intersection is one gram join + one (doc_id, bid) count —
    full recall with no LSH probability knob (banding pays off only when
    BOTH sides are large; here it would add a miss probability for
    nothing). One shuffle (the pair aggregation, keyed by doc), output
    total over input docs: (doc_id, overlap_ngrams = max intersection
    with any benchmark doc, contaminated)."""
    doc_g = shingle_arrays(docs, n).select(
        "doc_id", F.size("sh").alias("n_d"), F.explode("sh").alias("g"))
    bench_g = shingle_arrays(benchmark, n).select(
        F.col("doc_id").alias("bid"), F.size("sh").alias("n_b"),
        F.explode("sh").alias("g"))
    pairs = (
        doc_g.join(F.broadcast(bench_g), "g")
        .groupBy("doc_id", "bid", "n_d", "n_b")
        .agg(F.count("*").alias("inter"))
        .withColumn("uni", F.col("n_d") + F.col("n_b") - F.col("inter"))
    )
    per_doc = pairs.groupBy("doc_id").agg(
        F.max("inter").alias("overlap_ngrams"),
        F.max(F.lit(2) * F.col("inter")
              >= F.lit(1) * F.col("uni")).alias("contaminated"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# within-document sentence self-dedup (repetition removal)
# ---------------------------------------------------------------------------

def sentence_self_dedup(docs: DataFrame) -> DataFrame:
    """Remove repeated sentences WITHIN each document, keeping the first
    occurrence in order (the within-page half of C4's repetition rule —
    line_frequency_dedup handles the cross-document half).

    Plan: posexplode(split) → first-occurrence filter via min(pos) per
    (doc_id, sentence) [one shuffle, keyed by doc+hash so it scales with
    the corpus] → order-preserving reassembly grouped by doc_id. Output is
    total over input docs (all-duplicate docs keep their first sentence).
    """
    sents = docs.select(
        "doc_id", F.posexplode(F.split("text", _SENT_SEP, -1)).alias("pos", "sent")
    )
    first = sents.groupBy("doc_id", F.md5("sent").alias("h")).agg(
        F.min("pos").alias("pos")
    )
    kept = sents.join(first.select("doc_id", "pos"), ["doc_id", "pos"], "left_semi")
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                _SENT_JOINER,
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
            ).alias("clean_text")
        )
        .join(docs.select("doc_id"), "doc_id", "right")
        .select("doc_id", F.coalesce("clean_text", F.lit("")).alias("clean_text"))
    )


# ---------------------------------------------------------------------------
# near-dup pairs → dedup groups (connected components)
# ---------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., 'Connected Components in MapReduce
    and Beyond'): per node u with m = min(Γ(u) ∪ {u}), rewire every strictly
    larger neighbor to m. Input/output: directed (u, v) edges, symmetric
    closure applied here."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn")).alias("m")
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: canonicalize each edge to (hi, lo); per hi with
    mn = min of its smaller neighbors, rewire hi and all its smaller
    neighbors to mn."""
    canon = edges.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).where(F.col("hi") != F.col("lo"))
    mins = canon.groupBy("hi").agg(F.min("lo").alias("mn"))
    rewired = canon.join(mins, "hi").select(F.col("lo").alias("u"),
                                            F.col("mn").alias("v"))
    self_edges = mins.select(F.col("hi").alias("u"), F.col("mn").alias("v"))
    return (
        rewired.unionByName(self_edges)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


# Large-star/small-star rounds before connected_components gives up: O(log n)
# rounds converge any component of up to ~2^15 nodes.
_CC_MAX_ROUNDS = 15


def connected_components(pairs: DataFrame) -> DataFrame:
    """(doc_id, group_id) for every node in the pair graph, group_id = the
    smallest node id reachable from it — the step that turns near-duplicate
    PAIRS (q18/q19/q21 output) into dedup GROUPS with one canonical
    representative each.

    Large-star/small-star alternation (Kiveris et al. 2014, public paper):
    converges in O(log n) rounds regardless of component diameter — unlike
    plain min-label propagation, whose round count equals the graph
    diameter and silently mislabels chain-shaped near-dup graphs when
    capped. Each round is two narrow shuffles (groupBy min + join);
    localCheckpoint cuts the lineage chain per round (the standard
    iterative-algorithm discipline at scale). Raises on non-convergence
    instead of returning wrong groups.
    """
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    if not edges.head(1):
        return edges.select(F.col("u").alias("doc_id"), F.col("v").alias("group_id"))
    converged = False
    for _ in range(_CC_MAX_ROUNDS):
        new = _small_star(_large_star(edges)).localCheckpoint()
        changed = (
            new.exceptAll(edges).count() + edges.exceptAll(new).count()
        )
        edges = new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} "
            "large-star/small-star rounds"
        )
    # fixpoint is a star forest: every non-root points at its component min
    roots = edges.select(F.col("v").alias("u"), F.col("v"))
    return (
        edges.unionByName(roots)
        .distinct()
        .select(F.col("u").alias("doc_id"), F.col("v").alias("group_id"))
        .orderBy("doc_id")
    )


def canonical_selection(groups: DataFrame, docs: DataFrame) -> DataFrame:
    """Pick the canonical survivor of each dup group — the step after
    connected_components that decides which copy a dedup pipeline KEEPS
    (reference retry/replace semantics keep exactly one live row per
    logical document, main.py:1751-1776; corpus dedup pipelines keep the
    most informative copy per near-dup clique).

    Rule: longest text wins (a near-duplicate superset carries strictly
    more content than its subset), smallest doc_id breaks ties (exact
    copies are interchangeable, so the earliest ingest is canonical).

    groups: (doc_id, group_id) from connected_components.
    docs:   (doc_id, text, ...) — the same corpus the pairs came from.

    Scale: one keyed equi-join on doc_id (group membership is a tiny
    fraction of the corpus after LSH, so AQE broadcasts it), then one
    window partitioned by group_id — state bounded by the largest dup
    clique, never by the corpus.
    """
    from pyspark.sql.window import Window

    scored = groups.join(
        docs.select("doc_id", F.length("text").alias("text_len")), "doc_id"
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("text_len").desc(), F.col("doc_id")
    )
    return scored.select(
        "doc_id",
        "group_id",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0)
        .cast("int")
        .alias("is_canonical"),
    )


# Bloom filter of bloom_decontaminate: bits in the filter, hash positions
# per gram. The DuckDB twin hard-codes both (262144 = 1 << 18).
_BLOOM_M_BITS = 1 << 18
_BLOOM_K_HASHES = 4


def _bloom_pos(gram: F.Column, i: int) -> F.Column:
    """Bit position i of a gram: 60-bit md5 int of `gram#i`, mod m. The
    DuckDB twin is ('0x' || substr(md5(g || '#i'), 1, 15))::BIGINT % m —
    bit-identical (both parse the same 15 hex chars)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(gram, F.lit(f"#{i}"))), 1, 15), 16, 10
        ).cast("long")
        % _BLOOM_M_BITS
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Bloom-filter decontamination — the constant-memory variant of
    `decontaminate` for when even the distinct benchmark n-gram SET is too
    wide to broadcast as strings: insert every benchmark gram's k bit
    positions into an m-bit filter, then flag a training doc if ANY of its
    grams probes all-k-set (false positives are possible, misses are not —
    the safe direction for decontamination).

    The filter is represented relationally as the distinct set-bit
    positions (≤ |bench grams| × k longs, deduped — far narrower than the
    grams themselves) and broadcast to the probe join; semantically
    identical to probing a physical bit array, INCLUDING the deterministic
    false positives from cross-gram position collisions, which is what
    makes the operator oracle-checkable. At real scale you'd pack the
    positions into an m/8-byte array on the driver and broadcast that
    instead; the probe plan (scan-side gram hashing, broadcast lookup,
    per-doc aggregate) is the same.

    Output matches decontaminate: (doc_id, overlap_ngrams, contaminated)
    where overlap_ngrams counts grams whose probe fully hits.
    """
    bits = (
        shingle_arrays(benchmark, n)
        .select(F.explode("sh").alias("g"))
        .distinct()
        .select(
            F.explode(
                F.array(*[_bloom_pos(F.col("g"), i)
                          for i in range(_BLOOM_K_HASHES)])
            ).alias("pos")
        )
        .distinct()
    )
    probes = (
        shingle_arrays(docs, n)
        .select("doc_id", F.explode("sh").alias("g"))
        .select(
            "doc_id", "g",
            F.explode(
                F.array(*[_bloom_pos(F.col("g"), i)
                          for i in range(_BLOOM_K_HASHES)])
            ).alias("pos"),
        )
    )
    hits = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("nbits"))
        .where(F.col("nbits") == _BLOOM_K_HASHES)
        .groupBy("doc_id")
        .agg(F.count("*").alias("overlap_ngrams"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("overlap_ngrams", F.lit(0)).alias("overlap_ngrams"),
            (F.coalesce("overlap_ngrams", F.lit(0)) >= 1).alias(
                "contaminated"
            ),
        )
    )


def minhash_lsh_pairs_incremental(
    new_shh: DataFrame,
    corpus_shh: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Delta-vs-index near-dup detection — the continuous-crawl shape: a
    new batch arrives and must be deduped against the existing corpus
    WITHOUT re-scanning it. Both inputs are (doc_id, shh) shingle-hash
    tables (see shingle_table — the committed store IS the index; a
    production deployment would commit the banded signatures alongside).

    Band signatures are computed for both sides' hash arrays (delta-sized
    work for the batch; the corpus side reads the store, no text re-scan),
    candidates come from ONE keyed join on (band, band_sig) — new×corpus
    only, never corpus×corpus — and exact-Jaccard verify runs on
    candidates. Cost per batch: O(|batch|) hashing + a join keyed on band
    signatures, independent of corpus width. Output: (a=corpus doc,
    b=new doc, jaccard).
    """
    corpus_banded = minhash_banded_from_hashes(corpus_shh, num_perm, bands)
    new_banded = minhash_banded_from_hashes(new_shh, num_perm, bands)
    cand = (
        new_banded.select(
            "band", "band_sig", F.col("doc_id").alias("b"))
        .join(
            corpus_banded.select(
                "band", "band_sig", F.col("doc_id").alias("a")),
            ["band", "band_sig"],
        )
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # callers pass disjoint doc_id sets (a batch vs the index), so the
    # union needs no distinct — a wide dedup over array rows would cost a
    # corpus-sized shuffle for nothing
    shh_all = corpus_shh.unionByName(new_shh)
    return verify_jaccard_hashed(cand, shh_all, threshold=jaccard_threshold)
