"""Dedup + similarity operators: correctness against pure-Python twins and
known constructions (SURVEY.md training-data pipeline ops)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.kernels import textstats
from pdf_extractor_spark.operators import dedup, similarity

DOCS_DDL = "doc_id long, text string"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines and data"),
        (5, "THE  QUICK   brown fox jumps over the lazy dog"),  # normalizes to 1
        (6, ""),
        (7, "short text"),
    ]
    return spark.createDataFrame(rows, DOCS_DDL)


def test_minhash_signature_matches_python_twin(spark, docs):
    """The production MinHash (shingle_hash_arrays ->
    minhash_banded_from_hashes) computes textstats.minhash_signature: with
    one row per band each band value is one signature entry; with wider
    bands it is the polynomial fold (mod 2^61-1) of that band's entries."""
    num_perm = 8
    shh = dedup.shingle_hash_arrays(docs)
    for bands in (num_perm, 2):
        rows = num_perm // bands
        got = {
            (r["doc_id"], r["band"]): r["band_sig"]
            for r in dedup.minhash_banded_from_hashes(
                shh, num_perm=num_perm, bands=bands).collect()
        }
        for row in docs.collect():
            sig = textstats.minhash_signature(row["text"], num_perm=num_perm)
            for b in range(bands):
                want = 0
                for v in sig[b * rows:(b + 1) * rows]:
                    want = (want * 1_000_003 + v) % ((1 << 61) - 1)
                assert got[(row["doc_id"], b)] == want, (row["doc_id"], bands, b)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, num_perm=64, bands=32, jaccard_threshold=0.4
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (1, 2) in got and (1, 5) in got and (2, 5) in got  # exact dups
    assert (1, 3) in got  # near dup (1 token of 7 shingles differs)
    assert all(4 not in p and 6 not in p for p in got)


def test_ngram_jaccard_matches_python(spark, docs):
    pairs = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.01).collect()
    }
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    for (a, b), j in pairs.items():
        sa, sb = textstats.shingles(rows[a]), textstats.shingles(rows[b])
        expected = len(sa & sb) / len(sa | sb)
        assert abs(j - expected) < 1e-6, (a, b)
    assert pairs[(1, 2)] == 1.0


def test_simhash_matches_python_twin(spark, docs):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    for row in docs.collect():
        assert got[row["doc_id"]] == textstats.simhash(row["text"]), row["doc_id"]


def test_simhash_near_dups_close_in_hamming(spark, docs):
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash_signatures(docs).collect()}
    assert got[1] == got[2] == got[5]
    ham_near = bin(got[1] ^ got[3]).count("1")
    ham_far = bin(got[1] ^ got[4]).count("1")
    assert ham_near < ham_far


EMB_DDL = "vec_id long, embedding array<float>"


@pytest.fixture(scope="module")
def embs(spark):
    # deterministic small embedding set with one tight cluster
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # ~0.995 cos to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.95, 0.3, 0.0]),   # close to 2
        (4, [0.5, 0.5, 0.5, 0.5]),
        (5, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, EMB_DDL)


def test_embedding_neardup(spark, embs):
    pairs = {(r["a"], r["b"]) for r in dedup.embedding_neardup_pairs(embs, 0.9).collect()}
    assert (0, 1) in pairs and (2, 3) in pairs
    assert all(5 not in p for p in pairs)


def test_embedding_neardup_blocked_matches_numpy_exact(spark):
    """The blocked-matmul pair generator must equal an exact all-pairs
    reference on random vectors — catches block-pair orientation bugs
    (off-diagonal pairs where the lower-block member has the larger id)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=(60, 8)).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    embs = spark.createDataFrame(rows, EMB_DDL)
    thr = 0.3
    norms = np.linalg.norm(base, axis=1)
    sim = (base @ base.T) / np.outer(norms, norms)
    expected = {
        (i, j)
        for i in range(60)
        for j in range(i + 1, 60)
        if np.floor(abs(sim[i, j]) * 1e6 + 0.5) / 1e6 * np.sign(sim[i, j]) >= thr
    }
    for nb in (1, 3, 8):
        got = {
            (r["a"], r["b"])
            for r in dedup.embedding_neardup_pairs(embs, thr, num_blocks=nb).collect()
        }
        assert got == expected, f"num_blocks={nb}"


def test_brute_force_topk_exact(spark, embs):
    res = similarity.brute_force_topk(embs, [0], k=3).collect()
    assert [r["neighbor_id"] for r in res] == [1, 4, 2]
    assert res[0]["rank"] == 1 and res[0]["cos"] > 0.99


def test_ivf_recall_vs_brute_force(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 64)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    embs = spark.createDataFrame(rows, EMB_DDL)
    brute = similarity.brute_force_topk(embs, [0, 1], k=5)
    ivf = similarity.ivf_topk(embs, [0, 1], k=5, n_cells=4, n_probe=2)
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}
    iset = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    recall = len(bset & iset) / len(bset)
    assert recall >= 0.5  # probing half the cells → decent recall
    # every ivf hit must carry the exact brute-force cosine
    bcos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in brute.collect()}
    for r in ivf.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bcos:
            assert r["cos"] == bcos[key]


def test_lsh_cosine_pairs_subset_of_exact(spark, embs):
    exact = {(r["a"], r["b"]) for r in dedup.embedding_neardup_pairs(embs, 0.9).collect()}
    lsh = {(r["a"], r["b"]) for r in similarity.lsh_neardup_pairs(embs, 0.9).collect()}
    assert lsh.issubset(exact)


def test_knn_graph_lsh_matches_bucket_scoped_exact(spark):
    """The LSH kNN graph must equal a numpy reference that computes exact
    per-bucket top-k with the same plane geometry and tie-break — catching
    rank ordering, directedness, and small-bucket edge cases."""
    import numpy as np

    from pdf_extractor_spark.operators.similarity import _md5_unit

    rng = np.random.default_rng(7)
    base = rng.normal(size=(50, 8)).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    embs = spark.createDataFrame(rows, EMB_DDL)
    k, n_planes, seed, dim = 3, 4, 7, 8
    got = [(r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
           for r in similarity.knn_graph_lsh(embs, k=k).collect()]

    H = np.array([[_md5_unit(f"{seed}:{i}:{d}") for d in range(dim)]
                  for i in range(n_planes)])
    bits = (base @ H.T) > 0
    buckets = bits @ (1 << np.arange(n_planes))
    expected = []
    for i in range(50):
        cands = [j for j in range(50) if j != i and buckets[j] == buckets[i]]
        norms = np.linalg.norm(base, axis=1)
        cos = {
            j: float(np.floor(abs(c) * 1e6 + 0.5) / 1e6 * np.sign(c))
            for j in cands
            for c in [base[i] @ base[j] / (norms[i] * norms[j])]
        }
        top = sorted(cands, key=lambda j: (-cos[j], j))[:k]
        expected += [(i, j, cos[j], r) for r, j in enumerate(top, start=1)]
    # graph structure (edges + ranks) must match exactly; cos may differ by
    # 1 ulp at the 6dp rounding boundary (BLAS gram vs per-pair dot)
    assert sorted((q, n, r) for q, n, _, r in got) == \
        sorted((q, n, r) for q, n, _, r in expected)
    exp_cos = {(q, n): c for q, n, c, _ in expected}
    for q, n, c, _ in got:
        assert abs(c - exp_cos[(q, n)]) <= 1.01e-6


def test_semdedup_pairs_recovers_near_identical_dups(spark):
    """SemDeDup's cluster-scoped search must (a) find every injected
    near-identical pair — a 0.999-cosine copy cannot land in a different
    k-means cell than its original — and (b) emit ONLY pairs the exact
    all-pairs baseline confirms (precision 1.0: the verify step is exact
    cosine, so cluster scoping can only lose candidates, never invent)."""
    import numpy as np

    rng = np.random.default_rng(23)
    base = rng.normal(size=(40, 8)).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # inject near-identical copies of every 5th vector (tiny perturbation)
    rows += [
        (i + 1000, [float(base[i][0] + 0.01)] + [float(x) for x in base[i][1:]])
        for i in range(0, 40, 5)
    ]
    embs = spark.createDataFrame(rows, EMB_DDL)
    got = {(r["a"], r["b"]): r["cos"]
           for r in similarity.semdedup_pairs(embs).collect()}
    for i in range(0, 40, 5):
        assert (i, i + 1000) in got, f"missed injected dup pair ({i}, {i + 1000})"
    exact = {(r["a"], r["b"]): r["cos"]
             for r in dedup.embedding_neardup_pairs(embs, 0.95).collect()}
    for pair, cos in got.items():
        assert pair in exact and exact[pair] == cos
    assert all(cos >= 0.95 for cos in got.values())


def test_line_frequency_dedup_strips_only_boilerplate(spark, monkeypatch):
    monkeypatch.setattr(dedup, "LINE_MAX_DF", 2)
    docs = spark.createDataFrame(
        [
            (1, "unique alpha. Buy now. unique beta"),
            (2, "other gamma. Buy now. other delta"),
            (3, "third epsilon. Buy now"),
            (4, "Buy now"),  # only boilerplate -> empty result
        ],
        DOCS_DDL,
    )
    out = {r["doc_id"]: r["clean_text"]
           for r in dedup.line_frequency_dedup(docs).collect()}
    assert out == {
        1: "unique alpha. unique beta",
        2: "other gamma. other delta",
        3: "third epsilon",
        4: "",
    }


def test_exact_substring_dedup_removes_corpus_repeated_windows(spark):
    # 4-token shared run across docs 1/2 with k=3: windows inside the run
    # repeat corpus-wide, so all four shared tokens go; doc-unique heads and
    # tails survive in order. doc 3 is shorter than k -> untouched. doc 4
    # repeats a window INSIDE one document (occurrence count, not distinct
    # docs, per Lee et al. 2021) -> removed too.
    docs = spark.createDataFrame(
        [
            (1, "alpha one shared run of text beta"),
            (2, "gamma two shared run of text delta"),
            (3, "tiny doc"),
            (4, "x y z pad x y z pad tail3 tail4 tail5"),
        ],
        DOCS_DDL,
    )
    out = {r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
           for r in dedup.exact_substring_dedup(docs, k=3).collect()}
    assert out[1] == ("alpha one beta", 4)
    assert out[2] == ("gamma two delta", 4)
    assert out[3] == ("tiny doc", 0)
    # "x y z pad" appears twice in doc 4: windows (x,y,z) (y,z,pad) and the
    # bridging (z,pad,x)/(pad,x,y) dup only where both occurrences allow;
    # the two full "x y z pad" runs are covered, the distinct tail survives
    assert out[4][0] == "tail3 tail4 tail5"
    assert out[4][1] == 8


def test_exact_substring_chars_catches_token_window_miss(spark):
    # THE recall-gap fixture (round-4 verdict item 5): a duplicated
    # 60-char blob that normalizes to ONE token contains no duplicated
    # 8-token window, so the token-level path keeps it — while the
    # character-level path (the paper's actual >=50-byte rule) removes
    # it, shared preceding space included (it is part of the duplicated
    # span). doc 3 has no >=50-char duplicate -> untouched.
    blob = "zq" * 30
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta one " + blob),
            (2, "epsilon zeta eta theta two " + blob),
            (3, "unique text with nothing shared at all"),
            (4, "short"),
        ],
        DOCS_DDL,
    )
    tok = {r["doc_id"]: r["clean_text"]
           for r in dedup.exact_substring_dedup(docs, k=8).collect()}
    assert blob in tok[1] and blob in tok[2]  # the documented token miss
    ch = {r["doc_id"]: (r["clean_text"], r["n_removed_chars"])
          for r in dedup.exact_substring_dedup_chars(
              docs, min_len=50).collect()}
    assert ch[1] == ("alpha beta gamma delta one", 61)
    assert ch[2] == ("epsilon zeta eta theta two", 61)
    assert ch[3] == ("unique text with nothing shared at all", 0)
    assert ch[4] == ("short", 0)


def test_exact_substring_chars_merges_overlapping_spans(spark):
    # two distinct duplicated 50-char spans overlapping in one doc must
    # merge into one removed interval (gaps-and-islands path), and an
    # intra-document repeat counts as duplicated (occurrences, not docs)
    a = "a" * 55
    b = "b" * 55
    docs = spark.createDataFrame(
        [
            (1, a + b),          # both spans, adjacent -> one merged island
            (2, "left " + a + " right"),
            (3, "mid " + b + " end"),
            (4, ("c" * 60) + " pad " + ("c" * 60)),  # intra-doc repeat
        ],
        DOCS_DDL,
    )
    out = {r["doc_id"]: (r["clean_text"], r["n_removed_chars"])
           for r in dedup.exact_substring_dedup_chars(
               docs, min_len=50).collect()}
    assert out[1][0] == ""            # fully covered by the merged spans
    assert out[2][0] == "left  right"  # exactly the 55 a's removed
    assert out[3][0] == "mid  end"
    assert out[4][0] == " pad "       # both c-runs removed, pad survives
    assert out[4][1] == 120


def test_exact_substring_chars_window_kernel_runs_once(spark):
    """The O(chars) window kernel feeds both the dup count and the
    semi-join; it runs once (checkpointed while the plan is built), so
    the plan the caller executes holds no Python stage at all."""
    docs = spark.createDataFrame(
        [(1, "left " + "a" * 55), (2, "a" * 55 + " right")], DOCS_DDL)
    out = dedup.exact_substring_dedup_chars(docs, min_len=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    got = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert got == {1: "left ", 2: " right"}


def test_kmeans_ivf_recall_not_worse_than_seed_ivf(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    # two tight clusters + noise: trained centroids should separate them
    a = rng.normal(0, 0.05, size=(15, 16)) + np.array([1.0] + [0.0] * 15)
    b = rng.normal(0, 0.05, size=(15, 16)) + np.array([0.0, 1.0] + [0.0] * 14)
    c = rng.normal(size=(10, 16))
    base = np.vstack([a, b, c])
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    embs = spark.createDataFrame(rows, EMB_DDL)
    brute = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk(embs, [0, 15], k=5).collect()}
    trained = {(r["query_id"], r["neighbor_id"])
               for r in similarity.ivf_topk_trained(
                   embs, [0, 15], k=5, train_iters=3).collect()}
    recall = len(brute & trained) / len(brute)
    assert recall >= 0.8  # trained centroids on separable data


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.embedding_covariance(embs).collect()
    m = np.stack([np.array(r["embedding"], dtype=np.float64)
                  for r in embs.orderBy("vec_id").collect()])
    ref = np.cov(m, rowvar=False)  # (d, d), ddof=1
    d = m.shape[1]
    assert len(got) == d * (d + 1) // 2
    for r in got:
        assert abs(r["cov"] - ref[r["i"], r["j"]]) < 1e-5, (r["i"], r["j"])


def test_connected_components_chains_and_cliques(spark):
    from pdf_extractor_spark.operators import dedup

    # chain 1-2-3-4, clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        ["a", "b"],
    )
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    from pdf_extractor_spark.operators import dedup

    n = 12  # diameter > typical near-dup cliques; exercises the fixpoint loop
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    got = {r["doc_id"]: r["group_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_path_1000_logarithmic_rounds(spark):
    """Adversarial chain: a 1000-node path has diameter 999, which min-label
    propagation cannot close in 15 rounds — large-star/small-star must
    converge in O(log n) (≤ 15) rounds and label every node with the min."""
    from pdf_extractor_spark.operators import dedup

    n = 1000
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["a", "b"])
    out = dedup.connected_components(pairs).collect()
    assert len(out) == n
    assert all(r["group_id"] == 0 for r in out)


def test_connected_components_empty(spark):
    from pdf_extractor_spark.operators import dedup

    pairs = spark.createDataFrame([], "a long, b long")
    assert dedup.connected_components(pairs).count() == 0


def test_random_projection_matches_numpy(spark):
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.random_projection(embs, k=8, seed=7).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embs.collect()}
    R = np.array(similarity.rp_matrix(64, 8, 7), dtype=np.float64)
    for r in got[:50]:
        ref = vecs[r["vec_id"]] @ R / np.sqrt(8)
        for j in range(8):
            assert abs(r[f"pc{j + 1}"] - ref[j]) < 1e-5


def test_pca_project_matches_numpy(spark):
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = similarity.pca_project(embs, k=4).collect()
    m = np.stack([np.array(r["embedding"], dtype=np.float64)
                  for r in embs.orderBy("vec_id").collect()])
    C = np.cov(m, rowvar=False)
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:4]
    W = vecs[:, order]
    for j in range(4):
        if W[np.abs(W[:, j]).argmax(), j] < 0:
            W[:, j] = -W[:, j]
    ref = (m - m.mean(axis=0)) @ W
    ids = [r["vec_id"] for r in embs.orderBy("vec_id").collect()]
    ref_map = {vid: ref[idx] for idx, vid in enumerate(ids)}
    for r in got[:50]:
        for j in range(4):
            # covariance rounding (6dp) perturbs eigvecs slightly -> 1e-3
            assert abs(r[f"pc{j + 1}"] - ref_map[r["vec_id"]][j]) < 1e-3
    # projection onto PC1 must carry the most variance
    pc1 = np.array([r["pc1"] for r in got])
    pc4 = np.array([r["pc4"] for r in got])
    assert pc1.var() > pc4.var()


def test_pca_geometry_twin_bit_exact(spark):
    """The q66 literal-oracle contract: the pure-numpy twin must reproduce
    the distributed path's 6dp covariance EXACTLY (same rounded values →
    same eigh input → bit-identical W) and the end-to-end pc outputs must
    equal the twin projection after 6dp half-up rounding, bit for bit."""
    import numpy as np

    from pdf_extractor_spark.operators.multimodal import round_half_up

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    erows = [(r["vec_id"], [float(x) for x in r["embedding"]])
             for r in embs.orderBy("vec_id").collect()]
    mean, W = similarity._pca_geometry_twin(erows, k=4)
    d = len(mean)

    # distributed 6dp covariance == twin 6dp covariance, cell by cell
    cov_rows = similarity.embedding_covariance(embs).collect()
    M = np.array([v for _, v in erows], dtype=np.float64)
    n = len(erows)
    sxy = M.T @ M
    sx = M.sum(axis=0)
    C = (sxy - np.outer(sx, sx) / n) / (n - 1)
    for r in cov_rows:
        assert r["cov"] == round_half_up(float(C[r["i"], r["j"]]), 6) + 0.0, (
            r["i"], r["j"])

    # end-to-end: Spark pc outputs == twin projection, bit-exact at 6dp
    got = {r["vec_id"]: r for r in similarity.pca_project(embs, k=4).collect()}
    Wm = np.array(W)
    mu = np.array(mean)
    for vid, v in erows:
        proj = (np.array(v, dtype=np.float64) - mu) @ Wm
        for j in range(4):
            assert got[vid][f"pc{j + 1}"] == round_half_up(float(proj[j]), 6) + 0.0, (
                vid, j)


def test_pca_guards_empty_and_single_row(spark):
    """Empty input → empty result with the stable schema; a single vector
    (covariance undefined, n−1 = 0) → loud ValueError, not NaN columns."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = similarity.pca_project(empty, k=4)
    assert out.columns == ["vec_id", "pc1", "pc2", "pc3", "pc4"]
    assert out.count() == 0

    one = spark.createDataFrame([(1, [1.0, 2.0, 3.0])],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception) as exc:
        similarity.pca_project(one, k=2).collect()
    # ANSI mode raises DIVIDE_BY_ZERO inside the covariance query itself;
    # the None/NaN guard covers non-ANSI configs with its own message
    assert ("covariance undefined" in str(exc.value)
            or "DIVIDE_BY_ZERO" in str(exc.value))


def test_pca_twin_parity_random_matrices(spark):
    """The literal-oracle contract must hold on arbitrary data, not just
    the synthetic corpus: seeded random matrices (including duplicated rows
    → rank-deficient covariance) still give bit-exact Spark-vs-twin parity
    at 6dp."""
    import numpy as np

    from pdf_extractor_spark.operators.multimodal import round_half_up

    for seed, n, d, k in [(11, 30, 8, 3), (12, 50, 16, 4), (13, 24, 6, 2)]:
        rng = np.random.default_rng(seed)
        M = rng.normal(size=(n, d)).round(4)
        if seed == 12:  # duplicated rows: repeated structure in C
            M[25:50] = M[0:25]
        rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<double>")
        mean, W = similarity._pca_geometry_twin(rows, k=k)
        got = {r["vec_id"]: r for r in similarity.pca_project(embs, k=k).collect()}
        Wm = np.array(W)
        mu = np.array(mean)
        for vid, v in rows:
            proj = (np.array(v) - mu) @ Wm
            for j in range(k):
                assert got[vid][f"pc{j + 1}"] == round_half_up(
                    float(proj[j]), 6) + 0.0, (seed, vid, j)


def test_kmeans_twin_bit_parity_random_matrices(spark):
    """The q22 trained-centroid oracle contract beyond the synthetic
    corpus: Spark kmeans_centroids and the pure-Python twin must agree
    bit-for-bit on seeded random data, including zero-norm vectors (park
    in cell 0) and duplicated points (empty cells keep their previous
    centroid)."""
    import numpy as np

    for seed, n, d in [(21, 40, 8), (22, 60, 16)]:
        rng = np.random.default_rng(seed)
        M = rng.normal(size=(n, d)).round(4)
        M[0] = 0.0  # zero-norm vector
        if seed == 22:
            M[30:60] = M[0:30]  # duplicated points → sparse cells
        rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<double>")
        got = similarity.kmeans_centroids(embs, k=4, iters=3, seed=5)
        want = similarity._kmeans_centroids_twin(rows, k=4, iters=3, seed=5,
                                                 dim=d)
        assert got == want, seed


def test_kmeans_guards_empty_and_zero_norm(spark):
    from pdf_extractor_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = similarity.kmeans_centroids(empty, k=2, iters=1)
    assert len(cents) == 2 and len(cents[0]) == 64  # seed centroids survive

    mixed = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 0.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = similarity.kmeans_centroids(mixed, k=2, iters=2)  # must not raise
    assert len(cents) == 2 and all(len(c) == 4 for c in cents)


def test_embedding_lsh_pairs_equal_exact_on_neardups(spark):
    """Banded-LSH + exact-verify must equal the exact blocked all-pairs
    baseline on a corpus with injected near-duplicates (the q21 shape)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.normal(0, 0.12, size=(80, 64)).astype("float64")
    rows = [(i, [float(x) for x in base[i]]) for i in range(80)]
    # near-copies: +0.05 on dim 0 → cos ≈ 0.998
    rows += [
        (i + 1000, [float(base[i][0] + 0.05)] + [float(x) for x in base[i][1:]])
        for i in range(0, 80, 4)
    ]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["a"], r["b"], r["cos"])
             for r in dedup.embedding_neardup_pairs(embs, 0.95).collect()}
    lsh = {(r["a"], r["b"], r["cos"])
           for r in dedup.embedding_neardup_pairs_lsh(embs, 0.95).collect()}
    assert lsh == exact and len(exact) == 20


def test_shingle_table_reuse_and_invalidation(spark, docs, tmp_path):
    import os

    store = str(tmp_path / "shingles")
    p1 = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(
        docs, num_perm=16, bands=8, shingle_store=store).collect()}
    snap1 = sorted(os.listdir(os.path.join(store, "_snapshots")))
    # second run reuses the committed snapshot (no new commit)
    p2 = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(
        docs, num_perm=16, bands=8, shingle_store=store).collect()}
    snap2 = sorted(os.listdir(os.path.join(store, "_snapshots")))
    assert p1 == p2 and snap1 == snap2
    # different corpus (row count changes) invalidates and rebuilds
    more = docs.unionByName(docs.limit(1).withColumn(
        "doc_id", docs["doc_id"] + 1000))
    dedup.minhash_lsh_pairs(more, num_perm=16, bands=8,
                            shingle_store=store).collect()
    snap3 = sorted(os.listdir(os.path.join(store, "_snapshots")))
    assert snap3 != snap2


def test_connected_components_random_graphs_vs_union_find(spark):
    """large-star/small-star must agree with a pure-Python union-find on
    random graphs (multiple densities)."""
    import random

    def uf_groups(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in nodes}

    rng = random.Random(7)
    for n_nodes, n_edges in [(30, 15), (40, 60), (25, 5)]:
        edges = sorted({
            tuple(sorted(rng.sample(range(n_nodes), 2))) for _ in range(n_edges)
        })
        nodes = sorted({x for e in edges for x in e})
        expected = uf_groups(edges, nodes)
        pairs = spark.createDataFrame(edges, ["a", "b"])
        got = {r["doc_id"]: r["group_id"]
               for r in dedup.connected_components(pairs).collect()}
        assert got == expected, (n_nodes, n_edges)


def test_embedding_lsh_plan_has_no_quadratic_stage(spark):
    """Regression guard for the round-1 scale-killer: the embedding
    near-dup plan must contain no cartesian product or nested-loop join."""
    import numpy as np

    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.normal(0, 0.12, 64)]) for i in range(50)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df = dedup.embedding_neardup_pairs_lsh(embs, threshold=0.95)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_incremental_minhash_vs_batch_cross_pairs(spark):
    """Delta-vs-index pairs == the batch LSH pairs restricted to
    (corpus, new); corpus-internal pairs must NOT appear."""
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # corpus-internal dup
            (3, "completely different content about spark engines and data"),
            (4, "yet another unrelated document mentioning window functions"),
        ],
        DOCS_DDL,
    )
    new = spark.createDataFrame(
        [
            (101, "the quick brown fox jumps over the lazy dog today"),   # dup of 1,2
            (102, "completely different content about spark engines and data plus"),  # near 3
            (103, "totally novel text with no match anywhere in the corpus"),
        ],
        DOCS_DDL,
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs_incremental(
            dedup.shingle_hash_arrays(new, 3),
            dedup.shingle_hash_arrays(corpus, 3),
            num_perm=64, bands=32, jaccard_threshold=0.5,
        ).collect()
    }
    # cross pairs only: every a is corpus-side, every b is new-side
    assert all(a <= 4 and b >= 101 for a, b in got)
    assert (1, 101) in got and got[(1, 101)] == 1.0
    assert (2, 101) in got and got[(2, 101)] == 1.0
    assert (3, 102) in got and got[(3, 102)] >= 0.5
    assert not any(b == 103 for _, b in got)
    # matches the batch operator restricted to cross pairs
    batch = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            corpus.unionByName(new), num_perm=64, bands=32,
            jaccard_threshold=0.5,
        ).collect()
        if r["a"] <= 4 and r["b"] >= 101
    }
    assert got == batch


def test_shingle_store_rebuilds_on_content_change(spark, tmp_path):
    """Same row count, different text → the committed shingle table must
    NOT be reused (count-only keys silently served the previous crawl)."""
    from pdf_extractor_spark.operators import dedup

    a = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(20)],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(i, f"delta epsilon zeta {i}") for i in range(20)],
        "doc_id long, text string")
    root = str(tmp_path / "sh")
    sa = sorted(map(tuple, dedup.shingle_table(a, 3, root).collect()))
    sb = sorted(map(tuple, dedup.shingle_table(b, 3, root).collect()))
    assert sa != sb  # rebuilt, not reused
    # and identical input IS reused (key stability)
    sa2 = sorted(map(tuple, dedup.shingle_table(a, 3, root).collect()))
    fresh = sorted(map(tuple, dedup.shingle_hash_arrays(a, 3).collect()))
    assert sa2 == fresh


def test_shingle_store_rebuilds_on_id_reassignment(spark, tmp_path):
    """Same text MULTISET, same count, but texts bound to different doc_ids
    → must rebuild: a text-only checksum is identical for both corpora and
    would serve the OLD doc_id→content mapping (round-2 advice on
    _corpus_key)."""
    from pdf_extractor_spark.operators import dedup

    rows = [(i, f"alpha beta gamma {i}") for i in range(20)]
    a = spark.createDataFrame(rows, "doc_id long, text string")
    # rotate ids by one: identical text multiset, permuted binding
    b = spark.createDataFrame(
        [((i + 1) % 20, t) for i, t in rows], "doc_id long, text string")
    root = str(tmp_path / "sh")
    sa = sorted(map(tuple, dedup.shingle_table(a, 3, root).collect()))
    sb = sorted(map(tuple, dedup.shingle_table(b, 3, root).collect()))
    assert sa != sb  # rebuilt with the new binding, not reused
    fresh_b = sorted(map(tuple, dedup.shingle_hash_arrays(b, 3).collect()))
    assert sb == fresh_b


def test_kmeans_centroid_store_matches_fresh_and_invalidates(spark, tmp_path):
    """The trained-geometry model store must return bit-identical centroids
    to fresh training (training is deterministic), reuse the committed
    snapshot on a second call, and invalidate on content OR id-binding
    change (the _corpus_key discipline, vector edition)."""
    from pdf_extractor_spark.operators import similarity

    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "cents")
    fresh = similarity.kmeans_centroids(embs, k=4, iters=2, seed=3)
    stored = similarity.kmeans_centroids_stored(embs, k=4, iters=2,
                                                store_root=root)
    again = similarity.kmeans_centroids_stored(embs, k=4, iters=2,
                                               store_root=root)
    assert stored == fresh == again
    # id-rotation with identical vector multiset must retrain (binding key)
    rot = spark.createDataFrame(
        [((i + 1) % 40, v) for i, v in rows],
        "vec_id long, embedding array<double>")
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    before = SnapshotTable(root).current_manifest()["snapshot_id"]
    similarity.kmeans_centroids_stored(rot, k=4, iters=2,
                                       store_root=root)
    after = SnapshotTable(root).current_manifest()["snapshot_id"]
    assert after != before  # recommitted, not served stale


def test_site_template_dedup_per_host(spark):
    """Per-host template suppression: a sentence shared by most docs of ONE
    host is stripped there, while the same sentence on a host where it is
    rare survives; single-doc hosts are never self-deleted (min_df floor);
    non-template content is byte-preserved."""
    rows = [
        # host A: 4 docs, "Nav home" on all 4 (template), unique bodies
        (1, "a.com", "Nav home. alpha body one"),
        (2, "a.com", "Nav home. beta body two"),
        (3, "a.com", "Nav home. gamma body three"),
        (4, "a.com", "Nav home. delta body four"),
        # host B: 3 docs, "Nav home" on just one (rare here -> kept)
        (5, "b.com", "Nav home. epsilon body"),
        (6, "b.com", "zeta body six"),
        (7, "b.com", "eta body seven"),
        # host C: single doc — nothing may be deleted
        (8, "c.com", "theta body eight. iota body"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, host string, text string")
    got = {r["doc_id"]: r["clean_text"]
           for r in dedup.site_template_dedup(docs, host_col="host").collect()}
    assert got[1] == "alpha body one" and got[4] == "delta body four"
    assert got[5] == "Nav home. epsilon body"  # rare on b.com -> kept
    assert got[6] == "zeta body six"
    assert got[8] == "theta body eight. iota body"  # 1-doc host untouched


# ---------------------------------------------------------------------------
# prefix-filtered exact similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("threshold", [0.2, 0.5, 0.8])
def test_prefix_filter_equals_exact_ngram(spark, docs, threshold):
    """Prefix filtering is LOSSLESS: output identical to the full
    inverted-index exact join at every threshold (pairs AND scores)."""
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, threshold=threshold).collect()
    }
    want = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=threshold).collect()
    }
    assert got == want


def test_prefix_filter_random_corpus_vs_bruteforce(spark):
    """Randomized recall/precision check against a pure-Python exact
    all-pairs computation over a shared small vocabulary (many pairs land
    near the threshold, including exact-integer t*|s| products)."""
    import random

    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 40))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, DOCS_DDL)
    for t in (0.3, 0.5):
        got = {
            (r["a"], r["b"]): r["jaccard"]
            for r in dedup.prefix_filter_jaccard_pairs(
                docs, threshold=t).collect()
        }
        want = {}
        sh = {i: textstats.shingles(txt) for i, txt in rows}
        for a in range(60):
            for b in range(a + 1, 60):
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= t:
                    want[(a, b)] = round(j, 6)
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9, k


def test_prefix_filter_prefix_strictly_smaller_index(spark, docs):
    """The wide stage (posting explode) holds ~(1-t) of the full index:
    at t=0.8 the prefix posting count must be well under half the full
    posting count on multi-shingle docs."""
    sh = dedup.shingle_hash_arrays(docs, 3)
    full = sh.select(F.explode("shh")).count()
    pref = dedup.prefix_postings(sh, 0.8)
    assert pref.count() < 0.6 * full
    # and the prefix holds the RAREST shingles: every kept posting's df is
    # <= the df of every dropped posting of the same doc (the AllPairs
    # ordering, which keeps candidate buckets off the stop-shingles)
    posts = sh.select("doc_id", F.explode("shh").alias("s"))
    dft = posts.groupBy("s").agg(F.count("*").alias("df"))
    kept = pref.join(dft, "s").groupBy("doc_id").agg(
        F.max(F.struct("df", "s")).alias("mx"))
    dropped = (posts.join(pref.select("doc_id", "s").withColumn(
        "k", F.lit(1)), ["doc_id", "s"], "left_anti")
        .join(dft, "s").groupBy("doc_id").agg(
            F.min(F.struct("df", "s")).alias("mn")))
    bad = kept.join(dropped, "doc_id").where(F.col("mx") >= F.col("mn"))
    assert bad.count() == 0


def test_prefix_filter_plan_no_quadratic_stage(spark, docs):
    df = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_pq_codebooks_twin_bit_parity_random_matrices(spark):
    """The q22 PQ-arm oracle contract: Spark pq_train_codebooks and the
    pure-Python twin must agree bit-for-bit on seeded random data,
    including duplicated points (empty cells keep their seed codeword)."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    for seed, n, d, m_sub, ksub in [(31, 40, 8, 2, 4), (32, 60, 16, 4, 8)]:
        rng = np.random.default_rng(seed)
        M = rng.normal(size=(n, d)).round(4)
        if seed == 32:
            M[30:60] = M[0:30]  # duplicated points → sparse cells
        rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
        embs = spark.createDataFrame(rows,
                                     "vec_id long, embedding array<double>")
        got = similarity.pq_train_codebooks(embs, m_sub=m_sub, ksub=ksub,
                                            iters=3)
        want = similarity._pq_codebooks_twin(rows, m_sub=m_sub, ksub=ksub,
                                             iters=3, dim=d)
        assert got == want, seed


def test_pq_adc_topk_recall_on_planted_clusters(spark):
    """PQ-ADC retrieval recall where recall is well-posed: 16
    well-separated clusters of 4 (center + small noise). For a query
    inside a cluster, the exact top-3 is its 3 siblings — separation-
    dominated, not margin-dominated — so the quantizer must recover the
    same set. On ISOTROPIC random unit vectors this test would be
    meaningless: cosines concentrate near 0 and the exact top-k hangs on
    margins below quantization error (measured overlap there is chance
    level), the curse-of-dimensionality regime every ANN paper excludes.
    A 20-sibling cluster fails differently: the whole cluster quantizes
    to ONE ADC score and pair-level overlap drops to in-cluster chance
    (measured 0.24), hence cluster size ≤ k+1."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    rng = np.random.default_rng(7)
    nclust, per = 16, 4
    centers = rng.normal(size=(nclust, 32)) * 5.0
    rows = []
    for i in range(nclust * per):
        v = centers[i % nclust] + rng.normal(size=32) * 0.1
        rows.append((i, [float(x) for x in np.round(v, 4)]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [0, 1, 2, 3, 4]
    pq = similarity.pq_adc_topk(embs, qids, k=3, m_sub=4, ksub=16,
                                train_iters=3).collect()
    brute = similarity.brute_force_topk(embs, qids, k=3).collect()
    assert len(pq) == 15 and {r["query_id"] for r in pq} == set(qids)
    for q in qids:
        ranks = sorted(r["rank"] for r in pq if r["query_id"] == q)
        assert ranks == [1, 2, 3]
    got = {(r["query_id"], r["neighbor_id"]) for r in pq}
    want = {(r["query_id"], r["neighbor_id"]) for r in brute}
    overlap = len(got & want) / len(want)
    assert overlap >= 0.8, overlap


def test_pq_adc_topk_structural_on_real_table(spark, sf_dir):
    """On the real embeddings table the output contract still holds:
    dense ranks, k rows per query, cos is the EXACT cosine of the
    retrieved pair (verified against a driver-side recompute)."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.pq_adc_topk(embs, [0, 1], k=3).collect()
    assert len(out) == 6
    vecs = {int(r["vec_id"]): np.array(r["embedding"], dtype=np.float64)
            for r in embs.collect()}
    for r in out:
        q, nbr = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        want = float(q @ nbr / (np.linalg.norm(q) * np.linalg.norm(nbr)))
        assert abs(r["cos"] - want) < 1e-5


def test_pq_adc_partitioning_invariant(spark):
    """ADC ranking must not depend on the physical layout: 1 partition and
    32 partitions produce identical rows (the ADC sum is a fixed chain of
    pinned literals, so ties can only break on neighbor_id)."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    rng = np.random.default_rng(41)
    M = rng.normal(size=(80, 16)).round(4)
    rows = [(i, [float(x) for x in M[i]]) for i in range(80)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    df32 = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(32)
    a = [tuple(r) for r in similarity.pq_adc_topk(df1, [0, 1], k=4, m_sub=2, ksub=8).collect()]
    b = [tuple(r) for r in similarity.pq_adc_topk(df32, [0, 1], k=4, m_sub=2, ksub=8).collect()]
    assert a == b


def test_pq_codebook_store_matches_fresh_and_invalidates(spark, tmp_path):
    """PQ model store: bit-identical to fresh training, reused on second
    call, invalidated on id-binding rotation (the kmeans-store contract)."""
    from pdf_extractor_spark.operators import similarity
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    rows = [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(8)])
            for i in range(40)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "pqbooks")
    fresh = similarity.pq_train_codebooks(embs, m_sub=2, ksub=4, iters=2)
    stored = similarity.pq_codebooks_stored(embs, m_sub=2, ksub=4, iters=2,
                                            store_root=root)
    again = similarity.pq_codebooks_stored(embs, m_sub=2, ksub=4, iters=2,
                                           store_root=root)
    assert stored == fresh == again
    rot = spark.createDataFrame(
        [((i + 1) % 40, v) for i, v in rows],
        "vec_id long, embedding array<double>")
    before = SnapshotTable(root).current_manifest()["snapshot_id"]
    similarity.pq_codebooks_stored(rot, m_sub=2, ksub=4, iters=2,
                                   store_root=root)
    after = SnapshotTable(root).current_manifest()["snapshot_id"]
    assert after != before


def test_pq_empty_and_missing_queries(spark):
    from pdf_extractor_spark.operators import similarity

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    books = similarity.pq_train_codebooks(empty, m_sub=2, ksub=4, iters=1)
    assert len(books) == 2 and len(books[0]) == 4 and len(books[0][0]) == 32
    out = similarity.pq_adc_topk(empty, [0, 1], k=3, m_sub=2, ksub=4)
    assert out.collect() == []


def test_ivfpq_geometry_twin_bit_parity(spark):
    """The q22 IVFPQ-arm oracle contract: distributed coarse k-means +
    residual PQ training must match _ivfpq_geometry_twin bit-for-bit
    (normalization via math.sqrt — pow(x, 0.5) drifts 1 ulp from JVM
    F.sqrt and was caught breaking exactly this parity)."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    rng = np.random.default_rng(7)
    nclust = 16
    centers = rng.normal(size=(nclust, 32)) * 5.0
    rows = [(i, [float(x)
                 for x in np.round(centers[i % nclust]
                                   + rng.normal(size=32) * 0.1, 4)])
            for i in range(nclust * 4)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents_t, books_t = similarity._ivfpq_geometry_twin(
        rows, n_cells=8, m_sub=4, ksub=16, dim=32)
    e_n = embs.select(
        "vec_id",
        similarity._unit_expr(F.col("embedding").cast("array<double>")).alias("v"))
    cents_d = similarity.kmeans_centroids(
        e_n.select("vec_id", F.col("v").alias("embedding")),
        k=8, iters=2)
    books_d = similarity.pq_train_codebooks(
        similarity.residual_frame(e_n, cents_d)
        .select("vec_id", F.col("r").alias("embedding")),
        m_sub=4, ksub=16, iters=2, normalize=False)
    assert cents_d == cents_t
    assert books_d == books_t


def test_ivfpq_adc_topk_recall_on_planted_clusters(spark):
    """IVF-PQ retrieval on the planted-cluster corpus (the PQ recall
    setup): with n_probe=4 of 8 cells the query's own cell is always
    probed, and the residual quantizer separates the siblings — full
    overlap with brute force measured at these parameters."""
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    rng = np.random.default_rng(7)
    nclust, per = 16, 4
    centers = rng.normal(size=(nclust, 32)) * 5.0
    rows = [(i, [float(x)
                 for x in np.round(centers[i % nclust]
                                   + rng.normal(size=32) * 0.1, 4)])
            for i in range(nclust * per)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qids = [0, 1, 2, 3, 4]
    ivfpq = similarity.ivfpq_adc_topk(embs, qids, k=3, n_cells=8, n_probe=4,
                                      m_sub=4, ksub=16).collect()
    brute = similarity.brute_force_topk(embs, qids, k=3).collect()
    assert len(ivfpq) == 15 and {r["query_id"] for r in ivfpq} == set(qids)
    got = {(r["query_id"], r["neighbor_id"]) for r in ivfpq}
    want = {(r["query_id"], r["neighbor_id"]) for r in brute}
    assert len(got & want) / len(want) >= 0.8


def test_ivfpq_partitioning_invariant_and_empty(spark):
    import numpy as np

    from pdf_extractor_spark.operators import similarity

    rng = np.random.default_rng(43)
    M = rng.normal(size=(80, 16)).round(4)
    rows = [(i, [float(x) for x in M[i]]) for i in range(80)]
    df1 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)
    df32 = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").repartition(32)
    a = [tuple(r) for r in similarity.ivfpq_adc_topk(
        df1, [0, 1], k=4, n_cells=4, n_probe=2, m_sub=2, ksub=8).collect()]
    b = [tuple(r) for r in similarity.ivfpq_adc_topk(
        df32, [0, 1], k=4, n_cells=4, n_probe=2, m_sub=2, ksub=8).collect()]
    assert a == b

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert similarity.ivfpq_adc_topk(empty, [0], k=3, m_sub=2,
                                     ksub=4).collect() == []


def test_hamming_banding_guaranteed_recall_any_width(spark):
    """The generalized banded Hamming-LSH must equal brute-force hamming
    filtering for every supported width (pigeonhole guarantee): random
    64-bit and 60-bit hash tables with planted near-misses at distances
    0..5, max_hamming 2 and 3 (band width varies, last band absorbs the
    remainder)."""
    import numpy as np

    from pdf_extractor_spark.operators.multimodal import hamming_neardup_pairs

    rng = np.random.default_rng(9)
    for bits, max_h in [(64, 3), (60, 3), (60, 2)]:
        base = [int(x) for x in
                rng.integers(0, 1 << 59, size=40, dtype=np.int64)]
        rows = []
        for i, h in enumerate(base):
            rows.append((i, h))
            # planted variant at distance i % 6: flip that many bits
            # (positions stay below bit 60 so signed-int64 never overflows;
            # the 64-bit case still exercises all 4 bands' band_vals)
            flip = 0
            for bpos in range(i % 6):
                flip |= 1 << ((i * 7 + bpos * 11) % 60)
            rows.append((i + 1000, h ^ flip))
        df = spark.createDataFrame(rows, "media_id long, dhash long")
        got = {(r["a"], r["b"]) for r in
               hamming_neardup_pairs(df, max_hamming=max_h, bits=bits).collect()}
        want = {(a, b)
                for ai, (a, ha) in enumerate(rows)
                for (b, hb) in rows[ai + 1:]
                if a < b and bin(ha ^ hb).count("1") <= max_h}
        # orientation: hamming_neardup_pairs emits a < b already
        want = {(min(a, b), max(a, b)) for a, b in want}
        assert got == want, (bits, max_h)


def test_simhash_neardup_pairs_matches_brute_twin(spark, docs):
    """SimHash hamming<=3 pairs over the shared banded machinery must equal
    brute-force hamming over the pure-Python textstats.simhash twin, and
    must surface the exact-duplicate docs (hamming 0)."""
    from pdf_extractor_spark.operators import dedup as dd

    got = {(r["a"], r["b"]): r["cos"]
           for r in dd.simhash_neardup_pairs(docs, max_hamming=3).collect()}
    sigs = {r["doc_id"]: textstats.simhash(r["text"])
            for r in docs.collect()}
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                want[(a, b)] = round(1.0 - h / 60.0, 6)
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 1.0  # exact dups, hamming 0


def test_hamming_banding_max_hamming_zero_full_width(spark):
    """max_hamming=0 with bits=64 is a single full-width band: the mask
    must be the signed all-ones literal, not the overflowing (1<<64)-1
    (regression — exact-duplicate fingerprint search)."""
    from pdf_extractor_spark.operators.multimodal import hamming_neardup_pairs

    rows = [(1, -5), (2, -5), (3, 7), (4, 7), (5, 9)]
    df = spark.createDataFrame(rows, "media_id long, dhash long")
    got = {(r["a"], r["b"]): r["cos"]
           for r in hamming_neardup_pairs(df, max_hamming=0, bits=64).collect()}
    assert got == {(1, 2): 1.0, (3, 4): 1.0}


def test_auto_lsh_bands_holds_the_recall_bound():
    """The auto band-growth rule: past the 12-bit base, n_bands grows so
    the per-pair miss probability at the recall cosine never exceeds the
    (12, 16) operating point's — wider bands alone would silently LOWER
    hyperplane-LSH recall (review finding: the old docstring claimed the
    opposite direction)."""
    import math

    assert dedup._auto_lsh_bands(12) == 16  # base geometry untouched
    assert dedup._auto_lsh_bands(11) == 16  # never shrinks below base
    p = 1.0 - math.acos(0.99) / math.pi
    base_miss = (1.0 - p ** 12) ** 16
    for bits in (13, 16, 20, 26):
        bands = dedup._auto_lsh_bands(bits)
        assert bands > 16  # grew
        assert (1.0 - p ** bits) ** bands <= base_miss * (1 + 1e-12)
        # and not absurdly over-grown: one fewer band breaks the bound
        assert (1.0 - p ** bits) ** (bands - 1) > base_miss


def test_embedding_lsh_auto_band_bits_matches_manual(spark):
    """band_bits=None derives max(12, ceil(log2 n)) from a cheap count —
    at small n that IS 12 with the base 16 bands, so verified pairs are
    identical to the manual setting; past the base, _auto_lsh_bands
    grows n_bands to hold recall (see
    test_auto_lsh_bands_holds_the_recall_bound)."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = [(i, rng.normal(0, 1, 16).tolist()) for i in range(40)]
    near = [(i + 1000, (np.array(v) + 0.01).tolist()) for i, v in base[:6]]
    embs = spark.createDataFrame(base + near,
                                 "vec_id long, embedding array<double>")
    auto = {(r["a"], r["b"]) for r in dedup.embedding_neardup_pairs_lsh(
        embs, threshold=0.99, band_bits=None).collect()}
    manual = {(r["a"], r["b"]) for r in dedup.embedding_neardup_pairs_lsh(
        embs, threshold=0.99, band_bits=12).collect()}
    assert auto == manual and len(auto) >= 6


def test_ivf_auto_n_cells_sqrt_rule(spark):
    """n_cells=None applies max(8, round(√n)); results equal the explicit
    setting (the rule only picks the knob value)."""
    import numpy as np

    rng = np.random.default_rng(5)
    embs = spark.createDataFrame(
        [(i, rng.normal(0, 1, 8).tolist()) for i in range(150)],
        "vec_id long, embedding array<double>")
    want = similarity.auto_n_cells(embs)
    assert want == max(8, int(round(150 ** 0.5)))
    auto = [tuple(r) for r in similarity.ivf_topk(
        embs, [0, 1], k=3, n_cells=None).collect()]
    manual = [tuple(r) for r in similarity.ivf_topk(
        embs, [0, 1], k=3, n_cells=want).collect()]
    assert auto == manual and len(auto) == 6


def test_fuzzy_decontaminate_known_answers(spark):
    """Near-dup decontamination: the integer-rational threshold flags a
    pair at EXACTLY Jaccard 1/2 (2*inter == union), flags high-overlap
    perturbations, passes disjoint docs, and reports the max benchmark
    intersection per doc. n=1 grams make set sizes hand-computable."""
    bench = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),            # identical: j=1, inter 6
            (2, "a b c d e f g h"),        # superset: inter 6, union 8
            (3, "a b c x y z"),            # inter 3, union 9 -> j=1/3
            (4, "a b c d x y"),            # inter 4, union 8 -> j=1/2 EXACT
            (5, "q r s"),                  # disjoint
        ],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["overlap_ngrams"], r["contaminated"])
           for r in dedup.fuzzy_decontaminate(docs, bench, n=1).collect()}
    assert got == {
        1: (6, True),
        2: (6, True),   # 2*6 >= 8
        3: (3, False),  # 2*3 < 9
        4: (4, True),   # 2*4 == 8: boundary INCLUDES the threshold
        5: (0, False),
    }


def test_exact_substring_chars_matches_brute_reference(spark):
    """Property check on seeded random corpora: the operator's coverage
    equals a brute-force reference that enumerates EVERY length-L window,
    counts corpus-wide occurrences (occurrences, not distinct docs), and
    removes the union of duplicated windows — the literal Lee-et-al rule
    with no interval/merge/fold machinery shared with the operator."""
    import random

    L = 12  # small threshold so tiny corpora exercise dup geometry

    def norm(t):
        return " ".join(t.lower().split())

    def brute(texts):
        from collections import Counter

        counts = Counter()
        for t in texts.values():
            n = norm(t)
            for i in range(len(n) - L + 1):
                counts[n[i:i + L]] += 1
        out = {}
        for did, t in texts.items():
            n = norm(t)
            covered = set()
            for i in range(len(n) - L + 1):
                if counts[n[i:i + L]] > 1:
                    covered.update(range(i, i + L))
            out[did] = ("".join(c for j, c in enumerate(n)
                                if j not in covered),
                        len(covered))
        return out

    rng = random.Random(4242)
    words = ["alpha", "beta", "gamma", "delta", "zz", "qq", "mnop"]
    shared = "thequickbrownfoxrepeats"   # > L chars, planted in some docs
    for trial in range(3):
        texts = {}
        for did in range(12):
            body = " ".join(rng.choice(words)
                            for _ in range(rng.randrange(3, 12)))
            if rng.random() < 0.5:
                body += " " + shared
            if rng.random() < 0.2:
                body += " " + shared  # intra-doc repeat
            texts[did] = body
        docs = spark.createDataFrame(
            sorted(texts.items()), DOCS_DDL)
        got = {r["doc_id"]: (r["clean_text"], r["n_removed_chars"])
               for r in dedup.exact_substring_dedup_chars(
                   docs, min_len=L).collect()}
        assert got == brute(texts), f"trial {trial} diverged"
