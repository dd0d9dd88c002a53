"""Approximate-nearest-neighbor search over the `embeddings` table.

Baseline: brute-force cosine top-k (exact; broadcast the query set — it is
small — so the big side never shuffles). Scale path: random-hyperplane LSH
bucketing (sign-sketch) so candidate generation touches only same-bucket
pairs, plus an IVF-style coarse-quantizer variant built from deterministic
seed centroids.

All float math is float64 Arrow/BLAS kernels (the interpreted JVM
higher-order fold was the measured hot spot once candidate sets grow);
values are rounded half-away-from-zero at 6 dp, where BLAS and the DuckDB
oracle's list_cosine_similarity agree (~1 ulp apart, far inside tolerance).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pdf_extractor_spark.operators.dedup import assign_cells, cosine_pairs_arrow


def _md5_unit(prefix: str) -> float:
    """(md5_int(prefix) % 1000)/1000 − 0.5 — the deterministic pseudo-random
    component scheme shared by the JVM expressions, the DuckDB oracles and
    these Python twins (integer ops + one division: bit-identical across
    all three)."""
    import hashlib

    return (int(hashlib.md5(prefix.encode()).hexdigest()[:8], 16) % 1000) / 1000.0 - 0.5


def brute_force_topk(embs: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Plan: broadcast(queries) × scan → per-row cosine (JVM-side fold) →
    window top-k per query. The only shuffle is the window's partition on
    query_id — that's |queries|·|corpus| rows reduced map-side by rank
    pushdown at scale you'd pre-aggregate per partition; at bench scale the
    window is fine.
    Ties broken by neighbor id so results are total-ordered and
    oracle-stable.
    """
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    joined = (
        F.broadcast(q)
        .join(e, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", "v")
    )
    scored = cosine_pairs_arrow(joined, "qv", "v")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def hyperplane_lsh_buckets(embs: DataFrame, n_planes: int,
                           dim: int) -> DataFrame:
    """Sign-sketch bucket per vector: bit i = (v · h_i) > 0 for deterministic
    pseudo-random hyperplanes derived from md5(7, plane, dim).

    Hyperplane component in [-0.5, 0.5): (md5_int(7:plane:dim) % 1000)/1000 - 0.5,
    computed once in Python (bit-identical integer ops + one division) and
    applied as ONE n×planes BLAS matmul per Arrow batch — the former
    interpreted fold evaluated the md5 plane arrays per ROW and was the
    measured hot spot of the bucket pass. Sign decisions agree with the
    oracle's list_inner_product to ~1 ulp of the dot product, far from the
    sign boundary for any non-degenerate vector (validated against the
    oracle at both test scales). One scan, no shuffle.
    """
    import numpy as np
    import pandas as pd

    H = np.array(
        [[_md5_unit(f"7:{i}:{d}") for d in range(dim)] for i in range(n_planes)],
        dtype=np.float64,
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["v"].to_numpy())
            bits = (M @ H.T) > 0
            buckets = (bits @ weights).astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "v": pdf["v"], "bucket": buckets}
            )

    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    return e.mapInPandas(kern, "vec_id long, v array<double>, bucket int")


def lsh_neardup_pairs(embs: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Candidate pairs from shared LSH bucket, verified with exact cosine.

    At 100 TB: shuffle on bucket (narrow — vec + 1 int), within-bucket
    self-join, exact Arrow-kernel cosine verify. Bucket count 2^8 sets the
    candidate-set size / recall trade-off.
    """
    row = embs.select(F.size("embedding")).first()
    dim = row[0] if row is not None else 64
    b = hyperplane_lsh_buckets(embs, 8, dim)
    l = b.select("bucket", F.col("vec_id").alias("a"), F.col("v").alias("va"))
    r = b.select("bucket", F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    joined = (
        l.join(r, ["bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "va", "vb")
    )
    return (
        cosine_pairs_arrow(joined, "va", "vb")
        .where(F.col("cos") >= threshold)
        .select("a", "b", "cos")
        .orderBy("a", "b")
    )


def knn_graph_lsh(embs: DataFrame, k: int = 3,
                  dim: int | None = None) -> DataFrame:
    """(query_id, neighbor_id, cos, rank): approximate k-nearest-neighbor
    GRAPH over the whole corpus — the neighbor structure graph-based
    dedup/clustering pipelines consume (SemDeDup neighbor pruning, kNN
    connected components, HNSW bootstrap). Candidates are same-hyperplane-
    bucket vectors (sign sketch, deterministic md5 planes); within each
    bucket ONE BLAS gram matrix scores all directed pairs and emits each
    vector's top-k by exact cosine (rounded 6dp; ties break on
    neighbor_id) — recall is bucket-scoped by construction, the same
    approximation contract as the LSH pair path.

    Plan at 100 TB: one narrow Arrow sketch pass, ONE shuffle on bucket
    (each vector ships once), per-bucket gram + per-row top-k inside the
    kernel (no window shuffle at all); 2^4 planes set the bucket size. The
    md5 plane geometry is engine-portable, so the oracle recomputes the
    whole graph in SQL from plane literals."""
    import numpy as np
    import pandas as pd

    from pdf_extractor_spark.operators.dedup import _round6_np

    if dim is None:
        row = embs.select(F.size("embedding")).first()
        dim = row[0] if row is not None else 64
    b = hyperplane_lsh_buckets(embs, 4, dim)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                                 "neighbor_id": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64"),
                                 "rank": pd.Series(dtype="int32")})
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["v"].to_numpy()[order])
        Mn = np.linalg.norm(M, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (M @ M.T) / np.outer(Mn, Mn)
        sims = _round6_np(sims)
        np.fill_diagonal(sims, -np.inf)
        sims = np.where(np.isfinite(sims), sims, -np.inf)
        q_l, n_l, c_l, r_l = [], [], [], []
        kk = min(k, n - 1)
        for i in range(n):
            # top-k by (cos DESC, neighbor_id ASC): ids are sorted, and
            # np.argsort is stable, so sorting -cos keeps id order on ties
            top = np.argsort(-sims[i], kind="stable")[:kk]
            for r, j in enumerate(top, start=1):
                if sims[i, j] == -np.inf:
                    break
                q_l.append(ids[i])
                n_l.append(ids[j])
                # + 0.0 normalizes IEEE -0.0 (a tiny negative cosine rounds
                # to it) so both engines hash the same canonical zero — the
                # q63 covariance precedent
                c_l.append(sims[i, j] + 0.0)
                r_l.append(r)
        return pd.DataFrame({"query_id": np.array(q_l, dtype="int64"),
                             "neighbor_id": np.array(n_l, dtype="int64"),
                             "cos": np.array(c_l, dtype="float64"),
                             "rank": np.array(r_l, dtype="int32")})

    return (
        b.groupBy("bucket")
        .applyInPandas(kern,
                       "query_id long, neighbor_id long, cos double, rank int")
        .orderBy("query_id", "rank")
    )


def semdedup_pairs(embs: DataFrame,
                   cent_store: str | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic near-dup
    pairs: k-means-cluster the embeddings, then search for near-identical
    pairs (cosine >= 0.95) ONLY within each cluster (2 training
    iterations) — the paper's observation is that
    semantic duplicates land in the same cluster, so the O(n²) pair search
    collapses to O(Σ|cell|²) ≈ O(n²/k). k is n/75 (min 8), growing WITH
    the corpus exactly as the paper scales cluster count — a fixed k would
    silently re-quadratize at 100×.

    This is the third member of the engine's candidate-generation family
    (hyperplane LSH buckets, banded minhash LSH, k-means cells), each a
    different recall/cost trade: cells give the SemDeDup semantics of
    "duplicates within a semantic neighborhood". Plan at 100 TB: the k×dim
    centroid table broadcasts into one narrow Arrow BLAS assignment pass;
    the ONLY shuffle is groupBy(cell) moving each vector once (vec + 1
    int — no pair-join that would ship every vector |cell| times); each
    cell's pairs are then one in-memory BLAS gram matrix, emitting only
    the (a, b, cos) survivors. Cell size is bounded by construction
    (75 on average), so the per-task memory is flat as the corpus grows.
    Training reuses kmeans_centroids (seeded deterministic init,
    exact-decimal updates), so the trained geometry is replicable by the
    pure-Python twin and the whole operator is value-hash oracle-gated.
    """
    import numpy as np
    import pandas as pd

    from pdf_extractor_spark.operators.dedup import _round6_np

    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    k = max(8, e.count() // 75)
    # cent_store: committed model store — train once per corpus version,
    # reuse across invocations (see kmeans_centroids_stored)
    if cent_store is not None:
        cents = kmeans_centroids_stored(embs, k=k, iters=2,
                                        store_root=cent_store)
    else:
        cents = kmeans_centroids(embs, k=k, iters=2)
    assigned = assign_cells(e, cents)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"a": pd.Series(dtype="int64"),
                                 "b": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64")})
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["v"].to_numpy()[order])
        Mn = np.linalg.norm(M, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            sims = (M @ M.T) / np.outer(Mn, Mn)
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = _round6_np(sims[iu, ju])
        keep = np.isfinite(cos) & (cos >= 0.95)
        return pd.DataFrame(
            {"a": ids[iu[keep]], "b": ids[ju[keep]], "cos": cos[keep]})

    return (
        assigned.groupBy("cell")
        .applyInPandas(kern, "a long, b long, cos double")
        .orderBy("a", "b")
    )


def auto_n_cells(embs: DataFrame) -> int:
    """The √n coarse-cell rule from a cheap count: ``max(8, round(√n))``
    cells balances the two IVF cost terms (per-query centroid scan
    O(n_cells) vs probed-fraction scan O(n·n_probe/n_cells) — minimized
    at n_cells ≈ √n, the FAISS guidance). Measured in BENCH.md's ANN
    ladder: the √n-grown rung matches the manually-grown one."""
    import math

    return max(8, int(round(math.sqrt(max(embs.count(), 1)))))


def ivf_topk(embs: DataFrame, query_ids: list[int], k: int = 5,
             n_cells: int | None = 8,
             n_probe: int = 2) -> DataFrame:
    """IVF-style ANN: assign vectors to their nearest of n_cells seed
    centroids (deterministic pseudo-random), search only the n_probe closest
    cells per query.

    Approximate by construction; tests assert recall vs brute force rather
    than equality. Scale shape: centroid table is tiny (broadcast); corpus
    partitioned by cell; each query probes n_probe/n_cells of the data.
    ``n_cells=None`` derives the cell count from the corpus with the √n
    rule (see auto_n_cells) — the default stays pinned at 8 because the
    oracle twins pin the seed-centroid geometry as literals.
    """
    if n_cells is None:
        n_cells = auto_n_cells(embs)
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    first = e.select(F.size("v").alias("d")).first()
    if first is None:
        return e.limit(0).select(
            F.lit(0).cast("int").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).cast("int").alias("rank"),
        )
    dim = int(first["d"])  # derive from data, like the trained/LSH siblings
    cent_lists = [
        [_md5_unit(f"ivf:3:{c}:{d}") for d in range(dim)]
        for c in range(n_cells)
    ]
    return _ivf_probe_plan(e, cent_lists, query_ids, k, n_probe, dim)


def _ivf_probe_plan(e: DataFrame, cent_lists: list[list[float]],
                    query_ids: list[int], k: int, n_probe: int,
                    dim: int) -> DataFrame:
    """Shared IVF probe plan over literal centroids (seed-derived or
    trained): one Arrow BLAS assignment pass, per-query probe of the
    n_probe closest cells (the query set is tiny by contract — computed
    driver-side like the centroids themselves), exact Arrow-kernel cosine
    re-rank within probed cells. Assignment argmax = first index of the
    max (array_position/list_position semantics); probe order = sim DESC
    then cell DESC (reverse(array_sort(struct(sim, cell))) semantics)."""
    import numpy as np

    spark = e.sparkSession
    assigned = assign_cells(e, cent_lists)
    C = np.array(cent_lists, dtype=np.float64)
    Cn = np.linalg.norm(C, axis=1)
    qrows = e.where(F.col("vec_id").isin(query_ids)).collect()
    probe_rows = []
    for r in qrows:
        qv = np.array(r["v"], dtype=np.float64)
        sims = (C @ qv) / (Cn * np.linalg.norm(qv))
        order = sorted(
            ((float(sims[c]), c) for c in range(len(cent_lists))), reverse=True
        )[:n_probe]
        probe_rows += [(int(r["vec_id"]), list(r["v"]), int(c)) for _, c in order]
    qcells = spark.createDataFrame(
        probe_rows, "query_id long, qv array<double>, cell int"
    )

    joined = (
        F.broadcast(qcells)
        .join(assigned, ["cell"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", "v")
    )
    scored = cosine_pairs_arrow(joined, "qv", "v")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def normalize_quantize(embs: DataFrame) -> DataFrame:
    """L2-normalize vectors and symmetric-quantize to signed int8 — the
    standard pre-index compression step for an embedding store (int8 cuts
    the ANN working set 4× vs float32 with ~no recall loss).

    q_i = round(x_i / ||x|| * 127); JVM-side fold for the norm and
    transform for the quantization — one scan, no shuffle, exactly
    SQL-mirrorable for the oracle.
    """
    scale = 127.0
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )
    quant = F.transform(v, lambda x: F.round(x / nrm * scale, 0).cast("int"))
    # qvec is serialized to a comma-joined string: the external driver's row
    # canonicalizer sorts on column values and cannot hash list cells
    # (CORRECTNESS_r01 q41 harness crash); the string is deterministic and
    # byte-identical to the oracle's array_to_string.
    qvec = F.when(nrm > 0, quant).otherwise(F.transform(v, lambda x: F.lit(0)))
    return embs.select(
        "vec_id",
        F.concat_ws(",", qvec.cast("array<string>")).alias("qvec"),
        # decimal snap for exactness, then double so the client dtype is
        # float64 on both engines (Spark renders decimal as Decimal objects,
        # DuckDB as float64 — a str/repr-hashing canonicalizer would differ).
        nrm.cast("decimal(18,6)").cast("double").alias("norm"),
    )


def kmeans_centroids(embs: DataFrame, k: int = 8, iters: int = 5,
                     seed: int = 3) -> list[list[float]]:
    """Lloyd's k-means over the embedding column, pure DataFrame ops — the
    canonical Spark iterative-algorithm shape: per iteration, assignment is
    a broadcast expression over one scan, the re-centering is
    posexplode → groupBy(cell, dim) → avg (map-side partial agg), and only
    the k×dim centroid table (tiny) ever reaches the driver.

    Cosine assignment (matches the IVF probe metric). Empty cells keep
    their previous centroid. Deterministic: seeded init (same scheme as
    ivf_topk), fixed iteration count.
    """
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    first = e.first()
    dim = len(first["v"]) if first is not None else 64

    def _seed_centroid(c: int) -> list[float]:
        import hashlib

        return [
            (int(hashlib.md5(f"ivf:{seed}:{c}:{d}".encode()).hexdigest()[:8], 16)
             % 1000) / 1000.0 - 0.5
            for d in range(dim)
        ]

    cents = [_seed_centroid(c) for c in range(k)]
    if first is None:
        return cents  # empty input: keep seed centroids
    for _ in range(iters):
        # Arrow BLAS assignment (zero-norm vectors park in cell 0, matching
        # the twin); cell decisions are ulp-robust argmaxes, and the update
        # below is exact decimal arithmetic, so trained centroids stay
        # bit-identical to _kmeans_centroids_twin
        assigned = assign_cells(e, cents).select(
            "cell", F.posexplode("v").alias("dim", "x")
        )
        # decimal(30,15) sums: exact, order-independent addition — a double
        # F.avg's partial-agg order wiggles the centroid's last ulp between
        # runs/engines, which can flip near-tie argmax assignments and break
        # the trained-centroid oracle. The mean is computed driver-side as
        # float(decimal_sum)/count, one deterministic IEEE op, replicated
        # exactly by _kmeans_centroids_twin.
        sums = (
            assigned.groupBy("cell", "dim")
            .agg(
                F.sum(F.col("x").cast("decimal(30,15)")).alias("s"),
                F.count("*").alias("c"),
            )
            .collect()
        )
        new = [list(cv) for cv in cents]
        for r in sums:
            if r["cell"] is not None and r["s"] is not None:
                new[r["cell"]][r["dim"]] = float(r["s"]) / r["c"]
        cents = new
    return cents


def _emb_corpus_key(e: DataFrame) -> str:
    """Content-sensitive reuse key for trained-geometry stores over an
    embedding frame (the dedup._corpus_key discipline, vector edition):
    count + order-free crc32 over the (vec_id, vector-hash) BINDING, one
    narrow aggregate."""
    row = e.agg(
        F.count("*").alias("c"),
        F.sum(
            F.crc32(
                F.concat(
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    F.hash("v").cast("string"),
                )
            )
        ).alias("ck"),
    ).first()
    return f"{row['c']}:{row['ck']}"


def kmeans_centroids_stored(embs: DataFrame, k: int, iters: int,
                            store_root: str) -> list[list[float]]:
    """kmeans_centroids behind a committed MODEL STORE (SnapshotTable of
    (cell, dim, val) rows keyed by corpus checksum + hyperparameters) —
    the steady-state path of a long-running job: training runs once per
    corpus version; every later invocation (retries, repeated queries,
    bench reps) reads the k x dim table back instead of re-running
    `iters` Spark aggregate+collect rounds. Training is deterministic
    (seeded init, exact-decimal updates), so stored == retrained
    bit-for-bit and every trained-geometry oracle is unchanged — same
    discipline as dedup.shingle_table / text_analysis.tf_table."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    spark = embs.sparkSession
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    t = SnapshotTable(store_root)
    # training always uses kmeans_centroids' default seed, 3; the key keeps
    # it so committed stores stay valid
    key = {"corpus": _emb_corpus_key(e), "k": k, "iters": iters, "seed": 3}
    m = t.current_manifest()
    if m is not None and m.get("summary", {}).get("key") == key:
        rows = t.read(spark).collect()
        dim = 1 + max(r["dim"] for r in rows)
        cents: list[list[float]] = [[0.0] * dim for _ in range(k)]
        for r in rows:
            cents[r["cell"]][r["dim"]] = r["val"]
        return cents
    cents = kmeans_centroids(embs, k=k, iters=iters)
    flat = [(c, d, float(v)) for c, row in enumerate(cents)
            for d, v in enumerate(row)]
    t.overwrite(spark.createDataFrame(flat, "cell int, dim int, val double"),
                summary={"key": key})
    return cents


def _kmeans_centroids_twin(embedding_rows: list[tuple[int, list[float]]],
                           k: int = 8, iters: int = 5, seed: int = 3,
                           dim: int = 64) -> list[list[float]]:
    """Bit-exact pure-Python twin of kmeans_centroids, used to pin the
    trained centroids into the DuckDB oracle as literals (the q23 seed-
    centroid pattern, extended to trained geometry). Replication contract:
    - cosine: left-to-right fold (matches F.aggregate's sequential fold);
    - argmax: first index of the max (matches array_position);
    - update: per-(cell,dim) exact Decimal sums where each double is
      quantized via Decimal(repr(x)).quantize(1e-15, HALF_UP) — repr() is
      the shortest round-trip decimal, the same value Java's
      BigDecimal.valueOf(double) denotes, so it equals Spark's
      CAST(x AS DECIMAL(30,15)); mean = float(sum)/count.
    """
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    q15 = Decimal("1e-15")

    def seed_centroid(c: int) -> list[float]:
        return [
            (int(hashlib.md5(f"ivf:{seed}:{c}:{d}".encode()).hexdigest()[:8], 16)
             % 1000) / 1000.0 - 0.5
            for d in range(dim)
        ]

    def cos(a: list[float], b: list[float]) -> float | None:
        # math.sqrt, not ** 0.5: pow is not correctly rounded and drifts
        # 1 ulp from np.sqrt/F.sqrt (see _unit_py) — near-tie argmax flips
        # against the BLAS assignment are the exact mode this twin exists
        # to avoid
        import math

        dot = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            dot = dot + x * y
        for x in a:
            na = na + x * x
        for y in b:
            nb = nb + y * y
        denom = math.sqrt(na) * math.sqrt(nb)
        return None if denom == 0.0 else dot / denom

    cents = [seed_centroid(c) for c in range(k)]
    if not embedding_rows:
        return cents
    for _ in range(iters):
        sums: dict[tuple[int, int], Decimal] = {}
        counts: dict[int, int] = {}
        for _vid, v in embedding_rows:
            sims = [cos(v, cv) for cv in cents]
            best, cell = None, 0
            for ci, s in enumerate(sims):
                if s is not None and (best is None or s > best):
                    best, cell = s, ci
            counts[cell] = counts.get(cell, 0) + 1
            for d, x in enumerate(v):
                key = (cell, d)
                qx = Decimal(repr(x)).quantize(q15, rounding=ROUND_HALF_UP)
                sums[key] = sums.get(key, Decimal(0)) + qx
        new = [list(cv) for cv in cents]
        for (cell, d), s in sums.items():
            new[cell][d] = float(s) / counts[cell]
        cents = new
    return cents


def ivf_topk_trained(embs: DataFrame, query_ids: list[int], k: int = 5,
                     train_iters: int = 3,
                     cent_store: str | None = None) -> DataFrame:
    """IVF ANN over 8 k-means-trained centroids (vs ivf_topk's seed
    centroids), probing the 2 nearest cells: same probe plan, better cell
    balance → better recall at equal n_probe. Centroids are tiny and enter
    the plan as literals (broadcast by construction). `cent_store` reuses a
    committed trained index across invocations (kmeans_centroids_stored) —
    production IVF trains once and serves many queries."""
    if cent_store is not None:
        cents = kmeans_centroids_stored(embs, k=8, iters=train_iters,
                                        store_root=cent_store)
    else:
        cents = kmeans_centroids(embs, k=8, iters=train_iters)
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    dim = len(cents[0])
    return _ivf_probe_plan(e, cents, query_ids, k, 2, dim)


def embedding_covariance(embs: DataFrame) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding columns — the
    map-side-partial first step of distributed PCA (the d×d matrix is tiny;
    eigendecomposition is a driver-side numpy call on the collected result).

    Each partition contributes ONE d×d outer-product matmul plus a
    d-vector sum (Arrow kernel, BLAS); partials land as (i, j, sxy) rows
    and one narrow aggregate reduces them — shuffled rows are
    O(partitions · d²), independent of corpus size. cov(i,j) =
    (Σxy − n·mean_i·mean_j) / (n−1), with +0.0 to normalize IEEE −0.0 so
    the value hash is engine-portable.
    """
    import numpy as np
    import pandas as pd

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy())
            s = m.T @ m            # d×d
            sv = m.sum(axis=0)     # d
            d = s.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": iu.astype("int32"),
                    "j": ju.astype("int32"),
                    "sxy": s[iu, ju],
                    "sx": sv[iu],
                    "sy": sv[ju],
                    "cnt": np.full(iu.shape, len(pdf), dtype="int64"),
                }
            )

    e = embs.select(F.col("embedding").cast("array<double>").alias("v"))
    parts = e.mapInPandas(
        partial, "i int, j int, sxy double, sx double, sy double, cnt long"
    )
    # decimal(38,15) combine: each partition's partial is a deterministic
    # BLAS sum, but the cross-partition double-add order is not — quantizing
    # partials to decimals makes the combine exact and order-independent, so
    # the 6dp-rounded cov is run-stable (required by the q66 literal oracle,
    # which eigendecomposes these exact rounded values).
    agg = parts.groupBy("i", "j").agg(
        F.sum(F.col("sxy").cast("decimal(38,15)")).cast("double").alias("sxy"),
        F.sum(F.col("sx").cast("decimal(38,15)")).cast("double").alias("sx"),
        F.sum(F.col("sy").cast("decimal(38,15)")).cast("double").alias("sy"),
        F.sum("cnt").alias("n"),
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    return agg.select(
        "i", "j", (F.round(cov, 6) + F.lit(0.0)).alias("cov")
    ).orderBy("i", "j")


def rp_matrix(dim: int = 64, k: int = 8, seed: int = 7) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix (Achlioptas-style signs from
    md5(seed:i:j) parity) — data-independent, so both Spark and the DuckDB
    oracle reproduce it exactly from the seed."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"rp:{seed}:{i}:{j}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for j in range(k)
        ]
        for i in range(dim)
    ]


def random_projection(embs: DataFrame, k: int = 8, seed: int = 7) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project embeddings
    onto k md5-seeded ±1 directions, scaled by 1/sqrt(k). The projection
    matrix is seed-derived (no data dependence, no fit step) so the
    operator is a pure narrow map — one Arrow-batched BLAS matmul per
    batch, zero shuffle, pipelines over any corpus size. Output columns
    pc1..pck (rounded 6) for the engine-portable value hash.
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        R = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy())
            if R is None:
                R = np.array(rp_matrix(m.shape[1], k, seed), dtype=np.float64)
            proj = (m @ R) / np.sqrt(k)
            out = {"vec_id": pdf["vec_id"]}
            for j in range(k):
                out[f"pc{j + 1}"] = proj[:, j]
            yield pd.DataFrame(out)

    cols = ", ".join(f"pc{j + 1} double" for j in range(k))
    raw = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).mapInPandas(kernel, f"vec_id long, {cols}")
    return raw.select(
        "vec_id", *[F.round(f"pc{j + 1}", 6).alias(f"pc{j + 1}") for j in range(k)]
    ).orderBy("vec_id")


def _eigh_topk(C: "object", k: int) -> "object":
    """Driver-side eigendecomposition shared by pca_project and its oracle
    twin: numpy eigh on the (symmetric, 6dp-rounded) covariance, top-k by
    descending eigenvalue, deterministic sign (largest-|component| entry
    positive). Both callers feed BIT-IDENTICAL rounded matrices, so W is
    bit-identical — the whole eigen step collapses to one shared function.
    """
    import numpy as np

    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][:k]
    W = vecs[:, order]
    for j in range(W.shape[1]):
        if W[np.abs(W[:, j]).argmax(), j] < 0:
            W[:, j] = -W[:, j]
    return W


def pca_project(embs: DataFrame, k: int = 4) -> DataFrame:
    """PCA projection onto the top-k principal components, built on the
    distributed covariance (embedding_covariance): the d×d matrix collects
    to the driver (d² doubles — tiny at any corpus size), numpy eigh
    decomposes it, and the projection runs as one narrow Arrow matmul over
    the scan. Deterministic sign convention: each eigenvector's
    largest-|component| entry is made positive.

    Determinism contract (what makes the literal oracle possible): the
    covariance is 6dp-rounded with exact decimal partial combine (run- and
    order-stable), the mean is computed from exact decimal(30,15) sums with
    one float division driver-side (the kmeans_centroids discipline), and
    the eigh runs on those exact rounded values via _eigh_topk — so
    _pca_geometry_twin reproduces (mean, W) bit-for-bit and the projection
    is SQL-expressible with W/mean pinned as literals.
    """
    import numpy as np
    import pandas as pd

    cov_rows = embedding_covariance(embs).collect()
    if not cov_rows:  # empty input: no geometry to fit — empty result,
        # stable schema (same guard discipline as kmeans_centroids)
        cols = ", ".join(f"pc{j + 1} double" for j in range(k))
        return embs.sparkSession.createDataFrame([], f"vec_id long, {cols}")
    d = max(r["j"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        if r["cov"] is None or not np.isfinite(r["cov"]):
            raise ValueError(
                "pca_project: covariance undefined (need >= 2 vectors)")
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    mean = np.zeros(d)
    mrows = (
        embs.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
        )
        .groupBy("i")
        .agg(
            F.sum(F.col("x").cast("decimal(30,15)")).alias("s"),
            F.count("*").alias("c"),
        )
        .collect()
    )
    for r in mrows:
        if r["s"] is not None:
            mean[r["i"]] = float(r["s"]) / r["c"]
    W = _eigh_topk(C, k)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy())
            proj = (m - mean) @ W
            out = {"vec_id": pdf["vec_id"]}
            for j in range(k):
                out[f"pc{j + 1}"] = proj[:, j]
            yield pd.DataFrame(out)

    cols = ", ".join(f"pc{j + 1} double" for j in range(k))
    raw = embs.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).mapInPandas(kernel, f"vec_id long, {cols}")
    return raw.select(
        "vec_id",
        *[(F.round(f"pc{j + 1}", 6) + F.lit(0.0)).alias(f"pc{j + 1}")
          for j in range(k)],
    ).orderBy("vec_id")


def _pca_geometry_twin(embedding_rows: list[tuple[int, list[float]]],
                       k: int = 4) -> tuple[list[float], list[list[float]]]:
    """Bit-exact pure-numpy twin of pca_project's driver-side geometry,
    used to pin (mean, W) into the DuckDB oracle as literals (the
    _kmeans_centroids_twin pattern). Replication contract:
    - mean: per-dim exact Decimal sums where each double is quantized via
      Decimal(repr(x)).quantize(1e-15, HALF_UP) — equals Spark's
      CAST(x AS DECIMAL(30,15)); mean = float(sum)/count (one IEEE op);
    - covariance: full-matrix BLAS (Σxy − Σx·Σy/n)/(n−1) rounded 6dp
      half-up — agrees with the distributed exact-combine partials at 6dp
      (asserted by the parity unit test against embedding_covariance);
    - W: the SAME _eigh_topk call on the same rounded matrix.
    Returns (mean[d], W[d][k]).
    """
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    from pdf_extractor_spark.operators.multimodal import round_half_up

    q15 = Decimal("1e-15")
    M = np.array([v for _, v in embedding_rows], dtype=np.float64)
    n, d = M.shape
    mean = np.zeros(d)
    for j in range(d):
        s = Decimal(0)
        for x in M[:, j]:
            s += Decimal(repr(float(x))).quantize(q15, rounding=ROUND_HALF_UP)
        mean[j] = float(s) / n
    sxy = M.T @ M
    sx = M.sum(axis=0)
    C = (sxy - np.outer(sx, sx) / n) / (n - 1)
    C6 = np.array(
        [[round_half_up(float(C[i, j]), 6) + 0.0 for j in range(d)]
         for i in range(d)]
    )
    C6 = (C6 + C6.T) / 2.0  # exact: symmetric rounded values averaged with selves
    W = _eigh_topk(C6, k)
    return mean.tolist(), [[float(W[i, j]) for j in range(k)] for i in range(d)]


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the FAISS IndexPQ / IVF-PQ compression shape
# ---------------------------------------------------------------------------

_PQ_SEED = 3


def _pq_seed_books(m_sub: int, ksub: int,
                   dsub: int) -> list[list[list[float]]]:
    """Deterministic md5-derived seed codebooks, one ksub×dsub codebook per
    subspace — the pq:{_PQ_SEED}:{sub}:{cell}:{dim} tag keeps the scheme
    disjoint from the ivf:* seed-centroid namespace."""
    return [
        [[_md5_unit(f"pq:{_PQ_SEED}:{m}:{c}:{d}") for d in range(dsub)]
         for c in range(ksub)]
        for m in range(m_sub)
    ]


def pq_assign_codes(e: DataFrame, books: list[list[list[float]]],
                    vec_col: str = "v") -> DataFrame:
    """Input columns + `codes`: per-subspace nearest-codeword assignment —
    codes[m] = argmin_j ||vec[m·dsub:(m+1)·dsub] − books[m][j]||², FIRST
    index of the min (list_position/list_min semantics, the assign_cells
    argmax discipline transposed to L2). Every input column passes
    through, so callers can carry the coarse cell / the raw vector
    alongside the codes (the IVF-PQ composition needs both).

    One Arrow batch pass; per batch the m_sub distance tables are m_sub
    small (n×ksub×dsub) broadcasts — no shuffle, no Python per row. The
    codebooks are tiny literals (m_sub·ksub·dsub doubles) and ride the
    closure like the IVF centroids do.
    """
    import numpy as np
    import pandas as pd

    B = [np.array(cb, dtype=np.float64) for cb in books]
    dsub = B[0].shape[1]
    fields = list(e.schema)
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    ) + ", codes array<int>"

    def kern(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy())
            codes = np.zeros((len(pdf), len(B)), dtype=np.int32)
            for m, cb in enumerate(B):
                sub = M[:, m * dsub:(m + 1) * dsub]
                # full squared-diff tensor: more accurate than the
                # |x|²−2x·c+|c|² expansion near ties, and the sub-batch is
                # small (n×ksub×dsub)
                dist = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = dist.argmin(axis=1)
            outd = {f.name: pdf[f.name] for f in fields}
            outd["codes"] = list(codes)
            yield pd.DataFrame(outd)

    return e.mapInPandas(kern, schema)


def _unit_expr(v):
    """L2-normalize an array<double> column JVM-side — sequential
    left-to-right fold for the norm (matches the pure-Python twin and
    DuckDB's list_sum, all three sequential), one sqrt, one division per
    element: bit-identical across engines. Zero-norm vectors pass through
    unchanged (they dot to 0 against everything either way)."""
    nrm = F.sqrt(
        F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0),
                    lambda s, x: s + x)
    )
    return F.when(nrm > 0, F.transform(v, lambda x: x / nrm)).otherwise(v)


def _unit_py(v: list[float]) -> list[float]:
    """Pure-Python twin of _unit_expr (same fold order, same IEEE ops).
    math.sqrt, NOT ** 0.5: pow(x, 0.5) is not correctly rounded and
    measurably drifts 1 ulp from JVM F.sqrt (= hardware sqrtsd) on real
    inputs — found when a coarse-centroid twin diverged at 1e-15."""
    import math

    s = 0.0
    for x in v:
        s = s + x * x
    n = math.sqrt(s)
    return [x / n for x in v] if n > 0 else list(v)


def pq_train_codebooks(embs: DataFrame, m_sub: int = 4, ksub: int = 16,
                       iters: int = 2,
                       normalize: bool = True) -> list[list[list[float]]]:
    """Lloyd's k-means per subspace over the L2-NORMALIZED embedding
    column — product quantizer training (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"; the FAISS IndexPQ trainer,
    cosine metric = normalize + inner product, the faiss cosine
    discipline). All m_sub subspaces train in the SAME scan per
    iteration: one Arrow assignment pass emits the m_sub code columns,
    the re-center is posexplode(dim) → (sub, cell, sdim) groupBy with
    exact decimal(30,15) sums (order-independent — the kmeans_centroids
    discipline), and only the m_sub·ksub·dsub codebook table ever
    reaches the driver.

    Empty cells keep their previous codeword; deterministic seeded init;
    bit-identical to _pq_codebooks_twin (parity unit-tested).
    normalize=False trains on the raw column — the IVF-PQ residual path,
    where the input is already a residual of a normalized vector.
    """
    v = F.col("embedding").cast("array<double>")
    e = embs.select("vec_id", (_unit_expr(v) if normalize else v).alias("v"))
    first = e.first()
    dim = len(first["v"]) if first is not None else 64
    assert dim % m_sub == 0, f"dim {dim} not divisible by m_sub {m_sub}"
    dsub = dim // m_sub
    books = _pq_seed_books(m_sub, ksub, dsub)
    if first is None:
        return books
    for _ in range(iters):
        assigned = pq_assign_codes(e, books)
        parts = assigned.select(
            F.col("codes"), F.posexplode("v").alias("dim", "x")
        ).select(
            (F.col("dim") / dsub).cast("int").alias("sub"),
            F.element_at("codes", (F.col("dim") / dsub).cast("int") + 1).alias("cell"),
            (F.col("dim") % dsub).alias("sdim"),
            F.col("x"),
        )
        sums = (
            parts.groupBy("sub", "cell", "sdim")
            .agg(
                F.sum(F.col("x").cast("decimal(30,15)")).alias("s"),
                F.count("*").alias("c"),
            )
            .collect()
        )
        new = [[list(cw) for cw in cb] for cb in books]
        for r in sums:
            if r["s"] is not None:
                new[r["sub"]][r["cell"]][r["sdim"]] = float(r["s"]) / r["c"]
        books = new
    return books


def _pq_codebooks_twin(embedding_rows: list[tuple[int, list[float]]],
                       m_sub: int = 4, ksub: int = 16, iters: int = 2,
                       dim: int = 64,
                       normalize: bool = True) -> list[list[list[float]]]:
    """Bit-exact pure-Python twin of pq_train_codebooks (the
    _kmeans_centroids_twin contract transposed to per-subspace L2):
    L2-normalized input (_unit_py == _unit_expr), sequential-fold squared
    distances, argmin = first index of the min, per-(sub,cell,sdim)
    Decimal(repr(x)).quantize(1e-15, HALF_UP) sums, mean =
    float(sum)/count."""
    from decimal import ROUND_HALF_UP, Decimal

    q15 = Decimal("1e-15")
    dsub = dim // m_sub
    books = _pq_seed_books(m_sub, ksub, dsub)
    if not embedding_rows:
        return books
    if normalize:
        embedding_rows = [(vid, _unit_py([float(x) for x in v]))
                          for vid, v in embedding_rows]
    for _ in range(iters):
        sums: dict[tuple[int, int, int], Decimal] = {}
        counts: dict[tuple[int, int], int] = {}
        for _vid, v in embedding_rows:
            for m in range(m_sub):
                sub = v[m * dsub:(m + 1) * dsub]
                best, cell = None, 0
                for j, cw in enumerate(books[m]):
                    d2 = 0.0
                    for x, y in zip(sub, cw):
                        d2 = d2 + (x - y) * (x - y)
                    if best is None or d2 < best:
                        best, cell = d2, j
                counts[(m, cell)] = counts.get((m, cell), 0) + 1
                for d, x in enumerate(sub):
                    key = (m, cell, d)
                    qx = Decimal(repr(float(x))).quantize(q15, rounding=ROUND_HALF_UP)
                    sums[key] = sums.get(key, Decimal(0)) + qx
        new = [[list(cw) for cw in cb] for cb in books]
        for (m, cell, d), s in sums.items():
            new[m][cell][d] = float(s) / counts[(m, cell)]
        books = new
    return books


def pq_codebooks_stored(embs: DataFrame, m_sub: int, ksub: int, iters: int,
                        store_root: str,
                        normalize: bool = True) -> list[list[list[float]]]:
    """pq_train_codebooks behind a committed model store (rows
    (sub, cell, dim, val) keyed by corpus checksum + hyperparameters) —
    the kmeans_centroids_stored discipline: train once per corpus version,
    serve every later invocation from the tiny committed table. Training
    is deterministic, so stored == retrained bit-for-bit."""
    from pdf_extractor_spark.sources.table_format import SnapshotTable

    spark = embs.sparkSession
    e = embs.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    t = SnapshotTable(store_root)
    key = {"corpus": _emb_corpus_key(e), "m_sub": m_sub, "ksub": ksub,
           "iters": iters, "seed": _PQ_SEED, "normalize": normalize}
    m = t.current_manifest()
    if m is not None and m.get("summary", {}).get("key") == key:
        rows = t.read(spark).collect()
        dsub = 1 + max(r["dim"] for r in rows)
        books: list[list[list[float]]] = [
            [[0.0] * dsub for _ in range(ksub)] for _ in range(m_sub)
        ]
        for r in rows:
            books[r["sub"]][r["cell"]][r["dim"]] = r["val"]
        return books
    books = pq_train_codebooks(embs, m_sub=m_sub, ksub=ksub, iters=iters,
                               normalize=normalize)
    flat = [(mm, c, d, float(x)) for mm, cb in enumerate(books)
            for c, cw in enumerate(cb) for d, x in enumerate(cw)]
    t.overwrite(
        spark.createDataFrame(flat, "sub int, cell int, dim int, val double"),
        summary={"key": key},
    )
    return books


def pq_adc_luts(query_rows: list[tuple[int, list[float]]],
                books: list[list[list[float]]]) -> dict[int, list[list[float]]]:
    """Per-query asymmetric-distance lookup tables:
    LUT[q][m][j] = <q_m, books[m][j]> (sequential left-to-right fold).
    Inner product decomposes EXACTLY over subspace concatenation —
    <q, x̂> = Σ_m <q_m, codeword(x)_m> — which is why ADC ranking needs
    only m_sub table lookups per candidate. The tables are computed ONCE
    driver-side from literal geometry and pinned verbatim into both the
    Spark plan and the DuckDB oracle, so the ADC score is bit-identical
    across engines by construction."""
    dsub = len(books[0][0])
    luts: dict[int, list[list[float]]] = {}
    for qid, qv in query_rows:
        per_sub = []
        for m, cb in enumerate(books):
            sub = qv[m * dsub:(m + 1) * dsub]
            row = []
            for cw in cb:
                dot = 0.0
                for x, y in zip(sub, cw):
                    dot = dot + x * y
                row.append(dot)
            per_sub.append(row)
        luts[int(qid)] = per_sub
    return luts


def pq_adc_topk(embs: DataFrame, query_ids: list[int], k: int = 5,
                m_sub: int = 4, ksub: int = 16, train_iters: int = 2,
                book_store: str | None = None) -> DataFrame:
    """Product-quantization ANN with asymmetric distance (FAISS IndexPQ
    over L2-normalized vectors — METRIC_INNER_PRODUCT on unit vectors IS
    cosine, the faiss cosine-search discipline): train per-subspace
    codebooks, encode every normalized corpus vector as m_sub small
    codes, rank candidates per query by the quantized inner product
    Σ_m LUT[m][code_m] (pure table lookups), and report the EXACT cosine
    for the k survivors (the standard retrieve-then-rerank contract).

    THE 100 TB shape: a 64-dim float32 corpus is 256 B/vector; PQ codes are
    m_sub bytes (64× smaller), so the search working set for 10¹² vectors
    drops from ~256 TB to ~4 TB — the only way a corpus-wide ANN index
    fits a cluster's memory. Scoring is additive over pinned-literal
    lookup tables (no float math per dimension), the LUT set is
    queries×m_sub×ksub doubles (broadcast), and the exact re-rank touches
    only queries×k rows. No shuffle anywhere except the per-query top-k
    window over scored codes.

    Determinism: codebooks are exact-decimal-trained (bit-identical to
    _pq_codebooks_twin); code assignment is first-index argmin and
    ULP-ROBUST across engines (summation orders differ — the
    assign_cells discipline, not a bit guarantee); GIVEN equal codes the
    ADC sum is a fixed left-to-right chain of pinned literal doubles,
    hence bit-identical.
    """
    if book_store is not None:
        books = pq_codebooks_stored(embs, m_sub=m_sub, ksub=ksub,
                                    iters=train_iters, store_root=book_store)
    else:
        books = pq_train_codebooks(embs, m_sub=m_sub, ksub=ksub,
                                   iters=train_iters)
    e = embs.select(
        "vec_id",
        _unit_expr(F.col("embedding").cast("array<double>")).alias("v"),
    )
    spark = e.sparkSession
    qrows = [(int(r["vec_id"]), list(r["v"]))
             for r in e.where(F.col("vec_id").isin(query_ids)).collect()]
    if not qrows:
        return e.limit(0).select(
            F.lit(0).cast("long").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).cast("int").alias("rank"),
        )
    luts = pq_adc_luts(qrows, books)
    m_cols = len(books)
    qlut = spark.createDataFrame(
        [(qid, *luts[qid]) for qid, _ in qrows],
        "query_id long, "
        + ", ".join(f"l{m} array<double>" for m in range(m_cols)),
    )
    codes = pq_assign_codes(e, books).select("vec_id", "codes")
    adc = F.element_at("l0", F.element_at("codes", 1) + 1)
    for m in range(1, m_cols):
        adc = adc + F.element_at(f"l{m}", F.element_at("codes", m + 1) + 1)
    # the scored relation and the rank-window shuffle stay NARROW —
    # (query_id, neighbor_id, adc), ~24 bytes/row, not the dim-double
    # vectors; the exact re-rank joins the vectors back for only the
    # queries×k survivors (the SQL twin's shape)
    scored = (
        F.broadcast(qlut)
        .crossJoin(codes)
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id"))
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
    qvs = spark.createDataFrame(qrows, "query_id long, qv array<double>")
    survivors = (
        F.broadcast(top)
        .join(e, F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(qvs), ["query_id"])
        .select("query_id", "neighbor_id", "qv", "v", "rank")
    )
    return (
        cosine_pairs_arrow(survivors, "qv", "v")
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — coarse inverted lists + residual product codes (FAISS IndexIVFPQ)
# ---------------------------------------------------------------------------

def _assign_cell_py(v: list[float], cents: list[list[float]]) -> int:
    """Pure-Python twin of assign_cells for one vector: first-index argmax
    of cosine (sequential fold, math.sqrt — see _unit_py), zero-norm parks
    in cell 0."""
    import math

    best, cell = None, 0
    nv = 0.0
    for x in v:
        nv = nv + x * x
    if nv == 0.0:
        return 0
    for ci, cv in enumerate(cents):
        dot = 0.0
        nc = 0.0
        for x, y in zip(v, cv):
            dot = dot + x * y
        for y in cv:
            nc = nc + y * y
        if nc == 0.0:
            continue
        s = dot / (math.sqrt(nv) * math.sqrt(nc))
        if best is None or s > best:
            best, cell = s, ci
    return cell


def residual_frame(e: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, v, cell, r): coarse-assign each vector to its nearest
    centroid (assign_cells — one Arrow BLAS pass) and subtract the
    centroid JVM-side (zip_with over a literal centroid matrix — exact
    IEEE elementwise subtraction, identical in any engine given the same
    inputs). The residual is what IVF-PQ quantizes: residual energy is a
    fraction of vector energy, so the same ksub spends its codewords on a
    much smaller ball — the precision-per-byte gain that makes IVFPQ the
    FAISS default at billion-vector scale."""
    centlit = F.array(*[
        F.array(*[F.lit(float(x)) for x in cv]) for cv in cents
    ])
    assigned = assign_cells(e, cents)
    return assigned.select(
        "vec_id", "v", "cell",
        F.zip_with(
            "v", F.element_at(centlit, F.col("cell") + 1), lambda a, b: a - b
        ).alias("r"),
    )


def ivfpq_probes(qrows: list[tuple[int, list[float]]],
                 cents: list[list[float]],
                 n_probe: int) -> list[tuple[int, int, float]]:
    """(query_id, cell, offset) probe rows, driver-side: the n_probe
    closest coarse cells per query (cosine DESC, cell DESC tiebreak —
    _ivf_probe_plan's order) with the pinned ADC offset ⟨q, c_cell⟩.
    Shared verbatim by the operator and the oracle builder, so the probe
    set and offsets are identical literals on both engines."""
    import math

    out = []
    for qid, qv in qrows:
        scored_cells = []
        for c, cv in enumerate(cents):
            dot = 0.0
            nc = 0.0
            for x, y in zip(qv, cv):
                dot = dot + x * y
            for y in cv:
                nc = nc + y * y
            sim = None if nc == 0.0 else dot / math.sqrt(nc)
            scored_cells.append((sim if sim is not None else float("-inf"),
                                 c, dot))
        for _, c, dot in sorted(scored_cells, reverse=True)[:n_probe]:
            out.append((int(qid), int(c), float(dot)))
    return out


def ivfpq_adc_topk(embs: DataFrame, query_ids: list[int], k: int = 5,
                   n_cells: int = 8, n_probe: int = 4, m_sub: int = 4,
                   ksub: int = 16, coarse_iters: int = 2,
                   train_iters: int = 2,
                   cent_store: str | None = None) -> DataFrame:
    """IVF-PQ ANN (Jégou et al. 2011 §V; FAISS IndexIVFPQ, by_residual):
    L2-normalize → coarse k-means cells (inverted lists) → product-
    quantize the RESIDUAL x̂ = x − c_cell → per query, probe the n_probe
    closest cells and rank in-cell candidates by
        ⟨q, c_cell⟩ + Σ_m LUT[m][code_m]         (= ⟨q, c_cell + r̂⟩)
    — the pinned cell-offset plus m_sub table lookups — then report the
    EXACT cosine for the k survivors.

    THE composed 100 TB layout: cells bound the scan (n_probe/n_cells of
    the corpus per query), codes bound the memory (m_sub bytes/vector),
    and both index stages are tiny literal geometry (centroids +
    codebooks) trained once behind the model store. Per-query work is
    |probed cells| lookups-and-adds — no float math per dimension, no
    shuffle beyond the top-k window.

    Determinism: the geometry is exact-decimal-trained (bit-identical to
    _ivfpq_geometry_twin); cell offsets and LUTs are pinned literals; the
    ADC chain is fixed-order addition of pinned doubles (bit-identical
    GIVEN equal cell/code assignments, which are ulp-robust argmin/argmax
    — the assign_cells discipline). With cent_store set, BOTH index
    stages persist: coarse centroids at <store>_coarse, residual
    codebooks at <store>_books.
    """
    v = F.col("embedding").cast("array<double>")
    e_n = embs.select("vec_id", _unit_expr(v).alias("v"))
    embs_n = e_n.select("vec_id", F.col("v").alias("embedding"))
    if cent_store is not None:
        cents = kmeans_centroids_stored(embs_n, k=n_cells, iters=coarse_iters,
                                        store_root=cent_store + "_coarse")
    else:
        cents = kmeans_centroids(embs_n, k=n_cells, iters=coarse_iters)
    res = residual_frame(e_n, cents)
    res_embs = res.select("vec_id", F.col("r").alias("embedding"))
    if cent_store is not None:
        books = pq_codebooks_stored(res_embs, m_sub=m_sub, ksub=ksub,
                                    iters=train_iters,
                                    store_root=cent_store + "_books",
                                    normalize=False)
    else:
        books = pq_train_codebooks(res_embs, m_sub=m_sub, ksub=ksub,
                                   iters=train_iters, normalize=False)
    codes = pq_assign_codes(res, books, vec_col="r").select(
        "vec_id", "cell", "codes")
    spark = e_n.sparkSession
    qrows = [(int(r["vec_id"]), list(r["v"]))
             for r in e_n.where(F.col("vec_id").isin(query_ids)).collect()]
    if not qrows:
        return e_n.limit(0).select(
            F.lit(0).cast("long").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.lit(0.0).alias("cos"),
            F.lit(0).cast("int").alias("rank"),
        )
    luts = pq_adc_luts(qrows, books)
    probe_rows = [
        (qid, cell, off, *luts[qid])
        for qid, cell, off in ivfpq_probes(qrows, cents, n_probe)
    ]
    m_cols = len(books)
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, cell int, offset double, "
        + ", ".join(f"l{m} array<double>" for m in range(m_cols)),
    )
    adc = F.col("offset") + F.element_at("l0", F.element_at("codes", 1) + 1)
    for m in range(1, m_cols):
        adc = adc + F.element_at(f"l{m}", F.element_at("codes", m + 1) + 1)
    # narrow scored relation through the rank window (the pq_adc_topk
    # shape); vectors join back for only the queries×k survivors
    scored = (
        F.broadcast(probes)
        .join(codes, ["cell"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id"))
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
    qvs = spark.createDataFrame(qrows, "query_id long, qv array<double>")
    survivors = (
        F.broadcast(top)
        .join(e_n, F.col("vec_id") == F.col("neighbor_id"))
        .join(F.broadcast(qvs), ["query_id"])
        .select("query_id", "neighbor_id", "qv", "v", "rank")
    )
    return (
        cosine_pairs_arrow(survivors, "qv", "v")
        .select("query_id", "neighbor_id", "cos", "rank")
        .orderBy("query_id", "rank")
    )


def _ivfpq_geometry_twin(embedding_rows: list[tuple[int, list[float]]],
                         n_cells: int = 8, m_sub: int = 4, ksub: int = 16,
                         coarse_iters: int = 2, train_iters: int = 2,
                         dim: int = 64):
    """Bit-exact pure-Python twin of ivfpq_adc_topk's trained geometry:
    returns (cents, books) where cents come from _kmeans_centroids_twin
    over the normalized rows and books from _pq_codebooks_twin over the
    coarse residuals (normalize=False). Used to pin the IVFPQ oracle's
    literals, the trained-IVF/PQ pattern composed."""
    norm_rows = [(vid, _unit_py([float(x) for x in v]))
                 for vid, v in embedding_rows]
    cents = _kmeans_centroids_twin(norm_rows, k=n_cells, iters=coarse_iters,
                                   dim=dim)
    res_rows = []
    for vid, v in norm_rows:
        cell = _assign_cell_py(v, cents)
        res_rows.append((vid, [x - y for x, y in zip(v, cents[cell])]))
    books = _pq_codebooks_twin(res_rows, m_sub=m_sub, ksub=ksub,
                               iters=train_iters, dim=dim,
                               normalize=False)
    return cents, books
