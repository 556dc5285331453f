"""Similarity search over embedding columns: brute-force cosine top-k
baseline + LSH-bucketed scale path.

Brute force is exact and the right choice up to ~10⁶ candidates per query
batch (it is one broadcast-joined crossJoin — embarrassingly parallel, no
shuffle besides the final top-k). The hyperplane-LSH variant bounds work per
query for corpus sizes where n_q × n is no longer feasible; its buckets are
the same deterministic xxhash64-seeded projections on both driver runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def spread(df: DataFrame, key: str, factor: int = 1) -> DataFrame:
    """Hash-repartition on ``key`` up to cluster parallelism when the input
    arrives in fewer partitions (e.g. one small parquet file) — CPU-bound
    operators otherwise run on a single core. At real scale the scan already
    yields enough splits and this is a no-op.

    Call ONCE at the operator entry point, never inside a helper that gets
    referenced from several plan branches: hash partitioning is deterministic
    so one exchange is planned and reused, whereas per-branch round-robin
    repartitions are nondeterministic, defeat exchange reuse, and recompute
    the upstream subtree per branch (measured 30×+ slowdowns)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, df[key])
    return df


def spread_on(df: DataFrame, *keys: str) -> DataFrame:
    """Multi-key :func:`spread` for JOIN inputs whose shuffle is
    compute-dense but byte-tiny (wedge enumeration, edit-distance pair
    verification): AQE's byte-based partition coalescing sees a few MB and
    folds the post-shuffle stage onto ONE task, serializing seconds of
    per-pair compute (measured: every stage of the triangle wedge join ran
    1 task at sf0.1 on local[32]). Hash-repartitioning on the join keys
    with an EXPLICIT partition count is absorbed as the join's required
    distribution (no extra exchange) and is exempt from AQE coalescing.
    Same scale guard as :func:`spread`: a no-op once the input already
    arrives with cluster parallelism."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df


def _dot(x: Column, y: Column) -> Column:
    """Sequential fold — bit-stable and matches DuckDB's list_dot_product."""
    return F.aggregate(F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, z: acc + z)


def cosine(x: Column, y: Column) -> Column:
    return _dot(x, y) / F.sqrt(_dot(x, x) * _dot(y, y))


def exact_pair_cosine(left: str = "qv", right: str = "nv") -> Column:
    """Bit-exact cosine for candidate pairs: sequential fold dot over the raw
    arrays, norms factored as sqrt(a·a)·sqrt(b·b) — the DuckDB oracle must
    use the SAME factoring (`list_dot_product` is a sequential fold too)."""
    return _dot(F.col(left), F.col(right)) / (
        F.sqrt(_dot(F.col(left), F.col(left))) * F.sqrt(_dot(F.col(right), F.col(right)))
    )


def _rescore_topk(
    cands: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Shared final stage of every top-k path: join candidate (query,
    neighbor) pairs back to raw vectors, score with the oracle-matching
    :func:`exact_pair_cosine`, rank per query. One implementation — the
    five call sites previously carried copy-pasted variants, and one had
    already drifted to a different norm factoring."""
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).cast("array<double>").alias("nv")
    )
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).cast("array<double>").alias("qv")
    )
    if broadcast_queries:
        qv = F.broadcast(qv)
    scored = (
        cands.join(nv, "neighbor_id")
        .join(qv, "query_id")
        .select("query_id", "neighbor_id", exact_pair_cosine().alias("cosine"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    margin: int = 8,
    max_collect_queries: int = 65_536,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (ties broken by neighbor id).

    Two-phase plan — the pattern the 100 TB path needs:

    1. **Vectorized candidate generation** (Arrow ``mapInPandas``): each
       corpus partition computes a BLAS matmul of its batch against the
       (small, closure-shipped) normalized query matrix and emits its local
       top-(k+margin) per query. Local-topk ⊆-covers global topk, so no
       candidate is lost; the scan streams — nothing is collected.
    2. **Exact rescore** of the ~(partitions × queries × (k+margin))
       candidates with the sequential-fold cosine (bit-identical to the
       DuckDB oracle), then a global per-query top-k window.

    The margin only absorbs float-summation-order differences between BLAS
    and the fold near rank boundaries; candidate coverage is exact already.
    """
    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    # Guard: this variant closure-ships the query matrix, which is only sane
    # for a bounded query set. limit(N+1) bounds the collect itself; above
    # the threshold fail over to the blocked all-distributed variant.
    qrows = (
        queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>"))
        .limit(max_collect_queries + 1)
        .collect()
    )
    if len(qrows) > max_collect_queries:
        return cosine_topk_blocked(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, margin=margin,
        )
    if not qrows:
        raise ValueError("cosine_topk: empty query set")
    q_ids = np.array([r[0] for r in qrows])
    q_mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    q_mat = q_mat / np.linalg.norm(q_mat, axis=1, keepdims=True)
    n_local = k + margin

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: np.stack would raise
                continue
            ids = pdf["id"].to_numpy()
            mat = np.stack(pdf["v"].to_numpy())
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = q_mat @ mat.T  # (n_queries, batch)
            # self-matches must not crowd out real neighbors
            for qi, qid in enumerate(q_ids):
                sims[qi, ids == qid] = -np.inf
            take = min(n_local, sims.shape[1])
            idx = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            out_q = np.repeat(q_ids, take)
            out_n = ids[idx.ravel()]
            keep = np.isfinite(np.take_along_axis(sims, idx, axis=1).ravel())
            yield pd.DataFrame({"query_id": out_q[keep], "neighbor_id": out_n[keep]})

    c = spread(corpus, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    cands = c.mapInPandas(local_topk, "query_id long, neighbor_id long")
    return _rescore_topk(cands, corpus, queries, k, id_col, vec_col, query_id_col)


def cosine_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    n_corpus_blocks: int = 8,
    n_query_blocks: int = 4,
    margin: int = 8,
) -> DataFrame:
    """Exact top-k for UNBOUNDED query sets — the variant of
    :func:`cosine_topk` with no driver-side collect of either side.

    Both sides hash into blocks; each (query-block, corpus-block) pair is one
    task that matmuls its two blocks and emits the local top-(k+margin) per
    query. Per-block local top-k ⊇-covers the global top-k, so the exact
    rescore + global window yields the same result as brute force. Shuffle
    volume is n_corpus × n_query_blocks + n_queries × n_corpus_blocks —
    tune the block counts so single blocks fit a task's memory; everything
    else is embarrassingly parallel.
    """
    import numpy as np
    import pandas as pd

    query_id_col = query_id_col or id_col
    bq, bc = n_query_blocks, n_corpus_blocks
    n_local = k + margin

    c = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(bc)).alias("_cb"),
    ).select(
        "id", "v", F.lit(0).alias("side"),
        F.explode(F.expr(f"transform(sequence(0, {bq - 1}), qb -> qb * {bc} + _cb)")).alias("pair_id"),
    )
    q = queries.select(
        F.col(query_id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(bq)).alias("_qb"),
    ).select(
        "id", "v", F.lit(1).alias("side"),
        F.explode(F.expr(f"transform(sequence(0, {bc - 1}), cb -> _qb * {bc} + cb)")).alias("pair_id"),
    )

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["side"].to_numpy()
        cp, qp = pdf[side == 0], pdf[side == 1]
        if len(cp) == 0 or len(qp) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": []}).astype("int64")
        c_ids = cp["id"].to_numpy()
        cm = np.stack(cp["v"].to_numpy())
        cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
        q_ids = qp["id"].to_numpy()
        qm = np.stack(qp["v"].to_numpy())
        qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
        sims = qm @ cm.T
        for qi, qid in enumerate(q_ids):
            sims[qi, c_ids == qid] = -np.inf  # self-match excluded
        take = min(n_local, sims.shape[1])
        idx = np.argpartition(-sims, take - 1, axis=1)[:, :take]
        keep = np.isfinite(np.take_along_axis(sims, idx, axis=1).ravel())
        return pd.DataFrame(
            {"query_id": np.repeat(q_ids, take)[keep], "neighbor_id": c_ids[idx.ravel()][keep]}
        )

    cands = c.unionByName(q).groupBy("pair_id").applyInPandas(
        block_topk, "query_id long, neighbor_id long"
    )
    # Unbounded query set: the query side must stay distributed (no
    # broadcast) — that is this variant's entire reason to exist.
    return _rescore_topk(
        cands, corpus, queries, k, id_col, vec_col, query_id_col, broadcast_queries=False
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic distributed Lloyd's k-means for IVF coarse quantizers.

    Init = the seeded xxhash64-min sample ``ivf_topk`` uses; each iteration
    is ONE vectorized mapInPandas pass emitting per-(task, cell) partial
    sums/counts — n_partitions × n_cells tiny rows — reduced on the driver
    in sorted order (float sums are order-deterministic). No per-dimension
    explode, no dim× shuffle; only centroid matrices (n_cells × dim) move.
    Returns the L2-normalized centroid matrix (numpy, n_cells × dim).
    """
    import numpy as np
    import pandas as pd

    seed_rows = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    cents = np.stack([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    c = spread(corpus, id_col).select(F.col(vec_col).cast("array<double>").alias("v"))
    if n_iter > 1:
        # Every Lloyd's iteration is its own job over ``c``: unpinned, each
        # re-reads + re-decodes the corpus parquet. Pin the vector frame on
        # executor-local storage (the standard iterative-ML persist) so
        # iterations 2..n read the materialized blocks instead.
        from .dedup import _pin

        c = _pin(c)
    for _ in range(n_iter):
        cmat = cents  # closure snapshot for this iteration

        def partials(batches, cmat=cmat):
            pid = -1
            sums = np.zeros_like(cmat)
            counts = np.zeros(len(cmat), dtype=np.int64)
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack(pdf["v"].to_numpy())
                nrm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
                cells = np.argmax(nrm @ cmat.T, axis=1)
                for cell in np.unique(cells):
                    sums[cell] += nrm[cells == cell].sum(axis=0)
                    counts[cell] += int((cells == cell).sum())
            rows = [
                (pid, int(cell), int(counts[cell]), sums[cell].tolist())
                for cell in range(len(cmat))
                if counts[cell]
            ]
            yield pd.DataFrame(rows, columns=["pid", "cell", "n", "s"])

        got = sorted(
            c.mapInPandas(partials, "pid int, cell int, n long, s array<double>").collect(),
            key=lambda r: (r.cell, r.pid),
        )
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in got:
            sums[r.cell] += np.asarray(r.s)
            counts[r.cell] += r.n
        nxt = cents.copy()  # empty cells keep their old centroid
        nz = counts > 0
        nxt[nz] = sums[nz] / counts[nz, None]
        cents = nxt / np.linalg.norm(nxt, axis=1, keepdims=True)
    return cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: the inverted-file scale path.

    Coarse quantizer: ``n_cells`` centroids chosen deterministically from the
    corpus (the vectors with the smallest xxhash64(id) — a seeded sample),
    optionally refined with ``refine_iters`` Lloyd's iterations
    (:func:`kmeans_centroids` — distributed, deterministic).
    Every corpus vector is assigned to its nearest centroid (one vectorized
    mapInPandas pass); each query probes its ``n_probe`` nearest cells and
    scores only those cells' members — a (cell_id) equi-join, shuffle-keyed
    by cell like any inverted index. Candidates are rescored with the exact
    sequential-fold cosine (oracle-bit-identical), then top-k per query.

    Tuning: recall grows with n_probe/n_cells; work per query shrinks with
    n_cells. At 100 TB the assignment pass streams and the cell index is a
    bucketed table; only the centroid matrix (n_cells × dim) ships to tasks.
    """
    import numpy as np
    import pandas as pd

    # refine_iters=0 → the raw seeded sample (kmeans loop body never runs)
    c_mat = kmeans_centroids(corpus, n_cells, refine_iters, id_col, vec_col)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:  # empty Arrow batch: np.stack would raise
                continue
            mat = np.stack(pdf["v"].to_numpy())
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            cells = np.argmax(mat @ c_mat.T, axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "cell_id": cells.astype("int64")})

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            sims = mat @ c_mat.T
            take = min(n_probe, sims.shape[1])
            idx = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["id"].to_numpy(), take),
                    "cell_id": idx.ravel().astype("int64"),
                }
            )

    c = spread(corpus, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = queries.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    assigned = c.mapInPandas(assign, "id long, cell_id long")
    probes = q.mapInPandas(probe, "query_id long, cell_id long")

    cands = (
        assigned.join(F.broadcast(probes), "cell_id")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    return _rescore_topk(cands, corpus, queries, k, id_col, vec_col, id_col)


def md5_plane_matrix(dim: int, n: int):
    """Deterministic plane matrix any md5-capable engine can reproduce:
    ``plane[d, p] = double(int(md5(f"{d}:{p}")[:15 hex])) / 2⁵⁹ − 1``
    (uniform in [−1, 1); spherical symmetry is not required for sign-bucket
    LSH — only that the directions are fixed and data-independent). The
    int→double conversion is IEEE round-to-nearest and the 2⁵⁹ division is
    exact (power of two), so DuckDB's
    ``CAST(('0x'||substr(md5(d||':'||p),1,15)) AS BIGINT)`` path yields the
    bit-identical matrix — the cross-engine analog of dedup's ``md5_60``.
    """
    import hashlib

    import numpy as np

    h = np.array(
        [
            [int(hashlib.md5(f"{d}:{p}".encode()).hexdigest()[:15], 16) for p in range(n)]
            for d in range(dim)
        ],
        dtype=np.float64,
    )
    return h / float(1 << 59) - 1.0


def hyperplane_buckets(
    emb: DataFrame,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    n_tables: int = 1,
    plane_family: str = "pcg64",
) -> DataFrame:
    """Random-hyperplane LSH buckets per vector: one row per (vector, table)
    with the table's bucket = packed sign bits of n_planes pseudo-random
    projections. Multiple tables (OR-amplification) trade extra candidate
    volume for recall — a neighbor is a candidate if it collides in ANY table.

    All n_tables × n_planes projections are ONE vectorized matmul inside a
    map-only ``mapInPandas`` pass — no shuffle, no row inflation (the naive
    per-dimension explode formulation pushes dim× rows through an exchange;
    a 768-dim corpus would inflate 768×). The plane matrix is regenerated in
    every task from a seeded PCG64 stream (a specified, platform-stable
    generator), so buckets are identical across runs, tasks, and cluster
    layouts with no driver-side state shipped.

    ``plane_family="md5"`` swaps in :func:`md5_plane_matrix` and computes
    projections as a SEQUENTIAL fold over dimensions (vectorized across rows,
    ordered in d — the same summation order as DuckDB's
    ``list_dot_product``), so the buckets are reproducible value-for-value in
    external SQL. Production default stays ``pcg64`` + BLAS.
    """
    import numpy as np
    import pandas as pd

    def buckets(batches):
        planes = None
        weights = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            if planes is None:
                if plane_family == "md5":
                    planes = md5_plane_matrix(mat.shape[1], n_tables * n_planes)
                else:
                    rng = np.random.default_rng(seed)
                    planes = rng.standard_normal((mat.shape[1], n_tables * n_planes))
            if plane_family == "md5":
                # Ordered-in-d fold: acc = (...((v₀w₀) + v₁w₁) + ...) — each
                # step is one IEEE multiply + one add, matching the oracle's
                # sequential list_dot_product exactly (BLAS reorders sums,
                # which could flip the sign of a near-zero projection).
                proj = np.zeros((len(mat), planes.shape[1]))
                for d in range(mat.shape[1]):
                    proj += mat[:, d, None] * planes[None, d, :]
            else:
                proj = mat @ planes
            signs = proj > 0.0
            packed = signs.reshape(len(mat), n_tables, n_planes).astype(np.int64) @ weights
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, n_tables),
                    "table_id": np.tile(np.arange(n_tables, dtype=np.int64), len(ids)),
                    "bucket": packed.reshape(-1),
                }
            )

    v = spread(emb, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    out = v.mapInPandas(buckets, "id long, table_id long, bucket long")
    return out.select(F.col("id").alias(id_col), "table_id", "bucket")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_family: str = "pcg64",
) -> DataFrame:
    """Approximate top-k: score only vectors sharing a (table, bucket) with
    the query in at least one of ``n_tables`` hash tables, then keep the
    per-query top-k.

    Tuning: collision probability per table is (1 − θ/π)^n_planes, overall
    1 − (1 − p)^n_tables — more tables raise recall, more planes cut
    candidate volume. Candidates are deduped BEFORE scoring so each pair's
    cosine is computed once regardless of how many tables it collides in.
    ``plane_family="md5"`` makes the whole pipeline (bucketing → candidates
    → exact rescore) reproducible in external SQL (see hyperplane_buckets).
    """
    cb = hyperplane_buckets(
        corpus, n_planes, id_col, vec_col, n_tables=n_tables, plane_family=plane_family
    )
    qb = hyperplane_buckets(
        queries, n_planes, id_col, vec_col, n_tables=n_tables, plane_family=plane_family
    )
    cands = (
        cb.select(F.col(id_col).alias("neighbor_id"), "table_id", "bucket")
        .join(
            F.broadcast(qb.select(F.col(id_col).alias("query_id"), "table_id", "bucket")),
            ["table_id", "bucket"],
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # exact_pair_cosine factoring (via the shared helper) — this path
    # previously used cosine()'s sqrt(dot*dot) form, the one factoring
    # drift the module's own parity contract forbids.
    return _rescore_topk(cands, corpus, queries, k, id_col, vec_col, id_col)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-scale path for ANN. Vectors compress
# to m uint8 codes (one per subspace); queries scan codes with an ADC
# (asymmetric distance computation) lookup table and only the top candidates
# are rescored against raw vectors. At 100 TB the raw embeddings stay in
# parquet; the code table is ~m bytes/vector (64x-512x smaller), so the scan
# side fits hot storage. (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search" — public method; FAISS-style train-on-sample.)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 4,
    train_sample: int = 2048,
    n_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train per-subspace codebooks on a DETERMINISTIC bounded sample.

    The sample is the ``train_sample`` vectors with the smallest
    ``xxhash64(id)`` — stable across runs and cluster layouts, and the
    collect is bounded by construction (FAISS practice: PQ trains on a
    sample, not the corpus; the corpus-sized passes are encode/scan, which
    stay distributed). Per subspace, k=2**nbits centroids via Lloyd's with
    deterministic farthest-first-style init (first k sample rows in hash
    order). Returns numpy (m, k, d_sub), L2-normalized input space.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("_h", F.xxhash64(F.col("id")))
        .orderBy("_h", "id")
        .limit(train_sample)
        .collect()
    )
    mat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n, dim = mat.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub, k = dim // m, 1 << nbits
    books = np.empty((m, k, d_sub))
    for sub in range(m):
        x = mat[:, sub * d_sub : (sub + 1) * d_sub]
        cents = x[: min(k, n)].copy()
        if len(cents) < k:  # degenerate tiny corpus: pad by repeating
            cents = np.resize(cents, (k, d_sub))
        for _ in range(n_iter):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            cells = np.argmin(d2, axis=1)
            for c in range(k):
                sel = x[cells == c]
                if len(sel):
                    cents[c] = sel.mean(axis=0)
        books[sub] = cents
    return books


def pq_encode(
    corpus: DataFrame,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its m nearest-subspace-centroid codes — one
    vectorized mapInPandas pass; only the (m, k, d_sub) codebook ships to
    tasks. Output: (id, codes array<int>) — the compact scan table."""
    import numpy as np
    import pandas as pd

    m, k, d_sub = books.shape

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf["v"].to_numpy())
            mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            codes = np.empty((len(mat), m), dtype=np.int64)
            for sub in range(m):
                x = mat[:, sub * d_sub : (sub + 1) * d_sub]
                d2 = ((x[:, None, :] - books[sub][None, :, :]) ** 2).sum(axis=2)
                codes[:, sub] = np.argmin(d2, axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(), "codes": list(codes)})

    c = spread(corpus, id_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    return c.mapInPandas(enc, "id long, codes array<long>")


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    nbits: int = 4,
    refine_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_collect_queries: int = 65_536,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact refinement.

    Queries broadcast their per-subspace ADC tables (m × 2^nbits inner
    products against the codebooks); the code table is scanned with pure
    table lookups (np.take + sum — no floating dot per pair), the top
    ``k * refine_factor`` ADC candidates per query survive, and those are
    rescored with the exact sequential-fold cosine before the final top-k.
    The corpus-sized work touches only codes (m bytes/vector); raw vectors
    are fetched once for the k·refine_factor candidates per query.

    Like :func:`cosine_topk`, the query side is collected to the driver and
    shipped in the task closure — correct only for a BOUNDED query set.
    ``max_collect_queries`` enforces the bound with a ``limit()``-guarded
    collect (never scans more than the limit); corpus-scale query sets
    (corpus-vs-corpus ANN) belong on :func:`cosine_topk_blocked` or the
    IVF path, which keep both sides distributed.
    """
    import numpy as np
    import pandas as pd

    books = pq_codebooks(corpus, m=m, nbits=nbits, id_col=id_col, vec_col=vec_col)
    codes = pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)

    qrows = (
        queries.select(
            F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
        )
        .limit(max_collect_queries + 1)
        .collect()
    )
    if len(qrows) > max_collect_queries:
        raise ValueError(
            f"pq_topk collects the query side to the driver; got more than "
            f"max_collect_queries={max_collect_queries} queries — use "
            f"cosine_topk_blocked or ivf_topk for corpus-scale query sets"
        )
    if not qrows:
        raise ValueError("pq_topk: empty query set")
    qmat = np.stack([np.asarray(r["v"], dtype=np.float64) for r in qrows])
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qids = np.array([r["qid"] for r in qrows])
    m_, k_cent, d_sub = books.shape
    # ADC tables: tables[q, sub, code] = <q_sub, centroid>; cosine of the
    # reconstructed vector decomposes into a sum of these per-subspace terms.
    qsub = qmat.reshape(len(qmat), m_, d_sub)
    tables = np.einsum("qsd,skd->qsk", qsub, books)
    n_cand = k * refine_factor

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.stack(pdf["codes"].to_numpy())  # (n, m)
            ids = pdf["id"].to_numpy()
            # scores[q, n] = sum_sub tables[q, sub, code[n, sub]]
            scores = np.zeros((len(qmat), len(cmat)))
            for sub in range(m_):
                scores += tables[:, sub, cmat[:, sub]]
            take = min(n_cand, scores.shape[1])
            idx = np.argpartition(-scores, take - 1, axis=1)[:, :take]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, take),
                    "neighbor_id": ids[idx.ravel()],
                    "adc": scores[np.arange(len(qmat))[:, None], idx].ravel(),
                }
            )

    # Per-partition candidates → global per-query top-n_cand by ADC score,
    # then exact rescore on the raw vectors.
    cands = codes.mapInPandas(adc, "query_id long, neighbor_id long, adc double").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    w_adc = W.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("neighbor_id"))
    kept = (
        cands.withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= n_cand)
        .select("query_id", "neighbor_id")
    )
    return _rescore_topk(kept, corpus, queries, k, id_col, vec_col, id_col)
