"""Vector-similarity operators over ``array<float>`` embedding columns.

Execution strategy: the probe/reference side is gathered to a dense
numpy matrix and broadcast; the corpus streams through ``mapInPandas``
where each Arrow batch is scored with one BLAS GEMM (batch @ refᵀ).
That keeps the corpus scan embarrassingly parallel and replaces
per-pair interpreted arithmetic with vectorized kernels — the standard
brute-force layout for probes ≪ corpus. The broadcast side must fit in
executor memory; when it can't (corpus-vs-corpus at 100 TB), the LSH
band join (operators/dedup.py) or the IVF cell-pruned path below is
the scale route.

``cosine_similarity_col`` stays as a pure-Column (JVM) implementation
for expression-level use.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.sources.writers import write_parquet


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, JVM-side."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _gather_unit_matrix(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int = 1_000_000
):
    """(ids int64[n], row-normalized float64[n,d]) on the driver.

    DRIVER-GATHER — only for probe sets / small corpora. ``max_rows``
    is a hard guard: above it this raises instead of silently OOMing
    the driver (1M × 64 float64 ≈ 512 MB); the caller should switch to
    the distributed path (embedding_near_dup_pairs_lsh for near-dups,
    cosine_topk_ivf for ANN), which never gathers the corpus. The guard
    costs no extra Spark action: we fetch max_rows+1 and fail on
    overflow."""
    pdf = df.select(id_col, vec_col).limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"_gather_unit_matrix: input exceeds max_rows={max_rows}; "
            "this driver-gather path is for probe sets / small corpora only — "
            "use embedding_near_dup_pairs_lsh or cosine_topk_ivf for large "
            "corpora (distributed, never gathers the vectors)."
        )
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat / norms[:, None]


def cosine_topk_bruteforce(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each probe vector.

    Per corpus batch: GEMM against the broadcast probe matrix, keep the
    per-batch top-k per probe ordered by (rounded sim DESC, neighbor_id
    ASC), then one tiny global window resolves the true top-k on the
    same rank. Because the batch cut uses the identical lexicographic
    order as the window, ties at the k-th similarity resolve the same
    way regardless of how rows land in batches — deterministic across
    partitionings and engines. Returns (probe_id, neighbor_id, cosine).
    """
    from etl_mini_spark.session import spread

    spark = corpus.sparkSession
    p_ids, p_mat = _gather_unit_matrix(probes, id_col, vec_col)
    b = spark.sparkContext.broadcast((p_ids, p_mat))
    out_schema = T.StructType(
        [
            T.StructField(probe_id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids, pmat = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            norms = np.linalg.norm(cmat, axis=1)
            norms[norms == 0] = 1.0
            sims = (cmat / norms[:, None]) @ pmat.T  # [batch, n_probes]
            sims = np.round(sims, 6)
            mask = cids[:, None] == pids[None, :]
            sims[mask] = -np.inf  # exclude self
            kk = min(k, sims.shape[0])
            # per-probe top-k within this batch, ordered by
            # (rounded sim DESC, neighbor_id ASC) — the SAME rank the
            # global window uses, so batch-boundary truncation can
            # never drop a tied lower-id neighbor the window would
            # keep (results stay partitioning-independent). Two stable
            # argsorts compose the lexicographic order.
            ord0 = np.argsort(cids, kind="stable")  # neighbor_id ASC
            top = ord0[
                np.argsort(-sims[ord0], axis=0, kind="stable")[:kk]
            ]  # [kk, n_probes]
            probe_rep = np.broadcast_to(pids, top.shape)
            flat_sims = np.take_along_axis(sims, top, axis=0)
            keep = np.isfinite(flat_sims.ravel())
            yield pd.DataFrame(
                {
                    probe_id_col: probe_rep.ravel()[keep],
                    "neighbor_id": cids[top.ravel()][keep],
                    "cosine": flat_sims.ravel()[keep],
                }
            )

    cand = spread(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(probe_id_col, "neighbor_id", "cosine")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    sample_n: int = 8192,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means centroids, trained driver-side on a
    deterministic sample (lowest ids). unit-normalized float64
    [n_cells, d].

    The sample is bounded (``sample_n``) so training cost is constant
    regardless of corpus size — the 100 TB path trains on the same few
    thousand vectors and only the *assignment* pass scans the corpus.
    Seeded RandomState keeps centroids reproducible across runs.
    """
    pdf = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_n).toPandas()
    X = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    X = X / norms[:, None]
    n_cells = min(n_cells, len(X))
    rs = np.random.RandomState(0)
    C = X[rs.choice(len(X), n_cells, replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    C[c] = m / n
    return C


def cosine_topk_ivf(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF ANN: assign every corpus vector to its nearest trained
    centroid, route each probe to its ``nprobe`` nearest centroids, and
    score each corpus vector against ONLY the probes routed to its
    cell. Recall < 1 by design.

    Execution shape: probes are driver-gathered (guarded -- probes <<
    corpus is this operator's contract) and routed to cells in numpy;
    the corpus then streams through ONE ``mapInPandas`` pass where each
    Arrow batch is grouped by cell and GEMMed against that cell's probe
    sub-matrix, emitting per-(batch, cell) top-k candidates. Nothing
    per-pair is ever materialized: an earlier formulation (route cells,
    broadcast-JOIN probes onto corpus rows, score each joined row)
    shipped O(pairs x d) vector bytes and could not finish a
    1000-probe x 1M-corpus run locally; this form moves O(corpus x d)
    exactly once -- same scan cost as brute force -- while scoring only
    ~nprobe/n_cells of the pair space. At 100 TB you additionally
    cell-partition the corpus LAYOUT so files of non-routed cells are
    pruned from the scan itself -- that is
    :func:`write_ivf_partitioned` + :func:`cosine_topk_ivf_partitioned`
    (scan-metric-asserted in tests)."""
    from etl_mini_spark.session import spread

    spark = corpus.sparkSession
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    p_ids, p_mat = _gather_unit_matrix(probes, id_col, vec_col)
    order = np.argsort(-(p_mat @ centroids.T), axis=1)[:, :nprobe]  # [n_probes, nprobe]
    cell_probes = {}
    for c in range(centroids.shape[0]):
        idx = np.where((order == c).any(axis=1))[0]
        if len(idx):
            cell_probes[c] = idx
    b = spark.sparkContext.broadcast((p_ids, p_mat, centroids, cell_probes))
    out_schema = T.StructType(
        [
            T.StructField(probe_id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids, pmat, C, routes = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            norms = np.linalg.norm(cmat, axis=1)
            norms[norms == 0] = 1.0
            cmat = cmat / norms[:, None]
            cell = np.argmax(cmat @ C.T, axis=1)
            for c in np.unique(cell):
                pidx = routes.get(int(c))
                if pidx is None:
                    continue
                rows = np.where(cell == c)[0]
                sims = np.round(cmat[rows] @ pmat[pidx].T, 6)  # [rows, cell probes]
                sims[cids[rows][:, None] == pids[pidx][None, :]] = -np.inf  # exclude self
                kk = min(k, sims.shape[0])
                # per-probe top-k within this cell-batch slice with the
                # SAME tie discipline as the brute kernel: (rounded sim
                # DESC, neighbor_id ASC) — the global window's exact
                # rank — so tied similarities at the k-th rank can never
                # make results depend on Arrow batch boundaries.
                ord0 = np.argsort(cids[rows], kind="stable")  # neighbor_id ASC
                top = ord0[
                    np.argsort(-sims[ord0], axis=0, kind="stable")[:kk]
                ]
                flat_sims = np.take_along_axis(sims, top, axis=0)
                keep = np.isfinite(flat_sims.ravel())
                yield pd.DataFrame(
                    {
                        probe_id_col: np.broadcast_to(pids[pidx], top.shape).ravel()[keep],
                        "neighbor_id": cids[rows][top.ravel()][keep],
                        "cosine": flat_sims.ravel()[keep],
                    }
                )

    cand = spread(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)
    w = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(probe_id_col, "neighbor_id", "cosine")
    )


def assign_ivf_cells(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach each vector's IVF cell id (argmax cosine against the
    broadcast centroids) — one Arrow-batched GEMM per batch, no
    shuffle."""
    spark = corpus.sparkSession
    b = spark.sparkContext.broadcast(centroids)

    @F.pandas_udf(T.IntegerType())
    def _cell(v: pd.Series) -> pd.Series:
        C = b.value
        mat = np.asarray(v.to_list(), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        norms[norms == 0] = 1.0
        return pd.Series(np.argmax((mat / norms[:, None]) @ C.T, axis=1).astype(np.int32))

    return corpus.withColumn(cell_col, _cell(F.col(vec_col)))


def write_ivf_partitioned(
    corpus: DataFrame,
    path: str,
    centroids: np.ndarray | None = None,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> np.ndarray:
    """Materialize the corpus CELL-PARTITIONED (one parquet directory
    per IVF cell) — the layout step cosine_topk_ivf's docstring
    promises: with it, a probe routed to ``nprobe`` of ``n_cells``
    cells scans only those cells' FILES; the other cells never leave
    the object store. Scan bytes then scale with nprobe/n_cells, not
    corpus size — the difference between "score fewer pairs" and "read
    less data", and the part that matters at 100 TB.

    Returns the centroids actually used — persist them next to the
    layout (they ARE the routing index; production would write them to
    ``{path}/_centroids``)."""
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells=n_cells, id_col=id_col, vec_col=vec_col)
    assigned = assign_ivf_cells(corpus, centroids, vec_col=vec_col, cell_col=cell_col)
    write_parquet(assigned.write.mode("overwrite").partitionBy(cell_col), path)
    return centroids


def cosine_topk_ivf_partitioned(
    spark,
    path: str,
    probes: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF ANN over a :func:`write_ivf_partitioned` layout: probes are
    routed driver-side to their ``nprobe`` nearest cells, and the scan
    carries a static ``cell IN (...)`` partition filter, so files of
    non-routed cells are PRUNED from the read (assert with
    ``df.inputFiles()`` / the scan's PartitionFilters). Scoring then
    reuses :func:`cosine_topk_ivf` with the same centroids — cell
    assignment is a pure function of (vector, centroids), so results
    are identical to the unpartitioned path with identical routing."""
    p_ids, p_mat = _gather_unit_matrix(probes, id_col, vec_col)
    order = np.argsort(-(p_mat @ centroids.T), axis=1)[:, :nprobe]
    routed = sorted({int(c) for c in order.ravel()})
    pruned = spark.read.parquet(path).filter(F.col(cell_col).isin(routed))
    return cosine_topk_ivf(
        pruned.select(id_col, vec_col),
        probes,
        k=k,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
        probe_id_col=probe_id_col,
        centroids=centroids,
    )


def embedding_near_dup_pairs_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 32,
    n_bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold) via random-hyperplane LSH —
    the NON-broadcast scale path: no side ever has to fit in memory.

    Sign-bit signatures per table (Charikar 2002): two vectors at angle
    θ agree on one bit with prob 1-θ/π. Bucket width MUST grow with the
    corpus: expected false candidates are C(n,2)·tables·2^-bits for
    near-orthogonal mass, so fixed 12-bit buckets that are fine at 500
    vectors produced 245 M candidate pairs at 205 k vectors (measured —
    the bucket-cohabitant explosion, not verification, was the cost).
    Default ``n_bits=None`` auto-sizes to clamp(⌈log₂ n⌉+4, 12, 24):
    false-candidate mass stays ~n·tables/16 regardless of n, while a
    true pair at cos 0.95 (per-bit agree 0.899) still lands in one of
    32 tables with prob 1-(1-0.899^bits)³² — ≥0.96 at 24 bits, ≈1 for
    the ≥0.99-cosine near-dup band this operator targets. Exact
    Arrow-batched cosine verifies candidates (per-row JVM lambdas are
    ~100× slower at fan-out — same lesson as cosine_topk_ivf), so
    precision is exact. Shuffles on (table, bucket) and the candidate
    join keys — bounded, never all-pairs. Hyperplanes are seeded →
    fully deterministic for a fixed (n_tables, n_bits).

    The corpus is pinned up front: the signature pass and BOTH verify
    sides reference it (3 plan refs), and the bit-sizing/dim probes are
    driver actions over it — unpinned, the upstream lineage (often a
    union or a transform over a scan) re-ran five times (guide 3.3).
    The two probes share ONE action (guide 5: fewer driver round
    trips). The pin is lazy: that probe is its first action and
    materializes it, so no job runs for the pin alone."""
    from etl_mini_spark.session import pin

    spark = corpus.sparkSession
    corpus = pin(corpus, eager=False)
    n_rows, dim = corpus.agg(
        F.count("*"), F.first(F.size(F.col(vec_col)))
    ).first()
    if n_bits is None:
        n_bits = min(24, max(12, int(np.ceil(np.log2(max(n_rows, 2)))) + 4))
    rs = np.random.RandomState(0)
    planes = rs.randn(n_tables * n_bits, dim)
    bp = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_bits, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_sig(v: pd.Series) -> pd.Series:
        P = bp.value
        M = np.asarray(v.to_list(), dtype=np.float64)
        bits = (M @ P.T) > 0  # [batch, n_tables*n_bits]
        bits = bits.reshape(len(M), n_tables, n_bits)
        buckets = (bits * weights[None, None, :]).sum(axis=2)  # [batch, n_tables]
        return pd.Series(list(buckets.astype(np.int64)))

    # asNondeterministic: the posexplode below makes Catalyst infer a
    # size(sig) > 0 predicate and push it under the projection,
    # duplicating the signature UDF into two ArrowEvalPython nodes
    # (every vector hashed twice; guide §4.4, generator variant)
    sig = corpus.select(
        F.col(id_col).alias("doc_id"),
        bucket_sig.asNondeterministic()(F.col(vec_col)).alias("sig"),
    )
    banded = sig.select("doc_id", F.posexplode("sig").alias("table", "bucket"))
    buckets = (
        banded.groupBy("table", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))), lambda y: F.array(x, y)
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p")[0].alias("id1"), F.col("p")[1].alias("id2"))
        .distinct()
    )
    v1 = corpus.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("__v1"))
    v2 = corpus.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("__v2"))

    @F.pandas_udf(T.DoubleType())
    def pair_cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray(a.to_list(), dtype=np.float64)
        B = np.asarray(b.to_list(), dtype=np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = 1.0
        nb[nb == 0] = 1.0
        return pd.Series(np.einsum("ij,ij->i", A, B) / (na * nb))

    # asNondeterministic: stops Catalyst pushing the threshold filter
    # below the projection and duplicating the UDF into two
    # ArrowEvalPython nodes (every candidate scored twice; guide §4.4)
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("__cos", pair_cosine.asNondeterministic()(F.col("__v1"), F.col("__v2")))
        .filter(F.col("__cos") >= threshold)
        .select("id1", "id2", F.round("__cos", 6).alias("cosine"))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_gather_rows: int = 1_000_000,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, id1 < id2.

    Corpus broadcast as one unit-normalized matrix; each partition GEMMs
    its batch against it and emits only ≥-threshold pairs. Threshold is
    applied to the UNROUNDED similarity (output rounded to 6) — matching
    SQL `WHERE cos >= t` semantics. SMALL-CORPUS PATH: the corpus is
    gathered to the driver, guarded by ``max_gather_rows`` — past the
    cap this raises with a pointer at
    :func:`embedding_near_dup_pairs_lsh`, the distributed twin with the
    same output contract."""
    from etl_mini_spark.session import spread

    spark = corpus.sparkSession
    ids, mat = _gather_unit_matrix(corpus, id_col, vec_col, max_rows=max_gather_rows)
    b = spark.sparkContext.broadcast((ids, mat))
    out_schema = T.StructType(
        [
            T.StructField("id1", T.LongType()),
            T.StructField("id2", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        aids, amat = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            norms = np.linalg.norm(cmat, axis=1)
            norms[norms == 0] = 1.0
            sims = (cmat / norms[:, None]) @ amat.T
            ii, jj = np.nonzero((sims >= threshold) & (cids[:, None] < aids[None, :]))
            yield pd.DataFrame(
                {
                    "id1": cids[ii],
                    "id2": aids[jj],
                    "cosine": np.round(sims[ii, jj], 6),
                }
            )

    return spread(corpus.select(id_col, vec_col)).mapInPandas(score, out_schema)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_n: int = 8192,
    iters: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Product-quantization codebooks: the unit-normalized vector
    splits into ``m`` subspaces and each learns ``n_codes`` k-means
    centroids on a deterministic bounded sample (lowest ids, seeded
    RandomState — the train_ivf_centroids discipline). Returns float64
    ``[m, n_codes, d/m]``. Training cost is constant in corpus size;
    only encode/scan passes touch the full corpus."""
    pdf = corpus.select(id_col, vec_col).orderBy(id_col).limit(sample_n).toPandas()
    X = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0] = 1.0
    X = X / norms[:, None]
    d = X.shape[1]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    n_codes = min(n_codes, len(X))
    books = np.empty((m, n_codes, dsub))
    rs = np.random.RandomState(0)
    for j in range(m):
        S = X[:, j * dsub:(j + 1) * dsub]
        C = S[rs.choice(len(S), n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)  # ties -> lowest code id
            for c in range(n_codes):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def cosine_topk_pq_rerank(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """PQ + ADC candidate generation with exact re-ranking: corpus
    vectors encode to ``m`` uint8 codes (argmin subspace distance,
    ties to the lowest code id — deterministic); per probe an ADC
    lookup table (probe subvector . each codebook centroid) scores
    every corpus vector as a SUM OF TABLE LOOKUPS — never a full
    d-dim dot product — and the top ``rerank*k`` candidates per probe
    re-rank by exact cosine. Recall < 1 by design (rows-only entry +
    pinned recall tests, the similarity_ivf discipline).

    Execution shape: ONE mapInPandas pass over the corpus (encode +
    ADC + per-batch tie-disciplined cut emit <= rerank*k rows per
    (batch, probe)), one window cut, and an exact GEMM restricted to
    candidates. At 100 TB the scan moves O(corpus x d) once and the
    exact math touches only candidates — the PQ promise, kept
    measurable by the recall pins."""
    from etl_mini_spark.session import spread

    spark = corpus.sparkSession
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    mm, n_codes, dsub = codebooks.shape
    p_ids, p_mat = _gather_unit_matrix(probes, id_col, vec_col)
    # ADC tables: [n_probes, m, n_codes] — one tiny GEMM per subspace
    tables = np.stack(
        [p_mat[:, j * dsub:(j + 1) * dsub] @ codebooks[j].T for j in range(mm)],
        axis=1,
    )
    b = spark.sparkContext.broadcast((p_ids, p_mat, codebooks, tables))
    cand_schema = T.StructType(
        [
            T.StructField(probe_id_col, T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("adc", T.DoubleType()),
        ]
    )
    n_cand = rerank * k

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pids, pmat, books, tabs = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)
            norms = np.linalg.norm(cmat, axis=1)
            norms[norms == 0] = 1.0
            cmat = cmat / norms[:, None]
            # encode: per subspace argmin distance (ties -> lowest code)
            codes = np.empty((len(cmat), books.shape[0]), dtype=np.int64)
            for j in range(books.shape[0]):
                S = cmat[:, j * dsub:(j + 1) * dsub]
                d2 = ((S[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            # ADC: sims[i, p] = sum_j tabs[p, j, codes[i, j]]
            sims = np.zeros((len(cmat), len(pids)))
            for j in range(books.shape[0]):
                sims += tabs[:, j, codes[:, j]].T  # [batch, n_probes]
            sims = np.round(sims, 6)
            sims[cids[:, None] == pids[None, :]] = -np.inf
            kk = min(n_cand, sims.shape[0])
            ord0 = np.argsort(cids, kind="stable")  # tie discipline: id ASC
            top = ord0[np.argsort(-sims[ord0], axis=0, kind="stable")[:kk]]
            flat = np.take_along_axis(sims, top, axis=0)
            keep = np.isfinite(flat.ravel())
            yield pd.DataFrame(
                {
                    probe_id_col: np.broadcast_to(pids, top.shape).ravel()[keep],
                    "neighbor_id": cids[top.ravel()][keep],
                    "adc": flat.ravel()[keep],
                }
            )

    cand = spread(corpus.select(id_col, vec_col)).mapInPandas(score, cand_schema)
    wc = Window.partitionBy(probe_id_col).orderBy(F.col("adc").desc(), "neighbor_id")
    cand = (
        cand.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") <= n_cand)
        .select(probe_id_col, "neighbor_id")
    )
    # exact re-rank restricted to candidates: keyed joins + codegen dot
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__cv"),
    )
    pvec = probes.select(
        F.col(id_col).alias(probe_id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__pv"),
    )
    dot = F.aggregate(
        F.zip_with("__cv", "__pv", lambda a, c: a * c), F.lit(0.0), lambda acc, x: acc + x
    )
    def nrm(col):
        # zero-norm vectors take norm 1.0, mirroring the numpy kernels'
        # norms[norms == 0] = 1.0 discipline — the ADC path and
        # cosine_topk_bruteforce already do this, so the exact re-rank
        # must agree (a NULL cosine would otherwise survive into top-k).
        raw = F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))
        return F.when(raw == 0.0, F.lit(1.0)).otherwise(raw)
    scored = (
        cand.join(cvec, "neighbor_id")
        .join(F.broadcast(pvec), probe_id_col)
        .select(
            probe_id_col, "neighbor_id",
            F.round(dot / (nrm(F.col("__cv")) * nrm(F.col("__pv"))), 6).alias("cosine"),
        )
    )
    wf = Window.partitionBy(probe_id_col).orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") <= k)
        .select(probe_id_col, "neighbor_id", "cosine")
    )
