"""Distributed Lloyd's k-means over ``array<float>`` embedding columns.

The reference (Zaur86/etl-mini) has no clustering at all; this extends
the embedding tier (similarity.py) with the iterative-ML workload shape:
``train_ivf_centroids`` fits ONE driver-side sample for IVF routing,
whereas this operator runs the full Lloyd loop DISTRIBUTED — every
iteration is

  1. a map-only assignment pass: centroids (k×d, small by construction)
     broadcast to executors, each Arrow batch scored with one BLAS GEMM
     (``argmin ||x-c||² = argmax (x·c − ½||c||²)``) — no shuffle;
  2. a per-cluster mean: groupBy(cluster) over k keys with map-side
     partial aggregation, so the shuffle is k×d floats per task, not
     the data;
  3. a k×d collect of the new centroids to the driver (the same
     bounded collect Spark MLlib's KMeans does — centroids are the
     model, not data).

Convergence is max centroid L2 shift < ``tol``. Empty clusters keep
their previous centroid (deterministic; no re-seeding randomness).
Initialization is the k lowest-``id_col`` vectors — deterministic and
engine-independent, which is what lets tests differentially compare
the whole trajectory against a numpy reference implementation.

At 100 TB: the assignment pass scales embarrassingly (broadcast k×d,
stream the corpus); the only shuffle is k keys wide. The per-iteration
barrier is inherent to Lloyd's; iteration count, not data volume, is
the latency driver — the loop runs under the same loop-scoped confs as
every superstep loop (operators/graph.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.session import loop_confs


def _init_centroids(df: DataFrame, id_col: str, vec_col: str, k: int) -> np.ndarray:
    rows = df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"k={k} exceeds corpus size {len(rows)}")
    return np.array([r[vec_col] for r in rows], dtype=np.float64)


def assign_clusters(df: DataFrame, vec_col: str, centroids: np.ndarray) -> DataFrame:
    """Append an integer ``cluster`` column: nearest centroid by L2.
    Map-only — centroids ride a broadcast, each Arrow batch is one GEMM."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("cluster", T.IntegerType(), False)]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value  # (k, d)
        half_sq = 0.5 * (c * c).sum(axis=1)  # (k,)
        for b in batches:
            if len(b):
                m = np.array(b[vec_col].tolist(), dtype=np.float64)  # (n, d)
                b = b.assign(cluster=(m @ c.T - half_sq).argmax(axis=1).astype("int32"))
            else:
                b = b.assign(cluster=pd.Series([], dtype="int32"))
            yield b

    return df.mapInPandas(score, schema=out_schema)


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    max_iters: int = 20,
    tol: float = 1e-6,
) -> tuple[DataFrame, np.ndarray, int]:
    """Run Lloyd's to convergence; return (assigned df, centroids, iters).

    The returned DataFrame carries the FINAL assignment (computed from
    the converged centroids, so it is consistent with them).

    Loop discipline: the input is persisted ONCE — each of the ~2·iters
    jobs re-reads memory, not the source files — and released on exit;
    the loop runs under ``session.loop_confs`` (per-iteration replanning
    latency dominates at any SF because the shuffle is only k keys
    wide). The loop itself runs on the driver — each iteration ends in
    a k×d collect — so it needs no lineage truncation."""
    pinned = df.select(id_col, vec_col).persist()
    try:
        with loop_confs(df.sparkSession, 8):
            cents = _init_centroids(pinned, id_col, vec_col, k)
            it = 0
            dim = cents.shape[1]
            for it in range(1, max_iters + 1):
                assigned = assign_clusters(pinned, vec_col, cents)
                # per-cluster element-wise sum + count: k-key shuffle, partial aggs
                sums = (
                    assigned.groupBy("cluster")
                    .agg(
                        F.count("*").alias("n"),
                        *[
                            F.sum(F.col(vec_col).getItem(j).cast("double")).alias(f"s{j}")
                            for j in range(dim)
                        ],
                    )
                    .collect()
                )
                new = cents.copy()  # empty clusters keep their previous centroid
                for r in sums:
                    new[r["cluster"]] = [r[f"s{j}"] / r["n"] for j in range(dim)]
                shift = float(np.sqrt(((new - cents) ** 2).sum(axis=1)).max())
                cents = new
                if shift < tol:
                    break
    finally:
        pinned.unpersist()
    return assign_clusters(df, vec_col, cents), cents, it


def kmeans_reference(
    ids: np.ndarray, X: np.ndarray, k: int, max_iters: int = 20, tol: float = 1e-6
) -> tuple[np.ndarray, np.ndarray, int]:
    """Pure-numpy twin of ``kmeans_lloyd`` (same init / update / stop
    rules) for differential tests: returns (assignments, centroids,
    iters). Kept here so the contract and its reference evolve
    together."""
    order = np.argsort(ids, kind="stable")
    cents = X[order[:k]].astype(np.float64).copy()
    it = 0
    for it in range(1, max_iters + 1):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        lab = d2.argmin(axis=1)
        new = cents.copy()
        for c in range(k):
            m = lab == c
            if m.any():
                new[c] = X[m].mean(axis=0)
        shift = float(np.sqrt(((new - cents) ** 2).sum(axis=1)).max())
        cents = new
        if shift < tol:
            break
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    return d2.argmin(axis=1), cents, it
