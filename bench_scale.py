#!/usr/bin/env python
"""Scale-probe harness: the synthetic stress probes that caught both
round-6 scale-killers (exact-Jaccard candidate-mass cliff at a 100k-doc
zipf corpus; fixed-width LSH buckets at 205k vectors), made REPEATABLE
so corpus-tier regressions are caught mechanically instead of living in
SURVEY prose (round-6 verdict item 7).

Tiers (all data deterministic — no RNG state leaks across partitionings):
- corpus  : 100k zipf-skewed synthetic docs, 5% planted near-dups —
            MinHash-LSH vs exact n-gram Jaccard (must agree on planted
            pairs) and SimHash.
- vector  : 1M 64-d vectors around 16 centers — IVF ANN vs brute
            recall on the probe set, cell-partitioned layout scan-bytes
            at nprobe 1/4/16 (bytes must drop), hyperplane LSH near-dup
            recall at 205k vectors with planted dups.
- event   : 9M-row celebrity-key (89% on one user) as-of probe, plain
            vs bucket_seconds (checksums must match), and the 400k-row
            skewed budget_cap sharded-vs-window equivalence.

Prints ONE JSON line to stdout AND (because the driver JVM can write
GC warnings to stdout under memory pressure, which would corrupt a
shell redirect) to the file given as argv[1].
Run per round and commit the artifact:
    python bench_scale.py SCALE_r07.json
Every probe also carries a hard invariant (recall / agreement /
checksum equality); "ok": false in any probe means a functional
regression, not just a slow run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent))

N_DOCS = 100_000
N_VECS = 1_000_000
N_EVENTS = 9_000_000
RESULTS: dict[str, dict] = {}


def probe(name):
    def deco(fn):
        def run(*a, **kw):
            t0 = time.monotonic()
            out = fn(*a, **kw)
            out["seconds"] = round(time.monotonic() - t0, 2)
            RESULTS[name] = out
            shown = {k: v for k, v in out.items() if not k.startswith("_")}
            print(f"  {name}: {shown}", file=sys.stderr)

        return run

    return deco


# --- deterministic generators ----------------------------------------------


def gen_corpus(spark, n_docs=N_DOCS, planted_frac=0.05, vocab=30_000, seed=7, a=1.0):
    """Zipf-head corpus with planted near-exact duplicates, built
    driver-side with one seeded RandomState (same corpus every run,
    every partitioning) and parallelized for the operators.

    Tokens follow a RANK-frequency zipf over the whole vocab
    (P(rank k) ∝ k^-a, inverse-CDF sampled): with a=1 over 30k ranks
    the top word carries ~9% of mass — a natural-language head. (The
    first cut used np.random.zipf(1.3) mod vocab, which puts >70% of
    ALL tokens on a handful of ids; that is the documented
    candidate-mass CLIFF (dedup.py:177) itself, not an operating point
    a regression probe should sit on — exact Jaccard measured 568 s
    with 45% of pairs lost to the df-cap there.)"""
    rs = np.random.RandomState(seed)
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** a
    cdf = np.cumsum(w) / w.sum()
    zipf = np.searchsorted(cdf, rs.random_sample((n_docs, 120))) + 1
    lengths = rs.randint(20, 121, size=n_docs)
    docs = []
    for i in range(n_docs):
        toks = [f"w{t}" for t in zipf[i, : lengths[i]]]
        docs.append((i, " ".join(toks)))
    n_planted = int(n_docs * planted_frac)
    for j in range(n_planted):
        src = int(rs.randint(0, n_docs))
        toks = docs[src][1].split(" ")
        # one-token edit keeps Jaccard >= ~0.95 — well above threshold
        toks[int(rs.randint(0, len(toks)))] = f"w{int(rs.randint(0, vocab))}"
        docs.append((n_docs + j, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(64)
    df.persist()
    df.count()
    return df


def gen_vectors(spark, n=N_VECS, d=64, centers=16):
    """Distributed deterministic vectors: center = id % centers, noise
    from the GLSL-style fract(sin) hash — a pure function of (id, dim),
    so the dataset is identical under any partitioning with no RNG
    state to ship. ``centers=0`` drops the cluster structure (pure
    noise, pairwise cosine ~0) — the LSH near-dup probe needs that:
    on 16-cluster data same-cluster cosines sit ~0.83, hyperplane
    buckets collide at ~0.8^bits, and candidate mass explodes to tens
    of millions of pairs (measured: executor memory thrash) without a
    single true near-dup among them."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    rs = np.random.RandomState(11)
    if centers > 0:
        C = rs.normal(size=(centers, d))
        C /= np.linalg.norm(C, axis=1)[:, None]
    else:
        C = np.zeros((1, d))
    b = spark.sparkContext.broadcast(C)

    schema = T.StructType(
        [T.StructField("vec_id", T.LongType()), T.StructField("embedding", T.ArrayType(T.FloatType()))]
    )

    def make(batches):
        CC = b.value
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            base = CC[ids % max(centers, 1)]
            j = np.arange(d)[None, :]
            noise = np.sin(ids[:, None] * 12.9898 + j * 78.233) * 43758.5453
            noise = (noise - np.floor(noise) - 0.5) * 0.2
            vecs = (base + noise).astype(np.float32)
            yield pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    df = spark.range(n).repartition(64).mapInPandas(make, schema)
    return df


def gen_events(spark, n=N_EVENTS):
    """Celebrity-key event stream: 89% of rows on user 1, the rest
    spread over 15k users; timestamps span ~3 years."""
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .repartition(64)
        .select(
            F.col("id").alias("event_id"),
            F.when(F.pmod(F.xxhash64("id"), 100) < 89, F.lit(1))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(1)), 15_000) + 2)
            .alias("user_id"),
            F.timestamp_seconds(
                F.lit(1609459200) + F.pmod(F.xxhash64("id", F.lit(2)), 94_608_000)
            ).alias("ts"),
        )
    )


# --- corpus tier ------------------------------------------------------------


def _minhash_pairs(docs):
    """Shared by the two corpus probes: the MinHash pair set is both
    p_minhash's result and p_jaccard's comparison target, passed
    explicitly (not smuggled through RESULTS — ADVICE r07) so either
    probe can run alone or twice."""
    from etl_mini_spark.operators.dedup import near_dup_pairs_minhash_lsh

    pairs = near_dup_pairs_minhash_lsh(docs, "doc_id", "text", threshold=0.8)
    return {(r["d1"], r["d2"]) for r in pairs.collect()}


@probe("corpus_minhash_lsh")
def p_minhash(docs, out_pairs=None):
    got = _minhash_pairs(docs)
    if out_pairs is not None:
        out_pairs.update(got)
    return {"n_pairs": len(got), "ok": len(got) > 0}


@probe("corpus_ngram_jaccard")
def p_jaccard(docs, mh_pairs=None):
    from etl_mini_spark.operators.dedup import near_dup_pairs_ngram_jaccard

    pairs = near_dup_pairs_ngram_jaccard(docs, "doc_id", "text", threshold=0.8)
    got = {(r["d1"], r["d2"]) for r in pairs.collect()}
    mh = _minhash_pairs(docs) if mh_pairs is None else mh_pairs
    # MinHash (verified) and exact Jaccard must find the SAME pair set
    agree = len(got & mh)
    return {"n_pairs": len(got), "n_agree_minhash": agree, "ok": got == mh}


@probe("corpus_simhash")
def p_simhash(docs):
    from etl_mini_spark.operators.dedup import simhash_near_dup_pairs

    n = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).count()
    return {"n_pairs": n, "ok": n > 0}


# --- vector tier ------------------------------------------------------------


@probe("vector_ivf_recall")
def p_ivf(spark, vecs):
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    probes = vecs.filter(F.col("vec_id") % 100_000 == 17)  # 10 probes
    C = train_ivf_centroids(vecs, n_cells=16)
    ivf = cosine_topk_ivf(vecs, probes, k=5, nprobe=4, centroids=C)
    got = {(r["probe_id"], r["neighbor_id"]) for r in ivf.collect()}
    brute = cosine_topk_bruteforce(vecs, probes, k=5)
    want = {(r["probe_id"], r["neighbor_id"]) for r in brute.collect()}
    recall = len(got & want) / max(1, len(want))
    return {"recall_vs_brute": round(recall, 4), "ok": recall >= 0.95}


@probe("vector_pq_rerank")
def p_pq_rerank(spark):
    """Round-12 probe: PQ+ADC candidate generation with exact rerank
    in PQ's operating regime — planted near-duplicate retrieval. A 1M
    pure-noise corpus (pairwise cosine ~0) gets 5 planted twins per
    probe (noise 0.02, cosine ~0.998); the twins' PQ codes match their
    source's, so ADC must surface all 50 planted pairs and the exact
    rerank must return them: planted recall@5 >= 0.95. (On heavily
    clustered data with 62k-member clusters an 8x16 ADC cannot rank
    WITHIN a cluster — that regime belongs to IVF's exact cell scan,
    probed separately.)"""
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.similarity import cosine_topk_pq_rerank

    base = gen_vectors(spark, n=1_000_000, centers=0)
    probes = base.filter(F.col("vec_id") % 100_000 == 17)  # 10 probes
    pvecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
             for r in probes.collect()}
    rs = np.random.RandomState(5)
    twin_rows = []
    want = set()
    tid = 1_000_000
    for pid in sorted(pvecs):
        for _ in range(5):
            tv = pvecs[pid] + 0.02 * rs.randn(len(pvecs[pid]))
            twin_rows.append((tid, [float(x) for x in tv]))
            want.add((pid, tid))
            tid += 1
    twins = spark.createDataFrame(
        pd.DataFrame(twin_rows, columns=["vec_id", "embedding"])
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    corpus = base.unionByName(twins)
    pq = cosine_topk_pq_rerank(corpus, probes, k=5, m=8, n_codes=16, rerank=10)
    got = {(r["probe_id"], r["neighbor_id"]) for r in pq.collect()}
    recall = len(got & want) / len(want)
    return {"planted_recall": round(recall, 4), "ok": recall >= 0.95}


@probe("vector_ivf_tie_determinism")
def p_ivf_ties(spark):
    """Round-12 probe: the IVF per-cell cut's tie discipline (stable
    (sim DESC, id ASC) double-argsort, round-12 fix) must make results
    identical across partitionings on a corpus where every similarity
    ties — 200k vectors that are exact copies of 64 distinct ones."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.similarity import cosine_topk_ivf, train_ivf_centroids

    rs = np.random.RandomState(3)
    base = rs.randn(64, 64)
    base /= np.linalg.norm(base, axis=1)[:, None]
    n = 200_000
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64),
         "embedding": [base[i % 64].tolist() for i in range(n)]}
    )
    cdf = spark.createDataFrame(pdf)
    probes = cdf.filter(F.col("vec_id") < 8)
    cents = train_ivf_centroids(cdf, n_cells=16)
    outs = []
    for parts in (8, 64):
        got = cosine_topk_ivf(
            cdf.repartition(parts), probes, k=5, nprobe=4, n_cells=16, centroids=cents
        )
        outs.append(sorted(map(tuple, got.collect())))
    return {"n_rows": len(outs[0]), "ok": outs[0] == outs[1] and len(outs[0]) > 0}


@probe("vector_ivf_partitioned_scan")
def p_ivf_layout(spark, vecs, tmpdir):
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.similarity import (
        cosine_topk_ivf_partitioned,
        write_ivf_partitioned,
    )
    from etl_mini_spark.plans.explain import scan_read_metrics

    layout = str(Path(tmpdir) / "ivf_layout_probe")
    C = write_ivf_partitioned(vecs, layout, n_cells=16)
    probes = spark.read.parquet(layout).filter(F.col("vec_id") % 100_000 == 17).drop("cell")
    bytes_at = {}
    for nprobe in (1, 4, 16):
        df = cosine_topk_ivf_partitioned(spark, layout, probes, C, k=5, nprobe=nprobe)
        bytes_at[nprobe] = scan_read_metrics(df)["filesSize"]
    return {
        "scan_bytes": {str(k): v for k, v in bytes_at.items()},
        "ok": bytes_at[1] < bytes_at[4] < bytes_at[16],
    }


@probe("vector_lsh_near_dups")
def p_lsh(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl_mini_spark.operators.similarity import embedding_near_dup_pairs_lsh

    base = gen_vectors(spark, n=200_000, centers=0)
    n_planted = 5000

    # planted dups: tiny deterministic perturbation of the first 5k
    schema = T.StructType(
        [T.StructField("vec_id", T.LongType()), T.StructField("embedding", T.ArrayType(T.FloatType()))]
    )

    def perturb(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mat = np.asarray(pdf["embedding"].to_list(), dtype=np.float32)
            mat = mat + 0.001
            yield pd.DataFrame({"vec_id": ids + 1_000_000, "embedding": list(mat)})

    dups = base.filter(F.col("vec_id") < n_planted).mapInPandas(perturb, schema)
    corpus = base.unionByName(dups)
    pairs = embedding_near_dup_pairs_lsh(corpus, threshold=0.99)
    got = {(r["id1"], r["id2"]) for r in pairs.collect()}
    hit = sum((i, i + 1_000_000) in got or (i + 1_000_000, i) in got for i in range(n_planted))
    recall = hit / n_planted
    return {"n_pairs": len(got), "planted_recall": round(recall, 4), "ok": recall >= 0.99}


# --- event tier -------------------------------------------------------------


@probe("geo_grid_radius")
def p_geo_grid(spark):
    """Grid-cell radius self-join at 10M points (the round-14 geo
    blocking design): points spread over a 100x100-degree area, radius
    0.01 degrees, 1000 planted near-pairs (clones offset by r/2).
    Candidates come ONLY from the 3x3 cell neighborhood equi join —
    the invariant is every planted pair recovered AND candidate mass
    orders below the 5e13 all-pairs count."""
    from pyspark.sql import functions as F

    n = 10_000_000
    r = 0.01
    base = spark.range(n).select(
        F.col("id"),
        (F.expr("(id * 48271 % 65537) / CAST(65537 AS DOUBLE)") * 100.0).alias("lat"),
        (F.expr("(id * 25253 % 65521) / CAST(65521 AS DOUBLE)") * 100.0).alias("lon"),
    )
    planted = spark.range(1000).select(
        (F.col("id") + n).alias("id"),
        (F.expr("(id * 48271 % 65537) / CAST(65537 AS DOUBLE)") * 100.0 + r / 2).alias("lat"),
        (F.expr("(id * 25253 % 65521) / CAST(65521 AS DOUBLE)") * 100.0).alias("lon"),
    )
    pt = base.unionByName(planted)
    cell = lambda c: F.floor(c / r).cast("long")  # noqa: E731
    home = pt.select("id", "lat", "lon", cell(F.col("lat")).alias("cx"), cell(F.col("lon")).alias("cy"))
    off = spark.range(-1, 2).select(F.col("id").alias("dx")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("dy"))
    )
    exp = home.crossJoin(F.broadcast(off)).select(
        F.col("id").alias("ia"), F.col("lat").alias("la"), F.col("lon").alias("lo"),
        (F.col("cx") + F.col("dx")).alias("cx"), (F.col("cy") + F.col("dy")).alias("cy"),
    )
    cand = exp.join(home, ["cx", "cy"]).filter(F.col("ia") < F.col("id"))
    n_cand = cand.count()
    dlat = F.col("la") - F.col("lat")
    dlon = F.col("lo") - F.col("lon")
    pairs = cand.filter(dlat * dlat + dlon * dlon <= r * r).select("ia", "id")
    n_pairs = pairs.count()
    found = (
        pairs.filter((F.col("id") >= n) & (F.col("ia") == F.col("id") - n)).count()
        + pairs.filter((F.col("ia") >= n) & (F.col("id") == F.col("ia") - n)).count()
    )
    quadratic = (n + 1000) * (n + 999) // 2
    return {
        "n_points": n + 1000,
        "n_candidates": n_cand,
        "n_pairs": n_pairs,
        "planted_found": found,
        "candidate_ratio": round(n_cand / quadratic, 10),
        "ok": bool(found == 1000 and n_cand * 1000 < quadratic),
    }


@probe("graph_hits_5m_edges")
def p_hits_scale(spark):
    """HITS at 5M edges (the engine's operators/graph.hits): a skewed
    bipartite graph (50k hubs quadratically skewed, 200k authorities),
    4 iterations of BIGINT-nano state with one controlled float op per
    L1 normalization, each half-step a pinned superstep. Invariants:
    both final L1 masses within n nanos of 1e9 (each score carries at
    most 0.5 nano of HALF_UP rounding), and the top hub strictly
    dominates (the skew must surface)."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.graph import hits
    from etl_mini_spark.session import pin

    n = 5_000_000
    edges = pin(
        spark.range(n)
        .select(
            F.expr("CAST(floor(50000 * pow((id * 48271 % 65537) / 65537.0, 2)) AS BIGINT)")
            .alias("s"),
            (F.col("id") % 200_000).alias("p"),
        )
        .distinct()
    )
    n_edges = edges.count()
    h, a = hits(edges, 4)
    n_hub = h.count()
    n_auth = a.count()
    sum_h = h.agg(F.sum("hs")).collect()[0][0]
    sum_a = a.agg(F.sum("asc_")).collect()[0][0]
    top2 = [r["hs"] for r in h.orderBy(F.desc("hs"), "s").limit(2).collect()]
    ok = (
        abs(sum_h - 10**9) <= n_hub
        and abs(sum_a - 10**9) <= n_auth
        and len(top2) == 2 and top2[0] > top2[1]
    )
    return {
        "n_edges": n_edges, "n_hubs": n_hub, "n_authorities": n_auth,
        "l1_hub_nanos": int(sum_h), "l1_auth_nanos": int(sum_a),
        "top_hub_nanos": int(top2[0]),
        "ok": bool(ok),
    }


@probe("kmv_sketch_10m")
def p_kmv_scale(spark):
    """KMV distinct sketch at 10M exact-distinct keys, k=1024: the
    k smallest hashes come from orderBy().limit(k) — compiled to
    TakeOrderedAndProject (per-partition top-k + driver merge), never
    a global sort or single-partition window. Expected relative error
    ~1/sqrt(k) = 3.1%; the invariant is a 4-sigma band (12.5%) plus
    the plan shape check."""
    from pyspark.sql import functions as F

    n = 10_000_000
    k = 1024
    h = spark.range(n).select(
        F.conv(F.substring(F.md5(F.concat(F.col("id").cast("string"), F.lit(":kmvs"))), 1, 15),
               16, 10).cast("long").alias("hv")
    )
    plan = h.orderBy("hv").limit(k)._jdf.queryExecution().executedPlan().toString()
    topk = h.orderBy("hv").limit(k).agg(F.max("hv").alias("hk")).collect()[0]
    est = (k - 1) * 1152921504606846976 / topk["hk"]
    rel = abs(est - n) / n
    return {
        "n_exact": n, "k": k, "estimate": round(est, 1),
        "rel_err": round(rel, 5),
        "take_ordered": bool("TakeOrderedAndProject" in plan),
        "ok": bool(rel < 0.125 and "TakeOrderedAndProject" in plan),
    }


@probe("event_asof_celebrity")
def p_asof(spark, events):
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.joins import asof_join

    right = spark.range(20_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.pmod(F.xxhash64("id"), 15_000) + 2).alias("user_id"),
        F.timestamp_seconds(F.lit(1609459200) + F.pmod(F.xxhash64("id", F.lit(3)), 94_608_000)).alias("rt"),
        F.col("id").alias("rid"),
    )
    kwargs = dict(on=["user_id"], left_time="ts", right_time="rt", right_cols=["rid"], tiebreak="rid")

    def checksum(df):
        # bit_xor: order-independent and overflow-free (ANSI mode raises
        # on a 9M-row SUM of int64 hashes)
        return df.agg(
            F.bit_xor(F.xxhash64("event_id", "rid")).alias("c"), F.count("*").alias("n")
        ).collect()[0]

    t0 = time.monotonic()
    plain = checksum(asof_join(events, right, **kwargs))
    t_plain = time.monotonic() - t0
    t0 = time.monotonic()
    bucketed = checksum(asof_join(events, right, bucket_seconds=14 * 86400, **kwargs))
    t_bucketed = time.monotonic() - t0
    return {
        "plain_seconds": round(t_plain, 2),
        "bucketed_seconds": round(t_bucketed, 2),
        "rows": plain["n"],
        "ok": (plain["c"], plain["n"]) == (bucketed["c"], bucketed["n"]),
    }


@probe("event_budget_cap_skew")
def p_budget(spark):
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.sampling import budget_cap

    df = spark.range(400_000).select(
        F.when(F.pmod(F.xxhash64("id"), 10) < 8, F.lit("hot")).otherwise(
            F.concat(F.lit("g"), F.pmod(F.xxhash64("id", F.lit(1)), 50).cast("string"))
        ).alias("grp"),
        F.col("id").alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(2)), 23) + 1).alias("wt"),
    )
    df.persist()
    df.count()

    def checksum(sharded):
        out = budget_cap(df, ["grp"], "wt", 500_000, "k", sharded=sharded)
        return tuple(
            out.agg(F.bit_xor(F.xxhash64("grp", "k", "cum_weight")).alias("c"), F.count("*").alias("n"))
            .collect()[0]
        )

    t0 = time.monotonic()
    sharded = checksum(True)
    t_sharded = time.monotonic() - t0
    t0 = time.monotonic()
    naive = checksum(False)
    t_naive = time.monotonic() - t0
    df.unpersist()
    return {
        "sharded_seconds": round(t_sharded, 2),
        "window_seconds": round(t_naive, 2),
        "rows": sharded[1],
        "ok": sharded == naive,
    }


@probe("rank_quantile_buckets")
def p_rank_buckets(spark):
    """Round-12 probe: the quantile-derived bucket boundaries in
    value_midranks/exact_global_rank must (a) keep a heavy-tailed
    (log-normal-like) 10M-row value domain spread across buckets —
    linear min/max interpolation parks ~everything in bucket 0 on this
    shape — and (b) stay EXACT: the doubled-midrank rank-sum identity
    sum(t * r2) = n*(n+1) holds for any monotone bucketing, so it
    pins correctness at scale without a single-partition window
    comparison."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.ranks import quantile_buckets, value_midranks

    n = 10_000_000
    # deterministic heavy tail: exp of a hash-uniform scaled to [0, 14)
    # => values span ~6 decades with mass piled at the low end
    df = spark.range(n).select(
        F.exp(
            (F.conv(F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                               F.lit(":ht"))), 1, 15), 16, 10)
             .cast("double") % 1_000_000) / 1_000_000.0 * 14.0
        ).alias("v")
    )
    hv = df.groupBy("v").agg(F.count("*").cast("bigint").alias("t"))
    bucket, cuts = quantile_buckets(hv, "v", 32)
    counts = [r["c"] for r in
              hv.withColumn("__b", bucket).groupBy("__b")
              .agg(F.count("*").alias("c")).collect()]
    total = sum(counts)
    max_frac = max(counts) / total
    rank_sum = value_midranks(df, "v").agg(
        F.sum(F.col("t") * F.col("r2"))
    ).collect()[0][0]
    n_rows = df.count()
    return {
        "n_rows": n_rows,
        "n_buckets": len(counts),
        "max_bucket_frac": round(max_frac, 4),
        "rank_sum_exact": bool(rank_sum == n_rows * (n_rows + 1)),
        "ok": max_frac <= 2 / 32 * 1.5 and rank_sum == n_rows * (n_rows + 1),
    }


@probe("token_heavy_hitters_mg")
def p_heavy_hitters(spark):
    """20M zipf-skewed tokens: the Misra-Gries sketch path (map-side
    64-counter summaries + candidates-only exact recount) must return
    the EXACT same heavy-hitter set and counts as the naive full
    token-shuffle GROUP BY — and do it without shuffling the stream."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.sketches import heavy_hitters_exact

    n = 20_000_000
    # zipf-ish: rank r with weight ~ 1/r over 50k token ids via inverse
    # CDF on a deterministic hash-uniform (u in (0,1])
    toks = spark.range(n).select(
        F.concat(
            F.lit("tok"),
            F.floor(
                F.exp(
                    (F.pmod(F.xxhash64("id"), 1_000_000) + 1) / 1_000_000.0 * 10.8198
                )
            ).cast("long").cast("string"),
        ).alias("t")
    )
    toks.persist()
    toks.count()
    t0 = time.monotonic()
    sketch = {
        (r["t"], r["freq"])
        for r in heavy_hitters_exact(toks, "t", denom=50, k=256).collect()
    }
    t_sketch = time.monotonic() - t0
    t0 = time.monotonic()
    total = toks.count()
    naive = {
        (r["t"], r["freq"])
        for r in toks.groupBy("t")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .filter(F.col("freq") * 50 > total)
        .collect()
    }
    t_naive = time.monotonic() - t0
    toks.unpersist()
    naive_cmp = naive
    return {
        "sketch_seconds": round(t_sketch, 2),
        "naive_seconds": round(t_naive, 2),
        "n_heavy": len(sketch),
        "ok": bool(sketch == naive_cmp and len(sketch) > 0),
    }


@probe("fuzzy_jaro_blocked")
def p_jaro_blocked(spark):
    """100k-name blocked fuzzy-match probe for the Jaro path: names
    are 5-word strings over a small vocabulary with (brand, size)
    block keys; 1% get a planted single-character-edit twin IN THE
    SAME BLOCK (jaro >= ~0.95 by construction, far above the 0.8
    threshold). The scored candidate set is the blocked pair join
    (sum of C(block,2)), never all-pairs — the invariant is (a)
    candidate mass is orders of magnitude below n^2/2 and (b) every
    planted twin survives the blocked path end to end (recall 1.0):
    a miss could only mean blocking dropped a same-block pair or the
    kernel disagreed with itself, never threshold noise."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.text import jaro

    n = 100_000
    vocab = np.array(
        ["almond", "azure", "blush", "cream", "coral", "drab", "forest",
         "ghost", "honey", "indigo", "ivory", "lace", "lemon", "linen",
         "maroon", "midnight", "mint", "navy", "olive", "orchid", "peach",
         "pearl", "plum", "powder", "puff", "rose", "saddle", "salmon",
         "sandy", "sienna", "sky", "slate", "smoke", "snow", "spring",
         "steel", "tan", "thistle", "tomato", "wheat"]
    )
    rs = np.random.RandomState(11)
    words = vocab[rs.randint(0, len(vocab), size=(n, 5))]
    names = [" ".join(w) for w in words]
    brands = rs.randint(0, 25, size=n)
    sizes = rs.randint(0, 200, size=n)
    rows = [
        (i, f"b{brands[i]}", int(sizes[i]), names[i]) for i in range(n)
    ]
    # planted twins: 1% of names get a same-block sibling with ONE
    # character substituted — the near-exact fuzzy-dup class the
    # blocked Jaro pass must catch with recall 1.0
    planted = []
    want = set()
    for j, i in enumerate(rs.choice(n, n // 100, replace=False)):
        nm = list(names[i])
        pos = rs.randint(0, len(nm))
        nm[pos] = "x" if nm[pos] != "x" else "z"
        planted.append((n + j, f"b{brands[i]}", int(sizes[i]), "".join(nm)))
        want.add((int(i), n + j))
    df = spark.createDataFrame(
        rows + planted, "key long, brand string, size int, name string"
    ).repartition(64)
    a = df.select(
        "brand", "size", F.col("key").alias("a_key"), F.col("name").alias("a_name")
    )
    b = df.select(
        "brand", "size", F.col("key").alias("b_key"), F.col("name").alias("b_name")
    )
    pairs = a.join(b, ["brand", "size"]).filter(F.col("a_key") < F.col("b_key"))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "a_key": pdf["a_key"],
                    "b_key": pdf["b_key"],
                    "jaro": [jaro(x, y) for x, y in zip(pdf["a_name"], pdf["b_name"])],
                }
            )

    scored = pairs.select("a_key", "b_key", "a_name", "b_name").mapInPandas(
        score, schema="a_key long, b_key long, jaro double"
    )
    j6 = F.floor(F.col("jaro") * 1_000_000 + F.lit(0.5)) / 1_000_000
    hits = scored.select("a_key", "b_key", j6.alias("j6")).filter(F.col("j6") >= 0.8)
    got = {(r["a_key"], r["b_key"]) for r in hits.collect()}
    n_cand = pairs.count()
    quadratic = n * (n + n // 100 - 1) // 2
    found = want & got
    return {
        "n_names": n + n // 100,
        "n_blocked_pairs": int(n_cand),
        "quadratic_pairs": quadratic,
        "candidate_ratio": round(n_cand / quadratic, 6),
        "n_planted": len(want),
        "n_planted_found": len(found),
        "ok": bool(found == want and n_cand * 100 < quadratic),
    }


@probe("damerau_blocked_100k")
def p_damerau_blocked(spark):
    """100k-word vocabulary probe for the blocked exact-DL path (r15
    advice: show WHERE the length-±1 blocked-pair mass stops fitting
    at |V| ~1e5-1e6). English-like word-length histogram (peak at
    7-8 chars), so the mass concentrates in the dominant buckets:

    - the EXACT blocked mass is computed analytically from the
      histogram (what the registered query's preflight does with one
      ~20-row aggregate) at 100k and extrapolated to 1M words — the
      probe asserts the 100k mass already exceeds the preflight
      ceiling _DL_MAX_PAIRS, i.e. the registered raise-with-swap-rule
      fires exactly where this probe shows exact scoring stops fitting;
    - the rare-length stratum (3-4 chars, ~2e6 blocked pairs) runs the
      REAL pipeline end to end — same equi block join on the length
      key, same full_damerau_levenshtein Arrow kernel — with planted
      twins covering all edit classes the ±1 blocking must keep
      (substitution, unrestricted transposition, cross-length insert):
      recall must be 1.0, and the measured pair throughput extrapolates
      the full-mass wall-clock the preflight is protecting against."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.text import full_damerau_levenshtein as dl
    from etl_mini_spark.queries.round16_ops import _DL_MAX_PAIRS

    # English-like length histogram over 100k distinct words
    HIST = {3: 500, 4: 1_500, 5: 5_000, 6: 12_000, 7: 18_000, 8: 18_000,
            9: 15_000, 10: 12_000, 11: 8_000, 12: 6_000, 13: 4_000}
    n_vocab = sum(HIST.values())
    assert n_vocab == 100_000

    def blocked_mass(hist):
        return sum(n * (n - 1) // 2 for n in hist.values()) + sum(
            hist[l] * hist.get(l + 1, 0) for l in hist
        )

    mass_100k = blocked_mass(HIST)
    mass_1m = blocked_mass({l: 10 * n for l, n in HIST.items()})

    rs = np.random.RandomState(23)
    alpha = np.array(list("abcdefghijklmnopqrstuvwxyz"))

    def words_of(l, n):
        if 26 ** l < 10_000_000:
            codes = rs.choice(26 ** l, size=n, replace=False)
        else:
            codes = np.unique(rs.randint(0, 26 ** l, size=int(n * 1.05)))[:n]
            assert len(codes) == n
        out = []
        for c in codes:
            c = int(c)
            w = ""
            for _ in range(l):
                w = alpha[c % 26] + w
                c //= 26
            out.append(w)
        return out

    vocab3, vocab4 = words_of(3, HIST[3]), words_of(4, HIST[4])
    seen = set(vocab3) | set(vocab4)

    def fresh(base_edit):
        """Retry an edit closure until the result is a new word."""
        for _ in range(64):
            w = base_edit()
            if w is not None and w not in seen:
                seen.add(w)
                return w
        raise AssertionError("could not plant a collision-free twin")

    planted, twins = set(), []
    picks = rs.choice(HIST[3], 200, replace=False)
    for i in picks[:100]:  # substitution (dl=1, same block)
        w = vocab3[i]

        def sub(w=w):
            p = rs.randint(0, 3)
            c = alpha[rs.randint(0, 26)]
            return None if w[p] == c else w[:p] + c + w[p + 1:]

        t = fresh(sub)
        twins.append(t)
        planted.add((min(w, t), max(w, t)))
    for i in picks[100:150]:  # adjacent transposition (dl=1)
        w = vocab3[i]

        def swap(w=w):
            p = rs.randint(0, 2)
            if w[p] == w[p + 1]:
                return None
            return w[:p] + w[p + 1] + w[p] + w[p + 2:]

        t = fresh(swap)
        twins.append(t)
        planted.add((min(w, t), max(w, t)))
    for i in picks[150:]:  # insert 3 -> 4 (dl=1, the ±1 cross block)
        w = vocab3[i]

        def ins(w=w):
            p = rs.randint(0, 4)
            return w[:p] + alpha[rs.randint(0, 26)] + w[p:]

        t = fresh(ins)
        twins.append(t)
        planted.add((min(w, t), max(w, t)))

    stratum = vocab3 + vocab4 + twins
    df = spark.createDataFrame([(w,) for w in stratum], "w string").repartition(32)
    a = df.select(F.col("w").alias("w1"), F.length("w").alias("l1"))
    b = df.select(
        F.col("w").alias("w2"),
        F.explode(
            F.array(F.length("w") - 1, F.length("w"), F.length("w") + 1)
        ).alias("bk"),
    )
    pairs = a.join(b, (F.col("l1") == F.col("bk")) & (F.col("w1") < F.col("w2")))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            yield pd.DataFrame(
                {
                    "w1": pdf["w1"],
                    "w2": pdf["w2"],
                    "dl": [dl(x, y) for x, y in zip(pdf["w1"], pdf["w2"])],
                }
            )

    t0 = time.monotonic()
    hits = (
        pairs.select("w1", "w2")
        .mapInPandas(score, schema="w1 string, w2 string, dl long")
        .filter(F.col("dl") <= 2)
        .collect()
    )
    score_s = time.monotonic() - t0
    got = {(r["w1"], r["w2"]) for r in hits}
    # analytic stratum mass (same formula the preflight runs)
    strat_hist: dict[int, int] = {}
    for w in stratum:
        strat_hist[len(w)] = strat_hist.get(len(w), 0) + 1
    n_scored = blocked_mass(strat_hist)
    rate = n_scored / max(score_s, 1e-9)
    found = planted & got
    return {
        "n_vocab": n_vocab,
        "mass_100k": int(mass_100k),
        "mass_1m": int(mass_1m),
        "preflight_ceiling": int(_DL_MAX_PAIRS),
        "preflight_trips_at_100k": bool(mass_100k > _DL_MAX_PAIRS),
        "stratum_words": len(stratum),
        "stratum_pairs": int(n_scored),
        "pairs_per_sec": int(rate),
        "est_hours_100k": round(mass_100k / rate / 3600, 2),
        "est_hours_1m": round(mass_1m / rate / 3600, 2),
        "n_planted": len(planted),
        "n_planted_found": len(found),
        "ok": bool(
            found == planted
            and mass_100k > _DL_MAX_PAIRS
            and mass_1m > 50 * mass_100k
        ),
    }


@probe("avro_2m_roundtrip")
def p_avro_scale(spark, tmpdir):
    """2M-row distributed Avro probe for the pure-stdlib codec: 32
    foreachPartition container writers (deflate) and the binaryFile +
    mapInPandas re-read, with an EXACT aggregate checksum equality
    invariant (count, BIGINT cent-sum, BIGINT sum of per-row
    micros mod 1e9+7) —
    the same parity discipline as the registered avro_roundtrip entry,
    at ~25x the sf0.1 row count. Reports both directions' throughput
    so a codec regression shows up as MB/s, not anecdote; at 100 TB
    both legs parallelize by file count (one container per
    partition)."""
    from pyspark.sql import functions as F

    from etl_mini_spark.sources.avro_io import read_avro, write_avro

    n = 2_000_000
    df = (
        spark.range(n).repartition(32)
        .withColumn("price", (F.col("id") % 99_991) / F.lit(100.0))
        .withColumn("ts", F.timestamp_micros(F.col("id") * 1_000_003))
        .withColumn("name", F.concat(F.lit("ord_"), F.conv(F.col("id"), 10, 16)))
    )

    def checksum(frame):
        r = frame.agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("price") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
            F.sum(F.unix_micros("ts") % 1_000_000_007).alias("us_mod"),
            F.sum(F.length("name")).alias("name_len"),
        ).collect()[0]
        return tuple(r)

    want = checksum(df)
    out = str(Path(tmpdir) / "avro_2m")
    t0 = time.monotonic()
    # the probe's signal is STDLIB-codec throughput — pin the backend
    # so a jar-equipped cluster doesn't silently measure the JVM source
    write_avro(df, out, codec="deflate", backend="stdlib")
    w_s = time.monotonic() - t0
    files = list(Path(out).glob("*.avro"))
    total_mb = sum(f.stat().st_size for f in files) / 1e6
    t0 = time.monotonic()
    got = checksum(read_avro(spark, out, backend="stdlib"))
    r_s = time.monotonic() - t0
    return {
        "n_rows": n,
        "n_files": len(files),
        "file_mb": round(total_mb, 1),
        "write_s": round(w_s, 2),
        "read_s": round(r_s, 2),
        "write_mb_s": round(total_mb / w_s, 1),
        "read_mb_s": round(total_mb / r_s, 1),
        "checksum_equal": bool(got == want),
        "ok": bool(got == want and len(files) == 32),
    }


@probe("event_incremental_agg")
def p_incremental(spark, tmpdir):
    """9M-row incremental-maintenance probe: a persisted daily
    aggregate table plus a 10% delta batch must be MERGEABLE
    (union → re-agg) into exactly the aggregate a full-history rescan
    produces — the foreachBatch/incremental_agg_merge shape. At 100 TB
    the full rescan is the thing you can never afford; the incremental
    path's cost is bounded by |delta| + |agg table| (days), not
    |history|. Invariant: per-day BIGINT sums identical."""
    from pyspark.sql import functions as F

    hist_raw = str(Path(tmpdir) / "raw_hist")
    delta_raw = str(Path(tmpdir) / "raw_delta")
    hist_agg_path = str(Path(tmpdir) / "hist_agg")
    ev = gen_events(spark).withColumn(
        "v_c", F.pmod(F.xxhash64("event_id", F.lit(3)), 33_000)
    )
    n = ev.count()
    cut = int(n * 0.9)
    day_agg = lambda df: (  # noqa: E731
        df.groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum("v_c").cast("bigint").alias("s"), F.count("*").cast("bigint").alias("c"))
    )
    # materialize the store the way a pipeline sees it: raw history and
    # the new delta batch on disk, plus the maintained agg table (the
    # one-time layout cost is not part of either timed path)
    ev.filter(F.col("event_id") < cut).write.mode("overwrite").parquet(hist_raw)
    ev.filter(F.col("event_id") >= cut).write.mode("overwrite").parquet(delta_raw)
    day_agg(spark.read.parquet(hist_raw)).write.mode("overwrite").parquet(hist_agg_path)

    # full-rescan path: read ALL raw bytes (history + delta), re-agg
    t0 = time.monotonic()
    full = {
        r["d"]: (r["s"], r["c"])
        for r in day_agg(
            spark.read.parquet(hist_raw).unionAll(spark.read.parquet(delta_raw))
        ).collect()
    }
    t_full = time.monotonic() - t0

    # incremental path: read the agg table (|days| rows) + the delta
    # batch only, merge by union -> re-agg
    t0 = time.monotonic()
    inc = {
        r["d"]: (r["s"], r["c"])
        for r in spark.read.parquet(hist_agg_path)
        .unionAll(day_agg(spark.read.parquet(delta_raw)))
        .groupBy("d")
        .agg(F.sum("s").cast("bigint").alias("s"), F.sum("c").cast("bigint").alias("c"))
        .collect()
    }
    t_inc = time.monotonic() - t0
    return {
        "full_seconds": round(t_full, 2),
        "incremental_seconds": round(t_inc, 2),
        "n_days": len(full),
        "ok": bool(inc == full and len(full) > 1000),
    }


@probe("bfs_frontier_1m_nodes")
def p_bfs_scale(spark):
    """Frontier BFS (the engine's operators/graph.bfs_circulant, which
    graph_bfs_circulant runs: arithmetic neighbor expansion, anti-join
    vs the previous two levels, one pinned superstep per level) at 1M
    nodes. At this node count the registered query's FIXED offset set
    would need ~n/162 supersteps — the scale rule is offsets that grow
    with n: powers of 3 up to n/2 give ternary reachability and an
    O(log3 n) diameter. Invariants: every node reached exactly once
    (conservation), superstep count within the log bound."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.graph import bfs_circulant

    n = 1_000_000
    offs = []
    o = 1
    while o < n // 2:
        offs.append(o)
        o *= 3
    r = bfs_circulant(n, offs).agg(F.count("*").alias("n"), F.max("d").alias("d")).first()
    total, d = r["n"], r["d"]
    log_bound = 2 * len(offs) + 4
    return {
        "n_nodes": n,
        "n_offsets": len(offs),
        "supersteps": d,
        "reached": total,
        "ok": bool(total == n and d <= log_bound),
    }


@probe("eviction_asof_9m_events")
def p_eviction_scale(spark, events):
    """Round-16 stream_eviction_twin at 9M events / ~1M sessions /
    ~105k triggers: sessionize (30-min gap), watermark step table
    (15-min triggers, 10-min delay), day-bucketed union-sort as-of.
    Invariant (closed form): a session is evicted iff its threshold is
    strictly below the FINAL watermark — so sum(n_evicted) must equal
    that count exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.joins import asof_join

    ev = events.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("t"),
        (F.unix_micros("ts") / F.lit(900000000)).cast("bigint").alias("trig"),
    )
    trigmax = ev.groupBy("trig").agg(F.max("t").alias("mx"))
    wm = trigmax.select(
        "trig",
        (F.max("mx").over(Window.orderBy("trig").rowsBetween(Window.unboundedPreceding, 0))
         - 600000000).alias("wm"),
    )
    strict = (
        wm.withColumn("prev", F.lag("wm").over(Window.orderBy("trig")))
        .filter(F.col("prev").isNull() | (F.col("wm") > F.col("prev")))
        .withColumn("j", F.row_number().over(Window.orderBy("trig")))
        .select("trig", "wm", "j")
    )
    wu = Window.partitionBy("user_id").orderBy("t", "event_id")
    sessions = (
        ev.withColumn(
            "brk", F.when(F.col("t") - F.lag("t").over(wu) > 1800000000, 1).otherwise(0))
        .withColumn("s", F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "s")
        .agg((F.max("t") + 1800000000).alias("thr_us"))
        .withColumn("k", F.lit(1))
        .withColumn("thr_ts", F.timestamp_micros(F.col("thr_us")))
    ).localCheckpoint(eager=True)
    probe_t = strict.withColumn("k", F.lit(1)).withColumn(
        "wm_ts", F.timestamp_micros(F.col("wm")))
    hit = asof_join(
        sessions, probe_t.select("k", "wm_ts", "j"),
        on=["k"], left_time="thr_ts", right_time="wm_ts",
        right_cols=["j"], tiebreak="j", bucket_seconds=86400,
    )
    nx = strict.select(F.col("j").alias("jn"), F.col("trig").alias("evict_trig"))
    evicted = (
        hit.withColumn("jn", F.coalesce(F.col("j"), F.lit(0)) + 1)
        .join(F.broadcast(nx), "jn")
        .count()
    )
    wm_max = strict.agg(F.max("wm")).collect()[0][0]
    expect = sessions.filter(F.col("thr_us") < wm_max).count()
    n_sessions = sessions.count()
    return {
        "n_sessions": n_sessions,
        "n_triggers": strict.count(),
        "evicted": evicted,
        "expected_closed_form": expect,
        "ok": bool(evicted == expect and 0 < evicted <= n_sessions),
    }


@probe("setjoin_bitmask")
def p_setjoin_bitmask(spark):
    """Bitmask route of setjoin_prefix_filter at 200k docs (the
    round-15 auto-routing): a df-FLAT 60-token vocabulary with 2,000
    distinct token sets (boilerplate templates, 100 docs each; odd
    templates are one-token variants of their even neighbor, J=19/21).
    The EXACT expected doc-pair count comes from an independent numpy
    bitset reference over the 2,000 templates (4M popcount pairs) —
    the Spark output must equal it, proving the distinct-mask pair
    join + equi-key expansion lose and invent nothing at 40x the sf0.1
    corpus. 100 TB story exercised for real: the pair join touches
    only the 2,000-row distinct-mask table; the 200k-doc expansion is
    keyed equi joins sized by the output."""
    from pyspark.sql import functions as F

    from etl_mini_spark.queries.round7_ops import _setjoin_bitmask

    V, T, N = 60, 2000, 200_000
    rs = np.random.RandomState(23)
    masks = []
    for _t in range(T // 2):
        sel = rs.choice(V, 20, replace=False)
        m = 0
        for b in sel:
            m |= 1 << int(b)
        masks.append(m)
        out_b = int(sel[0])
        in_b = int(rs.choice(np.setdiff1d(np.arange(V), sel)))
        masks.append((m & ~(1 << out_b)) | (1 << in_b))
    # numpy reference: qualifying template pairs by exact popcounts
    B = np.zeros((T, V), dtype=np.int64)
    for i, m in enumerate(masks):
        for b in range(V):
            if m >> b & 1:
                B[i, b] = 1
    isect = B @ B.T
    sz = B.sum(1)
    un = sz[:, None] + sz[None, :] - isect
    qual = 5 * isect >= 3 * un
    iu = np.triu_indices(T, k=1)
    per = N // T  # doc_id % T assignment -> exactly 100 docs/template
    # distinct-template qualifying pairs + all same-template pairs (J=1)
    expected = int(qual[iu].sum()) * per * per + T * (per * (per - 1) // 2)
    n_qual_tpl = int(qual[iu].sum())

    vocab = [f"flt{j:03d}" for j in range(V)]
    tpl_rows = [
        (t, vocab[b]) for t, m in enumerate(masks) for b in range(V) if m >> b & 1
    ]
    tpl = spark.createDataFrame(tpl_rows, ["tid", "tok"])
    tok = (
        spark.range(N)
        .select(F.col("id").alias("doc_id"), (F.col("id") % T).alias("tid"))
        .join(F.broadcast(tpl), "tid")
        .select("doc_id", "tok")
    )
    got = _setjoin_bitmask(spark, tok, vocab).count()
    return {
        "n_docs": N,
        "n_templates": T,
        "qual_template_pairs": n_qual_tpl,
        "pairs_spark": got,
        "pairs_expected": expected,
        "ok": bool(got == expected and n_qual_tpl >= T // 2),
    }




def main() -> None:
    import tempfile

    from etl_mini_spark.session import get_spark

    spark = get_spark("etl-mini-spark-scale-probe")
    t0 = time.monotonic()

    print("generating corpus...", file=sys.stderr)
    docs = gen_corpus(spark)
    mh_pairs: set = set()
    p_minhash(docs, out_pairs=mh_pairs)
    p_jaccard(docs, mh_pairs=mh_pairs)
    p_simhash(docs)
    docs.unpersist()

    print("generating vectors...", file=sys.stderr)
    vecs = gen_vectors(spark)
    vecs.persist()
    vecs.count()
    p_ivf(spark, vecs)
    with tempfile.TemporaryDirectory() as tmpdir:
        p_ivf_layout(spark, vecs, tmpdir)
        vecs.unpersist()
        p_ivf_ties(spark)
        p_pq_rerank(spark)
        p_lsh(spark)

        print("generating names...", file=sys.stderr)
        p_jaro_blocked(spark)
        print("blocked damerau vocabulary...", file=sys.stderr)
        p_damerau_blocked(spark)
        print("avro 2M roundtrip...", file=sys.stderr)
        p_avro_scale(spark, tmpdir)

        print("generating points...", file=sys.stderr)
        p_geo_grid(spark)

        print("generating graph + kmv stream...", file=sys.stderr)
        p_hits_scale(spark)
        p_kmv_scale(spark)
        print("bfs frontier sweep...", file=sys.stderr)
        p_bfs_scale(spark)

        print("generating events...", file=sys.stderr)
        ev9 = gen_events(spark)
        p_asof(spark, ev9)
        p_eviction_scale(spark, ev9)
        p_budget(spark)
        p_incremental(spark, tmpdir)
        print("generating tokens...", file=sys.stderr)
        p_heavy_hitters(spark)
        print("ranking values...", file=sys.stderr)
        p_rank_buckets(spark)
        print("bitmask setjoin...", file=sys.stderr)
        p_setjoin_bitmask(spark)

    total = round(time.monotonic() - t0, 2)
    payload = json.dumps(
        {
            "metric": "scale_probe_wallclock",
            "value": total,
            "unit": "sec",
            "probes": RESULTS,
            "n_docs": N_DOCS,
            "n_vecs": N_VECS,
            "n_events": N_EVENTS,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
            "all_ok": all(p.get("ok") for p in RESULTS.values()),
        }
    )
    print(payload)
    if len(sys.argv) > 1:
        Path(sys.argv[1]).write_text(payload + "\n")


if __name__ == "__main__":
    main()
