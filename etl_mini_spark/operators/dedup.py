"""Deduplication operators.

- ``ordered_dedup`` — the reference's sort-then-keep-first dedup
  (reference: services/transformers/pandas_select_and_enrich.py:52-57),
  re-expressed as a window ``row_number``: pandas ``keep="first"`` after
  a stable sort ≡ rank-1 row per key under an explicit total order. The
  caller MUST supply a tie-breaking order (SURVEY.md §7.4) because Spark
  has no input-order notion.
- ``exact_dedup`` — hash dedup on normalized text.
- ``near_dup_pairs_ngram_jaccard`` — exact n-gram Jaccard via an
  inverted shingle index (explode + self-join on shingle), the scalable
  alternative to an O(n²) cross join.
- ``minhash_signatures`` / ``near_dup_pairs_minhash_lsh`` — deterministic
  MinHash + banded LSH. Hash family h_i(x) = (a_i·x + b_i) mod p over a
  base shingle hash derived from md5, so the whole pipeline is
  reproducible across engines and runs (no seed-dependent ml.feature
  state). At 100 TB this is the path: candidate generation touches only
  docs sharing a band bucket, never all pairs.
- ``simhash`` — 64-bit SimHash as a vectorized pandas UDF (bit-level
  majority vote has no efficient Catalyst expression).

All operators shuffle only on their natural keys (dedup keys, shingle,
band bucket); skewed shingle buckets are capped via ``max_bucket_size``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.operators.graph import iterate, observed_count
from etl_mini_spark.session import loop_confs, pin

# Deterministic MinHash parameters (public LSH construction; see
# Broder 1997 / Leskovec et al., "Mining of Massive Datasets" ch.3).
MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_A0, _B0 = 1103515245, 12345  # LCG constants (public domain, ANSI C)


def _order_cols(order_by) -> list[Column]:
    cols = []
    for spec in order_by:
        if isinstance(spec, Column):
            cols.append(spec)
        elif isinstance(spec, tuple):
            name, direction = spec
            cols.append(F.col(name).desc() if direction == "desc" else F.col(name).asc())
        else:
            cols.append(F.col(spec))
    return cols


def ordered_dedup(df: DataFrame, dedup_by: list[str], order_by: list) -> DataFrame:
    """Keep the first row per ``dedup_by`` key under ``order_by``.

    ``order_by`` must be a total order within each key group (append a
    unique id as tie-breaker) — otherwise results are nondeterministic
    across retries/partitionings. One shuffle on ``dedup_by``; none
    when its input is one partition, which satisfies the window's
    clustering (``plans.pipeline.build_plan`` coalesces a small source
    to one partition).
    """
    w = Window.partitionBy(*dedup_by).orderBy(*_order_cols(order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def normalize_text(col: Column) -> Column:
    """lower + collapse whitespace + trim — canonical form for exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: one representative (min id) per
    md5 fingerprint, with the duplicate count. Single hash-aggregate
    shuffle on the 32-char digest — scales linearly."""
    h = F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    return (
        df.select(F.col(id_col), h)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def exact_dedup_keep(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The kept ROWS of exact dedup: each input row whose ``id_col`` is
    the group minimum for its normalized-text md5 fingerprint — the
    row-set companion of :func:`exact_dedup` (identical keep rule),
    computed as ONE fingerprint-partitioned window aggregate instead of
    the aggregate-then-join-back composition. The join-back shape scans
    the corpus twice and, once the keep-id set outgrows a broadcast,
    pays a second full-corpus shuffle on the id; this shape is one scan
    and one fingerprint shuffle at any scale."""
    w = Window.partitionBy(F.md5(normalize_text(F.col(text_col))))
    return (
        df.withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


_MIX = 0x9E3779B97F4A7C15  # splitmix64 / golden-ratio odd constant (public)


def _token_hasher():
    """Per-batch memoized token → 64-bit md5 hash.

    Natural-language token vocabularies are tiny relative to token
    occurrences (Zipf), so hashing each DISTINCT token once and reusing
    it across all shingles cuts the md5 count by ~50× vs hashing every
    shingle string."""
    import hashlib

    cache: dict[str, int] = {}

    def th(tok: str) -> int:
        h = cache.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            cache[tok] = h
        return h

    return th


def _shingle_hash_array(toks, th, n: int, bits: int):
    """Distinct ``bits``-wide hashes of the n-token shingles of ``toks``
    as an int64 numpy array — one vectorized polynomial-mix pass over
    the token-hash array instead of a Python loop building shingle
    strings. Deterministic (md5 token hashes + fixed constant)."""
    import numpy as np

    if len(toks) < n:
        return np.empty(0, dtype=np.int64)
    hh = np.fromiter((th(x) for x in toks), dtype=np.uint64, count=len(toks))
    m = len(toks) - n + 1
    H = np.zeros(m, dtype=np.uint64)
    for j in range(n):  # position-sensitive: H = H*K + h_j (uint64 wraps)
        H = H * np.uint64(_MIX) + hh[j : m + j]
    H ^= H >> np.uint64(33)
    return np.unique(H >> np.uint64(64 - bits)).astype(np.int64)


def _shingle_hashes_udf(n: int):
    """pandas_udf: text → distinct n-word shingle hashes (array<long>).

    Arrow-batched; md5 per DISTINCT token + vectorized n-gram combine
    (``_shingle_hash_array``). A pure-Column version (sequence +
    transform + element_at) exists but Spark evaluates
    higher-order-function lambdas interpreted PER ELEMENT — measured
    ~10× slower at 2.5M shingles. 62-bit hashes: E[global collisions] ≈
    (#shingles)²/2⁶³ — ~7e-7 at 2.5M distinct shingles, so hash-set
    Jaccard ≡ string-set Jaccard."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def make(texts: pd.Series) -> pd.Series:
        th = _token_hasher()
        out = []
        for t in texts:
            out.append(_shingle_hash_array((t or "").split(), th, n, 62).tolist())
        return pd.Series(out)

    return make


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    from etl_mini_spark.session import spread

    # asNondeterministic: downstream F.explode(shingles) makes Catalyst
    # infer a `size(shingles) > 0` predicate and push it BELOW the
    # spread exchange — duplicating the shingle UDF into two
    # ArrowEvalPython nodes (every document shingled twice; guide §4.4,
    # generator-predicate variant). The flag pins one evaluation.
    udf = _shingle_hashes_udf(n).asNondeterministic()
    return spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"), udf(F.col(text_col)).alias("shingles")
    )


def _capped_shingle_buckets(inv: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """(shingle → sorted array<struct(doc_id, sz)>) buckets of an
    inverted-posting DataFrame, with the bucket cap (and the ≥2-docs
    requirement) applied as a count window BEFORE ``collect_list`` —
    over-cap stopword-grade buckets are dropped row-by-row (spillable
    window buffer) and never materialize their posting list inside one
    aggregation buffer. The window and the groupBy require the same
    hash(shingle) clustering, so they share one exchange."""
    bn = F.count("*").over(Window.partitionBy("shingle"))
    keep = (F.col("__bn") > 1) if max_bucket_size is None else (
        (F.col("__bn") > 1) & (F.col("__bn") <= max_bucket_size)
    )
    return (
        inv.withColumn("__bn", bn)
        .filter(keep)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "sz"))).alias("ds"))
    )


def _bucket_pair_counts(buckets: DataFrame) -> DataFrame:
    """Expand each sorted (doc_id, sz) bucket into its ordered pairs via
    posexplode + slice (streamed through Generate — peak memory per row
    is one bucket's doc list, never the pair set) and count shared
    buckets per pair. Returns (d1, d2, sz1, sz2, inter) with d1 < d2;
    sz is functionally dependent on doc_id, so folding it into the
    grouping key is free (same shuffle width)."""
    lhs = buckets.select(F.posexplode("ds").alias("i", "x"), F.col("ds"))
    return (
        lhs.select(
            F.col("x.doc_id").alias("d1"),
            F.col("x.sz").alias("sz1"),
            F.explode(F.slice(F.col("ds"), F.col("i") + 2, F.size("ds"))).alias("y"),
        )
        # the sort orders by (doc_id, sz), so y.doc_id >= d1 always; the
        # guard only drops degenerate self-pairs when a caller passes
        # duplicate doc_ids (the documented contract is d1 < d2)
        .filter(F.col("d1") != F.col("y.doc_id"))
        .groupBy(
            "d1",
            F.col("y.doc_id").alias("d2"),
            "sz1",
            F.col("y.sz").alias("sz2"),
        )
        .agg(F.count("*").alias("inter"))
    )


def near_dup_pairs_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Exact near-dup pairs with n-word-shingle Jaccard ≥ threshold.

    Inverted-index plan: explode (doc, sz, shingle) → self-join on
    shingle → count common shingles per pair → Jaccard directly from
    the carried set sizes. The per-doc set size rides along on every
    inverted-index row (one extra int per posting), so there is NO
    join-back against an O(corpus) per-doc table — at billions of docs
    a forced broadcast of that table would be a scale-killer, and even
    a shuffled join-back is a shuffle this plan doesn't need. Only
    pairs sharing ≥1 shingle are ever materialized. ``max_bucket_size``
    drops degenerate ultra-common shingles (stopword-like) that would
    create quadratic hot buckets at scale.

    SCALE CLIFF (measured, 100k-doc zipf-head corpus): candidate mass
    is Σ_buckets min(bn, cap)²/2 — the default cap of 10000 admitted
    1.57 BILLION candidates (358 s); cap=100 cut that to 21M (24 s) but
    COLLAPSED recall to 23/5000 planted pairs, because on a head-heavy
    corpus near-identical docs share only common shingles, exactly the
    ones the cap drops. The cap is therefore NOT a safe recall knob on
    skewed vocabularies: use this operator where exactness is required
    and bucket sizes are moderate (verification fixtures, deduped
    mid-df corpora), and use ``near_dup_pairs_minhash_lsh`` at corpus
    scale — its per-doc signature work is df-independent, and the same
    100k corpus ran 23 s with ~complete in-band planted recall inside
    the full curation pipeline.
    Returns (d1, d2, jaccard) with d1 < d2.
    """
    sh = _doc_shingles(df, id_col, text_col, n)
    inv = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    # Bucket-expansion plan (the same shape near_dup_pairs_minhash_lsh
    # uses for its band buckets): ONE shuffle groups the postings by
    # shingle and the ordered pairs are expanded INSIDE each bucket.
    # The old inverted-index SELF-JOIN evaluated the shingle UDF +
    # explode lineage 3-4x (once per join side, once more for the
    # bucket-count aggregate) and paid 3 extra postings-wide exchanges;
    # this is a single lineage — the UDF runs once — with one
    # (shingle) shuffle and one (d1, d2) shuffle, still fully lazy.
    # Candidate volume is identical (Σ_buckets bn²/2: a dropped posting
    # can't pair either way).
    #
    # The bucket cap is applied with a count window BEFORE any list is
    # collected: a degenerate stopword-grade shingle is dropped by a
    # streaming row filter (WindowExec buffers spill to disk past
    # spark.sql.windowExec.buffer.spill.threshold), so an over-cap
    # bucket never materializes its posting list inside one aggregation
    # buffer (the r18 shape collected first and size-filtered after —
    # a multi-GB single-array hazard at 100 TB). The window and the
    # groupBy share one hash(shingle) exchange, and the filter also
    # subsumes the old `size(ds) > 1` post-filter.
    buckets = _capped_shingle_buckets(inv, max_bucket_size)
    common = _bucket_pair_counts(buckets)
    return (
        common.withColumn(
            "jaccard", F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
    )


def near_dup_pairs_containment(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Near-subset pairs with shingle CONTAINMENT ≥ threshold.

    Containment C = |A∩B| / min(|A|,|B|) catches template/boilerplate
    duplication that symmetric Jaccard misses: a short doc fully
    embedded in a long one has high containment but low Jaccard (the
    union is dominated by the long doc). Same inverted-index plan as
    `near_dup_pairs_ngram_jaccard` — only pairs sharing ≥1 shingle
    materialize. When ``max_bucket_size`` prunes ultra-common shingles,
    the per-doc set size is RECOMPUTED over the post-prune postings:
    template/boilerplate shingles (this operator's advertised target)
    are exactly the frequent ones pruned, and keeping the pre-prune size
    as denominator would shrink `inter` but not min(|A|,|B|) —
    systematically underestimating containment and false-negating at
    scale. Recomputing keeps C a true ratio over the compared universe,
    at the cost of one extra doc_id-partitioned window pass (pruned
    postings only). Returns (d1, d2, containment) with d1 < d2.
    """
    sh = _doc_shingles(df, id_col, text_col, n)
    inv = sh.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("shingle")
    )
    # Join-free two-pass bucket shape (the ngram-Jaccard twin's plan,
    # r19): the old postings SELF-JOIN + bucket-count join needed the
    # postings table three times (a localCheckpoint materialization)
    # and re-ran the pruned+re-sized subtree once per join side. Here
    # the prune is a count window over shingle (streaming row filter —
    # an over-cap bucket never materializes a posting list), the
    # post-prune per-doc size recompute is a count window over doc_id,
    # and pairs expand inside each collected bucket. ONE lazy lineage —
    # the shingle UDF runs once, no checkpoint, no join: three
    # postings-wide exchanges (shingle → doc_id → shingle) plus the
    # pair aggregate, vs the old shape's checkpoint + five.
    if max_bucket_size is not None:
        inv = (
            inv.withColumn("__bn", F.count("*").over(Window.partitionBy("shingle")))
            .filter(F.col("__bn") <= max_bucket_size)
            .select("doc_id", "shingle")
            .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
        )
    # Singleton buckets must survive the prune (their postings count
    # toward the recomputed sz) but produce no pairs — the > 1 filter
    # lives inside _capped_shingle_buckets' window, which here runs
    # uncapped because the cap was already applied above.
    common = _bucket_pair_counts(_capped_shingle_buckets(inv, None))
    return (
        common.withColumn("containment", F.col("inter") / F.least("sz1", "sz2"))
        .filter(F.col("containment") >= threshold)
        .select("d1", "d2", F.round("containment", 6).alias("containment"))
    )


def prefix_join_preflight(
    postings: DataFrame,
    doc_col: str = "doc_id",
    token_col: str = "tok",
    max_avg_candidates: float = 64.0,
    mode: str = "raise",
) -> dict:
    """Candidate-mass preflight for prefix-filtered set-similarity joins.

    A PPJoin-style prefix filter only prunes when the vocabulary has a
    rare tail for the prefix to exploit. On df-FLAT corpora (tiny or
    uniform vocabularies — e.g. the 31-token sf0.1 documents table,
    measured 24× slower than the zipf case) every prefix token is
    common and the candidate join degenerates toward all-pairs. The
    exact candidate mass of a self-join on equal tokens is
    Σ_tok df·(df−1)/2 over the (prefix) postings fed in — two keyed
    aggregates, no data-size assumptions. When the average candidate
    count per doc exceeds ``max_avg_candidates``, the filter is not
    earning its keep: RAISE (or warn) with the swap-in rule — use
    ``near_dup_pairs_minhash_lsh``, whose candidate mass is bounded by
    band-bucket collisions rather than token frequency.

    Returns ``{"n_docs", "candidate_mass", "avg_candidates"}``.
    ``mode``: "raise" (ValueError), "warn" (warnings.warn), or "stat"
    (never signals — callers that only want the numbers).

    Both numbers come from ONE Spark action over ONE scan of the
    postings: GROUPING SETS ((token), (doc)) expands each row into the
    two keyed streams, so the token-df mass Σ df·(df−1)/2 and the
    distinct-doc count (= number of doc-level groups) fall out of a
    single aggregate — the preflight never reads its input twice."""
    gid = F.grouping_id()
    per_group = postings.groupingSets(
        [[token_col], [doc_col]], token_col, doc_col
    ).agg(F.count("*").cast("double").alias("c"), gid.alias("gid"))
    # grouping_id bits: token_col is the first (most significant) col,
    # so the (token) set — doc aggregated away — has gid 0b01 = 1 and
    # the (doc) set has gid 0b10 = 2.
    agg = per_group.agg(
        F.sum(
            F.when(F.col("gid") == 1, F.col("c") * (F.col("c") - 1) / 2)
        ).alias("mass"),
        F.count(F.when(F.col("gid") == 2, F.lit(1))).alias("n_docs"),
    ).collect()[0]
    n_docs = int(agg["n_docs"] or 0)
    mass = float(agg["mass"] or 0.0)
    avg = mass / n_docs if n_docs else 0.0
    stats = {"n_docs": n_docs, "candidate_mass": mass, "avg_candidates": avg}
    if avg > max_avg_candidates and mode != "stat":
        msg = (
            f"prefix filter degenerate: {mass:.0f} candidate pairs for "
            f"{n_docs} docs ({avg:.1f}/doc > {max_avg_candidates}/doc) — "
            "df-flat vocabulary; swap to near_dup_pairs_minhash_lsh "
            "(band-bucketed candidates, frequency-independent)"
        )
        if mode == "raise":
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return stats


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for h_i(x) = (a·x + b) mod p.

    ``a`` is kept < 2^20 so a·x < 2^52 for 32-bit base hashes — inside
    int64 (Spark ANSI mode raises on long overflow)."""
    params = []
    a, b = _A0, _B0
    for _ in range(num_hashes):
        a = (a * 1103515245 + 12345) % MINHASH_PRIME
        b = (b * 69069 + 1) % MINHASH_PRIME
        params.append(((a % (1 << 20)) | 1, b))
    return params


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 128
) -> DataFrame:
    """(doc_id, sig array<long>) — column-wise min over permuted shingle
    hashes.

    Shingle hashing is md5-per-DISTINCT-token + a vectorized n-gram
    polynomial combine (``_shingle_hash_array``, 32-bit here so
    a·x < 2^52 stays inside int64 under ANSI mode); the num_hashes-way
    permute-and-min runs as ONE vectorized numpy kernel per doc batch
    (Arrow pandas_udf). 128 separate min() aggregate expressions
    overflow whole-stage-codegen limits and fall back to interpreted
    eval — ~20× slower (measured). 32-bit base hashes only steer
    CANDIDATE generation — collisions cannot corrupt output because
    every candidate is exact-verified downstream. State per doc is
    O(num_hashes + doc shingles): scales linearly."""
    import numpy as np

    from etl_mini_spark.session import spread

    params = minhash_params(num_hashes)
    A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
    B = np.array([b for _, b in params], dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        th = _token_hasher()
        out = []
        for t in texts:
            H = _shingle_hash_array((t or "").split(), th, n, 32)
            if not len(H):
                out.append(np.full(num_hashes, MINHASH_PRIME - 1, dtype=np.int64))
                continue
            out.append(((A * H[None, :] + B) % MINHASH_PRIME).min(axis=1))
        return pd.Series(out)

    base = spread(df.select(F.col(id_col), F.col(text_col)))
    return base.select(F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("sig"))


def near_dup_pairs_minhash_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    verify: bool = True,
) -> DataFrame:
    """Banded-LSH candidate pairs, optionally verified with exact Jaccard.

    r = num_hashes/bands rows per band; a pair collides in ≥1 band with
    prob 1-(1-j^r)^bands (≈1 for j ≥ 0.8 at 128/32). The band join
    shuffles on (band_idx, band_hash) — at 100 TB this replaces the
    all-pairs Jaccard join entirely; exact verification touches only
    candidates."""
    r = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    # Band hash = xxhash64 over the band's r signature longs directly —
    # unlike the md5 BASE hashes (engine-portable because DuckDB must
    # reproduce shingle hashing), band buckets never leave Spark, so the
    # cheap native long hash wins (~30% off the banding stage vs
    # md5-over-string-concat at sf0.1; identical candidate sets — only
    # exact band-vector equality steers collisions either way).
    band_arr = F.array(
        *[F.xxhash64(*[F.col("sig")[i * r + j] for j in range(r)]) for i in range(bands)]
    )
    banded = sig.select("doc_id", F.posexplode(band_arr).alias("band", "bh"))
    # One shuffle on (band, bucket-hash), pairs expanded inside each
    # bucket — avoids a self-join that would recompute the signature
    # lineage twice and shuffle both sides.
    buckets = (
        banded.groupBy("band", "bh")
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
        .select(F.col("p")[0].alias("d1"), F.col("p")[1].alias("d2"))
        .distinct()
    )
    if not verify:
        return cand
    # Exact verification only touches candidate pairs: join their texts
    # back (broadcast — candidates ≪ corpus) and shingle-Jaccard in one
    # vectorized pass.
    t1 = df.select(F.col(id_col).alias("d1"), F.col(text_col).alias("__t1"))
    t2 = df.select(F.col(id_col).alias("d2"), F.col(text_col).alias("__t2"))

    @F.pandas_udf(T.DoubleType())
    def jac(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a, b):
            tx, ty = (x or "").split(), (y or "").split()
            sx = {" ".join(tx[i : i + n]) for i in range(len(tx) - n + 1)}
            sy = {" ".join(ty[i : i + n]) for i in range(len(ty) - n + 1)}
            u = len(sx | sy)
            out.append(len(sx & sy) / u if u else 0.0)
        return pd.Series(out, dtype="float64")

    # asNondeterministic: the threshold filter otherwise gets pushed
    # BELOW the projection and Catalyst duplicates the UDF (two
    # ArrowEvalPython nodes — every candidate pair shingled and scored
    # twice; guide §4.4). The flag pins a single evaluation; the filter
    # still applies, just above it.
    return (
        cand.join(t1, "d1")
        .join(t2, "d2")
        .withColumn("jaccard", jac.asNondeterministic()(F.col("__t1"), F.col("__t2")))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 6).alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (Charikar 2002) as an Arrow-batched
    pandas UDF — the per-bit majority vote over token hashes is the one
    dedup primitive with no efficient built-in expression. Returns
    (doc_id, simhash long)."""
    from etl_mini_spark.session import spread

    df = spread(df)

    import numpy as np

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        th = _token_hasher()
        out = []
        bitpos = np.arange(64, dtype=np.uint64)
        for t in texts:
            toks = (t or "").split()
            if not toks:
                out.append(0)
                continue
            H = np.fromiter((th(tok) for tok in toks), dtype=np.uint64, count=len(toks))
            bits = (H[:, None] >> bitpos[None, :]) & np.uint64(1)  # [ntok, 64]
            votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
            v = int(np.bitwise_or.reduce(np.where(votes > 0, np.uint64(1) << bitpos, np.uint64(0))))
            out.append(v - (1 << 64) if v >= (1 << 63) else v)  # map to signed int64
        return pd.Series(out, dtype="int64")

    return df.select(F.col(id_col).alias("doc_id"), _simhash(F.col(text_col)).alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits via
    block-bucket LSH — never all-pairs.

    Pigeonhole: split the 64-bit hash into ``n_blocks`` equal blocks;
    two hashes within hamming distance ``n_blocks - 1`` must agree on
    at least one whole block (≤ n_blocks-1 differing bits can touch at
    most n_blocks-1 blocks). So with the default 4×16-bit blocks,
    bucketing on (block_idx, block_value) finds every pair at hamming
    ≤ 3 with recall 1, and the exact ``bit_count(xor)`` verify keeps
    precision exact. Shuffles only on the block keys and the candidate
    ids — at 100 TB candidate volume is bounded by 16-bit-bucket
    collisions, not n².

    Requires ``max_hamming <= n_blocks - 1`` (guaranteed-recall
    regime); raises otherwise.
    """
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_blocks >= {max_hamming + 1} "
            "for guaranteed recall (pigeonhole)"
        )
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    bits_per = 64 // n_blocks
    mask = (1 << bits_per) - 1
    sh = pin(simhash(df, id_col, text_col))  # computed once, joined twice
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned("simhash", i * bits_per)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.blk").alias("blk"), F.col("b.val").alias("val"))
    # corpus-sized self-join over UDF lineage (no size stats) — pinned
    # to shuffle for the same reason as the Jaccard postings join: a
    # planner-chosen broadcast of the blocks table is a scale-killer.
    a = blocks.hint("shuffle_hash").select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "blk", "val"
    )
    b = blocks.hint("shuffle_hash").select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"), "blk", "val"
    )
    cand = (
        a.join(b, ["blk", "val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "h1", "h2")
        .distinct()
    )
    ham = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        cand.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def _require_integral_ids(edges: DataFrame, src: str, dst: str) -> None:
    for c in (src, dst):
        dt = dict(edges.dtypes)[c]
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise TypeError(
                f"connected components need integral node ids; {c!r} is {dt}. "
                "Map string/UUID ids to dense longs first (e.g. hash or zipWithIndex)."
            )


# Edge count up to which connected_components runs the driver union-find
# instead of the distributed rounds: 2^17 edges ≈ 2 MB of longs.
UNION_FIND_MAX_EDGES = 1 << 17


def connected_components(
    edges: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 50
) -> DataFrame:
    """Connected components of an undirected edge list → (node, comp),
    where ``comp`` is the minimum node id reachable from ``node``. A
    node seen only on self-loop edges is its own component, and an edge
    with a null endpoint adds one ``(null, null)`` row.

    Used for near-dup CLUSTER assignment: pairs from MinHash-LSH or
    shingle-Jaccard rarely form clean pairs — transitive closure turns
    them into keep-one-per-cluster decisions.

    Distributed path: the large-star / small-star alternation (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond"). Per
    round (each a groupBy-min + join — two shuffles):
    - **large-star**: every node links its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - **small-star**: every node links its smaller-or-equal neighbors
      (and itself) to their minimum.

    Both operations preserve connectivity and strictly contract the
    graph toward stars rooted at component minima; alternation
    converges in O(log n) rounds REGARDLESS of diameter, where min-label
    propagation needs diameter rounds (long chains on
    templated/boilerplate near-dup corpora). Convergence is detected by
    edge-set fixpoint, so the result is never silently unconverged: no
    fixpoint within ``max_iter`` rounds raises ``RuntimeError``.

    Up to ``UNION_FIND_MAX_EDGES`` edges the components come from a
    driver-side union-find over the one-time-materialized edge
    projection instead of the sequential Spark rounds — bit-identical
    output, bounded driver work (the same class of bounded gather as
    the quantile-cut / bucket-offset collects), and none of the ~log n ×
    3-jobs scheduling latency that dominates small graphs.
    """
    _require_integral_ids(edges, src, dst)
    spark = edges.sparkSession
    # The O(log n) rounds are SEQUENTIAL stages; at verification SFs the
    # cost is per-stage latency, not data, so they run under
    # session.loop_confs like every superstep loop.
    # Materialize the RAW (a, b) projection once, under the SESSION
    # confs, BEFORE the loop confs take effect: ``edges`` lineage is
    # often the expensive near-dup pair join, and both ``e`` and the
    # singleton restore (``all_nodes``) read it, so the upstream pair
    # generation runs exactly once per call at full parallelism. The
    # edge count is observed inside the pin's own job, so choosing the
    # path runs no job of its own.
    raw, edge_count = observed_count(edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    ))
    raw = pin(raw)
    n_raw = edge_count.get["n"]
    if n_raw <= UNION_FIND_MAX_EDGES:
        # Small-graph path: below the bound the edge list is a few MB
        # at most (16 B/edge) — union-find on the driver is exact,
        # deterministic, and replaces ~log n sequential Spark rounds
        # (each 3+ jobs of pure scheduling latency) with one bounded
        # collect. Same output contract as the distributed path: every
        # node that appears in the edge list, comp = component minimum.
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        saw_null = False
        for row in raw.collect():
            a, b = row[0], row[1]
            if a is None or b is None:
                # Mirror the distributed path exactly: a half-null edge
                # contributes its non-null endpoint to all_nodes (it
                # surfaces as a singleton unless another edge links it)
                # and the null endpoint surfaces once as (null, null).
                saw_null = True
                for x in (a, b):
                    if x is not None and x not in parent:
                        parent[x] = x
                continue
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # root at the minimum
        out = [(int(x), int(find(x))) for x in parent]
        if saw_null:
            out.append((None, None))
        return spark.createDataFrame(out, "node long, comp long")
    # Loop partition count derived from the observed edge count — ~1M
    # edges (≈16 MB) per partition, min 1 — instead of a constant:
    # near-dup edge sets are usually tiny relative to the corpus, and a
    # fixed 8 partitions made every one of the ~log n sequential rounds
    # pay 8 tasks of pure scheduling latency for a few hundred rows; at
    # real graph sizes the same formula scales the rounds back out
    # (capped so a pathological edge count cannot explode task counts).
    loop_parts = max(1, min(2048, (n_raw + 999_999) // 1_000_000))
    counts = []

    def step(e):
        # large-star over symmetric neighborhoods
        nbr = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbr.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", F.col("u")).alias("m"))
        large = (
            nbr.join(mins, "u")
            .filter(F.col("v") > F.col("u"))  # m <= u < v: output stays canonical
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star over canonical (u > v) edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small, obs = observed_count(
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        counts.append(obs)
        return small

    def fixpoint(prev, cur):
        # both edge sets are distinct and materialized, so equal counts
        # + empty (cur − prev) ⇔ set equality — one subtract job, and
        # only once the counts agree
        n_prev, n_cur = counts[-2].get["n"], counts[-1].get["n"]
        return n_cur == n_prev and cur.subtract(prev).limit(1).count() == 0

    # O(log n) rounds (~log2(n) + a few); not converging within
    # max_iter means pathological input or a bug
    with loop_confs(spark, loop_parts):
        e, obs = observed_count(
            raw.filter(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
        )
        e = pin(e)
        counts.append(obs)
        e = iterate(e, step, max_iter=max_iter, until=fixpoint)
    # converged edge set is a union of stars: u -> component minimum
    assigned = e.select(F.col("u").alias("node"), F.col("v").alias("comp")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    )
    # Nodes that appeared ONLY via self-loop edges were dropped by the
    # a != b filter above; restore them as singleton components (x, x),
    # as the union-find path emits them.
    all_nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    singletons = all_nodes.join(assigned.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("comp")
    )
    return assigned.unionByName(singletons)


def incremental_dedup(
    batch: DataFrame, corpus: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Incremental-ingest dedup: keep only batch documents whose
    normalized-text fingerprint does not already exist in the corpus —
    the steady-state form of exact dedup once a corpus is live (new
    crawl snapshots arrive forever; re-dedup of the full corpus per
    batch is O(corpus) wasted work).

    Scale shape: one LEFT ANTI hash join on the 32-char fingerprint.
    The corpus side projects to the fingerprint column only (Parquet
    scan reads one column) and dedups map-side via the aggregate; at
    100 TB the anti join shuffles fingerprints, not documents — the
    batch side carries payload, the corpus side is 32 bytes/row. With
    the corpus fingerprint set maintained as a bucketed table on
    `fingerprint`, the shuffle on the corpus side disappears entirely."""
    bf = batch.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("fingerprint")
    )
    cf = corpus.select(F.md5(normalize_text(F.col(text_col))).alias("fingerprint")).distinct()
    return bf.join(cf, "fingerprint", "left_anti").select(id_col, "fingerprint")
