"""Registry queries: a modern-retrieval block (int8 quantized
similarity, Matryoshka truncation audit, reciprocal-rank fusion, NDCG,
product-quantization ANN), lakehouse table semantics (manifest
pruning, log replay, bitemporal snapshots, composed SCD2+SCD6,
snapshot-isolation commits, late-arriving dimensions), Fellegi-Sunter
entity resolution, finance/recursion entries (Kalman, IRR bisection,
amortization, bond duration), multivariate statistics (2-predictor
OLS, Mahalanobis, 2x2 PCA, boosted stumps, isotonic PAV), SQL-surface
differentials (window EXCLUDE, mode tie-break, QUALIFY), sketch audits
(count-min batch + incremental streaming, Bloom FPR), geohash prefix
blocking, streaming differentials (sessionize, CDC keep-latest), and
amplified-corpus dedup, plus a real multimodal decode block
(header-parse + PNG pixel differentials), each checked against its
DuckDB oracle.

Parity rules as in round9..12_ops (FIXTURES.md §C): integer/decimal
arithmetic end-to-end (money as exact BIGINT cents; int8 codes and
their dot products as exact BIGINTs), libm terms pre-rounded at 9dp
and summed as DECIMAL(28,9), ranks via deterministic tie-breaks on
6dp-rounded scores, fixed bin edges, md5-bucket portable randomness,
floor(x*10^k + 0.5)/10^k HALF_UP for display rounding. Sequential
recursions (Kalman, amortization, bisection) follow the RSI/Holt
discipline: exact-integer (or pre-rounded) seeds and the IDENTICAL
IEEE expression sequence on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.queries._base import EVENTS_DAILY_SQL, _t, events_daily_cents, half_up, md5_mod
from etl_mini_spark.queries._base import q as pq


# =====================================================================
# Block A — modern retrieval
# =====================================================================

# --- int8 symmetric quantization + integer dot-product top-k ------------------------------
# The arithmetic every int8 ANN index (FAISS SQ8, scann) runs at scan
# time, expressed EXACTLY: per-vector scale 127/max|x|, codes
# floor(x*127/ma + 0.5) (identical IEEE sequence both engines), dot
# products of codes are exact BIGINTs — so ranks carry no float noise
# at all and the differential is bit-exact. Plan: probes broadcast
# (bounded by construction), corpus scanned once, per-probe top-k via
# WindowGroupLimit; everything whole-stage-codegen lambda expressions.
_INT8_SQL = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * 127.0 / ma + 0.5) AS BIGINT)) AS code
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
            FROM embeddings)
      WHERE ma > 0),
    scored AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(p.code, c.code),
               z -> z[1] * z[2])) AS BIGINT) AS qdot
      FROM q p JOIN q c ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id)
    SELECT probe_id, neighbor_id, qdot
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY qdot DESC, neighbor_id) <= 5
    ORDER BY probe_id, neighbor_id
"""


@pq("int8_quant_cosine_topk", _INT8_SQL)
def int8_quant_cosine_topk(spark, sf_dir):
    """Top-5 neighbors by int8-quantized dot product: per-vector
    symmetric scale 127/max|x|, codes rounded HALF_UP with the
    identical IEEE sequence on both engines, scores as exact BIGINT
    sums of code products — the scan-time arithmetic of an SQ8 index
    with no float noise anywhere past quantization. Plan: quantization
    is a pure Column lambda (codegen), probes broadcast onto one
    corpus scan, per-probe top-k via rank window."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ma = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # ma must be a named column before the quantizing lambda can use it
    q = (
        emb.select("vec_id", v.alias("v"), ma.alias("ma"))
        .where(F.col("ma") > 0)
        .select(
            "vec_id",
            F.transform(
                F.col("v"),
                lambda x: F.floor(x * F.lit(127.0) / F.col("ma") + F.lit(0.5)).cast("long"),
            ).alias("code"),
        )
    )
    probes = q.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("code").alias("pcode")
    )
    scored = (
        q.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("pcode"), F.col("code"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("qdot").desc(), "neighbor_id")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
        .select("probe_id", "neighbor_id", "qdot")
        .orderBy("probe_id", "neighbor_id")
    )


# --- Matryoshka truncation audit ------------------------------------------------------------
# MRL-style embeddings are served truncated; the question a platform
# team actually asks is "how much ranking do the first 16 dims keep?".
# Per probe: top-10 by full-dim cosine vs top-10 by 16-dim cosine
# (each renormalized), report the overlap count — an exact INTEGER per
# probe, immune to float noise because both rankings round at 6dp with
# id tie-breaks before comparison.
_MATRYOSHKA_SQL = """
    WITH full_rank AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                     p.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS r
      FROM embeddings p JOIN embeddings c
        ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
    trunc_rank AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity((c.embedding::DOUBLE[])[1:16],
                                                     (p.embedding::DOUBLE[])[1:16]), 6) DESC,
                        c.vec_id) AS r
      FROM embeddings p JOIN embeddings c
        ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id)
    SELECT f.probe_id,
           CAST(count(*) AS BIGINT) AS overlap_at_10
    FROM (SELECT * FROM full_rank WHERE r <= 10) f
    JOIN (SELECT * FROM trunc_rank WHERE r <= 10) t
      ON f.probe_id = t.probe_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.probe_id
    ORDER BY f.probe_id
"""


def _cosine_rank(emb, dims: int | None):
    """Per-probe cosine ranking (6dp-rounded, id tie-break) at full or
    truncated dimensionality — shared by the Matryoshka audit."""
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    if dims is not None:
        v = F.slice(v, 1, dims)
    norm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    base = emb.select("vec_id", v.alias("v"), norm.alias("n")).where(F.col("n") > 0)
    probes = base.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv"), F.col("n").alias("pn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("pv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        base.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(dot / (F.col("n") * F.col("pn")), 6).alias("cos6"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos6").desc(), "neighbor_id")
    return scored.withColumn("r", F.row_number().over(w))


@pq("matryoshka_overlap_audit", _MATRYOSHKA_SQL)
def matryoshka_overlap_audit(spark, sf_dir):
    """Matryoshka truncation audit: per probe, the overlap between the
    top-10 cosine ranking at FULL dimensionality and at the first 16
    dims (each side renormalized) — the measurement behind serving
    truncated MRL embeddings. Output is an exact integer per probe;
    both rankings round at 6dp with id tie-breaks so the rank sets are
    engine-identical. Plan: two broadcast-probe scans of the corpus,
    one keyed join of the two rank sets."""
    emb = _t(spark, sf_dir, "embeddings")
    f = _cosine_rank(emb, None).where(F.col("r") <= 10).select("probe_id", "neighbor_id")
    t = _cosine_rank(emb, 16).where(F.col("r") <= 10).select("probe_id", "neighbor_id")
    return (
        f.join(t, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("overlap_at_10"))
        .orderBy("probe_id")
    )


# --- Reciprocal-rank fusion of lexical + vector rankings -------------------------------------
# Hybrid search's standard fusion: per probe document, a lexical
# ranking (shared distinct-token count with each candidate, exact
# ints) and a vector ranking (6dp cosine) fuse as
# sum(1/(60+rank)) — each term pre-rounded at 9dp and summed as
# DECIMAL so the fused ORDER is engine-exact. Top-5 fused per probe.
_RRF_SQL = """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')))
               AS tok
      FROM documents),
    lex AS (
      SELECT p.doc_id AS probe_id, c.doc_id AS cand_id,
             CAST(count(*) AS BIGINT) AS shared
      FROM tok p JOIN tok c ON p.tok = c.tok AND c.doc_id <> p.doc_id
      WHERE p.doc_id % 50 = 0
      GROUP BY 1, 2),
    lexr AS (
      SELECT probe_id, cand_id,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY shared DESC, cand_id) AS r_lex
      FROM lex),
    vecr AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                     p.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS r_vec
      FROM embeddings p JOIN embeddings c
        ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
    fused AS (
      SELECT l.probe_id, l.cand_id, l.r_lex, v.r_vec,
             CAST(floor(1.0 / (60 + l.r_lex) * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000
           + CAST(floor(1.0 / (60 + v.r_vec) * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000
               AS rrf
      FROM lexr l JOIN vecr v
        ON l.probe_id = v.probe_id AND l.cand_id = v.cand_id
      WHERE l.r_lex <= 20 AND v.r_vec <= 20)
    SELECT probe_id, cand_id,
           CAST(r_lex AS BIGINT) AS r_lex, CAST(r_vec AS BIGINT) AS r_vec,
           floor(CAST(rrf AS DOUBLE) * 1000000 + 0.5) / 1000000 AS rrf
    FROM fused
    -- rank on the exact decimal column (fused.rrf), NOT the pinned
    -- output alias that shadows it
    QUALIFY row_number() OVER (PARTITION BY probe_id
                               ORDER BY fused.rrf DESC, cand_id) <= 5
    ORDER BY probe_id, cand_id
"""


@pq("rrf_hybrid_fusion", _RRF_SQL)
def rrf_hybrid_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of a lexical ranking (shared distinct
    tokens, exact ints) and a vector ranking (6dp cosine) for probe
    documents — the standard hybrid-search fusion, with each 1/(60+r)
    term pre-rounded at 9dp and summed as DECIMAL so the fused order
    is engine-exact. Candidates must appear in BOTH top-20 lists (the
    practical fusion window). Plan: postings join on token for the
    lexical side (probe postings broadcast), broadcast-probe scan for
    the vector side, one keyed join to fuse."""
    from etl_mini_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("tok"),
    )
    ptok = tok.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("probe_id"), "tok"
    )
    lex = (
        tok.join(F.broadcast(ptok), "tok")
        .where(F.col("doc_id") != F.col("probe_id"))
        .groupBy("probe_id", F.col("doc_id").alias("cand_id"))
        .agg(F.count("*").cast("bigint").alias("shared"))
    )
    wl = Window.partitionBy("probe_id").orderBy(F.col("shared").desc(), "cand_id")
    lexr = lex.withColumn("r_lex", F.row_number().over(wl)).where(F.col("r_lex") <= 20)

    emb = _t(spark, sf_dir, "embeddings")
    vecr = (
        _cosine_rank(emb, None)
        .where(F.col("r") <= 20)
        .select("probe_id", F.col("neighbor_id").alias("cand_id"), F.col("r").alias("r_vec"))
    )
    term = lambda r: (  # noqa: E731
        F.floor(F.lit(1.0) / (F.lit(60) + r) * 1_000_000_000 + F.lit(0.5))
        .cast("decimal(28,9)") / 1_000_000_000
    )
    fused = (
        lexr.join(vecr, ["probe_id", "cand_id"])
        .select(
            "probe_id", "cand_id",
            F.col("r_lex").cast("bigint").alias("r_lex"),
            F.col("r_vec").cast("bigint").alias("r_vec"),
            (term(F.col("r_lex")) + term(F.col("r_vec"))).alias("rrf_d"),
        )
    )
    # rank on the EXACT decimal sum, then pin the displayed double at
    # 6dp — DuckDB evaluates decimal/int division as DOUBLE, so an
    # unpinned raw double could straddle the harness's 6dp boundary
    wf = Window.partitionBy("probe_id").orderBy(F.col("rrf_d").desc(), "cand_id")
    return (
        fused.withColumn("__rn", F.row_number().over(wf))
        .where(F.col("__rn") <= 5)
        .select("probe_id", "cand_id", "r_lex", "r_vec",
                half_up(F.col("rrf_d").cast("double")).alias("rrf"))
        .orderBy("probe_id", "cand_id")
    )


# --- NDCG@10 with md5-graded relevance --------------------------------------------------------
# Ranking-quality eval: graded relevance 0..3 per (probe, neighbor)
# from the md5 portable-randomness rule, DCG = sum (2^rel - 1) /
# log2(rank+1) with each term pre-rounded at 9dp and summed as
# DECIMAL(28,9); NDCG divides by the ideal ordering's DCG (same
# discipline). log2 inputs are the small integers 2..11 — identical
# libm calls on identical inputs, made safe by the 9dp pre-round.
_NDCG_SQL = """
    WITH ranked AS (
      SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(c.embedding::DOUBLE[],
                                                     p.embedding::DOUBLE[]), 6) DESC,
                        c.vec_id) AS r
      FROM embeddings p JOIN embeddings c
        ON p.vec_id % 50 = 0 AND c.vec_id <> p.vec_id),
    graded AS (
      SELECT probe_id, neighbor_id, r,
             CAST(CAST(concat('0x', substr(md5(CAST(probe_id AS VARCHAR) || ':' ||
                                           CAST(neighbor_id AS VARCHAR) || ':rel'), 1, 15))
                  AS BIGINT) % 4 AS BIGINT) AS rel
      FROM ranked WHERE r <= 10),
    dcg AS (
      SELECT probe_id,
             sum(CAST(floor((power(2.0, rel) - 1.0) / log2(r + 1.0)
                            * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000) AS dcg,
             CAST(sum(rel) AS BIGINT) AS rel_total
      FROM graded GROUP BY probe_id),
    ideal AS (
      SELECT probe_id,
             sum(CAST(floor((power(2.0, rel) - 1.0) / log2(ir + 1.0)
                            * 1000000000 + 0.5) AS DECIMAL(28,9)) / 1000000000) AS idcg
      FROM (SELECT probe_id, rel,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY rel DESC, neighbor_id) AS ir
            FROM graded)
      GROUP BY probe_id)
    SELECT d.probe_id, d.rel_total,
           floor(CAST(d.dcg AS DOUBLE) * 1000000 + 0.5) / 1000000 AS dcg,
           CASE WHEN CAST(i.idcg AS DOUBLE) = 0.0 THEN 0.0
                ELSE floor(CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE)
                           * 1000000 + 0.5) / 1000000 END AS ndcg
    FROM dcg d JOIN ideal i ON d.probe_id = i.probe_id
    ORDER BY d.probe_id
"""


@pq("ndcg_graded_eval", _NDCG_SQL)
def ndcg_graded_eval(spark, sf_dir):
    """NDCG@10 of the exact cosine ranking under md5-derived graded
    relevance (0..3) — the ranking-eval metric every retrieval stack
    reports, with DCG terms pre-rounded at 9dp and summed as DECIMAL
    so both engines fold identical decimals in any order. Plan: one
    broadcast-probe scan, two bounded per-probe windows (actual and
    ideal order), one keyed join."""
    emb = _t(spark, sf_dir, "embeddings")
    ranked = _cosine_rank(emb, None).where(F.col("r") <= 10)
    rel = (
        F.conv(F.substring(F.md5(F.concat_ws(":",
            F.col("probe_id").cast("string"),
            F.col("neighbor_id").cast("string"),
            F.lit("rel"))), 1, 15), 16, 10).cast("bigint") % 4
    ).cast("bigint")
    graded = ranked.select("probe_id", "neighbor_id", "r", rel.alias("rel"))

    def dterm(rank_col):
        raw = (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)) / F.log2(rank_col + F.lit(1.0))
        return F.floor(raw * 1_000_000_000 + F.lit(0.5)).cast("decimal(28,9)") / 1_000_000_000

    dcg = graded.groupBy("probe_id").agg(
        F.sum(dterm(F.col("r"))).alias("dcg_d"),
        F.sum(F.col("rel")).cast("bigint").alias("rel_total"),
    )
    wi = Window.partitionBy("probe_id").orderBy(F.col("rel").desc(), "neighbor_id")
    ideal = (
        graded.withColumn("ir", F.row_number().over(wi))
        .groupBy("probe_id")
        .agg(F.sum(dterm(F.col("ir"))).alias("idcg_d"))
    )
    return (
        dcg.join(ideal, "probe_id")
        .select(
            "probe_id", "rel_total",
            half_up(F.col("dcg_d").cast("double")).alias("dcg"),
            F.when(F.col("idcg_d").cast("double") == 0.0, F.lit(0.0))
            .otherwise(half_up(F.col("dcg_d").cast("double") / F.col("idcg_d").cast("double")))
            .alias("ndcg"),
        )
        .orderBy("probe_id")
    )


# =====================================================================
# Block B — lakehouse table semantics
# =====================================================================

# --- Iceberg-style manifest pruning audit ---------------------------------------------------
# Files = orders sharded by (order month, custkey % 4); the manifest
# holds per-file min/max stats. For each predicate in a fixed grid the
# audit reports how many files the manifest prunes, how many rows the
# surviving files scan, and how many rows actually match — the
# file-skipping effectiveness measurement behind every lakehouse
# OPTIMIZE decision. All exact integers.
_MANIFEST_SQL = """
    WITH files AS (
      SELECT strftime(o_orderdate, '%Y-%m') || '/' || CAST(o_custkey % 4 AS VARCHAR)
               AS file_id,
             min(o_orderdate) AS min_d, max(o_orderdate) AS max_d,
             min(o_custkey) AS min_c, max(o_custkey) AS max_c,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY 1),
    preds AS (
      SELECT * FROM (VALUES
        (1, TIMESTAMP '1996-01-01', TIMESTAMP '1996-07-01', NULL::BIGINT),
        (2, NULL::TIMESTAMP, NULL::TIMESTAMP, CAST(42 AS BIGINT)),
        (3, TIMESTAMP '1999-01-01', TIMESTAMP '2002-01-01', CAST(7 AS BIGINT))
      ) AS t(pred_id, d_lo, d_hi, ck)),
    audit AS (
      SELECT p.pred_id, f.file_id, f.n_rows,
             CASE WHEN (p.d_lo IS NULL OR f.max_d >= p.d_lo)
                   AND (p.d_hi IS NULL OR f.min_d <  p.d_hi)
                   AND (p.ck   IS NULL OR (f.min_c <= p.ck AND f.max_c >= p.ck))
                  THEN 1 ELSE 0 END AS survives
      FROM preds p CROSS JOIN files f),
    matched AS (
      SELECT p.pred_id, CAST(count(*) AS BIGINT) AS rows_matched
      FROM preds p JOIN orders o
        ON (p.d_lo IS NULL OR o.o_orderdate >= p.d_lo)
       AND (p.d_hi IS NULL OR o.o_orderdate <  p.d_hi)
       AND (p.ck   IS NULL OR o.o_custkey = p.ck)
      GROUP BY 1)
    SELECT a.pred_id,
           CAST(count(*) AS BIGINT) AS files_total,
           CAST(sum(1 - a.survives) AS BIGINT) AS files_pruned,
           CAST(sum(a.survives * a.n_rows) AS BIGINT) AS rows_scanned,
           coalesce(any_value(m.rows_matched), 0) AS rows_matched
    FROM audit a LEFT JOIN matched m ON a.pred_id = m.pred_id
    GROUP BY a.pred_id
    ORDER BY a.pred_id
"""


@pq("manifest_pruning_audit", _MANIFEST_SQL)
def manifest_pruning_audit(spark, sf_dir):
    """Manifest-level file-skipping audit: per-file min/max stats over
    (month, custkey%4) shards of orders, a fixed 3-predicate grid, and
    per predicate the pruned-file count, surviving scan rows, and true
    match count — the measurement that tells you whether a layout's
    zone maps actually bite (100-TB scans live or die on this). Plan:
    one hash agg to the manifest (bounded: months x 4 files), a
    broadcast 3-row predicate grid, one distributed recount for the
    truth column."""
    o = _t(spark, sf_dir, "orders")
    files = o.groupBy(
        F.concat_ws(
            "/", F.date_format("o_orderdate", "yyyy-MM"),
            (F.col("o_custkey") % 4).cast("string"),
        ).alias("file_id")
    ).agg(
        F.min("o_orderdate").alias("min_d"), F.max("o_orderdate").alias("max_d"),
        F.min("o_custkey").alias("min_c"), F.max("o_custkey").alias("max_c"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    preds = spark.createDataFrame(
        [
            (1, "1996-01-01", "1996-07-01", None),
            (2, None, None, 42),
            (3, "1999-01-01", "2002-01-01", 7),
        ],
        "pred_id int, d_lo string, d_hi string, ck long",
    ).select(
        "pred_id",
        F.col("d_lo").cast("timestamp").alias("d_lo"),
        F.col("d_hi").cast("timestamp").alias("d_hi"),
        "ck",
    )
    survives = (
        ((F.col("d_lo").isNull()) | (F.col("max_d") >= F.col("d_lo")))
        & ((F.col("d_hi").isNull()) | (F.col("min_d") < F.col("d_hi")))
        & ((F.col("ck").isNull()) | ((F.col("min_c") <= F.col("ck")) & (F.col("max_c") >= F.col("ck"))))
    ).cast("int")
    audit = files.crossJoin(F.broadcast(preds)).select(
        "pred_id", "n_rows", survives.alias("survives")
    )
    matched = (
        o.crossJoin(F.broadcast(preds))
        .where(
            ((F.col("d_lo").isNull()) | (F.col("o_orderdate") >= F.col("d_lo")))
            & ((F.col("d_hi").isNull()) | (F.col("o_orderdate") < F.col("d_hi")))
            & ((F.col("ck").isNull()) | (F.col("o_custkey") == F.col("ck")))
        )
        .groupBy("pred_id")
        .agg(F.count("*").cast("bigint").alias("rows_matched"))
    )
    return (
        audit.groupBy("pred_id")
        .agg(
            F.count("*").cast("bigint").alias("files_total"),
            F.sum(1 - F.col("survives")).cast("bigint").alias("files_pruned"),
            F.sum(F.col("survives") * F.col("n_rows")).cast("bigint").alias("rows_scanned"),
        )
        .join(matched, "pred_id", "left")
        .select(
            "pred_id", "files_total", "files_pruned", "rows_scanned",
            F.coalesce("rows_matched", F.lit(0)).cast("bigint").alias("rows_matched"),
        )
        .orderBy("pred_id")
    )


# --- Delta-style transaction-log replay ------------------------------------------------------
# A deterministic action log over month-files of orders: v0 adds every
# month file, v1 compacts 1995 (removes its 12 files, adds one
# compacted file), v2 removes the two largest 1996 files (by rows,
# file_id tie-break). Snapshot state at each version = adds minus
# removes replayed cumulatively — the log-structured table semantics
# of Delta/Iceberg, where "the table" is a fold over the action log.
_LOGREPLAY_SQL = """
    WITH mf AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    log AS (
      SELECT 0 AS version, 'add' AS action, file_id, n_rows, cents FROM mf
      UNION ALL
      SELECT 1, 'remove', file_id, n_rows, cents FROM mf WHERE file_id LIKE '1995-%'
      UNION ALL
      SELECT 1, 'add', 'compact-1995',
             CAST(sum(n_rows) AS BIGINT), CAST(sum(cents) AS BIGINT)
      FROM mf WHERE file_id LIKE '1995-%'
      UNION ALL
      SELECT 2, 'remove', file_id, n_rows, cents FROM (
        SELECT * FROM mf WHERE file_id LIKE '1996-%'
        ORDER BY n_rows DESC, file_id LIMIT 2)),
    versions AS (SELECT DISTINCT version FROM log),
    live AS (
      SELECT v.version, l.file_id, l.n_rows, l.cents
      FROM versions v JOIN log l
        ON l.version <= v.version AND l.action = 'add'
      WHERE NOT EXISTS (
        SELECT 1 FROM log r
        WHERE r.action = 'remove' AND r.file_id = l.file_id
          AND r.version <= v.version))
    SELECT version,
           CAST(count(*) AS BIGINT) AS live_files,
           CAST(sum(n_rows) AS BIGINT) AS total_rows,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM live GROUP BY version ORDER BY version
"""


@pq("delta_log_replay", _LOGREPLAY_SQL)
def delta_log_replay(spark, sf_dir):
    """Transaction-log replay: a deterministic add/remove action log
    over month-files of orders (v0 full add, v1 compaction of 1995,
    v2 removal of the two largest 1996 files) folds to the live file
    set at each version — the table-state reconstruction every
    log-structured lakehouse reader performs. Conservation pin: v1's
    compaction must keep total_rows/total_cents identical to v0. Plan:
    one hash agg to month files (bounded), the log and replay are
    joins over that bounded file table."""
    from etl_mini_spark.session import pin

    o = _t(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    # the month-file table (~7 years x 12 rows) is referenced by every
    # branch of the action-log union AND by versions/adds/removes over
    # that union; unpinned: 0.87 s vs 0.53 s at sf0.1
    mf = pin(o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("file_id")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(cents).cast("bigint").alias("cents"),
    ))
    adds0 = mf.select(F.lit(0).alias("version"), F.lit("add").alias("action"),
                      "file_id", "n_rows", "cents")
    m95 = mf.where(F.col("file_id").startswith("1995-"))
    rem1 = m95.select(F.lit(1).alias("version"), F.lit("remove").alias("action"),
                      "file_id", "n_rows", "cents")
    add1 = m95.agg(
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("cents"),
    ).select(F.lit(1).alias("version"), F.lit("add").alias("action"),
             F.lit("compact-1995").alias("file_id"), "n_rows", "cents")
    rem2 = (
        mf.where(F.col("file_id").startswith("1996-"))
        .orderBy(F.col("n_rows").desc(), "file_id").limit(2)
        .select(F.lit(2).alias("version"), F.lit("remove").alias("action"),
                "file_id", "n_rows", "cents")
    )
    log = adds0.unionByName(rem1).unionByName(add1).unionByName(rem2)
    versions = log.select("version").distinct()
    adds = log.where(F.col("action") == "add").select(
        F.col("version").alias("av"), "file_id", "n_rows", "cents"
    )
    removes = log.where(F.col("action") == "remove").select(
        F.col("version").alias("rv"), F.col("file_id").alias("rfile")
    )
    live = (
        versions.join(adds, F.col("av") <= F.col("version"))
        .join(
            removes,
            (F.col("rfile") == F.col("file_id")) & (F.col("rv") <= F.col("version")),
            "left_anti",
        )
    )
    return (
        live.groupBy("version")
        .agg(
            F.count("*").cast("bigint").alias("live_files"),
            F.sum("n_rows").cast("bigint").alias("total_rows"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .orderBy("version")
    )


# --- Bitemporal (valid-time x transaction-time) snapshot queries ------------------------------
# Each customer's "current order" is valid from its o_orderdate until
# the customer's next order (valid time); the fact became KNOWN at its
# transaction batch (tx = o_orderkey % 3 — a deterministic 3-batch
# load schedule). An as-of grid of (valid_ts, tx_batch) points asks:
# how many customer-current-order facts were in force at valid_ts AS
# KNOWN BY tx_batch, and their total cents — the bitemporal question
# ("what did we think the world looked like then") that SCD2 alone
# cannot answer.
_BITEMPORAL_SQL = """
    WITH facts AS (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             o_orderdate AS vt_from,
             o_orderkey % 3 AS tx
      FROM orders),
    grid AS (
      SELECT * FROM (VALUES
        (TIMESTAMP '1996-06-15', 0), (TIMESTAMP '1996-06-15', 2),
        (TIMESTAMP '1999-01-01', 1), (TIMESTAMP '2001-07-01', 2)
      ) AS g(vt, tx_max)),
    known AS (
      SELECT g.vt, g.tx_max, f.o_custkey, f.o_orderkey, f.cents, f.vt_from,
             coalesce(lead(f.vt_from) OVER (PARTITION BY g.vt, g.tx_max, f.o_custkey
                                            ORDER BY f.vt_from, f.o_orderkey),
                      TIMESTAMP '9999-12-31') AS vt_to
      FROM grid g JOIN facts f ON f.tx <= g.tx_max)
    SELECT strftime(vt, '%Y-%m-%d') AS vt, tx_max,
           CAST(count(*) AS BIGINT) AS n_current,
           CAST(sum(cents) AS BIGINT) AS cents_current
    FROM known
    WHERE vt_from <= vt AND vt < vt_to
    GROUP BY 1, 2 ORDER BY 1, 2
"""


@pq("bitemporal_snapshot_query", _BITEMPORAL_SQL)
def bitemporal_snapshot_query(spark, sf_dir):
    """Bitemporal as-of snapshots: valid time from each customer's
    order succession, transaction time from a deterministic 3-batch
    load schedule (orderkey % 3); the (valid_ts, tx_batch) grid
    reports facts in force at valid_ts AS KNOWN at tx_batch. The
    valid-to horizon is recomputed per tx snapshot (lead over only the
    facts known by then) — the defining bitemporal subtlety: later
    batches REWRITE history's shape. Plan: 4-row grid broadcast onto
    one fact scan, one keyed window per snapshot, one hash agg."""
    o = _t(spark, sf_dir, "orders")
    facts = o.select(
        "o_custkey", "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        F.col("o_orderdate").alias("vt_from"),
        (F.col("o_orderkey") % 3).alias("tx"),
    )
    grid = spark.createDataFrame(
        [("1996-06-15", 0), ("1996-06-15", 2), ("1999-01-01", 1), ("2001-07-01", 2)],
        "vt string, tx_max int",
    ).select(F.col("vt").cast("timestamp").alias("vt"), "tx_max")
    w = Window.partitionBy("vt", "tx_max", "o_custkey").orderBy("vt_from", "o_orderkey")
    known = (
        facts.join(F.broadcast(grid), F.col("tx") <= F.col("tx_max"))
        .withColumn(
            "vt_to",
            F.coalesce(F.lead("vt_from").over(w), F.lit("9999-12-31").cast("timestamp")),
        )
    )
    return (
        known.where((F.col("vt_from") <= F.col("vt")) & (F.col("vt") < F.col("vt_to")))
        .groupBy(F.date_format("vt", "yyyy-MM-dd").alias("vt"), "tx_max")
        .agg(
            F.count("*").cast("bigint").alias("n_current"),
            F.sum("cents").cast("bigint").alias("cents_current"),
        )
        .orderBy("vt", "tx_max")
    )


def _modal_priority(o, lo: str, hi: str):
    """Each customer's modal order priority in [lo, hi) — count DESC,
    priority ASC tie-break. Shared by the SCD2+SCD6 composition and
    the late-arriving-dimension entry (one rule, one place)."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("__c").desc(), "o_orderpriority")
    return (
        o.where((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy("o_custkey", "o_orderpriority")
        .agg(F.count("*").alias("__c"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("seg"))
    )


# --- Composed SCD2 + SCD6 dimension maintenance -----------------------------------------------
# Two sequential change batches (each customer's modal order priority
# in 1996, then in 1998 — count DESC, priority ASC tie-break) apply to
# the customer dimension as SCD2 history rows AND an SCD6 current-
# value column carried on every history row: the hybrid dimension
# pattern (Kimball type 6) that lets point-in-time joins AND
# current-attribute filters share one table. Versions compose — a
# customer may change in either batch, both, or neither.
_SCD6C_SQL = """
    WITH b1 AS (
      SELECT o_custkey, o_orderpriority AS seg FROM (
        SELECT o_custkey, o_orderpriority, count(*) AS c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                      AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2) WHERE rn = 1),
    b2 AS (
      SELECT o_custkey, o_orderpriority AS seg FROM (
        SELECT o_custkey, o_orderpriority, count(*) AS c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                      AND o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY 1, 2) WHERE rn = 1),
    versions AS (
      SELECT c_custkey, '1995-01-01' AS valid_from, c_mktsegment AS seg
      FROM customer
      UNION ALL
      SELECT c_custkey, '1997-01-01', b1.seg
      FROM customer JOIN b1 ON b1.o_custkey = c_custkey
      UNION ALL
      SELECT c_custkey, '1999-01-01', b2.seg
      FROM customer JOIN b2 ON b2.o_custkey = c_custkey),
    hist AS (
      SELECT c_custkey, valid_from, seg,
             row_number() OVER (PARTITION BY c_custkey ORDER BY valid_from) AS version,
             coalesce(lead(valid_from) OVER (PARTITION BY c_custkey ORDER BY valid_from),
                      '9999-12-31') AS valid_to,
             last_value(seg) OVER (PARTITION BY c_custkey ORDER BY valid_from
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS current_seg
      FROM versions)
    SELECT c_custkey, CAST(version AS BIGINT) AS version, valid_from, valid_to,
           seg, current_seg, valid_to = '9999-12-31' AS is_current
    FROM hist
    ORDER BY c_custkey, version
"""


@pq("scd2_scd6_composed", _SCD6C_SQL)
def scd2_scd6_composed(spark, sf_dir):
    """SCD2 history + SCD6 current-value column composed over two
    sequential change batches (modal 1996 priority, then modal 1998
    priority per customer): every history row carries its own
    valid_from/valid_to AND the dimension's CURRENT value — the
    Kimball type-6 hybrid that serves point-in-time joins and
    current-attribute filters from one table. Plan: two keyed modal
    aggs, one left-join pass over the dimension that EXPLODES each
    customer's 1-3 version rows in place (the previous three-way
    self-union re-scanned the customer table once per branch; the
    inner joins become null-filtered array entries — identical rows
    because a modal seg is never NULL), one partitioned window for
    valid_to/version/current — no driver loops, applies at any
    dimension scale. The custkey-keyed left joins leave the rows
    clustered on the window's partition key (guide 2.4)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    b1 = _modal_priority(o, "1996-01-01", "1997-01-01")
    b2 = _modal_priority(o, "1998-01-01", "1999-01-01")
    versions = (
        c.join(b1.select(F.col("o_custkey").alias("c_custkey"),
                         F.col("seg").alias("__seg1")), "c_custkey", "left")
        .join(b2.select(F.col("o_custkey").alias("c_custkey"),
                        F.col("seg").alias("__seg2")), "c_custkey", "left")
        .select(
            "c_custkey",
            F.explode(F.filter(
                F.array(
                    F.struct(F.lit("1995-01-01").alias("valid_from"),
                             F.col("c_mktsegment").alias("seg")),
                    F.struct(F.lit("1997-01-01").alias("valid_from"),
                             F.col("__seg1").alias("seg")),
                    F.struct(F.lit("1999-01-01").alias("valid_from"),
                             F.col("__seg2").alias("seg")),
                ),
                lambda s: s["seg"].isNotNull(),
            )).alias("__v"),
        )
        .select("c_custkey", F.col("__v.valid_from").alias("valid_from"),
                F.col("__v.seg").alias("seg"))
    )
    wv = Window.partitionBy("c_custkey").orderBy("valid_from")
    wall = wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist = versions.select(
        "c_custkey", "valid_from", "seg",
        F.row_number().over(wv).cast("bigint").alias("version"),
        F.coalesce(F.lead("valid_from").over(wv), F.lit("9999-12-31")).alias("valid_to"),
        F.last("seg").over(wall).alias("current_seg"),
    )
    return hist.select(
        "c_custkey", "version", "valid_from", "valid_to", "seg", "current_seg",
        (F.col("valid_to") == "9999-12-31").alias("is_current"),
    ).orderBy("c_custkey", "version")


# --- Snapshot-isolation commit-log conflict resolution ----------------------------------------
# Ten writer attempts over the checkpoint table, each declaring the
# snapshot it read (number of commits visible) and the custkey%10
# bucket range it writes. First-committer-wins snapshot isolation:
# an attempt aborts iff a SUCCESSFUL earlier attempt with commit
# sequence AFTER the reader's snapshot overlaps its write set. The
# resolution is inherently sequential — the oracle folds it with a
# recursive CTE over the attempt grid; the Spark side resolves it the
# way a real commit coordinator does (a metadata-only fold over the
# bounded attempt log — NO data rows involved) and then joins the
# surviving commits to distributed per-bucket aggregates.
_SNAPISO_SQL = """
    WITH RECURSIVE att(i, snap, lo, hi) AS (
      SELECT * FROM (VALUES
        (1, 0, 0, 2), (2, 0, 3, 5), (3, 1, 1, 3), (4, 2, 6, 8),
        (5, 2, 4, 6), (6, 3, 0, 0), (7, 3, 9, 9), (8, 5, 2, 4),
        (9, 5, 7, 9), (10, 6, 5, 5)) t),
    rec AS (
      SELECT 0 AS i, CAST([] AS INT[]) AS seqs, CAST([] AS INT[]) AS los,
             CAST([] AS INT[]) AS his, CAST([] AS BOOLEAN[]) AS status
      UNION ALL
      SELECT a.i,
             CASE WHEN ok THEN list_append(r.seqs, len(r.seqs) + 1) ELSE r.seqs END,
             CASE WHEN ok THEN list_append(r.los, a.lo) ELSE r.los END,
             CASE WHEN ok THEN list_append(r.his, a.hi) ELSE r.his END,
             list_append(r.status, ok)
      FROM rec r JOIN att a ON a.i = r.i + 1,
      LATERAL (SELECT len(list_filter(range(1, len(r.seqs) + 1),
                 k -> r.seqs[k] > a.snap
                      AND NOT (a.hi < r.los[k] OR a.lo > r.his[k]))) = 0 AS ok) x),
    final AS (SELECT status FROM rec WHERE i = 10),
    bucket AS (
      SELECT o_custkey % 10 AS b, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1)
    SELECT a.i AS attempt, a.snap, a.lo, a.hi, f.status[a.i] AS committed,
           CASE WHEN f.status[a.i]
                THEN (SELECT CAST(sum(n) AS BIGINT) FROM bucket
                      WHERE b BETWEEN a.lo AND a.hi) ELSE 0 END AS rows_written,
           CASE WHEN f.status[a.i]
                THEN (SELECT CAST(sum(cents) AS BIGINT) FROM bucket
                      WHERE b BETWEEN a.lo AND a.hi) ELSE 0 END AS cents_written
    FROM att a, final f
    ORDER BY a.i
"""

_SNAPISO_ATTEMPTS = [
    (1, 0, 0, 2), (2, 0, 3, 5), (3, 1, 1, 3), (4, 2, 6, 8),
    (5, 2, 4, 6), (6, 3, 0, 0), (7, 3, 9, 9), (8, 5, 2, 4),
    (9, 5, 7, 9), (10, 6, 5, 5),
]


def resolve_snapshot_isolation(attempts):
    """First-committer-wins fold over a bounded commit-attempt log:
    (attempt_id, read_snapshot, write_lo, write_hi) -> committed flag.
    Pure metadata arithmetic — exactly what a lakehouse commit
    coordinator evaluates per attempt; never touches data rows, so it
    is O(attempts^2) at ANY table scale."""
    committed = []  # (commit_seq, lo, hi)
    out = []
    for i, snap, lo, hi in attempts:
        ok = not any(
            seq > snap and not (hi < clo or lo > chi)
            for seq, clo, chi in committed
        )
        if ok:
            committed.append((len(committed) + 1, lo, hi))
        out.append((i, snap, lo, hi, ok))
    return out


@pq("checkpoint_snapshot_isolation", _SNAPISO_SQL)
def checkpoint_snapshot_isolation(spark, sf_dir):
    """Snapshot-isolation conflict resolution over a 10-attempt commit
    log (first-committer-wins: abort iff a successful commit AFTER the
    attempt's read snapshot overlaps its bucket write range), with the
    surviving commits joined to distributed per-bucket row/cents
    aggregates. The resolution itself is a metadata-only fold over the
    bounded log — the coordinator never touches data rows; the oracle
    replays the identical fold with a recursive CTE."""
    o = _t(spark, sf_dir, "orders")
    resolved = spark.createDataFrame(
        resolve_snapshot_isolation(_SNAPISO_ATTEMPTS),
        "attempt int, snap int, lo int, hi int, committed boolean",
    )
    bucket = o.groupBy((F.col("o_custkey") % 10).alias("b")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("cents"),
    )
    joined = (
        resolved.join(
            bucket,
            (F.col("b") >= F.col("lo")) & (F.col("b") <= F.col("hi")) & F.col("committed"),
            "left",
        )
        .groupBy("attempt", "snap", "lo", "hi", "committed")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("rows_written"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("cents_written"),
        )
    )
    return joined.orderBy("attempt")


# --- Late-arriving dimension attribution ------------------------------------------------------
# The 1997 segment change (modal 1996 priority) ARRIVES 60 days late
# (1997-03-01). Facts loaded before the arrival attribute to the old
# version; the reprocessing pass re-attributes with full knowledge.
# Output per segment label: initially attributed cents, corrected
# cents, and the delta — the measurement that tells a warehouse team
# how much a late dimension shifted reported numbers.
_LATEDIM_SQL = """
    WITH b1 AS (
      SELECT o_custkey, o_orderpriority AS seg FROM (
        SELECT o_custkey, o_orderpriority, count(*) AS c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY count(*) DESC, o_orderpriority) AS rn
        FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                      AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY 1, 2) WHERE rn = 1),
    dimlog AS (
      SELECT c_custkey, TIMESTAMP '1995-01-01' AS valid_from,
             TIMESTAMP '1995-01-01' AS arrived, c_mktsegment AS seg
      FROM customer
      UNION ALL
      SELECT c_custkey, TIMESTAMP '1997-01-01', TIMESTAMP '1997-03-01', b1.seg
      FROM customer JOIN b1 ON b1.o_custkey = c_custkey),
    facts AS (
      SELECT o_orderkey AS fid, o_custkey, o_orderdate,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate <  TIMESTAMP '1997-07-01'),
    attributed AS (
      SELECT f.cents,
             max_by(d.seg, d.valid_from)
               FILTER (WHERE d.arrived <= f.o_orderdate) AS seg_initial,
             max_by(d.seg, d.valid_from) AS seg_corrected
      FROM facts f JOIN dimlog d
        ON d.c_custkey = f.o_custkey AND d.valid_from <= f.o_orderdate
      GROUP BY f.fid, f.cents),
    labels AS (
      SELECT DISTINCT seg_initial AS seg FROM attributed
      UNION SELECT DISTINCT seg_corrected FROM attributed),
    init AS (
      SELECT seg_initial AS seg, CAST(sum(cents) AS BIGINT) AS initial_cents
      FROM attributed GROUP BY 1),
    corr AS (
      SELECT seg_corrected AS seg, CAST(sum(cents) AS BIGINT) AS corrected_cents
      FROM attributed GROUP BY 1)
    SELECT l.seg,
           coalesce(i.initial_cents, 0) AS initial_cents,
           coalesce(c.corrected_cents, 0) AS corrected_cents
    FROM labels l
    LEFT JOIN init i ON i.seg = l.seg
    LEFT JOIN corr c ON c.seg = l.seg
    ORDER BY l.seg
"""


@pq("late_arriving_dimension", _LATEDIM_SQL)
def late_arriving_dimension(spark, sf_dir):
    """Late-arriving dimension audit: the 1997 segment version arrives
    1997-03-01 (60 days late), so facts loaded before then attributed
    to the superseded version; per segment label the initially-
    attributed cents vs the reprocessed (arrival-blind) cents quantify
    the restatement. Plan: the dim log is customer-keyed (bounded
    versions/key), attribution is one keyed join + max_by per fact —
    the as-of shape, no windows over the fact table."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    b1 = _modal_priority(o, "1996-01-01", "1997-01-01")
    dimlog = (
        c.select(
            "c_custkey",
            F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
            F.lit("1995-01-01").cast("timestamp").alias("arrived"),
            F.col("c_mktsegment").alias("seg"),
        )
        .unionByName(
            c.join(b1, c.c_custkey == b1.o_custkey).select(
                "c_custkey",
                F.lit("1997-01-01").cast("timestamp").alias("valid_from"),
                F.lit("1997-03-01").cast("timestamp").alias("arrived"),
                "seg",
            )
        )
    )
    facts = (
        o.where((F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01"))
        .select(
            F.col("o_orderkey").alias("fid"),
            "o_custkey", "o_orderdate",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
    )
    attributed = (
        facts.join(dimlog, (F.col("c_custkey") == F.col("o_custkey"))
                   & (F.col("valid_from") <= F.col("o_orderdate")))
        .groupBy("fid", "cents")
        .agg(
            F.max_by("seg", F.when(F.col("arrived") <= F.col("o_orderdate"),
                                   F.col("valid_from"))).alias("seg_initial"),
            F.max_by("seg", "valid_from").alias("seg_corrected"),
        )
    )
    # one pass over attributed: the labels/init/corr triple used to
    # reference the fact-join aggregate FOUR times (labels twice, one
    # per side aggregate), re-running it per reference (guide 2.4).
    # Exploding each row into its (seg, side, cents) pair and summing
    # with side filters reproduces the label set (a seg seen on only
    # one side gets 0 on the other, exactly the old left joins) in a
    # single evaluation and one shuffle.
    sides = attributed.select(
        F.explode(
            F.array(
                F.struct(F.col("seg_initial").alias("seg"),
                         F.lit("i").alias("side"), F.col("cents")),
                F.struct(F.col("seg_corrected").alias("seg"),
                         F.lit("c").alias("side"), F.col("cents")),
            )
        ).alias("s")
    ).select("s.seg", "s.side", "s.cents")
    return (
        sides.groupBy("seg")
        .agg(
            F.coalesce(F.sum(F.when(F.col("side") == "i", F.col("cents"))), F.lit(0))
            .cast("bigint").alias("initial_cents"),
            F.coalesce(F.sum(F.when(F.col("side") == "c", F.col("cents"))), F.lit(0))
            .cast("bigint").alias("corrected_cents"),
        )
        .orderBy("seg")
    )


# =====================================================================
# Block C — entity resolution (Fellegi-Sunter)
# =====================================================================

# --- Fellegi-Sunter match weights over planted duplicates --------------------------------------
# A dirty copy of every custkey%5==0 customer is synthesized IN the
# query by md5 perturbation rules (segment swapped for ~20% of
# variants, acctbal jittered by up to +/-1.00 for ~30%, a derived
# 4-digit "phone" field corrupted for ~20%) — deterministic on both
# engines. Candidate pairs block on nationkey (original x variant);
# the TRUE pairs are (k, variant-of-k). m/u probabilities per field
# come from exact counts over true/false candidate pairs, and each
# agreement pattern's log2 weight folds 9dp-pre-rounded per-field
# terms — the Fellegi-Sunter linkage model, end to end.
_FS_FIELDS = """
      SELECT c_custkey AS k, c_nationkey AS nat, c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c,
             CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || ':ph'), 1, 15))
                  AS BIGINT) % 10000 AS BIGINT) AS phone
      FROM customer
"""
_FS_VARIANT = """
      SELECT k, nat,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || ':segv'), 1, 15))
                       AS BIGINT) % 10 < 2
                  THEN 'VARIED' ELSE seg END AS seg,
             bal_c + CASE WHEN CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || ':balv'), 1, 15))
                               AS BIGINT) % 10 < 3
                          THEN CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || ':balj'), 1, 15))
                               AS BIGINT) % 201 - 100 ELSE 0 END AS bal_c,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || ':phv'), 1, 15))
                       AS BIGINT) % 10 < 2
                  THEN (phone + 1111) % 10000 ELSE phone END AS phone
      FROM base WHERE k % 5 = 0
"""
_FS_SQL = f"""
    WITH base AS ({_FS_FIELDS}),
    var AS ({_FS_VARIANT}),
    cand AS (
      SELECT b.k AS a_key, v.k AS b_key,
             CASE WHEN b.seg = v.seg THEN 1 ELSE 0 END AS a_seg,
             CASE WHEN abs(b.bal_c - v.bal_c) <= 100 THEN 1 ELSE 0 END AS a_bal,
             CASE WHEN b.phone = v.phone THEN 1 ELSE 0 END AS a_ph,
             CASE WHEN b.k = v.k THEN 1 ELSE 0 END AS is_match
      FROM base b JOIN var v ON b.nat = v.nat),
    rates AS (
      SELECT sum(a_seg * is_match) AS m_seg_n, sum(is_match) AS m_d,
             sum(a_bal * is_match) AS m_bal_n, sum(a_ph * is_match) AS m_ph_n,
             sum(a_seg * (1 - is_match)) AS u_seg_n, sum(1 - is_match) AS u_d,
             sum(a_bal * (1 - is_match)) AS u_bal_n, sum(a_ph * (1 - is_match)) AS u_ph_n
      FROM cand),
    wts AS (
      -- Laplace-smoothed rates ((n+0.5)/(d+1), standard FS practice) so
      -- no field's log2 sees a zero at small blocking scales
      SELECT
        floor(log2(((m_seg_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_seg_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_seg_a,
        floor(log2(((m_d - m_seg_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_d - u_seg_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_seg_d,
        floor(log2(((m_bal_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_bal_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_bal_a,
        floor(log2(((m_d - m_bal_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_d - u_bal_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_bal_d,
        floor(log2(((m_ph_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_ph_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_ph_a,
        floor(log2(((m_d - m_ph_n + 0.5) * (u_d + 1)) / ((m_d + 1) * (u_d - u_ph_n + 0.5))) * 1e9 + 0.5) / 1e9 AS w_ph_d
      FROM rates)
    SELECT c.a_seg, c.a_bal, c.a_ph,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(c.is_match) AS BIGINT) AS n_true,
           floor((CASE WHEN c.a_seg = 1 THEN w.w_seg_a ELSE w.w_seg_d END
                + CASE WHEN c.a_bal = 1 THEN w.w_bal_a ELSE w.w_bal_d END
                + CASE WHEN c.a_ph = 1 THEN w.w_ph_a ELSE w.w_ph_d END)
                 * 1000000 + 0.5) / 1000000 AS weight
    FROM cand c, wts w
    GROUP BY c.a_seg, c.a_bal, c.a_ph, w.w_seg_a, w.w_seg_d, w.w_bal_a,
             w.w_bal_d, w.w_ph_a, w.w_ph_d
    ORDER BY c.a_seg, c.a_bal, c.a_ph
"""


def _fs_frames(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").alias("bal_c"),
        md5_mod(F.col("c_custkey"), ":ph", 10000).alias("phone"),
    )
    var = base.where(F.col("k") % 5 == 0).select(
        "k", "nat",
        F.when(md5_mod(F.col("k"), ":segv", 10) < 2, F.lit("VARIED"))
        .otherwise(F.col("seg")).alias("seg"),
        (F.col("bal_c") + F.when(md5_mod(F.col("k"), ":balv", 10) < 3,
                                 md5_mod(F.col("k"), ":balj", 201) - 100)
         .otherwise(F.lit(0))).alias("bal_c"),
        F.when(md5_mod(F.col("k"), ":phv", 10) < 2,
               (F.col("phone") + 1111) % 10000)
        .otherwise(F.col("phone")).alias("phone"),
    )
    a, v = base.alias("a"), var.alias("v")
    return a.join(v, F.col("a.nat") == F.col("v.nat")).select(
        F.col("a.k").alias("a_key"), F.col("v.k").alias("b_key"),
        (F.col("a.seg") == F.col("v.seg")).cast("int").alias("a_seg"),
        (F.abs(F.col("a.bal_c") - F.col("v.bal_c")) <= 100).cast("int").alias("a_bal"),
        (F.col("a.phone") == F.col("v.phone")).cast("int").alias("a_ph"),
        (F.col("a.k") == F.col("v.k")).cast("int").alias("is_match"),
    )


@pq("fellegi_sunter_weights", _FS_SQL)
def fellegi_sunter_weights(spark, sf_dir):
    """Fellegi-Sunter record-linkage weights over nationkey-blocked
    (original x synthesized-variant) candidate pairs: per-field m/u
    probabilities from exact counts over true/false pairs, per-pattern
    log2 weights folded from 9dp-pre-rounded agreement/disagreement
    terms — the probabilistic-linkage model (Fellegi & Sunter 1969)
    that splink-style ER stacks fit at scale. Plan: variant synthesis
    is pure Column md5 arithmetic, one blocked join (never all-pairs),
    one 1-row rate aggregate broadcast onto the pattern rollup."""
    from etl_mini_spark.session import pin

    # unpinned: 4.67 s vs 3.58 s at sf0.1 (er_threshold_quality, which
    # shares _fs_frames, ran 0.66 s unpinned vs 3.23 s pinned)
    cand = pin(_fs_frames(spark, sf_dir))
    rates = cand.agg(
        F.sum(F.col("a_seg") * F.col("is_match")).alias("m_seg_n"),
        F.sum("is_match").alias("m_d"),
        F.sum(F.col("a_bal") * F.col("is_match")).alias("m_bal_n"),
        F.sum(F.col("a_ph") * F.col("is_match")).alias("m_ph_n"),
        F.sum(F.col("a_seg") * (1 - F.col("is_match"))).alias("u_seg_n"),
        F.sum(1 - F.col("is_match")).alias("u_d"),
        F.sum(F.col("a_bal") * (1 - F.col("is_match"))).alias("u_bal_n"),
        F.sum(F.col("a_ph") * (1 - F.col("is_match"))).alias("u_ph_n"),
    )

    def w9(num, den):
        return F.floor(F.log2(num / den) * 1e9 + F.lit(0.5)) / 1e9

    # Laplace-smoothed rates ((n+0.5)/(d+1)) so no log2 sees a zero
    half, one = F.lit(0.5), F.lit(1)
    m_d1, u_d1 = F.col("m_d") + one, F.col("u_d") + one
    wts = rates.select(
        w9((F.col("m_seg_n") + half) * u_d1, m_d1 * (F.col("u_seg_n") + half)).alias("w_seg_a"),
        w9((F.col("m_d") - F.col("m_seg_n") + half) * u_d1,
           m_d1 * (F.col("u_d") - F.col("u_seg_n") + half)).alias("w_seg_d"),
        w9((F.col("m_bal_n") + half) * u_d1, m_d1 * (F.col("u_bal_n") + half)).alias("w_bal_a"),
        w9((F.col("m_d") - F.col("m_bal_n") + half) * u_d1,
           m_d1 * (F.col("u_d") - F.col("u_bal_n") + half)).alias("w_bal_d"),
        w9((F.col("m_ph_n") + half) * u_d1, m_d1 * (F.col("u_ph_n") + half)).alias("w_ph_a"),
        w9((F.col("m_d") - F.col("m_ph_n") + half) * u_d1,
           m_d1 * (F.col("u_d") - F.col("u_ph_n") + half)).alias("w_ph_d"),
    )
    pat = cand.groupBy("a_seg", "a_bal", "a_ph").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum("is_match").cast("bigint").alias("n_true"),
    )
    weight = (
        F.when(F.col("a_seg") == 1, F.col("w_seg_a")).otherwise(F.col("w_seg_d"))
        + F.when(F.col("a_bal") == 1, F.col("w_bal_a")).otherwise(F.col("w_bal_d"))
        + F.when(F.col("a_ph") == 1, F.col("w_ph_a")).otherwise(F.col("w_ph_d"))
    )
    return (
        pat.crossJoin(F.broadcast(wts))
        .select("a_seg", "a_bal", "a_ph", "n_pairs", "n_true",
                half_up(weight).alias("weight"))
        .orderBy("a_seg", "a_bal", "a_ph")
    )


# --- ER threshold quality vs planted truth ------------------------------------------------------
# Classify candidate pairs by total agreement count (0..3 — the
# integer skeleton of the FS weight, immune to float noise) and audit
# precision/recall/F1 against the planted truth at every threshold —
# the operating-point curve an ER pipeline is tuned on.
_ERQ_SQL = f"""
    WITH base AS ({_FS_FIELDS}),
    var AS ({_FS_VARIANT}),
    cand AS (
      SELECT CASE WHEN b.seg = v.seg THEN 1 ELSE 0 END
           + CASE WHEN abs(b.bal_c - v.bal_c) <= 100 THEN 1 ELSE 0 END
           + CASE WHEN b.phone = v.phone THEN 1 ELSE 0 END AS score,
             CASE WHEN b.k = v.k THEN 1 ELSE 0 END AS is_match
      FROM base b JOIN var v ON b.nat = v.nat),
    tot AS (SELECT CAST(sum(is_match) AS BIGINT) AS n_true FROM cand),
    th AS (SELECT unnest(range(0, 4)) AS threshold)
    SELECT t.threshold,
           CAST(count(*) AS BIGINT) AS n_predicted,
           CAST(sum(c.is_match) AS BIGINT) AS n_hit,
           floor(sum(c.is_match) * 1.0 / count(*) * 1000000 + 0.5) / 1000000
             AS precision,
           floor(sum(c.is_match) * 1.0 / any_value(o.n_true) * 1000000 + 0.5) / 1000000
             AS recall
    FROM th t JOIN cand c ON c.score >= t.threshold, tot o
    GROUP BY t.threshold
    ORDER BY t.threshold
"""


@pq("er_threshold_quality", _ERQ_SQL)
def er_threshold_quality(spark, sf_dir):
    """Precision/recall of the agreement-count classifier against the
    planted duplicate truth at thresholds 0..3 — the operating-point
    sweep an ER pipeline is tuned on, with the score kept an exact
    integer so the curve is engine-identical. Plan: one blocked join,
    a 4-row threshold grid broadcast, one hash agg."""
    cand = _fs_frames(spark, sf_dir).select(
        (F.col("a_seg") + F.col("a_bal") + F.col("a_ph")).alias("score"), "is_match"
    )
    tot = cand.agg(F.sum("is_match").cast("bigint").alias("n_true"))
    th = spark.range(0, 4).select(F.col("id").cast("int").alias("threshold"))
    return (
        cand.join(F.broadcast(th), F.col("score") >= F.col("threshold"))
        .crossJoin(F.broadcast(tot))
        .groupBy("threshold")
        .agg(
            F.count("*").cast("bigint").alias("n_predicted"),
            F.sum("is_match").cast("bigint").alias("n_hit"),
            half_up(F.sum("is_match") * 1.0 / F.count("*")).alias("precision"),
            half_up(F.sum("is_match") * 1.0 / F.any_value("n_true")).alias("recall"),
        )
        .orderBy("threshold")
    )


# =====================================================================
# Block D — finance / sequential recursions
# =====================================================================

# --- 1-D local-level Kalman filter --------------------------------------------------------------
# Constant-model Kalman over the daily revenue series (z = cents/100,
# one exact int->double conversion + one IEEE division): P' = P + Q;
# K = P'/(P'+R); x += K*(z-x); P = (1-K)*P'. Seeds x0 = first z,
# P0 = 1.0; Q=0.01, R=4.0 as 2dp literals. The whole trajectory is one
# IEEE sequence replayed identically by the recursive-CTE oracle —
# "incremental state estimation" with bit-exact parity.
_KALMAN_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, CAST(c AS DOUBLE) / 100.0 AS z,
                   row_number() OVER (ORDER BY d) AS i FROM daily),
    rec AS (
      SELECT i, d, z, z AS x, CAST(1.0 AS DOUBLE) AS p, CAST(0.0 AS DOUBLE) AS k
      FROM ser WHERE i = 1
      UNION ALL
      SELECT s.i, s.d, s.z,
             r.x + ((r.p + 0.01) / ((r.p + 0.01) + 4.0)) * (s.z - r.x),
             (1.0 - (r.p + 0.01) / ((r.p + 0.01) + 4.0)) * (r.p + 0.01),
             (r.p + 0.01) / ((r.p + 0.01) + 4.0)
      FROM rec r JOIN ser s ON s.i = r.i + 1)
    SELECT d,
           floor(x / 100.0 * 1000000 + 0.5) / 1000000 AS x_level,
           floor(k * 1000000 + 0.5) / 1000000 AS gain,
           floor(p * 1000000 + 0.5) / 1000000 AS p_var
    FROM rec ORDER BY d
"""


@pq("kalman_filter_1d", _KALMAN_SQL)
def kalman_filter_1d(spark, sf_dir):
    """Local-level Kalman filter over the daily revenue series —
    per-day filtered level, gain, and posterior variance, the exact
    IEEE recursion replayed by the oracle's recursive CTE. The series
    is calendar-bounded (days), so the sequential fold runs on a
    DRIVER-COLLECTED bounded series, with the day aggregation itself
    distributed (the accepted stream_holt class); at 100 TB the fact
    scan dominates and the recursion stays O(days)."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir).orderBy("d").collect()
    rows, x, p = [], None, 1.0
    for r in daily:
        z = r["c"] / 100.0
        if x is None:
            x, k = z, 0.0
        else:
            pp = p + 0.01
            k = pp / (pp + 4.0)
            x = x + k * (z - x)
            p = (1.0 - k) * pp
        rows.append((r["d"], x, k, p))
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["d", "x", "k", "p"])
    )
    return out.select(
        "d",
        half_up(F.col("x") / 100.0).alias("x_level"),
        half_up(F.col("k")).alias("gain"),
        half_up(F.col("p")).alias("p_var"),
    ).orderBy("d")


# --- IRR by bisection over a derived cashflow ----------------------------------------------------
# Cashflows: t=0 pays out the TOTAL 1995 order cents (the investment),
# t=1..10 receive the monthly 1996..(Oct 1996) order cents scaled so
# the IRR lands inside (0, 1). NPV terms cf_t * df are pre-rounded at
# 9dp and summed as DECIMAL(28,9), so every bisection SIGN decision is
# exact-decimal — branch divergence between engines is impossible; df
# accumulates by one division per period (identical IEEE sequence).
_IRR_SQL = """
    WITH RECURSIVE monthly AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS m,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1),
    cf AS (
      SELECT 0 AS t,
             -CAST((SELECT sum(cents) FROM monthly WHERE m LIKE '1995-%') / 4 AS BIGINT)
               AS cents
      UNION ALL
      SELECT CAST(row_number() OVER (ORDER BY m) AS INT), cents
      FROM monthly WHERE m >= '1996-01' AND m <= '1996-10'),
    rec AS (
      -- state: (iter, t, lo, hi, mid, df, npv-with-terms-0..t); t steps
      -- 0..10 inside each iteration, then the DECIMAL npv sign picks
      -- the half; the reset row re-seeds npv with the t=0 term
      SELECT 1 AS iter, 0 AS t, CAST(0.0 AS DOUBLE) AS lo,
             CAST(1.0 AS DOUBLE) AS hi, CAST(0.5 AS DOUBLE) AS mid,
             CAST(1.0 AS DOUBLE) AS df,
             CAST(floor(cents / 100.0 * 1e9 + 0.5) AS DECIMAL(28,9)) / 1e9 AS npv
      FROM cf WHERE t = 0
      UNION ALL
      SELECT CASE WHEN r.t = 10 THEN r.iter + 1 ELSE r.iter END,
             CASE WHEN r.t = 10 THEN 0 ELSE r.t + 1 END,
             CASE WHEN r.t < 10 THEN r.lo
                  WHEN r.npv > 0 THEN r.mid ELSE r.lo END,
             CASE WHEN r.t < 10 THEN r.hi
                  WHEN r.npv > 0 THEN r.hi ELSE r.mid END,
             CASE WHEN r.t < 10 THEN r.mid
                  WHEN r.npv > 0 THEN (r.mid + r.hi) / 2.0
                  ELSE (r.lo + r.mid) / 2.0 END,
             CASE WHEN r.t = 10 THEN 1.0 ELSE r.df / (1.0 + r.mid) END,
             CASE WHEN r.t = 10
                  THEN CAST(floor(c.cents / 100.0 * 1e9 + 0.5) AS DECIMAL(28,9)) / 1e9
                  ELSE r.npv + CAST(floor(c.cents * (r.df / (1.0 + r.mid))
                                          / 100.0 * 1e9 + 0.5) AS DECIMAL(28,9)) / 1e9
             END
      FROM rec r JOIN cf c
        ON c.t = CASE WHEN r.t = 10 THEN 0 ELSE r.t + 1 END
      WHERE r.iter <= 40)
    SELECT floor(mid * 1000000 + 0.5) / 1000000 AS irr,
           CAST(iter AS BIGINT) AS iters
    FROM rec WHERE iter = 41 AND t = 0
"""


@pq("irr_bisection_npv", _IRR_SQL)
def irr_bisection_npv(spark, sf_dir):
    """IRR of a derived 11-period cashflow by 40 bisection steps. The
    NPV at each step folds 9dp-pre-rounded DECIMAL terms, so the sign
    that picks each half is exact — no branch divergence is possible —
    and the discount factor accumulates by one IEEE division per
    period, identical on both engines. The monthly aggregation is
    distributed; the solve itself runs on the driver over the
    11-element collected cashflow (bounded by construction)."""
    from decimal import Decimal
    import math

    o = _t(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("m"))
        .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
             .cast("bigint").alias("cents"))
    )
    rows = {r["m"]: r["cents"] for r in monthly.collect()}
    inv = -(sum(v for k, v in rows.items() if k.startswith("1995-")) // 4)
    cf = [inv] + [rows[m] for m in sorted(rows) if "1996-01" <= m <= "1996-10"]
    lo, hi = 0.0, 1.0
    mid = 0.5
    for _ in range(40):
        df, npv = 1.0, Decimal(0)
        for t, cents in enumerate(cf):
            if t > 0:
                df = df / (1.0 + mid)
            npv += Decimal(math.floor(cents * df / 100.0 * 1e9 + 0.5)) / Decimal(10**9)
        if npv > 0:
            lo, mid = mid, (mid + hi) / 2.0
        else:
            hi, mid = mid, (lo + mid) / 2.0
    out = spark.createDataFrame([(mid, 41)], "irr double, iters long")
    return out.select(half_up(F.col("irr")).alias("irr"), "iters")


# --- Fixed-rate amortization schedule ------------------------------------------------------------
# Principal = total January-1995 order cents; rate 0.5%/month exactly
# (interest = HALF_UP(balance/200) = (balance+100) DIV 200 — pure
# integer arithmetic); payment from the annuity formula with
# (201/200)^24 built by explicit exponentiation-by-squaring (5 IEEE
# multiplies, identical both engines), HALF_UP to cents once. After
# that the ENTIRE 24-row schedule is exact BIGINT arithmetic; the
# last payment clears the residual balance exactly.
_AMORT_SQL = """
    WITH RECURSIVE p0 AS (
      SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS principal
      FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'),
    f AS (
      SELECT principal,
             ((CAST(1.005 AS DOUBLE) * CAST(1.005 AS DOUBLE))
              * (CAST(1.005 AS DOUBLE) * CAST(1.005 AS DOUBLE))) AS f4
      FROM p0),
    pay AS (
      SELECT principal,
             CAST(floor(CAST(principal AS DOUBLE) * 0.005
                        * (f4 * f4 * (f4 * f4 * f4 * f4))
                        / ((f4 * f4 * (f4 * f4 * f4 * f4)) - 1.0) + 0.5) AS BIGINT)
               AS payment
      FROM f),
    rec AS (
      SELECT 1 AS month, principal AS bal_before,
             (principal + 100) // 200 AS interest,
             payment - (principal + 100) // 200 AS princ_part,
             principal - (payment - (principal + 100) // 200) AS bal_after,
             payment
      FROM pay
      UNION ALL
      SELECT r.month + 1, r.bal_after,
             (r.bal_after + 100) // 200,
             CASE WHEN r.month + 1 = 24 THEN r.bal_after
                  ELSE r.payment - (r.bal_after + 100) // 200 END,
             CASE WHEN r.month + 1 = 24 THEN 0
                  ELSE r.bal_after - (r.payment - (r.bal_after + 100) // 200) END,
             r.payment
      FROM rec r WHERE r.month < 24)
    SELECT CAST(month AS BIGINT) AS month,
           CAST(bal_before AS BIGINT) AS bal_before,
           CAST(interest AS BIGINT) AS interest,
           CAST(princ_part AS BIGINT) AS principal_part,
           CAST(bal_after AS BIGINT) AS bal_after,
           CAST(CASE WHEN month = 24 THEN interest + princ_part ELSE payment END
                AS BIGINT) AS payment
    FROM rec ORDER BY month
"""


@pq("amortization_schedule", _AMORT_SQL)
def amortization_schedule(spark, sf_dir):
    """24-month fixed-rate amortization of the January-1995 order
    total: one annuity-formula payment (exponentiation-by-squaring,
    HALF_UP to cents once), then a pure BIGINT recursion — interest =
    (balance+100) DIV 200 — whose final payment clears the balance
    exactly. Distributed aggregation feeds a bounded driver fold (24
    rows), the round12 recursion discipline."""
    import pandas as pd

    o = _t(spark, sf_dir, "orders")
    principal = (
        o.where(F.date_format("o_orderdate", "yyyy-MM") == "1995-01")
        .agg(F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
             .cast("bigint").alias("p"))
        .collect()[0]["p"]
    )
    f4 = (1.005 * 1.005) * (1.005 * 1.005)
    f24 = f4 * f4 * (f4 * f4 * f4 * f4)
    import math
    payment = int(math.floor(principal * 0.005 * f24 / (f24 - 1.0) + 0.5))
    rows, bal = [], principal
    for m in range(1, 25):
        interest = (bal + 100) // 200
        if m == 24:
            princ_part, pay = bal, interest + bal
        else:
            princ_part, pay = payment - interest, payment
        rows.append((m, bal, interest, princ_part, bal - princ_part, pay))
        bal -= princ_part
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=[
            "month", "bal_before", "interest", "principal_part", "bal_after", "payment"
        ])
    )
    return out.select(*[F.col(c).cast("bigint").alias(c) for c in out.columns]).orderBy("month")


# --- Bond duration / convexity --------------------------------------------------------------------
# A 5-year semiannual 3% bond priced at 2%/period yield: PV terms
# cf_t * 1.02^-t pre-rounded at 9dp (pow on identical literal inputs),
# summed as DECIMAL; Macaulay duration, modified duration, and
# convexity are DECIMAL ratios pinned at 6dp. Face value scales with
# the data (total 1995-01 cents) so the entry is data-driven without
# touching the float discipline.
_BOND_SQL = """
    WITH face AS (
      -- face value scaled down 1000x: keeps every 6dp-pre-rounded PV
      -- fold's floor argument < 2^63 up to sf1000 (still data-driven)
      SELECT CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) // 1000
               AS BIGINT) AS fv
      FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-01'),
    per AS (SELECT unnest(range(1, 11)) AS t),
    cf AS (
      SELECT p.t,
             CAST((f.fv * 15 + 500) // 1000 AS BIGINT)
               + CASE WHEN p.t = 10 THEN f.fv ELSE 0 END AS cents
      FROM per p, face f),
    pv AS (
      SELECT t, cents,
             CAST(floor(cents * power(1.02, -t) / 100.0 * 1e6 + 0.5)
                  AS DECIMAL(38,6)) / 1e6 AS pv_d,
             CAST(floor(t * cents * power(1.02, -t) / 100.0 * 1e6 + 0.5)
                  AS DECIMAL(38,6)) / 1e6 AS tpv_d,
             CAST(floor(t * (t + 1) * cents * power(1.02, -t) / 100.0 * 1e6 + 0.5)
                  AS DECIMAL(38,6)) / 1e6 AS ttpv_d
      FROM cf),
    agg AS (
      SELECT CAST(sum(pv_d) AS DOUBLE) AS price,
             CAST(sum(tpv_d) AS DOUBLE) AS tpv,
             CAST(sum(ttpv_d) AS DOUBLE) AS ttpv
      FROM pv)
    SELECT floor(price * 100 + 0.5) / 100 AS price,
           floor(tpv / price / 2.0 * 1000000 + 0.5) / 1000000 AS macaulay_yr,
           floor(tpv / price / 2.0 / 1.02 * 1000000 + 0.5) / 1000000 AS modified_yr,
           floor(ttpv / price / (1.02 * 1.02) / 4.0 * 1000000 + 0.5) / 1000000
             AS convexity_yr2
    FROM agg
"""


@pq("bond_duration_convexity", _BOND_SQL)
def bond_duration_convexity(spark, sf_dir):
    """Price, Macaulay/modified duration, and convexity of a 5-year
    semiannual 3% bond at 2%/period yield, face value = total Jan-1995
    order cents: PV terms pre-rounded at 9dp and folded as DECIMAL, so
    the three ratio statistics are engine-exact at the 6dp pin. Plan:
    one distributed agg for the face value; the 10-period grid is a
    broadcast scalar table."""
    o = _t(spark, sf_dir, "orders")
    face = (
        o.where(F.date_format("o_orderdate", "yyyy-MM") == "1995-01")
        .agg(F.floor(
            F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")) / 1000
        ).cast("bigint").alias("fv"))
    )
    per = spark.range(1, 11).select(F.col("id").cast("int").alias("t"))
    cf = per.crossJoin(F.broadcast(face)).select(
        "t",
        (((F.col("fv") * 15 + 500) / 1000).cast("bigint")
         + F.when(F.col("t") == 10, F.col("fv")).otherwise(F.lit(0))).alias("cents"),
    )

    def d9(expr):
        # 6dp pre-round on the 1000x-scaled face: floor arguments stay
        # under 2^63 (Spark's floor(double) -> long) up to sf1000
        return F.floor(expr * 1e6 + F.lit(0.5)).cast("decimal(38,6)") / 1e6

    dfac = F.pow(F.lit(1.02), -F.col("t"))
    pv = cf.select(
        d9(F.col("cents") * dfac / 100.0).alias("pv_d"),
        d9(F.col("t") * F.col("cents") * dfac / 100.0).alias("tpv_d"),
        d9(F.col("t") * (F.col("t") + 1) * F.col("cents") * dfac / 100.0).alias("ttpv_d"),
    )
    agg = pv.agg(
        F.sum("pv_d").cast("double").alias("price"),
        F.sum("tpv_d").cast("double").alias("tpv"),
        F.sum("ttpv_d").cast("double").alias("ttpv"),
    )
    return agg.select(
        (F.floor(F.col("price") * 100 + F.lit(0.5)) / 100).alias("price"),
        half_up(F.col("tpv") / F.col("price") / 2.0).alias("macaulay_yr"),
        half_up(F.col("tpv") / F.col("price") / 2.0 / 1.02).alias("modified_yr"),
        half_up(F.col("ttpv") / F.col("price") / (1.02 * 1.02) / 4.0).alias("convexity_yr2"),
    )


# =====================================================================
# Block E — multivariate statistics / ML
# =====================================================================

# --- Two-predictor OLS via normal equations -----------------------------------------------------
# Daily revenue cents regressed on (order count, distinct customers):
# every moment sum is an exact BIGINT from one hash agg; the 3x3
# normal-equation solve is closed-form Cramer arithmetic on the
# once-converted doubles — one identical IEEE sequence on both
# engines, no iterative fitting, no libm. The 100-TB shape: moments
# are ONE distributed agg; the solve is O(1) driver arithmetic.
_OLS2_SQL = """
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS d,
             CAST(count(*) AS BIGINT) AS x1,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS x2,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS y
      FROM orders GROUP BY 1),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x1 * x1) AS HUGEINT) AS sx1x1,
             CAST(sum(x1 * x2) AS HUGEINT) AS sx1x2,
             CAST(sum(x2 * x2) AS HUGEINT) AS sx2x2,
             CAST(sum(x1 * y) AS HUGEINT) AS sx1y,
             CAST(sum(x2 * y) AS HUGEINT) AS sx2y
      FROM daily),
    solve AS (
      SELECT n,
             -- Cramer on the 3x3 system [n sx1 sx2; sx1 sx1x1 sx1x2; sx2 sx1x2 sx2x2]
             CAST(n AS DOUBLE) AS a, CAST(sx1 AS DOUBLE) AS b, CAST(sx2 AS DOUBLE) AS c,
             CAST(sx1x1 AS DOUBLE) AS e, CAST(sx1x2 AS DOUBLE) AS f,
             CAST(sx2x2 AS DOUBLE) AS g,
             CAST(sy AS DOUBLE) AS p, CAST(sx1y AS DOUBLE) AS q, CAST(sx2y AS DOUBLE) AS r
      FROM m),
    det AS (
      SELECT n,
             a * (e * g - f * f) - b * (b * g - f * c) + c * (b * f - e * c) AS d0,
             p * (e * g - f * f) - b * (q * g - f * r) + c * (q * f - e * r) AS d1,
             a * (q * g - f * r) - p * (b * g - f * c) + c * (b * r - q * c) AS d2,
             a * (e * r - q * f) - b * (b * r - q * c) + p * (b * f - e * c) AS d3
      FROM solve)
    SELECT n,
           floor(d1 / d0 / 100.0 * 1000000 + 0.5) / 1000000 AS intercept,
           floor(d2 / d0 / 100.0 * 1000000 + 0.5) / 1000000 AS beta_orders,
           floor(d3 / d0 / 100.0 * 1000000 + 0.5) / 1000000 AS beta_customers
    FROM det
"""


@pq("ols_two_predictors", _OLS2_SQL)
def ols_two_predictors(spark, sf_dir):
    """Two-predictor OLS (daily revenue ~ order count + distinct
    customers) solved in closed form: exact-BIGINT moment sums from
    one distributed hash agg, then Cramer's rule on the once-converted
    doubles with an identical IEEE sequence — the normal-equation path
    that needs no iterations and scales as one aggregation pass."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("d")).agg(
        F.count("*").cast("bigint").alias("x1"),
        F.countDistinct("o_custkey").cast("bigint").alias("x2"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("y"),
    )
    m = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum("x2").cast("bigint").alias("sx2"),
        F.sum("y").cast("bigint").alias("sy"),
        # decimal(38,0) moments: sum(x1*y) passes 2^63 around sf30
        # (siblings mahalanobis/pca use the same wide-integer class)
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1").cast("decimal(38,0)") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2").cast("decimal(38,0)") * F.col("y")).alias("sx2y"),
    )
    a, b, c = F.col("n").cast("double"), F.col("sx1").cast("double"), F.col("sx2").cast("double")
    e, f_, g = (F.col("sx1x1").cast("double"), F.col("sx1x2").cast("double"),
                F.col("sx2x2").cast("double"))
    p_, q, r = (F.col("sy").cast("double"), F.col("sx1y").cast("double"),
                F.col("sx2y").cast("double"))
    d0 = a * (e * g - f_ * f_) - b * (b * g - f_ * c) + c * (b * f_ - e * c)
    d1 = p_ * (e * g - f_ * f_) - b * (q * g - f_ * r) + c * (q * f_ - e * r)
    d2 = a * (q * g - f_ * r) - p_ * (b * g - f_ * c) + c * (b * r - q * c)
    d3 = a * (e * r - q * f_) - b * (b * r - q * c) + p_ * (b * f_ - e * c)
    return m.select(
        "n",
        half_up(d1 / d0 / 100.0).alias("intercept"),
        half_up(d2 / d0 / 100.0).alias("beta_orders"),
        half_up(d3 / d0 / 100.0).alias("beta_customers"),
    )


# --- Mahalanobis outliers in (price, order-age) space --------------------------------------------
# 2x2 covariance from exact integer sums, closed-form inverse, squared
# Mahalanobis distance per order as one IEEE expression — top-10 by
# (6dp distance DESC, orderkey). The multivariate outlier detector
# whose moments are one agg and whose scoring is pure codegen.
_MAHA_SQL = """
    WITH pts AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
             CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS yd
      FROM orders),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yd) AS BIGINT) AS sy,
             CAST(sum(xc * xc) AS HUGEINT) AS sxx,
             CAST(sum(xc * yd) AS HUGEINT) AS sxy,
             CAST(sum(yd * yd) AS HUGEINT) AS syy
      FROM pts),
    cov AS (
      SELECT n,
             CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / n)) / (n - 1) AS vxx,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / n)) / (n - 1) AS vxy,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / n)) / (n - 1) AS vyy
      FROM m),
    scored AS (
      SELECT p.o_orderkey,
             ((CAST(p.xc AS DOUBLE) - c.mx) * (c.vyy * (CAST(p.xc AS DOUBLE) - c.mx)
                                               - c.vxy * (CAST(p.yd AS DOUBLE) - c.my))
              + (CAST(p.yd AS DOUBLE) - c.my) * (c.vxx * (CAST(p.yd AS DOUBLE) - c.my)
                                                 - c.vxy * (CAST(p.xc AS DOUBLE) - c.mx)))
             / (c.vxx * c.vyy - c.vxy * c.vxy) AS d2
      FROM pts p, cov c)
    SELECT o_orderkey, floor(d2 * 1000000 + 0.5) / 1000000 AS maha_d2
    FROM scored
    ORDER BY maha_d2 DESC, o_orderkey
    LIMIT 10
"""


@pq("mahalanobis_outliers_2d", _MAHA_SQL)
def mahalanobis_outliers_2d(spark, sf_dir):
    """Top-10 Mahalanobis outliers in (total price, order age) space:
    exact-BIGINT/HUGEINT moment sums, closed-form 2x2 inverse, one
    identical IEEE scoring expression per row, (6dp DESC, orderkey)
    tie-broken top-k. Plan: one moments agg broadcast onto one scoring
    scan — no window over the fact table, the top-k is a TakeOrdered."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("xc"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("bigint").alias("yd"),
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum("yd").cast("bigint").alias("sy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("sxx"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("yd")).alias("sxy"),
        F.sum(F.col("yd").cast("decimal(38,0)") * F.col("yd")).alias("syy"),
    )
    n = F.col("n")
    mx, my = F.col("sx").cast("double") / n, F.col("sy").cast("double") / n
    cov = m.select(
        "n", mx.alias("mx"), my.alias("my"),
        ((F.col("sxx").cast("double") - F.col("sx").cast("double") * (F.col("sx").cast("double") / n)) / (n - 1)).alias("vxx"),
        ((F.col("sxy").cast("double") - F.col("sx").cast("double") * (F.col("sy").cast("double") / n)) / (n - 1)).alias("vxy"),
        ((F.col("syy").cast("double") - F.col("sy").cast("double") * (F.col("sy").cast("double") / n)) / (n - 1)).alias("vyy"),
    )
    dx = F.col("xc").cast("double") - F.col("mx")
    dy = F.col("yd").cast("double") - F.col("my")
    d2 = (
        (dx * (F.col("vyy") * dx - F.col("vxy") * dy)
         + dy * (F.col("vxx") * dy - F.col("vxy") * dx))
        / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    )
    return (
        pts.crossJoin(F.broadcast(cov))
        .select("o_orderkey", half_up(d2).alias("maha_d2"))
        .orderBy(F.col("maha_d2").desc(), "o_orderkey")
        .limit(10)
    )


# --- Closed-form 2x2 PCA ---------------------------------------------------------------------------
# Eigenvalues of the same 2x2 covariance by the quadratic formula
# (sqrt is IEEE-correctly-rounded on both engines, so exact-integer-
# derived doubles need no pre-rounding), explained-variance ratio and
# the first component's slope in closed form — PCA as one aggregation
# pass + O(1) arithmetic, the way a 2-feature screen actually runs.
_PCA2_SQL = """
    WITH pts AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc,
             CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS yd
      FROM orders),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(xc) AS BIGINT) AS sx, CAST(sum(yd) AS BIGINT) AS sy,
             CAST(sum(xc * xc) AS HUGEINT) AS sxx,
             CAST(sum(xc * yd) AS HUGEINT) AS sxy,
             CAST(sum(yd * yd) AS HUGEINT) AS syy
      FROM pts),
    cov AS (
      SELECT n,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) / n)) / (n - 1) AS vxx,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / n)) / (n - 1) AS vxy,
             (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * (CAST(sy AS DOUBLE) / n)) / (n - 1) AS vyy
      FROM m),
    eig AS (
      SELECT n, vxx, vxy, vyy,
             (vxx + vyy) / 2.0 + sqrt(((vxx - vyy) / 2.0) * ((vxx - vyy) / 2.0)
                                      + vxy * vxy) AS l1,
             (vxx + vyy) / 2.0 - sqrt(((vxx - vyy) / 2.0) * ((vxx - vyy) / 2.0)
                                      + vxy * vxy) AS l2
      FROM cov)
    SELECT n,
           floor(l1 / (l1 + l2) * 1000000 + 0.5) / 1000000 AS explained_ratio,
           floor((l1 - vxx) / vxy * 1000000 + 0.5) / 1000000 AS pc1_slope,
           floor(l2 / l1 * 1000000 + 0.5) / 1000000 AS condition_inv
    FROM eig
"""


@pq("pca_eigen_2d", _PCA2_SQL)
def pca_eigen_2d(spark, sf_dir):
    """Closed-form 2x2 PCA over (price, order-age): eigenvalues by the
    quadratic formula on the exact-moment covariance (IEEE sqrt is
    correctly rounded — no pre-round needed on exact-derived doubles),
    explained-variance ratio and first-component slope at 6dp. One
    distributed moments agg + O(1) arithmetic."""
    o = _t(spark, sf_dir, "orders")
    pts = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").alias("xc"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("bigint").alias("yd"),
    )
    m = pts.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum("yd").cast("bigint").alias("sy"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("sxx"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("yd")).alias("sxy"),
        F.sum(F.col("yd").cast("decimal(38,0)") * F.col("yd")).alias("syy"),
    )
    n = F.col("n")
    cov = m.select(
        "n",
        ((F.col("sxx").cast("double") - F.col("sx").cast("double") * (F.col("sx").cast("double") / n)) / (n - 1)).alias("vxx"),
        ((F.col("sxy").cast("double") - F.col("sx").cast("double") * (F.col("sy").cast("double") / n)) / (n - 1)).alias("vxy"),
        ((F.col("syy").cast("double") - F.col("sy").cast("double") * (F.col("sy").cast("double") / n)) / (n - 1)).alias("vyy"),
    )
    half_diff = (F.col("vxx") - F.col("vyy")) / 2.0
    root = F.sqrt(half_diff * half_diff + F.col("vxy") * F.col("vxy"))
    mid = (F.col("vxx") + F.col("vyy")) / 2.0
    eig = cov.select(
        "n", "vxx", "vxy", "vyy",
        (mid + root).alias("l1"), (mid - root).alias("l2"),
    )
    return eig.select(
        "n",
        half_up(F.col("l1") / (F.col("l1") + F.col("l2"))).alias("explained_ratio"),
        half_up((F.col("l1") - F.col("vxx")) / F.col("vxy")).alias("pc1_slope"),
        half_up(F.col("l2") / F.col("l1")).alias("condition_inv"),
    )


# --- Two rounds of gradient-boosted decision stumps ------------------------------------------------
# Regression boosting on exact integers end-to-end: round 1 fits the
# best stump on priority rank (thresholds 1..4), round 2 fits the best
# stump on order month (1..11) over the ROUND-1 RESIDUALS — and because
# stump predictions are per-side constants (HALF_UP'd to exact cents),
# the residual sums per month cell derive from one bounded
# (priority, month) base agg with NO per-row residual materialization.
# Gains use the variance-reduction identity SL^2/nL + SR^2/nR - S^2/n
# on once-converted doubles (identical IEEE sequence), tie-broken by
# threshold; reported in dollars^2 at 2dp.
_GBST_SQL = """
    WITH base AS (
      SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS f1,
             CAST(month(o_orderdate) AS INT) AS f2,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS sy
      FROM orders GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(sy) AS BIGINT) AS s FROM base),
    g1 AS (
      SELECT t.t,
             CAST(sum(CASE WHEN b.f1 <= t.t THEN b.n ELSE 0 END) AS BIGINT) AS nl,
             CAST(sum(CASE WHEN b.f1 <= t.t THEN b.sy ELSE 0 END) AS BIGINT) AS sl
      FROM (SELECT unnest(range(1, 5)) AS t) t CROSS JOIN base b
      GROUP BY t.t),
    g1s AS (
      SELECT g.t, g.nl, g.sl, o.n - g.nl AS nr, o.s - g.sl AS sr,
             CAST(g.sl AS DOUBLE) * g.sl / g.nl
               + CAST(o.s - g.sl AS DOUBLE) * (o.s - g.sl) / (o.n - g.nl)
               - CAST(o.s AS DOUBLE) * o.s / o.n AS gain
      FROM g1 g, tot o
      WHERE g.nl > 0 AND o.n - g.nl > 0),
    best1 AS (
      SELECT *, (2 * sl + nl) // (2 * nl) AS pl, (2 * sr + nr) // (2 * nr) AS pr
      FROM g1s ORDER BY gain DESC, t LIMIT 1),
    resid AS (
      SELECT b.f2,
             CAST(sum(b.n) AS BIGINT) AS n,
             CAST(sum(b.sy - b.n * CASE WHEN b.f1 <= w.t THEN w.pl ELSE w.pr END)
                  AS BIGINT) AS rs
      FROM base b, best1 w GROUP BY 1),
    rtot AS (SELECT CAST(sum(n) AS BIGINT) AS n, CAST(sum(rs) AS BIGINT) AS s FROM resid),
    g2 AS (
      SELECT t.t,
             CAST(sum(CASE WHEN r.f2 <= t.t THEN r.n ELSE 0 END) AS BIGINT) AS nl,
             CAST(sum(CASE WHEN r.f2 <= t.t THEN r.rs ELSE 0 END) AS BIGINT) AS sl
      FROM (SELECT unnest(range(1, 12)) AS t) t CROSS JOIN resid r
      GROUP BY t.t),
    g2s AS (
      SELECT g.t, g.nl, g.sl, o.n - g.nl AS nr, o.s - g.sl AS sr,
             CAST(g.sl AS DOUBLE) * g.sl / g.nl
               + CAST(o.s - g.sl AS DOUBLE) * (o.s - g.sl) / (o.n - g.nl)
               - CAST(o.s AS DOUBLE) * o.s / o.n AS gain
      FROM g2 g, rtot o
      WHERE g.nl > 0 AND o.n - g.nl > 0),
    best2 AS (SELECT * FROM g2s ORDER BY gain DESC, t LIMIT 1)
    SELECT 1 AS round, 'priority' AS feature, CAST(t AS BIGINT) AS threshold,
           floor(gain / 10000.0 * 100 + 0.5) / 100 AS gain_usd2,
           floor(CAST(sl AS DOUBLE) / nl / 100.0 * 100 + 0.5) / 100 AS mean_left,
           floor(CAST(sr AS DOUBLE) / nr / 100.0 * 100 + 0.5) / 100 AS mean_right
    FROM best1
    UNION ALL
    SELECT 2, 'month', CAST(t AS BIGINT),
           floor(gain / 10000.0 * 100 + 0.5) / 100,
           floor(CAST(sl AS DOUBLE) / nl / 100.0 * 100 + 0.5) / 100,
           floor(CAST(sr AS DOUBLE) / nr / 100.0 * 100 + 0.5) / 100
    FROM best2
    ORDER BY round
"""


@pq("gradient_boost_stumps", _GBST_SQL)
def gradient_boost_stumps(spark, sf_dir):
    """Two boosting rounds of regression stumps (priority rank, then
    order month over the round-1 residuals) with exact-integer
    arithmetic end-to-end: per-side predictions HALF_UP'd to cents, so
    round-2 residual sums derive from one bounded (f1, f2) base agg
    with no per-row residual pass; variance-reduction gains on
    once-converted doubles, threshold tie-breaks. One fact-table agg
    total — boosting as aggregation, the 100-TB shape."""
    o = _t(spark, sf_dir, "orders")
    base = o.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("int").alias("f1"),
        F.month("o_orderdate").cast("int").alias("f2"),
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("sy"),
    )

    def best_stump(cells, feat_col, n_col, s_col, t_lo, t_hi):
        tgrid = spark.range(t_lo, t_hi + 1).select(F.col("id").cast("int").alias("t"))
        g = (
            tgrid.crossJoin(cells)
            .groupBy("t")
            .agg(
                F.sum(F.when(F.col(feat_col) <= F.col("t"), F.col(n_col)).otherwise(0))
                .cast("bigint").alias("nl"),
                F.sum(F.when(F.col(feat_col) <= F.col("t"), F.col(s_col)).otherwise(0))
                .cast("bigint").alias("sl"),
                F.sum(F.col(n_col)).cast("bigint").alias("n"),
                F.sum(F.col(s_col)).cast("bigint").alias("s"),
            )
            .withColumn("nr", F.col("n") - F.col("nl"))
            .withColumn("sr", F.col("s") - F.col("sl"))
            .where((F.col("nl") > 0) & (F.col("nr") > 0))
        )
        gain = (
            F.col("sl").cast("double") * F.col("sl") / F.col("nl")
            + F.col("sr").cast("double") * F.col("sr") / F.col("nr")
            - F.col("s").cast("double") * F.col("s") / F.col("n")
        )
        return (
            g.withColumn("gain", gain)
            .orderBy(F.col("gain").desc(), "t")
            .limit(1)
        )

    best1 = best_stump(base, "f1", "n", "sy", 1, 4).select(
        "t", "nl", "sl", "nr", "sr", "gain",
        F.floor((2 * F.col("sl") + F.col("nl")) / (2 * F.col("nl"))).cast("long").alias("pl"),
        F.floor((2 * F.col("sr") + F.col("nr")) / (2 * F.col("nr"))).cast("long").alias("pr"),
    )
    resid = (
        base.crossJoin(F.broadcast(best1.select("t", "pl", "pr")))
        .groupBy("f2")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum(
                F.col("sy")
                - F.col("n") * F.when(F.col("f1") <= F.col("t"), F.col("pl")).otherwise(F.col("pr"))
            ).cast("bigint").alias("rs"),
        )
    )
    best2 = best_stump(resid, "f2", "n", "rs", 1, 11)

    def emit(best, rnd, feat):
        p2 = lambda c: F.floor(c * 100 + F.lit(0.5)) / 100  # noqa: E731
        return best.select(
            F.lit(rnd).alias("round"), F.lit(feat).alias("feature"),
            F.col("t").cast("bigint").alias("threshold"),
            p2(F.col("gain") / 10000.0).alias("gain_usd2"),
            p2(F.col("sl").cast("double") / F.col("nl") / 100.0).alias("mean_left"),
            p2(F.col("sr").cast("double") / F.col("nr") / 100.0).alias("mean_right"),
        )

    return emit(best1, 1, "priority").unionByName(emit(best2, 2, "month")).orderBy("round")


# --- Isotonic regression by the minimax characterization --------------------------------------------
# The L2 isotonic fit over the 30-day revenue series via
# fitted(j) = max_{i<=j} min_{k>=j} avg(y[i..k]) — the closed minimax
# form of pool-adjacent-violators, exact on a calendar-bounded grid
# (O(days^3) pairs = trivial; the day aggregation is the only
# fact-table pass). Averages are one division of exact integer sums;
# min/max over identical doubles are engine-identical.
_ISOPAV_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i,
                   sum(c) OVER (ORDER BY d) AS pre
            FROM daily),
    seg AS (
      SELECT a.i AS i, b.i AS k,
             CAST(b.pre - a.pre + a.c AS DOUBLE) / (b.i - a.i + 1) AS avg_ik
      FROM ser a JOIN ser b ON a.i <= b.i),
    inner_min AS (
      SELECT s.i, j.i AS j, min(s.avg_ik) AS m
      FROM seg s JOIN ser j ON s.i <= j.i AND s.k >= j.i
      GROUP BY s.i, j.i)
    SELECT s.d, CAST(s.c AS BIGINT) AS c,
           floor(max(im.m) / 100.0 * 1000000 + 0.5) / 1000000 AS fitted
    FROM inner_min im JOIN ser s ON s.i = im.j
    WHERE im.i <= im.j
    GROUP BY s.d, s.c
    ORDER BY s.d
"""


@pq("isotonic_regression_pav", _ISOPAV_SQL)
def isotonic_regression_pav(spark, sf_dir):
    """Isotonic (monotone non-decreasing) regression of the daily
    revenue series via the minimax characterization of PAV:
    fitted(j) = max over i<=j of min over k>=j of the segment average
    — exact on the calendar-bounded grid, with segment averages one
    division of exact integer prefix sums. The fact-table pass is the
    day aggregation alone; the O(days^3) grid is bounded by the
    calendar, not the data."""
    daily = events_daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    ser = daily.select(
        "d", "c",
        F.row_number().over(w).alias("i"),
        F.sum("c").over(w).alias("pre"),
    )
    a, b = ser.alias("a"), ser.alias("b")
    seg = a.join(b, F.col("a.i") <= F.col("b.i")).select(
        F.col("a.i").alias("i"), F.col("b.i").alias("k"),
        ((F.col("b.pre") - F.col("a.pre") + F.col("a.c")).cast("double")
         / (F.col("b.i") - F.col("a.i") + 1)).alias("avg_ik"),
    )
    jgrid = ser.select(F.col("i").alias("j"))
    inner = (
        seg.join(jgrid, (F.col("i") <= F.col("j")) & (F.col("k") >= F.col("j")))
        .groupBy("i", "j")
        .agg(F.min("avg_ik").alias("m"))
    )
    return (
        inner.where(F.col("i") <= F.col("j"))
        .groupBy("j")
        .agg(F.max("m").alias("fit_c"))
        .join(ser.select("d", "c", F.col("i").alias("j")), "j")
        .select("d", F.col("c").cast("bigint").alias("c"),
                half_up(F.col("fit_c") / 100.0).alias("fitted"))
        .orderBy("d")
    )


# =====================================================================
# Block F — SQL-surface parity differentials
# =====================================================================

# --- Window frame EXCLUDE modes (CURRENT ROW / TIES / GROUP) ------------------------------------
# DuckDB evaluates the SQL:2011 EXCLUDE clause natively; Spark has no
# EXCLUDE at all, so the engine re-expresses all three modes from two
# primitive aggregates — frame sum (RANGE +/-1000 cents over 10-dollar
# order buckets, deterministic under ties) and peer-group sum:
#   exclude current = frame - v
#   exclude group   = frame - peers
#   exclude ties    = frame - peers + v
# Exact BIGINT cents throughout; ties are real (bucketed order key).
_EXCLF_SQL = """
    WITH pe AS (
      SELECT event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CAST(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 1000 * 1000
                  AS BIGINT) AS ord
      FROM events WHERE event_type = 'purchase')
    SELECT event_id, v, ord,
           CAST(sum(v) OVER (ORDER BY ord RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
                        EXCLUDE CURRENT ROW) AS BIGINT) AS ex_current,
           CAST(sum(v) OVER (ORDER BY ord RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
                        EXCLUDE TIES) AS BIGINT) AS ex_ties,
           CAST(sum(v) OVER (ORDER BY ord RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING
                        EXCLUDE GROUP) AS BIGINT) AS ex_group
    FROM pe ORDER BY event_id
"""


@pq("window_exclude_frames_parity", _EXCLF_SQL)
def window_exclude_frames_parity(spark, sf_dir):
    """SQL:2011 window EXCLUDE clause differential: DuckDB runs the
    native EXCLUDE CURRENT ROW / TIES / GROUP; Spark (which has no
    EXCLUDE) derives all three from a RANGE frame sum and a peer-group
    sum — frame-v, frame-peers+v, frame-peers. Exact BIGINT cents so
    the parity is bit-exact. Plan: two windows over the same sort
    order (one exchange), everything codegen."""
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    pe = e.select(
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
    ).withColumn("ord", (F.floor(F.col("v") / 1000) * 1000).cast("bigint"))
    wf = Window.orderBy("ord").rangeBetween(-1000, 1000)
    wp = Window.partitionBy("ord")
    out = pe.select(
        "event_id", "v", "ord",
        (F.sum("v").over(wf)).alias("frame"),
        (F.count("*").over(wf)).alias("nf"),
        (F.sum("v").over(wp)).alias("peers"),
        (F.count("*").over(wp)).alias("np"),
    )
    # SQL semantics: an emptied exclusion frame aggregates to NULL
    return out.select(
        "event_id", "v", "ord",
        F.when(F.col("nf") > 1, F.col("frame") - F.col("v"))
        .cast("bigint").alias("ex_current"),
        (F.col("frame") - F.col("peers") + F.col("v")).cast("bigint").alias("ex_ties"),
        F.when(F.col("nf") > F.col("np"), F.col("frame") - F.col("peers"))
        .cast("bigint").alias("ex_group"),
    ).orderBy("event_id")


# --- QUALIFY semantics parity ---------------------------------------------------------------------
# DuckDB's native QUALIFY filters on windows that never appear in the
# projection — two different windows in one predicate. Spark has no
# QUALIFY; the engine lowers it to a subquery with materialized window
# columns then drops them, which is exactly what the clause sugars.
_QUALIFY_SQL = """
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS mth, o_orderpriority AS pri,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2)
    SELECT mth, pri, cents
    FROM m
    QUALIFY row_number() OVER (PARTITION BY mth ORDER BY cents DESC, pri) <= 2
        AND cents > avg(cents) OVER (PARTITION BY mth)
    ORDER BY mth, pri
"""


@pq("qualify_filter_parity", _QUALIFY_SQL)
def qualify_filter_parity(spark, sf_dir):
    """QUALIFY lowering parity: the oracle filters on two windows that
    never reach the projection (top-2 rank AND above the partition
    mean); Spark lowers the clause to materialized window columns +
    filter + drop — the exact desugaring. Integer cents keep the mean
    comparison engine-exact (avg of BIGINTs compared to a BIGINT —
    one identical division)."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("mth"),
        F.col("o_orderpriority").alias("pri"),
    ).agg(
        F.sum((F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .cast("bigint").alias("cents")
    )
    wr = Window.partitionBy("mth").orderBy(F.col("cents").desc(), "pri")
    wa = Window.partitionBy("mth")
    return (
        m.withColumn("__rn", F.row_number().over(wr))
        .withColumn("__avg", F.avg("cents").over(wa))
        .where((F.col("__rn") <= 2) & (F.col("cents") > F.col("__avg")))
        .select("mth", "pri", "cents")
        .orderBy("mth", "pri")
    )


# --- Regex path classification over sessions (MATCH_RECOGNIZE-lite) --------------------------------
# Each user session (30-min gap) compresses to a string of event-type
# initials in (ts, event_id) order; RE2-safe regexes (no backrefs —
# DuckDB is RE2, Spark is Java regex; the patterns stay in the common
# subset) classify journey shapes, and the counts per shape class are
# the output — the pattern-matching analytics MATCH_RECOGNIZE sells,
# from one window + one ordered string agg.
_REGEXPATH_SQL = """
    WITH g AS (
      SELECT user_id, event_id, ts, substr(event_type, 1, 1) AS ch,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, event_id, ts, ch,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
      FROM g),
    paths AS (
      SELECT user_id, sess,
             string_agg(ch, '' ORDER BY ts, event_id) AS path
      FROM s GROUP BY 1, 2)
    SELECT
      CAST(count(*) AS BIGINT) AS n_sessions,
      CAST(sum(CASE WHEN regexp_matches(path, '^v') THEN 1 ELSE 0 END) AS BIGINT)
        AS starts_view,
      CAST(sum(CASE WHEN regexp_matches(path, 'v[cv]*p') THEN 1 ELSE 0 END) AS BIGINT)
        AS view_to_purchase,
      CAST(sum(CASE WHEN len(path) = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
      CAST(sum(CASE WHEN regexp_matches(path, 'e') THEN 1 ELSE 0 END) AS BIGINT)
        AS with_error,
      CAST(sum(CASE WHEN regexp_matches(path, 'ccc') THEN 1 ELSE 0 END) AS BIGINT)
        AS click_burst
    FROM paths
"""


@pq("sessions_regex_path", _REGEXPATH_SQL)
def sessions_regex_path(spark, sf_dir):
    """Session journey-shape classification: 30-min-gap sessions
    compress to event-initial strings ((ts, event_id) order), then
    RE2-safe regexes (the Java-regex/RE2 common subset — no backrefs)
    count journey classes (view-led, view-to-purchase funnels,
    bounces, error-touched, click bursts) — MATCH_RECOGNIZE-style
    analytics from one keyed window + one ordered string agg."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id", "event_id", "ts",
        F.substring("event_type", 1, 1).alias("ch"),
        F.when(
            F.lag("ts").over(w).isNull()
            # full-precision seconds (timestamp->double keeps the us
            # fraction) — unix_timestamp truncates to whole seconds and
            # would classify gaps like 1800.3s differently than the
            # oracle's INTERVAL comparison
            | (F.col("ts").cast("double") - F.lag("ts").over(w).cast("double") > 1800.0),
            1,
        ).otherwise(0).alias("brk"),
    )
    s = g.withColumn("sess", F.sum("brk").over(w))
    paths = (
        s.groupBy("user_id", "sess")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "ch"))).alias("evs"))
        .select(F.concat_ws("", F.transform(F.col("evs"), lambda x: x["ch"])).alias("path"))
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return paths.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        cnt(F.col("path").rlike("^v")).alias("starts_view"),
        cnt(F.col("path").rlike("v[cv]*p")).alias("view_to_purchase"),
        cnt(F.length("path") == 1).alias("bounces"),
        cnt(F.col("path").rlike("e")).alias("with_error"),
        cnt(F.col("path").rlike("ccc")).alias("click_burst"),
    )


# =====================================================================
# Block G — sketch audits (count-min, Bloom)
# =====================================================================

# --- Count-min sketch vs exact counts ---------------------------------------------------------------
# A 4x64 count-min sketch over the corpus token frequencies with
# md5-portable row hashes — the sketch is a pure function of the data,
# so BOTH engines build the identical 256-cell table and the estimate
# audit (min over rows of the hashed cell) is bit-exact. Output: the
# true top-20 tokens with exact count, CM estimate, and the
# overestimate (>= 0 by the CM guarantee — a structural invariant the
# differential enforces on every row). Vocabulary aggregates FIRST
# (one hash agg), so the 4 hashes run per distinct token, not per
# occurrence.
_CMS_ROWS = 4
_CMS_W = 64
_CMS_SQL = f"""
    WITH tok AS (
      SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS token
      FROM documents),
    vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    cells AS (
      SELECT j.j,
             CAST(CAST(concat('0x', substr(md5(v.token || ':cm' || CAST(j.j AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_CMS_W} AS BIGINT) AS b,
             CAST(sum(v.c) AS BIGINT) AS cell
      FROM vocab v CROSS JOIN (SELECT unnest(range({_CMS_ROWS})) AS j) j
      GROUP BY 1, 2),
    top20 AS (
      SELECT token, c FROM vocab ORDER BY c DESC, token LIMIT 20),
    est AS (
      SELECT t.token, t.c,
             min(ce.cell) AS est
      FROM top20 t
      JOIN (SELECT unnest(range({_CMS_ROWS})) AS j) j ON true
      JOIN cells ce
        ON ce.j = j.j
       AND ce.b = CAST(concat('0x', substr(md5(t.token || ':cm' || CAST(j.j AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_CMS_W}
      GROUP BY t.token, t.c)
    SELECT token, c AS exact_count, est AS cm_estimate,
           est - c AS overestimate
    FROM est ORDER BY exact_count DESC, token
"""


def _cm_bucket(token_col, j_col):
    """The md5 count-min bucket for (token, row j) — ONE definition
    shared by cell building and both probe lookups on the Spark side
    (the oracle inlines the identical expression); a drifted copy
    would make probes silently join to nothing."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(token_col, F.lit(":cm"),
                                       j_col.cast("string"))), 1, 15),
            16, 10,
        ).cast("bigint") % _CMS_W
    )


def _cm_cells(vocab, token_col="token", cnt_col="c"):
    """(j, b, cell) count-min table from a (token, count) vocabulary —
    md5 row hashes, identical to the oracle's."""
    rows = F.explode(F.array(*[F.lit(j) for j in range(_CMS_ROWS)])).alias("j")
    hashed = vocab.select(token_col, cnt_col, rows).withColumn(
        "b", _cm_bucket(F.col(token_col), F.col("j"))
    )
    return hashed.groupBy("j", "b").agg(F.sum(cnt_col).cast("bigint").alias("cell"))


@pq("count_min_sketch_audit", _CMS_SQL)
def count_min_sketch_audit(spark, sf_dir):
    """Count-min sketch audit: 4x64 md5-hashed sketch of token
    frequencies (built per DISTINCT token after one vocabulary agg),
    CM estimates for the true top-20 tokens vs exact counts, with the
    overestimate-only guarantee visible per row. The sketch is a pure
    function of the data — both engines materialize the identical 256
    cells, so even the estimates are bit-exact. Plan: explode x4 over
    the VOCABULARY (not occurrences), two bounded hash aggs, a
    broadcast top-20 probe join."""
    from etl_mini_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    vocab = tok.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    cells = _cm_cells(vocab)
    top20 = vocab.orderBy(F.col("c").desc(), "token").limit(20)
    probes = top20.select(
        "token", "c",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_ROWS)])).alias("j"),
    ).withColumn("b", _cm_bucket(F.col("token"), F.col("j")))
    est = (
        probes.join(cells, ["j", "b"])
        .groupBy("token", "c")
        .agg(F.min("cell").cast("bigint").alias("est"))
    )
    return est.select(
        "token", F.col("c").alias("exact_count"), F.col("est").alias("cm_estimate"),
        (F.col("est") - F.col("c")).alias("overestimate"),
    ).orderBy(F.col("exact_count").desc(), "token")


# --- Bloom filter false-positive-rate audit ----------------------------------------------------------
# A 4096-bit, 3-hash Bloom filter over the customers WITH 1995 orders,
# probed by the customers WITHOUT — md5 bit positions make the filter
# a pure function of the data, so bits-set, each probe's verdict, and
# the measured FPR are engine-identical. The audit every capacity
# plan for a 100-TB bloom-pruned join starts from.
_BLOOM_BITS = 4096
_BLOOM_K = 3
_BLOOM_SQL = f"""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate <  TIMESTAMP '1996-01-01'),
    nonmembers AS (
      SELECT c_custkey AS k FROM customer
      WHERE c_custkey NOT IN (SELECT k FROM members)),
    bits AS (
      SELECT DISTINCT
             CAST(concat('0x', substr(md5(CAST(m.k AS VARCHAR) || ':bf' || CAST(i.i AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_BLOOM_BITS} AS bit
      FROM members m CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i) i),
    probe AS (
      SELECT n.k,
             CAST(sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits
      FROM nonmembers n
      CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS i) i
      LEFT JOIN bits b
        ON b.bit = CAST(concat('0x', substr(md5(CAST(n.k AS VARCHAR) || ':bf' || CAST(i.i AS VARCHAR)), 1, 15))
                   AS BIGINT) % {_BLOOM_BITS}
      GROUP BY n.k)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM members) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS false_positives,
           floor(sum(CASE WHEN hits = {_BLOOM_K} THEN 1 ELSE 0 END) * 1.0 / count(*)
                 * 1000000 + 0.5) / 1000000 AS fpr
    FROM probe
"""


@pq("bloom_fpr_audit", _BLOOM_SQL)
def bloom_fpr_audit(spark, sf_dir):
    """Bloom-filter FPR audit: 4096-bit/3-hash md5 filter over the
    1995-active custkeys, probed by the inactive ones — bits-set,
    false positives, and the measured FPR are exact because the filter
    is a pure function of the data. Plan: members/nonmembers from one
    scan each, bit table via a x3 bounded explode + distinct, probes
    join the bit table on the hashed position (keyed join, no
    broadcast of the fact table)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    members = (
        o.where((F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01"))
        .select(F.col("o_custkey").alias("k")).distinct()
    )
    nonmembers = c.select(F.col("c_custkey").alias("k")).join(members, "k", "left_anti")

    def bitpos(key_col, i_col):
        return (
            F.conv(F.substring(F.md5(F.concat(key_col.cast("string"), F.lit(":bf"),
                                              i_col.cast("string"))), 1, 15), 16, 10)
            .cast("bigint") % _BLOOM_BITS
        )

    igrid = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("i")
    bits = (
        members.select("k", igrid)
        .select(bitpos(F.col("k"), F.col("i")).alias("bit"))
        .distinct()
    )
    probes = nonmembers.select("k", igrid).withColumn(
        "pbit", bitpos(F.col("k"), F.col("i"))
    )
    probe = (
        probes.join(bits, probes.pbit == bits.bit, "left")
        .groupBy("k")
        .agg(F.sum(F.when(F.col("bit").isNotNull(), 1).otherwise(0)).cast("bigint").alias("hits"))
    )
    nm = members.agg(F.count("*").cast("bigint").alias("n_members"))
    nb = bits.agg(F.count("*").cast("bigint").alias("bits_set"))
    return (
        probe.agg(
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(F.when(F.col("hits") == _BLOOM_K, 1).otherwise(0)).cast("bigint")
            .alias("false_positives"),
        )
        .crossJoin(F.broadcast(nm))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_members", "bits_set", "n_probes", "false_positives",
            half_up(F.col("false_positives") * 1.0 / F.col("n_probes")).alias("fpr"),
        )
    )


# =====================================================================
# Block I — streaming differentials (+ incremental CM sketch)
# =====================================================================

# --- Incrementally-maintained count-min sketch ---------------------------------------------------
# The CM sketch is MERGEABLE (cells are sums), so a foreachBatch sink
# that folds each micro-batch's partial 4x64 sketch into a persisted
# cell table must converge to exactly the batch sketch — and because
# the hashes are md5-portable, to exactly the oracle's sketch. Tokens
# are event_type:user%100 (500 distinct -> real cell collisions).
# Unlike Misra-Gries (whose incremental form needs a candidates-only
# recount), CM estimates are DETERMINISTIC — so this streaming entry
# is fully oracle-backed, estimates included.
_SCMS_SQL = f"""
    WITH tok AS (
      SELECT event_type || ':' || CAST(user_id % 100 AS VARCHAR) AS token
      FROM events),
    vocab AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
    cells AS (
      SELECT j.j,
             CAST(CAST(concat('0x', substr(md5(v.token || ':cm' || CAST(j.j AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_CMS_W} AS BIGINT) AS b,
             CAST(sum(v.c) AS BIGINT) AS cell
      FROM vocab v CROSS JOIN (SELECT unnest(range({_CMS_ROWS})) AS j) j
      GROUP BY 1, 2),
    top20 AS (SELECT token, c FROM vocab ORDER BY c DESC, token LIMIT 20),
    est AS (
      SELECT t.token, t.c, min(ce.cell) AS est
      FROM top20 t
      JOIN (SELECT unnest(range({_CMS_ROWS})) AS j) j ON true
      JOIN cells ce
        ON ce.j = j.j
       AND ce.b = CAST(concat('0x', substr(md5(t.token || ':cm' || CAST(j.j AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_CMS_W}
      GROUP BY t.token, t.c)
    SELECT token, c AS exact_count, est AS cm_estimate, est - c AS overestimate
    FROM est ORDER BY exact_count DESC, token
"""


@pq("stream_cms_incremental", _SCMS_SQL)
def stream_cms_incremental(spark, sf_dir):
    """Count-min sketch maintained INCREMENTALLY: the event stream
    arrives as three date-chunked micro-batches, a foreachBatch sink
    folds each batch's partial 4x64 cell table into persisted sketch
    state, and the final estimates for the true top-20 tokens equal
    the one-pass batch sketch EXACTLY (cells are sums; hashes are
    md5-portable) — so unlike the MG heavy-hitter sink, the streaming
    sketch is fully oracle-backed. Per batch only <=256 cell rows
    cross the state boundary at any stream size."""
    from pathlib import Path

    import pandas as pd

    from etl_mini_spark.streaming.stream import replay

    e = _t(spark, sf_dir, "events").select(
        "ts",
        F.concat(F.col("event_type"), F.lit(":"), (F.col("user_id") % 100).cast("string"))
        .alias("token"),
    )
    cuts = ["0000-00-00", "2024-01-11", "2024-01-21", "9999-12-31"]
    d = F.date_format("ts", "yyyy-MM-dd")

    def sink(batch_df, batch_id):
        part = _cm_cells(
            batch_df.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
        ).toPandas()
        if part.empty:
            return
        state.parent.mkdir(parents=True, exist_ok=True)
        try:
            prev = pd.read_parquet(state)
            merged = (
                pd.concat([prev, part], ignore_index=True)
                .groupby(["j", "b"], as_index=False)["cell"].sum()
            )
        except (FileNotFoundError, OSError):
            merged = part
        merged.to_parquet(state, index=False)

    # the final sketch state is the output
    with replay(spark, "scms") as r:
        state = Path(r.out) / "cells.parquet"
        for i in range(3):
            r.stage(e.filter((d >= cuts[i]) & (d < cuts[i + 1])).select("token"))
        r.run(r.stream(), sink)
    cells = r.output
    vocab = e.groupBy("token").agg(F.count("*").cast("bigint").alias("c"))
    top20 = vocab.orderBy(F.col("c").desc(), "token").limit(20)
    probes = top20.select(
        "token", "c",
        F.explode(F.array(*[F.lit(j) for j in range(_CMS_ROWS)])).alias("j"),
    ).withColumn("b", _cm_bucket(F.col("token"), F.col("j")))
    est = (
        probes.join(F.broadcast(cells), ["j", "b"])
        .groupBy("token", "c")
        .agg(F.min("cell").cast("bigint").alias("est"))
    )
    return est.select(
        "token", F.col("c").alias("exact_count"), F.col("est").alias("cm_estimate"),
        (F.col("est") - F.col("c")).alias("overestimate"),
    ).orderBy(F.col("exact_count").desc(), "token")


# --- Streaming sessionize vs the batch gap rule ---------------------------------------------------
# Structured Streaming session_window over three date-chunked
# micro-batches, with sessions that SPAN batch boundaries merging in
# state; a far-future sentinel advances the watermark so every real
# session finalizes into the append-mode output. The oracle is the
# batch gap-rule sessionization — streaming state merge must agree
# with it row for row.
_SSESS_SQL = """
    WITH g AS (
      SELECT user_id, ts,
             -- >=: session_window's windows are half-open [start,
             -- start+gap), so an event EXACTLY gap seconds later opens
             -- a NEW session (same rule the registered
             -- window_session_30m oracle pins)
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
      FROM g)
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sess
    ORDER BY user_id, session_start
"""


@pq("stream_sessionize_differential", _SSESS_SQL)
def stream_sessionize_differential(spark, sf_dir):
    """Streaming sessionization differential: session_window(30 min)
    with watermarked state over three ordered micro-batches — sessions
    spanning batch boundaries MERGE in state — must equal the batch
    gap-rule sessionization exactly. A sentinel event 30 days past the
    maximum timestamp advances the final watermark so append mode
    flushes every real session; the sentinel's own session is
    filtered. Plan: one keyed stateful agg per micro-batch, state
    bounded by active users."""
    from etl_mini_spark.streaming.stream import replay

    e = _t(spark, sf_dir, "events").select("user_id", "ts")
    mx = e.agg(F.max("ts").alias("m")).collect()[0]["m"]
    cuts = ["0000-00-00", "2024-01-11", "2024-01-21", "9999-12-31"]
    d = F.date_format("ts", "yyyy-MM-dd")
    sentinel = spark.createDataFrame([(-1, mx)], e.schema).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 DAY")
    )
    with replay(spark, "ssess") as r:
        for i in range(3):
            r.stage(e.filter((d >= cuts[i]) & (d < cuts[i + 1])))
        r.stage(sentinel)
        agg = (
            r.stream().withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count("*").cast("bigint").alias("n_events"))
        )
        r.run(agg.select("user_id", F.col("w.start").alias("ws"),
                         F.col("w.end").alias("we"), "n_events"))
    return r.output.where(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format("ws", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("we", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


# --- Streaming CDC keep-latest upsert --------------------------------------------------------------
# A deterministic 3-batch CDC log (batch b re-segments custkeys with
# md5(k:cdc:b)%3 = 0 to an md5-chosen label) applies through the
# engine's keyed foreachBatch upsert; the final table must equal the
# log's last-writer-wins projection, which the oracle computes with
# one window. Exercises the streaming upsert sink the reference's
# ES->PG pipeline runs in production (postgresql_service.py:117-296 —
# re-expressed as idempotent parquet merge).
_SCDC_SQL = """
    WITH log AS (
      SELECT c_custkey AS k, b.b AS seq,
             'SEG-' || CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || ':lab:'
                                        || CAST(b.b AS VARCHAR)), 1, 15)) AS BIGINT) % 4
                            AS VARCHAR) AS segment
      FROM customer CROSS JOIN (SELECT unnest(range(1, 4)) AS b) b
      WHERE CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || ':cdc:'
                         || CAST(b.b AS VARCHAR)), 1, 15)) AS BIGINT) % 3 = 0)
    SELECT k AS c_custkey, segment, CAST(seq AS BIGINT) AS last_seq
    FROM (SELECT k, segment, seq,
                 row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
          FROM log)
    WHERE rn = 1
    ORDER BY c_custkey
"""


@pq("stream_cdc_upsert_latest", _SCDC_SQL)
def stream_cdc_upsert_latest(spark, sf_dir):
    """Streaming CDC apply: three ordered micro-batches of
    deterministic segment updates flow through the keyed foreachBatch
    parquet upsert (idempotent write-stage-swap merge), and the final
    table must equal the log's last-writer-wins projection. The
    streaming counterpart of upsert_keyed, same merge operator.
    Cites reference services/sources/implementations/dwh/
    postgresql_service.py:117-296 (keyed ON CONFLICT upsert loop)."""
    from etl_mini_spark.streaming.stream import foreach_batch_upsert, replay

    c = _t(spark, sf_dir, "customer")
    with replay(spark, "scdc") as r:
        for b in range(1, 4):
            r.stage(
                c.where(md5_mod(F.col("c_custkey"), f":cdc:{b}", 3) == 0)
                .select(
                    F.col("c_custkey").alias("k"),
                    F.lit(b).cast("long").alias("seq"),
                    F.concat(F.lit("SEG-"),
                             md5_mod(F.col("c_custkey"), f":lab:{b}", 4).cast("string"))
                    .alias("segment"),
                )
            )
        r.run(r.stream(), foreach_batch_upsert(r.out, keys=["k"]))
    return r.output.select(
        F.col("k").alias("c_custkey"), "segment", F.col("seq").alias("last_seq")
    ).orderBy("c_custkey")


# =====================================================================
# Block H+J+K — geohash blocking, corpus/binary, ops & graphs
# =====================================================================

# --- Geohash-prefix radius blocking (pure integer geometry) ------------------------------------------
# Customers get deterministic md5 micro-degree coordinates; the
# Z-order/Morton interleave of the quantized grid (operators/layout —
# the SAME bit math Delta/Iceberg Z-ordering uses) becomes a geohash
# whose PREFIX blocks candidate pairs, and candidates verify by exact
# squared micro-degree distance — every step integer arithmetic, so
# the blocked-join differential is bit-exact. The LSH-philosophy shape
# for spatial joins: candidates by cell, verification exact, never
# all-pairs.
_GEOHASH_SQL = """
    WITH pts AS (
      SELECT c_custkey AS k,
             CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || ':lat'), 1, 15))
                  AS BIGINT) % 1000000 AS BIGINT) AS lat_u,
             CAST(CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR) || ':lon'), 1, 15))
                  AS BIGINT) % 1000000 AS BIGINT) AS lon_u
      FROM customer),
    g AS (
      SELECT k, lat_u, lon_u,
             (((((gx) & 1023) >> 0 & 1) << 0) | ((((gy) & 1023) >> 0 & 1) << 1) | ((((gx) & 1023) >> 1 & 1) << 2) | ((((gy) & 1023) >> 1 & 1) << 3) | ((((gx) & 1023) >> 2 & 1) << 4) | ((((gy) & 1023) >> 2 & 1) << 5) | ((((gx) & 1023) >> 3 & 1) << 6) | ((((gy) & 1023) >> 3 & 1) << 7) | ((((gx) & 1023) >> 4 & 1) << 8) | ((((gy) & 1023) >> 4 & 1) << 9) | ((((gx) & 1023) >> 5 & 1) << 10) | ((((gy) & 1023) >> 5 & 1) << 11) | ((((gx) & 1023) >> 6 & 1) << 12) | ((((gy) & 1023) >> 6 & 1) << 13) | ((((gx) & 1023) >> 7 & 1) << 14) | ((((gy) & 1023) >> 7 & 1) << 15) | ((((gx) & 1023) >> 8 & 1) << 16) | ((((gy) & 1023) >> 8 & 1) << 17) | ((((gx) & 1023) >> 9 & 1) << 18) | ((((gy) & 1023) >> 9 & 1) << 19)) >> 8 AS cell
      FROM (SELECT k, lat_u, lon_u,
                   lat_u >> 10 AS gx, lon_u >> 10 AS gy
            FROM pts)),
    pairs AS (
      SELECT a.k AS a_key, b.k AS b_key,
             (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
           + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) AS d2
      FROM g a JOIN g b ON a.cell = b.cell AND a.k < b.k)
    SELECT a_key, b_key, CAST(d2 AS BIGINT) AS d2
    FROM pairs WHERE d2 <= 100000000
    ORDER BY a_key, b_key
"""


@pq("geohash_prefix_radius", _GEOHASH_SQL)
def geohash_prefix_radius(spark, sf_dir):
    """Spatial near-pair search by geohash-prefix blocking: md5
    micro-degree coordinates, Morton-interleaved cell ids (the
    operators/layout Z-order bit math), candidates from equal cell
    prefixes, exact integer squared-distance verification at 10k µdeg
    — all BIGINT arithmetic, bit-exact vs the oracle replaying the
    same interleave. Plan: one keyed self-join on the cell id; the
    prefix width bounds cell population, never all-pairs."""
    from etl_mini_spark.operators.layout import morton_code

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("k"),
        md5_mod(F.col("c_custkey"), ":lat", 1_000_000).alias("lat_u"),
        md5_mod(F.col("c_custkey"), ":lon", 1_000_000).alias("lon_u"),
    )
    g = pts.select(
        "k", "lat_u", "lon_u",
        F.shiftright(
            morton_code(F.shiftright("lat_u", 10), F.shiftright("lon_u", 10), bits=10), 8
        ).alias("cell"),
    )
    a, b = g.alias("a"), g.alias("b")
    d2 = (
        (F.col("a.lat_u") - F.col("b.lat_u")) * (F.col("a.lat_u") - F.col("b.lat_u"))
        + (F.col("a.lon_u") - F.col("b.lon_u")) * (F.col("a.lon_u") - F.col("b.lon_u"))
    )
    return (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.k") < F.col("b.k")))
        .select(F.col("a.k").alias("a_key"), F.col("b.k").alias("b_key"),
                d2.cast("bigint").alias("d2"))
        .where(F.col("d2") <= 100_000_000)
        .orderBy("a_key", "b_key")
    )


# --- Amplified-corpus exact variant Jaccard ------------------------------------------------------------
# The round-12 amplification rule (variant v of each doc drops tokens
# where md5(doc:v:pos)%100 < 3v) regenerates a 4x corpus; per-token
# VARIANT BITMASKS (one agg row per (doc, token)) turn all 6 variant
# pairs' exact set-Jaccards into bit tests — no pairwise text join
# ever happens, the 100-TB-safe shape for same-entity near-dup audits.
_AMPJAC_SQL = """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))
               AS tok,
             unnest(range(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))))
               AS pos
      FROM documents),
    kept AS (
      SELECT DISTINCT t.doc_id, v.v, t.tok
      FROM toks t CROSS JOIN (SELECT unnest(range(4)) AS v) v
      WHERE (CAST(concat('0x', substr(md5(CAST(t.doc_id AS VARCHAR) || ':' ||
                                      CAST(v.v AS VARCHAR) || ':' ||
                                      CAST(t.pos AS VARCHAR) || ':amp'), 1, 15))
               AS BIGINT) % 100) >= 3 * v.v),
    masks AS (
      SELECT doc_id, tok, CAST(sum(1 << v) AS BIGINT) AS m
      FROM kept GROUP BY 1, 2),
    pairs AS (
      SELECT doc_id, p.v1, p.v2,
             CAST(sum(CASE WHEN (m >> p.v1) & 1 = 1 AND (m >> p.v2) & 1 = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS inter,
             CAST(sum(CASE WHEN (m >> p.v1) & 1 = 1 OR (m >> p.v2) & 1 = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS un
      FROM masks CROSS JOIN (
        SELECT * FROM (VALUES (0,1),(0,2),(0,3),(1,2),(1,3),(2,3)) t(v1, v2)) p
      GROUP BY 1, 2, 3)
    SELECT doc_id, v1, v2, inter, un,
           floor(inter * 1.0 / un * 1000000 + 0.5) / 1000000 AS jaccard
    FROM pairs
    WHERE inter * 10 >= un * 8
    ORDER BY doc_id, v1, v2
"""


@pq("corpus_amplified_jaccard", _AMPJAC_SQL)
def corpus_amplified_jaccard(spark, sf_dir):
    """Exact token-set Jaccard between the 6 variant pairs of each
    document in the md5-amplified 4x corpus, thresholded at >= 0.8 via
    EXACT integer cross-multiplication (inter*10 >= un*8) — the
    same-entity near-dup audit computed through per-token variant
    BITMASKS, one agg row per (doc, token), so no pairwise text join
    exists at any scale. Shares the round-12 amplification rule, so
    the two entries cross-check each other."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("pos", "tok"),
    )
    vgrid = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("v")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                                  F.col("v").cast("string"),
                                  F.col("pos").cast("string"), F.lit("amp"))),
                1, 15,
            ), 16, 10,
        ).cast("long") % 100
    )
    kept = (
        toks.select("doc_id", "tok", "pos", vgrid)
        .filter(bucket >= 3 * F.col("v"))
        .select("doc_id", "v", "tok")
        .distinct()
    )
    masks = kept.groupBy("doc_id", "tok").agg(
        F.sum(F.expr("shiftleft(1, v)")).cast("bigint").alias("m")
    )
    pgrid = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], "v1 int, v2 int"
    )
    b1 = F.expr("(m >> v1) & 1")
    b2 = F.expr("(m >> v2) & 1")
    pairs = (
        masks.crossJoin(F.broadcast(pgrid))
        .groupBy("doc_id", "v1", "v2")
        .agg(
            F.sum(F.when((b1 == 1) & (b2 == 1), 1).otherwise(0))
            .cast("bigint").alias("inter"),
            F.sum(F.when((b1 == 1) | (b2 == 1), 1).otherwise(0))
            .cast("bigint").alias("un"),
        )
    )
    return (
        pairs.where(F.col("inter") * 10 >= F.col("un") * 8)
        .select("doc_id", "v1", "v2", "inter", "un",
                half_up(F.col("inter") * 1.0 / F.col("un")).alias("jaccard"))
        .orderBy("doc_id", "v1", "v2")
    )


# --- URL canonicalization dedup -----------------------------------------------------------------------
# Four deterministic URL variants per document (tracking params, mixed
# host case, trailing slash, fragment; one variant carries a REAL
# query difference that must survive) canonicalize by the standard
# rules — lowercase scheme+host, strip fragment, drop utm_* params,
# sort the survivors, strip trailing slash — and the dedup audit
# counts variants vs canonical forms. The web-corpus dedup gate every
# crawl pipeline runs before content dedup.
_URLCANON_SQL = """
    WITH urls AS (
      SELECT doc_id, 1 AS variant,
             'https://Example.COM/docs/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
      UNION ALL
      SELECT doc_id, 2,
             'https://example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?utm_source=feed&utm_campaign=x' FROM documents
      UNION ALL
      SELECT doc_id, 3,
             'https://EXAMPLE.com/docs/' || CAST(doc_id AS VARCHAR) || '/#section-2'
      FROM documents
      UNION ALL
      SELECT doc_id, 4,
             'https://example.com/docs/' || CAST(doc_id AS VARCHAR)
               || '?utm_medium=a&rev=' || CAST(doc_id % 3 AS VARCHAR) FROM documents),
    canon AS (
      SELECT doc_id, variant,
             -- 1 strip fragment, 2 lowercase scheme+host, 3 drop utm_* params,
             -- 4 clean ?&/ leftovers, 5 strip trailing slash
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(url, '#.*$', ''),
                     '^(https?)://([^/]+)', '\\1://\\2', 'i'),
                   'utm_[a-z]+=[^&#]*&?', '', 'g'),
                 '[?&]$', ''),
               '/$', '') AS c0
      FROM urls),
    canon2 AS (
      SELECT doc_id, variant,
             lower(regexp_extract(c0, '^https?://[^/]+', 0))
               || regexp_replace(c0, '^https?://[^/]+', '') AS curl
      FROM canon)
    SELECT CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(count(*) - count(DISTINCT curl) AS BIGINT) AS n_dups,
           CAST(count(DISTINCT CASE WHEN curl LIKE '%rev=%' THEN curl END) AS BIGINT)
             AS n_with_real_params
    FROM canon2
"""


@pq("url_canonicalize_dedup", _URLCANON_SQL)
def url_canonicalize_dedup(spark, sf_dir):
    """URL canonicalization dedup over four deterministic variants per
    document: strip fragments, lowercase scheme+host (path case
    preserved), drop utm_* tracking params but KEEP real query params,
    strip trailing slashes — variants 1-3 must collapse to one
    canonical form while the rev= variant survives. The crawl-pipeline
    URL gate, pure string expressions on both engines. The four
    variants explode from ONE scan (the previous four-way self-union
    re-scanned the documents table per branch; guide 2.4)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    variants = [
        F.concat(F.lit("https://Example.COM/docs/"), did),
        F.concat(F.lit("https://example.com/docs/"), did,
                 F.lit("?utm_source=feed&utm_campaign=x")),
        F.concat(F.lit("https://EXAMPLE.com/docs/"), did,
                 F.lit("/#section-2")),
        F.concat(F.lit("https://example.com/docs/"), did,
                 F.lit("?utm_medium=a&rev="),
                 (F.col("doc_id") % 3).cast("string")),
    ]
    urls = d.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(i + 1).alias("variant"), u.alias("url"))
            for i, u in enumerate(variants)
        ])).alias("__v"),
    ).select("doc_id", F.col("__v.variant").alias("variant"),
             F.col("__v.url").alias("url"))
    c0 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), "#.*$", ""),
                "utm_[a-z]+=[^&#]*&?", ""),
            r"[?&]$", ""),
        "/$", "")
    canon = urls.select("doc_id", "variant", c0.alias("c0"))
    curl = F.concat(
        F.lower(F.regexp_extract(F.col("c0"), "^https?://[^/]+", 0)),
        F.regexp_replace(F.col("c0"), "^https?://[^/]+", ""),
    )
    canon2 = canon.select("doc_id", "variant", curl.alias("curl"))
    return canon2.agg(
        F.count("*").cast("bigint").alias("n_urls"),
        F.countDistinct("curl").cast("bigint").alias("n_canonical"),
        (F.count("*") - F.countDistinct("curl")).cast("bigint").alias("n_dups"),
        F.countDistinct(F.when(F.col("curl").like("%rev=%"), F.col("curl")))
        .cast("bigint").alias("n_with_real_params"),
    )


# --- Binary header metadata extraction ------------------------------------------------------------------
# Deterministic 9-byte image-style headers ('IMG!' magic + big-endian
# u16 width + u16 height + u8 channels, all md5-derived) are BUILT as
# a real BinaryType column and PARSED BACK with substring/hex
# arithmetic on the Spark side — proving the binary round-trip — while
# the oracle derives the same integers straight from the md5 rules
# (DuckDB's blob slicing differs, the VALUES are what's compared).
# The schema-on-binary plumbing multimodal columns need, with an
# exact differential.
_BINHDR_SQL = """
    WITH hdr AS (
      SELECT doc_id,
             640 + CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':w'), 1, 15))
                   AS BIGINT) % 1280 AS w,
             360 + CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':h'), 1, 15))
                   AS BIGINT) % 720 AS h,
             1 + CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':c'), 1, 15))
                 AS BIGINT) % 4 AS ch
      FROM documents)
    SELECT CAST(ch AS BIGINT) AS channels,
           CAST(w // 640 AS BIGINT) AS w_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(w * h) AS BIGINT) AS total_px,
           CAST(max(w) AS BIGINT) AS max_w, CAST(max(h) AS BIGINT) AS max_h
    FROM hdr GROUP BY 1, 2 ORDER BY 1, 2
"""


@pq("binary_header_metadata", _BINHDR_SQL)
def binary_header_metadata(spark, sf_dir):
    """Binary metadata round-trip: 9-byte headers (magic + big-endian
    u16 width/height + u8 channels, md5-derived) are BUILT as a real
    BinaryType column, then PARSED BACK via substring + hex conversion
    — the multimodal schema-on-binary plumbing — and the parsed
    dimension histogram must match the oracle's direct md5 arithmetic.
    A parse-time magic assertion guards the round-trip."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    w = (640 + md5_mod(F.col("doc_id"), ":w", 1280)).alias("w")
    h = (360 + md5_mod(F.col("doc_id"), ":h", 720)).alias("h")
    ch = (1 + md5_mod(F.col("doc_id"), ":c", 4)).alias("ch")
    hx = lambda c, n: F.lpad(F.conv(c.cast("string"), 10, 16), n, "0")  # noqa: E731
    blob = F.unhex(
        F.concat(
            F.lit("494D4721"),  # 'IMG!'
            hx(F.col("w"), 4), hx(F.col("h"), 4), hx(F.col("ch"), 2),
        )
    )
    built = d.select("doc_id", w, h, ch).select(
        "doc_id", blob.alias("payload")
    )
    # parse the binary back — the round-trip the multimodal tier relies on
    magic_ok = F.hex(F.substring("payload", 1, 4)) == "494D4721"
    parsed = built.select(
        "doc_id",
        F.when(magic_ok,
               F.conv(F.hex(F.substring("payload", 5, 2)), 16, 10).cast("bigint"))
        .alias("w"),
        F.conv(F.hex(F.substring("payload", 7, 2)), 16, 10).cast("bigint").alias("h"),
        F.conv(F.hex(F.substring("payload", 9, 1)), 16, 10).cast("bigint").alias("ch"),
    )
    return (
        parsed.groupBy(
            F.col("ch").alias("channels"),
            F.floor(F.col("w") / 640).cast("bigint").alias("w_bucket"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("w") * F.col("h")).cast("bigint").alias("total_px"),
            F.max("w").cast("bigint").alias("max_w"),
            F.max("h").cast("bigint").alias("max_h"),
        )
        .orderBy("channels", "w_bucket")
    )


# --- Newsvendor order policy from discrete demand quantiles ------------------------------------------
# Per brand: daily demand distribution (lineitem quantities), critical
# fractile q = cu/(cu+co) = 3/4, order-up-to level = the smallest
# demand with cumulative count >= ceil(0.75 n) (discrete quantile —
# rank arithmetic on exact integers, the quantile_disc convention).
# The classic stochastic-inventory policy computed as one keyed
# window over per-brand daily aggregates.
_NEWSV_SQL = """
    WITH daily AS (
      SELECT p.p_brand AS brand, strftime(l.l_shipdate, '%Y-%m-%d') AS d,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT brand, qty,
             row_number() OVER (PARTITION BY brand ORDER BY qty, d) AS rn,
             count(*) OVER (PARTITION BY brand) AS n
      FROM daily)
    SELECT brand, CAST(any_value(n) AS BIGINT) AS n_days,
           CAST(min(CASE WHEN rn >= (3 * n + 3) // 4 THEN qty END) AS BIGINT)
             AS order_upto_q75,
           CAST(min(qty) AS BIGINT) AS min_demand,
           CAST(max(qty) AS BIGINT) AS max_demand
    FROM ranked GROUP BY brand ORDER BY brand
"""


@pq("newsvendor_quantile_policy", _NEWSV_SQL)
def newsvendor_quantile_policy(spark, sf_dir):
    """Newsvendor order-up-to levels per brand at critical fractile
    3/4: discrete demand quantile by exact integer rank arithmetic
    (ceil(0.75 n) = (3n+3) DIV 4) over per-brand daily demand — the
    stochastic-inventory policy as one keyed agg + one keyed window,
    both bounded by (brand x calendar)."""
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    daily = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"),
                 F.date_format("l_shipdate", "yyyy-MM-dd").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
    )
    w = Window.partitionBy("brand").orderBy("qty", "d")
    wn = Window.partitionBy("brand")
    ranked = daily.select(
        "brand", "qty",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    return (
        ranked.groupBy("brand")
        .agg(
            F.any_value("n").cast("bigint").alias("n_days"),
            F.min(F.when(F.col("rn") >= F.floor((3 * F.col("n") + 3) / 4), F.col("qty")))
            .cast("bigint").alias("order_upto_q75"),
            F.min("qty").cast("bigint").alias("min_demand"),
            F.max("qty").cast("bigint").alias("max_demand"),
        )
        .orderBy("brand")
    )


# --- k-core peeling over the co-purchase graph --------------------------------------------------------
# Three peel rounds at k=3 over the part co-purchase graph (edge =
# two parts in one order), each round dropping nodes of residual
# degree < 3 — the iterative-subgraph pattern (label propagation,
# k-core, degeneracy orderings) expressed as a FIXED-DEPTH unrolled
# dataflow both engines replay identically. Per-round survivor and
# edge counts are the output.
_KCORE_SQL = """
    WITH edges0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym0 AS (SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
    n1 AS (SELECT u FROM sym0 GROUP BY u HAVING count(*) >= 3),
    e1 AS (SELECT s.u, s.v FROM sym0 s
           JOIN n1 a ON a.u = s.u JOIN n1 b ON b.u = s.v),
    n2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 3),
    e2 AS (SELECT s.u, s.v FROM e1 s
           JOIN n2 a ON a.u = s.u JOIN n2 b ON b.u = s.v),
    n3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 3),
    e3 AS (SELECT s.u, s.v FROM e2 s
           JOIN n3 a ON a.u = s.u JOIN n3 b ON b.u = s.v)
    SELECT 1 AS round, CAST((SELECT count(*) FROM n1) AS BIGINT) AS nodes,
           CAST((SELECT count(*) / 2 FROM e1) AS BIGINT) AS edges
    UNION ALL
    SELECT 2, CAST((SELECT count(*) FROM n2) AS BIGINT),
           CAST((SELECT count(*) / 2 FROM e2) AS BIGINT)
    UNION ALL
    SELECT 3, CAST((SELECT count(*) FROM n3) AS BIGINT),
           CAST((SELECT count(*) / 2 FROM e3) AS BIGINT)
    ORDER BY round
"""


@pq("graph_kcore_peel", _KCORE_SQL)
def graph_kcore_peel(spark, sf_dir):
    """Three k=3 peel rounds over the part co-purchase graph: each
    round drops nodes whose residual degree fell below k and the edges
    touching them — the fixed-depth unrolled form of k-core
    decomposition (every round is one degree agg + two semijoins, the
    O(log n)-rounds pattern the connected-components operator uses).
    Per-round survivor/edge counts; round 3 <= round 2 <= round 1
    structurally."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    from etl_mini_spark.session import pin

    # gather the six per-round scalars eagerly, each round's edge table
    # pinned lazily (the first count materializes it). Against the
    # persist this replaces, at sf0.1: 32 jobs vs 30-36, 10.8 s vs
    # 14.0 s; unpinned: 58 jobs vs 30-36, 25.9 s vs 9.5 s
    sym = pin(edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ), eager=False)
    stats, e = [], sym
    for rnd in (1, 2, 3):
        nodes = (
            e.groupBy("u").agg(F.count("*").alias("deg"))
            .where(F.col("deg") >= 3).select("u")
        )
        e = pin(e.join(nodes, "u").join(nodes.select(F.col("u").alias("v")), "v"), eager=False)
        stats.append((rnd, nodes.count(), e.count() // 2))
    out = spark.createDataFrame(stats, "round int, nodes long, edges long")
    return out.orderBy("round")


# --- Common-neighbor Jaccard link prediction ------------------------------------------------------------
# For SAMPLED part pairs (both keys % 20 = 0) that share a co-purchase
# neighbor but are NOT adjacent, neighbor-set Jaccard ranks the top-20
# predicted links — the classic link-prediction score, generated by a
# postings join on the shared neighbor (candidate mass bounded by the
# sample), with exact integer intersection/union and a cross-
# multiplied 6dp-safe ordering.
_LINKPRED_SQL = """
    WITH edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    cand AS (
      SELECT s1.u AS a, s2.u AS b, CAST(count(*) AS BIGINT) AS inter
      FROM sym s1 JOIN sym s2
        ON s1.v = s2.v AND s1.u < s2.u
       AND s1.u % 20 = 0 AND s2.u % 20 = 0
      GROUP BY 1, 2),
    nonedge AS (
      SELECT c.a, c.b, c.inter
      FROM cand c LEFT JOIN edges e ON e.u = c.a AND e.v = c.b
      WHERE e.u IS NULL)
    SELECT n.a, n.b, n.inter,
           da.d + db.d - n.inter AS un,
           floor(n.inter * 1.0 / (da.d + db.d - n.inter) * 1000000 + 0.5) / 1000000
             AS jaccard
    FROM nonedge n JOIN deg da ON da.u = n.a JOIN deg db ON db.u = n.b
    ORDER BY jaccard DESC, n.a, n.b
    LIMIT 20
"""


@pq("graph_jaccard_link_prediction", _LINKPRED_SQL)
def graph_jaccard_link_prediction(spark, sf_dir):
    """Common-neighbor Jaccard link prediction over the part
    co-purchase graph: sampled non-adjacent pairs sharing a neighbor
    score |N(a) ∩ N(b)| / |N(a) ∪ N(b)| with exact integers, top-20 by
    (6dp score DESC, a, b). Plan: candidates from a postings join on
    the shared neighbor (bounded by the key sample — the inverted-
    index shape), degrees joined back, anti-join removes real edges;
    never an all-pairs scan."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    # the symmetrization is an inline explode, not a self-union
    edges = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    sym = edges.select(
        F.explode(
            F.array(
                F.struct("u", "v"),
                F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
            )
        ).alias("s")
    ).select("s.u", "s.v")
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    s1, s2 = sym.alias("s1"), sym.alias("s2")
    cand = (
        s1.join(s2, (F.col("s1.v") == F.col("s2.v")) & (F.col("s1.u") < F.col("s2.u"))
                & (F.col("s1.u") % 20 == 0) & (F.col("s2.u") % 20 == 0))
        .groupBy(F.col("s1.u").alias("a"), F.col("s2.u").alias("b"))
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    nonedge = cand.join(
        edges, (edges.u == cand.a) & (edges.v == cand.b), "left_anti"
    )
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    un = F.col("da") + F.col("db") - F.col("inter")
    return (
        nonedge.join(da, "a").join(db, "b")
        .select("a", "b", "inter", un.alias("un"),
                half_up(F.col("inter") * 1.0 / un).alias("jaccard"))
        .orderBy(F.col("jaccard").desc(), "a", "b")
        .limit(20)
    )


# --- PQ + ADC rerank ANN (rows-only: recall < 1 by design) ----------------------------------------------
@pq("ann_pq_rerank")  # rows-only check; recall + determinism pinned in tests
def ann_pq_rerank(spark, sf_dir):
    """Product-quantization ANN with exact re-ranking: 8x16 codebooks
    (deterministic sample + seeded k-means), ADC table-lookup scoring
    in ONE corpus pass, top-10k candidates per probe re-ranked by
    exact cosine via keyed joins. Recall < 1 by design — the rows-only
    entry class (similarity_ivf discipline); recall >= pins and
    repartition-independence are pytest-pinned."""
    from etl_mini_spark.operators.similarity import cosine_topk_pq_rerank

    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    return cosine_topk_pq_rerank(emb, probes, k=5, m=8, n_codes=16, rerank=10)


# =====================================================================
# Block L — round-12 late additions (ops research / ML-ops)
# =====================================================================

# --- Erlang-C staffing table --------------------------------------------------------------------------
# Call-center staffing: offered load a = lambda/mu from the event
# stream (arrivals = events/hour, service 3 min), and for agent counts
# n in a fixed grid the Erlang-C waiting probability
#   C(n, a) = (a^n/n!) / ((1-rho) * sum_{k<n} a^k/k! + a^n/n!)
# evaluated through the RECURRENCE t_k = t_{k-1} * a / k (pure IEEE
# multiply/divide chain, identical both engines; no factorial
# explosion). A bounded per-n chain both engines unroll identically.
_ERLANG_SQL = """
    WITH RECURSIVE rates AS (
      SELECT count(*) / (30.0 * 24.0) AS lam FROM events),
    load AS (SELECT lam, lam * (3.0 / 60.0) AS a, lam * 0.05 AS dummy FROM rates),
    grid AS (SELECT unnest(range(1, 9)) AS n),
    terms AS (
      -- t_k = a^k / k! by the multiplicative recurrence; s_k = running sum
      SELECT 0 AS k, CAST(1.0 AS DOUBLE) AS t, CAST(1.0 AS DOUBLE) AS s,
             a FROM load
      UNION ALL
      SELECT k + 1, t * a / (k + 1), s + t * a / (k + 1), a
      FROM terms WHERE k < 8)
    SELECT g.n,
           floor(l.a * 1000000 + 0.5) / 1000000 AS offered_load,
           floor((tn.t / ((1.0 - l.a / g.n) * (tn.s - tn.t) + tn.t))
                 * 1000000 + 0.5) / 1000000 AS wait_prob
    FROM grid g
    JOIN terms tn ON tn.k = g.n
    CROSS JOIN load l
    WHERE g.n > l.a
    ORDER BY g.n
"""


@pq("erlang_c_staffing", _ERLANG_SQL)
def erlang_c_staffing(spark, sf_dir):
    """Erlang-C waiting probability for agent counts 1..8 at the event
    stream's offered load (arrivals/hour x 3-min service): the a^k/k!
    terms come from the multiplicative recurrence t_k = t_{k-1}*a/k —
    one identical IEEE chain on both engines, no factorials — and only
    stable queues (n > a) report. One distributed count feeds a
    bounded driver-side chain (the kalman/IRR recursion class)."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    n_events = e.count()
    lam = n_events / (30.0 * 24.0)
    a = lam * (3.0 / 60.0)
    t, s = 1.0, 1.0
    terms = {0: (1.0, 1.0)}
    for k in range(1, 9):
        t = t * a / k
        s = s + t
        terms[k] = (t, s)
    rows = []
    for n in range(1, 9):
        if n > a:
            tn, sn = terms[n]
            wait = tn / ((1.0 - a / n) * (sn - tn) + tn)
            rows.append((n, a, wait))
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["n", "offered_load", "wait_prob"])
    )
    return out.select(
        "n", half_up(F.col("offered_load")).alias("offered_load"),
        half_up(F.col("wait_prob")).alias("wait_prob"),
    ).orderBy("n")


# --- Weighted reservoir sampling (A-Res) -----------------------------------------------------------------
# Efraimidis-Spirakis A-Res: each document draws an md5-portable
# uniform u and competes on key = u^(1/w) (weight = doc length); the
# top-32 keys ARE a weighted sample without replacement — fully
# distributed (one TakeOrdered, no state), and because u is md5-derived
# the sample is engine-identical. pow/ln appear only through identical
# inputs and the key is 9dp-pre-rounded before the rank.
_ARES_SQL = """
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
             (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':ares'), 1, 15))
               AS BIGINT) % 1000000 + 1) / 1000001.0 AS u
      FROM documents WHERE n_chars > 0),
    keyed AS (
      SELECT doc_id, wt,
             floor(power(u, 1.0 / wt) * 1000000000 + 0.5) / 1000000000 AS k9
      FROM w)
    SELECT doc_id, wt, k9
    FROM keyed
    ORDER BY k9 DESC, doc_id
    LIMIT 32
"""


@pq("weighted_sample_ares", _ARES_SQL)
def weighted_sample_ares(spark, sf_dir):
    """Weighted sample WITHOUT replacement via Efraimidis-Spirakis
    A-Res keys u^(1/w) on md5-portable uniforms (weight = document
    length): the global top-32 keys are the sample — one TakeOrdered,
    no sequential state, engine-identical because u is md5-derived and
    the key pre-rounds at 9dp before ranking. The distributed
    corpus-sampling shape mixture pipelines need."""
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (md5_mod(F.col("doc_id"), ":ares", 1_000_000) + 1) / 1_000_001.0
    k9 = F.floor(F.pow(u, 1.0 / F.col("n_chars")) * 1e9 + F.lit(0.5)) / 1e9
    return (
        d.select("doc_id", F.col("n_chars").cast("bigint").alias("wt"), k9.alias("k9"))
        .orderBy(F.col("k9").desc(), "doc_id")
        .limit(32)
    )


# --- Page-Hinkley drift detector ---------------------------------------------------------------------------
# Sequential mean-drift detection on the daily revenue series: the PH
# statistic m_t = max(0, m_{t-1} + (x_t - xbar_t - delta)) with a
# RUNNING mean — a recursion over (running mean, cumulative deviation)
# that flags the first day the statistic crosses lambda. Exact cents
# keep the running mean a rational (one division per step, identical
# IEEE), and the oracle replays the identical recursion.
_PAGEH_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, CAST(c AS DOUBLE) / 100.0 AS x,
                   row_number() OVER (ORDER BY d) AS i FROM daily),
    rec AS (
      SELECT i, d, x, x AS mean, CAST(0.0 AS DOUBLE) AS ph,
             CAST(0.0 AS DOUBLE) AS ph_max
      FROM ser WHERE i = 1
      UNION ALL
      SELECT s.i, s.d, s.x,
             r.mean + (s.x - r.mean) / s.i,
             greatest(0.0, r.ph + (s.x - (r.mean + (s.x - r.mean) / s.i)) - 50.0),
             greatest(r.ph_max,
                      greatest(0.0, r.ph + (s.x - (r.mean + (s.x - r.mean) / s.i)) - 50.0))
      FROM rec r JOIN ser s ON s.i = r.i + 1)
    SELECT d,
           floor(mean * 1000000 + 0.5) / 1000000 AS running_mean,
           floor(ph * 1000000 + 0.5) / 1000000 AS ph_stat,
           ph > 500.0 AS drift_flag
    FROM rec ORDER BY d
"""


@pq("page_hinkley_drift", _PAGEH_SQL)
def page_hinkley_drift(spark, sf_dir):
    """Page-Hinkley drift detection over the daily revenue series:
    running-mean recursion + cumulative positive deviation with
    delta=50, flagging days where the statistic exceeds lambda=500 —
    the sequential change detector ML-ops monitors run on feature
    streams, replayed bit-for-bit by the oracle's recursive CTE. The
    day aggregation is the only fact-table pass."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir).orderBy("d").collect()
    rows, mean, ph = [], None, 0.0
    for i, r in enumerate(daily, start=1):
        x = r["c"] / 100.0
        if mean is None:
            mean = x
            rows.append((r["d"], mean, 0.0))
            continue
        mean = mean + (x - mean) / i
        ph = max(0.0, ph + (x - mean) - 50.0)
        rows.append((r["d"], mean, ph))
    out = spark.createDataFrame(pd.DataFrame(rows, columns=["d", "mean", "ph"]))
    return out.select(
        "d",
        half_up(F.col("mean")).alias("running_mean"),
        half_up(F.col("ph")).alias("ph_stat"),
        (F.col("ph") > 500.0).alias("drift_flag"),
    ).orderBy("d")


# --- Walk-forward (expanding-window) validation ---------------------------------------------------------
# Three expanding-window folds over the daily revenue series: each
# fold trains on days 1..b and tests on the next 5 days with the
# seasonal-naive (t-7) forecast; per-fold MAE in exact cents. The
# leakage-safe time-series CV split every forecasting pipeline needs —
# pure integer arithmetic, fold boundaries fixed by rank.
_WFV_SQL = f"""
    WITH daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    folds AS (SELECT * FROM (VALUES (1, 10), (2, 15), (3, 20)) t(fold, train_end)),
    scored AS (
      SELECT f.fold, f.train_end, s.i, s.c,
             l.c AS pred
      FROM folds f
      JOIN ser s ON s.i > f.train_end AND s.i <= f.train_end + 5
      JOIN ser l ON l.i = s.i - 7)
    SELECT fold, CAST(train_end AS BIGINT) AS train_end,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(abs(c - pred)) AS BIGINT) AS abs_err_cents,
           floor(sum(abs(c - pred)) * 1.0 / count(*) / 100.0 * 100 + 0.5) / 100
             AS mae_usd
    FROM scored GROUP BY fold, train_end ORDER BY fold
"""


@pq("walk_forward_validation", _WFV_SQL)
def walk_forward_validation(spark, sf_dir):
    """Expanding-window walk-forward validation: three folds train on
    days 1..b and test the seasonal-naive (t-7) forecast on the next 5
    days, reporting per-fold MAE in exact cents — the leakage-safe
    time-series cross-validation split, all integer arithmetic over
    rank-fixed fold boundaries."""
    daily = events_daily_cents(spark, sf_dir)
    w = Window.orderBy("d")
    ser = daily.select("d", "c", F.row_number().over(w).alias("i"))
    folds = spark.createDataFrame([(1, 10), (2, 15), (3, 20)], "fold int, train_end int")
    lagged = ser.select(F.col("i").alias("li"), F.col("c").alias("pred"))
    scored = (
        folds.join(ser, (F.col("i") > F.col("train_end"))
                   & (F.col("i") <= F.col("train_end") + 5))
        .join(lagged, F.col("li") == F.col("i") - 7)
    )
    return (
        scored.groupBy("fold", F.col("train_end").cast("bigint").alias("train_end"))
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(F.abs(F.col("c") - F.col("pred"))).cast("bigint").alias("abs_err_cents"),
            (F.floor(F.sum(F.abs(F.col("c") - F.col("pred"))) * 1.0 / F.count("*")
                     / 100.0 * 100 + F.lit(0.5)) / 100).alias("mae_usd"),
        )
        .orderBy("fold")
    )


# --- Multiplicative Holt-Winters (weekly season) -----------------------------------------------------------
# The multiplicative companion of the registered additive
# holt_winters_weekly: level/trend/season update with RATIO seasonals
# (seed season = first-week value over the first-week mean, one
# identical IEEE division each), alpha/beta/gamma as 2dp literals —
# the same both-engine recursion discipline, different algebra.
_HWM_SQL = f"""
    WITH RECURSIVE daily AS ({EVENTS_DAILY_SQL}),
    ser AS (SELECT d, CAST(c AS DOUBLE) / 100.0 AS x,
                   row_number() OVER (ORDER BY d) AS i FROM daily),
    -- exact integer first-week sum -> one conversion + two divisions:
    -- order-free on both engines (double avg() fold order is not)
    w1 AS (SELECT CAST(sum(c) AS BIGINT) / 100.0 / 7.0 AS m
           FROM (SELECT c, row_number() OVER (ORDER BY d) AS i FROM daily)
           WHERE i <= 7),
    seed AS (
      SELECT 7 AS i, (SELECT m FROM w1) AS l, CAST(0.0 AS DOUBLE) AS b
      ),
    seas0 AS (SELECT i AS j, x / (SELECT m FROM w1) AS s FROM ser WHERE i <= 7),
    rec AS (
      SELECT s.i, s.d, s.x,
             sd.l AS l, sd.b AS b,
             s.x / (SELECT s0.s FROM seas0 s0 WHERE s0.j = ((s.i - 1) % 7) + 1)
               AS dummy,
             CAST(NULL AS DOUBLE) AS fitted
      FROM ser s JOIN seed sd ON s.i = sd.i
      UNION ALL
      SELECT s.i, s.d, s.x,
             0.3 * (s.x / (SELECT s0.s FROM seas0 s0 WHERE s0.j = ((s.i - 1) % 7) + 1))
               + 0.7 * (r.l + r.b),
             0.1 * ((0.3 * (s.x / (SELECT s0.s FROM seas0 s0 WHERE s0.j = ((s.i - 1) % 7) + 1))
                     + 0.7 * (r.l + r.b)) - r.l)
               + 0.9 * r.b,
             s.x,
             (r.l + r.b) * (SELECT s0.s FROM seas0 s0 WHERE s0.j = ((s.i - 1) % 7) + 1)
      FROM rec r JOIN ser s ON s.i = r.i + 1)
    SELECT d,
           floor(l * 1000000 + 0.5) / 1000000 AS level,
           floor(b * 1000000 + 0.5) / 1000000 AS trend,
           floor(fitted * 1000000 + 0.5) / 1000000 AS fitted
    FROM rec WHERE i > 7 ORDER BY d
"""


@pq("holt_winters_multiplicative", _HWM_SQL)
def holt_winters_multiplicative(spark, sf_dir):
    """Multiplicative Holt-Winters over the daily series with a FROZEN
    first-week ratio seasonal (seed season = day value over first-week
    mean): level 0.3/trend 0.1 smoothing against the deseasonalized
    observation, one-step fitted value (l+b)*s — the multiplicative
    companion of the registered additive holt_winters_weekly, same
    bit-exact recursion discipline. Day aggregation distributed,
    recursion bounded by the calendar."""
    import pandas as pd

    daily = events_daily_cents(spark, sf_dir).orderBy("d").collect()
    xs = [(r["d"], r["c"] / 100.0) for r in daily]
    # first-week mean from the EXACT integer cents sum (order-free),
    # then the identical conversion/division sequence as the oracle
    m = sum(r["c"] for r in daily[:7]) / 100.0 / 7.0
    season = {j + 1: xs[j][1] / m for j in range(7)}
    rows = []
    level, trend = m, 0.0
    for i, (d, x) in enumerate(xs, start=1):
        if i <= 7:
            continue
        s = season[((i - 1) % 7) + 1]
        fitted = (level + trend) * s
        new_l = 0.3 * (x / s) + 0.7 * (level + trend)
        trend = 0.1 * (new_l - level) + 0.9 * trend
        level = new_l
        rows.append((d, level, trend, x, fitted))
    out = spark.createDataFrame(
        pd.DataFrame(rows, columns=["d", "l", "b", "x", "fitted"])
    )
    return out.select(
        "d", half_up(F.col("l")).alias("level"), half_up(F.col("b")).alias("trend"),
        half_up(F.col("fitted")).alias("fitted"),
    ).orderBy("d")


# =====================================================================
# Block M — REAL multimodal decode (round-12 verdict item #2)
# =====================================================================

# Real-header media decode, both engines parsing the SAME committed
# bytes (tests/fixtures/media/imgreal_*, generated deterministically by
# tests/fixtures/media_gen.py): Spark runs parse_media_header inside
# the Arrow mapInPandas kernel (PNG IHDR u32s, a JPEG marker walk to
# the first SOF0/1/2, GIF little-endian logical screen); DuckDB parses
# the identical structures in SQL over hex(content) — substr on hex
# chars + CAST('0x..'), the JPEG walk as a recursive CTE that advances
# pos by 2+seglen, stops at SOS, and records the first SOF offset. No
# planted answers anywhere: if either parser is wrong the dims differ.
from pathlib import Path as _Path

_IMGREAL_GLOB = str(
    _Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "media" / "imgreal_*"
)
assert "'" not in _IMGREAL_GLOB, f"media glob contains a quote: {_IMGREAL_GLOB!r}"

_MDECR_SQL = f"""
    WITH RECURSIVE b AS (
      SELECT regexp_extract(filename, '[^/]+$') AS file_name,
             CAST(size AS BIGINT) AS n_bytes,
             hex(content) AS h
      FROM read_blob('{_IMGREAL_GLOB}')
    ),
    jw(file_name, h, pos, sof) AS (
      SELECT file_name, h, 2, CAST(NULL AS INTEGER)
      FROM b WHERE substr(h, 1, 4) = 'FFD8'
      UNION ALL
      SELECT file_name, h,
             CASE WHEN marker = 255 THEN pos + 1
                  WHEN marker = 1 OR (marker BETWEEN 208 AND 215)
                  THEN pos + 2 ELSE pos + 2 + seglen END,
             CASE WHEN marker IN (192, 193, 194) THEN pos END
      FROM (
        SELECT file_name, h, pos,
               CAST('0x' || substr(h, 2*(pos+1)+1, 2) AS INTEGER) AS marker,
               CAST('0x' || substr(h, 2*(pos+2)+1, 4) AS INTEGER) AS seglen
        FROM jw
        WHERE sof IS NULL AND 2*(pos+4) <= length(h)
          AND substr(h, 2*pos+1, 2) = 'FF'
      ) s
      WHERE marker <> 218
        AND (marker = 255 OR marker = 1
             OR (marker BETWEEN 208 AND 215) OR seglen >= 2)
    ),
    jdims AS (
      SELECT file_name,
             CAST('0x' || substr(h, 2*(sof+7)+1, 4) AS INTEGER) AS jw_,
             CAST('0x' || substr(h, 2*(sof+5)+1, 4) AS INTEGER) AS jh_
      FROM jw WHERE sof IS NOT NULL AND 2*(sof+9) <= length(h)
    )
    SELECT b.file_name,
           CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A' THEN 'png'
                WHEN substr(h, 1, 4) = 'FFD8' THEN 'jpeg'
                WHEN substr(h, 1, 12) IN ('474946383761', '474946383961') THEN 'gif'
                WHEN substr(h, 1, 8) = '52494646' AND substr(h, 17, 8) = '57415645' THEN 'wav'
                WHEN substr(h, 9, 8) = '66747970' THEN 'mp4'
           END AS format,
           CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
                     AND substr(h, 25, 8) = '49484452'
                  THEN CAST('0x' || substr(h, 33, 8) AS INTEGER)
                WHEN substr(h, 1, 4) = 'FFD8' THEN jdims.jw_
                WHEN substr(h, 1, 12) IN ('474946383761', '474946383961')
                  THEN CAST('0x' || substr(h, 13, 2) AS INTEGER)
                       + 256 * CAST('0x' || substr(h, 15, 2) AS INTEGER)
           END AS width,
           CASE WHEN substr(h, 1, 16) = '89504E470D0A1A0A'
                     AND substr(h, 25, 8) = '49484452'
                  THEN CAST('0x' || substr(h, 41, 8) AS INTEGER)
                WHEN substr(h, 1, 4) = 'FFD8' THEN jdims.jh_
                WHEN substr(h, 1, 12) IN ('474946383761', '474946383961')
                  THEN CAST('0x' || substr(h, 17, 2) AS INTEGER)
                       + 256 * CAST('0x' || substr(h, 19, 2) AS INTEGER)
           END AS height,
           n_bytes
    FROM b LEFT JOIN jdims ON b.file_name = jdims.file_name
"""


@pq("multimodal_decode_real", _MDECR_SQL)
def multimodal_decode_real(spark, sf_dir):
    """REAL media decode differential: binaryFile scan over the
    committed imgreal_* fixtures → operators/multimodal.py
    decode_media_real (parse_media_header in an Arrow kernel: PNG IHDR,
    JPEG SOF walk, GIF screen, WAV/ftyp detection) vs DuckDB parsing
    the same header structures in SQL from hex(content). Replaces the
    _fake_decode-formula differential as the decode story — real dims
    from real bytes, pure Python, no PIL (round-12 verdict #2). The
    6-row name join is broadcast; at corpus scale the binaryFile scan
    parallelizes per file and the kernel stays one Python roundtrip
    per Arrow batch."""
    from etl_mini_spark.operators.multimodal import decode_media_real

    raw = (
        spark.read.format("binaryFile")
        .load(_IMGREAL_GLOB)
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("content"),
        )
        .withColumn("media_id", F.xxhash64("file_name"))
    )
    meta = decode_media_real(
        raw.select("media_id", F.col("content").alias("payload")), "media_id"
    )
    names = raw.select("media_id", "file_name")
    return meta.join(F.broadcast(names), "media_id").select(
        "file_name", "format", "width", "height", "n_bytes"
    )


# Real-pixel resize: Spark inflates the PNG (zlib IDAT + unfilter),
# nearest-neighbor-samples to 8x8 and digests the pixel buffer; the
# oracle carries an INDEPENDENTLY computed truth table (generated from
# the fixture pixel FORMULA pixel(x,y)=((7x+13y)%256,(3x+5y)%256,
# (11x+2y)%256) in media_gen.py — never through decode_png_pixels) and
# pins the on-disk bytes with md5(hex(content)) so fixture drift fails
# loudly rather than silently validating stale truth.
_MRESZ_SQL = f"""
    WITH truth(file_name, width, height, out_md5, file_md5) AS (VALUES
        ('imgreal_a.png', 8, 8, '61d52cf23625d58a0d36c31dde5b1d0e', '8854ca81c45e87c09f09526947e00a4e'),
        ('imgreal_b.png', 8, 8, '53beda7b74c4a494f9b1c568a6fd72fe', 'fab327ca14e155d87b147df5a7f9a6f0'),
        ('imgreal_c.png', 8, 8, '79a338de399bbb515bef851c5cd9a196', '20e868d9608844e7d0602eb2229f9142')
    ),
    blobs AS (
      SELECT regexp_extract(filename, '[^/]+$') AS file_name,
             md5(hex(content)) AS file_md5
      FROM read_blob('{_IMGREAL_GLOB}.png')
    )
    SELECT t.file_name, t.width, t.height, t.out_md5
    FROM truth t JOIN blobs b
      ON t.file_name = b.file_name AND t.file_md5 = b.file_md5
"""


@pq("multimodal_resize_real", _MRESZ_SQL)
def multimodal_resize_real(spark, sf_dir):
    """REAL image resize: decode_png_pixels (stdlib zlib inflate +
    scanline unfilter, filter types 0/1/2 exercised across the three
    fixtures) → integer nearest-neighbor 8x8 → md5 of the resized
    buffer, inside one Arrow mapInPandas kernel
    (operators/multimodal.py resize_media_real). Differential is a
    planted-truth table computed from the fixtures' closed-form pixel
    formula — an independent path from the PNG decoder, so a decode or
    unfilter bug flips the hash. Non-PNG payloads NULL out and are
    filtered (contract: resize only decodes what it can prove)."""
    from etl_mini_spark.operators.multimodal import resize_media_real

    raw = (
        spark.read.format("binaryFile")
        .load(_IMGREAL_GLOB + ".png")
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("content"),
        )
        .withColumn("media_id", F.xxhash64("file_name"))
    )
    rz = resize_media_real(
        raw.select("media_id", F.col("content").alias("payload")), "media_id",
        target_w=8, target_h=8,
    ).filter(F.col("out_md5").isNotNull())
    names = raw.select("media_id", "file_name")
    return rz.join(F.broadcast(names), "media_id").select(
        "file_name", "width", "height", "out_md5"
    )


_MFEAT_SQL = f"""
    WITH truth(file_name, bin, cnt) AS (VALUES
        ('imgreal_a.png', 0, 7), ('imgreal_a.png', 1, 13),
        ('imgreal_a.png', 2, 21), ('imgreal_a.png', 3, 29),
        ('imgreal_a.png', 4, 71), ('imgreal_a.png', 5, 117),
        ('imgreal_a.png', 6, 133), ('imgreal_a.png', 7, 141),
        ('imgreal_a.png', 8, 138), ('imgreal_a.png', 9, 92),
        ('imgreal_a.png', 10, 40), ('imgreal_a.png', 11, 25),
        ('imgreal_a.png', 12, 18), ('imgreal_a.png', 13, 6),
        ('imgreal_b.png', 0, 187), ('imgreal_b.png', 1, 185),
        ('imgreal_b.png', 2, 186), ('imgreal_b.png', 3, 190),
        ('imgreal_b.png', 4, 190), ('imgreal_b.png', 5, 195),
        ('imgreal_b.png', 6, 197), ('imgreal_b.png', 7, 196),
        ('imgreal_b.png', 8, 198), ('imgreal_b.png', 9, 196),
        ('imgreal_b.png', 10, 197), ('imgreal_b.png', 11, 197),
        ('imgreal_b.png', 12, 193), ('imgreal_b.png', 13, 192),
        ('imgreal_b.png', 14, 188), ('imgreal_b.png', 15, 185),
        ('imgreal_c.png', 0, 7), ('imgreal_c.png', 1, 13),
        ('imgreal_c.png', 2, 21), ('imgreal_c.png', 3, 28),
        ('imgreal_c.png', 4, 53), ('imgreal_c.png', 5, 75),
        ('imgreal_c.png', 6, 78), ('imgreal_c.png', 7, 78),
        ('imgreal_c.png', 8, 74), ('imgreal_c.png', 9, 45),
        ('imgreal_c.png', 10, 25), ('imgreal_c.png', 11, 17),
        ('imgreal_c.png', 12, 10), ('imgreal_c.png', 13, 3)
    ),
    blobs AS (
      SELECT regexp_extract(filename, '[^/]+$') AS file_name,
             md5(hex(content)) AS file_md5
      FROM read_blob('{_IMGREAL_GLOB}.png')
    ),
    pins(file_name, file_md5) AS (VALUES
        ('imgreal_a.png', '8854ca81c45e87c09f09526947e00a4e'),
        ('imgreal_b.png', 'fab327ca14e155d87b147df5a7f9a6f0'),
        ('imgreal_c.png', '20e868d9608844e7d0602eb2229f9142')
    )
    SELECT t.file_name, CAST(t.bin AS INTEGER) AS bin, CAST(t.cnt AS BIGINT) AS cnt
    FROM truth t
    JOIN pins p ON t.file_name = p.file_name
    JOIN blobs b ON b.file_name = p.file_name AND b.file_md5 = p.file_md5
"""


@pq("multimodal_features_real", _MFEAT_SQL)
def multimodal_features_real(spark, sf_dir):
    """REAL image features: 16-bin integer luma histogram
    ((299R+587G+114B)//1000, all-integer — no float in the
    differential) over decode_png_pixels output, one row per
    (file, bin), via operators/multimodal.py extract_features_real.
    Truth table computed from the pixel formula independently of the
    decoder; on-disk bytes pinned by md5(hex(content)). This is the
    decode→featurize leg of the multimodal pipeline on real pixels —
    a CLIP/wav2vec kernel drops into the same Arrow batch shape."""
    from etl_mini_spark.operators.multimodal import extract_features_real

    raw = (
        spark.read.format("binaryFile")
        .load(_IMGREAL_GLOB + ".png")
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("content"),
        )
        .withColumn("media_id", F.xxhash64("file_name"))
    )
    feats = extract_features_real(
        raw.select("media_id", F.col("content").alias("payload")), "media_id", bins=16
    )
    names = raw.select("media_id", "file_name")
    return feats.join(F.broadcast(names), "media_id").select(
        "file_name", "bin", "cnt"
    )
