from functools import reduce

from etl_mini_spark.operators.graph import iterate
from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t, _TMP  # noqa: F401
from etl_mini_spark.queries.round5_new_domains import _EDGE_CTE, _copurchase_edges
from etl_mini_spark.session import pin

# Round-6 batch 2: corpus-internal repeated-span detection, exact sparse
# TF-IDF cosine pairs, SQL-defined scalar UDFs (Spark 4), multi-seed
# k-hop BFS, and a CDC-style snapshot diff. Reference parity note: the
# reference (Zaur86/etl-mini) has no corpus/graph/diff tier at all —
# these extend the LLM-data-pipeline surface mandated by the build spec,
# each as a (Spark plan, DuckDB oracle) pair.
# =========================================================================

# --- corpus-internal repeated 8-token spans --------------------------------
# Tokenization contract shared by BOTH engines: lowercase, collapse all
# whitespace runs to single spaces, trim, split on ' '.
_SPAN_K = 8

_REPEATED_SPANS_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    d AS (SELECT * FROM toks WHERE len(t) >= {_SPAN_K}),
    sh AS (SELECT doc_id, array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS s
           FROM d, UNNEST(range(1, len(t) - {_SPAN_K - 2})) AS r(i)),
    g AS (SELECT doc_id, count(*) OVER (PARTITION BY s) AS gc FROM sh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN gc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(sum(CASE WHEN gc >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS dup_ratio
    FROM g GROUP BY doc_id
"""


@q("dedup_repeated_spans", _REPEATED_SPANS_SQL)
def dedup_repeated_spans(spark, sf_dir):
    """Corpus-INTERNAL repeated-span profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of its 8-token spans that occur ≥2
    times anywhere in the corpus — the signal used to cut boilerplate
    and templated text before LM training. Differs from
    ``decontaminate_13gram`` (corpus vs an external benchmark) and from
    MinHash (whole-doc similarity): this is exact, span-level, and
    self-referential.

    Scale shape: spans shuffle ONCE on their xxhash64 (the global-count
    window), then ONCE on doc_id for the per-doc rollup — no joins, no
    candidate pairs. Hashing the 8-gram to 64 bits before the shuffle
    cuts shuffle width ~6× vs shipping span strings; at 100 TB the
    span-frequency exchange is the only wide stage and it is a plain
    hash-partitioned count. (64-bit collisions can in principle merge
    two spans' counts — ~1e-8 at 1e5 distinct spans — the standard
    trade in exact-substring dedup at scale.)"""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= _SPAN_K)
    )
    spans = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_SPAN_K - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(t, i, {_SPAN_K}))))"
            )
        ).alias("h"),
    )
    g = spans.withColumn("gc", F.count("*").over(Window.partitionBy("h")))
    dup = (F.col("gc") >= 2).cast("long")
    return g.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(dup).alias("n_dup_spans"),
        F.round(F.sum(dup) / F.count("*"), 6).alias("dup_ratio"),
    )


# --- exact sparse TF-IDF cosine pairs --------------------------------------
# Shared spec: tokens are the whitespace tokenization above with
# length ≥ 3; only tokens with document frequency in [2, 100] carry
# weight (df<2 cannot link a pair; df>100 is the stop-word mass that
# would quadratically dominate the postings join — the cap is part of
# the operator contract, i.e. cosine over the discriminative-token
# subspace, and the oracle applies the identical cap).
_TFIDF_PAIRS_SQL = """
    WITH tok AS (
      SELECT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
      WHERE length(t) >= 3
    ),
    tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) BETWEEN 2 AND 100),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents),
    w AS (SELECT tf.doc_id, tf.tok, tf.tf * ln(n.n / df.df) AS w
          FROM tf JOIN df USING (tok) CROSS JOIN n),
    nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
    dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
            FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
    SELECT doc_a, doc_b, round(dot / (x.nrm * y.nrm), 6) AS cosine
    FROM dot JOIN nrm x ON x.doc_id = doc_a JOIN nrm y ON y.doc_id = doc_b
    WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.3
"""


@q("similarity_tfidf_pairs", _TFIDF_PAIRS_SQL)
def similarity_tfidf_pairs(spark, sf_dir):
    """EXACT sparse TF-IDF cosine ≥ 0.3 document pairs via an inverted
    index — the lexical twin of ``embedding_near_dups`` and the exact
    counterpart of the approximate MinHash/SimHash family. No dense or
    cross join anywhere: candidate pairs materialize ONLY through the
    postings self-join on shared tokens, and the df ≤ 100 cap bounds
    each token's contribution to the pair stream at df² ≤ 10⁴ rows —
    the standard frequency-cut that keeps a 100 TB postings join from
    being quadratic in the stop-word mass. Shuffles are all keyed
    (token for the postings join, (doc_a, doc_b) for the dot-product
    aggregate, doc for norms); AQE splits any residual hot token. The
    weighted postings list is pinned and reused three times (norms +
    both join sides)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    tok = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") >= 3)
    )
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").cast("double").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df")).filter("df BETWEEN 2 AND 100")
    n_docs = docs.agg(F.count("*").cast("double").alias("n"))
    # unpinned: 0.98 s vs 0.86 s at sf0.1
    w = pin(
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "tok", (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("w"))
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dot = (
        a.join(b, (F.col("a.tok") == F.col("b.tok")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    x = nrm.withColumnsRenamed({"doc_id": "doc_a", "nrm": "na"})
    y = nrm.withColumnsRenamed({"doc_id": "doc_b", "nrm": "nb"})
    cos = F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
    return (
        dot.join(x, "doc_a").join(y, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


# --- SQL-defined scalar UDFs (Spark 4) -------------------------------------
_SQL_UDF_SQL = """
    SELECT band,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(net), 2) AS net_revenue
    FROM (
      SELECT l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS net,
             CASE WHEN l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) < 20000 THEN 'low'
                  WHEN l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) < 60000 THEN 'mid'
                  ELSE 'high' END AS band
      FROM lineitem
    ) GROUP BY band
"""


@q("sql_udf_scalar", _SQL_UDF_SQL)
def sql_udf_scalar(spark, sf_dir):
    """Modern-SQL tier: Spark 4 SQL-DEFINED scalar functions
    (``CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN expr``) — the
    closed-registry UDF story (functions/registry.py) without leaving
    the JVM: Catalyst INLINES the function body at plan time, so the
    revenue expression lands inside WholeStageCodegen exactly as if it
    were written inline (plan-asserted: no BatchEvalPython, codegen
    spans intact — tests/test_plans.py). This is the scale answer to
    'users want reusable business logic': a SQL UDF costs nothing at
    100 TB, a row-at-a-time Python UDF costs the pipeline. Oracle
    inlines the same expressions by hand."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE, t DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d) * (1.0 + t)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(x DOUBLE) RETURNS STRING "
        "RETURN CASE WHEN x < 20000 THEN 'low' WHEN x < 60000 THEN 'mid' ELSE 'high' END"
    )
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("r6_lineitem")
    return spark.sql(
        """
        SELECT band, count(*) AS n, round(sum(net), 2) AS net_revenue
        FROM (SELECT net_price(l_extendedprice, l_discount, l_tax) AS net,
                     price_band(net_price(l_extendedprice, l_discount, l_tax)) AS band
              FROM r6_lineitem)
        GROUP BY band
        """
    )


# --- multi-seed k-hop BFS ---------------------------------------------------
_KHOP_SQL = f"""
    WITH RECURSIVE {_EDGE_CTE},
    und AS (SELECT p1 AS s, p2 AS d FROM e UNION ALL SELECT p2, p1 FROM e),
    seeds AS (SELECT s AS seed FROM (SELECT DISTINCT s FROM und) ORDER BY s LIMIT 3),
    walk(seed, node, hop) AS (
      SELECT seed, seed, 0 FROM seeds
      UNION
      SELECT w.seed, u.d, w.hop + 1 FROM walk w JOIN und u ON u.s = w.node WHERE w.hop < 3
    ),
    mh AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY seed, node)
    SELECT seed, hop, CAST(count(*) AS BIGINT) AS n_nodes
    FROM mh GROUP BY seed, hop
"""


@q("graph_khop_reach", _KHOP_SQL)
def graph_khop_reach(spark, sf_dir):
    """Multi-seed 3-hop BFS over the co-purchase graph: per (seed, hop)
    the number of nodes whose SHORTEST distance from the seed is
    exactly that hop — the neighborhood-growth primitive behind
    influence radius, recall-graph audits, and GNN sampling fan-out.
    Completes the graph tier (triangles = local structure, PageRank =
    global stationary, CC = components, BFS = distances).

    The frontier loop is level-synchronous BFS as it distributes: each
    hop is ONE keyed join frontier⋈edges plus a left-anti against the
    visited set — never a full |V|×|V| expansion, and the anti-join
    keeps revisits out of the frontier so work per hop is bounded by
    the true frontier size (the recursive-CTE oracle instead carries
    all (seed,node,hop) walks and min-reduces at the end — fine for an
    oracle, wrong at scale). Each level is a pinned superstep
    (operators/graph.iterate): 3 sequential stages, lineage stays flat.
    Oracle: DuckDB
    recursive CTE, min-hop per (seed, node)."""
    e = _copurchase_edges(spark, sf_dir)
    und = e.select(F.col("p1").alias("s"), F.col("p2").alias("d")).unionAll(
        e.select(F.col("p2"), F.col("p1"))
    )
    seeds = (
        und.select("s").distinct().orderBy("s").limit(3).select(F.col("s").alias("seed"))
    )

    def step(levels):
        nxt = (
            levels[-1].join(und, F.col("node") == F.col("s"))
            .select("seed", F.col("d").alias("node"))
            .distinct()
        )
        visited = reduce(DataFrame.unionAll, levels).select("seed", "node")
        nxt = nxt.join(visited, ["seed", "node"], "left_anti")
        return levels + (nxt.withColumn("hop", F.lit(len(levels))),)

    # unpinned (edges still pinned): 28 jobs vs 26, 3.80 s vs 2.89 s at sf0.1
    hop0 = pin(seeds.select("seed", F.col("seed").alias("node"), F.lit(0).alias("hop")))
    levels = iterate((hop0,), step, max_iter=3)
    return (
        reduce(DataFrame.unionAll, levels)
        .groupBy("seed", "hop").agg(F.count("*").alias("n_nodes"))
    )


# --- CDC-style snapshot diff ------------------------------------------------
# Two deterministic "snapshots" derived from orders: snapshot B adds the
# keys ≡3 (mod 10) that A lacks, drops the keys ≡5 that A has, and
# reprices the keys ≡7 by +$5.00 — added / removed / changed, exactly.
# Prices are carried as integer CENTS (o_totalprice has 2-decimal
# semantics; round(x*100) of a near-integer double is exact in both
# engines) so the equality compare never touches float rounding — the
# same reason a real CDC diff compares canonical scaled decimals, not
# doubles.
_SNAPDIFF_SQL = """
    WITH a AS (SELECT o_orderkey, o_orderstatus,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderkey % 10 <> 3),
    b AS (SELECT o_orderkey, o_orderstatus,
                 CAST(round(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 10 = 7 THEN 500 ELSE 0 END AS cents
          FROM orders WHERE o_orderkey % 10 <> 5)
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           a.cents AS old_cents, b.cents AS new_cents
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_orderstatus <> b.o_orderstatus OR a.cents <> b.cents
"""


@q("snapshot_table_diff", _SNAPDIFF_SQL)
def snapshot_table_diff(spark, sf_dir):
    """CDC-style snapshot diff — classify every key as added / removed
    / changed between two table versions (the reconciliation step
    behind incremental-ingest audits and the inverse of ``merge_upsert``,
    which APPLIES a diff; reference parity: etl-mini's keyed upsert is
    the apply side, it has no diff side). One FULL OUTER sort-merge
    join on the key is the whole plan; unchanged rows — the ~entirety
    of a 100 TB snapshot pair — are dropped by the post-join filter
    before anything aggregates, so output is proportional to churn,
    not table size. Values compare as integer cents (exact), never as
    rounded doubles — ``round(x*1.05, 2)`` sits on different sides of
    a half-even boundary across engines; at very wide schemas you
    would fold columns into xxhash64 per side instead."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = (
        o.filter("o_orderkey % 10 <> 3")
        .select("o_orderkey", "o_orderstatus", cents.alias("cents"))
        .alias("a")
    )
    b = (
        o.filter("o_orderkey % 10 <> 5")
        .select(
            "o_orderkey",
            "o_orderstatus",
            (cents + F.when(F.col("o_orderkey") % 10 == 7, 500).otherwise(0)).alias("cents"),
        )
        .alias("b")
    )
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    return j.filter(
        F.col("a.o_orderkey").isNull()
        | F.col("b.o_orderkey").isNull()
        | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus"))
        | (F.col("a.cents") != F.col("b.cents"))
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("o_orderkey"),
        change.alias("change_type"),
        F.col("a.cents").alias("old_cents"),
        F.col("b.cents").alias("new_cents"),
    )


# --- distributed k-means (rows-only: iterative float fixpoint) -------------
@q("embedding_kmeans")  # iterative Lloyd's — no SQL twin; pinned by a
# numpy differential test (tests/test_operators.py) + the registry-level
# schema/non-empty check (tests/test_queries_oracle.py ROWS_ONLY_SCHEMAS)
def embedding_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embeddings table, run to
    convergence (operators/clustering.py): per iteration one broadcast-
    GEMM assignment pass (no shuffle) + one k-key mean shuffle + one
    k×d centroid collect — the Spark MLlib KMeans layout, written on
    the public DataFrame API. Deterministic init (k lowest vec_ids), so
    the whole trajectory is differentially tested against a pure-numpy
    twin. Output: per-cluster size and within-cluster sum of squares.
    Rows-only: the fixpoint is float-order sensitive at the last ulp,
    which no cross-engine hash can pin."""
    from etl_mini_spark.operators.clustering import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings")
    assigned, cents, _ = kmeans_lloyd(emb, id_col="vec_id", vec_col="embedding", k=8)
    c_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cluster INT, centroid ARRAY<DOUBLE>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        assigned.join(F.broadcast(c_df), "cluster")
        .groupBy("cluster")
        .agg(F.count("*").alias("n_points"), F.round(F.sum(d2), 2).alias("wcss"))
    )
