"""Registry queries, each checked against its DuckDB oracle. The
non-vacuity pins live in tests/test_round7_ops.py; every entry also
runs through the registry oracle sweep (tests/test_queries_oracle.py).

Contents (batch 1): PPJoin-style exact Jaccard set-similarity join
(lossless prefix/length/positional filters vs a naive all-pairs
oracle), linear time-series gap interpolation (the interior-gap twin of
the LOCF fill), a k-anonymity / l-diversity privacy report, Spark 4 SQL
pipe syntax, temperature-based mixture reweighting (share ∝ count^0.7),
INTERSECT ALL / EXCEPT ALL bag-semantics set ops, and corpus bigram-LM
document scoring (the KenLM-style quality-filter proxy).

Batch 2: exact rolling median (bounded-frame array middles),
trailing-7d sliding distinct users (bounded-explode rewrite of the
unsupported COUNT(DISTINCT) OVER RANGE), Markov event-transition
matrix, rolling z-score anomaly flags (leakage-free trailing frame),
per-language token-budget quota cap (two-pass 256-shard distributed
prefix sum, oracle = the naive one-window cumsum), positional inverted
index with df-band pruning, 13-gram cross-document novelty scoring,
deterministic-arm A/B conversion lift with pooled z-stat, and a
Benford first-digit DQ audit.

Batch 3: CUSUM change-point detection (reset recursion as two stacked
window scans), basket association rules (support/confidence/lift), and
gaps-and-islands activity streaks.

Batch 4: skip-gram training pairs (join-free array math) and DAU/MAU
stickiness (28-day bounded-explode sliding distinct).

Batch 5: incremental aggregate maintenance — mergeable partial-agg
state folded across disjoint slices (operators/incremental.py) vs the
single-pass recompute oracle.

Batch 6: seasonal-naive forecast MAE/MAPE backtest and per-document
TF-IDF keyword top-k (rank keys pre-rounded against libm ln() ulp
divergence).

Batch 7: leakage-safe train/test split (near-dup clusters as the split
unit; self-auditing zero cross-split duplicate pairs).

Batch 8: Kaplan-Meier time-to-conversion survival (product-as-exp-sum
window rewrite, right-censoring), trailing-14d rolling correlation
between event-type revenue series, and running distinct cardinality
(first-occurrence-flag + cumsum rewrite), exact daily P10/50/90
value bands, and per-event purchase recency (running conditional max,
exact µs).

Batch 9: deadline-constrained funnel (per-step timeouts) and the
Pareto/Lorenz revenue-concentration curve.

Batch 10: business-day SLA distribution (ISO-weekday-pinned calendar
arithmetic).

Batch 11: as-of join tolerance (staleness bound) and nearest
direction — the rest of the pandas merge_asof surface.

Batch 12: the end-to-end corpus curation pipeline (quality → exact
dedup → near-dup canonical pick → budget cap → split as one pinned
composition), plus the Theil-Sen robust trend estimator.

Batch 13: FIFO lot matching (the sequential costing recursion
linearized via cumulative-interval overlap) and linear multi-touch
attribution (conservation-pinned fair-share credit).
"""

from pathlib import Path

from etl_mini_spark.operators import text as TX
from etl_mini_spark.queries._base import _t
from etl_mini_spark.queries._base import q as pq
from pyspark.sql import Window
from pyspark.sql import functions as F


# --- exact Jaccard set-similarity join with prefix filtering ---------------
# Spec shared with the oracle: token sets are DISTINCT whitespace tokens
# (shared normalization contract, length ≥ 3); pairs with
# Jaccard ≥ 3/5 — evaluated as the INTEGER comparison 5·|A∩B| ≥ 3·|A∪B|,
# so the threshold never touches a float. The ORACLE computes the naive
# exact join (full postings self-join); the Spark side generates
# candidates only from per-doc PREFIXES (the |A| − ⌈τ·|A|⌉ + 1 rarest
# tokens in a global (df, token) order — any pair meeting τ must share a
# prefix token), so the oracle doubles as a proof that the filter is
# lossless.
_SETJOIN_SQL = """
    WITH tok AS (
      SELECT DISTINCT doc_id, t AS tok FROM (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
        FROM documents)
      WHERE length(t) >= 3
    ),
    sz AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS isect
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT doc_a, doc_b, CAST(isect AS BIGINT) AS isect,
           CAST(x.sz + y.sz - isect AS BIGINT) AS un
    FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
    WHERE 5 * isect >= 3 * (x.sz + y.sz - isect)
"""


def _setjoin_bitmask(spark, tok, vocab):
    """Exact Jaccard ≥ 3/5 join for ≤63-token vocabularies: token sets
    as 64-bit masks, DISTINCT-mask pair join decided by bit_count.

    100 TB story: the doc→mask pass is one broadcast equi join + one
    hash agg; the pair join runs over DISTINCT masks only (≤ 2^|V|,
    cap-asserted ≤ 32,768 so the broadcast side stays bounded —
    beyond the cap the corpus isn't bitmask-compact and the caller
    gets the MinHash swap rule); expansion back to doc pairs is two
    equi joins on mask, sized by the OUTPUT, which no exact algorithm
    can beat."""
    bits = spark.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], ["tok", "bitpos"]
    )
    masks = (
        tok.join(F.broadcast(bits), "tok")
        .groupBy("doc_id")
        # distinct (doc, tok) postings -> each bit contributes once, so
        # SUM is exactly bitwise OR; bitpos <= 62 keeps it in int64
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), bitpos)")).alias("mask"))
    )
    # (doc_id, mask — 16 bytes/doc) feeds the eager cap count AND all
    # five downstream join legs; unpinned: 18 jobs vs 16, 1.41 s vs
    # 1.00 s at sf0.01
    from etl_mini_spark.session import pin

    masks = pin(masks)
    mm = masks.select("mask").distinct()
    n_masks = mm.count()  # bounded driver scalar (<= 2^|V|, <= n_docs)
    if n_masks > 32768:
        raise ValueError(
            f"bitmask setjoin: {n_masks} distinct token sets exceed the "
            "32768 broadcast cap — swap to near_dup_pairs_minhash_lsh "
            "(band-bucketed candidates, frequency-independent)"
        )
    ma = mm.select(F.col("mask").alias("ma"))
    mb = mm.select(F.col("mask").alias("mb"))
    mp = (
        ma.join(F.broadcast(mb), F.col("ma") < F.col("mb"))
        .withColumn("isect", F.bit_count(F.col("ma").bitwiseAND(F.col("mb"))).cast("long"))
        .withColumn("un", F.bit_count(F.col("ma").bitwiseOR(F.col("mb"))).cast("long"))
        .filter(5 * F.col("isect") >= 3 * F.col("un"))
    )
    da = masks.select(F.col("doc_id").alias("xa"), F.col("mask").alias("ma"))
    db = masks.select(F.col("doc_id").alias("xb"), F.col("mask").alias("mb"))
    cross = (
        mp.join(da, "ma")
        .join(db, "mb")
        .select(
            F.least("xa", "xb").alias("doc_a"),
            F.greatest("xa", "xb").alias("doc_b"),
            "isect",
            "un",
        )
    )
    same = (
        masks.alias("x")
        .join(masks.alias("y"), "mask")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count("mask").cast("long").alias("isect"),
            F.bit_count("mask").cast("long").alias("un"),
        )
    )
    return cross.unionByName(same)


@pq("setjoin_prefix_filter", _SETJOIN_SQL)
def setjoin_prefix_filter(spark, sf_dir):
    """PPJoin-style exact set-similarity join (Xiao et al., WWW'08):
    Jaccard ≥ 0.6 document pairs where candidates come ONLY from prefix
    postings. Rank each doc's tokens by global (df, token) ascending —
    rarest first; a pair at threshold τ must share one of each side's
    first |A| − ⌈τ|A|⌉ + 1 tokens, so the candidate join runs on the
    LOW-df end of the postings (the exact opposite of the stop-word
    mass), shrinking the candidate stream by orders of magnitude at
    corpus scale while provably losing nothing — the naive-join oracle
    checks exactly that. Three lossless filters stack (all integer
    arithmetic, no float ever decides a boundary): prefix, LENGTH
    (3·|A| ≤ 5·|B| ∧ 3·|B| ≤ 5·|A|), and POSITIONAL (a pair whose
    first shared prefix token sits at positions (pa, pb) can overlap at
    most 1 + min(|A|−pa, |B|−pb), which must reach ⌈(3/8)(|A|+|B|)⌉).
    Verification is per-pair ``array_intersect`` over each doc's
    collected token array — one O(|doc|) kernel per candidate, NOT an
    exploded postings re-join (measured 10× cheaper at a 200×-scale
    probe: the exploded form shuffles |cand|·|doc| rows).

    AUTO-ROUTED since round 15 (the r14 verdict's "no silent 24×
    cliff" item). The prefix filter only earns its keep on corpora
    with a rare-df tail; the testdata corpus is df-FLAT (30-token
    vocabulary at every SF — avg candidate mass 1.7k/doc at the
    driver's own sf0.01 gate), where the degenerate regime is ALSO the
    compact one: a ≤63-token vocabulary means every token set fits in
    one 64-bit BITMASK. Routing (both paths EXACT, same oracle):

    - vocab ≤ 63 → BITMASK plan: per-doc mask via a broadcast
      (token → bit) join + SUM (distinct postings, so sum ≡ OR);
      DISTINCT masks pair-join (cap-asserted ≤ 32,768 masks — the
      broadcast side is bounded by construction) with
      ``bit_count(a&b)`` / ``bit_count(a|b)`` deciding 5·i ≥ 3·u in
      pure integers; same-mask doc pairs are Jaccard-1 by identity and
      expand via equi joins. sf0.1 drops from 104.5 s (postings plan)
      to seconds, and the pair verification is two JVM bit ops instead
      of an array intersection.
    - vocab > 63 → the PPJoin prefix plan below, now guarded by
      ``operators.dedup.prefix_join_preflight`` (exact candidate mass
      Σ df·(df−1)/2 from one grouping-sets pass; RAISES with the
      MinHash-LSH swap-in rule past 64 candidates/doc, so a df-flat
      LARGE vocabulary can never silently go quadratic).

    The route decision costs one bounded driver-side scalar (vocab
    count ≤ the corpus' distinct-token count)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    tok = (
        docs.select("doc_id", F.explode(toks).alias("tok"))
        .filter(F.length("tok") >= 3)
        .distinct()
    )
    vocab = [r["tok"] for r in tok.select("tok").distinct().orderBy("tok").limit(64).collect()]
    if not vocab:
        # token-less corpus (no tokens >= 3 chars): no pairs, same as
        # the oracle's empty join — don't feed an empty vocab to the
        # bitmask builder
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, isect long, un long"
        )
    if len(vocab) <= 63:
        return _setjoin_bitmask(spark, tok, vocab)
    from etl_mini_spark.operators.dedup import prefix_join_preflight

    tok = tok.withColumn("df", F.count("*").over(Window.partitionBy("tok")))
    sz = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ranked = tok.withColumn(
        "rk", F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok"))
    ).join(sz, "doc_id")
    # prefix_len = sz - ceil(3*sz/5) + 1, in integer arithmetic
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.expr("(3 * sz + 4) div 5") + 1
    ).select("doc_id", "tok", "sz", "rk")
    # candidate-mass guard (r14 verdict item 2): a df-flat LARGE
    # vocabulary has no compact bitmask escape — raise with the
    # swap-in rule instead of silently going quadratic.
    prefix_join_preflight(prefix.select("doc_id", "tok"), mode="raise")
    a, b = prefix.alias("a"), prefix.alias("b")
    # LENGTH filter: Jaccard ≥ 3/5 forces 3·|A| ≤ 5·|B| ∧ 3·|B| ≤ 5·|A|
    # (|A∩B| ≤ min, |A∪B| ≥ max). It prunes even on df-flat corpora
    # where the prefix filter alone degenerates (uniform vocabularies
    # have no rare tail for the prefix to exploit).
    # POSITIONAL filter: overlap from the first shared token onward is
    # ≤ 1 + min(|A|−pa, |B|−pb) and must reach α = ⌈(3/8)(|A|+|B|)⌉;
    # n ≥ ⌈m/8⌉ ⟺ 8n ≥ m keeps it in integers. Any-token-pass is the
    # first-token test (the bound is largest at the earliest positions).
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (3 * F.col("a.sz") <= 5 * F.col("b.sz"))
            & (3 * F.col("b.sz") <= 5 * F.col("a.sz"))
            & (
                8 * (1 + F.least(F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")))
                >= 3 * (F.col("a.sz") + F.col("b.sz"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    arrs = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("tok")).alias("ta"), F.count("*").alias("sz")
    )
    x = arrs.withColumnsRenamed({"doc_id": "doc_a", "ta": "taa", "sz": "sza"})
    y = arrs.withColumnsRenamed({"doc_id": "doc_b", "ta": "tab", "sz": "szb"})
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumn("isect", F.size(F.array_intersect("taa", "tab")).cast("long"))
        .withColumn("un", F.col("sza") + F.col("szb") - F.col("isect"))
        .filter(5 * F.col("isect") >= 3 * F.col("un"))
        .select("doc_a", "doc_b", "isect", "un")
    )


# --- linear time-series gap interpolation ----------------------------------
# Hourly mean value for 'purchase' events over the full span; missing
# hours linearly interpolated between the nearest observed hours
# (interior gaps only — leading/trailing edges stay NULL and are
# labeled 'edge').
_INTERP_SQL = """
    WITH obs AS (SELECT date_trunc('hour', ts) AS h, round(avg(value), 6) AS v
                 FROM events WHERE event_type = 'purchase' GROUP BY 1),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
    grid AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b),
    j AS (SELECT g.h, o.v FROM grid g LEFT JOIN obs o ON o.h = g.h),
    f AS (SELECT h, v,
                 last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
                 last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                   OVER (ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                 first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
                   OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh,
                 first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                   OVER (ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
          FROM j)
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CASE WHEN v IS NOT NULL THEN 'obs'
                WHEN ph IS NULL OR nh IS NULL THEN 'edge'
                ELSE 'interp' END AS fill_kind,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN ph IS NULL OR nh IS NULL THEN NULL
                      ELSE pv + (nv - pv) * date_diff('hour', ph, h)::DOUBLE
                                          / date_diff('hour', ph, nh)::DOUBLE
                 END, 6) AS value_filled
    FROM f
"""


@pq("timeseries_interpolate_linear", _INTERP_SQL)
def timeseries_interpolate_linear(spark, sf_dir):
    """Linear interpolation over interior gaps of an hourly series —
    the modeling-grade twin of timeseries_resample_fill's LOCF: each
    missing hour gets prev + (next−prev)·Δt/Δspan from the nearest
    observed values on each side, found with two IGNORE NULLS value
    windows (no self-join, no per-gap iteration). One sort per series
    (here: one series; per-key at scale via partitionBy) does the whole
    fill — the standard distributed formulation. Edges (before first /
    after last observation) are labeled, not fabricated."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    obs = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.round(F.avg("value"), 6).alias("v")
    )
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    j = grid.join(obs, "h", "left")
    w_prev = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("h").rowsBetween(0, Window.unboundedFollowing)
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    obs_v = F.when(F.col("v").isNotNull(), F.col("v"))
    f = (
        j.withColumn("ph", F.last(obs_h, ignorenulls=True).over(w_prev))
        .withColumn("pv", F.last(obs_v, ignorenulls=True).over(w_prev))
        .withColumn("nh", F.first(obs_h, ignorenulls=True).over(w_next))
        .withColumn("nv", F.first(obs_v, ignorenulls=True).over(w_next))
    )
    hours = lambda a, b: (F.unix_timestamp(b) - F.unix_timestamp(a)) / 3600.0  # noqa: E731
    kind = (
        F.when(F.col("v").isNotNull(), "obs")
        .when(F.col("ph").isNull() | F.col("nh").isNull(), "edge")
        .otherwise("interp")
    )
    val = F.when(F.col("v").isNotNull(), F.col("v")).otherwise(
        F.when(
            F.col("ph").isNotNull() & F.col("nh").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * hours(F.col("ph"), F.col("h"))
            / hours(F.col("ph"), F.col("nh")),
        )
    )
    return f.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        kind.alias("fill_kind"),
        F.round(val, 6).alias("value_filled"),
    )


# --- k-anonymity / l-diversity privacy report ------------------------------
# QI = (nation, market segment, account-balance band); sensitive
# attribute = the CENTS digit of the balance — independent of the
# 1000-wide band by construction, and exactly representable in both
# engines (round(x*100) of a 2-decimal double is integer-exact). k=5, l=2.
_KANON_SQL = """
    SELECT c_nationkey,
           c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 10) AS BIGINT) AS l_div,
           count(*) >= 5 AS k_anonymous,
           count(DISTINCT abs(CAST(round(c_acctbal * 100) AS BIGINT)) % 10) >= 2 AS l_diverse
    FROM customer
    GROUP BY 1, 2, 3
"""


@pq("privacy_k_anonymity", _KANON_SQL)
def privacy_k_anonymity(spark, sf_dir):
    """Privacy-tier DQ report: k-anonymity (every quasi-identifier
    group ≥ k rows) and l-diversity (≥ l distinct sensitive values per
    group) over customer — the release-gate check that runs BEFORE a
    dataset ships to training (complements text_redact_pii, which
    scrubs inside values; this audits the join-able structure around
    them). One hash aggregation with a distinct-count: at 100 TB this
    is a two-shuffle partial-agg plan, nothing more. Suppression policy
    (drop/generalize violating groups) is the caller's next step; the
    report lists every group with its flags."""
    c = _t(spark, sf_dir, "customer")
    cents_digit = F.abs(F.round(F.col("c_acctbal") * 100).cast("long")) % 10
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
        )
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(cents_digit).alias("l_div"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "n",
            "l_div",
            (F.col("n") >= 5).alias("k_anonymous"),
            (F.col("l_div") >= 2).alias("l_diverse"),
        )
    )


# --- SQL pipe syntax (Spark 4) ---------------------------------------------
_PIPE_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(avg(l_quantity), 6) AS avg_qty
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
    GROUP BY l_returnflag, l_linestatus
"""


@pq("sql_pipe_syntax", _PIPE_SQL)
def sql_pipe_syntax(spark, sf_dir):
    """Modern-SQL tier: Spark 4 SQL PIPE syntax (`|>` — SIGMOD'24
    'SQL Has Problems...' / GoogleSQL pipes): the same logical plan as
    the GROUP BY formulation, written as a linear dataflow. Catalyst
    lowers pipes to the identical resolved plan, so this costs nothing
    at any scale — the entry pins that the dialect actually works on
    this engine version against a standard-SQL oracle."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("r7_lineitem")
    return spark.sql(
        """
        FROM r7_lineitem
        |> WHERE l_shipdate >= DATE '1994-01-01'
        |> AGGREGATE count(*) AS n,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                     round(avg(l_quantity), 6) AS avg_qty
           GROUP BY l_returnflag, l_linestatus
        """
    )


# --- temperature-based mixture reweighting ---------------------------------
# The data-DERIVED twin of mixture_weighted_sample (whose rates come
# from a hash): per-source keep rates follow the temperature rule used
# to balance LM training mixes — share ∝ n_s^α (α=0.7 flattens the
# head), total budget 40 % of the corpus, rate capped at 1. Thresholds
# become integers (floor(rate·100000)) before the hash filter, so the
# keep/drop edge is engine-exact; the only cross-engine float is
# pow(n, 0.7), ~1e-16 relative, 5 decades away from a floor boundary.
_MIXTEMP_SQL = """
    WITH totals AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    wts AS (SELECT source, n, pow(n, 0.7) AS w FROM totals),
    tot AS (SELECT sum(w) AS sw, sum(n) AS sn FROM wts),
    rates AS (SELECT source, n,
                     least(1.0, (0.4 * sn * w / sw) / n) AS rate
              FROM wts CROSS JOIN tot),
    thr AS (SELECT source, n, rate,
                   CAST(floor(rate * 100000) AS BIGINT) AS t FROM rates),
    kept AS (SELECT d.source, count(*) AS n_kept
             FROM documents d JOIN thr ON d.source = thr.source
             WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'), 1, 15)) AS BIGINT)
                     % 100000 < thr.t
             GROUP BY d.source)
    SELECT thr.source, CAST(thr.n AS BIGINT) AS n_total,
           round(thr.rate, 6) AS rate,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
    FROM thr LEFT JOIN kept ON thr.source = kept.source
"""


@pq("mixture_temperature_weights", _MIXTEMP_SQL)
def mixture_temperature_weights(spark, sf_dir):
    """Temperature-based mixture reweighting (the multilingual-LM
    sampling rule: share ∝ count^α): derive per-source keep rates FROM
    the corpus itself — weight n^0.7, normalize, scale to a 40 % token
    budget, cap at 1 — then keep rows by the md5-bucket threshold
    (operators/sampling.py:mixture_sample). Two tiny aggregates (source
    counts, one global sum) feed a broadcast join onto the corpus; the
    sample itself is a narrow map+filter, so at 100 TB the whole thing
    costs one source-keyed partial agg and one scan. Integer thresholds
    keep the boundary engine-exact. Output: per-source totals, rate,
    kept counts."""
    from etl_mini_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    totals = d.groupBy("source").agg(F.count("*").alias("n"))
    wts = totals.withColumn("w", F.pow("n", F.lit(0.7)))
    tot = wts.agg(F.sum("w").alias("sw"), F.sum("n").alias("sn"))
    thr = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn("rate", F.least(F.lit(1.0), (0.4 * F.col("sn") * F.col("w") / F.col("sw")) / F.col("n")))
        .withColumn("t", F.floor(F.col("rate") * 100000).cast("long"))
        .select("source", "n", "rate", "t")
    )
    base = d.select("doc_id", "source").join(F.broadcast(thr), "source")
    kept = (
        mixture_sample(base, "doc_id", F.col("t"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        thr.join(kept, "source", "left")
        .select(
            "source",
            F.col("n").alias("n_total"),
            F.round("rate", 6).alias("rate"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


# --- bag-semantics set operations ------------------------------------------
# INTERSECT ALL / EXCEPT ALL over multisets with real duplicate
# multiplicity: event (user_id, event_type) rows repeat, and the two
# deterministic halves overlap. DISTINCT set ops are already covered
# (set_intersect / set_except); ALL variants preserve min/differences of
# multiplicities — a different operator in both engines.
_SETALL_SQL = """
    WITH a AS (SELECT user_id, event_type FROM events WHERE event_id % 3 <> 0),
    b AS (SELECT user_id, event_type FROM events WHERE event_id % 2 <> 0),
    i AS (SELECT *, 'intersect_all' AS op FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)),
    e AS (SELECT *, 'except_all' AS op FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
    SELECT op, user_id, event_type, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT * FROM i UNION ALL SELECT * FROM e)
    GROUP BY op, user_id, event_type
"""


@pq("set_ops_all", _SETALL_SQL)
def set_ops_all(spark, sf_dir):
    """U1 completion: INTERSECT ALL / EXCEPT ALL results — bag
    semantics with true multiplicities (min(m_a, m_b) and m_a − m_b).
    This entry does NOT call the engine's ``intersectAll`` /
    ``exceptAll``: both results come from ONE scan and ONE shuffle — a
    (user, type) aggregate counts each side's multiplicity with
    conditional counts, and the surviving rows explode as (op,
    multiplicity) pairs: INTERSECT ALL keeps min(m_a, m_b) > 0, EXCEPT
    ALL keeps m_a − m_b > 0 (the set-op formulation scanned events 4x
    and shuffled twice, guide 2.4). The DataFrame set-ops themselves
    are checked against DuckDB in tests/test_operators.py. Output is
    (row, multiplicity) so the hash compare is order-free."""
    ev = _t(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.when(F.expr("event_id % 3 <> 0"), 1)).alias("ma"),
        F.count(F.when(F.expr("event_id % 2 <> 0"), 1)).alias("mb"),
    )
    return (
        cnt.select(
            "user_id", "event_type",
            F.explode(F.filter(
                F.array(
                    F.struct(F.lit("intersect_all").alias("op"),
                             F.least("ma", "mb").alias("n")),
                    F.struct(F.lit("except_all").alias("op"),
                             (F.col("ma") - F.col("mb")).alias("n")),
                ),
                lambda s: s["n"] > 0,
            )).alias("__s"),
        )
        .select(F.col("__s.op").alias("op"), "user_id", "event_type",
                F.col("__s.n").alias("n"))
    )


# --- corpus bigram-LM scoring ----------------------------------------------
# KenLM-style quality proxy without external models: train MLE bigram
# statistics ON the corpus, score every document by its mean bigram
# log-probability ln(c(w1,w2)/c(w1)). Scoring the training corpus means
# every bigram has count ≥ 1 — no smoothing needed, fully exact spec.
_BIGRAM_LM_SQL = """
    WITH d AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
      FROM documents
    ),
    big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM d, UNNEST(range(1, len(t))) AS r(i)
            WHERE len(t) >= 2),
    c2 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
    sc AS (SELECT doc_id, ln(c12::DOUBLE / c1) AS lp
           FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 6) AS avg_logprob
    FROM sc GROUP BY doc_id
"""


@pq("text_bigram_lm_score", _BIGRAM_LM_SQL)
def text_bigram_lm_score(spark, sf_dir):
    """Corpus-LM document scoring — the quality-filter primitive that
    ranks documents by how 'typical' their word transitions are for
    the corpus (low mean bigram log-prob ⇒ boilerplate-free but also
    gibberish-prone; the tails feed manual review or cut thresholds).
    Differs from corpus_token_entropy (within-doc distribution) and
    text_quality (surface heuristics): this conditions on corpus-wide
    transition statistics. Plan: two hash aggregations build the model
    (bigram and unigram-context counts), two keyed joins replay it over
    the bigram stream, one doc rollup — every stage a partial-agg
    shuffle on its key; at 100 TB the model tables stay distributed
    (no broadcast of the vocabulary anywhere)."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    big = (
        d.select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS w1, t[i] AS w2))")
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    sc = (
        big.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select("doc_id", F.log(F.col("c12").cast("double") / F.col("c1")).alias("lp"))
    )
    return sc.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.round(F.avg("lp"), 6).alias("avg_logprob")
    )


# =========================================================================
# Pending batch 2 (added later in round 6): windowed/sequential
# analytics + corpus-assembly ops. Same deferral contract as above.
# =========================================================================

# --- exact rolling median --------------------------------------------------
# Both sides share the explicit spec (sorted trailing-5 frame, average
# of the two middles on even frames) rather than relying on each
# engine's median() interpolation mode, which differs by input type.
_ROLLMED_SQL = """
    WITH w AS (
      SELECT o_orderkey,
             list(o_totalprice) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS l
      FROM orders),
    s AS (SELECT o_orderkey, list_sort(l) AS a FROM w)
    SELECT o_orderkey,
           round((a[(len(a)+1)//2] + a[len(a)//2 + 1]) / 2, 6) AS rolling_median
    FROM s
"""
# rounding note: 6dp, not 2 — even-frame medians are midpoints of
# 2-decimal prices, i.e. exact 3-decimal values (x.235) that sit ON the
# 2dp rounding boundary where engine tie-break modes diverge; at 6dp no
# boundary is reachable.


@pq("window_rolling_median", _ROLLMED_SQL)
def window_rolling_median(spark, sf_dir):
    """Exact rolling median (trailing 5 orders per customer) — the
    robust-trend twin of window_running_total; percentile_approx over a
    window is approximate, so the exact form collects the BOUNDED frame
    into an array and picks the middles (O(k log k) per row, k=5 —
    constant state regardless of table size). One shuffle on the window
    key; everything after is codegen'd array math. At 100 TB the frame
    bound is what keeps this safe: state per row never grows with
    history length, unlike an unbounded-frame collect."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        o.withColumn("a", F.array_sort(F.collect_list("o_totalprice").over(w)))
        .select(
            "o_orderkey",
            F.round(
                (
                    F.expr("a[((size(a)+1) div 2) - 1]")
                    + F.expr("a[(size(a) div 2 + 1) - 1]")
                )
                / 2,
                6,
            ).alias("rolling_median"),
        )
    )


# --- trailing-7-day sliding distinct count ---------------------------------
# Exact distinct over a SLIDING time window — not expressible as a
# window aggregate in either engine (COUNT(DISTINCT) OVER RANGE is
# unsupported); the scalable rewrite is a bounded explode: each
# (day, user) pair covers the 7 window-end days it is visible in.
_SLIDE7_SQL = """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events)
    SELECT CAST(days.d AS VARCHAR) AS day,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS users_7d
    FROM days JOIN pairs p ON p.d BETWEEN days.d - 6 AND days.d
    GROUP BY 1
"""


@pq("sliding_distinct_users_7d", _SLIDE7_SQL)
def sliding_distinct_users_7d(spark, sf_dir):
    """Trailing-7-day distinct users per observed day. The oracle is
    the naive range self-join (each day rescans a week of events); the
    Spark side is the scale rewrite: dedup to (day, user) pairs once,
    explode each pair into the ≤7 window-end days it covers
    (sequence(d, d+6) — bounded 7× fanout, NOT a join), keep observed
    days, and count distinct per day. Work is O(pairs × 7) with two
    keyed shuffles; the naive join's rescan factor (window ÷ slide)
    never appears. Same trick covers any sliding distinct where
    window/slide is a small constant."""
    e = _t(spark, sf_dir, "events")
    pairs = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    cover = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6))).alias("day"),
        "user_id",
    )
    obs = e.select(F.to_date("ts").alias("day")).distinct()
    return (
        cover.join(obs, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), "users_7d")
    )


# --- Markov transition matrix over event types -----------------------------
_TRANSITION_SQL = """
    WITH t AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    c AS (SELECT event_type, next_type, count(*) AS n
          FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
    SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
           round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS p
    FROM c
"""


@pq("event_transition_matrix", _TRANSITION_SQL)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the building block of
    session-flow/funnel diagnostics. One shuffle for the per-user lead
    window (deterministic (ts, event_id) order), then the |types|²
    count matrix — tiny — gets row-normalized by a window over itself.
    At 100 TB the only data-sized stage is the user window; the matrix
    stays |types|² regardless of scale."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select("event_type", F.lead("event_type").over(w).alias("next_type")).filter(
        F.col("next_type").isNotNull()
    )
    c = t.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    wt = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt).cast("double"), 6).alias("p"),
    )


# --- rolling z-score anomaly flags -----------------------------------------
# The daily series is rounded to 2dp BEFORE the window stats, so both
# engines feed identical doubles into identical 7-row frames; z rounds
# to 4dp to absorb Welford-vs-two-pass stddev noise (~1e-15).
_ANOMALY_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type, d, rev,
             avg(rev) OVER w AS m, stddev_samp(rev) OVER w AS sd,
             count(*) OVER w AS c
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT event_type, CAST(d AS VARCHAR) AS day, rev,
           round((rev - m) / sd, 4) AS z,
           abs(round((rev - m) / sd, 4)) > 2 AS is_anomaly
    FROM s WHERE c = 7 AND sd > 0
"""


@pq("timeseries_anomaly_zscore", _ANOMALY_SQL)
def timeseries_anomaly_zscore(spark, sf_dir):
    """Rolling z-score anomaly detection on the daily revenue series
    per event type: score each day against the mean/stddev of the
    PRECEDING 7 days (current day excluded — the classic leakage
    mistake is including it, which dilutes the anomaly it's trying to
    flag). Differs from groupwise_zscore (static per-group stats): this
    is sequential, so yesterday's spike raises today's bar. The daily
    pre-aggregation shrinks the data to |types|×|days| rows before any
    window — at 100 TB the window input is KB-sized; the only
    data-scale stage is the partial-agg groupBy."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    s = daily.select(
        "event_type",
        "d",
        "rev",
        F.avg("rev").over(w).alias("m"),
        F.stddev_samp("rev").over(w).alias("sd"),
        F.count("*").over(w).alias("c"),
    ).filter((F.col("c") == 7) & (F.col("sd") > 0))
    z = F.round((F.col("rev") - F.col("m")) / F.col("sd"), 4)
    return s.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "rev",
        z.alias("z"),
        (F.abs(z) > 2).alias("is_anomaly"),
    )


# --- per-language token-budget cap -----------------------------------------
# The ORACLE is the naive one-window-per-group cumsum; the Spark side
# is operators/sampling.py:budget_cap — the 256-shard two-pass prefix
# sum — so the oracle match doubles as the equivalence proof for the
# distributed scan.
_QUOTA_SQL = """
    WITH t AS (
      SELECT lang, doc_id,
             len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang
                                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t)
    SELECT lang, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 3000
"""


@pq("corpus_quota_cap", _QUOTA_SQL)
def corpus_quota_cap(spark, sf_dir):
    """Per-language token-budget cap (corpus assembly: "≤N tokens per
    domain, chosen reproducibly"): keep documents in deterministic
    md5 order until the language's running token count hits the budget.
    A plain window cumsum serializes each language into one task — a
    30-TB language becomes one straggler — so budget_cap runs the
    two-pass prefix sum instead: shard by the hash's first 2 hex chars
    (prefix order ≡ full-hash order), aggregate ≤256 subtotals per
    language, offset-window over those, then a 256-way-parallel
    within-shard cumsum. Integer token counts make the cutoff
    engine-exact; the naive-window oracle proves the two-pass scan
    row-identical."""
    from etl_mini_spark.operators.sampling import budget_cap

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    t = d.select("lang", "doc_id", F.size(toks).alias("n_tokens"))
    capped = budget_cap(t, ["lang"], "n_tokens", 3000, "doc_id", salt="quota", cum_col="cum_tokens")
    return capped.select("lang", "doc_id", "n_tokens", "cum_tokens")


# --- positional inverted index ---------------------------------------------
_INVIDX_SQL = """
    WITH s AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    t AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) - 1 AS pos FROM s),
    f AS (SELECT * FROM t WHERE length(tok) >= 3),
    d AS (SELECT tok, count(DISTINCT doc_id) AS df FROM f GROUP BY 1),
    p AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS tf,
                 string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
          FROM f GROUP BY 1, 2)
    SELECT p.tok, p.doc_id, p.tf, CAST(d.df AS BIGINT) AS df, p.positions
    FROM p JOIN d USING (tok) WHERE d.df BETWEEN 2 AND 400
"""


@pq("text_inverted_index", _INVIDX_SQL)
def text_inverted_index(spark, sf_dir):
    """Positional inverted index — the IR/retrieval sink artifact
    (phrase queries need positions, BM25 needs tf+df): per (token, doc)
    posting with term frequency, document frequency, and the sorted
    0-based position list over the FULL token stream. Tokens with
    df<2 (hapax noise) or df>400 (stopword mass — postings lists that
    would dwarf the corpus; the band is wide because this synthetic
    corpus has a ~30-word length≥3 vocabulary, nearly all of it
    high-df) are dropped, the standard index-pruning move. Two hash
    aggregations (postings, df) + one keyed join, each a
    partial-agg shuffle on the token key; positions serialize as a
    comma-joined string so the artifact is engine/format-portable."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    t = (
        d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
        .filter(F.length("tok") >= 3)
    )
    dfreq = t.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    post = t.groupBy("tok", "doc_id").agg(
        F.count("*").alias("tf"),
        F.array_join(F.array_sort(F.collect_list("pos")), ",").alias("positions"),
    )
    return post.join(dfreq.filter(F.col("df").between(2, 400)), "tok").select(
        "tok", "doc_id", "tf", "df", "positions"
    )


# --- 13-gram novelty score -------------------------------------------------
_NOVELTY_SQL = """
    WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
    sh0 AS (SELECT doc_id,
                   md5(unnest(list_transform(range(1, len(words) - 11),
                              i -> array_to_string(words[i:i+12], ' ')))) AS h
            FROM w WHERE len(words) >= 13),
    sh AS (SELECT DISTINCT doc_id, h FROM sh0),
    f AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
           round(avg(CASE WHEN f.first_doc = sh.doc_id THEN 1.0 ELSE 0.0 END), 6) AS novel_frac
    FROM sh JOIN f USING (h) GROUP BY 1
"""


@pq("corpus_ngram_novelty", _NOVELTY_SQL)
def corpus_ngram_novelty(spark, sf_dir):
    """Cross-document n-gram novelty — the dedup-adjacent curation
    signal: for each document, the fraction of its distinct 13-word
    shingles whose FIRST corpus occurrence (min doc_id, standing in for
    ingest order) is this document. novel_frac ≈ 1 ⇒ fresh content;
    ≈ 0 ⇒ the document restates earlier material (boilerplate, syndication)
    even if no single pair crosses a near-dup threshold — this catches
    diffuse N-way overlap that pairwise Jaccard misses. Same scale
    shape as decontaminate_13gram: shingle-hash aggregation (min per
    hash) + one keyed join back; shingles never leave their hash
    partition. Docs under 13 words have no shingles and are absent by
    construction."""
    d = _t(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", F.explode(TX.word_shingles(F.col("text"), 13)).alias("s"))
        .select("doc_id", F.md5("s").alias("h"))
        .distinct()
    )
    first = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.round(
                F.avg(F.when(F.col("first_doc") == F.col("doc_id"), 1.0).otherwise(0.0)), 6
            ).alias("novel_frac"),
        )
    )


# --- A/B conversion lift ---------------------------------------------------
# All inputs to the float math are exact integers (counts), so the
# divisions/sqrt are IEEE-identical cross-engine; rounding is belt and
# braces.
_ABTEST_SQL = """
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 15)) AS BIGINT)
                       % 100000 < 50000 THEN 'A' ELSE 'B' END AS arm,
             max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2),
    s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
          FROM u GROUP BY 1),
    p AS (SELECT max(CASE WHEN arm = 'A' THEN n END) AS n_a,
                 max(CASE WHEN arm = 'A' THEN c END) AS c_a,
                 max(CASE WHEN arm = 'B' THEN n END) AS n_b,
                 max(CASE WHEN arm = 'B' THEN c END) AS c_b
          FROM s)
    SELECT n_a, c_a, n_b, c_b,
           round(c_a / CAST(n_a AS DOUBLE), 6) AS rate_a,
           round(c_b / CAST(n_b AS DOUBLE), 6) AS rate_b,
           round(c_b / CAST(n_b AS DOUBLE) - c_a / CAST(n_a AS DOUBLE), 6) AS lift,
           round((c_b / CAST(n_b AS DOUBLE) - c_a / CAST(n_a AS DOUBLE))
                 / sqrt(((c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1 - (c_a + c_b) / CAST(n_a + n_b AS DOUBLE))
                        * (1.0 / n_a + 1.0 / n_b)), 4) AS z_score
    FROM p
"""


@pq("ab_test_lift", _ABTEST_SQL)
def ab_test_lift(spark, sf_dir):
    """Two-proportion A/B test: deterministic 50/50 user-hash arms
    (the same assignment idiom as split_assign, so arms reproduce on
    any engine), per-user conversion = ever purchased above a value
    threshold (plain "ever purchased" saturates to 1.0 on this
    high-activity corpus, collapsing the pooled variance to zero — the
    threshold keeps the rate interior), then lift and
    the pooled two-proportion z-statistic. The per-user agg is the only
    data-scale stage (one shuffle on user_id); the arm rollup is 2 rows
    and the stats math runs on exact integer counts. At 100 TB this is
    the experiment-readout query that runs after every assignment
    batch."""
    from etl_mini_spark.operators.sampling import hash_bucket

    e = _t(spark, sf_dir, "events")
    u = (
        e.withColumn(
            "arm", F.when(hash_bucket(F.col("user_id"), "ab") < 50000, "A").otherwise("B")
        )
        .groupBy("user_id", "arm")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
            ).alias("conv")
        )
    )
    s = u.groupBy("arm").agg(F.count("*").alias("n"), F.sum("conv").alias("c"))
    p = s.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "A", F.col("c"))).alias("c_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "B", F.col("c"))).alias("c_b"),
    )
    ra = F.col("c_a") / F.col("n_a").cast("double")
    rb = F.col("c_b") / F.col("n_b").cast("double")
    pool = (F.col("c_a") + F.col("c_b")) / (F.col("n_a") + F.col("n_b")).cast("double")
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    return p.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(rb - ra, 6).alias("lift"),
        F.round((rb - ra) / se, 4).alias("z_score"),
    )


# --- Benford first-digit DQ check ------------------------------------------
# First digit comes from the INTEGER part's string form (floor → BIGINT
# → first char), never from log10 — log10(10^k) can land an ulp below k
# and misclassify a boundary row on one engine.
_BENFORD_SQL = """
    WITH d AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit
               FROM orders WHERE o_totalprice >= 1),
    g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    t AS (SELECT sum(n) AS total FROM g)
    SELECT digit, n,
           round(n / CAST(total AS DOUBLE), 6) AS obs_freq,
           round(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS benford_freq,
           round(pow(n - total * log10(1 + 1 / CAST(digit AS DOUBLE)), 2)
                 / (total * log10(1 + 1 / CAST(digit AS DOUBLE))), 6) AS chi2_term
    FROM g CROSS JOIN t
"""


@pq("benford_first_digit", _BENFORD_SQL)
def benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit audit on order totals — the
    fraud/synthetic-data DQ screen (fabricated numerics flunk it):
    observed first-significant-digit frequencies vs log10(1+1/d) with
    per-digit χ² contributions. The digit is extracted from the integer
    part's string form — exact — not via log10 arithmetic, whose ulp
    error misclassifies powers of ten. One 9-row aggregate plus a
    broadcast 1-row total; trivially flat at any scale. (This corpus is
    synthetic-uniform, so the χ² terms are enormous — itself the point:
    the screen flags it as non-natural.)"""
    o = _t(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1).alias("digit")
    )
    g = d.groupBy("digit").agg(F.count("*").alias("n"))
    t = g.agg(F.sum("n").alias("total"))
    bf = F.log10(1 + 1 / F.col("digit").cast("double"))
    return g.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("total").cast("double"), 6).alias("obs_freq"),
        F.round(bf, 6).alias("benford_freq"),
        F.round(F.pow(F.col("n") - F.col("total") * bf, 2) / (F.col("total") * bf), 6).alias(
            "chi2_term"
        ),
    )


# =========================================================================
# Pending batch 3: sequential-analytics depth (CUSUM change detection,
# gaps-and-islands streaks) + association-rule mining.
# =========================================================================

# --- CUSUM change-point detection ------------------------------------------
# The textbook CUSUM recursion S+_t = max(0, S+_{t-1} + z_t − k) looks
# iterative, but the identity S+_t = C_t − min(0, min_{i≤t} C_i) with
# C_t = Σ_{i≤t}(z_i − k) turns it into TWO stacked window prefix
# scans — fully declarative, no UDF, no loop.
_CUSUM_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, d, rev,
             avg(rev) OVER (PARTITION BY event_type) AS mu,
             stddev_samp(rev) OVER (PARTITION BY event_type) AS sd
      FROM daily),
    c AS (
      SELECT event_type, d,
             sum((rev - mu) / sd - 0.5)
               OVER (PARTITION BY event_type ORDER BY d
                     ROWS UNBOUNDED PRECEDING) AS ct
      FROM st WHERE sd > 0),
    s AS (
      SELECT event_type, d, ct,
             least(0, min(ct) OVER (PARTITION BY event_type ORDER BY d
                                    ROWS UNBOUNDED PRECEDING)) AS mn
      FROM c)
    SELECT event_type, CAST(d AS VARCHAR) AS day,
           round(ct - mn, 4) AS cusum_pos,
           round(ct - mn, 4) > 2 AS drifted
    FROM s
"""


@pq("timeseries_cusum_changepoint", _CUSUM_SQL)
def timeseries_cusum_changepoint(spark, sf_dir):
    """One-sided CUSUM drift detection on the daily revenue series per
    event type (Page 1954): standardize against the series' own
    mean/std, accumulate positive drift above slack k=0.5, alarm when
    the statistic crosses h (h=2 here, tuned to this STATIONARY
    synthetic fixture so both alarm classes exist — production practice
    is h≈4-5σ; on a drift-free series the standard h never fires and
    the flag would be an untested constant). The max(0, ·) reset recursion is
    rewritten via the prefix identity S+_t = C_t − min(0, min_{i≤t} C_i)
    into two stacked window cumsums — declarative, loop-free, and
    running over the |types|×|days| daily rollup, so the only
    data-scale stage is the first groupBy. Complements
    timeseries_anomaly_zscore: z-scores flag single outlier days; CUSUM
    catches small SUSTAINED shifts no single day reveals."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("rev")
    )
    wp = Window.partitionBy("event_type")
    st = daily.select(
        "event_type",
        "d",
        "rev",
        F.avg("rev").over(wp).alias("mu"),
        F.stddev_samp("rev").over(wp).alias("sd"),
    ).filter(F.col("sd") > 0)
    wo = wp.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    c = st.withColumn("ct", F.sum((F.col("rev") - F.col("mu")) / F.col("sd") - 0.5).over(wo))
    s = c.withColumn("mn", F.least(F.lit(0.0), F.min("ct").over(wo)))
    sp = F.round(F.col("ct") - F.col("mn"), 4)
    return s.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        sp.alias("cusum_pos"),
        (sp > 2).alias("drifted"),
    )


# --- association rules (support / confidence / lift) -----------------------
_RULES_SQL = """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    f AS (SELECT l_partkey, count(*) AS n_part FROM b GROUP BY 1),
    p AS (SELECT a.l_partkey AS ant, c.l_partkey AS cons, count(*) AS n_ab
          FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                           AND a.l_partkey <> c.l_partkey
          GROUP BY 1, 2)
    SELECT ant, cons, CAST(n_ab AS BIGINT) AS n_ab,
           round(n_ab / CAST(n_orders AS DOUBLE), 6) AS support,
           round(n_ab / CAST(fa.n_part AS DOUBLE), 6) AS confidence,
           round(n_ab * CAST(n_orders AS DOUBLE) / (fa.n_part * fc.n_part), 4) AS lift
    FROM p
    JOIN f fa ON fa.l_partkey = p.ant
    JOIN f fc ON fc.l_partkey = p.cons
    CROSS JOIN n
    WHERE n_ab >= 3
"""


@pq("basket_rules_lift", _RULES_SQL)
def basket_rules_lift(spark, sf_dir):
    """Association-rule mining over order baskets: for every directed
    part pair seen in ≥3 common orders, support (P(a,b)), confidence
    (P(b|a)) and lift (observed/independent). Completes the
    market-basket tier: co_purchase_pairs stops at co-occurrence
    counts; rules need the item-frequency joins and the independence
    normalization. The pair self-join is basket-bounded (keyed on
    l_orderkey after per-order DISTINCT — O(Σ basket²), not O(n²));
    part frequencies broadcast; the order count is one scalar. At
    100 TB the basket-size bound is the safety: TPC-H baskets are ≤7
    lines, so the explode factor is ≤42 per order."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    f = b.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    p = (
        b.alias("a")
        .join(b.alias("c"), "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("c.l_partkey"))
        .groupBy(F.col("a.l_partkey").alias("ant"), F.col("c.l_partkey").alias("cons"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    fa = f.select(F.col("l_partkey").alias("ant"), F.col("n_part").alias("n_ant"))
    fc = f.select(F.col("l_partkey").alias("cons"), F.col("n_part").alias("n_cons"))
    return (
        p.join(F.broadcast(fa), "ant")
        .join(F.broadcast(fc), "cons")
        .crossJoin(F.broadcast(n))
        .select(
            "ant",
            "cons",
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders").cast("double"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_ant").cast("double"), 6).alias("confidence"),
            F.round(
                F.col("n_ab") * F.col("n_orders").cast("double")
                / (F.col("n_ant") * F.col("n_cons")),
                4,
            ).alias("lift"),
        )
    )


# --- gaps-and-islands activity streaks -------------------------------------
_STREAKS_SQL = """
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (SELECT user_id, day,
                 day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER)
                   AS island
          FROM d),
    i AS (SELECT user_id, island, count(*) AS len
          FROM g GROUP BY 1, 2)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(sum(len) AS BIGINT) AS active_days
    FROM i GROUP BY 1
"""


@pq("user_activity_streaks", _STREAKS_SQL)
def user_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: per-user consecutive-day activity streaks via
    the classic (day − row_number) island key — consecutive days share
    a constant difference, so islands fall out of one window + one
    groupBy with no self-join and no recursion. Reports streak count,
    longest streak, and total active days per user. Complements
    churn_gap_flag (which flags the gaps; this measures the islands).
    One shuffle on user_id that every stage reuses."""
    e = _t(spark, sf_dir, "events")
    d = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("island", F.date_sub(F.col("day"), F.row_number().over(w)))
    i = g.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return i.groupBy("user_id").agg(
        F.count("*").alias("n_streaks"),
        F.max("len").alias("longest_streak"),
        F.sum("len").alias("active_days"),
    )


# --- word2vec-style skip-gram training pairs -------------------------------
_SKIPGRAM_SQL = """
    WITH s AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    t AS (SELECT doc_id, unnest(l) AS tok, generate_subscripts(l, 1) AS pos FROM s),
    p AS (SELECT a.tok AS center, b.tok AS context
          FROM t a JOIN t b ON a.doc_id = b.doc_id
                           AND abs(a.pos - b.pos) BETWEEN 1 AND 2)
    SELECT center, context, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
"""


@pq("corpus_skipgram_pairs", _SKIPGRAM_SQL)
def corpus_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context) pair extraction with window ±2 — the
    word2vec/embedding-training data generator (Mikolov et al. 2013).
    The oracle is the naive positional SELF-JOIN per document; the
    Spark side never joins: each document's token array emits its own
    pairs through pure array math (flatten over transform of the
    position sequence — contexts are array slots i±1, i±2), so the op
    is a narrow map + explode with a single pair-count aggregation.
    Per-row fanout is bounded by 2·window; at 100 TB the shuffle
    carries only the aggregated (center, context) counts, which is
    vocabulary²-bounded, not corpus-bounded. The HAVING ≥2 floor drops
    the half of pair mass that is hapax noise before it ever
    materializes downstream."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    pairs = F.expr(
        """
        flatten(transform(sequence(1, size(t)), i ->
          filter(transform(array(i-2, i-1, i+1, i+2), j ->
            CASE WHEN j >= 1 AND j <= size(t)
                 THEN struct(t[i-1] AS center, t[j-1] AS context) END),
            x -> x IS NOT NULL)))
        """
    )
    return (
        d.select(toks.alias("t"))
        .select(F.explode(pairs).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )


# --- DAU/MAU stickiness ----------------------------------------------------
_STICKINESS_SQL = """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    dau AS (SELECT d, count(*) AS dau FROM pairs GROUP BY 1),
    mau AS (SELECT days.d, count(DISTINCT p.user_id) AS mau
            FROM days JOIN pairs p ON p.d BETWEEN days.d - 27 AND days.d
            GROUP BY 1)
    SELECT CAST(dau.d AS VARCHAR) AS day, CAST(dau AS BIGINT) AS dau,
           CAST(mau AS BIGINT) AS mau,
           round(dau / CAST(mau AS DOUBLE), 6) AS stickiness
    FROM dau JOIN mau ON dau.d = mau.d
"""


@pq("dau_mau_stickiness", _STICKINESS_SQL)
def dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per day — daily actives over trailing-28-day
    actives, the standard engagement ratio. MAU reuses the
    bounded-explode sliding-distinct rewrite (each (day, user) pair
    covers ≤28 window-end days; no range join, no 28× rescan); DAU is
    a plain count over the same deduped pairs, so both legs share one
    (day, user) shuffle. The oracle runs the naive range join. The DAU
    leg, the MAU cover explode AND the observed-day domain (distinct
    days of pairs == distinct event days) all derive from the (day,
    user) pair set."""
    e = _t(spark, sf_dir, "events")
    pairs = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    dau = pairs.groupBy("d").agg(F.count("*").alias("dau"))
    cover = pairs.select(
        F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 27))).alias("day"),
        "user_id",
    )
    obs = pairs.select(F.col("d").alias("day")).distinct()
    mau = (
        cover.join(obs, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, dau["d"] == mau["day"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(F.col("dau") / F.col("mau").cast("double"), 6).alias("stickiness"),
        )
    )


# --- incremental aggregate maintenance -------------------------------------
# The Spark side NEVER aggregates the full table in one pass: it
# builds mergeable state from three disjoint slices (≤ Jan 10,
# Jan 11-20, rest), folds them pairwise, and finalizes. The oracle is
# the single-pass full recompute — the match proves the merge algebra.
_INCAGG_SQL = """
    SELECT event_type,
           CAST(count(value) AS BIGINT) AS cnt,
           round(sum(value), 2) AS total,
           round(min(value), 6) AS vmin,
           round(max(value), 6) AS vmax,
           round(avg(value), 6) AS vavg,
           round(stddev_samp(value), 4) AS vstddev
    FROM events GROUP BY event_type
"""


@pq("incremental_agg_merge", _INCAGG_SQL)
def incremental_agg_merge(spark, sf_dir):
    """Incremental aggregate maintenance (operators/incremental.py):
    per-type count/sum/min/max/avg/stddev derived from MERGEABLE
    partial-agg state built over three disjoint time slices and folded
    pairwise — the "refresh without rescanning history" primitive. The
    single-pass DuckDB recompute is the oracle, so the state algebra
    (sums add, extrema combine, variance from the ss−s²/n identity) is
    proven equal to the direct aggregate. At 100 TB only the NEWEST
    slice is ever scanned; the merge input is |keys| rows. stddev
    rounds to 4dp: the algebraic identity pays ~1e-10 relative
    cancellation vs the oracle's two-pass form."""
    from etl_mini_spark.operators.incremental import (
        agg_state,
        finalize_agg_state,
        merge_agg_state,
    )

    e = _t(spark, sf_dir, "events")
    s1 = agg_state(e.filter(F.col("ts") < "2024-01-11"), ["event_type"], "value")
    s2 = agg_state(
        e.filter((F.col("ts") >= "2024-01-11") & (F.col("ts") < "2024-01-21")),
        ["event_type"],
        "value",
    )
    s3 = agg_state(e.filter(F.col("ts") >= "2024-01-21"), ["event_type"], "value")
    state = merge_agg_state(merge_agg_state(s1, s2, ["event_type"]), s3, ["event_type"])
    f = finalize_agg_state(state, ["event_type"])
    return f.select(
        "event_type",
        "cnt",
        F.round("total", 2).alias("total"),
        F.round("vmin", 6).alias("vmin"),
        F.round("vmax", 6).alias("vmax"),
        F.round("vavg", 6).alias("vavg"),
        F.round("vstddev", 4).alias("vstddev"),
    )


# --- seasonal-naive forecast evaluation ------------------------------------
_FORECAST_SQL = """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2),
    f AS (
      SELECT event_type, d, rev,
             lag(rev, 7) OVER (PARTITION BY event_type ORDER BY d) AS fc
      FROM daily)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
           round(avg(abs(rev - fc)), 6) AS mae,
           round(avg(abs(rev - fc) / rev), 6) AS mape
    FROM f WHERE fc IS NOT NULL GROUP BY 1
"""


@pq("forecast_seasonal_naive_eval", _FORECAST_SQL)
def forecast_seasonal_naive_eval(spark, sf_dir):
    """Seasonal-naive forecast baseline + error report: predict each
    day's revenue per event type as the same weekday last week
    (lag 7 over the daily series) and score MAE/MAPE — the benchmark
    every real forecasting model must beat, and the shape of any
    backtest evaluation pipeline (prediction column via window, error
    rollup via agg). Daily pre-aggregation bounds the window input at
    |types|×|days| rows; 2dp pre-rounding keeps both engines' error
    math on identical doubles."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 2).alias("rev")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    f = daily.withColumn("fc", F.lag("rev", 7).over(w)).filter(F.col("fc").isNotNull())
    ae = F.abs(F.col("rev") - F.col("fc"))
    return f.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.round(F.avg(ae), 6).alias("mae"),
        F.round(F.avg(ae / F.col("rev")), 6).alias("mape"),
    )


# --- per-document TF-IDF keywords ------------------------------------------
# Ranking happens on ROUND(tfidf, 6): ln() differs by up to 1 ulp
# between libm implementations, and a raw-double ORDER BY would let
# that flip near-tied ranks; at 6dp both engines sort identical keys
# (token ascending breaks exact ties).
_KEYWORDS_SQL = """
    WITH s AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS l
      FROM documents),
    t AS (SELECT doc_id, unnest(l) AS tok FROM s),
    f AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE length(tok) >= 3 GROUP BY 1, 2),
    d AS (SELECT tok, count(*) AS df FROM f GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    sc AS (SELECT f.doc_id, f.tok, f.tf,
                  round(f.tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf
           FROM f JOIN d USING (tok) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, tok) AS rk
          FROM sc)
    SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
"""


@pq("doc_keywords_tfidf_topk", _KEYWORDS_SQL)
def doc_keywords_tfidf_topk(spark, sf_dir):
    """Per-document keyword extraction: top-3 tokens by TF-IDF — the
    document-level counterpart of corpus_idf (corpus statistics) and
    the tagging/labeling primitive of curation UIs. Two keyed
    aggregations (tf, df) + one broadcast scalar (corpus size) + one
    per-doc top-k window; ranking keys are pre-rounded so a 1-ulp ln()
    divergence between engines can never flip a rank. At 100 TB the
    df table is vocabulary-sized and the window is per-doc-bounded."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    t = d.select("doc_id", F.explode(toks).alias("tok")).filter(F.length("tok") >= 3)
    f = t.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = f.groupBy("tok").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    sc = (
        f.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "tok")
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "tok", "tf", "tfidf", "rk")
    )


# --- leakage-safe (decontaminated) train/test split ------------------------
# Near-dup CLUSTERS, not documents, are the split unit: hashing doc_ids
# puts near-copies of the same text on both sides of the split (train/
# eval leakage); hashing the cluster representative cannot. The output
# carries its own audit — cross_split_pairs counts near-dup pairs whose
# endpoints landed in different splits, and must be 0 by construction.
_LEAKFREE_SQL = """
WITH RECURSIVE
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w) - 1)]) AS shingles
       FROM toks),
pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs
          UNION SELECT d2, d1 FROM pairs),
reach(node, lbl) AS (
    SELECT a, a FROM edges
  UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS doc_id, min(lbl) AS rep FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(COALESCE(c.rep, d.doc_id) AS VARCHAR)
                                               || ':split'), 1, 15)) AS BIGINT)
                   % 100000 < 80000
              THEN 'train' ELSE 'test' END AS split
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
xp AS (SELECT count(*) AS cross_split_pairs
       FROM pairs JOIN assigned s1 ON s1.doc_id = pairs.d1
                  JOIN assigned s2 ON s2.doc_id = pairs.d2
       WHERE s1.split <> s2.split)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
       CAST(cross_split_pairs AS BIGINT) AS cross_split_pairs
FROM assigned CROSS JOIN xp
GROUP BY split, cross_split_pairs
"""


@pq("split_leakage_safe", _LEAKFREE_SQL)
def split_leakage_safe(spark, sf_dir):
    """Decontaminated train/test split — the step most pipelines get
    wrong: hash-splitting DOCUMENTS puts near-duplicates of one text on
    both sides (train/eval leakage); here the split key is each doc's
    near-dup CLUSTER representative (ngram-Jaccard ≥ 0.8 pairs →
    large/small-star connected components; singletons represent
    themselves), so a whole duplicate family always lands together.
    The result audits itself: cross_split_pairs joins every near-dup
    pair against its endpoints' splits and is 0 BY CONSTRUCTION — the
    oracle (recursive-CTE closure + the same hash rule) must agree on
    counts AND on the zero. Composition of three existing tiers (LSH-
    free exact pair join, star CC, deterministic hash split); at 100 TB
    the extra cost over a naive split is the dedup pass the pipeline
    runs anyway."""
    from etl_mini_spark.operators.dedup import (
        connected_components,
        near_dup_pairs_ngram_jaccard,
    )
    from etl_mini_spark.operators.sampling import split_assign

    d = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs_ngram_jaccard(d, "doc_id", "text")
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("rep0")
    )
    assigned = (
        d.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn("rep", F.coalesce("rep0", "doc_id"))
    )
    assigned = split_assign(assigned, "rep", {"train": 0.8, "test": 0.2}, salt="split")
    p = pairs.select(F.col("d1").alias("doc_id"), F.col("d2"))
    s1 = assigned.select("doc_id", F.col("split").alias("sp1"))
    s2 = assigned.select(F.col("doc_id").alias("d2"), F.col("split").alias("sp2"))
    xp = (
        p.join(s1, "doc_id")
        .join(s2, "d2")
        .filter(F.col("sp1") != F.col("sp2"))
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(xp))
        .select("split", "n_docs", "n_clusters", "cross_split_pairs")
    )


# --- Kaplan-Meier survival curve -------------------------------------------
# The KM product Π(1 − d_i/n_i) is a running PRODUCT — no engine has a
# product window aggregate, but exp(Σ ln(1 − d/n)) is one, and every
# input to the float math is an integer ratio. Rows where n = d (the
# last at-risk user dies) would take ln(0); both sides stop the curve
# there with the identical n > d guard.
_SURVIVAL_SQL = """
    WITH span AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events),
    u AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_d,
             min(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN CAST(ts AS DATE) END) AS conv_d
      FROM events GROUP BY 1),
    obs AS (
      SELECT user_id, COALESCE(conv_d, mx) - first_d AS t,
             CASE WHEN conv_d IS NOT NULL THEN 1 ELSE 0 END AS death
      FROM u CROSS JOIN span),
    g AS (SELECT t, count(*) AS c, sum(death) AS d FROM obs GROUP BY 1),
    r AS (
      SELECT t, d,
             sum(c) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS n
      FROM g),
    k AS (
      SELECT t, d, n,
             exp(sum(ln(1 - d / CAST(n AS DOUBLE)))
                 OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)) AS s
      FROM r WHERE n > d)
    SELECT CAST(t AS BIGINT) AS t_days, CAST(d AS BIGINT) AS deaths,
           CAST(n AS BIGINT) AS at_risk, round(s, 6) AS survival
    FROM k
"""


@pq("survival_kaplan_meier", _SURVIVAL_SQL)
def survival_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-conversion estimator: "survival" is the
    probability a user has NOT yet made a qualifying purchase t days
    after their first event; users who never convert are right-CENSORED
    at the observation end — they leave the risk set without counting
    as conversions, the distinction naive conversion rates miss (a
    lifetime/churn variant is the same query with last-activity in
    place of first-purchase, but on this always-active corpus nobody
    churns and the curve would be the vacuous constant 1). The KM running
    product becomes exp(Σ ln(1 − d/n)) — a plain window cumsum — and
    the at-risk count n_t is a REVERSE cumulative sum (current row to
    unbounded following), so the whole estimator is two windows over
    the |distinct-durations| rollup. The only data-scale stage is the
    per-user min/max aggregation."""
    e = _t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_d"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150), F.to_date("ts")
            )
        ).alias("conv_d"),
    )
    mx = e.agg(F.max(F.to_date("ts")).alias("mx"))
    obs = u.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.coalesce("conv_d", "mx"), "first_d").alias("t"),
        F.when(F.col("conv_d").isNotNull(), 1).otherwise(0).alias("death"),
    )
    g = obs.groupBy("t").agg(F.count("*").alias("c"), F.sum("death").alias("d"))
    w_rev = Window.orderBy("t").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    r = g.withColumn("n", F.sum("c").over(w_rev)).filter(F.col("n") > F.col("d"))
    w_fwd = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    k = r.withColumn(
        "s", F.exp(F.sum(F.log(1 - F.col("d") / F.col("n").cast("double"))).over(w_fwd))
    )
    return k.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("d").cast("long").alias("deaths"),
        F.col("n").cast("long").alias("at_risk"),
        F.round("s", 6).alias("survival"),
    )


# --- rolling cross-series correlation --------------------------------------
_ROLLCORR_SQL = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             round(sum(CASE WHEN event_type = 'click' THEN value ELSE 0 END), 2) AS click_rev,
             round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2) AS purch_rev
      FROM events GROUP BY 1),
    r AS (
      SELECT d, click_rev, purch_rev,
             corr(click_rev, purch_rev) OVER w AS c,
             count(*) OVER w AS n
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT CAST(d AS VARCHAR) AS day, round(c, 4) AS rolling_corr
    FROM r WHERE n = 14
"""


@pq("rolling_corr_click_purchase", _ROLLCORR_SQL)
def rolling_corr_click_purchase(spark, sf_dir):
    """Trailing-14-day Pearson correlation between the click and
    purchase revenue series — the co-movement diagnostic behind
    'did the campaign move purchases with clicks'. One conditional
    pivot to an aligned (day, x, y) series (2dp-rounded so both
    engines window identical doubles), then corr() as a frame window
    aggregate; 4dp output absorbs one-pass-vs-two-pass covariance
    noise. Window input is |days| rows — flat at any corpus size."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)), 2).alias("click_rev"),
        F.round(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 2).alias("purch_rev"),
    )
    w = Window.orderBy("d").rowsBetween(-13, Window.currentRow)
    r = daily.select(
        "d",
        F.corr("click_rev", "purch_rev").over(w).alias("c"),
        F.count("*").over(w).alias("n"),
    ).filter(F.col("n") == 14)
    return r.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"), F.round("c", 4).alias("rolling_corr")
    )


# --- running distinct count (first-occurrence cumsum rewrite) --------------
# COUNT(DISTINCT) OVER (ROWS UNBOUNDED PRECEDING) is unsupported in
# both engines; the rewrite: a row increments the running cardinality
# iff it is the FIRST occurrence of its (user, type) — row_number()==1
# over (user, type) — so the running distinct is a cumsum of
# first-occurrence flags over the user's timeline.
_RUNDISTINCT_SQL = """
    WITH f AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                          ORDER BY ts, event_id) = 1
                  THEN 1 ELSE 0 END AS first_seen
      FROM events),
    r AS (
      SELECT user_id, event_id,
             sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS n_types_seen
      FROM f)
    SELECT user_id, event_id, CAST(n_types_seen AS BIGINT) AS n_types_seen
    FROM r
"""


@pq("running_distinct_types", _RUNDISTINCT_SQL)
def running_distinct_types(spark, sf_dir):
    """Running distinct cardinality per user timeline — 'how many
    distinct event types has this user touched so far' at every event
    (the engagement-breadth curve). Neither engine supports
    COUNT(DISTINCT) OVER a running frame; the rewrite marks each row's
    FIRST (user, type) occurrence with one window and cumsums the flags
    with a second — two windows sharing the user_id shuffle, no
    collect_set state that grows with cardinality. The same rewrite
    covers any running-distinct (first-occurrence flag + cumsum), which
    is why it's worth pinning against an oracle."""
    e = _t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = e.withColumn(
        "first_seen", F.when(F.row_number().over(w1) == 1, 1).otherwise(0)
    )
    return f.select(
        "user_id", "event_id", F.sum("first_seen").over(w2).cast("long").alias("n_types_seen")
    )


# --- daily percentile bands ------------------------------------------------
# EXACT continuous percentiles (Spark `percentile`, DuckDB
# `quantile_cont` — same sorted-interpolation definition) per day, so
# the band series is deterministic; approx sketches are already covered
# by approx_quantile_sketch / agg_percentiles.
_BANDS_SQL = """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           round(quantile_cont(value, 0.1), 6) AS p10,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY 1
"""


@pq("daily_value_bands", _BANDS_SQL)
def daily_value_bands(spark, sf_dir):
    """P10/P50/P90 bands of event value per day — the spread-over-time
    view (SLO dashboards, drift monitoring) that single whole-table
    percentiles (agg_percentiles) can't show. Exact continuous
    percentiles: both engines implement the same sorted-linear-
    interpolation definition, so values hash-match without a sketch
    tolerance. Per-day groups bound the sort: state is one day's
    values, not the table — and at 100 TB the day key carries the
    partial aggregation; a t-digest swap-in is the documented path if
    single days outgrow memory."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.round(F.expr("percentile(value, 0.1)"), 6).alias("p10"),
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "p10", "p50", "p90")
    )


# --- time since last qualifying event --------------------------------------
_SINCE_SQL = """
    WITH m AS (
      SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type = 'purchase' THEN ts END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_p
      FROM events)
    SELECT user_id, event_id,
           CAST(CASE WHEN last_p IS NOT NULL
                     THEN epoch_us(ts) - epoch_us(last_p) END AS BIGINT)
             AS usec_since_purchase
    FROM m WHERE event_type = 'click'
"""
# microseconds, not seconds: DuckDB's date_diff('second') counts
# BOUNDARY CROSSINGS (0.9s→1.1s = 1), Spark's subtraction measures
# elapsed time — µs epoch differences are the same exact integer in
# both engines.


@pq("time_since_last_purchase", _SINCE_SQL)
def time_since_last_purchase(spark, sf_dir):
    """Recency feature: for every click, seconds since the user's most
    recent STRICTLY EARLIER purchase, in exact microseconds (NULL
    before the first one) — the
    per-event recency column behind RFM-style realtime features and
    'time since last X' alerting. A running conditional MAX over the
    user timeline (frame ends at 1 PRECEDING, so a click and purchase
    sharing a timestamp can't see each other) — one window on the
    user_id shuffle, no self-join, no as-of join needed because the
    probe and reference streams are the same table."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = e.withColumn(
        "last_p",
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w),
    ).filter(F.col("event_type") == "click")
    return m.select(
        "user_id",
        "event_id",
        (F.unix_micros("ts") - F.unix_micros("last_p")).cast("long").alias("usec_since_purchase"),
    )


# --- funnel with per-step timeouts -----------------------------------------
_FUNNEL_TO_SQL = """
    WITH a AS (SELECT user_id, min(ts) AS a FROM events
               WHERE event_type = 'view' GROUP BY 1),
    b AS (SELECT e.user_id, min(e.ts) AS b
          FROM events e JOIN a USING (user_id)
          WHERE e.event_type = 'click'
            AND e.ts >= a.a AND e.ts <= a.a + INTERVAL 6 HOUR
          GROUP BY 1),
    c AS (SELECT e.user_id, min(e.ts) AS c
          FROM events e JOIN b USING (user_id)
          WHERE e.event_type = 'purchase'
            AND e.ts >= b.b AND e.ts <= b.b + INTERVAL 48 HOUR
          GROUP BY 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_view,
           (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_click_6h,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_purchase_48h,
           round((SELECT count(*) FROM b) / CAST((SELECT count(*) FROM a) AS DOUBLE), 6)
             AS r_click,
           round((SELECT count(*) FROM c) / CAST((SELECT count(*) FROM b) AS DOUBLE), 6)
             AS r_purchase
"""


@pq("funnel_with_timeouts", _FUNNEL_TO_SQL)
def funnel_with_timeouts(spark, sf_dir):
    """Funnel with PER-STEP TIMEOUTS: first view → first click within
    6 hours of it → first purchase within 48 hours of that
    (deadlines sized so every step is populated at verification SFs) —
    funnel_conversion's unconstrained ordering says what eventually
    happened; deadlines say whether the product flow actually worked.
    Each step is a keyed aggregate joined to the previous step's
    timestamps on user_id; the step tables shrink monotonically but are
    O(|users|) — NOT bounded — so no broadcast is forced: the joins are
    keyed equi joins either way and AQE picks broadcast only when the
    step table is actually small (round-7 verdict: a forced broadcast
    of an events-derived table is a driver-OOM risk at 100x users).
    Timestamp deadlines compare exact µs instants. Scale: three passes
    over events, each pre-filtered by event type and joined on
    user_id."""
    e = _t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("a"))
    b = (
        e.filter(F.col("event_type") == "click")
        .join(a, "user_id")
        .filter((F.col("ts") >= F.col("a")) & (F.col("ts") <= F.col("a") + F.expr("INTERVAL 6 HOUR")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("b"))
    )
    c = (
        e.filter(F.col("event_type") == "purchase")
        .join(b, "user_id")
        .filter((F.col("ts") >= F.col("b")) & (F.col("ts") <= F.col("b") + F.expr("INTERVAL 48 HOUR")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    na = a.agg(F.count("*").alias("n_view"))
    nb = b.agg(F.count("*").alias("n_click_6h"))
    nc = c.agg(F.count("*").alias("n_purchase_48h"))
    return (
        na.crossJoin(nb)
        .crossJoin(nc)
        .select(
            "n_view",
            "n_click_6h",
            "n_purchase_48h",
            F.round(F.col("n_click_6h") / F.col("n_view").cast("double"), 6).alias("r_click"),
            F.round(F.col("n_purchase_48h") / F.col("n_click_6h").cast("double"), 6).alias("r_purchase"),
        )
    )


# --- Pareto / Lorenz revenue concentration ---------------------------------
# Customer revenue is rounded to 2dp BEFORE ranking: the sums are
# order-dependent at ~1e-10, and an unrounded ORDER BY would let that
# reshuffle ntile boundaries between engines.
_PARETO_SQL = """
    WITH r AS (
      SELECT o_custkey, round(sum(o_totalprice), 2) AS rev
      FROM orders GROUP BY 1),
    d AS (
      SELECT o_custkey, rev,
             ntile(10) OVER (ORDER BY rev DESC, o_custkey) AS decile
      FROM r),
    g AS (SELECT decile, count(*) AS n_customers, sum(rev) AS rev
          FROM d GROUP BY 1),
    t AS (SELECT sum(rev) AS total FROM g)
    SELECT decile, CAST(n_customers AS BIGINT) AS n_customers,
           round(rev, 2) AS revenue,
           round(rev / total, 6) AS share,
           round(sum(rev) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) / total, 6)
             AS cum_share
    FROM g CROSS JOIN t
"""


@pq("pareto_revenue_curve", _PARETO_SQL)
def pareto_revenue_curve(spark, sf_dir):
    """Revenue-concentration (Pareto/Lorenz) curve: customers ranked by
    revenue into deciles, each decile's share and cumulative share of
    total — the 'does 20 % of the base drive 80 % of revenue' audit.
    One customer rollup, one ntile window over |customers| rows, a
    10-row rollup with a broadcast total. Ranking keys are 2dp-rounded
    so order-dependent float summation can't reshuffle decile
    boundaries between engines."""
    o = _t(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    d = r.withColumn(
        "decile", F.ntile(10).over(Window.orderBy(F.col("rev").desc(), "o_custkey"))
    )
    g = d.groupBy("decile").agg(F.count("*").alias("n_customers"), F.sum("rev").alias("rev"))
    t = g.agg(F.sum("rev").alias("total"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n_customers",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("total"), 6).alias("share"),
            F.round(F.sum("rev").over(w) / F.col("total"), 6).alias("cum_share"),
        )
    )


# --- business-day SLA distribution -----------------------------------------
# Weekday semantics are pinned to ISO day-of-week on BOTH sides
# (Spark weekday() 0=Mon, DuckDB isodow() 1=Mon) — Spark's dayofweek()
# and DuckDB's dayofweek() disagree on Sunday's index, the classic
# calendar-portability trap. The day walk is a bounded per-row array
# (order→ship spans weeks, not years), entirely codegen'd.
_BDAYS_SQL = """
    WITH f AS (
      SELECT o.o_orderkey,
             min(l.l_shipdate) AS ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
      GROUP BY 1
    ),
    b AS (
      SELECT f.o_orderkey,
             len(list_filter(generate_series(CAST(o.o_orderdate AS DATE),
                                             CAST(f.ship AS DATE),
                                             INTERVAL 1 DAY),
                             x -> isodow(x) <= 5)) AS n_bdays
      FROM f JOIN orders o ON o.o_orderkey = f.o_orderkey)
    SELECT CAST(n_bdays AS BIGINT) AS n_bdays,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM b GROUP BY 1
"""


@pq("business_days_to_ship", _BDAYS_SQL)
def business_days_to_ship(spark, sf_dir):
    """Order→first-shipment SLA in BUSINESS days (weekday count over
    the inclusive date span; rows where the synthetic ship date
    precedes the order date are excluded, matching the oracle's
    predicate) — calendar-aware arithmetic every warehouse needs and
    naive datediff gets wrong. Portability pin: both engines count
    weekdays via ISO day-of-week (Spark weekday()=0 for Monday,
    DuckDB isodow()=1) because their respective dayofweek() functions
    index Sunday differently. The span walk is per-row bounded array
    math (spans are days-to-weeks), so it whole-stage-codegens; one
    join + two aggregates otherwise."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    f = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy("o_orderkey")
        .agg(F.min("l_shipdate").alias("ship"), F.min("o_orderdate").alias("od"))
    )
    b = f.select(
        F.expr(
            "size(filter(sequence(to_date(od), to_date(ship)), x -> weekday(x) <= 4))"
        ).alias("n_bdays")
    )
    return b.groupBy("n_bdays").agg(F.count("*").alias("n_orders")).select(
        F.col("n_bdays").cast("long").alias("n_bdays"), "n_orders"
    )


# --- as-of join: staleness tolerance and nearest direction -----------------
_ASOF_TOL_SQL = """
    SELECT event_id, o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT e.event_id, o.o_orderkey, o.o_totalprice,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
       AND o.o_orderdate >= e.ts - INTERVAL 7 DAY
    ) WHERE rn = 1
"""


@pq("join_asof_tolerance", _ASOF_TOL_SQL)
def join_asof_tolerance(spark, sf_dir):
    """As-of join with a 7-day staleness bound
    (asof_join(tolerance_seconds=...), the pandas merge_asof
    ``tolerance`` contract): the latest at-or-before order is DROPPED
    when older than a week — stale enrichment is usually worse than
    none. Same single-shuffle union-sort plan as join_asof_last_order;
    the bound is a post-carry filter on the match's own timestamp. The
    oracle applies the same bound inside its quadratic join+rank
    plan."""
    from etl_mini_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    res = asof_join(
        e.withColumnRenamed("user_id", "o_custkey"),
        o,
        on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tiebreak="o_orderkey",
        tolerance_seconds=7 * 86400,
    )
    return res.select("event_id", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


_ASOF_NEAR_SQL = """
    SELECT event_id, o_orderkey
    FROM (
      SELECT e.event_id, o.o_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch_us(o.o_orderdate) - epoch_us(e.ts)),
                        (o.o_orderdate > e.ts),
                        CASE WHEN o.o_orderdate > e.ts
                             THEN o.o_orderkey ELSE -o.o_orderkey END) AS rn
      FROM events e LEFT JOIN orders o ON e.user_id = o.o_custkey
    ) WHERE rn = 1
"""


@pq("join_asof_nearest", _ASOF_NEAR_SQL)
def join_asof_nearest(spark, sf_dir):
    """As-of join, direction='nearest': each event takes whichever
    order is closest in time on EITHER side, ties going backward (the
    pandas merge_asof nearest contract). Among equal-time candidates
    the backward leg takes the MAX tiebreak (last in sort order) while
    the forward leg takes the MIN (first) — the oracle mirrors that
    exactly with a signed-key CASE, because day-granular order dates
    make same-date collisions common. One union-sort shuffle; the backward
    and forward carries are two frame passes over the same window
    partitioning. The oracle ranks the full quadratic join by absolute
    µs distance with a backward-preference tiebreak."""
    from etl_mini_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    res = asof_join(
        e.withColumnRenamed("user_id", "o_custkey"),
        o,
        on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey"],
        tiebreak="o_orderkey",
        direction="nearest",
    )
    return res.select("event_id", "o_orderkey")


# --- end-to-end corpus curation pipeline -----------------------------------
# The capstone COMPOSITION: quality gate → exact dedup → near-dup
# canonical pick → per-language token budget → leakage-free split, as
# one lazy plan. Every stage is an already-proven operator; the oracle
# replays the identical five-stage spec in SQL (recursive CTE for the
# cluster closure), so the whole chain — including stage ORDER — is
# differentially pinned, not just the pieces.
_CURATION_SQL = """
WITH RECURSIVE
base AS (
  SELECT doc_id, lang, text,
         len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS n_tokens
  FROM documents),
q AS (SELECT * FROM base WHERE n_tokens BETWEEN 25 AND 115),
ex AS (SELECT min(doc_id) AS keep_id
       FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
s1 AS (SELECT q.* FROM q JOIN ex ON q.doc_id = ex.keep_id),
toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM s1),
sh AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w) - 1)]) AS shingles
       FROM toks),
pairs AS (
  SELECT d1, d2 FROM (
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           len(list_intersect(a.shingles, b.shingles))::DOUBLE
             / len(list_distinct(list_concat(a.shingles, b.shingles))) AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id) WHERE j >= 0.8),
edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
reach(node, lbl) AS (
    SELECT a, a FROM edges
  UNION
    SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT node AS doc_id, min(lbl) AS rep FROM reach GROUP BY 1),
canon AS (SELECT s1.* FROM s1 LEFT JOIN comp USING (doc_id)
          WHERE comp.doc_id IS NULL OR comp.rep = s1.doc_id),
cum AS (SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM canon),
kept AS (SELECT * FROM cum WHERE cum_tokens <= 2500),
sp AS (SELECT *,
              CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 15))
                        AS BIGINT) % 100000 < 80000
                   THEN 'train' ELSE 'test' END AS split
       FROM kept)
SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
FROM sp GROUP BY 1, 2
"""


@pq("corpus_curation_pipeline", _CURATION_SQL)
def corpus_curation_pipeline(spark, sf_dir):
    """END-TO-END corpus curation — the composed five-stage pipeline a
    training-data team actually runs, as ONE lazy Catalyst plan:
    (1) token-count quality gate (25-115), (2) exact dedup (min doc_id
    per normalized-text md5), (3) near-dup canonical pick (3-gram
    Jaccard ≥ 0.8 pairs → star CC → keep cluster representatives),
    (4) per-language 2500-token budget cap in deterministic hash order
    (budget_cap), (5) 80/20 hash split; reported as per-(split, lang)
    doc and token counts. Stage ORDER is part of the spec — dedup
    before budgeting (duplicates mustn't consume budget), budgeting
    before splitting — and the oracle replays the same order, so the
    composition is pinned, not just the operators. (This corpus plants
    NEAR-dups but no byte-identical copies, so the exact-dedup stage
    passes everything through here — its filtering behavior is
    exercised by dedup_exact_docs' own fixtures; the quality, near-dup,
    and budget stages each drop rows at every SF, pinned in tests.) Scale: the stages
    are the proven shapes (hash-agg dedup, bucketed pair join, O(log n)
    CC, sharded prefix sum, narrow hash split); Catalyst fuses the
    narrow stages and reuses the lang shuffle. At corpus scale the
    near-dup stage swaps to near_dup_pairs_minhash_lsh (df-independent
    signatures): measured end-to-end on a 100k-doc zipf corpus at
    23.2 s with ~complete in-band planted-dup recall, while the exact
    path hit its documented Σ bn² candidate cliff (operators/dedup.py
    docstring) — the 500-row fixture keeps the exact path because its
    oracle is the uncapped exact join."""
    from etl_mini_spark.operators.dedup import (
        connected_components,
        exact_dedup_keep,
        near_dup_pairs_ngram_jaccard,
    )
    from etl_mini_spark.operators.sampling import budget_cap, split_assign

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    base = d.select("doc_id", "lang", "text", F.size(toks).alias("n_tokens"))
    q = base.filter(F.col("n_tokens").between(25, 115))
    # row-set form of the exact-dedup stage: same keep rule (min doc_id
    # per normalized-text fingerprint), one fingerprint window instead
    # of the aggregate + join-back that scanned documents twice per use
    s1 = exact_dedup_keep(q, "text", "doc_id")
    pairs = near_dup_pairs_ngram_jaccard(s1, "doc_id", "text")
    comp = connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("rep")
    )
    canon = s1.join(comp, "doc_id", "left").filter(
        F.col("rep").isNull() | (F.col("rep") == F.col("doc_id"))
    )
    kept = budget_cap(
        canon.select("lang", "doc_id", "n_tokens"),
        ["lang"], "n_tokens", 2500, "doc_id", salt="quota", cum_col="cum_tokens",
    )
    sp = split_assign(kept, "doc_id", {"train": 0.8, "test": 0.2}, salt="split")
    return sp.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("sum_tokens")
    )


# --- Theil-Sen robust trend ------------------------------------------------
_THEILSEN_SQL = """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT) AS d,
             round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2),
    slopes AS (
      SELECT a.event_type,
             (b.rev - a.rev) / CAST(b.d - a.d AS DOUBLE) AS sl
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(quantile_cont(sl, 0.5), 6) AS theil_sen_slope
    FROM slopes GROUP BY 1
"""


@pq("trend_theil_sen", _THEILSEN_SQL)
def trend_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend per event type: the MEDIAN of all
    pairwise slopes over the daily revenue series — unlike the
    least-squares slope (agg_corr_regr's regr_slope), a third of the
    days can be wild outliers without moving it. The pairwise explode
    is bounded by the DAILY rollup (|days|² pairs per type, ~400 here —
    never the raw event count), so the 'quadratic' step is constant-
    sized at any corpus scale; day indexes are exact integers and both
    engines share the continuous-median definition
    (percentile ≡ quantile_cont). The naive pair join is the oracle
    AND the implementation — at |days| scale there is nothing to
    optimize away."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / F.lit(86_400_000_000))
        .cast("long")
        .alias("d"),
    ).agg(F.round(F.sum("value"), 2).alias("rev"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type")) & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        ((F.col("b.rev") - F.col("a.rev")) / (F.col("b.d") - F.col("a.d")).cast("double")).alias("sl"),
    )
    return slopes.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.expr("percentile(sl, 0.5)"), 6).alias("theil_sen_slope"),
    )


# --- FIFO lot matching (cumulative-interval overlap) -----------------------
# The warehouse FIFO-costing recursion ("consume the oldest open supply
# lot first") looks inherently sequential, but cumulative intervals
# linearize it: supply lot i covers [cs_i − q_i, cs_i) of the part's
# cumulative supply axis, demand lot j covers [cd_j − q_j, cd_j), and
# FIFO matches lot pairs exactly where those intervals OVERLAP —
# matched_qty = min(cs, cd) − max(cs−q, cd−q) when positive. Two window
# cumsums + one part-keyed join replace the loop.
_FIFO_SQL = """
    WITH sup AS (
      SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_partkey
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS cs
      FROM lineitem WHERE l_linestatus = 'F'),
    dem AS (
      SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
             sum(l_quantity) OVER (PARTITION BY l_partkey
                                   ORDER BY l_shipdate, l_orderkey, l_linenumber) AS cd
      FROM lineitem WHERE l_linestatus = 'O'),
    m AS (
      SELECT s.l_partkey,
             least(s.cs, d.cd) - greatest(s.cs - s.l_quantity, d.cd - d.l_quantity) AS mq
      FROM sup s JOIN dem d ON s.l_partkey = d.l_partkey
      WHERE least(s.cs, d.cd) - greatest(s.cs - s.l_quantity, d.cd - d.l_quantity) > 0)
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_matches,
           round(sum(mq), 2) AS matched_qty
    FROM m GROUP BY 1
"""


@pq("fifo_lot_matching", _FIFO_SQL)
def fifo_lot_matching(spark, sf_dir):
    """FIFO lot matching — inventory/cost-allocation's 'consume the
    oldest supply first' rule, which looks like a sequential loop but
    linearizes via CUMULATIVE INTERVALS: each lot owns a slice of its
    part's cumulative-quantity axis, and FIFO pairs are exactly the
    overlapping (supply, demand) slices, with matched quantity
    min(cs, cd) − max(cs−q, cd−q). Two window cumsums (one shuffle on
    part each) + one part-keyed equi join whose per-part pair count is
    n_sup + n_dem − 1 (consecutive slices), NOT n_sup × n_dem — the
    overlap predicate filters the join to the FIFO chain. 'F' lines
    stand in as supply lots, 'O' as demand. Reported per part with the
    total matched quantity, which must equal min(total supply, total
    demand) — the conservation law a FIFO matcher cannot violate
    (pinned in a test)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    sup = (
        li.filter(F.col("l_linestatus") == "F")
        .withColumn("cs", F.sum("l_quantity").over(w))
        .select("l_partkey", F.col("l_quantity").alias("sq"), "cs")
    )
    dem = (
        li.filter(F.col("l_linestatus") == "O")
        .withColumn("cd", F.sum("l_quantity").over(w))
        .select(F.col("l_partkey").alias("pk2"), F.col("l_quantity").alias("dq"), "cd")
    )
    mq = F.least(F.col("cs"), F.col("cd")) - F.greatest(
        F.col("cs") - F.col("sq"), F.col("cd") - F.col("dq")
    )
    m = (
        sup.join(dem, sup["l_partkey"] == dem["pk2"])
        .withColumn("mq", mq)
        .filter(F.col("mq") > 0)
    )
    return m.groupBy("l_partkey").agg(
        F.count("*").alias("n_matches"), F.round(F.sum("mq"), 2).alias("matched_qty")
    )


# --- linear multi-touch attribution ----------------------------------------
_MTA_SQL = """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT c.conv_id, e.event_type,
             count(*) OVER (PARTITION BY c.conv_id) AS n_touches
      FROM conv c JOIN events e
        ON e.user_id = c.user_id
       AND e.ts < c.ts AND e.ts >= c.ts - INTERVAL 7 DAY
       AND e.event_type IN ('view', 'click', 'signup'))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touchpoints,
           round(sum(1.0 / n_touches), 4) AS credited_conversions
    FROM touch GROUP BY 1
"""


@pq("attribution_linear_multitouch", _MTA_SQL)
def attribution_linear_multitouch(spark, sf_dir):
    """Linear multi-touch attribution: every marketing touch (view/
    click/signup) in the 7 days before a purchase shares that
    conversion's credit equally (1/n each) — the fair-share complement
    of first_touch_attribution, and the shape where credit must SUM
    back to the number of attributed conversions (conservation, like
    FIFO's). Per-conversion touch windows come from one user-keyed
    interval join (equi on user, bounded 7-day range predicate — the
    join_range_followups shape), the per-conversion touch count is a
    window over conv_id, and the credit rollup is a tiny aggregate.
    Credit fractions are exact rationals summed in conversion-count
    units; 4dp rounding absorbs summation order."""
    e = _t(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    touch = (
        e.filter(F.col("event_type").isin("view", "click", "signup"))
        .join(
            conv,
            (F.col("user_id") == F.col("cu"))
            & (F.col("ts") < F.col("cts"))
            & (F.col("ts") >= F.col("cts") - F.expr("INTERVAL 7 DAY")),
        )
        .withColumn("n_touches", F.count("*").over(Window.partitionBy("conv_id")))
    )
    return touch.groupBy("event_type").agg(
        F.count("*").alias("n_touchpoints"),
        F.round(F.sum(1.0 / F.col("n_touches")), 4).alias("credited_conversions"),
    )


# =========================================================================
# The nearest×bucketed as-of composition, Welford-merge
# incremental state over a NULL-key group, and real-binary multimodal
# ingest through spark.read.format("binaryFile").
# =========================================================================


@pq("join_asof_nearest_bucketed", _ASOF_NEAR_SQL)
def join_asof_nearest_bucketed(spark, sf_dir):
    """join_asof_nearest through the skew-hardened path: the SAME oracle
    (quadratic rank by absolute µs distance, backward-preference ties)
    verifies direction='nearest' × bucket_seconds — the one as-of
    combination that raised NotImplementedError through round 6. The
    bucketed plan runs BOTH direction carries as two window passes over
    one (key, 7-day-bucket) partitioning plus two O(keys×buckets)
    boundary tables, so a celebrity user's history spans
    history/bucket_seconds parallel tasks instead of one straggler
    sort; the µs-gap pick is identical to the plain nearest path
    (row-identical contract, also pinned by
    tests/test_operators.py::test_asof_join_nearest_bucketed_matches_unbucketed
    and the bucketed arm of the pandas hypothesis sweep)."""
    from etl_mini_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_orderkey")
    res = asof_join(
        e.withColumnRenamed("user_id", "o_custkey"),
        o,
        on=["o_custkey"],
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey"],
        tiebreak="o_orderkey",
        direction="nearest",
        bucket_seconds=7 * 86400,
    )
    return res.select("event_id", "o_orderkey")


# Welford merge over a NULLABLE group key: nullif() folds the 'error'
# type into a NULL-key group, so the driver verifies the null-safe
# totals join inside merge_agg_state_welford (round-7 advice fix) —
# groupBy keeps NULL as a regular group and the merge must too.
_WELFORD_SQL = """
    SELECT nullif(event_type, 'error') AS etype,
           CAST(count(value) AS BIGINT) AS cnt,
           round(avg(value), 6) AS vavg,
           round(stddev_samp(value), 6) AS vstddev
    FROM events GROUP BY 1
"""


@pq("incremental_welford_merge", _WELFORD_SQL)
def incremental_welford_merge(spark, sf_dir):
    """Numerically-robust incremental aggregates: per-key (n, mean, M2)
    Welford state built over three disjoint user shards and folded with
    the Chan et al. pairwise merge — no ss−s²/n cancellation at any
    magnitude, so (unlike incremental_agg_merge's 4dp stddev) the
    merged stddev matches the oracle's direct two-pass recompute at the
    full 6dp ratio rounding. The group key is nullif(event_type,
    'error'): a NULL-key state group must survive the merge's totals
    join (eqNullSafe — operators/incremental.py). At 100 TB the merge
    input is |keys| rows per slice; only the newest shard is ever
    rescanned."""
    from etl_mini_spark.operators.incremental import (
        agg_state_welford,
        finalize_agg_state_welford,
        merge_agg_state_welford,
    )
    from etl_mini_spark.session import pin

    e = _t(spark, sf_dir, "events").select(
        F.expr("nullif(event_type, 'error')").alias("etype"), "user_id", "value"
    )
    # each shard state is |keys| rows, what a real incremental pipeline
    # persists per load; unpinned: 0.61 s vs 0.56 s at sf0.1
    parts = [
        pin(agg_state_welford(e.filter(F.col("user_id") % 3 == i), ["etype"], "value"))
        for i in range(3)
    ]
    state = merge_agg_state_welford(
        merge_agg_state_welford(parts[0], parts[1], ["etype"]), parts[2], ["etype"]
    )
    f = finalize_agg_state_welford(state, ["etype"])
    return f.select(
        "etype",
        "cnt",
        F.round("vavg", 6).alias("vavg"),
        F.round("vstddev", 6).alias("vstddev"),
    )


# Real-binary multimodal ingest. The fixture files are committed binary
# blobs with real media magic bytes (tests/fixtures/media/*.bin); the
# oracle reads the SAME files through DuckDB's read_blob. n_bytes and
# the content digest are REAL metadata; width/height/n_frames are the
# documented deterministic stub formulas of _fake_decode (the container
# has no PIL/torchaudio — swap the kernel, not the plumbing, in
# production), which the oracle replays from the byte size. Content is
# digested as md5(hex(bytes)) because both engines hash the identical
# uppercase-hex STRING (DuckDB's md5/sha256 accept only VARCHAR).
# derived from the module location so the query (and the oracle SQL
# literal it is baked into) survives any checkout path (ADVICE r07)
_MEDIA_GLOB = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "media" / "*.bin")
# the glob is baked into a SQL string literal below — a checkout path
# with SQL-significant characters must fail loudly, not corrupt the SQL
assert "'" not in _MEDIA_GLOB, f"media glob contains a quote: {_MEDIA_GLOB!r}"
_BINARY_INGEST_SQL = f"""
    SELECT regexp_extract(filename, '[^/]+$') AS file_name,
           CAST(size AS BIGINT) AS n_bytes,
           md5(hex(content)) AS content_md5,
           CAST(size % 640 + 1 AS INT) AS width,
           CAST((size * 7) % 480 + 1 AS INT) AS height,
           CAST(size % 16 + 1 AS INT) AS n_frames
    FROM read_blob('{_MEDIA_GLOB}')
"""


@pq("multimodal_binary_ingest", _BINARY_INGEST_SQL)
def multimodal_binary_ingest(spark, sf_dir):
    """Raw media ingest, end to end on REAL bytes: a binaryFile scan
    (path, length, content) over committed media fixtures → stable
    per-file ids → operators/multimodal.py decode_media streaming the
    binary payloads through an Arrow mapInPandas batch kernel → typed
    metadata joined back to the JVM-side file name and content digest.
    Replaces attach_binary_payload's string-encode stand-in as the
    ingest story: this is exactly the
    `spark.read.format("binaryFile")` → decode → metadata pipeline a
    production image/audio corpus runs, minus only the real decoder
    kernel. The metadata join is a 6-row broadcast; at scale the scan
    parallelizes per file and decode stays one Python roundtrip per
    Arrow batch."""
    from etl_mini_spark.operators.multimodal import decode_media

    raw = (
        spark.read.format("binaryFile")
        .load(_MEDIA_GLOB)
        .select(
            F.regexp_extract(F.col("path"), r"[^/]+$", 0).alias("file_name"),
            F.col("content"),
        )
        # stable numeric id from the name (binaryFile has no row id)
        .withColumn("media_id", F.xxhash64("file_name"))
    )
    meta = decode_media(raw.select("media_id", F.col("content").alias("payload")), "media_id")
    names = raw.select(
        "media_id", "file_name", F.md5(F.hex(F.col("content"))).alias("content_md5")
    )
    return (
        meta.join(F.broadcast(names), "media_id")
        .select("file_name", "n_bytes", "content_md5", "width", "height", "n_frames")
    )
