"""Registry queries: post-hoc + nonparametric classics (Tukey-
Kramer HSD, Wilcoxon signed-rank), information/coding theory (Huffman
code lengths with deterministic merges), dynamic programming over
bounded series (two-state integer Viterbi with path carry, lookback-3
critical path), optimal stopping (the secretary 37% rule as pure
windows), diversity/privacy (Simpson's index, t-closeness EMD over
ordered deciles), sequential rating systems (Elo with an offline
fixed-point expectation ladder — no logistic ever evaluated), density
clustering (DBSCAN as grid-blocked neighbor counts + connected
components, the scale-safe decomposition), and retrieval (BM25F
fielded scoring, TextRank keyword centrality under the integer-nano
iteration discipline), each checked against its DuckDB oracle.

Parity rules as in round9..16 (FIXTURES.md §C): integer/decimal
arithmetic wherever a comparison decides a row; libm-free except
IEEE-exact sqrt of identical doubles; offline literals for every
transcendental constant (Tukey q, Wilcoxon normal critical, Elo
expectation ladder, Viterbi log-weights in centi-nats); per-term 9dp
pre-rounds summed as BIGINT nanos; deterministic tie-breaks on every
rank, merge, and argmax; floor(x*10^k + 0.5)/10^k HALF_UP display
rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.operators.graph import iterate
from etl_mini_spark.queries._base import ORDERS_DAILY_SQL, _t, half_up, orders_daily_cents
from etl_mini_spark.queries._base import q as pq
from etl_mini_spark.session import loop_confs


# =====================================================================
# Block A — Tukey-Kramer HSD (post-hoc pairwise means, fixed q)
# =====================================================================

# Groups = event types over value cents. MSE comes from integer sums
# with the per-group Sg²/ng terms computed as IDENTICAL double ops
# (Sg² exceeds both 2^63 and the nano-preround headroom at cent
# scale, so the term is pre-rounded to whole cent² units instead —
# same op sequence on both engines); the studentized-range critical
# value for k=5,
# df=∞, α=.05 is the OFFLINE literal 3.858 — neither engine ever
# evaluates the studentized range distribution. Tukey-Kramer handles
# the unbalanced n's; the significance comparison happens on the same
# float expressions in the same order on both engines.
_TUKEY_SQL = """
    WITH g AS (
      SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s,
             sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                 * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS q
      FROM events GROUP BY 1),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(q) AS BIGINT) AS qq,
             CAST(sum(CAST(floor(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n + 0.5)
                  AS BIGINT)) AS BIGINT) AS ratio_units
      FROM g)
    SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
           floor((CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
                 * 10000 + 0.5) / 10000 AS mean_diff_cents,
           floor(3.858 * sqrt((CAST(tot.qq AS DOUBLE)
                               - CAST(tot.ratio_units AS DOUBLE))
                              / (tot.nn - tot.k)
                              * 0.5 * (1.0 / a.n + 1.0 / b.n))
                 * 10000 + 0.5) / 10000 AS hsd_cents,
           abs(CAST(a.s AS DOUBLE) / a.n - CAST(b.s AS DOUBLE) / b.n)
             >= 3.858 * sqrt((CAST(tot.qq AS DOUBLE)
                              - CAST(tot.ratio_units AS DOUBLE))
                             / (tot.nn - tot.k)
                             * 0.5 * (1.0 / a.n + 1.0 / b.n)) AS significant
    FROM g a JOIN g b ON a.g < b.g CROSS JOIN tot
    ORDER BY g1, g2
"""


@pq("tukey_kramer_hsd", _TUKEY_SQL)
def tukey_kramer_hsd(spark, sf_dir):
    """Tukey-Kramer honestly-significant-difference over event-type
    mean cents: one hash agg to per-group integer sums, one scalar
    combine for MSE, a 10-pair group self-join. Scale: the only
    corpus-sized pass is the first agg."""
    from etl_mini_spark.session import pin

    e = _t(spark, sf_dir, "events")
    x = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    # unpinned: 0.44 s vs 0.40 s at sf0.1
    g = pin(e.groupBy(F.col("event_type").alias("g")).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(x).alias("s"), F.sum(x * x).alias("q"),
    ))
    tot = g.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("q").cast("bigint").alias("qq"),
        F.sum(F.floor(F.col("s").cast("double") * F.col("s").cast("double")
                      / F.col("n") + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("ratio_units"),
    )
    a = g.select(F.col("g").alias("g1"), F.col("n").alias("n1"), F.col("s").alias("s1"))
    b = g.select(F.col("g").alias("g2"), F.col("n").alias("n2"), F.col("s").alias("s2"))
    pairs = a.join(b, F.col("g1") < F.col("g2")).crossJoin(F.broadcast(tot))
    mean_diff = (F.col("s1").cast("double") / F.col("n1")
                 - F.col("s2").cast("double") / F.col("n2"))
    mse = ((F.col("qq").cast("double") - F.col("ratio_units").cast("double"))
           / (F.col("nn") - F.col("k")))
    hsd = 3.858 * F.sqrt(mse * 0.5 * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return pairs.select(
        "g1", "g2", "n1", "n2",
        half_up(mean_diff, 4).alias("mean_diff_cents"),
        half_up(hsd, 4).alias("hsd_cents"),
        (F.abs(mean_diff) >= hsd).alias("significant"),
    ).orderBy("g1", "g2")


# =====================================================================
# Block B — Simpson's diversity index (per source, exact pair counts)
# =====================================================================

# D = 1 − Σ_l n_l(n_l−1) / (N(N−1)) over language counts per source —
# the probability two random docs differ in language. Pure BIGINT
# until the single final ratio.
_SIMPSON_SQL = """
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2),
    agg AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(n * (n - 1)) AS BIGINT) AS same_pairs,
             CAST(count(*) AS BIGINT) AS n_langs
      FROM c GROUP BY 1)
    SELECT source, nn AS n_docs, n_langs,
           floor((1.0 - CAST(same_pairs AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn - 1)))
                 * 1000000 + 0.5) / 1000000 AS simpson_d
    FROM agg WHERE nn >= 2
    ORDER BY source
"""


@pq("simpson_diversity_index", _SIMPSON_SQL)
def simpson_diversity_index(spark, sf_dir):
    """Simpson's diversity of languages within each source: two hash
    aggs, exact integer pair counts, one final ratio."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").cast("bigint").alias("n"))
    agg = c.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.col("n") * (F.col("n") - 1)).cast("bigint").alias("same_pairs"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    return (
        agg.filter(F.col("nn") >= 2)
        .select(
            "source", F.col("nn").alias("n_docs"), "n_langs",
            half_up(1.0 - F.col("same_pairs").cast("double")
                 / (F.col("nn").cast("double") * (F.col("nn") - 1))).alias("simpson_d"),
        )
        .orderBy("source")
    )


# =====================================================================
# Block C — Wilcoxon signed-rank (paired months, year over year)
# =====================================================================

# Pairs = (month of year y, same month of y+1) monthly revenue cents;
# |diff| ranks kept exact in HALF-UNITS (r2 = 2·cum_less + n_eq + 1
# over the distinct |diff| table), zero diffs dropped per the standard
# procedure. W+ = Σ half-ranks of positive diffs (BIGINT); the normal
# approximation z uses the tie-corrected variance with IEEE sqrt of
# identical doubles.
_WILCOXON_SQL = """
    WITH monthly AS (
      SELECT CAST(strftime(o_orderdate, '%m') AS INT) AS m,
             CAST(strftime(o_orderdate, '%Y') AS INT) AS y,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    pairs AS (
      SELECT a.m, a.y, CAST(b.c - a.c AS BIGINT) AS diff
      FROM monthly a JOIN monthly b ON b.m = a.m AND b.y = a.y + 1
      WHERE b.c <> a.c),
    ad AS (
      SELECT abs(diff) AS ad, CAST(count(*) AS BIGINT) AS n_v,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM pairs GROUP BY 1),
    rk AS (
      SELECT ad, n_v, n_pos,
             CAST(2 * coalesce(sum(n_v) OVER (ORDER BY ad
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n_v + 1 AS BIGINT) AS r2
      FROM ad),
    tot AS (
      SELECT CAST(sum(n_v) AS BIGINT) AS n,
             CAST(sum(n_pos * r2) AS BIGINT) AS wplus2,
             CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS tie3
      FROM rk)
    SELECT n, wplus2,
           floor((CAST(wplus2 AS DOUBLE) / 2.0
                  - CAST(n AS DOUBLE) * (n + 1) / 4.0)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                        - CAST(tie3 AS DOUBLE) / 48.0)
                 * 1000000 + 0.5) / 1000000 AS z,
           abs((CAST(wplus2 AS DOUBLE) / 2.0
                - CAST(n AS DOUBLE) * (n + 1) / 4.0)
               / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                      - CAST(tie3 AS DOUBLE) / 48.0)) >= 1.959964 AS significant
    FROM tot
"""


@pq("wilcoxon_signed_rank", _WILCOXON_SQL)
def wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank on year-over-year monthly revenue pairs:
    half-unit exact tied ranks over the distinct-|diff| table, BIGINT
    W+, tie-corrected normal z against the offline 1.959964 literal."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").alias("m"), F.year("o_orderdate").alias("y")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("c")
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = (
        a.join(b, (F.col("b.m") == F.col("a.m")) & (F.col("b.y") == F.col("a.y") + 1))
        .filter(F.col("b.c") != F.col("a.c"))
        .select((F.col("b.c") - F.col("a.c")).cast("bigint").alias("diff"))
    )
    ad = pairs.groupBy(F.abs("diff").alias("ad")).agg(
        F.count("*").cast("bigint").alias("n_v"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0)).cast("bigint").alias("n_pos"),
    )
    rk = ad.select(
        "ad", "n_v", "n_pos",
        (2 * F.coalesce(
            F.sum("n_v").over(Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)) + F.col("n_v") + 1).cast("bigint").alias("r2"),
    )
    tot = rk.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(F.col("n_pos") * F.col("r2")).cast("bigint").alias("wplus2"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint").alias("tie3"),
    )
    zexp = (
        (F.col("wplus2").cast("double") / 2.0
         - F.col("n").cast("double") * (F.col("n") + 1) / 4.0)
        / F.sqrt(F.col("n").cast("double") * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24.0
                 - F.col("tie3").cast("double") / 48.0)
    )
    return tot.select(
        "n", "wplus2", half_up(zexp).alias("z"),
        (F.abs(zexp) >= 1.959964).alias("significant"),
    )


# =====================================================================
# Block D — Huffman code lengths (deterministic merges, bounded domain)
# =====================================================================

# Symbols = event types with corpus frequencies. Merge rule is fully
# deterministic: at each step combine the two components with the
# smallest (freq, representative) — representative = min symbol — and
# every member's depth grows by 1. The symbol DOMAIN is a bounded
# dimension (≤ 7 guarded stages cover it), so the oracle unrolls the
# merges as guarded MATERIALIZED CTE stages while Spark runs the ONE
# corpus-sized pass (frequency count) distributed and replays the
# O(k log k) merge loop on the collected k-row frequency table (the
# MMR bounded-collect discipline). Kraft Σ2^-len = 1 is pinned in
# tests.
def _huffman_oracle(max_stages: int = 6) -> str:
    parts = ["""WITH s0 AS MATERIALIZED (
      SELECT event_type AS sym, event_type AS comp,
             CAST(count(*) AS BIGINT) AS freq, 0 AS depth
      FROM events GROUP BY event_type)"""]
    prev = "s0"
    for k in range(1, max_stages + 1):
        parts.append(f"""c{k} AS (SELECT comp, min(freq) AS f FROM {prev} GROUP BY comp),
    p{k} AS (SELECT comp, f, row_number() OVER (ORDER BY f, comp) AS r FROM c{k}),
    m{k} AS (SELECT min(comp) AS newc, CAST(sum(f) AS BIGINT) AS newf,
                    CAST(count(*) AS BIGINT) AS npick
             FROM p{k} WHERE r <= 2),
    live{k} AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c{k}),
    s{k} AS MATERIALIZED (
      SELECT s.sym,
             CASE WHEN l.n >= 2 AND s.comp IN (SELECT comp FROM p{k} WHERE r <= 2)
                  THEN m.newc ELSE s.comp END AS comp,
             CASE WHEN l.n >= 2 AND s.comp IN (SELECT comp FROM p{k} WHERE r <= 2)
                  THEN m.newf ELSE s.freq END AS freq,
             s.depth + CASE WHEN l.n >= 2
                             AND s.comp IN (SELECT comp FROM p{k} WHERE r <= 2)
                            THEN 1 ELSE 0 END AS depth
      FROM {prev} s CROSS JOIN m{k} m CROSS JOIN live{k} l)""")
        prev = f"s{k}"
    return (",\n    ".join(parts)
            + f"""
    SELECT s.sym, s0.freq, CAST(s.depth AS BIGINT) AS code_len
    FROM {prev} s JOIN s0 ON s0.sym = s.sym
    ORDER BY s.sym""")


@pq("huffman_code_lengths", _huffman_oracle())
def huffman_code_lengths(spark, sf_dir):
    """Huffman code lengths for the event-type alphabet: the corpus
    pass is one distributed hash agg; the merge loop runs on the
    collected k-row (bounded dimension) frequency table with the
    deterministic (freq, min-symbol) rule, then returns as a
    DataFrame. The oracle performs the SAME merges as guarded chained
    CTE stages — an independent implementation of the algorithm."""
    e = _t(spark, sf_dir, "events")
    freqs = e.groupBy(F.col("event_type").alias("sym")).agg(
        F.count("*").cast("bigint").alias("freq")
    )
    rows = sorted((r["sym"], int(r["freq"])) for r in freqs.collect())  # bounded: k types
    comp = {s: s for s, _ in rows}
    cfreq = {s: f for s, f in rows}
    depth = {s: 0 for s, _ in rows}
    while len(set(comp.values())) >= 2:
        comps = sorted({(cfreq[c], c) for c in set(comp.values())})
        (f1, c1), (f2, c2) = comps[0], comps[1]
        newc, newf = min(c1, c2), f1 + f2
        for s in comp:
            if comp[s] in (c1, c2):
                comp[s] = newc
                depth[s] += 1
        cfreq[newc] = newf
    out = [(s, f, depth[s]) for s, f in rows]
    return spark.createDataFrame(out, "sym string, freq long, code_len long").orderBy("sym")


# =====================================================================
# Block E — two-state integer Viterbi (MAP path over daily directions)
# =====================================================================

# Observations: daily revenue direction U/D/F (exact cent diffs, day 2
# onward). Two hidden states B(ull)/R(bear); all log-weights are
# OFFLINE centi-nat literals (stay −11 ≈ ln .9, switch −230 ≈ ln .1;
# emissions B: U −51, D −120, F −230; R mirrored) — BIGINT scores,
# ties resolved toward B then toward staying. The MAP path is carried
# as a string on both engines (the forward-with-path Viterbi trick),
# so the full per-day state sequence is value-checked, not just the
# final score.
_VITERBI_SQL = f"""
    WITH RECURSIVE daily AS ({ORDERS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    obs AS (
      SELECT s2.i - 1 AS i, s2.d,
             CASE WHEN s2.c > s1.c THEN 'U' WHEN s2.c < s1.c THEN 'D'
                  ELSE 'F' END AS o
      FROM ser s1 JOIN ser s2 ON s2.i = s1.i + 1),
    eb AS (SELECT i, d, o,
                  CASE o WHEN 'U' THEN -51 WHEN 'D' THEN -120 ELSE -230 END AS wb,
                  CASE o WHEN 'U' THEN -120 WHEN 'D' THEN -51 ELSE -230 END AS wr
           FROM obs),
    rec AS (
      SELECT i, CAST(wb AS BIGINT) AS sb, CAST(wr AS BIGINT) AS sr,
             'B' AS pb, 'R' AS pr
      FROM eb WHERE i = 1
      UNION ALL
      SELECT e.i,
             greatest(r.sb - 11, r.sr - 230) + e.wb,
             greatest(r.sb - 230, r.sr - 11) + e.wr,
             CASE WHEN r.sb - 11 >= r.sr - 230 THEN r.pb ELSE r.pr END || 'B',
             CASE WHEN r.sb - 230 >= r.sr - 11 THEN r.pb ELSE r.pr END || 'R'
      FROM rec r JOIN eb e ON e.i = r.i + 1),
    fin AS (
      SELECT CASE WHEN sb >= sr THEN pb ELSE pr END AS path,
             CASE WHEN sb >= sr THEN sb ELSE sr END AS score
      FROM rec ORDER BY i DESC LIMIT 1)
    SELECT o.d, substr(f.path, CAST(o.i AS INT), 1) AS state, f.score
    FROM obs o CROSS JOIN fin f
    ORDER BY o.d
"""


@pq("viterbi_two_state", _VITERBI_SQL)
def viterbi_two_state(spark, sf_dir):
    """Two-state integer Viterbi over the calendar-bounded daily
    direction series: one day agg, one Arrow pass carrying (score,
    path) per state — the oracle replays the identical integer DP as a
    recursive CTE with string path carry."""
    import pandas as pd

    daily = orders_daily_cents(spark, sf_dir)

    def vit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        c = pdf["c"].tolist()
        ds = pdf["d"].tolist()
        obs = []
        for k in range(1, len(c)):
            obs.append((ds[k], "U" if c[k] > c[k - 1] else ("D" if c[k] < c[k - 1] else "F")))
        if not obs:
            return pd.DataFrame({"d": [], "state": [], "score": []})
        EB = {"U": -51, "D": -120, "F": -230}
        ER = {"U": -120, "D": -51, "F": -230}
        sb, sr = EB[obs[0][1]], ER[obs[0][1]]
        pb, pr = "B", "R"
        for _, o in obs[1:]:
            nb = max(sb - 11, sr - 230) + EB[o]
            nr = max(sb - 230, sr - 11) + ER[o]
            npb = (pb if sb - 11 >= sr - 230 else pr) + "B"
            npr = (pb if sb - 230 >= sr - 11 else pr) + "R"
            sb, sr, pb, pr = nb, nr, npb, npr
        path, score = (pb, sb) if sb >= sr else (pr, sr)
        return pd.DataFrame(
            {"d": [d for d, _ in obs], "state": list(path), "score": [score] * len(obs)}
        )

    res = daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        vit, schema="d string, state string, score long"
    )
    return res.orderBy("d")


# =====================================================================
# Block F — optimal stopping (secretary 37% rule, pure windows)
# =====================================================================

# Per user, candidates arrive in event-time order with an md5 score;
# skip the first k = floor(n·368/1000), then take the first candidate
# beating the best of the skipped prefix (else the last). Success =
# picked the overall best. Everything is windows + one argmax per
# user — no recursion, no kernel. The classic ~37% success rate is an
# emergent check (pinned loosely in tests).
_SECRETARY_SQL = """
    WITH cand AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':sec'), 1, 15))
                  AS BIGINT) AS score,
             row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS i,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM events),
    k AS (
      SELECT user_id, n, CAST(n * 368 // 1000 AS BIGINT) AS k
      FROM cand WHERE i = 1 AND n >= 3),
    pref AS (
      SELECT c.user_id, max(c.score) AS best_pref
      FROM cand c JOIN k ON k.user_id = c.user_id AND c.i <= k.k
      GROUP BY c.user_id),
    pick AS (
      SELECT c.user_id, k.n, k.k,
             coalesce(min(CASE WHEN c.i > k.k AND c.score > p.best_pref
                               THEN c.i END), k.n) AS chosen_i
      FROM cand c JOIN k ON k.user_id = c.user_id
      JOIN pref p ON p.user_id = c.user_id
      GROUP BY c.user_id, k.n, k.k),
    best AS (
      SELECT user_id, max(score) AS best_all FROM cand GROUP BY user_id)
    SELECT p.user_id, p.n, p.k, p.chosen_i,
           (c.score = b.best_all) AS success
    FROM pick p
    JOIN cand c ON c.user_id = p.user_id AND c.i = p.chosen_i
    JOIN best b ON b.user_id = p.user_id
    ORDER BY p.user_id
"""


@pq("secretary_stopping_rule", _SECRETARY_SQL)
def secretary_stopping_rule(spark, sf_dir):
    """The secretary problem's 37% stopping rule replayed per user:
    prefix max over the skip window, first-crossing argmin, overall
    argmax — three windows and two joins, no sequential kernel
    needed. Scale: everything partitions by user."""
    e = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    cand = e.select(
        "user_id",
        F.conv(F.substring(F.md5(F.concat(F.col("event_id").cast("string"),
                                          F.lit(":sec"))), 1, 15), 16, 10)
        .cast("long").alias("score"),
        F.row_number().over(wu.orderBy(F.unix_micros("ts"), "event_id")).alias("i"),
        F.count("*").over(wu).cast("bigint").alias("n"),
    )
    k = (
        cand.filter((F.col("i") == 1) & (F.col("n") >= 3))
        .select("user_id", "n", F.floor(F.col("n") * 368 / 1000).cast("bigint").alias("k"))
    )
    pref = (
        cand.join(k.select("user_id", "k"), "user_id")
        .filter(F.col("i") <= F.col("k"))
        .groupBy("user_id")
        .agg(F.max("score").alias("best_pref"))
    )
    pick = (
        cand.select("user_id", "i", "score").join(k, "user_id").join(pref, "user_id")
        .groupBy("user_id", "n", "k")
        .agg(
            F.coalesce(
                F.min(F.when((F.col("i") > F.col("k"))
                             & (F.col("score") > F.col("best_pref")), F.col("i"))),
                F.first("n"),
            ).alias("chosen_i")
        )
    )
    best = cand.groupBy("user_id").agg(F.max("score").alias("best_all"))
    return (
        pick.join(cand.select("user_id", "i", "score"),
                  (pick["user_id"] == cand["user_id"]) & (pick["chosen_i"] == cand["i"]))
        .drop(cand["user_id"])
        .join(best, "user_id")
        .select("user_id", "n", "k", "chosen_i",
                (F.col("score") == F.col("best_all")).alias("success"))
        .orderBy("user_id")
    )


# =====================================================================
# Block G — lookback-3 critical path (longest path in a layered DAG)
# =====================================================================

# DAG: day i receives edges from days i-1, i-2, i-3; node weight = the
# day's revenue cents. Longest path ending at i is the recursion
# dp_i = c_i + max(dp_{i-1}, dp_{i-2}, dp_{i-3}) — sequential state no
# window frame expresses (dp references dp): one Arrow pass over the
# calendar-bounded series vs a recursive CTE carrying the last three
# dp values. Pure BIGINT.
_CPATH_SQL = f"""
    WITH RECURSIVE daily AS ({ORDERS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    n AS (SELECT CAST(max(i) AS BIGINT) AS n FROM ser),
    rec AS (
      SELECT i, c AS dp, CAST(-1 AS BIGINT) AS dp1, CAST(-1 AS BIGINT) AS dp2
      FROM ser WHERE i = 1
      UNION ALL
      SELECT s.i,
             s.c + greatest(r.dp, r.dp1, r.dp2),
             r.dp, r.dp1
      FROM rec r JOIN ser s ON s.i = r.i + 1)
    SELECT n.n AS n_days, CAST(max(r.dp) AS BIGINT) AS cp_cents
    FROM rec r CROSS JOIN n
    WHERE r.i = n.n
    GROUP BY n.n
"""


@pq("critical_path_lookback", _CPATH_SQL)
def critical_path_lookback(spark, sf_dir):
    """Longest path through the lookback-3 day DAG (one Arrow pass
    over the bounded series; the oracle recursion carries a 3-slot dp
    window). Note the path must END at the LAST day by construction of
    the recursion — dp at n is the answer because every dp is the best
    path ending exactly there and the last day dominates (weights are
    positive and it can extend any of the three predecessors)."""
    import pandas as pd

    daily = orders_daily_cents(spark, sf_dir)

    def cp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        c = pdf["c"].tolist()
        dp = [0] * len(c)
        for i in range(len(c)):
            prevs = [dp[j] for j in range(max(0, i - 3), i)] or [0]
            dp[i] = int(c[i]) + max(prevs)
        return pd.DataFrame({"n_days": [len(c)], "cp_cents": [dp[-1]]})

    return daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        cp, schema="n_days long, cp_cents long"
    )


# =====================================================================
# Block H — t-closeness (EMD over ordered deciles, privacy audit)
# =====================================================================

# Quasi-groups = (mktsegment, nationkey % 5); sensitive attribute =
# account-balance decile (NTILE(10) over exact cents with custkey
# tie-break — identical bucket-boundary semantics on both engines).
# t(group) = EMD between the group's decile distribution and the
# global one with |i−j|/(k−1) ground distance = mean |cumulative
# difference|; each per-level |cum_g/n_g − cum/N| is one identical
# float op pre-rounded to BIGINT nanos, summed exactly, divided by 9
# once. Completes the k-anonymity / l-diversity privacy trio.
_TCLOSE_SQL = """
    WITH cust AS (
      SELECT c_mktsegment AS seg, c_nationkey % 5 AS natb,
             ntile(10) OVER (ORDER BY CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT),
                             c_custkey) AS dec
      FROM customer),
    gd AS (
      SELECT seg, natb, dec, CAST(count(*) AS BIGINT) AS n
      FROM cust GROUP BY 1, 2, 3),
    g AS (SELECT seg, natb, CAST(sum(n) AS BIGINT) AS n_g FROM gd GROUP BY 1, 2),
    gdist AS (SELECT dec, CAST(sum(n) AS BIGINT) AS n_d FROM gd GROUP BY 1),
    nn AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM gdist),
    lv AS (
      SELECT g.seg, g.natb, g.n_g, d.dec,
             CAST(sum(coalesce(gd.n, 0)) OVER (PARTITION BY g.seg, g.natb
                    ORDER BY d.dec) AS BIGINT) AS cum_g,
             CAST(sum(d.n_d) OVER (PARTITION BY g.seg, g.natb
                    ORDER BY d.dec) AS BIGINT) AS cum
      FROM g CROSS JOIN gdist d
      LEFT JOIN gd ON gd.seg = g.seg AND gd.natb = g.natb AND gd.dec = d.dec),
    t AS (
      SELECT seg, natb, any_value(n_g) AS n_g,
             CAST(sum(CAST(floor(abs(CAST(cum_g AS DOUBLE) / n_g
                        - CAST(cum AS DOUBLE) / (SELECT n FROM nn)) * 1000000000 + 0.5)
                      AS BIGINT)) AS BIGINT) AS emd_nanos
      FROM lv WHERE dec < 10
      GROUP BY seg, natb)
    SELECT seg, natb, n_g,
           floor(CAST(emd_nanos AS DOUBLE) / 9.0 / 1000 + 0.5) / 1000000 AS t,
           CAST(emd_nanos AS DOUBLE) / 9.0 / 1000000000 > 0.15 AS exceeds_t15
    FROM t ORDER BY seg, natb
"""


@pq("privacy_t_closeness", _TCLOSE_SQL)
def privacy_t_closeness(spark, sf_dir):
    """t-closeness over ordered account-balance deciles: the decile
    assignment is one global NTILE (value-domain work), then group ×
    decile counts, cumulative distributions, and the nano-prerounded
    EMD. Plan: two hash aggs + a (groups × 10)-row grid — the corpus
    never joins itself."""
    c = _t(spark, sf_dir, "customer")
    cust = c.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).alias("natb"),
        F.ntile(10).over(
            Window.orderBy(F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint"),
                           "c_custkey")
        ).alias("dec"),
    )
    gd = cust.groupBy("seg", "natb", "dec").agg(F.count("*").cast("bigint").alias("n"))
    g = gd.groupBy("seg", "natb").agg(F.sum("n").cast("bigint").alias("n_g"))
    glob = gd.groupBy("dec").agg(F.sum("n").cast("bigint").alias("n_d"))
    nn = glob.agg(F.sum("n_d").cast("bigint").alias("n"))
    lv = (
        g.crossJoin(F.broadcast(glob))
        .join(gd, ["seg", "natb", "dec"], "left")
        .select(
            "seg", "natb", "n_g", "dec", "n_d",
            F.coalesce("n", F.lit(0)).alias("gn"),
        )
        .withColumn(
            "cum_g",
            F.sum("gn").over(Window.partitionBy("seg", "natb").orderBy("dec")
                             .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
        )
        .withColumn(
            "cum",
            F.sum("n_d").over(Window.partitionBy("seg", "natb").orderBy("dec")
                              .rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
        )
        .crossJoin(F.broadcast(nn))
    )
    t = (
        lv.filter(F.col("dec") < 10)
        .groupBy("seg", "natb")
        .agg(
            F.any_value("n_g").alias("n_g"),
            F.sum(
                F.floor(F.abs(F.col("cum_g").cast("double") / F.col("n_g")
                              - F.col("cum").cast("double") / F.col("n"))
                        * 1000000000 + F.lit(0.5)).cast("bigint")
            ).cast("bigint").alias("emd_nanos"),
        )
    )
    return t.select(
        "seg", "natb", "n_g",
        (F.floor(F.col("emd_nanos").cast("double") / 9.0 / 1000 + F.lit(0.5))
         / 1000000).alias("t"),
        (F.col("emd_nanos").cast("double") / 9.0 / 1000000000 > 0.15).alias("exceeds_t15"),
    ).orderBy("seg", "natb")


# =====================================================================
# Block I — Elo ratings with a fixed-point expectation ladder
# =====================================================================

# One match per day: the top-2 event types by daily revenue cents
# (ties in cents broken by type name; days with fewer than 2 types or
# equal top cents are skipped), winner = the larger. The logistic
# expectation is replaced by an OFFLINE 9-bucket permille ladder over
# the rating difference (symmetric: E(d) + E(−d) = 1000), so the
# whole system is BIGINT: R' = R ± 16·(1000 − E) millipoints from
# R0 = 1,500,000. Sequential 5-team state — one Arrow pass vs a
# recursive CTE carrying the rating vector as a list.
_ELO_SQL = """
    WITH RECURSIVE daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS d, event_type AS et,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    types AS (
      SELECT et, row_number() OVER (ORDER BY et) AS ti
      FROM (SELECT DISTINCT et FROM daily)),
    ranked AS (
      SELECT d, et, c, row_number() OVER (PARTITION BY d ORDER BY c DESC, et) AS r
      FROM daily),
    matches AS (
      SELECT a.d, ta.ti AS wi, tb.ti AS li,
             row_number() OVER (ORDER BY a.d) AS i
      FROM ranked a JOIN ranked b ON b.d = a.d AND a.r = 1 AND b.r = 2
      JOIN types ta ON ta.et = a.et JOIN types tb ON tb.et = b.et
      WHERE a.c > b.c),
    k AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM types),
    rec AS (
      SELECT CAST(0 AS BIGINT) AS i,
             list_transform(generate_series(1, CAST(nt AS INT)),
                            x -> CAST(1500000 AS BIGINT)) AS rs
      FROM k
      UNION ALL
      SELECT m.i,
             list_transform(generate_series(1, len(r.rs)), x ->
               CASE WHEN x = m.wi THEN r.rs[x] + 16 * (1000 - (
                      CASE WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -400 THEN 91
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -200 THEN 240
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -100 THEN 360
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -50 THEN 430
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 50 THEN 500
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 100 THEN 570
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 200 THEN 640
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 400 THEN 760
                           ELSE 909 END))
                    WHEN x = m.li THEN r.rs[x] - 16 * (1000 - (
                      CASE WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -400 THEN 91
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -200 THEN 240
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -100 THEN 360
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 <= -50 THEN 430
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 50 THEN 500
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 100 THEN 570
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 200 THEN 640
                           WHEN (r.rs[m.wi] - r.rs[m.li]) // 1000 < 400 THEN 760
                           ELSE 909 END))
                    ELSE r.rs[x] END)
      FROM rec r JOIN matches m ON m.i = r.i + 1),
    nmatch AS (SELECT CAST(max(i) AS BIGINT) AS n FROM matches)
    SELECT t.et, r.rs[CAST(t.ti AS INT)] AS rating_milli, nm.n AS n_matches
    FROM rec r CROSS JOIN nmatch nm JOIN types t ON TRUE
    WHERE r.i = nm.n
    ORDER BY t.et
"""


@pq("elo_fixed_ladder", _ELO_SQL)
def elo_fixed_ladder(spark, sf_dir):
    """Integer Elo over daily top-2 revenue matches: the day agg and
    ranking are the only corpus passes; the 5-team rating recursion is
    one Arrow pass over the calendar-bounded match list, replayed by
    the oracle as a list-carrying recursive CTE. Zero transcendental
    evaluations — the expectation ladder is data-independent offline
    literals."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
        F.col("event_type").alias("et"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("c")
    )
    ranked = daily.withColumn(
        "r", F.row_number().over(Window.partitionBy("d").orderBy(F.desc("c"), "et"))
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    matches = (
        a.join(b, (F.col("b.d") == F.col("a.d")) & (F.col("a.r") == 1) & (F.col("b.r") == 2))
        .filter(F.col("a.c") > F.col("b.c"))
        .select(F.col("a.d").alias("d"), F.col("a.et").alias("w"), F.col("b.et").alias("l"))
    )

    def ladder(d: int) -> int:
        if d <= -400: return 91
        if d <= -200: return 240
        if d <= -100: return 360
        if d <= -50: return 430
        if d < 50: return 500
        if d < 100: return 570
        if d < 200: return 640
        if d < 400: return 760
        return 909

    def elo(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        types = sorted(set(pdf["w"]) | set(pdf["l"]))
        rs = {t: 1500000 for t in types}
        for w, l in zip(pdf["w"], pdf["l"]):
            d = rs[w] - rs[l]
            # DuckDB // truncates toward zero; Python floors — align
            ex = ladder(abs(d) // 1000 * (1 if d >= 0 else -1))
            delta = 16 * (1000 - ex)
            rs[w] += delta
            rs[l] -= delta
        return pd.DataFrame(
            {"et": types, "rating_milli": [rs[t] for t in types],
             "n_matches": [len(pdf)] * len(types)}
        )

    res = matches.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        elo, schema="et string, rating_milli long, n_matches long"
    )
    return res.orderBy("et")


# =====================================================================
# Block J — DBSCAN (grid-blocked neighbors + connected components)
# =====================================================================

# Points = the o_orderkey % 37 = 3 order subset embedded at integer
# coordinates (x = Σ quantity, y = Σ floor(price) // 100); L∞ metric,
# eps = 12, minPts = 5 (self included). The scale-safe decomposition:
# neighbor counts come from a 3×3 GRID-CELL equi-join (each candidate
# pair is generated by exactly one offset, so no dedup pass), core-
# core clusters from the repo's O(log n) large-star/small-star
# connected components, border points attach to the MIN neighboring
# core label. The oracle is the deliberately naive quadratic pair join
# + a UNION-dedup transitive-closure recursion on the bounded subset.
_DBSCAN_SQL = """
    WITH RECURSIVE pts AS (
      SELECT l_orderkey AS pid,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS x,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) // 100 AS BIGINT) AS y
      FROM lineitem WHERE l_orderkey % 37 = 3 GROUP BY 1),
    pairs AS (
      SELECT a.pid AS pa, b.pid AS pb
      FROM pts a JOIN pts b
        ON abs(a.x - b.x) <= 12 AND abs(a.y - b.y) <= 12),
    deg AS (SELECT pa AS pid, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY 1),
    cores AS (SELECT pid FROM deg WHERE n >= 5),
    edges AS (
      SELECT p.pa AS a, p.pb AS b FROM pairs p
      JOIN cores c1 ON c1.pid = p.pa JOIN cores c2 ON c2.pid = p.pb),
    reach AS (
      SELECT pid AS p, pid AS q FROM cores
      UNION
      SELECT r.p, e.b FROM reach r JOIN edges e ON e.a = r.q),
    lbl AS (SELECT p AS pid, CAST(min(q) AS BIGINT) AS comp FROM reach GROUP BY p),
    border AS (
      SELECT p.pa AS pid, CAST(min(l.comp) AS BIGINT) AS comp
      FROM pairs p
      JOIN lbl l ON l.pid = p.pb
      LEFT JOIN cores c ON c.pid = p.pa
      WHERE c.pid IS NULL
      GROUP BY p.pa)
    SELECT pid, 'core' AS role, comp FROM lbl
    UNION ALL
    SELECT pid, 'border', comp FROM border
    UNION ALL
    SELECT p.pid, 'noise', CAST(NULL AS BIGINT)
    FROM pts p LEFT JOIN lbl l ON l.pid = p.pid
    LEFT JOIN border b ON b.pid = p.pid
    WHERE l.pid IS NULL AND b.pid IS NULL
    ORDER BY pid
"""


@pq("dbscan_grid_blocked", _DBSCAN_SQL)
def dbscan_grid_blocked(spark, sf_dir):
    """DBSCAN without an all-pairs join: candidate pairs from a 3×3
    grid-cell equi-join (cell width = eps, so every L∞ ≤ eps pair is
    covered and each pair arises from exactly ONE offset), neighbor
    counts by hash agg, cluster labels from the O(log n) star
    connected components over the core-core graph, borders attached to
    the min neighboring core label. This is the decomposition that
    survives 100 TB — the oracle's quadratic join is the deliberately
    naive derivation on the bounded subset."""
    from etl_mini_spark.operators.dedup import connected_components
    from etl_mini_spark.session import pin

    li = _t(spark, sf_dir, "lineitem")
    # pts feeds the probe side, the build side AND the noise anti-join
    # (3 references), pairs feeds deg/core_edges/border (3 more);
    # unpinned: 2.27 s vs 1.49 s at sf0.1, and with one of the two
    # pinned 2.39 s vs 2.13 s (pts) and 2.55 s vs 2.20 s (pairs)
    pts = pin(
        li.filter(F.col("l_orderkey") % 37 == 3)
        .groupBy(F.col("l_orderkey").alias("pid"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("x"),
            F.floor(F.sum(F.floor("l_extendedprice").cast("bigint")) / 100)
            .cast("bigint").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / 12).cast("bigint"))
        .withColumn("cy", F.floor(F.col("y") / 12).cast("bigint"))
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = pts.select(
        F.col("pid").alias("pa"), F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.explode(F.array(*[
            F.struct((F.col("cx") + dx).alias("ncx"), (F.col("cy") + dy).alias("ncy"))
            for dx, dy in offs
        ])).alias("c"),
    ).select("pa", "ax", "ay", F.col("c.ncx").alias("ncx"), F.col("c.ncy").alias("ncy"))
    pairs = pin(
        probe.join(
            pts.select(F.col("pid").alias("pb"), F.col("x").alias("bx"),
                       F.col("y").alias("by"), "cx", "cy"),
            (F.col("ncx") == F.col("cx")) & (F.col("ncy") == F.col("cy")),
        )
        .filter((F.abs(F.col("ax") - F.col("bx")) <= 12)
                & (F.abs(F.col("ay") - F.col("by")) <= 12))
        .select("pa", "pb")
    )
    deg = pairs.groupBy(F.col("pa").alias("pid")).agg(F.count("*").cast("bigint").alias("n"))
    cores = deg.filter(F.col("n") >= 5).select("pid")
    core_edges = (
        pairs.join(cores.withColumnRenamed("pid", "pa"), "pa")
        .join(cores.withColumnRenamed("pid", "pb"), "pb")
        .filter(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("d1"), F.col("pb").alias("d2"))
    )
    cc = connected_components(core_edges, "d1", "d2")
    lbl = (
        cores.join(cc.withColumnRenamed("node", "pid"), "pid", "left")
        .select("pid", F.coalesce("comp", F.col("pid")).cast("bigint").alias("comp"))
    )
    border = (
        pairs.join(lbl.withColumnRenamed("pid", "pb"), "pb")
        .join(cores.withColumnRenamed("pid", "pa"), "pa", "left_anti")
        .groupBy(F.col("pa").alias("pid"))
        .agg(F.min("comp").cast("bigint").alias("comp"))
    )
    out = (
        lbl.select("pid", F.lit("core").alias("role"), "comp")
        .unionByName(border.select("pid", F.lit("border").alias("role"), "comp"))
    )
    noise = (
        pts.select("pid")
        .join(out.select("pid"), "pid", "left_anti")
        .select("pid", F.lit("noise").alias("role"),
                F.lit(None).cast("bigint").alias("comp"))
    )
    return out.unionByName(noise).orderBy("pid")


# =====================================================================
# Block K — BM25F fielded scoring (title weight 2, body weight 1)
# =====================================================================

# The fielded refinement of the registered Okapi BM25: title = the
# first 5 tokens, body = the rest; weighted tf̃ = 2·tf_title + tf_body
# and weighted length dlw = 2·len_title + len_body enter the standard
# saturation with k1 = 1.2, b = 0.75. Same parity discipline as
# bm25_topk_docs (round10_ops.py): integers everywhere, the idf ln()
# evaluated on identical doubles, per-(doc, term) contribution
# pre-rounded at 9dp and summed as DECIMAL(28,9), doc_id tie-break.
_BM25F_SQL = """
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents),
    toks AS (
      SELECT doc_id, arr[i] AS t, CASE WHEN i <= 5 THEN 2 ELSE 1 END AS w
      FROM docs, unnest(generate_series(1, len(arr))) AS g(i)),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
             CAST(sum(w) AS BIGINT) AS dlw
      FROM toks GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dlw) AS BIGINT) AS total_w
      FROM dl),
    q AS (SELECT unnest(['join', 'hash', 'scan']) AS t),
    tf AS (
      SELECT toks.doc_id, toks.t, CAST(sum(toks.w) AS BIGINT) AS tfw
      FROM toks JOIN q ON toks.t = q.t
      GROUP BY toks.doc_id, toks.t),
    df AS (SELECT t, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY t),
    terms AS (
      SELECT tf.doc_id,
             CAST(round(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * tf.tfw * 2.2
               / (tf.tfw + 1.2 * (0.25 + 0.75 * dl.dlw / (s.total_w / (1.0 * s.n_docs)))),
               9) AS DECIMAL(28,9)) AS term
      FROM tf JOIN df ON tf.t = df.t
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats s),
    scored AS (SELECT doc_id, sum(term) AS score_d FROM terms GROUP BY doc_id)
    SELECT doc_id, round(CAST(score_d AS DOUBLE), 6) AS bm25f
    FROM scored ORDER BY score_d DESC, doc_id LIMIT 20
"""


@pq("bm25f_fielded_topk", _BM25F_SQL)
def bm25f_fielded_topk(spark, sf_dir):
    """BM25F top-20 for a fixed three-term query with a 2×-weighted
    title field (first 5 tokens). Plan mirrors bm25_topk_docs: the
    token scan filters to query terms via a broadcast semi-join before
    any shuffle, the weighted-length table broadcasts back, exact
    DECIMAL ranking key."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
        ).alias("p", "t"),
    ).select("doc_id", "t", F.when(F.col("p") < 5, 2).otherwise(1).alias("w"))
    dl = toks.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("dl"),
        F.sum("w").cast("bigint").alias("dlw"),
    )
    stats = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dlw").cast("bigint").alias("total_w"),
    )
    q = spark.range(1).select(
        F.explode(F.array(F.lit("join"), F.lit("hash"), F.lit("scan"))).alias("t")
    )
    tf = toks.join(F.broadcast(q), "t").groupBy("doc_id", "t").agg(
        F.sum("w").cast("bigint").alias("tfw")
    )
    df_ = tf.groupBy("t").agg(F.countDistinct("doc_id").cast("bigint").alias("df"))
    terms = (
        tf.join(F.broadcast(df_), "t")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
                * F.col("tfw") * 2.2
                / (F.col("tfw") + 1.2 * (0.25 + 0.75 * F.col("dlw")
                                         / (F.col("total_w") / (1.0 * F.col("n_docs"))))),
                9,
            ).cast("decimal(28,9)").alias("term"),
        )
    )
    scored = terms.groupBy("doc_id").agg(F.sum("term").alias("score_d"))
    return (
        scored.orderBy(F.desc("score_d"), "doc_id").limit(20)
        .select("doc_id", F.round(F.col("score_d").cast("double"), 6).alias("bm25f"))
    )


# =====================================================================
# Block L — TextRank keyword centrality (integer-nano PageRank)
# =====================================================================

# Word graph: adjacent-token co-occurrence within documents (both
# directions, weight = count). Four weighted-PageRank iterations under
# the HITS integer discipline: scores in nanos, per-edge contribution
# floor(pr_u · 85 · w / (100 · outw_u)) — pure BIGINT integer
# division, identical on both engines, damping 0.85 as the 85/100
# literal. The vocabulary is bounded, so each iteration is a tiny
# join; the one corpus-sized pass builds the edge counts.
def _textrank_oracle(iters: int = 4) -> str:
    parts = ["""WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS arr
      FROM documents),
    adj AS (
      SELECT arr[i] AS w1, arr[i + 1] AS w2
      FROM docs, unnest(generate_series(1, len(arr) - 1)) AS g(i)
      WHERE regexp_matches(arr[i], '^[a-z]+$') AND regexp_matches(arr[i + 1], '^[a-z]+$')),
    edges AS MATERIALIZED (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS w FROM (
        SELECT w1, w2 FROM adj UNION ALL SELECT w2, w1 FROM adj) GROUP BY 1, 2),
    outw AS MATERIALIZED (
      SELECT w1, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY 1),
    nodes AS MATERIALIZED (SELECT w1 AS word FROM outw),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    p0 AS MATERIALIZED (
      SELECT word, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS pr FROM nodes)"""]
    prev = "p0"
    for k in range(1, iters + 1):
        parts.append(f"""p{k} AS MATERIALIZED (
      SELECT n.word,
             CAST(150000000 // (SELECT n FROM nn)
                  + coalesce(sum(p.pr * 85 * e.w // (100 * o.ow)), 0) AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.w2 = n.word
      LEFT JOIN {prev} p ON p.word = e.w1
      LEFT JOIN outw o ON o.w1 = e.w1
      GROUP BY n.word)""")
        prev = f"p{k}"
    return (",\n    ".join(parts)
            + f"\n    SELECT word, pr AS pr_nanos FROM {prev} ORDER BY word")


@pq("textrank_keywords", _textrank_oracle())
def textrank_keywords(spark, sf_dir):
    """TextRank keyword centrality: one corpus pass builds the
    co-occurrence edge counts; four integer-nano PageRank iterations
    run as vocabulary-sized joins (HITS discipline — exact BIGINT
    state, one integer division per edge, no float drift to
    accumulate), each a pinned superstep (operators/graph.iterate)
    under loop_confs."""
    from etl_mini_spark.session import pin

    d = _t(spark, sf_dir, "documents")
    arr = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    tok = d.select("doc_id", F.posexplode(arr).alias("p", "t"))
    # adjacent pairs via lead() over the in-doc position — posexplode
    # positions are gap-free, so lead(t) IS the p+1 token; the old
    # token self-join paid two corpus explodes + a join shuffle
    nxt = F.lead("t").over(Window.partitionBy("doc_id").orderBy("p"))
    adj = (
        tok.withColumn("t2", nxt)
        .filter(F.col("t").rlike("^[a-z]+$") & F.col("t2").rlike("^[a-z]+$"))
        .select(F.col("t").alias("w1"), F.col("t2").alias("w2"))
    )
    # symmetrize inline (a unionByName over the SAME adj subtree would
    # re-run the corpus pass per direction)
    sym = adj.select(
        F.explode(
            F.array(
                F.struct("w1", "w2"),
                F.struct(F.col("w2").alias("w1"), F.col("w1").alias("w2")),
            )
        ).alias("s")
    ).select("s.w1", "s.w2")
    # the four unrolled PageRank iterations below each reference edges +
    # outw + nodes; unpinned: 4.63 s vs 1.73 s at sf0.1, and with edges
    # alone pinned 1.98 s vs 1.61 s
    edges = pin(sym.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("w")))
    outw = pin(edges.groupBy("w1").agg(F.sum("w").cast("bigint").alias("ow")))
    nodes = outw.select(F.col("w1").alias("word"))
    n = nodes.count()  # bounded: vocabulary size

    def step(pr):
        contrib = (
            edges.join(pr.withColumnRenamed("word", "w1"), "w1")
            .join(outw, "w1")
            .select(
                F.col("w2").alias("word"),
                F.floor(F.col("pr") * 85 * F.col("w") / (100 * F.col("ow")))
                .cast("bigint").alias("c"),
            )
            .groupBy("word").agg(F.sum("c").cast("bigint").alias("inflow"))
        )
        return nodes.join(contrib, "word", "left").select(
            "word",
            (F.lit(150000000 // n) + F.coalesce("inflow", F.lit(0)))
            .cast("bigint").alias("pr"),
        )

    pr = nodes.select("word", F.lit(1000000000 // n).cast("bigint").alias("pr"))
    with loop_confs(spark, 8):
        pr = iterate(pr, step, max_iter=4)
    return pr.select("word", F.col("pr").alias("pr_nanos")).orderBy("word")


# =====================================================================
# Block M — Kadane maximum-sum window (best contiguous revenue swing)
# =====================================================================

# Over daily revenue DELTAS (exact cent diffs), find the contiguous
# run with the maximum sum — Kadane's DP cur = max(x, cur + x), a
# sequential recurrence no window frame expresses. Tie rules are
# total: prefer the EARLIER end day, then the LONGER run (smaller
# start index at the same end). Start-day tracking rides along the
# recursion on both engines, so the answer is value-checked with its
# exact interval, not just the sum.
_KADANE_SQL = f"""
    WITH RECURSIVE daily AS ({ORDERS_DAILY_SQL}),
    ser AS (SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    dx AS (
      SELECT s2.i - 1 AS i, s2.d, CAST(s2.c - s1.c AS BIGINT) AS x
      FROM ser s1 JOIN ser s2 ON s2.i = s1.i + 1),
    rec AS (
      SELECT i, x AS cur, CAST(i AS BIGINT) AS cur_start,
             x AS best, CAST(i AS BIGINT) AS best_start, CAST(i AS BIGINT) AS best_end
      FROM dx WHERE i = 1
      UNION ALL
      SELECT e.i,
             CASE WHEN r.cur >= 0 THEN r.cur + e.x ELSE e.x END,
             CASE WHEN r.cur >= 0 THEN r.cur_start ELSE CAST(e.i AS BIGINT) END,
             CASE WHEN (CASE WHEN r.cur >= 0 THEN r.cur + e.x ELSE e.x END) > r.best
                  THEN (CASE WHEN r.cur >= 0 THEN r.cur + e.x ELSE e.x END)
                  ELSE r.best END,
             CASE WHEN (CASE WHEN r.cur >= 0 THEN r.cur + e.x ELSE e.x END) > r.best
                  THEN (CASE WHEN r.cur >= 0 THEN r.cur_start ELSE CAST(e.i AS BIGINT) END)
                  ELSE r.best_start END,
             CASE WHEN (CASE WHEN r.cur >= 0 THEN r.cur + e.x ELSE e.x END) > r.best
                  THEN CAST(e.i AS BIGINT) ELSE r.best_end END
      FROM rec r JOIN dx e ON e.i = r.i + 1),
    n AS (SELECT CAST(max(i) AS BIGINT) AS n FROM dx),
    fin AS (SELECT * FROM rec, n WHERE rec.i = n.n)
    SELECT f.best AS best_swing_cents, ds.d AS start_d, de.d AS end_d,
           CAST(f.best_end - f.best_start + 1 AS BIGINT) AS run_len
    FROM fin f
    JOIN dx ds ON ds.i = f.best_start
    JOIN dx de ON de.i = f.best_end
"""


@pq("kadane_max_swing", _KADANE_SQL)
def kadane_max_swing(spark, sf_dir):
    """Kadane's maximum-subarray DP over daily revenue deltas (one
    Arrow pass over the calendar-bounded series; the oracle recursion
    carries (cur, cur_start, best, best_start, best_end)). Strict '>'
    on the best update keeps the earliest-interval tie rule on both
    engines."""
    import pandas as pd

    daily = orders_daily_cents(spark, sf_dir)

    def kad(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        c = pdf["c"].tolist()
        ds = pdf["d"].tolist()
        xs = [(ds[k], int(c[k]) - int(c[k - 1])) for k in range(1, len(c))]
        if not xs:
            return pd.DataFrame(
                {"best_swing_cents": [], "start_d": [], "end_d": [], "run_len": []})
        cur, cur_s = xs[0][1], 0
        best, best_s, best_e = xs[0][1], 0, 0
        for k in range(1, len(xs)):
            x = xs[k][1]
            if cur >= 0:
                cur = cur + x
            else:
                cur, cur_s = x, k
            if cur > best:
                best, best_s, best_e = cur, cur_s, k
        return pd.DataFrame(
            {"best_swing_cents": [best], "start_d": [xs[best_s][0]],
             "end_d": [xs[best_e][0]], "run_len": [best_e - best_s + 1]}
        )

    return daily.withColumn("k", F.lit(1)).groupBy("k").applyInPandas(
        kad, schema="best_swing_cents long, start_d string, end_d string, run_len long"
    )
