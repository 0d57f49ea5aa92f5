"""Registry queries: the SQL:2016 row-pattern surface as a batch
differential (V-shape MATCH_RECOGNIZE-class detection over daily
revenue), two classic per-group sequential DPs no window frame can
express (weighted interval scheduling, longest increasing
subsequence), phonetic + edit-distance record linkage (American
Soundex replayed char-by-char in SQL, full Damerau-Levenshtein vs
DuckDB's builtin), a psychometrics block (Cronbach's alpha, one-way
ICC, Krippendorff's nominal alpha), deterministic RANSAC line fitting
under pure-integer inlier tests, marketing adstock with an exact
integer-halving carryover, MMR diverse top-k retrieval, single-source
BFS on a formulaic circulant graph, a streaming state-eviction batch
twin driven by as-of joins on BOTH engines (Spark union-sort vs DuckDB
native ASOF), seasonal Mann-Kendall, Dunn's post-hoc pairwise z, and an
Avro round trip through the pure-stdlib codec, each checked against its
DuckDB oracle.

Parity rules as in round9..15 (FIXTURES.md §C): integer/decimal
arithmetic end-to-end wherever a comparison decides a row (money as
exact BIGINT cents, durations as exact BIGINT micros, DP states and
adstock carryover as BIGINTs, RANSAC inlier tests as integer
cross-product inequalities — no division or sqrt ever decides
membership), libm-free except IEEE-exact sqrt of identical doubles,
per-term 9dp pre-rounds summed as BIGINT nanos before any display
division, deterministic tie-breaks on every rank and argmax (packed
BIGINT keys where an engine lacks composite arg_max), and
floor(x*10^k + 0.5)/10^k HALF_UP display rounding.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_mini_spark.operators.graph import bfs_circulant
from etl_mini_spark.queries._base import ORDERS_DAILY_SQL, _t, half_up, orders_daily_cents
from etl_mini_spark.queries._base import q as pq


# =====================================================================
# Block A — V-shape row patterns (MATCH_RECOGNIZE class, batch twin)
# =====================================================================

# PATTERN (STRT DOWN+ UP+) over the daily revenue series: a maximal
# strictly-falling run immediately followed by a maximal strictly-
# rising run. Directions come from exact integer cent diffs (FLAT days
# break a pattern), runs from the classic gaps-islands rn-rn id, and
# a match joins a DOWN run to the UP run that starts on its next day.
# Neither engine has MATCH_RECOGNIZE; both derive it from the same
# windows, which is the point of the differential.
_VSHAPE_SQL = f"""
    WITH daily AS ({ORDERS_DAILY_SQL}),
    ser AS (
      SELECT d, c, row_number() OVER (ORDER BY d) AS i FROM daily),
    dirs AS (
      SELECT s2.i, s2.d, s2.c, s1.d AS prev_d, s1.c AS prev_c,
             CASE WHEN s2.c > s1.c THEN 'U' WHEN s2.c < s1.c THEN 'D'
                  ELSE 'F' END AS dir
      FROM ser s1 JOIN ser s2 ON s2.i = s1.i + 1),
    runs AS (
      SELECT i, d, c, prev_d, prev_c, dir,
             i - row_number() OVER (PARTITION BY dir ORDER BY i) AS grp
      FROM dirs),
    seg AS (
      SELECT dir, grp, min(i) AS i0, max(i) AS i1,
             CAST(count(*) AS BIGINT) AS len,
             min(prev_d) AS strt_d, arg_min(prev_c, i) AS strt_c,
             max(d) AS end_d, arg_max(c, i) AS end_c
      FROM runs GROUP BY dir, grp)
    SELECT dn.strt_d AS start_d, dn.end_d AS bottom_d, up.end_d AS end_d,
           dn.len AS n_down, up.len AS n_up,
           CAST(dn.strt_c - dn.end_c AS BIGINT) AS depth_cents,
           CAST(up.end_c - dn.end_c AS BIGINT) AS recovery_cents
    FROM seg dn JOIN seg up
      ON dn.dir = 'D' AND up.dir = 'U' AND up.i0 = dn.i1 + 1
    ORDER BY start_d
"""


@pq("pattern_vshape_runs", _VSHAPE_SQL)
def pattern_vshape_runs(spark, sf_dir):
    """MATCH_RECOGNIZE-class V-shape detection (STRT DOWN+ UP+) over
    daily revenue: exact integer cent diffs classify each day U/D/F,
    gaps-islands groups maximal runs, and a DOWN run joined to the UP
    run starting the next day is a match. Plan: one day agg, three
    ordered windows, one tiny self-join of run summaries — the series
    is calendar-bounded (~2.4k rows at any SF), so the single-partition
    windows are the CORRECT plan, not a scale hazard. The
    consecutive-day pairing is a lag window instead of an i+1
    self-join — identical rows (row i pairs with row i-1; row 1, which
    the inner join dropped, is dropped by the i > 1 filter), one
    operator instead of a join (guide 2.4)."""
    daily = orders_daily_cents(spark, sf_dir)
    ser = daily.select("d", "c", F.row_number().over(Window.orderBy("d")).alias("i"))
    wser = Window.orderBy("i")
    dirs = (
        ser.select(
            "i", "d", "c",
            F.lag("d").over(wser).alias("prev_d"),
            F.lag("c").over(wser).alias("prev_c"),
        )
        .filter(F.col("i") > 1)
        .withColumn(
            "dir",
            F.when(F.col("c") > F.col("prev_c"), "U")
            .when(F.col("c") < F.col("prev_c"), "D").otherwise("F"),
        )
    )
    runs = dirs.withColumn(
        "grp", F.col("i") - F.row_number().over(Window.partitionBy("dir").orderBy("i"))
    )
    seg = runs.groupBy("dir", "grp").agg(
        F.min("i").alias("i0"), F.max("i").alias("i1"),
        F.count("*").cast("bigint").alias("len"),
        F.min("prev_d").alias("strt_d"), F.min_by("prev_c", "i").alias("strt_c"),
        F.max("d").alias("end_d"), F.max_by("c", "i").alias("end_c"),
    )
    dn, up = seg.alias("dn"), seg.alias("up")
    return (
        dn.join(up, (F.col("dn.dir") == "D") & (F.col("up.dir") == "U")
                & (F.col("up.i0") == F.col("dn.i1") + 1))
        .select(
            F.col("dn.strt_d").alias("start_d"), F.col("dn.end_d").alias("bottom_d"),
            F.col("up.end_d").alias("end_d"), F.col("dn.len").alias("n_down"),
            F.col("up.len").alias("n_up"),
            (F.col("dn.strt_c") - F.col("dn.end_c")).cast("bigint").alias("depth_cents"),
            (F.col("up.end_c") - F.col("dn.end_c")).cast("bigint").alias("recovery_cents"),
        )
        .orderBy("start_d")
    )


# =====================================================================
# Block B — weighted interval scheduling (per-user sequential DP)
# =====================================================================

# Intervals from events: [ts, ts + value minutes), weight = value in
# cents — all derived with the identical floor(x+0.5) on both engines
# (value has 2dp, so *60 and *100 never land on .5). The DP
# dp_i = max(dp_{i-1}, w_i + dp_{p_i}) needs random access to an
# EARLIER state (p_i, the last interval ending before i starts), which
# no window frame expresses: Spark runs it as one Arrow pass per user
# (≤~100 rows each), the oracle replays it as a recursive CTE carrying
# the dp vector as a list. p_i comes from a bounded per-user self-join
# (≤100² pairs/user). Pure BIGINT throughout — no float ever.
_WIS_SQL = """
    WITH RECURSIVE iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value * 60 + 0.5) AS BIGINT) * 1000000 AS e,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS w
      FROM events),
    ser AS (
      SELECT user_id, s, e, w,
             row_number() OVER (PARTITION BY user_id ORDER BY e, s, event_id) AS i
      FROM iv),
    p AS (
      SELECT a.user_id, a.i,
             CAST(coalesce(max(b.i), 0) AS BIGINT) AS p
      FROM ser a LEFT JOIN ser b
        ON b.user_id = a.user_id AND b.e <= a.s
      GROUP BY a.user_id, a.i),
    n AS (SELECT user_id, CAST(max(i) AS BIGINT) AS n FROM ser GROUP BY 1),
    rec AS (
      SELECT user_id, CAST(0 AS BIGINT) AS i, [CAST(0 AS BIGINT)] AS dp
      FROM n
      UNION ALL
      SELECT r.user_id, r.i + 1,
             list_append(r.dp,
               greatest(r.dp[CAST(r.i + 1 AS INT)],
                        s.w + r.dp[CAST(p.p + 1 AS INT)]))
      FROM rec r
      JOIN ser s ON s.user_id = r.user_id AND s.i = r.i + 1
      JOIN p ON p.user_id = r.user_id AND p.i = s.i)
    SELECT r.user_id, n.n AS n_intervals,
           r.dp[CAST(n.n + 1 AS INT)] AS best_cents
    FROM rec r JOIN n ON n.user_id = r.user_id AND r.i = n.n
    ORDER BY r.user_id
"""


@pq("interval_scheduling_wis", _WIS_SQL)
def interval_scheduling_wis(spark, sf_dir):
    """Weighted interval scheduling per user: the classic end-sorted
    DP with binary-searched predecessor, run as one Arrow pass per
    user. Every quantity is an exact BIGINT (epoch micros, cent
    weights), so the answer hash-matches the oracle's recursive-CTE
    replay bit-for-bit. Scale: users partition the work (hash shuffle
    on user_id only), each group is bounded by the per-user event
    count, and the kernel is O(n log n) per group — at 100 TB this is
    an embarrassingly parallel applyInPandas, no global sort."""
    import bisect

    import pandas as pd

    e = _t(spark, sf_dir, "events")
    iv = e.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts")
         + F.floor(F.col("value") * 60 + F.lit(0.5)).cast("bigint") * 1000000).alias("e"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("w"),
    )

    def wis(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["e", "s", "event_id"]).reset_index(drop=True)
        ends = pdf["e"].tolist()
        starts = pdf["s"].tolist()
        ws = pdf["w"].tolist()
        n = len(pdf)
        dp = [0] * (n + 1)
        for i in range(1, n + 1):
            p = bisect.bisect_right(ends, starts[i - 1], hi=i - 1)
            dp[i] = max(dp[i - 1], ws[i - 1] + dp[p])
        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"][0])], "n_intervals": [n],
             "best_cents": [int(dp[n])]}
        )

    return (
        iv.groupBy("user_id")
        .applyInPandas(wis, schema="user_id long, n_intervals long, best_cents long")
        .orderBy("user_id")
    )


# =====================================================================
# Block C — longest increasing subsequence (per-user sequential DP)
# =====================================================================

# LIS of the cent-value sequence in event-time order, strictly
# increasing. Spark runs patience sorting (O(n log n) tails) per user;
# the oracle replays the O(n²) textbook DP as a recursive CTE that
# carries the dp vector and indexes the per-user value array with list
# lambdas — two genuinely different formulations of the same function,
# both exact integers.
_LIS_SQL = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    ser AS (
      SELECT user_id, v,
             row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS i
      FROM ev),
    arr AS (
      SELECT user_id, list(v ORDER BY i) AS vs,
             CAST(count(*) AS BIGINT) AS n
      FROM ser GROUP BY 1),
    rec AS (
      SELECT user_id, CAST(0 AS BIGINT) AS i, CAST([] AS BIGINT[]) AS dp
      FROM arr
      UNION ALL
      SELECT r.user_id, r.i + 1,
             list_append(r.dp,
               1 + coalesce(list_max(
                 list_transform(
                   list_filter(generate_series(1, CAST(r.i AS INT)),
                               j -> a.vs[j] < a.vs[CAST(r.i + 1 AS INT)]),
                   j -> r.dp[j])), 0))
      FROM rec r JOIN arr a ON a.user_id = r.user_id AND r.i < a.n)
    SELECT r.user_id, a.n AS n_events,
           CAST(list_max(r.dp) AS BIGINT) AS lis_len
    FROM rec r JOIN arr a ON a.user_id = r.user_id AND r.i = a.n
    ORDER BY r.user_id
"""


@pq("lis_events_per_user", _LIS_SQL)
def lis_events_per_user(spark, sf_dir):
    """Longest strictly-increasing subsequence of cent values per user
    (patience sorting, bisect_left tails). Scale notes as Block B: the
    shuffle is on user_id only, groups are bounded, and the kernel is
    O(n log n) — the oracle's O(n²) DP is the deliberately naive
    independent derivation, not the plan."""
    import bisect

    import pandas as pd

    e = _t(spark, sf_dir, "events")
    ev = e.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )

    def lis(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "event_id"]).reset_index(drop=True)
        tails: list[int] = []
        for v in pdf["v"]:
            pos = bisect.bisect_left(tails, v)
            if pos == len(tails):
                tails.append(v)
            else:
                tails[pos] = v
        return pd.DataFrame(
            {"user_id": [int(pdf["user_id"][0])], "n_events": [len(pdf)],
             "lis_len": [len(tails)]}
        )

    return (
        ev.groupBy("user_id")
        .applyInPandas(lis, schema="user_id long, n_events long, lis_len long")
        .orderBy("user_id")
    )


# =====================================================================
# Block D — American Soundex phonetic groups (char-walk SQL twin)
# =====================================================================

# Spark has a builtin soundex(); DuckDB does not — the oracle replays
# the classic American algorithm char by char (translate() digit map,
# H/W removed as TRANSPARENT before adjacency so letters they separate
# still merge, adjacent equal digits collapsed via lag, vowels AEIOUY
# acting as separators, first letter kept with its own code dedup) —
# verified against Spark on the canonical Ashcraft→A261 /
# Tymczak→T522 / Pfister→P236 / Honeyman→H555 cases. Output groups the
# corpus vocabulary by code with SF-sensitive per-word document reach.
_SOUNDEX_SQL = """
    WITH tok AS (
      SELECT DISTINCT doc_id, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE regexp_matches(w, '^[a-z]+$')),
    reach AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_docs FROM tok GROUP BY w),
    words AS (SELECT w, upper(w) AS uw FROM reach),
    chars AS (
      SELECT w, uw, i,
             substr(translate(uw, 'BFPVCGJKQSXZDTLMNR',
                                  '111122222222334556'), i, 1) AS cd
      FROM words, unnest(generate_series(1, length(uw))) AS t(i)),
    nohw AS (
      SELECT w, uw, i, cd,
             lag(cd) OVER (PARTITION BY w ORDER BY i) AS prev_cd
      FROM chars WHERE cd NOT IN ('H', 'W')),
    dedup AS (
      SELECT w, uw, i, cd FROM nohw
      WHERE NOT (cd BETWEEN '1' AND '6' AND cd = prev_cd)),
    codes AS (
      SELECT w, uw,
             string_agg(cd, '' ORDER BY i)
               FILTER (WHERE cd BETWEEN '1' AND '6' AND i > 1) AS ds
      FROM dedup GROUP BY w, uw),
    sx AS (
      SELECT c.w, substr(c.uw, 1, 1) || substr(coalesce(c.ds, '') || '000', 1, 3) AS code,
             r.n_docs
      FROM codes c JOIN reach r ON r.w = c.w)
    SELECT code, CAST(count(*) AS BIGINT) AS n_words,
           string_agg(w, ',' ORDER BY w) AS words,
           CAST(sum(n_docs) AS BIGINT) AS doc_reach
    FROM sx GROUP BY code
    ORDER BY code
"""


@pq("soundex_phonetic_groups", _SOUNDEX_SQL)
def soundex_phonetic_groups(spark, sf_dir):
    """Phonetic blocking audit: every corpus word encoded with American
    Soundex (Spark's builtin vs the oracle's char-walk replay — two
    truly independent implementations of the algorithm), grouped by
    code with word lists and document reach. Scale: the vocabulary is
    tiny after the distinct (the group-by runs on words, not tokens);
    the token explode is the only corpus-sized pass and it feeds a
    partial-aggregated distinct."""
    d = _t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .distinct()
    )
    reach = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("n_docs"))
    sx = reach.select("w", "n_docs", F.soundex(F.upper("w")).alias("code"))
    return (
        sx.groupBy("code")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.array_join(F.array_sort(F.collect_list("w")), ",").alias("words"),
            F.sum("n_docs").cast("bigint").alias("doc_reach"),
        )
        .orderBy("code")
    )


# =====================================================================
# Block E — full Damerau-Levenshtein blocked pairs
# =====================================================================

# Preflight ceiling for the blocked-DL pair mass: ~2e8 pairs is ~1-2 h
# of Arrow-batched DP on 32 cores (bench_scale.py measures the per-pair
# throughput); beyond it the exact scan is the wrong tool.
_DL_MAX_PAIRS = 200_000_000

# DuckDB ships damerau_levenshtein() (FULL DL — 'CA'->'ABC' is 2, not
# the OSA 3); Spark has no counterpart, so the Spark side runs the
# textbook full-DL DP (alphabet last-occurrence table) as an
# Arrow-batched kernel over length-blocked vocabulary pairs. The
# blocked candidate mass is |V|²-bounded with |V| the corpus
# vocabulary — word-level linkage at 100 TB keeps |V| ~1e5-1e6, far
# below all-pairs doc space, and the block predicate (length ±1)
# prunes further before any kernel runs.
_DAMERAU_SQL = """
    WITH tok AS (
      SELECT DISTINCT doc_id, w
      FROM documents, unnest(string_split(text, ' ')) AS t(w)
      WHERE regexp_matches(w, '^[a-z]+$')),
    reach AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n_docs FROM tok GROUP BY w),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, a.n_docs AS docs_w1, b.n_docs AS docs_w2,
             CAST(damerau_levenshtein(a.w, b.w) AS BIGINT) AS dl
      FROM reach a JOIN reach b
        ON a.w < b.w AND abs(length(a.w) - length(b.w)) <= 1)
    SELECT w1, w2, dl, docs_w1, docs_w2
    FROM pairs WHERE dl <= 2
    ORDER BY w1, w2
"""


@pq("damerau_dl_blocked", _DAMERAU_SQL)
def damerau_dl_blocked(spark, sf_dir):
    """Full Damerau-Levenshtein (unrestricted transpositions) over
    length-blocked vocabulary pairs, vs DuckDB's builtin — the Spark
    side is the textbook DP with the alphabet last-occurrence table,
    Arrow-batched. Pure integers; the ≤2 cut is exact.

    NOTE: calling this query function runs the candidate-mass
    preflight EAGERLY (a persist + ~20-row length-histogram collect)
    before the lazy plan is returned — plan-audit/explain tooling that
    only wants the plan still triggers one corpus scan (same contract
    as setjoin_prefix_filter's preflight)."""
    import pandas as pd

    from etl_mini_spark.operators.text import full_damerau_levenshtein as dl

    def _dl_batch(w1s, w2s):
        return pd.Series([dl(x, y) for x, y in zip(w1s, w2s)])

    # the module-wide `from __future__ import annotations` stringifies
    # inline hints, which pandas_udf's type-hint inference rejects —
    # attach live objects instead
    _dl_batch.__annotations__ = {"w1s": pd.Series, "w2s": pd.Series, "return": pd.Series}
    dl_udf = F.pandas_udf(_dl_batch, "long")

    d = _t(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .distinct()
    )
    from etl_mini_spark.session import pin

    # reach is vocabulary-sized (tiny by the preflight's own guarantee)
    # and feeds the preflight histogram and BOTH self-join sides below;
    # pinned lazily, the histogram collect materializes it. Measured
    # against the persist this replaces: 6 jobs vs 4, 1.08 s vs 2.89 s
    # at sf0.1; unpinned: 5 jobs, 0.91 s
    reach = pin(tok.groupBy("w").agg(F.count("*").cast("bigint").alias("n_docs")), eager=False)
    # Candidate-mass preflight (same contract as the setjoin r15 fix,
    # sized by bench_scale.py's damerau_blocked_100k probe): length-±1
    # blocking concentrates mass in the common word lengths, so on a
    # natural-language vocabulary the blocked pair count grows ~|V|²
    # within the dominant buckets — ~1.4e9 pairs at |V|=100k, ~1e11 at
    # 1M, far past what the per-pair DP can score. The exact mass costs
    # one ~20-row length-histogram aggregate; raise with the swap rule
    # instead of silently launching a month-long stage.
    hist = {
        r["l"]: r["n"]
        for r in reach.groupBy(F.length("w").alias("l"))
        .agg(F.count("*").cast("bigint").alias("n"))
        .collect()
    }
    mass = sum(n * (n - 1) // 2 for n in hist.values()) + sum(
        hist[l] * hist.get(l + 1, 0) for l in hist
    )
    if mass > _DL_MAX_PAIRS:
        raise ValueError(
            f"damerau_dl_blocked: length-blocked candidate mass {mass:,} "
            f"exceeds {_DL_MAX_PAIRS:,} — exact DL cannot scan this "
            "vocabulary; generate candidates with dedup_minhash_lsh / "
            "dedup_ngram_jaccard and score ONLY surviving pairs with the "
            "DL kernel (see bench_scale.py damerau_blocked_100k)"
        )
    # Equi block key BEFORE the non-equi predicate (r14 advice): every
    # |len1-len2| <= 1 pair meets at exactly ONE key, bk = len(w1) —
    # the w2 side emits {l2-1, l2, l2+1} and the join requires
    # l1 == bk, so the candidate join is a SHUFFLED EQUI join on the
    # length key, not a BroadcastNestedLoopJoin over the full
    # vocabulary. Per-pair mass is unchanged (the semantics IS
    # length-±1 blocking, same as the oracle) but at 100 TB the work
    # distributes by length bucket instead of scanning |V| per row;
    # first-char blocking would be cheaper still but is NOT
    # DL-exact ("ab"/"ba" is a distance-1 transposition), so it is
    # deliberately not used.
    a = reach.select(
        F.col("w").alias("w1"), F.col("n_docs").alias("docs_w1"),
        F.length("w").alias("l1"),
    )
    b = reach.select(
        F.col("w").alias("w2"), F.col("n_docs").alias("docs_w2"),
        F.explode(
            F.array(F.length("w") - 1, F.length("w"), F.length("w") + 1)
        ).alias("bk"),
    )
    pairs = a.join(
        b,
        (F.col("l1") == F.col("bk")) & (F.col("w1") < F.col("w2")),
    )
    # asNondeterministic: the dl <= 2 filter otherwise gets pushed below
    # the projection and Catalyst duplicates the UDF into two
    # ArrowEvalPython nodes — every blocked pair paying the O(len²) DP
    # twice (guide §4.4); the flag pins a single evaluation.
    return (
        pairs.withColumn("dl", dl_udf.asNondeterministic()("w1", "w2"))
        .filter(F.col("dl") <= 2)
        .select("w1", "w2", "dl", "docs_w1", "docs_w2")
        .orderBy("w1", "w2")
    )


# =====================================================================
# Block F — Cronbach's alpha (internal consistency, k=4 items)
# =====================================================================

# Subjects = orders with ≥4 lineitems; item j = quantity of the j-th
# line by (linenumber, partkey, quantity) order, j = 1..4 — quantity
# is in the key because (orderkey, linenumber, partkey) is NOT unique
# in the testdata (7 dup triples at sf0.01) and a value-ambiguous tie
# would make the item assignment engine-dependent. Quantities are exact
# small integers (1..50), so every sum of squares is BIGINT-exact and
# n cancels out of the variance ratio: alpha = k/(k-1) * (1 - NUM/DEN)
# with NUM = Σ_j (n·ΣXj² − (ΣXj)²) and DEN = n·ΣT² − (ΣT)² — ONE
# float division at the end. Worst-case magnitudes (n ≤ 1.5e5 orders,
# X ≤ 50, T ≤ 200) keep every product under 2^53, let alone 2^63.
_CRONBACH_SQL = """
    WITH lines AS (
      SELECT l_orderkey AS o, CAST(l_quantity AS BIGINT) AS x,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY l_linenumber, l_partkey, l_quantity) AS j
      FROM lineitem),
    wide AS (
      SELECT o,
             max(CASE WHEN j = 1 THEN x END) AS x1,
             max(CASE WHEN j = 2 THEN x END) AS x2,
             max(CASE WHEN j = 3 THEN x END) AS x3,
             max(CASE WHEN j = 4 THEN x END) AS x4
      FROM lines WHERE j <= 4 GROUP BY o
      HAVING count(*) = 4),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(x1) AS s1, sum(x1 * x1) AS q1,
             sum(x2) AS s2, sum(x2 * x2) AS q2,
             sum(x3) AS s3, sum(x3 * x3) AS q3,
             sum(x4) AS s4, sum(x4 * x4) AS q4,
             sum(x1 + x2 + x3 + x4) AS st,
             sum((x1 + x2 + x3 + x4) * (x1 + x2 + x3 + x4)) AS qt
      FROM wide)
    SELECT n,
           CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
              + (n * q3 - s3 * s3) + (n * q4 - s4 * s4) AS BIGINT) AS num,
           CAST(n * qt - st * st AS BIGINT) AS den,
           floor((4.0 / 3.0) * (1.0 - CAST((n * q1 - s1 * s1) + (n * q2 - s2 * s2)
                + (n * q3 - s3 * s3) + (n * q4 - s4 * s4) AS DOUBLE)
                / CAST(n * qt - st * st AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS alpha
    FROM sums
"""


@pq("cronbach_alpha_items", _CRONBACH_SQL)
def cronbach_alpha_items(spark, sf_dir):
    """Cronbach's alpha over 4 item scores per order: one corpus pass
    pivots the first four lines per order (window + conditional agg),
    one scalar aggregate produces every sum of squares, and the only
    float ops are the final ratio and display pin. Plan at scale: hash
    agg on orderkey, then a single-row reduce — no sort, no second
    scan."""
    li = _t(spark, sf_dir, "lineitem")
    lines = li.select(
        F.col("l_orderkey").alias("o"),
        F.col("l_quantity").cast("bigint").alias("x"),
        F.row_number().over(
            Window.partitionBy("l_orderkey")
            .orderBy("l_linenumber", "l_partkey", "l_quantity")
        ).alias("j"),
    ).filter(F.col("j") <= 4)
    wide = (
        lines.groupBy("o")
        .agg(
            F.max(F.when(F.col("j") == 1, F.col("x"))).alias("x1"),
            F.max(F.when(F.col("j") == 2, F.col("x"))).alias("x2"),
            F.max(F.when(F.col("j") == 3, F.col("x"))).alias("x3"),
            F.max(F.when(F.col("j") == 4, F.col("x"))).alias("x4"),
            F.count("*").alias("m"),
        )
        .filter(F.col("m") == 4)
        .withColumn("t", F.col("x1") + F.col("x2") + F.col("x3") + F.col("x4"))
    )
    sums = wide.agg(
        F.count("*").cast("bigint").alias("n"),
        *[f for j in (1, 2, 3, 4) for f in (
            F.sum(f"x{j}").alias(f"s{j}"),
            F.sum(F.col(f"x{j}") * F.col(f"x{j}")).alias(f"q{j}"),
        )],
        F.sum("t").alias("st"), F.sum(F.col("t") * F.col("t")).alias("qt"),
    )
    num = sum(
        (F.col("n") * F.col(f"q{j}") - F.col(f"s{j}") * F.col(f"s{j}"))
        for j in (1, 2, 3, 4)
    )
    den = F.col("n") * F.col("qt") - F.col("st") * F.col("st")
    return sums.select(
        "n", num.cast("bigint").alias("num"), den.cast("bigint").alias("den"),
        half_up((4.0 / 3.0) * (1.0 - num.cast("double") / den.cast("double"))).alias("alpha"),
    )


# =====================================================================
# Block G — one-way ICC(1) (intraclass correlation, unbalanced)
# =====================================================================

# Groups = parts with ≥2 lines, ratings = quantity (exact 1..50).
# SSW/SSB need Σ_g Sg²/ng — a per-group division, pre-rounded to
# BIGINT nanos per the 9dp discipline (Sg² ≤ (30·50)² → ·1e9 stays
# under 2^53 for the IEEE path and the nanos SUM is bounded by
# N·2500·1e9 < 2^63). MSB/MSW/k0/ICC are the textbook one-way
# random-effects estimates; every division is a final float op in the
# same order on both engines.
_ICC_SQL = """
    WITH g AS (
      SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS ng,
             sum(CAST(l_quantity AS BIGINT)) AS sg,
             sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS qg
      FROM lineitem GROUP BY 1 HAVING count(*) >= 2),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(ng) AS BIGINT) AS nn,
             CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
             CAST(sum(ng * ng) AS BIGINT) AS nsq,
             CAST(sum(CAST(floor(CAST(sg * sg AS DOUBLE) * 1000000000 / ng + 0.5)
                  AS BIGINT)) AS BIGINT) AS ratio_nanos
      FROM g)
    SELECT n_groups, nn,
           floor((CAST(ratio_nanos AS DOUBLE) / 1000000000
                  - CAST(s AS DOUBLE) * s / nn) / (n_groups - 1)
                 * 1000000 + 0.5) / 1000000 AS msb,
           floor((CAST(q AS DOUBLE) - CAST(ratio_nanos AS DOUBLE) / 1000000000)
                 / (nn - n_groups) * 1000000 + 0.5) / 1000000 AS msw,
           floor((CAST(nn AS DOUBLE) - CAST(nsq AS DOUBLE) / nn) / (n_groups - 1)
                 * 1000000 + 0.5) / 1000000 AS k0,
           floor(((CAST(ratio_nanos AS DOUBLE) / 1000000000
                   - CAST(s AS DOUBLE) * s / nn) / (n_groups - 1)
                  - (CAST(q AS DOUBLE) - CAST(ratio_nanos AS DOUBLE) / 1000000000)
                    / (nn - n_groups))
                 / ((CAST(ratio_nanos AS DOUBLE) / 1000000000
                     - CAST(s AS DOUBLE) * s / nn) / (n_groups - 1)
                    + (((CAST(nn AS DOUBLE) - CAST(nsq AS DOUBLE) / nn)
                        / (n_groups - 1)) - 1.0)
                      * ((CAST(q AS DOUBLE) - CAST(ratio_nanos AS DOUBLE) / 1000000000)
                         / (nn - n_groups)))
                 * 1000000 + 0.5) / 1000000 AS icc1
    FROM tot
"""


@pq("icc_oneway_quantity", _ICC_SQL)
def icc_oneway_quantity(spark, sf_dir):
    """One-way random-effects ICC(1): per-part rating consistency of
    quantities. One hash agg to per-group sums, one scalar reduce —
    identical float op order on both engines for MSB, MSW, the
    unbalanced k0 and the ICC itself."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("bigint")
    g = (
        li.groupBy(F.col("l_partkey").alias("p"))
        .agg(
            F.count("*").cast("bigint").alias("ng"),
            F.sum(x).alias("sg"), F.sum(x * x).alias("qg"),
        )
        .filter(F.col("ng") >= 2)
    )
    tot = g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("ng").cast("bigint").alias("nn"),
        F.sum("sg").cast("bigint").alias("s"),
        F.sum("qg").cast("bigint").alias("q"),
        F.sum(F.col("ng") * F.col("ng")).cast("bigint").alias("nsq"),
        F.sum(
            F.floor((F.col("sg") * F.col("sg")).cast("double") * 1000000000
                    / F.col("ng") + F.lit(0.5)).cast("bigint")
        ).cast("bigint").alias("ratio_nanos"),
    )
    ratio = F.col("ratio_nanos").cast("double") / 1000000000
    msb = (ratio - F.col("s").cast("double") * F.col("s") / F.col("nn")) / (
        F.col("n_groups") - 1
    )
    msw = (F.col("q").cast("double") - ratio) / (F.col("nn") - F.col("n_groups"))
    k0 = (F.col("nn").cast("double") - F.col("nsq").cast("double") / F.col("nn")) / (
        F.col("n_groups") - 1
    )
    return tot.select(
        "n_groups", "nn",
        half_up(msb).alias("msb"), half_up(msw).alias("msw"), half_up(k0).alias("k0"),
        half_up((msb - msw) / (msb + (k0 - 1.0) * msw)).alias("icc1"),
    )


# =====================================================================
# Block H — Krippendorff's alpha (nominal, returnflag codings)
# =====================================================================

# Units = orders with ≥2 lines; codings = l_returnflag (3 categories).
# Do's per-unit term Σ_c n_uc(m_u − n_uc)/(m_u − 1) is pre-rounded to
# BIGINT nanos and summed exactly; De's Σ_c n_c(N − n_c) is pure
# BIGINT. alpha = 1 − (N−1)·(Do_nanos/1e9)/De with the identical final
# float sequence on both engines.
_KRIPP_SQL = """
    WITH lines AS (
      SELECT l_orderkey AS u, l_returnflag AS c FROM lineitem),
    mu AS (
      SELECT u, CAST(count(*) AS BIGINT) AS m FROM lines GROUP BY 1
      HAVING count(*) >= 2),
    nuc AS (
      SELECT l.u, l.c, CAST(count(*) AS BIGINT) AS n_uc, any_value(m.m) AS m
      FROM lines l JOIN mu m ON m.u = l.u
      GROUP BY l.u, l.c),
    do_u AS (
      SELECT u,
             CAST(floor(CAST(sum(n_uc * (m - n_uc)) AS DOUBLE) * 1000000000
                        / (any_value(m) - 1) + 0.5) AS BIGINT) AS dn
      FROM nuc GROUP BY u),
    marg AS (
      SELECT c, CAST(sum(n_uc) AS BIGINT) AS n_c FROM nuc GROUP BY c),
    tot AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM mu) AS n_units,
             (SELECT CAST(sum(m) AS BIGINT) FROM mu) AS n_vals,
             (SELECT CAST(sum(dn) AS BIGINT) FROM do_u) AS do_nanos,
             (SELECT CAST(sum(n_c * ((SELECT sum(m) FROM mu) - n_c)) AS BIGINT)
              FROM marg) AS de_int)
    SELECT n_units, n_vals, do_nanos, de_int,
           floor((1.0 - (CAST(n_vals AS DOUBLE) - 1.0)
                        * (CAST(do_nanos AS DOUBLE) / 1000000000)
                        / CAST(de_int AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS alpha
    FROM tot
"""


@pq("krippendorff_alpha_nominal", _KRIPP_SQL)
def krippendorff_alpha_nominal(spark, sf_dir):
    """Krippendorff's nominal alpha over per-order returnflag codings:
    two hash aggs (unit sizes, unit×category counts), a category
    marginal, and a scalar combine. The per-unit observed-disagreement
    term is the only division before the end and is 9dp-pre-rounded to
    BIGINT nanos on both engines."""
    from etl_mini_spark.session import pin

    li = _t(spark, sf_dir, "lineitem")
    lines = li.select(F.col("l_orderkey").alias("u"), F.col("l_returnflag").alias("c"))
    # nuc (unit x category counts + the unit size m) is the working set
    # every downstream aggregate reads (do_u, marg, the unit totals).
    # Build it in ONE lineitem scan: the count window on u replaces the
    # old mu-aggregate join-back (same rows -- m >= 2 filters
    # identically), and hash(u) clustering satisfies the (u, c)
    # groupBy, so window + aggregate share one exchange.
    # unpinned: 1.52 s vs 1.14 s at sf0.1
    nuc = pin(
        lines.withColumn("m", F.count("*").over(Window.partitionBy("u")).cast("bigint"))
        .filter("m >= 2")
        .groupBy("u", "c")
        .agg(F.count("*").cast("bigint").alias("n_uc"), F.any_value("m").alias("m"))
    )
    do_u = nuc.groupBy("u").agg(
        F.floor(
            F.sum(F.col("n_uc") * (F.col("m") - F.col("n_uc"))).cast("double")
            * 1000000000 / (F.any_value("m") - 1) + F.lit(0.5)
        ).cast("bigint").alias("dn")
    )
    marg = nuc.groupBy("c").agg(F.sum("n_uc").cast("bigint").alias("n_c"))
    # unit totals from pinned nuc (one row per unit via the m carried on
    # every (u, c) cell): n_units = units, n_vals = sum of unit sizes
    t1 = (
        nuc.groupBy("u").agg(F.any_value("m").alias("m"))
        .agg(
            F.count("*").cast("bigint").alias("n_units"),
            F.sum("m").cast("bigint").alias("n_vals"),
        )
    )
    t2 = do_u.agg(F.sum("dn").cast("bigint").alias("do_nanos"))
    t3 = marg.crossJoin(F.broadcast(t1.select("n_vals").withColumnRenamed("n_vals", "nv"))).agg(
        F.sum(F.col("n_c") * (F.col("nv") - F.col("n_c"))).cast("bigint").alias("de_int")
    )
    tot = t1.crossJoin(F.broadcast(t2)).crossJoin(F.broadcast(t3))
    return tot.select(
        "n_units", "n_vals", "do_nanos", "de_int",
        half_up(
            1.0 - (F.col("n_vals").cast("double") - 1.0)
            * (F.col("do_nanos").cast("double") / 1000000000)
            / F.col("de_int").cast("double")
        ).alias("alpha"),
    )


# =====================================================================
# Block I — deterministic RANSAC line fit (pure-integer inlier test)
# =====================================================================

# Points: the l_orderkey % 97 = 11 subset (bounded, ~1% of lineitem),
# rescaled to COMPARABLE integer units so the tolerance band actually
# discriminates (x = quantity·100 ∈ [100, 5000], y = dollars // 20
# ∈ [45, 5250] — with raw units the y-range dominates every line's
# direction and all points are inliers of everything). Candidate
# models: the 45 pairs of the 10 seeds with the smallest md5 keys.
# Inlier test: point-to-line distance ≤ T=250 without sqrt or division
# — cross² ≤ T²·L² with cross = dx·(y−y1) − dy·(x−x1), all BIGINT
# (cross² ≤ ~2.6e15, T²L² ≤ ~3.3e12, both < 2^63 by the unit bounds).
# Best model = max inliers, ties to the smallest seed pair.
_RANSAC_SQL = """
    WITH pts AS (
      SELECT CAST(l_quantity AS BIGINT) * 100 AS x,
             CAST(floor(l_extendedprice) AS BIGINT) // 20 AS y,
             l_orderkey AS ok, l_linenumber AS ln
      FROM lineitem WHERE l_orderkey % 97 = 11),
    seeds AS (
      SELECT x, y, row_number() OVER (
               ORDER BY substr(md5(CAST(ok AS VARCHAR) || ':' || CAST(ln AS VARCHAR)), 1, 8),
                        ok, ln, x, y) AS r
      FROM pts QUALIFY r <= 10),
    cand AS (
      SELECT a.r AS i, b.r AS j, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
             (b.x - a.x) AS dx, (b.y - a.y) AS dy,
             (b.x - a.x) * (b.x - a.x) + (b.y - a.y) * (b.y - a.y) AS l2
      FROM seeds a JOIN seeds b ON a.r < b.r
      WHERE NOT (a.x = b.x AND a.y = b.y)),
    scored AS (
      SELECT c.i, c.j, c.x1, c.y1, c.x2, c.y2,
             CAST(sum(CASE WHEN
               (c.dx * (p.y - c.y1) - c.dy * (p.x - c.x1))
             * (c.dx * (p.y - c.y1) - c.dy * (p.x - c.x1))
               <= 250 * 250 * c.l2 THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
             CAST(count(*) AS BIGINT) AS n_points
      FROM cand c CROSS JOIN pts p
      GROUP BY c.i, c.j, c.x1, c.y1, c.x2, c.y2)
    SELECT i, j, x1, y1, x2, y2, n_inliers, n_points
    FROM scored
    ORDER BY n_inliers DESC, i, j
    LIMIT 1
"""


@pq("ransac_integer_line", _RANSAC_SQL)
def ransac_integer_line(spark, sf_dir):
    """RANSAC line consensus with a pure-integer inlier test (cross² ≤
    T²·L², no sqrt/division ever decides membership) over a bounded
    deterministic sample; 45 candidate models broadcast against the
    point set, one hash agg scores them all in a single pass. At scale
    the candidate side stays O(seeds²) and broadcastable while the
    point scan parallelizes freely."""
    li = _t(spark, sf_dir, "lineitem")
    pts = li.filter(F.col("l_orderkey") % 97 == 11).select(
        (F.col("l_quantity").cast("bigint") * 100).alias("x"),
        F.floor(F.floor("l_extendedprice").cast("bigint") / 20).cast("bigint").alias("y"),
        F.col("l_orderkey").alias("ok"), F.col("l_linenumber").alias("ln"),
    )
    sk = F.substring(
        F.md5(F.concat(F.col("ok").cast("string"), F.lit(":"), F.col("ln").cast("string"))),
        1, 8)
    seeds = (
        pts.withColumn("r", F.row_number().over(Window.orderBy(sk, "ok", "ln", "x", "y")))
        .filter(F.col("r") <= 10)
        .select("x", "y", "r")
    )
    a, b = seeds.alias("a"), seeds.alias("b")
    cand = (
        a.join(b, F.col("a.r") < F.col("b.r"))
        .filter(~((F.col("a.x") == F.col("b.x")) & (F.col("a.y") == F.col("b.y"))))
        .select(
            F.col("a.r").alias("i"), F.col("b.r").alias("j"),
            F.col("a.x").alias("x1"), F.col("a.y").alias("y1"),
            F.col("b.x").alias("x2"), F.col("b.y").alias("y2"),
            (F.col("b.x") - F.col("a.x")).alias("dx"),
            (F.col("b.y") - F.col("a.y")).alias("dy"),
        )
        .withColumn("l2", F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
    )
    cross = F.col("dx") * (F.col("y") - F.col("y1")) - F.col("dy") * (F.col("x") - F.col("x1"))
    scored = (
        pts.crossJoin(F.broadcast(cand))
        .groupBy("i", "j", "x1", "y1", "x2", "y2")
        .agg(
            F.sum(F.when(cross * cross <= F.lit(250 * 250) * F.col("l2"), 1)
                  .otherwise(0)).cast("bigint").alias("n_inliers"),
            F.count("*").cast("bigint").alias("n_points"),
        )
    )
    return scored.orderBy(F.desc("n_inliers"), "i", "j").limit(1)


# =====================================================================
# Block J — geometric adstock carryover (exact integer halving)
# =====================================================================

# Per event_type daily spend cents; adstock a_t = x_t + a_{t-1} // 2 —
# an integer-exact half-life-one-day carryover, so the WHOLE recursion
# is BIGINT with no float anywhere (a sharper discipline than the 9dp
# pre-round: there is nothing to round). Spark runs one Arrow pass per
# type; the oracle replays the recursion as a recursive CTE.
_ADSTOCK_SQL = """
    WITH RECURSIVE daily AS (
      SELECT event_type AS et, strftime(ts, '%Y-%m-%d') AS d,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    ser AS (
      SELECT et, d, c,
             row_number() OVER (PARTITION BY et ORDER BY d) AS i
      FROM daily),
    rec AS (
      SELECT et, i, d, c, c AS adstock FROM ser WHERE i = 1
      UNION ALL
      SELECT s.et, s.i, s.d, s.c, s.c + r.adstock // 2
      FROM rec r JOIN ser s ON s.et = r.et AND s.i = r.i + 1)
    SELECT et, d, c AS spend_cents, adstock AS adstock_cents
    FROM rec ORDER BY et, d
"""


@pq("adstock_geometric_decay", _ADSTOCK_SQL)
def adstock_geometric_decay(spark, sf_dir):
    """Geometric adstock (integer-halving carryover) per event type:
    the day agg is the only corpus-sized pass; the recursion runs over
    the calendar-bounded per-type series as one Arrow pass per group
    (the RSI/Holt sequential-state discipline, here with zero float
    ops — the state is a BIGINT)."""
    import pandas as pd

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("et"),
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("c")
    )

    def adstock(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        a = 0
        out = []
        for first, (d, c) in zip([True] + [False] * (len(pdf) - 1),
                                 zip(pdf["d"], pdf["c"])):
            a = int(c) if first else int(c) + a // 2
            out.append((pdf["et"][0], d, int(c), a))
        return pd.DataFrame(out, columns=["et", "d", "spend_cents", "adstock_cents"])

    return (
        daily.groupBy("et")
        .applyInPandas(adstock,
                       schema="et string, d string, spend_cents long, adstock_cents long")
        .orderBy("et", "d")
    )


# =====================================================================
# Block K — MMR diverse top-k (greedy maximal marginal relevance)
# =====================================================================

# Pool = documents; relevance = md5-derived BIGINT in [0, 1e6);
# similarity to the selected set is the binary same-source flag.
# Step score = 7·rel − 3,000,000·sim (λ = 0.7 over rel scaled 1e6) —
# pure integers. Each greedy argmax is decided by a PACKED BIGINT key
# (score shifted non-negative)·2^24 + (2^24−1−doc_id), so "max score,
# ties to smallest doc_id" is a plain max() on both engines (DuckDB
# 1.0 lacks composite arg_max). The oracle unrolls the k=10 greedy
# steps as chained CTEs — no recursion, no procedural SQL.
_MMR_POOL_SQL = """
    pool AS (
      SELECT doc_id, source,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mmr'), 1, 15))
                  AS BIGINT) % 1000000 AS rel
      FROM documents)
"""


def _mmr_oracle(k: int = 10) -> str:
    # every stage is MATERIALIZED: DuckDB 1.0 inlines plain CTEs, and
    # each s{t} references s{t-1} three times (sim subquery, exclusion,
    # union) — inlined, the pool would be scanned 3^k times
    parts = ["WITH " + _MMR_POOL_SQL.strip().replace("pool AS (", "pool AS MATERIALIZED (", 1)]
    prev = None
    for t in range(1, k + 1):
        sim = ("CASE WHEN source IN (SELECT source FROM {p}) THEN 1 ELSE 0 END"
               .format(p=prev) if prev else "0")
        excl = f"WHERE doc_id NOT IN (SELECT doc_id FROM {prev})" if prev else ""
        parts.append(
            f"p{t} AS (SELECT max((7 * rel - 3000000 * {sim} + 3000000) * 16777216"
            f" + (16777215 - doc_id)) AS pk FROM pool {excl})"
        )
        pick = (
            f"SELECT {t} AS step, CAST(16777215 - pk % 16777216 AS BIGINT) AS doc_id,"
            f" CAST(pk // 16777216 - 3000000 AS BIGINT) AS score FROM p{t}"
        )
        if prev:
            parts.append(f"t{t} AS ({pick})")
            parts.append(
                f"s{t} AS MATERIALIZED (SELECT q.step, q.doc_id, p.source, q.score"
                f" FROM t{t} q JOIN pool p USING (doc_id)"
                f" UNION ALL SELECT * FROM {prev})"
            )
        else:
            parts.append(
                f"s{t} AS MATERIALIZED (SELECT q.step, q.doc_id, p.source, q.score"
                f" FROM ({pick}) q JOIN pool p USING (doc_id))"
            )
        prev = f"s{t}"
    return (",\n    ".join(parts)
            + f"\n    SELECT step, doc_id, source, score FROM {prev} ORDER BY step")


@pq("mmr_diverse_topk", _mmr_oracle(10))
def mmr_diverse_topk(spark, sf_dir):
    """Greedy MMR selection of 10 docs: each step collects ONE packed
    BIGINT (a scalar agg — the repo's bounded-collect discipline), so
    the driver holds k rows total while every scoring pass stays
    distributed. At corpus scale each step is one scan + one reduce;
    the selected set enters the next step as broadcast literals."""
    d = _t(spark, sf_dir, "documents")
    pool = d.select(
        "doc_id", "source",
        (F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                           F.lit(":mmr"))), 1, 15), 16, 10)
         .cast("long") % 1000000).alias("rel"),
    )
    selected: list[tuple[int, str, int]] = []  # (doc_id, source, score)
    for step in range(1, 11):
        sel_ids = [s[0] for s in selected]
        sel_srcs = sorted({s[1] for s in selected})
        base = pool.filter(~F.col("doc_id").isin(sel_ids)) if sel_ids else pool
        sim = (F.when(F.col("source").isin(sel_srcs), 1).otherwise(0)
               if sel_srcs else F.lit(0))
        packed = (7 * F.col("rel") - 3000000 * sim + 3000000) * 16777216 + (
            16777215 - F.col("doc_id")
        )
        pk = base.agg(F.max(packed)).first()[0]
        doc_id = 16777215 - pk % 16777216
        score = pk // 16777216 - 3000000
        src = pool.filter(F.col("doc_id") == doc_id).select("source").first()[0]
        selected.append((doc_id, src, score))
    return spark.createDataFrame(
        [(i + 1, s[0], s[1], s[2]) for i, s in enumerate(selected)],
        "step int, doc_id long, source string, score long",
    ).orderBy("step")


# =====================================================================
# Block L — single-source BFS on a formulaic circulant graph
# =====================================================================

# Nodes = the distinct event users (indexed 0..n-1 by user_id order);
# edges i ↔ (i ± s) mod n for s ∈ {1,3,9,27,81} — formulaic, so
# neighbor expansion is arithmetic, no edge table is ever
# materialized. BFS from node 0; output the exact distance histogram.
# Spark iterates frontier supersteps (≤ ~n/162 + log rounds, each
# localCheckpoint'ed — the HITS lineage discipline); the oracle runs
# the whole BFS as ONE recursive CTE row per level carrying frontier
# and visited as lists with lambda-filtered arithmetic neighbors.
_BFS_SQL = """
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT user_id FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    bfs AS (
      SELECT 0 AS d, [CAST(0 AS BIGINT)] AS frontier, [CAST(0 AS BIGINT)] AS visited
      UNION ALL
      SELECT d + 1, nf, list_concat(visited, nf) FROM (
        SELECT b.d, b.visited,
               list_sort(list_filter(
                 list_distinct(flatten(list_transform(b.frontier, x -> [
                   (x + 1) % nn.n, ((x - 1) % nn.n + nn.n) % nn.n,
                   (x + 3) % nn.n, ((x - 3) % nn.n + nn.n) % nn.n,
                   (x + 9) % nn.n, ((x - 9) % nn.n + nn.n) % nn.n,
                   (x + 27) % nn.n, ((x - 27) % nn.n + nn.n) % nn.n,
                   (x + 81) % nn.n, ((x - 81) % nn.n + nn.n) % nn.n]))),
                 y -> NOT list_contains(b.visited, y))) AS nf
        FROM bfs b, nn) t
      WHERE len(nf) > 0)
    SELECT d, CAST(len(frontier) AS BIGINT) AS n_nodes
    FROM bfs ORDER BY d
"""


@pq("graph_bfs_circulant", _BFS_SQL)
def graph_bfs_circulant(spark, sf_dir):
    """Frontier BFS over the {±1,±3,±9,±27,±81} circulant on the user
    set (operators/graph.bfs_circulant): each superstep expands the
    frontier arithmetically (explode of ten mod-n expressions — no edge
    table, no join to a neighbor list) and anti-joins the previous two
    levels. Superstep count is the graph diameter (~n/162), and each
    step's work is O(frontier) — the textbook scalable BFS shape."""
    n = _t(spark, sf_dir, "events").select("user_id").distinct().count()
    return (
        bfs_circulant(n, [1, 3, 9, 27, 81])
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("d")
    )


# =====================================================================
# Block M — streaming state-eviction batch twin (watermark GC audit)
# =====================================================================

# The stateful-session GC rule replayed as a batch differential: with
# 15-min triggers, a 10-min watermark delay and a 30-min session gap,
# a session's state is evicted at the FIRST trigger whose watermark
# (running max event time − 10 min) exceeds session_end + gap. The
# watermark is a nondecreasing step function over the calendar-bounded
# trigger sequence, so the lookup is an as-of join against its STRICT
# increase points (ties would otherwise make "the" trigger ambiguous):
# the last step with wm ≤ threshold, then the NEXT step is the
# eviction trigger. Spark runs its own union-sort as-of operator,
# day-bucketed so no single task ever owns the whole session history;
# DuckDB runs its native ASOF JOIN — two independent engines' as-of
# implementations checking each other.
_EVICTION_SQL = """
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts) AS t,
             epoch_us(ts) // 900000000 AS trig
      FROM events),
    trigmax AS (
      SELECT trig, max(t) AS mx FROM ev GROUP BY 1),
    wm AS (
      SELECT trig, max(mx) OVER (ORDER BY trig) - 600000000 AS wm FROM trigmax),
    wmp AS (
      SELECT trig, wm, lag(wm) OVER (ORDER BY trig) AS prev FROM wm),
    strict AS (
      SELECT trig, wm, row_number() OVER (ORDER BY trig) AS j
      FROM wmp WHERE prev IS NULL OR wm > prev),
    sess AS (
      SELECT user_id, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
                       > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM ev),
    sid AS (
      SELECT user_id, t,
             sum(brk) OVER (PARTITION BY user_id ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS s
      FROM sess),
    sessions AS (
      SELECT user_id, s, max(t) + 1800000000 AS thr
      FROM sid GROUP BY user_id, s),
    hit AS (
      SELECT se.user_id, se.s, st.j
      FROM sessions se ASOF LEFT JOIN strict st ON se.thr >= st.wm),
    evict AS (
      SELECT h.user_id, h.s, nx.trig AS evict_trig
      FROM hit h JOIN strict nx ON nx.j = coalesce(h.j, 0) + 1)
    SELECT evict_trig, CAST(count(*) AS BIGINT) AS n_evicted
    FROM evict GROUP BY 1 ORDER BY evict_trig
"""


@pq("stream_eviction_twin", _EVICTION_SQL)
def stream_eviction_twin(spark, sf_dir):
    """Watermark state-eviction audit: sessions (30-min gap) against
    the 15-min-trigger watermark step function (10-min delay). The
    as-of lookup runs on the repo's union-sort operator with 1-day
    bucketing (a hot key spans history/86400s tasks, row-identical to
    the plain path); the strict-increase step table it probes is
    calendar-bounded. Sessions that outlive the data's watermark are
    correctly absent (their state would still be resident)."""
    from etl_mini_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events")
    ev = e.select(
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
    # strict is calendar-bounded (one row per 15-min trigger with a
    # watermark advance) and feeds BOTH the as-of probe side and the
    # next-trigger lookup
    strict = (
        wm.withColumn("prev", F.lag("wm").over(Window.orderBy("trig")))
        .filter(F.col("prev").isNull() | (F.col("wm") > F.col("prev")))
        .withColumn("j", F.row_number().over(Window.orderBy("trig")))
        .select("trig", "wm", "j")
    )
    wu = Window.partitionBy("user_id").orderBy("t", "event_id")
    sid = ev.withColumn(
        "brk",
        F.when(F.col("t") - F.lag("t").over(wu) > 1800000000, 1).otherwise(0),
    ).withColumn("s", F.sum("brk").over(wu.rowsBetween(Window.unboundedPreceding, 0)))
    sessions = (
        sid.groupBy("user_id", "s")
        .agg((F.max("t") + 1800000000).alias("thr_us"))
        .withColumn("k", F.lit(1))
        .withColumn("thr_ts", F.timestamp_micros(F.col("thr_us")))
    )
    probe = strict.withColumn("k", F.lit(1)).withColumn(
        "wm_ts", F.timestamp_micros(F.col("wm"))
    )
    hit = asof_join(
        sessions, probe.select("k", "wm_ts", "j"),
        on=["k"], left_time="thr_ts", right_time="wm_ts",
        right_cols=["j"], tiebreak="j", bucket_seconds=86400,
    )
    nx = strict.select(F.col("j").alias("jn"), F.col("trig").alias("evict_trig"))
    evict = hit.withColumn("jn", F.coalesce(F.col("j"), F.lit(0)) + 1).join(
        F.broadcast(nx), "jn"
    )
    return (
        evict.groupBy("evict_trig")
        .agg(F.count("*").cast("bigint").alias("n_evicted"))
        .orderBy("evict_trig")
    )


# =====================================================================
# Block N — seasonal Mann-Kendall trend (monthly revenue, 12 seasons)
# =====================================================================

# Season = calendar month, observations = that month's revenue cents
# across years (6-7 points per season over the 1995-2001 span). S_m is
# the exact pair-sign sum within each season; the variance numerator
# VAR18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) stays a BIGINT (the /18 and
# the sqrt happen once, in the total row's z with continuity
# correction). Output: 12 season rows + season 0 = the combined test.
_SMK_SQL = """
    WITH monthly AS (
      SELECT CAST(strftime(o_orderdate, '%m') AS INT) AS season,
             CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    s AS (
      SELECT a.season,
             CAST(sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM monthly a JOIN monthly b
        ON b.season = a.season AND b.yr > a.yr
      GROUP BY a.season),
    nsz AS (
      SELECT season, CAST(count(*) AS BIGINT) AS n_years FROM monthly GROUP BY 1),
    ties AS (
      SELECT season,
             CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie18
      FROM (SELECT season, CAST(count(*) AS BIGINT) AS t
            FROM monthly GROUP BY season, c) GROUP BY season),
    per AS (
      SELECT n.season, n.n_years, s.s_stat,
             CAST(n.n_years * (n.n_years - 1) * (2 * n.n_years + 5)
                  - t.tie18 AS BIGINT) AS var18
      FROM nsz n JOIN s USING (season) JOIN ties t USING (season)),
    tot AS (
      SELECT CAST(0 AS INT) AS season, CAST(sum(n_years) AS BIGINT) AS n_years,
             CAST(sum(s_stat) AS BIGINT) AS s_stat,
             CAST(sum(var18) AS BIGINT) AS var18
      FROM per)
    SELECT season, n_years, s_stat, var18, CAST(NULL AS DOUBLE) AS z FROM per
    UNION ALL
    SELECT season, n_years, s_stat, var18,
           floor((CAST(s_stat AS DOUBLE)
                  - CASE WHEN s_stat > 0 THEN 1 WHEN s_stat < 0 THEN -1 ELSE 0 END)
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0) * 1000000 + 0.5) / 1000000 AS z
    FROM tot
    ORDER BY season
"""


@pq("seasonal_mann_kendall", _SMK_SQL)
def seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall: per-month pair-sign sums across years
    (exact integers; the within-season self-join is ≤ C(7,2) pairs per
    season), tie-corrected variance numerators kept as BIGINTs, one
    continuity-corrected z in the season-0 total row. The only corpus
    pass is the month agg."""
    o = _t(spark, sf_dir, "orders")
    from etl_mini_spark.session import pin

    # ~84 rows; unpinned: 0.56 s vs 0.49 s at sf0.1 (a pin on per as
    # well did not pay)
    monthly = pin(o.groupBy(
        F.month("o_orderdate").alias("season"),
        F.year("o_orderdate").alias("yr"),
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint").alias("c")
    ))
    a, b = monthly.alias("a"), monthly.alias("b")
    s = (
        a.join(b, (F.col("b.season") == F.col("a.season")) & (F.col("b.yr") > F.col("a.yr")))
        .groupBy(F.col("a.season").alias("season"))
        .agg(
            F.sum(
                F.when(F.col("b.c") > F.col("a.c"), 1)
                .when(F.col("b.c") < F.col("a.c"), -1).otherwise(0)
            ).cast("bigint").alias("s_stat")
        )
    )
    nsz = monthly.groupBy("season").agg(F.count("*").cast("bigint").alias("n_years"))
    ties = (
        monthly.groupBy("season", "c").agg(F.count("*").cast("bigint").alias("t"))
        .groupBy("season")
        .agg(F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
             .cast("bigint").alias("tie18"))
    )
    per = (  # 12 rows
        nsz.join(s, "season").join(ties, "season")
        .select(
            "season", "n_years", "s_stat",
            (F.col("n_years") * (F.col("n_years") - 1) * (2 * F.col("n_years") + 5)
             - F.col("tie18")).cast("bigint").alias("var18"),
        )
    )
    tot = per.agg(
        F.lit(0).cast("int").alias("season"),
        F.sum("n_years").cast("bigint").alias("n_years"),
        F.sum("s_stat").cast("bigint").alias("s_stat"),
        F.sum("var18").cast("bigint").alias("var18"),
    )
    cc = (
        F.when(F.col("s_stat") > 0, 1).when(F.col("s_stat") < 0, -1).otherwise(0)
    )
    return (
        per.select("season", "n_years", "s_stat", "var18",
                   F.lit(None).cast("double").alias("z"))
        .unionByName(
            tot.select(
                "season", "n_years", "s_stat", "var18",
                half_up((F.col("s_stat").cast("double") - cc)
                     / F.sqrt(F.col("var18").cast("double") / 18.0)).alias("z"),
            )
        )
        .orderBy("season")
    )


# =====================================================================
# Block O — Dunn's post-hoc pairwise z (rank sums, tie-corrected)
# =====================================================================

# Groups = event types over value cents. Average ranks with ties are
# kept exact as HALF-UNITS: r2(v) = 2·cum_less + n_v + 1 (an integer),
# so every rank sum R2_g is a BIGINT and the mean rank is one final
# division. The tie term T = Σ(t³ − t) and N are exact; z_ij uses the
# textbook Kruskal-Wallis pooled variance with the identical float op
# order on both engines, and significance is a fixed offline literal
# (2.807034 = Bonferroni for 10 pairs at α=.05, two-sided).
_DUNN_SQL = """
    WITH x AS (
      SELECT event_type AS g, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events),
    vals AS (
      SELECT v, CAST(count(*) AS BIGINT) AS n_v FROM x GROUP BY 1),
    rk AS (
      SELECT v, n_v,
             CAST(2 * coalesce(sum(n_v) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + n_v + 1 AS BIGINT) AS r2
      FROM vals),
    gv AS (
      SELECT g, v, CAST(count(*) AS BIGINT) AS n_gv FROM x GROUP BY 1, 2),
    grp AS (
      SELECT gv.g, CAST(sum(gv.n_gv) AS BIGINT) AS n_g,
             CAST(sum(gv.n_gv * rk.r2) AS BIGINT) AS r2_g
      FROM gv JOIN rk ON rk.v = gv.v GROUP BY gv.g),
    tot AS (
      SELECT CAST(sum(n_v) AS BIGINT) AS n,
             CAST(sum(n_v * n_v * n_v - n_v) AS BIGINT) AS t
      FROM vals)
    SELECT a.g AS g1, b.g AS g2, a.n_g AS n1, b.n_g AS n2,
           floor((CAST(a.r2_g AS DOUBLE) / (2.0 * a.n_g)
                  - CAST(b.r2_g AS DOUBLE) / (2.0 * b.n_g))
                 / sqrt((CAST(tot.n AS DOUBLE) * (tot.n + 1) / 12.0
                         - CAST(tot.t AS DOUBLE) / (12.0 * (tot.n - 1)))
                        * (1.0 / a.n_g + 1.0 / b.n_g))
                 * 1000000 + 0.5) / 1000000 AS z,
           abs((CAST(a.r2_g AS DOUBLE) / (2.0 * a.n_g)
                - CAST(b.r2_g AS DOUBLE) / (2.0 * b.n_g))
               / sqrt((CAST(tot.n AS DOUBLE) * (tot.n + 1) / 12.0
                       - CAST(tot.t AS DOUBLE) / (12.0 * (tot.n - 1)))
                      * (1.0 / a.n_g + 1.0 / b.n_g))) >= 2.807034 AS significant
    FROM grp a JOIN grp b ON a.g < b.g CROSS JOIN tot
    ORDER BY g1, g2
"""


@pq("dunns_pairwise_z", _DUNN_SQL)
def dunns_pairwise_z(spark, sf_dir):
    """Dunn's post-hoc pairwise z after Kruskal-Wallis: rank sums in
    exact half-units over the DISTINCT-VALUE table (the ordered window
    runs on the value domain, which is bounded by the cent range, not
    the row count), tie-corrected pooled variance, Bonferroni literal.
    Plan: the value histogram, rank table, group totals and tie sums
    all derive from the (g,v) aggregate; the per-group table has
    <= #event_types rows."""
    e = _t(spark, sf_dir, "events")
    x = e.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
    )
    gv = x.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("n_gv"))
    vals = gv.groupBy("v").agg(F.sum("n_gv").cast("bigint").alias("n_v"))
    rk = vals.select(
        "v", "n_v",
        (2 * F.coalesce(
            F.sum("n_v").over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)) + F.col("n_v") + 1).cast("bigint").alias("r2"),
    )
    grp = (
        gv.join(rk, "v")
        .groupBy("g")
        .agg(
            F.sum("n_gv").cast("bigint").alias("n_g"),
            F.sum(F.col("n_gv") * F.col("r2")).cast("bigint").alias("r2_g"),
        )
    )
    tot = vals.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint").alias("t"),
    )
    a = grp.select(F.col("g").alias("g1"), F.col("n_g").alias("n1"),
                   F.col("r2_g").alias("r21"))
    b = grp.select(F.col("g").alias("g2"), F.col("n_g").alias("n2"),
                   F.col("r2_g").alias("r22"))
    pairs = a.join(b, F.col("g1") < F.col("g2")).crossJoin(F.broadcast(tot))
    mean_diff = (F.col("r21").cast("double") / (2.0 * F.col("n1"))
                 - F.col("r22").cast("double") / (2.0 * F.col("n2")))
    pooled = (F.col("n").cast("double") * (F.col("n") + 1) / 12.0
              - F.col("t").cast("double") / (12.0 * (F.col("n") - 1)))
    denom = F.sqrt(pooled * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return pairs.select(
        "g1", "g2", "n1", "n2",
        half_up(mean_diff / denom).alias("z"),
        (F.abs(mean_diff / denom) >= 2.807034).alias("significant"),
    ).orderBy("g1", "g2")


# =====================================================================
# Block N — Avro format round-trip (added round 15: closes the
# "Avro missing" north-star gap with the pure-stdlib container codec)
# =====================================================================

# Same aggregate over the parquet source proves the avro leg lossless:
# every row that goes out through write_avro must come back through
# read_avro bit-identically or the per-month sums/dates drift. The
# codec itself is differentially pinned against the Apache Avro JAVA
# library (tests/test_avro_io.py); this entry pins the DISTRIBUTED
# plumbing (foreachPartition container writers, binaryFile +
# mapInPandas scan, timestamp-micros logical type) under the driver's
# oracle gate.
_AVRO_RT_SQL = """
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(min(strftime(o_orderdate, '%Y-%m-%d')) AS VARCHAR) AS first_day
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY 1
"""


@pq("avro_roundtrip", _AVRO_RT_SQL)
def avro_roundtrip(spark, sf_dir):
    """Orders subset → Avro Object Container Files (one per partition,
    deflate codec, pure-stdlib writer) → distributed re-read → monthly
    checksum. Scale: the write streams from executors (no driver
    materialization) and the read is a binaryFile scan decoded in
    mapInPandas Arrow batches — both sides parallelize by file count,
    the same contract as the parquet/ORC round-trips."""
    from pathlib import Path as _P

    from etl_mini_spark.queries._base import _TMP
    from etl_mini_spark.sources.avro_io import read_avro, write_avro

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    path = str(_TMP / f"avro_roundtrip_{_P(sf_dir).name}")
    write_avro(
        o.select("o_orderkey", "o_totalprice", "o_orderdate"), path, codec="deflate"
    )
    back = read_avro(spark, path)
    return back.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min(F.date_format("o_orderdate", "yyyy-MM-dd")).alias("first_day"),
    )
