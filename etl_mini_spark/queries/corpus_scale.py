from etl_mini_spark.queries._base import *  # noqa: F401,F403
from etl_mini_spark.queries._base import _t, _TMP  # noqa: F401

# Round-3 batch 2: corpus-scale training-data ops — benchmark
# decontamination, mixture sampling, incremental dedup, vocabulary
# stats — plus ORC format coverage and the stream-stream interval join.
# =========================================================================


@q(
    "decontaminate_13gram",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
                  FROM documents),
            bench AS (SELECT DISTINCT md5(array_to_string(words[3:15], ' ')) AS h
                      FROM w WHERE doc_id % 37 = 0 AND len(words) >= 15),
            sh AS (SELECT doc_id,
                          md5(unnest(list_transform(range(1, len(words) - 11),
                                     i -> array_to_string(words[i:i+12], ' ')))) AS h
                   FROM w WHERE len(words) >= 13)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
       FROM (SELECT DISTINCT doc_id, h FROM sh JOIN bench USING (h))
       GROUP BY doc_id""",
)
def decontaminate_13gram(spark, sf_dir):
    """Benchmark decontamination (GPT-3/PaLM 13-gram rule, Brown et al.
    2020 appendix C): flag training documents sharing any 13-word
    shingle with an eval set. The "benchmark" here is derived from the
    corpus itself (words 3..15 of every 37th document) so both engines
    construct the identical eval set — hits include each source doc AND
    any near-duplicate that shares the window (non-vacuous cross-doc
    contamination on this corpus). Scale shape in
    operators/text.py:contamination_hits — benchmark shingle hashes
    broadcast, corpus shingles stream map-only, only hits shuffle."""
    d = _t(spark, sf_dir, "documents")
    w = TX.tokens(F.col("text"))
    bench = d.filter((F.col("doc_id") % 37 == 0) & (F.size(w) >= 15)).select(
        F.concat_ws(" ", F.slice(w, 3, 13)).alias("snippet")
    )
    return TX.contamination_hits(d, bench, "doc_id", "text", "snippet", n=13)


@q(
    "mixture_weighted_sample",
    """WITH r AS (SELECT source, doc_id,
                         (CAST(concat('0x', substr(md5(source), 1, 4)) AS BIGINT)
                          % 90 + 5) AS pct,
                         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'),
                                                  1, 15)) AS BIGINT) % 100000 AS bucket
                  FROM documents)
       SELECT source, round(pct / 100.0, 6) AS rate,
              CAST(count(*) AS BIGINT) AS n_total,
              CAST(sum(CASE WHEN bucket < pct * 1000 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_sampled
       FROM r GROUP BY source, pct""",
)
def mixture_weighted_sample(spark, sf_dir):
    """Domain-mixture sampling (the data-mix reweighting step of corpus
    assembly): each source gets a deterministic target rate (derived
    here from md5(source) so the oracle reproduces it; in production a
    joined weights table), rows kept by key-hash threshold —
    operators/sampling.py:mixture_sample, a narrow map+filter with
    integer thresholds so the keep/drop edge is engine-exact. Output:
    per-source totals vs sampled counts vs rate."""
    from etl_mini_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    pct = (
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("long") % 90 + 5
    )
    base = d.select("doc_id", "source", pct.alias("pct"))
    totals = base.groupBy("source", "pct").agg(F.count("*").alias("n_total"))
    sampled = (
        mixture_sample(base, "doc_id", F.col("pct") * 1000)
        .groupBy("source")
        .agg(F.count("*").alias("n_sampled"))
    )
    return totals.join(sampled, "source", "left").select(
        "source",
        F.round(F.col("pct") / 100.0, 6).alias("rate"),
        "n_total",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
    )


@q(
    "dedup_incremental",
    """WITH fp AS (SELECT doc_id,
                          md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                            AS fingerprint
                   FROM documents),
            corpus AS (SELECT * FROM fp WHERE doc_id % 2 = 0),
            batch AS (SELECT doc_id + 1000000 AS doc_id, fingerprint
                      FROM corpus WHERE doc_id % 50 = 0
                      UNION ALL SELECT * FROM fp WHERE doc_id % 2 = 1)
       SELECT b.doc_id, b.fingerprint FROM batch b
       WHERE NOT EXISTS (SELECT 1 FROM corpus c
                         WHERE c.fingerprint = b.fingerprint)""",
)
def dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: a new batch (odd doc_ids plus PLANTED
    re-crawls of every 50th corpus doc under fresh ids) anti-joined
    against the live corpus (even doc_ids) on the normalized-text
    fingerprint — the planted rows are the ones removed, proving the
    hit path is exercised (this corpus has no natural exact dups).
    Scale shape in operators/dedup.py:incremental_dedup — fingerprints
    shuffle, documents don't."""
    from etl_mini_spark.operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    planted = corpus.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    batch = planted.unionByName(d.filter(F.col("doc_id") % 2 == 1))
    return incremental_dedup(batch, corpus, "text", "doc_id")


@q(
    "corpus_idf",
    """WITH per AS (SELECT doc_id,
                           unnest(list_distinct(string_split(trim(text), ' ')))
                             AS token
                    FROM documents),
            dfreq AS (SELECT token, count(*) AS df_docs FROM per GROUP BY token),
            n AS (SELECT count(*) AS n_docs FROM documents)
       SELECT token, CAST(df_docs AS BIGINT) AS df_docs,
              round(ln(CAST(n_docs AS DOUBLE) / df_docs), 6) AS idf
       FROM dfreq, n
       ORDER BY df_docs DESC, token LIMIT 40""",
)
def corpus_idf(spark, sf_dir):
    """Corpus vocabulary statistics: per-token document frequency + IDF
    (the TF-IDF denominator / stopword-discovery pass). One explode of
    per-doc distinct tokens + one partial-agg shuffle on token;
    corpus size joins in as a broadcast 1-row aggregate
    (operators/text.py:doc_frequency). Top 40 by df with lexical
    tie-break."""
    d = _t(spark, sf_dir, "documents")
    return (
        TX.doc_frequency(d, "doc_id", "text")
        .orderBy(F.col("df_docs").desc(), "token")
        .limit(40)
    )


@q(
    "orc_roundtrip",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
              round(sum(o_totalprice), 2) AS sum_price
       FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderpriority""",
)
def orc_roundtrip(spark, sf_dir):
    """Format coverage: ORC write → read → checksum (the columnar
    sibling of csv/ndjson roundtrips; ORC is Spark-native, predicate
    pushdown and column pruning work the same as parquet)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    path = str(_TMP / f"orc_roundtrip_{Path(sf_dir).name}")
    o.select("o_orderkey", "o_orderpriority", "o_totalprice").write.mode(
        "overwrite"
    ).orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


@q(
    "stream_interval_join",
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
              c.user_id,
              CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_us
       FROM events c JOIN events p
         ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
       WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
)
def stream_interval_join(spark, sf_dir):
    """ST7: stream-stream interval join — purchases attributed to the
    click they followed within 10 minutes, per user. Both sides are
    file-source streams with 1 h watermarks; the time-bound join
    condition gives Spark an eviction horizon for both state buffers
    (streaming/windows.py:stream_interval_join). Inner-join semantics
    make the AvailableNow result equal the batch interval join, so the
    oracle is plain SQL."""
    from etl_mini_spark.streaming.stream import replay
    from etl_mini_spark.streaming.windows import stream_interval_join as ssj

    with replay(spark, "stream_ij") as r:
        r.stage(_t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts"))
        clicks = (
            r.stream()
            .filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id"),
                F.col("ts").alias("c_ts"),
            )
        )
        purchases = (
            r.stream()
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
        )
        r.run(ssj(
            clicks, purchases,
            left_key="user_id", right_key="p_user_id",
            left_ts="c_ts", right_ts="p_ts",
            max_delay="10 minutes",
        ))
    return r.output.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delay_us"),
    )


def _zorder_oracle() -> str:
    from etl_mini_spark.operators.layout import morton_sql

    z = morton_sql("o_custkey", "epoch_us(o_orderdate) // 86400000000", bits=10)
    return f"""WITH z AS (SELECT ({z}) AS zval,
                                 o_custkey & 1023 AS x,
                                 (epoch_us(o_orderdate) // 86400000000) & 1023 AS y
                          FROM orders)
               SELECT CAST(zval >> 14 AS BIGINT) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(min(x) AS BIGINT) AS x_min, CAST(max(x) AS BIGINT) AS x_max,
                      CAST(min(y) AS BIGINT) AS y_min, CAST(max(y) AS BIGINT) AS y_max
               FROM z GROUP BY bucket"""


@q("zorder_locality", _zorder_oracle())
def zorder_locality(spark, sf_dir):
    """Z-order (Morton) clustering stats on (customer, order day) —
    the two-column data-layout move behind Delta/Iceberg OPTIMIZE
    ZORDER: per Z-range bucket, the covered (x, y) rectangle stays
    narrow, which is exactly why files written in Z-order prune on
    EITHER predicate via parquet min/max stats. Pure long bit math
    (operators/layout.py:morton_code), codegen end-to-end, one
    hash-agg shuffle; the oracle replays the identical shifts
    (morton_sql) so Z-values match bit for bit."""
    from etl_mini_spark.operators.layout import morton_code

    o = _t(spark, sf_dir, "orders")
    x = F.col("o_custkey")
    # orderdate reads as TIMESTAMP_NTZ; session tz is pinned UTC, so the
    # cast makes unix_micros agree with DuckDB's epoch_us exactly
    y = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    mask = F.lit(1023)
    z = o.select(
        morton_code(x, y, bits=10).alias("zval"),
        x.bitwiseAND(mask).alias("x"),
        y.bitwiseAND(mask).alias("y"),
    )
    return z.groupBy(F.shiftright("zval", 14).cast("long").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
    )


@q(
    "stream_static_enrich",
    """SELECT c.c_mktsegment, e.event_type, CAST(count(*) AS BIGINT) AS n
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c.c_mktsegment, e.event_type""",
)
def stream_static_enrich(spark, sf_dir):
    """ST8: stream-static join — the streaming-enrichment idiom (every
    micro-batch joins against a slowly-changing dim; the static side is
    re-read per batch, so dim updates are picked up without restart).
    The dim is broadcast — no shuffle of the stream — and the enriched
    rows land append-only; the per-segment rollup happens batch-side on
    the landed output, so the stream stays stateless. Deterministic:
    stream-static inner join emits exactly the batch join."""
    from etl_mini_spark.streaming.stream import replay

    dim = F.broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    with replay(spark, "stream_enrich") as r:
        r.stage(_t(spark, sf_dir, "events").select("event_id", "user_id", "event_type"))
        stream = r.stream()
        r.run(stream.join(dim, stream["user_id"] == dim["c_custkey"], "inner"))
    return r.output.groupBy("c_mktsegment", "event_type").agg(F.count("*").alias("n"))


@q(
    "posexplode_tokens",
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS words
                  FROM documents WHERE doc_id < 5)
       SELECT doc_id, CAST(unnest(range(0, len(words))) AS INT) AS pos,
              unnest(words) AS word
       FROM w""",
)
def posexplode_tokens(spark, sf_dir):
    """UDTF surface (SURVEY §2.8): positional explode — one row per
    (document, token index, token). The generator runs inside codegen
    (no Python), and position comes from the generator itself, not a
    window — so no shuffle at all. The oracle zips two parallel
    unnests (DuckDB's equivalent of WITH ORDINALITY)."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 5)
        .select("doc_id", TX.tokens(F.col("text")).alias("words"))
    )
    return d.select("doc_id", F.posexplode("words").alias("pos", "word"))


@q(
    "map_fns_suite",
    """WITH w AS (SELECT doc_id,
                         list_sort(list_distinct(string_split(trim(text), ' ')))[1:4]
                           AS keys
                  FROM documents WHERE doc_id < 20)
       SELECT doc_id, CAST(len(keys) AS INT) AS n_keys,
              array_to_string(keys, ',') AS keys_csv,
              CAST(list_sum(list_transform(keys, x -> length(x))) AS BIGINT)
                AS vals_sum,
              CAST(list_sum(list_transform(keys, x -> length(x) * 2)) AS BIGINT)
                AS vals_sum_doubled,
              CAST(length(keys[1]) AS BIGINT) AS first_val
       FROM w""",
)
def map_fns_suite(spark, sf_dir):
    """Map-function surface (SURVEY §2.7): map_from_arrays /
    map_keys / map_values / transform_values / element_at / size over a
    per-document map built from its first 4 distinct tokens (sorted, so
    both engines agree on entry order). All per-row JVM expressions —
    the oracle states the same math over parallel lists, which is the
    semantics a map is standing in for."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    keys = F.slice(F.array_sort(F.array_distinct(TX.tokens(F.col("text")))), 1, 4)
    base = d.select("doc_id", keys.alias("keys")).withColumn(
        "m", F.map_from_arrays("keys", F.transform("keys", F.length))
    )
    doubled = F.transform_values("m", lambda _k, v: v * 2)
    return base.select(
        "doc_id",
        F.size("m").alias("n_keys"),
        F.concat_ws(",", F.map_keys("m")).alias("keys_csv"),
        F.aggregate(F.map_values("m"), F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("vals_sum"),
        F.aggregate(F.map_values(doubled), F.lit(0), lambda a, x: a + x)
        .cast("long")
        .alias("vals_sum_doubled"),
        F.element_at("m", F.element_at("keys", 1)).cast("long").alias("first_val"),
    )


@q(
    "skew_diagnostic",
    """WITH g AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
       SELECT CAST(count(*) AS BIGINT) AS n_keys,
              CAST(min(n) AS BIGINT) AS min_n,
              round(quantile_cont(n, 0.5), 6) AS p50_n,
              round(quantile_cont(n, 0.99), 6) AS p99_n,
              CAST(max(n) AS BIGINT) AS max_n,
              round(max(n) / (sum(n) / count(*)), 6) AS skew_factor
       FROM g""",
)
def skew_diagnostic(spark, sf_dir):
    """Shuffle-skew diagnostic — the pre-flight check before any big
    keyed join/agg at 100 TB: per-key group sizes summarized as
    min/p50/p99/max plus max-over-mean skew factor. skew_factor ≫ 1
    says "this key needs salting or AQE skew-join". Two partial-agg
    shuffles (key, then 1-row summary); both engines interpolate
    percentiles linearly (percentile ≡ quantile_cont), so values match
    to the rounding digit."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(F.count("*").alias("n"))
    return g.agg(
        F.count("*").alias("n_keys"),
        F.min("n").alias("min_n"),
        F.round(F.expr("percentile(n, 0.5)"), 6).alias("p50_n"),
        F.round(F.expr("percentile(n, 0.99)"), 6).alias("p99_n"),
        F.max("n").alias("max_n"),
        F.round(F.max("n") / (F.sum("n") / F.count("*")), 6).alias("skew_factor"),
    )


@q(
    "table_profile",
    """SELECT 'o_custkey' AS col, CAST(count(*) AS BIGINT) AS n,
              CAST(count(*) - count(o_custkey) AS BIGINT) AS n_null,
              CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
              CAST(min(o_custkey) AS VARCHAR) AS min_v,
              CAST(max(o_custkey) AS VARCHAR) AS max_v
       FROM orders
       UNION ALL
       SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
              CAST(count(*) - count(o_orderstatus) AS BIGINT),
              CAST(count(DISTINCT o_orderstatus) AS BIGINT),
              min(o_orderstatus), max(o_orderstatus)
       FROM orders
       UNION ALL
       SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
              CAST(count(*) - count(o_totalprice) AS BIGINT),
              CAST(count(DISTINCT o_totalprice) AS BIGINT),
              CAST(round(min(o_totalprice), 2) AS VARCHAR),
              CAST(round(max(o_totalprice), 2) AS VARCHAR)
       FROM orders""",
)
def table_profile(spark, sf_dir):
    """Table profiling (the ANALYZE/data-quality pass): per column —
    row count, null count, exact distinct, min/max rendered as text.
    Built as ONE wide aggregate over a single scan (all columns'
    aggregates in the same pass, then unpivoted to rows) — NOT one job
    per column; at 100 TB the scan dominates, so profiling N columns
    must cost one scan, not N. Exact distinct per column shuffles
    expand-style; swap for approx_count_distinct when estimates
    suffice."""
    o = _t(spark, sf_dir, "orders")
    aggs = []
    for c, render in [
        ("o_custkey", lambda x: x.cast("string")),
        ("o_orderstatus", lambda x: x),
        ("o_totalprice", lambda x: F.round(x, 2).cast("string")),
    ]:
        # min/max on the NATIVE type, rendered to text afterwards —
        # casting first would compare lexicographically ('999' > '1499')
        aggs += [
            F.count("*").alias(f"{c}__n"),
            (F.count("*") - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            render(F.min(c)).alias(f"{c}__min_v"),
            render(F.max(c)).alias(f"{c}__max_v"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__n_null, {c}__n_distinct, {c}__min_v, {c}__max_v"
        for c in ["o_custkey", "o_orderstatus", "o_totalprice"]
    )
    return wide.selectExpr(
        f"stack(3, {stack}) AS (col, n, n_null, n_distinct, min_v, max_v)"
    )
