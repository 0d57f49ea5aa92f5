"""Unit tests for operator edge cases the oracle suite can't reach."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_ordered_dedup_keeps_first_in_order(spark):
    from etl_mini_spark.operators.dedup import ordered_dedup

    df = spark.createDataFrame(
        [
            Row(k="a", ord=2, id=1, v="late"),
            Row(k="a", ord=1, id=2, v="early"),
            Row(k="b", ord=1, id=3, v="only"),
            Row(k="a", ord=1, id=1, v="early-tiebreak"),
        ]
    )
    out = {r["k"]: r["v"] for r in ordered_dedup(df, ["k"], ["ord", "id"]).collect()}
    assert out == {"a": "early-tiebreak", "b": "only"}


def test_ordered_dedup_desc_order(spark):
    from etl_mini_spark.operators.dedup import ordered_dedup

    df = spark.createDataFrame([Row(k="a", ord=1, v="lo"), Row(k="a", ord=9, v="hi")])
    out = ordered_dedup(df, ["k"], [("ord", "desc")]).collect()
    assert out[0]["v"] == "hi"


def test_asof_join_no_match_is_null(spark):
    from etl_mini_spark.operators.joins import asof_join

    left = spark.createDataFrame([Row(k=1, t=10, lv="x"), Row(k=2, t=5, lv="y")])
    right = spark.createDataFrame([Row(k=1, rt=8, rv="r1"), Row(k=2, rt=7, rv="r2")])
    out = {
        r["lv"]: r["rv"]
        for r in asof_join(left, right, on=["k"], left_time="t", right_time="rt").collect()
    }
    assert out == {"x": "r1", "y": None}  # k=2: right at 7 > left 5 → no earlier row


def test_asof_join_exact_and_tiebreak(spark):
    from etl_mini_spark.operators.joins import asof_join

    left = spark.createDataFrame([Row(k=1, t=10, lv="x")])
    right = spark.createDataFrame(
        [Row(k=1, rt=10, rid=1, rv="a"), Row(k=1, rt=10, rid=2, rv="b")]
    )
    out = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt",
        right_cols=["rv"], tiebreak="rid",
    ).collect()
    assert out[0]["rv"] == "b"  # exact-time match allowed, max tiebreak wins
    out2 = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt",
        right_cols=["rv"], tiebreak="rid", allow_exact=False,
    ).collect()
    assert out2[0]["rv"] is None  # strict inequality → no earlier row


def test_asof_join_bucketed_matches_unbucketed_on_skew(spark):
    """Skew hardening (operators/joins.py bucket_seconds): one celebrity
    key holds nearly all rows. The time-bucketed path must (a) return
    row-identical results — including left rows before any right row
    (null match) and buckets with no right rows (boundary carry-in from
    earlier buckets) — and (b) physically partition the sort by
    (key, __bucket), so the hot key spreads over many tasks instead of
    serializing one."""
    from etl_mini_spark.operators.joins import asof_join

    # hot key 1: 1500 events over ~60 days; sparse orders (some weeks empty)
    left = spark.range(1500).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 3517).alias("t"),
        F.col("id").alias("lid"),
    ).unionByName(
        spark.range(5).select(  # cold key 2
            F.lit(2).alias("k"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 86400).alias("t"),
            (F.col("id") + 10_000).alias("lid"),
        )
    )
    right = spark.range(12).select(
        F.lit(1).alias("k"),
        # bunched into the first 3 weeks → later buckets rely on carry-in
        F.timestamp_seconds(F.lit(1704070000) + F.col("id") * 150_000).alias("rt"),
        F.col("id").alias("rid"),
    )
    kwargs = dict(
        on=["k"], left_time="t", right_time="rt", right_cols=["rid"], tiebreak="rid"
    )
    plain = {(r["lid"], r["rid"]) for r in asof_join(left, right, **kwargs).collect()}
    bucketed_df = asof_join(left, right, bucket_seconds=7 * 86400, **kwargs)
    bucketed = {(r["lid"], r["rid"]) for r in bucketed_df.collect()}
    assert bucketed == plain
    # null matches must exist (events before first order) and carry-ins too
    assert any(rid is None for _, rid in plain)
    assert "__bucket" in bucketed_df._jdf.queryExecution().executedPlan().toString()


def test_asof_join_forward_direction(spark):
    """direction='forward': earliest right at-or-after (or strictly
    after) the left time; ties on right_time take the SMALLEST
    tiebreak."""
    from etl_mini_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 5.0, "a"), (1, 11.0, "b")], "k int, t double, lid string")
    right = spark.createDataFrame(
        [(1, 5.0, 10), (1, 5.0, 11), (1, 9.0, 12)], "k int, rt double, rid int"
    )
    kwargs = dict(on=["k"], left_time="t", right_time="rt", right_cols=["rid"], tiebreak="rid")
    got = {r["lid"]: r["rid"] for r in
           asof_join(left, right, direction="forward", **kwargs).collect()}
    assert got == {"a": 10, "b": None}  # exact tie -> smallest rid; no later right
    got_strict = {r["lid"]: r["rid"] for r in
                  asof_join(left, right, direction="forward", allow_exact=False, **kwargs).collect()}
    assert got_strict == {"a": 12, "b": None}  # skips the t==5 rights


def test_asof_join_forward_bucketed_matches_unbucketed(spark):
    """Forward bucketed path (first-upcoming carry + carry-back from
    later buckets) must be row-identical to the plain forward path on a
    skewed fixture whose buckets include empty ones."""
    from etl_mini_spark.operators.joins import asof_join

    left = spark.range(800).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 6011).alias("t"),
        F.col("id").alias("lid"),
    )
    right = spark.range(9).select(
        F.lit(1).alias("k"),
        # bunched late -> early left rows need carry-back across buckets
        F.timestamp_seconds(F.lit(1706067200) + F.col("id") * 250_000).alias("rt"),
        F.col("id").alias("rid"),
    )
    kwargs = dict(on=["k"], left_time="t", right_time="rt",
                  right_cols=["rid"], tiebreak="rid", direction="forward")
    plain = {(r["lid"], r["rid"]) for r in asof_join(left, right, **kwargs).collect()}
    bucketed = {
        (r["lid"], r["rid"])
        for r in asof_join(left, right, bucket_seconds=7 * 86400, **kwargs).collect()
    }
    assert bucketed == plain
    assert any(rid is None for _, rid in plain)  # rows after the last right


def test_asof_join_nearest_bucketed_matches_unbucketed(spark):
    """Round-7 closure of the one as-of combination that used to raise:
    direction='nearest' × bucket_seconds. Two bucketed direction passes
    + the µs-gap pick must be row-identical to the plain nearest path on
    a skewed fixture where rights are bunched mid-history, so early left
    rows resolve FORWARD across empty buckets, late ones BACKWARD, and
    in-bucket ties go backward."""
    from etl_mini_spark.operators.joins import asof_join

    left = spark.range(1200).select(
        F.lit(1).alias("k"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 4019).alias("t"),
        F.col("id").alias("lid"),
    ).unionByName(
        spark.range(4).select(  # cold key with no rights at all
            F.lit(2).alias("k"),
            F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 86400).alias("t"),
            (F.col("id") + 10_000).alias("lid"),
        )
    )
    right = spark.range(10).select(
        F.lit(1).alias("k"),
        # bunched into ~2 mid-history weeks
        F.timestamp_seconds(F.lit(1705500000) + F.col("id") * 120_000).alias("rt"),
        F.col("id").alias("rid"),
    )
    kwargs = dict(on=["k"], left_time="t", right_time="rt",
                  right_cols=["rid"], tiebreak="rid", direction="nearest")
    plain = {(r["lid"], r["rid"]) for r in asof_join(left, right, **kwargs).collect()}
    bucketed = {
        (r["lid"], r["rid"])
        for r in asof_join(left, right, bucket_seconds=7 * 86400, **kwargs).collect()
    }
    assert bucketed == plain
    assert {rid for _, rid in plain} > {None}  # both null and real matches
    matched = {lid: rid for lid, rid in plain}
    assert matched[0] == 0 and matched[1199] == 9  # forward + backward resolution


def test_asof_join_bucketed_keeps_null_keys_and_times(spark):
    """The bucketed path must keep rows a plain inner carry-join drops:
    NULL key columns (NULL never equals NULL) and NULL left times
    (__bucket = floor(unix_micros(NULL)) = NULL). Both paths must agree
    row-for-row — the documented 'row-identical' contract — and NULL
    times are inert (SQL comparison semantics): a NULL-time left row
    matches nothing, a NULL-time right row is never picked."""
    import pyspark.sql.types as T
    from etl_mini_spark.operators.joins import asof_join

    lschema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("lid", T.IntegerType()),
    ])
    rschema = T.StructType([
        T.StructField("k", T.IntegerType()),
        T.StructField("rt", T.TimestampType()),
        T.StructField("rid", T.IntegerType()),
    ])
    from datetime import datetime
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    left = spark.createDataFrame(
        [
            (1, ts("2024-01-05 00:00:00"), 1),
            (1, None, 2),                       # NULL left time
            (None, ts("2024-01-06 00:00:00"), 3),  # NULL key
            (None, None, 4),                    # both NULL
            (2, ts("2024-02-01 00:00:00"), 5),  # key with no right rows
        ],
        lschema,
    )
    right = spark.createDataFrame(
        [
            (1, ts("2024-01-01 00:00:00"), 10),
            (1, ts("2024-01-04 12:00:00"), 11),
            (None, ts("2024-01-02 00:00:00"), 12),  # NULL-key right row
            (1, None, 13),                          # NULL right time
        ],
        rschema,
    )
    kwargs = dict(on=["k"], left_time="t", right_time="rt",
                  right_cols=["rid"], tiebreak="rid")
    for direction in ("backward", "forward"):
        plain = {
            (r["lid"], r["rid"])
            for r in asof_join(left, right, direction=direction, **kwargs).collect()
        }
        bucketed = {
            (r["lid"], r["rid"])
            for r in asof_join(
                left, right, bucket_seconds=86400, direction=direction, **kwargs
            ).collect()
        }
        # every left row survives both paths
        assert {lid for lid, _ in plain} == {1, 2, 3, 4, 5}, direction
        assert bucketed == plain, direction
        # NULL-time left rows match nothing; NULL-time rights never match
        null_time_lids = {2, 4}
        assert all(rid is None for lid, rid in plain if lid in null_time_lids), direction
        assert all(rid != 13 for _, rid in plain), direction


def test_normalize_iso_rounding_and_clamp(spark):
    from etl_mini_spark.functions.time_fns import normalize_iso_col

    cases = [
        ("2024-01-01T00:00:00", "2024-01-01T00:00:00.000000"),
        ("2024-01-01T00:00:00.123", "2024-01-01T00:00:00.123000"),
        ("2024-01-01T00:00:00.1234567", "2024-01-01T00:00:00.123457"),  # round half-up
        ("2024-01-01T00:00:00.9999999", "2024-01-01T00:00:00.999999"),  # clamp (ref :36-37)
        ("2024-01-01T00:00:00.123456789", "2024-01-01T00:00:00.123457"),
        ("2024-01-01T00:00:00.123Z", "2024-01-01T00:00:00.123000Z"),
        ("2024-01-01T00:00:00.1234567890", None),  # >9 digits → null
    ]
    df = spark.createDataFrame([Row(iso=i) for i, _ in cases])
    out = [r["n"] for r in df.select(normalize_iso_col(F.col("iso")).alias("n")).collect()]
    assert out == [e for _, e in cases]


def test_merge_upsert_update_columns_only(spark):
    from etl_mini_spark.operators.upsert import merge_upsert

    tgt = spark.createDataFrame([Row(k=1, a="A1", b="B1"), Row(k=2, a="A2", b="B2")])
    src = spark.createDataFrame([Row(k=2, a="A2x", b="B2x"), Row(k=3, a="A3", b="B3")])
    out = {r["k"]: (r["a"], r["b"]) for r in
           merge_upsert(tgt, src, keys=["k"], update_columns=["a"]).collect()}
    assert out == {1: ("A1", "B1"), 2: ("A2x", "B2"), 3: ("A3", "B3")}


def test_merge_upsert_do_nothing(spark):
    from etl_mini_spark.operators.upsert import merge_upsert

    tgt = spark.createDataFrame([Row(k=1, v="old")])
    src = spark.createDataFrame([Row(k=1, v="new"), Row(k=2, v="n2")])
    out = {r["k"]: r["v"] for r in
           merge_upsert(tgt, src, keys=["k"], conflict_action="nothing").collect()}
    assert out == {1: "old", 2: "n2"}


def test_udf_registry_is_closed(spark):
    from etl_mini_spark.functions.registry import default_registry

    with pytest.raises(KeyError, match="not registered"):
        default_registry().get("os_system")


def test_udf_native_and_pandas_paths_agree(spark):
    from etl_mini_spark.functions.registry import AdditionalField, apply_additional_fields, default_registry
    from etl_mini_spark.session import load_table

    e = load_table(spark, SF_SMOKE, "events").limit(200).withColumn(
        "iso", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    )
    reg = default_registry()
    spec = dict(value="iso_to_parts", input_mapping={"iso": "iso"},
                output_mapping={"datetime": "dt", "microseconds": "mcs", "month": "mon"})
    nat = apply_additional_fields(e, [AdditionalField(**spec, use_native=True)], reg)
    udf = apply_additional_fields(e, [AdditionalField(**spec, use_native=False)], reg)
    # scalar fallback: same function registered WITHOUT the vectorized
    # kernel must agree too (it's the path any new registered function
    # takes before a kernel is written)
    from etl_mini_spark.functions.registry import (
        _ISO_PARTS_SCHEMA,
        _iso_to_parts_py,
        FunctionRegistry,
    )

    scalar_reg = FunctionRegistry()
    scalar_reg.register("iso_to_parts", _iso_to_parts_py, _ISO_PARTS_SCHEMA)
    scal = apply_additional_fields(
        e, [AdditionalField(**spec, use_native=False)], scalar_reg
    )
    cols = ["event_id", "dt", "mcs", "mon"]
    a = sorted(map(tuple, nat.select(*cols).collect()))
    b = sorted(map(tuple, udf.select(*cols).collect()))
    c = sorted(map(tuple, scal.select(*cols).collect()))
    assert a == b == c


def _recall_at_5(exact_df, approx_df) -> float:
    e = {(r["probe_id"], r["neighbor_id"]) for r in exact_df.collect()}
    a = {(r["probe_id"], r["neighbor_id"]) for r in approx_df.collect()}
    return len(e & a) / len(e)


def test_ivf_recall_clustered(spark):
    """recall@5 ≥ 0.9 at nprobe=4/16 (25% scan) on a corpus with real
    cluster structure — IVF's operating regime. Deterministic seed."""
    import numpy as np

    from etl_mini_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_ivf

    rs = np.random.RandomState(7)
    centers = rs.randn(8, 64)
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(400):
        v = centers[i % 8] + 0.15 * rs.randn(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = cdf.filter(F.col("vec_id") % 40 == 0)
    exact = cosine_topk_bruteforce(cdf, probes, k=5)
    approx = cosine_topk_ivf(cdf, probes, k=5, nprobe=4, n_cells=16)
    recall = _recall_at_5(exact, approx)
    assert recall >= 0.9, f"IVF recall@5 on clustered corpus: {recall}"


def test_ivf_recall_natural_corpus(spark):
    """recall@5 ≥ 0.9 on the driver testdata. The synthetic embeddings
    are near-orthogonal (no cluster structure → cell routing carries
    little signal — worst case for ANY pruned ANN), so nprobe must be
    wide (12/16) to clear 0.9; with clusterable data nprobe=4 suffices
    (test above)."""
    from etl_mini_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_ivf
    from etl_mini_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk_bruteforce(emb, probes, k=5)
    approx = cosine_topk_ivf(emb, probes, k=5, nprobe=12, n_cells=16)
    recall = _recall_at_5(exact, approx)
    assert recall >= 0.9, f"IVF recall@5 on natural corpus: {recall}"


def test_ivf_partitioning_independent_ties(spark):
    """Round-12 fix: the IVF per-cell top-k cut uses the brute
    kernel's (rounded sim DESC, neighbor_id ASC) stable double-argsort
    instead of raw argpartition, so TIED similarities at the k-th rank
    resolve identically whatever the Arrow batch boundaries. A corpus
    of duplicated vectors (every similarity tied at 1.0) must yield
    bit-identical results under repartition(1) vs repartition(32)."""
    import numpy as np

    from etl_mini_spark.operators.similarity import cosine_topk_ivf, train_ivf_centroids

    rs = np.random.RandomState(11)
    base = rs.randn(8, 32)
    base /= np.linalg.norm(base, axis=1)[:, None]
    # 25 exact copies of each of 8 distinct vectors -> massive k-th-rank ties
    rows = [(i, base[i % 8].tolist()) for i in range(200)]
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = cdf.filter(F.col("vec_id") < 8)
    cents = train_ivf_centroids(cdf, n_cells=8)
    outs = []
    for n in (1, 32):
        got = cosine_topk_ivf(
            cdf.repartition(n), probes, k=5, nprobe=3, n_cells=8, centroids=cents
        )
        outs.append(sorted(map(tuple, got.collect())))
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_pq_rerank_recall_clustered(spark):
    """PQ+ADC rerank recall@5 >= 0.9 at rerank=6 on a corpus with real
    cluster structure — PQ's operating regime. Deterministic seed."""
    import numpy as np

    from etl_mini_spark.operators.similarity import (
        cosine_topk_bruteforce, cosine_topk_pq_rerank)

    rs = np.random.RandomState(7)
    centers = rs.randn(8, 64)
    centers /= np.linalg.norm(centers, axis=1)[:, None]
    rows = []
    for i in range(400):
        v = centers[i % 8] + 0.15 * rs.randn(64)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    cdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    probes = cdf.filter(F.col("vec_id") % 40 == 0)
    exact = cosine_topk_bruteforce(cdf, probes, k=5)
    approx = cosine_topk_pq_rerank(cdf, probes, k=5, m=8, n_codes=16, rerank=6)
    recall = _recall_at_5(exact, approx)
    assert recall >= 0.9, f"PQ rerank recall@5 on clustered corpus: {recall}"


def test_pq_rerank_recall_natural_and_deterministic(spark):
    """Natural (near-orthogonal) corpus: recall@5 >= 0.9 needs a wide
    rerank window (20*k candidates = 20% of the corpus at this SF) —
    the worst case for ANY pruned ANN, same story as IVF's nprobe=12.
    Results must also be identical under repartition(1) vs (32) — the
    per-batch ADC cut uses the brute kernel's tie discipline."""
    from etl_mini_spark.operators.similarity import (
        cosine_topk_bruteforce, cosine_topk_pq_rerank, train_pq_codebooks)
    from etl_mini_spark.session import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    exact = cosine_topk_bruteforce(emb, probes, k=5)
    approx = cosine_topk_pq_rerank(emb, probes, k=5, m=8, n_codes=16, rerank=20)
    recall = _recall_at_5(exact, approx)
    assert recall >= 0.9, f"PQ rerank recall@5 on natural corpus: {recall}"

    books = train_pq_codebooks(emb, m=8, n_codes=16)
    outs = []
    for n in (1, 32):
        got = cosine_topk_pq_rerank(
            emb.repartition(n), probes, k=5, rerank=10, codebooks=books
        )
        outs.append(sorted(map(tuple, got.collect())))
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_salted_join_identical_to_plain(spark):
    from etl_mini_spark.operators.joins import salted_join
    from etl_mini_spark.session import load_table

    o = load_table(spark, SF_SMOKE, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    c = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    plain = sorted(map(tuple, o.join(c, "o_custkey").collect()))
    salted = sorted(map(tuple, salted_join(o, c, on=["o_custkey"], salts=4).collect()))
    assert plain == salted and len(plain) > 0


def test_embedding_lsh_matches_bruteforce_pairs(spark):
    # The driver testdata has no ≥0.95 pairs at any SF (checked), so
    # plant near-dups: 50 base vectors, each with a tiny-noise twin.
    import numpy as np

    from etl_mini_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    rs = np.random.RandomState(7)
    base = rs.randn(50, 64)
    twins = base + 0.05 * rs.randn(50, 64)
    rows = [
        (int(i), [float(x) for x in v])
        for i, v in enumerate(np.vstack([base, twins, rs.randn(100, 64)]))
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r["id1"], r["id2"]) for r in embedding_near_dup_pairs(emb, 0.95).collect()}
    lsh = {(r["id1"], r["id2"]) for r in embedding_near_dup_pairs_lsh(emb, 0.95).collect()}
    assert len(exact) >= 40  # noise twins land ≥.95 with overwhelming prob
    assert lsh == exact


def test_check_expected_offset_tri_mode(spark):
    import pytest as _pytest

    from etl_mini_spark.functions.time_fns import UnexpectedOffsetError, check_expected_offset

    df = spark.createDataFrame(
        [("2024-01-01T00:00:00.000000Z",), ("2024-01-01T00:00:00.000000+03:00",)],
        ["iso"],
    )
    assert check_expected_offset(df, "iso", "Z", mode="ignore") is df
    warned = check_expected_offset(df, "iso", "Z", mode="warning")
    assert [r["offset_ok"] for r in warned.orderBy("iso").collect()] == [False, True]
    with _pytest.raises(UnexpectedOffsetError):
        check_expected_offset(df, "iso", "Z", mode="error")
    ok_only = df.filter(F.col("iso").endswith("Z"))
    assert check_expected_offset(ok_only, "iso", "Z", mode="error") is ok_only


def test_split_assign_disjoint_exhaustive_stable(spark):
    """Hash splits must cover every row exactly once, reproduce across
    repartitionings (df.sample cannot), and approximate the weights."""
    from etl_mini_spark.operators.sampling import split_assign
    from etl_mini_spark.session import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events")
    total = e.count()
    s = split_assign(e, "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = dict(s.groupBy("split").count().collect())
    assert sum(counts.values()) == total  # exhaustive + disjoint (one split col per row)
    assert 0.6 * total < counts["train"] < 0.95 * total
    a = {r["event_id"]: r["split"] for r in s.select("event_id", "split").collect()}
    s2 = split_assign(e.repartition(7), "event_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    b = {r["event_id"]: r["split"] for r in s2.select("event_id", "split").collect()}
    assert a == b  # partitioning-independent membership


def test_deterministic_sample_is_subset_semijoin_free(spark):
    """Sampling is a narrow filter: same fraction twice → identical row
    set; disjoint salts → disjoint row sets."""
    from etl_mini_spark.operators.sampling import deterministic_sample
    from etl_mini_spark.plans.explain import plan_summary
    from etl_mini_spark.session import load_table
    from tests.conftest import SF_SMOKE

    e = load_table(spark, SF_SMOKE, "events")
    s1 = {r[0] for r in deterministic_sample(e, "event_id", 0.2).select("event_id").collect()}
    s2 = {r[0] for r in deterministic_sample(e, "event_id", 0.2).select("event_id").collect()}
    assert s1 == s2 and s1
    other = {r[0] for r in deterministic_sample(e, "event_id", 0.2, salt="v2").select("event_id").collect()}
    assert s1 != other  # different salt, different (overlapping-by-chance) sample
    p = plan_summary(deterministic_sample(e, "event_id", 0.2))
    assert p.n_exchanges == 0, p.text  # narrow: no shuffle


def test_stratified_take_exact_k(spark):
    from etl_mini_spark.operators.sampling import stratified_take
    from etl_mini_spark.session import load_table
    from tests.conftest import SF_SMOKE

    d = load_table(spark, SF_SMOKE, "documents")
    out = stratified_take(d, ["lang"], 5, "doc_id")
    per = dict(out.groupBy("lang").count().collect())
    sizes = dict(d.groupBy("lang").count().collect())
    for lang, n in per.items():
        assert n == min(5, sizes[lang]), (lang, n, sizes[lang])


def test_connected_components_chain_and_cliques(spark):
    """Connected components must close a 6-hop chain and keep disjoint
    cliques separate."""
    from etl_mini_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # chain 1..7
             (10, 11), (11, 12), (10, 12),                     # triangle 10..12
             (20, 21)]                                          # pair
    df = spark.createDataFrame(edges, ["d1", "d2"])
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert all(got[n] == 1 for n in range(1, 8))
    assert all(got[n] == 10 for n in (10, 11, 12))
    assert got[20] == got[21] == 20
    assert len(got) == 12


def test_connected_components_unconverged_raises(spark, monkeypatch):
    """The distributed rounds raise, rather than return under-merged
    components, when max_iter ends them before the edge-set fixpoint."""
    from etl_mini_spark.operators import dedup

    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(1, 30)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, max_iter=2)


def test_connected_components_rejects_string_ids(spark):
    from etl_mini_spark.operators.dedup import connected_components

    df = spark.createDataFrame([("a", "b")], ["d1", "d2"])
    with pytest.raises(TypeError, match="integral node ids"):
        connected_components(df)


def test_star_components_chain_converges_in_log_rounds(spark, monkeypatch):
    """The distributed O(log n) alternation closes a 200-hop chain
    within 20 rounds — the case where min-label propagation would need
    200."""
    from etl_mini_spark.operators import dedup

    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    chain = [(i, i + 1) for i in range(1, 200)]
    df = spark.createDataFrame(chain, ["d1", "d2"])
    got = {r["node"]: r["comp"] for r in dedup.connected_components(df, max_iter=20).collect()}
    assert len(got) == 200
    assert all(c == 1 for c in got.values())


def test_star_components_match_label_propagation(spark, monkeypatch):
    """Differential: the distributed star alternation (forced by a zero
    UNION_FIND_MAX_EDGES) ≡ plain min-label propagation, run to its
    fixed point in Python, on a seeded random graph (mixed cliques,
    chains, singleton pairs)."""
    import random

    from etl_mini_spark.operators import dedup

    rng = random.Random(42)
    edges = {(rng.randrange(120), rng.randrange(120)) for _ in range(150)}
    edges = [(a, b) for a, b in edges if a != b]
    label = {n: n for e in edges for n in e}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    df = spark.createDataFrame(edges, ["d1", "d2"])
    got = {r["node"]: r["comp"] for r in dedup.connected_components(df).collect()}
    assert got == label


def test_star_components_small_graph_fast_path_matches_distributed(spark, monkeypatch):
    """The driver-side union-find path (edge count ≤
    UNION_FIND_MAX_EDGES) must be row-identical to the distributed
    large-star/small-star loop (forced by a zero bound) on mixed
    cliques, a long chain, self-loops and reversed duplicate edges."""
    import random

    from etl_mini_spark.operators import dedup

    rng = random.Random(7)
    edges = {(rng.randrange(80), rng.randrange(80)) for _ in range(90)}
    edges |= {(i, i + 1) for i in range(200, 230)}          # chain
    edges |= {(300, 300), (301, 301)}                       # self-loop singletons
    edges |= {(b, a) for a, b in list(edges)[:10]}          # reversed dups
    df = spark.createDataFrame(sorted(edges), ["d1", "d2"])
    fast = {(r["node"], r["comp"]) for r in dedup.connected_components(df).collect()}
    monkeypatch.setattr(dedup, "UNION_FIND_MAX_EDGES", 0)
    dist = {(r["node"], r["comp"]) for r in dedup.connected_components(df).collect()}
    assert fast == dist
    assert (300, 300) in fast and (301, 301) in fast


def test_merge_upsert_explicit_null_overwrites(spark):
    """ON CONFLICT DO UPDATE SET col = excluded.col overwrites with an
    explicit NULL (ref postgresql_service.py:213-229) — a coalesce-based
    merge would silently keep the stale target value."""
    from etl_mini_spark.operators.upsert import merge_upsert

    tgt = spark.createDataFrame([Row(k=1, a="A1", b="B1"), Row(k=2, a="A2", b="B2")])
    src = spark.createDataFrame(
        [(2, None, "B2x"), (3, None, "B3")], "k long, a string, b string"
    )
    out = {r["k"]: (r["a"], r["b"]) for r in
           merge_upsert(tgt, src, keys=["k"], update_columns=["a"]).collect()}
    # k=2 matched: a overwritten with explicit NULL, b untouched (not an
    # update column); k=3 inserted whole.
    assert out == {1: ("A1", "B1"), 2: (None, "B2"), 3: (None, "B3")}


def test_star_components_self_loop_nodes(spark):
    """Nodes present ONLY via self-loop edges must still be assigned
    (node, node)."""
    from etl_mini_spark.operators.dedup import connected_components

    df = spark.createDataFrame([(1, 2), (5, 5), (7, 7)], ["d1", "d2"])
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 5: 5, 7: 7}


def test_star_components_long_chain(spark):
    """A 1000-node chain (diameter 999) — the shape the registry's
    dedup_clusters path must survive on templated/boilerplate corpora,
    where label propagation would need ~diameter rounds
    (queries/coverage_ext.py dedup_clusters)."""
    from etl_mini_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(999)], ["d1", "d2"])
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert len(got) == 1000 and set(got.values()) == {0}


def test_gather_guard_raises_above_cap(spark):
    """The driver-gather similarity path must fail LOUDLY above its row
    cap instead of OOMing a 100 TB driver — the error names the
    distributed alternatives."""
    import pytest as _pytest

    from etl_mini_spark.operators.similarity import embedding_near_dup_pairs

    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0]) for i in range(5)]
    )
    with _pytest.raises(ValueError, match="embedding_near_dup_pairs_lsh"):
        embedding_near_dup_pairs(df, max_gather_rows=3).collect()


def test_check_expected_offset_observed_single_pass(spark, tmp_path):
    """The observed variant validates inside the caller's own action —
    no separate count() job — and raises after the action when any
    offset differs."""
    from etl_mini_spark.functions.time_fns import (
        UnexpectedOffsetError,
        check_expected_offset_observed,
    )

    bad = spark.createDataFrame(
        [Row(iso="2024-01-01T00:00:00Z"), Row(iso="2024-01-01T00:00:00+03:00")]
    )
    observed, raise_if_bad = check_expected_offset_observed(bad, "iso", "Z")
    observed.write.mode("overwrite").parquet(str(tmp_path / "staged"))
    with pytest.raises(UnexpectedOffsetError, match="1 rows"):
        raise_if_bad()

    clean = spark.createDataFrame([Row(iso="2024-01-01T00:00:00Z")])
    observed2, raise_if_bad2 = check_expected_offset_observed(clean, "iso", "Z")
    observed2.write.mode("overwrite").parquet(str(tmp_path / "staged2"))
    raise_if_bad2()  # no raise on clean data


def test_word_shingles_short_doc_empty(spark):
    from etl_mini_spark.operators.text import word_shingles

    df = spark.createDataFrame(
        [("a b c",), ("one two three four five",), ("", )], ["t"]
    ).select(word_shingles(F.col("t"), 4).alias("sh"))
    rows = [r.sh for r in df.collect()]
    assert rows[0] == []                       # 3 words < n=4
    assert rows[1] == ["one two three four", "two three four five"]
    assert rows[2] == []


def test_contamination_hits_counts_distinct_shingles(spark):
    from etl_mini_spark.operators.text import contamination_hits

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v"), (3, "a b c d q b c d e")],
        ["id", "text"],
    )
    bench = spark.createDataFrame([("a b c d",), ("b c d e",)], ["text"])
    out = {r.id: r.n_contaminated for r in
           contamination_hits(docs, bench, "id", "text", n=4).collect()}
    # doc 1 hits both bench shingles; doc 3 hits both too (at different
    # offsets); doc 2 hits none and must be absent, not zero
    assert out == {1: 2, 3: 2}


def test_mixture_sample_integer_threshold_edge(spark):
    from etl_mini_spark.operators.sampling import hash_bucket, mixture_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    buckets = df.select(hash_bucket(F.col("k")).alias("b"), "k").collect()
    thr = sorted(r.b for r in buckets)[1000]  # a threshold that IS a bucket value
    kept = mixture_sample(df, "k", F.lit(thr)).count()
    # strict < : the row whose bucket == thr is excluded
    assert kept == sum(1 for r in buckets if r.b < thr)


def test_incremental_dedup_removes_planted_only(spark):
    from etl_mini_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "Hello  world"), (2, "other doc")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [(10, "hello world"),      # dup of 1 after normalization
         (11, "fresh content"),
         (12, "OTHER   DOC")],     # dup of 2 after normalization
        ["doc_id", "text"],
    )
    out = incremental_dedup(batch, corpus, "text", "doc_id")
    assert [r.doc_id for r in out.collect()] == [11]


def test_stream_interval_join_rejects_overlapping_columns(spark):
    from etl_mini_spark.streaming.windows import stream_interval_join

    df = spark.createDataFrame([(1, "2024-01-01 00:00:00")], ["user_id", "ts"]) \
        .withColumn("ts", F.to_timestamp("ts"))
    with pytest.raises(ValueError, match="overlapping"):
        stream_interval_join(df, df, "user_id", "user_id", "ts", "ts")


def test_zorder_write_files_cover_disjoint_z_ranges(spark, tmp_path):
    from etl_mini_spark.operators.layout import morton_code, zorder_write
    from etl_mini_spark.session import load_table

    o = load_table(spark, "/root/testdata/sf0.001", "orders")
    x = F.col("o_custkey")
    y = F.expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
    out = str(tmp_path / "zorders")
    zorder_write(o, out, x, y, bits=10, num_files=4)

    import glob
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        part = spark.read.parquet(f)
        r = part.select(
            F.min(morton_code(x, y, 10)).alias("lo"),
            F.max(morton_code(x, y, 10)).alias("hi"),
        ).collect()[0]
        ranges.append((r.lo, r.hi))
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping z ranges: {ranges}"


def test_morton_code_interleaves_bits(spark):
    from etl_mini_spark.operators.layout import morton_code

    df = spark.createDataFrame([(0b101, 0b011)], ["x", "y"]).select(
        morton_code(F.col("x").cast("long"), F.col("y").cast("long"), 4).alias("z")
    )
    # x=101 (even positions), y=011 (odd positions) → z = 0b011011? compute:
    # bit i of x -> 2i ; bit i of y -> 2i+1
    # x bits: 1@0, 0@1, 1@2 -> z bits 1@0, 1@4 ; y bits: 1@0, 1@1 -> z bits 1@1, 1@3
    assert df.collect()[0].z == (1 << 0) | (1 << 4) | (1 << 1) | (1 << 3)


def test_corpus_tokenization_edge_docs_match_oracle(spark, tmp_path):
    """The shared whitespace-tokenization contract (lower → collapse
    ASCII whitespace → trim → split) must agree between Spark and
    DuckDB on the pathological inputs the sf testdata never contains:
    NULL text, empty text, whitespace-only text, exactly-7-token (one
    short of a span) and exactly-8-token docs, and tab/newline/CR runs.
    Pins dedup_repeated_spans and similarity_tfidf_pairs end-to-end on
    a planted fixture directory."""
    import pandas as pd

    from etl_mini_spark.queries import ORACLE, QUERIES
    from tests.oracle_harness import compare

    eight = "alpha beta gamma delta epsilon zeta eta theta"
    docs = pd.DataFrame(
        {
            "doc_id": list(range(1, 9)),
            "text": [
                None,                           # NULL → dropped by both
                "",                             # empty → dropped
                " \t\n\r  ",                    # whitespace-only → dropped
                "one two three four five six seven",   # 7 tokens: no span
                eight,                          # 8 tokens: exactly one span
                eight,                          # duplicate → span repeats
                "Alpha\tBETA  gamma\ndelta\r\nepsilon zeta ETA theta",  # same after normalize
                "unrelated words that form no span at all",
            ],
            "lang": ["en"] * 8,
            "source": ["fx"] * 8,
            "n_chars": [0] * 8,
        }
    )
    docs["n_chars"] = docs["text"].str.len().fillna(0).astype("int64")
    fx = tmp_path / "edge_sf"
    fx.mkdir()
    docs.to_parquet(fx / "documents.parquet")

    for name in ("dedup_repeated_spans", "similarity_tfidf_pairs"):
        df = QUERIES[name](spark, str(fx))
        ok, msg = compare(df, ORACLE[name], str(fx))
        assert ok, f"{name}: {msg}"

    spans = {
        r["doc_id"]: r
        for r in QUERIES["dedup_repeated_spans"](spark, str(fx)).collect()
    }
    # NULL/empty/whitespace-only/7-token docs are excluded; the three
    # 8-token variants of the same sentence (verbatim ×2 + mixed-case
    # with tab/newline/CRLF whitespace) all collapse to ONE span that
    # repeats, and the unrelated 8-token doc has a unique span.
    assert set(spans) == {5, 6, 7, 8}, spans
    for d in (5, 6, 7):
        assert (spans[d]["n_spans"], spans[d]["n_dup_spans"]) == (1, 1), spans[d]
    assert (spans[8]["n_spans"], spans[8]["n_dup_spans"]) == (1, 0), spans[8]


def test_kmeans_lloyd_matches_numpy_reference(spark):
    """The distributed Lloyd loop must walk the SAME trajectory as its
    pure-numpy twin (same deterministic init, update, and stop rules):
    converged centroids agree to ~1e-6 and assignments match on all
    non-boundary points."""
    import numpy as np

    from etl_mini_spark.operators.clustering import kmeans_lloyd, kmeans_reference
    from etl_mini_spark.session import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    assigned, cents, iters = kmeans_lloyd(emb, k=8, max_iters=25)
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    X = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ref_lab, ref_cents, ref_iters = kmeans_reference(ids, X, k=8, max_iters=25)

    assert abs(iters - ref_iters) <= 1, (iters, ref_iters)
    # centroid-set agreement (order is cluster index — same init, so same order)
    assert float(np.abs(cents - ref_cents).max()) < 1e-5, np.abs(cents - ref_cents).max()
    got = {r["vec_id"]: r["cluster"] for r in assigned.select("vec_id", "cluster").collect()}
    lab_by_id = dict(zip(ids.tolist(), ref_lab.tolist()))
    agree = sum(1 for i, c in got.items() if lab_by_id[i] == c)
    assert agree >= len(got) - 2, f"{agree}/{len(got)} assignments agree"
    assert set(got) == set(lab_by_id)


def test_embedding_lsh_auto_bits_scale_and_recall(spark):
    """Hyperplane-LSH bucket width must grow with the corpus (fixed
    12-bit buckets exploded to 245M candidates at 205k vectors in the
    round-6 stress probe). At 5k near-orthogonal vectors + 100 planted
    near-duplicates the auto default must find exactly the planted
    pairs — full recall, no false positives — in one bounded run."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.similarity import embedding_near_dup_pairs_lsh

    n, d = 5_000, 32
    vec = (
        f"transform(sequence(0, {d-1}), j -> "
        f"cast(((abs(xxhash64(id * {d} + j)) % 2000) / 1000.0 - 1.0) as float))"
    )
    base = spark.range(n).select(F.col("id").alias("vec_id"), F.expr(vec).alias("embedding"))
    pert = (
        f"transform(sequence(0, {d-1}), j -> "
        f"cast(((abs(xxhash64((id * 50) * {d} + j)) % 2000) / 1000.0 - 1.0)"
        f" + ((abs(xxhash64(id * 77 + j)) % 100) / 100000.0) as float))"
    )
    dups = spark.range(100).select((F.col("id") + n).alias("vec_id"), F.expr(pert).alias("embedding"))
    pairs = embedding_near_dup_pairs_lsh(base.unionByName(dups), threshold=0.95).collect()
    got = {(r["id1"], r["id2"]) for r in pairs}
    planted = {(i * 50, i + n) for i in range(100)}
    assert got == planted, (len(got), len(got & planted))


def test_incremental_state_merge_is_order_insensitive(spark):
    """Merging slice states in ANY order — and in one shot vs pairwise —
    must yield identical finalized metrics (associativity/commutativity
    of the state algebra)."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.incremental import (
        agg_state,
        finalize_agg_state,
        merge_agg_state,
    )

    rows = [("a", float(i % 17)) for i in range(100)] + [("b", float(i % 5)) for i in range(40)]
    df = spark.createDataFrame(rows, ["k", "v"])
    parts = [
        agg_state(df.filter(F.col("v") < 3), ["k"], "v"),
        agg_state(df.filter((F.col("v") >= 3) & (F.col("v") < 9)), ["k"], "v"),
        agg_state(df.filter(F.col("v") >= 9), ["k"], "v"),
    ]
    ab = merge_agg_state(merge_agg_state(parts[0], parts[1], ["k"]), parts[2], ["k"])
    ba = merge_agg_state(parts[2], merge_agg_state(parts[1], parts[0], ["k"]), ["k"])

    def snap(state):
        out = finalize_agg_state(state, ["k"]).orderBy("k").collect()
        return [(r["k"], r["cnt"], round(r["total"], 6), r["vmin"], r["vmax"],
                 round(r["vavg"], 6), round(r["vstddev"], 6)) for r in out]

    direct = snap(agg_state(df, ["k"], "v"))
    assert snap(ab) == snap(ba) == direct


def test_welford_state_merge_matches_direct_variance(spark):
    """Chan-merged (n, mean, M2) state across slices must reproduce the
    direct var_samp/avg — including on a HIGH-OFFSET series where the
    naive ss − s²/n identity visibly degrades (values ~1e9 with unit
    spread: ss ~1e18·n, var ~1; naive loses ~8 significant digits)."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.incremental import (
        agg_state_welford,
        finalize_agg_state_welford,
        merge_agg_state_welford,
    )

    base = 1.0e9
    rows = [("k", base + (i % 7) * 0.25) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"])
    parts = [
        agg_state_welford(df.limit(100), ["k"], "v"),
        agg_state_welford(df.offset(100).limit(250), ["k"], "v"),
        agg_state_welford(df.offset(350), ["k"], "v"),
    ]
    merged = merge_agg_state_welford(
        parts[0], merge_agg_state_welford(parts[1], parts[2], ["k"]), ["k"]
    )
    got = finalize_agg_state_welford(merged, ["k"]).collect()[0]
    want = df.agg(
        F.count("v").alias("cnt"), F.avg("v").alias("vavg"), F.stddev_samp("v").alias("sd")
    ).collect()[0]
    assert got["cnt"] == want["cnt"]
    assert abs(got["vavg"] - want["vavg"]) < 1e-3
    assert abs(got["vstddev"] - want["sd"]) / want["sd"] < 1e-6, (got["vstddev"], want["sd"])


def test_ivf_partitioned_layout_prunes_scan_and_matches_unpartitioned(spark, tmp_path):
    """write_ivf_partitioned closes the docstring promise of
    cosine_topk_ivf: the corpus is materialized partitionBy(cell), the
    routed read carries a static cell IN (...) partition filter, and
    (a) the pruned scan reads STRICTLY fewer files than the layout
    holds, (b) scan files grow with nprobe (more routed cells → more
    bytes — the scan-bytes-scale-with-nprobe contract), and (c) results
    are row-identical to cosine_topk_ivf on the unpartitioned corpus
    with the same centroids."""
    from etl_mini_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_ivf_partitioned,
        train_ivf_centroids,
        write_ivf_partitioned,
    )
    from etl_mini_spark.session import load_table

    from etl_mini_spark.plans.explain import scan_read_metrics

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") % 211 == 0).limit(3)
    layout = str(tmp_path / "ivf_layout")
    C = write_ivf_partitioned(emb, layout, n_cells=16)

    full = scan_read_metrics(spark.read.parquet(layout))
    assert full["numPartitions"] == 16
    kwargs = dict(k=5, id_col="vec_id", vec_col="embedding", probe_id_col="probe_id")

    got = cosine_topk_ivf_partitioned(spark, layout, probes, C, nprobe=4, **kwargs)
    # PartitionFilters on the scan, not a post-scan filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan
    read4 = scan_read_metrics(got)
    assert 0 < read4["numFiles"] < full["numFiles"], (read4, full)
    assert read4["filesSize"] < full["filesSize"]
    assert read4["numPartitions"] <= 3 * 4  # ≤ probes × nprobe routed cells

    read1 = scan_read_metrics(
        cosine_topk_ivf_partitioned(spark, layout, probes, C, nprobe=1, **kwargs)
    )
    assert read1["numFiles"] < read4["numFiles"], (read1, read4)

    want = cosine_topk_ivf(emb, probes, nprobe=4, centroids=C, n_cells=16, **kwargs)
    snap = lambda df: sorted(  # noqa: E731
        (r["probe_id"], r["neighbor_id"], round(r["cosine"], 6)) for r in df.collect()
    )
    assert snap(got) == snap(want)


def test_budget_cap_sharded_keeps_null_group(spark):
    """Regression (round-7 advice): the sharded path's offset join must
    be null-safe — [('a',1),(None,2),(None,3)] used to come back as
    only ('a',1) while the window path kept the NULL group."""
    from etl_mini_spark.operators.sampling import budget_cap

    df = spark.createDataFrame(
        [("a", 1, 5), (None, 2, 5), (None, 3, 5)], schema="g string, k bigint, wt bigint"
    )
    def snap(sharded):
        out = budget_cap(df, ["g"], "wt", 100, "k", sharded=sharded)
        return sorted(
            ((r["g"], r["k"], r["wt"], r["cum_weight"]) for r in out.collect()),
            key=lambda t: (t[0] is None, t[0], t[1]),
        )
    got, want = snap(True), snap(False)
    assert got == want and len(got) == 3, (got, want)


def test_finalize_agg_state_constant_key_stddev_is_zero(spark):
    """Regression (round-7 advice): for constant-valued keys the
    ss − s²/n cancellation can land slightly NEGATIVE and sqrt gave NaN
    where the direct aggregate returns 0.0. With the clamp the result
    must be a number that agrees with the direct 0.0 at the hash-parity
    rounding (6 dp); the residue itself stays ≲1e-8 (sqrt of the ~1e-17
    cancellation noise the finalize docstring quantifies)."""
    import math

    from etl_mini_spark.operators.incremental import agg_state, finalize_agg_state

    df = spark.createDataFrame([("k", 0.1)] * 1000, ["k", "v"])
    row = finalize_agg_state(agg_state(df, ["k"], "v"), ["k"]).collect()[0]
    assert not math.isnan(row["vstddev"]), "clamp missing: sqrt(negative) -> NaN"
    assert round(row["vstddev"], 6) == 0.0, row["vstddev"]


def test_welford_merge_keeps_null_key_state(spark):
    """Regression (round-7 advice): merge_agg_state_welford's totals
    join must be null-safe so NULL-key state groups survive the merge,
    matching merge_agg_state/compact_agg_state semantics."""
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.incremental import (
        agg_state_welford,
        finalize_agg_state_welford,
        merge_agg_state_welford,
    )

    rows = [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 14.0), (None, 18.0)]
    df = spark.createDataFrame(rows, schema="k string, v double")
    a = agg_state_welford(df.filter(F.col("v") <= 3.0), ["k"], "v")
    b = agg_state_welford(df.filter(F.col("v") > 3.0), ["k"], "v")
    merged = finalize_agg_state_welford(merge_agg_state_welford(a, b, ["k"]), ["k"])
    got = {r["k"]: (r["cnt"], round(r["vavg"], 6), round(r["vstddev"], 6)) for r in merged.collect()}
    want_rows = df.groupBy("k").agg(
        F.count("v").alias("cnt"), F.avg("v").alias("vavg"), F.stddev_samp("v").alias("sd")
    ).collect()
    want = {r["k"]: (r["cnt"], round(r["vavg"], 6), round(r["sd"], 6)) for r in want_rows}
    assert got == want, (got, want)


def test_prefix_join_preflight_flags_df_flat_passes_zipf(spark):
    """Round-13 verdict item: the PPJoin prefix filter's documented
    df-flat degeneracy gets an in-code guard. A flat corpus (every doc
    shares the same tiny vocabulary) must raise with the MinHash
    swap-in pointer; a zipf-tailed corpus (mostly-rare tokens) must
    pass; 'warn'/'stat' modes never raise."""
    import pytest as _pytest

    from etl_mini_spark.operators.dedup import prefix_join_preflight

    flat = spark.createDataFrame(
        [(d, f"tok{t}") for d in range(200) for t in range(5)],
        "doc_id int, tok string",
    )
    with _pytest.raises(ValueError, match="minhash_lsh"):
        prefix_join_preflight(flat, max_avg_candidates=64.0)
    stats = prefix_join_preflight(flat, max_avg_candidates=64.0, mode="stat")
    assert stats["avg_candidates"] > 64.0

    # zipf-ish: each doc carries mostly unique tokens + one common one
    zipf = spark.createDataFrame(
        [(d, f"rare_{d}_{t}") for d in range(200) for t in range(4)]
        + [(d, "common") for d in range(200)],
        "doc_id int, tok string",
    )
    # prefix postings = the rare end only (as setjoin_prefix_filter feeds)
    prefix = zipf.filter("tok != 'common'")
    s = prefix_join_preflight(prefix, max_avg_candidates=64.0)
    assert s["avg_candidates"] < 1.0, s


def test_decode_media_stub_batch_shape(spark):
    """Round-14 retirement contract: the legacy `multimodal_decode`
    registry entry is gone, but the stub kernel remains the documented
    drop-in batch shape for heavy production decoders — pin its
    mapInPandas schema, NULL passthrough, and deterministic dims so a
    real decoder can be swapped in against a frozen interface."""
    import hashlib

    from etl_mini_spark.operators.multimodal import decode_media

    payload = b"\x89fakebytes" * 3
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "media_id long, payload binary"
    )
    out = decode_media(df, "media_id")
    assert [f.name for f in out.schema.fields] == [
        "media_id", "n_bytes", "sha256", "width", "height", "n_frames",
    ]
    rows = {r["media_id"]: r for r in out.collect()}
    r1, r2 = rows[1], rows[2]
    assert r1["n_bytes"] == len(payload)
    assert r1["sha256"] == hashlib.sha256(payload).hexdigest()
    # deterministic stub dims (what the retired oracle reproduced)
    assert (r1["width"], r1["height"], r1["n_frames"]) == (
        len(payload) % 640 + 1, (len(payload) * 7) % 480 + 1, len(payload) % 16 + 1,
    )
    # NULL payload → NULL metadata row, never a task crash
    assert all(r2[c] is None for c in ["n_bytes", "sha256", "width", "height", "n_frames"])


def test_intersect_except_all_match_duckdb(spark):
    """The DataFrame bag set-ops (intersectAll / exceptAll) against
    DuckDB's INTERSECT ALL / EXCEPT ALL on an sf0.001 events slice
    whose (user, type) rows repeat: per-row multiplicities must agree.
    set_ops_all computes the same multiplicities without these
    operators, so this is their only oracle check."""
    from etl_mini_spark.session import load_table
    from tests.oracle_harness import duck_connection

    ev = load_table(spark, SF_SMOKE, "events").filter("event_id < 600")
    a = ev.filter("event_id % 3 <> 0").select("user_id", "event_type")
    b = ev.filter("event_id % 2 <> 0").select("user_id", "event_type")
    con = duck_connection(SF_SMOKE)
    try:
        for name, got_df, op in (
            ("intersect", a.intersectAll(b), "INTERSECT ALL"),
            ("except", a.exceptAll(b), "EXCEPT ALL"),
        ):
            got = {
                (r["user_id"], r["event_type"]): r["n"]
                for r in got_df.groupBy("user_id", "event_type").count()
                .withColumnRenamed("count", "n").collect()
            }
            want = {
                (u, t): n
                for u, t, n in con.execute(f"""
                    SELECT user_id, event_type, count(*) FROM (
                      SELECT user_id, event_type FROM events
                       WHERE event_id < 600 AND event_id % 3 <> 0
                      {op}
                      SELECT user_id, event_type FROM events
                       WHERE event_id < 600 AND event_id % 2 <> 0)
                    GROUP BY 1, 2""").fetchall()
            }
            assert got == want, name
            assert any(n > 1 for n in want.values()), name  # multiplicity exercised
    finally:
        con.close()


# --- superstep driver (operators/graph.py) ----------------------------------


def _counter_state(spark, x=0):
    return spark.createDataFrame([(x,)], "x int")


def _incr(df):
    return df.select((F.col("x") + 1).alias("x"))


def test_iterate_stops_when_until_holds(spark):
    from etl_mini_spark.operators.graph import iterate

    steps = []

    def step(df):
        steps.append(1)
        return _incr(df)

    out = iterate(
        _counter_state(spark), step, max_iter=10,
        until=lambda prev, cur: cur.first()["x"] >= 3,
    )
    assert out.first()["x"] == 3 and len(steps) == 3


def test_iterate_checks_until_only_at_checkpoints(spark):
    from etl_mini_spark.operators.graph import iterate

    seen = []

    def until(prev, cur):
        seen.append((prev.first()["x"], cur.first()["x"]))
        return cur.first()["x"] >= 5

    out = iterate(_counter_state(spark), _incr, max_iter=10, until=until, checkpoint_every=2)
    # prev is the previous checkpoint (the initial state first), and the
    # loop overshoots to the first checkpoint at which until holds
    assert seen == [(0, 2), (2, 4), (4, 6)] and out.first()["x"] == 6


def test_iterate_raises_when_never_converged(spark):
    from etl_mini_spark.operators.graph import iterate

    with pytest.raises(RuntimeError, match="did not converge in 3 supersteps"):
        iterate(_counter_state(spark), _incr, max_iter=3, until=lambda prev, cur: False)
    # without until, max_iter supersteps is the contract, not a failure
    assert iterate(_counter_state(spark), _incr, max_iter=3).first()["x"] == 3


def test_loop_confs_restored_after_step_raises(spark):
    from etl_mini_spark.operators.graph import iterate, loop_confs

    before = {
        k: spark.conf.get(k)
        for k in ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    }
    inside = {}

    def step(df):
        inside.update({k: spark.conf.get(k) for k in before})
        raise ValueError("step failed")

    with pytest.raises(ValueError, match="step failed"):
        with loop_confs(spark, 3):
            iterate(_counter_state(spark), step, max_iter=5)
    assert inside == {
        "spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": "3"
    }
    assert {k: spark.conf.get(k) for k in before} == before


def test_iterate_pins_through_session_pin(spark, monkeypatch, tmp_path):
    """Every checkpoint goes through session.pin, so the
    SPARK_GRAFT_RELIABLE_CHECKPOINT switch reaches superstep loops:
    with it set, no localCheckpoint runs at all. Only DataFrames a
    superstep produced anew are pinned; carried-over ones are not."""
    from etl_mini_spark import session
    from etl_mini_spark.operators.graph import bfs_circulant, iterate

    pins = []
    real_pin = session.pin

    def counting_pin(df, eager=True):
        pins.append(df)
        return real_pin(df, eager)

    monkeypatch.setattr(session, "pin", counting_pin)
    carried = _counter_state(spark, 100)
    out = iterate(
        (_counter_state(spark), carried, "tag"),
        lambda s: (_incr(s[0]), s[1], s[2]),
        max_iter=5, checkpoint_every=2,
    )
    assert len(pins) == 3  # supersteps 2, 4 and the last (5)
    assert out[1] is carried and out[2] == "tag" and out[0].first()["x"] == 5

    # a ported operator: BFS on a 12-node ring reaches distance 6 in 6
    # levels + 1 empty level, one pin each
    pins.clear()
    assert max(r["d"] for r in bfs_circulant(12, [1]).collect()) == 6
    assert len(pins) == 7

    def no_local(self, eager=True):
        raise AssertionError("localCheckpoint under SPARK_GRAFT_RELIABLE_CHECKPOINT")

    reliable = []
    frame_cls = type(carried)  # the session's concrete DataFrame class
    real_checkpoint = frame_cls.checkpoint

    def spy_checkpoint(self, eager=True):
        reliable.append(self)
        return real_checkpoint(self, eager)

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", str(tmp_path))
    monkeypatch.setattr(frame_cls, "localCheckpoint", no_local)
    monkeypatch.setattr(frame_cls, "checkpoint", spy_checkpoint)
    pins.clear()
    out = iterate(_counter_state(spark), _incr, max_iter=3)
    assert out.first()["x"] == 3
    assert len(pins) == 3 and len(reliable) == 3
    assert spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
