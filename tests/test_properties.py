"""Property-based differential tests (hypothesis): core custom
operators vs INDEPENDENT references (pandas implementations with the
same declared semantics) over randomized small inputs — the class of
edge case (empty groups, all-ties, single rows, unmatched keys) that
fixed fixtures under-sample.

Example counts are deliberately small: each example runs Spark jobs.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small key/time domains force collisions, ties, and empty groups
_keys = st.integers(min_value=0, max_value=3)
_times = st.integers(min_value=0, max_value=20)
_vals = st.integers(min_value=-5, max_value=5)


@given(
    left=st.lists(st.tuples(_keys, _times), min_size=0, max_size=15),
    right=st.lists(st.tuples(_keys, _times, _vals), min_size=0, max_size=15),
)
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join (backward, allow_exact) ≡ pandas.merge_asof per key.
    Right times are deduped per key so tie-resolution differences
    cannot mask a real mismatch."""
    from etl_mini_spark.operators.joins import asof_join

    rd = pd.DataFrame(right, columns=["k", "rt", "rv"]).drop_duplicates(["k", "rt"])
    ld = pd.DataFrame(left, columns=["k", "t"])
    ld["lid"] = range(len(ld))

    lsdf = spark.createDataFrame(ld) if len(ld) else None
    if lsdf is None or len(rd) == 0:
        return  # merge_asof needs non-empty frames; nothing to compare
    rsdf = spark.createDataFrame(rd)
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            lsdf, rsdf, on=["k"], left_time="t", right_time="rt",
            right_cols=["rv"], tiebreak="rt",
        ).collect()
    }
    want_df = pd.merge_asof(
        ld.sort_values(["t", "lid"]), rd.sort_values("rt"),
        left_on="t", right_on="rt", by="k", direction="backward",
    )
    want = {
        int(r.lid): (None if pd.isna(r.rv) else int(r.rv))
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    left=st.lists(st.tuples(_keys, _times), min_size=0, max_size=15),
    right=st.lists(st.tuples(_keys, _times, _vals), min_size=0, max_size=15),
    bucketed=st.booleans(),
)
@settings(**SETTINGS)
def test_asof_join_forward_matches_pandas_merge_asof(spark, left, right, bucketed):
    """asof_join(direction="forward") ≡ pandas.merge_asof
    direction="forward" per key, on both the plain and the
    time-bucketed skew path (times are integers here, so bucketing
    uses a numeric width)."""
    from etl_mini_spark.operators.joins import asof_join

    rd = pd.DataFrame(right, columns=["k", "rt", "rv"]).drop_duplicates(["k", "rt"])
    ld = pd.DataFrame(left, columns=["k", "t"])
    ld["lid"] = range(len(ld))
    if len(ld) == 0 or len(rd) == 0:
        return
    # integer times: the bucketed path needs timestamps for unix_micros
    ld["t"] = pd.to_datetime(ld["t"], unit="s")
    rd["rt"] = pd.to_datetime(rd["rt"], unit="s")
    lsdf, rsdf = spark.createDataFrame(ld), spark.createDataFrame(rd)
    kwargs = dict(on=["k"], left_time="t", right_time="rt",
                  right_cols=["rv"], tiebreak="rt", direction="forward")
    if bucketed:
        kwargs["bucket_seconds"] = 7  # several buckets over the 0-20s domain
    got = {r["lid"]: r["rv"] for r in asof_join(lsdf, rsdf, **kwargs).collect()}
    want_df = pd.merge_asof(
        ld.sort_values(["t", "lid"]), rd.sort_values("rt"),
        left_on="t", right_on="rt", by="k", direction="forward",
    )
    want = {
        int(r.lid): (None if pd.isna(r.rv) else int(r.rv))
        for r in want_df.itertuples()
    }
    assert got == want


@given(
    rows=st.lists(st.tuples(_keys, _times, _vals), min_size=0, max_size=20),
)
@settings(**SETTINGS)
def test_ordered_dedup_directed_order_matches_pandas_keep_first(spark, rows):
    """ordered_dedup ≡ sort_values + drop_duplicates(keep='first') with
    a total order (ties broken by the value column) — the reference's
    D1 semantics (pandas_select_and_enrich.py:52-57)."""
    from etl_mini_spark.operators.dedup import ordered_dedup

    if not rows:
        return
    pdf = pd.DataFrame(rows, columns=["k", "o", "v"])
    sdf = spark.createDataFrame(pdf)
    got = {
        (r["k"], r["o"], r["v"])
        for r in ordered_dedup(sdf, ["k"], [("o", "asc"), ("v", "asc")]).collect()
    }
    want_df = pdf.sort_values(["o", "v"], kind="mergesort").drop_duplicates(
        ["k"], keep="first"
    )
    want = {(r.k, r.o, r.v) for r in want_df.itertuples()}
    assert got == want


@given(
    left=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=15),
    right=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=15),
    salts=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_salted_join_row_identical_to_plain_join(spark, left, right, salts):
    """salted_join must be row-identical (as a multiset) to the plain
    join for ANY salt count — including duplicate keys on both sides,
    where the join multiplicity must survive the salting."""
    from collections import Counter

    from etl_mini_spark.operators.joins import salted_join

    if not left or not right:
        return
    l = spark.createDataFrame(pd.DataFrame(left, columns=["k", "lv"]))
    r = spark.createDataFrame(pd.DataFrame(right, columns=["k", "rv"]))
    plain = Counter(
        (x["k"], x["lv"], x["rv"]) for x in l.join(r, "k").collect()
    )
    salted = Counter(
        (x["k"], x["lv"], x["rv"]) for x in salted_join(l, r, ["k"], salts=salts).collect()
    )
    assert salted == plain


@given(
    target=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=8),
    source=st.lists(st.tuples(_keys, _vals), min_size=0, max_size=8),
)
@settings(**SETTINGS)
def test_merge_upsert_matches_dict_semantics(spark, target, source):
    """merge_upsert(update) ≡ dict.update keyed on k (last source row
    per key wins is NOT assumed — source is deduped first, matching the
    operator's unique-key contract; ON CONFLICT DO UPDATE semantics,
    ref postgresql_service.py:213-229)."""
    from etl_mini_spark.operators.upsert import merge_upsert

    tgt = pd.DataFrame(target, columns=["k", "v"]).drop_duplicates(["k"], keep="first")
    src = pd.DataFrame(source, columns=["k", "v"]).drop_duplicates(["k"], keep="first")
    if len(tgt) == 0:
        return  # operator contract: existing target table
    t = spark.createDataFrame(tgt)
    s = spark.createDataFrame(src) if len(src) else spark.createDataFrame([], t.schema)
    got = {r["k"]: r["v"] for r in merge_upsert(t, s, ["k"]).collect()}
    want = dict(zip(tgt.k, tgt.v))
    want.update(dict(zip(src.k, src.v)))
    assert got == want


@given(
    series=st.lists(st.floats(min_value=-4, max_value=4, allow_nan=False, allow_infinity=False),
                    min_size=1, max_size=25),
)
@settings(**SETTINGS)
def test_cusum_window_identity_matches_recursion(spark, series):
    """The declarative CUSUM rewrite S+_t = C_t − min(0, min_{i≤t} C_i)
    (two stacked window scans) must equal the literal textbook
    recursion S+_t = max(0, S+_{t-1} + z_t − k) on arbitrary series —
    the identity is the whole reason the operator needs no loop/UDF."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    k = 0.5
    # reference: run the recursion in plain Python
    want, s = [], 0.0
    for z in series:
        s = max(0.0, s + z - k)
        want.append(round(s, 6))

    df = spark.createDataFrame([(i, z) for i, z in enumerate(series)], ["i", "z"])
    wo = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    got = [
        round(r["sp"], 6)
        for r in df.withColumn("ct", F.sum(F.col("z") - k).over(wo))
        .withColumn("mn", F.least(F.lit(0.0), F.min("ct").over(wo)))
        .select("i", (F.col("ct") - F.col("mn")).alias("sp"))
        .orderBy("i")
        .collect()
    ]
    assert got == pytest.approx(want, abs=1e-6)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", None]), st.integers(0, 500), st.integers(1, 30)),
        min_size=0, max_size=40),
    budget=st.integers(min_value=0, max_value=120),
)
@settings(**SETTINGS)
def test_budget_cap_equivalence_randomized(spark, rows, budget):
    """budget_cap (two-pass sharded prefix sum) ≡ the naive one-window
    cumsum for random groups/weights/budgets — including duplicate
    keys, empty inputs, budgets of zero, and NULL group keys (the
    sharded path's offset join must be null-safe: a name-list join
    silently dropped the NULL-key group while the window path kept
    it)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_mini_spark.operators.sampling import budget_cap

    dd = pd.DataFrame(rows, columns=["g", "k", "wt"]).drop_duplicates(["g", "k"])
    if len(dd) == 0:
        return
    df = spark.createDataFrame(dd, schema="g string, k bigint, wt bigint")
    ordkey = lambda r: (r["g"] is None, r["g"], r["k"])  # noqa: E731
    got = sorted(budget_cap(df, ["g"], "wt", budget, "k", salt="p", cum_col="cum").collect(),
                 key=ordkey)

    h = F.md5(F.concat_ws(":", F.col("k").cast("string"), F.lit("p")))
    w = Window.partitionBy("g").orderBy(h, "k").rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(df.withColumn("cum", F.sum("wt").over(w)).filter(F.col("cum") <= budget).collect(),
                  key=ordkey)
    assert got == want


@given(
    target=st.lists(st.tuples(_keys, _vals, _vals), min_size=0, max_size=12),
    source=st.lists(
        st.tuples(_keys, st.one_of(st.none(), _vals), st.one_of(st.none(), _vals)),
        min_size=0,
        max_size=12,
    ),
    action=st.sampled_from(["update", "nothing"]),
)
@settings(**SETTINGS)
def test_merge_upsert_partial_columns_and_explicit_null(spark, target, source, action):
    """merge_upsert with update_columns=['a'] vs a dict reference:
    colliding rows take source 'a' EVEN WHEN IT IS NULL (the excluded.col
    contract) while keeping target 'b'; 'nothing' keeps target rows
    untouched; unmatched source rows append whole."""
    from etl_mini_spark.operators.upsert import merge_upsert

    tgt = {k: (a, b) for k, a, b in target}   # key-deduped, last wins
    src = {k: (a, b) for k, a, b in source}
    if not tgt or not src:
        return

    want = dict(tgt)
    for k, (a, b) in src.items():
        if k in want:
            if action == "update":
                want[k] = (a, want[k][1])   # src a (even None), tgt b kept
        else:
            want[k] = (a, b)

    t = spark.createDataFrame([(k, a, b) for k, (a, b) in tgt.items()], "k int, a int, b int")
    s = spark.createDataFrame([(k, a, b) for k, (a, b) in src.items()], "k int, a int, b int")
    out = merge_upsert(t, s, ["k"], update_columns=["a"], conflict_action=action)
    got = {r["k"]: (r["a"], r["b"]) for r in out.collect()}
    assert got == want


@given(
    rows=st.lists(st.tuples(_keys, _times, st.integers(0, 1000)), min_size=0, max_size=25),
)
@settings(**SETTINGS)
def test_ordered_dedup_matches_pandas_keep_first(spark, rows):
    """ordered_dedup ≡ pandas sort_values + drop_duplicates(keep='first')
    under the same (t, uid) total order — including all-duplicate keys,
    ties on t (broken by uid), and empty input."""
    from etl_mini_spark.operators.dedup import ordered_dedup

    dd = pd.DataFrame(rows, columns=["k", "t", "v"])
    dd["uid"] = range(len(dd))
    if dd.empty:
        return
    want = (
        dd.sort_values(["t", "uid"], kind="mergesort")
        .drop_duplicates("k", keep="first")
        .set_index("k")["uid"]
        .to_dict()
    )
    df = spark.createDataFrame(dd)
    got = {r["k"]: r["uid"] for r in ordered_dedup(df, ["k"], ["t", "uid"]).collect()}
    assert got == want


@given(
    left=st.lists(st.tuples(_keys, _times), min_size=1, max_size=15),
    right=st.lists(st.tuples(_keys, _times, _vals), min_size=1, max_size=15),
    tol=st.integers(min_value=0, max_value=6),
    direction=st.sampled_from(["backward", "forward"]),
)
@settings(**SETTINGS)
def test_asof_tolerance_matches_pandas(spark, left, right, tol, direction):
    """asof_join(tolerance_seconds=...) ≡ pandas.merge_asof(tolerance=...)
    in both directions: matches farther than the bound are nulled."""
    import pandas as _pd

    from etl_mini_spark.operators.joins import asof_join

    rd = pd.DataFrame(right, columns=["k", "rt", "rv"]).drop_duplicates(["k", "rt"])
    ld = pd.DataFrame(left, columns=["k", "t"])
    ld["lid"] = range(len(ld))
    ldt = ld.assign(t=_pd.to_datetime(ld["t"], unit="s")).sort_values("t")
    rdt = rd.assign(rt=_pd.to_datetime(rd["rt"], unit="s")).sort_values("rt")
    want = {
        r["lid"]: None if _pd.isna(r["rv"]) else int(r["rv"])
        for _, r in _pd.merge_asof(
            ldt, rdt, left_on="t", right_on="rt", by="k",
            direction=direction, tolerance=_pd.Timedelta(seconds=tol),
        ).iterrows()
    }
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            spark.createDataFrame(ldt),
            spark.createDataFrame(rdt),
            on=["k"],
            left_time="t",
            right_time="rt",
            right_cols=["rv"],
            tiebreak="rv",
            direction=direction,
            tolerance_seconds=float(tol),
        ).collect()
    }
    assert got == want


@given(
    left=st.lists(st.tuples(_keys, _times), min_size=1, max_size=15),
    right=st.lists(st.tuples(_keys, _times, _vals), min_size=1, max_size=15),
    bucketed=st.booleans(),
)
@settings(**SETTINGS)
def test_asof_nearest_matches_pandas(spark, left, right, bucketed):
    """asof_join(direction='nearest') ≡ pandas.merge_asof nearest —
    closer side wins, exact matches and backward ties included — on
    both the plain path and the time-bucketed skew path (two direction
    passes over the same (key, bucket) partitioning)."""
    import pandas as _pd

    from etl_mini_spark.operators.joins import asof_join

    rd = pd.DataFrame(right, columns=["k", "rt", "rv"]).drop_duplicates(["k", "rt"])
    ld = pd.DataFrame(left, columns=["k", "t"])
    ld["lid"] = range(len(ld))
    ldt = ld.assign(t=_pd.to_datetime(ld["t"], unit="s")).sort_values("t")
    rdt = rd.assign(rt=_pd.to_datetime(rd["rt"], unit="s")).sort_values("rt")
    want = {
        r["lid"]: None if _pd.isna(r["rv"]) else int(r["rv"])
        for _, r in _pd.merge_asof(
            ldt, rdt, left_on="t", right_on="rt", by="k", direction="nearest"
        ).iterrows()
    }
    kwargs = dict(
        on=["k"], left_time="t", right_time="rt", right_cols=["rv"],
        tiebreak="rv", direction="nearest",
    )
    if bucketed:
        kwargs["bucket_seconds"] = 7  # several buckets over the 0-20s domain
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(
            spark.createDataFrame(ldt), spark.createDataFrame(rdt), **kwargs
        ).collect()
    }
    assert got == want


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=40, unique=True),
    w_train=st.integers(min_value=1, max_value=8),
)
@settings(**SETTINGS)
def test_split_assign_disjoint_exhaustive_deterministic(spark, keys, w_train):
    """split_assign: every key lands in exactly one split, assignment
    is a pure function of the key (re-running yields the same split),
    and renaming/shuffling rows cannot move a key between splits."""
    from etl_mini_spark.operators.sampling import split_assign

    weights = {"train": w_train / 10, "test": 1 - w_train / 10}
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    a = {r["k"]: r["split"] for r in split_assign(df, "k", weights).collect()}
    b = {
        r["k"]: r["split"]
        for r in split_assign(df.repartition(7), "k", weights).collect()
    }
    assert set(a) == set(keys)
    assert all(v in weights for v in a.values())
    assert a == b


@given(
    rows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=0, max_size=40),
    k=st.integers(min_value=1, max_value=5),
)
@settings(**SETTINGS)
def test_stratified_take_exact_k_and_stable(spark, rows, k):
    """stratified_take: exactly min(k, |stratum|) rows per stratum, and
    the SAME rows regardless of partitioning."""
    from collections import Counter

    from etl_mini_spark.operators.sampling import stratified_take

    dd = pd.DataFrame(rows, columns=["g", "id"]).drop_duplicates(["g", "id"])
    if dd.empty:
        return
    df = spark.createDataFrame(dd)
    got = stratified_take(df, ["g"], k, "id")
    picked = [(r["g"], r["id"]) for r in got.collect()]
    sizes = Counter(dd["g"])
    per = Counter(g for g, _ in picked)
    assert all(per[g] == min(k, n) for g, n in sizes.items()), (per, sizes)
    again = {(r["g"], r["id"]) for r in stratified_take(df.repartition(5), ["g"], k, "id").collect()}
    assert set(picked) == again
