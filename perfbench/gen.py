"""Seeded input generators for the benchmark.

Every table matches the shape of the engine's TPC-H-ish test tables
(column names, types and value distributions), so every registry query
the workloads run sees the inputs it was written for. The same seed
gives byte-identical parquet files: each table draws from its own
child of one ``SeedSequence`` and the files are written without
wall-clock metadata.
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.1475, 0.41, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30
_US_PER_DAY = 86_400_000_000


def _epoch_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days(rng, lo: datetime, hi: datetime, n: int) -> pa.Array:
    d0, d1 = _epoch_us(lo) // _US_PER_DAY, _epoch_us(hi) // _US_PER_DAY
    return _ts(rng.integers(d0, d1 + 1, n) * _US_PER_DAY)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def tpch_tables(rng_for, sf: float) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = rng_for("customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, _SEGMENTS, n_cust),
    })
    r = rng_for("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = rng_for("part")
    keys = np.arange(n_part, dtype="int64")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, _PTYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    r = rng_for("orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(r, datetime(1995, 1, 1), datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(r, _PRIORITIES, n_ord),
    })
    r = rng_for("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li).astype("int32"),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(r, ["F", "O"], n_li),
        "l_shipdate": _days(r, datetime(1995, 1, 2), datetime(2001, 11, 4), n_li),
    })
    return out


def events_table(r, n: int, n_users: int) -> pa.Table:
    """Event stream over 30 days: ids in ts order, exponential values,
    a small JSON ``props`` payload."""
    start = _epoch_us(EVENTS_START)
    ts = np.sort(r.integers(start, start + EVENTS_DAYS * _US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": r.integers(0, n_users, n),
        "event_type": _pick(r, _EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def documents_table(r, n: int, near_dup_frac: float = 0.05) -> pa.Table:
    """Bag-of-words documents from a 30-word vocabulary, 10-99 words
    each. ``near_dup_frac`` of them copy an earlier document and append
    the word ``dup``, so the Jaccard/MinHash ops find pairs."""
    lengths = r.integers(10, 100, n)
    words = np.asarray(_VOCAB, dtype=object)[r.integers(0, len(_VOCAB), int(lengths.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n)]
    n_dup = int(n * near_dup_frac)
    dup_at = np.sort(r.choice(np.arange(1, n), n_dup, replace=False))
    for i in dup_at:
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": _pick(r, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def embeddings_table(r, n: int, near_dup_frac: float = 0.0) -> pa.Table:
    """Unit-norm Gaussian 64-d vectors (pairwise cosine ~ N(0, 1/64), so
    threshold joins stay small). ``near_dup_frac`` of them are an earlier
    vector plus small noise (cosine ~0.98 to their source)."""
    v = r.standard_normal((n, EMBED_DIM))
    n_dup = int(n * near_dup_frac)
    if n_dup:
        dup_at = np.sort(r.choice(np.arange(1, n), n_dup, replace=False))
        src = (r.random(n_dup) * dup_at).astype(int)
        v[dup_at] = v[src] + 0.2 * r.standard_normal((n_dup, EMBED_DIM)) * np.linalg.norm(
            v[src], axis=1, keepdims=True) / np.sqrt(EMBED_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    emb = pa.ListArray.from_arrays(
        np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype="int32"), pa.array(v.ravel()))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": emb,
        "label": r.integers(0, 10, n).astype("int32"),
    })


def incremental_source(r, n: int, n_users: int, resend_frac: float = 0.1) -> pa.Table:
    """Events whose ``resend_frac`` of rows re-send an earlier event_id
    with a later ts and a new value: an upsert sink must keep the last."""
    base = events_table(r, n - int(n * resend_frac), n_users)
    n_re = int(n * resend_frac)
    ts = base.column("ts").cast(pa.int64()).to_numpy()
    end = _epoch_us(EVENTS_START) + EVENTS_DAYS * _US_PER_DAY
    src = r.integers(0, base.num_rows, n_re)
    re_ts = ts[src] + (r.random(n_re) * (end - ts[src])).astype("int64")
    resend = pa.table({
        "event_id": base.column("event_id").take(src),
        "ts": _ts(np.minimum(re_ts + 1, end - 1)),
        "user_id": base.column("user_id").take(src),
        "event_type": base.column("event_type").take(src),
        "value": np.round(r.exponential(50.0, n_re), 2),
        "props": base.column("props").take(src),
    })
    out = pa.concat_tables([base, resend])
    return out.take(pa.array(np.argsort(out.column("ts").cast(pa.int64()).to_numpy(),
                                         kind="stable")))


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        _write(t, out_dir / f"{name}.parquet")


def rng_factory(seed: int, salt: str):
    """One independent, reproducible stream per (seed, salt, table)."""
    def rng_for(table: str) -> np.random.Generator:
        key = [seed, *salt.encode(), 0, *table.encode()]
        return np.random.default_rng(np.random.SeedSequence(key))
    return rng_for


def olap_inputs(seed: int, out_dir: Path, sf: float) -> None:
    rng_for = rng_factory(seed, "olap")
    tables = tpch_tables(rng_for, sf)
    tables["events"] = events_table(rng_for("events"), int(1_000_000 * sf), int(15_000 * sf))
    write_tables(tables, out_dir)


def corpus_inputs(seed: int, out_dir: Path, sf: float, n_docs: int, n_vecs: int) -> None:
    """Documents/embeddings at the given sizes beside TPC-H tables at
    ``sf`` (``corpus_curation_pipeline`` also reads those)."""
    rng_for = rng_factory(seed, "corpus")
    tables = tpch_tables(rng_for, sf)
    tables["events"] = events_table(rng_for("events"), int(1_000_000 * sf), int(15_000 * sf))
    tables["documents"] = documents_table(rng_for("documents"), n_docs)
    tables["embeddings"] = embeddings_table(rng_for("embeddings"), n_vecs, near_dup_frac=0.05)
    write_tables(tables, out_dir)


def etl_inputs(seed: int, out_dir: Path, n_rows: int, n_users: int) -> Path:
    rng_for = rng_factory(seed, "etl")
    out_dir.mkdir(parents=True, exist_ok=True)
    path = out_dir / "events_src.parquet"
    _write(incremental_source(rng_for("events"), n_rows, n_users), path)
    return path
