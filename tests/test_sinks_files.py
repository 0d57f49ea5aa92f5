"""S6 (BOM-tolerant CSV scan) + S8 (COPY/TSV sink rendering) — the
file-level parity tests the container can run without S3 or Postgres.

- BOM: the reference decodes S3 CSV bytes as utf-8-sig
  (s3_service.py:133-144); our `read_csv` must yield clean header
  names and values from a BOM-prefixed file.
- TSV: the COPY wire format (`_partition_to_tsv`) is pinned by a
  committed golden file covering tabs, newlines, CRs, SQL NULLs,
  empty strings, and nested struct/array values
  (≡ tsv_converter.py:83-94 + postgresql_service.py:166-170).
- Parquet: ``writers.write_parquet`` is the one writer of the engine's
  parquet tables; timestamps at the edges of the calendar survive it.
"""

from __future__ import annotations

import ast
from datetime import datetime, timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_mini_spark.sources.jdbc import _partition_to_tsv
from etl_mini_spark.sources.readers import read_csv

FIXTURES = Path(__file__).parent / "fixtures"
PACKAGE = Path(__file__).resolve().parent.parent / "etl_mini_spark"


def test_bom_csv_header_and_values(spark):
    df = read_csv(spark, str(FIXTURES / "bom.csv"))
    assert df.columns == ["id", "name", "amount"]  # no ﻿ prefix
    rows = sorted(df.collect(), key=lambda r: r["id"])
    assert rows[0]["id"] == "1" and rows[0]["name"] == "alpha"
    assert rows[2]["amount"] is None  # trailing empty field → NULL


def test_bom_csv_with_schema_and_typemap(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("amount", T.DoubleType()),
        ]
    )
    df = read_csv(spark, str(FIXTURES / "bom.csv"), schema=schema)
    got = {r["id"]: (r["name"], r["amount"]) for r in df.collect()}
    assert got == {1: ("alpha", 10.5), 2: ("beta", 20.25), 3: ("gamma", None)}


def _tsv_fixture_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("label", T.StringType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("k", T.StringType()),
                        T.StructField("ns", T.ArrayType(T.LongType())),
                    ]
                ),
            ),
        ]
    )
    rows = [
        (1, "plain", 1.5, {"k": "v1", "ns": [1, 2]}),
        (2, "tab\there", 2.0, {"k": "v2", "ns": []}),
        (3, "line\nbreak\rcr", None, None),
        (4, None, 0.25, {"k": None, "ns": [7]}),
        (5, "", 3.0, {"k": "empty-string-above", "ns": None}),
    ]
    return spark.createDataFrame(rows, schema)


def test_tsv_golden(spark):
    df = _tsv_fixture_df(spark)
    lines = list(_partition_to_tsv(df.collect(), df.columns))
    golden = (FIXTURES / "tsv_sink.golden.tsv").read_text()
    assert "".join(lines) == golden


def test_tsv_null_vs_empty_distinct(spark):
    df = _tsv_fixture_df(spark)
    lines = {r[0]: r for r in (l.rstrip("\n").split("\t") for l in _partition_to_tsv(df.collect(), df.columns))}
    assert lines["4"][1] == "\\N"  # SQL NULL → COPY token
    assert lines["5"][1] == ""  # empty string stays empty
    assert "\t" not in lines["2"][1] and "\n" not in lines["3"][1]
    assert lines["1"][3] == '{"k": "v1", "ns": [1, 2]}'  # nested → JSON


def test_tsv_golden_loads_into_real_sql_consumer(spark):
    """Prove the COPY wire format against a REAL SQL consumer: DuckDB's
    COPY ... FROM with the same options the reference passes to Postgres
    (FORMAT text-ish: tab delimiter, NULL token, no quoting —
    postgresql_service.py:166-170). The landed table must reproduce the
    source DataFrame's values, with NULL and empty-string kept distinct
    and nested structs landed as their JSON rendering."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE landed (id BIGINT, label VARCHAR, amount DOUBLE, payload VARCHAR)"
    )
    con.execute(
        f"""COPY landed FROM '{FIXTURES / "tsv_sink.golden.tsv"}'
            (FORMAT csv, DELIMITER '\t', HEADER false, NULL '\\N',
             QUOTE '', ESCAPE '')"""
    )
    got = con.execute("SELECT * FROM landed ORDER BY id").fetchall()
    # the source rows after the sanitizer's documented lossy steps
    # (tab/newline/CR → space inside strings; nested → JSON)
    want = [
        (1, "plain", 1.5, '{"k": "v1", "ns": [1, 2]}'),
        (2, "tab here", 2.0, '{"k": "v2", "ns": []}'),
        (3, "line break cr", None, None),
        (4, None, 0.25, '{"k": null, "ns": [7]}'),
        (5, "", 3.0, '{"k": "empty-string-above", "ns": null}'),
    ]
    assert got == want
    # NULL vs empty string must survive the trip — the reason TSV_NULL
    # is \N rather than the ambiguous ''
    n_null, n_empty = con.execute(
        "SELECT count(*) FILTER (WHERE label IS NULL),"
        "       count(*) FILTER (WHERE label = '') FROM landed"
    ).fetchone()
    assert (n_null, n_empty) == (1, 1)
    # and the JSON payload is machine-readable on the consumer side
    ks = con.execute(
        "SELECT id, json_extract_string(payload, '$.k') FROM landed "
        "WHERE payload IS NOT NULL ORDER BY id"
    ).fetchall()
    assert ks == [(1, "v1"), (2, "v2"), (4, None), (5, "empty-string-above")]


def test_write_bucketed_never_deletes_external_table_data(spark, tmp_path):
    """Overwrite-cleanup safety (r5 advice): an EXTERNAL table's data
    must survive write_bucketed(mode="overwrite") on the same name —
    DROP TABLE keeps external data by contract, and the orphan-dir
    cleanup must never fire at a location a catalog entry owns."""
    from etl_mini_spark.sources.writers import write_bucketed

    ext_loc = tmp_path / "ext_data"
    spark.range(5).selectExpr("id AS k", "id * 2 AS v").write.parquet(str(ext_loc))
    spark.sql("DROP TABLE IF EXISTS ext_prot")
    spark.sql(f"CREATE TABLE ext_prot (k BIGINT, v BIGINT) USING parquet LOCATION '{ext_loc}'")
    try:
        assert spark.table("ext_prot").count() == 5
        df = spark.range(3).selectExpr("id AS k", "id AS v")
        write_bucketed(df, "ext_prot", ["k"], num_buckets=4)
        # new managed table readable; old external files untouched on disk
        assert spark.table("ext_prot").count() == 3
        assert spark.read.parquet(str(ext_loc)).count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS ext_prot")


def test_write_bucketed_cleans_orphaned_warehouse_dir(spark):
    """A warehouse directory left behind by a dead session (no catalog
    entry) must be cleared so saveAsTable does not die with
    LOCATION_ALREADY_EXISTS."""
    from pathlib import Path

    from etl_mini_spark.sources.writers import write_bucketed

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orphan = Path(wh) / "orphan_bucketed_t"
    spark.sql("DROP TABLE IF EXISTS orphan_bucketed_t")
    orphan.mkdir(parents=True, exist_ok=True)
    (orphan / "junk.parquet").write_text("not parquet")
    try:
        df = spark.range(4).selectExpr("id AS k", "id AS v")
        write_bucketed(df, "orphan_bucketed_t", ["k"], num_buckets=4)
        assert spark.table("orphan_bucketed_t").count() == 4
    finally:
        spark.sql("DROP TABLE IF EXISTS orphan_bucketed_t")


def test_write_bucketed_writes_the_engine_format(spark):
    """A bucketed table is written as ``write_parquet`` writes: zstd
    pages and its timestamps INT64 TIMESTAMP(MICROS) adjusted to UTC,
    not the session default of snappy pages and INT96; it reads back
    the same instants."""
    import json

    import pyarrow.parquet as pq

    from etl_mini_spark.sources.writers import write_bucketed

    spark.sql("DROP TABLE IF EXISTS fmt_bucketed_t")
    df = spark.range(6).select(F.col("id").alias("k"), F.timestamp_micros(F.col("id") * 7).alias("ts"))
    try:
        write_bucketed(df, "fmt_bucketed_t", ["k"], num_buckets=2)
        loc = spark.sql("DESCRIBE TABLE EXTENDED fmt_bucketed_t").filter("col_name = 'Location'")
        files = sorted(Path(loc.first()["data_type"].removeprefix("file:")).glob("part-*"))
        assert files and all(f.name.endswith(".zstd.parquet") for f in files), files
        for f in files:
            md = pq.read_metadata(str(f))
            i = md.schema.names.index("ts")
            col = md.row_group(0).column(i)
            logical = json.loads(md.schema.column(i).logical_type.to_json())
            assert (col.compression, col.physical_type, logical["isAdjustedToUTC"]) == (
                "ZSTD", "INT64", True), (f, col, logical)
        got = spark.table("fmt_bucketed_t").select("k", F.unix_micros("ts")).orderBy("k")
        assert [tuple(r) for r in got.collect()] == [(k, 7 * k) for k in range(6)]
    finally:
        spark.sql("DROP TABLE IF EXISTS fmt_bucketed_t")


def test_binaryfile_source_feeds_multimodal_pipeline(spark, tmp_path):
    """Raw-file multimodal ingest: `binaryFile` scans a directory into
    (path, length, content) rows whose bytes round-trip exactly, and the
    content column feeds the same decode plumbing attach_binary_payload
    fabricates payloads for — closing the loop from files on disk to
    the multimodal operators without any media library."""
    import pyspark.sql.functions as F

    blobs = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(5)}
    d = tmp_path / "media"
    d.mkdir()
    for name, data in blobs.items():
        (d / name).write_bytes(data)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(d))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            "length",
            "content",
        )
    )
    rows = {r["fname"]: r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        assert bytes(rows[name]["content"]) == data
        assert rows[name]["length"] == len(data)
    # bytes survive a DataFrame transform on the binary column
    sized = df.select("fname", F.length("content").alias("n")).collect()
    assert {r["fname"]: r["n"] for r in sized} == {k: len(v) for k, v in blobs.items()}


_EPOCH = datetime(1970, 1, 1)
_EDGE_TIMESTAMPS = [
    datetime(1, 1, 1),
    datetime(1582, 10, 10, 12),  # inside the Julian-to-Gregorian gap
    datetime(1899, 12, 31, 23, 59, 59, 999999),
    _EPOCH,
    datetime(9999, 12, 31, 23, 59, 59, 999999),
]


def test_write_parquet_keeps_edge_timestamps(spark, tmp_path):
    """Timestamps from year 1 to year 9999, and NULL, come back
    unchanged from the engine's parquet writer, read by ``read_parquet``
    and by DuckDB. Compared as epoch microseconds: collecting year 1 as
    a Python datetime fails under a UTC process time zone."""
    import duckdb

    from etl_mini_spark.sources.readers import read_parquet
    from etl_mini_spark.sources.writers import write_parquet

    micros = [(t - _EPOCH) // timedelta(microseconds=1) for t in _EDGE_TIMESTAMPS]
    want = sorted(enumerate(micros + [None]))
    path = str(tmp_path / "edges")
    df = spark.createDataFrame(want, "k int, us bigint")
    write_parquet(df.select("k", F.timestamp_micros("us").alias("ts")).write, path)

    got = read_parquet(spark, path).select("k", F.unix_micros("ts")).orderBy("k").collect()
    assert [tuple(r) for r in got] == want
    rows = duckdb.sql(f"SELECT k, epoch_us(ts) FROM read_parquet('{path}/*.parquet') ORDER BY k")
    assert rows.fetchall() == want


_BATCH_READ, _ANY_READ = ("read",), ("read", "readStream")


def _reads(node: ast.AST, readers: set[str], attrs=_ANY_READ) -> bool:
    """Whether the call chain ending at ``node`` starts at a reader:
    an ``attrs`` attribute (``.read``/``.readStream``), or a name
    assigned from one."""
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            if node.attr in attrs:
                return True
            node = node.value
        else:
            return isinstance(node, ast.Name) and node.id in readers


def _format(node: ast.AST) -> str | None:
    """The constant of the last ``.format(...)`` in the call chain
    ending at ``node``, or None when it sets none."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "format" and node.args
                and isinstance(node.args[0], ast.Constant)):
            return node.args[0].value
        node = node.func if isinstance(node, ast.Call) else node.value
    return None


def _parquet_calls(tree: ast.Module, reads: bool) -> list[tuple[str, int]]:
    """(innermost enclosing function, line) of each parquet call in
    ``tree``. With ``reads``: each ``.parquet(...)`` or
    ``.format("parquet")`` call on a batch reader. Without: each such
    call on anything but a reader, and each ``.saveAsTable(...)`` that
    sets no other format (a session saves its tables as parquet by
    default)."""
    attrs = _BATCH_READ if reads else _ANY_READ
    readers = {
        t.id for n in ast.walk(tree) if isinstance(n, ast.Assign) and _reads(n.value, set(), attrs)
        for t in n.targets if isinstance(t, ast.Name)
    }
    owner = {}  # ast.walk is breadth-first: inner functions come later
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef)):
            owner.update((n, getattr(fn, "name", "<module>")) for n in ast.walk(fn))
    hits = []
    for n, fn in owner.items():
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)):
            continue
        parquet = n.func.attr == "parquet" or (
            n.func.attr == "format" and n.args
            and isinstance(n.args[0], ast.Constant) and n.args[0].value == "parquet")
        if reads:
            hit = parquet and _reads(n.func.value, readers, attrs)
        elif n.func.attr == "saveAsTable":
            fmt = next((k.value.value for k in n.keywords
                        if k.arg == "format" and isinstance(k.value, ast.Constant)),
                       _format(n.func.value))
            hit = fmt in (None, "parquet")
        else:
            hit = parquet and not _reads(n.func.value, readers, attrs)
        if hit:
            hits.append((fn, n.lineno))
    return sorted(set(hits), key=lambda h: h[1])


def _engine_hits(reads: bool, allowed: set[tuple[str, str]]) -> list[str]:
    """``module:line (function)`` of each parquet call of the engine
    outside ``queries/`` (whose builders write and read scratch inputs)
    that ``allowed`` does not name."""
    return [
        f"{rel}:{line} ({fn})"
        for p in sorted(PACKAGE.rglob("*.py"))
        if (rel := p.relative_to(PACKAGE).as_posix()).split("/")[0] != "queries"
        for fn, line in _parquet_calls(ast.parse(p.read_text()), reads)
        if (rel, fn) not in allowed
    ]


# (module, function) that may write parquet without the writer:
# the writer itself, and the streaming file sink, whose timestamp conf
# would have to stay set for the whole life of the query.
_OWN_PARQUET_WRITES = {
    ("sources/writers.py", "write_parquet"),
    ("streaming/stream.py", "run_to_completion"),
}

# (module, function) that may read parquet without ``read_parquet``:
# the reader itself, and the IVF read, whose static ``cell IN (...)``
# filter prunes the partition directories of the layout it scans.
_OWN_PARQUET_READS = {
    ("sources/readers.py", "_scan"),
    ("operators/similarity.py", "cosine_topk_ivf_partitioned"),
}


def test_engine_writes_parquet_only_through_the_writer():
    """Outside ``queries/``, no module of the engine calls a writer's
    ``.parquet(``, ``.format("parquet")`` or a parquet
    ``.saveAsTable(``: the on-disk format of every table the engine
    writes is decided in ``writers.write_parquet``."""
    hits = _engine_hits(False, _OWN_PARQUET_WRITES)
    assert not hits, hits


def test_engine_reads_parquet_only_through_the_reader():
    """Outside ``queries/``, no module of the engine calls
    ``spark.read...parquet(``: every batch parquet read goes through
    ``readers.read_parquet`` (or ``read_parquet_ts_range``), so it gets
    the schema cache and reads a small table as one partition."""
    hits = _engine_hits(True, _OWN_PARQUET_READS)
    assert not hits, hits


@pytest.mark.parametrize("code, found", [
    ("def f(df, p):\n    df.write.mode('overwrite').parquet(p)", [("f", 2)]),
    ("def f(df, p):\n    w = df.write\n    w.format('parquet').save(p)", [("f", 3)]),
    ("def f(spark, p):\n    return spark.read.parquet(p)", []),
    ("def f(spark, p):\n    r = spark.readStream.schema(s)\n    return r.parquet(p)", []),
    ("def f(df, p):\n    def g():\n        df.write.parquet(p)\n    g()", [("g", 3)]),
    ("df.write.parquet(p)", [("<module>", 1)]),
    ("def f(df, t):\n    df.write.bucketBy(4, 'k').saveAsTable(t)", [("f", 2)]),
    ("def f(df, t):\n    df.write.format('parquet').saveAsTable(t)", [("f", 2)]),
    ("def f(df, t):\n    df.write.format('json').mode('append').saveAsTable(t)", []),
    ("def f(df, t):\n    df.write.saveAsTable(t, format='orc')", []),
])
def test_parquet_write_finder(code, found):
    """The finder behind the write check sees a write through a writer
    variable and a ``saveAsTable`` in the default format, and takes
    neither a read nor a table of another format for a parquet write."""
    assert _parquet_calls(ast.parse(code), reads=False) == found


@pytest.mark.parametrize("code, found", [
    ("def f(spark, p):\n    return spark.read.parquet(p)", [("f", 2)]),
    ("def f(spark, p, s):\n    r = spark.read.schema(s)\n    return r.parquet(p)", [("f", 3)]),
    ("def f(spark, p):\n    return spark.read.format('parquet').load(p)", [("f", 2)]),
    ("def f(spark, p, s):\n    r = spark.readStream.schema(s)\n    return r.parquet(p)", []),
    ("def f(df, p):\n    df.write.parquet(p)", []),
    ("def f(spark, p):\n    return spark.read.json(p)", []),
])
def test_parquet_read_finder(code, found):
    """The finder behind the read check sees a batch read, also through
    a reader variable, and takes neither a streaming read nor a write
    for one."""
    assert _parquet_calls(ast.parse(code), reads=True) == found
