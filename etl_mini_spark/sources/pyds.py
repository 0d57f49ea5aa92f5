"""Python DataSource (Spark 4 API): the reference's template-driven
HTTP-API extract (simple_api_service.py:19-61) as a REAL pluggable
source — ``spark.read.format("http_api")`` — instead of a driver-side
``createDataFrame`` landing.

Why this shape at scale: ``fetch_to_dataframe`` (sources/http_api.py)
lands one bounded payload on the driver — right for one-shot exports,
wrong for thousands of parameterized calls. Registering a DataSource
turns each param set into an ``InputPartition``: rendering+fetching runs
on EXECUTORS, partition-parallel, rows stream out through Arrow, and the
scan composes with the rest of the engine (filters project onto it,
downstream joins see an ordinary DataFrame). It is the engine's one
distributed fetch path.

Transport selection is by option string (executors can't receive a
callable): ``transport=stub_export`` is the deterministic offline stub
(same contract as the http_api_extract query's), ``transport=requests``
is the production HTTP client. All template validation happens driver-
side in ``partitions()`` — a bad param set fails the job before any
request is issued (reference parity: MissingParamsError).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from etl_mini_spark.sources.http_api import fetch, render_template


def stub_export_transport(request: dict) -> tuple[int, str, bytes]:
    """Deterministic offline transport: parses the RENDERED url (so
    template selection/validation/substitution stay on the exercised
    path) and synthesizes ``n`` JSON rows starting at id ``start``."""
    from urllib.parse import parse_qs, urlparse

    q = parse_qs(urlparse(request["url"]).query)
    n = int(q["n"][0])
    start = int(q.get("start", ["0"])[0])
    rows = [
        {"id": i, "name": f"row_{i}", "value": round(i * 1.5, 2)}
        for i in range(start, start + n)
    ]
    return 200, "application/json", json.dumps(rows).encode()


def stub_scroll_transport(request: dict) -> tuple[int, str, bytes]:
    """Deterministic offline CURSOR-PAGINATED transport (the ES
    sliced-scroll shape, reference elasticsearch_service.py:63-136):
    rows are global ids 0..total-1, a slice owns the ids with
    id % n_slices == slice, and each page serves page_size of that
    slice's ordered ids plus a ``next_cursor`` until exhausted
    (empty-string cursor = done)."""
    from urllib.parse import parse_qs, urlparse

    q = parse_qs(urlparse(request["url"]).query)
    total = int(q["total"][0])
    n_slices = int(q["n_slices"][0])
    sl = int(q["slice"][0])
    page_size = int(q["page_size"][0])
    page = int(q.get("cursor", ["0"])[0] or "0")
    ids = [i for i in range(total) if i % n_slices == sl]
    chunk = ids[page * page_size : (page + 1) * page_size]
    nxt = str(page + 1) if (page + 1) * page_size < len(ids) else ""
    body = {
        "rows": [
            {"id": i, "name": f"row_{i}", "value": round(i * 1.5, 2)} for i in chunk
        ],
        "next_cursor": nxt,
    }
    return 200, "application/json", json.dumps(body).encode()


_TRANSPORTS = {
    "stub_export": stub_export_transport,
    "stub_scroll": stub_scroll_transport,
}


def _resolve_transport(name: str):
    if name == "requests":  # import-gated: not available in all envs
        from etl_mini_spark.sources.http_api import requests_transport

        return requests_transport
    try:
        return _TRANSPORTS[name]
    except KeyError:
        raise ValueError(
            f"unknown transport {name!r}; expected one of "
            f"{sorted(_TRANSPORTS) + ['requests']}"
        ) from None


class HttpApiReader(DataSourceReader):
    def __init__(self, schema, options: dict):
        self.ddl_schema = schema
        self.templates = json.loads(options["templates"])
        self.template_key = options["template_key"]
        self.param_sets = json.loads(options["param_sets"])
        self.transport_name = options.get("transport", "requests")
        # cursor pagination: when set, each partition FOLLOWS its own
        # cursor chain — the body is {"rows": [...], "next_cursor": c},
        # the named template param is re-rendered with each cursor, and
        # the chain ends on an empty/absent cursor. This is the ES
        # sliced-scroll shape: slices partition-parallel, pages
        # sequential within a slice.
        self.cursor_param = options.get("cursor_param")
        self.field_names = [f.name for f in schema.fields]

    def partitions(self):
        # driver-side fail-fast: validate EVERY param set against the
        # template before any partition is scheduled
        _resolve_transport(self.transport_name)
        for p in self.param_sets:
            render_template(self.templates, self.template_key, p)
        return [InputPartition(json.dumps(p)) for p in self.param_sets]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        params = json.loads(partition.value)
        transport = _resolve_transport(self.transport_name)
        if self.cursor_param:
            cursor = params.get(self.cursor_param, "0")
            while True:
                body = fetch(
                    self.templates,
                    self.template_key,
                    {**params, self.cursor_param: cursor},
                    transport,
                )
                for r in body.get("rows", []):
                    yield tuple(r.get(f) for f in self.field_names)
                cursor = body.get("next_cursor") or ""
                if not cursor:
                    return
        rows = fetch(self.templates, self.template_key, params, transport)
        if isinstance(rows, dict):
            rows = [rows]
        for r in rows:
            yield tuple(r.get(f) for f in self.field_names)


class HttpApiDataSource(DataSource):
    """``spark.read.format("http_api")`` after
    ``spark.dataSource.register(HttpApiDataSource)``.

    Required options: ``templates`` (JSON template dict), ``template_key``,
    ``param_sets`` (JSON list of param dicts — one InputPartition each),
    ``schema`` is passed via ``.schema(ddl)`` on the reader.
    Optional: ``transport`` (``stub_export`` | ``stub_scroll`` |
    ``requests``); ``cursor_param`` (template param name — enables
    cursor pagination: each partition follows its ``next_cursor``
    chain, the ES sliced-scroll shape)."""

    @classmethod
    def name(cls) -> str:
        return "http_api"

    def reader(self, schema) -> HttpApiReader:
        return HttpApiReader(schema, self.options)
