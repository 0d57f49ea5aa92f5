"""S4 HTTP-API extractor: template validation/rendering against the
reference's semantics (simple_api_service.py:19-61), stub-transport
fetch + DataFrame landing, and the distributed fan-out through the
``http_api`` DataSource."""

from __future__ import annotations

import json

import pytest

from etl_mini_spark.sources.http_api import (
    HttpStatusError,
    MissingParamsError,
    TemplateNotFoundError,
    extract_placeholders,
    fetch,
    fetch_to_dataframe,
    load_templates,
    render_template,
)

TEMPLATES = {
    "export": {
        "url": "https://api.example.com/raw/{APP_ID}/{REPORT}?from={DATE}&to={DATE}",
        "headers": {"Authorization": "Bearer {TOKEN}"},
        "method": "GET",
    },
    "ingest": {
        "url": "https://api.example.com/ingest",
        "headers": {"X-Key": "{KEY}"},
        "method": "POST",
        "body": {"since": "{DATE}", "mode": "full"},
    },
    "bad_method": {"url": "https://x/{A}", "headers": {}, "method": "PATCH"},
}


def test_extract_placeholders_nested():
    data = {"{K1}": ["x{K2}y", {"h": "{K3}"}], "plain": "none"}
    assert sorted(extract_placeholders(data)) == ["K1", "K2", "K3"]
    assert extract_placeholders("a{X}b{Y}") == ["X", "Y"]
    assert extract_placeholders(42) == []


def test_render_ok():
    req = render_template(
        TEMPLATES, "export",
        {"APP_ID": "app1", "REPORT": "installs", "DATE": "2024-01-01", "TOKEN": "t0"},
    )
    assert req["url"] == "https://api.example.com/raw/app1/installs?from=2024-01-01&to=2024-01-01"
    assert req["headers"] == {"Authorization": "Bearer t0"}
    assert req["method"] == "GET"


def test_render_post_body():
    req = render_template(TEMPLATES, "ingest", {"KEY": "k", "DATE": "2024-02-01"})
    assert req["method"] == "POST"
    assert req["body"] == {"since": "2024-02-01", "mode": "full"}


def test_missing_params_lists_them():
    with pytest.raises(MissingParamsError) as ei:
        render_template(TEMPLATES, "export", {"APP_ID": "a", "TOKEN": "t"})
    assert ei.value.missing == {"REPORT", "DATE"}


def test_unknown_template():
    with pytest.raises(TemplateNotFoundError):
        render_template(TEMPLATES, "nope", {})


def test_unsupported_method():
    with pytest.raises(ValueError, match="Unsupported HTTP method"):
        render_template(TEMPLATES, "bad_method", {"A": "1"})


def _json_transport(rows):
    def t(request):
        return 200, "application/json", json.dumps(rows).encode()

    return t


def test_fetch_json_vs_bytes():
    rows = [{"a": 1}, {"a": 2}]
    assert fetch(TEMPLATES, "ingest", {"KEY": "k", "DATE": "d"}, _json_transport(rows)) == rows
    raw = fetch(
        TEMPLATES, "ingest", {"KEY": "k", "DATE": "d"},
        lambda r: (200, "text/csv", b"a,b\n1,2\n"),
    )
    assert raw == b"a,b\n1,2\n"


def test_fetch_http_error():
    with pytest.raises(HttpStatusError, match="HTTP 503"):
        fetch(TEMPLATES, "ingest", {"KEY": "k", "DATE": "d"}, lambda r: (503, "", b""))


def test_load_templates_yaml(tmp_path):
    p = tmp_path / "t.yaml"
    p.write_text("exp:\n  url: https://x/{A}\n  headers:\n    H: '{B}'\n  method: GET\n")
    loaded = load_templates(str(p))
    assert loaded["exp"]["url"] == "https://x/{A}"
    assert render_template(loaded, "exp", {"A": "1", "B": "2"})["headers"] == {"H": "2"}


def test_fetch_to_dataframe(spark):
    rows = [{"id": i, "v": i * 2.5} for i in range(10)]
    df = fetch_to_dataframe(
        spark, TEMPLATES, "ingest", {"KEY": "k", "DATE": "d"},
        transport=_json_transport(rows), schema="id long, v double",
    )
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got == {i: i * 2.5 for i in range(10)}


def test_fetch_to_dataframe_binary(spark):
    df = fetch_to_dataframe(
        spark, TEMPLATES, "ingest", {"KEY": "k", "DATE": "d"},
        transport=lambda r: (200, "application/octet-stream", b"\x00\x01"),
    )
    assert df.collect()[0]["content"] == bytearray(b"\x00\x01")


def test_http_api_source_fetches_each_param_set(spark):
    # the stub transport derives rows from the rendered url — proves
    # each param set got its own correctly-rendered request on the
    # executors
    from etl_mini_spark.sources.pyds import HttpApiDataSource

    spark.dataSource.register(HttpApiDataSource)
    templates = {"page": {"url": "stub://p?n=3&start={START}", "headers": {}}}
    params = [{"START": str(p * 100)} for p in range(8)]
    df = (
        spark.read.format("http_api").schema("id long, name string, value double")
        .option("templates", json.dumps(templates)).option("template_key", "page")
        .option("param_sets", json.dumps(params)).option("transport", "stub_export")
        .load()
    )
    assert df.count() == 24
    assert df.select((df["id"] / 100).cast("int")).distinct().count() == 8


def test_pyds_validates_param_sets_before_scheduling(spark):
    """A bad param set must fail DRIVER-side (MissingParamsError out of
    partitions()), before any partition runs."""
    import json

    import pytest

    from etl_mini_spark.sources.http_api import MissingParamsError
    from etl_mini_spark.sources.pyds import HttpApiDataSource, HttpApiReader
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    templates = {"e": {"url": "stub://x?n={N}", "headers": {}}}
    reader = HttpApiReader(schema, {
        "templates": json.dumps(templates), "template_key": "e",
        "param_sets": json.dumps([{"N": "1"}, {"WRONG": "2"}]),
        "transport": "stub_export",
    })
    with pytest.raises(MissingParamsError):
        reader.partitions()


def test_pyds_unknown_transport_fails_fast():
    import pytest

    from etl_mini_spark.sources.pyds import _resolve_transport

    with pytest.raises(ValueError, match="unknown transport"):
        _resolve_transport("carrier_pigeon")


# --- secret resolution (round-13: reference app/utils/secret_loader.py) ------


def test_secret_loader_reference_failure_modes(tmp_path):
    import pytest as _pytest

    from etl_mini_spark.sources.secrets import SecretLoader

    with _pytest.raises(FileNotFoundError, match="Secrets file not found"):
        SecretLoader(str(tmp_path / "nope.json")).load_token("svc")
    p = tmp_path / "api_tokens.json"
    p.write_text('{"svc": {"token": "tok-123"}, "broken": {"key": "x"}}')
    loader = SecretLoader(str(p))
    assert loader.load_token("svc") == "tok-123"
    for bad in ("missing", "broken"):
        with _pytest.raises(ValueError, match=f"Token for {bad} not found"):
            loader.load_token(bad)


def test_secret_params_resolve_and_redact(tmp_path, monkeypatch):
    import pytest as _pytest

    from etl_mini_spark.sources.http_api import render_template
    from etl_mini_spark.sources.secrets import Secret, SecretLoader, resolve_secret_params

    p = tmp_path / "api_tokens.json"
    p.write_text('{"github": {"token": "ghp_secret"}}')
    monkeypatch.setenv("MY_API_KEY", "env-val")
    params = resolve_secret_params(
        {"TOKEN": "secret://github", "KEY": "env://MY_API_KEY", "APP": "myapp"},
        SecretLoader(str(p)),
    )
    # redaction-safe repr, transparent interpolation
    assert repr(params["TOKEN"]) == "Secret('***')" and params["TOKEN"] == "ghp_secret"
    assert isinstance(params["KEY"], Secret) and params["KEY"] == "env-val"
    assert "ghp_secret" not in repr(params) and "env-val" not in repr(params)
    templates = {
        "t": {
            "url": "https://api.example.com/{APP}/export",
            "headers": {"Authorization": "Bearer {TOKEN}", "X-Key": "{KEY}"},
        }
    }
    req = render_template(templates, "t", params)
    assert req["headers"]["Authorization"] == "Bearer ghp_secret"
    assert req["headers"]["X-Key"] == "env-val"
    # loud failures: unset env var, reference without a loader
    with _pytest.raises(KeyError, match="NOT_SET_VAR"):
        resolve_secret_params({"K": "env://NOT_SET_VAR"})
    with _pytest.raises(ValueError, match="needs a SecretLoader"):
        resolve_secret_params({"K": "secret://svc"})
