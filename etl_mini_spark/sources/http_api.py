"""HTTP-API extractor (SURVEY §2 S4) — the reference's template-driven
"instant" API source re-expressed for Spark.

Reference semantics (services/sources/implementations/external_source/
simple_api_service.py:19-61 + config/api_templates.yaml:1-6):

- request templates are config data: ``{key: {url, headers, method,
  body?}}`` with ``{PLACEHOLDER}`` slots anywhere in urls, header
  values, or body values;
- constructing the service validates that the caller's params cover
  every placeholder in the template (ValueError listing the missing
  keys otherwise);
- ``extract`` renders the template, issues one GET/POST, raises on
  HTTP errors, and returns parsed JSON (or raw bytes for non-JSON
  content types).

Spark-first split: template loading/validation/rendering is pure
config logic and stays driver-side; the FETCH is behind a ``transport``
callable so tests (and air-gapped runs) inject a stub while production
uses :func:`requests_transport`. Landing turns the JSON rows into a
DataFrame via ``spark.createDataFrame`` — correct for the reference's
one-shot export APIs, whose whole response is one bounded payload.

For the 100 TB shape — thousands of parameterized calls (per
app/day/segment) — read through the registered ``http_api`` DataSource
(``sources/pyds.py``): each param set becomes one partition that
renders and fetches on an executor, so fetch parallelism scales with
executors and no response ever lands on the driver.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def extract_placeholders(data: Any) -> list[str]:
    """All ``{NAME}`` placeholders in a str / list / dict (keys and
    values), depth-first. ≡ reference app/utils/string_utils.py:5-26."""
    found: list[str] = []
    if isinstance(data, dict):
        for k, v in data.items():
            found.extend(extract_placeholders(k))
            found.extend(extract_placeholders(v))
    elif isinstance(data, list):
        for item in data:
            found.extend(extract_placeholders(item))
    elif isinstance(data, str):
        found.extend(re.findall(r"\{(.*?)\}", data))
    return found


class TemplateNotFoundError(KeyError):
    """Unknown template key (≡ reference simple_api_service.py:27-28)."""


class MissingParamsError(ValueError):
    """Params don't cover the template's placeholders
    (≡ reference simple_api_service.py:33-35)."""

    def __init__(self, missing: set[str]):
        self.missing = missing
        super().__init__(f"Missing required parameters: {sorted(missing)}")


def load_templates(path: str) -> dict:
    """Load a template config file (.yaml/.yml via pyyaml, .json via
    stdlib). Returns {template_key: {url, headers, method?, body?}}."""
    if path.endswith((".yaml", ".yml")):
        import yaml  # baked in; import-gated for minimal environments

        with open(path) as fh:
            return yaml.safe_load(fh)
    with open(path) as fh:
        return json.load(fh)


def render_template(templates: dict, template_key: str, params: dict) -> dict:
    """Select + validate + render one request template.

    Validation collects placeholders from the url, every header value,
    and the body (when present) and requires ``params`` to cover them
    all — the reference's dynamic required-keys check. Returns
    ``{url, headers, method, body?}`` with every slot substituted."""
    if template_key not in templates:
        raise TemplateNotFoundError(
            f"Template {template_key!r} not found in configuration"
        )
    tpl = templates[template_key]
    required = set(extract_placeholders(tpl.get("url", "")))
    required |= set(extract_placeholders(tpl.get("headers", {})))
    if "body" in tpl:
        required |= set(extract_placeholders(tpl["body"]))
    missing = required - set(params)
    if missing:
        raise MissingParamsError(missing)
    out: dict[str, Any] = {
        "url": tpl["url"].format(**params),
        "headers": {k: v.format(**params) for k, v in tpl.get("headers", {}).items()},
        "method": tpl.get("method", "GET").upper(),
    }
    if out["method"] not in ("GET", "POST"):
        raise ValueError(f"Unsupported HTTP method: {out['method']}")
    if "body" in tpl:
        body = tpl["body"]
        out["body"] = (
            {k: v.format(**params) for k, v in body.items()}
            if isinstance(body, dict)
            else body
        )
    return out


# A transport takes the rendered request dict and returns
# (status_code, content_type, payload_bytes).
Transport = Callable[[dict], tuple[int, str, bytes]]


def requests_transport(request: dict) -> tuple[int, str, bytes]:
    """Production transport on ``requests`` (import-gated)."""
    import requests

    if request["method"] == "POST":
        resp = requests.post(
            request["url"], headers=request["headers"], json=request.get("body", {})
        )
    else:
        resp = requests.get(request["url"], headers=request["headers"])
    return resp.status_code, resp.headers.get("Content-Type", ""), resp.content


class HttpStatusError(RuntimeError):
    """Non-2xx response (≡ requests' raise_for_status)."""


def fetch(
    templates: dict, template_key: str, params: dict, transport: Transport
) -> Any:
    """Render + issue one request. JSON content-type → parsed rows;
    anything else → raw bytes (the reference's dual return)."""
    request = render_template(templates, template_key, params)
    status, content_type, payload = transport(request)
    if not 200 <= status < 300:
        raise HttpStatusError(f"HTTP {status} from {request['url']}")
    if "application/json" in content_type:
        return json.loads(payload)
    return payload


def fetch_to_dataframe(
    spark: SparkSession,
    templates: dict,
    template_key: str,
    params: dict,
    transport: Transport = requests_transport,
    schema=None,
) -> DataFrame:
    """One-shot extract → DataFrame. JSON rows land via
    ``createDataFrame`` (schema inferred unless given); non-JSON
    payloads land as a single-row ``(content binary)`` frame so the
    raw-layer writer can persist them unchanged."""
    data = fetch(templates, template_key, params, transport)
    if isinstance(data, (bytes, bytearray)):
        return spark.createDataFrame([(bytes(data),)], "content binary")
    if isinstance(data, dict):  # single-object response
        data = [data]
    return spark.createDataFrame(data, schema=schema)

