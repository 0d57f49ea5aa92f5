"""Secret/credential resolution for the HTTP template layer (SURVEY
reference parity: ``app/utils/secret_loader.py:1-22`` — the last
un-mirrored reference module).

The reference loads per-service API tokens from a YAML file
(``config/secrets/api_tokens.yaml``, ``{service: {token: ...}}``) with
two loud failure modes (missing file → FileNotFoundError, missing
service/token key → ValueError). This module mirrors that contract and
extends it the way a Spark deployment needs:

- **File formats**: JSON always; YAML when pyyaml is importable
  (import-gated — the container has no pyyaml, production images do).
- **Env-var secrets**: ``env://NAME`` references resolve from the
  driver's environment — the standard way cluster launchers inject
  credentials (spark-submit ``--conf spark.yarn.appMasterEnv...``,
  k8s secretKeyRef).
- **Redaction-safe values**: resolved tokens come back as
  :class:`Secret`, a ``str`` whose ``repr`` is ``Secret('***')`` — so
  a stack trace, a logged params dict, or a driver-side ``print`` of a
  rendered template's params never leaks the token, while
  ``str.format`` interpolation inside ``render_template`` still
  substitutes the real value.

Resolution happens ONCE, driver-side, before templates render —
executors never read the secrets file or the driver's environment. The
``http_api`` DataSource (``sources/pyds.py``) ships each resolved param
set, token included, only in the partition that renders and fetches
its request.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from typing import Any


class Secret(str):
    """A string that interpolates normally but redacts its repr."""

    __slots__ = ()

    def __repr__(self) -> str:  # noqa: D105
        return "Secret('***')"


def _parse_secrets_file(path: Path) -> dict:
    text = path.read_text()
    if path.suffix in (".yaml", ".yml"):
        try:
            import yaml  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - container has no pyyaml
            raise ImportError(
                f"{path} is YAML but pyyaml is not installed; "
                "use a .json secrets file or install pyyaml"
            ) from e
        return yaml.safe_load(text) or {}
    return json.loads(text) if text.strip() else {}


class SecretLoader:
    """Per-service token loading, reference-compatible failure modes
    (reference ``secret_loader.py:9-22``)."""

    def __init__(self, secret_path: str = "config/secrets/api_tokens.json"):
        self.secret_path = Path(secret_path)

    def load_token(self, service_name: str) -> Secret:
        if not self.secret_path.exists():
            raise FileNotFoundError(f"Secrets file not found: {self.secret_path}")
        secrets = _parse_secrets_file(self.secret_path)
        entry = secrets.get(service_name)
        if not isinstance(entry, dict) or "token" not in entry:
            raise ValueError(f"Token for {service_name} not found in secrets file")
        return Secret(entry["token"])


def resolve_secret_params(
    params: dict[str, Any], loader: SecretLoader | None = None
) -> dict[str, Any]:
    """Resolve secret references in a template-params dict.

    String values of the form ``secret://<service>`` load that
    service's token through ``loader`` (required when any such
    reference is present); ``env://<NAME>`` reads the driver
    environment (KeyError with the variable name if unset — loud, like
    the reference's missing-token error). Everything else passes
    through untouched. Resolved values are :class:`Secret` instances,
    so accidental reprs/logs show ``Secret('***')`` while
    ``render_template``'s ``str.format`` interpolation sees the real
    value."""
    out: dict[str, Any] = {}
    for k, v in params.items():
        if isinstance(v, str) and v.startswith("secret://"):
            if loader is None:
                raise ValueError(f"param {k!r} needs a SecretLoader: {v!r}")
            out[k] = loader.load_token(v[len("secret://") :])
        elif isinstance(v, str) and v.startswith("env://"):
            name = v[len("env://") :]
            if name not in os.environ:
                raise KeyError(f"environment variable {name} not set (param {k!r})")
            out[k] = Secret(os.environ[name])
        else:
            out[k] = v
    return out
