"""Docs cannot drift from the registry: the canonical
"N queries (M oracle-backed)" claims in SURVEY.md / ARCHITECTURE.md are
greped and compared against the live registry (the round-3 verdict
caught SURVEY §9 three rounds stale)."""

from __future__ import annotations

import ast
import hashlib
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
COUNT_RE = re.compile(r"(\d+)\s+(?:registry\s+)?queries\s+\((\d+)\s+oracle-backed\)")


def _actual() -> tuple[int, int]:
    from etl_mini_spark.queries import ORACLE, QUERIES

    return len(QUERIES), len(ORACLE)


def _last_claim(doc: str) -> tuple[int, int]:
    text = (REPO / doc).read_text()
    claims = COUNT_RE.findall(text)
    assert claims, f"{doc}: no 'N queries (M oracle-backed)' claim found"
    n, m = claims[-1]  # the LAST claim is the current-round figure
    return int(n), int(m)


def test_survey_counts_match_registry():
    assert _last_claim("SURVEY.md") == _actual()


def test_architecture_counts_match_registry():
    assert _last_claim("ARCHITECTURE.md") == _actual()


# sha256 prefixes of the registry's sorted names and of its oracle SQL.
# Eight oracles read fixtures by absolute path, so the checkout root is
# replaced by "<repo>" before hashing. A PR that changes the registry
# on purpose prints the new values with `python tests/test_docs_sync.py`.
NAMES_SHA256 = "25790b0a755e02ae"
ORACLE_SHA256 = "d1e517d6c6a24254"


def _registry_digests() -> tuple[str, str]:
    from etl_mini_spark.queries import ORACLE, QUERIES

    names = json.dumps(sorted(QUERIES))
    oracle = json.dumps(ORACLE, sort_keys=True).replace(str(REPO), "<repo>")
    return (hashlib.sha256(names.encode()).hexdigest()[:16],
            hashlib.sha256(oracle.encode()).hexdigest()[:16])


def test_registry_identity():
    """Same query names and same oracle SQL, whatever the module layout
    or import order: a refactor of the registry must not add, drop,
    rename or re-word a query by accident."""
    hint = "if the registry changed on purpose, recompute the pins: python tests/test_docs_sync.py"
    assert _actual() == (543, 537), hint
    assert _registry_digests() == (NAMES_SHA256, ORACLE_SHA256), hint


def test_architecture_py_paths_exist():
    """Every backticked *.py path in ARCHITECTURE.md names a file that
    exists, looked up from the repo root, then under etl_mini_spark/,
    then under etl_mini_spark/queries/."""
    roots = (REPO, REPO / "etl_mini_spark", REPO / "etl_mini_spark" / "queries")
    paths = set(re.findall(r"`([^`\s]+\.py)`", (REPO / "ARCHITECTURE.md").read_text()))
    assert paths
    missing = sorted(p for p in paths if not any((r / p).is_file() for r in roots))
    assert not missing, f"ARCHITECTURE.md cites missing files: {missing}"


def test_no_test_module_redefines_a_top_level_name():
    """A second top-level def or class of the same name in a tests/
    module hides the first, so pytest never collects it."""
    dups = []
    for path in sorted((REPO / "tests").glob("*.py")):
        seen = set()
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if node.name in seen:
                    dups.append(f"{path.name}:{node.lineno} {node.name}")
                seen.add(node.name)
    assert not dups, f"redefined top-level names: {dups}"


if __name__ == "__main__":
    import sys

    sys.path.insert(0, str(REPO))
    print(*_actual(), *_registry_digests())
