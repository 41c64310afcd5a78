"""docs/API.md is generated by tools/api_reference.py: the committed page
must equal a fresh render, so a docstring or signature change in
secdb_spark.api (or in an operator module whose kernel api re-exports)
cannot leave the public reference stale."""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

import api_reference  # noqa: E402


def test_api_md_matches_generator():
    assert api_reference.render() == (ROOT / "docs" / "API.md").read_text(), (
        "docs/API.md is stale: run python tools/api_reference.py"
    )
