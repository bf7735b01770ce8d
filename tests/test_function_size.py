"""Lint: no function in maggma_spark/ may run longer than MAX_LINES.
A function that long parses, plans, executes and assembles in one body,
so none of its parts can be tested alone. An exception is added to
ALLOWED on purpose, with its reason."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "maggma_spark"
MAX_LINES = 200

# "<path relative to maggma_spark>::<function>" -> reason
ALLOWED: dict = {}


def _long_functions() -> dict:
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(PACKAGE).as_posix()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                n = node.end_lineno - node.lineno + 1
                if n > MAX_LINES:
                    found[f"{rel}::{node.name}"] = n
    return found


def test_no_function_longer_than_limit():
    offenders = {k: n for k, n in _long_functions().items()
                 if k not in ALLOWED}
    assert not offenders, offenders


def test_allowlist_entries_are_still_needed():
    assert set(ALLOWED) <= set(_long_functions())
