"""Static checks over the repository's own Python sources."""

from __future__ import annotations

import ast
import pathlib
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
TREES = ("streamprocessing_kafka_finlight_news_dashboard_spark", "tests", "tools")


def test_no_top_level_name_is_defined_twice():
    """A second module-level ``def`` or ``class`` of a name silently
    replaces the first: a shadowed test is never collected, a shadowed
    operator never runs."""
    paths = [*ROOT.glob("*.py")]
    for tree in TREES:
        paths += sorted((ROOT / tree).rglob("*.py"))
    repeats = []
    for path in paths:
        body = ast.parse(path.read_text(), str(path)).body
        names = Counter(
            node.name
            for node in body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        )
        repeats += [
            f"{path.relative_to(ROOT)}::{name}" for name, k in names.items() if k > 1
        ]
    assert not repeats, repeats
