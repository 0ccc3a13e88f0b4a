"""Source guard: each streaming shape has one definition in
streaming/stateful.py. A copy elsewhere is how the single-file-glob
zero-row hazard came back after it was fixed once.

- the fixture file-stream reader with ``pathGlobFilter``: _fixture_stream;
- the fold prologue that concatenates Arrow chunks: _rows_in_order;
- the click→purchase ``INTERVAL 6 HOURS`` join condition:
  _click_purchase_join.
"""

from __future__ import annotations

import ast
import pathlib

import dig_aggregator_core_spark

PKG = pathlib.Path(dig_aggregator_core_spark.__file__).parent
_HOME = "streaming/stateful.py"


# shape -> (words that all mark it, package subdir searched, the one
# function allowed to hold it)
_SHAPES = {
    "stream glob reader": (("readStream", "pathGlobFilter"), "", "_fixture_stream"),
    "chunk concat": (("pd.concat(chunks",), "streaming/", "_rows_in_order"),
    "interval join": (("INTERVAL 6 HOURS",), "", "_click_purchase_join"),
}


def _top_level_blocks():
    """(module, top-level name, source text incl. decorators) per
    top-level statement of every package module."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        src = path.read_text()
        lines = src.splitlines()
        for node in ast.parse(src).body:
            start = min(
                [node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])]
            )
            text = "\n".join(lines[start - 1 : node.end_lineno])
            yield rel, getattr(node, "name", None), text


def test_each_streaming_shape_has_one_definition():
    found = {shape: [] for shape in _SHAPES}
    for rel, name, text in _top_level_blocks():
        for shape, (words, subdir, _home) in _SHAPES.items():
            if rel.startswith(subdir) and all(w in text for w in words):
                found[shape].append((rel, name))
    assert found == {
        shape: [(_HOME, home)] for shape, (_w, _s, home) in _SHAPES.items()
    }
