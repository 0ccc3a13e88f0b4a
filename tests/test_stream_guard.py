"""Source guard: each shape below has one definition in the package. A
copy elsewhere is how the single-file-glob zero-row hazard came back
after it was fixed once.

In streaming/stateful.py:
- the fixture file-stream reader with ``pathGlobFilter``: _fixture_stream;
- the fold prologue that concatenates Arrow chunks: _rows_in_order;
- the click→purchase ``INTERVAL 6 HOURS`` join condition:
  _click_purchase_join.

In operators/similarity.py:
- the sequential query x candidate cosine fold: _COS_SPARK;
- the PQ distance-table lookup fold (ADC): _pq_cell_adc.
"""

from __future__ import annotations

import ast
import pathlib

import dig_aggregator_core_spark

PKG = pathlib.Path(dig_aggregator_core_spark.__file__).parent


# shape -> (words that all mark it, package subdir searched, the one
# module and top-level name allowed to hold it)
_SHAPES = {
    "stream glob reader": (
        ("readStream", "pathGlobFilter"), "",
        "streaming/stateful.py", "_fixture_stream",
    ),
    "chunk concat": (
        ("pd.concat(chunks",), "streaming/",
        "streaming/stateful.py", "_rows_in_order",
    ),
    "interval join": (
        ("INTERVAL 6 HOURS",), "",
        "streaming/stateful.py", "_click_purchase_join",
    ),
    "cosine fold": (
        ("zip_with(qv, cv",), "operators/",
        "operators/similarity.py", "_COS_SPARK",
    ),
    "ADC lookup fold": (
        ("element_at(element_at(dt",), "operators/",
        "operators/similarity.py", "_pq_cell_adc",
    ),
}


def _name(node) -> str | None:
    """A top-level statement's name: a def's or class's, or the one
    name a plain assignment binds."""
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
        return target.id if isinstance(target, ast.Name) else None
    return getattr(node, "name", None)


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
            yield rel, _name(node), text


def test_each_streaming_shape_has_one_definition():
    found = {shape: [] for shape in _SHAPES}
    for rel, name, text in _top_level_blocks():
        for shape, (words, subdir, _mod, _home) in _SHAPES.items():
            if rel.startswith(subdir) and all(w in text for w in words):
                found[shape].append((rel, name))
    assert found == {
        shape: [(mod, home)] for shape, (_w, _s, mod, home) in _SHAPES.items()
    }
