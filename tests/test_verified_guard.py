"""Source guard: the re-verification order is derived from code
fingerprints (registry.verified), so the package keeps no hand-written
list of query names that could drift from the code it describes."""

from __future__ import annotations

import ast
import pathlib

import dig_aggregator_core_spark
from dig_aggregator_core_spark import registry

PKG = pathlib.Path(dig_aggregator_core_spark.__file__).parent
_MAX_NAMES = 5
# each name here carries its own test pinning why it has no oracle
_ALLOWED = {"ROWS_ONLY_BY_DESIGN"}


def test_no_hand_kept_query_name_sets():
    registry.load_all()
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = {
            id(node)
            for stmt in ast.walk(tree)
            if isinstance(stmt, (ast.Assign, ast.AnnAssign))
            and any(
                isinstance(t, ast.Name) and t.id in _ALLOWED
                for t in (
                    stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                )
            )
            for node in ast.walk(stmt)
        }
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Set, ast.Tuple, ast.List)):
                continue
            names = [
                e.value for e in node.elts
                if isinstance(e, ast.Constant) and e.value in registry.QUERIES
            ]
            if len(names) > _MAX_NAMES and id(node) not in allowed:
                rel = path.relative_to(PKG).as_posix()
                bad.append(f"{rel}:{node.lineno}: {len(names)} query names")
    assert not bad, bad
