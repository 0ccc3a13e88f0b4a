"""registry.code_fingerprint on a tiny scratch package: stable across
processes, blind to docstrings, comments and memo contents, and moved by
any edit to the code or data a query reaches, however deep."""

from __future__ import annotations

import importlib
import itertools
import json
import os
import subprocess
import sys
import textwrap

import pytest

from dig_aggregator_core_spark import registry

NAME = "fp_scratch_query"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

HELPERS = """
K = (1, 2)
MEMO = {}


def deep(x):
    return x + len(K)


def mid(x):
    return deep(x) * 2
"""

OPS = '''
from . import helpers


def q(spark, sf_dir):
    """Scratch query."""
    helpers.MEMO[sf_dir] = sf_dir in {"a", "b", "c", "d", "e", "f", "g"}
    return helpers.mid(1)
'''


def _write(root, helpers=HELPERS, ops=OPS):
    pkg = root / "fpscratch"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "helpers.py").write_text(textwrap.dedent(helpers))
    (pkg / "ops.py").write_text(textwrap.dedent(ops))


@pytest.fixture
def load(tmp_path, monkeypatch):
    """Import a variant of the scratch package from a fresh dir and
    register its query; returns the ops module."""
    dirs = itertools.count()

    def purge():
        for m in [m for m in sys.modules if m.partition(".")[0] == "fpscratch"]:
            del sys.modules[m]

    def variant(oracle="SELECT 1", **sources):
        root = tmp_path / f"v{next(dirs)}"
        _write(root, **sources)
        purge()
        monkeypatch.syspath_prepend(str(root))
        from fpscratch import ops

        monkeypatch.setitem(registry.QUERIES, NAME, ops.q)
        monkeypatch.setitem(registry.ORACLES, NAME, oracle)
        return ops

    yield variant
    purge()


def fp() -> str:
    return registry.code_fingerprint(NAME)


def test_equal_across_hash_seeds_and_checkout_paths(tmp_path):
    script = (
        "import sys; sys.path[:0] = sys.argv[1:3]\n"
        "from dig_aggregator_core_spark import registry\n"
        "from fpscratch import ops\n"
        f"registry.QUERIES[{NAME!r}] = ops.q\n"
        f"print(registry.code_fingerprint({NAME!r}))\n"
    )
    out = []
    for seed in ("1", "2"):
        root = tmp_path / f"seed{seed}"
        _write(root)
        env = dict(os.environ, PYTHONHASHSEED=seed)
        res = subprocess.run(
            [sys.executable, "-c", script, REPO, str(root)],
            env=env, capture_output=True, text=True, check=True,
        )
        out.append(res.stdout.strip())
    assert out[0] == out[1] and len(out[0]) == 16


def test_docstring_and_comment_edits_keep_it(load):
    load()
    base = fp()
    load(ops=OPS.replace('"""Scratch query."""', '"""Reworded."""'))
    assert fp() == base
    load(ops=OPS.replace('    """Scratch query."""\n', ""))
    assert fp() == base
    load(helpers="# a new header\n\n" + HELPERS.replace(
        "def mid(x):", "# shifts every line below\n\n\ndef mid(x):"
    ))
    assert fp() == base


@pytest.mark.parametrize(
    "edit",
    [
        {"helpers": HELPERS.replace("return x + len(K)", "return x - len(K)")},
        {"helpers": HELPERS.replace("K = (1, 2)", "K = (1, 3)")},
        {"oracle": "SELECT 2"},
    ],
    ids=["helper_two_calls_deep", "module_constant", "oracle_sql"],
)
def test_reached_edits_move_it(load, edit):
    load()
    base = fp()
    load(**edit)
    assert fp() != base


def test_filling_a_memo_keeps_it(load):
    ops = load()
    base = fp()
    ops.q(None, "a")
    ops.q(None, "z")
    assert ops.helpers.MEMO == {"a": True, "z": False}
    assert fp() == base
    # the walk does read that module: a constant beside the memo counts
    ops.helpers.K = (1, 2, 3)
    assert fp() != base


@pytest.mark.parametrize(
    "module, table, name",
    [
        ("aggregates", "_CMS_H_SPARK", "cms_frequency_estimate"),
        ("scans", "_AVRO_SCHEMA", "scan_avro_roundtrip"),
    ],
)
def test_tables_read_only_at_run_time_move_their_query(
    monkeypatch, module, table, name
):
    # neither table reaches the query's oracle text, so only the walk
    # over the query's code can see an edit to it
    mod = importlib.import_module(f"dig_aggregator_core_spark.operators.{module}")
    base = registry.code_fingerprint(name)
    monkeypatch.setattr(mod, table, getattr(mod, table) + " ")
    assert registry.code_fingerprint(name) != base


def test_stale_manifest_entry_ranks_unverified(load, tmp_path, monkeypatch):
    load()
    manifest = tmp_path / "verified.json"
    recorded = json.loads(registry.MANIFEST.read_text())
    manifest.write_text(json.dumps({**recorded, NAME: fp()}))
    monkeypatch.setattr(registry, "MANIFEST", manifest)
    assert NAME in registry.verified()

    load(helpers=HELPERS.replace("* 2", "* 3"))
    ok = registry.verified()
    order = list(registry.ordered_queries())
    assert NAME not in ok
    assert order.index(NAME) < len(order) - len(ok)
