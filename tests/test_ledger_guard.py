"""Source guard: the `runs` and `runstatus` ledgers are defined once, in
plans/ledger.py, whatever the backend. A second definition elsewhere
would restate the key, the DDL or the (project, method, stage) scope by
hand and drift from the first. Catalog probes go through
jdbcio.table_exists, which quiets Derby before it can boot."""

from __future__ import annotations

import pathlib
import re

import dig_aggregator_core_spark

PKG = pathlib.Path(dig_aggregator_core_spark.__file__).parent
_LEDGER_COPY = [
    (re.compile(r"^\s*KEY\s*(:[^=\n]*)?=", re.M), "ledger KEY"),
    (re.compile(r"CREATE TABLE \\?\"(runs|runstatus)\\?\""), "ledger DDL"),
    (
        re.compile(r"^\s*def (insert_many|start_many|end_many|of)\(", re.M),
        "ledger method",
    ),
]


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_ledgers_are_defined_once():
    bad = []
    for rel, src in _sources():
        if rel != "plans/ledger.py":
            bad += [f"{rel}: {what}" for rx, what in _LEDGER_COPY if rx.search(src)]
        if rel != "sources/jdbcio.py" and "getTables(" in src:
            bad.append(f"{rel}: catalog probe outside jdbcio.table_exists")
    assert not bad, bad
