"""Source guard: session memos and build-once scratch dirs live only in
tables.py (session_memo / build_once). A hand-rolled copy elsewhere
would bring back its own lock rule and fingerprint."""

from __future__ import annotations

import pathlib
import re

import dig_aggregator_core_spark

PKG = pathlib.Path(dig_aggregator_core_spark.__file__).parent
_MODULE_CACHE = re.compile(r"^_\w*_CACHE\s*(:[^=\n]*)?=", re.M)
# the ledger's cross-process publish lock is not a scratch build
_FLOCK_ALLOWED = {"tables.py", "plans/ledger.py"}


def _sources():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), path.read_text()


def test_memo_and_scratch_copies_stay_gone():
    bad = []
    for rel, src in _sources():
        if rel != "tables.py" and _MODULE_CACHE.search(src):
            bad.append(f"{rel}: module-level _*_CACHE")
        if rel not in _FLOCK_ALLOWED and "fcntl.flock" in src:
            bad.append(f"{rel}: fcntl.flock")
        for word in ("evict_memo", 'sig = "0"', "_inc_scratch_dir"):
            if word in src:
                bad.append(f"{rel}: {word}")
    assert not bad, bad
