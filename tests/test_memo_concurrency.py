"""Concurrent access to tables.session_memo and tables.build_once.

Two driver threads that double-miss the same memo key must derive it
once and agree on one object; two builders of the same scratch dir must
build it once. session_memo holds _MEMO_LOCK across lookup, eviction,
derive and insert; build_once re-checks its marker under an exclusive
flock. The hammers below start every thread at a barrier and make each
derive/build slow, so removing the lock or the re-check makes them fail
on every run rather than by chance.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from dig_aggregator_core_spark import tables

_THREADS = 6


def test_concurrent_cold_loads_stay_coherent(spark, sf_dir):
    other = sf_dir.replace("sf0.01", "sf0.001")
    dirs = [sf_dir, other] * 3
    names = ["orders", "lineitem", "customer", "documents"]

    def hammer(i: int):
        out = []
        for d in dirs:
            for n in names:
                out.append((d, n, id(tables.load(spark, d, n))))
        return out

    for _round in range(3):
        # cold start each round: clear the memo so every thread races
        # the lookup+derive+insert path
        with tables._MEMO_LOCK:
            tables._MEMOS.get("load", {}).clear()
        with ThreadPoolExecutor(max_workers=_THREADS) as pool:
            results = list(pool.map(hammer, range(_THREADS)))

    # coherence: within the last round every thread saw the single
    # memoized DataFrame of its key (all live in the memo, so ids are
    # not reused), and a later pass is pure hits on those same objects
    final = {}
    for r in results:
        for d, n, obj in r:
            final.setdefault((d, n), set()).add(obj)
    assert all(len(objs) == 1 for objs in final.values()), final
    again = {(d, n): {id(tables.load(spark, d, n))} for d in dirs for n in names}
    assert final == again


def _corpus(tmp_path, name: str) -> str:
    d = tmp_path / name
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x")
    return str(d)


def test_session_memo_hammer_derives_once_per_key(tmp_path):
    session = object()  # session_memo only needs the session's identity
    dirs = [_corpus(tmp_path, "a"), _corpus(tmp_path, "b")]
    kinds = [f"hammer_{k}" for k in "xyz"]
    keys = [(k, d) for k in kinds for d in dirs]
    derived: dict = {}
    count_lock = threading.Lock()

    def derive_for(key):
        def derive():
            time.sleep(0.01)  # widen the double-miss window
            with count_lock:
                derived[key] = derived.get(key, 0) + 1
            return object()

        return derive

    for _wave in range(3):
        with tables._MEMO_LOCK:
            for k in kinds:
                tables._MEMOS.pop(k, None)
        derived.clear()
        misses = sum(tables.MEMO_STATS[k, "miss"] for k in kinds)
        start = threading.Barrier(_THREADS)

        def hammer(i: int):
            start.wait()
            order = keys[i % len(keys):] + keys[: i % len(keys)]
            return {
                key: tables.session_memo(
                    key[0], session, key[1], (), derive_for(key)
                )
                for key in order
            }

        with ThreadPoolExecutor(max_workers=_THREADS) as pool:
            seen = list(pool.map(hammer, range(_THREADS)))
        assert derived == {key: 1 for key in keys}
        for key in keys:
            assert len({id(s[key]) for s in seen}) == 1, key
        assert sum(tables.MEMO_STATS[k, "miss"] for k in kinds) - misses == len(keys)


def test_build_once_race_builds_once(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.gettempdir())
    corpus = _corpus(tmp_path, "corpus")
    builds = []
    start = threading.Barrier(_THREADS)

    def build(out):
        builds.append(out)
        time.sleep(0.2)  # every other thread reaches the lock meanwhile
        with open(os.path.join(out, "data"), "w") as f:
            f.write("built")

    def racer(_i):
        start.wait()
        return tables.build_once("race", corpus, build)

    with ThreadPoolExecutor(max_workers=_THREADS) as pool:
        paths = set(pool.map(racer, range(_THREADS)))
    assert len(builds) == 1
    assert paths == set(builds)
    (path,) = paths
    assert os.path.exists(os.path.join(path, "_done"))
    assert open(os.path.join(path, "data")).read() == "built"
