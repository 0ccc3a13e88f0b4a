"""tables.build_once keeps one scratch dir per (kind, corpus dir): a
build under a new corpus listing removes the dirs of older listings,
except one whose lock another builder still holds."""

from __future__ import annotations

import fcntl
import glob
import os
import tempfile
import time

import pytest

from dig_aggregator_core_spark import tables


@pytest.fixture()
def scratch(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.gettempdir())
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "t.parquet").write_bytes(b"v1")
    return str(corpus)


def _mutate(corpus: str) -> None:
    time.sleep(0.01)
    with open(os.path.join(corpus, "t.parquet"), "ab") as f:
        f.write(b"+")


def _dirs(prefix: str) -> list:
    root = os.path.join(tempfile.gettempdir(), "spark_graft_scratch")
    return glob.glob(os.path.join(root, f"{prefix}*"))


def _touch(out):
    open(os.path.join(out, "data"), "w").close()


def test_rebuild_after_mutation_leaves_one_dir(scratch):
    first = tables.build_once("prune", scratch, _touch)
    assert tables.build_once("prune", scratch, _touch) == first
    _mutate(scratch)
    second = tables.build_once("prune", scratch, _touch)
    assert second != first
    assert _dirs("prune") == [second]
    assert os.path.exists(os.path.join(second, "_done"))


def test_busy_sibling_is_kept(scratch):
    first = tables.build_once("busy", scratch, _touch)
    _mutate(scratch)
    with open(os.path.join(first, ".lock"), "a") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        second = tables.build_once("busy", scratch, _touch)
    assert sorted(_dirs("busy")) == sorted([first, second])


def test_other_dirs_and_kinds_are_untouched(scratch, tmp_path):
    other = tmp_path / "corpus_b"
    other.mkdir()
    (other / "t.parquet").write_bytes(b"v1")
    a = tables.build_once("keep", scratch, _touch)
    b = tables.build_once("keep", str(other), _touch)
    c = tables.build_once("keep_x", scratch, _touch)
    _mutate(scratch)
    d = tables.build_once("keep", scratch, _touch)
    assert sorted(_dirs("keep")) == sorted([b, c, d])
