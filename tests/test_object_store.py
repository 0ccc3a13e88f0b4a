"""Object-store surface (VERDICT r9 task 8): s3a conf pass-through and
the scheme-aware lister, exercised with the file:// scheme (the same
Hadoop FileSystem code path as s3a://, zero network)."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest

from dig_aggregator_core_spark.plans.context import local_lister
from dig_aggregator_core_spark.sources.object_store import (
    configure_s3a,
    hadoop_lister,
    lister_for,
)


def test_configure_s3a_sets_hadoop_conf(spark):
    configure_s3a(
        spark,
        endpoint="https://storage.example.internal:9000",
        credentials_provider=(
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider"
        ),
        path_style_access=True,
        extra={"fs.s3a.connection.maximum": "64"},
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == (
        "https://storage.example.internal:9000"
    )
    assert hconf.get("fs.s3a.aws.credentials.provider").endswith(
        "AnonymousAWSCredentialsProvider"
    )
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.connection.maximum") == "64"


def test_hadoop_lister_matches_local_lister(spark, tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "one.json").write_text("{}")
    (tmp_path / "a" / "two.json").write_text("{}")
    (tmp_path / "b").mkdir()
    (tmp_path / "b" / "three.csv").write_text("x")

    local = local_lister(str(tmp_path))
    remote = hadoop_lister(spark, f"file://{tmp_path}")

    lk = [(k, v.replace(microsecond=0)) for k, v in local("")]
    rk = [(k, v.replace(microsecond=0)) for k, v in remote("")]
    assert lk == rk  # same keys, same (second-truncated) mtimes
    assert [k for k, _ in remote("a/")] == ["a/one.json", "a/two.json"]


def test_lister_for_dispatches_on_scheme(spark, tmp_path):
    (tmp_path / "f.txt").write_text("x")
    via_path = lister_for(spark, str(tmp_path))
    via_uri = lister_for(spark, f"file://{tmp_path}")
    assert [k for k, _ in via_path("")] == ["f.txt"]
    assert [k for k, _ in via_uri("")] == ["f.txt"]


def test_hadoop_lister_missing_root_lists_empty(spark, tmp_path):
    """ADVICE r10: drop-in parity — a nonexistent root yields [] on
    BOTH listers (os.walk semantics), not FileNotFoundException."""
    missing = tmp_path / "never_created"
    assert local_lister(str(missing))("") == []
    assert hadoop_lister(spark, f"file://{missing}")("") == []


def test_listers_agree_at_full_precision(spark, tmp_path):
    """ADVICE r10: the local lister truncates to milliseconds to match
    Hadoop's getModificationTime, so swapping listers on an existing
    warehouse cannot shift Input versions. Compare WITHOUT blunting to
    seconds — the pre-fix drift was sub-second."""
    (tmp_path / "x.json").write_text("{}")
    assert local_lister(str(tmp_path))("") == hadoop_lister(
        spark, f"file://{tmp_path}"
    )("")


def _tree(root) -> None:
    for key in [
        "cat/g0/d1/part-00000",
        "cat/g0/d1/metadata",
        "cat/g01/d2/part-00000",
        "cat/g1/metadata",
        "top.json",
    ]:
        (root / key).parent.mkdir(parents=True, exist_ok=True)
        (root / key).write_text("")
    (root / "cat" / "empty").mkdir()


PREFIXES = ["", "cat/", "cat/g0", "cat/g0/", "cat/g0/d1/part", "missing/", "cat/no/"]


def test_listers_agree_on_every_prefix(spark, tmp_path):
    """Both listers walk only below the prefix's directory, and still
    return exactly the keys under the root that start with the prefix."""
    _tree(tmp_path)
    local = local_lister(str(tmp_path))
    remote = hadoop_lister(spark, f"file://{tmp_path}")
    for prefix in PREFIXES:
        keys = [k for k, _ in local(prefix)]
        assert keys == [k for k, _ in local("") if k.startswith(prefix)], prefix
        assert keys == [k for k, _ in remote(prefix)], prefix
    assert [k for k, _ in local("cat/g0")] == [
        "cat/g0/d1/metadata",
        "cat/g0/d1/part-00000",
        "cat/g01/d2/part-00000",
    ]


def _walk_lister(root: str):
    """local_lister as it was before the scandir rewrite: os.walk over
    the whole root, then a startswith filter."""

    def ls(prefix: str) -> list[tuple[str, datetime]]:
        out = []
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                full = os.path.join(dirpath, f)
                key = os.path.relpath(full, root).replace(os.sep, "/")
                if key.startswith(prefix):
                    mtime = datetime.fromtimestamp(
                        os.path.getmtime(full), tz=timezone.utc
                    ).replace(tzinfo=None)
                    mtime = mtime.replace(
                        microsecond=mtime.microsecond // 1000 * 1000
                    )
                    out.append((key, mtime))
        return sorted(out)

    return ls


# sub-second parts (ns) on microsecond and millisecond rounding edges
EDGES_NS = [
    0,
    1,
    499,
    500,
    501,
    999,
    499_999,
    500_000,
    999_499,
    999_500,
    999_999,
    123_456_789,
    999_499_999,
    999_500_000,
    999_999_499,
    999_999_500,
    999_999_999,
]


def test_local_lister_equals_os_walk_lister(tmp_path):
    _tree(tmp_path)
    edges = tmp_path / "cat" / "edges"
    edges.mkdir()
    for n, sub_ns in enumerate(EDGES_NS):
        f = edges / f"f{n:02d}"
        f.write_text("")
        os.utime(f, ns=(0, (1_700_000_000 + n) * 10**9 + sub_ns))
    os.symlink(tmp_path / "cat" / "g0", tmp_path / "cat" / "linked_dir")
    os.symlink(tmp_path / "top.json", tmp_path / "cat" / "linked_file")
    os.symlink(tmp_path / "cat", tmp_path / "linked_cat")
    prefixes = PREFIXES + [
        "cat/edges/",
        "cat/linked",
        "cat/linked_dir/",
        "linked_cat/",
        "cat//",
        "cat/./",
        "cat/../cat/",
    ]
    for root in [str(tmp_path), str(tmp_path) + "/"]:
        new, old = local_lister(root), _walk_lister(root)
        for prefix in prefixes:
            assert new(prefix) == old(prefix), (root, prefix)
    listed = dict(local_lister(str(tmp_path))("cat/"))
    assert "cat/linked_file" in listed and "cat/linked_dir/d1/metadata" not in listed
    assert len([k for k in listed if k.startswith("cat/edges/")]) == len(EDGES_NS)
    # a dangling link fails the same way on both
    os.symlink(tmp_path / "gone", tmp_path / "cat" / "dangling")
    for ls in (local_lister(str(tmp_path)), _walk_lister(str(tmp_path))):
        with pytest.raises(FileNotFoundError):
            ls("cat/")
