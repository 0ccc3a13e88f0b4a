"""Ports of the reference's pure-function unit tests: GlobTest.scala,
ImplicitsTest.scala, InputTest.scala, OptsTest.scala (every cited case)."""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

import pytest

from dig_aggregator_core_spark.functions.glob import Glob
from dig_aggregator_core_spark.functions.paths import (
    basename,
    common_prefix,
    dirname,
)
from dig_aggregator_core_spark.plans.inputs import Input, Source
from dig_aggregator_core_spark.plans.opts import Opts

NOW = datetime(2026, 1, 1, 12, 0, 0)


def inp(name: str) -> Input:
    return Input(name, NOW)


# --- GlobTest.scala ---


def test_glob_should_match():
    g = Glob("*/foo*/*/baz")
    assert g.matches("/foobar/ack/baz")
    assert g.matches("some/foo/anything=here/baz")


def test_glob_should_not_match():
    g = Glob("*/foo*/*/baz")
    for s in [
        "/foo",
        "bar/foo",
        "zoo/whee/foo",
        "foo",
        "ack/foo/bar",
        "/foobar/ack/baz/whee",
        "/foobar/ack/baz-whee",
        "more/foo/anything/here/baz",
        "prefix/more/foo/anything/here/baz",
    ]:
        assert not g.matches(s), s


def test_glob_partial_match():
    g = Glob("foo/bar/")
    assert g.matches("foo/bar/baz", partial=True)
    assert g.matches("foo/bar/baz/whee", partial=True)
    assert not g.matches("foobar/baz", partial=True)
    assert not g.matches("foo/bar", partial=True)
    assert not g.matches("foo/", partial=True)


def test_glob_pattern_matching_captures():
    g = Glob("*/wow=*/ancestor=*/*/this")
    caps = g.captures("foo/wow=awesome/ancestor=grandfather//this")
    assert caps == ["foo", "awesome", "grandfather", ""]


def test_glob_empty_raises():
    with pytest.raises(ValueError):
        Glob("")


# --- ImplicitsTest.scala ---


def test_s3_key_basename():
    assert basename("foo/bar/baz") == "baz"
    assert basename("foo/") == ""
    assert basename("") == ""


def test_s3_key_dirname():
    assert dirname("foo/bar/baz") == "foo/bar/"
    assert dirname("foo/bar/baz/") == "foo/bar/baz/"
    assert dirname("foo") == ""
    assert dirname("") == ""


def test_s3_key_common_prefix():
    assert common_prefix("foo/bar/baz") == "foo/bar/"
    assert common_prefix("foo/bar/baz/") == "foo/bar/baz/"
    assert common_prefix("foo/bar=*/baz") == "foo/bar="


# --- InputTest.scala ---


def test_s3_key_simple():
    assert basename("foo.txt") == "foo.txt"
    assert common_prefix("foo.txt") == ""


def test_s3_key_exact():
    key = "variants/dataset/phenotype/metadata"
    assert basename(key) == "metadata"
    assert common_prefix(key) == "variants/dataset/phenotype/"


def test_s3_key_wildcard():
    key = "out/metaanalysis/*/_SUCCESS"
    assert basename(key) == "_SUCCESS"
    assert common_prefix(key) == "out/metaanalysis/"


def test_input_parts():
    i = inp("a/foo/bar/baz")
    assert i.basename == "baz"
    assert i.dirname == "a/foo/bar/"


def test_source_prefix_must_end_with_slash():
    with pytest.raises(ValueError):
        Source("foo", "bar")


def test_source_basename_must_not_end_with_slash():
    with pytest.raises(ValueError):
        Source("foo/", "bar/")


def test_source_match_inputs():
    a = Source("a/*/", "bar")
    b = Source("b/test=*/", "*")
    assert a.matches(inp("a/foo/bar"))
    assert b.matches(inp("b/test=foo/any"))


def test_source_pattern_matching_prefix():
    source = Source("a/test=*/bar/*/", "baz")
    assert source.captures(inp("a/test=foo/bar/test/baz")) == ["foo", "test"]


def test_source_pattern_matching_basename():
    source = Source("a/test=*/bar/*/", "b*")
    caps = source.captures(inp("a/test=foo/bar/test/baz"))
    assert caps == ["foo", "test", "az"]


def test_source_factories():
    raw = Source.raw("a/b/c.txt")
    assert raw.prefix == "a/b/" and raw.basename == "c.txt"
    assert Source.dataset("variants/*/").basename == "metadata"
    assert Source.success("out/*/").basename == "_SUCCESS"
    with pytest.raises(ValueError):
        Source.raw("nofolder")


def test_full_match_rejects_trailing_newline():
    """Not a reference case: Python's `$` also matches before a final
    newline. A full match ends at the end of the key, as in RE2, which
    `Source.inputs` matches with."""
    assert not Glob("metadata").matches("metadata\n")
    assert Glob("metadata").matches("metadata\n", partial=True)
    source = Source("cat/*/", "metadata")
    key = "cat/x/metadata\n"
    assert not source.matches(inp(key))
    assert source.inputs(SimpleNamespace(lister=lambda p: [(key, NOW)])) == []


def test_basename_glob_with_separator_matches_nothing():
    """A basename never holds '/', so neither the per-key match nor
    the Arrow match of the whole key may accept one."""
    source = Source("a/", "b/c")
    assert not source.matches(inp("a/b/c"))
    assert source.inputs(SimpleNamespace(lister=lambda p: [("a/b/c", NOW)])) == []


# --- OptsTest.scala ---


def test_opts_mutually_exclusive():
    with pytest.raises(SystemExit):
        Opts.parse(["--insert-runs", "--no-insert-runs"])
    with pytest.raises(ValueError):
        Opts(insert_runs=True, no_insert_runs=True)


def test_opts_dry_run():
    assert not Opts.parse(["--yes"]).dry_run
    assert Opts.parse([]).dry_run


def test_opts_clusters_validation():
    with pytest.raises(ValueError):
        Opts(max_clusters=0)


def test_opts_only_and_exclude():
    opts = Opts.parse(["--only", "FG*,T2D*", "--exclude", "*adj*"])
    tests = ["BMI", "FG", "FGadjBMI", "T2D", "T2DadjBMI", "FI", "WHR"]

    only = [t for t in tests if any(g.matches(t) for g in opts.only_globs)]
    excl = [t for t in tests if any(g.matches(t) for g in opts.exclude_globs)]
    assert set(only) == {"FG", "FGadjBMI", "T2D", "T2DadjBMI"}
    assert set(excl) == {"FGadjBMI", "T2DadjBMI"}

    final = [t for t in only if not any(g.matches(t) for g in opts.exclude_globs)]
    assert set(final) == {"FG", "T2D"}
