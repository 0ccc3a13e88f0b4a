"""Property-based tests for the glob compiler (hypothesis): paths
constructed by filling a glob's wildcards must match, and `captures` must
return exactly the fills. Complements the ported reference cases in
test_glob.py (GlobTest.scala) with randomized coverage of the same
semantics, and checks that the Arrow (RE2) match in `Source.inputs`
accepts exactly the keys the per-key `Source.matches` (Python `re`)
does."""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

from hypothesis import given, settings
from hypothesis import strategies as st

from dig_aggregator_core_spark.functions.glob import Glob
from dig_aggregator_core_spark.plans.inputs import Input, Source

# literal runs: no '*', no '/', drawn from the reference's validChar set
_lit = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-._",
    min_size=1,
    max_size=6,
)
# a wildcard fill must not contain '/' and must not contain the literal
# character that FOLLOWS the wildcard; keep fills to a disjoint alphabet
# (uppercase) so "stop at the next glob char" can't trigger early.
_fill = st.text(alphabet="ABCDEFGHIJKLMNOPQRSTUVWXYZ", min_size=0, max_size=6)


@st.composite
def glob_and_fills(draw):
    """Build (glob, fills): alternating literal / '*' segments joined by
    optional path separators, always starting and ending with a literal so
    every '*' has a following delimiter (the semantics' simple regime)."""
    n = draw(st.integers(min_value=1, max_value=4))
    parts: list[str] = []
    fills: list[str] = []
    for i in range(n):
        parts.append(draw(_lit))
        if i < n - 1:
            sep = draw(st.sampled_from(["/", ""]))
            if draw(st.booleans()):
                parts.append("*")
                fills.append(draw(_fill))
            parts.append(sep)
    return "".join(parts), fills


def _fill_glob(glob: str, fills: list[str]) -> str:
    out, it = [], iter(fills)
    for ch in glob:
        out.append(next(it) if ch == "*" else ch)
    return "".join(out)


@given(glob_and_fills())
@settings(max_examples=300, deadline=None)
def test_filled_glob_matches_and_captures(gf):
    glob_s, fills = gf
    g = Glob(glob_s)
    path = _fill_glob(glob_s, fills)
    assert g.matches(path), (glob_s, path)
    assert g.captures(path) == fills, (glob_s, path)


@given(glob_and_fills(), _lit)
@settings(max_examples=200, deadline=None)
def test_partial_match_accepts_extension(gf, suffix):
    """Prefix mode (Glob.scala:64-66): a matching path extended past the
    glob still prefix-matches."""
    glob_s, fills = gf
    g = Glob(glob_s)
    path = _fill_glob(glob_s, fills)
    assert g.matches(path + "/" + suffix, partial=True)


@given(glob_and_fills())
@settings(max_examples=200, deadline=None)
def test_wildcard_fill_never_crosses_separator(gf):
    """A '*' fill containing the path separator must NOT match."""
    glob_s, fills = gf
    if not fills:
        return
    g = Glob(glob_s)
    bad = list(fills)
    bad[0] = bad[0] + "/X"
    path = _fill_glob(glob_s, bad)
    assert not g.matches(path), (glob_s, path)


# --- Source.inputs (RE2 in Arrow) against Source.matches (Python re) ---

NOW = datetime(2026, 1, 1)

# glob literals: valid glob chars, several of them regex-special
_src_lit = st.text(alphabet="ab-.=$()[]+?#~", min_size=1, max_size=3)
# wildcard fills may hold terminators, '/', newlines and non-ASCII
_src_fill = st.text(alphabet="ab-.=/\né", max_size=3)


@st.composite
def _segment(draw):
    """One path segment of a glob: literals and '*'s, possibly nested."""
    items = draw(
        st.lists(st.sampled_from(["*", "**"]) | _src_lit, min_size=1, max_size=4)
    )
    return "".join(items)


@st.composite
def _sources(draw):
    prefix = "/".join(draw(st.lists(_segment(), min_size=1, max_size=3))) + "/"
    basename = draw(_segment())
    if draw(st.integers(0, 5)) == 0:
        basename += "/" + draw(_segment())  # holds '/': matches nothing
    return Source(prefix, basename)


@st.composite
def _keys(draw, source: Source):
    """A key built by filling the source's globs, then maybe truncated,
    mutated or given a trailing newline."""

    def fill(glob: str) -> str:
        return "".join(draw(_src_fill) if c == "*" else c for c in glob)

    key = (
        fill(source.prefix)
        + draw(st.sampled_from(["", "x/", "x/\ny/"]))
        + fill(source.basename)
    )
    op = draw(st.sampled_from(["keep", "truncate", "mutate", "newline"]))
    if op == "truncate":
        key = key[: draw(st.integers(0, len(key)))]
    elif op == "mutate":
        i = draw(st.integers(0, len(key)))
        width = draw(st.integers(0, 1))  # insert or replace one char
        key = key[:i] + draw(st.sampled_from(list("ab/-\né*"))) + key[i + width :]
    elif op == "newline":
        key += "\n"
    return key


@given(st.data())
@settings(max_examples=300, deadline=None)
def test_source_inputs_equal_source_matches(data):
    source = data.draw(_sources())
    listing = [
        (k, NOW) for k in data.draw(st.lists(_keys(source), min_size=1, max_size=8))
    ]
    context = SimpleNamespace(lister=lambda prefix: listing)
    expected = [Input(k, v) for k, v in listing if source.matches(Input(k, v))]
    assert source.inputs(context) == expected, (source, listing)
