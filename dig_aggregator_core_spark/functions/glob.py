"""Glob -> regex compiler with capture extraction and partial (prefix) mode.

Re-implements the semantics of the reference's parser-combinator glob
(reference Glob.scala:4-67) as one unanchored regex, `Glob.pattern`, that
Python's `re` runs one path at a time (`Glob.matches` / `Glob.captures`) and
RE2 runs in Arrow (`Source.inputs` matches whole listings with it).

Semantics (pinned by the ported reference tests in tests/test_glob.py):
- a glob is an alternation of exact text runs and ``*`` captures;
- ``*`` matches subject chars up to (excluding) the first occurrence of the
  glob character that follows it (which must then be present), never
  crossing the path separator; a trailing ``*`` matches to the separator;
- captures may match empty;
- full match anchors both ends, exactly (a trailing newline is not
  ignored); partial match anchors only the start (Glob.scala:64-66 —
  used for S3 prefix matching);
- capture extraction is always prefix-mode (Glob.scala:53-58).
"""

from __future__ import annotations

import re

# the reference's validChar: letters, digits, or one of these
# (Glob.scala:12) — anything else in a glob is a parse error.
_VALID = set(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "-._~:/?#[]@!$&'()+,;="
)


class Glob:
    """A compiled glob pattern over path-like strings."""

    def __init__(self, glob: str, path_sep: str = "/") -> None:
        if not glob:
            raise ValueError("Empty glob")
        self.glob = glob
        self.path_sep = path_sep
        # unanchored; the same text is valid in Python `re` and RE2
        self.pattern = self._compile()
        self._re = re.compile(self.pattern)

    def _compile(self) -> str:
        sep = re.escape(self.path_sep)
        out: list[str] = []
        i = 0
        g = self.glob
        while i < len(g):
            c = g[i]
            if c == "*":
                nxt = g[i + 1] if i + 1 < len(g) else None
                if nxt is not None and nxt in _VALID:
                    # capture up to the terminator char (also stopping at the
                    # path separator), then require the terminator
                    out.append(
                        f"([^{re.escape(nxt)}{sep}]*){re.escape(nxt)}"
                    )
                    i += 2
                else:
                    # trailing * (or * before another *): capture to sep
                    out.append(f"([^{sep}]*)")
                    i += 1
            elif c in _VALID:
                j = i
                while j < len(g) and g[j] in _VALID:
                    j += 1
                out.append(re.escape(g[i:j]))
                i = j
            else:
                raise ValueError(f"Invalid character {c!r} in glob {g!r}")
        return "".join(out)

    def matches(self, path: str, partial: bool = False) -> bool:
        """True if the glob matches `path` (prefix-only when partial)."""
        m = self._re.match(path) if partial else self._re.fullmatch(path)
        return m is not None

    def captures(self, path: str) -> list[str] | None:
        """Wildcard captures (prefix-mode, like the reference's extractor:
        Glob.scala:53-58); None if no match."""
        m = self._re.match(path)
        return list(m.groups()) if m else None

    def __repr__(self) -> str:
        return f"Glob({self.glob!r})"

    def __eq__(self, other) -> bool:
        return isinstance(other, Glob) and other.glob == self.glob

    def __hash__(self) -> int:
        return hash(self.glob)
