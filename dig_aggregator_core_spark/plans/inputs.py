"""Inputs and input sources (reference Input.scala:8-85).

An Input is a discovered object key + version timestamp. An Input.Source is
a (prefix glob, basename glob) pair identifying a family of objects; listing
goes through the context's lister restricted to the glob's common prefix —
the reference's S3 LIST pushdown (Input.scala:40, Implicits.scala:29-32) —
and the listed keys are matched in one Arrow regex pass.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from functools import cached_property

import pyarrow as pa
import pyarrow.compute as pc

from ..functions.glob import Glob
from ..functions.paths import basename as _basename
from ..functions.paths import common_prefix, dirname as _dirname


@dataclass(frozen=True)
class Input:
    """A discovered object: key + last-modified version (UTC).
    Reference Input.scala:8-15."""

    key: str
    version: datetime

    @property
    def basename(self) -> str:
        return _basename(self.key)

    @property
    def dirname(self) -> str:
        return _dirname(self.key)


@dataclass(frozen=True)
class Source:
    """A family of inputs: prefix glob (must end '/') + basename glob
    (must not end '/'). Reference Input.scala:29-63."""

    prefix: str
    basename: str

    def __post_init__(self) -> None:
        if not self.prefix.endswith("/"):
            raise ValueError(f"Source prefix must end with '/': {self.prefix!r}")
        if self.basename.endswith("/"):
            raise ValueError(
                f"Source basename must not end with '/': {self.basename!r}"
            )

    @cached_property
    def prefix_glob(self) -> Glob:
        return Glob(self.prefix)

    @cached_property
    def basename_glob(self) -> Glob:
        return Glob(self.basename)

    @cached_property
    def key_regex(self) -> str | None:
        """`matches` as one anchored regex over the whole key, valid in
        Python `re` and RE2: the prefix glob (which ends at a '/'), any
        further directories, then the basename glob. None when the
        basename glob holds a '/': a basename never does, so nothing
        matches."""
        if "/" in self.basename:
            return None
        return (
            f"^{self.prefix_glob.pattern}(?s:.*/)?{self.basename_glob.pattern}$"
        )

    @property
    def common_prefix(self) -> str:
        """Minimal listing prefix (truncate at first wildcard)."""
        return common_prefix(self.prefix + self.basename)

    def matches(self, input_: Input) -> bool:
        """Full basename match AND partial (prefix) dirname match
        (Input.scala:48-50)."""
        return self.basename_glob.matches(input_.basename) and self.prefix_glob.matches(
            input_.dirname, partial=True
        )

    def captures(self, input_: Input) -> list[str] | None:
        """Wildcard captures: prefix captures ++ basename captures
        (Input.scala:58-62); None if either part fails to match."""
        key = input_.key
        n = key.rfind("/") + 1  # dirname = key[:n], basename = key[n:]
        b = self.basename_glob.captures(key[n:])
        if b is None:
            return None
        p = self.prefix_glob.captures(key[:n])
        return None if p is None else p + b

    def inputs(self, context) -> list[Input]:
        """List and filter all objects matching this source
        (Input.scala:38-45): LIST under the common prefix, match every
        key at once in Arrow, and build an `Input` only per matched key."""
        listing = context.lister(self.common_prefix)
        if not listing or self.key_regex is None:
            return []
        try:
            keys = pa.array([key for key, _ in listing], pa.string())
        except UnicodeEncodeError:
            # a non-UTF-8 name, surrogate-escaped by the OS layer: Arrow
            # strings cannot hold it, so match this listing key by key
            return [Input(k, v) for k, v in listing if self.matches(Input(k, v))]
        hits = pc.indices_nonzero(pc.match_substring_regex(keys, self.key_regex))
        return [Input(*listing[i]) for i in hits.to_pylist()]

    # -- factories (Input.scala:69-85) --

    @staticmethod
    def raw(key: str) -> "Source":
        n = key.rfind("/")
        if n < 0:
            raise ValueError(f"Invalid raw Source: {key}")
        return Source(key[: n + 1], key[n + 1 :])

    @staticmethod
    def dataset(prefix: str) -> "Source":
        return Source(prefix, "metadata")

    @staticmethod
    def success(prefix: str) -> "Source":
        return Source(prefix, "_SUCCESS")
