"""S3-key-style path string functions (reference Implicits.scala:15-32)."""

from __future__ import annotations


def basename(key: str) -> str:
    """Everything after the last '/' (Implicits.scala:23)."""
    return key[key.rfind("/") + 1 :]


def dirname(key: str) -> str:
    """Up to and including the last '/' (Implicits.scala:26)."""
    return key[: key.rfind("/") + 1]


def common_prefix(key: str) -> str:
    """dirname truncated at the first wildcard (Implicits.scala:29-32) —
    the minimal listing prefix for a glob key."""
    d = dirname(key)
    n = d.find("*")
    return d[:n] if n >= 0 else d
