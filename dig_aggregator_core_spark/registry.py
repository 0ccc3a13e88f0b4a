"""Query/oracle registry backing the driver contract (__spark_entry__.py).

Every operator from SURVEY.md §2 registers here a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the equivalent
DuckDB oracle SQL. The driver compares them at sf=0.01 (row count + schema +
order-insensitive value hash), so:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- double-valued aggregates are rounded the same number of places on both
  sides (cross-engine float summation order differs in the last ulps);
- DuckDB's integer SUM returns INT128 — oracles cast to BIGINT/DOUBLE to
  match Spark's types.
"""

from __future__ import annotations

import builtins
import dis
import hashlib
import importlib.util
import json
import pathlib
import sys
import types
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Queries with NO DuckDB oracle BY DESIGN — each must name why and carry
# a pytest that pins its semantics instead (the driver records a weaker
# rows-only check for these; keep this set near-empty).
ROWS_ONLY_BY_DESIGN: frozenset[str] = frozenset(
    {
        # DEFLATE has no SQL form; exact byte counts pinned against
        # direct zlib calls in tests/test_zlib_ratio.py
        "quality_compression_ratio",
    }
)

# Oracles whose SQL references a FILE rather than the registered views
# are bound to the driver's contractual sf=0.01 dir (DuckDB's
# parquet_metadata() takes a constant path). Local harnesses running at
# another SF must evaluate BOTH sides of these at the pinned dir.
ORACLE_SF_PIN: dict[str, str] = {
    "scan_parquet_footer_stats": "/root/testdata/sf0.01",
}


def query(name: str, oracle: Optional[str] = None):
    """Register a named query and (optionally) its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        # a duplicate registration silently shadows the earlier one (and a
        # stray decorator on a helper once registered a wrong-arity callable
        # under a public name) — fail loudly instead. Re-registering the
        # SAME function is fine: module reload / idempotent load_all().
        prior = QUERIES.get(name)
        if prior is not None and prior.__qualname__ != fn.__qualname__:
            raise ValueError(
                f"query {name!r} already registered by {prior.__qualname__}"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from .operators import (  # noqa: F401
        aggregates,
        analytic,
        analytic2,
        behavioral,
        clustering,
        curation,
        dedup,
        features,
        frequency,
        graph,
        multimodal,
        pipeline,
        relational,
        reshape,
        scalarfn,
        scale,
        scans,
        scrub,
        search,
        selection,
        similarity,
        textops,
        timeseries,
        training,
        warehouse,
        windows,
    )
    from .streaming import stateful as stream_stateful  # noqa: F401
    from .streaming import windows as stream_windows  # noqa: F401


# {name: code_fingerprint(name) at the query's last green driver row},
# written by ``tools/sweep.py --fold CORRECTNESS_rN.json``.
MANIFEST = pathlib.Path(__file__).with_name("verified.json")


_UNSET = object()


def _own(name, top: str) -> bool:
    return isinstance(name, str) and name.partition(".")[0] == top


def _code(code: types.CodeType, glb: dict, top: str, edges: list) -> str:
    """One code object as text: its signature and every instruction with
    the value the instruction reaches by name. Line numbers, the unused
    docstring constant and constant-table indices never enter."""
    out = [
        repr((code.co_argcount, code.co_posonlyargcount,
              code.co_kwonlyargcount, code.co_flags, code.co_varnames))
    ]
    consts: list = [None, None]  # the (level, fromlist) of an IMPORT_NAME
    imported = at = None  # module on the stack / package module of an attr
    modules: dict = {}  # locals bound to a package module
    for ins in dis.get_instructions(code):
        op, arg, val = ins.opname, ins.argval, _UNSET
        if op == "NOP":
            continue
        if op == "LOAD_CONST":
            consts = [consts[1], arg]
        if op in ("LOAD_GLOBAL", "LOAD_NAME"):
            val = glb.get(arg, getattr(builtins, arg, None))
        elif op in ("LOAD_ATTR", "LOAD_METHOD") and at is not None:
            val = getattr(at, arg, None)
        elif op == "IMPORT_NAME":
            # only package modules resolve: what an outside module holds
            # depends on what this process happened to import before
            level, fromlist = consts
            full = importlib.util.resolve_name(
                "." * level + arg, glb.get("__package__") or ""
            )
            imported = None
            if _own(full, top):
                importlib.import_module(full)
                val = imported = sys.modules[full if fromlist or level else top]
        elif op == "IMPORT_FROM" and imported is not None:
            if not hasattr(imported, arg):  # a submodule not imported yet
                importlib.import_module(f"{imported.__name__}.{arg}")
            val = getattr(imported, arg)
        elif op in ("STORE_FAST", "STORE_DEREF") and at is not None:
            modules[arg] = at
        elif op in ("LOAD_FAST", "LOAD_DEREF"):
            val = modules.get(arg, _UNSET)
        text = (
            _code(arg, glb, top, edges) if isinstance(arg, types.CodeType)
            else _enc(arg, top, edges)
        )
        if val is not _UNSET:
            text += "=" + _enc(val, top, edges)
        out.append(f"{op} {text}")
        at = (
            val if isinstance(val, types.ModuleType) and _own(val.__name__, top)
            else None
        )
    return "(" + "; ".join(out) + ")"


def _enc(v, top: str, edges: list) -> str:
    """A value as text. Functions and classes of package ``top`` become
    references, appended to ``edges`` for the caller to walk; immutable
    constants are spelled out (sets sorted); a mutable container is
    runtime state and shows only the package functions it holds."""
    if v is None or isinstance(v, (bool, int, float, complex, str, bytes)):
        return f"{type(v).__name__}:{v!r}"
    if isinstance(v, tuple):
        return "(" + ",".join(_enc(x, top, edges) for x in v) + ")"
    if isinstance(v, frozenset):
        return "{" + ",".join(sorted(_enc(x, top, edges) for x in v)) + "}"
    if isinstance(v, types.ModuleType):
        return "module:" + v.__name__
    if isinstance(v, (types.FunctionType, type)) and _own(v.__module__, top):
        edges.append(v)
        return f"ref:{v.__module__}.{v.__qualname__}"
    if isinstance(v, (staticmethod, classmethod)):
        return f"{type(v).__name__}({_enc(v.__func__, top, edges)})"
    if isinstance(v, property):
        return "property" + _enc((v.fget, v.fset, v.fdel), top, edges)
    if isinstance(v, (dict, list, set)):
        pairs = list(v.items()) if isinstance(v, dict) else [(None, x) for x in v]
        held = [
            _enc(k, top, []) + ":" + _enc(x, top, edges)
            for k, x in pairs
            if isinstance(x, (types.FunctionType, type))
            and _own(x.__module__, top)
        ]
        return type(v).__name__ + "[" + ",".join(sorted(held)) + "]"
    if isinstance(getattr(v, "__qualname__", None), str):
        return f"ext:{getattr(v, '__module__', None)}.{v.__qualname__}"
    return f"obj:{type(v).__module__}.{type(v).__qualname__}"


def _node(obj, top: str) -> tuple[str, list]:
    """``(name digest, edges)`` of one package function or class."""
    edges: list = []
    if isinstance(obj, type):
        body = _enc(obj.__bases__, top, edges) + "".join(
            f"; {k}={_enc(v, top, edges)}"
            for k, v in sorted(vars(obj).items())
            if k != "__doc__"
        )
    else:
        cells = []
        for c in obj.__closure__ or ():
            try:
                cells.append(c.cell_contents)
            except ValueError:  # a cell not bound yet
                cells.append(_UNSET)
        kwdefaults = tuple(sorted((obj.__kwdefaults__ or {}).items()))
        body = _code(obj.__code__, obj.__globals__, top, edges) + _enc(
            (obj.__defaults__, kwdefaults, tuple(cells),
             getattr(obj, "__wrapped__", None)),
            top, edges,
        )
    digest = hashlib.sha256(body.encode()).hexdigest()
    return f"{obj.__module__}.{obj.__qualname__} {digest}", edges


def code_fingerprints(names) -> dict[str, str]:
    """``{name: code_fingerprint(name)}``, walking each shared helper once."""
    load_all()
    nodes: dict = {}
    out = {}
    for name in names:
        fn = QUERIES[name]
        top = fn.__module__.partition(".")[0]
        todo, seen, parts = [fn], set(), []
        while todo:
            obj = todo.pop()
            if id(obj) in seen:
                continue
            seen.add(id(obj))
            if (top, id(obj)) not in nodes:
                nodes[top, id(obj)] = _node(obj, top)
            part, edges = nodes[top, id(obj)]
            parts.append(part)
            todo.extend(edges)
        parts.sort()
        parts.append(ORACLES.get(name) or "")
        out[name] = hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]
    return out


def code_fingerprint(name: str) -> str:
    """Digest of the code that computes query ``name``: its registered
    function, every function, class and immutable module constant of the
    function's package that it reaches by name, and its oracle SQL.

    "Reaches by name" follows globals, ``module.attr`` chains, imports
    inside functions, defaults, closure cells, ``__wrapped__``, class
    methods, and functions held in module-level tuples and dicts, walked
    to a fixed point. Comments, docstrings, line numbers and the
    checkout path do not enter, and sets are sorted, so the digest is the
    same in every process. Mutable module state (memo dicts,
    ``MEMO_STATS``, stats counters) does not enter either: filling it at
    run time must not move the digest. The price is that plain data kept
    in a module-level list, dict or set is not seen; a table that feeds a
    result belongs in a tuple or frozenset.

    Unlike an optimized-plan digest, it sees code above a
    ``localCheckpoint`` or a collected stream result, does not depend on
    the core count, and starts no JVM."""
    return code_fingerprints([name])[name]


def verified() -> set[str]:
    """Names whose manifest entry equals their current code fingerprint."""
    load_all()
    manifest = json.loads(MANIFEST.read_text())
    fps = code_fingerprints(QUERIES)
    return {n for n, fp in fps.items() if manifest.get(n) == fp}


def ordered_queries() -> dict[str, QueryFn]:
    """All registered queries in the order the driver should check them.

    The driver checks about 50 queries per round, walking this order, so
    the order puts first what has no driver evidence for its current
    code. A query counts as verified when its ``code_fingerprint``
    equals the one ``verified.json`` recorded at its last green driver
    row; any change to its code, or to package code it reaches, makes it
    unverified again with no hand edit. Ranks are (verified, streaming,
    registration order): streaming queries pay an AvailableNow start-up
    each, so they follow the other unverified names and one slow query
    cannot starve the batch set.

    Known cost: a change to a shared helper evicts every query that
    reaches it (380 of the 382 queries reach ``tables.load``).
    That is deliberate: re-checking code that changed is the point.
    Nothing here runs at import, since ``load_all()`` is timed in every
    benchmark workload's setup."""
    ok = verified()

    def rank(n: str) -> tuple[bool, bool]:
        # sorted() is stable, so registration order holds within a rank
        return (n in ok, n.startswith("stream_") or n.endswith("_window"))

    return {n: QUERIES[n] for n in sorted(QUERIES, key=rank)}
