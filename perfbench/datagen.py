"""Seeded input generators for the three workloads.

Everything the program sees is written here from the run's seed: the same
seed gives byte-identical inputs. Nothing is read from outside the run
directory.

- `write_catalog`: an object-store-like tree of empty `part-*` and
  `metadata` keys under `cat/<group>/<dataset>/` (the orchestrator
  workload).
- `write_variants` / `add_variants_dataset`: the frequency payload layout
  `variants/<ancestry>/<dataset>/part-00000.json` + `metadata`.
- `write_tables`: the ten fixture tables the registry queries read
  (TPC-H-like star schema plus `events`, `documents` and `embeddings`),
  one parquet file each, with the column names, types and value ranges
  of the committed fixtures.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- catalog


@dataclass(frozen=True)
class Catalog:
    root: str
    keys: tuple[str, ...]  # every key, relative to root
    groups: tuple[str, ...]  # the named outputs

    def group_of(self, key: str) -> str:
        return key.split("/")[1]


def write_catalog(root: str, seed: int, n_keys: int, n_groups: int) -> Catalog:
    """About `n_keys` empty objects spread over `n_groups` groups. Each
    dataset holds one `metadata` key and a seeded number of part files."""
    rng = np.random.default_rng([seed, 1])
    groups = tuple(f"g{g:02d}" for g in range(n_groups))
    keys: list[str] = []
    d = 0
    while len(keys) < n_keys:
        group = groups[d % n_groups]
        prefix = f"cat/{group}/ds{d:05d}"
        os.makedirs(os.path.join(root, prefix), exist_ok=True)
        n_parts = int(rng.integers(4, 17))
        names = [f"part-{p:05d}" for p in range(n_parts)] + ["metadata"]
        for n in names:
            key = f"{prefix}/{n}"
            open(os.path.join(root, key), "wb").close()
            keys.append(key)
        d += 1
    return Catalog(root, tuple(sorted(keys)), groups)


def touch_fraction(cat: Catalog, seed: int, cycle: int, frac: float, mtime: float):
    """Give a seeded `frac` of the catalog keys a newer mtime; returns the
    touched keys."""
    rng = np.random.default_rng([seed, 2, cycle])
    n = max(1, int(len(cat.keys) * frac))
    picked = sorted(cat.keys[i] for i in rng.choice(len(cat.keys), n, replace=False))
    for key in picked:
        os.utime(os.path.join(cat.root, key), (mtime, mtime))
    return picked


# -------------------------------------------------------------- variants

ANCESTRIES = ("AA", "EA", "EU", "SA")


def _variant_rows(rng, ancestry: str, dataset: str, n_rows: int, n_vars: int):
    var = rng.integers(0, n_vars, n_rows)
    eaf = np.round(rng.random(n_rows), 4)
    maf = np.round(rng.random(n_rows) * 0.5 + 1e-4, 4)
    eaf_kind = rng.random(n_rows)
    maf_kind = rng.random(n_rows)
    for v, e, m, ek, mk in zip(var, eaf, maf, eaf_kind, maf_kind):
        yield {
            "varId": f"rs{v}",
            "dataset": dataset,
            "ancestry": ancestry,
            # NULL and NaN both occur; MAF far more rarely than EAF
            "eaf": None if ek < 0.03 else (math.nan if ek < 0.05 else float(e)),
            "maf": None if mk < 0.005 else (math.nan if mk < 0.01 else float(m)),
        }


def _write_dataset(root, rng, ancestry, dataset, n_rows, n_vars) -> None:
    d = os.path.join(root, "variants", ancestry, dataset)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-00000.json"), "w") as fh:
        for row in _variant_rows(rng, ancestry, dataset, n_rows, n_vars):
            fh.write(json.dumps(row) + "\n")
    # several metadata rows per dataset (one per phenotype): the weight is
    # their max samples
    with open(os.path.join(d, "metadata"), "w") as fh:
        for _ in range(3):
            samples = float(rng.integers(100, 50_000))
            fh.write(json.dumps({"name": dataset, "samples": samples}) + "\n")


def write_variants(root: str, seed: int, n_datasets: int, n_rows: int, n_vars: int):
    rng = np.random.default_rng([seed, 3])
    for a in ANCESTRIES:
        for j in range(n_datasets):
            _write_dataset(root, rng, a, f"{a}_d{j:02d}", n_rows, n_vars)


def add_variants_dataset(root: str, seed: int, n_rows: int, n_vars: int) -> str:
    """The delta: one new dataset lands in one seeded ancestry."""
    rng = np.random.default_rng([seed, 4])
    a = ANCESTRIES[int(rng.integers(0, len(ANCESTRIES)))]
    _write_dataset(root, rng, a, f"{a}_new", n_rows, n_vars)
    return a


def read_variants(root: str):
    """All variant rows and {dataset: weight}, read back with stdlib json
    for the pure-Python reference."""
    rows, weights = [], {}
    vroot = os.path.join(root, "variants")
    for a in sorted(os.listdir(vroot)):
        for ds in sorted(os.listdir(os.path.join(vroot, a))):
            d = os.path.join(vroot, a, ds)
            with open(os.path.join(d, "part-00000.json")) as fh:
                rows.extend(json.loads(line) for line in fh)
            with open(os.path.join(d, "metadata")) as fh:
                for line in fh:
                    m = json.loads(line)
                    weights[m["name"]] = max(weights.get(m["name"], -math.inf), m["samples"])
    return rows, weights


def reference_freq(rows, weights, ancestry: str) -> dict[str, tuple]:
    """Pure-Python weighted average: per (variant, dataset) means of the
    valid values, then sum(x*n)/sum(n) over the datasets where the measure
    is present; variants without a MAF are dropped."""

    def ok(x):
        return x is not None and not math.isnan(x)

    per: dict[tuple, list] = {}
    for r in rows:
        if r["ancestry"] != ancestry:
            continue
        acc = per.setdefault((r["varId"], r["dataset"]), [0.0, 0, 0.0, 0])
        if ok(r["eaf"]):
            acc[0] += r["eaf"]
            acc[1] += 1
        if ok(r["maf"]):
            acc[2] += r["maf"]
            acc[3] += 1
    tot: dict[str, list] = {}
    for (var, ds), (es, en, ms, mn) in per.items():
        n = weights[ds]
        t = tot.setdefault(var, [0.0, 0.0, 0.0, 0.0])
        if en:
            t[0] += es / en * n
            t[1] += n
        if mn:
            t[2] += ms / mn * n
            t[3] += n
    return {
        var: (t[0] / t[1] if t[1] else None, t[2] / t[3])
        for var, t in tot.items()
        if t[3]
    }


# ---------------------------------------------------------------- tables

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPE = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _days(rng, start: str, span: int, n: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _write(sf_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(sf_dir, f"{name}.parquet"))


def write_tables(sf_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables at `scale` (1.0 = 6M lineitem rows,
    the fixtures' sf convention). Returns the row count per table."""
    os.makedirs(sf_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 5])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_li = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_doc = 500
    n_emb = 500

    _write(sf_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(sf_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(sf_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_MKT, n_cust).tolist(),
    })
    _write(sf_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    _write(sf_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[n]}"
            for c, n in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPE, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(sf_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIO, n_ord).tolist(),
    })
    _write(sf_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(sf_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(10, n_ev * 3 // 200), n_ev), pa.int64()),
        "event_type": rng.choice(_ETYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if texts and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    _write(sf_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.15, (10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.05, (n_emb, 64))).astype(np.float32)
    _write(sf_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_li, "events": n_ev,
        "documents": n_doc, "embeddings": n_emb,
    }
