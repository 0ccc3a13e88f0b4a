"""Pre-flight driver mirror: run registered queries vs their DuckDB oracles
at an arbitrary SF (default sf0.01, the driver's correctness scale) and
flag driver-hash hazards (list/ndarray-valued output cells, which the
driver's pandas hasher cannot digest).

Usage:
    python tools/sweep.py                 # unverified tier only, sf0.01
    python tools/sweep.py --all           # every registered query
    python tools/sweep.py name1 name2     # just these names
    python tools/sweep.py --fold CORRECTNESS_rN.json

``--fold`` runs nothing: it records the current code fingerprint of each
green row of a driver correctness file in the registry's verified.json,
so those queries leave the unverified tier until their code changes.
Fold a file on the tree the driver checked, before changing any code.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from dig_aggregator_core_spark import registry  # noqa: E402
from dig_aggregator_core_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duck_con  # noqa: E402


def fold(path: str) -> int:
    """Record each green row's current fingerprint in the manifest."""
    with open(path) as f:
        rows = json.load(f)
    green = [
        n for n, row in rows.items()
        if n in registry.QUERIES
        and (
            row.get("hash_match") is True
            or (n in registry.ROWS_ONLY_BY_DESIGN and row.get("err") == "no_oracle")
        )
    ]
    manifest = json.loads(registry.MANIFEST.read_text())
    manifest.update(registry.code_fingerprints(green))
    manifest = {n: fp for n, fp in manifest.items() if n in registry.QUERIES}
    registry.MANIFEST.write_text(json.dumps(manifest, indent=1, sort_keys=True) + "\n")
    print(f"folded {len(green)}/{len(rows)} green rows; {len(manifest)} in manifest")
    return 0


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    registry.load_all()
    if "--fold" in sys.argv:
        return fold(*args)
    if args:
        names = args
    elif "--all" in sys.argv:
        names = list(registry.ordered_queries())
    else:
        ok = registry.verified()
        names = [n for n in registry.ordered_queries() if n not in ok]
    spark = get_spark(app_name="sweep", shuffle_partitions=16)
    con = duck_con(sf_dir)
    failures: list[str] = []
    for name in names:
        fn = registry.QUERIES[name]
        t0 = time.time()
        # file-path-bound oracles (ORACLE_SF_PIN) are evaluated with BOTH
        # sides at their pinned dir, mirroring tests/test_queries.py —
        # sweeping them at another SF compares two different files
        pin = registry.ORACLE_SF_PIN.get(name)
        q_dir = pin if pin is not None else sf_dir
        q_con = duck_con(pin) if pin is not None and pin != sf_dir else con
        try:
            df = fn(spark, q_dir)
            pdf = df.toPandas()
            # driver-hash hazard: any cell the pandas hasher can't digest
            for col in pdf.columns:
                sample = pdf[col].head(50)
                for v in sample:
                    if isinstance(v, (list, dict, np.ndarray, bytearray)):
                        raise TypeError(
                            f"column {col!r} holds {type(v).__name__} — "
                            "driver hash hazard; digest it"
                        )
            sql = registry.ORACLES.get(name)
            if sql is None:
                status = f"NO-ORACLE rows={len(pdf)}"
            else:
                compare(df, q_con, sql)
                status = f"ok rows={len(pdf)}"
        except Exception as e:  # noqa: BLE001
            status = f"FAIL {type(e).__name__}: {e}"
            failures.append(name)
            if "-v" in sys.argv:
                traceback.print_exc()
        finally:
            if q_con is not con:
                q_con.close()
        print(f"{name:45s} {time.time() - t0:6.1f}s  {status[:140]}", flush=True)
    print(f"\n{len(names) - len(failures)}/{len(names)} green; failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
