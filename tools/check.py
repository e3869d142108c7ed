"""Local mirror of the driver's correctness gate.

Runs every queries() entry at a given scale factor; where an oracle
exists, executes it in DuckDB over the same parquet and compares
row count, column names, and order-insensitive values through the
SAME pandas canonicalization path the driver uses (see
diversity_maximization_spark/testing.py — fetchdf/toPandas dtype
coercions are part of the contract). Usage:

    python tools/check.py [--sf 0.01] [key ...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

import _root  # noqa: F401  (engine on sys.path and PYTHONPATH)

from diversity_maximization_spark import registry
from diversity_maximization_spark.session import get_spark
from diversity_maximization_spark.testing import compare, duck_connection

registry.load_all()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--json-out", default=None)
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    spark = get_spark("dms-check")
    con = duck_connection(sf_dir)

    keys = args.keys or list(registry.QUERIES)
    results = {}
    n_pass = n_fail = n_rows_only = 0
    for key in keys:
        fn = registry.QUERIES[key]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            if key not in registry.ORACLES:
                n = sdf.count()
                dt = time.time() - t0
                print(f"rows  {key}: {n} rows ({dt:.1f}s) [no oracle]", flush=True)
                results[key] = {"status": "rows_only", "rows": n}
                n_rows_only += 1
                continue
            problems = compare(sdf, con, registry.ORACLES[key])
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key}: error: {type(e).__name__}: {e}", flush=True)
            results[key] = {"status": "error", "err": f"{type(e).__name__}: {e}"}
            n_fail += 1
            continue
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {key}: " + "; ".join(problems), flush=True)
            results[key] = {"status": "fail", "problems": problems}
            n_fail += 1
        else:
            print(f"PASS  {key} ({dt:.1f}s)", flush=True)
            results[key] = {"status": "pass"}
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail")
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(results, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
