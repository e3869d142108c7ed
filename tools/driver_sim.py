"""Driver-faithful correctness simulation.

tools/check.py verifies semantics on the project's session factory.
A driver instead builds its own bare SparkSession (no nanosAsLong, no
tz pin, no warehouse conf) and canonicalizes via pandas sort_values —
which is exactly where round 1 lost 10 keys (PARQUET_TYPE_ILLEGAL,
unhashable list). This tool mirrors that harness: bare session,
pandas canonicalization; a key without an oracle gets a rows-only
execution check.

    python tools/driver_sim.py [--sf 0.01] (--all | key ...)
"""

from __future__ import annotations

import argparse
import hashlib
import sys
import time

import _root  # noqa: F401  (engine on sys.path and PYTHONPATH)

import duckdb
import pandas as pd


def canon_hash(pdf: pd.DataFrame) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    if len(pdf):
        pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False):
        h.update(repr(tuple(_norm(v) for v in row)).encode())
    return h.hexdigest()


def _norm(v):
    if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
        return None
    if pd.api.types.is_float(v):
        return float(v)
    if pd.api.types.is_integer(v):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument(
        "--all",
        action="store_true",
        help="sweep every registered key (a no-oracle key is a "
        "rows-only check, not a failure)",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    if not args.keys and not args.all:
        ap.error("name keys or pass --all")
    sf_dir = f"/root/testdata/sf{args.sf}"

    from pyspark.sql import SparkSession

    # BARE session: deliberately none of the builder factory's confs
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    import __spark_entry__ as m

    queries, oracles = m.queries(), m.oracle_sql()
    con = duckdb.connect()
    from diversity_maximization_spark.sources import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    keys = args.keys or list(queries)
    n_pass = n_fail = n_rows = 0
    for key in keys:
        t0 = time.time()
        try:
            sdf = queries[key](spark, sf_dir)
            spdf = pd.DataFrame(
                [r.asDict() for r in sdf.collect()], columns=sdf.columns
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key}: spark: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        dt = time.time() - t0
        if key not in oracles:
            print(f"rows  {key}: {len(spdf)} rows ({dt:.1f}s)")
            n_rows += 1
            continue
        try:
            dpdf = pd.DataFrame(
                con.sql(oracles[key]).fetchall(),
                columns=con.sql(oracles[key]).columns,
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {key}: duckdb: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(dpdf):
            problems.append(f"rows {len(spdf)} vs {len(dpdf)}")
        if sorted(spdf.columns) != sorted(dpdf.columns):
            problems.append(
                f"cols {sorted(spdf.columns)} vs {sorted(dpdf.columns)}"
            )
        if not problems:
            try:
                hs, hd = canon_hash(spdf), canon_hash(dpdf)
            except TypeError as e:
                problems.append(f"canonicalizer: {e}")
            else:
                if hs != hd:
                    problems.append("value hash mismatch")
        if problems:
            print(f"FAIL  {key}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {key} ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
