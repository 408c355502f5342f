#!/usr/bin/env python
"""Driver-replica verification (see .claude/skills/verify/SKILL.md).

Loads __spark_entry__.py exactly as the correctness driver does, runs
entry() as a smoke check, then every queries() probe at sf0.01 with a
VANILLA SparkSession (not our tuned get_spark()) and compares against
oracle_sql() run through DuckDB on the same parquet tables.

Comparison mirrors the driver: toPandas, sort columns by name,
stringify + sort rows, exact match. Probes without an oracle entry get
a rows-only (>=0 rows, stable schema) check.

Usage: python scripts/verify_driver.py [--sf-dir /root/testdata/sf0.01]
                                       [--only name1,name2]
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

import duckdb

#: The checkout this script belongs to: its own ``__spark_entry__.py`` and
#: package are the ones verified, whichever directory it is run from.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def frame_fingerprint(pdf):
    """Sorted-columns, sorted-stringified-rows canonical form."""
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        "\x1f".join("NULL" if v is None or v != v else str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return list(pdf.columns), rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from pyspark.sql import SparkSession

    sys.path.insert(0, ROOT)
    from bench import probe_tempdir

    # Python workers inherit the JVM's environment: put this checkout
    # first so they import the same package the driver loaded.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = mod.entry(spark).count()
    print(f"entry() smoke: {n} rows", file=sys.stderr)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{t}.parquet')"
        )

    queries = mod.queries()
    oracles = mod.oracle_sql()
    if args.only:
        keep = set(args.only.split(","))
        queries = {k: v for k, v in queries.items() if k in keep}

    results = {}
    failures = []
    for name, fn in queries.items():
        t0 = time.perf_counter()
        try:
            # a fresh tempfile directory per probe, removed once its rows
            # are collected
            with probe_tempdir():
                pdf = fn(spark, args.sf_dir).toPandas()
            if name in oracles:
                ocols, orows = frame_fingerprint(con.sql(oracles[name]).df())
                scols, srows = frame_fingerprint(pdf)
                ok = scols == ocols and srows == orows
                mode = "hash"
                if not ok:
                    failures.append(name)
                    if scols != ocols:
                        print(f"  {name}: cols spark={scols} oracle={ocols}",
                              file=sys.stderr)
                    else:
                        # Set difference, not positional zip: zip silently
                        # truncates when row counts differ and misaligns
                        # after the first insertion/deletion.
                        only_s = sorted(set(srows) - set(orows))[:3]
                        only_o = sorted(set(orows) - set(srows))[:3]
                        print(f"  {name}: {len(srows)} vs {len(orows)} rows; "
                              f"spark-only {only_s}; oracle-only {only_o}",
                              file=sys.stderr)
            else:
                # No oracle: require a non-degenerate schema AND that any
                # self-check boolean columns the probe emits (within_*,
                # *_ok) are all true — the probe's own declared invariant.
                selfcheck_cols = [
                    c for c in pdf.columns
                    if pdf[c].dtype == bool
                    and (c.startswith("within_") or c.endswith("_ok"))
                ]
                ok = len(pdf.columns) > 0 and all(
                    bool(pdf[c].all()) for c in selfcheck_cols
                )
                mode = "rows_only"
                if not ok:
                    failures.append(name)
        except Exception as exc:  # noqa: BLE001
            ok, mode = False, "err"
            failures.append(name)
            print(f"  {name}: ERROR {exc}", file=sys.stderr)
        results[name] = {
            "ok": ok,
            "mode": mode,
            "sec": round(time.perf_counter() - t0, 2),
        }
        status = "ok" if ok else "FAIL"
        print(f"{status:4s} {mode:9s} {results[name]['sec']:6.2f}s  {name}",
              file=sys.stderr)

    print(json.dumps({
        "n_probes": len(results),
        "n_fail": len(failures),
        "failed": failures,
    }))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
