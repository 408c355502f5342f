#!/usr/bin/env python
"""Opt-in EXECUTOR-SIDE discrimination bench (VERDICT r12 #6).

The sf0.1 fixture is small enough that the full suite is driver/
scheduler-bound (r12: 264.8s at 8 cores vs 264.4s at 32), so a
data-parallel regression would be invisible to the driver's bench.
This script materializes a DERIVED ~K-times corpus under /tmp (the
scaling_bench replica construction: per-replica word suffixes keep
shingle vocabularies replica-disjoint, ids offset per replica) with
the standard table names, then runs a COMPUTE-HEAVY probe subset
through the unmodified bench harness at two core counts and prints the
low/high-core ratio per probe. Records land in
.benchmarks/partial/history.jsonl via bench.py --only (sf=None marks the
non-standard fixture).

Strictly additive: the driver's sf0.1 contract, probe set, and stdout
line are untouched; nothing here is read by any probe.

Usage: python scripts/spot_bench_scaled.py [--reps 10] [--cpus-high 32]
       [--cpus-low 8] [--probes name1,name2,...]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ensembl_database_loader_spark.session import get_spark  # noqa: E402

#: compute-heavy, non-lifecycle probes whose cost scales with the
#: corpus tables (no fixture caps that defeat the scaling)
DEFAULT_PROBES = (
    "dd_minhash_lsh",
    "dd_jaccard_prefix",
    "dd_simhash64_idf",
    "dd_connected_components",
    "ll2_ngram_jaccard",
    "tx_line_clean",
    "tx_boilerplate",
    "tx_bpe_encode",
    "tx_dsir_select",
    "q44_approx_percentile",
    "q49_exact_median",
    "dq_profile_quantiles",
)


def materialize(sf_src: str, out_dir: str, reps: int) -> None:
    spark = get_spark(app_name="spot-bench-materialize")
    spark.sparkContext.setLogLevel("ERROR")
    r = spark.range(reps).select(F.col("id").alias("_r"))

    def suffix_words(col: str) -> F.Column:
        return F.concat_ws(
            " ",
            F.transform(
                F.split(F.col(col), " "),
                lambda w: F.concat(w, F.lit("_r"), F.col("_r").cast("string")),
            ),
        )

    docs = spark.read.parquet(f"{sf_src}/documents.parquet").crossJoin(r)
    docs.select(
        (F.col("doc_id") + F.col("_r") * 1_000_000).alias("doc_id"),
        "lang",
        suffix_words("text").alias("text"),
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    ev = spark.read.parquet(f"{sf_src}/events.parquet").crossJoin(r)
    ev.select(
        (F.col("event_id") + F.col("_r") * 100_000_000).alias("event_id"),
        (F.col("user_id") + F.col("_r") * 1_000_000).alias("user_id"),
        "event_type",
        "ts",
        "value",
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    li = spark.read.parquet(f"{sf_src}/lineitem.parquet").crossJoin(r)
    li.select(
        *[
            (
                (F.col(c) + F.col("_r") * 100_000_000).alias(c)
                if c == "l_orderkey"
                else F.col(c)
            )
            for c in spark.read.parquet(f"{sf_src}/lineitem.parquet").columns
        ]
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    emb = spark.read.parquet(f"{sf_src}/embeddings.parquet").crossJoin(r)
    # deterministic per-replica perturbation (cosine is scale-invariant,
    # so plain multiples would alias directions — scaling_bench's rule)
    emb.select(
        (F.col("vec_id") + F.col("_r") * 1_000_000).alias("vec_id"),
        "label",
        F.transform(
            F.col("embedding"),
            lambda x, i: x + (F.col("_r") * (i + 1) % 97).cast("double") / 970.0,
        ).alias("embedding"),
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    # small dims copied verbatim (some probes read them incidentally)
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        spark.read.parquet(f"{sf_src}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/{t}.parquet")
    spark.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-src", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--cpus-high", type=int, default=32)
    ap.add_argument("--cpus-low", type=int, default=8)
    ap.add_argument("--probes", default=",".join(DEFAULT_PROBES))
    ap.add_argument("--out-dir", default="")
    args = ap.parse_args()

    out_dir = args.out_dir or tempfile.mkdtemp(prefix="edl_spot_scaled_")
    print(f"# materializing {args.reps}x corpus under {out_dir}", file=sys.stderr)
    materialize(args.sf_src, out_dir, args.reps)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    results = {}
    for cpus in (args.cpus_high, args.cpus_low):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["SPARK_GRAFT_SF_DIR"] = out_dir
        p = subprocess.run(
            [
                sys.executable,
                os.path.join(repo, "bench.py"),
                "--repeat",
                "2",
                "--only",
                args.probes,
            ],
            env=env,
            capture_output=True,
            text=True,
            cwd=repo,
        )
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        rec = json.loads(line)
        results[cpus] = rec.get("queries", {})
        print(f"# cpus={cpus}: total={rec.get('value')}", file=sys.stderr)

    hi, lo = results[args.cpus_high], results[args.cpus_low]
    ratios = {
        k: round(lo[k] / hi[k], 2) for k in sorted(hi) if k in lo and hi[k] > 0
    }
    out = {
        "metric": "scaled_spot_low_high_ratio",
        "reps": args.reps,
        "cpus": [args.cpus_high, args.cpus_low],
        "high": hi,
        "low": lo,
        "ratio_low_over_high": ratios,
    }
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
