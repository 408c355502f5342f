#!/usr/bin/env python
"""Scaling evidence for CDC-driven index sync (COVERAGE.md table).

The claim under test: a FIXED-SIZE curation wave costs a synced index
O(wave + victim files) — flat as the corpus grows — while the rebuild
alternative re-tokenizes / re-encodes and rewrites the WHOLE corpus,
growing linearly. Corpus scaling reuses scaling_bench's replica
construction (replica-disjoint vocabularies / perturbed vectors).

For each corpus size: write the source as a manifest table, build the
index, apply one fixed wave (deletes + text/vector updates + inserts)
as lake commits, then time (a) ``sync_*_index`` to the post-wave head
and (b) the from-scratch rebuild on the same snapshot (same-centroid
rebuild for ANN, so kmeans cost is excluded and the comparison is
pure assignment+write vs delta).

Usage: python scripts/sync_bench.py [--sf-dir ...] [--doc-reps 1,4,8]
                                    [--vec-reps 1,10,25]
Prints one JSON line per (op, n, sync_sec, rebuild_sec).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ensembl_database_loader_spark.operators.bm25 import (  # noqa: E402
    build_bm25_index,
)
from ensembl_database_loader_spark.operators.indexsync import (  # noqa: E402
    sync_ann_index,
    sync_bm25_index,
)
from ensembl_database_loader_spark.operators.similarity import (  # noqa: E402
    ann_index_meta,
    build_ann_index,
)
from ensembl_database_loader_spark.session import get_spark  # noqa: E402
from ensembl_database_loader_spark.sinks import manifest as M  # noqa: E402
from scaling_bench import scaled_corpus, scaled_vectors  # noqa: E402

def _wave(id_limit: int) -> tuple[list[int], list[int]]:
    """Fixed-size delete/update id lists drawn from ids that EXIST in
    the base table (docs ids reach 5000 at sf0.1, vectors only 2000 —
    the wave must not shrink with the table or the comparison lies)."""
    dels = [i for i in range(id_limit) if i % 50 == 3][:40]
    upds = [i for i in range(id_limit) if i % 50 == 9][:40]
    assert len(dels) == 40 and len(upds) == 40
    return dels, upds


def _emit(**kw):
    print(json.dumps(kw), flush=True)


def bench_bm25(spark, sf_dir: str, reps: list[int], root: str) -> None:
    dels, upds = _wave(2000)
    for k in reps:
        src = f"{root}/bm25_src_{k}"
        idx = f"{root}/bm25_idx_{k}"
        fresh = f"{root}/bm25_fresh_{k}"
        corpus = scaled_corpus(spark, sf_dir, k).select("doc_id", "text")
        M.write_table(
            corpus.repartitionByRange(16, "doc_id"), src,
            stats_cols=("doc_id",),
        )
        n = M.table_row_count(spark, src)
        build_bm25_index(
            M.snapshot(spark, src, 0), "doc_id", "text", idx, num_files=16
        )
        # wave 1: DELETE-ONLY (the GDPR / dedup-purge shape) — the
        # tombstone path's O(wave) claim
        M.delete_rows(spark, src, prune=[("doc_id", "in", dels)])
        t0 = time.time()
        out = sync_bm25_index(spark, idx, src, from_version=0)
        t_tomb = time.time() - t0
        assert out["tombstoned"] == len(dels), out
        # wave 2: mixed (updates marker+re-append, inserts) — append-only
        M.update_rows(
            spark, src, {"text": "concat('wave rewrite ', text)"},
            prune=[("doc_id", "in", upds)],
        )
        M.write_table(
            M.snapshot(spark, src).filter(
                F.col("doc_id").isin(upds)
            ).select(
                (F.col("doc_id") + 90_000_000).alias("doc_id"), "text"
            ),
            src,
            mode="append",
        )
        t0 = time.time()
        sync_bm25_index(spark, idx, src)
        t_sync = time.time() - t0
        t0 = time.time()
        build_bm25_index(M.snapshot(spark, src), "doc_id", "text", fresh,
                         num_files=16)
        t_rebuild = time.time() - t0
        _emit(op="bm25_sync_vs_rebuild", n_docs=int(n),
              delete_only_wave=len(dels),
              tombstone_sync_sec=round(t_tomb, 3),
              mixed_wave=2 * len(upds),
              mixed_sync_sec=round(t_sync, 3),
              rebuild_sec=round(t_rebuild, 3))


def bench_ann(spark, sf_dir: str, reps: list[int], root: str) -> None:
    WAVE_DEL, WAVE_UPD = _wave(2000)
    for k in reps:
        src = f"{root}/ann_src_{k}"
        idx = f"{root}/ann_idx_{k}"
        fresh = f"{root}/ann_fresh_{k}"
        vecs = scaled_vectors(spark, sf_dir, k).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        M.write_table(
            vecs.repartitionByRange(16, "vec_id"), src,
            stats_cols=("vec_id",),
        )
        n = M.table_row_count(spark, src)
        build_ann_index(
            M.snapshot(spark, src, 0), "vec_id", "embedding", idx,
            n_cells=64,
        )
        M.delete_rows(spark, src, prune=[("vec_id", "in", WAVE_DEL)])
        M.update_rows(
            spark, src,
            {"embedding": "transform(embedding, x -> -x)"},
            prune=[("vec_id", "in", WAVE_UPD)],
        )
        M.write_table(
            M.snapshot(spark, src).filter(
                F.col("vec_id").isin(WAVE_UPD)
            ).select(
                (F.col("vec_id") + 90_000_000).alias("vec_id"),
                F.reverse("embedding").alias("embedding"),
            ),
            src,
            mode="append",
        )
        t0 = time.time()
        sync_ann_index(spark, idx, src, from_version=0)
        t_sync = time.time() - t0
        cents = ann_index_meta(idx, spark)["centroids"]
        t0 = time.time()
        build_ann_index(
            M.snapshot(spark, src), "vec_id", "embedding", fresh,
            n_cells=64, centroids=cents,
        )
        t_rebuild = time.time() - t0
        _emit(op="ann_sync_vs_rebuild", n_vectors=int(n),
              wave=len(WAVE_DEL) + 2 * len(WAVE_UPD),
              sync_sec=round(t_sync, 3), rebuild_sec=round(t_rebuild, 3))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--doc-reps", default="1,4,8")
    ap.add_argument("--vec-reps", default="1,10,25")
    args = ap.parse_args()
    spark = get_spark(app_name="sync_bench")
    spark.sparkContext.setLogLevel("ERROR")
    # host-normalization anchor (the bench-protocol spot check): all
    # numbers in one emission line share one host regime, but CROSS-run
    # comparisons must scale by this
    t0 = time.time()
    x = 0
    for i in range(20_000_000):
        x += i
    _emit(op="single_thread_spot_check", sec=round(time.time() - t0, 2))
    root = tempfile.mkdtemp(prefix="edl_syncbench_")
    bench_bm25(spark, args.sf_dir, [int(x) for x in args.doc_reps.split(",")], root)
    bench_ann(spark, args.sf_dir, [int(x) for x in args.vec_reps.split(",")], root)
    return 0


if __name__ == "__main__":
    sys.exit(main())
