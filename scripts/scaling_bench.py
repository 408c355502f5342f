#!/usr/bin/env python
"""Scaling evidence for the bucketed dedup/ANN paths (COVERAGE.md table).

Grows the sf0.1 corpus by replication with per-replica word suffixes —
each replica's shingle vocabulary is disjoint from every other's, so
the near-dup structure (each doc + its first-word-dropped variant)
stays constant per doc while corpus size scales. If the candidate
stage were all-pairs the runtime would grow ~quadratically; the
bucketed band-key join should grow ~linearly.

ANN vectors scale by replication with deterministic per-replica,
per-dimension perturbation (cosine is scale-invariant, so plain
scalar multiples would create artificial exact-duplicate directions).

Usage: python scripts/scaling_bench.py [--sf-dir /root/testdata/sf0.1]
Prints one JSON line per (op, n, sec).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ensembl_database_loader_spark.catalog import table  # noqa: E402
from ensembl_database_loader_spark.operators.dedup import (  # noqa: E402
    minhash_lsh_candidates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs_prefix,
    simhash64_pairs_banded,
)
from ensembl_database_loader_spark.operators.similarity import (  # noqa: E402
    ann_topk,
    build_ann_index,
    lsh_bucket_topk,
)
from ensembl_database_loader_spark.session import get_spark  # noqa: E402


def scaled_corpus(spark, sf_dir: str, k: int):
    """k replicas x (documents + dropped-first-word variants); replica r
    suffixes every word with _r<r> so shingles are replica-disjoint.
    ``lang`` rides along unchanged — the blocked operators
    (prefix-Jaccard, banded simhash) see each block grow k-fold."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    reps = spark.range(k).select(F.col("id").alias("r"))
    base = d.crossJoin(reps).select(
        (F.col("doc_id") + F.col("r") * 1_000_000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda w: F.concat(w, F.lit("_r"), F.col("r").cast("string")),
            ),
        ).alias("text"),
        "lang",
    )
    variants = base.select(
        (F.col("doc_id") + 500_000).alias("doc_id"),
        F.regexp_replace("text", "^[^ ]+ ", "").alias("text"),
        "lang",
    )
    return base.unionByName(variants)


def scaled_vectors(spark, sf_dir: str, k: int):
    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    reps = spark.range(k).select(F.col("id").alias("r"))
    return e.crossJoin(reps).select(
        (F.col("vec_id") + F.col("r") * 1_000_000).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda v, i: (
                v + ((i * (F.col("r") % 13) % 7).cast("float") - 3.0) * 0.05
            ).cast("float"),
        ).alias("embedding"),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--doc-reps", default="1,2,5,10", help="replica counts for dedup")
    ap.add_argument("--vec-reps", default="1,5,25,50", help="replica counts for ANN")
    ap.add_argument(
        "--event-reps", default="1,5,20",
        help="replica counts for event analytics (users scale, per-user density constant)",
    )
    ap.add_argument(
        "--r8-reps", default="",
        help="replica counts for the r8 ops (shuffle-shard export, hot-key "
        "isolation join, manifest skipping, incremental rollup); empty = skip",
    )
    ap.add_argument(
        "--r8b-reps", default="",
        help="replica counts for the r8b ops (MG frequent items, exact-k "
        "sampling, table checksum); empty = skip",
    )
    ap.add_argument(
        "--r9d-reps", default="",
        help="replica counts for PQ encode/ADC-search scaling",
    )
    ap.add_argument(
        "--r9c-reps", default="",
        help="replica counts for the r9c graph ops (triangles, LPA) over "
             "the co-purchase graph",
    )
    ap.add_argument(
        "--r9-reps", default="",
        help="replica counts for the r9 ops (corpus BPE encode, tokenized "
        "example materialization, fixed-point PageRank); empty = skip",
    )
    ap.add_argument(
        "--r11-batch", default="",
        help="batch-ANN width scaling over materialized indexes: "
        "'<vec_reps>:<q1>,<q2>,...' — build float + PQ indexes on "
        "vec_reps-replicated embeddings, then run each query-batch "
        "width through ann_topk (the scorer follows the width); "
        "empty = skip",
    )
    ap.add_argument(
        "--r11-ops", default="ivf,pq",
        help="which r11-batch index kinds to time (comma subset of "
        "ivf,pq) — re-measure one without re-paying the other",
    )
    args = ap.parse_args()

    spark = get_spark(app_name="scaling-bench")
    spark.sparkContext.setLogLevel("ERROR")
    out = []

    for k in [int(x) for x in args.doc_reps.split(",") if x]:
        c = scaled_corpus(spark, args.sf_dir, k).cache()
        n = c.count()  # materialize outside the timed region

        t0 = time.perf_counter()
        cand = minhash_lsh_candidates(c, "doc_id", "text", num_hashes=8, rows_per_band=2)
        ver = minhash_lsh_pairs(c, "doc_id", "text", threshold=None, candidates=cand)
        row = ver.agg(
            F.count(F.lit(1)).alias("cand"),
            F.count(F.when(F.col("jaccard") >= 0.8, 1)).alias("verified"),
        ).collect()[0]
        dt = time.perf_counter() - t0
        rec = {"op": "dd_minhash_lsh", "n_docs": n, "sec": round(dt, 2),
               "cand": row.cand, "verified": row.verified}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        t0 = time.perf_counter()
        pairs = ngram_jaccard_pairs_prefix(
            c, "doc_id", "text", "lang", n=3, threshold=0.8
        )
        pcnt = pairs.count()
        dt = time.perf_counter() - t0
        rec = {"op": "dd_jaccard_prefix", "n_docs": n, "sec": round(dt, 2),
               "pairs": pcnt}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        t0 = time.perf_counter()
        sh = simhash64_pairs_banded(c, "doc_id", "text", "lang", max_hamming=4)
        scnt = sh.count()
        dt = time.perf_counter() - t0
        rec = {"op": "dd_simhash64_idf", "n_docs": n, "sec": round(dt, 2),
               "pairs": scnt}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        # r6 corpus-construction ops: contamination should scale
        # linearly in corpus size (broadcast membership — per-doc cost
        # is flat); packing likewise (shard-local FFD)
        from ensembl_database_loader_spark.operators.contamination import (
            contamination_report,
        )
        from ensembl_database_loader_spark.operators.packing import pack_sequences
        from ensembl_database_loader_spark.operators.textstats import (
            with_token_stats,
        )

        bench_docs = table(spark, args.sf_dir, "documents").filter(
            F.col("source") == "src0"
        )
        t0 = time.perf_counter()
        rep = contamination_report(c, bench_docs, "doc_id", "text")
        flagged = rep.filter(F.col("n_contaminated") > 0).count()
        dt = time.perf_counter() - t0
        rec = {"op": "tx_contamination", "n_docs": n, "sec": round(dt, 2),
               "flagged": flagged}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        # r7: exact-substring dedup — three linear shuffles (window-hash
        # count, per-doc starts, doc back-join); the doc+variant corpus
        # duplicates nearly every window, so this is the worst case for
        # the coverage stage
        from ensembl_database_loader_spark.operators.substrdedup import (
            remove_duplicate_spans,
        )

        t0 = time.perf_counter()
        row = (
            remove_duplicate_spans(c, "doc_id", "text", window=8)
            .agg(
                F.sum("n_removed").alias("removed"),
                F.count(F.when(F.col("n_removed") > 0, 1)).alias("affected"),
            )
            .collect()[0]
        )
        dt = time.perf_counter() - t0
        rec = {"op": "tx_substr_dedup", "n_docs": n, "sec": round(dt, 2),
               "tokens_removed": row.removed, "docs_affected": row.affected}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        t0 = time.perf_counter()
        packed = pack_sequences(
            with_token_stats(c, "text"), "doc_id", "n_tokens",
            budget=512, n_shards=32,
        )
        n_packs = packed.select("shard", "pack_id").distinct().count()
        dt = time.perf_counter() - t0
        rec = {"op": "llp_seq_packing", "n_docs": n, "sec": round(dt, 2),
               "n_packs": n_packs}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        # late-r7: per-domain doc caps — bucket-histogram plan, so cost
        # is one corpus scan + a boundary-bucket window regardless of
        # how large any single domain grows
        from ensembl_database_loader_spark.operators.budget import select_doc_cap

        t0 = time.perf_counter()
        capped = select_doc_cap(
            c, "doc_id", "lang", {"en": 5000, "de": 2000}, keep_unlisted=True
        )
        ccnt = capped.count()
        dt = time.perf_counter() - t0
        rec = {"op": "llp_domain_cap", "n_docs": n, "sec": round(dt, 2),
               "kept": ccnt}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        c.unpersist()

    for k in [int(x) for x in args.vec_reps.split(",") if x]:
        e = scaled_vectors(spark, args.sf_dir, k).cache()
        n = e.count()

        t0 = time.perf_counter()
        top = lsh_bucket_topk(e, "vec_id", "embedding", query_id=0, k=5).collect()
        dt = time.perf_counter() - t0
        rec = {"op": "ss_ann_lsh", "n_vecs": n, "sec": round(dt, 2), "topk": len(top)}
        out.append(rec)
        print(json.dumps(rec), flush=True)

        # materialized-index serving path: build once (timed separately),
        # then the query reads ONLY its probed cell partitions — query
        # cost should stay flat in corpus size
        import tempfile

        idx = tempfile.mkdtemp(prefix="edl_scaling_annidx_") + "/idx"
        t0 = time.perf_counter()
        build_ann_index(e, "vec_id", "embedding", idx, n_cells=16)
        build_dt = time.perf_counter() - t0
        qvec = [
            float(x)
            for x in e.filter(F.col("vec_id") == 0)
            .select(F.col("embedding").cast("array<double>"))
            .first()[0]
        ]
        t0 = time.perf_counter()
        top = ann_topk(spark, idx, [(0, qvec)], k=5, exclude_self=True).collect()
        dt = time.perf_counter() - t0
        rec = {"op": "ss_ann_ivf_indexed", "n_vecs": n, "build_sec": round(build_dt, 2),
               "query_sec": round(dt, 2), "topk": len(top)}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        # r7: SemDeDup with IVF candidate cells — n_cells scales with
        # the corpus so cells stay ~2k rows: total GEMM work is
        # sum(cell^2) ~ n * cell_size, i.e. LINEAR in n at fixed cell
        # size (the exact path would be quadratic)
        from ensembl_database_loader_spark.operators.similarity import (
            semantic_dedup,
        )

        n_cells = max(16, n // 2000)
        t0 = time.perf_counter()
        kept = semantic_dedup(
            e, "vec_id", "embedding", threshold=0.2,
            candidates="ivf", n_cells=n_cells,
        )
        kcnt = kept.count()
        dt = time.perf_counter() - t0
        rec = {"op": "dd_semantic_dedup_ivf", "n_vecs": n, "sec": round(dt, 2),
               "n_cells": n_cells, "kept": kcnt}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        e.unpersist()

    # late-r7: event analytics — users scale with replicas while
    # per-user event counts stay constant, the realistic growth mode;
    # both ops are one user-shuffle + per-user sorts, so wall-clock
    # should grow ~linearly in total events
    from ensembl_database_loader_spark.operators.events import (
        conversion_funnel,
        sessionize,
    )

    for k in [int(x) for x in args.event_reps.split(",") if x]:
        ev = table(spark, args.sf_dir, "events").select(
            "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tsu")
        )
        reps = spark.range(k).select(F.col("id").alias("rep"))
        ev = ev.crossJoin(reps).select(
            (F.col("user_id") + F.col("rep") * 1_000_000).alias("user_id"),
            "event_id", "event_type", "tsu",
        ).cache()
        n = ev.count()

        t0 = time.perf_counter()
        sess = sessionize(ev, "user_id", "tsu", "event_id", gap_us=1_800_000_000)
        ns = sess.select("user_id", "sess").distinct().count()
        dt = time.perf_counter() - t0
        rec = {"op": "q58_sessionization", "n_events": n, "sec": round(dt, 2),
               "n_sessions": ns}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        t0 = time.perf_counter()
        fun = conversion_funnel(
            ev, "user_id", "event_type", "tsu", "event_id",
            steps=("view", "click", "purchase"), step_within_us=86_400_000_000,
        )
        row = fun.agg(
            F.sum("s1").alias("a"), F.sum("s3").alias("c")
        ).collect()[0]
        dt = time.perf_counter() - t0
        rec = {"op": "q59_event_funnel", "n_events": n, "sec": round(dt, 2),
               "n_step1": int(row.a), "n_step3": int(row.c)}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        ev.unpersist()

    # r8 ops: scale evidence for the export permutation, the two-path
    # skew join, manifest file skipping, and CDC-folded rollups
    if args.r8_reps:
        import shutil
        import tempfile

        from ensembl_database_loader_spark.operators.export import shuffle_shard
        from ensembl_database_loader_spark.operators.skew import hot_key_split_join
        from ensembl_database_loader_spark.sinks.ivm import refresh_rollup
        from ensembl_database_loader_spark.sinks import manifest as M

        for k in [int(x) for x in args.r8_reps.split(",") if x]:
            c = scaled_corpus(spark, args.sf_dir, k).select("doc_id").cache()
            n = c.count()

            # deterministic global shuffle: shard-local sorts only
            t0 = time.perf_counter()
            sh = shuffle_shard(c, "doc_id", 64)
            row = sh.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("pos") * F.col("doc_id")).alias("chk"),
            ).collect()[0]
            dt = time.perf_counter() - t0
            rec = {"op": "llp_shuffle_shard", "n_docs": n, "sec": round(dt, 2),
                   "shards": 64}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            c.unpersist()

            # two-path skew join: ONE key holds ~20% of a scaled fact
            fact_n = 500_000 * k
            fact = (
                spark.range(fact_n)
                .select(
                    F.when(F.col("id") % 5 == 0, F.lit(7))
                    .otherwise(F.pmod(F.col("id"), F.lit(10_000)))
                    .alias("k"),
                    F.col("id").alias("payload"),
                )
                .cache()
            )
            fact.count()
            dim = spark.range(10_000).select(
                F.col("id").alias("k"), (F.col("id") % 97).alias("attr")
            )
            t0 = time.perf_counter()
            iso = hot_key_split_join(fact, dim, "k", hot_min_rows=50_000)
            cnt = iso.count()
            dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            plain_cnt = fact.join(dim, "k").count()
            dt_plain = time.perf_counter() - t0
            rec = {"op": "q60_skew_isolation_join", "n_rows": fact_n,
                   "sec": round(dt, 2), "sec_plain": round(dt_plain, 2),
                   "equal": cnt == plain_cnt}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            fact.unpersist()

            # manifest skipping: range-clustered commit, point-range read
            d = tempfile.mkdtemp(prefix="edl_scale_skip_")
            tblp = f"{d}/tbl"
            src = spark.range(fact_n).select(
                F.col("id").alias("kk"), (F.col("id") % 1000).alias("v")
            )
            M.write_table(
                src.repartitionByRange(32, "kk").sortWithinPartitions("kk"),
                tblp, stats_cols=("kk",),
            )
            head = M.latest_manifest(spark, tblp)
            preds = [("kk", ">=", fact_n // 2), ("kk", "<", fact_n // 2 + 1000)]
            kept = len(M.files_matching(head, preds))
            t0 = time.perf_counter()
            pruned_n = M.scan_table(spark, tblp, preds).count()
            dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            full_n = (
                M.snapshot(spark, tblp)
                .filter((F.col("kk") >= fact_n // 2) & (F.col("kk") < fact_n // 2 + 1000))
                .count()
            )
            dt_full = time.perf_counter() - t0
            rec = {"op": "llp_manifest_skipping", "n_rows": fact_n,
                   "sec": round(dt, 2), "sec_fullscan": round(dt_full, 2),
                   "files_kept": kept, "files_total": len(head["files"]),
                   "equal": pruned_n == full_n}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

            # CDC-folded rollup: refresh cost tracks the DELTA (n/100
            # changed rows), not the table
            rollp = f"{d}/roll"
            t0 = time.perf_counter()
            refresh_rollup(spark, tblp, rollp, ("kk",), ("v",))
            dt_boot = time.perf_counter() - t0
            batch = (
                M.snapshot(spark, tblp)
                .filter(F.col("kk") % 100 == 0)
                .select("kk", (F.col("v") + 1).alias("v"), F.lit(False).alias("dead"))
            )
            M.merge_table(tblp, batch, ("kk",), tombstone_col="dead")
            t0 = time.perf_counter()
            refresh_rollup(spark, tblp, rollp, ("kk",), ("v",))
            dt_fold = time.perf_counter() - t0
            rec = {"op": "llp_incremental_rollup", "n_rows": fact_n,
                   "sec_bootstrap": round(dt_boot, 2),
                   "sec_fold": round(dt_fold, 2),
                   "delta_rows": fact_n // 100}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            shutil.rmtree(d, ignore_errors=True)

    if args.r8b_reps:
        from ensembl_database_loader_spark.functions.text import tokens
        from ensembl_database_loader_spark.operators.integrity import (
            checksum_mismatches,
        )
        from ensembl_database_loader_spark.operators.mixing import sample_exact_k
        from ensembl_database_loader_spark.operators.sketches import frequent_items

        for k in [int(x) for x in args.r8b_reps.split(",") if x]:
            # MG heavy hitters — <= k counters per partition, a
            # k x #partitions combine; cost must track the SCAN, not
            # the token domain
            ct = scaled_corpus(spark, args.sf_dir, k).cache()
            n = ct.count()
            t0 = time.perf_counter()
            toks = ct.select(F.explode(tokens("text")).alias("w"))
            fi = frequent_items(toks, "w", k=64).collect()
            dt = time.perf_counter() - t0
            rec = {"op": "dq_freq_items", "n_docs": n, "sec": round(dt, 2),
                   "survivors": sum(1 for r in fi if r.item is not None)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

            # stratified exact-k — pre-filter must keep the
            # per-stratum window input ~margin*k regardless of n
            t0 = time.perf_counter()
            got = sample_exact_k(ct, "doc_id", 1000, strata_col="lang").count()
            dt = time.perf_counter() - t0
            rec = {"op": "llp_sample_exact_k", "n_docs": n,
                   "sec": round(dt, 2), "sampled": got}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            ct.unpersist()

            # table checksum — two scans reduced to 1024-row
            # summaries; compare cost is flat in table size
            fact_n = 500_000 * k
            big = spark.range(fact_n).select(
                F.col("id").alias("k"), (F.col("id") * 31 % 9973).alias("v")
            )
            t0 = time.perf_counter()
            bad = checksum_mismatches(big, big.repartition(17), 1024).count()
            dt = time.perf_counter() - t0
            rec = {"op": "dq_table_checksum", "n_rows": fact_n,
                   "sec": round(dt, 2), "mismatches": bad}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

    if args.r9_reps:
        from ensembl_database_loader_spark.functions.text import tokens
        from ensembl_database_loader_spark.operators.bpe import (
            encode_corpus,
            train_bpe,
            word_frequencies,
        )
        from ensembl_database_loader_spark.operators.graph import pagerank_fixed
        from ensembl_database_loader_spark.operators.packing import (
            materialize_examples,
        )

        # train ONCE on the base corpus — serving scale is what's
        # measured; replica word-suffixes keep per-replica vocab
        # disjoint so the distinct-word table grows k-fold too (the
        # encoder's worst case: no cross-replica reuse)
        base_merges = train_bpe(
            word_frequencies(table(spark, args.sf_dir, "documents"), "text"),
            12,
        )
        for k in [int(x) for x in args.r9_reps.split(",") if x]:
            ct = scaled_corpus(spark, args.sf_dir, k).cache()
            n = ct.count()

            t0 = time.perf_counter()
            enc = encode_corpus(ct, base_merges, "doc_id", "text")
            row = enc.agg(
                F.sum("n_tokens").alias("toks"),
                F.count(F.lit(1)).alias("docs"),
            ).collect()[0]
            dt = time.perf_counter() - t0
            rec = {"op": "tx_bpe_encode", "n_docs": n, "sec": round(dt, 2),
                   "total_tokens": int(row.toks)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

            t0 = time.perf_counter()
            ex = materialize_examples(
                ct.select("doc_id", tokens("text").alias("toks")),
                "doc_id", "toks", seq_len=512, n_shards=64, eos="<e>",
            )
            exn = ex.count()
            dt = time.perf_counter() - t0
            rec = {"op": "llp_tokenized_examples", "n_docs": n,
                   "sec": round(dt, 2), "examples": exn}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            ct.unpersist()

            # PageRank: k disjoint replicas of the trade graph (same
            # structure, k x nodes/edges) — 3 integer rounds should be
            # linear in edge count
            li = table(spark, args.sf_dir, "lineitem").select(
                "l_orderkey", "l_suppkey"
            )
            o = table(spark, args.sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            )
            pairs = (
                li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .select(
                    F.col("l_suppkey").alias("s"), F.col("o_custkey").alias("c")
                )
                .distinct()
            )
            reps = spark.range(k).select((F.col("id") * 10_000_000).alias("off"))
            pr_pairs = pairs.crossJoin(reps).select(
                (F.col("s") + F.col("off")).alias("s"),
                (F.col("c") + F.col("off") + 1_000_000).alias("c"),
            )
            edges = pr_pairs.select(
                F.col("s").alias("src"), F.col("c").alias("dst")
            ).unionByName(
                pr_pairs.select(
                    F.col("c").alias("src"), F.col("s").alias("dst")
                )
            ).cache()
            ne = edges.count()
            t0 = time.perf_counter()
            top = (
                pagerank_fixed(edges, iterations=3)
                .orderBy(F.desc("rank"), "node")
                .limit(20)
                .collect()
            )
            dt = time.perf_counter() - t0
            rec = {"op": "q63_pagerank", "n_edges": ne, "sec": round(dt, 2),
                   "top1_rank": int(top[0].rank)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            edges.unpersist()

    if args.r9c_reps:
        from ensembl_database_loader_spark.operators.graph import (
            label_propagation_fixed,
            triangle_count,
        )

        # co-purchase graph (parts sharing an order), k disjoint
        # replicas with offset ids — triangles/communities scale k-fold
        # cap the order range: the UNCAPPED sf0.1 co-purchase graph is
        # dense (~1.3M edges over 20k parts — avg degree ~120), where
        # exact triangle counting is inherently wedge-bound; replicas
        # scale the tractable-density graph instead (what a 100 TB
        # deployment does too: triangle-count per community/shard)
        li = table(spark, args.sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).where(F.col("l_orderkey") <= 60000)
        a, b = li.alias("a"), li.alias("b")
        base_edges = a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        ).select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        for k in [int(x) for x in args.r9c_reps.split(",") if x]:
            reps = spark.range(k).select((F.col("id") * 10_000_000).alias("off"))
            edges = base_edges.crossJoin(reps).select(
                (F.col("src") + F.col("off")).alias("src"),
                (F.col("dst") + F.col("off")).alias("dst"),
            ).cache()
            ne = edges.count()

            t0 = time.perf_counter()
            row = triangle_count(edges).collect()[0]
            dt = time.perf_counter() - t0
            rec = {"op": "q73_triangles", "n_raw_edges": ne,
                   "sec": round(dt, 2), "triangles": int(row.triangles),
                   "und_edges": int(row.n_edges)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

            t0 = time.perf_counter()
            comm = (
                label_propagation_fixed(edges, iterations=3)
                .groupBy("label")
                .count()
                .agg(
                    F.count(F.lit(1)).alias("n_comm"),
                    F.max("count").alias("largest"),
                )
                .collect()[0]
            )
            dt = time.perf_counter() - t0
            rec = {"op": "q75_label_propagation", "n_raw_edges": ne,
                   "sec": round(dt, 2), "n_communities": int(comm.n_comm),
                   "largest": int(comm.largest)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            edges.unpersist()

    if args.r9d_reps:
        from ensembl_database_loader_spark.operators.pq import (
            pq_encode,
            pq_topk,
            pq_train,
        )

        # codebooks train ONCE on the base fixture (serving scale is
        # what's measured); encoding and ADC search scale with replicas
        base = table(spark, args.sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        books = pq_train(base, "vec_id", "embedding", m=8, k=16, n_iter=3)
        qvec = [
            r[0]
            for r in base.orderBy("vec_id").limit(1)
            .select(F.explode("embedding"))
            .collect()
        ]
        for k in [int(x) for x in args.r9d_reps.split(",") if x]:
            vs = scaled_vectors(spark, args.sf_dir, k).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            ).cache()
            n = vs.count()

            t0 = time.perf_counter()
            codes = pq_encode(vs, "vec_id", "embedding", books).cache()
            nc = codes.count()
            dt = time.perf_counter() - t0
            rec = {"op": "ss_pq_encode", "n_vecs": n, "sec": round(dt, 2),
                   "encoded": nc}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)

            t0 = time.perf_counter()
            top = pq_topk(codes, books, qvec, k=10).collect()
            dt = time.perf_counter() - t0
            rec = {"op": "ss_pq_topk", "n_vecs": n, "sec": round(dt, 2),
                   "top1": int(top[0].id)}  # fmt: skip
            out.append(rec)
            print(json.dumps(rec), flush=True)
            codes.unpersist()
            vs.unpersist()

    if args.r11_batch:
        import tempfile

        from ensembl_database_loader_spark.operators.similarity import (
            build_ann_index,
        )

        reps_s, qcounts_s = args.r11_batch.split(":")
        vs = scaled_vectors(spark, args.sf_dir, int(reps_s)).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).cache()
        n = vs.count()
        root = tempfile.mkdtemp(prefix="edl_r11_")
        flat_p, pq_p = root + "/flat", root + "/pq"
        t0 = time.perf_counter()
        cents = build_ann_index(vs, "vec_id", "embedding", flat_p, n_cells=64)
        dt_flat = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        build_ann_index(
            vs, "vec_id", "embedding", pq_p, n_cells=64, centroids=cents,
            quantized="pq", pq_m=8, pq_k=16,
        )
        dt_pq = round(time.perf_counter() - t0, 2)
        rec = {"op": "ss_ann_index_build", "n_vecs": n,
               "sec_flat": dt_flat, "sec_pq": dt_pq}  # fmt: skip
        out.append(rec)
        print(json.dumps(rec), flush=True)

        ops = {o.strip() for o in args.r11_ops.split(",") if o.strip()}
        for nq in [int(x) for x in qcounts_s.split(",") if x]:
            # nq DISTINCT query vectors (the realistic wide-sweep shape;
            # the r10 worst case was all-identical queries)
            queries = vs.limit(nq).select(
                F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
            ).localCheckpoint()

            for op, path in (("ivf", flat_p), ("pq", pq_p)):
                if op not in ops:
                    continue
                t0 = time.perf_counter()
                got = ann_topk(
                    spark, path, queries, k=10, n_probe=8, exclude_self=True
                ).count()
                dt = time.perf_counter() - t0
                rec = {"op": f"ss_ann_batch_{op}_indexed", "n_vecs": n,
                       "n_queries": nq, "sec": round(dt, 2), "rows": int(got)}  # fmt: skip
                out.append(rec)
                print(json.dumps(rec), flush=True)
        vs.unpersist()

    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
