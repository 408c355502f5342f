"""Streaming corpus ingest with per-micro-batch incremental curation —
the live form of the recurring-crawl workload: document files land in a
directory, each micro-batch is curated against the persisted
fingerprint store (pipeline/curate.curate_increment), survivors append
to the curated corpus, and the store grows so the next batch composes.

Semantics and guarantees:
- The file-source checkpoint gives at-least-once micro-batch delivery;
  the curated-output append is therefore at-least-once too (use the
  batch-id dedup idiom or an idempotent sink path per epoch if the
  consumer needs exactly-once rows).
- The STORE append is also at-least-once, and that is SAFE for dedup
  correctness: a replayed batch's signatures anti-join to nothing new
  (exact stage) and duplicate band keys only produce redundant
  candidate pairs that verify to the same drop set.
- Batches must arrive with monotone ids (crawl-natural) — the
  curate_increment invariant.

At 100 TB this is backfill-plus-tail: curate the historical corpus
once with ``curate_corpus(store_path=...)``, then leave this stream
tailing the landing directory with bounded work per trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ensembl_database_loader_spark.pipeline.curate import (
    curate_corpus,
    curate_increment,
)


def stream_documents(
    spark: SparkSession,
    landing_dir: str,
    schema: StructType | str = "doc_id bigint, lang string, text string",
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of document files (jsonl by default) landing under
    ``landing_dir``."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(landing_dir)


#: txn app id for manifest-committed streaming appends
_TXN_APP = "streaming_curate"


def write_curated_batch(
    kept: DataFrame,
    output_path: str,
    batch_id: int,
    exactly_once: bool,
    sink: str = "files",
    stats_cols: tuple[str, ...] = (),
    partition_by: tuple[str, ...] = (),
) -> None:
    """The per-micro-batch sink.

    ``sink='files'`` (plain parquet directory):
    ``exactly_once=False`` appends (a replayed batch duplicates its
    rows — at-least-once). ``exactly_once=True`` writes each batch into
    its own ``batch=<id>`` partition directory with overwrite: a
    foreachBatch replay rewrites the SAME directory, so the output is
    idempotent under the checkpoint's batch-id replay semantics — the
    standard exactly-once idiom for file sinks. Readers see a ``batch``
    partition column (read ``output_path`` as a whole).

    ``sink='manifest'`` (manifest-committed table, sinks/manifest.py):
    every micro-batch is one ATOMIC append commit carrying
    ``txn=('streaming_curate', batch_id)`` — a replayed batch is
    detected by the stored watermark and commits nothing, so the output
    is exactly-once regardless of the ``exactly_once`` flag, and a
    reader racing the stream always resolves a complete snapshot (the
    plain-files appends expose half-written part files). Readers use
    ``manifest.snapshot(spark, output_path)``; with ``stats_cols`` each
    appended batch also records per-file [min, max] stats, so
    ``manifest.scan_table`` file skipping works on a table a stream is
    still feeding (periodic ``compact_table(sort_cols=...)`` tightens
    the ranges appends leave loose)."""
    if sink == "manifest":
        from ensembl_database_loader_spark.sinks.manifest import write_table

        # first batch bootstraps the table (manifest append == overwrite
        # on an uncommitted table, but be explicit about the schema seed)
        write_table(
            kept,
            output_path,
            mode="append",
            txn=(_TXN_APP, batch_id),
            stats_cols=stats_cols,
            # first batch declares the hive layout; later appends pass
            # the identical tuple, which write_table accepts (a drifted
            # layout raises — the table is the source of truth)
            partition_by=partition_by,
        )
    elif exactly_once:
        kept.write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")
    else:
        kept.write.mode("append").parquet(output_path)


def streaming_curate(
    stream_df: DataFrame,
    store_path: str,
    output_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    exactly_once: bool = False,
    sink: str = "files",
    **curate_kwargs,
):
    """Start the incremental-curation stream: every micro-batch runs
    ``curate_increment`` against ``store_path`` (bootstrapping the
    store with ``curate_corpus`` on the very first batch) and writes
    survivors to ``output_path``. Returns the StreamingQuery.

    ``curate_kwargs`` forward to curate_corpus/curate_increment
    (id_col/text_col/block_col/min_quality/jaccard_threshold).
    ``near_dup`` (a curate_corpus-only option, default 'minhash' here —
    the store-compatible band-signature path) applies to the bootstrap
    batch; curate_increment always uses the persisted band store.

    ``exactly_once=True`` switches the output sink to per-batch
    partition-directory overwrite (``write_curated_batch``): replayed
    micro-batches rewrite their own directory instead of appending
    duplicates, upgrading the output from at-least-once to
    exactly-once rows. (The STORE append stays at-least-once either
    way — provably safe for dedup, see module docstring.)

    ``sink='manifest'`` commits each micro-batch atomically to a
    manifest table at ``output_path`` with a per-batch txn watermark —
    exactly-once AND atomically visible to concurrent readers (see
    ``write_curated_batch``).

    ``partition_by=<cols>`` (manifest sink) lays the table out in hive
    partitions declared by the FIRST batch and inherited by every later
    append — a streaming table whose partition predicates prune exactly
    from the manifest while the stream is still feeding it.

    ``sketch_root=<path>`` additionally records each batch's mergeable
    corpus summaries (HLL distinct tokens, MG heavy hitters, length
    histogram) as exactly-once manifest commits — see
    ``record_batch_sketches`` / ``streaming_corpus_stats``.
    """
    near_dup = curate_kwargs.pop("near_dup", "minhash")
    stats_cols = tuple(curate_kwargs.pop("stats_cols", ()))
    partition_by = tuple(curate_kwargs.pop("partition_by", ()))
    sketch_root = curate_kwargs.pop("sketch_root", None)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            # works on any Hadoop FS scheme — _snapshot_files raises
            # FileNotFoundError when the store isn't bootstrapped yet
            kept, _stats = curate_increment(batch_df, store_path, **curate_kwargs)
        except FileNotFoundError:
            kept, _stats = curate_corpus(
                batch_df,
                store_path=store_path,
                near_dup=near_dup,
                **curate_kwargs,
            )
        write_curated_batch(
            kept, output_path, batch_id, exactly_once, sink, stats_cols,
            partition_by,
        )
        if sketch_root is not None:
            # kept is always (id, blk, text), whatever text_col named
            record_batch_sketches(kept, sketch_root, batch_id)

    w = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


# ---------------------------------------------------------------------------
# Per-micro-batch corpus sketches (exactly-once via manifest txn)
# ---------------------------------------------------------------------------

_SKETCH_TXN_APP = "streaming_sketches"


def record_batch_sketches(
    kept: DataFrame, sketch_root: str, batch_id: int
) -> None:
    """Append one micro-batch's mergeable summaries — HLL distinct
    tokens, Misra-Gries heavy hitters, doc-length histogram — of
    ``kept``'s ``text`` column as THREE manifest-table commits under
    ``sketch_root`` (``/tokens``, ``/freq``, ``/lenhist``).

    A plain-parquet append would be at-least-once under foreachBatch
    replay — harmless for HLL (union is idempotent) but WRONG for MG
    weights and histogram counts, which double. Committing through
    ``manifest.write_table(txn=(app, batch_id))`` makes every summary
    append exactly-once: a replayed batch hits the stored watermark
    and commits nothing. Each commit is a few-hundred-row write.

    Batch callers pass a run number as ``batch_id``; an empty ``kept``
    still commits its row (null sketch, zero counts), so every run is
    accounted."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.sketches import (
        frequent_items,
        quantile_histogram,
    )
    from ensembl_database_loader_spark.sinks.manifest import write_table

    txn = (_SKETCH_TXN_APP, batch_id)
    bid = F.lit(int(batch_id)).alias("batch")
    toks = kept.select(F.explode_outer(tokens("text")).alias("w"))
    sk = F.hll_sketch_agg(F.col("w"), F.lit(14))
    hll_row = toks.agg(
        sk.alias("hll_sketch"),
        F.count(F.col("w")).cast("bigint").alias("n_tokens"),
    ).crossJoin(kept.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    write_table(hll_row.select(bid, "*"), sketch_root + "/tokens",
                mode="append", txn=txn)
    mg = frequent_items(toks.filter(F.col("w").isNotNull()), "w", k=64)
    write_table(mg.select(bid, "*"), sketch_root + "/freq",
                mode="append", txn=txn)
    lens = kept.select(F.size(tokens("text")).cast("double").alias("len"))
    write_table(quantile_histogram(lens, "len").select(bid, "*"),
                sketch_root + "/lenhist", mode="append", txn=txn)


def streaming_corpus_stats(spark: SparkSession, sketch_root: str) -> DataFrame:
    """Cumulative accounting over every micro-batch sketched so far —
    ``n_batches, n_docs, n_tokens, distinct_tokens_est`` — from the
    manifest snapshots only (no corpus rescan, atomically consistent
    with the latest commit)."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.operators.sketches import (
        merge_distinct_sketches,
    )
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    t = snapshot(spark, sketch_root + "/tokens")
    merged = merge_distinct_sketches(
        t.filter(F.col("hll_sketch").isNotNull())
    ).select(F.coalesce(F.col("distinct_est"), F.lit(0)).alias("distinct_tokens_est"))
    return (
        t.agg(
            F.count(F.lit(1)).alias("n_batches"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        ).crossJoin(merged)
    )


def streaming_top_tokens(
    spark: SparkSession, sketch_root: str, k: int = 64
) -> DataFrame:
    """Heavy hitters across all micro-batches, MG contract intact."""
    from ensembl_database_loader_spark.operators.sketches import (
        merge_frequent_items,
    )
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    return merge_frequent_items(
        snapshot(spark, sketch_root + "/freq").select("item", "weight"), k=k
    )


def streaming_length_quantiles(
    spark: SparkSession,
    sketch_root: str,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Doc-length quantiles of everything ingested — exact merge."""
    from ensembl_database_loader_spark.operators.sketches import (
        histogram_quantiles,
        merge_quantile_histograms,
    )
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    return histogram_quantiles(
        merge_quantile_histograms(
            snapshot(spark, sketch_root + "/lenhist").select("bucket", "n")
        ),
        probs,
    )
