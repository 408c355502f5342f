"""Training-corpus export: deterministic global shuffle + sharding.

Before a corpus feeds a trainer it needs ONE more transform the rest of
the pipeline never does: a global order randomization (adjacent
documents must be decorrelated — a corpus sorted by crawl source would
feed the model hour-long runs of one domain) fixed into N shard files
whose within-file order every rerun reproduces bit-identically.

Spark-first shape: a true global sort by random key would be one
all-to-all range shuffle of the entire corpus — instead the permutation
is keyed (``mixing.knuth32`` of the doc id), so

- the shard assignment is a map-side hash — every row knows its shard
  with no shuffle;
- the within-shard order is a shard-local sort (each task sorts only
  its shard's rows — no global range exchange, no driver sampling
  pass);
- the whole permutation is a pure function of the ids: reruns,
  different layouts, and incremental batches all agree (the same
  property the split/sample operators get from ``keyed_hash``).

Reference analogue: the randomized fan-out order of the loader's job
queue (``LoadFiles.pm`` shuffles its database list so big databases
spread over workers) — here made deterministic and row-level.

The shard is an ADDRESSABLE column with an explicit 1-based position,
not an implicit part-file hash partition: shard membership survives
re-writes, a single shard is partition-pruned readable (``read_shard``),
and the exact permutation is contract-checkable cross-engine
(``shard_order_checksum`` — the oracle-gated fingerprint).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.mixing import knuth32


def shuffle_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Add ``shard`` (= knuth32(id) % n_shards) and ``pos`` (1-based
    position within the shard, ordered by the hash with the id as
    tie-break) — a deterministic global permutation striped over
    ``n_shards``. ONE shuffle (the per-shard window sort); the shard
    column itself is map-side."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = knuth32(id_col)
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", F.pmod(F.col("_h"), F.lit(n_shards)).cast("int"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("_h")
    )


def export_training_shards(
    df: DataFrame, path: str, id_col: str, n_shards: int
) -> DataFrame:
    """Materialize the shuffled corpus as ``path/shard=K/`` parquet,
    ONE file per shard, rows physically ordered by ``pos`` (parquet
    preserves row order, so a trainer streaming a shard file reads the
    permutation directly — no sort at read time).

    The repartition hashes on the shard VALUE, so each shard's rows
    land in exactly one task and therefore one file; when two shard
    values hash-collide into a task, the hive layout still splits them
    into their own directories and the (shard, pos) sort keeps each
    file internally ordered. Returns the per-shard audit frame
    (shard, n_rows)."""
    out = shuffle_shard(df, id_col, n_shards)
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("shard")
    )


def read_shard(spark, path: str, shard: int) -> DataFrame:
    """One shard in training order (partition-pruned directory read;
    the ``pos`` sort is already physical, the orderBy is a no-op
    guarantee for readers that route through an optimizer)."""
    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .orderBy("pos")
    )


def shard_order_checksum(df: DataFrame, id_col: str) -> DataFrame:
    """Per-shard order fingerprint: n_rows plus sum(pos * id) — any
    transposition of two rows in a shard changes the sum, so equal
    checksums pin the exact permutation cross-engine/cross-run."""
    return (
        df.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("pos") * F.col(id_col)).cast("bigint").alias("order_sum"),
        )
        .orderBy("shard")
    )


def _shard_files(path: str, shard: int) -> list[str]:
    d = os.path.join(path, f"shard={shard}")
    if not os.path.isdir(d):
        return []
    return [n for n in os.listdir(d) if n.endswith(".parquet")]
