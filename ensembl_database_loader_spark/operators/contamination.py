"""Benchmark contamination detection: flag corpus documents that share
word n-grams with a held-out evaluation/benchmark set.

This is the decontamination step every serious LLM training pipeline
runs before training (the GPT-3/PaLM/Llama reports all describe n-gram
overlap filters against their eval suites). The reference pipeline has
no analogue — it belongs to the LLM-data extension surface the brief
asks for alongside dedup/similarity (SURVEY.md §2.3 LL-family).

Scale shape (100 TB corpus, benchmark ≪ corpus):
- The benchmark n-gram set is the distinct shingle set of the eval
  suites — even a large eval collection is millions of n-grams, i.e.
  broadcastable. The corpus side explodes its shingles ONCE and probes
  the broadcast set map-side; no corpus-keyed shuffle is needed for the
  membership test, only the per-doc groupBy that follows (one shuffle
  on doc id, partial-aggregated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.text import shingle_udf


def benchmark_ngrams(
    benchmark: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-grams of the benchmark set: one column ``sh``."""
    return (
        benchmark.select(F.explode(shingle_udf(n)(F.col(text_col))).alias("sh"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document contamination: ``(id, n_shingles, n_contaminated,
    contamination_frac)`` for EVERY corpus document (zero-hit and
    too-short docs included with 0 / 0.0).

    Plan: corpus shingles explode once -> inner-join the (broadcast)
    distinct benchmark shingle set -> per-doc hit count -> left join
    back onto the per-doc shingle counts so clean docs survive. The
    join back is on the doc id, so Catalyst reuses the single shuffle
    of the groupBy; the membership probe itself is map-side when
    broadcast. A null-text document has a null ``n_shingles`` and
    ``contamination_frac`` 0.0; a null benchmark text adds no shingles.
    """
    bench = F.broadcast(
        benchmark_ngrams(benchmark, text_col, n).withColumn("_hit", F.lit(1))
    )

    # single shingle pass: explode_outer keeps zero-shingle docs alive
    # (null shingle row), the left join marks benchmark members, and one
    # doc-keyed aggregate recovers (n_shingles, hit count) together — the
    # shingle UDF runs once and there is exactly one shuffle.
    exploded = docs.select(
        F.col(id_col).alias("id"), shingle_udf(n)(F.col(text_col)).alias("sh")
    ).select("id", F.size("sh").alias("n_shingles"), F.explode_outer("sh").alias("sh"))
    return (
        exploded.join(bench, "sh", "left")
        .groupBy("id")
        .agg(
            F.first("n_shingles").alias("n_shingles"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_contaminated"),
        )
        .withColumn(
            "contamination_frac",
            F.col("n_contaminated") / F.greatest("n_shingles", F.lit(1)),
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_frac: float = 0.2,
    max_hits: int | None = None,
) -> DataFrame:
    """Drop documents whose benchmark n-gram overlap exceeds the
    threshold (fraction of the doc's distinct shingles, and/or an
    absolute hit count). Returns the surviving rows of ``docs``."""
    rep = contamination_report(docs, benchmark, id_col, text_col, n)
    bad = rep.filter(F.col("contamination_frac") > max_frac)
    if max_hits is not None:
        bad = bad.unionByName(rep.filter(F.col("n_contaminated") > max_hits))
    return docs.join(
        bad.select(F.col("id").alias(id_col)).distinct(), id_col, "left_anti"
    )
