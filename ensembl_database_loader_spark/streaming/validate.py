"""Streaming data-quality gate: every micro-batch is checked against a
declarative expectation suite (operators/expectations.py); clean rows
append to the GOOD table, offending rows to a QUARANTINE table tagged
with the rules they broke, and the per-batch rule report accumulates in
a third table — all three as exactly-once manifest commits.

This is the live form of the pre-commit contract: a 100 TB ingest
never lets a malformed crawl batch poison the curated corpus, and the
quarantine table (rows + reasons) is the triage queue. Reference
analogue: the run-refusing coverage assert (DatabaseFactory.pm), made
continuous.

Routing semantics:
- ROW-decidable rules (not_null / in_range / values_in / regex /
  referential) route individual rows: a row violating any of them goes
  to quarantine with ``violations: array<string>`` naming the broken
  rules. Row routing is BATCH-INDEPENDENT — the same input rows land in
  the same table no matter how the stream is chunked into micro-batches
  (what makes the driver probe oracle-able).
- BATCH-level rules (unique / row_count / mean — verdicts about the
  batch as a whole) gate the whole micro-batch: if any fails, even
  clean rows are quarantined (reason ``batch:<rule>``), because a batch
  that breaks its contract is not trustworthy row by row.

Exactly-once: each table write carries ``txn=('streaming_validate',
batch_id)`` (good/quarantine) or a derived report txn — a replayed
micro-batch hits the stored watermark and commits nothing, so counts
in all three tables are exact under foreachBatch's at-least-once
replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.expectations import (
    Expectation,
    batch_rules,
    row_rules,
    run_expectations,
    tag_violations,
)

_TXN_APP = "streaming_validate"


def validate_batch(
    batch_df: DataFrame,
    expectations: list[Expectation] | tuple[Expectation, ...],
    refs: dict[str, DataFrame] | None = None,
    materialized: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The batch-shaped core (reused by the stream wrapper and directly
    testable): returns ``(good, quarantine, report)``.

    ``good``/``quarantine`` carry the input columns plus
    ``violations: array<string>`` (always empty on good rows);
    ``report`` is the run_expectations verdict frame — evaluated
    exactly ONCE (one aggregate pass) and returned as a literal frame
    of the collected verdict rows, so writing it later costs no second
    pass over the batch. The input is localCheckpointed once — the
    report pass, the routing filter, and the batch-gate all read the
    materialized batch, not three re-executions of the source; callers
    that already materialized the batch pass ``materialized=True``.
    """
    from ensembl_database_loader_spark.functions.frames import literal_frame

    if not materialized:
        batch_df = batch_df.localCheckpoint()
    rr, br = row_rules(expectations), batch_rules(expectations)
    report_plan = run_expectations(batch_df, list(expectations), refs=refs)
    report_rows = report_plan.collect()  # one row per rule
    report = literal_frame(
        batch_df.sparkSession, report_rows, report_plan.schema
    )
    tagged = tag_violations(batch_df, rr, refs=refs)
    # batch-level gate: names of failed batch rules (from the already-
    # collected verdict rows)
    failed_batch = [
        r["rule"]
        for r in report_rows
        if r["passed"] is False  # matches the prior ~passed (null excluded)
        and r["kind"] not in ("not_null", "in_range", "values_in", "regex",
                              "referential")
    ] if br else []
    if failed_batch:
        reasons = F.array(*[F.lit(f"batch:{n}") for n in sorted(failed_batch)])
        quarantine = tagged.withColumn(
            "violations", F.concat(F.col("violations"), reasons)
        )
        good = tagged.where(F.lit(False))
    else:
        good = tagged.where(F.size("violations") == 0)
        quarantine = tagged.where(F.size("violations") > 0)
    return good, quarantine, report


def streaming_validate(
    stream_df: DataFrame,
    expectations: list[Expectation] | tuple[Expectation, ...],
    good_path: str,
    quarantine_path: str,
    report_path: str,
    checkpoint_dir: str,
    refs: dict[str, DataFrame] | None = None,
    available_now: bool = True,
):
    """Start the validation stream; returns the StreamingQuery.

    Every micro-batch: ONE aggregate pass for the report, one codegen
    projection (+ a LEFT join per referential rule) for routing, three
    atomic manifest commits. The quarantine row keeps every input
    column plus the broken-rule names; the report table keeps the full
    verdict history with a ``batch`` column for drift dashboards."""
    expectations = list(expectations)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from ensembl_database_loader_spark.sinks.manifest import write_table

        good, quarantine, report = validate_batch(
            batch_df, expectations, refs=refs
        )
        write_table(
            good.withColumn("violations", F.col("violations").cast("array<string>")),
            good_path, mode="append", txn=(_TXN_APP, batch_id),
        )
        write_table(
            quarantine, quarantine_path, mode="append",
            txn=(_TXN_APP, batch_id),
        )
        write_table(
            report.withColumn("batch", F.lit(int(batch_id))),
            report_path, mode="append", txn=(_TXN_APP, batch_id),
        )

    w = (
        stream_df.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def validation_summary(spark: SparkSession, report_path: str) -> DataFrame:
    """Cumulative per-rule accounting over every batch validated so
    far, from the report table's latest snapshot: ``(rule, kind,
    n_batches, total_violations, n_failed_batches)`` ordered by rule."""
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    r = snapshot(spark, report_path)
    return (
        r.groupBy("rule", "kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("violations").cast("bigint").alias("total_violations"),
            F.count_if(~F.col("passed")).cast("bigint").alias("n_failed_batches"),
        )
        .orderBy("rule")
    )
