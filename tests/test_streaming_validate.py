"""streaming/validate.py — the live expectation gate: row routing is
batch-independent, batch-level failures quarantine whole micro-batches,
replay commits nothing twice, and the report table accumulates."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.expectations import (
    expect_in_range,
    expect_not_null,
    expect_referential,
    expect_regex,
    expect_row_count,
    expect_unique,
    tag_violations,
)
from ensembl_database_loader_spark.sinks.manifest import snapshot
from ensembl_database_loader_spark.streaming.ingest import stream_documents
from ensembl_database_loader_spark.streaming.validate import (
    streaming_validate,
    validate_batch,
    validation_summary,
)


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in rows)


ROWS1 = [
    {"doc_id": 1, "lang": "en", "text": "good one"},
    {"doc_id": 2, "lang": "XX", "text": "bad lang"},       # regex violation
    {"doc_id": None, "lang": "en", "text": "null id"},     # not_null violation
    {"doc_id": 4, "lang": "en", "text": "good two"},
]
ROWS2 = [
    {"doc_id": 5, "lang": "en", "text": "good three"},
    {"doc_id": 6, "lang": "de", "text": ""},               # in_range(len) violation
]

SUITE = [
    expect_not_null("doc_id"),
    expect_regex("lang", "^[a-z]{2}$"),
]


def test_tag_violations_rows_and_guards(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, "en"), (None, "en"), (2, "XX"), (None, "YY")],
        "doc_id int, lang string",
    )
    tagged = {
        tuple(r)[:2]: sorted(r.violations)
        for r in tag_violations(df, SUITE).collect()
    }
    assert tagged[(1, "en")] == []
    assert tagged[(None, "en")] == ["not_null:doc_id"]
    assert tagged[(2, "XX")] == ["regex:lang"]
    assert tagged[(None, "YY")] == ["not_null:doc_id", "regex:lang"]
    with pytest.raises(ValueError, match="batch-level"):
        tag_violations(df, [expect_unique("doc_id")])
    with pytest.raises(ValueError, match="already exists"):
        tag_violations(df.withColumn("violations", F.lit("x")), SUITE)


def test_tag_violations_referential(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None)], "id int, fk int"
    )
    dim = spark.createDataFrame([(10,), (11,)], "key int")
    got = {
        r.id: list(r.violations)
        for r in tag_violations(
            df, [expect_referential("fk", "dim", "key")], refs={"dim": dim}
        ).collect()
    }
    assert got == {1: [], 2: ["fk:fk->dim.key"], 3: []}


def test_validate_batch_batch_gate_quarantines_everything(spark):
    df = spark.createDataFrame(
        [(1, "en"), (1, "en"), (2, "fr")], "doc_id int, lang string"
    )
    suite = SUITE + [expect_unique("doc_id")]
    good, quarantine, report = validate_batch(df, suite)
    assert good.count() == 0
    q = quarantine.collect()
    assert len(q) == 3
    assert all("batch:unique:doc_id" in r.violations for r in q)
    by = {r["rule"]: r for r in report.collect()}
    assert not by["unique:doc_id"]["passed"]
    assert by["not_null:doc_id"]["passed"]


def test_streaming_validate_end_to_end_with_replay(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    good_p = str(tmp_path / "good")
    quar_p = str(tmp_path / "quarantine")
    rep_p = str(tmp_path / "report")
    ckpt = str(tmp_path / "ckpt")

    suite = SUITE + [
        expect_in_range("textlen", 1, 10_000),
        expect_row_count(1, 1_000_000),
    ]

    def _run():
        s = stream_documents(spark, str(landing)).withColumn(
            "textlen", F.length("text")
        )
        q = streaming_validate(
            s, suite, good_p, quar_p, rep_p, ckpt
        )
        q.awaitTermination(120)

    _write_jsonl(landing / "b1.jsonl", ROWS1)
    _run()
    time.sleep(1.1)
    _write_jsonl(landing / "b2.jsonl", ROWS2)
    _run()

    good = snapshot(spark, good_p)
    quar = snapshot(spark, quar_p)
    assert {r.doc_id for r in good.collect()} == {1, 4, 5}
    flat = {
        (r.doc_id, v) for r in quar.collect() for v in r.violations
    }
    assert flat == {
        (2, "regex:lang"),
        (None, "not_null:doc_id"),
        (6, "in_range:textlen"),
    }

    # replay the whole stream from a FRESH checkpoint: manifest txn
    # watermarks must reject the duplicate commits
    import shutil

    shutil.rmtree(ckpt)
    _run()
    assert snapshot(spark, good_p).count() == 3
    assert snapshot(spark, quar_p).count() == 3

    summary = {
        r.rule: (r.n_batches, r.total_violations, r.n_failed_batches)
        for r in validation_summary(spark, rep_p).collect()
    }
    # two batches validated, one violation per rule except row_count
    assert summary["not_null:doc_id"] == (2, 1, 1)
    assert summary["regex:lang"] == (2, 1, 1)
    assert summary["in_range:textlen"] == (2, 1, 1)
    assert summary["row_count"] == (2, 0, 0)
