"""JSONL source/sink: escape-exact round-trip, corrupt-line capture,
quality report (sources/jsonl.py)."""

from __future__ import annotations

import gzip
import os
import tempfile

from pyspark.sql import functions as F

from ensembl_database_loader_spark.sources.jsonl import (
    jsonl_quality_report,
    read_jsonl,
    write_jsonl,
)

SCHEMA = "id BIGINT, text STRING, score DOUBLE"


def test_jsonl_roundtrip_exact_with_hostile_strings(spark):
    rows = [
        (1, 'tab\there "quoted" back\\slash', 1.5),
        (2, "new\nline and unicode é中\U0001f600", -0.25),
        (3, None, None),  # null fields survive
        (4, "", 0.0),  # empty string is not null
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = tempfile.mkdtemp(prefix="jsonl_t_") + "/d"
    write_jsonl(df, out, n_shards=2)
    back = read_jsonl(spark, out, SCHEMA)
    got = sorted(
        (r.id, r.text, r.score)
        for r in back.filter(F.col("id").isNotNull()).collect()
    )
    assert got == sorted(rows)
    rep = jsonl_quality_report(back).collect()[0]
    assert (rep.n_good, rep.n_corrupt) == (4, 0)


def test_jsonl_corrupt_lines_captured_not_fatal(spark):
    df = spark.createDataFrame([(1, "ok", 1.0)], SCHEMA)
    out = tempfile.mkdtemp(prefix="jsonl_c_") + "/d"
    write_jsonl(df, out, n_shards=1)
    with open(os.path.join(out, "bad.json"), "w") as f:
        f.write('{"id": 2, "text": "trunc\n')  # malformed
        f.write("not json at all\n")
    back = read_jsonl(spark, out, SCHEMA)
    rep = jsonl_quality_report(back).collect()[0]
    assert (rep.n_good, rep.n_corrupt) == (1, 2)
    bad = back.filter(F.col("id").isNull()).collect()
    assert all(r._corrupt_record is not None for r in bad)
    good = back.filter(F.col("id") == 1).collect()[0]
    assert (good.text, good.score) == ("ok", 1.0)


def test_jsonl_gzip_shards_readable(spark):
    df = spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("doc "), F.col("id")).alias("text"),
        F.lit(0.5).alias("score"),
    )
    out = tempfile.mkdtemp(prefix="jsonl_g_") + "/d"
    write_jsonl(df, out, n_shards=4, compression="gzip")
    gz = [p for p in os.listdir(out) if p.endswith(".json.gz")]
    assert len(gz) == 4
    with gzip.open(os.path.join(out, gz[0]), "rt") as f:
        assert f.readline().startswith("{")
    back = read_jsonl(spark, out, SCHEMA)
    assert back.agg(F.sum("id")).collect()[0][0] == sum(range(100))


def test_stream_jsonl_tails_landing_dir(spark, tmp_path):
    """Two shard drops drain as bounded micro-batches; streamed rows ==
    batch read of the same directory, corrupt line captured not fatal."""
    import os

    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.sources.jsonl import (
        read_jsonl,
        stream_jsonl,
        write_jsonl,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    d1 = spark.range(0, 50).select(F.col("id"), F.lit("x").alias("text"), F.lit(1.0).alias("score"))
    d2 = spark.range(50, 90).select(F.col("id"), F.lit("y").alias("text"), F.lit(2.0).alias("score"))
    write_jsonl(d1, landing + "/b1", n_shards=1)
    write_jsonl(d2, landing + "/b2", n_shards=1)
    with open(landing + "/b2/junk.json", "w") as f:
        f.write("not json\n")

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream_jsonl(spark, landing + "/*", SCHEMA, max_files_per_trigger=1)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(out)
    batch = read_jsonl(spark, landing + "/*", SCHEMA)
    assert streamed.count() == batch.count() == 91  # 90 good + 1 corrupt
    assert (
        streamed.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    )
    assert (
        streamed.agg(F.sum("id")).collect()[0][0]
        == batch.agg(F.sum("id")).collect()[0][0]
    )
