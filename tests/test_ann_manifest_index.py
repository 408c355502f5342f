"""ANN index lifecycle (similarity.build_ann_index commits a manifest
table): versioned rebuilds, atomic appends with exactly-once txns,
partition-scoped row-level deletes, metadata-only restore, CDC reads
scoped to changed cells, and exact partition pruning via the
manifest."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import ensembl_database_loader_spark.sinks.manifest as M
from ensembl_database_loader_spark.operators.similarity import (
    ann_topk,
    append_to_ann_index,
    build_ann_index,
    delete_from_ann_index,
)

DIM = 16
N_CLUSTERS = 8
PER_CLUSTER = 40


def _seed_vec(c: int):
    return [math.sin(c * 23.7 + i * 1.91) for i in range(DIM)]


@pytest.fixture(scope="module")
def clustered(spark):
    rows = []
    for c in range(N_CLUSTERS):
        s = _seed_vec(c)
        n = math.sqrt(sum(x * x for x in s))
        s = [x / n for x in s]
        for j in range(PER_CLUSTER):
            noise = [
                (((c * 911 + j * 157 + i * 11) % 201) - 100) / 100.0 * 0.02
                for i in range(DIM)
            ]
            rows.append((j * N_CLUSTERS + c, [a + b for a, b in zip(s, noise)]))
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).persist()


def _qvec(clustered, vid=0):
    return list(clustered.filter(F.col("vec_id") == vid).first()["embedding"])


def test_default_build_is_versioned_and_exactly_once(spark, clustered, tmp_path):
    """A default build is a committed table: a rebuild at the same path
    is version 1 and keeps version 0 readable until vacuum, and a
    replayed txn append publishes nothing."""
    path = str(tmp_path / "default")
    first = clustered.filter(F.col("vec_id") < 100)
    build_ann_index(first, "vec_id", "embedding", path, n_cells=4)
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=4)
    assert M.latest_manifest(spark, path)["version"] == 1

    def ids(df):
        return sorted(r[0] for r in df.select("vec_id").collect())

    assert ids(M.snapshot(spark, path, 0)) == ids(first)
    assert ids(M.snapshot(spark, path)) == ids(clustered)
    plant = spark.createDataFrame(
        [(100_000, _qvec(clustered))], "vec_id bigint, embedding array<double>"
    )
    append_to_ann_index(plant, path, txn=("t", 1))
    append_to_ann_index(plant, path, txn=("t", 1))
    assert M.latest_manifest(spark, path)["version"] == 2
    assert ids(M.snapshot(spark, path)) == ids(clustered) + [100_000]


def test_manifest_index_scan_prunes_to_probed_cells(spark, clustered, tmp_path):
    """n_probe=2 must read only 2 of the 8 cell partitions — exact
    pruning from the manifest's partition values."""
    mani = str(tmp_path / "mani_prune")
    build_ann_index(
        clustered, "vec_id", "embedding", mani, n_cells=N_CLUSTERS,
    )
    q = ann_topk(spark, mani, [(0, _qvec(clustered))], k=5, n_probe=2)
    files = q.inputFiles()
    cells = {f.split("_cell=")[1].split("/")[0] for f in files}
    assert len(cells) == 2


def test_manifest_index_append_atomic_and_exactly_once(spark, clustered, tmp_path):
    mani = str(tmp_path / "mani_app")
    build_ann_index(
        clustered, "vec_id", "embedding", mani, n_cells=N_CLUSTERS,
    )
    qv = _qvec(clustered)
    plant = spark.createDataFrame(
        [(100_000, [x + 1e-4 for x in qv])],
        "vec_id bigint, embedding array<double>",
    )
    append_to_ann_index(plant, mani, txn=("ann_ingest", 1))
    top = ann_topk(spark, mani, [(0, qv)], k=1, n_probe=2, exclude_self=True)
    assert top.first()["vec_id"] == 100_000
    v_after = M.latest_manifest(spark, mani)["version"]
    # replayed batch commits nothing
    append_to_ann_index(plant, mani, txn=("ann_ingest", 1))
    assert M.latest_manifest(spark, mani)["version"] == v_after
    # the append's file delta is scoped to the planted vector's cell
    ch = M.changed_files(spark, mani, v_after - 1, v_after)
    assert ch["removed"] == [] and ch["added"]
    assert all("_cell=" in f for f in ch["added"])
    assert len({f.split("_cell=")[1].split("/")[0] for f in ch["added"]}) == 1


def test_manifest_index_delete_scoped_and_restorable(spark, clustered, tmp_path):
    """Delete planted members -> they never serve again; the rewrite
    touches only their cells; restore undoes it metadata-only."""
    mani = str(tmp_path / "mani_del")
    build_ann_index(
        clustered, "vec_id", "embedding", mani, n_cells=N_CLUSTERS,
    )
    qv = _qvec(clustered)
    def _served():
        return {r["vec_id"] for r in ann_topk(
            spark, mani, [(0, qv)], k=5, n_probe=2, exclude_self=True
        ).collect()}

    before = _served()
    victims = clustered.filter(F.col("vec_id").isin(sorted(before)))
    v_pre = M.latest_manifest(spark, mani)["version"]
    out = delete_from_ann_index(spark, mani, victims)
    assert out is not None and out["rows_affected"] == len(before)
    # cluster-0 members all live in one cell: the rewrite is scoped
    assert out["cells_scoped"] and len(out["cells_scoped"]) == 1
    ch = M.changed_files(spark, mani, v_pre, out["version"])
    cell = f"_cell={out['cells_scoped'][0]}/"
    assert all(cell in f for f in ch["added"] + ch["removed"])
    after = _served()
    assert after and not (after & before)
    # metadata-only rollback: the victims serve again
    M.restore_table(spark, mani, v_pre)
    restored = _served()
    assert restored == before
    # no-match delete is a no-op (no commit)
    ghost = spark.createDataFrame(
        [(999_999, qv)], "vec_id bigint, embedding array<double>"
    )
    v_now = M.latest_manifest(spark, mani)["version"]
    # ghost lands in a real cell but its id matches nothing
    assert delete_from_ann_index(spark, mani, ghost) is None
    assert M.latest_manifest(spark, mani)["version"] == v_now


def test_delete_guards(spark, clustered, tmp_path):
    mani = str(tmp_path / "mani_guard")
    build_ann_index(clustered, "vec_id", "embedding", mani, n_cells=4)
    with pytest.raises(ValueError, match="id column"):
        delete_from_ann_index(
            spark, mani, clustered.select(F.col("vec_id").alias("other"))
        )


def test_streaming_ingest_into_manifest_index(spark, clustered, tmp_path):
    """Composition: a vector stream foreachBatch-appends into the
    manifest-backed index with txn=(app, batch_id) — each micro-batch
    is one atomic cell-scoped commit, a replayed batch commits nothing,
    and the ingested vectors serve immediately."""
    import time as _time

    path = str(tmp_path / "stream_idx")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
    )
    v0 = int(M.latest_manifest(spark, path)["version"])
    qvec = _qvec(clustered, 0)

    # two batches of near-query vectors via a rate-limited memory feed:
    # use foreachBatch over a file stream of planted rows
    feed = str(tmp_path / "feed")
    plant = spark.createDataFrame(
        [(1_000_000 + i, [x + 1e-4 * (i + 1) for x in qvec]) for i in range(4)],
        "vec_id bigint, embedding array<double>",
    )
    plant.repartition(2).write.parquet(feed)
    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )

    from ensembl_database_loader_spark.operators.similarity import (
        append_to_ann_index,
    )

    def _ingest(batch_df, batch_id):
        append_to_ann_index(batch_df, path, txn=("vec_ingest", batch_id))
        # at-least-once replay: the second call must be a no-op
        append_to_ann_index(batch_df, path, txn=("vec_ingest", batch_id))

    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    head = M.latest_manifest(spark, path)
    # one commit per non-empty micro-batch, none from the replays
    n_batches = int(head["version"]) - v0
    assert 1 <= n_batches <= 2
    assert int(head["txn"]["vec_ingest"]) >= 0
    got = ann_topk(spark, path, [(0, qvec)], k=4, n_probe=2, exclude_self=True)
    assert {r["vec_id"] for r in got.collect()} == {
        1_000_000, 1_000_001, 1_000_002, 1_000_003
    }
