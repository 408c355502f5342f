"""Incremental table replication (sinks.manifest.replicate_table):
ship exactly the file delta between what the replica references and
the source head, publish the source manifest verbatim — replica
snapshots, properties, and change feeds are identical; replays no-op;
divergent replicas are refused."""

from __future__ import annotations

import pytest

import ensembl_database_loader_spark.sinks.manifest as M


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def pair(tmp_path):
    return str(tmp_path / "src"), str(tmp_path / "dst")


def test_replicate_head_then_delta_only(spark, pair):
    src, dst = pair
    M.write_table(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(40)], "k bigint, v string"
        ).repartitionByRange(4, "k"),
        src,
        stats_cols=("k",),
        properties={"note": {"origin": "primary"}},
    )
    out = M.replicate_table(spark, src, dst)
    assert out["noop"] is False and out["version"] == 0
    assert out["files_copied"] == 4 and out["files_present"] == 0
    assert _rows(M.snapshot(spark, dst)) == _rows(M.snapshot(spark, src))
    # manifest published VERBATIM: properties, stats, schema all ride
    assert M.table_properties(spark, dst) == {"note": {"origin": "primary"}}
    assert M.read_manifest(spark, dst, 0) == M.read_manifest(spark, src, 0)
    # replay: the version is already at the replica
    assert M.replicate_table(spark, src, dst)["noop"] is True

    # two more commits: a rewrite touching one file + an append
    M.delete_rows(spark, src, prune=[("k", "in", [1, 3])])
    M.write_table(
        spark.createDataFrame([(100, "new")], "k bigint, v string"),
        src,
        mode="append",
    )
    out = M.replicate_table(spark, src, dst)
    assert out["noop"] is False and out["version"] == 2
    # only the delta ships: the rewritten file + the appended file(s);
    # the three untouched base files are already present
    assert out["files_present"] == 3
    assert 0 < out["files_copied"] < len(M.latest_manifest(spark, src)["files"])
    assert _rows(M.snapshot(spark, dst)) == _rows(M.snapshot(spark, src))

    # time travel works across REPLICATED versions (0 and 2), and the
    # replica's change feed between them matches the source's
    assert _rows(M.snapshot(spark, dst, 0)) == _rows(M.snapshot(spark, src, 0))
    assert _rows(
        M.row_changes(spark, dst, 0, 2, ("k",), include_preimage=True)
    ) == _rows(M.row_changes(spark, src, 0, 2, ("k",), include_preimage=True))

    # scan_table at the replica keeps file skipping (stats replicated)
    got = M.scan_table(spark, dst, predicates=[("k", "=", 100)])
    assert [r.k for r in got.collect()] == [100]


def test_replicate_intermediate_version_and_divergence_guard(spark, pair):
    src, dst = pair
    M.write_table(
        spark.createDataFrame([(1, "a")], "k bigint, v string"), src
    )
    M.write_table(
        spark.createDataFrame([(2, "b")], "k bigint, v string"),
        src,
        mode="append",
    )
    # pin the replica at v0 explicitly
    out = M.replicate_table(spark, src, dst, to_version=0)
    assert out["version"] == 0
    assert _rows(M.snapshot(spark, dst)) == _rows(M.snapshot(spark, src, 0))
    # catch up to head
    out = M.replicate_table(spark, src, dst)
    assert out["version"] == 1
    assert _rows(M.snapshot(spark, dst)) == _rows(M.snapshot(spark, src))

    # a replica that committed on its own has diverged — refuse
    M.write_table(
        spark.createDataFrame([(9, "z")], "k bigint, v string"),
        dst,
        mode="append",
    )
    M.write_table(
        spark.createDataFrame([(3, "c")], "k bigint, v string"),
        src,
        mode="append",
    )
    with pytest.raises(ValueError, match="diverged"):
        M.replicate_table(spark, src, dst)


def test_replicate_ann_index_serves_identically(spark, pair):
    """A manifest-backed ANN index is just a table: replication ships
    its cells (hive partitions) and its centroids (properties ride the
    verbatim manifest), so the REPLICA serves byte-identical top-k —
    the serving-fleet distribution story."""
    import math

    from ensembl_database_loader_spark.operators.similarity import (
        build_ann_index,
        ivf_topk_indexed,
    )

    src, dst = pair
    rows = []
    for c in range(4):
        s = [math.sin(c * 23.7 + i * 1.91) for i in range(8)]
        n = math.sqrt(sum(x * x for x in s))
        for j in range(10):
            rows.append(
                (j * 4 + c, [x / n + ((c * 7 + j * 3 + i) % 11 - 5) * 0.004
                             for i, x in enumerate(s)])
            )
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    build_ann_index(corpus, "vec_id", "embedding", src, n_cells=4)
    out = M.replicate_table(spark, src, dst)
    assert out["noop"] is False
    assert M.table_properties(spark, dst) == M.table_properties(spark, src)
    q = rows[0][1]
    serve = lambda p: [
        (r["vec_id"], r["cos"])
        for r in ivf_topk_indexed(spark, p, q, k=5, n_probe=2).collect()
    ]
    assert serve(dst) == serve(src)
    # integrity deep-verify: bucketed checksums agree bucket-for-bucket
    from ensembl_database_loader_spark.operators.integrity import (
        checksum_mismatches,
    )

    assert (
        checksum_mismatches(
            M.snapshot(spark, src), M.snapshot(spark, dst), n_buckets=16
        ).count()
        == 0
    )


def test_replicate_partitioned_table_and_empty_source(spark, pair):
    src, dst = pair
    with pytest.raises(ValueError, match="no manifest table"):
        M.replicate_table(spark, src, dst)
    M.write_table(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y")], "k bigint, v string, p string"
        ),
        src,
        partition_by=("p",),
    )
    M.replicate_table(spark, src, dst)
    assert _rows(M.snapshot(spark, dst)) == _rows(M.snapshot(spark, src))
    assert M.table_partitions(spark, dst) == M.table_partitions(spark, src)
