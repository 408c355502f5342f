"""Incremental index sync from a source table's change feed
(operators.indexsync): a curation wave lands on the corpus as lake
commits and the serving indexes follow at O(delta) — synced contents
and serving stay row-identical to a rebuild at the target snapshot,
replays no-op, a crashed wave converges on rerun, and maintenance
commits preserve the sync watermark."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import ensembl_database_loader_spark.sinks.manifest as M
from ensembl_database_loader_spark.operators.bm25 import (
    build_bm25_index,
    bm25_topk_indexed,
)
from ensembl_database_loader_spark.operators.indexsync import (
    sync_ann_index,
    sync_bm25_index,
)
from ensembl_database_loader_spark.operators.similarity import (
    _assign_cells,
    ann_index_meta,
    build_ann_index,
    delete_from_ann_index,
    ivf_topk_indexed,
    split_hot_cells,
)

DIM = 8
N_CLUSTERS = 4
PER_CLUSTER = 25


def _vec(c: int, j: int):
    s = [math.sin(c * 23.7 + i * 1.91) for i in range(DIM)]
    n = math.sqrt(sum(x * x for x in s))
    return [
        x / n + (((c * 911 + j * 157 + i * 11) % 201) - 100) / 100.0 * 0.02
        for i, x in enumerate(s)
    ]


def _corpus_rows():
    rows = []
    for c in range(N_CLUSTERS):
        for j in range(PER_CLUSTER):
            did = j * N_CLUSTERS + c
            rows.append(
                (did, _vec(c, j), f"document {did} topic t{c} body b{j}")
            )
    return rows


@pytest.fixture()
def src(spark, tmp_path):
    path = str(tmp_path / "corpus")
    M.write_table(
        spark.createDataFrame(
            _corpus_rows(),
            "doc_id bigint, embedding array<double>, text string",
        ).repartitionByRange(4, "doc_id"),
        path,
        stats_cols=("doc_id",),
    )
    return path


def _mutate(spark, src):
    """insert 4 / delete 3 / update 2 across three commits; returns
    the target version."""
    M.write_table(
        spark.createDataFrame(
            [
                (1000 + i, _vec(i % N_CLUSTERS, 90 + i), f"fresh doc {i} topic t0")
                for i in range(4)
            ],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    M.delete_rows(spark, src, prune=[("doc_id", "in", [2, 3, 7])])
    M.update_rows(
        spark,
        src,
        {
            "embedding": "transform(embedding, x -> -x)",
            "text": "concat('rewritten ', text)",
        },
        prune=[("doc_id", "in", [0, 5])],
    )
    return int(M.latest_manifest(spark, src)["version"])


def _index_rows(spark, path):
    return sorted(
        (r["doc_id"], r["_cell"], tuple(round(x, 9) for x in r["embedding"]))
        for r in M.snapshot(spark, path).collect()
    )


def _expected_rows(spark, src, version, centroids):
    assigned = _assign_cells(
        M.snapshot(spark, src, version).select("doc_id", "embedding"),
        "embedding",
        centroids,
    )
    return sorted(
        (r["doc_id"], r["_cell"], tuple(round(x, 9) for x in r["embedding"]))
        for r in assigned.collect()
    )


def test_sync_ann_index_tracks_source_and_replays_noop(spark, src, tmp_path):
    idx = str(tmp_path / "annidx")
    build_ann_index(
        M.snapshot(spark, src, 0),
        "doc_id",
        "embedding",
        idx,
        n_cells=N_CLUSTERS,
    )
    to_v = _mutate(spark, src)

    v_pre = int(M.latest_manifest(spark, idx)["version"])
    out = sync_ann_index(spark, idx, src, from_version=0)
    assert out["noop"] is False and out["to_version"] == to_v
    assert out["appended"] == 6  # 4 inserts + 2 update postimages
    assert out["deleted"] == 5  # 3 deletes + 2 update preimages
    # ATOMIC: the whole wave (victims out + arrivals in + stats +
    # watermark) is ONE commit — no deletes-without-arrivals window
    assert int(M.latest_manifest(spark, idx)["version"]) == v_pre + 1

    # contents == stateless re-assignment of the TARGET snapshot with
    # the index's persisted centroids (what a same-centroid rebuild is)
    meta = ann_index_meta(idx, spark)
    assert _index_rows(spark, idx) == _expected_rows(
        spark, src, to_v, meta["centroids"]
    )
    # serving: the inserted near-duplicate is rank 1, deleted ids are
    # gone, the flipped (updated) doc left the cluster's neighborhood
    got = ivf_topk_indexed(
        spark, idx, _vec(0, 90), k=30, n_probe=N_CLUSTERS
    ).collect()
    ids = [r["doc_id"] for r in got]
    assert ids[0] == 1000
    assert not {2, 3, 7} & set(ids)  # deleted
    assert 0 not in ids  # updated: vector flipped out of the cluster

    # replay of the same wave: detected at entry, zero commits
    v_idx = int(M.latest_manifest(spark, idx)["version"])
    again = sync_ann_index(spark, idx, src, from_version=0)
    assert again["noop"] is True
    assert int(M.latest_manifest(spark, idx)["version"]) == v_idx
    # already-at-head: also a no-op
    assert sync_ann_index(spark, idx, src)["noop"] is True


def test_sync_ann_delete_only_wave_and_crash_rerun_converge(
    spark, src, tmp_path
):
    idx = str(tmp_path / "annidx")
    build_ann_index(
        M.snapshot(spark, src, 0),
        "doc_id",
        "embedding",
        idx,
        n_cells=N_CLUSTERS,
    )
    # delete-only wave: the watermark commit carries an EMPTY append
    M.delete_rows(spark, src, prune=[("doc_id", "in", [4, 8])])
    out = sync_ann_index(spark, idx, src, from_version=0)
    assert out["deleted"] == 2 and out["appended"] == 0
    assert sync_ann_index(spark, idx, src)["noop"] is True
    served = {
        r["doc_id"]
        for r in ivf_topk_indexed(
            spark, idx, _vec(0, 1), k=50, n_probe=N_CLUSTERS
        ).collect()
    }
    assert not {4, 8} & served

    # crashed wave: commit 2 (the delete) landed, commit 3 did not —
    # rerunning the sync must converge, not double-apply
    v_before = int(M.latest_manifest(spark, src)["version"])
    M.update_rows(
        spark,
        src,
        {"embedding": "transform(embedding, x -> -x)"},
        prune=[("doc_id", "in", [12])],
    )
    v_after = int(M.latest_manifest(spark, src)["version"])
    victims = M.row_changes(
        spark, src, v_before, v_after, ("doc_id",), include_preimage=True
    ).filter(F.col("change_type").isin("delete", "update_preimage"))
    delete_from_ann_index(spark, idx, victims.select("doc_id", "embedding"))
    out = sync_ann_index(spark, idx, src)  # the rerun
    assert out["noop"] is False and out["appended"] == 1
    meta = ann_index_meta(idx, spark)
    assert _index_rows(spark, idx) == _expected_rows(
        spark, src, v_after, meta["centroids"]
    )


def test_sync_state_survives_maintenance_and_first_sync_requires_base(
    spark, src, tmp_path
):
    idx = str(tmp_path / "annidx")
    build_ann_index(
        M.snapshot(spark, src, 0),
        "doc_id",
        "embedding",
        idx,
        n_cells=2,  # few fat cells so a hot split has work to do
    )
    with pytest.raises(ValueError, match="no sync state"):
        sync_ann_index(spark, idx, src)
    _mutate(spark, src)
    sync_ann_index(spark, idx, src, from_version=0)
    state = M.table_properties(spark, idx)["sync"]

    split_hot_cells(spark, idx, hot_share=0.3)
    assert M.table_properties(spark, idx)["sync"] == state  # merge fix
    assert sync_ann_index(spark, idx, src)["noop"] is True


def test_publish_search_cycle_via_pin_group(spark, tmp_path):
    """The serving-consistency composition: corpus + its synced
    indexes live under one catalog root; after each curation wave +
    sync, ``pin_group`` publishes (corpus vN, bm25 v, ann v) as ONE
    atomic cycle — a reader resolving the root never pairs a new
    corpus with a stale index, earlier cycles stay resolvable, and a
    replayed cycle publishes nothing."""
    from ensembl_database_loader_spark.sinks.catalog_commit import (
        pin_group,
        read_group,
    )

    root = str(tmp_path / "search")
    corpus, bm, ann = (f"{root}/{r}" for r in ("corpus", "bm25", "ann"))
    M.write_table(
        spark.createDataFrame(
            _corpus_rows(),
            "doc_id bigint, embedding array<double>, text string",
        ).repartitionByRange(4, "doc_id"),
        corpus,
        stats_cols=("doc_id",),
    )
    build_bm25_index(M.snapshot(spark, corpus, 0), "doc_id", "text", bm)
    build_ann_index(
        M.snapshot(spark, corpus, 0), "doc_id", "embedding", ann,
        n_cells=N_CLUSTERS,
    )
    assert pin_group(
        spark, root,
        {"corpus": None, "bm25": None, "ann": None},
        txn=("cycle", 0),
    ) is not None

    # wave: delete 2 docs, insert 1 — sync both indexes, pin cycle 1
    M.delete_rows(spark, corpus, prune=[("doc_id", "in", [0, 5])])
    M.write_table(
        spark.createDataFrame(
            [(9001, _vec(1, 77), "cycle one arrival")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        corpus,
        mode="append",
    )
    sync_bm25_index(spark, bm, corpus, from_version=0)
    sync_ann_index(spark, ann, corpus, from_version=0)
    assert pin_group(
        spark, root,
        {"corpus": None, "bm25": None, "ann": None},
        txn=("cycle", 1),
    ) is not None
    # replayed cycle: nothing publishes
    assert pin_group(
        spark, root, {"corpus": None}, txn=("cycle", 1)
    ) is None

    # head cycle is mutually consistent: ANN rows == corpus rows, and
    # the pinned bm25 version's stats count exactly the corpus docs
    g = read_group(spark, root)
    n_docs = g["corpus"].count()
    assert g["ann"].count() == n_docs
    from ensembl_database_loader_spark.sinks.catalog_commit import (
        group_history,
    )

    pinned = group_history(spark, root)[-1]["tables"]
    props = M.read_manifest(spark, bm, pinned["bm25"])["properties"]
    assert int(props["bm25"]["n_docs"]) == n_docs
    assert int(props["sync"]["version"]) == pinned["corpus"]

    # cycle 0 stays resolvable and internally consistent
    g0 = read_group(spark, root, version=0)
    assert g0["corpus"].count() == g0["ann"].count() == len(_corpus_rows())
    assert 9001 not in {r.doc_id for r in g0["corpus"].collect()}


def test_sync_edge_cases_within_window_and_cross_source(spark, src, tmp_path):
    """(1) a doc inserted AND deleted between syncs was never indexed:
    the feed classifies it a delete, the index delete matches nothing,
    stats stay exact, the wave converges; (2) re-pointing an index at
    a different source table is refused (one sync source per index)."""
    idx = str(tmp_path / "bm25idx")
    build_bm25_index(M.snapshot(spark, src, 0), "doc_id", "text", idx)
    M.write_table(
        spark.createDataFrame(
            [(7777, _vec(1, 1), "ephemeral doc never served")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    M.delete_rows(spark, src, prune=[("doc_id", "in", [7777])])
    before = M.table_properties(spark, idx)["bm25"]
    out = sync_bm25_index(spark, idx, src, from_version=0)
    assert out["noop"] is False
    assert out["deleted"] == 0 and out["appended"] == 0  # never indexed
    after = M.table_properties(spark, idx)["bm25"]
    assert (after["n_docs"], after["total_tokens"]) == (
        before["n_docs"],
        before["total_tokens"],
    )
    assert sync_bm25_index(spark, idx, src)["noop"] is True

    other = str(tmp_path / "other_src")
    M.write_table(
        spark.createDataFrame([(1, "x")], "doc_id bigint, text string"), other
    )
    with pytest.raises(ValueError, match="one source per index"):
        sync_bm25_index(spark, idx, other, from_version=0)


def test_sync_resurrects_tombstoned_id(spark, src, tmp_path):
    """A doc deleted in one wave (tombstoned by auto sync) and
    RE-INSERTED in a later wave must serve again: the resurrecting
    sync re-appends its rows AT THE MARKER'S GENERATION (the marker
    kills strictly-lower generations, so the dead rows stay masked
    while the new ones serve) — the wave remains APPEND-ONLY (no
    double stats decrement, removed == []), and the index stays
    rebuild-exact end to end."""
    from ensembl_database_loader_spark.operators.bm25 import (
        bm25_topk_indexed,
        compact_bm25_tombstones,
        tombstoned_ids,
    )

    idx = str(tmp_path / "bm25idx")
    build_bm25_index(M.snapshot(spark, src, 0), "doc_id", "text", idx)
    # wave 1: pure delete of doc 8 -> tombstoned
    M.delete_rows(spark, src, prune=[("doc_id", "in", [8])])
    out = sync_bm25_index(spark, idx, src, from_version=0)
    assert out["tombstoned"] == 1
    assert tombstoned_ids(spark, idx) == [8]
    # wave 2: doc 8 returns with fresh text
    M.write_table(
        spark.createDataFrame(
            [(8, _vec(0, 8), "returned document unique resurrect token")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    out = sync_bm25_index(spark, idx, src)
    assert out["appended"] == 1
    # append-only resurrection: marker stays until reclaim, and the
    # resurrecting commit rewrote NO file
    assert tombstoned_ids(spark, idx) == [8]
    v = int(M.latest_manifest(spark, idx)["version"])
    assert M.changed_files(spark, idx, v - 1, v)["removed"] == []
    queries = spark.createDataFrame(
        [(1, "resurrect token")], "qid bigint, qtext string"
    )
    got = bm25_topk_indexed(spark, idx, queries, k=3).collect()
    assert [r.doc_id for r in got][:1] == [8]
    # rebuild-exact: stats and (post-reclaim) snapshots agree
    fresh = str(tmp_path / "fresh")
    build_bm25_index(M.snapshot(spark, src), "doc_id", "text", fresh)
    compact_bm25_tombstones(spark, idx)
    ms = M.table_properties(spark, idx)["bm25"]
    mf = M.table_properties(spark, fresh)["bm25"]
    assert (ms["n_docs"], ms["total_tokens"], ms["tombstones"]) == (
        mf["n_docs"],
        mf["total_tokens"],
        0,
    )
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, fresh).collect())
    )


def test_sync_bm25_index_serves_identical_to_rebuild(spark, src, tmp_path):
    idx = str(tmp_path / "bm25idx")
    rebuilt = str(tmp_path / "bm25rebuild")
    build_bm25_index(M.snapshot(spark, src, 0), "doc_id", "text", idx)
    # include a zero-token doc in the wave (sentinel-row stats path)
    M.write_table(
        spark.createDataFrame(
            [(2000, _vec(0, 99), "   ")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    to_v = _mutate(spark, src)
    v_pre = int(M.latest_manifest(spark, idx)["version"])
    out = sync_bm25_index(spark, idx, src, from_version=0)
    assert out["noop"] is False and out["to_version"] == to_v
    assert out["appended"] == 7  # 4 inserts + 2 updates + zero-token doc
    assert out["tombstoned"] == 3  # pure deletes defer (auto mode)
    assert int(M.latest_manifest(spark, idx)["version"]) == v_pre + 1
    # the MIXED wave — deletes AND updates AND inserts — is one
    # APPEND-ONLY commit: generation markers mask the dead images, no
    # postings file is rewritten (the O(wave) claim, structurally)
    assert M.changed_files(spark, idx, v_pre, v_pre + 1)["removed"] == []

    build_bm25_index(M.snapshot(spark, src, to_v), "doc_id", "text", rebuilt)
    ms, mr = (
        M.table_properties(spark, p)["bm25"] for p in (idx, rebuilt)
    )
    assert (ms["n_docs"], ms["total_tokens"]) == (
        mr["n_docs"],
        mr["total_tokens"],
    )
    queries = spark.createDataFrame(
        [(1, "rewritten topic t0"), (2, "fresh doc body")],
        "qid bigint, qtext string",
    )
    serve = lambda p: sorted(
        (r.qid, r.doc_id, round(r.score, 9), r.rank)
        for r in bm25_topk_indexed(spark, p, queries, k=5).collect()
    )
    # TOMBSTONE serving: dead postings still on disk, yet scores are
    # bit-identical to the rebuild (victims filtered before the df agg)
    assert serve(idx) == serve(rebuilt)
    # physical reclaim: one amortized rewrite restores bit-identity of
    # the snapshots themselves, stats untouched, serving unchanged
    from ensembl_database_loader_spark.operators.bm25 import (
        compact_bm25_tombstones,
    )

    assert compact_bm25_tombstones(spark, idx) is not None
    assert M.table_properties(spark, idx)["bm25"]["tombstones"] == 0
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, rebuilt).collect())
    )
    assert serve(idx) == serve(rebuilt)
    assert compact_bm25_tombstones(spark, idx) is None  # nothing left

    assert sync_bm25_index(spark, idx, src)["noop"] is True
    # delete-only wave: stats decrement + watermark, still rebuild-exact
    M.delete_rows(spark, src, prune=[("doc_id", "in", [2000, 1000])])
    out = sync_bm25_index(spark, idx, src)
    assert out["deleted"] == 2 and out["appended"] == 0
    m2 = M.table_properties(spark, idx)["bm25"]
    assert m2["n_docs"] == ms["n_docs"] - 2
    assert sync_bm25_index(spark, idx, src)["noop"] is True

    # maintenance composition: sync waves fragment the postings into
    # per-wave files; a term-sorted compaction restores clustering
    # WITHOUT touching serving, stats, blooms, or the sync watermark
    before = serve(idx)
    n_files = len(M.latest_manifest(spark, idx)["files"])
    state = M.table_properties(spark, idx)["sync"]
    M.compact_table(spark, idx, sort_cols=("term",), stats_cols=("term",))
    assert len(M.latest_manifest(spark, idx)["files"]) < n_files
    assert serve(idx) == before
    assert M.table_properties(spark, idx)["sync"] == state
    assert M.table_properties(spark, idx)["bm25"] == m2
    assert sync_bm25_index(spark, idx, src)["noop"] is True


def test_sync_bm25_rewrite_mode_immediate_bit_identity(spark, src, tmp_path):
    """delete_mode='rewrite': every victim (pure deletes, updated ids,
    AND a previously-tombstoned id being resurrected) leaves
    PHYSICALLY in the one-commit wave — the snapshot is bit-identical
    to a from-scratch rebuild immediately, with no compaction step;
    marker rows of resurrected ids leave with their dead postings, so
    the live-marker count drops to zero."""
    from ensembl_database_loader_spark.operators.bm25 import (
        tombstoned_ids,
    )

    idx = str(tmp_path / "bm25idx")
    build_bm25_index(M.snapshot(spark, src, 0), "doc_id", "text", idx)
    # wave 1 (auto): tombstone doc 8
    M.delete_rows(spark, src, prune=[("doc_id", "in", [8])])
    out = sync_bm25_index(spark, idx, src, from_version=0)
    assert out["tombstoned"] == 1 and tombstoned_ids(spark, idx) == [8]
    # wave 2: doc 8 resurrects + mixed mutations, synced with REWRITE
    M.write_table(
        spark.createDataFrame(
            [(8, _vec(0, 8), "returned doc for the rewrite path")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    to_v = _mutate(spark, src)
    out = sync_bm25_index(spark, idx, src, delete_mode="rewrite")
    assert out["noop"] is False and out["to_version"] == to_v
    assert out["tombstoned"] == 0  # nothing deferred
    assert tombstoned_ids(spark, idx) == []  # marker left with the dead rows
    fresh = str(tmp_path / "fresh")
    build_bm25_index(M.snapshot(spark, src, to_v), "doc_id", "text", fresh)
    ms, mf = (M.table_properties(spark, p)["bm25"] for p in (idx, fresh))
    assert (ms["n_docs"], ms["total_tokens"], ms["tombstones"]) == (
        mf["n_docs"], mf["total_tokens"], 0,
    )
    a, b = M.snapshot(spark, idx), M.snapshot(spark, fresh)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    queries = spark.createDataFrame(
        [(1, "rewritten topic t0"), (2, "returned doc")],
        "qid bigint, qtext string",
    )
    serve = lambda p: sorted(
        map(tuple, bm25_topk_indexed(spark, p, queries, k=5).collect())
    )
    assert serve(idx) == serve(fresh)
    assert sync_bm25_index(spark, idx, src)["noop"] is True


def test_sync_auto_compact_bounds_marker_pressure(spark, src, tmp_path):
    """auto_compact_ratio makes the broadcast-dim marker contract an
    enforced invariant: waves below the ratio keep their markers
    (append-only cost), the wave that crosses it triggers ONE
    amortized compaction — markers drop to zero, the snapshot becomes
    bit-identical to a rebuild, and the sync watermark survives so the
    next sync is a no-op."""
    from ensembl_database_loader_spark.operators.bm25 import (
        marker_pressure,
        tombstoned_ids,
    )

    idx = str(tmp_path / "bm25idx")
    build_bm25_index(M.snapshot(spark, src, 0), "doc_id", "text", idx)
    # wave 1: 2 deletes of 100 docs -> pressure 2/98, under the bound
    M.delete_rows(spark, src, prune=[("doc_id", "in", [8, 12])])
    out = sync_bm25_index(
        spark, idx, src, from_version=0, auto_compact_ratio=0.05
    )
    assert out["compacted"] is False
    assert len(tombstoned_ids(spark, idx)) == 2
    # wave 2: 4 more -> pressure 6/94 > 0.05 -> compacts
    M.delete_rows(spark, src, prune=[("doc_id", "in", [16, 20, 24, 28])])
    out = sync_bm25_index(spark, idx, src, auto_compact_ratio=0.05)
    assert out["compacted"] is True
    assert tombstoned_ids(spark, idx) == []
    assert marker_pressure(spark, idx) == 0.0
    fresh = str(tmp_path / "fresh")
    build_bm25_index(M.snapshot(spark, src), "doc_id", "text", fresh)
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, fresh).collect())
    )
    # the compaction preserved the sync watermark
    assert sync_bm25_index(spark, idx, src)["noop"] is True


def test_sync_ann_auto_split_bounds_cell_skew(spark, src, tmp_path):
    """auto_split_hot_share: a wave of arrivals concentrated in one
    cell pushes its share past the bound, and the sync triggers ONE
    amortized split_hot_cells commit — skew diagnostic is
    metadata-only, serving keeps every row, the watermark survives so
    the next sync no-ops."""
    idx = str(tmp_path / "annidx")
    build_ann_index(
        M.snapshot(spark, src, 0), "doc_id", "embedding", idx,
        n_cells=2,
    )
    # a wave of clustered-but-separable arrivals: all land in one cell
    M.write_table(
        spark.createDataFrame(
            [
                (5000 + i, _vec(0, 90 + i), f"hot arrival {i}")
                for i in range(60)
            ],
            "doc_id bigint, embedding array<double>, text string",
        ),
        src,
        mode="append",
    )
    from ensembl_database_loader_spark.operators.similarity import (
        _sharemax,
    )

    out = sync_ann_index(spark, idx, src, from_version=0)
    share_pre = _sharemax(M.table_partitions(spark, idx))
    assert share_pre > 0.4
    # replay with the policy on: the wave itself no-ops (watermark),
    # so run the NEXT wave with the bound active
    M.delete_rows(spark, src, prune=[("doc_id", "in", [5000])])
    out = sync_ann_index(spark, idx, src, auto_split_hot_share=0.4)
    assert out["noop"] is False
    assert out["cells_split"], "hot cell not split"
    assert _sharemax(M.table_partitions(spark, idx)) < share_pre
    # every surviving row still served; watermark preserved
    assert M.snapshot(spark, idx).count() == len(_corpus_rows()) + 59
    assert sync_ann_index(spark, idx, src)["noop"] is True


def test_advance_search_cycle_one_call(spark, tmp_path):
    """advance_search_cycle: one call per curation wave syncs BOTH
    serving indexes to the corpus head (maintenance policies wired
    through) and pins the consistent cycle — the head cycle pairs
    corpus vN with exactly the index versions reflecting vN, a replay
    publishes nothing anywhere, and history time-travels whole
    cycles."""
    from ensembl_database_loader_spark.operators.indexsync import (
        advance_search_cycle,
    )
    from ensembl_database_loader_spark.sinks.catalog_commit import (
        group_history,
        read_group,
    )

    root = str(tmp_path / "search")
    corpus = f"{root}/corpus"
    M.write_table(
        spark.createDataFrame(
            _corpus_rows(),
            "doc_id bigint, embedding array<double>, text string",
        ).repartitionByRange(4, "doc_id"),
        corpus,
        stats_cols=("doc_id",),
    )
    build_bm25_index(M.snapshot(spark, corpus, 0), "doc_id", "text", f"{root}/bm25")
    build_ann_index(
        M.snapshot(spark, corpus, 0), "doc_id", "embedding", f"{root}/ann",
        n_cells=N_CLUSTERS,
    )
    # cycle 0: no wave yet — both syncs no-op, the pin still publishes
    out = advance_search_cycle(spark, root, from_version=0)
    assert out["bm25"]["noop"] and out["ann"]["noop"] and out["pinned"]

    # wave: delete 2, insert 1 -> cycle 1 in one call
    M.delete_rows(spark, corpus, prune=[("doc_id", "in", [0, 5])])
    M.write_table(
        spark.createDataFrame(
            [(9001, _vec(1, 77), "cycle arrival")],
            "doc_id bigint, embedding array<double>, text string",
        ),
        corpus,
        mode="append",
    )
    # from_version still needed: the cycle-0 syncs no-opped without
    # recording a watermark (nothing committed at from == to)
    out = advance_search_cycle(
        spark, root, from_version=0,
        auto_compact_ratio=0.5, auto_split_hot_share=0.9,
    )
    assert out["bm25"]["noop"] is False and out["ann"]["noop"] is False
    assert out["pinned"] is True

    # replayed orchestration: nothing publishes anywhere
    hist_len = len(group_history(spark, root))
    out = advance_search_cycle(spark, root)
    assert out["bm25"]["noop"] and out["ann"]["noop"]
    assert out["pinned"] is False
    assert len(group_history(spark, root)) == hist_len

    # the head cycle is mutually consistent; cycle 0 still resolvable
    g = read_group(spark, root)
    assert g["ann"].count() == g["corpus"].count()
    g0 = read_group(spark, root, version=0)
    assert g0["corpus"].count() == len(_corpus_rows())
