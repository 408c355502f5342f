"""Manifest-committed table tests (sinks/manifest.py): atomic snapshot
commits, reader pinning under concurrent rewrites, exactly-once txn
appends, optimistic commit races, vacuum reclamation."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.sinks import manifest as M


@pytest.fixture()
def tbl(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, v string")


def _content(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_overwrite_append_roundtrip(spark, tbl):
    M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    assert _content(M.snapshot(spark, tbl)) == [(1, "a"), (2, "b")]

    M.write_table(_df(spark, [(3, "c")]), tbl, mode="append")
    assert _content(M.snapshot(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]

    M.write_table(_df(spark, [(9, "z")]), tbl, mode="overwrite")
    assert _content(M.snapshot(spark, tbl)) == [(9, "z")]

    # time travel: every prior version still resolves bit-identically
    assert _content(M.snapshot(spark, tbl, version=0)) == [(1, "a"), (2, "b")]
    assert _content(M.snapshot(spark, tbl, version=1)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]
    hist = [(r.version, r.operation) for r in M.table_history(spark, tbl).collect()]
    assert hist == [(0, "overwrite"), (1, "append"), (2, "overwrite")]


def test_empty_table_keeps_schema(spark, tbl):
    M.write_table(_df(spark, []), tbl)
    snap = M.snapshot(spark, tbl)
    assert snap.count() == 0
    assert [f.name for f in snap.schema.fields] == ["k", "v"]


def test_merge_then_compact_read_your_writes(spark, tbl):
    # many small commits -> merge -> compact; content must survive the
    # whole cycle exactly (the read-your-writes gate)
    M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    for i in range(3, 7):
        M.write_table(_df(spark, [(i, f"v{i}")]), tbl, mode="append")

    batch = spark.createDataFrame(
        [(2, "B", False), (4, None, True), (10, "new", False)],
        "k bigint, v string, dead boolean",
    )
    M.merge_table(tbl, batch, ("k",), tombstone_col="dead")
    expect = [(1, "a"), (2, "B"), (3, "v3"), (5, "v5"), (6, "v6"), (10, "new")]
    assert _content(M.snapshot(spark, tbl)) == expect

    out = M.compact_table(spark, tbl, target_bytes=1 << 30)
    assert out["files_after"] <= out["files_before"]
    assert out["files_after"] == 1  # everything fits one target file
    assert _content(M.snapshot(spark, tbl)) == expect


def test_reader_pinned_across_concurrent_commits(spark, tbl):
    """A snapshot resolved BEFORE a merge + compaction still reads the
    pre-merge data, with no missing or duplicate rows — the atomicity
    property the two-rename swap could not give."""
    M.write_table(_df(spark, [(i, f"v{i}") for i in range(20)]), tbl)
    pinned = M.snapshot(spark, tbl)  # resolved at version 0

    batch = spark.createDataFrame([(5, "CHANGED", False)], "k bigint, v string, dead boolean")
    M.merge_table(tbl, batch, ("k",), tombstone_col="dead")
    M.compact_table(spark, tbl, target_bytes=1 << 30)

    got = _content(pinned)  # executed only now, after 2 newer commits
    assert got == [(i, f"v{i}") for i in range(20)]
    # and the head sees the merge
    assert (5, "CHANGED") in _content(M.snapshot(spark, tbl))


def test_txn_append_is_exactly_once(spark, tbl):
    M.write_table(_df(spark, [(1, "a")]), tbl)
    assert (
        M.write_table(_df(spark, [(2, "b")]), tbl, "append", txn=("app", 0))
        is not None
    )
    # replayed micro-batch: same app, same batch id -> no-op
    assert M.write_table(_df(spark, [(2, "b")]), tbl, "append", txn=("app", 0)) is None
    assert (
        M.write_table(_df(spark, [(3, "c")]), tbl, "append", txn=("app", 1))
        is not None
    )
    # a different app's batch 0 is independent
    assert (
        M.write_table(_df(spark, [(4, "d")]), tbl, "append", txn=("other", 0))
        is not None
    )
    assert _content(M.snapshot(spark, tbl)) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
        (4, "d"),
    ]


def test_commit_retries_and_loses_no_update_under_race(spark, tbl):
    """Deterministic race: a competing writer publishes a manifest
    between our build() and rename. The loser must detect it (writer-id
    readback — local rename REPLACES, so exists-checks can't be
    trusted) and rebuild against the new head; BOTH appends land."""
    M.write_table(_df(spark, [(1, "a")]), tbl)
    staged, schema_json = M._stage_data(_df(spark, [(2, "mine")]), tbl)

    fired = {"n": 0}

    def build(head):
        if fired["n"] == 0:
            fired["n"] += 1
            # competing commit lands AFTER we resolved the head
            M.write_table(_df(spark, [(9, "theirs")]), tbl, mode="append")
        return {
            "files": (head["files"] if head else []) + staged,
            "schema": schema_json,
            "txn": {},
        }

    out = M._commit(spark, tbl, build, "append")
    # version 0 = initial write, 1 = the competing append, 2 = ours
    # after the detected conflict and rebuild
    assert out["version"] == 2
    assert out["parent"] == 1
    snap = M.snapshot(spark, tbl)
    assert sorted((r.k, r.v) for r in snap.collect()) == [
        (1, "a"),
        (2, "mine"),
        (9, "theirs"),
    ]


def test_vacuum_reclaims_only_dead_files(spark, tbl):
    M.write_table(_df(spark, [(i, "x") for i in range(10)]), tbl)
    M.write_table(_df(spark, [(99, "y")]), tbl, mode="append")
    M.compact_table(spark, tbl, target_bytes=1 << 30)
    before = M.snapshot(spark, tbl)
    n_manifests_before = len(M.list_manifests(spark, tbl))
    assert n_manifests_before == 3

    out = M.vacuum_table(spark, tbl, keep_last=1)
    assert out["deleted_manifests"] == 2
    assert out["deleted_files"] > 0
    assert M.list_manifests(spark, tbl) == [2]
    # head still reads perfectly after reclamation
    assert _content(M.snapshot(spark, tbl)) == _content(before)
    # the dead data files are actually gone from disk
    data_root = os.path.join(tbl, "data")
    remaining = []
    for d, _, files in os.walk(data_root):
        remaining += [os.path.join(d, f) for f in files if not f.startswith((".", "_"))]
    head = M.latest_manifest(spark, tbl)
    assert sorted(os.path.relpath(p, tbl) for p in remaining) == sorted(head["files"])


def _two_partition_table(spark, tbl, stats_cols=()):
    """Partition p=a holds keys 0..59 in three files, p=b keys 100..119
    in one."""
    for lo in (0, 20, 40):
        M.write_table(
            spark.createDataFrame(
                [(k, "a", f"v{k}") for k in range(lo, lo + 20)],
                "k bigint, p string, v string",
            ).coalesce(1),
            tbl, mode="append", partition_by=("p",), stats_cols=stats_cols,
        )
    M.write_table(
        spark.createDataFrame(
            [(k, "b", f"v{k}") for k in range(100, 120)],
            "k bigint, p string, v string",
        ).coalesce(1),
        tbl, mode="append", stats_cols=stats_cols,
    )


#: every commit that rewrites data read from (or metadata of) the head
#: it resolved: (operation name in the error, call)
_PINNED_OPS = {
    "merge_table": ("merge", lambda spark, tbl: M.merge_table(
        tbl,
        spark.createDataFrame([(1, "A", False)], "k bigint, v string, dead boolean"),
        ("k",), tombstone_col="dead",
    )),
    "compact_table": ("compact", lambda spark, tbl: M.compact_table(spark, tbl)),
    "restore_table": ("restore", lambda spark, tbl: M.restore_table(spark, tbl, 0)),
    "compact_partition": ("compact_partition", lambda spark, tbl: M.compact_partition(
        spark, tbl, {"p": "a"},
    )),
    "replace_partitions": ("replace_partitions", lambda spark, tbl: M.replace_partitions(
        spark, tbl, [{"p": "a"}],
        spark.createDataFrame([(1, "a", "new")], "k bigint, p string, v string"),
    )),
    "drop_partition": ("drop_partition", lambda spark, tbl: M.drop_partition(
        spark, tbl, {"p": "a"},
    )),
}


@pytest.mark.parametrize("op", sorted(_PINNED_OPS))
def test_pinned_commit_raises_on_concurrent_commit(spark, tbl, monkeypatch, op):
    """Every commit computed from the head it resolved raises when
    another writer commits first — blindly publishing would silently
    drop that writer's rows — and the competing commit survives."""
    partitioned = op in ("compact_partition", "replace_partitions", "drop_partition")
    if partitioned:
        _two_partition_table(spark, tbl)
        racer = spark.createDataFrame([(7, "b", "racer")], "k bigint, p string, v string")
    else:
        M.write_table(_df(spark, [(1, "a")]), tbl)
        M.write_table(_df(spark, [(2, "b")]), tbl, mode="append")
        racer = _df(spark, [(7, "racer")])
    real_commit = M._commit

    def race_then_commit(*args, **kwargs):
        monkeypatch.setattr(M, "_commit", real_commit)  # before the racer
        M.write_table(racer, tbl, mode="append")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(M, "_commit", race_then_commit)
    name, call = _PINNED_OPS[op]
    with pytest.raises(RuntimeError, match=f"concurrent commit during {name} "):
        call(spark, tbl)
    head = M.latest_manifest(spark, tbl)
    assert head["operation"] == "append"  # the racer's commit is the head
    assert 7 in {r.k for r in M.snapshot(spark, tbl).collect()}


@pytest.mark.parametrize("op", ["append", "delete_rows"])
def test_failed_publish_leaves_head_and_orphans_only_staged_files(
    spark, tbl, monkeypatch, op
):
    """A writer that dies between staging and publishing changes
    nothing readers see; its staged files are exactly the orphans, and
    remove_orphans reclaims them."""
    M.write_table(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), tbl, stats_cols=("k",))
    before = _content(M.snapshot(spark, tbl))
    staged: list[str] = []
    real_stage = M._stage_data

    def recording_stage(df, path, partition_by=()):
        out = real_stage(df, path, partition_by)
        staged.extend(out[0])
        return out

    def publish_fails(*_args):
        raise OSError("injected publish failure")

    monkeypatch.setattr(M, "_stage_data", recording_stage)
    monkeypatch.setattr(M, "_write_bytes", publish_fails)
    with pytest.raises(OSError, match="injected"):
        if op == "append":
            M.write_table(_df(spark, [(4, "d")]), tbl, mode="append")
        else:
            M.delete_rows(spark, tbl, where="k = 2")
    monkeypatch.undo()
    assert staged
    assert M.list_manifests(spark, tbl) == [0]
    assert _content(M.snapshot(spark, tbl)) == before
    assert M.orphan_files(spark, tbl) == sorted(staged)
    assert M.remove_orphans(spark, tbl, grace_ms=0)["deleted"] == len(staged)
    assert M.orphan_files(spark, tbl) == []
    assert _content(M.snapshot(spark, tbl)) == before


def test_manifest_files_invisible_to_plain_scan(spark, tbl):
    """Underscore naming keeps the protocol files out of any plain
    spark.read of the data directories, and the manifest's file list is
    relative (table moves don't break old manifests)."""
    M.write_table(_df(spark, [(1, "a")]), tbl)
    head = M.latest_manifest(spark, tbl)
    assert all(rel.startswith("data/") for rel in head["files"])
    with open(os.path.join(tbl, f"_manifest-{0:012d}.json")) as f:
        assert json.load(f)["version"] == 0


# ---------------------------------------------------------------------------
# File-skipping stats (r8)
# ---------------------------------------------------------------------------


def _ranged_df(spark, lo, hi, parts=4):
    return (
        spark.range(lo, hi)
        .withColumn("k", F.col("id"))
        .withColumn("v", F.concat(F.lit("row"), F.col("id")))
        .withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(secs=F.col("id")))
        .drop("id")
        .repartitionByRange(parts, "k")
        .sortWithinPartitions("k")
    )


def test_stats_collected_and_files_matching_prunes(spark, tbl):
    """4 range-partitioned files over k in [0, 400): a point predicate
    must keep exactly 1 file, a range predicate the overlapping ones,
    and pruning must be conservative for unknown columns."""
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("k", "v"))
    head = M.latest_manifest(spark, tbl)
    assert len(head["files"]) == 4
    assert set(head["stats"]) == set(head["files"])
    for st in head["stats"].values():
        assert set(st) == {"k", "v"}
        assert st["k"][0] <= st["k"][1]

    assert len(M.files_matching(head, [("k", "=", 150)])) == 1
    assert len(M.files_matching(head, [("k", "<", 150)])) == 2
    assert len(M.files_matching(head, [("k", ">=", 399)])) == 1
    assert M.files_matching(head, [("k", ">", 399)]) == []
    # no stats for this column -> everything kept (conservative)
    assert len(M.files_matching(head, [("ts", "=", "x")])) == 4
    # type mismatch between value and stat -> kept (conservative)
    assert len(M.files_matching(head, [("k", "=", "150")])) == 4
    with pytest.raises(ValueError, match="unsupported predicate op"):
        M.files_matching(head, [("k", "!=", 1)])


def test_scan_table_equals_full_filter_and_skips_io(spark, tbl):
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("k",))
    got = M.scan_table(spark, tbl, [("k", ">=", 100), ("k", "<", 120)])
    assert sorted(r.k for r in got.collect()) == list(range(100, 120))
    # the pruned plan reads exactly ONE of the four files
    files = {os.path.basename(f) for f in got.inputFiles()}
    assert len(files) == 1
    # empty-prune result keeps the schema and returns no rows
    none = M.scan_table(spark, tbl, [("k", ">", 10_000)])
    assert none.columns == ["k", "v", "ts"] and none.count() == 0


def test_append_merges_stats_and_unknown_stats_col_raises(spark, tbl):
    M.write_table(_ranged_df(spark, 0, 200, parts=2), tbl, stats_cols=("k",))
    M.write_table(
        _ranged_df(spark, 200, 400, parts=2), tbl, mode="append", stats_cols=("k",)
    )
    head = M.latest_manifest(spark, tbl)
    assert len(head["files"]) == 4 and len(head["stats"]) == 4
    assert len(M.files_matching(head, [("k", "=", 50)])) == 1
    assert len(M.files_matching(head, [("k", "=", 350)])) == 1
    with pytest.raises(ValueError, match="stats_cols"):
        M.write_table(_ranged_df(spark, 0, 10), str(tbl) + "2", stats_cols=("nope",))


def test_compact_with_sort_restores_clustering(spark, tbl):
    """An append-heavy table whose files all overlap on k skips nothing;
    compacting with sort_cols=k makes the ranges disjoint and a point
    query then touches one file."""
    import random

    rnd = random.Random(7)
    keys = list(range(400))
    rnd.shuffle(keys)
    for i in range(4):  # 4 appends, each spanning the WHOLE key range
        chunk = keys[i * 100 : (i + 1) * 100]
        df = spark.createDataFrame([(k, f"row{k}") for k in chunk], "k bigint, v string")
        M.write_table(df.coalesce(1), tbl, mode="append", stats_cols=("k",))
    head = M.latest_manifest(spark, tbl)
    assert len(M.files_matching(head, [("k", "=", 42)])) == 4  # no skipping

    M.compact_table(spark, tbl, target_bytes=2048, sort_cols=("k",), stats_cols=("k",))
    head = M.latest_manifest(spark, tbl)
    assert len(head["files"]) > 1
    assert len(M.files_matching(head, [("k", "=", 42)])) == 1
    got = M.scan_table(spark, tbl, [("k", "=", 42)])
    assert [(r.k, r.v) for r in got.collect()] == [(42, "row42")]


_REWRITES = {
    "compact_table": lambda spark, tbl: M.compact_table(
        spark, tbl, target_bytes=1024, sort_cols=("k",)
    ),
    "compact_partition": lambda spark, tbl: M.compact_partition(
        spark, tbl, {"p": "a"}, target_bytes=1024, sort_cols=("k",)
    ),
    "merge_table": lambda spark, tbl: M.merge_table(
        tbl,
        spark.createDataFrame(
            [(5, "a", "upd"), (61, "a", "new")], "k bigint, p string, v string"
        ),
        ("k",),
    ),
}


@pytest.mark.parametrize("op", sorted(_REWRITES))
def test_rewrites_keep_file_stats(spark, tbl, op):
    """A rewrite keeps the table's stat columns by default: every file
    of the new head still has ``k`` stats, so a key no file holds
    prunes every file and a point lookup reads only matching files."""
    if op == "compact_partition":
        _two_partition_table(spark, tbl, stats_cols=("k",))
    else:
        for lo in (0, 20, 40):
            M.write_table(
                spark.createDataFrame(
                    [(k, "a", f"v{k}") for k in range(lo, lo + 20)],
                    "k bigint, p string, v string",
                ).coalesce(1),
                tbl, mode="append", stats_cols=("k",),
            )
    before = M.latest_manifest(spark, tbl)
    _REWRITES[op](spark, tbl)
    head = M.latest_manifest(spark, tbl)
    assert head["version"] == before["version"] + 1
    assert set(head["files"]) - set(before["files"])  # files were rewritten
    assert all("k" in head.get("stats", {}).get(rel, {}) for rel in head["files"])
    assert M.files_matching(head, [("k", "=", 1000)]) == []
    hits = M.files_matching(head, [("k", "=", 10)])
    assert hits
    if op != "merge_table":  # sorted rewrites: a point lookup skips files
        assert len(hits) < len(head["files"])
    got = M.scan_table(spark, tbl, [("k", "=", 10)])
    assert [(r.k, r.v) for r in got.collect()] == [(10, "v10")]


def test_timestamp_stats_skip_with_string_predicates(spark, tbl):
    """Timestamps are stored as sortable 'yyyy-MM-dd HH:mm:ss.SSSSSS'
    strings; predicates in the same shape prune files."""
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("ts",))
    head = M.latest_manifest(spark, tbl)
    one = M.files_matching(head, [("ts", "=", "2024-01-01 00:02:30.000000")])
    assert len(one) == 1
    got = M.scan_table(
        spark, tbl,
        [("ts", ">=", "2024-01-01 00:02:30.000000")],
    )
    # residual filter compares string against timestamp: Spark casts —
    # rows with ts >= 00:02:30 are ids 150..399
    assert got.count() == 250


def test_footer_stats_fast_path_matches_engine_job(spark, tbl, monkeypatch):
    """The driver-side parquet-footer stats fast path (local bloomless
    commits on integral/date stats columns) must produce the SAME
    manifest metadata — stats, row counts — as the engine aggregate it
    replaces; mixed nulls, an all-null file, dates, and an empty-ish
    file all covered. The engine path is forced by making the root
    look non-local."""
    import ensembl_database_loader_spark.sinks.manifest as mod

    df = spark.createDataFrame(
        [
            (1, None, "2024-01-02"),
            (5, 10, "2024-01-01"),
            (None, 7, None),
            (9, None, "2024-03-31"),
        ],
        "k bigint, m int, d string",
    ).select("k", "m", F.col("d").cast("date").alias("d"))
    staged, _ = mod._stage_data(df.repartition(2), str(tbl))
    schema = df.schema
    fast = mod._collect_stats(
        spark, str(tbl), staged, schema, ("k", "m", "d"), None
    )
    monkeypatch.setattr(mod, "_local_path", lambda p: None)
    slow = mod._collect_stats(
        spark, str(tbl), staged, schema, ("k", "m", "d"), None
    )
    assert fast == slow
    # sanity: the fast path really was the footer one (no Spark job
    # would be needed) — a string stats column must force the fallback
    assert (
        mod._footer_stats(mod._local_path(str(tbl)), staged, ["x"], {"x": "string"})
        is None
    )


def test_all_null_stats_prune_comparisons(spark, tbl):
    df = spark.createDataFrame([(None, "a"), (None, "b")], "k bigint, v string")
    M.write_table(df.coalesce(1), tbl, stats_cols=("k",))
    head = M.latest_manifest(spark, tbl)
    assert head["stats"][head["files"][0]]["k"] == [None, None]
    # comparison predicates are null-rejecting: the all-null file is
    # provably matchless and may be pruned
    assert M.files_matching(head, [("k", "=", 1)]) == []
    assert M.scan_table(spark, tbl, [("k", "=", 1)]).count() == 0


def test_zorder_compact_skips_on_both_columns(spark, tbl):
    """Two independent uniform columns: appends span the whole domain
    (nothing skips); a z-order compaction gives every file a tight box
    on BOTH columns, so single-column predicates on either skip files
    — the multi-dimension win a plain sort on x would deny y."""
    rows = [(x, y) for x in range(0, 256, 8) for y in range(0, 256, 8)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    M.write_table(df.repartition(4), tbl, stats_cols=("x", "y"))
    head = M.latest_manifest(spark, tbl)
    n = len(head["files"])
    assert len(M.files_matching(head, [("x", "=", 64)])) == n  # no layout

    M.compact_table(
        spark, tbl, target_bytes=1024, zorder_cols=("x", "y"), stats_cols=("x", "y")
    )
    head = M.latest_manifest(spark, tbl)
    total = len(head["files"])
    assert total >= 4
    kept_x = len(M.files_matching(head, [("x", ">=", 0), ("x", "<", 32)]))
    kept_y = len(M.files_matching(head, [("y", ">=", 0), ("y", "<", 32)]))
    assert kept_x < total and kept_y < total
    # correctness: the pruned scan equals the full filter
    got = M.scan_table(spark, tbl, [("x", ">=", 0), ("x", "<", 32)])
    expect = sorted((x, y) for x, y in rows if x < 32)
    assert sorted((r.x, r.y) for r in got.collect()) == expect
    with pytest.raises(ValueError, match="not both"):
        M.compact_table(spark, tbl, sort_cols=("x",), zorder_cols=("y",))


def test_zorder_value_constant_and_null_columns(spark):
    from pyspark.sql import functions as F  # noqa: F811

    df = spark.createDataFrame(
        [(1, 5, None), (2, 5, None), (3, 5, None)], "a bigint, c bigint, n bigint"
    )
    out = M.zorder_value(df, ("a", "c", "n"), bits=8).collect()
    # constant and all-null dimensions collapse to 0 and don't disturb
    # the varying dimension's ordering
    zs = {r.a: r._z for r in out}
    assert zs[1] < zs[2] < zs[3]
    with pytest.raises(ValueError, match="at least one"):
        M.zorder_value(df, ())


def test_table_diff_change_feed(spark, tbl):
    """insert/update/delete classification between two versions; the
    CDC read a downstream consumer uses to catch up incrementally."""
    M.write_table(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k bigint, v string, price double",
        ),
        tbl,
    )
    batch = spark.createDataFrame(
        [(2, "B", 20.0, False), (3, "c", 30.0, True), (4, "d", 40.0, False)],
        "k bigint, v string, price double, dead boolean",
    )
    M.merge_table(tbl, batch, ("k",), tombstone_col="dead")
    diff = {
        r.k: (r.change_type, r.v)
        for r in M.table_diff(spark, tbl, 0, 1, ("k",)).collect()
    }
    # 1 unchanged (absent), 2 updated, 3 deleted (old row), 4 inserted
    assert diff == {2: ("update", "B"), 3: ("delete", "c"), 4: ("insert", "d")}
    # reversed direction inverts the feed
    rev = {
        r.k: r.change_type for r in M.table_diff(spark, tbl, 1, 0, ("k",)).collect()
    }
    assert rev == {2: "update", 3: "insert", 4: "delete"}
    with pytest.raises(ValueError, match="at least one key"):
        M.table_diff(spark, tbl, 0, 1, ())


def test_table_diff_null_keys_and_values(spark, tbl):
    M.write_table(
        spark.createDataFrame([(None, "x"), (1, None)], "k bigint, v string"), tbl
    )
    M.write_table(
        spark.createDataFrame([(None, "y"), (1, None)], "k bigint, v string"), tbl
    )
    diff = M.table_diff(spark, tbl, 0, 1, ("k",)).collect()
    # null key matches null key (eqNullSafe); null v equal on both sides
    assert [(r.k, r.v, r.change_type) for r in diff] == [(None, "y", "update")]


def test_table_diff_update_preimage(spark, tbl):
    M.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"), tbl
    )
    M.write_table(
        spark.createDataFrame([(1, "A"), (3, "c")], "k bigint, v string"), tbl
    )
    rows = sorted(
        (r.k, r.v, r.change_type)
        for r in M.table_diff(spark, tbl, 0, 1, ("k",), include_preimage=True).collect()
    )
    assert rows == [
        (1, "A", "update"),
        (1, "a", "update_preimage"),
        (2, "b", "delete"),
        (3, "c", "insert"),
    ]


def _feed_rows(df):
    return sorted(
        tuple(r[c] for c in sorted(df.columns)) for r in df.collect()
    )


def test_row_changes_identical_to_table_diff_at_delta_cost(spark, tbl):
    """row_changes == table_diff on a mixed curation wave, while
    reading ONLY the files the commits touched (O(delta), the gate
    table_diff structurally cannot pass)."""
    # v0: 4 files, keys clustered so stats prune delete candidates
    base = spark.createDataFrame(
        [(i, f"v{i}", i % 2) for i in range(40)], "k bigint, v string, p int"
    ).repartitionByRange(4, "k")
    M.write_table(base, tbl, stats_cols=("k",))
    # v1: copy-on-write delete of two clustered keys (rewrites 1 file)
    M.delete_rows(spark, tbl, prune=[("k", "in", [1, 3])])
    # v2: update one key
    M.update_rows(spark, tbl, {"v": "'UPD'"}, prune=[("k", "=", 20)])
    # v3: append a new batch
    M.write_table(
        spark.createDataFrame([(100, "new", 0)], "k bigint, v string, p int"),
        tbl,
        mode="append",
    )
    fast = M.row_changes(spark, tbl, 0, 3, ("k",), include_preimage=True)
    slow = M.table_diff(spark, tbl, 0, 3, ("k",), include_preimage=True)
    assert _feed_rows(fast) == _feed_rows(slow)
    changed = {
        r.k: r.change_type
        for r in fast.filter("change_type <> 'update_preimage'").collect()
    }
    assert changed[1] == "delete" and changed[3] == "delete"
    assert changed[20] == "update" and changed[100] == "insert"
    # O(delta) gate: every file the feed reads was added or removed
    # between the versions — untouched files never open
    cf = M.changed_files(spark, tbl, 0, 3)
    touched = set(cf["added"]) | set(cf["removed"])
    read = {f.split(tbl.rstrip("/") + "/", 1)[1] for f in fast.inputFiles()}
    assert read and read <= touched
    # ...and strictly fewer files than table_diff's two-snapshot scan
    both_snapshots = len(M.read_manifest(spark, tbl, 0)["files"]) + len(
        M.read_manifest(spark, tbl, 3)["files"]
    )
    assert len(read) < both_snapshots
    with pytest.raises(ValueError, match="at least one key"):
        M.row_changes(spark, tbl, 0, 3, ())


def test_row_changes_compaction_is_an_empty_feed(spark, tbl):
    """A compaction rewrites files without changing rows: the removed
    and added rows fingerprint-equal, so the feed is empty — an
    incremental consumer correctly skips maintenance commits."""
    M.write_table(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "k bigint, v string"
        ).repartition(6),
        tbl,
    )
    assert M.compact_table(spark, tbl) is not None
    v = M.latest_manifest(spark, tbl)["version"]
    assert M.row_changes(spark, tbl, 0, v, ("k",)).count() == 0
    assert M.table_diff(spark, tbl, 0, v, ("k",)).count() == 0


@pytest.mark.parametrize("op", ["compact_table", "merge_table"])
def test_restage_keeps_non_nullable_schema(spark, tbl, op):
    """A whole-table restage reads the snapshot back with every field
    nullable; the commit still publishes the head's schema, so a
    non-nullable column survives and the row feed across it is empty."""
    df = spark.range(20).withColumn("v", F.concat(F.lit("v"), F.col("id").cast("string")))
    M.write_table(df.repartition(4), tbl)
    schema = M.latest_manifest(spark, tbl)["schema"]
    assert '"nullable":false' in schema
    if op == "compact_table":
        M.compact_table(spark, tbl)
    else:
        M.merge_table(tbl, df.filter("id < 3"), ("id",))
    head = M.latest_manifest(spark, tbl)
    assert head["schema"] == schema
    assert M.row_changes(spark, tbl, 0, head["version"], ("id",)).count() == 0


def test_row_changes_drop_partition_feeds_deletes(spark, tbl):
    M.write_table(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")],
            "k bigint, v string, p string",
        ),
        tbl,
        partition_by=("p",),
    )
    M.drop_partition(spark, tbl, {"p": "y"})
    feed = M.row_changes(spark, tbl, 0, 1, ("k",))
    assert sorted((r.k, r.p, r.change_type) for r in feed.collect()) == [
        (2, "y", "delete"),
        (3, "y", "delete"),
    ]


def test_row_changes_rejects_schema_evolution(spark, tbl):
    M.write_table(
        spark.createDataFrame([(1, "a")], "k bigint, v string"), tbl
    )
    M.write_table(
        spark.createDataFrame([(2, "b", 1.0)], "k bigint, v string, w double"),
        tbl,
        mode="append",
        schema_mode="merge",
    )
    with pytest.raises(ValueError, match="schema changed"):
        M.row_changes(spark, tbl, 0, 1, ("k",))


def test_apply_delta_one_commit_equals_delete_plus_append(spark, tbl, tmp_path):
    """One change wave (victims out + arrivals in) publishes as ONE
    version, lands on the same rows as separate delete_rows +
    write_table commits, and prunes the rewrite to victim files."""
    rows = [(i, f"v{i}") for i in range(40)]
    base = spark.createDataFrame(rows, "k bigint, v string").repartitionByRange(
        4, "k"
    )
    M.write_table(base, tbl, stats_cols=("k",))
    ref = str(tmp_path / "ref")
    M.write_table(base, ref, stats_cols=("k",))

    arrivals = spark.createDataFrame(
        [(5, "V5"), (100, "new")], "k bigint, v string"
    )
    out = M.apply_delta(
        spark, tbl,
        delete_prune=[("k", "in", [5, 7])],
        append_df=arrivals,
        txn=("wave", 1),
        properties={"sync": {"version": 1}},
    )
    assert out["rows_affected"] == 2 and out["files_untouched"] == 3
    assert int(M.latest_manifest(spark, tbl)["version"]) == 1  # ONE commit
    assert M.table_properties(spark, tbl) == {"sync": {"version": 1}}

    M.delete_rows(spark, ref, prune=[("k", "in", [5, 7])])
    M.write_table(arrivals, ref, mode="append")
    assert _content(M.snapshot(spark, tbl)) == _content(M.snapshot(spark, ref))

    # replayed txn: nothing commits, not even the rewrite's stats job
    assert (
        M.apply_delta(
            spark, tbl, delete_prune=[("k", "in", [5, 7])],
            append_df=arrivals, txn=("wave", 1),
        )
        is None
    )
    assert int(M.latest_manifest(spark, tbl)["version"]) == 1


def test_apply_delta_append_only_delete_only_and_watermark_only(spark, tbl):
    M.write_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"), tbl
    )
    # append-only wave (no delete condition at all)
    M.apply_delta(
        spark, tbl,
        append_df=spark.createDataFrame([(3, "c")], "k bigint, v string"),
        txn=("w", 1),
    )
    assert _content(M.snapshot(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]
    # delete-only wave
    out = M.apply_delta(spark, tbl, delete_prune=[("k", "=", 1)], txn=("w", 2))
    assert out["rows_affected"] == 1
    assert _content(M.snapshot(spark, tbl)) == [(2, "b"), (3, "c")]
    # empty wave: nothing matches, nothing appends — but the watermark
    # and properties still publish (the empty sync wave)
    out = M.apply_delta(
        spark, tbl, delete_prune=[("k", "=", 999)], txn=("w", 3),
        properties={"sync": {"version": 3}},
    )
    assert out is not None and out["rows_affected"] == 0
    assert _content(M.snapshot(spark, tbl)) == [(2, "b"), (3, "c")]
    assert M.table_properties(spark, tbl) == {"sync": {"version": 3}}
    # without txn/appends, a no-match wave degrades to delete_rows: None
    assert M.apply_delta(spark, tbl, delete_prune=[("k", "=", 999)]) is None
    # schema drift in arrivals is refused
    with pytest.raises(ValueError, match="schema"):
        M.apply_delta(
            spark, tbl,
            append_df=spark.createDataFrame([(4,)], "k bigint"),
            txn=("w", 4),
        )


def test_apply_delta_partitioned_table(spark, tbl):
    M.write_table(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "y"), (3, "c", "y")],
            "k bigint, v string, p string",
        ),
        tbl,
        partition_by=("p",),
    )
    M.apply_delta(
        spark, tbl,
        delete_prune=[("p", "=", "y"), ("k", "=", 2)],
        append_df=spark.createDataFrame(
            [(9, "z", "y")], "k bigint, v string, p string"
        ),
        txn=("w", 1),
    )
    assert sorted((r.k, r.p) for r in M.snapshot(spark, tbl).collect()) == [
        (1, "x"),
        (3, "y"),
        (9, "y"),
    ]
    parts = {
        tuple(sorted(p["values"].items())): p["n_rows"]
        for p in M.table_partitions(spark, tbl)
    }
    assert parts[(("p", "x"),)] == 1 and parts[(("p", "y"),)] == 2


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    from ensembl_database_loader_spark.sinks.ivm import refresh_rollup

    src = str(tmp_path / "src")
    roll = str(tmp_path / "roll")

    def full(df):
        return sorted(
            (r.g, r.cnt, r.sum_cents)
            for r in df.groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("cents").alias("sum_cents"),
            )
            .collect()
        )

    def rollup_now():
        return sorted(
            (r.g, r.cnt, r.sum_cents) for r in M.snapshot(spark, roll).collect()
        )

    # v0: bootstrap
    M.write_table(
        spark.createDataFrame(
            [(i, f"g{i % 3}", i * 100) for i in range(30)],
            "k bigint, g string, cents bigint",
        ),
        src,
    )
    assert refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",)) is not None
    assert rollup_now() == full(M.snapshot(spark, src))
    # replay: already at head -> no-op commit
    assert refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",)) is None

    # v1: merge updates + deletes + inserts, refresh folds only deltas
    batch = spark.createDataFrame(
        # update k%5==0 (+7 cents), delete k%7==0, insert 5 new keys
        [(k, f"g{k % 3}", k * 100 + 7, False) for k in range(0, 30, 5)]
        + [(k, f"g{k % 3}", k * 100, True) for k in range(0, 30, 7) if k % 5 != 0]
        + [(100 + k, "gNEW", 11, False) for k in range(5)],
        "k bigint, g string, cents bigint, dead boolean",
    )
    M.merge_table(src, batch, ("k",), tombstone_col="dead")
    assert refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",)) is not None
    assert rollup_now() == full(M.snapshot(spark, src))

    # v2: delete an entire group -> its rollup row must disappear
    kill = spark.createDataFrame(
        [(100 + k, "gNEW", 11, True) for k in range(5)],
        "k bigint, g string, cents bigint, dead boolean",
    )
    M.merge_table(src, kill, ("k",), tombstone_col="dead")
    assert refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",)) is not None
    got = rollup_now()
    assert got == full(M.snapshot(spark, src))
    assert not any(g == "gNEW" for g, _, _ in got)


# ---------------------------------------------------------------------------
# Row-level DELETE / UPDATE (r8)
# ---------------------------------------------------------------------------


def test_delete_rows_prunes_and_carries_untouched_files(spark, tbl):
    """A key-range delete on a range-clustered table must rewrite only
    the one file whose stats admit a match; the other files are carried
    into the new manifest as the SAME physical paths (referenced, not
    copied), and pinned readers of the old version are unaffected."""
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("k",))
    head0 = M.latest_manifest(spark, tbl)
    out = M.delete_rows(spark, tbl, prune=[("k", ">=", 100), ("k", "<", 120)])
    assert out["rows_affected"] == 20
    assert out["files_rewritten"] == 1
    assert out["files_untouched"] == 3
    carried = set(head0["files"]) & set(out["files"])
    assert len(carried) == 3  # same rel paths survive the commit
    got = sorted(r.k for r in M.snapshot(spark, tbl).collect())
    assert got == [k for k in range(400) if not (100 <= k < 120)]
    # stat columns inferred from the head: rewritten files keep k stats
    assert all("k" in st for st in out["stats"].values())
    # time travel still sees the pre-delete content
    assert M.snapshot(spark, tbl, version=0).count() == 400
    hist = [(r.version, r.operation) for r in M.table_history(spark, tbl).collect()]
    assert hist[-1] == (1, "delete")


def test_delete_rows_null_condition_and_noop(spark, tbl):
    """NULL-condition rows are kept (SQL DELETE semantics); a delete
    that hits nothing commits nothing — no new version, and a prune
    that PROVES no file matches skips even the probe job."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "k bigint, v string"
    )
    M.write_table(df, tbl, stats_cols=("k",))
    out = M.delete_rows(spark, tbl, where="v = 'a'")
    assert out["rows_affected"] == 1
    assert _content(M.snapshot(spark, tbl)) == [(2, None), (3, "b")]
    # zero hits -> None, version count unchanged
    assert M.delete_rows(spark, tbl, where="v = 'zzz'") is None
    # stats prove emptiness -> None before any Spark job
    assert M.delete_rows(spark, tbl, prune=[("k", ">", 1000)]) is None
    assert len(M.list_manifests(spark, tbl)) == 2
    with pytest.raises(ValueError, match="pass where=, prune=, or both"):
        M.delete_rows(spark, tbl)


def test_update_rows_applies_sets_and_preserves_schema(spark, tbl):
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("k",))
    out = M.update_rows(
        spark, tbl, {"v": "concat(v, '!')"}, prune=[("k", "<", 100)]
    )
    assert out["files_rewritten"] == 1 and out["files_untouched"] == 3
    assert out["rows_affected"] == 100
    snap = M.snapshot(spark, tbl)
    # names and types survive exactly (nullability relaxes on the
    # parquet round-trip, as for any committed write)
    assert snap.dtypes == _ranged_df(spark, 0, 1).dtypes
    rows = {r.k: r.v for r in snap.collect()}
    assert rows[5] == "row5!" and rows[200] == "row200"
    # set expression may reference other columns; cast back to the
    # column's declared type keeps the schema exact
    M.update_rows(spark, tbl, {"k": "k + 0.5"}, where="k = 0")
    assert M.snapshot(spark, tbl).schema["k"].dataType.simpleString() == "bigint"
    with pytest.raises(ValueError, match="not in table schema"):
        M.update_rows(spark, tbl, {"zzz": "1"}, where="k = 1")


def test_delete_update_feed_cdc_and_raise_on_race(spark, tbl):
    """table_diff across a delete/update version pair classifies the
    rows; a concurrent commit between head-resolve and publish raises
    instead of silently dropping the racer's rows."""
    M.write_table(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), tbl)
    M.delete_rows(spark, tbl, where="k = 2")
    M.update_rows(spark, tbl, {"v": "upper(v)"}, where="k = 3")
    d1 = {(r.change_type, r.k) for r in M.table_diff(spark, tbl, 0, 1, ("k",)).collect()}
    assert d1 == {("delete", 2)}
    d2 = {(r.change_type, r.k, r.v) for r in M.table_diff(spark, tbl, 1, 2, ("k",)).collect()}
    assert d2 == {("update", 3, "C")}

    import ensembl_database_loader_spark.sinks.manifest as mod

    real_stage = mod._stage_data

    def stage_and_race(df, path, partition_by=()):
        out = real_stage(df, path, partition_by)
        mod._stage_data = real_stage
        M.write_table(_df(spark, [(7, "racer")]), tbl, mode="append")
        return out

    mod._stage_data = stage_and_race
    try:
        with pytest.raises(RuntimeError, match="concurrent commit during delete"):
            M.delete_rows(spark, tbl, where="k = 1")
    finally:
        mod._stage_data = real_stage
    assert (7, "racer") in _content(M.snapshot(spark, tbl))


# ---------------------------------------------------------------------------
# Schema evolution + metadata row counts (r8)
# ---------------------------------------------------------------------------


def test_append_schema_strict_rejects_merge_evolves(spark, tbl):
    """strict appends reject drift; schema_mode='merge' unions —
    new columns appended as nullable (old files read null), missing
    columns stay (new files read null), type changes always raise."""
    M.write_table(_df(spark, [(1, "a")]), tbl)
    wider = spark.createDataFrame(
        [(2, "b", 9.5)], "k bigint, v string, score double"
    )
    with pytest.raises(ValueError, match="schema_mode='merge'"):
        M.write_table(wider, tbl, mode="append")
    M.write_table(wider, tbl, mode="append", schema_mode="merge")
    snap = M.snapshot(spark, tbl)
    assert snap.columns == ["k", "v", "score"]
    rows = {r.k: (r.v, r.score) for r in snap.collect()}
    assert rows[1] == ("a", None) and rows[2] == ("b", 9.5)

    # a batch MISSING a column is fine under merge (reads back null)
    narrower = spark.createDataFrame([(3,)], "k bigint")
    M.write_table(narrower, tbl, mode="append", schema_mode="merge")
    got = {r.k: r.v for r in M.snapshot(spark, tbl).collect()}
    assert got[3] is None
    # type change is never evolvable
    retyped = spark.createDataFrame([("x", "y")], "k string, v string")
    with pytest.raises(ValueError, match="changes column types"):
        M.write_table(retyped, tbl, mode="append", schema_mode="merge")
    with pytest.raises(ValueError, match="changes column types"):
        M.write_table(retyped, tbl, mode="append")
    # identical schema still appends under strict, naturally
    M.write_table(
        spark.createDataFrame([(4, "d", 1.0)], "k bigint, v string, score double"),
        tbl,
        mode="append",
    )
    assert M.snapshot(spark, tbl).count() == 4


def test_table_row_count_is_metadata_only(spark, tbl):
    M.write_table(_ranged_df(spark, 0, 400), tbl, stats_cols=("k",))
    M.write_table(_ranged_df(spark, 400, 450), tbl, mode="append")
    head = M.latest_manifest(spark, tbl)
    # every file carries a row count in the manifest itself
    assert set(head["rows"]) == set(head["files"])
    assert sum(head["rows"].values()) == 450
    assert M.table_row_count(spark, tbl) == 450
    # survives delete/update/merge/compact commits
    M.delete_rows(spark, tbl, prune=[("k", "<", 100)])
    assert M.table_row_count(spark, tbl) == 350
    M.compact_table(spark, tbl, target_bytes=1 << 30)
    assert M.table_row_count(spark, tbl) == 350
    # time travel counts the pinned version
    assert M.table_row_count(spark, tbl, version=0) == 400
    # a manifest missing the field falls back to a real count
    import json as _json
    import os as _os

    mp = _os.path.join(tbl, f"_manifest-{len(M.list_manifests(spark, tbl)) - 1:012d}.json")
    m = _json.load(open(mp))
    m.pop("rows")
    with open(mp, "w") as fh:
        _json.dump(m, fh)
    # drop the local-FS checksum sidecar our out-of-band edit broke
    crc = _os.path.join(tbl, "." + _os.path.basename(mp) + ".crc")
    if _os.path.exists(crc):
        _os.remove(crc)
    assert M.table_row_count(spark, tbl) == 350


def test_orphan_files_detection_and_removal(spark, tbl):
    """Files staged by a crashed writer (written under data/ but never
    named by any manifest) are found by orphan_files and reclaimed by
    remove_orphans — but only past the grace period, and never a
    manifest-referenced file."""
    M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    M.write_table(_df(spark, [(3, "c")]), tbl, mode="append")
    assert M.orphan_files(spark, tbl) == []

    # simulate a crash between staging and commit: stage files directly
    crash_dir = os.path.join(tbl, "data", "deadbeefcrash")
    _df(spark, [(99, "zz")]).write.parquet(crash_dir)
    orphans = M.orphan_files(spark, tbl)
    assert orphans and all(o.startswith("data/deadbeefcrash/") for o in orphans)

    # inside the grace period nothing is deleted
    res = M.remove_orphans(spark, tbl, grace_ms=10 * 60 * 1000)
    assert res["deleted"] == 0 and res["skipped_recent"] == len(orphans)
    assert M.orphan_files(spark, tbl) == orphans

    # past the grace period the debris goes; live data is untouched
    res = M.remove_orphans(spark, tbl, grace_ms=0)
    assert res["deleted"] == len(orphans) and res["skipped_recent"] == 0
    assert M.orphan_files(spark, tbl) == []
    assert _content(M.snapshot(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]
    # every retained version still resolves (vacuum semantics intact)
    assert _content(M.snapshot(spark, tbl, version=0)) == [(1, "a"), (2, "b")]


def test_orphan_files_requires_committed_table(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        M.orphan_files(spark, str(tmp_path / "nope"))


def test_bloom_skips_point_lookups_minmax_cannot(spark, tbl):
    # round-robin layout: every file's [min, max] spans the whole key
    # domain, so stats pruning keeps everything — the bloom is the only
    # thing that can cut the file list for an equality probe
    df = spark.range(0, 4000).select(
        F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id")).alias("v")
    ).repartition(8)
    m = M.write_table(df, tbl, stats_cols=("k",), bloom_cols=("k", "v"),
                      bloom_bits=65536)
    assert m["bloom_meta"] == {
        "k": {"bits": 65536, "hashes": 4},
        "v": {"bits": 65536, "hashes": 4},
    }
    assert set(m["blooms"]) == set(m["files"])
    # stats alone keep all 8 files; bloom narrows to the true holder(s)
    assert len(M.files_matching(m, [("k", "=", 1234)])) == 8
    hit = M.scan_table(spark, tbl, predicates=[("k", "=", 1234)])
    assert [(r.k, r.v) for r in hit.collect()] == [(1234, "u1234")]
    assert len(hit.inputFiles()) < 8  # definite misses dropped
    # string-typed probe goes through the same path
    sv = M.scan_table(spark, tbl, predicates=[("v", "=", "u77")])
    assert sv.count() == 1 and len(sv.inputFiles()) < 8
    # absent key: typically zero files; rows definitely zero
    miss = M.scan_table(spark, tbl, predicates=[("k", "=", 999_999)])
    assert miss.count() == 0


def test_bloom_positions_frame_path_matches_wide_row(spark):
    """The frame-shaped bloom-probe hash job (one row per value, one
    expression set) must be BIT-IDENTICAL to the literal wide-row
    projection it replaced — same try_cast typing, same
    xxhash64(value, seed) inputs — across every probe value type the
    fast path accepts, and must defer to the wide path (same results)
    for types it cannot carry."""
    import datetime

    def wide(dtype, values, bits, hashes):
        # the original 1-row, 5N-column projection, verbatim
        out = []
        for lo in range(0, len(values), 500):
            chunk = values[lo : lo + 500]
            cols = []
            for vi, v in enumerate(chunk):
                lit = F.lit(v).try_cast(dtype)
                cols.append(lit.isNull().alias(f"__n{vi}"))
                cols.extend(
                    F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(bits))
                    .cast("int")
                    .alias(f"__p{vi}_{i}")
                    for i in range(hashes)
                )
            row = spark.range(0, 1, 1, 1).select(*cols).first()
            for vi in range(len(chunk)):
                if row[f"__n{vi}"]:
                    return None
                out.append([row[f"__p{vi}_{i}"] for i in range(hashes)])
        return out

    cases = [
        ("string", ["alpha", "", "répé", "x" * 100], 131072, 4),
        ("bigint", [0, 1, -5, 2**62], 1048576, 4),
        ("int", [0, 7, -3, 2**40], 131072, 4),  # overflow -> None
        ("short", [1, 70000], 131072, 4),  # overflow -> None
        ("date", [datetime.date(2020, 1, 1), datetime.date(1999, 12, 31)],
         131072, 4),
        ("bigint", ["not-a-number"], 131072, 4),  # try_cast null -> None
        ("string", [5, 6], 131072, 4),  # cross-type cast, both paths agree
        ("bigint", [True, False], 131072, 2),
        ("double", [1.5, -2.25], 131072, 3),
        # fallback shapes: mixed types and None
        ("bigint", [1, "2"], 131072, 2),
        ("bigint", [None, 3], 131072, 2),
        ("bigint", [], 131072, 2),
    ]
    for dtype, vals, bits, hashes in cases:
        got = M._bloom_positions_many(spark, dtype, vals, bits, hashes)
        want = wide(dtype, vals, bits, hashes)
        assert got == want, (dtype, vals)


def test_bloom_positions_python_path_matches_engine(spark):
    """The pure-Python XXH64 fast path (functions/xxh64) must be
    BIT-IDENTICAL to the engine's ``pmod(xxhash64(cast(v), seed_i),
    bits)`` for every (python type, dtype) pair it accepts — and must
    need NO SparkSession at all (the structural point: a bloom probe
    wave costs zero driver round trips). Randomized matrix per type,
    plus the canonicalization edges (NaN, -0.0, int extremes,
    multi-byte / >32-byte strings that exercise every XXH64 tail)."""
    import datetime
    import random

    rng = random.Random(20260818)
    cases = {
        "bigint": [0, 1, -1, 2**63 - 1, -(2**63), 2**31, -(2**31) - 1]
        + [rng.randrange(-(2**63), 2**63) for _ in range(60)],
        "int": [0, 1, -1, 2**31 - 1, -(2**31)]
        + [rng.randrange(-(2**31), 2**31) for _ in range(60)],
        "string": ["", "a", "ab", "abc", "abcd", "abcdefgh", "x" * 31,
                   "y" * 32, "z" * 33, "w" * 100, "héllo wörld",
                   "日本語テキスト", "emoji 🎉🚀", "\x00nul\x00"]
        + ["".join(rng.choice("abcdef gh") for _ in range(rng.randrange(80)))
           for _ in range(40)],
        "double": [0.0, -0.0, 1.5, -2.75, float("inf"), float("-inf"),
                   float("nan"), 1e308, -1e-308]
        + [rng.uniform(-1e9, 1e9) for _ in range(30)],
        "date": [datetime.date(1970, 1, 1), datetime.date(1969, 12, 31),
                 datetime.date(2026, 8, 18), datetime.date(1900, 1, 1)],
        "boolean": [True, False],
    }
    import ensembl_database_loader_spark.functions.xxh64 as X

    bits, hashes = 1 << 20, 4
    orig = X.hash_typed
    for dtype, vals in cases.items():
        # spark=None: supported types must return BEFORE touching the
        # engine — if the fast path ever stops covering one of these,
        # this raises instead of silently re-growing a job per wave
        got = M._bloom_positions_many(None, dtype, vals, bits, hashes)
        # reference: the same function forced down its ENGINE frame
        # path (the N-row literal-frame xxhash64 projection)
        X.hash_typed = lambda *a, **k: NotImplemented
        try:
            want = M._bloom_positions_many(spark, dtype, vals, bits, hashes)
        finally:
            X.hash_typed = orig
        assert got == want, dtype


def test_bloom_inherited_by_append_merge_compact_delete(spark, tbl):
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id")).alias("v")
    ).repartition(4)
    M.write_table(df, tbl, bloom_cols=("k",), bloom_bits=32768)
    # append WITHOUT bloom args: spec comes from the head's bloom_meta
    m2 = M.write_table(
        spark.range(1000, 2000).select(
            F.col("id").alias("k"), F.concat(F.lit("u"), F.col("id")).alias("v")
        ).repartition(4),
        tbl, mode="append",
    )
    assert m2["bloom_meta"]["k"] == {"bits": 32768, "hashes": 4}
    assert set(m2["blooms"]) == set(m2["files"])  # old AND new files
    probe = M.scan_table(spark, tbl, predicates=[("k", "=", 1500)])
    assert probe.count() == 1 and len(probe.inputFiles()) < len(m2["files"])
    # merge keeps the capability on the rewritten snapshot
    m3 = M.merge_table(
        tbl, spark.createDataFrame([(1500, "UPD")], "k bigint, v string"), ("k",)
    )
    assert set(m3["blooms"]) == set(m3["files"])
    assert M.scan_table(spark, tbl, predicates=[("k", "=", 1500)]).first().v == "UPD"
    # compact rewrites every file; bitmaps must be recomputed, not lost
    m4 = M.compact_table(spark, tbl, target_bytes=16 << 10)
    assert set(m4["blooms"]) == set(m4["files"])
    # row-level delete: rewritten files get fresh bitmaps, carried files
    # keep theirs, and the deleted key stops matching its own bloom read
    M.delete_rows(spark, tbl, where="k = 1500")
    m5 = M.latest_manifest(spark, tbl)
    assert set(m5["blooms"]) == set(m5["files"])
    assert M.scan_table(spark, tbl, predicates=[("k", "=", 1500)]).count() == 0
    assert M.scan_table(spark, tbl, predicates=[("k", "=", 999)]).count() == 1


def test_bloom_conservative_and_guards(spark, tbl):
    df = _df(spark, [(1, "a"), (2, "b")])
    # unsupported type / unknown column raise at write time
    with pytest.raises(ValueError, match="bloom_cols"):
        M.write_table(
            df.withColumn("f", F.col("k") / 2), tbl, bloom_cols=("f",)
        )
    with pytest.raises(ValueError, match="bloom_cols"):
        M.write_table(df, tbl, bloom_cols=("nope",))
    with pytest.raises(ValueError, match="bloom_bits"):
        M.write_table(df, tbl, bloom_cols=("k",), bloom_bits=100)
    M.write_table(df, tbl, bloom_cols=("k",))
    # a column with a bloom but a non-equality predicate is untouched
    assert M.scan_table(spark, tbl, predicates=[("k", ">", 1)]).count() == 1
    # sizing is fixed at introduction: re-passing with different bits keeps v0's
    m2 = M.write_table(_df(spark, [(3, "c")]), tbl, mode="append",
                       bloom_cols=("k",), bloom_bits=1024)
    assert m2["bloom_meta"]["k"]["bits"] == M._BLOOM_DEFAULT_BITS


def test_bloom_all_null_column_prunes_everything(spark, tbl):
    df = spark.createDataFrame([(None, "a"), (None, "b")], "k bigint, v string")
    M.write_table(df, tbl, bloom_cols=("k",))
    got = M.scan_table(spark, tbl, predicates=[("k", "=", 1)])
    assert got.count() == 0 and not got.inputFiles()


def test_bloom_pre_bloom_files_are_kept_conservatively(spark, tbl):
    # v0 written before the table had bloom columns: its files carry no
    # bitmaps, so an equality probe must keep them (conservative), while
    # post-introduction files still prune
    M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    M.write_table(
        spark.range(100, 1100).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        ).repartition(4),
        tbl, mode="append", bloom_cols=("k",), bloom_bits=32768,
    )
    m = M.latest_manifest(spark, tbl)
    without = set(m["files"]) - set(m.get("blooms", {}))
    assert without  # the v0 file(s) really lack bitmaps
    got = M.scan_table(spark, tbl, predicates=[("k", "=", 1)])
    assert [(r.k, r.v) for r in got.collect()] == [(1, "a")]
    read = set(got.inputFiles())
    # every bloom-less file was read; at least one bloomed file was skipped
    assert all(any(rel in f for f in read) for rel in without)
    assert len(read) < len(m["files"])


def test_bloom_contains_short_bitmap_keeps_file():
    import base64

    b64 = base64.b64encode(bytes(1)).decode("ascii")  # 8-bit all-zero bitmap
    # a probe position beyond the bitmap implies sizing disagreement —
    # degrade to "keep the file", never IndexError
    assert M._bloom_contains(b64, [100]) is True
    # in-range unset bits still prune (the bitmap's real information)
    assert M._bloom_contains(b64, [3]) is False
    assert M._bloom_contains(b64, [100, 3]) is False


def test_bloom_sizing_race_drops_incompatible_staged_bitmaps(
    spark, tbl, monkeypatch
):
    # Writer A reads a head without bloom sizing for k, stages bitmaps
    # at its own 8192 bits, then loses the commit race to a writer that
    # introduced k at 16384 bits. A's build retry must adopt the winning
    # sizing AND drop its probe-incompatible staged bitmaps (missing
    # bitmap = conservative keep) instead of publishing garbage.
    M.write_table(_df(spark, [(1, "a")]), tbl)  # v0: no blooms
    m1 = M.write_table(
        _df(spark, [(2, "b")]), tbl, mode="append",
        bloom_cols=("k",), bloom_bits=16384,
    )  # v1: the competing writer that wins
    stale = M.read_manifest(spark, tbl, 0)
    monkeypatch.setattr(M, "latest_manifest", lambda *_a, **_k: stale)
    m2 = M.write_table(
        _df(spark, [(3, "c")]), tbl, mode="append",
        bloom_cols=("k",), bloom_bits=8192,
    )
    monkeypatch.undo()
    # the winning sizing is recorded
    assert m2["bloom_meta"]["k"]["bits"] == 16384
    staged = set(m2["files"]) - set(m1["files"])
    assert staged
    # no staged file carries a bitmap computed with the losing sizing
    for rel in staged:
        assert "k" not in m2.get("blooms", {}).get(rel, {})
    # v1's own bitmap survived untouched
    assert any("k" in m2["blooms"].get(rel, {}) for rel in m1["files"]
               if rel not in staged)
    # scans stay correct: the key in the bitmap-less staged file is found
    got = M.scan_table(spark, tbl, predicates=[("k", "=", 3)])
    assert [(r.k, r.v) for r in got.collect()] == [(3, "c")]


# --- hive-partitioned tables (r9) ------------------------------------------


def _pdf(spark, rows):
    return spark.createDataFrame(rows, "k bigint, p string, v string")


def test_partitioned_roundtrip_and_parts_metadata(spark, tbl):
    df = _pdf(spark, [(1, "a", "x"), (2, "b", "y"), (3, "a", "z")])
    m = M.write_table(df, tbl, partition_by=("p",), stats_cols=("k",))
    assert m["partition_by"] == ["p"]
    # every file carries its hive path value in the manifest
    assert set(m["parts"]) == set(m["files"])
    assert {tuple(v.items()) for v in m["parts"].values()} == {
        (("p", "a"),), (("p", "b"),)
    }
    got = M.snapshot(spark, tbl)
    # declared column ORDER survives the basePath partition-col reorder
    assert got.columns == ["k", "p", "v"]
    assert sorted((r.k, r.p, r.v) for r in got.collect()) == [
        (1, "a", "x"), (2, "b", "y"), (3, "a", "z")
    ]


def test_partition_pruning_exact_and_typed(spark, tbl):
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(40)], "k bigint, p int, v string"
    )
    M.write_table(df, tbl, partition_by=("p",))
    m = M.latest_manifest(spark, tbl)
    got = M.scan_table(spark, tbl, predicates=[("p", "=", 2)])
    assert sorted(r.k for r in got.collect()) == [i for i in range(40) if i % 4 == 2]
    read = set(got.inputFiles())
    match = {rel for rel in m["files"] if m["parts"][rel]["p"] == "2"}
    assert all(any(rel in f for f in read) for rel in match)
    assert len(read) == len(match)  # exact prune: ONLY p=2 files read
    # typed range predicate on the int partition column
    got2 = M.scan_table(spark, tbl, predicates=[("p", ">=", 3)])
    assert sorted(r.k for r in got2.collect()) == [i for i in range(40) if i % 4 == 3]
    assert len(set(got2.inputFiles())) == len(
        {rel for rel in m["files"] if m["parts"][rel]["p"] == "3"}
    )


def test_partition_null_and_special_chars(spark, tbl):
    df = _pdf(spark, [(1, None, "x"), (2, "a b/c", "y")])
    M.write_table(df, tbl, partition_by=("p",))
    m = M.latest_manifest(spark, tbl)
    vals = {v["p"] for v in m["parts"].values()}
    assert vals == {None, "a b/c"}  # hive-escaped path round-trips
    got = sorted((r.k, r.p) for r in M.snapshot(spark, tbl).collect())
    assert got == [(1, None), (2, "a b/c")]
    # equality predicate never matches the null-partition file
    eq = M.scan_table(spark, tbl, predicates=[("p", "=", "a b/c")])
    assert [r.k for r in eq.collect()] == [2]
    assert len(set(eq.inputFiles())) == 1


def test_overwrite_partitions_replaces_only_present(spark, tbl):
    M.write_table(
        _pdf(spark, [(1, "a", "x"), (2, "b", "y"), (3, "c", "z")]),
        tbl, partition_by=("p",),
    )
    m1 = M.latest_manifest(spark, tbl)
    b_c_files = {
        rel for rel in m1["files"] if m1["parts"][rel]["p"] in ("b", "c")
    }
    m2 = M.write_table(
        _pdf(spark, [(10, "a", "new"), (11, "a", "new2")]),
        tbl, mode="overwrite_partitions",
    )
    # partition a fully replaced; b and c carried BY REFERENCE
    assert b_c_files < set(m2["files"])
    assert sorted(
        (r.k, r.p, r.v) for r in M.snapshot(spark, tbl).collect()
    ) == [(2, "b", "y"), (3, "c", "z"), (10, "a", "new"), (11, "a", "new2")]
    # metadata row count stays exact with zero files opened
    assert M.table_row_count(spark, tbl) == 4
    # time travel still sees the pre-replace snapshot
    assert sorted(r.k for r in M.snapshot(spark, tbl, version=m1["version"]).collect()) == [1, 2, 3]


def test_table_partitions_and_drop_partition(spark, tbl):
    M.write_table(
        _pdf(spark, [(1, "a", "x"), (2, "a", "y"), (3, "b", "z"), (4, None, "w")]),
        tbl, partition_by=("p",),
    )
    parts = M.table_partitions(spark, tbl)
    # sorted by the stringified values ("'a'" < "'b'" < "None")
    assert [e["values"]["p"] for e in parts] == ["a", "b", None]
    assert all(e["n_files"] >= 1 for e in parts)
    as_map = {tuple(e["values"].items()): (e["n_files"], e["n_rows"]) for e in parts}
    assert as_map[(("p", "a"),)][1] == 2
    assert as_map[(("p", "b"),)][1] == 1
    assert as_map[(("p", None),)][1] == 1
    d = M.drop_partition(spark, tbl, {"p": "a"})
    assert d["files_dropped"] >= 1
    assert sorted(r.k for r in M.snapshot(spark, tbl).collect()) == [3, 4]
    # null partition drops too; no-match returns None (no empty commit)
    assert M.drop_partition(spark, tbl, {"p": None})["files_dropped"] >= 1
    assert M.drop_partition(spark, tbl, {"p": "zzz"}) is None
    assert sorted(r.k for r in M.snapshot(spark, tbl).collect()) == [3]
    with pytest.raises(ValueError, match="partition columns"):
        M.drop_partition(spark, tbl, {"k": 1})


def test_partitioned_guards(spark, tbl):
    df = _pdf(spark, [(1, "a", "x")])
    with pytest.raises(ValueError, match="cannot carry stats"):
        M.write_table(df, tbl, partition_by=("p",), stats_cols=("p",))
    with pytest.raises(ValueError, match="not in"):
        M.write_table(df, tbl, partition_by=("nope",))
    M.write_table(df, tbl, partition_by=("p",))
    # appends inherit the layout; conflicting layout raises
    m = M.write_table(_pdf(spark, [(2, "b", "y")]), tbl, mode="append")
    assert m["partition_by"] == ["p"] and len(m["parts"]) == len(m["files"])
    with pytest.raises(ValueError, match="partitioned by"):
        M.write_table(df, tbl, mode="append", partition_by=("v",))
    with pytest.raises(ValueError, match="overwrite_partitions requires"):
        M.write_table(df, str(tbl) + "_np", mode="overwrite_partitions")
    # whole-table restage ops refuse (they would drop the layout);
    # row-level delete/update restage partitioned and are allowed
    with pytest.raises(ValueError, match="partitioned tables"):
        M.merge_table(tbl, df, key_cols=("k",))
    with pytest.raises(ValueError, match="partitioned tables"):
        M.compact_table(spark, tbl)


def test_partitioned_row_level_delete_update(spark, tmp_path):
    tbl = str(tmp_path / "ptbl")
    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], f"v{i}") for i in range(30)],
        "k bigint, p string, v string",
    )
    M.write_table(df, tbl, partition_by=("p",), stats_cols=("k",))
    m0 = M.latest_manifest(spark, tbl)
    # partition-pruned delete: only p='a' files rewrite, others carried
    d = M.delete_rows(
        spark, tbl, where="k < 9", prune=[("p", "=", "a")]
    )
    assert d["files_untouched"] >= 1
    left = sorted(r.k for r in M.snapshot(spark, tbl).collect())
    assert left == sorted(
        i for i in range(30) if not (i % 3 == 0 and i < 9)
    )
    m1 = M.latest_manifest(spark, tbl)
    # untouched partitions carried BY REFERENCE, layout + parts intact
    b_files = {r for r in m0["files"] if m0["parts"][r]["p"] == "b"}
    assert b_files < set(m1["files"])
    assert m1["partition_by"] == ["p"] and set(m1["parts"]) == set(m1["files"])
    assert M.table_row_count(spark, tbl) == len(left)
    # update MOVING rows across partitions: p='b' rows become p='z'
    u = M.update_rows(spark, tbl, {"p": "'z'"}, prune=[("p", "=", "b")])
    assert u["rows_affected"] == 10
    m2 = M.latest_manifest(spark, tbl)
    vals = {v["p"] for v in m2["parts"].values()}
    assert "z" in vals and "b" not in vals
    assert sorted(r.k for r in M.scan_table(
        spark, tbl, predicates=[("p", "=", "z")]
    ).collect()) == [i for i in range(30) if i % 3 == 1]


def test_compact_partition_folds_only_that_partition(spark, tbl):
    M.write_table(_pdf(spark, [(1, "a", "x")]), tbl, partition_by=("p",))
    M.write_table(_pdf(spark, [(2, "a", "y"), (5, "b", "q")]), tbl, mode="append")
    M.write_table(_pdf(spark, [(3, "a", "z")]), tbl, mode="append")
    m0 = M.latest_manifest(spark, tbl)
    a_files = {r for r in m0["files"] if m0["parts"][r]["p"] == "a"}
    b_files = {r for r in m0["files"] if m0["parts"][r]["p"] == "b"}
    assert len(a_files) == 3

    def partitions():
        return {
            e["values"]["p"]: (e["n_files"], e["n_rows"])
            for e in M.table_partitions(spark, tbl)
        }

    # the metadata listing names the partition that needs compacting
    assert partitions() == {"a": (3, 3), "b": (1, 1)}
    out = M.compact_partition(spark, tbl, {"p": "a"}, sort_cols=("k",))
    assert out["files_before"] == 3 and out["files_after"] == 1
    assert out["operation"] == "compact_partition"
    assert partitions() == {"a": (1, 3), "b": (1, 1)}
    m1 = M.latest_manifest(spark, tbl)
    # b carried BY REFERENCE; a replaced by one file with parts recorded
    assert b_files < set(m1["files"])
    new_a = {r for r in m1["files"] if m1["parts"][r]["p"] == "a"}
    assert len(new_a) == 1 and not (new_a & a_files)
    assert sorted((r.k, r.p, r.v) for r in M.snapshot(spark, tbl).collect()) == [
        (1, "a", "x"), (2, "a", "y"), (3, "a", "z"), (5, "b", "q")
    ]
    assert M.table_row_count(spark, tbl) == 4  # rows map stayed exact
    # single-file partition: nothing to fold
    assert M.compact_partition(spark, tbl, {"p": "b"}) is None
    with pytest.raises(ValueError, match="exactly the partition"):
        M.compact_partition(spark, tbl, {"q": "a"})
    with pytest.raises(ValueError, match="cannot carry stats"):
        M.compact_partition(spark, tbl, {"p": "a"}, stats_cols=("p",))


def test_multi_column_partitions_prefix_drop_and_combined_prune(spark, tmp_path):
    tbl = str(tmp_path / "mp")
    df = spark.createDataFrame(
        [(i, f"d{i % 2}", ["x", "y"][i % 2 == 0], i * 10) for i in range(24)],
        "k bigint, day string, src string, v bigint",
    )
    M.write_table(df, tbl, partition_by=("day", "src"), stats_cols=("k",))
    m = M.latest_manifest(spark, tbl)
    assert m["partition_by"] == ["day", "src"]
    assert all(set(p) == {"day", "src"} for p in m["parts"].values())
    # partition prune on BOTH columns combined with a stats prune on k
    got = M.scan_table(
        spark, tbl,
        predicates=[("day", "=", "d1"), ("src", "=", "x"), ("k", ">=", 13)],
    )
    want = [i for i in range(24) if i % 2 == 1 and i >= 13]
    assert sorted(r.k for r in got.collect()) == want
    read = set(got.inputFiles())
    d1x = {r for r in m["files"]
           if m["parts"][r] == {"day": "d1", "src": "x"}}
    assert read and len(read) <= len(d1x)
    # prefix drop: one call removes a whole day across sub-partitions
    out = M.drop_partition(spark, tbl, {"day": "d0"})
    assert out["files_dropped"] >= 1
    assert sorted(r.k for r in M.snapshot(spark, tbl).collect()) == [
        i for i in range(24) if i % 2 == 1
    ]
    parts = M.table_partitions(spark, tbl)
    assert all(e["values"]["day"] == "d1" for e in parts)


def test_read_changes_append_only_parity(spark, tbl):
    """For an append-only history, base + changes == final snapshot
    row-for-row, changed_files lists exactly the appended files with
    nothing removed, and the delta read touches only new rows."""
    m0 = M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    m1 = M.write_table(_df(spark, [(3, "c")]), tbl, mode="append")
    m2 = M.write_table(_df(spark, [(4, "d"), (5, "e")]), tbl, mode="append")
    diff = M.changed_files(spark, tbl, m0["version"], m2["version"])
    assert diff["removed"] == []
    assert set(diff["added"]) == (
        set(m2["files"]) - set(m0["files"])
    ) and len(diff["added"]) > 0
    changes = M.read_changes(spark, tbl, m0["version"], m2["version"])
    assert _content(changes) == [(3, "c"), (4, "d"), (5, "e")]
    base_plus = M.snapshot(spark, tbl, m0["version"]).unionAll(changes)
    assert _content(base_plus) == _content(M.snapshot(spark, tbl))


def test_read_changes_rewriting_commit_and_schema_evolution(spark, tbl):
    """A rewriting commit (delete_rows) surfaces its rewritten file in
    'added' and the old file in 'removed'; an evolved append's new
    column null-fills older files' rows in the delta read."""
    m0 = M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    d = M.delete_rows(spark, tbl, where="k = 1")
    v1 = d["version"]
    diff = M.changed_files(spark, tbl, m0["version"], v1)
    assert len(diff["added"]) >= 1 and len(diff["removed"]) >= 1
    assert _content(M.read_changes(spark, tbl, m0["version"], v1)) == [
        (2, "b")
    ]
    # evolved append: new column w
    m2 = M.write_table(
        spark.createDataFrame([(9, "z", 1.5)], "k bigint, v string, w double"),
        tbl, mode="append", schema_mode="merge",
    )
    ch = M.read_changes(spark, tbl, v1, m2["version"])
    assert ch.columns == ["k", "v", "w"]
    assert [(r.k, r.v, r.w) for r in ch.collect()] == [(9, "z", 1.5)]


def test_read_changes_partitioned(spark, tbl):
    df = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p2")], "k bigint, v string, p string"
    )
    m0 = M.write_table(df, tbl, partition_by=("p",))
    m1 = M.write_table(
        spark.createDataFrame([(3, "z", "p1")], "k bigint, v string, p string"),
        tbl, mode="append",
    )
    ch = M.read_changes(spark, tbl, m0["version"], m1["version"])
    assert ch.columns == ["k", "v", "p"]
    assert [(r.k, r.v, r.p) for r in ch.collect()] == [(3, "z", "p1")]


def test_refresh_rollup_append_only_fast_path(spark, tbl, monkeypatch):
    """An append-only refresh folds read_changes (one scan of the new
    files, no key join) — table_diff must NOT be called; a rewriting
    history falls back to the keyed change feed. Both land on the
    from-scratch aggregate exactly."""
    from ensembl_database_loader_spark.sinks import ivm

    src = tbl + "_src"
    roll = tbl + "_roll"
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k bigint, g string, cents bigint"
    )
    M.write_table(df, src)
    ivm.refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",))

    def _boom(*a, **kw):
        raise AssertionError("table_diff called on an append-only refresh")

    monkeypatch.setattr(ivm, "table_diff", _boom)
    M.write_table(
        spark.createDataFrame(
            [(3, "a", 5), (1, "a", 100)], "k bigint, g string, cents bigint"
        ),
        src, mode="append",
    )
    out = ivm.refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",))
    assert out is not None
    got = {
        r.g: (r.cnt, r.sum_cents)
        for r in M.snapshot(spark, roll).collect()
    }
    # row-fact semantics: the duplicate-key append row counts as a row
    assert got == {"a": (3, 115), "b": (1, 20)}
    monkeypatch.undo()

    # a rewriting commit (delete) must fall back to table_diff
    called = {}
    real_diff = ivm.table_diff

    def _spy(*a, **kw):
        called["yes"] = True
        return real_diff(*a, **kw)

    monkeypatch.setattr(ivm, "table_diff", _spy)
    M.delete_rows(spark, src, where="k = 2")
    ivm.refresh_rollup(spark, src, roll, ("k",), ("g",), ("cents",))
    assert called.get("yes")
    got = {
        r.g: (r.cnt, r.sum_cents)
        for r in M.snapshot(spark, roll).collect()
    }
    assert got == {"a": (3, 115)}


def test_restore_table_rolls_back_metadata_only(spark, tbl):
    """Restore re-references the old snapshot's files as a new commit:
    content equals the old version, history grows (no rewrite), txn
    watermarks survive (exactly-once windows stay closed), and a
    restore past vacuum raises cleanly."""
    M.write_table(_df(spark, [(1, "a"), (2, "b")]), tbl)
    M.write_table(
        _df(spark, [(3, "c")]), tbl, mode="append", txn=("app", 7)
    )
    M.write_table(_df(spark, [(9, "z")]), tbl)  # bad overwrite (v2)
    out = M.restore_table(spark, tbl, 1)
    assert out["restored_from"] == 1 and out["operation"] == "restore"
    assert _content(M.snapshot(spark, tbl)) == [(1, "a"), (2, "b"), (3, "c")]
    # history preserved: v0..v3 all present
    assert M.list_manifests(spark, tbl) == [0, 1, 2, 3]
    # the head's txn watermark carried through the restore
    assert M.latest_manifest(spark, tbl)["txn"] == {"app": 7}
    # replayed batch still rejected after restore
    assert (
        M.write_table(_df(spark, [(4, "d")]), tbl, mode="append",
                      txn=("app", 7))
        is None
    )
    # a restore target whose data files are gone must raise clearly
    # (simulate a vacuumed file: delete one of v2's data files)
    import os

    import pytest as _pytest

    v2_files = M.read_manifest(spark, tbl, 2)["files"]
    only_v2 = [f for f in v2_files if f not in set(out["files"])]
    os.remove(os.path.join(tbl, only_v2[0]))
    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        M.restore_table(spark, tbl, 2)


def test_restore_carries_empty_target_metadata_verbatim(spark, tbl):
    """Restoring to an EMPTY version must reproduce its metadata exactly
    — falsy-but-present keys (a 0-row version's rows/stats maps) are
    restored verbatim, not dropped (`k in target`, not `target.get(k)`)."""
    empty = _df(spark, []).limit(0)
    M.write_table(empty, tbl)  # v0: zero rows, zero files
    M.write_table(_df(spark, [(1, "a")]), tbl)  # v1
    target = M.read_manifest(spark, tbl, 0)
    out = M.restore_table(spark, tbl, 0)
    assert out["restored_from"] == 0
    head = M.latest_manifest(spark, tbl)
    for k in ("stats", "rows", "bloom_meta", "blooms", "partition_by", "parts"):
        assert (k in head) == (k in target), k
        if k in target:
            assert head[k] == target[k], k
    assert M.snapshot(spark, tbl).count() == 0


def test_table_properties_version_with_the_data(spark, tbl):
    """Properties set at creation survive append/delete/compact, replace
    on explicit overwrite, and roll BACK with restore — metadata always
    versions with the data it describes."""
    M.write_table(
        _df(spark, [(1, "a"), (2, "b")]), tbl,
        properties={"ann": {"n_cells": 4}},
    )
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 4}}
    M.write_table(_df(spark, [(3, "c")]), tbl, mode="append")  # inherits
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 4}}
    M.delete_rows(spark, tbl, where="k = 3")  # rewrite carries
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 4}}
    M.compact_table(spark, tbl)  # compaction carries
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 4}}
    # overwrite with an explicit map REPLACES; with None it carries
    M.write_table(
        _df(spark, [(9, "z")]), tbl, properties={"ann": {"n_cells": 8}}
    )
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 8}}
    M.write_table(_df(spark, [(10, "y")]), tbl)
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 8}}
    # restore to v0 brings back v0's properties verbatim
    M.restore_table(spark, tbl, 0)
    assert M.table_properties(spark, tbl) == {"ann": {"n_cells": 4}}
    # time-travel read of the property map
    assert M.table_properties(spark, tbl, version=4)["ann"]["n_cells"] == 8


def test_in_predicate_prunes_and_filters(spark, tbl):
    """The 'in' predicate: exact partition pruning on partitioned
    tables, stats pruning on clustered ones, row-filter correctness,
    and delete_rows prune support."""
    df = spark.createDataFrame(
        [(i, i % 4, f"v{i}") for i in range(40)],
        "k bigint, cell int, v string",
    )
    M.write_table(df, tbl, partition_by=("cell",))
    got = M.scan_table(spark, tbl, predicates=[("cell", "in", [1, 3])])
    assert sorted({r.cell for r in got.collect()}) == [1, 3]
    assert got.count() == 20
    # pruning is exact: only the two probed partitions' files are read
    files = got.inputFiles()
    assert files and all(("cell=1" in f or "cell=3" in f) for f in files)
    # values outside every partition prune everything
    assert M.scan_table(spark, tbl, predicates=[("cell", "in", [99])]).count() == 0
    # empty/malformed in-lists raise
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        M.scan_table(spark, tbl, predicates=[("cell", "in", [])])
    # delete scoped by an in-prune rewrites only those partitions
    out = M.delete_rows(
        spark, tbl, where="k < 8", prune=[("cell", "in", [0, 2])]
    )
    assert out is not None and out["rows_affected"] == 4  # k in {0,2,4,6}
    left = M.scan_table(spark, tbl, predicates=[("cell", "in", [0, 2])])
    assert left.filter("k < 8").count() == 0
    # rows in unpruned partitions with k < 8 survived (prune scopes)
    other = M.scan_table(spark, tbl, predicates=[("cell", "in", [1, 3])])
    assert other.filter("k < 8").count() == 4


def test_replace_partitions_atomic_and_guarded(spark, tbl):
    """replace_partitions (r12): one atomic commit replaces the named
    partitions' files (+ properties), carries the rest by reference,
    allows NEW partition values, and guards the two silent-corruption
    paths — a schema-mismatched frame and staged rows landing in an
    UNNAMED existing partition both raise before commit."""
    df = spark.createDataFrame(
        [(i, i % 3, f"v{i}") for i in range(12)],
        "k bigint, cell int, s string",
    )
    M.write_table(
        df, tbl, partition_by=("cell",), stats_cols=("k",),
        properties={"gen": 1},
    )
    v0 = int(M.latest_manifest(spark, tbl)["version"])
    n_files0 = len(M.latest_manifest(spark, tbl)["files"])

    # replace cell=0 with rows split between cell=0 and a NEW cell=9
    repl = spark.createDataFrame(
        [(100, 0, "r0"), (101, 9, "r9")], "k bigint, cell int, s string"
    )
    out = M.replace_partitions(
        spark, tbl, [{"cell": 0}], repl, stats_cols=("k",),
        properties={"gen": 2}, txn=("maint", 1),
    )
    assert out is not None and out["version"] == v0 + 1
    assert out["files_untouched"] > 0
    assert out["files_rewritten"] + out["files_untouched"] == n_files0
    got = M.snapshot(spark, tbl)
    assert got.filter("cell = 0").count() == 1  # old cell-0 rows gone
    assert got.filter("cell = 9").count() == 1  # new partition landed
    assert got.filter("cell = 1").count() == 4  # untouched carried
    assert M.table_properties(spark, tbl)["gen"] == 2

    # replayed txn: nothing commits, checked before any Spark work
    assert (
        M.replace_partitions(
            spark, tbl, [{"cell": 0}], repl, txn=("maint", 1)
        )
        is None
    )
    assert int(M.latest_manifest(spark, tbl)["version"]) == v0 + 1

    # schema drift raises BEFORE staging (missing column)
    bad_schema = spark.createDataFrame([(1, 0)], "k bigint, cell int")
    with pytest.raises(ValueError, match="schema"):
        M.replace_partitions(spark, tbl, [{"cell": 0}], bad_schema)

    # rows landing in an existing partition NOT named raise
    leak = spark.createDataFrame(
        [(200, 1, "x")], "k bigint, cell int, s string"
    )
    with pytest.raises(ValueError, match="not in values_list"):
        M.replace_partitions(spark, tbl, [{"cell": 0}], leak)
