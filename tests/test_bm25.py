"""operators/bm25.py — Okapi BM25 sparse retrieval: ad-hoc scoring
against a pure-Python mirror, the materialized postings index
row-identical to ad-hoc, and bloom + stats file skipping on term
lookups.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.bm25 import (
    bm25_topk,
    bm25_topk_indexed,
    build_bm25_index,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick red fox"),
    (3, "lazy dogs sleep all day long"),
    (4, "a quick study of brown bears and red pandas"),
    (5, "dogs and foxes are distant cousins"),
    (6, "nothing in common with anything here whatsoever"),
]

QUERIES = [(100, "quick brown fox"), (200, "lazy dog")]


def _mirror_topk(k1=1.2, b=0.75, k=3):
    """Driver-side BM25 recompute (the operator's determinism contract:
    rank by (round(score, 6) desc, doc id))."""
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, qtext in QUERIES:
        scores = {}
        for term in sorted(set(qtext.lower().split())):
            hits = {d: v.count(term) for d, v in toks.items() if term in v}
            if not hits:
                continue
            idf = math.log(1 + (n - len(hits) + 0.5) / (len(hits) + 0.5))
            for d, tf in hits.items():
                dl = len(toks[d])
                c = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
                scores[d] = scores.get(d, 0.0) + c
        ranked = sorted(
            ((round(s, 6), d) for d, s in scores.items()),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        out[qid] = [
            (d, round(s, 2), i + 1) for i, (s, d) in enumerate(ranked)
        ]
    return out


def _frames(spark):
    docs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    queries = spark.createDataFrame(QUERIES, "qid bigint, qtext string")
    return docs, queries


def test_bm25_topk_matches_mirror(spark):
    docs, queries = _frames(spark)
    got = {
        qid: [
            (r["doc_id"], r["score"], r["rank"])
            for r in rows
        ]
        for qid, rows in _group(
            bm25_topk(docs, queries, "doc_id", "text", k=3).collect()
        ).items()
    }
    assert got == _mirror_topk(k=3)


def _group(rows):
    out: dict = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append(r)
    return out


def test_indexed_row_identical(spark, tmp_path):
    docs, queries = _frames(spark)
    path = str(tmp_path / "bm25")
    build_bm25_index(docs, "doc_id", "text", path)
    adhoc = bm25_topk(docs, queries, "doc_id", "text", k=3)
    idx = bm25_topk_indexed(spark, path, queries, k=3)
    assert idx.exceptAll(adhoc).unionAll(adhoc.exceptAll(idx)).count() == 0


def test_index_prunes_postings_files(spark, tmp_path, sf_dir):
    """Term-sorted layout + [min, max] stats + term bloom: a narrow
    query wave's postings lookup keeps a strict subset of the files."""
    from ensembl_database_loader_spark.sinks.manifest import (
        files_matching,
        latest_manifest,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
    )
    path = str(tmp_path / "bm25_docs")
    build_bm25_index(docs, "doc_id", "text", path, num_files=8)
    m = latest_manifest(spark, path)
    assert len(m["files"]) > 1, "fixture index must span multiple files"
    kept = files_matching(m, [("term", "in", ["the"])])
    assert 0 < len(kept) < len(m["files"])
    got = bm25_topk_indexed(
        spark,
        path,
        spark.createDataFrame([(1, "the")], "qid bigint, qtext string"),
        k=5,
    )
    assert got.count() == 5


def test_bloom_prunes_in_predicates(spark, tmp_path):
    """The r11 scan_table extension: an IN predicate consults the
    per-file blooms (disjunction over members) — on an UNSORTED layout
    where [min, max] spans everything, the bloom alone prunes."""
    from ensembl_database_loader_spark.sinks.manifest import (
        files_matching,
        latest_manifest,
        scan_table,
        write_table,
    )

    # two files whose term ranges BOTH cover 'bbb' (stats useless):
    # file 1 spans [aaa, zzz], file 2 spans [bbb, yyy]
    path = str(tmp_path / "blooms")
    f1 = spark.createDataFrame(
        [(1, "aaa"), (2, "zzz")], "id bigint, term string"
    ).coalesce(1)
    f2 = spark.createDataFrame(
        [(3, "bbb"), (4, "yyy")], "id bigint, term string"
    ).coalesce(1)
    write_table(
        f1, path, mode="overwrite", stats_cols=("term",), bloom_cols=("term",)
    )
    write_table(
        f2, path, mode="append", stats_cols=("term",), bloom_cols=("term",)
    )
    m = latest_manifest(spark, path)
    assert len(m["files"]) == 2
    # [min, max] stats alone keep BOTH files for 'bbb'
    assert len(files_matching(m, [("term", "in", ["bbb", "qqq"])])) == 2
    # the bloom disjunction keeps only the file actually holding 'bbb'
    got = scan_table(spark, path, predicates=[("term", "in", ["bbb", "qqq"])])
    assert [r["id"] for r in got.collect()] == [3]
    assert len(got.inputFiles()) == 1


def test_empty_query_wave_returns_empty_like_adhoc(spark, tmp_path):
    """ADVICE r12: the paths documented as row-identical must agree on
    the no-terms edge — an all-whitespace wave returns an EMPTY frame
    with the exact output schema from BOTH, never an error."""
    docs, _ = _frames(spark)
    path = str(tmp_path / "bm25e")
    build_bm25_index(docs, "doc_id", "text", path)
    empty = spark.createDataFrame([(1, "   ")], "qid bigint, qtext string")
    adhoc = bm25_topk(docs, empty, "doc_id", "text", k=3)
    idx = bm25_topk_indexed(spark, path, empty, k=3)
    assert adhoc.count() == 0 and idx.count() == 0
    assert idx.columns == adhoc.columns == ["qid", "doc_id", "score", "rank"]
    assert dict(idx.dtypes) == dict(adhoc.dtypes)


def test_append_serves_identical_to_rebuild(spark, tmp_path):
    """Incremental postings appends: exact-integer stats + query-time
    df/idf make the appended index serve ROW-IDENTICAL to a
    from-scratch rebuild on the union; the append + stats update is one
    atomic commit and a replayed txn commits nothing."""
    from ensembl_database_loader_spark.operators.bm25 import (
        append_to_bm25_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        latest_manifest,
        table_properties,
    )

    first = spark.createDataFrame(DOCS[:4], "doc_id bigint, text string")
    rest = spark.createDataFrame(DOCS[4:], "doc_id bigint, text string")
    alldocs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    queries = spark.createDataFrame(QUERIES, "qid bigint, qtext string")

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_bm25_index(first, "doc_id", "text", inc)
    m = append_to_bm25_index(rest, "text", inc, txn=("ingest", 1))
    assert m is not None
    build_bm25_index(alldocs, "doc_id", "text", full)

    props = table_properties(spark, inc)["bm25"]
    assert props["n_docs"] == len(DOCS)
    assert props == table_properties(spark, full)["bm25"]

    a = bm25_topk_indexed(spark, inc, queries, k=4)
    b = bm25_topk_indexed(spark, full, queries, k=4)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0

    # exactly-once: the replayed ingest commits nothing — version AND
    # stats unchanged
    v = int(latest_manifest(spark, inc)["version"])
    assert append_to_bm25_index(rest, "text", inc, txn=("ingest", 1)) is None
    assert int(latest_manifest(spark, inc)["version"]) == v
    assert table_properties(spark, inc)["bm25"]["n_docs"] == len(DOCS)


def test_delete_decrements_stats_and_matches_rebuild(spark, tmp_path):
    """delete_from_bm25_index removes postings AND decrements the
    corpus stats in ONE commit, so the delete->append re-ingest cycle
    serves ROW-IDENTICAL to a from-scratch rebuild (stale stats would
    silently skew idf/avgdl forever)."""
    from ensembl_database_loader_spark.operators.bm25 import (
        append_to_bm25_index,
        delete_from_bm25_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import table_properties

    alldocs = spark.createDataFrame(DOCS, "doc_id bigint, text string")
    queries = spark.createDataFrame(QUERIES, "qid bigint, qtext string")
    corrected = spark.createDataFrame(
        [(2, "the quick red fox runs very far")], "doc_id bigint, text string"
    )
    final = spark.createDataFrame(
        [r for r in DOCS if r[0] != 2] + [(2, "the quick red fox runs very far")],
        "doc_id bigint, text string",
    )

    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_bm25_index(alldocs, "doc_id", "text", inc)
    out = delete_from_bm25_index(spark, inc, [2])
    assert out is not None and out["rows_affected"] > 0
    props = table_properties(spark, inc)["bm25"]
    assert props["n_docs"] == len(DOCS) - 1
    append_to_bm25_index(corrected, "text", inc)
    build_bm25_index(final, "doc_id", "text", full)
    assert (
        table_properties(spark, inc)["bm25"]
        == table_properties(spark, full)["bm25"]
    )
    a = bm25_topk_indexed(spark, inc, queries, k=4)
    b = bm25_topk_indexed(spark, full, queries, k=4)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
    # deleting nothing is a no-op (no commit, stats unchanged)
    assert delete_from_bm25_index(spark, inc, [999]) is None


def test_string_qids_supported(spark, tmp_path):
    """Query ids may be strings (UUIDs): the literal qt frame carries
    the caller's qid type through scoring and output."""
    docs, _ = _frames(spark)
    queries = spark.createDataFrame(
        [("q-a", "quick brown fox"), ("q-b", "lazy dog")],
        "qid string, qtext string",
    )
    got = bm25_topk(docs, queries, "doc_id", "text", k=2)
    rows = got.collect()
    assert {r["qid"] for r in rows} == {"q-a", "q-b"}
    assert all(isinstance(r["qid"], str) for r in rows)


def test_shuffle_query_shape_row_identical(spark, tmp_path):
    """VERDICT r11 #2: the DataFrame-shaped query path (executor-side
    tokenization, shuffle join — no driver collect) is row-identical to
    the collected broadcast form on BOTH the ad-hoc and indexed paths,
    and builds its plan without launching a Spark job."""
    docs, queries = _frames(spark)
    path = str(tmp_path / "bm25_shuf")
    build_bm25_index(docs, "doc_id", "text", path)

    a_b = bm25_topk(docs, queries, "doc_id", "text", k=3)
    a_s = bm25_topk(
        docs, queries, "doc_id", "text", k=3, broadcast_queries=False
    )
    assert a_s.exceptAll(a_b).unionAll(a_b.exceptAll(a_s)).count() == 0

    i_b = bm25_topk_indexed(spark, path, queries, k=3)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    i_s = bm25_topk_indexed(
        spark, path, queries, k=3, broadcast_queries=False
    )
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "shuffle-shaped plan construction collected"
    assert i_s.exceptAll(i_b).unionAll(i_b.exceptAll(i_s)).count() == 0


def test_delete_wave_prunes_files_via_id_bloom(spark, tmp_path):
    """VERDICT r11 #5: the index blooms the doc id as well as the term,
    and the copy-on-write rewrite path consults blooms — a delete wave
    rewrites only the files actually holding a victim's postings and
    carries the rest by reference (files_untouched > 0). A doc's
    postings land in as many files as its terms span term ranges, so
    the fixture uses docs with NARROW term ranges (the realistic shape
    at scale: thousands of term-range files vs hundreds of distinct
    terms per doc)."""
    from ensembl_database_loader_spark.operators.bm25 import (
        delete_from_bm25_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import latest_manifest

    narrow = spark.createDataFrame(
        [
            (1, "aaa aab aac aad"),
            (2, "mma mmb mmc mmd"),
            (3, "zza zzb zzc zzd"),
        ],
        "doc_id bigint, text string",
    )
    path = str(tmp_path / "bm25_del")
    build_bm25_index(narrow, "doc_id", "text", path, num_files=3)
    n_files = len(latest_manifest(spark, path)["files"])
    assert n_files > 1
    out = delete_from_bm25_index(spark, path, [1])
    assert out is not None and out["rows_affected"] == 4
    assert out["files_untouched"] > 0, (
        "id bloom failed to prove absence on any file — delete wave "
        "rewrote the whole index"
    )
    assert out["files_rewritten"] + out["files_untouched"] == n_files


def test_zero_token_doc_delete_keeps_stats_exact(spark, tmp_path):
    """ADVICE r12: a doc with empty/whitespace-only text is counted in
    n_docs at build time; deleting it must decrement the stats (via its
    sentinel posting row) so the index stays row-identical to a rebuild
    without it."""
    from ensembl_database_loader_spark.operators.bm25 import (
        delete_from_bm25_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import table_properties

    withblank = spark.createDataFrame(
        DOCS + [(7, "   ")], "doc_id bigint, text string"
    )
    queries = spark.createDataFrame(QUERIES, "qid bigint, qtext string")
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_bm25_index(withblank, "doc_id", "text", inc)
    assert table_properties(spark, inc)["bm25"]["n_docs"] == len(DOCS) + 1
    out = delete_from_bm25_index(spark, inc, [7])
    assert out is not None
    build_bm25_index(
        spark.createDataFrame(DOCS, "doc_id bigint, text string"),
        "doc_id", "text", full,
    )
    assert (
        table_properties(spark, inc)["bm25"]
        == table_properties(spark, full)["bm25"]
    )
    a = bm25_topk_indexed(spark, inc, queries, k=4)
    b = bm25_topk_indexed(spark, full, queries, k=4)
    assert a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0


def test_tombstone_delete_lifecycle(spark, tmp_path):
    """Tombstone deletes: ONE O(wave) append commit (no posting file
    rewritten), serving bit-identical to a rebuild on the survivors
    (victims filtered BEFORE the df aggregate — no stale-idf drift),
    exact stats, idempotent re-delete, append guard on tombstoned ids,
    txn replay no-op, and physical reclaim via
    compact_bm25_tombstones restoring snapshot bit-identity."""
    import ensembl_database_loader_spark.sinks.manifest as M
    from ensembl_database_loader_spark.operators.bm25 import (
        compact_bm25_tombstones,
        delete_from_bm25_index,
        tombstoned_ids,
    )

    docs, queries = _frames(spark)
    idx = str(tmp_path / "idx")
    rebuilt = str(tmp_path / "rebuilt")
    build_bm25_index(docs, "doc_id", "text", idx, num_files=3)

    out = delete_from_bm25_index(
        spark, idx, [1, 3, 999], mode="tombstone", txn=("wave", 1)
    )
    assert out is not None
    # O(wave): an APPEND-only commit — no existing file removed
    v = int(M.latest_manifest(spark, idx)["version"])
    cf = M.changed_files(spark, idx, v - 1, v)
    assert cf["removed"] == [] and len(cf["added"]) >= 1
    assert tombstoned_ids(spark, idx) == [1, 3]

    build_bm25_index(
        docs.filter(~F.col("doc_id").isin(1, 3)), "doc_id", "text", rebuilt
    )
    ms = M.table_properties(spark, idx)["bm25"]
    mr = M.table_properties(spark, rebuilt)["bm25"]
    assert (ms["n_docs"], ms["total_tokens"]) == (
        mr["n_docs"],
        mr["total_tokens"],
    )
    assert ms["tombstones"] == 2

    def serve(p, **kw):
        return sorted(
            map(tuple, bm25_topk_indexed(spark, p, queries, k=3, **kw).collect())
        )

    assert serve(idx) == serve(rebuilt)
    # the shuffle-shaped query path filters tombstones identically
    assert serve(idx, broadcast_queries=False) == serve(rebuilt)

    # idempotent re-delete (already tombstoned) and replayed txn: no-ops
    assert delete_from_bm25_index(spark, idx, [1, 3], mode="tombstone") is None
    assert (
        delete_from_bm25_index(spark, idx, [5], mode="tombstone", txn=("wave", 1))
        is None
    )

    assert compact_bm25_tombstones(spark, idx) is not None
    assert M.table_properties(spark, idx)["bm25"]["tombstones"] == 0
    assert tombstoned_ids(spark, idx) == []
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, rebuilt).collect())
    )
    assert serve(idx) == serve(rebuilt)
    assert compact_bm25_tombstones(spark, idx) is None
    # reclaimed id can re-enter
    from ensembl_database_loader_spark.operators.bm25 import (
        append_to_bm25_index,
    )

    assert append_to_bm25_index(
        spark.createDataFrame([(1, "the quick brown fox returns")],
                              "doc_id bigint, text string"),
        "text",
        idx,
    ) is not None


def test_generation_resurrection_append_only(spark, tmp_path):
    """Generation markers make the full curation cycle APPEND-ONLY:
    tombstone doc 2, re-append it with fresh text BEFORE any
    compaction (resurrection at the marker's generation — the dead
    postings are still on disk, masked by the marker), re-delete the
    resurrected doc (marker advances to gen+1), and every one of those
    commits has removed == []. Serving and stats stay exact vs
    rebuilds at each step; one final compaction restores snapshot
    bit-identity."""
    import ensembl_database_loader_spark.sinks.manifest as M
    from ensembl_database_loader_spark.operators.bm25 import (
        append_to_bm25_index,
        compact_bm25_tombstones,
        delete_from_bm25_index,
        tombstoned_ids,
    )

    docs, queries = _frames(spark)
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, "doc_id", "text", idx, num_files=3)

    def assert_append_only():
        v = int(M.latest_manifest(spark, idx)["version"])
        cf = M.changed_files(spark, idx, v - 1, v)
        assert cf["removed"] == [], "maintenance commit rewrote a file"

    def serve(p):
        return sorted(
            map(tuple, bm25_topk_indexed(spark, p, queries, k=3).collect())
        )

    # tombstone -> resurrect with REPLACEMENT text -> serving follows
    assert delete_from_bm25_index(spark, idx, [2], mode="tombstone") is not None
    assert_append_only()
    append_to_bm25_index(
        spark.createDataFrame(
            [(2, "the quick red fox returns quick quick")],
            "doc_id bigint, text string",
        ),
        "text",
        idx,
    )
    assert_append_only()
    assert tombstoned_ids(spark, idx) == [2]  # marker stays until reclaim
    mutated = docs.filter(F.col("doc_id") != 2).unionByName(
        spark.createDataFrame(
            [(2, "the quick red fox returns quick quick")],
            "doc_id bigint, text string",
        )
    )
    fresh1 = str(tmp_path / "fresh1")
    build_bm25_index(mutated, "doc_id", "text", fresh1)
    assert serve(idx) == serve(fresh1)
    m_idx = M.table_properties(spark, idx)["bm25"]
    m_f1 = M.table_properties(spark, fresh1)["bm25"]
    assert (m_idx["n_docs"], m_idx["total_tokens"]) == (
        m_f1["n_docs"],
        m_f1["total_tokens"],
    )

    # re-delete the RESURRECTED doc: the marker must advance past the
    # live generation (gen+1), not collide with the old marker
    assert delete_from_bm25_index(spark, idx, [2], mode="tombstone") is not None
    assert_append_only()
    fresh2 = str(tmp_path / "fresh2")
    build_bm25_index(
        docs.filter(F.col("doc_id") != 2), "doc_id", "text", fresh2
    )
    assert serve(idx) == serve(fresh2)

    # one amortized reclaim: snapshots bit-identical, markers gone
    assert compact_bm25_tombstones(spark, idx) is not None
    assert tombstoned_ids(spark, idx) == []
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, fresh2).collect())
    )
    assert serve(idx) == serve(fresh2)


def test_marker_free_serving_pays_zero_cost(spark, tmp_path):
    """The zero-marker fast path is structural: with tombstones == 0 in
    properties, _marker_gens answers from the property alone (NO Spark
    job) and the serving plan contains no liveness join at all — a
    never-deleted index serves exactly the pre-generation plan."""
    from ensembl_database_loader_spark.operators.bm25 import (
        _marker_gens,
        delete_from_bm25_index,
    )

    docs, queries = _frames(spark)
    path = str(tmp_path / "bm25_clean")
    build_bm25_index(docs, "doc_id", "text", path)

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    assert _marker_gens(spark, path) == {}
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "marker map on a clean index launched a job"
    plan = bm25_topk_indexed(spark, path, queries, k=3)._jdf.queryExecution().analyzed().toString()
    assert "_kill" not in plan, "marker-free plan carries the liveness join"

    # with a marker present the join appears, and it is broadcast-dim
    delete_from_bm25_index(spark, path, [2], mode="tombstone")
    plan2 = bm25_topk_indexed(spark, path, queries, k=3)._jdf.queryExecution().analyzed().toString()
    assert "_kill" in plan2
