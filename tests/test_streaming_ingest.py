"""streaming/ingest.py — live incremental curation over a landing
directory: two file drops through the stream must equal the one-shot
batch curation of the union (the streaming twin of
llp_incremental_dedup's contract)."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from ensembl_database_loader_spark.pipeline.curate import curate_corpus
from ensembl_database_loader_spark.streaming.ingest import (
    stream_documents,
    streaming_curate,
)


def _docs(offset: int):
    words = [f"tok{i:03d}" for i in range(40)]
    out = []
    for d in range(6):
        toks = [f"{w}x{d}" for w in words]
        out.append(
            {"doc_id": offset + d, "lang": "en", "text": " ".join(toks)}
        )
    return out


def _near_dups(docs, id_offset: int):
    return [
        {
            "doc_id": d["doc_id"] + id_offset,
            "lang": d["lang"],
            "text": d["text"].split(" ", 1)[1],  # drop first token
        }
        for d in docs
    ]


def _drain(q):
    q.awaitTermination(120)


def test_streaming_curate_two_drops_equal_one_shot(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    batch1 = _docs(0)
    with open(landing / "b1.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in batch1)

    s = stream_documents(spark, str(landing))
    _drain(streaming_curate(s, store, out, ckpt))

    # second drop: fresh docs + near-dups of batch1 (monotone ids)
    batch2 = _docs(1000) + _near_dups(batch1, 100000)
    with open(landing / "b2.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in batch2)
    time.sleep(1.1)  # file-source timestamps have 1s granularity
    s = stream_documents(spark, str(landing))
    _drain(streaming_curate(s, store, out, ckpt))

    streamed = {r.id for r in spark.read.parquet(out).select("id").collect()}

    union = spark.createDataFrame(
        batch1 + batch2, "doc_id bigint, lang string, text string"
    )
    one_shot, _ = curate_corpus(union, near_dup="minhash")
    expected = {r.id for r in one_shot.select("id").collect()}
    assert streamed == expected
    # the near-dups of batch1 must have been dropped via the STORE
    # (batch1 was in a previous micro-batch)
    assert not any(i >= 100000 for i in streamed)

    # store grew across batches: next increments see both drops
    sigs = spark.read.parquet(store + "/exact_sigs")
    assert sigs.filter(F.col("id") >= 1000).count() > 0
    assert sigs.filter(F.col("id") < 1000).count() > 0


def test_write_curated_batch_exactly_once_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must leave ONE copy of
    its rows under exactly_once=True, and duplicate them under the
    at-least-once append sink — the foreachBatch replay contract."""
    from ensembl_database_loader_spark.streaming.ingest import write_curated_batch

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, text string")
    eo, alo = str(tmp_path / "eo"), str(tmp_path / "alo")
    for _ in range(2):  # simulate the replay
        write_curated_batch(df, eo, batch_id=7, exactly_once=True)
        write_curated_batch(df, alo, batch_id=7, exactly_once=False)
    got = spark.read.parquet(eo)
    assert got.count() == 2
    assert {r.batch for r in got.select("batch").distinct().collect()} == {7}
    assert spark.read.parquet(alo).count() == 4  # append path duplicates

    # a second batch lands in its own partition, first stays intact
    df2 = spark.createDataFrame([(3, "c")], "id bigint, text string")
    write_curated_batch(df2, eo, batch_id=8, exactly_once=True)
    assert spark.read.parquet(eo).count() == 3


def test_streaming_curate_exactly_once_end_to_end(spark, tmp_path):
    """streaming_curate(exactly_once=True) drains the same landing dir
    and produces the same kept id set as the append sink, partitioned
    by batch."""
    import json
    import os

    from ensembl_database_loader_spark.streaming.ingest import (
        stream_documents,
        streaming_curate,
    )

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    docs = [
        {"doc_id": i, "lang": "en",
         "text": f"unique document number {i} with several words inside"}
        for i in range(8)
    ]
    with open(os.path.join(landing, "b0.jsonl"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")

    out, store, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    q = streaming_curate(
        stream_documents(spark, landing),
        store, out, ckpt,
        exactly_once=True, min_quality=0,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert "batch" in got.columns
    assert {r.id for r in got.select("id").collect()} == set(range(8))


def test_streaming_curate_from_jsonl_with_corrupt_lines(spark, tmp_path):
    """The full crawl pipeline: JSONL shards (including a malformed
    line) land -> corrupt lines filtered with accounting, good docs
    curated through the store. The bad line must cost a row, never
    the job."""
    from ensembl_database_loader_spark.sources.jsonl import stream_jsonl

    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")

    batch = _docs(0)
    with open(landing / "b1.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in batch)
        f.write('{"doc_id": 999, "lang": "en", "text": trunca\n')  # corrupt

    s = stream_jsonl(
        spark, str(landing), "doc_id bigint, lang string, text string"
    )
    good = s.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    _drain(streaming_curate(good, store, out, ckpt))

    streamed = {r.id for r in spark.read.parquet(out).select("id").collect()}
    one_shot, _ = curate_corpus(
        spark.createDataFrame(batch, "doc_id bigint, lang string, text string"),
        near_dup="minhash",
    )
    assert streamed == {r.id for r in one_shot.select("id").collect()}
    assert 999 not in streamed  # the corrupt line never entered curation


def test_write_curated_batch_manifest_sink_exactly_once(spark, tmp_path):
    """sink='manifest': a replayed micro-batch commits NOTHING (txn
    watermark), every commit is atomic, and readers resolve complete
    snapshots only."""
    from ensembl_database_loader_spark.sinks.manifest import (
        list_manifests,
        snapshot,
    )
    from ensembl_database_loader_spark.streaming.ingest import write_curated_batch

    out = str(tmp_path / "mtable")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, text string")
    for _ in range(2):  # simulate the foreachBatch replay
        write_curated_batch(df, out, batch_id=0, exactly_once=False, sink="manifest")
    assert snapshot(spark, out).count() == 2  # one copy, not two
    assert len(list_manifests(spark, out)) == 1  # replay committed nothing

    df2 = spark.createDataFrame([(3, "c")], "id bigint, text string")
    write_curated_batch(df2, out, batch_id=1, exactly_once=False, sink="manifest")
    assert {r.id for r in snapshot(spark, out).collect()} == {1, 2, 3}


def test_streaming_curate_manifest_sink_end_to_end(spark, tmp_path):
    """streaming_curate(sink='manifest') drains a landing dir into a
    manifest table whose head equals the plain-sink kept set."""
    import os

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    docs = [
        {"doc_id": i, "lang": "en",
         "text": f"manifest sink document number {i} with several words"}
        for i in range(8)
    ]
    with open(os.path.join(landing, "b0.jsonl"), "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")
    out, store, ckpt = (
        str(tmp_path / "out"), str(tmp_path / "store"), str(tmp_path / "ckpt")
    )
    q = streaming_curate(
        stream_documents(spark, landing),
        store, out, ckpt,
        sink="manifest", min_quality=0,
    )
    q.awaitTermination(120)

    from ensembl_database_loader_spark.sinks.manifest import snapshot

    got = snapshot(spark, out)
    assert {r.id for r in got.select("id").collect()} == set(range(8))


def test_streaming_manifest_appends_collect_skipping_stats(spark, tmp_path):
    """stats_cols on the manifest sink: every streamed append records
    per-file [min, max], so scan_table skips files while the table is
    still being fed."""
    from ensembl_database_loader_spark.sinks.manifest import (
        files_matching,
        latest_manifest,
        scan_table,
    )
    from ensembl_database_loader_spark.streaming.ingest import write_curated_batch

    out = str(tmp_path / "mtable")
    for b, lo in enumerate((0, 100, 200)):
        df = spark.createDataFrame(
            [(lo + i, f"d{lo + i}") for i in range(100)], "id bigint, text string"
        ).coalesce(1)
        write_curated_batch(
            df, out, batch_id=b, exactly_once=False, sink="manifest",
            stats_cols=("id",),
        )
    head = latest_manifest(spark, out)
    assert len(head["files"]) == 3 and len(head["stats"]) == 3
    preds = [("id", ">=", 120), ("id", "<=", 150)]
    assert len(files_matching(head, preds)) == 1
    assert sorted(r.id for r in scan_table(spark, out, preds).collect()) == list(
        range(120, 151)
    )


def test_streaming_sketches_recorded_and_replay_safe(spark, tmp_path):
    """sketch_root records per-batch mergeable summaries exactly-once:
    two stream drops accumulate; a REPLAYED batch id commits nothing
    (manifest txn watermark), so MG weights and histogram counts never
    double."""
    import json as _json

    from ensembl_database_loader_spark.streaming.ingest import (
        record_batch_sketches,
        streaming_corpus_stats,
        streaming_length_quantiles,
        streaming_top_tokens,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    store = str(tmp_path / "store")
    out = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    skroot = str(tmp_path / "sketches")

    with open(landing / "b1.jsonl", "w") as f:
        f.writelines(_json.dumps(r) + "\n" for r in _docs(0))
    _drain(
        streaming_curate(
            stream_documents(spark, str(landing)), store, out, ckpt,
            sketch_root=skroot,
        )
    )
    b2 = [
        {**r, "text": r["text"].replace("tok", "b2tok")} for r in _docs(100)
    ]  # textually fresh — exact dups of b1 would be curated away
    with open(landing / "b2.jsonl", "w") as f:
        f.writelines(_json.dumps(r) + "\n" for r in b2)
    _drain(
        streaming_curate(
            stream_documents(spark, str(landing)), store, out, ckpt,
            sketch_root=skroot,
        )
    )

    row = streaming_corpus_stats(spark, skroot).collect()[0]
    assert row.n_batches == 2
    assert row.n_docs == 12 and row.n_tokens == 480
    # 12 docs x 40 distinct per-doc-suffixed tokens = 480 distinct
    assert abs(row.distinct_tokens_est - 480) / 480 < 0.05

    q = {r.p: r.est for r in streaming_length_quantiles(spark, skroot).collect()}
    bound = 2 ** (1 / 32)
    assert 40 / bound <= q[0.5] <= 40 * bound  # every doc is 40 tokens

    # REPLAY batch 1's sketch append: watermark must swallow it
    before = sorted(
        (r.item, r.weight)
        for r in streaming_top_tokens(spark, skroot).collect()
    )
    kept_again = spark.createDataFrame(_docs(0))
    record_batch_sketches(kept_again, skroot, 0)
    after = sorted(
        (r.item, r.weight)
        for r in streaming_top_tokens(spark, skroot).collect()
    )
    assert after == before
    assert streaming_corpus_stats(spark, skroot).collect()[0].n_batches == 2


def test_streaming_sketches_with_custom_text_col(spark, tmp_path):
    """sketch_root with text_col='body': the curated frame names its
    text column 'text' whatever the input called it, so the sketches
    read that column and the stream drains."""
    from ensembl_database_loader_spark.streaming.ingest import (
        streaming_corpus_stats,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out = str(tmp_path / "curated")
    skroot = str(tmp_path / "sketches")
    docs = [{**r, "body": r.pop("text")} for r in _docs(0)]
    with open(landing / "b1.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in docs)

    s = stream_documents(
        spark, str(landing), schema="doc_id bigint, lang string, body string"
    )
    _drain(
        streaming_curate(
            s, str(tmp_path / "store"), out, str(tmp_path / "ckpt"),
            text_col="body", sketch_root=skroot,
        )
    )
    n_kept = spark.read.parquet(out).count()
    assert n_kept == 6
    row = streaming_corpus_stats(spark, skroot).collect()[0]
    assert row.n_batches == 1
    assert row.n_docs == n_kept and row.n_tokens == 40 * n_kept


def test_streaming_manifest_sink_partitioned_layout(spark, tmp_path):
    """partition_by on the manifest sink: the first batch declares the
    hive layout, later appends inherit it, and partition predicates
    prune exactly while the 'stream' is mid-feed."""
    from ensembl_database_loader_spark.sinks.manifest import (
        latest_manifest,
        scan_table,
        table_partitions,
    )
    from ensembl_database_loader_spark.streaming.ingest import write_curated_batch

    out = str(tmp_path / "ptable")
    b0 = spark.createDataFrame(
        [(1, "en", "a"), (2, "fr", "b")], "id bigint, lang string, text string"
    )
    b1 = spark.createDataFrame(
        [(3, "en", "c")], "id bigint, lang string, text string"
    )
    write_curated_batch(
        b0, out, batch_id=0, exactly_once=False, sink="manifest",
        partition_by=("lang",),
    )
    write_curated_batch(
        b1, out, batch_id=1, exactly_once=False, sink="manifest",
        partition_by=("lang",),
    )
    m = latest_manifest(spark, out)
    assert m["partition_by"] == ["lang"]
    parts = {tuple(e["values"].items()): e["n_rows"] for e in table_partitions(spark, out)}
    assert parts == {(("lang", "en"),): 2, (("lang", "fr"),): 1}
    got = scan_table(spark, out, predicates=[("lang", "=", "en")])
    assert sorted(r.id for r in got.collect()) == [1, 3]
    en_files = {r for r in m["files"] if m["parts"][r]["lang"] == "en"}
    assert len(set(got.inputFiles())) == len(en_files)


def test_streaming_ingest_to_synced_serving_index(spark, tmp_path):
    """stream -> manifest corpus -> synced BM25 index, end to end:
    each micro-batch appends to the corpus exactly-once (txn per batch
    id) and then syncs the serving index to the corpus head — after
    two ordered drains the index is row-identical (postings AND exact
    stats) to a from-scratch build on the final corpus, and a replay
    drain from a FRESH checkpoint (every file re-presented) commits
    nothing anywhere."""
    import ensembl_database_loader_spark.sinks.manifest as M
    from ensembl_database_loader_spark.operators.bm25 import (
        bm25_topk,
        build_bm25_index,
    )
    from ensembl_database_loader_spark.operators.indexsync import (
        sync_bm25_index,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    corpus = str(tmp_path / "corpus")
    idx = str(tmp_path / "bm25")

    def _process(batch_df, batch_id):
        M.write_table(
            batch_df.select("doc_id", "text"),
            corpus,
            mode="append",
            txn=("ingest", int(batch_id)),
            stats_cols=("doc_id",),
        )
        if M.latest_manifest(batch_df.sparkSession, idx) is None:
            build_bm25_index(
                M.snapshot(batch_df.sparkSession, corpus),
                "doc_id",
                "text",
                idx,
            )
        else:
            state = M.table_properties(batch_df.sparkSession, idx).get("sync")
            sync_bm25_index(
                batch_df.sparkSession, idx, corpus,
                from_version=None if state else 0,
            )

    def _run(ckpt):
        q = (
            stream_documents(spark, str(landing), max_files_per_trigger=1)
            .writeStream.foreachBatch(_process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    with open(landing / "b1.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in _docs(0))
    _run(str(tmp_path / "ckpt"))
    time.sleep(1.1)  # file-source timestamps have 1s granularity
    with open(landing / "b2.jsonl", "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in _docs(1000))
    _run(str(tmp_path / "ckpt"))

    fresh = str(tmp_path / "bm25_fresh")
    build_bm25_index(M.snapshot(spark, corpus), "doc_id", "text", fresh)
    ms = M.table_properties(spark, idx)["bm25"]
    mf = M.table_properties(spark, fresh)["bm25"]
    assert (ms["n_docs"], ms["total_tokens"]) == (
        mf["n_docs"],
        mf["total_tokens"],
    )
    assert sorted(map(tuple, M.snapshot(spark, idx).collect())) == sorted(
        map(tuple, M.snapshot(spark, fresh).collect())
    )
    queries = spark.createDataFrame(
        [(1, "tok000x0 tok001x0"), (2, "tok000x3 tok001x3")],
        "qid bigint, qtext string",
    )
    serve = lambda p: sorted(
        map(tuple, bm25_topk(spark, p, queries, k=3).collect())
    )
    assert serve(idx) == serve(fresh)

    # replay: a fresh checkpoint re-presents EVERY file; the corpus txn
    # watermark and the index sync state swallow all of it
    v_c = int(M.latest_manifest(spark, corpus)["version"])
    v_i = int(M.latest_manifest(spark, idx)["version"])
    _run(str(tmp_path / "ckpt_replay"))
    assert int(M.latest_manifest(spark, corpus)["version"]) == v_c
    assert int(M.latest_manifest(spark, idx)["version"]) == v_i
