"""BM25 sparse retrieval over a document corpus — the lexical sibling
of the dense-ANN stack (operators/similarity.py): batch query frames
scored against term postings with the Okapi BM25 weighting, plus a
materialized postings INDEX (a manifest table with bloom-filtered term
lookups) so repeated query waves never re-tokenize the corpus.

Reference scope: the reference engine (Ensembl/ensembl-database-loader)
delegates all querying to MySQL and has no retrieval surface; this is
part of the training-data-pipeline extension the engine targets
(contamination sweeps, near-dup triage, RAG candidate generation all
want a cheap lexical top-k next to the embedding one).

Scale shape (the part that matters at 100 TB):
- the AD-HOC path scans the corpus ONCE: tokenize (JVM higher-order
  functions, no Python), explode, FILTER BY THE BROADCAST QUERY TERM
  SET before the tf aggregate — the shuffle carries only matching
  (doc, term) pairs, never the full inverted index;
- document length (``dl``) is ``size(tokens)`` in the same projection —
  no second pass; corpus stats (N, avgdl) are a one-row aggregate that
  rides a crossJoin;
- per-term document frequency is computed from the FILTERED postings
  (df is only needed for query terms), so the df frame is at most
  |distinct query terms| rows — broadcast back onto the postings;
- the INDEXED path stores (term, doc, tf) postings as a manifest table
  with a BLOOM FILTER on ``term`` (sinks/manifest.py `bloom_cols`):
  a query wave's postings lookup skips every file whose bloom rejects
  all wave terms — the point-lookup pruning [min, max] stats can't
  give a high-cardinality term column; df per term is precomputed and
  versioned WITH the postings (same commit), so serving reads touch
  only pruned postings files + tiny side tables;
- per-query top-k reuses the batch-ANN tail (``_per_query_topk``, one
  window per query).

Determinism (oracle-checkable cross-engine, FIXTURES.md §3 rules):
tokens = whitespace split of lower/trim/collapsed text with empties
dropped; tf/df/dl/N are exact BIGINTs; idf uses the Lucene-style
non-negative form ln(1 + (N - df + 0.5)/(df + 0.5)); ranking orders by
(ROUND(score, 6) DESC, doc id) — the DSIR pattern, so the engines'
last-ulp differences in ln/÷ can't flip ranks; emitted scores round
coarser.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.text import tokens


def _nonempty_tokens(col) -> "F.Column":
    return F.filter(tokens(col), lambda w: w != "")


def _query_terms_df(
    queries: DataFrame, qid_col: str, qtext_col: str
) -> DataFrame:
    """(qid, term) pairs as a DATAFRAME — DISTINCT terms per query,
    tokenized EXECUTOR-side: the corpus-scale query shape
    (``broadcast_queries=False``), where a million-query contamination
    sweep phrased lexically must never collect to the driver — the
    work list stays data (reference analogue: fan-out X1,
    LoadDBs_conf.pm:113-123) and joins the postings as an ordinary
    shuffle join on ``term``."""
    return queries.select(
        F.col(qid_col).alias("_qid"),
        F.explode(F.array_distinct(_nonempty_tokens(qtext_col))).alias("term"),
    ).distinct()


def _query_term_rows(
    queries: DataFrame, qid_col: str, qtext_col: str
) -> list[tuple[int, str]]:
    """(qid, term) pairs — DISTINCT terms per query (BM25 scores each
    term once however often it repeats in the query text), collected
    driver-side: the query side is broadcast-dim by contract (it
    broadcasts into the postings join), and one collect lets every
    downstream consumer (the qt frame, the distinct term list, the
    wave IN-predicate) derive WITHOUT re-running the query frame's
    lineage as its own Spark job."""
    rows = (
        queries.select(
            F.col(qid_col).alias("_qid"),
            F.explode(F.array_distinct(_nonempty_tokens(qtext_col))).alias(
                "term"
            ),
        )
        .distinct()
        .collect()
    )
    return [(r["_qid"], r["term"]) for r in rows]


def _literal_df(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Bounded-slice literal frame (see functions/frames.literal_frame)."""
    from ensembl_database_loader_spark.functions.frames import literal_frame

    return literal_frame(spark, rows, schema)


def _qt_frame(
    spark, rows: list[tuple], qid_type: str = "bigint"
) -> DataFrame:
    """Literal (qid, term) frame carrying the CALLER's qid type (query
    ids may be strings — UUIDs — as well as integers)."""
    return _literal_df(spark, rows, f"_qid {qid_type}, term string")


def _bm25_score(k1: float, b: float) -> "F.Column":
    """The BM25 contribution of one (query term, doc) pair, from columns
    ``tf``, ``df``, ``dl``, ``n_docs``, ``avgdl``."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf = F.col("tf").cast("double")
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    return idf * tf * F.lit(k1 + 1.0) / norm


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str,
    text_col: str,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    ndigits: int = 2,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-``k`` BM25 matches per query: (qid, <id_col>, score, rank).

    One corpus scan; the exploded term stream is filtered by the
    query-term set BEFORE the tf aggregate, so the shuffle never
    carries non-matching terms.

    ``broadcast_queries`` picks the query shape (row-identical — gated
    in tests):

    - True (default): the query frame collects to the driver and
      BROADCASTS into the postings joins — right for interactive waves
      (tens..thousands of queries), zero shuffle of the query side;
    - False: the query frame tokenizes EXECUTOR-side and the (qid,
      term) stream SHUFFLE-joins the postings — the corpus-scale sweep
      shape (a million-query lexical contamination screen must never
      drive through the driver), the lexical twin of the dense stack's
      GEMM cogroup. No driver collect anywhere in the plan."""
    spark = docs.sparkSession
    if broadcast_queries:
        qrows = _query_term_rows(queries, qid_col, qtext_col)
        qt = _qt_frame(spark, qrows, dict(queries.dtypes)[qid_col])
        terms_only = _literal_df(
            spark, [(t,) for t in sorted({t for _, t in qrows})],
            "term string",
        )
    else:
        # lazily persisted: qt feeds BOTH the postings pre-filter and
        # the scoring join — without the cache the query frame's
        # tokenize+distinct lineage executes twice, at exactly the
        # sweep scale this shape targets (blocks are freed when the
        # result frame is released / the context cleaner runs)
        qt = _query_terms_df(queries, qid_col, qtext_col).persist()
        terms_only = qt.select("term").distinct()

    toked = docs.select(
        F.col(id_col),
        _nonempty_tokens(text_col).alias("_toks"),
    ).select(
        F.col(id_col),
        "_toks",
        F.size("_toks").cast("bigint").alias("dl"),
    )
    # corpus stats ride the MAIN action as a one-row BROADCAST subtree
    # (BroadcastNestedLoopJoin with a 1-row build side — NOT the former
    # unhinted crossJoin of parallelized frames, which planned a
    # CartesianProduct of slices x slices empty Python tasks): the
    # serve plans with no separate stats action, and the shuffle-shaped
    # sweep form (broadcast_queries=False) plans with ZERO driver
    # round trips. Values are the engine's own aggregate either way,
    # so scores stay bit-identical to the collected-literal form.
    stats_df = toked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.coalesce(F.avg("dl"), F.lit(0.0)).alias("avgdl"),
    )

    # (doc, term, tf, dl) for QUERY terms only — the term filter runs
    # before the aggregate, so partial aggregation sees only hits
    postings = (
        toked.select(
            F.col(id_col), "dl", F.explode("_toks").alias("term")
        )
        .join(
            F.broadcast(terms_only) if broadcast_queries else terms_only,
            "term",
        )
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return _score_postings(
        postings, None, None, qt, id_col, k, k1, b, ndigits,
        broadcast_qside=broadcast_queries,
        stats_df=stats_df,
    )


def _score_postings(
    postings: DataFrame,
    n_docs: int | None,
    avgdl: float | None,
    qt: DataFrame,
    id_col: str,
    k: int,
    k1: float,
    b: float,
    ndigits: int,
    broadcast_qside: bool = True,
    stats_df: DataFrame | None = None,
) -> DataFrame:
    """Shared scoring tail: attach per-term ``df`` to the postings as a
    COUNT OVER (PARTITION BY term) window — the former separate
    ``groupBy(term)`` aggregate branch evaluated the whole postings
    subtree a SECOND time (for the indexed path, a second scan of the
    pruned posting files per serve) and joined it back; the window
    yields the identical count on the single pass, and downstream
    term-keyed joins reuse its hash partitioning. Corpus stats attach
    either as driver-resident LITERAL columns (the indexed path: stats
    live in table properties, no job) or as a one-row ``stats_df``
    BROADCAST nested-loop join (the ad-hoc path: stats ride the main
    action instead of a separate driver round trip; an unhinted
    crossJoin here would plan a CartesianProduct of parallelized
    frames — slices x slices empty Python tasks). Then join the query
    terms (BROADCAST for collected interactive waves, SHUFFLE for
    DataFrame-shaped corpus-scale sweeps — same rows either way), sum
    per (qid, doc), rank by (ROUND(score, 6) DESC, doc)."""
    from pyspark.sql import Window

    from ensembl_database_loader_spark.operators.similarity import (
        _per_query_topk,
    )

    postings = postings.withColumn(
        "df",
        F.count(F.lit(1)).over(Window.partitionBy("term")).cast("bigint"),
    )
    if stats_df is not None:
        qside = qt.crossJoin(F.broadcast(stats_df))
    else:
        qside = qt.withColumns(
            {
                "n_docs": F.lit(int(n_docs)).cast("bigint"),
                "avgdl": F.lit(float(avgdl)),
            }
        )
    pairs = postings.join(
        F.broadcast(qside) if broadcast_qside else qside, "term"
    ).select(
        "_qid",
        F.col(id_col),
        _bm25_score(float(k1), float(b)).alias("_c"),
    )
    scored = pairs.groupBy("_qid", id_col).agg(
        F.round(F.sum("_c"), 6).alias("_score")
    )
    ranked = _per_query_topk(
        scored, "_qid", id_col, "_score", ascending=False, k=int(k)
    )
    return ranked.select(
        F.col("_qid").alias("qid"),
        F.col(id_col),
        F.round("_score", int(ndigits)).alias("score"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Materialized postings index (manifest table, bloom-pruned term lookups)
# ---------------------------------------------------------------------------


def _toked_with_dl(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _toks, dl) — the shared tokenize-once frame behind index
    build, append, and sync (one definition of dl so corpus stats can
    never drift between maintenance paths)."""
    return docs.select(
        F.col(id_col),
        _nonempty_tokens(text_col).alias("_toks"),
    ).select(
        F.col(id_col), "_toks", F.size("_toks").cast("bigint").alias("dl")
    )


def _corpus_stats(toked: DataFrame):
    """Exact-integer (n_docs, total_tokens) of a tokenized batch."""
    r = toked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    ).collect()[0]
    return int(r["n_docs"]), int(r["total_tokens"] or 0)


def _with_gens(postings: DataFrame, id_col: str, gens) -> DataFrame:
    """Attach the maintenance GENERATION column ``_gen``: ``gens`` maps
    id -> generation for re-arriving ids (broadcast-dim — a curation
    wave's resurrections/updates); every other row is generation 0.
    A row's generation never changes after it is written; liveness is
    decided against the marker rows (the kill-map join in
    ``bm25_topk_indexed``)."""
    if not gens:
        return postings.withColumn("_gen", F.lit(0).cast("bigint"))
    spark = postings.sparkSession
    id_type = dict(postings.dtypes)[id_col]
    gdf = _literal_df(
        spark, sorted(gens.items()), f"{id_col} {id_type}, _gen bigint"
    )
    return postings.join(F.broadcast(gdf), id_col, "left").withColumn(
        "_gen", F.coalesce(F.col("_gen"), F.lit(0)).cast("bigint")
    )


def _index_postings(
    toked: DataFrame,
    id_col: str,
    num_files: int | None = None,
    gens=None,
) -> DataFrame:
    """(id, term, dl, tf, _gen) postings for the INDEX — the one shared
    builder behind build, append, and sync, so an append-maintained
    index stays row-identical to a rebuild. ZERO-TOKEN docs (empty or
    whitespace-only text) get a SENTINEL row (term='', tf=0, dl=0):
    the tokenizer drops empties so '' can never be a real term — the
    sentinel never joins a query term and never scores — but it keeps
    the doc VISIBLE to ``delete_from_bm25_index``, whose stats
    decrement counts matched docs; without it, deleting a zero-token
    doc left n_docs permanently over-counting vs a from-scratch
    rebuild (ADVICE r12). ``gens`` assigns re-arriving ids their
    generation (``_with_gens``)."""
    real = (
        toked.select(F.col(id_col), "dl", F.explode("_toks").alias("term"))
        .groupBy(id_col, "term", "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    sentinel = toked.filter(F.size("_toks") == 0).select(
        F.col(id_col),
        F.lit("").alias("term"),
        F.col("dl"),
        F.lit(0).cast("bigint").alias("tf"),
    )
    return (
        _with_gens(real.unionByName(sentinel), id_col, gens)
        # term-sorted layout: narrow per-file term ranges => [min, max]
        # stats AND blooms both prune point lookups (num_files pins the
        # file count; default lets AQE size the ranges to the data)
        .repartitionByRange(
            *([int(num_files)] if num_files else []), F.col("term")
        )
        .sortWithinPartitions("term", id_col)
    )


def build_bm25_index(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    bloom_bits: int = 1 << 20,
    num_files: int | None = None,
) -> None:
    """Tokenize ONCE and persist the full inverted postings
    (term, <id>, tf, dl) as a manifest table with BLOOM FILTERS on
    ``term`` AND the doc id, plus the corpus stats (N, avgdl) in table
    PROPERTIES — versioned with the postings they describe, the
    ANN-index pattern (``build_ann_index``). Postings
    files are laid out sorted by term so each file covers a narrow
    term range and the term bloom prunes point lookups file-by-file;
    a doc's postings concentrate in few files (one per its distinct
    terms' ranges at most), so the ID bloom is what lets a curation
    wave's ``delete_from_bm25_index`` prove absence and carry most of
    the index by reference instead of candidate-rewriting every file
    (VERDICT r11 #5). Zero-token docs persist as sentinel rows so
    delete stats stay exact (``_index_postings``)."""
    from ensembl_database_loader_spark.sinks.manifest import write_table

    toked = _toked_with_dl(docs, id_col, text_col)
    n_docs, total_tokens = _corpus_stats(toked)
    postings = _index_postings(toked, id_col, num_files)
    # corpus stats stored as EXACT integers (n_docs, total_tokens):
    # avgdl derives at query time, so an append-built index and a
    # from-scratch build agree bit-for-bit (an incrementally-maintained
    # avgdl double would drift from the one-shot average)
    write_table(
        postings,
        path,
        mode="overwrite",
        stats_cols=("term",),
        bloom_cols=("term", id_col),
        bloom_bits=bloom_bits,
        properties={
            "bm25": {
                "id_col": id_col,
                "text_col": text_col,
                "n_docs": n_docs,
                "total_tokens": total_tokens,
                "tombstones": 0,
            }
        },
    )


def append_to_bm25_index(
    new_docs: DataFrame,
    text_col: str,
    path: str,
    txn: tuple[str, int] | None = None,
    extra_properties: dict | None = None,
) -> dict | None:
    """Append a NEW document batch into an existing postings index as
    ONE atomic commit: the batch's (term, id, tf, dl) postings land as
    new term-sorted files (blooms + stats inherited from the table
    spec), and the corpus stats in table PROPERTIES advance by exact
    integer deltas in the SAME commit — a reader never sees new
    postings under old stats, and a replayed ``txn`` commits nothing
    (exactly-once under streaming ingest). Because stats are exact
    integers and df/idf derive from the postings at query time, an
    append-maintained index serves ROW-IDENTICAL to a from-scratch
    rebuild on the union (gated in tests). Caller contracts: new ids
    must not already be indexed (the ANN-append rule) — re-ingest via
    ``delete_from_bm25_index`` first; and stats-bearing writers
    (append/delete) to the SAME index must be serialized (one ingest
    app — the txn watermark covers a replayed stream, but two
    INDEPENDENT concurrent appenders could publish stale stats: the
    properties map is computed from the head read before the commit)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        table_properties,
        write_table,
    )

    spark = new_docs.sparkSession
    props = table_properties(spark, path)
    meta = props.get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    id_col = meta["id_col"]
    # a re-appended id whose dead postings are still physically present
    # (tombstoned earlier) re-enters AT ITS MARKER'S GENERATION: the
    # marker kills strictly-lower generations, so the new rows serve
    # while the dead ones stay filtered until compaction reclaims them —
    # resurrection is an ordinary O(batch) append, never a rewrite
    toked = _toked_with_dl(new_docs, id_col, text_col)
    n_new, tok_new = _corpus_stats(toked)
    postings = _index_postings(toked, id_col, gens=_marker_gens(spark, path))
    # MERGE into the head's property map (never replace it): other
    # engine keys — an index-sync watermark, lineage notes — must
    # survive postings maintenance; extra_properties lets a caller
    # advance such a key ATOMICALLY with this commit
    return write_table(
        postings,
        path,
        mode="append",
        txn=txn,
        stats_cols=("term",),
        properties={
            **props,
            "bm25": {
                **meta,
                "n_docs": int(meta["n_docs"]) + n_new,
                "total_tokens": int(meta["total_tokens"]) + tok_new,
            },
            **(extra_properties or {}),
        },
    )


def _live_victim_rows(spark, path: str, id_col: str, ids, gens) -> dict:
    """{live victim id -> (dl, gen)} for a delete wave: one
    id-bloom-pruned scan over the candidate postings, reduced to each
    id's LIVE generation (marker rows excluded; zero-token docs count
    via their sentinel rows; dead generations — already-tombstoned or
    superseded images — contribute nothing, which is what makes
    re-deletes idempotent and stats exact)."""
    from ensembl_database_loader_spark.sinks.manifest import scan_table

    rows = (
        scan_table(spark, path, predicates=[(id_col, "in", ids)])
        .filter(F.col("term") != _TOMB_TERM)
        .groupBy(id_col)
        .agg(
            F.max("_gen").alias("_g"),
            F.max_by("dl", "_gen").alias("_dl"),
        )
        .collect()
    )
    return {
        r[0]: (int(r["_dl"]), int(r["_g"]))
        for r in rows
        if int(r["_g"]) >= int(gens.get(r[0], 0))
    }


#: tombstone marker term: sorts below every real token and the ''
#: zero-token sentinel can never equal it, so tombstone rows never
#: join a query term and point-fetch via the term stats/bloom
_TOMB_TERM = "\x00"


def _marker_gens(spark: SparkSession, path: str) -> dict:
    """{id -> max marker generation}: the live maintenance markers
    (term = _TOMB_TERM), fetched as a pruned point lookup (term-sorted
    [min, max] stats skip every file holding only real tokens).
    Broadcast-dim by design: markers accumulate only between
    ``compact_bm25_tombstones`` runs. A marker (id, G) means that id's
    rows with ``_gen < G`` are DEAD — a pure delete writes a marker
    above every live generation; an update writes the marker AND
    re-appends at the marker's generation."""
    from ensembl_database_loader_spark.sinks.manifest import (
        scan_table,
        table_properties,
    )

    meta = table_properties(spark, path).get("bm25") or {}
    if not int(meta.get("tombstones", 0)):
        return {}  # zero-cost fast path: no lookup when none exist
    id_col = meta["id_col"]
    return {
        r[0]: int(r[1])
        for r in scan_table(
            spark, path, predicates=[("term", "=", _TOMB_TERM)]
        )
        .groupBy(id_col)
        .agg(F.max("_gen"))
        .collect()
    }


def tombstoned_ids(spark: SparkSession, path: str) -> list:
    """Ids carrying a live maintenance marker — pure-deleted docs AND
    updated docs whose superseded generations await reclaim. Sorted;
    broadcast-dim (see ``_marker_gens``)."""
    return sorted(_marker_gens(spark, path))


def _tombstone_rows(spark, schema_src: DataFrame, id_col: str, gens):
    """(id, _TOMB_TERM, 0, 0, gen) marker rows in the postings
    schema/order; ``gens`` maps each id to the generation the marker
    kills below."""
    id_type = dict(schema_src.dtypes)[id_col]
    return _literal_df(
        spark, sorted(gens.items()), f"{id_col} {id_type}, _gen bigint"
    ).select(
        F.col(id_col),
        F.lit(_TOMB_TERM).alias("term"),
        F.lit(0).cast("bigint").alias("dl"),
        F.lit(0).cast("bigint").alias("tf"),
        F.col("_gen"),
    )


def delete_from_bm25_index(
    spark: SparkSession,
    path: str,
    doc_ids,
    mode: str = "rewrite",
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Remove documents from the postings index as ONE commit that
    ALSO decrements the corpus stats (n_docs, total_tokens) — without
    the stats delta, every later idf/avgdl would keep counting the
    deleted docs and indexed scoring would drift from a from-scratch
    rebuild (the re-ingest path: delete, then ``append_to_bm25_index``
    the corrected docs). ``doc_ids`` is broadcast-dim (a curation
    wave's drop list). Returns the commit manifest or None when no
    victim is indexed.

    ``mode='rewrite'``: copy-on-write — victims' posting rows (and any
    markers they carry) leave physically. File economics: the build
    blooms ``term`` AND the id column, so the rewrite prunes to files
    actually holding a victim's postings. HONEST SCALING BOUNDARY
    (measured, scripts/sync_bench): a scattered wave's DISTINCT TERMS
    span most term ranges — ~100 distinct terms per victim hit ~100
    files — so for multi-doc waves the rewrite degrades to O(index
    files) regardless of blooms.
    ``mode='tombstone'`` is the scalable delete: ONE O(wave) append of
    GENERATION MARKER rows (term = ``_TOMB_TERM``, gen = the victim's
    live generation + 1 — kills every row strictly below) plus the
    exact stats decrement in the same commit — no posting is
    rewritten. Serving filters dead generations out BEFORE the df
    aggregate, so indexed scores stay BIT-IDENTICAL to a rebuild on
    the survivors (gated in tests) — the Lucene-style deferred delete
    without Lucene's stale-df scoring drift. A tombstoned id may
    re-enter via ``append_to_bm25_index`` at the marker's generation
    (resurrection, O(batch)); dead postings and markers are physically
    reclaimed, amortized, by ``compact_bm25_tombstones``. Ids with no
    live rows (never indexed, or already dead) are excluded from the
    wave (idempotent re-delete)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        delete_rows,
        snapshot,
        table_properties,
        write_table,
    )

    if mode not in ("rewrite", "tombstone"):
        raise ValueError(f"mode must be rewrite|tombstone, got {mode!r}")
    props = table_properties(spark, path)
    meta = props.get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    id_col = meta["id_col"]
    ids = sorted(set(doc_ids))
    if not ids:
        return None
    gens = _marker_gens(spark, path)
    live = _live_victim_rows(spark, path, id_col, ids, gens)
    if not live:
        return None
    n_del = len(live)
    tok_del = sum(dl for dl, _ in live.values())
    if mode == "tombstone":
        n_markers = len(set(gens) | set(live))
    else:
        # the id-IN prune drops victims' marker rows along with their
        # postings, so the live-marker count shrinks by the overlap
        n_markers = len(set(gens) - set(live))
    # merged map, as in append: foreign property keys survive deletes
    new_props = {
        **props,
        "bm25": {
            **meta,
            "n_docs": int(meta["n_docs"]) - n_del,
            "total_tokens": int(meta["total_tokens"]) - tok_del,
            "tombstones": n_markers,
        },
    }
    if mode == "tombstone":
        return write_table(
            _tombstone_rows(
                spark,
                snapshot(spark, path),
                id_col,
                {i: g + 1 for i, (_, g) in live.items()},
            ),
            path,
            mode="append",
            txn=txn,
            stats_cols=("term",),
            properties=new_props,
        )
    if txn is not None:
        raise ValueError("txn applies to tombstone deletes only")
    return delete_rows(
        spark,
        path,
        prune=[(id_col, "in", sorted(live))],
        properties=new_props,
    )


def marker_pressure(spark: SparkSession, path: str) -> float:
    """Live-marker ratio (markers / live docs) from table PROPERTIES
    alone — zero data IO. The marker map is broadcast-dim BY CONTRACT;
    this is the number an auto-compaction policy bounds it with."""
    from ensembl_database_loader_spark.sinks.manifest import (
        table_properties,
    )

    meta = table_properties(spark, path).get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    return int(meta.get("tombstones", 0)) / max(int(meta["n_docs"]), 1)


def compact_bm25_tombstones(
    spark: SparkSession, path: str, txn: tuple[str, int] | None = None
) -> dict | None:
    """Physically reclaim every dead generation: ONE atomic
    ``apply_delta`` commit drops ALL rows of marker-bearing ids (dead
    postings, live survivors, and the markers themselves — the id-IN
    prune catches all three) while re-appending the LIVE survivors
    NORMALIZED to generation 0, zeroing the marker count; corpus stats
    are untouched (each tombstoning wave already decremented them
    exactly). Because every ``_gen > 0`` row has, by construction, a
    live marker for its id, normalization covers the whole index:
    after compaction the postings are BIT-IDENTICAL to a from-scratch
    rebuild on the live corpus (gated in tests) — the Lucene merge
    step, amortized to one rewrite per maintenance window instead of
    one per delete wave."""
    from ensembl_database_loader_spark.sinks.manifest import (
        _rewrite_rows,
        _txn_skip,
        latest_manifest,
        table_properties,
    )

    if _txn_skip(latest_manifest(spark, path), txn):
        return None
    props = table_properties(spark, path)
    meta = props.get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    id_col = meta["id_col"]
    gens = _marker_gens(spark, path)
    if not gens:
        return None
    ids = sorted(gens)

    # ONE copy-on-write pass does the whole reclaim: candidate files
    # (id-bloom pruned) rewrite IN PLACE — victim-id rows keep only the
    # live non-marker generations, normalized to _gen=0; every other
    # row is untouched. The former shape (delete ALL victim rows +
    # re-append the live survivors as a separate range-shuffled frame)
    # scanned the candidates twice, paid a range-sampling job and a
    # shuffle, and emitted extra survivor files; the in-place transform
    # is one scan, no shuffle, and the rewritten files keep their
    # narrow term ranges (guide §2.4: remove shuffles outright). Rows
    # stay BIT-IDENTICAL to a from-scratch rebuild on the live corpus
    # (the compaction gate in tests): same survivors, same _gen=0.
    def _reclaim(df: DataFrame, hit) -> DataFrame:
        cols = df.columns
        id_type = dict(df.dtypes)[id_col]
        kdf = _literal_df(
            spark, sorted(gens.items()), f"{id_col} {id_type}, _kill bigint"
        )
        live = (F.col("term") != _TOMB_TERM) & (
            F.col("_gen") >= F.coalesce(F.col("_kill"), F.lit(0))
        )
        return (
            df.join(F.broadcast(kdf), id_col, "left")
            .filter(~hit | live)
            .withColumn(
                "_gen",
                F.when(hit, F.lit(0).cast("bigint")).otherwise(F.col("_gen")),
            )
            .select(*cols)
        )

    return _rewrite_rows(
        spark,
        path,
        None,
        ((id_col, "in", ids),),
        _reclaim,
        "compact_tombstones",
        stats_cols=("term",),
        txn=txn,
        properties={
            **props,
            "bm25": {**meta, "tombstones": 0},
        },
    )


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    ndigits: int = 2,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Top-``k`` per query against a materialized postings index: the
    corpus is never re-tokenized. Row-identical to ``bm25_topk`` on
    the same corpus (same ranking contract — including the empty-query
    edge: a wave with no terms returns an EMPTY result frame, exactly
    like the ad-hoc path, instead of raising).

    ``broadcast_queries=True`` (default, interactive waves): the wave's
    terms collect driver-side and the postings scan carries ONE IN
    predicate, so manifest [min, max] stats and the term bloom skip
    every file holding none of them. ``broadcast_queries=False``
    (corpus-scale sweeps): the query frame tokenizes executor-side and
    SHUFFLE-joins the postings snapshot on ``term`` — no driver
    collect, no broadcast-width cap; a million-query sweep's term set
    covers most files anyway, so the lost file skipping is the right
    trade (the lexical twin of the dense GEMM path's shuffled query
    side)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        scan_table,
        snapshot,
        table_properties,
    )

    meta = table_properties(spark, path).get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    id_col = meta["id_col"]

    if broadcast_queries:
        qrows = _query_term_rows(queries, qid_col, qtext_col)
        wave_terms = sorted({t for _, t in qrows})
        if not wave_terms:
            # ad-hoc parity: an all-stopword/empty wave scores nothing —
            # empty frame with the exact output schema, never an error
            id_type = {
                f.name: f.dataType.simpleString()
                for f in snapshot(spark, path).schema.fields
            }[id_col]
            qid_type = dict(queries.dtypes)[qid_col]
            return spark.createDataFrame(
                [],
                f"qid {qid_type}, {id_col} {id_type}, score double, rank int",
            )
        qt = _qt_frame(spark, qrows, dict(queries.dtypes)[qid_col])
        # one IN predicate: [min, max] stats prune by the term-sorted
        # layout, the term bloom prunes the stragglers, and scan_table
        # still applies the row filter
        postings = scan_table(
            spark, path, predicates=[("term", "in", wave_terms)]
        )
    else:
        # lazily persisted — dual-consumed, as in the ad-hoc shuffle path
        qt = _query_terms_df(queries, qid_col, qtext_col).persist()
        # the wave's term set is data, not literals: filter the full
        # snapshot with a shuffle join (sentinel ''-term rows can never
        # match — the tokenizer drops empties)
        postings = snapshot(spark, path).join(
            qt.select("term").distinct(), "term"
        )
    # dead generations (tombstoned docs, superseded update images)
    # leave serving BEFORE the df aggregate, so idf is computed over
    # the LIVE corpus — scores stay bit-identical to a rebuild (no
    # Lucene-style stale-df drift); zero cost when the marker count
    # property is 0. Marker rows themselves never reach here: both
    # paths keep only rows whose term matches a query term. The kill
    # map rides the MAIN action as a broadcast subtree (the pruned
    # marker scan + a per-id max aggregate — exactly the frame
    # ``_marker_gens`` would collect) instead of a separate driver
    # collect per serve: one less action on the interactive path.
    if int(meta.get("tombstones", 0)):
        kdf = (
            scan_table(spark, path, predicates=[("term", "=", _TOMB_TERM)])
            .groupBy(id_col)
            .agg(F.max("_gen").alias("_kill"))
        )
        postings = (
            postings.join(F.broadcast(kdf), id_col, "left")
            .filter(F.col("_gen") >= F.coalesce(F.col("_kill"), F.lit(0)))
            .drop("_kill")
        )
    # avgdl = total_tokens / n_docs: the same exact-integer division
    # the ad-hoc path's avg("dl") performs, so both paths (and an
    # append-maintained index) score bit-for-bit identically
    return _score_postings(
        postings,
        int(meta["n_docs"]),
        int(meta["total_tokens"]) / max(int(meta["n_docs"]), 1),
        qt, id_col, k, k1, b, ndigits,
        broadcast_qside=broadcast_queries,
    )
