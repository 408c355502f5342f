"""BM25 sparse retrieval over a document corpus — the lexical sibling
of the dense-ANN stack (operators/similarity.py): a materialized
postings INDEX (a manifest table with bloom-filtered term lookups) and
one query function, ``bm25_topk``, that scores query waves against it
with the Okapi BM25 weighting — the corpus is tokenized once, at build.

Reference scope: the reference engine (Ensembl/ensembl-database-loader)
delegates all querying to MySQL and has no retrieval surface; this is
part of the training-data-pipeline extension the engine targets
(contamination sweeps, near-dup triage, RAG candidate generation all
want a cheap lexical top-k next to the embedding one).

Scale shape (the part that matters at 100 TB):
- the index stores (term, doc, tf, dl) postings as a manifest table
  with a BLOOM FILTER on ``term`` (sinks/manifest.py `bloom_cols`) and
  term-sorted files; corpus stats (N, total tokens) are exact integers
  in table properties, versioned WITH the postings (same commit), and
  df per term derives from the postings at query time;
- the kind of query wave picks the serving shape: a driver LIST of
  (qid, qtext) tokenizes in ONE JVM collect and reads the postings
  through ONE ``term IN`` predicate, so manifest [min, max] stats and
  the term bloom skip every file holding none of the wave's terms; a
  DATAFRAME wave tokenizes executor-side and SHUFFLE-joins the postings
  snapshot on ``term`` — no driver collect, the corpus-scale sweep
  shape;
- deletes are O(wave) generation-marker appends; serving drops dead
  generations BEFORE the df aggregate, and ``compact_bm25_tombstones``
  reclaims them amortized;
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


def _query_terms(queries: DataFrame, qid_col: str, qtext_col: str) -> DataFrame:
    """(_qid, term) pairs — DISTINCT terms per query row (BM25 scores
    each term once however often it repeats in the query text),
    tokenized by the same JVM tokenizer the index was built with."""
    return queries.select(
        F.col(qid_col).alias("_qid"),
        F.explode(F.array_distinct(_nonempty_tokens(qtext_col))).alias("term"),
    )


def _literal_df(spark, rows: list[tuple], schema: str) -> DataFrame:
    """Bounded-slice literal frame (see functions/frames.literal_frame)."""
    from ensembl_database_loader_spark.functions.frames import literal_frame

    return literal_frame(spark, rows, schema)


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


# ---------------------------------------------------------------------------
# Postings index: build and maintenance (manifest table, bloom-pruned)
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
    ``bm25_topk``)."""
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
    terms' ranges at most), so the ID bloom is what lets
    ``compact_bm25_tombstones`` prove absence and carry most of the
    index by reference instead of candidate-rewriting every file
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
    txn: tuple[str, int] | None = None,
) -> dict | None:
    """Remove documents from the postings index as ONE O(wave) append
    commit: GENERATION MARKER rows (term = ``_TOMB_TERM``, gen = the
    victim's live generation + 1 — kills every row strictly below) plus
    the exact corpus-stats decrement (n_docs, total_tokens) in the same
    commit, so idf/avgdl never keep counting a deleted doc. No posting
    file is rewritten: a scattered wave's distinct terms span most
    term-sorted files, so a physical delete would cost O(index files),
    about a rebuild. Serving filters dead generations out BEFORE the df
    aggregate, so scores stay BIT-IDENTICAL to a rebuild on the
    survivors (gated in tests) — the Lucene-style deferred delete
    without Lucene's stale-df scoring drift. A deleted id may re-enter
    via ``append_to_bm25_index`` at the marker's generation
    (resurrection, O(batch)); ``compact_bm25_tombstones`` reclaims dead
    postings and markers physically, amortized. ``doc_ids`` is
    broadcast-dim (a curation wave's drop list); ids with no live rows
    (never indexed, or already dead) are excluded from the wave
    (idempotent re-delete). Returns the commit manifest, or None when
    no victim is live or ``txn`` was already applied."""
    from ensembl_database_loader_spark.sinks.manifest import (
        snapshot,
        table_properties,
        write_table,
    )

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
        # merged map, as in append: foreign property keys survive deletes
        properties={
            **props,
            "bm25": {
                **meta,
                "n_docs": int(meta["n_docs"]) - len(live),
                "total_tokens": int(meta["total_tokens"])
                - sum(dl for dl, _ in live.values()),
                "tombstones": len(set(gens) | set(live)),
            },
        },
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


def bm25_topk(
    spark: SparkSession,
    path: str,
    queries,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    ndigits: int = 2,
    qid_col: str = "qid",
    qtext_col: str = "qtext",
) -> DataFrame:
    """Top-``k`` BM25 matches per query against a postings index
    (``build_bm25_index``): (qid, <id_col>, score, rank), rank 1..k per
    query, ties broken on the doc id. The corpus is never re-tokenized.

    ``queries`` is either a driver-side list of (qid, qtext) — int or
    str qids — or a DataFrame with ``qid_col`` and ``qtext_col``; the
    kind of wave picks the shape, and both return identical rows:

    - list (interactive waves): ONE JVM tokenize+collect job turns the
      wave into (qid, term) literals, the postings scan carries ONE
      ``term IN`` predicate (manifest [min, max] stats and the term
      bloom skip every file holding none of the terms), and the query
      side broadcasts into the scoring join. A duplicate qid raises
      ValueError before any job — two rows under one qid would
      silently union their terms;
    - DataFrame (corpus-scale sweeps): the wave tokenizes
      executor-side and SHUFFLE-joins the postings snapshot on
      ``term`` — no driver collect, no broadcast-width cap; a
      million-query sweep's term set covers most files anyway, so the
      lost file skipping is the right trade. Building the plan runs no
      Spark job.

    A wave with no terms returns an EMPTY frame with the output schema.
    An index whose id column is named ``qid`` raises ValueError (the
    output would carry two ``qid`` columns)."""
    from pyspark.sql import Window

    from ensembl_database_loader_spark.operators.similarity import (
        _per_query_topk,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        scan_table,
        snapshot,
        table_properties,
    )

    meta = table_properties(spark, path).get("bm25")
    if not meta:
        raise ValueError(f"no bm25 index at {path} (missing properties)")
    id_col = meta["id_col"]
    if id_col == "qid":
        raise ValueError(
            f"bm25 index at {path} has id_col 'qid', which collides with "
            "the output's qid column — rebuild it under another id name"
        )

    if isinstance(queries, DataFrame):
        # qt feeds BOTH the postings pre-filter (a semi join) and the
        # scoring join: the two branches share qt's tokenize+distinct
        # exchange, which the engine runs once and reuses, so the wave
        # needs no cache that could outlive the call. Sentinel ''-term
        # rows can never match (the tokenizer drops empties)
        qt = _query_terms(queries, qid_col, qtext_col).distinct()
        postings = snapshot(spark, path).join(qt, "term", "left_semi")
    else:
        wave = list(queries)
        n_q = len({q for q, _ in wave})
        if n_q != len(wave):
            raise ValueError(
                f"duplicate qid values in the query wave ({len(wave)} rows, "
                f"{n_q} distinct) — dedupe or re-key the queries first"
            )
        qid_type = (
            "string" if wave and all(isinstance(q, str) for q, _ in wave)
            else "bigint"
        )
        # unique qids + per-row array_distinct: the collect needs no
        # distinct shuffle
        qrows = [
            tuple(r)
            for r in _query_terms(
                _literal_df(spark, wave, f"_q {qid_type}, _t string"), "_q", "_t"
            ).collect()
        ]
        terms = sorted({t for _, t in qrows})
        qt = F.broadcast(_literal_df(spark, qrows, f"_qid {qid_type}, term string"))
        # one IN predicate: [min, max] stats prune by the term-sorted
        # layout, the term bloom prunes the stragglers, and scan_table
        # still applies the row filter; a no-terms wave scores nothing
        postings = (
            scan_table(spark, path, predicates=[("term", "in", terms)])
            if terms
            else snapshot(spark, path).limit(0)
        )
    # dead generations (tombstoned docs, superseded update images)
    # leave serving BEFORE the df aggregate, so idf is computed over
    # the LIVE corpus — scores stay bit-identical to a rebuild (no
    # Lucene-style stale-df drift); zero cost when the marker count
    # property is 0. Marker rows themselves never reach here: both
    # shapes keep only rows whose term matches a query term. The kill
    # map rides the MAIN action as a broadcast subtree (the pruned
    # marker scan + a per-id max aggregate) instead of a separate
    # driver collect per serve.
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
    # per-term df as a COUNT OVER (PARTITION BY term) window on the one
    # pass over the matched postings (a separate groupBy(term) branch
    # would scan them twice); avgdl = total_tokens / n_docs from the
    # exact-integer properties, so an append-maintained index scores
    # bit-for-bit like a rebuild
    n_docs = int(meta["n_docs"])
    postings = postings.withColumns(
        {
            "df": F.count(F.lit(1)).over(Window.partitionBy("term")).cast("bigint"),
            "n_docs": F.lit(n_docs).cast("bigint"),
            "avgdl": F.lit(int(meta["total_tokens"]) / max(n_docs, 1)),
        }
    )
    scored = (
        postings.join(qt, "term")
        .select("_qid", F.col(id_col), _bm25_score(float(k1), float(b)).alias("_c"))
        .groupBy("_qid", id_col)
        .agg(F.round(F.sum("_c"), 6).alias("_score"))
    )
    return _per_query_topk(
        scored, "_qid", id_col, "_score", ascending=False, k=int(k)
    ).select(
        F.col("_qid").alias("qid"),
        F.col(id_col),
        F.round("_score", int(ndigits)).alias("score"),
        "rank",
    )
