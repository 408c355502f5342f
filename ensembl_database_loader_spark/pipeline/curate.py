"""Corpus curation pipeline: the user-facing composition of the
training-data operators — quality filter -> exact dedup -> near-dup
dedup -> token accounting — as one DataFrame-in, DataFrame-out call
plus a funnel-stats frame.

This is the shape a pretraining data pipeline actually runs at 100 TB:
each stage is a narrow transformation or a bucketed join from
operators/ (no new shuffle classes introduced here), so the composed
plan inherits the per-operator scale properties. Stage semantics are
deliberately SQL-expressible so the whole funnel is oracle-checkable
end to end (probe ``llp_curation_funnel``).

Near-dup survivor rule: a document is dropped iff some near-dup PAIR
links it to a smaller-id document ("keep first"). This is the standard
greedy approximation — exact cluster-level dedup needs connected
components (see the iterative operator in operators/components.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ensembl_database_loader_spark.functions.text import normalize_text, tokens
from ensembl_database_loader_spark.operators.dedup import (
    _jaccard,
    minhash_band_keys_from_shingles,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    with_shingles,
)
from ensembl_database_loader_spark.operators.textstats import with_quality_score
from ensembl_database_loader_spark.session import local_frame


def _near_dup_pairs(
    exact: DataFrame,
    strategy: str,
    jaccard_threshold: float,
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """The strategy-selectable near-dup stage over the exact-dedup
    survivors; every strategy returns (id1, id2, jaccard >= threshold).

    - ``prefix`` (default): PPJoin prefix-filtered exact Jaccard —
      identical pairs to ``inverted`` (equivalence-tested) but hot
      shingles never enter the index, so a heavy-tailed real corpus
      can't blow up the freq^2 join term. The safe default at 100 TB.
    - ``inverted``: plain inverted-index exact Jaccard — one shuffle
      cheaper; fine when the shingle frequency tail is known benign
      (e.g. pre-filtered or synthetic corpora).
    - ``minhash``: MinHash-LSH candidates verified by exact Jaccard —
      sub-linear candidate generation; precision stays exact (verify
      step) but recall follows the LSH S-curve, so the kept set can
      only GROW vs the exact strategies (fewer detected pairs =>
      fewer drops).

    ``shingles``/``bands`` (minhash only): precomputed — typically
    cut — (id, shingles) / (id, band, key) frames so candidate
    generation and the Jaccard verify reuse ONE Arrow shingle pass
    instead of re-deriving both from text (pairs are identical)."""
    if strategy == "prefix":
        return ngram_jaccard_pairs_prefix(
            exact, "id", "text", "blk", n=3, threshold=jaccard_threshold
        )
    if strategy == "inverted":
        return ngram_jaccard_pairs(
            exact, "id", "text", "blk", n=3, threshold=jaccard_threshold
        )
    if strategy == "minhash":
        from ensembl_database_loader_spark.operators.dedup import (
            minhash_lsh_candidates,
        )

        # restrict LSH candidates to the same block before the exact
        # verify — the funnel's near-dup stage is block-scoped in every
        # strategy (the unblocked operator would drop cross-block
        # near-dups the exact strategies never consider)
        blk = exact.select("id", "blk")
        cand = (
            minhash_lsh_candidates(exact, "id", "text", n=3, bands=bands)
            .join(
                blk.select(F.col("id").alias("id1"), F.col("blk").alias("_b1")),
                "id1",
            )
            .join(
                blk.select(F.col("id").alias("id2"), F.col("blk").alias("_b2")),
                "id2",
            )
            .filter(F.col("_b1") == F.col("_b2"))
            .select("id1", "id2")
        )
        return minhash_lsh_pairs(
            exact, "id", "text", threshold=jaccard_threshold, n=3,
            candidates=cand, shingles=shingles,
        )
    raise ValueError(
        f"unknown near_dup strategy {strategy!r}; "
        "expected 'prefix' | 'inverted' | 'minhash'"
    )


def curate_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    min_quality: int = 2,
    jaccard_threshold: float = 0.8,
    cluster_exact: bool = False,
    near_dup: str = "prefix",
    store_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the curation funnel; returns (kept_docs, stats).
    ``store_path`` bootstraps the incremental fingerprint store from
    this run's exact survivors (see ``curate_increment``).

    Stages:
    1. quality: heuristic score (length/diversity/token-shape) >= min_quality
    2. exact:   one survivor per normalized text (smallest id wins —
                deterministic, unlike dropDuplicates' arbitrary pick)
    3. neardup: pair generation per ``near_dup`` strategy
                ('prefix' default | 'inverted' | 'minhash' — see
                ``_near_dup_pairs`` for the trade-offs; 'prefix' and
                'inverted' produce identical pairs, 'minhash' is the
                sub-linear approximate path). Survivor rule:
                ``cluster_exact=False`` (default) drops any doc with a
                >=threshold Jaccard pair to ANY smaller-id document
                (whether or not that document itself survives — the
                keep-first greedy rule, matching the oracle);
                ``cluster_exact=True`` computes
                connected components of the pair graph and keeps only
                each cluster's minimum id (exact, costs O(diameter)
                extra rounds)

    ``stats`` is a 1-row frame: n_input, n_quality, n_exact, n_kept,
    tokens_kept — the funnel numbers every curation run reports.

    The call runs eagerly: multi-consumer stages are cut with
    ``localCheckpoint(eager=True)`` (freed by the ContextCleaner, never
    in the catalog cache) and ``stats`` is counted on the cut leaves. A
    lost executor fails a later action on ``kept`` instead of a recompute."""
    base = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"), F.col(text_col).alias("text"))

    scored = with_quality_score(base, "text")
    quality = scored.filter(F.col("quality_score") >= min_quality).select(
        "id", "blk", "text"
    )

    # exact dedup, smallest id per normalized text (deterministic)
    from pyspark.sql import Window

    w = Window.partitionBy(normalize_text("text")).orderBy("id")
    exact = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=True)
    )

    # One Arrow shingle pass per funnel: the minhash strategy and the
    # fingerprint store both need the distinct-shingle arrays AND the
    # band keys derived from them — computed once over the exact leaf
    # and cut, they feed candidate generation, the Jaccard verify, and
    # both store files.
    shg = bands = None
    if near_dup == "minhash" or store_path is not None:
        shg = with_shingles(exact, "id", "text", _STORE_N).localCheckpoint(eager=True)
        bands = minhash_band_keys_from_shingles(
            shg, "id", "shingles", _STORE_NUM_HASHES, _STORE_ROWS_PER_BAND
        ).localCheckpoint(eager=True)

    pairs = _near_dup_pairs(exact, near_dup, jaccard_threshold, shg, bands)
    if cluster_exact:
        # exact cluster-level dedup: transitive closure of the pair
        # graph, keep the minimum id of every component
        from ensembl_database_loader_spark.operators.components import (
            connected_components,
        )

        labels = connected_components(exact.select("id"), pairs.select("id1", "id2"))
        survivors = labels.filter(F.col("id") == F.col("component")).select("id")
        kept = exact.join(survivors, "id", "left_semi")
    else:
        # keep-first greedy: drop any doc a pair links to a smaller id
        dropped = pairs.select(F.col("id2").alias("id")).distinct()
        kept = exact.join(dropped, "id", "left_anti")
    kept = kept.localCheckpoint(eager=True)

    stats = _funnel_stats(scored, min_quality, exact, kept)
    if store_path is not None:
        write_fingerprint_store(exact, store_path, shingles=shg, bands=bands)
    return kept, stats


def _funnel_stats(
    scored: DataFrame, min_quality: int, exact: DataFrame, kept: DataFrame
) -> DataFrame:
    """The funnel's stats row: n_input and n_quality from one aggregate
    over the quality-scored input, the rest counted on the cut leaves;
    typed as the aggregates are (a sum over no rows is null)."""
    n_input, n_quality = scored.agg(
        F.count(F.lit(1)), F.count_if(F.col("quality_score") >= min_quality)
    ).first()
    n_kept, tokens_kept = kept.agg(
        F.count(F.lit(1)), F.sum(F.size(tokens("text"))).cast("bigint")
    ).first()
    counts = dict(n_input=n_input, n_quality=n_quality, n_exact=exact.count(),
                  n_kept=n_kept, tokens_kept=tokens_kept)
    schema = StructType([StructField(c, LongType(), c == "tokens_kept") for c in counts])
    return local_frame(kept.sparkSession, [tuple(counts.values())], schema)


# ---------------------------------------------------------------------------
# Incremental / cross-run dedup
#
# The recurring-ingest workload: batch N+1 must be deduplicated against
# the corpus already curated in batches 1..N WITHOUT recomputing old
# signatures. The persisted fingerprint store holds, for every
# EXACT-STAGE SURVIVOR (not just the kept set — the keep-first rule
# drops a doc that pairs with any smaller-id exact survivor, whether or
# not that survivor itself was later near-dup-dropped):
#
#   exact_sigs: (id, blk, sha, sh)  — sha2(normalized text) for the
#               exact stage, the distinct-shingle array for Jaccard
#               verification of LSH candidates
#   band_keys:  (id, band, key)     — MinHash-LSH band keys (candidate
#               generation against new batches is a bucket join on
#               (band, key), never a corpus scan)
#
# Invariant: ids are globally monotone across batches (new ids > every
# stored id — the natural property of crawl ingest). Under it,
# curate_increment(batch2) after curate_corpus(batch1, store_path=...)
# produces EXACTLY the one-shot curate_corpus(batch1 ∪ batch2,
# near_dup='minhash') result (probe llp_incremental_dedup hash-gates
# this).
# ---------------------------------------------------------------------------

_STORE_N = 3
_STORE_NUM_HASHES = 8
_STORE_ROWS_PER_BAND = 2


def _store_signatures(
    exact: DataFrame, shingles: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(exact_sigs, band_keys) for a frame of exact-stage survivors.
    Pass a precomputed (cut or persisted) ``shingles`` frame so the sigs join
    and the band keys share ONE Arrow shingle pass; band keys always
    derive from the same shingle frame the sigs carry (bit-identical
    to deriving them from text — pinned in tests)."""
    sh_frame = (
        shingles
        if shingles is not None
        else with_shingles(exact, "id", "text", _STORE_N)
    )
    # shuffle_hash hint: both sides are corpus-sized and the shingle
    # side's stats are UDF-opaque — never let Catalyst broadcast it
    # (same posture as the dedup verify joins)
    sigs = exact.select(
        "id",
        "blk",
        F.sha2(normalize_text("text"), 256).alias("sha"),
    ).join(
        sh_frame.withColumnRenamed("shingles", "sh").hint("shuffle_hash"),
        "id",
    )
    bands = minhash_band_keys_from_shingles(
        sh_frame, "id", "shingles", _STORE_NUM_HASHES, _STORE_ROWS_PER_BAND
    )
    return sigs, bands


def _snapshot_files(spark, path: str) -> list[str]:
    """List a store directory's data files at call time (Hadoop FS, so
    any scheme works). Reading these EXPLICIT paths pins the snapshot:
    a later append to the directory cannot leak into plans built from
    the list, even across cache invalidation."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        raise FileNotFoundError(f"store missing: {path}")
    files = [
        st.getPath().toString()
        for st in fs.listStatus(hpath)
        if st.isFile() and not st.getPath().getName().startswith(("_", "."))
    ]
    if not files:
        raise FileNotFoundError(f"store empty: {path}")
    return files


def write_fingerprint_store(
    exact: DataFrame,
    store_path: str,
    mode: str = "overwrite",
    shingles: DataFrame | None = None,
    bands: DataFrame | None = None,
) -> None:
    """Persist (or append to) the fingerprint store at ``store_path``.
    ``shingles``/``bands`` reuse frames the caller already computed
    (identical rows either way)."""
    sigs, derived = _store_signatures(exact, shingles=shingles)
    sigs.write.mode(mode).parquet(store_path + "/exact_sigs")
    (bands if bands is not None else derived).write.mode(mode).parquet(
        store_path + "/band_keys"
    )


def curate_increment(
    new_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    min_quality: int = 2,
    jaccard_threshold: float = 0.8,
    update_store: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Curate a NEW batch against the persisted fingerprint store plus
    itself; returns (kept_new_docs, stats) with the same funnel-stats
    shape as ``curate_corpus`` (counts are for the new batch only).
    Runs eagerly with cut stages, as ``curate_corpus`` does.

    Old signatures are never recomputed: the exact stage anti-joins the
    new batch's sha2 against the store, and near-dup candidates against
    the old corpus come from a (band, key) bucket join with the stored
    band keys — both shuffles scale with the NEW batch plus matched
    buckets, not the historical corpus. Verification (exact Jaccard on
    the stored shingle arrays) touches candidates only.

    ``update_store=True`` appends the new exact survivors' signatures
    to the store so the next increment composes. The store is read as a
    SNAPSHOT (the file list is pinned at call time) and ``kept`` is cut
    before the append, so it never sees its own appended output. (A
    directory read + persist is NOT enough: writing to a path
    invalidates every cached plan on that path, and the recompute would
    read the appended files — measured as kept==0 self-poisoning.)

    Requires new ids > every stored id (monotone ingest)."""
    spark = new_df.sparkSession
    base = new_df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.col(text_col).alias("text"),
    )
    scored = with_quality_score(base, "text")
    quality = scored.filter(F.col("quality_score") >= min_quality).select(
        "id", "blk", "text"
    )

    from pyspark.sql import Window

    # snapshot-isolate the store: read the explicit files present NOW
    old_sigs = spark.read.parquet(*_snapshot_files(spark, store_path + "/exact_sigs"))
    old_bands = spark.read.parquet(*_snapshot_files(spark, store_path + "/band_keys"))

    w = Window.partitionBy(normalize_text("text")).orderBy("id")
    exact = (
        quality.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .withColumn("_sha", F.sha2(normalize_text("text"), 256))
        .join(
            old_sigs.select(F.col("sha").alias("_sha")).distinct(),
            "_sha",
            "left_anti",
        )
        .drop("_sha")
        .localCheckpoint(eager=True)
    )

    new_sigs, _ = _store_signatures(exact)
    new_sigs = new_sigs.localCheckpoint(eager=True)
    # band keys derive from the cut sigs' shingle arrays — the four
    # consumers below (old-bucket join, both sides of the new-vs-new
    # self-join, the store append) share one Arrow shingle pass, and
    # the small (4 rows/doc) band frame is cut too so the explode+MIN
    # aggregate also runs once.
    new_bands = minhash_band_keys_from_shingles(
        new_sigs.select("id", F.col("sh").alias("shingles")),
        "id",
        "shingles",
        _STORE_NUM_HASHES,
        _STORE_ROWS_PER_BAND,
    ).localCheckpoint(eager=True)

    # new-vs-old: bucket join on stored band keys, exact-Jaccard verify
    cand_old = (
        new_bands.alias("nb")
        .join(
            old_bands.alias("ob"),
            (F.col("nb.band") == F.col("ob.band"))
            & (F.col("nb.key") == F.col("ob.key")),
        )
        .select(F.col("ob.id").alias("old_id"), F.col("nb.id").alias("new_id"))
        .distinct()
    )
    dropped_vs_old = (
        cand_old.join(
            old_sigs.select(
                F.col("id").alias("old_id"),
                F.col("blk").alias("_ob"),
                F.col("sh").alias("_os"),
            ),
            "old_id",
        )
        .join(
            new_sigs.select(
                F.col("id").alias("new_id"),
                F.col("blk").alias("_nb"),
                F.col("sh").alias("_ns"),
            ),
            "new_id",
        )
        .filter(
            (F.col("_ob") == F.col("_nb"))
            & (_jaccard(F.col("_os"), F.col("_ns")) >= jaccard_threshold)
        )
        .select(F.col("new_id").alias("id"))
        .distinct()
    )

    # new-vs-new: block-scoped minhash within the new exact survivors —
    # semantically identical to curate_corpus's 'minhash' strategy, but
    # REUSING the band keys and shingle arrays already computed for the
    # store (the strategy helper would re-derive both: one extra shuffle
    # plus a full shingle-UDF pass per increment)
    cand_new = (
        new_bands.alias("a")
        .join(
            new_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    dropped_vs_new = (
        cand_new.join(
            new_sigs.select(
                F.col("id").alias("id1"),
                F.col("blk").alias("_b1"),
                F.col("sh").alias("_s1"),
            ),
            "id1",
        )
        .join(
            new_sigs.select(
                F.col("id").alias("id2"),
                F.col("blk").alias("_b2"),
                F.col("sh").alias("_s2"),
            ),
            "id2",
        )
        .filter(
            (F.col("_b1") == F.col("_b2"))
            & (_jaccard(F.col("_s1"), F.col("_s2")) >= jaccard_threshold)
        )
        .select(F.col("id2").alias("id"))
        .distinct()
    )

    kept = exact.join(
        dropped_vs_old.unionByName(dropped_vs_new).distinct(), "id", "left_anti"
    ).localCheckpoint(eager=True)

    stats = _funnel_stats(scored, min_quality, exact, kept)
    if update_store:
        new_sigs.write.mode("append").parquet(store_path + "/exact_sigs")
        new_bands.write.mode("append").parquet(store_path + "/band_keys")
    return kept, stats


# ---------------------------------------------------------------------------
# Incremental SEMANTIC dedup (the SemDeDup twin of the fingerprint store)
#
# The text path above never recomputes old signatures; this section
# gives the embedding path the same property. The store persists, for
# every prior-batch row, its vector and its IVF cell assignment, plus
# the trained centroids — so a NEW batch is (1) cell-assigned with the
# STORED centroids (one Arrow GEMM pass, stateless), (2) paired against
# stored vectors of the SAME CELL only (embedding_cross_pairs — the old
# corpus is never re-paired against itself), and (3) deduped within
# itself cell-scoped. Under the monotone-id invariant the two-batch
# result is EXACTLY the one-shot semantic_dedup(union, candidates='ivf',
# centroids=same) result (pinned by
# tests/test_llm_ops.py::test_semantic_increment_equals_one_shot and
# probe dd_semantic_dedup_incr).
# ---------------------------------------------------------------------------


def write_semantic_store(
    df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    mode: str = "overwrite",
) -> list[list[float]]:
    """Persist the semantic fingerprint store: every row's (id, vector,
    IVF cell) at ``store_path + '/sem_vectors'`` and the centroids in
    ``_sem_meta.json``. Store ALL rows that ENTERED semantic dedup (not
    just survivors): keep-first drops a new row that pairs with ANY
    smaller-id row, whether or not that row itself survived — same
    contract as the text store's exact-stage survivors. Returns the
    centroids used (grid init by default; pass
    ``kmeans_centroids(...)`` for trained cells)."""
    import json
    import os

    from ensembl_database_loader_spark.operators.similarity import (
        _assign_cells,
        _grid_centroids,
    )

    if centroids is None:
        centroids = _grid_centroids(df, id_col, vec_col, n_cells)
    assigned = _assign_cells(df, vec_col, centroids).select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
        "_cell",
    )
    assigned.write.mode(mode).parquet(store_path + "/sem_vectors")
    os.makedirs(store_path, exist_ok=True)
    with open(os.path.join(store_path, "_sem_meta.json"), "w") as f:
        json.dump({"centroids": centroids, "n_cells": len(centroids)}, f)
    return centroids


def semantic_store_centroids(store_path: str) -> list[list[float]]:
    import json
    import os

    with open(os.path.join(store_path, "_sem_meta.json")) as f:
        return json.load(f)["centroids"]


def semantic_dedup_increment(
    new_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    num_blocks: int = 4,
    update_store: bool = True,
) -> DataFrame:
    """Semantically dedup a NEW batch against the persisted semantic
    store plus itself; returns the kept new rows (input columns
    unchanged). Requires new ids > every stored id (monotone ingest —
    the shared increment invariant).

    Stored vectors are never re-embedded, re-assigned, or re-paired:
    the only work against history is the same-cell cross-pair join,
    which scales with |new batch| x (matched cells' stored rows /
    n_cells), not with the corpus. The store is read as a pinned
    snapshot (explicit file list) so ``update_store=True``'s append can
    never leak into the returned lazy frame."""
    from ensembl_database_loader_spark.operators.similarity import (
        _assign_cells,
        embedding_cross_pairs,
        embedding_neardup_pairs,
    )

    spark = new_df.sparkSession
    centroids = semantic_store_centroids(store_path)
    old = spark.read.parquet(
        *_snapshot_files(spark, store_path + "/sem_vectors")
    )
    assigned = _assign_cells(new_df, vec_col, centroids)

    # new-vs-old: directed same-cell cross pairs; every stored id is
    # smaller than every new id, so any hit drops the NEW row
    dropped_old = (
        embedding_cross_pairs(
            old.select(F.col("id"), F.col("vec"), "_cell"),
            assigned.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("vec"),
                "_cell",
            ),
            "id",
            "vec",
            threshold=threshold,
            num_blocks=num_blocks,
            group_cols=("_cell",),
        )
        .select(F.col("id_right").alias(id_col))
        .distinct()
    )
    # new-vs-new: cell-scoped keep-first within the batch
    dropped_new = (
        embedding_neardup_pairs(
            assigned,
            id_col,
            vec_col,
            threshold=threshold,
            num_blocks=num_blocks,
            group_cols=("_cell",),
        )
        .select(F.col("id2").alias(id_col))
        .distinct()
    )
    kept = new_df.join(
        dropped_old.unionByName(dropped_new).distinct(), id_col, "left_anti"
    )
    if update_store:
        write_semantic_store(
            new_df, store_path, id_col, vec_col,
            centroids=centroids, mode="append",
        )
    return kept
