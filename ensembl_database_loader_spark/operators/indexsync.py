"""Incremental serving-index synchronization from a manifest source.

A curation wave lands on the corpus table as ordinary lake commits
(append / ``delete_rows`` / ``update_rows``); the serving indexes built
from that corpus — the ANN index (``build_ann_index``)
and the BM25 postings index (``build_bm25_index``) — must follow
WITHOUT a rebuild: at 100 TB a rebuild re-scans and re-writes the
whole index to account for one wave's delta. ``sync_ann_index`` /
``sync_bm25_index`` consume the source's row-level change feed
(``sinks.manifest.row_changes`` — O(changed files), never O(table))
and apply exactly the delta through ``sinks.manifest.apply_delta``:
ANN victims leave via the index's cell-scoped copy-on-write rewrite;
BM25 victims leave via O(wave) GENERATION MARKERS (deletes, updates,
and resurrections are all append-only — no postings file is ever
rewritten by a sync wave); new/updated rows stage through the
indexes' own encoders
(persisted centroids/codebooks; shared tokenizer and exact-integer
stats), and ONE atomic commit publishes the rewrite, the arrivals,
the updated index properties, the sync watermark, and the txn — so a
synced index stays ROW-IDENTICAL to one rebuilt from the target
snapshot (gated in tests), readers never observe
deletes-without-arrivals, and a replayed wave is detected at entry
(txn watermark or sync state — zero commits, zero Spark jobs beyond
one manifest read).

Single-maintainer contract (standing, from ``append_to_bm25_index``):
stats-bearing writers to one index must be serialized — the txn
watermark covers replay of the SAME wave, not two independent
concurrent syncers.

Reference analogue: the loader reloads exactly the databases a release
changed, never the whole mirror (``LoadFiles.pm:56-64``); here the
unit is one curation commit's files instead of one database.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SYNC_APP = "edls-sync"


def _resolve_window(
    spark: SparkSession,
    index_path: str,
    src_path: str,
    from_version: int | None,
    to_version: int | None,
) -> tuple[int | None, int, dict]:
    """(from_v or None-if-noop, to_v, head props). Raises when the
    index has no sync state for ``src_path`` and no ``from_version``
    was given — the first sync must say which source version the
    index contents correspond to (the snapshot it was built from)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        _txn_skip,
        latest_manifest,
        table_properties,
    )

    src_head = latest_manifest(spark, src_path)
    if src_head is None:
        raise ValueError(f"no manifest table at {src_path}")
    to_v = int(to_version if to_version is not None else src_head["version"])
    head = latest_manifest(spark, index_path)
    props = table_properties(spark, index_path)
    state = props.get("sync")
    if state is not None and state.get("src") != src_path:
        # one sync source per index: silently re-pointing would mix
        # two tables' rows under one watermark and corrupt both
        raise ValueError(
            f"index at {index_path} is synced from {state.get('src')!r} "
            f"— refusing to sync from {src_path!r} (one source per index)"
        )
    if _txn_skip(head, (_SYNC_APP, to_v)):
        return None, to_v, props
    if state is not None:
        if int(state["version"]) >= to_v:
            return None, to_v, props
        if from_version is None:
            from_version = int(state["version"])
    if from_version is None:
        raise ValueError(
            f"index at {index_path} has no sync state for {src_path!r} — "
            "pass from_version= the source version the index was built from"
        )
    if int(from_version) > to_v:
        raise ValueError(
            f"from_version {from_version} is newer than target {to_v}"
        )
    if int(from_version) == to_v:
        return None, to_v, props
    return int(from_version), to_v, props


def _noop(to_v: int) -> dict:
    return {
        "noop": True,
        "to_version": to_v,
        "deleted": 0,
        "appended": 0,
    }


def sync_ann_index(
    spark: SparkSession,
    index_path: str,
    src_path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    auto_split_hot_share: float | None = None,
) -> dict:
    """Bring a manifest-backed ANN index up to date with its source
    table's version — appends, deletes, and updates all flow through
    as ONE atomic O(delta) commit (module docstring has the protocol).

    The source must carry the index's id and vector columns (it is the
    table the index was built from). Update preimages ride the change
    feed so FLOAT-index victim pruning stays cell-scoped (the old
    vector's cell recomputes statelessly from the persisted
    centroids); quantized indexes prune by id stats + blooms as
    always. Arrivals encode through the index's own persisted
    centroids/codebooks, so synced rows are bit-identical to rebuilt
    ones (same-centroid rebuild gate in tests).

    ``auto_split_hot_share`` bounds append-driven cell skew
    mechanically (the ANN twin of BM25's ``auto_compact_ratio``):
    after a wave commits, if any cell's row share exceeds the bound —
    a METADATA-ONLY diagnostic from the manifest's per-cell counts —
    one ``split_hot_cells`` runs as its own amortized commit (hot
    cells re-cluster, every other file carried by reference, sync
    watermark preserved). The result dict reports ``cells_split``."""
    from ensembl_database_loader_spark.operators.similarity import (
        _encode_rows_for_index,
        ann_index_meta,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        apply_delta,
        row_changes,
        snapshot,
        table_properties,
    )

    meta = ann_index_meta(index_path, spark)
    from_v, to_v, _ = _resolve_window(
        spark, index_path, src_path, from_version, to_version
    )
    if from_v is None:
        return _noop(to_v)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    # appended rows must match the index's OWN schema: a float index
    # keeps every payload column the build frame carried (serving
    # returns them); a quantized index derives its stored codes from
    # (id, vec) inside the shared encoder
    if meta.get("quantized"):
        payload = [id_col, vec_col]
    else:
        idx_cols = snapshot(spark, index_path).columns
        payload = [c for c in idx_cols if c != "_cell"]
    changes = row_changes(
        spark, src_path, from_v, to_v, (id_col,), include_preimage=True
    ).persist()
    try:
        missing = sorted(set(payload) - set(changes.columns))
        if missing:
            raise ValueError(
                f"source {src_path} lacks index columns {missing} — sync "
                "needs the table the index was built from"
            )
        arrivals = changes.filter(
            F.col("change_type").isin("insert", "update")
        ).select(*payload)
        # ONE aggregate yields the victim prune scope AND the arrival
        # count (the former _ann_delete_prune collect + arrivals.count()
        # were two scheduler round trips over the same persisted
        # wave-sized frame — the sync_bm25_index single-collect
        # pattern). Float indexes need victim CELLS (stateless
        # re-assignment from the preimage vectors under the persisted
        # centroids — identical to _ann_delete_prune's scoping);
        # quantized ones prune by id stats/blooms only.
        victim = F.col("change_type").isin("delete", "update_preimage")
        if not meta.get("quantized"):
            from ensembl_database_loader_spark.operators.similarity import (
                _assign_cells,
            )

            assigned = _assign_cells(
                changes.select("change_type", F.col(id_col), F.col(vec_col)),
                vec_col,
                meta["centroids"],
            )
            row = assigned.agg(
                F.collect_set(
                    F.when(victim, F.struct("_cell", F.col(id_col)))
                ).alias("v"),
                F.sum(F.when(~victim, 1).otherwise(0))
                .cast("bigint")
                .alias("n_add"),
            ).first()
            cells = sorted({int(r["_cell"]) for r in row["v"]})
            vids = sorted({r[id_col] for r in row["v"]})
            prune: list = []
            if cells:
                prune.append(("_cell", "in", cells))
            if vids:
                prune.append((id_col, "in", vids))
            pruned = (prune, cells) if vids else None
        else:
            row = changes.agg(
                F.collect_set(F.when(victim, F.col(id_col))).alias("v"),
                F.sum(F.when(~victim, 1).otherwise(0))
                .cast("bigint")
                .alias("n_add"),
            ).first()
            vids = sorted(row["v"])
            pruned = ([(id_col, "in", vids)], []) if vids else None
        n_add = int(row["n_add"] or 0)
        out = apply_delta(
            spark,
            index_path,
            delete_prune=pruned[0] if pruned else (),
            append_df=_encode_rows_for_index(arrivals, meta),
            txn=(_SYNC_APP, to_v),
            properties={
                **table_properties(spark, index_path),
                "sync": {"src": src_path, "version": to_v},
            },
        )
    finally:
        changes.unpersist()
    if out is None:  # replayed txn raced past the entry guard
        return _noop(to_v)
    cells_split: list = []
    if auto_split_hot_share is not None:
        from ensembl_database_loader_spark.operators.similarity import (
            split_hot_cells,
        )

        cells_split = split_hot_cells(
            spark, index_path, hot_share=float(auto_split_hot_share)
        )["cells_split"]
    return {
        "noop": False,
        "from_version": from_v,
        "to_version": to_v,
        "deleted": int(out["rows_affected"]),
        "appended": int(n_add),
        "cells_split": cells_split,
    }


def sync_bm25_index(
    spark: SparkSession,
    index_path: str,
    src_path: str,
    from_version: int | None = None,
    to_version: int | None = None,
    delete_mode: str = "auto",
    auto_compact_ratio: float | None = None,
) -> dict:
    """Bring a BM25 postings index up to date with its source table —
    the lexical twin of ``sync_ann_index``, same one-commit protocol:
    victim handling, re-tokenized arrivals (shared tokenizer,
    term-sorted files), exact-integer stats, sync watermark, and txn
    all publish together.

    ``delete_mode`` picks how victim docs leave (the scattered-terms
    boundary ``delete_from_bm25_index`` documents: a multi-doc wave's
    distinct terms span most term-sorted files, so a physical rewrite
    degrades to O(index files)):

    - ``'auto'`` (default): the wave is PURE APPEND — O(wave), no
      posting file rewritten, ``removed == []`` on the commit (gated).
      Pure deletes append a GENERATION MARKER at the target version
      (kills every lower generation); updates append the marker AND
      the re-tokenized rows AT that generation (the marker kills the
      old image, spares the new); resurrected inserts re-enter at
      their existing marker's generation. Serving filters dead
      generations before the df aggregate, staying bit-identical to a
      rebuild on the live corpus; ``compact_bm25_tombstones`` reclaims
      dead rows amortized and restores snapshot bit-identity.
    - ``'rewrite'``: every victim rewrites physically — bit-identical
      snapshots immediately, O(victim-term files) cost.
    - ``'tombstone'``: alias of ``'auto'`` (kept for callers that want
      the append-only guarantee spelled at the call site).

    ``auto_compact_ratio`` bounds marker pressure mechanically: after
    a wave commits, if live markers exceed that fraction of live docs
    (``bm25.marker_pressure`` — a properties read, zero data IO), one
    ``compact_bm25_tombstones`` runs as its own amortized commit. The
    marker map's broadcast-dim contract becomes an enforced invariant
    instead of an operator habit; the result dict reports
    ``compacted``."""
    from ensembl_database_loader_spark.operators.bm25 import (
        _index_postings,
        _marker_gens,
        _toked_with_dl,
        _tombstone_rows,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        apply_delta,
        row_changes,
        snapshot,
        table_properties,
    )

    if delete_mode not in ("auto", "rewrite", "tombstone"):
        raise ValueError(
            f"delete_mode must be auto|rewrite|tombstone, got {delete_mode!r}"
        )
    props = table_properties(spark, index_path)
    meta = props.get("bm25")
    if not meta:
        raise ValueError(
            f"no bm25 index at {index_path} (missing properties)"
        )
    text_col = meta.get("text_col")
    if not text_col:
        raise ValueError(
            "bm25 index predates text_col metadata — rebuild with "
            "build_bm25_index to enable sync"
        )
    from_v, to_v, _ = _resolve_window(
        spark, index_path, src_path, from_version, to_version
    )
    if from_v is None:
        return _noop(to_v)
    id_col = meta["id_col"]
    changes = row_changes(
        spark, src_path, from_v, to_v, (id_col,), include_preimage=True
    ).persist()
    try:
        # The victim stats (docs + tokens leaving the index) come from
        # the PREIMAGES, not from an index scan: the feed's delete and
        # update_preimage rows carry the OLD text, and the index's dl
        # is size(tokens(text)) by construction (shared tokenizer) —
        # so the decrement is exact with ZERO postings IO. (The
        # standalone delete_from_bm25_index has only ids and must
        # scan; a scattered wave's terms hit most term-sorted files,
        # which is exactly the O(index) read sync avoids here.) The
        # sync invariant makes every preimage id live in the index:
        # within-window insert-then-delete rows never enter the feed
        # (their file was never part of from_version's snapshot).
        # Broadcast-dim by the delete contract: a curation wave's
        # victim list — shard wider waves into multiple syncs.
        from ensembl_database_loader_spark.operators.bm25 import (
            _nonempty_tokens,
        )

        # ONE collect drives every driver-side decision: the wave is
        # broadcast-dim by the sync contract, and each change row's
        # (type, id, dl-of-its-text) is all the classification,
        # preimage stats, and arrival stats need — the former five
        # actions (preimage collect, three distinct-id collects, the
        # arrivals stats agg) were five scheduler round trips over the
        # same persisted wave-sized frame (guide §5: the driver should
        # do almost no data work, and none of it repeatedly)
        feed = changes.select(
            "change_type",
            F.col(id_col),
            F.size(_nonempty_tokens(text_col)).cast("bigint").alias("dl"),
        ).collect()
        pre_dl = {
            r[1]: int(r[2])
            for r in feed
            if r[0] in ("delete", "update_preimage")
        }

        def _ids(*types):
            return sorted({r[1] for r in feed if r[0] in types})

        gens = _marker_gens(spark, index_path)
        upd_ids = _ids("update")
        ins_ids = _ids("insert")
        del_ids = _ids("delete")
        n_del = len(del_ids) + len(upd_ids)
        tok_del = sum(pre_dl[i] for i in del_ids + upd_ids)
        toked = _toked_with_dl(
            changes.filter(
                F.col("change_type").isin("insert", "update")
            ).select(id_col, text_col),
            id_col,
            text_col,
        )
        # exact-integer arrival stats from the SAME collect (dl is the
        # shared tokenizer's size on the arrival text for insert/update
        # rows — identical to _corpus_stats(toked) by construction)
        arr = [r for r in feed if r[0] in ("insert", "update")]
        n_add, tok_add = len(arr), sum(int(r[2]) for r in arr)
        if delete_mode in ("auto", "tombstone"):
            # PURE-APPEND wave: one marker per victim at gen=to_v
            # (source versions strictly increase, so to_v exceeds
            # every live generation); updated ids ALSO re-arrive at
            # gen=to_v — the marker kills the old image, spares the
            # new; resurrected inserts re-enter at their existing
            # marker's generation. No file is rewritten: removed == []
            # on the commit (gated in tests).
            marker_ids = del_ids + upd_ids
            arr_gens = {i: to_v for i in upd_ids}
            arr_gens.update(
                {i: gens[i] for i in ins_ids if i in gens}
            )
            phys_ids: list = []
            n_markers = len(set(gens) | set(marker_ids))
        else:  # 'rewrite': physical copy-on-write for every victim
            marker_ids = []
            arr_gens = {}
            # resurrected ids' dead rows + markers leave in this
            # commit too (the id-IN prune catches marker rows — they
            # carry the victim id), so their arrivals restart at gen 0
            resurrected = sorted(set(gens) & set(ins_ids + upd_ids))
            phys_ids = sorted(set(del_ids) | set(upd_ids) | set(resurrected))
            n_markers = len(set(gens) - set(phys_ids))
        arrivals = _index_postings(toked, id_col, gens=arr_gens)
        if marker_ids:
            arrivals = arrivals.unionByName(
                _tombstone_rows(
                    spark,
                    snapshot(spark, index_path),
                    id_col,
                    {i: to_v for i in marker_ids},
                )
            )
        out = apply_delta(
            spark,
            index_path,
            delete_prune=(
                [(id_col, "in", phys_ids)] if phys_ids else ()
            ),
            append_df=arrivals,
            txn=(_SYNC_APP, to_v),
            properties={
                **props,
                "bm25": {
                    **meta,
                    "n_docs": int(meta["n_docs"]) - n_del + n_add,
                    "total_tokens": int(meta["total_tokens"])
                    - tok_del
                    + tok_add,
                    "tombstones": n_markers,
                },
                "sync": {"src": src_path, "version": to_v},
            },
        )
    finally:
        changes.unpersist()
    if out is None:
        return _noop(to_v)
    compacted = False
    if auto_compact_ratio is not None:
        from ensembl_database_loader_spark.operators.bm25 import (
            compact_bm25_tombstones,
            marker_pressure,
        )

        if marker_pressure(spark, index_path) > float(auto_compact_ratio):
            compacted = (
                compact_bm25_tombstones(spark, index_path) is not None
            )
    return {
        "noop": False,
        "from_version": from_v,
        "to_version": to_v,
        # docs that actually LEFT the index (a victim inserted and
        # deleted within the window was never indexed — not counted;
        # updated docs leave AND return, counted here and in appended)
        "deleted": n_del,
        "tombstoned": len(del_ids) if delete_mode != "rewrite" else 0,
        "appended": int(n_add),
        "compacted": compacted,
    }


def advance_search_cycle(
    spark: SparkSession,
    root: str,
    corpus: str = "corpus",
    bm25: str | None = "bm25",
    ann: str | None = "ann",
    from_version: int | None = None,
    to_version: int | None = None,
    auto_compact_ratio: float | None = None,
    auto_split_hot_share: float | None = None,
) -> dict:
    """One curation wave → one CONSISTENT SEARCH CYCLE, in one call:
    sync every serving index under ``root`` to the corpus head (each
    an atomic O(delta) commit — BM25 waves pure-append under
    generation markers, ANN waves cell-scoped), apply the maintenance
    policies (``auto_compact_ratio`` / ``auto_split_hot_share``), then
    ``pin_group`` corpus + index versions as one root-catalog cycle
    with txn ``('cycle', to_version)`` — a reader resolving the root
    never pairs a new corpus with a stale index, and a REPLAYED
    orchestration (crash-rerun, at-least-once scheduler) publishes
    nothing anywhere: the syncs no-op on their own watermarks and the
    pin no-ops on the cycle txn.

    ``corpus``/``bm25``/``ann`` are rel paths under ``root`` (None
    skips that index). ``from_version`` is the snapshot version the
    indexes were built from, exactly as in the individual syncs —
    keep passing it until the first NON-noop sync records the
    watermark (a cycle with no wave commits nothing, so it leaves no
    sync state behind). Returns {'to_version', 'bm25', 'ann',
    'pinned'} with each sync's result dict and whether the pin
    published.

    This is the operational entrypoint a 100 TB curation pipeline
    schedules after each wave; the reference's analogue is the
    per-release reload driver (LoadFiles.pm:56-64) — reload exactly
    what changed, then publish one consistent release."""
    from ensembl_database_loader_spark.sinks.catalog_commit import (
        pin_group,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        latest_manifest,
    )

    r = root.rstrip("/")
    corpus_path = f"{r}/{corpus}"
    head = latest_manifest(spark, corpus_path)
    if head is None:
        raise ValueError(f"no corpus table at {corpus_path}")
    to_v = int(to_version if to_version is not None else head["version"])
    out: dict = {"to_version": to_v, "bm25": None, "ann": None}
    members: dict = {corpus: to_v}
    if bm25 is not None:
        out["bm25"] = sync_bm25_index(
            spark,
            f"{r}/{bm25}",
            corpus_path,
            from_version=from_version,
            to_version=to_v,
            auto_compact_ratio=auto_compact_ratio,
        )
        members[bm25] = None
    if ann is not None:
        out["ann"] = sync_ann_index(
            spark,
            f"{r}/{ann}",
            corpus_path,
            from_version=from_version,
            to_version=to_v,
            auto_split_hot_share=auto_split_hot_share,
        )
        members[ann] = None
    out["pinned"] = (
        pin_group(spark, r, members, txn=("cycle", to_v)) is not None
    )
    return out
