"""The per-cell GEMM batch scorer (similarity._gemm_cell_scores via
ivf_topk_many_indexed(scorer='gemm')): row-identical to the codegen
pair-expression plan on float and int8 indexes, exclude_self parity,
and the plan gates (cogrouped Arrow exchange + cell-pruned scan)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.similarity import (
    build_ann_index,
    ivf_topk_many_indexed,
)

DIM = 16
N_CLUSTERS = 8
PER_CLUSTER = 40


@pytest.fixture(scope="module")
def clustered(spark):
    rows = []
    for c in range(N_CLUSTERS):
        s = [math.sin(c * 23.7 + i * 1.91) for i in range(DIM)]
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


def _queries(clustered, n=6):
    return clustered.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )


def _diff(a, b):
    return a.exceptAll(b).unionAll(b.exceptAll(a)).count()


@pytest.mark.parametrize("quantized", [False, True])
def test_gemm_row_identical_to_expr(spark, clustered, tmp_path, quantized):
    path = str(tmp_path / f"idx_{quantized}")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
        quantized=bool(quantized),
    )
    q = _queries(clustered)
    expr = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=5, n_probe=2, exclude_self=True
    )
    gemm = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=5, n_probe=2, exclude_self=True,
        scorer="gemm",
    )
    assert _diff(expr, gemm) == 0
    assert gemm.count() == 6 * 5


def test_gemm_keeps_self_when_not_excluded(spark, clustered, tmp_path):
    path = str(tmp_path / "idx_self")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS)
    q = _queries(clustered, n=3)
    gemm = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=1, n_probe=2, scorer="gemm"
    )
    assert {(r.qid, r.vec_id) for r in gemm.collect()} == {
        (i, i) for i in range(3)
    }


def test_gemm_plan_cogroups_and_prunes(spark, clustered, tmp_path):
    path = str(tmp_path / "idx_plan")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS)
    q = _queries(clustered, n=2)
    gemm = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=3, n_probe=2, scorer="gemm"
    )
    gemm.collect()
    plan = gemm._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # the scan carries a partition filter over the probed cells only
    # (inputFiles() reports the pre-prune listing, so gate the plan)
    import re

    m = re.search(r"PartitionFilters: \[_cell#\d+ IN \(([\d,]+)\)", plan)
    assert m, f"no cell partition filter in plan:\n{plan[:2000]}"
    assert 0 < len(m.group(1).split(",")) < N_CLUSTERS


def test_bad_scorer_raises(spark, clustered, tmp_path):
    path = str(tmp_path / "idx_bad")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS)
    with pytest.raises(ValueError, match="scorer"):
        ivf_topk_many_indexed(
            spark, path, _queries(clustered, 2), "qid", "qvec", scorer="nope"
        )


def test_rebalance_fixes_skewed_cells(spark, clustered, tmp_path):
    """A drifted index (all rows concentrated in a couple of cells by
    bad centroids) re-clusters in place: max cell share drops, contents
    are preserved, the rebalance is ONE commit, and restore_table rolls
    the layout AND centroids back metadata-only."""
    from ensembl_database_loader_spark.operators.similarity import (
        ann_index_meta,
        ivf_topk_indexed,
        rebalance_ann_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        latest_manifest,
        restore_table,
        snapshot,
    )

    path = str(tmp_path / "skewed")
    # 8 near-identical centroids: every row lands in the argmax-tie
    # winner — the worst-case hot cell an unlucky ingest drifts into
    base = clustered.filter(F.col("vec_id") == 0).first()["embedding"]
    bad = [[x + 1e-9 * i for x in base] for i in range(N_CLUSTERS)]
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
        centroids=bad,
    )
    v0 = int(latest_manifest(spark, path)["version"])
    n0 = snapshot(spark, path).count()

    out = rebalance_ann_index(spark, path, txn=("maint", 1))
    # near-parallel centroids split rows across ~2 cells by fp ties
    # (max share ~4x the balanced 1/8); re-clustering on the natural
    # 8-cluster structure restores ~uniform shares
    assert out["max_share_before"] >= 0.5
    assert out["max_share_after"] <= 0.3
    assert out["max_share_after"] < out["max_share_before"]
    assert out["version"] == v0 + 1
    assert int(latest_manifest(spark, path)["version"]) == v0 + 1

    s = snapshot(spark, path)
    assert s.count() == n0
    assert s.select("_cell").distinct().count() > 1
    # serving recall on the re-clustered layout: a cluster-0 query's
    # top-5 are its 5 nearest cluster-0 siblings
    q = list(
        clustered.filter(F.col("vec_id") == 0).first()["embedding"]
    )
    got = ivf_topk_indexed(spark, path, q, k=5, n_probe=2, exclude_id=0)
    assert all(r["vec_id"] % N_CLUSTERS == 0 for r in got.collect())

    # exactly-once: the replayed maintenance txn commits nothing
    replay = rebalance_ann_index(spark, path, txn=("maint", 1))
    assert replay["version"] is None
    assert int(latest_manifest(spark, path)["version"]) == v0 + 1

    # rollback: layout and properties (centroids) both restore
    restore_table(spark, path, v0)
    assert snapshot(spark, path).count() == n0
    assert ann_index_meta(path, spark)["centroids"] == bad


def test_rebalance_guards(spark, clustered, tmp_path):
    import pytest as _pytest

    from ensembl_database_loader_spark.operators.similarity import (
        rebalance_ann_index,
    )

    pq = str(tmp_path / "pq")
    build_ann_index(
        clustered, "vec_id", "embedding", pq, n_cells=4, quantized="pq",
        pq_m=8, pq_k=8,
    )
    with _pytest.raises(ValueError, match="PQ"):
        rebalance_ann_index(spark, pq)


@pytest.mark.parametrize("refine", [0, 10])
def test_pq_gemm_row_identical_to_expr(spark, clustered, tmp_path, refine):
    """The PQ twin: per-cell vectorized ADC (scorer='gemm') emits the
    same rows as the broadcast pair-expression ADC plan, with and
    without full-precision refine."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed_df,
    )

    path = str(tmp_path / f"pqg_{refine}")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
        quantized="pq", pq_m=8, pq_k=8,
    )
    q = _queries(clustered)
    kw = dict(k=5, n_probe=2, exclude_self=True, refine=refine)
    if refine:
        kw["corpus"] = clustered
    expr = pq_topk_many_indexed_df(spark, path, q, "qid", "qvec", **kw)
    gemm = pq_topk_many_indexed_df(
        spark, path, q, "qid", "qvec", scorer="gemm", **kw
    )
    assert _diff(expr, gemm) == 0
    assert gemm.count() == 6 * 5
    plan = gemm._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_zero_norm_vector_scores_zero_on_both_scorers(spark, clustered, tmp_path):
    """The review fix: a zero-norm embedding (failed embed) must score
    cosine 0.0 — raw 0/0 is NaN, which Spark orders GREATEST, ranking
    the garbage row FIRST for every query probing its cell. Both
    scorers agree and neither serves the zero vector at rank 1."""
    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk_indexed,
    )

    withzero = clustered.unionByName(
        spark.createDataFrame(
            [(9_999, [0.0] * DIM)], "vec_id bigint, embedding array<double>"
        )
    )
    path = str(tmp_path / "zero")
    build_ann_index(withzero, "vec_id", "embedding", path, n_cells=N_CLUSTERS)
    q = _queries(clustered, n=4)
    expr = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=3, n_probe=N_CLUSTERS,
        exclude_self=True,
    )
    gemm = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=3, n_probe=N_CLUSTERS,
        exclude_self=True, scorer="gemm",
    )
    assert _diff(expr, gemm) == 0
    assert all(r["vec_id"] != 9_999 for r in expr.collect())
    # single-query path agrees (shared _safe_cosine)
    qv = list(clustered.filter(F.col("vec_id") == 0).first()["embedding"])
    single = ivf_topk_indexed(
        spark, path, qv, k=3, n_probe=N_CLUSTERS, exclude_id=0
    )
    assert all(r["vec_id"] != 9_999 for r in single.collect())


def test_empty_query_frame_returns_empty(spark, clustered, tmp_path):
    """An upstream filter may leave the query frame empty: the result
    is empty with the output schema (the scan used to raise from
    files_matching's empty-IN guard)."""
    path = str(tmp_path / "empty")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=4)
    q = _queries(clustered, n=0)
    for scorer in ("expr", "gemm"):
        got = ivf_topk_many_indexed(
            spark, path, q, "qid", "qvec", k=3, scorer=scorer
        )
        assert got.count() == 0
        assert got.columns == ["qid", "vec_id", "cos", "rank"]


def test_pq_index_with_id_col_named_qid(spark, clustered, tmp_path):
    """Regression (review): an index built with id_col='qid' must keep
    serving through the single-query PQ API (which has no qid_col
    parameter to rename)."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_indexed,
    )

    renamed = clustered.select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    path = str(tmp_path / "qid_idx")
    build_ann_index(
        renamed, "qid", "embedding", path, n_cells=N_CLUSTERS,
        quantized="pq", pq_m=8, pq_k=8,
    )
    qv = list(clustered.filter(F.col("vec_id") == 0).first()["embedding"])
    got = pq_topk_indexed(spark, path, qv, k=5, n_probe=2, exclude_id=0)
    assert got.count() == 5
    assert all(r["qid"] % N_CLUSTERS == 0 for r in got.collect())


def test_delete_after_rebalance_on_int8_index(spark, clustered, tmp_path):
    """Review fix: on a QUANTIZED index the delete must not conjoin a
    recomputed cell into the row condition — after rebalance (cells
    re-assigned from stored codes) the float-vector recompute can
    disagree near boundaries and silently skip the row. The delete
    scopes by id stats/blooms and must remove every victim."""
    from ensembl_database_loader_spark.operators.similarity import (
        delete_from_ann_index,
        ivf_topk_indexed,
        rebalance_ann_index,
    )
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    path = str(tmp_path / "int8_del")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
        quantized=True,
    )
    rebalance_ann_index(spark, path, txn=("maint", 1))
    qv = list(clustered.filter(F.col("vec_id") == 0).first()["embedding"])
    before = {r["vec_id"] for r in ivf_topk_indexed(
        spark, path, qv, k=5, n_probe=2, exclude_id=0
    ).collect()}
    victims = clustered.filter(F.col("vec_id").isin(sorted(before)))
    out = delete_from_ann_index(spark, path, victims)
    assert out is not None and out["rows_affected"] == len(before)
    assert out["cells_scoped"] == []  # quantized: id-scoped, not cell
    left = {r["vec_id"] for r in snapshot(spark, path).collect()}
    assert not (left & before)


def test_gemm_rejects_non_integral_ids_at_api_edge(spark, clustered, tmp_path):
    """ADVICE r12: the GEMM scorers move ids through numpy int64 — a
    string-keyed query frame must fail fast at the API edge (ValueError
    naming the workaround), not deep inside the Arrow UDF."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed_df,
    )

    path = str(tmp_path / "idx_strq")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=4)
    str_q = _queries(clustered, n=2).select(
        F.col("qid").cast("string").alias("qid"), "qvec"
    )
    with pytest.raises(ValueError, match="integral"):
        ivf_topk_many_indexed(
            spark, path, str_q, "qid", "qvec", k=3, scorer="gemm"
        )
    pq_path = str(tmp_path / "pq_strq")
    build_ann_index(
        clustered, "vec_id", "embedding", pq_path, n_cells=4,
        quantized="pq", pq_m=8, pq_k=8,
    )
    with pytest.raises(ValueError, match="integral"):
        pq_topk_many_indexed_df(
            spark, pq_path, str_q, "qid", "qvec", k=3, scorer="gemm"
        )
    # expr scorer keeps accepting string qids (no numpy crossing)
    assert ivf_topk_many_indexed(
        spark, path, str_q, "qid", "qvec", k=3, n_probe=2
    ).count() == 6


def test_pq_literal_fast_path_row_identical(spark, clustered, tmp_path):
    """r12 serving fix: the list/single-query PQ forms ride the LITERAL
    fast path (driver-side probe cells + tables, zero pre-collect jobs);
    rows must match the DataFrame-shaped Arrow path exactly — same
    shared numpy tables, same JVM sum, same tie-break."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_indexed,
        pq_topk_many_indexed,
        pq_topk_many_indexed_df,
    )

    path = str(tmp_path / "pq_lit")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=N_CLUSTERS,
        quantized="pq", pq_m=8, pq_k=8,
    )
    qrows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in clustered.filter(F.col("vec_id") < 4).collect()
    ]
    qdf = spark.createDataFrame(qrows, "qid bigint, qvec array<double>")
    via_df = pq_topk_many_indexed_df(
        spark, path, qdf, "qid", "qvec", k=5, n_probe=2, exclude_self=True
    )
    via_list = pq_topk_many_indexed(
        spark, path, qrows, k=5, n_probe=2, exclude_self=True
    )
    assert _diff(via_df, via_list) == 0
    # the single-query form agrees row-for-row with its batch slice
    one = pq_topk_indexed(
        spark, path, qrows[0][1], k=5, n_probe=2, exclude_id=qrows[0][0]
    )
    batch_slice = via_df.filter(F.col("qid") == qrows[0][0]).select(
        "vec_id", "adc_dist"
    )
    assert _diff(one, batch_slice) == 0
    # refine through the literal path still re-ranks on true cosine
    ref = pq_topk_indexed(
        spark, path, qrows[0][1], k=5, n_probe=2, refine=20,
        corpus=clustered, exclude_id=qrows[0][0],
    )
    assert ref.columns == ["vec_id", "cos"] and ref.count() == 5


def test_pq_literal_fast_path_runs_no_precollect_jobs(spark, clustered, tmp_path):
    """The literal path's point: building the serving plan must launch
    ZERO Spark jobs (probe cells and ADC tables are driver arithmetic;
    the old delegation paid an Arrow probe pass + a probed-cells collect
    per call). Gate on the sparkContext job counter."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed,
    )

    path = str(tmp_path / "pq_lit_jobs")
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=4,
        quantized="pq", pq_m=8, pq_k=8,
    )
    qrows = [
        (int(r["vec_id"]), list(r["embedding"]))
        for r in clustered.filter(F.col("vec_id") < 2).collect()
    ]
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    plan = pq_topk_many_indexed(spark, path, qrows, k=3, n_probe=2)
    after = len(tracker.getJobIdsForGroup(None) or [])
    # <= 1: spark.read.parquet's footer/schema read may launch one tiny
    # job (inherent to any scan); the Arrow probe pass + probed-cells
    # collect the old delegation paid would add 2+ more
    assert after - before <= 1, (
        f"literal plan construction launched {after - before} Spark jobs"
    )
    assert plan.count() == 2 * 3


def test_cell_split_bounds_batch_memory_row_identical(spark, clustered, tmp_path):
    """VERDICT r11 #3: one cogroup group = one whole cell in executor
    memory; ``cell_split`` sub-chunks each cell by xxhash64(id) % split
    so no Arrow batch holds more than ~1/split of a fat cell. Fixture:
    ONE cell holding every row (the hot-cell shape). Rows must match
    the expr scorer and the unsplit GEMM exactly, on both the float and
    PQ paths, and the plan must cogroup on (_cell, _chunk)."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed_df,
    )

    fat = str(tmp_path / "fat")
    build_ann_index(clustered, "vec_id", "embedding", fat, n_cells=1)
    q = _queries(clustered, n=4)
    expr = ivf_topk_many_indexed(
        spark, fat, q, "qid", "qvec", k=5, n_probe=1, exclude_self=True
    )
    split = ivf_topk_many_indexed(
        spark, fat, q, "qid", "qvec", k=5, n_probe=1, exclude_self=True,
        scorer="gemm", cell_split=4,
    )
    assert _diff(expr, split) == 0
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan and "_chunk" in plan

    fatpq = str(tmp_path / "fatpq")
    build_ann_index(
        clustered, "vec_id", "embedding", fatpq, n_cells=1,
        quantized="pq", pq_m=8, pq_k=8,
    )
    pq_expr = pq_topk_many_indexed_df(
        spark, fatpq, q, "qid", "qvec", k=5, n_probe=1, exclude_self=True
    )
    pq_split = pq_topk_many_indexed_df(
        spark, fatpq, q, "qid", "qvec", k=5, n_probe=1, exclude_self=True,
        scorer="gemm", cell_split=4,
    )
    assert _diff(pq_expr, pq_split) == 0
    # a chunk count above the cell's row count still serves (some
    # chunks are empty) — the degenerate sizing is safe
    tiny = ivf_topk_many_indexed(
        spark, fat, q, "qid", "qvec", k=2, n_probe=1,
        scorer="gemm", cell_split=1000,
    )
    assert tiny.count() == 4 * 2


def test_split_hot_cells_partial_rebalance(spark, tmp_path):
    """VERDICT r11 #4: routine maintenance splits ONLY the hot cells -
    sub-centroids train on the hot cell's rows alone, its rows
    re-assign, every other file is carried by reference - and serving
    agrees with a FULL rebalance and with brute force on the fixture.
    Fixture: one cluster 4x the size of the others, indexed on the true
    seeds, so exactly its cell crosses the hot_share threshold."""
    from ensembl_database_loader_spark.operators.similarity import (
        ann_index_meta,
        cosine_topk,
        ivf_topk_indexed,
        rebalance_ann_index,
        split_hot_cells,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        latest_manifest,
        snapshot,
    )

    def seed(c):
        s = [math.sin(c * 23.7 + i * 1.91) for i in range(DIM)]
        n = math.sqrt(sum(x * x for x in s))
        return [x / n for x in s]

    n_seeds, sizes = 5, [160, 40, 40, 40, 40]
    rows = []
    for c, size in enumerate(sizes):
        s = seed(c)
        for j in range(size):
            noise = [
                (((c * 911 + j * 157 + i * 11) % 201) - 100) / 100.0 * 0.02
                for i in range(DIM)
            ]
            rows.append((j * n_seeds + c, [a + b for a, b in zip(s, noise)]))
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).persist()
    cents = [seed(c) for c in range(n_seeds)]

    partial, full = str(tmp_path / "partial"), str(tmp_path / "full")
    for p in (partial, full):
        build_ann_index(
            corpus, "vec_id", "embedding", p, n_cells=n_seeds,
            centroids=cents,
        )
    n0 = snapshot(spark, partial).count()
    n_files0 = len(latest_manifest(spark, partial)["files"])

    # cell 0 holds 160/320 = 0.5 of the rows; the rest 0.125 each
    out = split_hot_cells(spark, partial, hot_share=0.3, txn=("maint", 1))
    assert out["cells_split"] == [0]
    assert out["n_cells"] == n_seeds + 1
    assert out["files_untouched"] > out["files_rewritten"] > 0
    assert out["files_untouched"] + out["files_rewritten"] == n_files0
    assert out["max_share_after"] < out["max_share_before"] == 0.5
    assert len(ann_index_meta(partial, spark)["centroids"]) == n_seeds + 1
    assert snapshot(spark, partial).count() == n0

    # a replayed maintenance txn is a no-op detected at entry
    v = int(latest_manifest(spark, partial)["version"])
    replay = split_hot_cells(spark, partial, hot_share=0.3, txn=("maint", 1))
    assert replay["version"] is None and replay["cells_split"] == []
    assert int(latest_manifest(spark, partial)["version"]) == v

    # nothing hot -> no-op, no commit
    calm = split_hot_cells(spark, partial, hot_share=0.9)
    assert calm["version"] is None and calm["cells_split"] == []

    # serving parity: partial split == full rebalance == exact brute
    # force, from the split cluster and an untouched one
    rebalance_ann_index(spark, full, n_cells=n_seeds)
    for probe_id in (0, 1):
        q = list(
            corpus.filter(F.col("vec_id") == probe_id).first()["embedding"]
        )
        a = ivf_topk_indexed(
            spark, partial, q, k=5, n_probe=2, exclude_id=probe_id
        ).collect()
        b = ivf_topk_indexed(
            spark, full, q, k=5, n_probe=2, exclude_id=probe_id
        ).collect()
        exact = cosine_topk(
            corpus, "vec_id", "embedding", query_id=probe_id, k=5
        ).collect()
        assert (
            [(r["vec_id"], r["cos"]) for r in a]
            == [(r["vec_id"], r["cos"]) for r in b]
            == [(r["vec_id"], r["cos"]) for r in exact]
        )
    corpus.unpersist()


def test_suggest_cell_split_sizes_from_metadata(spark, clustered, tmp_path):
    """suggest_cell_split reads only manifest partition stats: 0 when
    every cell fits the target batch, ceil(max_cell/target) otherwise,
    and the suggestion keeps the GEMM scorer row-identical."""
    from ensembl_database_loader_spark.operators.similarity import (
        suggest_cell_split,
    )

    path = str(tmp_path / "sized")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=4)
    # 320 rows over 4 cells: nothing exceeds a 1000-row target
    assert suggest_cell_split(spark, path, target_rows_per_batch=1000) == 0
    # a 30-row target forces a split of the biggest (~80-row) cell
    s = suggest_cell_split(spark, path, target_rows_per_batch=30)
    assert s >= 2
    q = _queries(clustered, n=3)
    expr = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=4, n_probe=2, exclude_self=True
    )
    gemm = ivf_topk_many_indexed(
        spark, path, q, "qid", "qvec", k=4, n_probe=2, exclude_self=True,
        scorer="gemm", cell_split=s,
    )
    assert _diff(expr, gemm) == 0


def test_split_hot_cells_on_int8_index(spark, clustered, tmp_path):
    """The quantized path of split_hot_cells: sub-centroids train on
    the stored int8 codes cast to double (scale cancels in cosine),
    the staged rows carry the stored schema (no leaked _v column),
    and contents are preserved."""
    from ensembl_database_loader_spark.operators.similarity import (
        split_hot_cells,
    )
    from ensembl_database_loader_spark.sinks.manifest import snapshot

    path = str(tmp_path / "int8_split")
    # 2 cells over 8 planted clusters: both ~0.5 share, both split
    build_ann_index(
        clustered, "vec_id", "embedding", path, n_cells=2, quantized=True
    )
    cols0 = snapshot(spark, path).columns
    n0 = snapshot(spark, path).count()
    out = split_hot_cells(spark, path, hot_share=0.4, split=2)
    assert out["cells_split"] and out["version"] is not None
    s = snapshot(spark, path)
    assert s.count() == n0
    assert s.columns == cols0  # schema unchanged — no _v leak
    assert s.select("_cell").distinct().count() > 2
