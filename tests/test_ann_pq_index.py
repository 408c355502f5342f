"""IVF x PQ materialized index (similarity.build_ann_index
quantized='pq') and batch-query ANN (ann_topk): recall on a
planted-cluster corpus, residual-vs-plain encoding, stored shape,
append path, guards, and batch/single-query parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.similarity import (
    ann_index_meta,
    ann_topk,
    append_to_ann_index,
    build_ann_index,
    cosine_topk,
)

DIM = 16
N_CLUSTERS = 8
PER_CLUSTER = 40


def _seed_vec(c: int):
    return [math.sin(c * 17.3 + i * 1.37) for i in range(DIM)]


@pytest.fixture(scope="module")
def clustered(spark):
    """vec_id = j * N_CLUSTERS + c -> member j of cluster c; members are
    seed + small deterministic noise, so exact top-k of any member stays
    within its cluster."""
    rows = []
    for c in range(N_CLUSTERS):
        s = _seed_vec(c)
        n = math.sqrt(sum(x * x for x in s))
        s = [x / n for x in s]
        for j in range(PER_CLUSTER):
            noise = [
                (((c * 1009 + j * 131 + i * 7) % 201) - 100) / 100.0 * 0.02
                for i in range(DIM)
            ]
            rows.append(
                (j * N_CLUSTERS + c, [a + b for a, b in zip(s, noise)])
            )
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).persist()


def _recall(top_df, exact_ids):
    got = {r["vec_id"] for r in top_df.collect()}
    return len(got & exact_ids) / len(exact_ids)


def _one(qvec, qid=0):
    """A 1-element query batch."""
    return [(qid, qvec)]


def test_pq_index_recall_and_shape(spark, clustered, tmp_path):
    path = str(tmp_path / "pq_idx")
    build_ann_index(
        clustered, "vec_id", "embedding", path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
        pq_residual=True,
    )
    meta = ann_index_meta(path, spark)
    assert meta["quantized"] == "pq" and meta["pq"]["residual"] is True
    assert len(meta["pq"]["codebooks"]) == 4

    # stored rows are (id, codes tinyint[4], _cell) -- no float vector
    stored = spark.read.parquet(path)
    assert dict(stored.dtypes)["codes"] == "array<tinyint>"
    assert "embedding" not in stored.columns

    qvec = list(
        clustered.filter(F.col("vec_id") == 0).first()["embedding"]
    )
    exact = {
        r[0]
        for r in cosine_topk(clustered, "vec_id", "embedding", 0, 5).collect()
    }
    # ADC-only path
    adc = ann_topk(spark, path, _one(qvec), k=5, n_probe=2, exclude_self=True)
    assert adc.count() == 5
    assert _recall(adc, exact) >= 0.8
    # refine path: re-rank against full-precision vectors fetched by id
    ref = ann_topk(
        spark, path, _one(qvec), k=5, n_probe=2, refine=25,
        corpus=clustered, exclude_self=True,
    )
    assert _recall(ref, exact) >= 0.8
    # re-ranked cosines are the TRUE cosines (match the exact operator)
    exact_rows = {
        r["vec_id"]: r["cos"]
        for r in cosine_topk(clustered, "vec_id", "embedding", 0, 25).collect()
    }
    for r in ref.collect():
        assert abs(r["cos"] - exact_rows[r["vec_id"]]) < 1e-9


def test_pq_residual_beats_or_ties_plain(spark, clustered, tmp_path):
    """Residual encoding must not lose recall vs plain PQ at the same
    byte budget (the standard-composition claim)."""
    qvec = list(clustered.filter(F.col("vec_id") == 0).first()["embedding"])
    exact = {
        r[0]
        for r in cosine_topk(clustered, "vec_id", "embedding", 0, 5).collect()
    }
    recalls = {}
    for residual in (False, True):
        path = str(tmp_path / f"pq_{residual}")
        build_ann_index(
            clustered, "vec_id", "embedding", path,
            n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
            pq_residual=residual,
        )
        top = ann_topk(
            spark, path, _one(qvec), k=5, n_probe=2, exclude_self=True
        )
        recalls[residual] = _recall(top, exact)
    assert recalls[True] >= recalls[False]
    assert recalls[True] >= 0.8


def test_pq_index_append_and_guards(spark, clustered, tmp_path):
    path = str(tmp_path / "pq_app")
    build_ann_index(
        clustered.filter(F.col("vec_id") != 8), "vec_id", "embedding", path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
    )
    # append member 1 of cluster 0 encoded with the PERSISTED codebooks
    append_to_ann_index(clustered.filter(F.col("vec_id") == 8), path)
    qvec = list(clustered.filter(F.col("vec_id") == 0).first()["embedding"])
    top = ann_topk(
        spark, path, _one(qvec), k=39, n_probe=1, exclude_self=True
    )
    ids = {r["vec_id"] for r in top.collect()}
    assert 8 in ids  # the appended row is queryable
    # guards: refine is PQ-only and needs the corpus
    flat = str(tmp_path / "flat_idx")
    build_ann_index(clustered, "vec_id", "embedding", flat, n_cells=4)
    with pytest.raises(ValueError, match="PQ indexes only"):
        ann_topk(spark, flat, _one(qvec), refine=10, corpus=clustered)
    with pytest.raises(ValueError, match="needs the corpus"):
        ann_topk(spark, path, _one(qvec), refine=10)
    with pytest.raises(ValueError, match="quantized must be"):
        build_ann_index(
            clustered, "vec_id", "embedding", flat, n_cells=4,
            quantized="bogus",
        )
    with pytest.raises(ValueError, match="tinyint"):
        build_ann_index(
            clustered, "vec_id", "embedding", flat, n_cells=4,
            quantized="pq", pq_k=128,
        )


def test_ivf_topk_many_indexed_matches_single_query(spark, clustered, tmp_path):
    """Batch-over-index: a frame batch's per-query rows are identical
    to 1-element list batches (float AND int8 indexes); a frame whose
    qid column is the index id is rejected."""
    queries = clustered.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    qvecs = {
        r.qid: list(r.qvec) for r in queries.collect()
    }
    for quant in (False, "int8"):
        path = str(tmp_path / f"idx_{quant}")
        build_ann_index(
            clustered, "vec_id", "embedding", path,
            n_cells=N_CLUSTERS, quantized=quant,
        )
        batch = ann_topk(
            spark, path, queries, k=3, n_probe=2, exclude_self=True
        )
        got = {(r.qid, r.rank): (r.vec_id, r.cos) for r in batch.collect()}
        assert len(got) == 6 * 3
        for qid, qv in qvecs.items():
            single = ann_topk(
                spark, path, _one(qv, qid), k=3, n_probe=2, exclude_self=True
            ).collect()
            for r in single:
                assert got[(qid, r.rank)] == (r.vec_id, r.cos)
    with pytest.raises(ValueError, match="must differ"):
        ann_topk(
            spark, path, queries.withColumnRenamed("qid", "vec_id"),
            qid_col="vec_id",
        )


def test_pq_topk_many_indexed_matches_single_query(spark, clustered, tmp_path):
    """Batch ADC over the PQ index: a list batch's per-query rows are
    identical to 1-element batches, both ADC-only and with refine
    re-rank; guards."""
    path = str(tmp_path / "pq_batch")
    build_ann_index(
        clustered, "vec_id", "embedding", path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
    )
    qrows = clustered.filter(F.col("vec_id") < 6).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]

    batch = ann_topk(spark, path, queries, k=3, n_probe=2, exclude_self=True)
    got = {(r.qid, r.rank): (r.vec_id, r.adc_dist) for r in batch.collect()}
    assert len(got) == 6 * 3
    for qid, qv in queries:
        single = ann_topk(
            spark, path, _one(qv, qid), k=3, n_probe=2, exclude_self=True
        ).collect()
        for r in single:
            assert got[(qid, r.rank)] == (r.vec_id, r.adc_dist)

    ref = ann_topk(
        spark, path, queries, k=3, n_probe=2, refine=20,
        corpus=clustered, exclude_self=True,
    )
    gotr = {(r.qid, r.rank): (r.vec_id, r.cos) for r in ref.collect()}
    assert len(gotr) == 6 * 3
    for qid, qv in queries:
        single = ann_topk(
            spark, path, _one(qv, qid), k=3, n_probe=2, refine=20,
            corpus=clustered, exclude_self=True,
        ).collect()
        for r in single:
            assert gotr[(qid, r.rank)] == (r.vec_id, r.cos)

    assert ann_topk(spark, path, []).count() == 0
    with pytest.raises(ValueError, match="duplicate qid"):
        ann_topk(spark, path, [(1, queries[0][1])] * 2)


def test_batch_operators_reject_duplicate_qids(spark, clustered, tmp_path):
    """Duplicate qids silently merge candidate pools inside the per-qid
    window; both query shapes must reject them, on float and PQ
    indexes."""
    dup = clustered.filter(F.col("vec_id") < 2).select(
        F.lit(7).alias("qid"), F.col("embedding").alias("qvec")
    )
    dup_list = [tuple(r) for r in dup.collect()]
    for quant in (False, "pq"):
        path = str(tmp_path / f"dupq_idx_{quant}")
        build_ann_index(
            clustered, "vec_id", "embedding", path, n_cells=4,
            quantized=quant, pq_m=4, pq_k=16,
        )
        for q in (dup, dup_list):
            with pytest.raises(ValueError, match="duplicate qid"):
                ann_topk(spark, path, q)


def test_pq_df_form_matches_list_form_and_guards(spark, clustered, tmp_path):
    """The DataFrame-shaped PQ batch (queries as a frame, ADC tables
    computed executor-side) is row-identical to the list form (tables
    computed on the driver) — gate the public API: column names, dup
    check, refine parity."""
    path = str(tmp_path / "pq_df")
    build_ann_index(
        clustered, "vec_id", "embedding", path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
    )
    qrows = clustered.filter(F.col("vec_id") < 6).collect()
    qlist = [(r.vec_id, list(r.embedding)) for r in qrows]
    qdf = clustered.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("q"), F.col("embedding").alias("v")
    )
    kw = dict(k=3, n_probe=2, exclude_self=True)
    a = ann_topk(spark, path, qlist, qid_col="q", **kw)
    b = ann_topk(spark, path, qdf, qid_col="q", qvec_col="v", **kw)
    assert b.columns == ["q", "vec_id", "adc_dist", "rank"]
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) == 6 * 3
    # refine parity between forms
    ra = ann_topk(spark, path, qlist, refine=20, corpus=clustered, **kw)
    rb = ann_topk(
        spark, path, qdf, qid_col="q", qvec_col="v", refine=20,
        corpus=clustered, **kw,
    )
    assert sorted(map(tuple, ra.collect())) == sorted(map(tuple, rb.collect()))
    # duplicate qids rejected in the df form too
    dup = qdf.select(F.lit(1).alias("q"), "v")
    with pytest.raises(ValueError, match="duplicate q"):
        ann_topk(spark, path, dup, qid_col="q", qvec_col="v")
    with pytest.raises(ValueError, match="must differ"):
        ann_topk(
            spark, path, qdf.withColumnRenamed("q", "vec_id"),
            qid_col="vec_id", qvec_col="v",
        )
