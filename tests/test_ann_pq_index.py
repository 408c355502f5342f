"""IVF x PQ materialized index (similarity.build_ann_index
quantized='pq') and batch-query ANN (ivf_topk_many): recall on a
planted-cluster corpus, residual-vs-plain encoding, stored shape,
append path, guards, and batch/single-query parity."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.similarity import (
    ann_index_meta,
    append_to_ann_index,
    build_ann_index,
    cosine_topk,
    ivf_topk,
    ivf_topk_indexed,
    ivf_topk_many,
    pq_topk_indexed,
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
    got = {r[0] for r in top_df.collect()}
    return len(got & exact_ids) / len(exact_ids)


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
    adc = pq_topk_indexed(spark, path, qvec, k=5, n_probe=2, exclude_id=0)
    assert adc.count() == 5
    assert _recall(adc, exact) >= 0.8
    # refine path: re-rank against full-precision vectors fetched by id
    ref = pq_topk_indexed(
        spark, path, qvec, k=5, n_probe=2, refine=25,
        corpus=clustered, exclude_id=0,
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
        top = pq_topk_indexed(spark, path, qvec, k=5, n_probe=2, exclude_id=0)
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
    top = pq_topk_indexed(spark, path, qvec, k=39, n_probe=1, exclude_id=0)
    ids = {r[0] for r in top.collect()}
    assert 8 in ids  # the appended row is queryable
    # wrong-path guards
    with pytest.raises(ValueError, match="use pq_topk_indexed"):
        ivf_topk_indexed(spark, path, qvec, k=5)
    flat = str(tmp_path / "flat_idx")
    build_ann_index(clustered, "vec_id", "embedding", flat, n_cells=4)
    with pytest.raises(ValueError, match="not PQ-quantized"):
        pq_topk_indexed(spark, flat, qvec, k=5)
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


def test_ivf_topk_many_matches_single_query_loop(spark, clustered):
    """Every batch row must equal the single-query operator's result —
    same centroids, same probes, same tie-break."""
    queries = clustered.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = ivf_topk_many(
        queries, clustered, "qid", "qvec", "vec_id", "embedding",
        k=3, n_cells=N_CLUSTERS, n_probe=2, exclude_self=True,
    )
    got = {
        (r.qid, r.rank): (r.vec_id, r.cos) for r in batch.collect()
    }
    assert len(got) == 10 * 3
    for qid in range(10):
        single = ivf_topk(
            clustered, "vec_id", "embedding", query_id=qid, k=3,
            n_cells=N_CLUSTERS, n_probe=2,
        ).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, rank)] == (r.vec_id, r.cos), (
                f"qid={qid} rank={rank}: batch {got[(qid, rank)]} "
                f"vs single ({r.vec_id}, {r.cos})"
            )


def test_ivf_topk_many_guards(spark, clustered):
    q = clustered.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(ValueError, match="must differ"):
        ivf_topk_many(q, clustered, "vec_id", "qvec", "vec_id", "embedding")


def test_ivf_topk_many_indexed_matches_single_query(spark, clustered, tmp_path):
    """Batch-over-index: per-query rows identical to ivf_topk_indexed
    (float AND int8 indexes); the scan prunes to the union of probed
    cells; PQ indexes are rejected with a pointer to the ADC path."""
    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk_many_indexed,
    )

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
        batch = ivf_topk_many_indexed(
            spark, path, queries, "qid", "qvec",
            k=3, n_probe=2, exclude_self=True,
        )
        got = {(r.qid, r.rank): (r.vec_id, r.cos) for r in batch.collect()}
        assert len(got) == 6 * 3
        for qid, qv in qvecs.items():
            single = ivf_topk_indexed(
                spark, path, qv, k=3, n_probe=2, exclude_id=qid
            ).collect()
            for rank, r in enumerate(single, start=1):
                assert got[(qid, rank)] == (r.vec_id, r.cos)
    # PQ index rejected
    pq_path = str(tmp_path / "idx_pq")
    build_ann_index(
        clustered, "vec_id", "embedding", pq_path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
    )
    with pytest.raises(ValueError, match="ADC path"):
        ivf_topk_many_indexed(spark, pq_path, queries, "qid", "qvec")


def test_pq_topk_many_indexed_matches_single_query(spark, clustered, tmp_path):
    """Batch ADC over the PQ index: per-query rows identical to
    pq_topk_indexed, both ADC-only and with refine re-rank; guards."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed,
    )

    path = str(tmp_path / "pq_batch")
    build_ann_index(
        clustered, "vec_id", "embedding", path,
        n_cells=N_CLUSTERS, quantized="pq", pq_m=4, pq_k=16,
    )
    qrows = clustered.filter(F.col("vec_id") < 6).collect()
    queries = [(r.vec_id, list(r.embedding)) for r in qrows]

    batch = pq_topk_many_indexed(
        spark, path, queries, k=3, n_probe=2, exclude_self=True
    )
    got = {(r.qid, r.rank): (r.vec_id, r.adc_dist) for r in batch.collect()}
    assert len(got) == 6 * 3
    for qid, qv in queries:
        single = pq_topk_indexed(
            spark, path, qv, k=3, n_probe=2, exclude_id=qid
        ).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qid, rank)] == (r.vec_id, r.adc_dist)

    ref = pq_topk_many_indexed(
        spark, path, queries, k=3, n_probe=2, refine=20,
        corpus=clustered, exclude_self=True,
    )
    gotr = {(r.qid, r.rank): (r.vec_id, r.cos) for r in ref.collect()}
    assert len(gotr) == 6 * 3
    for qid, qv in queries:
        single = pq_topk_indexed(
            spark, path, qv, k=3, n_probe=2, refine=20,
            corpus=clustered, exclude_id=qid,
        ).collect()
        for rank, r in enumerate(single, start=1):
            assert gotr[(qid, rank)] == (r.vec_id, r.cos)

    with pytest.raises(ValueError, match="non-empty"):
        pq_topk_many_indexed(spark, path, [])
    with pytest.raises(ValueError, match="duplicate qid"):
        pq_topk_many_indexed(spark, path, [(1, queries[0][1])] * 2)
    with pytest.raises(ValueError, match="needs the corpus"):
        pq_topk_many_indexed(spark, path, queries, refine=10)
    flat = str(tmp_path / "flat2")
    build_ann_index(clustered, "vec_id", "embedding", flat, n_cells=4)
    with pytest.raises(ValueError, match="ivf_topk_many_indexed"):
        pq_topk_many_indexed(spark, flat, queries)


def test_batch_operators_reject_duplicate_qids(spark, clustered, tmp_path):
    """Duplicate qids silently merge candidate pools inside the per-qid
    window; all three batch operators must reject them the same way
    (pq_topk_many_indexed already did)."""
    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk_many_indexed,
    )

    dup = clustered.filter(F.col("vec_id") < 2).select(
        F.lit(7).alias("qid"), F.col("embedding").alias("qvec")
    )
    with pytest.raises(ValueError, match="duplicate qid"):
        ivf_topk_many(dup, clustered, "qid", "qvec", "vec_id", "embedding")
    path = str(tmp_path / "dupq_idx")
    build_ann_index(clustered, "vec_id", "embedding", path, n_cells=4)
    with pytest.raises(ValueError, match="duplicate qid"):
        ivf_topk_many_indexed(spark, path, dup, "qid", "qvec")


def test_pq_df_form_matches_list_form_and_guards(spark, clustered, tmp_path):
    """The DataFrame-shaped PQ batch (queries as a frame, ADC tables
    computed executor-side) is row-identical to the list form — by
    delegation, but gate the public API: column names, dup check,
    refine parity."""
    from ensembl_database_loader_spark.operators.similarity import (
        pq_topk_many_indexed,
        pq_topk_many_indexed_df,
    )

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
    a = pq_topk_many_indexed(
        spark, path, qlist, k=3, n_probe=2, exclude_self=True
    )
    b = pq_topk_many_indexed_df(
        spark, path, qdf, "q", "v", k=3, n_probe=2, exclude_self=True
    )
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b and len(rows_a) == 6 * 3
    # refine parity between forms
    ra = pq_topk_many_indexed(
        spark, path, qlist, k=3, n_probe=2, refine=20,
        corpus=clustered, exclude_self=True,
    )
    rb = pq_topk_many_indexed_df(
        spark, path, qdf, "q", "v", k=3, n_probe=2, refine=20,
        corpus=clustered, exclude_self=True,
    )
    assert sorted(map(tuple, ra.collect())) == sorted(map(tuple, rb.collect()))
    # duplicate qids rejected in the df form too
    dup = qdf.select(F.lit(1).alias("q"), "v")
    with pytest.raises(ValueError, match="duplicate q"):
        pq_topk_many_indexed_df(spark, path, dup, "q", "v")
    with pytest.raises(ValueError, match="must differ"):
        pq_topk_many_indexed_df(
            spark, path, qdf.withColumnRenamed("q", "vec_id"), "vec_id", "v"
        )
