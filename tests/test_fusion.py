"""operators/fusion.py — RRF hybrid fusion: hand-computed contract,
weights, absent-from-one-source docs, and input validation."""

from __future__ import annotations

import pytest

from ensembl_database_loader_spark.operators.fusion import rrf_fuse


def _rk(spark, rows):
    return spark.createDataFrame(rows, "qid bigint, id bigint, rank int")


def test_rrf_hand_computed(spark):
    # source A ranks (1, 2, 3); source B ranks (2, 1, 4):
    # doc 2: 1/62 + 1/61, doc 1: 1/61 + 1/62 (tie, id breaks),
    # doc 3: 1/63, doc 4: 1/63 (tie, id breaks)
    a = _rk(spark, [(9, 1, 1), (9, 2, 2), (9, 3, 3)])
    b = _rk(spark, [(9, 2, 1), (9, 1, 2), (9, 4, 3)])
    got = [
        (r.id, r.rrf, r["rank"])
        for r in rrf_fuse([a, b], id_col="id", k=4).orderBy("rank").collect()
    ]
    both = round(1 / 61 + 1 / 62, 6)
    one3 = round(1 / 63, 6)
    assert got == [(1, both, 1), (2, both, 2), (3, one3, 3), (4, one3, 4)]


def test_rrf_weights_bias_a_source(spark):
    a = _rk(spark, [(9, 1, 1), (9, 2, 2)])
    b = _rk(spark, [(9, 2, 1), (9, 1, 2)])
    got = [
        (r.id, r["rank"])
        for r in rrf_fuse([a, b], id_col="id", k=2, weights=[3.0, 1.0])
        .orderBy("rank")
        .collect()
    ]
    # tripling source A's weight makes ITS rank-1 doc win the fusion
    assert got == [(1, 1), (2, 2)]


def test_rrf_multi_query(spark):
    a = _rk(spark, [(1, 10, 1), (1, 11, 2), (2, 20, 1)])
    b = _rk(spark, [(1, 11, 1), (2, 21, 1), (2, 20, 2)])
    plain = rrf_fuse([a, b], id_col="id", k=3)
    per_q = {r.qid for r in plain.collect()}
    assert per_q == {1, 2}


def test_rrf_validation(spark):
    a = _rk(spark, [(1, 1, 1)])
    with pytest.raises(ValueError, match="need >= 2"):
        rrf_fuse([a], id_col="id")
    with pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, a], id_col="id", weights=[1.0])
