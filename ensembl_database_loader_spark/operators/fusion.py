"""Hybrid retrieval fusion: Reciprocal Rank Fusion (RRF) over any
number of per-query rankings — the standard way to combine the lexical
(operators/bm25.py) and dense (operators/similarity.py) retrieval paths
without score calibration (Cormack/Clarke/Buettcher 2009: scores from
different systems are incomparable, RANKS are not).

RRF(d) = sum over sources s of w_s / (k0 + rank_s(d)), summed only over
the sources that returned d; k0 = 60 is the canonical damping constant.

Scale shape: the inputs are already top-k frames (k rows per query per
source — tiny relative to the corpora they came from), so fusion is a
union + one partial-aggregated groupBy(qid, id) + the shared per-query
top-k window. Nothing here rescans a corpus; the
expensive work stays in the retrieval operators where it is pruned,
bloom-skipped, and broadcast-joined.

Determinism: ranks are exact ints, contributions are w/(k0 + rank)
doubles summed over <= n_sources addends, the fused score rounds to 6
before ranking and ties break on the id — the DSIR/BM25 pattern, so
engine last-ulp differences can't flip rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str,
    qid_col: str = "qid",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
    weights: Sequence[float] | None = None,
    ndigits: int = 6,
) -> DataFrame:
    """Fuse per-query rankings into (qid, <id_col>, rrf, rank).

    Each input carries (qid_col, id_col, rank_col); a document absent
    from a source simply contributes nothing for it. ``weights`` (one
    per source, default all 1.0) bias the fusion toward a source
    without touching its ranks."""
    from ensembl_database_loader_spark.operators.similarity import (
        _per_query_topk,
    )

    rankings = list(rankings)
    if len(rankings) < 2:
        raise ValueError(f"rrf_fuse: need >= 2 rankings, got {len(rankings)}")
    ws = [1.0] * len(rankings) if weights is None else [float(w) for w in weights]
    if len(ws) != len(rankings):
        raise ValueError(
            f"rrf_fuse: {len(ws)} weights for {len(rankings)} rankings"
        )
    parts = [
        r.select(
            F.col(qid_col).alias("_qid"),
            F.col(id_col).alias("_id"),
            (F.lit(w) / (F.lit(int(k0)) + F.col(rank_col))).alias("_c"),
        )
        for r, w in zip(rankings, ws)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    fused = u.groupBy("_qid", "_id").agg(
        F.round(F.sum("_c"), int(ndigits)).alias("_rrf")
    )
    ranked = _per_query_topk(
        fused, "_qid", "_id", "_rrf", ascending=False, k=int(k)
    )
    return ranked.select(
        F.col("_qid").alias(qid_col),
        F.col("_id").alias(id_col),
        F.col("_rrf").alias("rrf"),
        "rank",
    )
