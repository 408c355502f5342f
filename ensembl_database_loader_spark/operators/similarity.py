"""Similarity search over dense embedding columns (ARRAY<FLOAT>).

Exact and hashed search over a frame:

- cosine_topk:        exact brute-force top-k for one corpus row — the
                      recall oracle every approximate path is gated
                      against.
- lsh_bucket_topk:    multi-table random-hyperplane LSH (deterministic
                      md5-derived planes, one GEMM pass for every
                      table's bucket keys) with exact cosine re-rank
                      inside the candidate union.
- kmeans_centroids:   distributed Lloyd's for IVF cell training.

One IVF index, one query function:

- build_ann_index:    assigns every row to its nearest centroid once and
                      commits a manifest table partitioned by ``_cell``,
                      storing float vectors, int8 codes or PQ codes; the
                      centroids and codebooks ride in the ``ann`` table
                      property.
- ann_topk:           batch top-k over any index kind. Queries are a
                      driver-side list of (qid, vector) or a DataFrame;
                      the scan prunes to the union of probed cells, and
                      the scorer (broadcast expression or per-cell
                      GEMM/ADC cogroup) follows from the batch width and
                      the id types.
- append_to_ann_index, delete_from_ann_index, rebalance_ann_index,
  split_hot_cells:    index maintenance as atomic manifest commits.

Pair and dedup operators:

- embedding_neardup_pairs / embedding_cross_pairs: blocked-GEMM
                      all-pairs (or left x right) cosine >= threshold.
- semantic_dedup / semantic_decontaminate: keep-first dedup and
                      benchmark scrub over those pair stages, exact or
                      restricted to IVF cells / LSH buckets.
- mmr_rerank:         per-query Maximal Marginal Relevance re-ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.vectors import dot, norm


def _safe_cosine(a, b):
    """cosine with zero-norm inputs scoring 0.0: the raw 0/0 RAISES
    under ANSI mode (DIVIDE_BY_ZERO — one all-zero embedding, a failed
    embed, would kill every query probing its cell; under non-ANSI it
    yields NaN, which Spark orders GREATEST and ranks FIRST). The
    when-guard short-circuits the division entirely, and 0.0 matches
    the numpy GEMM scorer's clamped denominator, keeping every serving
    path row-identical. DuckDB oracles are unaffected (the fixtures
    contain no zero-norm vectors); contract pinned in
    tests/test_ann_gemm.py."""
    d = norm(a) * norm(b)
    return F.when(d == 0.0, F.lit(0.0)).otherwise(dot(a, b) / d)


def cosine_topk(
    df: DataFrame, id_col: str, vec_col: str, query_id: int, k: int = 5
) -> DataFrame:
    """Exact top-k neighbours of the row with id query_id, by cosine.
    Returns (id, cos) ordered desc with id tie-break, query excluded."""
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qvec"))
    c = _safe_cosine(F.col(vec_col), F.col("_qvec"))
    return (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(c, 6).alias("cos"))
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane weight in [-1, 1), derived
    from md5(plane:dim) — no RNG state, reproducible across executors.

    A cryptographic hash matters here: a linear congruential scramble
    produces hyperplanes with cross-correlations up to ~0.6, which
    collapses LSH recall to ~0 (measured); md5 components behave like
    iid uniforms and match gaussian-plane recall."""
    import hashlib

    h = hashlib.md5(f"{plane}:{dim}".encode()).digest()
    return int.from_bytes(h[:8], "little") / 2**63 - 1.0


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    out_col: str = "_buckets",
) -> DataFrame:
    """All hash tables' bucket keys in ONE Arrow-batched GEMM: project
    the vector batch against every (table, plane) hyperplane at once
    (n x dim @ dim x T*P), then pack sign bits per table. Replaces
    T*P interpreted dot-product folds per row with a single BLAS call —
    the per-row cost that dominates at corpus scale."""
    import numpy as np
    import pandas as pd

    planes = np.array(
        [
            [_plane_component(t * 1000 + p, d) for d in range(dim)]
            for t in range(num_tables)
            for p in range(num_planes)
        ]
    ).T  # dim x (T*P)
    weights = 1 << np.arange(num_planes)

    @F.pandas_udf("array<bigint>")
    def _buckets(s):  # type: ignore[no-untyped-def]
        x = np.array(s.tolist(), dtype=np.float64)
        signs = (x @ planes) >= 0
        b = signs.reshape(len(x), num_tables, num_planes) @ weights
        return pd.Series(list(b.astype(np.int64)))

    return df.withColumn(out_col, _buckets(F.col(vec_col)))


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 5,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table random-hyperplane LSH: a point
    is a candidate if it shares the query's bucket in ANY of the
    ``num_tables`` independent tables; exact cosine re-rank within the
    candidate union. (A single table's recall for moderately-similar
    vectors is (1 - theta/pi)^planes — near zero; the union of L tables
    lifts it to 1 - (1 - p)^L, the standard LSH construction.)

    At scale each table is one groupBy-shuffle on the bucket key and the
    query side is a broadcast — the corpus is never self-joined."""
    b = with_lsh_buckets(df, vec_col, num_planes, num_tables, dim)
    q = b.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("_qvec"), F.col("_buckets").alias("_qbuckets")
    )
    match_any = F.exists(
        F.zip_with("_buckets", "_qbuckets", lambda x, y: x == y), lambda m: m
    )
    c = _safe_cosine(F.col(vec_col), F.col("_qvec"))
    return (
        b.crossJoin(F.broadcast(q))
        .filter(match_any & (F.col(id_col) != query_id))
        .select(F.col(id_col), F.round(c, 6).alias("cos"))
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    n_iter: int = 5,
    sample_fraction: float | None = None,
) -> list[list[float]]:
    """Distributed Lloyd's k-means for IVF cell training: deterministic
    first-``n_cells``-by-id init, then ``n_iter`` rounds of
    (assign-to-nearest via one Arrow GEMM pass) -> (per-cell
    elementwise mean via posexplode + groupBy partial aggregation).

    Everything stays DataFrame-side except the centroids themselves
    (n_cells x dim doubles collected per round — the broadcast-dim
    pattern). ``sample_fraction`` trains on a seeded sample: at 100 TB
    centroid quality needs only a representative sample, not the full
    corpus, and ``build_ann_index``'s assignment pass is unchanged.
    Deterministic for a fixed input (seeded sample, id-ordered init;
    means use float summation so ulp-level drift across partition
    orders is possible — fine for a cell index, which is why the IVF
    PROBE keeps the grid init and this trainer is unit-tested on
    cluster-recovery properties instead of value hashes).

    Empty cells keep their previous centroid (the standard fix)."""
    import numpy as np
    import pandas as pd

    train = df
    if sample_fraction is not None:
        train = df.sample(fraction=sample_fraction, seed=42)
    train = train.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
    )

    init = train.orderBy("_id").limit(n_cells).select("_v").collect()
    cn = np.array([r._v for r in init], dtype=np.float64)

    for _ in range(n_iter):
        c_norm = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)

        @F.pandas_udf("int")
        def _assign(s, _c=c_norm):  # type: ignore[no-untyped-def]
            x = np.array(s.tolist(), dtype=np.float64)
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            return pd.Series((xn @ _c.T).argmax(axis=1).astype("int32"))

        means = (
            train.withColumn("_cell", _assign(F.col("_v")))
            .select("_cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("_cell", "_pos")
            .agg(F.avg("_x").alias("_m"))
            .collect()
        )
        new = cn.copy()
        per_cell: dict[int, dict[int, float]] = {}
        for r in means:
            per_cell.setdefault(r._cell, {})[r._pos] = r._m
        for cell, dims in per_cell.items():
            for pos, m in dims.items():
                new[cell, pos] = m
        cn = new
    return cn.tolist()


def _per_query_topk(
    pairs: DataFrame,
    qid: str,
    id_col: str,
    score: str,
    ascending: bool,
    k: int,
) -> DataFrame:
    """rank 1..k of ``pairs`` per ``qid`` by (score, id tie-break) — the
    shared tail of every batch-ANN operator: one window per qid. Wide
    sweeps bound each query's window with the GEMM scorer, which emits
    only per-(query, cell) top-k rows (<= n_probe*k per query)."""
    from pyspark.sql import Window

    order = [
        F.col(score).asc() if ascending else F.col(score).desc(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy(qid).orderBy(*order)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def _cogroup_cell_scores(
    idx: DataFrame,
    qcells: DataFrame,
    meta: dict,
    id_col: str,
    k: int,
    exclude_self: bool,
    split: int,
) -> DataFrame:
    """The wide-batch scorer of ``ann_topk``: each probed cell cogroups
    with its probing queries (``applyInPandas``, one Arrow batch per
    cell), scores them as one queries x rows block — a BLAS matmul of
    cosine rounded to 6 digits, or PQ ADC gathers summed in
    ``_adc_score``'s subspace order from the same numpy table
    expressions — and emits only its per-(query, cell) top-k by
    (score, id). That is the exact per-cell prefix of the global
    ranking, so the per-qid window over <= n_probe*k rows per query
    reproduces the broadcast-expression plan row for row. The query
    side shuffles on ``_cell``, so there is no broadcast-width cap. The
    measured wide-sweep case: the codegen cosine fold costs ~64 us per
    candidate pair, 855-947 s at 10k queries x 8 probes x 625-vector
    cells, which the matmul scores in 8.6 s end to end (COVERAGE.md r11).

    ``split`` > 1 bounds PER-GROUP MEMORY: one group materializes a
    whole cell, so an append-fattened hot cell would be an executor OOM
    (VERDICT r11 #3). The index side gains ``_chunk = xxhash64(id) %
    split`` and every (qid, cell) probe replicates across all chunks;
    each (cell, chunk) group emits its own exact top-k, so rows stay
    identical."""
    import numpy as np
    import pandas as pd

    kind = _index_kind(meta)
    if kind == "pq":
        books, m, w, pk, cn, residual = _pq_meta_arrays(meta)
    vec_col = "q" if kind == "int8" else meta["vec_col"]
    kk, excl = int(k), bool(exclude_self)

    def _dist(cell, idx_pdf, q):  # (queries x rows), lower ranks first
        if kind != "pq":
            v = np.array(idx_pdf[vec_col].tolist(), dtype=np.float64)
            # dot / (|q| * |v|): same formulation as functions.vectors.cosine
            sims = (q @ v.T) / np.maximum(
                np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1)),
                1e-300,
            )
            return -np.round(sims, 6)
        codes = np.array(idx_pdf["codes"].tolist(), dtype=np.int64)
        xn = q / np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
        qr = xn - cn[cell] if residual else xn
        sub = np.arange(m)
        d = np.empty((len(q), len(codes)))
        for qi in range(len(q)):
            t = np.stack(
                [
                    ((books[si] - qr[qi, si * w : (si + 1) * w][None, :]) ** 2)
                    .sum(axis=1)
                    for si in range(m)
                ]
            )
            d[qi] = t[sub[None, :], codes].sum(axis=1)
        return d

    def _cell_topk(key, idx_pdf, q_pdf):  # type: ignore[no-untyped-def]
        if len(idx_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {
                    "_qid": pd.Series([], dtype="int64"),
                    id_col: pd.Series([], dtype="int64"),
                    "_score": pd.Series([], dtype="float64"),
                }
            )
        ids = idx_pdf[id_col].to_numpy(dtype=np.int64)
        qids = q_pdf["_qid"].to_numpy(dtype=np.int64)
        q = np.array(q_pdf["_qvec"].tolist(), dtype=np.float64)
        d = _dist(int(key[0]), idx_pdf, q)
        if excl:
            d[qids[:, None] == ids[None, :]] = np.inf
        n = min(kk, len(ids))
        rq, ri, rd = [], [], []
        for i in range(len(qids)):
            order = np.lexsort((ids, d[i]))[:n]
            keep = order[np.isfinite(d[i][order])]
            rq.append(np.full(len(keep), qids[i], dtype=np.int64))
            ri.append(ids[keep])
            rd.append(d[i][keep])
        score = np.concatenate(rd)
        return pd.DataFrame(
            {
                "_qid": np.concatenate(rq),
                id_col: np.concatenate(ri),
                "_score": score if kind == "pq" else -score,
            }
        )

    keys = ["_cell"]
    if int(split) > 1:
        chunk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(split))).cast("int")
        idx = idx.withColumn("_chunk", chunk)
        # sequence of int literals is already array<int> (a cast around a
        # generator is illegal anyway), matching the pmod cast on the index
        qcells = qcells.withColumn(
            "_chunk", F.explode(F.sequence(F.lit(0), F.lit(int(split) - 1)))
        )
        keys.append("_chunk")
    return (
        idx.groupBy(*keys)
        .cogroup(qcells.groupBy(*keys))
        .applyInPandas(_cell_topk, f"_qid bigint, {id_col} bigint, _score double")
    )


def _assign_cells(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Attach `_cell` = argmax cosine(vec, centroid) in one Arrow GEMM
    pass — the one assignment step behind ``build_ann_index``, appends,
    syncs, deletes and the IVF dedup paths, so every stateless
    re-assignment agrees bit-for-bit with the stored cells)."""
    import numpy as np
    import pandas as pd

    cn = np.asarray(centroids, dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("int")
    def _cell(s):  # type: ignore[no-untyped-def]
        x = np.array(s.tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((xn @ cn.T).argmax(axis=1).astype("int32"))

    return df.withColumn("_cell", _cell(F.col(vec_col)))


def _grid_centroids(df: DataFrame, id_col: str, vec_col: str, n_cells: int):
    """The deterministic first-``n_cells``-by-id centroid init shared by
    ``build_ann_index`` and the IVF dedup paths (pass ``kmeans_centroids`` output
    instead for trained cells)."""
    rows = (
        df.orderBy(id_col)
        .limit(n_cells)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    return [list(r[0]) for r in rows]


def build_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    quantized: bool | str = False,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_residual: bool = True,
    pq_max_train: int = 20_000,
) -> list[list[float]]:
    """Materialize an IVF ANN index: assign every corpus row to its
    nearest centroid ONCE and commit the corpus as a MANIFEST TABLE
    (sinks/manifest.py) at ``path``, partitioned by ``_cell``, with the
    centroids (and PQ codebooks) in the table PROPERTIES.

    This is the serving-path fix for per-query corpus rescans: a query
    via ``ann_topk`` reads ONLY its ``n_probe`` probed cell
    directories (PartitionFilters pruning, pinned in
    tests/test_plan_quality.py) — at 100 TB that is ~n_probe/n_cells of
    the data instead of a full scan + rehash per query. The write costs
    one assignment pass + one shuffle-free partitioned write, amortized
    over every subsequent query; rebuild on corpus refresh (or append
    new batches with the same persisted centroids — assignment is
    stateless given the persisted centroids).

    ``quantized=True`` (or ``'int8'``) stores int8 vectors + a
    per-vector scale (``operators/quantize.py``) INSTEAD of the float
    array — the ~4x storage/IO lever that matters most here, since the
    index is the hot serving copy of a 100 TB embedding store. Cell
    assignment still runs on the ORIGINAL floats (centroid geometry
    unaffected), and the query-side re-rank stays mathematically clean
    because the symmetric per-vector scheme's scale CANCELS in cosine:
    cos(scale*q, query) == cos(q, query) exactly — so ranking degrades
    only by the int8 rounding of the vector itself (recall gated by
    ``ss_ann_ivf_quant``), never by a dequantization step. TinyInt
    elements dictionary-encode in parquet (<=255 distinct values),
    which is where the measured byte reduction comes from.

    ``quantized='pq'`` composes IVF with PRODUCT QUANTIZATION — the
    standard billion-vector layout (IVF prunes WHICH cells a query
    scans; PQ shrinks WHAT the scan reads): each row stores only its
    ``pq_m`` sub-space code indices (tinyint — 8 BYTES per vector at
    the defaults, 64x smaller than the float64 array), the codebooks
    ride in the table properties, and ``ann_topk`` ADC-scans the
    probed cells' codes (``refine`` re-ranks the top candidates against
    full-precision vectors fetched by id). ``pq_residual`` (default)
    trains and encodes on the RESIDUAL (normalized vector minus its
    cell's normalized centroid) — residual magnitudes are much smaller
    than vector magnitudes, so the same 8-byte budget buys finer
    quantization (recall gated >= the non-residual path by
    ``ss_ann_pq_indexed``). Training is the deterministic
    first-``pq_max_train``-by-id sample (``pq.pq_train``'s contract);
    at 100 TB pass a representative frame — encoding stays one Arrow
    GEMM pass over the corpus either way.

    Builds and appends are atomic commits: ``restore_table`` gives
    serving rollback (metadata-only), ``read_changes`` lets a replica
    ship only changed cells, and ``delete_from_ann_index`` removes
    vectors as a partition-scoped row-level DELETE. A rebuild at the
    same path is a new version that supersedes the old one; the
    superseded files stay on disk (``snapshot`` can still read them)
    until ``vacuum_table`` reclaims them. Cell pruning is exact from
    the manifest's partition values; per-file id stats + blooms are
    collected so candidate fetches and deletes prune inside a cell
    too. Reference analogue: L1's drop/recreate-on-retry idempotency
    (LoadFiles.pm:56-64) — rebuilds are commits, not rm -rf.

    Returns the centroids used."""
    from ensembl_database_loader_spark.sinks.manifest import write_table

    if quantized not in (False, True, "int8", "pq"):
        raise ValueError(
            f"quantized must be False, True/'int8', or 'pq', got {quantized!r}"
        )
    if centroids is None:
        centroids = _grid_centroids(df, id_col, vec_col, n_cells)
    assigned = _assign_cells(df, vec_col, centroids)
    pq_meta = None
    if quantized == "pq":
        books = _pq_train_cells(
            assigned, id_col, vec_col, centroids,
            m=pq_m, k=pq_k, residual=pq_residual, max_train=pq_max_train,
        )
        pq_meta = {
            "m": pq_m,
            "k": pq_k,
            "residual": bool(pq_residual),
            "codebooks": books,
        }
        assigned = _pq_encode_index_rows(
            assigned, id_col, vec_col, books, centroids, pq_residual
        )
    elif quantized:
        assigned = _quantize_index_rows(assigned, id_col, vec_col)
    meta = {
        "kind": "ivf",
        "id_col": id_col,
        "vec_col": vec_col,
        "n_cells": len(centroids),
        "dim": len(centroids[0]),
        "centroids": centroids,
        "quantized": quantized,
        **({"pq": pq_meta} if pq_meta else {}),
    }
    # PACK CELLS BEFORE WRITING: partitionBy alone writes one file per
    # (input task x cell) — a 16-partition frame into 64 cells lands
    # 1000+ splinter files, and every later scan/bloom-check/commit
    # pays per file. Hash-clustering on _cell first writes ~one file
    # per cell; oversized cells split by spark.sql.files.
    # maxRecordsPerFile (the cogroup scorer's memory bound is
    # _suggest_cell_split).
    write_table(
        assigned.repartition("_cell"),
        path,
        mode="overwrite",
        partition_by=("_cell",),
        stats_cols=(id_col,),
        bloom_cols=(id_col,),
        properties={"ann": meta},
    )
    return centroids


def _quantize_index_rows(assigned: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, q array<tinyint>, scale, _cell) — the stored shape of a
    quantized IVF index row; the float vector is dropped."""
    from ensembl_database_loader_spark.operators.quantize import (
        quantize_embeddings,
    )

    q = quantize_embeddings(assigned, vec_col, q_col="q", scale_col="scale")
    return q.select(
        F.col(id_col),
        F.col("q").cast("array<tinyint>").alias("q"),
        "scale",
        "_cell",
    )


def _pq_train_cells(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    centroids,
    m: int,
    k: int,
    residual: bool,
    max_train: int,
) -> list:
    """PQ codebooks for an IVF-PQ index: Lloyd on the deterministic
    first-``max_train``-by-id sample of NORMALIZED vectors — minus each
    row's normalized cell centroid when ``residual`` (the residual
    space all cells share: ||xn - qn|| == ||(xn - c) - (qn - c)||, so
    one codebook set serves every cell while quantizing the much
    smaller residual magnitudes)."""
    import numpy as np

    from ensembl_database_loader_spark.operators.pq import lloyd_codebooks

    if k > 127:
        raise ValueError(f"pq_k must fit tinyint codes (<= 127), got {k}")
    rows = (
        assigned.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
            "_cell",
        )
        .orderBy("_id")
        .limit(int(max_train))
        .collect()
    )
    if not rows:
        raise ValueError("build_ann_index(quantized='pq'): empty corpus")
    x = np.array([r._v for r in rows], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    if residual:
        cn = np.asarray(centroids, dtype=np.float64)
        cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
        x = x - cn[np.array([r._cell for r in rows], dtype=np.int64)]
    return lloyd_codebooks(x, m, k, n_iter=5)


def _pq_encode_index_rows(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list,
    centroids,
    residual: bool,
) -> DataFrame:
    """(id, codes array<tinyint>, _cell) — the stored shape of an
    IVF-PQ index row (8 bytes/vector at m=8); the float vector is
    dropped. One Arrow pass; with ``residual`` each vector encodes
    relative to its cell's normalized centroid."""
    import numpy as np
    import pandas as pd

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    m = len(books)
    w = books[0].shape[1]
    dim = m * w
    cn = np.asarray(centroids, dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("array<tinyint>")
    def _enc(vs, cs):  # type: ignore[no-untyped-def]
        x = np.array(vs.tolist(), dtype=np.float64)
        if x.ndim != 2 or x.shape[1] != dim:
            raise ValueError(f"expected {dim}-dim vectors")
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        if residual:
            x = x - cn[cs.to_numpy(dtype=np.int64)]
        codes = np.empty((x.shape[0], m), dtype=np.int8)
        for si in range(m):
            sub = x[:, si * w : (si + 1) * w]
            d = ((sub[:, None, :] - books[si][None, :, :]) ** 2).sum(axis=2)
            codes[:, si] = d.argmin(axis=1).astype(np.int8)
        return pd.Series(list(codes))

    return assigned.select(
        F.col(id_col),
        _enc(F.col(vec_col), F.col("_cell")).alias("codes"),
        "_cell",
    )


def _pq_meta_arrays(meta: dict):
    """(books, m, w, pk, cn, residual) — the numpy shape of a PQ
    index's codebooks + normalized coarse centroids."""
    import numpy as np

    pq = meta["pq"]
    books = [np.array(b, dtype=np.float64) for b in pq["codebooks"]]
    m, w = len(books), books[0].shape[1]
    pk = books[0].shape[0]
    cn = np.asarray(meta["centroids"], dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    return books, m, w, pk, cn, bool(pq["residual"])


def _probe_cells_np(cn, n_probe, x):
    """(normalized queries, probe order) for an (n, dim) query block —
    the ONE argsort behind every probe-cell computation: the driver-side
    list path, the Arrow probe pass over a query frame, and the PQ
    table builder."""
    import numpy as np

    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return xn, np.argsort(-(xn @ cn.T), axis=1)[:, :n_probe]


def _pq_query_tables_np(books, m, w, pk, cn, residual, xn, order):
    """Flattened ADC tables for normalized queries ``xn`` at their probe
    ``order`` — the ONE numpy implementation behind both the executor
    Arrow pass (``_pq_query_tables_udf``) and the driver-side list path,
    so the two query shapes produce bit-identical tables by construction.
    Returns one list per query of (cell, flattened (m x pk) table
    row-major — si*pk + code indexes it)."""
    import numpy as np

    out = []
    for qi in range(xn.shape[0]):
        ents = []
        for c in order[qi]:
            c = int(c)
            qr = xn[qi] - cn[c] if residual else xn[qi]
            t = np.stack(
                [
                    ((books[si] - qr[si * w : (si + 1) * w][None, :]) ** 2)
                    .sum(axis=1)
                    for si in range(m)
                ]
            )
            ents.append((c, t.ravel().tolist()))
        out.append(ents)
    return out


def _pq_query_tables_udf(books, m, w, pk, cn, residual, n_probe):
    """Arrow UDF: query vector -> its ``n_probe`` probed cells, each
    with the (m x pk) ADC lookup table FLATTENED row-major (si*pk +
    code indexes it). Tables are pure codebook gathers over the query —
    computable executor-side per query ROW, so the driver never loops
    over a query frame (reference analogue: fan-out X1,
    LoadDBs_conf.pm:113-123 — the work list is data, not driver state).
    ~1 KB per (query, cell) at the m=8, pq_k=16 defaults."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("array<struct<cell: int, tbl: array<double>>>")
    def _qtables(vs):  # type: ignore[no-untyped-def]
        x = np.array(vs.tolist(), dtype=np.float64)
        xn, order = _probe_cells_np(cn, n_probe, x)
        ents_all = _pq_query_tables_np(books, m, w, pk, cn, residual, xn, order)
        return pd.Series(
            [[{"cell": c, "tbl": t} for c, t in ents] for ents in ents_all]
        )

    return _qtables


def _probe_cells_udf(cn, n_probe: int, dim: int):
    """Arrow UDF: query vector -> its ``n_probe`` nearest cells. A null,
    wrong-length or null/NaN-holding vector maps to an empty array
    instead of failing the batch, so the planning aggregate can count
    it and ``ann_topk`` rejects it on the driver with a readable
    error."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("array<int>")
    def _probes(s):  # type: ignore[no-untyped-def]
        ok = np.array([v is not None and len(v) == dim for v in s], dtype=bool)
        x = np.zeros((len(s), dim), dtype=np.float64)
        if ok.any():
            x[ok] = np.array([v for v, g in zip(s, ok) if g], dtype=np.float64)
        ok &= ~np.isnan(x).any(axis=1)  # Arrow hands null elements as NaN
        _, order = _probe_cells_np(cn, n_probe, x)
        none = np.empty(0, dtype=np.int32)
        return pd.Series(
            [o if g else none for o, g in zip(order.astype(np.int32), ok)]
        )

    return _probes


def _adc_score(m: int, pk: int):
    """JVM-side ADC distance: m flattened-table gathers summed in
    subspace order (whole-stage codegen — no Python over the corpus;
    the only Arrow UDF runs over the small query side). element_at is
    1-based."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(int(m) - 1)),
        F.lit(0.0),
        lambda acc, si: acc
        + F.element_at(
            F.col("_tbl"),
            si * F.lit(int(pk))
            + F.element_at(F.col("codes"), si + F.lit(1)).cast("int")
            + F.lit(1),
        ),
    )


def _ann_cells_scan(spark, path: str, cells) -> DataFrame:
    """The index rows of exactly ``cells`` — manifest-partition-pruned
    (exact from the manifest's partition values, zero stats jobs; the
    executed scan carries PartitionFilters on ``_cell``)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        scan_table,
        snapshot,
    )

    cells = [int(c) for c in cells]
    if not cells:
        # an empty query batch probes no cells: empty result with the
        # index schema (files_matching rejects empty IN lists)
        return snapshot(spark, path).filter(F.lit(False))
    return scan_table(spark, path, predicates=[("_cell", "in", cells)])


#: Distinct queries from which ``ann_topk`` scores with the per-cell
#: GEMM/ADC cogroup instead of the broadcast-expression plan, per index
#: kind: the crossover measured at 1-1,000 queries on a 2,000-vector,
#: 16-cell index (COVERAGE.md, "ann_topk scorer crossover") — float
#: between 32 and 64 queries, PQ between 300 and 500 (its JVM ADC
#: gathers score ~6-7x cheaper per pair than a 64-dim cosine fold). int8
#: runs the float scorers and takes the float value.
_GEMM_MIN_QUERIES = {"float": 32, "int8": 32, "pq": 500}

#: Most index rows one cogroup Arrow batch may hold: a bigger cell is
#: sub-chunked by ``xxhash64(id) % split`` (``_suggest_cell_split``).
#: A 100k-row cell of 128-dim float64 is ~100 MB per batch.
_CELL_SPLIT_TARGET_ROWS = 100_000

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _index_kind(meta: dict) -> str:
    q = meta.get("quantized")
    return "pq" if q == "pq" else ("int8" if q else "float")


def _reject_malformed(n_bad: int, dim: int) -> None:
    if n_bad:
        raise ValueError(
            f"{n_bad} query vector(s) are null, hold null/NaN elements, or "
            f"are not {dim}-dim (the index dim) — fix or drop them first"
        )


def ann_topk(
    spark,
    path: str,
    queries,
    k: int = 5,
    n_probe: int = 4,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    exclude_self: bool = False,
    refine: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Top-k per query over an IVF index (``build_ann_index``) of any
    kind — float, int8 or PQ, read from the index's ``ann`` property.
    Returns (qid, <id_col>, score, rank) with rank 1..k per query;
    score is ``cos`` (float/int8, or PQ with ``refine``) or
    ``adc_dist`` (PQ). Ties break on the index id.

    ``queries`` is either a driver-side list of (int qid, vector) — a
    single query is a 1-element list — or a DataFrame with ``qid_col``
    and ``qvec_col``. For a list, probe cells are driver arithmetic and
    the query side enters the plan as a literal frame, so planning runs
    no Spark job. For a frame, ONE aggregate over an Arrow probe pass
    returns the probed-cell union, the duplicate-qid guard, the
    malformed-vector count and the query count. Either way the scan
    reads only the union of probed cell partitions (PartitionFilters).
    A null, wrong-length or null/NaN-holding vector and a duplicate qid
    raise ValueError before any scoring.

    The scorer follows from what the planner holds:

    - at least ``_GEMM_MIN_QUERIES[kind]`` queries and integral index id
      and qid columns: per-cell GEMM (float/int8) or vectorized ADC (PQ)
      — probed cells cogroup with their probing queries and each cell
      emits only its per-(query, cell) top-k, so the query side shuffles
      with no broadcast-width cap. A cell above
      ``_CELL_SPLIT_TARGET_ROWS`` rows (manifest row counts, no data
      read) is sub-chunked so no Arrow batch holds more than that;
    - otherwise the broadcast-expression plan: the exploded query side
      broadcasts into a hash join on ``_cell`` and scores JVM-side
      (cosine, or ADC table gathers). It is the only path for string
      qids, and the faster one for narrow batches.

    Both scorers round cosine to 6 digits before ranking and per-cell
    top-k is exact, so they return identical rows. int8 indexes rank on
    the codes directly — the per-vector scale cancels in cosine.

    ``exclude_self`` drops candidates whose index id equals the qid.
    ``refine`` > 0 (PQ only) re-ranks each query's top-``refine`` ADC
    candidates by exact cosine against ``corpus`` vectors fetched by id
    (broadcast joins on the tiny candidate and query frames)."""
    import numpy as np

    meta = ann_index_meta(path, spark)
    kind = _index_kind(meta)
    id_col, dim = meta["id_col"], int(meta["dim"])
    if qid_col == id_col:
        raise ValueError(
            f"qid_col and id_col must differ in the output, both {qid_col!r}"
            " — alias the query side first"
        )
    if refine and kind != "pq":
        raise ValueError("refine re-ranks PQ ADC candidates — PQ indexes only")
    if refine and corpus is None:
        raise ValueError("refine > 0 needs the corpus to fetch vectors from")
    cn = np.asarray(meta["centroids"], dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    n_probe = min(int(n_probe), cn.shape[0])
    probes = _probe_cells_udf(cn, n_probe, dim)

    if isinstance(queries, DataFrame):
        lit = None
        q0 = queries.select(
            F.col(qid_col).alias("_qid"),
            F.col(qvec_col).cast("array<double>").alias("_qvec"),
        )
        v = F.col("_qvec")
        bad = (
            v.isNull()
            | (F.size(v) != dim)
            | F.exists(v, lambda x: x.isNull() | F.isnan(x))
        )
        # a malformed vector probes no cells, so explode_outer keeps it
        # as ONE row; every valid query yields exactly n_probe rows, so
        # rows == distinct qids x n_probe iff qids are unique
        row = (
            q0.select("_qid", bad.alias("_bad"), F.explode_outer(probes(v)).alias("_c"))
            .agg(
                F.collect_set("_c").alias("cells"),
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("_qid").alias("d"),
                F.count(F.when(F.col("_bad"), 1)).alias("bad"),
            )
            .first()
        )
        _reject_malformed(int(row["bad"]), dim)
        n_rows, n_q = int(row["n"]) // max(n_probe, 1), int(row["d"])
        cells = sorted(row["cells"])
        integral = dict(queries.dtypes)[qid_col] in _INTEGRAL
    else:
        pairs_in = list(queries)
        _reject_malformed(
            sum(
                1
                for _, vec in pairs_in
                if vec is None
                or len(vec) != dim
                or any(x is None or x != x for x in vec)
            ),
            dim,
        )
        lit = [(int(q), [float(x) for x in vec]) for q, vec in pairs_in]
        n_rows, n_q = len(lit), len({q for q, _ in lit})
        x = np.array([vec for _, vec in lit], dtype=np.float64).reshape(-1, dim)
        xn, order = _probe_cells_np(cn, n_probe, x)
        cells = sorted({int(c) for c in order.ravel()})
        integral = True
    if n_rows != n_q:
        raise ValueError(
            f"duplicate {qid_col} values in the query batch ({n_rows} rows, "
            f"{n_q} distinct) — dedupe or re-key the queries first"
        )

    idx = _ann_cells_scan(spark, path, cells)
    gemm = (
        n_q >= _GEMM_MIN_QUERIES[kind]
        and integral
        and dict(idx.dtypes)[id_col] in _INTEGRAL
    )
    pq = _pq_meta_arrays(meta) if kind == "pq" else None
    if kind == "pq" and not gemm:
        if lit is None:
            qtables = _pq_query_tables_udf(*pq, n_probe)
            # explode_outer: plain explode would let Catalyst infer
            # size(udf(...)) > 0 and push a UDF-referencing constraint
            # around the plan (re-running the UDF)
            qcells = q0.select(
                "_qid", F.explode_outer(qtables(F.col("_qvec"))).alias("_e")
            ).select(
                "_qid", F.col("_e.cell").alias("_cell"), F.col("_e.tbl").alias("_tbl")
            )
        else:
            ents = _pq_query_tables_np(*pq, xn, order)
            qcells = spark.createDataFrame(
                [(q, c, t) for (q, _), es in zip(lit, ents) for c, t in es],
                "_qid bigint, _cell int, _tbl array<double>",
            )
    elif lit is None:
        qcells = q0.select(
            "_qid", "_qvec", F.explode_outer(probes(F.col("_qvec"))).alias("_cell")
        )
    else:
        qcells = spark.createDataFrame(
            [(q, vec, int(c)) for (q, vec), cs in zip(lit, order) for c in cs],
            "_qid bigint, _qvec array<double>, _cell int",
        )

    kk = int(refine) if refine else int(k)
    if gemm:
        scored = _cogroup_cell_scores(
            idx, qcells, meta, id_col, kk, exclude_self,
            _suggest_cell_split(spark, path),
        )
    else:
        pairs = idx.join(F.broadcast(qcells), "_cell")
        if exclude_self:
            pairs = pairs.filter(F.col(id_col) != F.col("_qid"))
        if kind == "pq":
            score = _adc_score(pq[1], pq[3])
        else:
            vec = (
                F.transform("q", lambda x: x.cast("double"))
                if kind == "int8"
                else F.col(meta["vec_col"])
            )
            score = F.round(_safe_cosine(vec, F.col("_qvec")), 6)
        scored = pairs.select("_qid", F.col(id_col), score.alias("_score"))
    ranked = _per_query_topk(scored, "_qid", id_col, "_score", kind == "pq", kk)

    if refine:
        qv = q0 if lit is None else spark.createDataFrame(
            lit, "_qid bigint, _qvec array<double>"
        )
        vec_col = meta["vec_col"]
        cos = F.round(_safe_cosine(F.col(vec_col), F.col("_qvec")), 6)
        refined = (
            corpus.select(F.col(id_col), F.col(vec_col))
            .join(F.broadcast(ranked.select("_qid", id_col)), id_col)
            .join(F.broadcast(qv), "_qid")
            .select("_qid", F.col(id_col), cos.alias("_score"))
        )
        ranked = _per_query_topk(refined, "_qid", id_col, "_score", False, int(k))
    out = (
        F.round("_score", 6).alias("adc_dist")
        if kind == "pq" and not refine
        else F.col("_score").alias("cos")
    )
    return ranked.select(F.col("_qid").alias(qid_col), F.col(id_col), out, "rank")


def _encode_rows_for_index(new_df: DataFrame, meta: dict) -> DataFrame:
    """Rows shaped for the index's STORED layout: cell-assigned with
    the persisted centroids, then quantized/PQ-encoded with the
    persisted codebooks when the index is quantized — the one shared
    encoder behind ``append_to_ann_index`` and
    ``indexsync.sync_ann_index``, so appended and synced rows are
    bit-identical however they arrive."""
    assigned = _assign_cells(new_df, meta["vec_col"], meta["centroids"])
    if meta.get("quantized") == "pq":
        pq = meta["pq"]
        assigned = _pq_encode_index_rows(
            assigned,
            meta["id_col"],
            meta["vec_col"],
            pq["codebooks"],
            meta["centroids"],
            pq["residual"],
        )
    elif meta.get("quantized"):
        assigned = _quantize_index_rows(assigned, meta["id_col"], meta["vec_col"])
    # pack cells before any write: one file per cell per batch, not
    # one per (input task x cell) — see build_ann_index's note
    return assigned.repartition("_cell")


def _ann_delete_prune(
    spark, meta: dict, deleted_df: DataFrame
) -> tuple[list, list[int]] | None:
    """(prune triples, scoped cells) for removing ``deleted_df``'s ids
    from an index — cell-scoped for float indexes (stateless
    re-assignment from the caller's vectors provably reproduces the
    stored cells), id stats/blooms only for quantized ones (a
    rebalance re-assigns from stored codes, whose rounding can flip
    near-boundary argmaxes — a conjoined wrong cell would silently
    skip the row). None when the delete frame has no ids. Shared by
    ``delete_from_ann_index`` and ``indexsync.sync_ann_index``."""
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    prune: list = []
    cells: list[int] = []
    if vec_col in deleted_df.columns and not meta.get("quantized"):
        # ONE collect yields both the scoped cells and the victim ids
        # (the frame is broadcast-dim by the delete contract; two
        # separate distinct+collect jobs doubled the scheduler round
        # trips for no extra information)
        pairs = (
            _assign_cells(
                deleted_df.select(F.col(id_col), F.col(vec_col)),
                vec_col,
                meta["centroids"],
            )
            .select("_cell", id_col)
            .distinct()
            .collect()
        )
        cells = sorted({int(r[0]) for r in pairs})
        ids = sorted({r[1] for r in pairs})
        if cells:
            prune.append(("_cell", "in", cells))
    else:
        ids = sorted(
            r[0] for r in deleted_df.select(id_col).distinct().collect()
        )
    if not ids:
        return None
    prune.append((id_col, "in", ids))
    return prune, cells


def append_to_ann_index(
    new_df: DataFrame,
    path: str,
    txn: tuple[str, int] | None = None,
    extra_properties: dict | None = None,
) -> None:
    """Append a NEW batch into an existing IVF index: assignment uses
    the index's PERSISTED centroids (table properties), so the append
    is stateless and never touches the already-indexed rows — the ANN
    twin of ``pipeline.curate.curate_increment``'s fingerprint-store
    append for recurring ingest. New rows land inside the existing
    ``_cell=...`` partition directories, so queries keep pruning to
    n_probe cells with zero rebuild. (Re-train + rebuild only when the
    corpus distribution drifts enough that centroid quality matters.)
    A quantized index quantizes the appended rows the same way — the
    stored shape is uniform across batches (an IVF-PQ index encodes
    the new rows with the PERSISTED codebooks, so old and new codes
    stay mutually comparable). The append is an ATOMIC COMMIT (readers
    see the old snapshot until it publishes; pass ``txn`` for
    exactly-once under streaming replay)."""
    from ensembl_database_loader_spark.sinks.manifest import (
        table_properties,
        write_table,
    )

    meta = ann_index_meta(path, new_df.sparkSession)
    assigned = _encode_rows_for_index(new_df, meta)
    # id stats re-declared per append (blooms inherit from the table
    # spec automatically; [min, max] stats do not) — without them every
    # appended file loses the id-pruning the build promises for deletes
    # and candidate fetches. extra_properties MERGES top-level keys into
    # the head's map atomically with this commit (an index-sync
    # watermark must version with the rows it accounts for); None
    # carries the head's map untouched.
    props = (
        {**table_properties(new_df.sparkSession, path), **extra_properties}
        if extra_properties
        else None
    )
    write_table(
        assigned, path, mode="append", txn=txn,
        stats_cols=(meta["id_col"],),
        properties=props,
    )


def rebalance_ann_index(
    spark,
    path: str,
    n_cells: int | None = None,
    n_iter: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """RE-CLUSTER an IVF index in place: appends keep
    the original centroids (assignment is stateless), so a drifting
    ingest slowly concentrates rows into a few hot cells — every query
    probing a hot cell then scans far more than n_probe/n_cells of the
    data, and the per-cell GEMM/window stages inherit the skew. This
    maintenance step retrains centroids on the CURRENT index contents
    (distributed Lloyd's, deterministic init), re-assigns every row,
    and publishes the re-clustered layout + new centroids as ONE
    atomic commit (properties version with the data), so readers see
    the old index until the instant the new one is complete and
    ``restore_table`` undoes the rebalance metadata-only.

    Works on float and int8 indexes (int8 re-clusters on the stored
    codes — the symmetric scale cancels in cosine, so code geometry ==
    vector geometry up to rounding). A PQ index stores only lossy
    codes; re-clustering needs the corpus — rebuild with
    ``build_ann_index(..., quantized='pq')`` instead (raises here).

    Returns {"version", "n_cells", "max_share_before",
    "max_share_after"} — the shares are metadata-only reads
    (``table_partitions``), so the skew diagnostic itself costs zero
    data IO. A replayed ``txn`` is detected at ENTRY (one manifest
    read) and returns the no-op result before any retrain or scan —
    a replayed maintenance job must not pay the recluster just to
    commit nothing (ADVICE r12). Prefer ``split_hot_cells`` for
    routine maintenance: it rewrites only the hot cells; this full
    form is for when the centroid GEOMETRY itself has drifted."""
    from ensembl_database_loader_spark.sinks.manifest import (
        _txn_skip,
        latest_manifest,
        snapshot,
        table_partitions,
        table_properties,
        write_table,
    )

    meta = ann_index_meta(path, spark)
    if meta.get("quantized") == "pq":
        raise ValueError(
            "PQ indexes store lossy codes — re-cluster from the corpus "
            "via build_ann_index(..., quantized='pq')"
        )
    id_col = meta["id_col"]
    n_cells = int(n_cells or meta["n_cells"])

    before = _sharemax(table_partitions(spark, path))
    if _txn_skip(latest_manifest(spark, path), txn):
        return {
            "version": None,
            "n_cells": n_cells,
            "max_share_before": round(before, 4),
            "max_share_after": round(before, 4),
        }
    rows = snapshot(spark, path).drop("_cell")
    if meta.get("quantized"):
        vec_col = "_v"
        rows = rows.withColumn(
            vec_col, F.transform("q", lambda x: x.cast("double"))
        )
    else:
        vec_col = meta["vec_col"]
    cents = kmeans_centroids(rows, id_col, vec_col, n_cells, n_iter=n_iter)
    assigned = _assign_cells(rows, vec_col, cents)
    if meta.get("quantized"):
        assigned = assigned.drop(vec_col)
    new_meta = meta | {"centroids": cents, "n_cells": n_cells}
    # merge into the head's map: foreign property keys (an index-sync
    # watermark) must survive maintenance commits
    props = table_properties(spark, path)
    m = write_table(
        assigned.repartition("_cell"),  # ~one file per cell
        path,
        mode="overwrite",
        partition_by=("_cell",),
        stats_cols=(id_col,),
        bloom_cols=(id_col,),
        properties={**props, "ann": new_meta},
        txn=txn,
    )
    after = _sharemax(table_partitions(spark, path))
    return {
        "version": None if m is None else int(m["version"]),
        "n_cells": n_cells,
        "max_share_before": round(before, 4),
        "max_share_after": round(after, 4),
    }


def split_hot_cells(
    spark,
    path: str,
    hot_share: float = 0.25,
    split: int = 2,
    n_iter: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """PARTIAL rebalance of an IVF index: split only the
    cells whose row share exceeds ``hot_share``, carrying every other
    file BY REFERENCE (VERDICT r11 #4 — ``rebalance_ann_index``
    rewrites the whole index; at 100 TB routine maintenance must be
    O(hot cells), the way ``delete_rows`` is O(victim files)).

    Plan: the skew diagnostic is metadata-only (``table_partitions``);
    for each hot cell, ``split`` sub-centroids train by Lloyd's on THAT
    CELL's rows alone (a partition-pruned scan reads only hot cells),
    its rows re-assign among its own sub-centroids, and the new layout
    + extended centroid list publish as ONE atomic commit
    (``replace_partitions``) — the hot cell's id keeps sub-centroid 0,
    the rest append as new cell ids, so every other cell's id (and
    files, stats, blooms) is untouched. A replayed ``txn`` returns the
    no-op result at entry, before any training.

    Semantics note (standard IVF): rows re-assign among their OWN
    cell's sub-centroids, so a stored row near the old boundary stays
    in its sub-tree even if some other centroid is now marginally
    closer — serving (which probes nearest cells of the ENLARGED list)
    still finds it, because the sub-centroids cover exactly the old
    cell's region. Serving parity vs a full rebalance is gated on the
    clustered fixture; appends after the split assign against the
    enlarged list statelessly.

    Float and int8 indexes (codes re-cluster directly — scale cancels
    in cosine); PQ raises, as in ``rebalance_ann_index``. Returns
    {"version", "n_cells", "cells_split", "files_rewritten",
    "files_untouched", "max_share_before", "max_share_after"}."""
    from ensembl_database_loader_spark.sinks.manifest import (
        _txn_skip,
        latest_manifest,
        replace_partitions,
        scan_table,
        table_partitions,
        table_properties,
    )

    meta = ann_index_meta(path, spark)
    if meta.get("quantized") == "pq":
        raise ValueError(
            "PQ indexes store lossy codes — re-cluster from the corpus "
            "via build_ann_index(..., quantized='pq')"
        )
    if int(split) < 2:
        raise ValueError(f"split must be >= 2, got {split}")
    id_col = meta["id_col"]
    head = latest_manifest(spark, path)  # one read serves noop + txn
    parts = table_partitions(spark, path)
    if any(p["n_rows"] is None for p in parts):
        # a None count means SOME file predates row counting — treating
        # it as 0 would silently hide a genuinely hot cell from the
        # exact diagnostic this function is (r12 self-review)
        raise ValueError(
            f"index at {path} has partitions without row counts — "
            "rebuild or compact it (modern commits record per-file rows)"
        )
    counts = {int(p["values"]["_cell"]): int(p["n_rows"]) for p in parts}
    total = sum(counts.values())
    before = (max(counts.values()) / total) if total else 0.0
    hot = sorted(c for c, n in counts.items() if total and n / total > hot_share)

    def _noop():
        return {
            "version": None,
            "n_cells": int(meta["n_cells"]),
            "cells_split": [],
            "files_rewritten": 0,
            "files_untouched": len(head["files"]),
            "max_share_before": round(before, 4),
            "max_share_after": round(before, 4),
        }

    if not hot:
        return _noop()
    if _txn_skip(head, txn):
        return _noop()

    centroids = [list(c) for c in meta["centroids"]]
    hot_rows = scan_table(spark, path, predicates=[("_cell", "in", hot)])
    if meta.get("quantized"):
        vec_col = "_v"
        hot_rows = hot_rows.withColumn(
            vec_col, F.transform("q", lambda x: x.cast("double"))
        )
    else:
        vec_col = meta["vec_col"]
    pieces = []
    for c in hot:
        cell_rows = hot_rows.filter(F.col("_cell") == c).drop("_cell")
        subs = kmeans_centroids(
            cell_rows, id_col, vec_col, int(split), n_iter=n_iter
        )
        # sub 0 keeps the hot cell's id; the rest append as new cells
        global_ids = [c] + list(
            range(len(centroids), len(centroids) + len(subs) - 1)
        )
        centroids[c] = list(subs[0])
        centroids.extend(list(s) for s in subs[1:])
        assigned = _assign_cells(cell_rows, vec_col, subs).withColumn(
            "_cell",
            F.element_at(
                F.array(*[F.lit(int(g)) for g in global_ids]),
                F.col("_cell") + 1,
            ),
        )
        pieces.append(assigned)
    out_rows = pieces[0]
    for p in pieces[1:]:
        out_rows = out_rows.unionByName(p)
    if meta.get("quantized"):
        out_rows = out_rows.drop(vec_col)
    new_meta = meta | {"centroids": centroids, "n_cells": len(centroids)}
    # merged map, as in rebalance: foreign keys survive the hot-split
    m = replace_partitions(
        spark,
        path,
        [{"_cell": c} for c in hot],
        out_rows.repartition("_cell"),  # ~one file per written cell
        stats_cols=(id_col,),
        properties={**table_properties(spark, path), "ann": new_meta},
        txn=txn,
    )
    after = _sharemax(table_partitions(spark, path))
    return {
        "version": None if m is None else int(m["version"]),
        "n_cells": len(centroids),
        "cells_split": hot,
        "files_rewritten": 0 if m is None else int(m["files_rewritten"]),
        "files_untouched": 0 if m is None else int(m["files_untouched"]),
        "max_share_before": round(before, 4),
        "max_share_after": round(after, 4),
    }


def _sharemax(parts) -> float:
    counts = [int(p["n_rows"] or 0) for p in parts]
    total = sum(counts)
    return (max(counts) / total) if total else 0.0


def _suggest_cell_split(spark, path: str) -> int:
    """The cogroup sub-chunk count for this index: 0 when every cell
    fits ``_CELL_SPLIT_TARGET_ROWS``, else ceil(max cell rows / target)
    — sized from the manifest's per-cell row counts alone (zero data
    IO, the same stats ``split_hot_cells`` diagnoses skew from). A
    manifest whose counts are incomplete RAISES rather than return a
    guess the memory bound would trust."""
    import math

    from ensembl_database_loader_spark.sinks.manifest import table_partitions

    parts = table_partitions(spark, path)
    if any(p["n_rows"] is None for p in parts):
        raise ValueError(
            f"index at {path} has partitions without row counts — "
            "rebuild or compact it (modern commits record per-file rows)"
        )
    biggest = max((int(p["n_rows"]) for p in parts), default=0)
    if biggest <= _CELL_SPLIT_TARGET_ROWS:
        return 0
    return math.ceil(biggest / _CELL_SPLIT_TARGET_ROWS)


def delete_from_ann_index(spark, path: str, deleted_df: DataFrame) -> dict | None:
    """Remove vectors from an ANN index as a
    partition-scoped row-level DELETE — the maintenance step upstream
    dedup/curation deletes need: without it, stale vectors keep serving
    until a full rebuild.

    ``deleted_df`` carries the index's id column and (optionally) its
    vector column — the natural shape, since the caller IS the curation
    pass holding the dropped rows. With vectors present, each deleted
    row's cell is recomputed STATELESSLY from the index's persisted
    centroids (the same `_assign_cells` math that placed it), so the
    copy-on-write rewrite prunes to exactly the affected ``_cell``
    partitions — FLOAT indexes only (quantized indexes may have been
    rebalanced from their stored codes, so the recompute is not
    faithful and the delete scopes by id stats + blooms instead);
    without vectors, pruning falls back to the per-file id
    stats + blooms the index build collected. Either way untouched
    files are carried by reference, pinned readers of older snapshots
    are unaffected, and ``restore_table`` undoes the delete
    metadata-only (serving rollback).

    The delete batch is broadcast-dim by contract (a curation wave's
    drop list — ids become an IN condition); shard wider deletes into
    waves. Returns ``delete_rows``'s manifest dict (plus
    ``cells_scoped``) or None when no index row matched."""
    from ensembl_database_loader_spark.sinks.manifest import delete_rows

    meta = ann_index_meta(path, spark)
    id_col = meta["id_col"]
    if id_col not in deleted_df.columns:
        raise ValueError(
            f"deleted_df needs the index id column {id_col!r}; "
            f"has {deleted_df.columns}"
        )
    # cell scoping is conjoined into the ROW condition by delete_rows,
    # so it is only applied when provably faithful — see
    # _ann_delete_prune for the float-vs-quantized argument
    pruned = _ann_delete_prune(spark, meta, deleted_df)
    if pruned is None:
        return None
    prune, cells = pruned
    out = delete_rows(spark, path, prune=prune)
    if out is not None:
        out["cells_scoped"] = cells
    return out


def ann_index_meta(path: str, spark) -> dict:
    """The index's meta (centroids, codebooks, quantization), read from
    the index table's ``ann`` PROPERTY."""
    from ensembl_database_loader_spark.sinks.manifest import table_properties

    props = table_properties(spark, path)
    if "ann" not in props:
        raise ValueError(f"table at {path} has no 'ann' property — not an index")
    return props["ann"]


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    num_blocks: int = 32,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All-pairs cosine >= threshold: (id1, id2, cos), via blocked
    matrix multiply. Rows are hashed into ``num_blocks`` blocks, each
    block packed into one row (collect_list), block pairs (bi <= bj)
    joined, and each block-pair's cosines computed as one numpy GEMM
    inside an Arrow-batched mapInPandas — ~1000x fewer rows than a
    pairwise self-join and BLAS instead of interpreted per-pair folds.
    At scale, size num_blocks so a block (rows/num_blocks * dim * 8 B)
    fits comfortably in an executor's Arrow batch (a few MB).

    ``group_cols`` restricts pair generation to rows sharing every
    listed column (cluster / language / LSH-bucket blocking): the
    packing groupBy and the block-pair join both key on the group
    columns, so cross-group GEMM work and shuffle are never generated
    — the restriction is pushed INTO the pair stage, not filtered
    after it. Rows with a NULL group value pair with nothing (SQL
    equality semantics). If the same (id1, id2) can co-occur in
    multiple groups (e.g. multi-table LSH postings), the caller
    dedups.

    Cosines are rounded half-away-from-zero to 6 decimals, matching
    Spark/DuckDB ROUND. Zero-norm vectors yield NaN and never pass the
    threshold (same as the SQL twin's NULL)."""
    import numpy as np
    import pandas as pd

    packed = (
        df.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            *[F.col(g) for g in group_cols],
        )
        .withColumn("bid", F.pmod(F.xxhash64("id"), F.lit(num_blocks)))
        .groupBy(*group_cols, "bid")
        .agg(F.collect_list(F.struct("id", "v")).alias("rows"))
    )
    cond = F.col("x.bid") <= F.col("y.bid")
    for g in group_cols:
        cond = (F.col(f"x.{g}") == F.col(f"y.{g}")) & cond
    block_pairs = (
        packed.alias("x")
        .join(packed.alias("y"), cond)
        .select(
            F.col("x.bid").alias("bid1"),
            F.col("x.rows").alias("rows1"),
            F.col("y.bid").alias("bid2"),
            F.col("y.rows").alias("rows2"),
        )
    )

    def gemm(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids1 = np.array([r["id"] for r in row.rows1], dtype=np.int64)
                ids2 = np.array([r["id"] for r in row.rows2], dtype=np.int64)
                x = np.array([r["v"] for r in row.rows1], dtype=np.float64)
                y = np.array([r["v"] for r in row.rows2], dtype=np.float64)
                xn = x / np.linalg.norm(x, axis=1, keepdims=True)
                yn = y / np.linalg.norm(y, axis=1, keepdims=True)
                g = xn @ yn.T
                # round half away from zero to 6 dp (SQL ROUND semantics)
                g = np.sign(g) * np.floor(np.abs(g) * 1e6 + 0.5) / 1e6
                if row.bid1 == row.bid2:
                    # same block: upper triangle by id avoids dup/self pairs
                    mask = (ids1[:, None] < ids2[None, :]) & (g >= threshold)
                    i, j = np.nonzero(mask)
                    lo, hi = ids1[i], ids2[j]
                else:
                    # distinct blocks: every cross pair appears exactly once
                    # in this block-pair; ids are NOT ordered by block (hash
                    # assignment), so emit each pair as (min, max)
                    i, j = np.nonzero(g >= threshold)
                    a_, b_ = ids1[i], ids2[j]
                    lo, hi = np.minimum(a_, b_), np.maximum(a_, b_)
                yield pd.DataFrame({"id1": lo, "id2": hi, "cos": g[i, j]})

    return block_pairs.mapInPandas(gemm, schema="id1 bigint, id2 bigint, cos double")


def embedding_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.5,
    num_blocks: int = 4,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Directed cross-frame near-dup pairs: (left_id, right_id, cos)
    with cosine >= threshold, left x right ONLY (never left x left or
    right x right) — the pair stage incremental semantic dedup needs:
    a NEW batch against the STORED corpus without re-pairing the
    stored corpus against itself.

    Same blocked-GEMM engine as ``embedding_neardup_pairs``: each side
    packs into ``num_blocks`` row-blocks per group, block pairs join on
    the group columns (all block combinations — blocks exist to bound
    the per-task GEMM, not to prune), cosines via one numpy GEMM per
    block pair. ``group_cols`` (e.g. the IVF cell) restricts pairing to
    same-group rows with the restriction pushed into the join key.
    No triangle/self logic: every (left, right) pair appears exactly
    once by construction."""
    import numpy as np
    import pandas as pd

    def pack(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).cast("bigint").alias("id"),
                F.col(vec_col).cast("array<double>").alias("v"),
                *[F.col(g) for g in group_cols],
            )
            .withColumn("bid", F.pmod(F.xxhash64("id"), F.lit(num_blocks)))
            .groupBy(*group_cols, "bid")
            .agg(F.collect_list(F.struct("id", "v")).alias(f"rows_{side}"))
        )

    l_packed, r_packed = pack(left, "l"), pack(right, "r")
    cond = F.lit(True)
    for g in group_cols:
        cond = cond & (F.col(f"x.{g}") == F.col(f"y.{g}"))
    block_pairs = (
        l_packed.alias("x")
        .join(r_packed.alias("y"), cond)
        .select(F.col("x.rows_l").alias("rows_l"), F.col("y.rows_r").alias("rows_r"))
    )

    def gemm(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ids_l = np.array([r["id"] for r in row.rows_l], dtype=np.int64)
                ids_r = np.array([r["id"] for r in row.rows_r], dtype=np.int64)
                x = np.array([r["v"] for r in row.rows_l], dtype=np.float64)
                y = np.array([r["v"] for r in row.rows_r], dtype=np.float64)
                xn = x / np.linalg.norm(x, axis=1, keepdims=True)
                yn = y / np.linalg.norm(y, axis=1, keepdims=True)
                g = xn @ yn.T
                g = np.sign(g) * np.floor(np.abs(g) * 1e6 + 0.5) / 1e6
                i, j = np.nonzero(g >= threshold)
                yield pd.DataFrame(
                    {"id_left": ids_l[i], "id_right": ids_r[j], "cos": g[i, j]}
                )

    return block_pairs.mapInPandas(
        gemm, schema="id_left bigint, id_right bigint, cos double"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    threshold: float = 0.9,
    num_blocks: int | None = None,
    candidates: str = "exact",
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: drop every row whose
    embedding has cosine >= threshold with a SMALLER-id row (keep-first,
    the curation-funnel survivor rule), optionally restricted to pairs
    sharing ``block_col`` (cluster / language / source blocking — pushed
    INTO pair generation, so cross-block GEMM work and shuffle are
    never created).

    ``candidates`` selects the pair stage; the keep-first anti-join is
    identical for all three:

    - ``'exact'``: the blocked-GEMM all-pairs engine
      (``embedding_neardup_pairs``) — O(n^2/blocks) GEMM work within
      each block. The exactness baseline and the verifier for the ANN
      paths; quadratic, so corpus-scale runs use the paths below.
    - ``'ivf'``: rows are assigned to their nearest of ``n_cells``
      centroids (``_assign_cells`` — one Arrow GEMM pass; pass
      ``centroids=kmeans_centroids(...)`` for trained cells, default is
      the deterministic grid init) and pairs are generated ONLY within
      a cell. This is the SemDeDup formulation proper (cluster, then
      dedup within clusters): work drops from O(n^2) to
      O(sum cell_i^2) ~ O(n^2/n_cells) with balanced cells, and the
      per-cell GEMM is a bounded-size unit — at 100 TB scale n_cells
      with corpus size to keep cells executor-sized. Drops a SUBSET of
      the exact path's rows (misses cross-cell pairs), so kept(ivf) is
      always a superset of kept(exact) — hash-gated by
      dd_semantic_dedup_ann.
    - ``'lsh'``: multi-table hyperplane buckets (``with_lsh_buckets``,
      one GEMM pass) exploded to (table, bucket) postings; pairs are
      generated within a posting group and deduped across tables. A
      pair is considered iff it shares ANY table's bucket — recall
      1-(1-p^planes)^tables for cosine-similar pairs; same
      subset/superset guarantee as 'ivf'.

    ``num_blocks`` (the GEMM sub-blocking within a pair-generation
    group) defaults to 32 ungrouped and 4 when blocking/candidate
    groups already bound group size."""
    base_cols = [id_col, vec_col] + ([block_col] if block_col else [])
    base = df.select(*base_cols)
    groups: tuple[str, ...] = (block_col,) if block_col else ()

    if candidates == "exact":
        work = base
    elif candidates == "ivf":
        if centroids is None:
            centroids = _grid_centroids(base, id_col, vec_col, n_cells)
        work = _assign_cells(base, vec_col, centroids)
        groups = groups + ("_cell",)
    elif candidates == "lsh":
        b = with_lsh_buckets(base, vec_col, num_planes, num_tables, dim)
        work = b.select(
            *base_cols, F.posexplode("_buckets").alias("_table", "_bucket")
        )
        groups = groups + ("_table", "_bucket")
    else:
        raise ValueError(f"unknown candidates mode: {candidates!r}")

    if num_blocks is None:
        num_blocks = 32 if not groups else 4
    pairs = embedding_neardup_pairs(
        work, id_col, vec_col, threshold, num_blocks, group_cols=groups
    )
    # duplicate pairs (an LSH pair sharing several tables' buckets)
    # collapse in the id2-distinct — no separate pair-dedup shuffle
    dropped = pairs.select(F.col("id2").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def semantic_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    candidates: str = "exact",
    n_cells: int = 16,
    centroids: list[list[float]] | None = None,
    num_blocks: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """SEMANTIC benchmark decontamination — the embedding-space
    companion of the n-gram overlap scrub (operators/contamination.py):
    drop every training document whose embedding has cosine >=
    ``threshold`` with ANY benchmark embedding (paraphrased eval
    leakage that shares no n-grams). Returns ``(kept, flagged)`` where
    ``flagged`` is (train id, hits, max_cos) — the audit trail.

    Pair generation is ``embedding_cross_pairs``: train x bench ONLY
    (never train x train), blocked GEMM, so the work is
    O(|train| x |bench| / blocks) BLAS — and |bench| is small by
    definition, so this is effectively a few matrix-vector sweeps per
    train block. ``candidates='ivf'`` restricts pairing to rows sharing
    a nearest-centroid cell (the SemDeDup-style prune — at 100 TB train
    never self-joins AND never fully crosses bench): flags a SUBSET of
    the exact path's docs (cross-cell pairs are missed; same contract
    as ``semantic_dedup``'s ANN paths), so kept(ivf) is a superset of
    kept(exact) — both gated by probe ``tx_semantic_decontam``."""
    base_t = train.select(F.col(id_col), F.col(vec_col))
    base_b = bench.select(F.col(id_col), F.col(vec_col))
    groups: tuple[str, ...] = ()
    if candidates == "ivf":
        if centroids is None:
            centroids = _grid_centroids(base_t, id_col, vec_col, n_cells)
        base_t = _assign_cells(base_t, vec_col, centroids)
        base_b = _assign_cells(base_b, vec_col, centroids)
        groups = ("_cell",)
    elif candidates != "exact":
        raise ValueError(f"unknown candidates mode: {candidates!r}")
    pairs = embedding_cross_pairs(
        base_t, base_b, id_col, vec_col, threshold, num_blocks,
        group_cols=groups,
    )
    flagged = (
        pairs.groupBy(F.col("id_left").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits"),
            F.round(F.max("cos"), 6).alias("max_cos"),
        )
    )
    kept = train.join(
        flagged.select(id_col), id_col, "left_anti"
    )
    return kept, flagged


def mmr_rerank(
    cands: DataFrame,
    query_col: str,
    id_col: str,
    qvec_col: str,
    vec_col: str,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking of per-query candidate
    sets: greedily pick the candidate maximizing ``lam * cos(q, d) -
    (1 - lam) * max_{s in selected} cos(d, s)`` — the standard
    relevance-vs-diversity trade for RAG retrieval (lam=1 is plain
    top-k; lower lam punishes candidates redundant with what's already
    selected). Ties break on the smaller id, so the selection is fully
    deterministic.

    Input is one row per (query, candidate) carrying BOTH vectors —
    the natural shape coming out of ``ann_topk``/
    ``lsh_bucket_topk`` joined back to the corpus for vectors.
    Execution: one hash shuffle on the query column, then each query
    group re-ranks in ONE vectorized numpy pass (an m x d candidate
    matrix; each greedy step is a matvec) inside applyInPandas —
    MMR's sequential greedy loop cannot be a join/window composition,
    but per group it is k tiny matvecs over an executor-local matrix.
    Candidate sets are bounded (m = ANN top-m, typically <= a few
    hundred), so no group ever exceeds executor memory regardless of
    corpus size. Returns (query, id, rank 1-based, mmr_score)."""
    import numpy as np
    import pandas as pd

    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")

    src = cands.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("id"),
        F.col(qvec_col).alias("qv"),
        F.col(vec_col).alias("dv"),
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        D = np.stack(pdf["dv"].to_numpy()).astype("float64")
        qv = np.asarray(pdf["qv"].iloc[0], dtype="float64")
        Dn = D / np.maximum(np.linalg.norm(D, axis=1, keepdims=True), 1e-12)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        rel = Dn @ qn
        n = len(pdf)
        selected: list[int] = []
        scores: list[float] = []
        red = np.full(n, -np.inf)  # max sim to the selected set so far
        avail = np.ones(n, bool)
        for step in range(min(k, n)):
            # first step has no redundancy term (selected set empty)
            score = lam * rel if step == 0 else lam * rel - (1 - lam) * red
            score = np.where(avail, score, -np.inf)
            i = int(np.argmax(score))  # argmax takes the FIRST max: id order
            selected.append(i)
            scores.append(float(score[i]))
            avail[i] = False
            red = np.maximum(red, Dn @ Dn[i])
        return pd.DataFrame(
            {
                "q": pdf["q"].iloc[selected].to_numpy(),
                "id": pdf["id"].iloc[selected].to_numpy(),
                "rank": np.arange(1, len(selected) + 1),
                "mmr_score": scores,
            }
        )

    out_schema = "q long, id long, rank int, mmr_score double"
    return (
        src.groupBy("q")
        .applyInPandas(_mmr, out_schema)
        .select(
            F.col("q").alias(query_col),
            F.col("id").alias(id_col),
            "rank",
            F.round("mmr_score", 6).alias("mmr_score"),
        )
    )
