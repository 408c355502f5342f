"""Similarity search over dense embedding columns (ARRAY<FLOAT>).

- cosine_topk:        exact brute-force top-k for one query vector —
                      a broadcast of the (1-row) query against the
                      corpus, cosine in JVM higher-order functions,
                      TakeOrderedAndProject for the top-k. The exactness
                      baseline.
- lsh_bucket_topk:    random-hyperplane LSH: deterministic seed-derived
                      planes -> sign bits -> bucket key; candidates =
                      query's bucket (plus optional multi-probe at
                      Hamming distance 1), exact cosine re-rank within.
                      At 100 TB the bucket groupBy replaces the full
                      scan per query.
- embedding_neardup_pairs: all-pairs cosine >= threshold (within an
                      optional block) — the embedding dedup operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.vectors import cosine, dot, norm


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


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    return [[_plane_component(p, d) for d in range(dim)] for p in range(num_planes)]


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
    corpus, and the assignment pass in ``ivf_topk`` is unchanged.
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


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_id: int,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) cells: vectors are
    assigned to their nearest of ``n_cells`` centroids (one GEMM pass in
    a pandas UDF), and a query scans only its ``n_probe`` nearest cells
    with exact cosine re-rank — the other standard ANN scale path next
    to hyperplane LSH (``lsh_bucket_topk``).

    Default centroid 'training' is deterministic first-``n_cells``-by-id;
    pass ``centroids=kmeans_centroids(df, ...)`` for trained cells (the
    assignment and probe machinery is identical). Centroids and the
    query vector are tiny driver-side collects (n_cells + 1 rows, the
    broadcast-dim pattern); the corpus itself is never collected —
    assignment is one narrow GEMM pass and the probed scan touches
    ~n_probe/n_cells of the data."""
    import numpy as np

    if centroids is None:
        centroids = _grid_centroids(df, id_col, vec_col, n_cells)
    c = np.array(centroids, dtype=np.float64)
    cn = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)

    qrow = (
        df.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    q = np.array(qrow[0][0], dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(i) for i in np.argsort(-(cn @ qn))[:n_probe]]

    assigned = _assign_cells(df, vec_col, centroids)
    qdf = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("_qvec"))
    cos = _safe_cosine(F.col(vec_col), F.col("_qvec"))
    return (
        assigned.filter(F.col("_cell").isin(probe_cells))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(cos, 6).alias("cos"))
        .orderBy(F.desc("cos"), id_col)
        .limit(k)
    )


def _per_query_topk(
    pairs: DataFrame,
    qid: str,
    id_col: str,
    score: str,
    ascending: bool,
    k: int,
    n_salts: int = 0,
) -> DataFrame:
    """rank 1..k of ``pairs`` per ``qid`` by (score, id tie-break) — the
    shared tail of every batch-ANN operator.

    ``n_salts > 1`` switches to TWO-PHASE top-k: a first window over
    ``(qid, xxhash64(id) % n_salts)`` keeps each bucket's top-k, then
    the final per-qid window ranks only the <= k*n_salts survivors.
    Row-identical to the single-window plan by construction — every
    global top-k row is within the top-k of its own bucket, and ranks
    over the survivors equal global ranks for rank <= k (ties break on
    the unique id) — but no single reducer ever sorts more than one
    bucket's share: the skew fix for batches where many queries probe
    the same cells (at corpus scale a hot cell otherwise concentrates
    every probing query's candidates on one partition).
    """
    from pyspark.sql import Window

    order = [
        F.col(score).asc() if ascending else F.col(score).desc(),
        F.col(id_col).asc(),
    ]
    if n_salts and int(n_salts) > 1:
        salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(n_salts)))
        w1 = Window.partitionBy(F.col(qid), salt).orderBy(*order)
        pairs = (
            pairs.withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= int(k))
            .drop("_r1")
        )
    w = Window.partitionBy(qid).orderBy(*order)
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def _reject_duplicate_qids(queries: DataFrame, qid_col: str) -> None:
    """Duplicate qids would silently merge candidate pools inside the
    per-qid top-k window, yielding one blended result per duplicated id.
    ``pq_topk_many_indexed`` already raises; this keeps every batch
    operator on the same contract. One tiny aggregate on the query
    frame (broadcast-dim by assumption)."""
    row = queries.agg(
        F.count(qid_col).alias("n"), F.count_distinct(qid_col).alias("d")
    ).first()
    if int(row["n"]) != int(row["d"]):
        raise ValueError(
            f"duplicate {qid_col} values in the query frame "
            f"({int(row['n'])} rows, {int(row['d'])} distinct) — "
            "dedupe or re-key the queries first"
        )


def ivf_topk_many(
    queries: DataFrame,
    corpus: DataFrame,
    qid_col: str,
    qvec_col: str,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
    exclude_self: bool = False,
    salt_partitions: int = 0,
) -> DataFrame:
    """BATCH-query IVF top-k: every query in ``queries`` answered in
    ONE plan — (qid, id, cos, rank) with rank 1..k per query — instead
    of O(queries) separate corpus scans (what a loop over ``ivf_topk``
    costs; the shape contamination-kNN and retrieval sweeps need).

    Plan: one Arrow GEMM pass assigns each QUERY its ``n_probe``
    nearest cells (a small queries x n_cells matmul, then
    posexplode), one identical pass assigns each CORPUS row its cell
    (``_assign_cells`` — the same math as ``ivf_topk``/
    ``build_ann_index``, so probed candidates match the single-query
    path exactly), the exploded query side BROADCASTS into a hash join
    on ``_cell`` (queries are the small side by assumption — a few
    thousand rows replicated n_probe ways), cosine computes JVM-side
    per candidate pair, and one window per qid takes the top-k. Total:
    one corpus scan, zero corpus self-joins, one shuffle of the
    candidate pairs (~n_probe/n_cells of the corpus per query) keyed
    by qid for the window sort. Each corpus row lives in exactly one
    cell and each query probes distinct cells, so no pair duplicates.

    Results for any single query are IDENTICAL to ``ivf_topk`` with
    the same centroids (probe ``ss_ann_batch`` hash-gates the parity);
    ties break on the corpus id. ``exclude_self`` drops candidates
    whose corpus id equals the query id (the self-match when queries
    are drawn from the corpus)."""
    import numpy as np
    import pandas as pd

    if qid_col == id_col:
        raise ValueError(
            f"qid_col and id_col must differ in the output, both {qid_col!r}"
            " — alias one side first"
        )
    _reject_duplicate_qids(queries, qid_col)
    if centroids is None:
        centroids = _grid_centroids(corpus, id_col, vec_col, n_cells)
    cn0 = np.asarray(centroids, dtype=np.float64)
    cn = cn0 / np.maximum(np.linalg.norm(cn0, axis=1, keepdims=True), 1e-12)
    n_probe = min(int(n_probe), cn.shape[0])

    @F.pandas_udf("array<int>")
    def _probes(s):  # type: ignore[no-untyped-def]
        x = np.array(s.tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = xn @ cn.T
        # argsort descending = the same probe order ivf_topk uses
        order = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    qcells = (
        queries.select(
            F.col(qid_col).alias("_qid"),
            F.col(qvec_col).cast("array<double>").alias("_qvec"),
        )
        .withColumn("_probe_cells", _probes(F.col("_qvec")))
        .select("_qid", "_qvec", F.explode("_probe_cells").alias("_cell"))
    )
    assigned = _assign_cells(
        corpus.select(F.col(id_col), F.col(vec_col)), vec_col, centroids
    )
    pairs = assigned.join(F.broadcast(qcells), "_cell")
    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col("_qid"))
    cos = _safe_cosine(F.col(vec_col), F.col("_qvec"))
    ranked = _per_query_topk(
        pairs.select("_qid", F.col(id_col), F.round(cos, 6).alias("_cos")),
        "_qid", id_col, "_cos", ascending=False, k=k, n_salts=salt_partitions,
    )
    return ranked.select(
        F.col("_qid").alias(qid_col),
        F.col(id_col),
        F.col("_cos").alias("cos"),
        "rank",
    )


def ivf_topk_many_indexed(
    spark,
    path: str,
    queries: DataFrame,
    qid_col: str,
    qvec_col: str,
    k: int = 5,
    n_probe: int = 4,
    exclude_self: bool = False,
    salt_partitions: int = 0,
    scorer: str = "expr",
    cell_split: int = 0,
) -> DataFrame:
    """``ivf_topk_many`` against a MATERIALIZED index
    (``build_ann_index`` — float or int8): the scan prunes to the
    UNION of every query's probed cells (PartitionFilters — at
    n_probe/n_cells coverage a 100-query batch still touches a
    fraction of the index, and never re-assigns the corpus), the
    exploded query side broadcasts into a hash join on ``_cell``, and
    one window per query takes the top-k. Per-query results are
    IDENTICAL to ``ivf_topk_indexed`` with the same index (int8
    indexes rank on the codes directly — the per-vector scale cancels
    in cosine). ``exclude_self`` drops candidates whose index id
    equals the query id. Returns (qid, id, cos, rank).

    ``scorer`` picks the candidate-scoring engine:

    - ``"expr"`` (default): per-pair JVM cosine (whole-stage codegen) —
      right for narrow batches, zero Python over the corpus;
    - ``"gemm"``: per-cell BLAS — the probed cells COGROUP with their
      probing queries (``applyInPandas``: one Arrow batch per cell),
      each cell scores as ONE queries x vectors matmul and emits only
      its per-(query, cell) top-k, so the global window ranks
      <= n_probe*k rows per query. The measured wide-sweep fix: the
      codegen fold costs ~64 us per candidate pair (three 64-element
      folds), which at 10k queries x 8 probes x 625-vector cells is
      855-947 s; the matmul scores the same 50M pairs in BLAS time
      (8.6 s end-to-end, ~100x — COVERAGE.md r11). The cogroup also
      SHUFFLES the query side instead of broadcasting it, so the GEMM
      path has no broadcast-width cap — million-query sweeps hash-join
      on ``_cell`` like any other large join. Row-identical to
      ``"expr"`` on the fixture (bi_gemm_matches gate): both round
      cosine to 6 digits before ranking, and per-cell top-k is exact
      (every global top-k row is within its own cell's top-k).

    ``cell_split`` > 1 (GEMM only) sub-chunks each cell by
    ``xxhash64(id) % cell_split`` so no single Arrow batch holds more
    than ~1/split of a cell — the per-group memory bound for
    append-fattened hot cells (VERDICT r11 #3); row-identical by the
    same per-chunk-top-k-is-exact argument, gated in tests."""
    import numpy as np
    import pandas as pd

    meta = ann_index_meta(path, spark)
    if meta.get("quantized") == "pq":
        raise ValueError(
            f"index at {path} is PQ-quantized — batch PQ serving needs "
            "the ADC path (query pq_topk_indexed per query)"
        )
    id_col = meta["id_col"]
    if qid_col == id_col:
        raise ValueError(
            f"qid_col and id_col must differ in the output, both {qid_col!r}"
            " — alias the query side first"
        )
    cn0 = np.asarray(meta["centroids"], dtype=np.float64)
    cn = cn0 / np.maximum(np.linalg.norm(cn0, axis=1, keepdims=True), 1e-12)
    n_probe = min(int(n_probe), cn.shape[0])

    @F.pandas_udf("array<int>")
    def _probes(s):  # type: ignore[no-untyped-def]
        x = np.array(s.tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(xn @ cn.T), axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    qcells = (
        queries.select(
            F.col(qid_col).alias("_qid"),
            F.col(qvec_col).cast("array<double>").alias("_qvec"),
        )
        .withColumn("_probe_cells", _probes(F.col("_qvec")))
        .select("_qid", "_qvec", F.explode("_probe_cells").alias("_cell"))
    )
    # ONE driver action plans the serve: the probed-cell union (drives
    # the pruned scan), the duplicate-qid guard (rows == distinct qids
    # x n_probe — _probes emits EXACTLY n_probe cells per query, so any
    # duplicate qid breaks the equality), and nothing else. The r12
    # shape replaced three round trips (a dup-check aggregate over the
    # raw query frame, an eager localCheckpoint of qcells, a distinct-
    # cells collect); the main action recomputes the cheap Arrow
    # assignment instead of reading a checkpoint — the same recompute
    # contract as the PQ core's cells pass. collect_set stays bounded
    # by n_cells however wide the batch.
    row = qcells.agg(
        F.collect_set("_cell").alias("cells"),
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("_qid").alias("d"),
    ).first()
    if int(row["n"]) != int(row["d"]) * n_probe:
        raise ValueError(
            f"duplicate {qid_col} values in the query frame "
            f"({int(row['n']) // n_probe} rows, {int(row['d'])} distinct) — "
            "dedupe or re-key the queries first"
        )
    union_cells = sorted(row["cells"])
    idx = _ann_cells_scan(spark, path, meta, union_cells)
    if scorer == "gemm":
        _require_integral_ids(idx, id_col, "index id")
        _require_integral_ids(queries, qid_col, "query qid")
        scored = _gemm_cell_scores(
            idx, qcells, meta, id_col, k=int(k), exclude_self=exclude_self,
            split=cell_split,
        )
    elif scorer == "expr":
        pairs = idx.join(F.broadcast(qcells), "_cell")
        if exclude_self:
            pairs = pairs.filter(F.col(id_col) != F.col("_qid"))
        if meta.get("quantized"):
            cos = _safe_cosine(
                F.transform("q", lambda x: x.cast("double")), F.col("_qvec")
            )
        else:
            cos = _safe_cosine(F.col(meta["vec_col"]), F.col("_qvec"))
        scored = pairs.select(
            "_qid", F.col(id_col), F.round(cos, 6).alias("_cos")
        )
    else:
        raise ValueError(f"scorer must be expr|gemm, got {scorer!r}")
    ranked = _per_query_topk(
        scored, "_qid", id_col, "_cos", ascending=False, k=k,
        n_salts=salt_partitions,
    )
    return ranked.select(
        F.col("_qid").alias(qid_col),
        F.col(id_col),
        F.col("_cos").alias("cos"),
        "rank",
    )


def _require_integral_ids(frame: DataFrame, col: str, what: str) -> None:
    """The GEMM scorers move ids through numpy int64 arrays; a
    non-integral column would fail deep inside Arrow with an opaque
    TypeError — fail at the API edge with the workaround instead."""
    t = dict(frame.dtypes).get(col)
    if t not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"scorer='gemm' requires an integral {what} column, got "
            f"{col}: {t} — use scorer='expr' or re-key to integers"
        )


def _gemm_cell_scores(
    idx: DataFrame,
    qcells: DataFrame,
    meta: dict,
    id_col: str,
    k: int,
    exclude_self: bool,
    split: int = 0,
) -> DataFrame:
    """Per-cell BLAS scoring: each probed cell cogroups with its
    probing queries, scores as one queries x vectors matmul, and emits
    only its per-(query, cell) top-k (round-6 cosine, id tie-break) —
    the exact per-cell prefix of the global ranking, so the downstream
    per-qid window over <= n_probe*k rows per query reproduces the
    pair-expression plan row-for-row.

    ``split`` > 1 bounds PER-GROUP MEMORY: one cogroup group
    materializes an entire cell as one Arrow batch, so an
    append-fattened hot cell at 100 TB is an executor OOM, not a
    slowdown (VERDICT r11 #3). The index side gains a secondary key
    ``_chunk = xxhash64(id) % split`` and the query side replicates
    each (qid, cell) probe across all chunks, so each (cell, chunk)
    group scores ~1/split of the cell and emits its own EXACT top-k —
    still row-identical (every global top-k row is within its own
    chunk's top-k; the downstream window ranks <= n_probe*split*k rows
    per query). Size it as ceil(max_cell_rows / target_rows_per_batch)
    from the index's partition stats (metadata-only)."""
    import numpy as np
    import pandas as pd

    vec_col = "q" if meta.get("quantized") else meta["vec_col"]
    kk = int(k)
    excl = bool(exclude_self)

    def _cell_topk(key, idx_pdf, q_pdf):  # type: ignore[no-untyped-def]
        if len(idx_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {
                    "_qid": pd.Series([], dtype="int64"),
                    id_col: pd.Series([], dtype="int64"),
                    "_cos": pd.Series([], dtype="float64"),
                }
            )
        v = np.array(idx_pdf[vec_col].tolist(), dtype=np.float64)
        ids = idx_pdf[id_col].to_numpy(dtype=np.int64)
        q = np.array(q_pdf["_qvec"].tolist(), dtype=np.float64)
        qids = q_pdf["_qid"].to_numpy(dtype=np.int64)
        # dot / (|q| * |v|): same formulation as functions.vectors.cosine
        sims = (q @ v.T) / np.maximum(
            np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1)),
            1e-300,
        )
        sims = np.round(sims, 6)
        if excl:
            sims[qids[:, None] == ids[None, :]] = -np.inf
        n = min(kk, sims.shape[1])
        rq, ri, rc = [], [], []
        for i in range(sims.shape[0]):
            row = sims[i]
            order = np.lexsort((ids, -row))[:n]
            keep = order[np.isfinite(row[order])]
            rq.append(np.full(len(keep), qids[i], dtype=np.int64))
            ri.append(ids[keep])
            rc.append(row[keep])
        return pd.DataFrame(
            {
                "_qid": np.concatenate(rq),
                id_col: np.concatenate(ri),
                "_cos": np.concatenate(rc),
            }
        )

    idx, qcells, keys = _chunked_cogroup_sides(idx, qcells, id_col, split)
    return (
        idx.groupBy(*keys)
        .cogroup(qcells.groupBy(*keys))
        .applyInPandas(_cell_topk, f"_qid bigint, {id_col} bigint, _cos double")
    )


def _chunked_cogroup_sides(
    idx: DataFrame, qcells: DataFrame, id_col: str, split: int
) -> tuple[DataFrame, DataFrame, list[str]]:
    """The shared ``split`` plumbing of both cogrouped scorers: with
    ``split`` > 1 the index side gains ``_chunk = xxhash64(id) % split``
    and every (qid, cell) probe replicates across all chunks, so the
    cogroup key becomes (cell, chunk) and no single Arrow batch holds
    more than ~1/split of a cell."""
    if int(split) <= 1:
        return idx, qcells, ["_cell"]
    chunk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(split))).cast("int")
    idx = idx.withColumn("_chunk", chunk)
    # sequence of int literals is already array<int> (a cast around a
    # generator is illegal anyway), matching the pmod cast on the index
    qcells = qcells.withColumn(
        "_chunk", F.explode(F.sequence(F.lit(0), F.lit(int(split) - 1)))
    )
    return idx, qcells, ["_cell", "_chunk"]


def _pq_gemm_cell_scores(
    idx: DataFrame,
    qcells: DataFrame,
    meta: dict,
    id_col: str,
    k: int,
    exclude_self: bool,
    split: int = 0,
) -> DataFrame:
    """Per-cell vectorized ADC (the PQ twin of ``_gemm_cell_scores``):
    each probed cell cogroups with its probing queries; the UDF builds
    each query's (m x pk) table for THIS cell with the exact numpy
    expressions ``_pq_query_tables_udf`` uses, gathers the cell's code
    matrix against it in subspace order (the ``_adc_score`` sum
    order), and emits only per-(query, cell) top-k by (adc, id). The
    query side shuffles on ``_cell`` — no broadcast-width cap.
    ``split`` bounds per-group memory exactly as in
    ``_gemm_cell_scores`` (same chunk key, same row-identity
    argument); the per-chunk ADC table rebuild is the only duplicated
    work — m*pk doubles per (query, cell, chunk), noise next to the
    gather."""
    import numpy as np
    import pandas as pd

    books, m, w, pk, cn, residual = _pq_meta_arrays(meta)
    kk = int(k)
    excl = bool(exclude_self)

    def _cell_adc(key, idx_pdf, q_pdf):  # type: ignore[no-untyped-def]
        if len(idx_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame(
                {
                    "_qid": pd.Series([], dtype="int64"),
                    id_col: pd.Series([], dtype="int64"),
                    "_adc": pd.Series([], dtype="float64"),
                }
            )
        cell = int(key[0])
        codes = np.array(idx_pdf["codes"].tolist(), dtype=np.int64)
        ids = idx_pdf[id_col].to_numpy(dtype=np.int64)
        x = np.array(q_pdf["_qvec"].tolist(), dtype=np.float64)
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        qids = q_pdf["_qid"].to_numpy(dtype=np.int64)
        sub = np.arange(m)
        n = min(kk, codes.shape[0])
        rq, ri, rc = [], [], []
        for qi in range(xn.shape[0]):
            qr = xn[qi] - cn[cell] if residual else xn[qi]
            t = np.stack(
                [
                    ((books[si] - qr[si * w : (si + 1) * w][None, :]) ** 2)
                    .sum(axis=1)
                    for si in range(m)
                ]
            )
            d = t[sub[None, :], codes].sum(axis=1)
            if excl:
                d = np.where(ids == qids[qi], np.inf, d)
            order = np.lexsort((ids, d))[:n]
            keep = order[np.isfinite(d[order])]
            rq.append(np.full(len(keep), qids[qi], dtype=np.int64))
            ri.append(ids[keep])
            rc.append(d[keep])
        return pd.DataFrame(
            {
                "_qid": np.concatenate(rq),
                id_col: np.concatenate(ri),
                "_adc": np.concatenate(rc),
            }
        )

    idx, qcells, keys = _chunked_cogroup_sides(idx, qcells, id_col, split)
    return (
        idx.groupBy(*keys)
        .cogroup(qcells.groupBy(*keys))
        .applyInPandas(_cell_adc, f"_qid bigint, {id_col} bigint, _adc double")
    )


def _assign_cells(df: DataFrame, vec_col: str, centroids) -> DataFrame:
    """Attach `_cell` = argmax cosine(vec, centroid) in one Arrow GEMM
    pass (the shared assignment step of ivf_topk / build_ann_index —
    identical math, so a materialized index and a direct query agree
    bit-for-bit on cell membership)."""
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
    ``ivf_topk`` and ``build_ann_index`` (pass ``kmeans_centroids`` output
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
    manifest: bool = False,
) -> list[list[float]]:
    """Materialize an IVF ANN index: assign every corpus row to its
    nearest centroid ONCE and persist the corpus ``partitionBy("_cell")``
    at ``path``, with the centroids in ``_ann_meta.json`` alongside
    (underscore-prefixed files are invisible to Spark's directory scan).

    This is the serving-path fix for per-query corpus rescans: a query
    via ``ivf_topk_indexed`` reads ONLY its ``n_probe`` probed cell
    directories (PartitionFilters pruning, pinned in
    tests/test_plan_quality.py) — at 100 TB that is ~n_probe/n_cells of
    the data instead of a full scan + rehash per query. The write costs
    one assignment pass + one shuffle-free partitioned write, amortized
    over every subsequent query; rebuild on corpus refresh (or append
    new batches with the same persisted centroids — assignment is
    stateless given ``_ann_meta.json``).

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
    ride in ``_ann_meta.json``, and ``pq_topk_indexed`` ADC-scans the
    probed cells' codes then re-ranks top candidates against
    full-precision vectors fetched by id. ``pq_residual`` (default)
    trains and encodes on the RESIDUAL (normalized vector minus its
    cell's normalized centroid) — residual magnitudes are much smaller
    than vector magnitudes, so the same 8-byte budget buys finer
    quantization (recall gated >= the non-residual path by
    ``ss_ann_pq_indexed``). Training is the deterministic
    first-``pq_max_train``-by-id sample (``pq.pq_train``'s contract);
    at 100 TB pass a representative frame — encoding stays one Arrow
    GEMM pass over the corpus either way.

    ``manifest=True`` stores the index as a MANIFEST TABLE
    (sinks/manifest.py) partitioned by ``_cell`` with the
    centroids/codebooks in table PROPERTIES instead of a sidecar json:
    index builds and appends become atomic commits, ``restore_table``
    gives serving rollback (metadata-only), ``read_changes`` lets a
    replica ship only changed cells, ``vacuum_table`` reclaims
    superseded builds, and ``delete_from_ann_index`` removes vectors
    as a partition-scoped row-level DELETE — the index lifecycle the
    bare-parquet layout left manual. Cell pruning is exact from the
    manifest's partition values; per-file id stats + blooms are
    collected so candidate fetches and deletes prune inside a cell
    too. Reference analogue: L1's drop/recreate-on-retry idempotency
    (LoadFiles.pm:56-64) — rebuilds are commits, not rm -rf.

    Returns the centroids used."""
    import json
    import os

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
    # maxRecordsPerFile (size governance stays with cell_split /
    # suggest_cell_split).
    assigned = assigned.repartition("_cell")
    if manifest:
        from ensembl_database_loader_spark.sinks.manifest import write_table

        write_table(
            assigned,
            path,
            mode="overwrite",
            partition_by=("_cell",),
            stats_cols=(id_col,),
            bloom_cols=(id_col,),
            properties={"ann": meta},
        )
        return centroids
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(path)
    with open(os.path.join(path, "_ann_meta.json"), "w") as f:
        json.dump(meta, f)
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


def _pq_probe_cells_np(cn, n_probe, x):
    """(normalized queries, probe order) for an (n, dim) query block —
    the ONE argsort every PQ probe-cell computation shares (the light
    Arrow pass, the tables helper below, and the literal fast path's
    gemm branch, which needs cells WITHOUT tables — the cogroup UDF
    rebuilds tables per cell executor-side, so boxing them driver-side
    would be pure waste)."""
    import numpy as np

    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    return xn, np.argsort(-(xn @ cn.T), axis=1)[:, :n_probe]


def _pq_query_tables_np(books, m, w, pk, cn, residual, n_probe, x):
    """Probed cells + flattened ADC tables for an (n, dim) query block —
    the ONE numpy implementation behind BOTH the executor Arrow pass
    (``_pq_query_tables_udf``) and the driver-side literal fast path
    (``pq_topk_many_indexed_df(_literal_queries=...)``), so the two
    serving forms produce bit-identical tables by construction. Returns
    one list per query of (cell, flattened (m x pk) table row-major —
    si*pk + code indexes it)."""
    import numpy as np

    xn, order = _pq_probe_cells_np(cn, n_probe, x)
    out = []
    for qi in range(x.shape[0]):
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
    computable executor-side per query ROW, which is what makes the
    batch form DataFrame-shaped: the driver never loops over queries
    (reference analogue: fan-out X1, LoadDBs_conf.pm:113-123 — the
    work list is data, not driver state). ~1 KB per (query, cell) at
    the m=8, pq_k=16 defaults. The numpy body is ``_pq_query_tables_np``
    — shared with the driver-side literal fast path."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("array<struct<cell: int, tbl: array<double>>>")
    def _qtables(vs):  # type: ignore[no-untyped-def]
        x = np.array(vs.tolist(), dtype=np.float64)
        ents_all = _pq_query_tables_np(books, m, w, pk, cn, residual, n_probe, x)
        return pd.Series(
            [[{"cell": c, "tbl": t} for c, t in ents] for ents in ents_all]
        )

    return _qtables


def _pq_probe_cells_udf(cn, n_probe):
    """Arrow UDF: query vector -> its n_probe nearest cells (cells
    only, no tables) — the light pass the union-cell pruning collect
    uses, so the 128-double tables are never materialized for it."""
    import numpy as np
    import pandas as pd

    @F.pandas_udf("array<int>")
    def _probes(s):  # type: ignore[no-untyped-def]
        x = np.array(s.tolist(), dtype=np.float64)
        _, order = _pq_probe_cells_np(cn, n_probe, x)
        return pd.Series(list(order.astype(np.int32)))

    return _probes


def _adc_score(m: int, pk: int):
    """JVM-side ADC distance: m flattened-table gathers summed in
    subspace order (whole-stage codegen — the corpus-side Python
    crossing of the r10 implementation is GONE; the only Arrow UDF
    left runs over the small query side). element_at is 1-based."""
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


def _ann_cells_scan(spark, path: str, meta: dict, cells) -> DataFrame:
    """The index rows of exactly ``cells`` — PartitionFilters-pruned
    (plain parquet index) or manifest-partition-pruned (exact from the
    manifest's partition values, zero stats jobs)."""
    cells = [int(c) for c in cells]
    if meta.get("_manifest"):
        from ensembl_database_loader_spark.sinks.manifest import (
            scan_table,
            snapshot,
        )

        if not cells:
            # an empty query frame probes no cells: empty result with
            # the index schema (files_matching rejects empty IN lists,
            # and the bare-parquet path returns empty here too —
            # storage layout stays invisible to serving)
            return snapshot(spark, path).filter(F.lit(False))
        return scan_table(spark, path, predicates=[("_cell", "in", cells)])
    return spark.read.parquet(path).filter(F.col("_cell").isin(cells))


def pq_topk_many_indexed_df(
    spark,
    path: str,
    queries: DataFrame,
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    k: int = 5,
    n_probe: int = 4,
    refine: int = 0,
    corpus: DataFrame | None = None,
    exclude_self: bool = False,
    salt_partitions: int = 0,
    scorer: str = "expr",
    cell_split: int = 0,
    _skip_qid_check: bool = False,
    _literal_queries: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """DataFrame-shaped BATCH queries over an IVF-PQ index — the core
    every PQ serving form delegates to. One plan end-to-end:

    - an Arrow pass over the QUERY frame computes each query's probed
      cells and per-cell ADC tables EXECUTOR-SIDE (``_pq_query_tables_udf``
      — tables are pure codebook gathers, so the work list stays data;
      the r10 form built them serially on the driver and shipped them
      in a UDF closure, capping batches at closure size);
    - the index scan prunes to the UNION of probed cells (a light
      cells-only Arrow pass feeds the tiny distinct-cells collect,
      <= n_cells values);
    - the exploded (qid, cell, table) query side BROADCASTS into a
      hash join on ``_cell`` (~1 KB per (query, probe) pair at the
      defaults: a 10k-query wave is ~40 MB — shard million-query
      sweeps into waves);
    - ADC computes JVM-SIDE per candidate pair (``_adc_score`` —
      whole-stage codegen, no Python over the corpus);
    - one per-query top-k (``_per_query_topk``; ``salt_partitions``
      bounds any single reducer under probe skew).

    ``refine`` > 0 re-ranks each query's top-``refine`` ADC candidates
    against full-precision vectors from ``corpus`` (column-pruned scan
    + broadcast joins on the tiny candidate/query frames). Returns
    (qid, id, adc_dist|cos, rank); per-query rows are IDENTICAL to
    ``pq_topk_indexed`` (which delegates here) — gated by
    ``ss_ann_batch_indexed``.

    ``scorer='gemm'`` is the WIDE-sweep form (the float path's r11
    pattern): probed cells cogroup with their probing queries, each
    cell's ADC runs as vectorized numpy gathers emitting only per-
    (query, cell) top-k, and the query side SHUFFLES instead of
    broadcasting — no broadcast-width cap, no per-pair JVM aggregate.
    Tables use the identical numpy expressions and the gather sum runs
    in the same subspace order as ``_adc_score``, so rows match the
    expr plan (gated in tests).

    ``_literal_queries`` is the INTERACTIVE-serving fast path the list
    and single-query wrappers use: when the query batch already lives
    on the driver as (int qid, vector) pairs, probe cells and ADC
    tables compute driver-side with the SAME numpy helper the Arrow
    pass runs (``_pq_query_tables_np`` — bit-identical tables by
    construction), so the probe-cell union needs NO Spark job and the
    query side enters the plan as a literal frame. This is what keeps
    one-row serving latency at scan + score + top-k instead of paying
    the batch core's per-call Arrow/collect round trips (the r11
    ``ss_ann_pq_indexed`` regression). Pass EITHER ``queries`` or
    ``_literal_queries``."""
    meta = ann_index_meta(path, spark)
    if meta.get("quantized") != "pq" or "pq" not in meta:
        raise ValueError(
            f"index at {path} is not PQ-quantized — use ivf_topk_many_indexed"
        )
    id_col = meta["id_col"]
    if qid_col == id_col:
        raise ValueError(
            f"qid_col and id_col must differ in the output, both {qid_col!r}"
            " — alias the query side first"
        )
    books, m, w, pk, cn, residual = _pq_meta_arrays(meta)
    n_probe = min(int(n_probe), cn.shape[0])

    lit_q: list[tuple[int, list[float]]] = []
    ents_all: list = []
    if _literal_queries is not None:
        lit_q = [
            (int(q), [float(v) for v in vec]) for q, vec in _literal_queries
        ]
        if not lit_q:
            raise ValueError("literal query batch must be non-empty")
        if len({q for q, _ in lit_q}) != len(lit_q):
            raise ValueError("duplicate qids in the literal query batch")
        import numpy as np

        x = np.array([vec for _, vec in lit_q], dtype=np.float64)
        # probe-cell union is driver arithmetic — zero Spark jobs. The
        # gemm branch needs CELLS only (its cogroup UDF rebuilds tables
        # per cell executor-side); boxing m*pk floats per (query, cell)
        # here would be pure waste on wide literal batches.
        if scorer == "gemm":
            _, order = _pq_probe_cells_np(cn, n_probe, x)
            lit_cells = [[int(c) for c in row] for row in order]
            union_cells = sorted({c for row in lit_cells for c in row})
        else:
            ents_all = _pq_query_tables_np(
                books, m, w, pk, cn, residual, n_probe, x
            )
            union_cells = sorted({c for ents in ents_all for c, _ in ents})
        q0 = None  # built below only if refine needs the vectors
    else:
        if queries is None:
            raise ValueError("pass a query DataFrame or _literal_queries")
        q0 = queries.select(
            F.col(qid_col).alias("_qid"),
            F.col(qvec_col).cast("array<double>").alias("_qvec"),
        )
        # light pass: ONE aggregate returns both the probed-cell union
        # for partition pruning (collect_set — <= n_cells values
        # however wide the batch) and the duplicate-qid guard (the UDF
        # emits EXACTLY n_probe cells per query, so rows == distinct
        # qids x n_probe iff qids are unique) — the r12 fold of the
        # separate dup-check aggregate into the cells pass (one fewer
        # driver round trip per serve).
        probes = _pq_probe_cells_udf(cn, n_probe)
        row = q0.select(
            "_qid", F.explode_outer(probes(F.col("_qvec"))).alias("_c")
        ).agg(
            F.collect_set("_c").alias("cells"),
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("_qid").alias("d"),
        ).first()
        if not _skip_qid_check and int(row["n"]) != int(row["d"]) * n_probe:
            raise ValueError(
                f"duplicate {qid_col} values in the query frame "
                f"({int(row['n']) // n_probe} rows, {int(row['d'])} distinct)"
                " — dedupe or re-key the queries first"
            )
        union_cells = sorted(row["cells"])
    idx = _ann_cells_scan(spark, path, meta, union_cells)
    if scorer == "gemm":
        _require_integral_ids(idx, id_col, "index id")
        if _literal_queries is not None:
            qcells = spark.createDataFrame(
                [
                    (q, vec, c)
                    for (q, vec), row in zip(lit_q, lit_cells)
                    for c in row
                ],
                "_qid bigint, _qvec array<double>, _cell int",
            )
        else:
            _require_integral_ids(queries, qid_col, "query qid")
            qcells = q0.select(
                "_qid",
                "_qvec",
                F.explode_outer(probes(F.col("_qvec"))).alias("_cell"),
            )
        scored = _pq_gemm_cell_scores(
            idx, qcells, meta, id_col,
            k=(int(refine) if refine else int(k)), exclude_self=exclude_self,
            split=cell_split,
        )
    elif scorer == "expr":
        if _literal_queries is not None:
            qcells = spark.createDataFrame(
                [
                    (q, c, t)
                    for (q, _), ents in zip(lit_q, ents_all)
                    for c, t in ents
                ],
                "_qid bigint, _cell int, _tbl array<double>",
            )
        else:
            qtables = _pq_query_tables_udf(
                books, m, w, pk, cn, residual, n_probe
            )
            # explode_outer: plain explode would let Catalyst infer
            # size(udf(...)) > 0 and push a UDF-referencing constraint
            # around the plan (re-running the UDF); semantics are
            # identical here
            qcells = q0.select(
                "_qid", F.explode_outer(qtables(F.col("_qvec"))).alias("_e")
            ).select(
                "_qid",
                F.col("_e.cell").alias("_cell"),
                F.col("_e.tbl").alias("_tbl"),
            )
        pairs = idx.join(F.broadcast(qcells), "_cell")
        if exclude_self:
            pairs = pairs.filter(F.col(id_col) != F.col("_qid"))
        scored = pairs.select(
            "_qid", F.col(id_col), _adc_score(m, pk).alias("_adc")
        )
    else:
        raise ValueError(f"scorer must be expr|gemm, got {scorer!r}")
    ranked = _per_query_topk(
        scored, "_qid", id_col, "_adc", ascending=True,
        k=(int(refine) if refine else int(k)), n_salts=salt_partitions,
    )
    if not refine:
        return ranked.select(
            F.col("_qid").alias(qid_col),
            F.col(id_col),
            F.round("_adc", 6).alias("adc_dist"),
            "rank",
        )
    if corpus is None:
        raise ValueError("refine > 0 needs the corpus to fetch vectors from")
    if q0 is None:  # literal path: the refine join needs the raw vectors
        q0 = spark.createDataFrame(lit_q, "_qid bigint, _qvec array<double>")
    cand = ranked.select("_qid", id_col)
    vec_col = meta["vec_col"]
    cos = _safe_cosine(F.col(vec_col), F.col("_qvec"))
    refined = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(cand), id_col)
        .join(F.broadcast(q0), "_qid")
        .select("_qid", F.col(id_col), F.round(cos, 6).alias("_cos"))
    )
    ranked2 = _per_query_topk(
        refined, "_qid", id_col, "_cos", ascending=False, k=int(k),
        n_salts=salt_partitions,
    )
    return ranked2.select(
        F.col("_qid").alias(qid_col),
        F.col(id_col),
        F.col("_cos").alias("cos"),
        "rank",
    )


def pq_topk_many_indexed(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    n_probe: int = 4,
    refine: int = 0,
    corpus: DataFrame | None = None,
    exclude_self: bool = False,
    salt_partitions: int = 0,
) -> DataFrame:
    """BATCH queries over an IVF-PQ index from a driver-side list of
    (qid, vector) — a thin wrapper over the DataFrame-shaped core
    (``pq_topk_many_indexed_df``), so the list and DataFrame forms are
    row-identical BY CONSTRUCTION (the tables come from the shared
    numpy helper either way). Rides the core's LITERAL fast path:
    probe cells and ADC tables compute driver-side, so the call plans
    one pruned scan + score + top-k with no per-call Arrow/collect
    round trips. Prefer the DataFrame form when the queries already
    live in a frame (contamination-kNN sweeps)."""
    # meta/path validation happens in the core; validate the batch here
    if not queries:
        raise ValueError("queries must be a non-empty list of (qid, vector)")
    seen: set[int] = set()
    for qid, _ in queries:
        qid = int(qid)
        if qid in seen:
            raise ValueError(f"duplicate qid {qid} in query batch")
        seen.add(qid)
    return pq_topk_many_indexed_df(
        spark, path, None, "qid", "qvec", k=k, n_probe=n_probe,
        refine=refine, corpus=corpus, exclude_self=exclude_self,
        salt_partitions=salt_partitions, _skip_qid_check=True,
        _literal_queries=list(queries),
    )


def pq_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 4,
    refine: int = 50,
    corpus: DataFrame | None = None,
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k over an IVF-PQ index (``build_ann_index(quantized='pq')``)
    — the billion-vector serving path: the scan touches only the
    ``n_probe`` probed cell PARTITIONS (PartitionFilters pruning, same
    gate as ``ivf_topk_indexed``) and reads only 8-byte CODE rows
    (what-a-scan-reads lever), scored by asymmetric distance JVM-side
    against the query's per-cell lookup tables.

    With ``corpus`` the top-``refine`` ADC candidates re-rank against
    full-precision vectors fetched by id — one column-pruned scan with
    a BROADCAST semi-join on the tiny candidate set (at 100 TB keep the
    corpus id-clustered/bloom-indexed, e.g. a manifest table with
    ``bloom_cols=(id,)``, so the fetch prunes to a handful of files);
    returns (id, cos). Without ``corpus`` the ADC order itself returns
    as (id, adc_dist) — recall is lower but no float vector is ever
    read. Recall gated by ``ss_ann_pq_indexed`` on the clustered
    fixture; reference analogue: priority-pruned routing,
    Prioritise.pm:70-81.

    Delegates to the batch core's LITERAL fast path with a one-row
    batch — single and batch serving CANNOT drift (the ADC tables come
    from the shared numpy helper, the JVM sum order and tie-break are
    the core's), but the probe-cell assignment runs as driver
    arithmetic against the already-driver-resident centroids: the call
    costs ONE pruned scan + score + top-k, no per-call Arrow pass or
    probed-cells collect (the r11 regression this form re-fixes)."""
    qid = int(exclude_id) if exclude_id is not None else 0
    # internal qid name must not collide with the index's id column
    # (an index built with id_col='qid' is valid — the single-query
    # API has no qid concept to rename)
    qc = "_pq_qid" if ann_index_meta(path, spark)["id_col"] == "qid" else "qid"
    out = pq_topk_many_indexed_df(
        spark, path, None, qc, "qvec", k=k, n_probe=n_probe,
        refine=(refine if corpus is not None else 0), corpus=corpus,
        exclude_self=exclude_id is not None, _skip_qid_check=True,
        _literal_queries=[(qid, [float(x) for x in query_vec])],
    )
    score = "cos" if corpus is not None else "adc_dist"
    id_col = out.columns[1]  # core output is (qid, id, score, rank)
    return out.orderBy("rank").select(id_col, score)


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
    the index's PERSISTED centroids (``_ann_meta.json``), so the append
    is stateless and never touches the already-indexed rows — the ANN
    twin of ``pipeline.curate.curate_increment``'s fingerprint-store
    append for recurring ingest. New rows land inside the existing
    ``_cell=...`` partition directories, so queries keep pruning to
    n_probe cells with zero rebuild. (Re-train + rebuild only when the
    corpus distribution drifts enough that centroid quality matters.)
    A quantized index quantizes the appended rows the same way — the
    stored shape is uniform across batches (an IVF-PQ index encodes
    the new rows with the PERSISTED codebooks, so old and new codes
    stay mutually comparable). A manifest-backed index appends as an
    ATOMIC COMMIT (readers see the old snapshot until it publishes;
    pass ``txn`` for exactly-once under streaming replay)."""
    meta = ann_index_meta(path, new_df.sparkSession)
    assigned = _encode_rows_for_index(new_df, meta)
    if meta.get("_manifest"):
        from ensembl_database_loader_spark.sinks.manifest import (
            table_properties,
            write_table,
        )

        # id stats re-declared per append (blooms inherit from the
        # table spec automatically; [min, max] stats do not) — without
        # them every appended file loses the id-pruning the build
        # promises for deletes and candidate fetches.
        # extra_properties MERGES top-level keys into the head's map
        # atomically with this commit (an index-sync watermark must
        # version with the rows it accounts for); None carries the
        # head's map untouched as before.
        props = (
            {
                **table_properties(new_df.sparkSession, path),
                **extra_properties,
            }
            if extra_properties
            else None
        )
        write_table(
            assigned, path, mode="append", txn=txn,
            stats_cols=(meta["id_col"],),
            properties=props,
        )
        return
    if txn is not None:
        raise ValueError("txn needs a manifest-backed index (manifest=True)")
    assigned.write.mode("append").partitionBy("_cell").parquet(path)


def rebalance_ann_index(
    spark,
    path: str,
    n_cells: int | None = None,
    n_iter: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """RE-CLUSTER a manifest-backed IVF index in place: appends keep
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
    ``build_ann_index(..., quantized='pq', manifest=True)`` instead
    (raises here). Requires ``manifest=True`` indexes: a bare-parquet
    rebalance would be an rm-rf, exactly the lifecycle gap the
    manifest layout closed.

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
    if not meta.get("_manifest"):
        raise ValueError(
            f"index at {path} is not manifest-backed — rebalance needs "
            "atomic in-place rebuilds (build with manifest=True)"
        )
    if meta.get("quantized") == "pq":
        raise ValueError(
            "PQ indexes store lossy codes — re-cluster from the corpus "
            "via build_ann_index(..., quantized='pq', manifest=True)"
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
    new_meta = {
        k: v for k, v in meta.items() if not k.startswith("_")
    } | {"centroids": cents, "n_cells": n_cells}
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
    """PARTIAL rebalance of a manifest-backed IVF index: split only the
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
    if not meta.get("_manifest"):
        raise ValueError(
            f"index at {path} is not manifest-backed — partial rebalance "
            "needs atomic partition replacement (build with manifest=True)"
        )
    if meta.get("quantized") == "pq":
        raise ValueError(
            "PQ indexes store lossy codes — re-cluster from the corpus "
            "via build_ann_index(..., quantized='pq', manifest=True)"
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
    new_meta = {k: v for k, v in meta.items() if not k.startswith("_")} | {
        "centroids": centroids,
        "n_cells": len(centroids),
    }
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


def suggest_cell_split(
    spark, path: str, target_rows_per_batch: int = 100_000
) -> int:
    """The ``cell_split`` a GEMM/ADC batch query should pass for this
    index so no cogroup Arrow batch holds more than
    ``target_rows_per_batch`` index rows — sized from the MAX cell's
    row count in manifest metadata alone (``table_partitions``; zero
    data IO, the same stats ``split_hot_cells`` diagnoses skew from).
    Returns 0 (no split) when every cell already fits. At the defaults
    a 100k-row cell of 128-dim float64 is ~100 MB per batch — inside a
    4 GB executor comfortably; size down for wider vectors. Bare-
    parquet indexes return 0 (no per-partition stats without a
    manifest — pass an explicit cell_split instead); a manifest whose
    counts are incomplete RAISES rather than return a guess the OOM
    guard would trust (r12 self-review)."""
    import math

    meta = ann_index_meta(path, spark)
    if not meta.get("_manifest"):
        return 0
    from ensembl_database_loader_spark.sinks.manifest import table_partitions

    parts = table_partitions(spark, path)
    if any(p["n_rows"] is None for p in parts):
        raise ValueError(
            f"index at {path} has partitions without row counts — "
            "pass an explicit cell_split (metadata cannot size it)"
        )
    biggest = max((int(p["n_rows"]) for p in parts), default=0)
    if biggest <= int(target_rows_per_batch):
        return 0
    return math.ceil(biggest / int(target_rows_per_batch))


def delete_from_ann_index(spark, path: str, deleted_df: DataFrame) -> dict | None:
    """Remove vectors from a MANIFEST-backed ANN index as a
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
    if not meta.get("_manifest"):
        raise ValueError(
            f"index at {path} is bare parquet — deletes need a "
            "manifest-backed index (build_ann_index(..., manifest=True))"
        )
    id_col, vec_col = meta["id_col"], meta["vec_col"]
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


def ann_index_meta(path: str, spark=None) -> dict:
    """The index's meta (centroids, codebooks, quantization): from the
    ``_ann_meta.json`` sidecar for a bare-parquet index, or from table
    PROPERTIES for a manifest-backed one (``meta["_manifest"]`` marks
    which, so readers pick the right scan)."""
    import json
    import os

    sidecar = os.path.join(path, "_ann_meta.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            return json.load(f)
    if spark is None:
        raise FileNotFoundError(
            f"no _ann_meta.json at {path} — for a manifest-backed index "
            "pass spark (meta lives in table properties)"
        )
    from ensembl_database_loader_spark.sinks.manifest import table_properties

    props = table_properties(spark, path)
    if "ann" not in props:
        raise ValueError(f"table at {path} has no 'ann' property — not an index")
    return {**props["ann"], "_manifest": True}


def ivf_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """Top-k over a materialized IVF index (``build_ann_index``): pick
    the ``n_probe`` nearest centroids driver-side (n_cells x dim numpy —
    tiny), then scan ONLY those cell partitions with exact cosine
    re-rank. The probe filter is on the partition column, so the scan's
    PartitionFilters prune to n_probe directories — no corpus rescan,
    no per-query re-hash. Result is identical to the unindexed
    ``ivf_topk`` with the same centroids (hash-gated by
    ss_ann_ivf_indexed)."""
    import numpy as np

    meta = ann_index_meta(path, spark)
    if meta.get("quantized") == "pq":
        raise ValueError(
            f"index at {path} is PQ-quantized — use pq_topk_indexed"
        )
    cn = np.asarray(meta["centroids"], dtype=np.float64)
    cn = cn / np.maximum(np.linalg.norm(cn, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    probe_cells = [int(i) for i in np.argsort(-(cn @ qn))[:n_probe]]

    idx = _ann_cells_scan(spark, path, meta, probe_cells)
    if exclude_id is not None:
        idx = idx.filter(F.col(meta["id_col"]) != exclude_id)
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    if meta.get("quantized"):
        # the per-vector scale cancels in cosine (cos(s*q, y) == cos(q, y)
        # for s > 0), so the int8 codes rank directly — no dequantize
        # column, no scale read, in the hot path
        cos = _safe_cosine(F.transform("q", lambda x: x.cast("double")), qcol)
    else:
        cos = _safe_cosine(F.col(meta["vec_col"]), qcol)
    return (
        idx.select(F.col(meta["id_col"]), F.round(cos, 6).alias("cos"))
        .orderBy(F.desc("cos"), meta["id_col"])
        .limit(k)
    )


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
    the natural shape coming out of ``ivf_topk_indexed``/
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
