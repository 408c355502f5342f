"""Mergeable distinct sketches (operators/sketches.py): storable HLL
batch sketches, union error bounds, theta set algebra."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.sketches import (
    corpus_overlap_estimate,
    distinct_sketches,
    merge_distinct_sketches,
)


def _vals(spark, lo, hi, group="g"):
    return spark.range(lo, hi).select(
        F.col("id").cast("string").alias("w"), F.lit(group).alias("g")
    )


def test_hll_incremental_store_matches_one_shot_within_bound(spark):
    """The incremental flow a 100 TB pipeline runs: per-batch sketches
    written to parquet, later unioned WITHOUT rescanning the batches —
    estimate within the sketch error bound of both the one-shot union
    estimate and the exact count."""
    b1, b2 = _vals(spark, 0, 30_000), _vals(spark, 20_000, 60_000)  # overlap
    store = tempfile.mkdtemp(prefix="hll_store_") + "/sketches"
    distinct_sketches(b1, ("g",), "w").write.mode("overwrite").parquet(store)
    distinct_sketches(b2, ("g",), "w").write.mode("append").parquet(store)

    est = merge_distinct_sketches(
        spark.read.parquet(store), ("g",)
    ).collect()[0].distinct_est
    one_shot = merge_distinct_sketches(
        distinct_sketches(b1.unionByName(b2), ("g",), "w")
    ).collect()[0].distinct_est
    exact = 60_000
    assert abs(est - exact) / exact < 0.05
    assert abs(est - one_shot) / one_shot < 0.02  # no error growth on merge


def test_hll_estimates_deterministic_and_layout_independent(spark):
    df = _vals(spark, 0, 50_000)
    a = merge_distinct_sketches(distinct_sketches(df, ("g",), "w")).collect()[0]
    b = merge_distinct_sketches(
        distinct_sketches(df.repartition(17), ("g",), "w")
    ).collect()[0]
    assert a.distinct_est == b.distinct_est  # set function, not layout function


def test_theta_overlap_no_join_estimates(spark):
    a = _vals(spark, 0, 40_000)
    b = _vals(spark, 30_000, 70_000)
    row = corpus_overlap_estimate(a, b, "w", lg_k=14).collect()[0]
    assert abs(row.est_a - 40_000) / 40_000 < 0.05
    assert abs(row.est_b - 40_000) / 40_000 < 0.05
    assert abs(row.est_intersection - 10_000) / 10_000 < 0.12
    assert abs(row.est_union - 70_000) / 70_000 < 0.05
    exact_j = 10_000 / 70_000
    assert abs(row.est_jaccard - exact_j) <= 0.03
    # plan shape: no join of the two corpora — one 1x1 cartesian only
    plan = corpus_overlap_estimate(a, b, "w")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_corpus_sketch_store_accumulates_across_runs(spark, tmp_path):
    """The incremental corpus-accounting flow: one sketch row appended
    per curation run; cumulative distinct-token estimate from the tiny
    rows only, within the sketch bound of the exact cross-batch
    distinct count."""
    from ensembl_database_loader_spark.functions.text import tokens as tok_fn
    from ensembl_database_loader_spark.streaming.ingest import (
        record_batch_sketches,
        streaming_corpus_stats,
    )

    store = str(tmp_path / "store")
    b1 = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha tok"), F.col("id").cast("string"), F.lit(" beta")).alias("text"),
    )
    b2 = spark.range(400, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha tok"), F.col("id").cast("string"), F.lit(" gamma")).alias("text"),
    )
    record_batch_sketches(b1, store, 1)
    record_batch_sketches(b2, store, 2)
    row = streaming_corpus_stats(spark, store).collect()[0]
    assert row.n_batches == 2
    assert row.n_docs == 1000
    assert row.n_tokens == 3000
    exact = (
        b1.unionByName(b2)
        .select(F.explode(tok_fn("text")).alias("w"))
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    )  # 1000 unique tokN + alpha/beta/gamma = 1003
    assert exact == 1003
    assert abs(row.distinct_tokens_est - exact) / exact < 0.05


def test_corpus_sketch_store_records_empty_batches(spark, tmp_path):
    """An empty curation batch still lands one accounting row (null
    sketch, zero counts) — runs are never silently missing from the
    store."""
    from ensembl_database_loader_spark.streaming.ingest import (
        record_batch_sketches,
        streaming_corpus_stats,
    )

    store = str(tmp_path / "store")
    full = spark.createDataFrame([(1, "alpha beta")], "doc_id bigint, text string")
    empty = full.limit(0)
    record_batch_sketches(full, store, 1)
    record_batch_sketches(empty, store, 2)
    row = streaming_corpus_stats(spark, store).collect()[0]
    assert row.n_batches == 2  # the empty run is still accounted
    assert row.n_docs == 1 and row.n_tokens == 2
    assert row.distinct_tokens_est == 2


# ---------------------------------------------------------------------------
# Frequent items (Misra-Gries)
# ---------------------------------------------------------------------------


def _zipfish(spark, n_hot=5, hot=2000, cold=3000):
    """5 hot items (2000x each) over a long cold tail (1x each)."""
    hots = spark.range(n_hot * hot).select(
        F.concat(F.lit("hot"), (F.col("id") % n_hot)).alias("v")
    )
    colds = spark.range(cold).select(F.concat(F.lit("cold"), "id").alias("v"))
    return hots.unionAll(colds).repartition(8)


def test_frequent_items_mg_contract(spark):
    from ensembl_database_loader_spark.operators.sketches import frequent_items

    df = _zipfish(spark)
    n = df.count()
    out = frequent_items(df, "v", k=16).collect()
    items = {r.item: r.weight for r in out if r.item is not None}
    err = sum(r.weight for r in out if r.item is None)
    assert len(items) <= 16
    # total error within the proven MG bound
    assert err <= n // (16 + 1)
    # every hot item (true count 2000 > err) must survive, with
    # lower-bound counts inside [true - err, true]
    for i in range(5):
        w = items.get(f"hot{i}")
        assert w is not None
        assert 2000 - err <= w <= 2000
    # all weights are lower bounds (true count of a cold item is 1)
    for item, w in items.items():
        true = 2000 if item.startswith("hot") else 1
        assert w <= true


def test_frequent_items_store_merge_equals_contract(spark):
    """Per-batch summaries appended to a store, merged later: the
    merged summary still satisfies the MG contract over the
    CONCATENATED input — no rescan of the batches."""
    import tempfile as _tf

    from ensembl_database_loader_spark.operators.sketches import (
        frequent_items,
        merge_frequent_items,
    )

    b1 = _zipfish(spark, n_hot=3, hot=1500, cold=2000)
    b2 = _zipfish(spark, n_hot=5, hot=900, cold=1500)  # hot0-2 overlap
    store = _tf.mkdtemp(prefix="mg_store_") + "/freq"
    frequent_items(b1, "v", k=16).write.mode("append").parquet(store)
    frequent_items(b2, "v", k=16).write.mode("append").parquet(store)

    merged = merge_frequent_items(spark.read.parquet(store), k=16).collect()
    items = {r.item: r.weight for r in merged if r.item is not None}
    err = sum(r.weight for r in merged if r.item is None)
    n = b1.count() + b2.count()
    assert len(items) <= 16
    assert err <= n // (16 + 1)
    for i in range(3):  # true combined count 2400 across both batches
        w = items.get(f"hot{i}")
        assert w is not None and 2400 - err <= w <= 2400


def test_frequent_items_exactness_when_domain_fits(spark):
    """k >= #distinct -> the sketch IS the exact count (err 0)."""
    from ensembl_database_loader_spark.operators.sketches import frequent_items

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "v string"
    ).repartition(4)
    out = frequent_items(df, "v", k=8).collect()
    items = {r.item: r.weight for r in out if r.item is not None}
    err = sum(r.weight for r in out if r.item is None)
    assert err == 0 and items == {"a": 5, "b": 3, "c": 1}


# ---------------------------------------------------------------------------
# Quantile histograms
# ---------------------------------------------------------------------------


def test_quantile_histogram_relative_error_bound(spark):
    from ensembl_database_loader_spark.operators.sketches import (
        histogram_quantiles,
        quantile_histogram,
    )

    vals = [float(i) ** 1.7 + 1 for i in range(1, 4000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double").repartition(8)
    p = 32
    hist = quantile_histogram(df, "x", precision=p)
    got = {
        r.p: r.est
        for r in histogram_quantiles(hist, (0.25, 0.5, 0.9, 0.99), p).collect()
    }
    svals = sorted(vals)
    bound = 2 ** (1 / p)
    for q, est in got.items():
        exact = svals[min(len(svals) - 1, max(0, int(q * len(svals)) - 1))]
        assert exact / bound <= est <= exact * bound, (q, est, exact)


def test_quantile_histogram_merge_is_exact(spark):
    """Merged per-batch histograms == one-shot histogram, EXACT —
    counts are counts (contrast the HLL union's 2%-bound)."""
    import tempfile as _tf

    from ensembl_database_loader_spark.operators.sketches import (
        merge_quantile_histograms,
        quantile_histogram,
    )

    b1 = spark.range(1, 2000).select((F.col("id") * 3.7).alias("x"))
    b2 = spark.range(500, 3000).select((F.col("id") * 0.9).alias("x"))
    store = _tf.mkdtemp(prefix="qh_store_") + "/qh"
    quantile_histogram(b1, "x").write.mode("append").parquet(store)
    quantile_histogram(b2, "x").write.mode("append").parquet(store)
    merged = {
        r.bucket: r.n
        for r in merge_quantile_histograms(spark.read.parquet(store)).collect()
    }
    oneshot = {
        r.bucket: r.n
        for r in quantile_histogram(b1.unionAll(b2), "x").collect()
    }
    assert merged == oneshot


def test_quantile_histogram_signs_zero_nulls(spark):
    from ensembl_database_loader_spark.operators.sketches import (
        histogram_quantiles,
        quantile_histogram,
    )

    rows = [(-100.0,), (-1.0,), (0.0,), (0.0,), (None,), (5.0,), (1000.0,)]
    df = spark.createDataFrame(rows, "x double")
    hist = quantile_histogram(df, "x")
    assert hist.agg(F.sum("n")).first()[0] == 6  # null dropped
    # bucket order == value order: median of the 6 values is 0
    est = histogram_quantiles(hist, (0.5,)).first().est
    assert est == 0.0
    # p=1.0 lands in the top bucket (~1000 within the bound)
    top = histogram_quantiles(hist, (1.0,)).first().est
    assert 1000 / 2 ** (1 / 32) <= top <= 1000 * 2 ** (1 / 32)


def test_quantile_histogram_guard(spark):
    import pytest as _pt

    from ensembl_database_loader_spark.operators.sketches import quantile_histogram

    with _pt.raises(ValueError, match="precision"):
        quantile_histogram(spark.range(3).select(F.col("id").cast("double").alias("x")), "x", 0)


def test_corpus_store_freq_items_and_len_hist(spark, tmp_path):
    """The r8 store companions: per-batch MG token summaries and
    length histograms, cumulative answers from stored rows only."""
    from ensembl_database_loader_spark.functions.text import tokens as tok_fn
    from ensembl_database_loader_spark.streaming.ingest import (
        record_batch_sketches,
        streaming_length_quantiles,
        streaming_top_tokens,
    )

    store = str(tmp_path / "store")
    b1 = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common common rare"), F.col("id").cast("string")
        ).alias("text"),
    )
    b2 = spark.range(300, 500).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("common other words here x"), F.col("id").cast("string")
        ).alias("text"),
    )
    for batch_id, b in ((1, b1), (2, b2)):
        record_batch_sketches(b, store, batch_id)

    top = streaming_top_tokens(spark, store, k=16).collect()
    items = {r.item: r.weight for r in top if r.item is not None}
    err = sum(r.weight for r in top if r.item is None)
    n_tokens = (
        b1.unionByName(b2).select(F.explode(tok_fn("text")).alias("w")).count()
    )
    assert err <= n_tokens // 17
    # 'common' appears 2*300 + 200 = 800 times — must survive in-bounds
    assert items.get("common") is not None
    assert 800 - err <= items["common"] <= 800

    q = {r.p: r.est for r in streaming_length_quantiles(spark, store).collect()}
    # doc lengths are 3 (b1) and 5 (b2) tokens; p50 of 500 docs is 3
    bound = 2 ** (1 / 32)
    assert 3 / bound <= q[0.5] <= 3 * bound
    assert 5 / bound <= q[0.99] <= 5 * bound


def test_grouped_frequent_items_contract_per_group(spark):
    from ensembl_database_loader_spark.operators.sketches import (
        grouped_frequent_items,
    )

    rows = []
    # group A: hot item 800x over a 1200-cold tail; group B: two hots
    rows += [("A", "hotA")] * 800 + [("A", f"cA{i}") for i in range(1200)]
    rows += [("B", "hotB1")] * 500 + [("B", "hotB2")] * 400
    rows += [("B", f"cB{i}") for i in range(700)]
    df = spark.createDataFrame(rows, "g string, v string").repartition(8)
    out = grouped_frequent_items(df, "g", "v", k=16).collect()
    by = {}
    errs = {}
    for r in out:
        if r.item is None:
            errs[r.g] = errs.get(r.g, 0) + r.weight
        else:
            by.setdefault(r.g, {})[r.item] = r.weight
    nA, nB = 800 + 1200, 500 + 400 + 700
    assert errs["A"] <= nA // 17 and errs["B"] <= nB // 17
    assert len(by["A"]) <= 16 and len(by["B"]) <= 16
    assert 800 - errs["A"] <= by["A"]["hotA"] <= 800
    assert 500 - errs["B"] <= by["B"]["hotB1"] <= 500
    assert 400 - errs["B"] <= by["B"]["hotB2"] <= 400
    # groups never bleed into each other
    assert all(i.startswith(("hotA", "cA")) for i in by["A"])


def test_grouped_frequent_items_exact_when_domain_fits(spark):
    from ensembl_database_loader_spark.operators.sketches import (
        grouped_frequent_items,
    )

    df = spark.createDataFrame(
        [("x", "a")] * 4 + [("x", "b")] * 2 + [("y", "a")] * 3,
        "g string, v string",
    ).repartition(3)
    out = grouped_frequent_items(df, "g", "v", k=8).collect()
    items = {(r.g, r.item): r.weight for r in out if r.item is not None}
    errs = {r.g: r.weight for r in out if r.item is None}
    assert items == {("x", "a"): 4, ("x", "b"): 2, ("y", "a"): 3}
    assert errs == {"x": 0, "y": 0}
