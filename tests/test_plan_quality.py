"""Physical-plan quality gates (the 100 TB posture, SURVEY.md §4.2).

These tests read ``explain('formatted')`` output and pin the plan
properties that matter at scale: filters reaching the parquet scan,
column pruning in ReadSchema, broadcast joins for dimension tables,
partial (map-side) aggregation before the shuffle, and whole-stage
codegen in the hot paths. A correctness-green probe with a bad plan
fails here instead of failing at 100x the data.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from ensembl_database_loader_spark.plans import all_probes

SF = "/root/testdata/sf0.001"
PROBES = all_probes()


def plan_of(spark, name: str, executed: bool = False) -> str:
    """formatted explain; ``executed=True`` collects first so the AQE
    final plan (with codegen spans) is what gets printed."""
    df = PROBES[name].spark_fn(spark, SF)
    if executed:
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = plan_of(spark, "q04_filter_predicate")
    assert "PushedFilters" in plan
    # both predicates should be pushed to the scan, not post-filtered only
    assert "GreaterThan(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_projection_prunes_scan_schema(spark):
    plan = plan_of(spark, "q03_projection")
    scan = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "l_orderkey" in scan and "l_linenumber" in scan
    # a 16-column lineitem scan for a 2-column projection is wrong
    assert "l_extendedprice" not in scan and "l_comment" not in scan


def test_dimension_join_broadcasts(spark):
    plan = plan_of(spark, "q07_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_fact_join_is_shuffle_or_broadcast_not_nested_loop(spark):
    plan = plan_of(spark, "q08_join_shuffle")
    assert "NestedLoop" not in plan  # equi-join must hash
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_aggregate_is_partial_before_shuffle(spark):
    plan = plan_of(spark, "q15_tpch_q1")
    # two HashAggregates (partial + final) around one exchange:
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_hot_paths_are_codegen(spark):
    for name in ("q15_tpch_q1", "q04_filter_predicate", "q32_math_fns"):
        plan = plan_of(spark, name, executed=True)
        # formatted mode marks codegen'd operators with [codegen id : N]
        assert "codegen id" in plan, f"{name} fell out of codegen"


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "q22_topk")
    assert "TakeOrderedAndProject" in plan  # top-k never globally sorts


def test_semi_anti_joins_stay_semi_anti(spark):
    assert "LeftSemi" in plan_of(spark, "q11_semi_join")
    assert "LeftAnti" in plan_of(spark, "q12_anti_join")


def test_exists_subquery_decorrelates_to_join(spark):
    plan = plan_of(spark, "q29_exists_subquery")
    assert "LeftSemi" in plan  # Catalyst decorrelated, no per-row subquery


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed tables join shuffle-free: the write-time
    bucketing replaces the per-query Exchange on both sides."""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.sinks import write_bucketed_table

    li = cat_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    o = cat_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_table(spark, li, "bkt_lineitem", "l_orderkey", 8)
    write_bucketed_table(spark, o, "bkt_orders", "o_orderkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        j = spark.table("bkt_lineitem").join(
            spark.table("bkt_orders"),
            spark.table("bkt_lineitem").l_orderkey
            == spark.table("bkt_orders").o_orderkey,
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides pre-bucketed
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_runtime_bloom_filter_injected_on_selective_join(spark):
    """Runtime bloom-filter join pruning: a selective dim-side filter
    should inject a bloom_filter_agg on the creation side and a
    might_contain probe on the fact side, so fact rows that cannot
    join die at the scan instead of riding the shuffle. At 100 TB this
    is the difference between shuffling the whole fact table and
    shuffling the matching slice. (Thresholds are lowered because the
    fixture is tiny; on a real cluster the 10 GB default application-
    side threshold gates this sensibly.)"""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = cat_table(spark, SF, "lineitem")
        o = cat_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        # and it still computes the right thing
        assert j.collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_banded_simhash_plan_has_no_cartesian(spark):
    """The banded pair engine must plan hash/SMJ joins on band keys —
    never a cartesian or nested-loop product."""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.dedup import simhash_pairs_banded

    d = cat_table(spark, SF, "documents")
    pairs = simhash_pairs_banded(d, "doc_id", "text", "lang", max_hamming=4)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A filter on the partition column must reach the scan as a
    partition filter (only matching directories read)."""
    from ensembl_database_loader_spark.catalog import table as cat_table

    from pyspark.sql import functions as F

    out = str(tmp_path / "orders_part")
    cat_table(spark, SF, "orders").write.partitionBy("o_orderstatus").parquet(out)
    q = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_cbo_column_stats_enable_broadcast_after_filter(spark, tmp_path):
    """The CBO stats round-trip (reference post-load ANALYZE TABLE,
    LoadFiles.pm:230-234): write_parquet_mirror computes table AND
    column statistics, and with spark.sql.cbo.enabled those let the
    optimizer estimate a range-filter's selectivity from min/max — the
    filtered dimension drops under the broadcast threshold and the
    fact join flips from sort-merge to broadcast. Without CBO the
    filter inherits the unfiltered size estimate and stays sort-merge,
    so the gate asserts BOTH directions (proving the column stats are
    actually consumed, not that everything small broadcasts)."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.sinks.jdbc import write_parquet_mirror

    write_parquet_mirror(
        spark, cat_table(spark, SF, "orders"), "cbodb", "orders_dim", str(tmp_path)
    )
    write_parquet_mirror(
        spark,
        cat_table(spark, SF, "lineitem"),
        "cbodb",
        "lineitem_fact",
        str(tmp_path),
    )
    ndv = {
        r.info_name: r.info_value
        for r in spark.sql(
            "DESC EXTENDED cbodb.orders_dim o_orderkey"
        ).collect()
    }
    assert int(ndv["distinct_count"]) > 0  # FOR ALL COLUMNS ran

    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # threshold between the CBO filtered estimate (~7 KiB: 101 rows
        # x avg row width) and the no-CBO estimate (~30 KiB: unfiltered)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024))
        plans = {}
        for cbo in ("false", "true"):
            spark.conf.set("spark.sql.cbo.enabled", cbo)
            dim = spark.table("cbodb.orders_dim").filter(F.col("o_orderkey") < 100)
            q = spark.table("cbodb.lineitem_fact").join(
                dim, F.col("l_orderkey") == F.col("o_orderkey")
            )
            plans[cbo] = q._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plans["false"]
        assert "BroadcastHashJoin" not in plans["false"]
        assert "BroadcastHashJoin" in plans["true"]
        assert "SortMergeJoin" not in plans["true"]
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS cbodb.orders_dim")
        spark.sql("DROP TABLE IF EXISTS cbodb.lineitem_fact")
        spark.sql("DROP DATABASE IF EXISTS cbodb")


def test_ann_index_query_scan_is_partition_pruned(spark, tmp_path):
    """The serving-path contract of the materialized ANN index: an
    ann_topk query must read ONLY its n_probe probed cell
    directories — the _cell filter reaches the scan as a
    PartitionFilter, and the data actually read contains exactly the
    probed cells, not the corpus."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.similarity import (
        ann_topk,
        build_ann_index,
    )

    e = cat_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ann_idx")
    build_ann_index(e, "vec_id", "embedding", path, n_cells=16)
    qvec = list(
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    q = ann_topk(spark, path, [(0, qvec)], k=5, n_probe=4, exclude_self=True)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_cell" in plan.split("PartitionFilters")[1].split("]")[0]

    # the pruned read touches exactly the probed cells (<= n_probe of 16)
    pruned = spark.read.parquet(path).filter(
        F.col("_cell").isin(list(range(16)))
    )
    probed = spark.read.parquet(path).filter(F.col("_cell").isin([0, 1, 2, 3]))
    cells_all = {r._cell for r in pruned.select("_cell").distinct().collect()}
    cells_probed = {r._cell for r in probed.select("_cell").distinct().collect()}
    assert len(cells_all) > 4 >= len(cells_probed)


def test_percentile_cont_matches_builtin(spark):
    """Count-based exact percentile must equal Spark's buffering
    `percentile` aggregate (to 1 ulp; both use lo + (hi-lo)*frac at
    position (n-1)p), global and grouped, including null handling."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.percentiles import percentile_cont

    li = cat_table(spark, SF, "lineitem").withColumn(
        "qty_n", F.when(F.col("l_linenumber") == 1, None).otherwise(F.col("l_quantity"))
    )
    got = percentile_cont(li, "qty_n", {"p25": 0.25, "p50": 0.5, "p99": 0.99}).first()
    exp = li.agg(
        F.expr("percentile(qty_n, array(0.25, 0.5, 0.99))").alias("e")
    ).first()["e"]
    assert (got.p25, got.p50, got.p99) == tuple(exp)

    g_got = {
        r.l_returnflag: r.p50
        for r in percentile_cont(
            li, "qty_n", {"p50": 0.5}, ("l_returnflag",)
        ).collect()
    }
    g_exp = {
        r.l_returnflag: r.e
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(qty_n, 0.5)").alias("e"))
        .collect()
    }
    assert g_got == g_exp


def test_percentile_cont_plan_has_partial_aggregation(spark):
    """The count-based path must partial-aggregate map-side (the whole
    point: shuffle distinct values, not rows) and contain no
    per-group value buffering aggregate."""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.percentiles import percentile_cont

    li = cat_table(spark, SF, "lineitem")
    p = percentile_cont(li, "l_quantity", {"p50": 0.5}, ("l_returnflag",))
    plan = p._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan
    assert "percentile" not in plan.lower()


def test_boilerplate_backjoin_broadcasts(spark):
    """crossdoc_boilerplate's flagged-shingle semi-join must broadcast
    (the flagged set is small by construction) — no sort-merge join on
    the exploded shingle stream."""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.textstats import (
        crossdoc_boilerplate,
    )

    _, docs = crossdoc_boilerplate(cat_table(spark, SF, "documents"))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_membership_probe_broadcasts(spark):
    """The benchmark n-gram set must broadcast (eval suites are tiny
    next to a 100 TB corpus) — the membership test happens map-side,
    never as a corpus-keyed shuffle join."""
    plan = plan_of(spark, "tx_contamination")
    assert "BroadcastHashJoin" in plan


def test_deterministic_sample_plan_has_no_exchange(spark):
    """Keyed-hash sampling is a pure map-side filter: zero shuffles,
    zero Python — the only sampling design that survives 100 TB."""
    from ensembl_database_loader_spark.operators.mixing import stratified_sample

    df = spark.read.parquet(f"{SF}/documents.parquet")
    s = stratified_sample(df, "doc_id", "lang", {"en": 0.5, "zh": 0.1})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        s.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_pii_redaction_is_codegen_no_shuffle(spark):
    """Redaction touches every corpus byte: it must stay inside
    whole-stage codegen with no exchange before the aggregate."""
    from ensembl_database_loader_spark.operators.redact import with_pii_redaction

    df = spark.read.parquet(f"{SF}/documents.parquet")
    r = with_pii_redaction(df, "text").select("redacted", "n_email")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        r.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    # '*' marks whole-stage-codegen stages in formatted explain — the
    # regexp project must be inside one, not a BatchEvalPython stage
    assert "* Project" in plan and "BatchEvalPython" not in plan


def test_chunking_is_narrow_fanout_no_shuffle(spark):
    """The JVM chunker is a per-row fan-out: posexplode over a codegen
    higher-order transform — no exchange, no Python."""
    from ensembl_database_loader_spark.operators.chunking import chunk_documents

    df = spark.read.parquet(f"{SF}/documents.parquet")
    c = chunk_documents(df, "doc_id", "text", size=32, overlap=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        c.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode fan-out
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_pair_count_has_partial_aggregation(spark):
    """Each BPE merge step's pair count must partial-aggregate map-side
    (the iteration runs num_merges times — a shuffle of raw pair rows
    would multiply the corpus-pass cost)."""
    from ensembl_database_loader_spark.operators.bpe import (
        _chars,
        _pair_counts,
        word_frequencies,
    )
    from pyspark.sql import functions as F

    wf = word_frequencies(spark.read.parquet(f"{SF}/documents.parquet"), "text")
    words = wf.select("freq", _chars("word").alias("syms"))
    counts = _pair_counts(words)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        counts.explain("formatted")
    plan = buf.getvalue()
    # two HashAggregates around the exchange = partial + final
    assert plan.count("HashAggregate") >= 2


def test_line_clean_and_quantize_are_narrow_codegen(spark):
    """Both full-corpus byte-touching stages (C4 line clean, int8
    quantization) must stay narrow: no exchange, no Python eval."""
    from ensembl_database_loader_spark.operators.quantize import quantize_embeddings
    from ensembl_database_loader_spark.operators.textclean import clean_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for frame in (
        clean_lines(docs, "text"),
        quantize_embeddings(emb, "embedding"),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frame.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_grouped_pairs_join_is_hash_keyed(spark):
    """r7: with blocking/candidate groups, the packed block-pair
    self-join carries EQUALITY predicates on the group columns, so
    Catalyst must pick a hash-keyed join (broadcast or shuffled hash /
    sort-merge) — never a cartesian product. Cross-group pairs are
    pruned by the join itself, not by a post-filter (the r6 shape the
    round-6 advice flagged: all cross-block pairs generated, then
    filtered)."""
    from ensembl_database_loader_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    pairs = embedding_neardup_pairs(
        df, "vec_id", "embedding", 0.5, 4, group_cols=("label",)
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    # ungrouped: the bid<=bid block-pair join is the documented
    # num_blocks^2/2 nested-loop over PACKED rows (32 rows, not the
    # corpus) — assert it does NOT regress into a per-row join by
    # checking the pair stage still packs first
    ungrouped = embedding_neardup_pairs(df, "vec_id", "embedding", 0.5, 4)
    uplan = ungrouped._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" in uplan


def test_lm_count_joins_are_shuffle_hash_not_broadcast(spark):
    """r7: the LM count tables scale with the reference corpus and have
    UDF-opaque sizes — scoring must join them shuffle-partitioned,
    never as a driver-built broadcast."""
    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.lm import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    d = cat_table(spark, SF, "documents")
    uni, bi, V = train_bigram_lm(d)
    scored = score_bigram_logprob(d, "doc_id", "text", uni, bi, V)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    # every join keyed on a token column (w1 / w1,w2) is a count-table
    # join and must be shuffle-hash; the final per-doc back-join may
    # broadcast — its size is an accurate post-shuffle AQE estimate,
    # not a UDF-opaque guess
    token_joins = [
        ln for ln in plan.splitlines() if "Join [w1" in ln or "Join [w2" in ln
    ]
    assert len(token_joins) == 2
    assert all("ShuffledHashJoin" in ln for ln in token_joins)


def test_token_budget_histogram_broadcasts_and_windows_stay_small(spark):
    """r7: the (strata x buckets) histogram is tiny, materialized ONCE
    (it feeds both union arms — without the materialization each arm
    re-runs the corpus scan that builds it; r8 switched persist() to an
    eager localCheckpoint so long-lived sessions don't leak cache
    entries), and broadcast back onto the corpus. The only corpus-level
    Window is the per-doc cumsum over the boundary bucket — never a
    corpus-wide stratum sort."""
    import re

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.budget import select_token_budget
    from ensembl_database_loader_spark.operators.textstats import with_token_stats

    d = with_token_stats(cat_table(spark, SF, "documents"), "text")
    kept = select_token_budget(
        d, "doc_id", "n_tokens", "lang", {"en": 1000, "de": 500}
    )
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # histogram checkpoint-materialized once, scanned by both union arms
    # (an ExistingRDD scan per arm; zero InMemoryTableScan = no cache
    # registry entry leaked)
    assert plan.count("Scan ExistingRDD") == 2
    assert "InMemoryTableScan" not in plan
    # exactly one window runs over corpus rows: the boundary-bucket
    # cumsum on the token column (the histogram's own window lives
    # inside the cached relation)
    assert len(re.findall(r"Window \[sum\(n_tokens", plan)) == 1


def test_runtime_bloom_filter_reduces_selective_shuffle_join(spark):
    """r8: with the session's bloom posture, a shuffle join whose one
    side is selectively filtered injects a bloom_filter_agg on the
    filtered side and probes it on the big side BEFORE its shuffle —
    at 100 TB that drops most of the big side's shuffle bytes. The
    local thresholds are lowered to make the 10 GB application-side
    default observable at fixture scale."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = cat_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        o = cat_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(o, li.l_orderkey == o.o_orderkey).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        # and the reduction is semantics-free
        n = j.first().cnt
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        li2 = cat_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
        o2 = cat_table(spark, SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        assert li2.join(o2, li2.l_orderkey == o2.o_orderkey).count() == n
    finally:
        for k, v in prev.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_sample_exact_k_plans_partial_group_limit(spark):
    """Stratified exact-k sampling rides TWO scale levers: our
    map-side hash pre-filter shrinks the sort input to ~margin*k rows
    per stratum, and Spark's WindowGroupLimit rule inserts a PARTIAL
    per-partition top-k before the shuffle, bounding shuffle bytes to
    k rows per input partition per stratum. Pin both: the partial
    group-limit node and the pushed pre-filter."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    df = spark.range(50_000).select(
        F.col("id"), (F.col("id") % 5).cast("string").alias("s")
    )
    out = sample_exact_k(df, "id", 10, strata_col="s")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    assert "pmod" in plan  # the hash pre-filter survived into the plan


def test_pagerank_iteration_joins_are_hash_not_broadcast_or_loop(spark):
    """Each PageRank round must join ranks onto the edge table with a
    hash join keyed on src — never a nested loop, and never a broadcast
    of the rank frame (nodes-sized == graph-sized at 100 TB; a
    misestimated broadcast would OOM the driver)."""
    plan = plan_of(spark, "q63_pagerank")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "ShuffledHashJoin" in plan


def test_encode_corpus_python_only_on_distinct_words(spark):
    """The BPE encoder UDF runs once per DISTINCT word: exactly one
    Arrow-eval node in the whole corpus-encode plan, and the document
    reassembly join is hash-keyed (the distinct-word side must never
    broadcast on a misestimate)."""
    import re

    plan = plan_of(spark, "tx_bpe_encode")
    nodes = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
    assert len(nodes) == 1, plan
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_materialize_examples_single_group_shuffle(spark):
    """Example materialization must stay fragment-granular: no
    per-token explode (the fragment explode is ceil(len/seq)+1 rows per
    doc), partial aggregation absent (collect_list is not partial) but
    the ONLY wide operations are the pack_concat window shuffle and the
    (shard, example) group — no join at all."""
    plan = plan_of(spark, "llp_tokenized_examples")
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_triangle_wedge_joins_are_hash_not_broadcast(spark):
    """The oriented edge frame is graph-sized: both the wedge self-join
    and the closure join must be shuffle-hash (a misestimated broadcast
    OOMs at corpus scale), and nothing may degrade to a nested loop."""
    plan = plan_of(spark, "q73_triangles")
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    # (the one-row scalar assembly crossJoins legitimately plan as
    # BroadcastNestedLoopJoin over single-row frames)


def test_upsample_has_no_corpus_shuffle(spark):
    """Mixture upsampling is a broadcast rates join + codegen explode:
    the corpus side must reach the final aggregate without any exchange
    other than the probe's own accounting groupBy — exactly one
    data-bearing Exchange (the final groupBy) besides broadcasts."""
    import re

    plan = plan_of(spark, "llp_mixture_upsample")
    # the mixture itself aggregates; the upsample path adds ONLY a
    # BroadcastExchange for the rates — count shuffle exchanges
    shuffles = re.findall(r"^\(\d+\) Exchange", plan, re.M)
    broadcasts = re.findall(r"BroadcastExchange", plan)
    assert broadcasts, plan  # rates reach the corpus via broadcast
    # corpus scan -> explode -> partial agg -> ONE shuffle for the
    # groupBy + the mixture's internal aggregates; the corpus is never
    # repartitioned before the explode
    assert "Generate" in plan, plan


def test_validation_tagging_is_codegen_projection(spark):
    """tag_violations without FK rules compiles to a pure projection:
    no shuffle, no Python, inside WholeStageCodegen."""
    from ensembl_database_loader_spark.operators.expectations import (
        expect_in_range,
        expect_not_null,
        tag_violations,
    )
    import io as _io
    import contextlib as _ctx

    df = spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS x")
    tagged = tag_violations(
        df, [expect_not_null("x"), expect_in_range("x", 0.0, 50.0)]
    )
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        tagged.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted explain marks codegen stages with "[codegen id : N]";
    # the outer array_compact projection (higher-order fn) may sit just
    # outside the span — what matters is no exchange and no Python
    assert "codegen id" in plan


def test_bfs_frontier_joins_are_hash(spark):
    """Each BFS hop joins the frontier onto the edge table hash-keyed;
    no nested loop anywhere in the unrolled plan."""
    plan = plan_of(spark, "q76_khop_bfs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_pq_index_query_scan_is_partition_pruned(spark, tmp_path):
    """The IVF-PQ serving path's contract: an ann_topk ADC scan
    must read ONLY its n_probe probed cell directories (the _cell
    filter reaches the scan as a PartitionFilter), and the scan reads
    CODES, not float vectors (ReadSchema carries the tinyint codes
    column and no embedding column)."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.similarity import (
        ann_topk,
        build_ann_index,
    )

    e = cat_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq_idx")
    build_ann_index(
        e, "vec_id", "embedding", path, n_cells=16, quantized="pq",
        pq_m=8, pq_k=16,
    )
    qvec = list(
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    q = ann_topk(spark, path, [(0, qvec)], k=5, n_probe=4, exclude_self=True)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "_cell" in plan.split("PartitionFilters")[1].split("]")[0]
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "codes" in read_schema and "embedding" not in read_schema


def test_ivf_topk_many_broadcasts_queries_single_corpus_scan(spark, tmp_path):
    """The narrow-batch ANN contract (ann_topk's broadcast-expression
    scorer over a float index): the exploded query side broadcasts into
    a hash join on _cell (never a shuffled or nested-loop join), and
    the index is scanned ONCE (one index relation in the optimized
    plan — a second would mean a duplicated subtree)."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.similarity import (
        ann_topk,
        build_ann_index,
    )

    e = cat_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    build_ann_index(e, "vec_id", "embedding", path, n_cells=8)
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    q = ann_topk(spark, path, queries, k=3, n_probe=2, exclude_self=True)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    # index + query side (the embeddings table): exactly 2 scans in the
    # FINAL executed plan, not 3+ (a duplicated subtree). The optimized
    # plan also prints the query side inside the index scan's
    # dynamic-pruning subquery, which reuses the broadcast at run time,
    # so it is not counted.
    assert plan.split("Initial Plan")[0].count("Scan parquet") == 2


def test_pq_batch_df_single_pruned_scan_no_corpus_python(spark, tmp_path):
    """The DataFrame-shaped PQ batch contract: ONE parquet scan of the
    index (pruned to the union of probed cells, codes-only), the
    (qid, cell, table) query side broadcast into a hash join, ADC
    computed JVM-side — the only Python eval in the plan is the
    query-side table builder, never a per-candidate scorer."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.similarity import (
        ann_topk,
        build_ann_index,
    )

    e = cat_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "pq_batch_plan")
    build_ann_index(
        e, "vec_id", "embedding", path, n_cells=16, quantized="pq",
        pq_m=8, pq_k=16,
    )
    queries = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    q = ann_topk(spark, path, queries, k=5, n_probe=4, exclude_self=True)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the Initial Plan — gate the FINAL plan only
    plan = plan.split("Initial Plan")[0]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time python
    # exactly two scans: the pruned codes-only INDEX scan + the query
    # frame feeding the broadcast side (a third would mean the corpus
    # subtree was duplicated)
    assert plan.count("Scan parquet") == 2
    assert "PartitionFilters" in plan
    assert "_cell" in plan.split("PartitionFilters")[1].split("]")[0]
    scans = [
        seg.split("\n")[0]
        for seg in plan.split("ReadSchema:")[1:]
    ]
    codes_scans = [s for s in scans if "codes" in s]
    assert len(codes_scans) == 1 and "embedding" not in codes_scans[0]
    # the only Arrow UDF runs on the query side: exactly one eval node
    assert plan.count("ArrowEvalPython") == 1


def test_batch_topk_plans_one_window(spark, tmp_path):
    """The batch per-query top-k is a single window per qid: exactly one
    Window node in the executed plan."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table as cat_table
    from ensembl_database_loader_spark.operators.similarity import (
        ann_topk,
        build_ann_index,
    )

    e = cat_table(spark, SF, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "idx")
    build_ann_index(e, "vec_id", "embedding", path, n_cells=8)
    queries = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    q = ann_topk(spark, path, queries, k=3, n_probe=2)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # "Window [" = the sort-and-rank node itself (Spark 4 also plans
    # WindowGroupLimit partial/final helpers — not counted)
    assert plan.count("Window [") == 1
