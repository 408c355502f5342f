"""pipeline/training.py build_training_corpus — end-to-end composition
semantics on a small controlled corpus."""

from __future__ import annotations

import gc
import time

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.pipeline.training import build_training_corpus


def _corpus(spark):
    # 3-stopword-free quality-passing docs need length 100..400 chars,
    # >=0.5 distinct ratio, mean token len 3..10 — build compliant texts
    words = [f"tok{i:03d}" for i in range(40)]
    base = " ".join(words)  # 40 distinct 6-char tokens, ~280 chars
    rows = [
        (1, "en", base),
        (2, "en", base),  # exact dup of 1 -> dropped at exact stage
        (3, "en", base.replace("tok000", "tok999")),  # near-dup of 1
        (4, "en", " ".join(f"oth{i:03d}" for i in range(40))),  # clean distinct
        (5, "zh", " ".join(f"zzz{i:03d}" for i in range(40))),  # other stratum
        (6, "en", "aa aa aa aa"),  # fails quality (short, repetitive, tiny tokens)
    ]
    return spark.createDataFrame(rows, "doc_id bigint, lang string, text string")


def test_build_training_corpus_stage_accounting(spark):
    docs = _corpus(spark)
    bench = spark.createDataFrame(
        [(100, " ".join(f"oth{i:03d}" for i in range(40)))],
        "doc_id bigint, text string",
    )
    packed, report = build_training_corpus(
        docs,
        bench,
        near_dup="inverted",
        mix_rates={"en": 1.0, "zh": 1.0},
        pack_budget=128,
        pack_shards=2,
    )
    r = report.collect()[0]
    assert r.n_input == 6
    assert r.n_quality == 5  # doc 6 fails
    assert r.n_exact == 4  # doc 2 is an exact dup
    assert r.n_kept == 3  # doc 3 near-dups doc 1
    assert r.n_clean == 2  # doc 4 IS the benchmark -> contaminated
    assert r.n_mixed == 2  # both strata at rate 1.0
    assert r.each_doc_once and r.no_overflow and r.ffd_bound_ok
    got = {row.id for row in packed.select("id").collect()}
    assert got == {1, 5}
    # packed rows carry the text back for export
    assert packed.filter(F.col("text").isNull()).count() == 0


#: the report's (name, type, nullable) as the lazily aggregated report
#: had them; the opt-in stages append theirs
_REPORT_FIELDS = [
    ("n_input", "bigint", False),
    ("n_quality", "bigint", False),
    ("n_exact", "bigint", False),
    ("n_kept", "bigint", False),
    ("tokens_kept", "bigint", True),
    ("n_clean", "bigint", False),
    ("n_mixed", "bigint", False),
    ("packed_tokens", "bigint", True),
    ("each_doc_once", "boolean", False),
    ("no_overflow", "boolean", True),
    ("ffd_bound_ok", "boolean", True),
    ("above_lower_bound", "boolean", True),
]
_OPTIN_FIELDS = [("n_lm", "bigint", False), ("n_budget", "bigint", False)]


@pytest.mark.parametrize("optin", [False, True], ids=["default", "lm_budget"])
def test_build_training_corpus_report_is_local(spark, optin):
    """The report is built from the cut leaves' counts inside the call:
    collecting it starts no Spark job, and its schema is the pinned one."""
    docs = _corpus(spark)
    kw = (
        dict(lm_ref=docs, lm_min_logprob=-20.0, token_budgets={"en": 1000, "zh": 1000})
        if optin
        else {}
    )
    _, report = build_training_corpus(
        docs, None, near_dup="inverted", pack_budget=128, pack_shards=2, **kw
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    report.collect()
    assert set(tracker.getJobIdsForGroup(None)) == before
    got = [(f.name, f.dataType.simpleString(), f.nullable) for f in report.schema]
    assert got == _REPORT_FIELDS + (_OPTIN_FIELDS if optin else [])


def assert_leaves_no_cached_frame(spark, run):
    """Call ``run`` (it consumes and drops every frame it makes) and
    assert that every block it materialized is freed: no persistent
    RDD outlives it and the catalog cache stays empty."""
    sc = spark.sparkContext

    def persistent():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    spark.catalog.clearCache()
    before = persistent()
    run()
    # the ContextCleaner frees a leaf asynchronously after the JVM
    # collects it; poll briefly
    for _ in range(40):
        gc.collect()
        sc._jvm.System.gc()
        if persistent() <= before:
            break
        time.sleep(0.25)
    assert persistent() <= before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_build_training_corpus_leaves_no_cached_frame(spark, tmp_path):
    """Once the caller drops ``packed`` and the report, every block the
    call materialized is freed: no persistent RDD outlives the call and
    the catalog cache stays empty."""

    def run():
        docs = _corpus(spark)
        bench = spark.createDataFrame(
            [(100, " ".join(f"oth{i:03d}" for i in range(40)))],
            "doc_id bigint, text string",
        )
        packed, report = build_training_corpus(
            docs, bench, near_dup="inverted", mix_rates={"en": 1.0, "zh": 1.0},
            pack_budget=128, pack_shards=2,
        )
        report.collect()
        packed.write.parquet(str(tmp_path / "packed"))

    assert_leaves_no_cached_frame(spark, run)


def test_build_training_corpus_optional_stages_skip(spark):
    docs = _corpus(spark)
    _, report = build_training_corpus(docs, None, near_dup="inverted")
    r = report.collect()[0]
    assert r.n_clean == r.n_kept  # no benchmark -> no decontamination
    assert r.n_mixed == r.n_clean  # no rates -> no mixing


def test_build_training_corpus_line_clean_stage(spark):
    # one doc whose lines all fail the C4 rules disappears before the
    # funnel; survivors flow through with cleaned text
    words = [f"tok{i:03d}" for i in range(40)]
    good = " ".join(words[:20]) + ".\n" + " ".join(words[20:]) + "!"
    bad = "no terminal punct\nalso none"
    docs = spark.createDataFrame(
        [(1, "en", good), (2, "en", bad)], "doc_id bigint, lang string, text string"
    )
    _, report = build_training_corpus(docs, None, near_dup="inverted", line_clean=True)
    r = report.collect()[0]
    assert r.n_input == 1  # doc 2 dropped by the line stage


def test_build_training_corpus_optin_stages(spark, sf_dir):
    """r7 opt-in stages: with defaults the report schema is unchanged;
    enabling substr/LM/budget stages appends n_lm and n_budget and each
    stage actually bites."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table
    from ensembl_database_loader_spark.pipeline.training import (
        build_training_corpus,
    )

    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("source") == "src0")
    _, base = build_training_corpus(
        d, bench, near_dup="inverted", pack_budget=512, pack_shards=4
    )
    assert "n_lm" not in base.columns and "n_budget" not in base.columns

    _, rep = build_training_corpus(
        d,
        bench,
        near_dup="inverted",
        pack_budget=512,
        pack_shards=4,
        substr_window=8,
        lm_ref=d.filter(F.col("lang") == "en"),
        lm_min_logprob=-6.0,
        token_budgets={"en": 1000, "de": 500},
    )
    r = rep.collect()[0]
    assert rep.columns == base.columns + ["n_lm", "n_budget"]
    assert r.n_lm <= r.n_kept            # LM filter only drops
    assert r.n_budget <= r.n_mixed       # budget selection only drops
    assert r.each_doc_once and r.no_overflow


def test_build_training_corpus_domain_cap_stage(spark, sf_dir):
    """domain_caps runs first (keep_unlisted: listed domains capped in
    deterministic hash order, the rest pass); the report schema is
    unchanged — the funnel's n_input IS the post-cap count."""
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.catalog import table
    from ensembl_database_loader_spark.pipeline.training import (
        build_training_corpus,
    )

    d = table(spark, sf_dir, "documents")
    per_src = {r.source: r.c for r in d.groupBy("source").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    caps = {"src0": 3, "src1": 3}
    _, base = build_training_corpus(
        d, None, near_dup="inverted", pack_budget=512, pack_shards=4
    )
    _, rep = build_training_corpus(
        d, None, near_dup="inverted", pack_budget=512, pack_shards=4,
        domain_caps=caps,
    )
    r = rep.collect()[0]
    assert rep.columns == base.columns  # report schema unchanged
    expected = sum(min(c, caps.get(srcname, c)) for srcname, c in per_src.items())
    assert r.n_input == expected  # the funnel's n_input IS the post-cap count


def test_doc_cap_keep_unlisted_passthrough(spark):
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.operators.budget import select_doc_cap

    rows = [(i, ["a", "b", None][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "id bigint, dom string")
    kept = select_doc_cap(df, "id", "dom", {"a": 5}, keep_unlisted=True)
    per = {r.dom: r.c for r in kept.groupBy("dom").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert per["a"] == 5       # capped
    assert per["b"] == 30      # unlisted passes whole
    assert per[None] == 30     # null stratum passes too


def test_tokenize_and_materialize_end_to_end(spark, tmp_path):
    from ensembl_database_loader_spark.pipeline.training import (
        tokenize_and_materialize,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"word{j % 17}" for j in range(i % 40 + 5)))
         for i in range(60)],
        "doc_id bigint, text string",
    )
    out = str(tmp_path / "tokshards")
    ex, report = tokenize_and_materialize(
        docs, num_merges=8, seq_len=32, n_shards=4, output_path=out
    )
    r = report.collect()[0]
    assert r.n_docs == 60 and r.tokens_conserved
    assert r.eos_id == r.vocab_size
    rows = ex.collect()
    # eos appears exactly once per doc; all ids in [0, vocab]
    flat = [t for row in rows for t in row.tokens]
    assert flat.count(r.eos_id) == 60
    assert all(0 <= t <= r.vocab_size for t in flat)
    assert sum(row.n_tokens for row in rows) == r.total_doc_tokens + 60
    # only a shard's final example may be incomplete
    by_shard = {}
    for row in rows:
        by_shard.setdefault(row.shard, []).append(row)
    for s, rs in by_shard.items():
        last = max(x.example for x in rs)
        for x in rs:
            assert x.complete or x.example == last
    # the export is one example-ordered file per shard directory
    back = spark.read.parquet(out)
    assert back.count() == r.n_examples
    import glob
    import os

    for d in glob.glob(os.path.join(out, "shard=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1
    # pre-trained merges path: identical result, no retraining
    from ensembl_database_loader_spark.operators.bpe import (
        train_bpe,
        word_frequencies,
    )

    merges = train_bpe(word_frequencies(docs, "text"), 8, merges_per_pass=8)
    ex2, _ = tokenize_and_materialize(
        docs, merges=merges, seq_len=32, n_shards=4
    )
    a = sorted((x.shard, x.example, tuple(x.tokens)) for x in rows)
    b = sorted((x.shard, x.example, tuple(x.tokens)) for x in ex2.collect())
    assert a == b


def test_tokenize_and_materialize_leaves_no_cached_frame(spark, tmp_path):
    """The word frequencies are released inside the call and the
    encoded corpus and examples are cut leaves: once the caller drops
    the examples and the report, nothing stays cached. The report is
    built during the call, so collecting it starts no Spark job."""
    from ensembl_database_loader_spark.pipeline.training import (
        tokenize_and_materialize,
    )

    def run():
        docs = spark.createDataFrame(
            [(i, " ".join(f"word{j % 11}" for j in range(i % 20 + 5))) for i in range(30)],
            "doc_id bigint, text string",
        )
        ex, report = tokenize_and_materialize(
            docs, num_merges=4, seq_len=16, n_shards=2,
            output_path=str(tmp_path / "tok"),
        )
        tracker = spark.sparkContext.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(None))
        assert report.collect()[0].tokens_conserved
        assert set(tracker.getJobIdsForGroup(None)) == jobs
        assert ex.count() == report.first().n_examples

    assert_leaves_no_cached_frame(spark, run)
