"""Unit tests for the round-6 corpus-construction operators:
contamination, deterministic mixing, sequence packing, PII redaction."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.budget import _budget_col
from ensembl_database_loader_spark.operators.contamination import (
    contamination_report,
    decontaminate,
)
from ensembl_database_loader_spark.operators.mixing import (
    KNUTH,
    deterministic_sample,
    keyed_hash,
    knuth32,
    stratified_sample,
)
from ensembl_database_loader_spark.operators.packing import (
    _ffd_pack,
    pack_sequences,
    packing_report,
)
from ensembl_database_loader_spark.operators.redact import with_pii_redaction


# --- contamination ---------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_contamination_counts_and_zero_hit_docs(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),  # shares 'alpha beta gamma'
            (2, "one two three four five"),  # clean
            (3, "x y"),  # too short for 3-grams
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma epsilon")])
    rep = {
        r["id"]: r.asDict()
        for r in contamination_report(corpus, bench, "doc_id", "text").collect()
    }
    assert rep[1]["n_contaminated"] == 1 and rep[1]["n_shingles"] == 2
    assert rep[2]["n_contaminated"] == 0
    assert rep[3]["n_contaminated"] == 0 and rep[3]["n_shingles"] == 0
    assert rep[3]["contamination_frac"] == 0.0  # greatest(n,1) guard


def test_decontaminate_drops_by_fraction_and_hits(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),  # frac 0.5 > 0.2 -> dropped
            (2, "one two three four five alpha beta gamma"),  # frac 1/6
            (3, "clean words only here"),
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma")])
    kept = {r.doc_id for r in decontaminate(corpus, bench, max_frac=0.2).collect()}
    assert kept == {2, 3}
    # absolute-hit threshold catches doc 2 as well
    kept2 = {
        r.doc_id
        for r in decontaminate(corpus, bench, max_frac=0.2, max_hits=0).collect()
    }
    assert kept2 == {3}


# --- mixing ----------------------------------------------------------------


def test_keyed_hash_matches_python_arithmetic(spark):
    df = spark.range(0, 500).select(F.col("id"))
    got = {
        r.id: r.b
        for r in df.select("id", keyed_hash("id", 1000).alias("b")).collect()
    }
    for i, b in got.items():
        assert b == (i * KNUTH) % 2**32 % 1000


def test_keyed_hash_full_bigint_domain(spark):
    """The split 16-bit multiply must equal (id * K) mod 2^32 mod m for
    ids far beyond the naive multiply's int64 overflow point (~3.4e9)
    and for negative ids (mathematical mod)."""
    ids = [0, 1, 3_400_000_000, 2**32 - 1, 2**32, 2**40 + 7,
           2**62, -1, -97, -(2**40)]
    df = spark.createDataFrame([(i,) for i in ids], "id bigint")
    got = {r.id: r.b for r in df.select("id", keyed_hash("id", 1000).alias("b")).collect()}
    for i in ids:
        assert got[i] == ((i % 2**32) * KNUTH) % 2**32 % 1000, i


def test_deterministic_sample_is_layout_independent(spark):
    df = spark.range(0, 2000)
    a = {r.id for r in deterministic_sample(df, "id", 0.3).collect()}
    b = {
        r.id
        for r in deterministic_sample(df.repartition(17), "id", 0.3).collect()
    }
    assert a == b  # partition layout cannot change the sample
    assert 0.2 < len(a) / 2000 < 0.4


def test_stratified_sample_whitelist_and_rates(spark):
    df = spark.range(0, 3000).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "zh")
        .otherwise("fr")
        .alias("lang"),
    )
    s = stratified_sample(df, "id", "lang", {"en": 1.0, "zh": 0.2}).collect()
    by_lang = pd.DataFrame([r.asDict() for r in s]).groupby("lang").size()
    assert by_lang.get("fr", 0) == 0  # absent stratum -> dropped
    assert by_lang["en"] == 1000  # rate 1.0 keeps everything
    assert 100 < by_lang["zh"] < 300


# --- packing ---------------------------------------------------------------


def test_ffd_pack_local_properties():
    pdf = pd.DataFrame(
        {"shard": 0, "id": range(10), "n_tokens": [90, 80, 70, 60, 50, 40, 30, 20, 10, 5]}
    )
    out = _ffd_pack(pdf, budget=100)
    assert sorted(out["id"]) == list(range(10))
    sums = out.groupby("pack_id")["n_tokens"].sum()
    assert (sums <= 100).all()
    # FFD: at most one bin at most half-full
    assert (sums <= 50).sum() <= 1
    assert not out["oversize"].any()


def test_ffd_pack_oversize_gets_own_pack():
    pdf = pd.DataFrame({"shard": 3, "id": [1, 2], "n_tokens": [500, 10]})
    out = _ffd_pack(pdf, budget=100)
    over = out[out["oversize"]]
    assert len(over) == 1 and over["id"].iloc[0] == 1
    assert out["pack_id"].nunique() == 2


def test_pack_sequences_report_contract(spark):
    df = spark.range(0, 400).select(
        F.col("id"), (F.pmod(F.col("id") * 7919, F.lit(120)) + 1).alias("n_tokens")
    )
    packed = pack_sequences(df, "id", "n_tokens", budget=128, n_shards=4)
    row = packing_report(packed, budget=128).collect()[0]
    assert row.n_docs == 400 and row.each_doc_once
    assert row.no_overflow and row.ffd_bound_ok and row.above_lower_bound
    # deterministic: same input -> same pack assignment
    a = sorted((r.id, r.pack_id) for r in packed.collect())
    b = sorted(
        (r.id, r.pack_id)
        for r in pack_sequences(
            df.repartition(13), "id", "n_tokens", budget=128, n_shards=4
        ).collect()
    )
    assert a == b


# --- redaction -------------------------------------------------------------


def test_pii_redaction_families(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@ex-ample.co.uk today"),
            (2, "server 10.0.255.7 and 192.168.1.1 up"),
            (3, "call +1-555-123-4567 now"),
            (4, "nothing to scrub here"),
            (5, "combo a@b.io at 8.8.8.8"),
        ],
        "id bigint, text string",
    )
    out = {r.id: r.asDict() for r in with_pii_redaction(df, "text").collect()}
    assert out[1]["n_email"] == 1 and "<EMAIL>" in out[1]["redacted"]
    assert "bob" not in out[1]["redacted"]
    assert out[2]["n_ipv4"] == 2 and out[2]["redacted"].count("<IP>") == 2
    assert out[3]["n_phone"] == 1 and "<PHONE>" in out[3]["redacted"]
    assert out[4]["redacted"] == "nothing to scrub here"
    assert out[5]["n_email"] == 1 and out[5]["n_ipv4"] == 1
    assert out[5]["redacted"] == "combo <EMAIL> at <IP>"


# --- chunking --------------------------------------------------------------


def test_chunk_documents_windows_and_edges(spark):
    from ensembl_database_loader_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),  # 40 toks -> 0,24 starts
            (2, "a b c"),  # single short chunk
            (3, ""),  # no chunks
        ],
        "doc_id bigint, text string",
    )
    rows = chunk_documents(docs, size=32, overlap=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.id, []).append(r)
    assert [r.n_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_idx)] == [32, 16]
    assert by_doc[1][0].chunk.startswith("w0 w1 ")
    assert by_doc[1][1].chunk.startswith("w24 ")  # overlap: restart at 40-16
    assert [r.n_tokens for r in by_doc[2]] == [3]
    assert 3 not in by_doc


def test_chunk_udtf_matches_jvm(spark):
    from ensembl_database_loader_spark.operators.chunking import (
        chunk_documents,
        chunk_udtf,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}x{j}" for j in range(i * 7 % 50))) for i in range(1, 20)],
        "doc_id bigint, text string",
    )
    jvm = chunk_documents(docs, size=10, overlap=3)
    spark.udtf.register("chunk_text_test", chunk_udtf(10, 3))
    docs.createOrReplaceTempView("chunk_docs_test")
    u = spark.sql(
        "SELECT d.doc_id AS id, c.chunk_idx, c.chunk, c.n_tokens "
        "FROM chunk_docs_test d, LATERAL chunk_text_test(d.text) c"
    )
    assert jvm.exceptAll(u).count() == 0 and u.exceptAll(jvm).count() == 0


# --- BPE -------------------------------------------------------------------


def _bpe_reference(word_freqs: dict, num_merges: int):
    """Pure-Python Sennrich trainer: the independent reference."""
    words = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts = {}
        for w, syms in words.items():
            f = word_freqs[w]
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        best = min(counts, key=lambda p: (-counts[p], p))
        merges.append(best)
        a, b = best
        for w, syms in words.items():
            out = []
            for x in syms:
                if out and out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            words[w] = out
    return merges, words


def test_train_bpe_matches_reference(spark):
    from ensembl_database_loader_spark.operators.bpe import (
        encode_words,
        train_bpe,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the bat and the cat chat"),
            (3, "that hat is the cat hat"),
            (4, "aaa aaaa aa aaa"),  # overlapping-pair stress
        ],
        "doc_id bigint, text string",
    )
    wf = word_frequencies(docs, "text")
    freqs = {r.word: r.freq for r in wf.collect()}
    merges = train_bpe(wf, 10, checkpoint_every=3)
    ref_merges, ref_words = _bpe_reference(freqs, 10)
    assert merges == ref_merges

    enc = {r.word: list(r.syms) for r in encode_words(wf, merges).collect()}
    assert enc == ref_words  # rank-order encoding == training segmentation
    for w, syms in enc.items():
        assert "".join(syms) == w  # partition property


def test_train_bpe_early_stop_single_chars(spark):
    from ensembl_database_loader_spark.operators.bpe import (
        train_bpe,
        word_frequencies,
    )

    docs = spark.createDataFrame([(1, "a b c a b")], "doc_id bigint, text string")
    merges = train_bpe(word_frequencies(docs, "text"), 5)
    assert merges == []  # no word has two symbols -> nothing to merge


# --- repeat-invocation stability (driver may call a probe twice) -----------


def test_stateful_probes_repeat_stably(spark, sf_dir):
    """tx_chunking registers a UDTF + temp view; tx_bpe_train persists
    and checkpoints — both must return identical results when invoked
    twice in one session (the driver/verify harness may re-run them)."""
    from ensembl_database_loader_spark.plans import all_probes

    probes = all_probes()
    for name in ("tx_chunking", "tx_bpe_train"):
        a = probes[name].spark_fn(spark, sf_dir).collect()
        b = probes[name].spark_fn(spark, sf_dir).collect()
        assert a == b, name


def test_packing_report_contract_with_oversize_docs(spark):
    """The lower bound counts an oversize doc as ONE pack, not by its
    token mass — a 10x-budget doc must not fail above_lower_bound."""
    df = spark.createDataFrame(
        [(1, 1000), (2, 50), (3, 60), (4, 40)], "id bigint, n_tokens bigint"
    )
    packed = pack_sequences(df, "id", "n_tokens", budget=100, n_shards=2)
    row = packing_report(packed, budget=100).collect()[0]
    assert row.each_doc_once and row.no_overflow
    assert row.ffd_bound_ok and row.above_lower_bound
    over = {r.id for r in packed.filter("oversize").collect()}
    assert over == {1}


def test_train_bpe_batched_passes(spark):
    """merges_per_pass>1: the disjoint-selection helper rejects
    interacting pairs, encoding still round-trips, and the first merge
    matches the sequential reference (same initial counts)."""
    from ensembl_database_loader_spark.operators.bpe import (
        _select_disjoint,
        encode_words,
        train_bpe,
        word_frequencies,
    )

    # helper semantics: shared symbols and products are rejected
    ranked = [("a", "t"), ("h", "e"), ("a", "x"), ("t", "h"), ("i", "n")]
    assert _select_disjoint(ranked, 3) == [("a", "t"), ("h", "e"), ("i", "n")]
    # a pair consuming an earlier product is rejected too
    assert _select_disjoint([("a", "b"), ("ab", "c")], 2) == [("a", "b")]

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat the bat"),
            (2, "that hat is the cat hat and chat"),
            (3, "sitting batting chatting matting"),
        ],
        "doc_id bigint, text string",
    )
    wf = word_frequencies(docs, "text")
    seq = train_bpe(wf, 8, merges_per_pass=1)
    bat = train_bpe(wf, 8, merges_per_pass=4)
    assert len(bat) == 8
    # batched merges still produce a valid encoder (partition property)
    for r in encode_words(wf, bat).collect():
        assert "".join(r.syms) == r.word
    # first merge of each strategy agrees (same initial counts)
    assert seq[0] == bat[0]


def test_semantic_dedup_keep_first_and_blocking(spark):
    from ensembl_database_loader_spark.operators.similarity import semantic_dedup

    rows = [
        (1, 0, [1.0, 0.0, 0.0]),
        (2, 0, [1.0, 0.0001, 0.0]),  # near-dup of 1, same block -> dropped
        (3, 1, [1.0, 0.0002, 0.0]),  # near-dup of 1 but other block -> kept
        (4, 0, [0.0, 1.0, 0.0]),  # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    kept = {
        r.vec_id
        for r in semantic_dedup(df, "vec_id", "embedding", "label", 0.99).collect()
    }
    assert kept == {1, 3, 4}
    # unblocked: cross-block pair now drops 3 as well
    kept2 = {
        r.vec_id
        for r in semantic_dedup(df, "vec_id", "embedding", None, 0.99).collect()
    }
    assert kept2 == {1, 4}


def test_semantic_dedup_ann_candidates(spark):
    """ANN candidate paths: (a) with a single IVF cell the candidate set
    is complete, so 'ivf' must agree with 'exact' row-for-row; (b) with
    many cells / LSH buckets candidates are a subset of all pairs, so
    the kept set must be a SUPERSET of exact's; (c) unknown mode raises."""
    import pytest

    from ensembl_database_loader_spark.operators.similarity import semantic_dedup

    rows = [
        (i, i % 2, [float(i % 7 == 0) + 0.001 * i, 1.0, float(i % 3)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, label int, embedding array<float>")
    exact = {r.vec_id for r in
             semantic_dedup(df, "vec_id", "embedding", "label", 0.98).collect()}
    one_cell = {r.vec_id for r in
                semantic_dedup(df, "vec_id", "embedding", "label", 0.98,
                               candidates="ivf", n_cells=1).collect()}
    assert one_cell == exact
    for mode, kw in [("ivf", {"n_cells": 8}), ("lsh", {"dim": 3, "num_tables": 2})]:
        kept = {r.vec_id for r in
                semantic_dedup(df, "vec_id", "embedding", "label", 0.98,
                               candidates=mode, **kw).collect()}
        assert exact <= kept, mode
    with pytest.raises(ValueError):
        semantic_dedup(df, "vec_id", "embedding", None, 0.9, candidates="nope")


def test_neardup_pairs_group_cols_restrict(spark):
    """group_cols pushes blocking INTO pair generation: no cross-group
    pair may appear, and within-group pairs match the unblocked engine
    filtered to same-group."""
    from ensembl_database_loader_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    rows = [(i, i % 3, [1.0, 0.0001 * i]) for i in range(30)]
    df = spark.createDataFrame(rows, "id bigint, g int, v array<float>")
    grouped = {(r.id1, r.id2) for r in
               embedding_neardup_pairs(df, "id", "v", 0.9, 4, group_cols=("g",)).collect()}
    allp = {(r.id1, r.id2) for r in
            embedding_neardup_pairs(df, "id", "v", 0.9, 4).collect()}
    same_g = {(a, b) for (a, b) in allp if a % 3 == b % 3}
    assert grouped == same_g
    assert all(a % 3 == b % 3 for a, b in grouped)


def test_split_corpus_disjoint_exhaustive_deterministic(spark):
    from ensembl_database_loader_spark.operators.mixing import split_corpus

    df = spark.range(0, 5000)
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    s = split_corpus(df, "id", w, modulus=1000)
    rows = s.collect()
    assert all(r.split in w for r in rows)  # exhaustive, no NULLs
    sizes = pd.Series([r.split for r in rows]).value_counts()
    assert sizes["train"] > 4000 and sizes["val"] > 100 and sizes["test"] > 100
    # layout independence
    rows2 = {(r.id, r.split) for r in split_corpus(df.repartition(13), "id", w, 1000).collect()}
    assert rows2 == {(r.id, r.split) for r in rows}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        split_corpus(df, "id", {"a": 0.5, "b": 0.2})


def test_clean_lines_c4_rules(spark):
    from ensembl_database_loader_spark.operators.textclean import clean_lines

    docs = spark.createDataFrame(
        [
            (1, "this line is fine.\nshort one.\nno terminal punct here\n"
                "this line is fine.\nAccept our cookie policy now.\nanother good line!"),
            (2, "all lines fail\nx.\n{ code }"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in clean_lines(docs, min_words=3).collect()}
    assert 2 not in out  # every line fails -> doc dropped
    got = out[1].clean_text.split("\n")
    # kept: 'this line is fine.' (once — duplicate removed, first kept),
    # 'another good line!'; dropped: short, no-terminal, cookie
    assert got == ["this line is fine.", "another good line!"]
    assert out[1].n_lines_kept == 2


def test_quantize_embeddings_roundtrip_bounds(spark):
    from ensembl_database_loader_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [100.0, -100.0, 3.0, 0.1]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector
        ],
        "vec_id bigint, embedding array<float>",
    )
    q = quantize_embeddings(df, "embedding")
    out = {r.vec_id: r for r in q.withColumn("dq", dequantize("q", "scale")).collect()}
    assert out[1].q == [127, -64, 32, 0]  # scale = 1/127
    assert out[2].q[:2] == [127, -127]
    assert out[3].q == [0, 0, 0, 0]  # epsilon guard, no NaN
    for r in out.values():
        assert all(abs(x) <= 127 for x in r.q)
        for orig, deq in zip(r.embedding, r.dq):
            assert abs(orig - deq) <= r.scale / 2 + 1e-9


# --- exact-substring dedup (r7) ---------------------------------------------


def test_remove_duplicate_spans_cross_doc(spark):
    from ensembl_database_loader_spark.operators.substrdedup import (
        remove_duplicate_spans,
    )

    rows = [
        (1, "alpha beta gamma delta COMMON ONE TWO THREE FOUR tail one"),
        (2, "x y z COMMON ONE TWO THREE FOUR something else entirely here"),
        (3, "totally unique words nothing shared at all in this document"),
        (4, "short doc"),
        (5, "rep rep rep rep rep rep rep rep rep rep"),  # self-repetition
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {
        r.id: (r.clean_text, r.n_removed, r.n_tokens)
        for r in remove_duplicate_spans(df, "id", "text", window=5).collect()
    }
    # the shared 5-token run is removed from BOTH docs, rest untouched
    assert out[1] == ("alpha beta gamma delta tail one", 5, 11)
    assert out[2] == ("x y z something else entirely here", 5, 12)
    # unique doc: unchanged (normalized form)
    assert out[3] == (rows[2][1], 0, 10)
    # shorter than the window: no window can cover it
    assert out[4] == ("short doc", 0, 2)
    # any repeated n-gram counts, including within ONE doc
    assert out[5] == ("", 10, 10)


def test_remove_duplicate_spans_id_col_named_id_and_layout(spark):
    """The internal join must not clobber a caller id column literally
    named 'id', and results are partition-layout independent."""
    from ensembl_database_loader_spark.operators.substrdedup import (
        remove_duplicate_spans,
    )

    rows = [(i, f"w{i} common run of five tokens here tail{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "id bigint, text string")
    a = {
        (r.id, r.clean_text)
        for r in remove_duplicate_spans(df, "id", "text", window=5).collect()
    }
    b = {
        (r.id, r.clean_text)
        for r in remove_duplicate_spans(
            df.repartition(7), "id", "text", window=5
        ).collect()
    }
    assert a == b
    assert all(isinstance(i, int) for i, _ in a)  # id survived the join


def test_duplicated_window_hashes_counts(spark):
    from ensembl_database_loader_spark.operators.substrdedup import (
        duplicated_window_hashes,
        window_hashes,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")],
        "id bigint, text string",
    )
    wh = window_hashes(df, "id", "text", window=5)
    assert wh.count() == 3  # one window per doc
    dups = duplicated_window_hashes(df, "id", "text", window=5).collect()
    assert len(dups) == 1 and dups[0].cnt == 2


def test_remove_duplicate_spans_methods_equivalent(spark):
    """'fold' (chunk-sized docs) and 'explode' (book-length docs) must
    produce row-identical output."""
    from ensembl_database_loader_spark.operators.substrdedup import (
        remove_duplicate_spans,
    )

    rows = [
        (1, "alpha beta gamma delta COMMON ONE TWO THREE FOUR tail one"),
        (2, "x y z COMMON ONE TWO THREE FOUR something else entirely here"),
        (3, "totally unique words nothing shared at all in this document"),
        (4, "short doc"),
        (5, "rep rep rep rep rep rep rep rep rep rep"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    a = {
        (r.id, r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(df, "id", "text", 5, method="fold").collect()
    }
    b = {
        (r.id, r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(df, "id", "text", 5, method="explode").collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError):
        remove_duplicate_spans(df, "id", "text", 5, method="nope")


# --- token-budget selection (r7) --------------------------------------------


def select_token_budget_naive(
    df: DataFrame,
    id_col: str,
    token_col: str,
    strata_col: str,
    budgets: dict[str, int],
) -> DataFrame:
    """The single-window reference plan (one sort per stratum — fine at
    test scale, a one-task funnel at 100 TB). Kept for the equivalence
    test pinning the bucketed plan's keep set."""
    budget = _budget_col(strata_col, budgets)
    w = Window.partitionBy(strata_col).orderBy("_h", id_col)
    return (
        df.withColumn("_h", knuth32(id_col))
        .filter(budget.isNotNull())
        .withColumn(
            "_before",
            F.coalesce(
                F.sum(F.col(token_col)).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("_before") < budget)
        .drop("_h", "_before")
    )


def test_token_budget_bucketed_equals_naive(spark):
    """The scale plan (bucket histogram + boundary-only window) must
    pick the IDENTICAL keep set as the naive one-window reference, for
    any bucket count, including degenerate budgets."""
    from ensembl_database_loader_spark.operators.budget import select_token_budget

    rows = [(i, ["a", "b", "c"][i % 3], 10 + (i * 7) % 50) for i in range(500)]
    df = spark.createDataFrame(rows, "id bigint, lang string, n_tokens bigint")
    for budgets in [{"a": 900, "b": 35, "c": 10**9}, {"a": 1, "b": 0}]:
        naive = {
            r.id
            for r in select_token_budget_naive(
                df, "id", "n_tokens", "lang", budgets
            ).collect()
        }
        for nb in (2, 16, 512):
            got = {
                r.id
                for r in select_token_budget(
                    df, "id", "n_tokens", "lang", budgets, n_buckets=nb
                ).collect()
            }
            assert got == naive, (budgets, nb)
    # budget 0 keeps nothing; absent strata are whitelisted out
    z = select_token_budget(df, "id", "n_tokens", "lang", {"b": 0}).collect()
    assert z == []


def test_token_budget_overshoot_and_determinism(spark):
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.operators.budget import select_token_budget

    rows = [(i, "x", 100) for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, lang string, n_tokens bigint")
    kept = select_token_budget(df, "id", "n_tokens", "lang", {"x": 1050})
    tot = kept.agg(F.sum("n_tokens")).collect()[0][0]
    # 10 docs fill 1000 < 1050, the 11th overshoots to 1100, the 12th
    # would start at 1100 >= 1050
    assert tot == 1100
    # layout independence
    a = {r.id for r in kept.collect()}
    b = {
        r.id
        for r in select_token_budget(
            df.repartition(13), "id", "n_tokens", "lang", {"x": 1050}
        ).collect()
    }
    assert a == b


# --- bigram-LM perplexity (r7) ----------------------------------------------


def test_bigram_lm_hand_computed(spark):
    """Hand-checkable add-1 model: ref = 'a b a b' gives uni a:2 b:2
    (V=2), bigrams (a,b):2 (b,a):1."""
    import math

    from ensembl_database_loader_spark.operators.lm import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    ref = spark.createDataFrame([("a b a b",)], "text string")
    uni, bi, V = train_bigram_lm(ref)
    assert V == 2
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b a"), (3, "z z"), (4, "solo")],
        "id bigint, text string",
    )
    got = {
        r.id: (r.mean_logprob, r.n_bigrams)
        for r in score_bigram_logprob(docs, "id", "text", uni, bi, V).collect()
    }
    assert abs(got[1][0] - math.log((2 + 1) / (2 + 2))) < 1e-12
    assert abs(got[2][0] - math.log((1 + 1) / (2 + 2))) < 1e-12
    # fully unseen: (0+1)/(0+2)
    assert abs(got[3][0] - math.log(1 / 2)) < 1e-12
    # < 2 tokens: no bigrams, NULL score
    assert got[4] == (None, None) or got[4][0] is None


def test_perplexity_filter_threshold(spark):
    import math

    from ensembl_database_loader_spark.operators.lm import (
        perplexity_filter,
        train_bigram_lm,
    )

    ref = spark.createDataFrame([("a b a b",)], "text string")
    uni, bi, V = train_bigram_lm(ref)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "z z"), (3, "solo")], "id bigint, text string"
    )
    thr = (math.log(3 / 4) + math.log(1 / 2)) / 2  # between the two scores
    kept = {
        r.id
        for r in perplexity_filter(
            docs, "id", "text", uni, bi, V, min_mean_logprob=thr
        ).collect()
    }
    assert kept == {1}  # in-distribution doc survives; unscored drops


# --- concat-split packing (r7) ----------------------------------------------


def test_pack_concat_matches_python_reference(spark):
    from ensembl_database_loader_spark.operators.mixing import HASH_SPACE, KNUTH
    from ensembl_database_loader_spark.operators.packing import pack_concat

    rows = [(i, 3 + (i * 5) % 40) for i in range(200)]
    df = spark.createDataFrame(rows, "id bigint, n_tokens bigint")
    got = {
        r.id: (r.shard, r.start_offset, r.first_example, r.last_example,
               r.spans_boundary)
        for r in pack_concat(df, "id", "n_tokens", seq_len=32, n_shards=4).collect()
    }
    # Python reference: shard = hash % 4, order by (hash, id), cumsum
    by_shard: dict[int, list[tuple[int, int, int]]] = {}
    for i, tok in rows:
        h = (i * KNUTH) % HASH_SPACE
        by_shard.setdefault(h % 4, []).append((h, i, tok))
    for shard, docs in by_shard.items():
        off = 0
        for h, i, tok in sorted(docs):
            fe, le = off // 32, (off + max(tok, 1) - 1) // 32
            assert got[i] == (shard, off, fe, le, fe != le), i
            off += tok + 1


def test_pack_concat_layout_independent(spark):
    from ensembl_database_loader_spark.operators.packing import pack_concat

    df = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(100)], "id bigint, n_tokens bigint"
    )
    a = {tuple(r) for r in pack_concat(df, "id", "n_tokens", 64, 4).collect()}
    b = {
        tuple(r)
        for r in pack_concat(df.repartition(11), "id", "n_tokens", 64, 4).collect()
    }
    assert a == b


def test_doc_cap_exactness_and_row_number_equivalence(spark):
    """A doc cap is a weight-1 token budget, so exactly min(cap, n)
    docs survive per stratum, and the keep set equals the naive
    per-stratum row_number <= cap reference in (knuth32(id), id)
    order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ensembl_database_loader_spark.operators.budget import select_doc_cap
    from ensembl_database_loader_spark.operators.mixing import knuth32

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, dom string")
    caps = {"a": 7, "b": 0, "c": 10**6}
    w = Window.partitionBy("dom").orderBy(knuth32("id"), "id")
    naive = {
        r.id
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(
            F.col("rn")
            <= F.create_map(
                *[x for k, v in caps.items() for x in (F.lit(k), F.lit(v))]
            )[F.col("dom")]
        )
        .collect()
    }
    for nb in (2, 16, 512):
        kept = select_doc_cap(df, "id", "dom", caps, n_buckets=nb).collect()
        assert {r.id for r in kept} == naive, nb
        # exactness: min(cap, |stratum|) per stratum, schema unchanged
        per = {}
        for r in kept:
            per[r.dom] = per.get(r.dom, 0) + 1
        assert per == {"a": 7, "c": 100}
        assert set(kept[0].asDict()) == {"id", "dom"}
    # absent strata drop (whitelist)
    assert select_doc_cap(df, "id", "dom", {"zz": 5}).count() == 0


def test_doc_cap_and_budget_empty_whitelist(spark):
    """Empty caps/budgets must apply the documented whitelist semantics
    (drop all / pass all), never fail analysis (empty F.create_map()
    builds map<void,void> and errors when indexed)."""
    from ensembl_database_loader_spark.operators.budget import (
        select_doc_cap,
        select_token_budget,
    )

    df = spark.createDataFrame(
        [(1, "a", 5), (2, "b", 5)], "id bigint, dom string, n_tokens bigint"
    )
    assert select_doc_cap(df, "id", "dom", {}).count() == 0
    assert select_doc_cap(df, "id", "dom", {}, keep_unlisted=True).count() == 2
    assert select_token_budget(df, "id", "n_tokens", "dom", {}).count() == 0


def test_profile_columns_single_pass_and_null_accounting(spark):
    from ensembl_database_loader_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (3, None, 5.0), (4, "b", None)],
        "id bigint, s string, v double",
    )
    rows = {r.column: r for r in profile_columns(df, exact=True).collect()}
    assert set(rows) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in rows.values())
    assert (rows["s"].n_nulls, rows["s"].n_distinct) == (1, 2)
    assert (rows["v"].n_nulls, rows["v"].n_distinct) == (2, 1)
    assert (rows["id"].min_val, rows["id"].max_val) == ("1", "4")
    # approx path: ONE aggregate pass, no Expand (exact multi-distinct
    # plans an Expand replica per aggregate — the documented trade-off)
    plan = (
        profile_columns(df, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 1  # single-partition final agg only


def test_profile_columns_quantiles_and_guards(spark):
    from ensembl_database_loader_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "id bigint, s string, v double",
    )
    rows = {
        r.column: r
        for r in profile_columns(
            df, exact=True, quantiles=(0.0, 0.5, 1.0)
        ).collect()
    }
    assert rows["v"].quantiles == [1.0, 2.5, 4.0]
    assert rows["id"].quantiles == [1.0, 2.5, 4.0]
    assert rows["s"].quantiles is None  # non-numeric -> null, not error
    # approx path still a single pass, quantile sketch included
    plan = (
        profile_columns(df, exact=False, quantiles=(0.5,))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 1
    # guards: unknown columns and out-of-range points raise ValueError
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown column"):
        profile_columns(df, ("nope",))
    with _pytest.raises(ValueError, match="quantile points"):
        profile_columns(df, ("v",), quantiles=(-0.1,))


def test_merge_snapshot_semantics(spark):
    from ensembl_database_loader_spark.operators.upsert import merge_snapshot

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    batch = spark.createDataFrame(
        [(2, "B", False), (3, None, True), (4, "d", False), (5, "e", None)],
        "k bigint, v string, dead boolean",
    )
    got = {r.k: r.v for r in merge_snapshot(snap, batch, ("k",), "dead").collect()}
    # 1 carried, 2 updated, 3 tombstoned, 4 inserted, 5 null-dead -> live
    assert got == {1: "a", 2: "B", 4: "d", 5: "e"}
    # without a tombstone column every batch row upserts
    got2 = {
        r.k: r.v
        for r in merge_snapshot(snap, batch.drop("dead"), ("k",)).collect()
    }
    assert got2 == {1: "a", 2: "B", 3: None, 4: "d", 5: "e"}


def test_merge_snapshot_drops_null_key_batch_rows(spark):
    from ensembl_database_loader_spark.operators.upsert import merge_snapshot

    snap = spark.createDataFrame([(1, "a"), (None, "n")], "k bigint, v string")
    batch = spark.createDataFrame([(None, "junk"), (2, "b")], "k bigint, v string")
    m = merge_snapshot(snap, batch, ("k",))
    # snapshot's null-key row carries; the batch's null-key row drops
    # (it could never replace anything and would re-append every run)
    assert sorted((r.k if r.k is not None else -1, r.v) for r in m.collect()) == [
        (-1, "n"), (1, "a"), (2, "b")
    ]
    # idempotent: merging the same batch again does not grow the table
    assert merge_snapshot(m, batch, ("k",)).count() == 3


def test_merge_snapshot_property_vs_dict_reference(spark):
    """Randomized merge cycles vs a plain dict: apply 3 CDC batches in
    sequence and compare the surviving (key -> value) map exactly."""
    import random

    from ensembl_database_loader_spark.operators.upsert import merge_snapshot

    rng = random.Random(123)
    ref = {k: f"v{k}" for k in range(30)}
    snap = spark.createDataFrame(list(ref.items()), "k bigint, v string")
    for _ in range(3):
        batch = []
        for _ in range(15):
            k = rng.randrange(0, 45)
            op = rng.choice(["upsert", "delete"])
            batch.append((k, f"b{k}", op == "delete"))
        # CDC compaction contract: one row per key (last wins)
        compacted = {k: (v, d) for k, v, d in batch}
        batch_rows = [(k, v, d) for k, (v, d) in compacted.items()]
        snap = merge_snapshot(
            snap,
            spark.createDataFrame(batch_rows, "k bigint, v string, dead boolean"),
            ("k",),
            tombstone_col="dead",
        )
        for k, (v, d) in compacted.items():
            if d:
                ref.pop(k, None)
            else:
                ref[k] = v
        assert {r.k: r.v for r in snap.collect()} == ref


def test_profile_columns_hostile_names(spark):
    """Column names with quotes/backticks/dots must profile as-is —
    names never enter parsed SQL (the selectExpr-injection regression)."""
    from ensembl_database_loader_spark.operators.profile import profile_columns

    df = spark.range(0, 10).select(
        F.col("id").alias("user's_id"),
        (F.col("id") % 3).alias("a`b"),
        F.col("id").alias("dot.ted"),
    )
    rows = {r.column: r for r in profile_columns(df, exact=True).collect()}
    assert set(rows) == {"user's_id", "a`b", "dot.ted"}
    assert rows["a`b"].n_distinct == 3
    assert rows["user's_id"].n_nulls == 0


def test_shuffle_shard_deterministic_permutation(spark):
    from ensembl_database_loader_spark.operators.export import shuffle_shard

    df = spark.createDataFrame([(i, f"d{i}") for i in range(500)], "doc_id bigint, text string")
    a = shuffle_shard(df, "doc_id", 4)
    rows = a.collect()
    # every row kept exactly once; shard in range; pos dense per shard
    assert sorted(r.doc_id for r in rows) == list(range(500))
    assert {r.shard for r in rows} <= set(range(4))
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    # rerun (different layout) -> identical (shard, pos) per id
    b = shuffle_shard(df.repartition(13), "doc_id", 4)
    ma = {r.doc_id: (r.shard, r.pos) for r in rows}
    mb = {r.doc_id: (r.shard, r.pos) for r in b.collect()}
    assert ma == mb
    # a sorted-by-id corpus must NOT stay id-ordered within a shard
    first_shard = sorted(by_shard)[0]
    ids_in_order = [
        r.doc_id for r in sorted(rows, key=lambda r: (r.shard, r.pos)) if r.shard == first_shard
    ]
    assert ids_in_order != sorted(ids_in_order)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_shards"):
        shuffle_shard(df, "doc_id", 0)


def test_export_training_shards_one_ordered_file_each(spark, tmp_path):
    from ensembl_database_loader_spark.operators.export import (
        _shard_files,
        export_training_shards,
        read_shard,
        shuffle_shard,
    )

    df = spark.createDataFrame([(i, f"d{i}") for i in range(400)], "doc_id bigint, text string")
    path = str(tmp_path / "shards")
    audit = export_training_shards(df, path, "doc_id", 4)
    assert sum(r.n_rows for r in audit.collect()) == 400
    for s in range(4):
        assert len(_shard_files(path, s)) == 1
    # file content is physically in pos order and matches the in-memory
    # permutation
    expected = {
        s: [r.doc_id for r in sorted(shuffle_shard(df, "doc_id", 4).collect(),
                                     key=lambda r: r.pos) if r.shard == s]
        for s in range(4)
    }
    for s in range(4):
        f = _shard_files(path, s)[0]
        import pyarrow.parquet as pq

        got = pq.read_table(f"{path}/shard={s}/{f}", columns=["doc_id"])["doc_id"].to_pylist()
        assert got == expected[s]
        # read_shard returns the same order
        assert [r.doc_id for r in read_shard(spark, path, s).collect()] == expected[s]


# ---------------------------------------------------------------------------
# Exact-k deterministic sampling
# ---------------------------------------------------------------------------


def _exact_k_reference(rows, k):
    """Reference: k smallest (knuth32(id), id) pairs, python-side."""
    key = lambda i: ((i * 2654435761) % 2**32, i)  # noqa: E731
    return sorted(rows, key=key)[:k]


def test_sample_exact_k_global_matches_reference(spark):
    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    ids = list(range(0, 5000, 7))
    df = spark.createDataFrame([(i,) for i in ids], "id bigint").repartition(8)
    got = sorted(r.id for r in sample_exact_k(df, "id", 100).collect())
    assert got == sorted(_exact_k_reference(ids, 100))
    # exact size, layout-independent: a different layout → same rows
    got2 = sorted(
        r.id for r in sample_exact_k(df.repartition(3), "id", 100).collect()
    )
    assert got2 == got


def test_sample_exact_k_global_plan_is_topk(spark):
    """The global form must plan TakeOrderedAndProject (per-partition
    k-heap + merge), never a global Sort."""
    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    df = spark.range(10_000).select(F.col("id"))
    plan = sample_exact_k(df, "id", 50)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sample_exact_k_stratified_exact_and_prefilter_safe(spark):
    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    rows = [(i, "a" if i % 3 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, s string").repartition(8)
    out = sample_exact_k(df, "id", 25, strata_col="s").collect()
    by = {}
    for r in out:
        by.setdefault(r.s, []).append(r.id)
    for s in ("a", "b"):
        want = _exact_k_reference([i for i, g in rows if g == s], 25)
        assert sorted(by[s]) == sorted(want)
    # a margin too small to survive forces the unfiltered fallback —
    # result must be identical (exactness is never probabilistic)
    out2 = sample_exact_k(
        df, "id", 25, strata_col="s", prefilter_margin=0.01
    ).collect()
    by2 = {}
    for r in out2:
        by2.setdefault(r.s, []).append(r.id)
    assert {s: sorted(v) for s, v in by2.items()} == {
        s: sorted(v) for s, v in by.items()
    }


def test_sample_exact_k_stratum_smaller_than_k_kept_whole(spark):
    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    rows = [(i, "big") for i in range(500)] + [(10_000 + i, "tiny") for i in range(3)]
    df = spark.createDataFrame(rows, "id bigint, s string").repartition(4)
    out = sample_exact_k(df, "id", 50, strata_col="s").collect()
    tiny = sorted(r.id for r in out if r.s == "tiny")
    assert tiny == [10_000, 10_001, 10_002]  # whole stratum, no padding
    assert sum(1 for r in out if r.s == "big") == 50
    assert sorted(type(df).columns.fget(df)) == sorted(
        ["id", "s"]
    )  # no helper columns leaked


def test_sample_exact_k_guards(spark):
    import pytest as _pt

    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    df = spark.range(10)
    with _pt.raises(ValueError, match="k must be >= 1"):
        sample_exact_k(df, "id", 0)


def test_weighted_sample_deterministic_and_exact(spark):
    from ensembl_database_loader_spark.operators.mixing import weighted_sample

    rows = [(i, (i % 10) / 10.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "id bigint, w double").repartition(8)
    got = sorted(r.id for r in weighted_sample(df, "id", "w").collect())
    # python reference: identical arithmetic
    ref = sorted(
        i for i, w in rows if ((i * 2654435761) % 2**32) < w * 2**32
    )
    assert got == ref
    # layout-independent
    got2 = sorted(
        r.id for r in weighted_sample(df.repartition(3), "id", "w").collect()
    )
    assert got2 == ref
    # w=0 never keeps, w=1 always keeps, out-of-range clamps
    edge = spark.createDataFrame(
        [(1, 0.0), (2, 1.0), (3, -5.0), (4, 7.0)], "id bigint, w double"
    )
    kept = {r.id: r._inv_weight for r in weighted_sample(edge, "id", "w").collect()}
    assert set(kept) == {2, 4}
    assert kept[2] == 1.0 and kept[4] == 1.0  # clamped weight -> HT weight 1


def test_weighted_sample_rate_tracks_weight(spark):
    from pyspark.sql import functions as FF

    from ensembl_database_loader_spark.operators.mixing import weighted_sample

    df = spark.range(20_000).select(
        FF.col("id"), FF.lit(0.3).alias("w")
    )
    n = weighted_sample(df, "id", "w").count()
    assert abs(n / 20_000 - 0.3) < 0.02  # hash uniformity


def test_encode_corpus_token_ids_roundtrip(spark):
    from ensembl_database_loader_spark.operators.bpe import (
        encode_corpus,
        token_vocabulary,
        train_bpe,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "a"),
            (2, "The BAT  and the cat chat", "b"),   # case/space normalize
            (3, "", "c"),                            # empty -> 0 tokens
            (4, "aaa aaaa aa", "d"),
        ],
        "doc_id bigint, text string, src string",
    )
    wf = word_frequencies(docs, "text")
    merges = train_bpe(wf, 8)
    vocab = {r.token: r.token_id for r in token_vocabulary(wf, merges).collect()}
    inv = {i: t for t, i in vocab.items()}
    # id table: base chars get the low ids sorted, products follow in rank order
    base = sorted(t for t in vocab if len(t) == 1)
    assert [vocab[t] for t in base] == list(range(len(base)))
    prods = [a + b for a, b in merges]
    assert [vocab[p] for p in prods] == list(
        range(len(base), len(base) + len(prods))
    )

    got = {
        r.doc_id: r
        for r in encode_corpus(docs, merges, keep_tokens=True).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    for r in got.values():
        # ids decode to the tokens column; concatenation reconstructs the
        # normalized text with separators removed
        assert [inv[i] for i in r.token_ids] == list(r.tokens)
        norm = " ".join(r.text.lower().split())
        assert "".join(r.tokens) == norm.replace(" ", "")
        assert r.n_tokens == len(r.token_ids)
        assert r.src in "abcd"  # payload passthrough
    assert got[3].token_ids == [] and got[3].n_tokens == 0


def test_encode_corpus_matches_per_word_encoding(spark):
    from ensembl_database_loader_spark.operators.bpe import (
        encode_corpus,
        encode_words,
        train_bpe,
        word_frequencies,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {'x' * (i % 5 + 1)} alpha") for i in range(30)],
        "doc_id bigint, text string",
    )
    wf = word_frequencies(docs, "text")
    merges = train_bpe(wf, 6)
    per_word = {r.word: list(r.syms) for r in encode_words(wf, merges).collect()}
    got = encode_corpus(docs.repartition(7), merges, keep_tokens=True).collect()
    for r in got:
        expect = [s for w in r.text.lower().split() for s in per_word[w]]
        assert list(r.tokens) == expect

    with pytest.raises(ValueError, match="not in"):
        encode_corpus(docs, merges, text_col="nope")


def test_kn_bigram_lm_matches_python_reference(spark):
    import math

    from ensembl_database_loader_spark.operators.lm import (
        score_kn_logprob,
        train_kn_bigram_lm,
    )

    ref_texts = ["a b a b c", "b a a b", "c c a b"]
    ref = spark.createDataFrame([(t,) for t in ref_texts], "text string")
    bi, ctx, cont, B, V = train_kn_bigram_lm(ref)

    # independent pure-python KN statistics
    def toks(t):
        return t.lower().split()

    bc: dict = {}
    for t in ref_texts:
        w = toks(t)
        for i in range(len(w) - 1):
            bc[(w[i], w[i + 1])] = bc.get((w[i], w[i + 1]), 0) + 1
    c1 = {}
    n1f = {}
    n1b = {}
    for (a, b), c in bc.items():
        c1[a] = c1.get(a, 0) + c
        n1f[a] = n1f.get(a, 0) + 1
        n1b[b] = n1b.get(b, 0) + 1
    vocab = {w for t in ref_texts for w in toks(t)}
    assert (B, V) == (len(bc), len(vocab))
    assert {(r.w1, r.w2): r.bc for r in bi.collect()} == bc
    assert {r.w1: (r.c1, r.n1f) for r in ctx.collect()} == {
        a: (c1[a], n1f[a]) for a in c1
    }
    assert {r.w2: r.n1b for r in cont.collect()} == n1b

    D = 0.75

    def p(w1, w2):
        pcont = (n1b.get(w2, 0) + 1.0) / (B + V)
        if w1 not in c1:
            return pcont
        return (
            max(bc.get((w1, w2), 0) - D, 0.0) / c1[w1]
            + D * n1f[w1] / c1[w1] * pcont
        )

    docs = spark.createDataFrame(
        [
            (1, "a b c"),              # all seen
            (2, "a z b"),              # OOV word: continuation + unseen ctx
            (3, "q"),                  # single token: NULL score
            (4, "c a"),                # seen ctx, unseen bigram (discount->0)
        ],
        "id bigint, text string",
    )
    got = {
        r.id: (r.mean_logprob, r.n_bigrams)
        for r in score_kn_logprob(
            docs, "id", "text", bi, ctx, cont, B, V
        ).collect()
    }
    for did, text in [(1, "a b c"), (2, "a z b"), (4, "c a")]:
        w = toks(text)
        want = sum(
            math.log(p(w[i], w[i + 1])) for i in range(len(w) - 1)
        ) / (len(w) - 1)
        assert got[did][1] == len(w) - 1
        assert abs(got[did][0] - want) < 1e-12, did
    assert got[3] == (None, None)

    with pytest.raises(ValueError, match="discount"):
        score_kn_logprob(docs, "id", "text", bi, ctx, cont, B, V, discount=1.5)


def test_materialize_examples_matches_python_reference(spark):
    from ensembl_database_loader_spark.operators.mixing import KNUTH
    from ensembl_database_loader_spark.operators.packing import (
        materialize_examples,
    )

    docs = [(i, [i * 100 + j for j in range((i * 7) % 23 + 1)]) for i in range(40)]
    df = spark.createDataFrame(docs, "id bigint, toks array<int>")
    SEQ, SHARDS, EOS = 16, 4, -1
    got = {
        (r.shard, r.example): (list(r.tokens), r.n_tokens, r.n_docs, r.complete)
        for r in materialize_examples(
            df.repartition(5), "id", "toks", SEQ, n_shards=SHARDS, eos=EOS
        ).collect()
    }

    # reference: rebuild each shard's stream in (knuth hash, id) order
    streams: dict = {s: [] for s in range(SHARDS)}
    docs_at: dict = {s: [] for s in range(SHARDS)}
    order = sorted(docs, key=lambda d: ((d[0] * KNUTH) % 2**32, d[0]))
    for i, toks in order:
        s = (i * KNUTH) % 2**32 % SHARDS
        docs_at[s].append((len(streams[s]), len(toks) + 1))
        streams[s].extend(toks + [EOS])
    want = {}
    for s, stream in streams.items():
        for e in range((len(stream) + SEQ - 1) // SEQ):
            part = stream[e * SEQ : (e + 1) * SEQ]
            nd = sum(
                1
                for st, ln in docs_at[s]
                if st < (e + 1) * SEQ and st + ln > e * SEQ
            )
            want[(s, e)] = (part, len(part), nd, len(part) == SEQ)
    assert got == want
    # only the final example of a shard may be incomplete
    for (s, e), (_, n, _, complete) in got.items():
        if not complete:
            assert e == max(ex for sh, ex in got if sh == s)

    with pytest.raises(ValueError, match="seq_len"):
        materialize_examples(df, "id", "toks", 0)


def test_scd2_merge_full_lifecycle(spark):
    """Bootstrap -> change -> delete -> resurrect across three loads;
    as-of reads reproduce every historical snapshot exactly."""
    from ensembl_database_loader_spark.operators.upsert import (
        scd2_as_of,
        scd2_merge,
    )

    def dim(rows):
        return spark.createDataFrame(rows, "k int, val string, grp int")

    # v1: bootstrap
    h = scd2_merge(None, dim([(1, "a", 10), (2, "b", 20), (3, "c", 30)]),
                   ("k",), ("val", "grp"), 1)
    # v2: k=1 changes val, k=2 unchanged, k=3 deleted, k=4 new
    h = scd2_merge(h, dim([(1, "a2", 10), (2, "b", 20), (4, "d", 40)]),
                   ("k",), ("val", "grp"), 2)
    # v3: k=3 resurrected, k=1 value flips to null-ish group change
    h = scd2_merge(h, dim([(1, "a2", None), (2, "b", 20), (4, "d", 40),
                           (3, "c3", 30)]),
                   ("k",), ("val", "grp"), 3)
    rows = {(r.k, r.valid_from): (r.val, r.grp, r.valid_to)
            for r in h.collect()}
    assert rows == {
        (1, 1): ("a", 10, 2), (1, 2): ("a2", 10, 3), (1, 3): ("a2", None, None),
        (2, 1): ("b", 20, None),
        (3, 1): ("c", 30, 2), (3, 3): ("c3", 30, None),
        (4, 2): ("d", 40, None),
    }
    # as-of reads
    as_of_1 = {(r.k, r.val, r.grp) for r in scd2_as_of(h, 1).collect()}
    assert as_of_1 == {(1, "a", 10), (2, "b", 20), (3, "c", 30)}
    as_of_2 = {(r.k, r.val, r.grp) for r in scd2_as_of(h, 2).collect()}
    assert as_of_2 == {(1, "a2", 10), (2, "b", 20), (4, "d", 40)}
    as_of_3 = {(r.k, r.val, r.grp) for r in scd2_as_of(h, 3).collect()}
    assert as_of_3 == {(1, "a2", None), (2, "b", 20), (4, "d", 40),
                       (3, "c3", 30)}


def test_scd2_merge_null_tracked_change_and_null_keys(spark):
    """A tracked value flipping to/from NULL is a change (null-safe
    compare); null-key batch rows are dropped, not opened."""
    from ensembl_database_loader_spark.operators.upsert import scd2_merge

    def dim(rows):
        return spark.createDataFrame(rows, "k int, val string")

    h = scd2_merge(None, dim([(1, None)]), ("k",), ("val",), 1)
    h = scd2_merge(h, dim([(1, "x"), (None, "junk")]), ("k",), ("val",), 2)
    rows = sorted((r.k, r.valid_from, r.val, r.valid_to) for r in h.collect())
    assert rows == [(1, 1, None, 2), (1, 2, "x", None)]
