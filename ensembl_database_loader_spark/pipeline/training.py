"""End-to-end training-corpus construction: the single-call composition
a pretraining data team actually runs —

    [domain-cap] -> [line-clean] -> [exact-substring scrub]
    -> curate (quality -> exact dedup -> near-dup dedup)
    -> [bigram-LM perplexity filter]
    -> decontaminate (drop benchmark-overlapping docs)
    -> mix (deterministic per-stratum sampling to the target mixture)
    -> [token-budget selection]
    -> pack (first-fit-decreasing into token-budget sequences)

(bracketed stages are opt-in; with the defaults the pipeline and its
report schema are byte-identical to the four-stage composition the
probe oracles)

Every stage is one of the already-tested operators (pipeline/curate.py,
operators/contamination.py, operators/mixing.py, operators/packing.py),
so each stage keeps its scale posture: the only shuffles are the
funnel's own (window dedup + pair join), one broadcast membership
probe, and the packing shard groupBy — mixing adds zero. Each costly
stage's output is cut (``localCheckpoint``), so no plan carries the
whole funnel. Stage semantics up to packing are SQL-expressible, so
the whole pipeline is oracle-checkable end to end (probe
``llp_training_pipeline``); packing adds its hash-gated contract
booleans on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ensembl_database_loader_spark.operators.contamination import decontaminate
from ensembl_database_loader_spark.operators.mixing import stratified_sample
from ensembl_database_loader_spark.operators.packing import (
    pack_sequences,
    packing_report,
)
from ensembl_database_loader_spark.operators.textstats import with_token_stats
from ensembl_database_loader_spark.pipeline.curate import curate_corpus
from ensembl_database_loader_spark.session import local_frame


def build_training_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str = "lang",
    min_quality: int = 2,
    jaccard_threshold: float = 0.8,
    near_dup: str = "prefix",
    max_contamination: float = 0.2,
    contamination_n: int = 3,
    mix_rates: dict[str, float] | None = None,
    mix_modulus: int = 1000,
    pack_budget: int = 1024,
    pack_shards: int = 64,
    store_path: str | None = None,
    line_clean: bool = False,
    substr_window: int | None = None,
    lm_ref: DataFrame | None = None,
    lm_min_logprob: float = -8.0,
    lm_alpha: float = 1.0,
    token_budgets: dict[str, int] | None = None,
    domain_caps: dict[str, int] | None = None,
    domain_col: str = "source",
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(packed, report)``.

    ``packed``: one row per surviving document with its training-
    sequence assignment — ``(shard, pack_id, id, n_tokens, oversize,
    blk, text)``. Write it partitioned/sorted by (shard, pack_id) and
    the export is the training shard set.

    ``report``: 1-row accounting frame — the curation funnel numbers
    (n_input / n_quality / n_exact / n_kept / tokens_kept) plus
    n_clean (post-decontamination), n_mixed (post-mixing),
    packed_tokens, and the packing contract booleans (each_doc_once,
    no_overflow, ffd_bound_ok, above_lower_bound), counted on the cut
    leaves during the call: collecting it starts no Spark job.

    The call runs eagerly. ``packed`` is a cut leaf (freed by the
    ContextCleaner when dropped): a lost executor fails a later action
    on it instead of recomputing it from ``docs``.

    ``benchmark=None`` skips decontamination; ``mix_rates=None`` skips
    mixing (n_clean / n_mixed then equal the prior stage). Pass
    ``store_path`` to bootstrap the incremental fingerprint store so
    later batches can run ``curate_increment`` (pipeline/curate.py).

    Opt-in stages (each appends its own report column ONLY when
    enabled, so the default report schema is unchanged):

    - ``substr_window``: exact-substring scrub (ExactSubstr,
      operators/substrdedup.py) on the raw corpus before doc-level
      curation — repeated spans vanish, docs shortened below the
      quality bar drop in the funnel. Adds nothing to the report
      (the funnel's n_input/n_quality absorb it).
    - ``lm_ref``: bigram-LM perplexity filter (operators/lm.py) over
      the curation survivors — train on ``lm_ref``, keep docs with
      mean bigram logprob >= ``lm_min_logprob``. Appends ``n_lm``.
    - ``token_budgets``: per-stratum token-budget selection
      (operators/budget.py) after mixing. Appends ``n_budget``.
    - ``domain_caps``: per-domain document caps (select_doc_cap,
      keep_unlisted — listed domains capped in deterministic hash
      order, the rest pass) applied FIRST, before any text stage: at
      crawl scale the cap is the cheapest reduction, so it runs before
      the expensive ones. Adds nothing to the report (the funnel's
      n_input IS the post-cap count — same convention as the substr
      stage; a separate counter would re-run the cap stage for a
      number n_input already carries).
    """
    if domain_caps is not None:
        from ensembl_database_loader_spark.operators.budget import select_doc_cap

        docs = select_doc_cap(
            docs, id_col, domain_col, domain_caps, keep_unlisted=True
        )
    if line_clean:
        # C4-style line scrub BEFORE doc-level curation (the C4 order:
        # line rules first, then document filters); docs losing every
        # line drop here, survivors carry the cleaned text downstream
        from ensembl_database_loader_spark.operators.textclean import clean_lines

        docs = (
            clean_lines(docs, text_col)
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_lines_kept")
        )
    if substr_window is not None:
        from ensembl_database_loader_spark.operators.substrdedup import (
            remove_duplicate_spans,
        )

        docs = (
            remove_duplicate_spans(docs, id_col, text_col, window=substr_window)
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text", "n_tokens", "n_removed")
        )
    kept, funnel = curate_corpus(
        docs,
        id_col,
        text_col,
        block_col,
        min_quality=min_quality,
        jaccard_threshold=jaccard_threshold,
        near_dup=near_dup,
        store_path=store_path,
    )
    # each costly stage is cut and counted: no aggregate re-runs the funnel
    counts = funnel.first().asDict()
    extra = {}
    if lm_ref is not None:
        from ensembl_database_loader_spark.operators.lm import (
            perplexity_filter,
            train_bigram_lm,
        )

        uni, bi, vocab = train_bigram_lm(lm_ref, text_col)
        kept = perplexity_filter(
            kept, "id", "text", uni, bi, vocab,
            min_mean_logprob=lm_min_logprob, alpha=lm_alpha,
        ).drop("mean_logprob", "n_bigrams").localCheckpoint(eager=True)
        extra["n_lm"] = kept.count()
    clean = (
        decontaminate(
            kept,
            benchmark.select(F.col(text_col).alias("text")),
            "id",
            "text",
            n=contamination_n,
            max_frac=max_contamination,
        ).localCheckpoint(eager=True)
        if benchmark is not None
        else kept
    )
    # mixing is a per-row hash filter: cheap to re-run over its leaf
    mixed = (
        stratified_sample(clean, "id", "blk", mix_rates, modulus=mix_modulus)
        if mix_rates
        else clean
    )
    counts["n_clean"] = clean.count()
    counts["n_mixed"] = mixed.count() if mix_rates else counts["n_clean"]
    if token_budgets is not None:
        from ensembl_database_loader_spark.operators.budget import (
            select_token_budget,
        )

        mixed = select_token_budget(
            with_token_stats(mixed, "text"), "id", "n_tokens", "blk",
            token_budgets,
        ).drop("n_tokens", "n_distinct_tokens", "mean_tok_len")
        mixed = mixed.localCheckpoint(eager=True)
        extra["n_budget"] = mixed.count()

    packed = (
        pack_sequences(
            with_token_stats(mixed, "text"), "id", "n_tokens",
            budget=pack_budget, n_shards=pack_shards,
        )
        .join(mixed.select("id", "blk", "text"), "id")
        .localCheckpoint(eager=True)
    )
    contract = packing_report(packed, pack_budget).select(
        F.col("total_tokens").alias("packed_tokens"),
        "each_doc_once",
        "no_overflow",
        "ffd_bound_ok",
        "above_lower_bound",
    )
    counts.update(contract.first().asDict(), **extra)
    # funnel and contract fields keep their types; stage counts are non-null
    typed = {f.name: f for f in funnel.schema.fields + contract.schema.fields}
    schema = StructType([typed.get(c, StructField(c, LongType(), False)) for c in counts])
    return packed, local_frame(kept.sparkSession, [tuple(counts.values())], schema)


def tokenize_and_materialize(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    merges: list | None = None,
    num_merges: int = 512,
    merges_per_pass: int = 8,
    seq_len: int = 2048,
    n_shards: int = 64,
    eos_id: int | None = None,
    output_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The tokenizer-serving tail of the pipeline: curated documents ->
    BPE token ids -> fixed ``seq_len`` training examples, optionally
    exported as one physically example-ordered parquet file per
    ``shard=K/`` directory (the artifact a trainer streams without a
    read-time sort). Composes the r9 operators end to end:
    ``bpe.encode_corpus`` (per-DISTINCT-word encoding),
    ``packing.materialize_examples`` (fragment-granular boundary
    spanning), deterministic knuth sharding throughout.

    Returns ``(examples, report)``: ``examples`` is (shard, example,
    tokens array<int>, n_tokens, n_docs, complete); ``report`` is one
    row — n_docs, vocab_size, eos_id, total_doc_tokens, n_examples,
    n_complete, and the conservation contract ``tokens_conserved``
    (example tokens == doc tokens + one eos per doc — nothing lost or
    invented by the cut).

    The call runs eagerly: the encoded corpus and ``examples`` are cut
    leaves (``localCheckpoint``, freed by the ContextCleaner when
    dropped), and ``report`` is built from their counts during the
    call, so collecting it starts no Spark job.

    ``merges=None`` trains the vocabulary here (parallel-BPE batched
    passes by default — at a 50k vocab the exact-sequential trainer is
    50k driver round-trips; pass ``merges_per_pass=1`` when exact
    Sennrich order matters, or pass pre-trained ``merges`` to skip
    training entirely). ``eos_id=None`` uses vocab_size (one past the
    last real token id)."""
    from ensembl_database_loader_spark.operators.bpe import (
        encode_corpus,
        token_vocabulary,
        train_bpe,
        word_frequencies,
    )
    from ensembl_database_loader_spark.operators.packing import (
        materialize_examples,
    )

    wf = word_frequencies(docs, text_col).persist()
    if merges is None:
        merges = train_bpe(wf, num_merges, merges_per_pass=merges_per_pass)
    vocab_size = token_vocabulary(wf, merges).count()
    wf.unpersist()
    eos = int(eos_id) if eos_id is not None else int(vocab_size)
    # both stages are cut and counted once; the report is built on the driver
    enc = encode_corpus(docs, merges, id_col, text_col).localCheckpoint(eager=True)
    ex = materialize_examples(
        enc, id_col, "token_ids", seq_len, n_shards=n_shards, eos=eos
    ).localCheckpoint(eager=True)
    n_docs, doc_tokens = enc.agg(F.count(F.lit(1)), F.sum("n_tokens").cast("bigint")).first()
    n_examples, n_complete, ex_tokens = ex.agg(
        F.count(F.lit(1)),
        F.sum(F.col("complete").cast("int")).cast("bigint"),
        F.sum("n_tokens").cast("bigint"),
    ).first()
    conserved = None if None in (doc_tokens, ex_tokens) else ex_tokens == doc_tokens + n_docs
    report = local_frame(
        docs.sparkSession,
        [(n_docs, int(vocab_size), eos, doc_tokens, n_examples, n_complete, conserved)],
        "n_docs bigint not null, vocab_size bigint not null, eos_id bigint not null, "
        "total_doc_tokens bigint, n_examples bigint not null, n_complete bigint, "
        "tokens_conserved boolean",
    )
    if output_path is not None:
        # one physically example-ordered file per shard=K/ directory —
        # the export_training_shards layout, for token examples
        (
            ex.repartition(n_shards, "shard")
            .sortWithinPartitions("example")
            .write.partitionBy("shard")
            .mode("overwrite")
            .parquet(output_path)
        )
    return ex, report
