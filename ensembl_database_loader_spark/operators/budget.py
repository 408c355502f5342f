"""Token-budget corpus selection: "take the first N tokens of each
stratum" in a DETERMINISTIC pseudo-random document order — the mixing
primitive that turns weight recipes ("30B tokens of en-web, 5B of
code") into concrete document sets.

Selection rule: within a stratum, documents are totally ordered by
``(knuth32(id), id)`` (the same keyed hash as mixing/splitting, so the
order is reproducible across reruns, layouts, and incremental batches)
and a document is kept iff the token sum of all documents BEFORE it is
still strictly under the stratum's budget. The budget overshoots by at
most one document — the rule every engine can compute bit-identically
(no fractional documents).

Scale shape — the naive plan is a window cumsum partitioned by
stratum, which funnels a 100 TB stratum through ONE task's sort. This
implementation never sorts a stratum:

1. documents land in ``n_buckets`` hash-range buckets (map-side);
2. a (stratum x bucket) token histogram — tiny — takes the window
   cumsum instead, classifying each bucket as full-keep
   (``cum_before + bucket_tokens < budget``), boundary (the first
   crossing), or full-drop;
3. full-keep buckets pass map-side; full-drop buckets filter map-side;
   ONLY the boundary bucket (~1/n_buckets of one stratum) gets the
   exact per-document window cumsum, offset by the histogram's
   ``cum_before``.

Everything is BIGINT arithmetic on the Knuth hash, so the DuckDB
oracle (a plain per-stratum window cumsum) matches row-for-row — the
two plans compute the identical keep set (pinned by probe
``llp_token_budget`` and the naive-vs-bucketed equivalence test).
Strata absent from ``budgets`` are dropped (whitelist semantics,
matching ``stratified_sample``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ensembl_database_loader_spark.operators.mixing import HASH_SPACE, knuth32


def _budget_col(strata_col: str, budgets: dict[str, int]):
    if not budgets:
        # empty whitelist: F.create_map() builds map<void,void>, which
        # fails analysis when indexed by a string — a null budget for
        # every stratum expresses "nothing listed" instead
        return F.lit(None).cast("bigint")
    m = F.create_map(
        *[x for k, v in sorted(budgets.items()) for x in (F.lit(k), F.lit(int(v)))]
    )
    return m[F.col(strata_col)]


def select_token_budget(
    df: DataFrame,
    id_col: str,
    token_col: str,
    strata_col: str,
    budgets: dict[str, int],
    n_buckets: int = 1024,
) -> DataFrame:
    """Keep documents per stratum, in ``(knuth32(id), id)`` order, while
    the running token total stays under the stratum's budget (keep iff
    tokens-before < budget; overshoot <= one document). Returns the
    input columns plus ``_h`` dropped — i.e. the kept rows unchanged."""
    budget = _budget_col(strata_col, budgets)
    bucket_w = HASH_SPACE // n_buckets
    work = (
        df.withColumn("_h", knuth32(id_col))
        # integer DIV keeps the bucket assignment BIGINT-exact (a double
        # division is safe at 2^32 magnitudes but breaks the stated
        # pure-integer contract near 2^52)
        .withColumn("_bkt", F.expr(f"_h DIV {bucket_w}"))
        .filter(budget.isNotNull())
    )

    hist = (
        work.groupBy(strata_col, "_bkt")
        .agg(F.sum(F.col(token_col)).cast("bigint").alias("_btok"))
    )
    hw = Window.partitionBy(strata_col).orderBy("_bkt")
    hist = hist.withColumn(
        "_cum_before",
        F.coalesce(
            F.sum("_btok").over(hw.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    # bucket classes: full-keep strictly under budget; boundary = first
    # crossing; everything at/after the crossing drops map-side
    hb = _budget_col(strata_col, budgets)
    hist = hist.withColumn(
        "_cls",
        F.when(F.col("_cum_before") + F.col("_btok") < hb, F.lit("keep"))
        .when(F.col("_cum_before") < hb, F.lit("boundary"))
        .otherwise(F.lit("drop")),
    ).select(
        F.col(strata_col).alias("_hs"),
        "_bkt",
        "_cls",
        "_cum_before",
    )
    # the histogram feeds BOTH union arms below; without materialization
    # each arm re-runs the full corpus scan + groupBy that builds it
    # (no ReusedExchange across union arms, verified empirically).
    # (strata x n_buckets) rows — broadcast-dim sized. Eager
    # localCheckpoint instead of persist(): the blocks are freed by the
    # ContextCleaner when the frame is garbage-collected, so repeated
    # calls in a long-lived session (build_training_corpus pipelines)
    # don't accrete entries in the cache registry the way an
    # un-unpersisted .persist() would.
    hist = hist.localCheckpoint(eager=True)

    # string-qualified refs, not dataset-column refs: the checkpointed
    # frame keeps the parent's expression ids, which trips the
    # ambiguous-self-join detector on dataset-indexed columns
    joined = (
        work.alias("_w")
        .join(
            F.broadcast(hist.alias("_hist")),
            (F.col(f"_w.{strata_col}") == F.col("_hist._hs"))
            & (F.col("_w._bkt") == F.col("_hist._bkt")),
        )
        .drop(F.col("_hist._bkt"))
        .drop("_hs")
    )

    kept_full = joined.filter(F.col("_cls") == "keep")

    # exact pass over ONLY the boundary bucket (~1/n_buckets of one
    # stratum): per-doc cumsum offset by the histogram prefix
    bw = Window.partitionBy(strata_col).orderBy("_h", id_col)
    boundary = (
        joined.filter(F.col("_cls") == "boundary")
        .withColumn(
            "_before",
            F.col("_cum_before")
            + F.coalesce(
                F.sum(F.col(token_col)).over(
                    bw.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .filter(F.col("_before") < budget)
        .drop("_before")
    )

    return kept_full.unionByName(boundary).drop(
        "_h", "_bkt", "_cls", "_cum_before"
    )


def select_doc_cap(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    caps: dict[str, int],
    n_buckets: int = 1024,
    keep_unlisted: bool = False,
) -> DataFrame:
    """Keep at most ``caps[stratum]`` documents per stratum, chosen in
    deterministic ``(knuth32(id), id)`` order — the per-domain cap web
    curation uses to stop a handful of giant domains dominating the
    corpus (and the analogue of the reference's per-database row caps).

    A document cap IS a token budget where every document weighs one
    token: keep iff docs-before < cap, so exactly ``min(cap, |stratum|)``
    documents survive (the budget rule's <=-one-doc overshoot collapses
    to exactness at weight 1). Reuses the bucket-histogram scale plan
    verbatim — no stratum is ever sorted whole, so a 100 TB domain
    never funnels through one task the way the naive per-domain
    ``row_number`` window would. Strata absent from ``caps`` drop by
    default (whitelist semantics, same as ``select_token_budget``);
    ``keep_unlisted=True`` passes them through uncapped instead — the
    pipeline semantic ("cap these giant domains, keep the rest"), a
    map-side filter union with no extra shuffle."""
    if not caps:
        # nothing listed: everything is "unlisted"
        return df if keep_unlisted else df.limit(0)
    one = "_doc_cap_one"
    kept = select_token_budget(
        df.withColumn(one, F.lit(1).cast("bigint")),
        id_col,
        one,
        strata_col,
        caps,
        n_buckets,
    ).drop(one)
    if keep_unlisted:
        listed = list(caps)
        unlisted = df.filter(
            ~F.col(strata_col).isin(listed) | F.col(strata_col).isNull()
        )
        kept = kept.unionByName(unlisted)
    return kept
