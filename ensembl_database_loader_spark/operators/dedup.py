"""Deduplication operators for document corpora.

Five strategies, all returning DataFrames (never collecting):

- exact:       normalize -> sha2 -> dropDuplicates. One shuffle on the
               hash; at 100 TB this is the cheap first pass.
- ngram-jaccard: exact pairwise Jaccard over word shingles within a
               blocking key. Quadratic within block — correctness
               baseline and verifier for the LSH variants.
- minhash-lsh: per-seed min of md5(seed|shingle) -> band keys ->
               bucket join. The scale path: candidate generation is a
               groupBy on band keys (linear + small-bucket joins), so
               the 100 TB cost is bounded by bucket sizes, not n^2.
- simhash:     30-bit sign-of-sums fingerprint over token hashes;
               near-dup = small Hamming distance.
- embedding:   cosine over dense vectors (see similarity.py for the
               ANN-bucketed variant).

Every hash primitive (md5 hex strings, polynomial char fold) was chosen
to have an exact DuckDB twin so the whole family is oracle-checkable —
see plans/llm.py for the SQL mirrors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ensembl_database_loader_spark.functions.text import (
    HASH_MOD,
    normalize_text,
    poly_hash,
    shingle_udf,
    tokens,
    word_shingles,
)

SIMHASH_BITS = 30  # poly_hash yields < 2^30, so 30 informative bits


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on normalized text: keep one row per sha2(normalized).
    (LL1; reference analogue: CHECKSUMS equality, DownloadDatabase.pm.)"""
    h = F.sha2(normalize_text(text_col), 256).alias("_h")
    return df.withColumn("_h", h).dropDuplicates(["_h"]).drop("_h")


def with_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Attach the distinct word-shingle array (the unit of Jaccard)."""
    return df.select(
        F.col(id_col), shingle_udf(n)(F.col(text_col)).alias("shingles")
    )


def _jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = (F.size(a) + F.size(b)).cast("double") - inter
    return inter / union


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact near-dup pairs: Jaccard(shingle sets) >= threshold among
    rows sharing block_col. Returns (id1, id2, jaccard).

    Inverted-index plan (requires threshold > 0): explode shingles,
    self-join on (shingle, block), count shared shingles per pair, then
    Jaccard = inter / (sz1 + sz2 - inter). Only pairs that SHARE at
    least one shingle are ever materialized — with threshold > 0 a
    zero-overlap pair can never qualify, so this is exactly equivalent
    to the all-pairs plan while costing sum-over-shingles(freq^2)
    instead of n^2 per block. A size-ratio prune (J >= t implies
    t <= sz1/sz2 <= 1/t) is applied inside the join condition so
    hopeless pairs never reach the aggregate. At 100 TB add prefix
    filtering (index only each doc's rarest ceil((1-t)*sz)+1 shingles)
    to bound hot-shingle freq^2 blowup."""
    if threshold <= 0:
        raise ValueError("inverted-index Jaccard requires threshold > 0")
    s = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        shingle_udf(n)(F.col(text_col)).alias("sh"),
    ).withColumn("sz", F.size("sh").cast("bigint"))
    ex = s.select("id", "blk", "sz", F.explode("sh").alias("g"))
    # both self-join sides are the corpus-sized shingle stream — never
    # let either broadcast (same posture as the prefix path)
    a, b = ex.alias("a"), ex.hint("shuffle_hash").alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz").cast("double") >= threshold * F.col("b.sz"))
            & (F.col("b.sz").cast("double") >= threshold * F.col("a.sz")),
        )
        .groupBy(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = F.col("inter").cast("double") / (
        (F.col("sz1") + F.col("sz2") - F.col("inter")).cast("double")
    )
    return (
        inter.select("id1", "id2", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING — identical
    output to ngram_jaccard_pairs, but only each document's
    floor((1-t)*|S|)+1 globally-rarest shingles are indexed (PPJoin's
    Jaccard prefix under a (frequency, shingle) total order). Two sets
    with J >= t MUST share a prefix element, so candidate completeness
    holds while hot shingles (which rank last in the order) never enter
    the index — the freq^2 blowup the plain inverted index suffers on
    'of the and'-grade shingles is structurally excluded. Costs one
    extra shuffle (global frequency + per-doc rank); wins whenever the
    shingle frequency distribution is heavy-tailed. (On the synthetic
    fixtures — near-uniform shingle frequencies — the extra shuffle
    makes it ~2x slower than the plain index at 50k docs while
    returning identical pairs; it exists for real corpora where a few
    stop-shingles would otherwise dominate the join.)"""
    from pyspark.sql import Window

    if threshold <= 0:
        raise ValueError("prefix filtering requires threshold > 0")
    s = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        shingle_udf(n)(F.col(text_col)).alias("sh"),
    ).withColumn("sz", F.size("sh").cast("bigint"))
    ex = s.select("id", "blk", "sz", F.explode("sh").alias("g"))
    # shuffle_hash: the distinct-shingle frequency table scales with
    # the corpus (a broadcast misestimate here OOMed at 1M docs)
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("_freq")).hint("shuffle_hash")
    ranked = ex.join(freq, "g").withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy("_freq", "g")
        ),
    )
    # epsilon-guarded floor: (1-0.8)*sz evaluates as 0.19999..*sz in
    # doubles, and an un-guarded floor truncates one prefix element
    # short of PPJoin's bound -> silently dropped pairs (observed at
    # 50k docs). Overshooting by epsilon only ever lengthens the
    # prefix, which is correctness-neutral.
    prefix_len = F.floor((1.0 - threshold) * F.col("sz") + 1e-9).cast("int") + 1
    prefix = ranked.filter(F.col("_rk") <= prefix_len).select("id", "blk", "sz", "g")
    # both self-join sides are the corpus-sized prefix index — never
    # let either broadcast
    a, b = prefix.alias("a"), prefix.hint("shuffle_hash").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id"))
            & (F.col("a.sz").cast("double") >= threshold * F.col("b.sz"))
            & (F.col("b.sz").cast("double") >= threshold * F.col("a.sz")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    # shuffle_hash hint: same scale posture as minhash_lsh_pairs — the
    # shingle side is corpus-sized with UDF-opaque stats; never let it
    # broadcast
    sh = s.select("id", "sh").hint("shuffle_hash")
    j = _jaccard(F.col("s1.sh"), F.col("s2.sh"))
    return (
        cand.join(sh.alias("s1"), cand.id1 == F.col("s1.id"))
        .join(sh.alias("s2"), cand.id2 == F.col("s2.id"))
        .select("id1", "id2", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, n: int = 3
) -> DataFrame:
    """(id, seed, minhash): per-seed minimum of md5('<seed>|' || shingle).

    md5 hex strings compare lexicographically == numerically on the
    128-bit value, and both engines print identical lowercase hex, so
    MIN() agrees exactly with the DuckDB twin."""
    sh = df.select(
        F.col(id_col).alias("id"), shingle_udf(n)(F.col(text_col)).alias("sh")
    ).select("id", F.explode("sh").alias("g"))
    seeds = df.sparkSession.range(num_hashes).select(F.col("id").alias("seed"))
    return (
        sh.crossJoin(F.broadcast(seeds))
        .groupBy("id", "seed")
        .agg(F.min(F.md5(F.concat(F.col("seed").cast("string"), F.lit("|"), F.col("g")))).alias("mh"))
    )


def minhash_band_keys(signatures: DataFrame, rows_per_band: int = 2) -> DataFrame:
    """(id, band, key): concatenate rows_per_band consecutive minhashes.
    Docs sharing any (band, key) are LSH candidates."""
    band = (F.col("seed") / rows_per_band).cast("bigint").alias("band")
    parts = [
        F.max(F.when(F.col("seed") % rows_per_band == r, F.col("mh"))).alias(f"_p{r}")
        for r in range(rows_per_band)
    ]
    g = signatures.groupBy("id", band).agg(*parts)
    return g.select(
        "id", "band", F.concat(*[F.col(f"_p{r}") for r in range(rows_per_band)]).alias("key")
    )


def minhash_band_keys_from_shingles(
    sh_df: DataFrame,
    id_col: str = "id",
    shingle_col: str = "shingles",
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """(id, band, key) band keys from a PRECOMPUTED distinct-shingle
    frame — the one-shuffle groupBy(id) MIN fold of
    ``minhash_band_keys_direct`` minus its shingle recomputation, so a
    caller that already holds (and persists) the shingle arrays — the
    curation funnels, the fingerprint store — derives band keys without
    paying a second Arrow shingle pass over the corpus. Values are
    bit-identical to the from-text path (same MD5/MIN expressions over
    the same exploded rows; pinned in tests)."""
    sh = sh_df.select(
        F.col(id_col).alias("id"), F.explode(shingle_col).alias("g")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}|"), F.col("g")))).alias(f"_mh{s}")
        for s in range(num_hashes)
    ]
    wide = sh.groupBy("id").agg(*aggs)
    n_bands = num_hashes // rows_per_band
    keys = F.array(
        *[
            F.concat(
                *[F.col(f"_mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(n_bands)
        ]
    )
    return wide.select(
        "id", F.posexplode(keys).alias("band", "key")
    ).withColumn("band", F.col("band").cast("bigint"))


def minhash_band_keys_direct(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
) -> DataFrame:
    """(id, band, key) band keys in ONE shuffle: the per-seed minima
    run as ``num_hashes`` conditional MIN aggregates in a single
    groupBy(id) with map-side partial aggregation (the two-step
    ``minhash_signatures`` -> ``minhash_band_keys`` path costs a
    seeds-crossJoin row inflation plus TWO shuffles for the same
    values), then band keys concatenate consecutive minima and a
    narrow posexplode emits the (band, key) rows. Values are
    bit-identical to the two-step path (pinned in tests)."""
    sh = df.select(
        F.col(id_col).alias("id"), shingle_udf(n)(F.col(text_col)).alias("sh")
    )
    return minhash_band_keys_from_shingles(
        sh, "id", "sh", num_hashes, rows_per_band
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) sharing at least one LSH band
    bucket. The join is per-bucket (groupBy band key), so cost scales
    with bucket sizes — the property that makes this viable at 100 TB.
    Pass precomputed ``bands`` (id, band, key) to reuse band keys the
    caller already derived (e.g. from a persisted shingle frame)."""
    if bands is None:
        bands = minhash_band_keys_direct(
            df, id_col, text_col, num_hashes, rows_per_band, n
        )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float | None = 0.8,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    n: int = 3,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard: (id1, id2, jaccard).

    Pass precomputed ``candidates`` (e.g. from minhash_lsh_candidates)
    to avoid re-deriving signatures, and/or a precomputed ``shingles``
    frame ((id_col, shingles) — e.g. a persisted ``with_shingles``) so
    the verify step reuses it instead of a fresh Arrow shingle pass;
    ``threshold=None`` keeps every candidate with its Jaccard (caller
    filters/aggregates in one pass)."""
    cand = (
        candidates
        if candidates is not None
        else minhash_lsh_candidates(df, id_col, text_col, num_hashes, rows_per_band, n)
    )
    # shuffle_hash hint: BOTH sides scale with the corpus (candidates ~
    # O(near-dups), shingle sets ~ O(docs x shingles)), and the shingle
    # side's size is invisible to Catalyst (UDF-produced arrays), so a
    # 64 MiB broadcast threshold can mis-pick a broadcast that builds a
    # multi-GB table driver-side (observed OOM at 1M docs). The hint's
    # job is to FORBID broadcast; shuffle-hash skips the per-partition
    # sort of sort-merge but does build a per-partition hash table, so
    # under heavy key skew prefer .hint("merge") (spills gracefully).
    sh = (
        shingles if shingles is not None else with_shingles(df, id_col, text_col, n)
    ).hint("shuffle_hash")
    j = _jaccard(F.col("s1.shingles"), F.col("s2.shingles"))
    out = (
        cand.join(sh.alias("s1"), cand.id1 == F.col(f"s1.{id_col}"))
        .join(sh.alias("s2"), cand.id2 == F.col(f"s2.{id_col}"))
        .select("id1", "id2", j.alias("jaccard"))
    )
    return out if threshold is None else out.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash): 30-bit SimHash — for each bit j, sign of
    sum(+1/-1) over distinct token hashes' bit j (ties count as +).

    Computed in one Arrow-batched pandas UDF: no explode, no shuffle,
    no 30-column conditional aggregate — a single narrow pass over the
    corpus (the property that matters at 100 TB; the pair join
    downstream is the only shuffle). The vote fold is BATCH-vectorized:
    per Arrow batch, every document's distinct tokens are flattened
    into one array, each UNIQUE token's polynomial hash is computed
    once, the (tokens x 30) sign matrix is built in a single numpy
    expression, and per-document votes come from one
    ``np.add.reduceat`` over the flat matrix — the only remaining
    interpreted loop is the char fold over batch-unique tokens
    (vocabulary-sized, not token-instance-sized). Integer arithmetic is
    exact, so the fingerprints equal the JVM/DuckDB fold twins
    (poly_hash / plans.llm._POLY_HASH) bit for bit."""
    import re

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @F.pandas_udf("bigint")
    def _simhash(s):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        if len(s) == 0:
            return pd.Series([], dtype="int64")
        shifts = np.arange(SIMHASH_BITS)
        weights = 1 << shifts
        # distinct tokens per doc (sets; votes are additive so order is
        # irrelevant). split(" ") of "" is [""] -> every doc has >= 1
        # token.
        docs = [set(ws.sub(" ", x.strip(" ").lower()).split(" ")) for x in s]
        lens = np.fromiter((len(d) for d in docs), dtype=np.int64, count=len(docs))
        # hash-based dedup (factorize), NOT np.unique: sorting object
        # strings measured 2.8x slower than the per-doc loop it was
        # meant to replace; factorize + per-bit bincount measured 1.8x
        # FASTER (micro-bench: 20k docs x 60 tokens — 2.2s loop / 6.0s
        # np.unique / 1.2s this).
        codes, uniq = pd.factorize(
            np.array([t for d in docs for t in d], dtype=object)
        )
        hcache = np.empty(len(uniq), dtype=np.int64)
        for i, tok in enumerate(uniq):
            acc = 0
            for ch in tok:
                acc = (acc * 31 + ord(ch)) % HASH_MOD
            hcache[i] = acc
        # (vocab x 30) sign matrix once; per-doc votes = 30 bincounts
        # over the flat token stream (no tokens x 30 materialization)
        usigns = (((hcache[:, None] >> shifts) & 1) * 2 - 1).astype(np.float64)
        doc_idx = np.repeat(np.arange(len(docs)), lens)
        votes = np.empty((len(docs), SIMHASH_BITS), dtype=np.int64)
        for j in range(SIMHASH_BITS):
            votes[:, j] = np.bincount(
                doc_idx, weights=usigns[codes, j], minlength=len(docs)
            )
        return pd.Series(((votes >= 0) * weights).sum(axis=1))

    return df.select(F.col(id_col).alias("id"), _simhash(F.col(text_col)).alias("simhash"))


def simhash_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_hamming: int = 4,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — banded blocking.

    Identical output to ``simhash_pairs`` but the pair stage joins on
    fingerprint BANDS instead of enumerating every same-block pair:
    split the 30-bit fingerprint into ``n_bands`` contiguous bands
    (default ``max_hamming + 1``). Two fingerprints within Hamming
    distance k differ in at most k bands, so with k+1 bands they MUST
    agree exactly on at least one band (pigeonhole) — candidate
    completeness holds with zero false negatives. The join key is
    (band index, band value, block), so cost is sum over buckets of
    bucket^2 instead of block^2 — the same shape that makes MinHash-LSH
    viable at 100 TB. Each candidate carries both fingerprints through
    the join, so verification (exact Hamming <= k) is a zero-join
    filter after the distinct.

    The banding runs over DISTINCT (fingerprint, block) GROUPS, not
    documents: exact-duplicate fingerprints are collapsed first
    (collect_list of member ids), the band-bucket join + Hamming test
    run at group level, and qualifying group pairs expand back to id
    pairs with a zero-shuffle double explode that streams into the
    consumer. This makes the join cost scale with DISTINCT fingerprints
    — crucial twice over: (a) real near-dup corpora have fingerprint
    clusters by construction, and (b) low-entropy fingerprints (the
    synthetic fixture's 30-bit simhash has 25/30 near-constant bits per
    language and 60% of same-block pairs within Hamming<=4 — measured
    7.54M of 12.5M at sf0.1) would otherwise make doc-level banding
    WORSE than the quadratic join (a doc-level banded prototype
    measured 15.8s vs quadratic 2.3s; this group-level plan ~2s).
    With healthy iid fingerprint bits (idf-weighted >=64-bit, the
    Manku et al. WWW'07 construction) groups approach singletons and
    this degrades gracefully to classic band-bucketing. Returns pairs
    identical to ``simhash_pairs`` (equivalence-tested)."""
    s = simhash(df, id_col, text_col)
    blk = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
    return banded_hamming_pairs(
        s.join(blk, "id"), SIMHASH_BITS, max_hamming, n_bands
    )


def banded_hamming_pairs(
    fps: DataFrame,
    bits: int,
    max_hamming: int = 4,
    n_bands: int | None = None,
) -> DataFrame:
    """Group-level banded Hamming pair generation over a prepared
    (id, simhash, blk) fingerprint frame — the engine behind
    ``simhash_pairs_banded`` and the weighted 60-bit variant
    (``simhash64_pairs_banded``). Returns (id1, id2, hamming) for every
    pair with Hamming <= max_hamming within a block; the grouping of
    fingerprints runs (and is cut) during the call."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"n_bands={n_bands} < max_hamming+1={max_hamming + 1}: "
            "banding would drop true pairs"
        )
    width = -(-bits // n_bands)  # ceil
    mask = (1 << width) - 1
    # The group frame is referenced four times (both band-join sides +
    # two member re-attach joins); cut it so the upstream fingerprint
    # pipeline (pandas-UDF votes, weight joins) runs once — it is tiny
    # (one row per DISTINCT fingerprint), and with no catalog cache entry
    # the ContextCleaner frees it once the result is unreferenced.
    g = (
        fps.groupBy("blk", "simhash")
        .agg(F.collect_list("id").alias("ids"))
        .localCheckpoint(eager=True)
    )
    bands = g.select(
        "blk",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias("band"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band * {width}) & {mask}"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    # group-level candidates: Hamming tested BEFORE the distinct, so the
    # distinct only ever sees true group pairs (tiny by construction)
    gpairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.simhash").alias("f1"),
            F.col("b.simhash").alias("f2"),
            ham.cast("int").alias("hamming"),
        )
        .distinct()
        .join(g.select(F.col("blk"), F.col("simhash").alias("f1"), F.col("ids").alias("ids1")), ["blk", "f1"])
        .join(g.select(F.col("blk"), F.col("simhash").alias("f2"), F.col("ids").alias("ids2")), ["blk", "f2"])
    )
    cross = (
        gpairs.select("hamming", F.explode("ids1").alias("ida"), "ids2")
        .select("hamming", "ida", F.explode("ids2").alias("idb"))
        .select(
            F.least("ida", "idb").alias("id1"),
            F.greatest("ida", "idb").alias("id2"),
            "hamming",
        )
    )
    # within-group pairs: identical fingerprints, Hamming 0
    same = (
        g.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("id1"), "ids")
        .select("id1", F.explode("ids").alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("hamming", F.lit(0))
    )
    return cross.unionByName(same)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_hamming: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance within a block —
    quadratic within block (correctness baseline; the scale path is
    ``simhash_pairs_banded``, which returns identical pairs via
    band-bucketed joins)."""
    s = simhash(df, id_col, text_col)
    blk = df.select(F.col(id_col).alias("id"), F.col(block_col).alias("blk"))
    s = s.join(blk, "id")
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


SIMHASH64_BITS = 60  # two 30-bit polynomial folds, concatenated


def simhash64_weighted_fingerprints(
    df: DataFrame, id_col: str, text_col: str, block_col: str
) -> DataFrame:
    """(id, simhash, blk): 60-bit idf-WEIGHTED SimHash — the production
    fingerprint construction (Manku et al., WWW'07: wide fingerprint,
    term-weighted votes) that gives banding real bit entropy.

    Where the plain 30-bit fingerprint lets corpus-wide stopwords cast
    the same +/-1 votes in every document (25/30 bits near-constant per
    language on the fixture), here each DISTINCT token votes with a
    tiered integer idf weight — df > 10% of docs: 1, df > 1%: 4,
    else 16 — so rare (discriminative) tokens dominate the sign of
    each bit. Tiers are integer comparisons (df*10 > N), never floats,
    so both engines compute bit-identical fingerprints. 60 bits = two
    independent 30-bit polynomial folds (the second salted '2|'),
    packed little-endian (bit j < 30 from h1, else h2).

    Plan shape: explode distinct tokens (narrow), one groupBy(token)
    for document frequencies over the whole corpus, broadcast-join the
    tiny (vocabulary-sized) weight table back, then one groupBy(doc)
    whose vote fold runs BATCH-vectorized in an Arrow pandas UDF: the
    whole batch's (wt, h1, h2) triples are flattened into three numpy
    arrays and per-document votes come from 60 bincounts over the flat
    token stream — no per-document Python loop. (A 60-expression pure
    JVM conditional-aggregate fold was tried and measured 3.8x SLOWER
    at sf0.1 — 60 aggregate-buffer updates per token row lose to
    numpy's vectorized fold; the collect_list buffering is cheaper
    than it looks because it rides the groupBy shuffle either way.)
    Two shuffles total, both on keys that scale sub-linearly with
    corpus bytes (vocabulary, then docs)."""
    import numpy as np
    import pandas as pd

    tok = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("blk"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    dfreq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    weights = dfreq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.when(F.col("df") * 10 > F.col("_n"), 1)
        .when(F.col("df") * 100 > F.col("_n"), 4)
        .otherwise(16)
        .alias("wt"),
        poly_hash("tok").alias("h1"),
        poly_hash("concat('2|', tok)").alias("h2"),
    )
    per_doc = (
        tok.join(F.broadcast(weights), "tok")
        .groupBy("id", "blk")
        .agg(F.collect_list(F.struct("wt", "h1", "h2")).alias("_ths"))
    )

    @F.pandas_udf("bigint")
    def _fp(s):  # type: ignore[no-untyped-def]
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        lens = np.fromiter((len(x) for x in s), dtype=np.int64, count=len(s))
        wt = np.fromiter((t["wt"] for x in s for t in x), dtype=np.int64)
        h1 = np.fromiter((t["h1"] for x in s for t in x), dtype=np.int64)
        h2 = np.fromiter((t["h2"] for x in s for t in x), dtype=np.int64)
        doc_idx = np.repeat(np.arange(len(s)), lens)
        votes = np.empty((len(s), SIMHASH64_BITS), dtype=np.float64)
        for j in range(SIMHASH64_BITS):
            h, sh = (h1, j) if j < 30 else (h2, j - 30)
            w = (((h >> sh) & 1) * 2 - 1) * wt  # exact ints as floats
            votes[:, j] = np.bincount(doc_idx, weights=w, minlength=len(s))
        pack = 1 << np.arange(SIMHASH64_BITS, dtype=np.uint64)
        return pd.Series(((votes >= 0) * pack).sum(axis=1).astype(np.int64))

    return per_doc.select("id", _fp(F.col("_ths")).alias("simhash"), "blk")


def simhash64_pairs_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    max_hamming: int = 4,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs on the weighted 60-bit fingerprint via group-level
    banding (12-bit bands at max_hamming=4): the full production
    simhash-dedup construction — wide weighted fingerprint for entropy,
    pigeonhole banding for candidate generation."""
    fps = simhash64_weighted_fingerprints(df, id_col, text_col, block_col)
    return banded_hamming_pairs(fps, SIMHASH64_BITS, max_hamming, n_bands)
