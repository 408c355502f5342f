"""Training-data-pipeline probes (SURVEY.md §2.3 LL1–LL5 + the dedup /
similarity / text-analysis / multimodal extensions).

Near-dup probes run on a corpus of documents UNION mutated variants
(first token dropped, id + 100000) so the operators have real work to
find; both engines build the corpus identically.

Every hash primitive was picked for exact cross-engine replicability:
md5 lowercase-hex (MinHash), polynomial char fold mod 1e9+7 (SimHash /
fingerprints), sequential double folds (cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ensembl_database_loader_spark.catalog import table
from ensembl_database_loader_spark.functions.text import normalize_text
from ensembl_database_loader_spark.multimodal.binaryops import (
    decode_media_stats,
    sample_frames,
    with_binary_payload,
)
from ensembl_database_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_prefix,
    simhash_pairs,
)
from ensembl_database_loader_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_bucket_topk,
)
from ensembl_database_loader_spark.operators.textstats import (
    with_fingerprint,
    with_lang_guess,
    with_quality_score,
    with_token_stats,
)
from ensembl_database_loader_spark.plans.registry import probe
from ensembl_database_loader_spark.session import ensure_session_confs


def _cnt(cond=None):
    return F.count(F.when(cond, F.lit(1))) if cond is not None else F.count(F.lit(1))


def _collect_sorted_parallel(*dfs, max_workers: int = 8):
    """Collect several small, independent gate frames CONCURRENTLY and
    return each one's sorted row-tuple multiset. Spark happily runs
    actions from multiple driver threads; one thread per frame keeps
    the cluster busy the way a single fused union-tree action would,
    while each serving form is still evaluated exactly ONCE (the
    symmetric-exceptAll gate formulation evaluated both compare sides
    twice and paid two hash-aggregate exchanges per gate; a sequential
    collect loop kept the single evaluation but idled the cluster
    between jobs — measured slower than the union tree at sf0.1)."""
    from concurrent.futures import ThreadPoolExecutor

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    if len(dfs) == 1:
        return [rows(dfs[0])]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(dfs))) as ex:
        return list(ex.map(rows, dfs))


# --- shared Spark corpus (documents + near-dup variants) -------------------


def _planted_clusters(spark: SparkSession, sf: str, per_cluster: int = 250) -> DataFrame:
    """The deterministic planted-cluster embedding corpus every ANN
    recall gate shares: the first 8 fixture embeddings (by vec_id) are
    normalized cluster seeds; member j of cluster c is
    ``seed_c + 0.02 * noise`` with noise derived from
    xxhash64(c, j, dim) — fully Spark-side, no RNG state, identical
    across runs/partitionings. Member ids interleave clusters
    (``vec_id = j * 8 + c``), so ids 0..7 are one member per cluster
    and the first-8-by-id grid/k-means init starts one centroid per
    true cluster. Within-cluster cosine ~0.996, cross ~0."""
    e = table(spark, sf, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("c"),
        F.col("embedding").cast("array<double>").alias("s0"),
    )
    norm = F.sqrt(F.aggregate("s0", F.lit(0.0), lambda a, x: a + x * x))
    seeds = seeds.withColumn(
        "seed", F.transform("s0", lambda x: x / F.greatest(norm, F.lit(1e-12)))
    )
    members = seeds.crossJoin(
        spark.range(0, per_cluster).select(F.col("id").cast("int").alias("j"))
    )

    def _noise(i):
        return (
            F.pmod(F.xxhash64(F.col("c"), F.col("j"), i), F.lit(2001))
            - F.lit(1000)
        ) / F.lit(1000.0)

    return members.select(
        (F.col("j") * 8 + F.col("c")).cast("bigint").alias("vec_id"),
        F.transform("seed", lambda x, i: x + F.lit(0.02) * _noise(i)).alias(
            "embedding"
        ),
    )


def _corpus(spark: SparkSession, sf: str) -> DataFrame:
    d = table(spark, sf, "documents").select("doc_id", "lang", "text")
    variants = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "lang",
        F.regexp_replace("text", "^[^ ]+ ", "").alias("text"),
    )
    return d.unionByName(variants)


# --- shared DuckDB SQL fragments (exact mirrors of the Spark helpers) ------

_CORPUS = (
    "(SELECT doc_id AS id, lang, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, lang, regexp_replace(text, '^[^ ]+ ', '') "
    "FROM documents)"
)


def _norm(col: str) -> str:
    return f"regexp_replace(lower(trim({col})), '\\s+', ' ', 'g')"


def _toks(col: str) -> str:
    return f"string_split({_norm(col)}, ' ')"


#: distinct 3-word shingles of a token-list SQL expression
def _shingles(toks: str) -> str:
    return (
        f"CASE WHEN len({toks}) >= 3 THEN list_distinct(list_transform("
        f"generate_series(1, len({toks}) - 2), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


_POLY_HASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, length({s})), "
    "i -> CAST(unicode(substr({s}, i, 1)) AS BIGINT))), "
    "(acc, b) -> (acc * 31 + b) % 1000000007)"
)

_JACCARD = (
    "CAST(len(list_intersect({a}, {b})) AS DOUBLE) / "
    "(len({a}) + len({b}) - len(list_intersect({a}, {b})))"
)

_COS = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# ---------------------------------------------------------------------------
# LL1–LL5
# ---------------------------------------------------------------------------


@probe(
    "ll1_exact_dedup",
    oracle=(
        "WITH c AS (SELECT text FROM documents UNION ALL SELECT text FROM documents) "
        f"SELECT COUNT(*) AS input_cnt, COUNT(DISTINCT {_norm('text')}) AS uniq_cnt FROM c"
    ),
    tags=("llm", "dedup"),
)
def ll1(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup (normalize -> sha2 -> dropDuplicates) over a corpus
    with every document duplicated once."""
    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select("doc_id", "text")
    doubled = d.unionByName(d.select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    return doubled.agg(_cnt().alias("input_cnt")).crossJoin(
        exact_dedup(doubled, "text").agg(_cnt().alias("uniq_cnt"))
    )


@probe(
    "ll2_ngram_jaccard",
    oracle=(
        f"WITH c AS (SELECT * FROM {_CORPUS} t), "
        f"s AS (SELECT id, lang, {_shingles(_toks('text'))} AS sh FROM c), "
        "p AS (SELECT " + _JACCARD.format(a="a.sh", b="b.sh") + " AS j "
        "FROM s a JOIN s b ON a.lang = b.lang AND a.id < b.id) "
        "SELECT COUNT(*) AS pair_cnt, ROUND(SUM(j), 2) AS sum_jaccard "
        "FROM p WHERE j >= 0.8"
    ),
    tags=("llm", "dedup"),
)
def ll2(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (>= 0.8) blocked by lang,
    over the variant corpus."""
    ensure_session_confs(spark)
    pairs = ngram_jaccard_pairs(
        _corpus(spark, sf), "doc_id", "text", "lang", n=3, threshold=0.8
    )
    return pairs.agg(
        _cnt().alias("pair_cnt"), F.round(F.sum("jaccard"), 2).alias("sum_jaccard")
    )


@probe(
    "dd_jaccard_prefix",
    oracle=(
        f"WITH c AS (SELECT * FROM {_CORPUS} t), "
        f"s AS (SELECT id, lang, {_shingles(_toks('text'))} AS sh FROM c), "
        "p AS (SELECT " + _JACCARD.format(a="a.sh", b="b.sh") + " AS j "
        "FROM s a JOIN s b ON a.lang = b.lang AND a.id < b.id) "
        "SELECT COUNT(*) AS pair_cnt, ROUND(SUM(j), 2) AS sum_jaccard "
        "FROM p WHERE j >= 0.8"
    ),
    tags=("llm", "dedup"),
)
def dd_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard pairs (>= 0.8): only
    each doc's (1-t)|S|+1 globally-rarest shingles enter the inverted
    index, so hot shingles never cause freq^2 candidate blowup. Same
    oracle as ll2_ngram_jaccard — output is provably identical; this
    probe exists so the scale path is correctness-gated too."""
    ensure_session_confs(spark)
    pairs = ngram_jaccard_pairs_prefix(
        _corpus(spark, sf), "doc_id", "text", "lang", n=3, threshold=0.8
    )
    return pairs.agg(
        _cnt().alias("pair_cnt"), F.round(F.sum("jaccard"), 2).alias("sum_jaccard")
    )


@probe(
    "ll3_cosine_topk",
    oracle=(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS v FROM embeddings), q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        "s AS (SELECT vec_id, " + _COS.format(a="v", b="qv") + " AS c "
        "FROM e, q WHERE vec_id <> 0) "
        "SELECT vec_id, ROUND(c, 2) AS cos FROM s ORDER BY c DESC, vec_id LIMIT 5"
    ),
    tags=("llm", "similarity"),
)
def ll3(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 neighbours of vec_id=0 (brute force, JVM-side
    higher-order fold)."""
    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings")
    top = cosine_topk(e, "vec_id", "embedding", query_id=0, k=5)
    return top.select("vec_id", F.round("cos", 2).alias("cos"))


@probe(
    "ll4_token_stats",
    oracle=(
        f"WITH t AS (SELECT lang, unnest({_toks('text')}) AS token FROM documents), "
        "g AS (SELECT lang, token, COUNT(*) AS cnt FROM t GROUP BY lang, token) "
        "SELECT lang, token, cnt FROM g "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token) <= 10 "
        "ORDER BY lang, cnt DESC, token"
    ),
    tags=("llm", "text"),
)
def ll4(spark: SparkSession, sf: str) -> DataFrame:
    """Token histogram: top-10 tokens per language."""
    from pyspark.sql import Window

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    t = d.select("lang", F.explode(F.split(normalize_text("text"), " ")).alias("token"))
    g = t.groupBy("lang", "token").agg(_cnt().alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), "token")
    return (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
        .orderBy("lang", F.desc("cnt"), "token")
    )


@probe(
    "ll5_quality_filter",
    oracle=(
        f"WITH q AS (SELECT source, {_toks('text')} AS toks, length(text) AS n FROM documents), "
        "s AS (SELECT source, "
        "(CASE WHEN n BETWEEN 100 AND 400 THEN 1 ELSE 0 END) "
        "+ (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.5 "
        "THEN 1 ELSE 0 END) "
        "+ (CASE WHEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE) "
        "/ greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS quality_score "
        "FROM q) "
        "SELECT source, quality_score, COUNT(*) AS cnt FROM s "
        "GROUP BY source, quality_score ORDER BY source, quality_score"
    ),
    tags=("llm", "text"),
)
def ll5(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality scoring (length bounds + lexical diversity +
    mean token length), counted per source."""
    ensure_session_confs(spark)
    d = with_quality_score(table(spark, sf, "documents"), "text")
    return (
        d.groupBy("source", "quality_score")
        .agg(_cnt().alias("cnt"))
        .orderBy("source", "quality_score")
    )


# ---------------------------------------------------------------------------
# Dedup extensions: MinHash-LSH, SimHash, embedding near-dup
# ---------------------------------------------------------------------------


_MINHASH_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"t AS (SELECT id, {_shingles(_toks('text'))} AS sh FROM c), "
    "g AS (SELECT id, unnest(sh) AS g FROM t), "
    "h AS (SELECT id, s.seed, MIN(md5(CAST(s.seed AS VARCHAR) || '|' || g)) AS mh "
    "FROM g CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS seed) s GROUP BY id, s.seed), "
    "bands AS (SELECT id, seed // 2 AS band, "
    "MAX(CASE WHEN seed % 2 = 0 THEN mh END) || MAX(CASE WHEN seed % 2 = 1 THEN mh END) AS key "
    "FROM h GROUP BY id, seed // 2), "
    "cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2 FROM bands a "
    "JOIN bands b ON a.band = b.band AND a.key = b.key AND a.id < b.id), "
    "ver AS (SELECT id1, id2 FROM cand JOIN t t1 ON cand.id1 = t1.id "
    "JOIN t t2 ON cand.id2 = t2.id "
    "WHERE " + _JACCARD.format(a="t1.sh", b="t2.sh") + " >= 0.8) "
    "SELECT (SELECT COUNT(*) FROM cand) AS cand_cnt, "
    "(SELECT COUNT(*) FROM ver) AS verified_cnt"
)


@probe("dd_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("llm", "dedup"))
def dd_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(8 hashes)+LSH(4 bands x 2 rows) candidate generation with
    exact-Jaccard verification (>= 0.8) on the variant corpus. The scale
    path for near-dup at 100 TB: bucket-join instead of all-pairs."""
    ensure_session_confs(spark)
    c = _corpus(spark, sf)
    cand = minhash_lsh_candidates(c, "doc_id", "text", num_hashes=8, rows_per_band=2)
    # Verify candidates in the SAME plan: every candidate joins its two
    # shingle sets exactly once, so cand_cnt and verified_cnt come from
    # one pass over one candidate subtree (no recomputed signatures).
    ver = minhash_lsh_pairs(c, "doc_id", "text", threshold=None, candidates=cand)
    return ver.agg(
        _cnt().alias("cand_cnt"),
        _cnt(F.col("jaccard") >= 0.8).alias("verified_cnt"),
    )


_SIMHASH_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"tk AS (SELECT id, lang, unnest(list_distinct({_toks('text')})) AS tok FROM c), "
    "th AS (SELECT id, lang, " + _POLY_HASH.format(s="tok") + " AS h FROM tk), "
    "bits AS (SELECT id, lang, j, SUM(CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END) AS v "
    "FROM th CROSS JOIN (SELECT unnest(generate_series(0, 29)) AS j) jj GROUP BY id, lang, j), "
    "fp AS (SELECT id, lang, CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << j) "
    "ELSE 0 END) AS BIGINT) AS f FROM bits GROUP BY id, lang), "
    "p AS (SELECT bit_count(xor(a.f, b.f)) AS ham FROM fp a "
    "JOIN fp b ON a.lang = b.lang AND a.id < b.id) "
    "SELECT COUNT(*) FILTER (WHERE ham <= 4) AS pair_cnt, "
    "COUNT(*) FILTER (WHERE ham = 0) AS zero_ham_cnt FROM p"
)


@probe("dd_simhash", oracle=_SIMHASH_ORACLE, tags=("llm", "dedup"))
def dd_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash (30-bit, polynomial token hash) near-dup pairs with
    Hamming distance <= 4, blocked by lang, on the variant corpus."""
    ensure_session_confs(spark)
    pairs = simhash_pairs(_corpus(spark, sf), "doc_id", "text", "lang", max_hamming=30)
    return pairs.agg(
        _cnt(F.col("hamming") <= 4).alias("pair_cnt"),
        _cnt(F.col("hamming") == 0).alias("zero_ham_cnt"),
    )


@probe("dd_simhash_banded", oracle=_SIMHASH_ORACLE, tags=("llm", "dedup"))
def dd_simhash_banded(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs via BANDED blocking (the 100 TB path):
    fingerprints are bucketed on (band index, 6-bit band value, lang)
    and only bucket-mates are paired — pigeonhole over 5 bands
    guarantees no pair within Hamming<=4 is missed. Same oracle as
    dd_simhash; pytest proves pair-set equality with the quadratic
    version (tests/test_llm_ops.py)."""
    from ensembl_database_loader_spark.operators.dedup import simhash_pairs_banded

    ensure_session_confs(spark)
    pairs = simhash_pairs_banded(
        _corpus(spark, sf), "doc_id", "text", "lang", max_hamming=4
    )
    return pairs.agg(
        _cnt(F.col("hamming") <= 4).alias("pair_cnt"),
        _cnt(F.col("hamming") == 0).alias("zero_ham_cnt"),
    )


_QUALITY_SCORE_SQL = (
    "(CASE WHEN n BETWEEN 100 AND 400 THEN 1 ELSE 0 END) "
    "+ (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) "
    ">= 0.5 THEN 1 ELSE 0 END) "
    "+ (CASE WHEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE) "
    "/ greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END)"
)

_CURATE_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"q0 AS (SELECT id, lang, text, {_toks('text')} AS toks, length(text) AS n FROM c), "
    f"q AS (SELECT id, lang, text FROM q0 WHERE {_QUALITY_SCORE_SQL} >= 2), "
    f"e AS (SELECT id, lang, text FROM (SELECT id, lang, text, "
    f"ROW_NUMBER() OVER (PARTITION BY {_norm('text')} ORDER BY id) AS rn FROM q) t "
    "WHERE rn = 1), "
    f"s AS (SELECT id, lang, {_shingles(_toks('text'))} AS sh FROM e), "
    "p AS (SELECT a.id AS id1, b.id AS id2 FROM s a "
    "JOIN s b ON a.lang = b.lang AND a.id < b.id "
    "WHERE " + _JACCARD.format(a="a.sh", b="b.sh") + " >= 0.8), "
    "k AS (SELECT * FROM e WHERE id NOT IN (SELECT DISTINCT id2 FROM p)) "
    "SELECT (SELECT COUNT(*) FROM c) AS n_input, "
    "(SELECT COUNT(*) FROM q) AS n_quality, "
    "(SELECT COUNT(*) FROM e) AS n_exact, "
    "(SELECT COUNT(*) FROM k) AS n_kept, "
    f"(SELECT CAST(SUM(len({_toks('text')})) AS BIGINT) FROM k) AS tokens_kept"
)


@probe("llp_curation_funnel", oracle=_CURATE_ORACLE, tags=("llm", "pipeline"))
def llp_curation(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end corpus curation funnel (pipeline/curate.py): quality
    filter -> deterministic exact dedup (smallest id per normalized
    text) -> keep-first near-dup dedup (inverted-index Jaccard >= 0.8
    blocked by lang) -> token accounting. The oracle recomputes the
    ENTIRE funnel in SQL, so every stage's semantics are checked in
    composition, not just in isolation.

    The probe pins ``near_dup='inverted'``: the synthetic fixture's
    shingle frequencies are near-uniform, so PPJoin prefix filtering
    (the API default, heavy-tail-safe for real corpora) pays its extra
    global-frequency shuffle for nothing here (measured 25s vs 3.8s at
    sf0.1). Strategy equivalence (prefix == inverted kept sets,
    minhash-blocked superset) is pinned in
    tests/test_llm_ops.py::test_curate_corpus_near_dup_strategies."""
    from ensembl_database_loader_spark.pipeline.curate import curate_corpus

    ensure_session_confs(spark)
    _kept, stats = curate_corpus(_corpus(spark, sf), near_dup="inverted")
    return stats


@probe(
    "llp_incremental_dedup",
    oracle="SELECT TRUE AS kept_equal, TRUE AS store_appended",
    tags=("llm", "pipeline", "incremental"),
)
def llp_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-run incremental dedup (pipeline/curate.py
    curate_increment): batch1 (base docs) bootstraps the fingerprint
    store — sha2 exact signatures + MinHash band keys + shingle arrays
    of the exact-stage survivors — then batch2 (the near-dup variants,
    ids +100000) is curated against the store plus itself WITHOUT
    recomputing batch1 signatures. Contract (hash-gated TRUE oracle):
    the union of the two incremental kept sets is ROW-IDENTICAL to the
    one-shot minhash-strategy run over the full corpus, and the store
    grew by append with every batch2 survivor's signature present.
    (Funnel-total additivity is pinned in
    tests/test_llm_ops.py::test_curate_increment_equals_one_shot.)
    This is the recurring-crawl-ingest workload: per-increment cost
    scales with the new batch + matched band buckets, never the
    historical corpus.

    Probe-cost controls: deterministic 1-in-5 subsample (variant ids
    are +100000 ≡ 0 mod 5, so base/variant near-dup pairs stay
    together) and the three kept frames persisted — the equality check
    references each side twice, and un-persisted funnels re-run their
    pair-generation lineage per reference (measured 75s -> single-digit
    seconds at sf0.1)."""
    import tempfile

    from ensembl_database_loader_spark.pipeline.curate import (
        curate_corpus,
        curate_increment,
    )

    ensure_session_confs(spark)
    corpus = _corpus(spark, sf).filter(F.col("doc_id") % 5 == 0)
    batch1 = corpus.filter(F.col("doc_id") < 100000)
    batch2 = corpus.filter(F.col("doc_id") >= 100000)
    store = tempfile.mkdtemp(prefix="edl_fpstore_") + "/fp"

    from concurrent.futures import ThreadPoolExecutor

    # the one-shot reference funnel shares nothing with the incremental
    # chain until the equality gate: materialize it on a second driver
    # thread so its jobs back-fill the cluster while the store
    # bootstrap + increment protocol runs (guide §2.6); the equality
    # gate then reads it from cache
    kept_one, _ = curate_corpus(corpus, near_dup="minhash")
    ko = kept_one.select("id").persist()
    with ThreadPoolExecutor(max_workers=1) as ex:
        fut_one = ex.submit(ko.count)
        kept1, _ = curate_corpus(batch1, near_dup="minhash", store_path=store)
        n_store_1 = spark.read.parquet(store + "/exact_sigs").count()
        kept2, _ = curate_increment(batch2, store)
        k1 = kept1.select("id").persist()
        k2 = kept2.select("id").persist()
        fut_one.result()

    kept_inc = k1.unionByName(k2)
    sym_diff = kept_inc.exceptAll(ko).unionAll(ko.exceptAll(kept_inc))

    store_sigs = spark.read.parquet(store + "/exact_sigs")
    n_store_2 = store_sigs.count()
    missing_sigs = k2.join(
        store_sigs.select("id"), "id", "left_anti"
    ).count()
    store_appended = n_store_2 > n_store_1 and missing_sigs == 0
    return sym_diff.agg((_cnt() == 0).alias("kept_equal")).select(
        "kept_equal", F.lit(bool(store_appended)).alias("store_appended")
    )


_COMPONENTS_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"s AS (SELECT id, lang, {_shingles(_toks('text'))} AS sh FROM c), "
    "p AS (SELECT a.id AS id1, b.id AS id2 FROM s a "
    "JOIN s b ON a.lang = b.lang AND a.id < b.id "
    "WHERE " + _JACCARD.format(a="a.sh", b="b.sh") + " >= 0.8), "
    "sym AS (SELECT id1 AS src, id2 AS dst FROM p "
    "UNION SELECT id2, id1 FROM p), "
    "reach AS (WITH RECURSIVE r(v, l) AS ("
    "SELECT id, id FROM c "
    "UNION SELECT e.dst, r.l FROM r JOIN sym e ON e.src = r.v) "
    "SELECT v AS id, MIN(l) AS component FROM r GROUP BY v), "
    "clusters AS (SELECT component, COUNT(*) AS sz FROM reach GROUP BY component), "
    # r8: keep-best-per-cluster — survivor = argmax pseudo-quality
    # (id*31)%97, id tie-break; row-level exact via the id sum
    "win AS (SELECT r.id, ROW_NUMBER() OVER (PARTITION BY r.component "
    "ORDER BY (r.id * 31) % 97 DESC, r.id) AS rn FROM reach r) "
    "SELECT (SELECT COUNT(*) FROM reach) AS n_nodes, "
    "(SELECT COUNT(*) FROM clusters) AS n_components, "
    "(SELECT MAX(sz) FROM clusters) AS max_cluster, "
    "(SELECT COUNT(*) FROM clusters WHERE sz > 1) AS nontrivial_components, "
    "(SELECT CAST(SUM(component) AS BIGINT) FROM reach) AS sum_component, "
    "(SELECT CAST(COUNT(*) AS BIGINT) FROM win WHERE rn = 1) AS kb_n_kept, "
    "(SELECT CAST(SUM(id) AS BIGINT) FROM win WHERE rn = 1) AS kb_id_sum"
)


@probe("dd_connected_components", oracle=_COMPONENTS_ORACLE, tags=("llm", "dedup", "iterative"))
def dd_components(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cluster-level dedup: connected components (iterative
    min-label propagation, operators/components.py) over the Jaccard
    >= 0.8 near-dup pair graph — the transitive closure the keep-first
    funnel rule approximates. Oracle = DuckDB recursive-CTE reachability
    over the identical edge set, so per-node component labels must
    agree exactly (checked via count/size/sum aggregates). r8: the
    same probe gates keep-best-per-cluster dedup
    (operators/components.dedup_keep_best) — survivor = argmax of a
    pseudo-quality (id*31)%97 with id tie-break — row-level exact via
    the survivor id sum."""
    from ensembl_database_loader_spark.operators.components import (
        connected_components,
        dedup_keep_best,
    )

    ensure_session_confs(spark)
    c = _corpus(spark, sf)
    edges = ngram_jaccard_pairs(c, "doc_id", "text", "lang", n=3, threshold=0.8)
    labels = connected_components(
        c.select(F.col("doc_id").alias("id")), edges.select("id1", "id2")
    ).persist()
    labels.count()  # materialize the cache BEFORE the branches race it
    clusters = labels.groupBy("component").agg(_cnt().alias("sz"))
    # reuse the labels — dedup_keep_best would otherwise re-run the
    # iterative phase (measured 2.5x probe cost without this) — and
    # feed it from the labels' id set: the pseudo-quality is a pure
    # function of id, so re-scanning the fixture corpus buys nothing
    kb = dedup_keep_best(
        labels.select(
            F.col("id").alias("doc_id"),
            ((F.col("id") * 31) % 97).alias("q"),
        ),
        edges.select("id1", "id2"),
        "doc_id",
        "q",
        components=labels,
    ).agg(
        _cnt().alias("kb_n_kept"),
        F.sum("doc_id").cast("bigint").alias("kb_id_sum"),
    )
    return (
        labels.agg(_cnt().alias("n_nodes"), F.sum("component").cast("bigint").alias("sum_component"))
        .crossJoin(
            clusters.agg(
                _cnt().alias("n_components"),
                F.max("sz").alias("max_cluster"),
                _cnt(F.col("sz") > 1).alias("nontrivial_components"),
            )
        )
        .crossJoin(kb)
    )


_SIMHASH64_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"tk AS (SELECT id, lang, unnest(list_distinct({_toks('text')})) AS tok FROM c), "
    "n AS (SELECT COUNT(*) AS n FROM c), "
    "dfreq AS (SELECT tok, COUNT(*) AS df FROM tk GROUP BY tok), "
    "w AS (SELECT tok, CASE WHEN df * 10 > (SELECT n FROM n) THEN 1 "
    "WHEN df * 100 > (SELECT n FROM n) THEN 4 ELSE 16 END AS wt, "
    + _POLY_HASH.format(s="tok") + " AS h1, "
    + _POLY_HASH.format(s="('2|' || tok)") + " AS h2 FROM dfreq), "
    "th AS (SELECT tk.id, tk.lang, w.wt, w.h1, w.h2 FROM tk JOIN w USING (tok)), "
    "bits AS (SELECT id, lang, j, "
    "SUM(CASE WHEN (((CASE WHEN j < 30 THEN h1 ELSE h2 END) >> (j % 30)) & 1) = 1 "
    "THEN wt ELSE -wt END) AS v "
    "FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS j) jj "
    "GROUP BY id, lang, j), "
    "fp AS (SELECT id, lang, CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << j) "
    "ELSE 0 END) AS BIGINT) AS f FROM bits GROUP BY id, lang), "
    "p AS (SELECT bit_count(xor(a.f, b.f)) AS ham FROM fp a "
    "JOIN fp b ON a.lang = b.lang AND a.id < b.id) "
    "SELECT COUNT(*) FILTER (WHERE ham <= 4) AS pair_cnt, "
    "COUNT(*) FILTER (WHERE ham = 0) AS zero_ham_cnt FROM p"
)


@probe("dd_simhash64_idf", oracle=_SIMHASH64_ORACLE, tags=("llm", "dedup"))
def dd_simhash64(spark: SparkSession, sf: str) -> DataFrame:
    """Production simhash-dedup construction (Manku et al., WWW'07
    shape): 60-bit fingerprint (two salted polynomial folds) with
    tiered integer idf weights — rare tokens dominate the vote, giving
    banding real bit entropy — then group-level banded pair generation
    (12-bit bands, Hamming <= 4). Every arithmetic step is integer, so
    the oracle replicates fingerprints bit-for-bit."""
    from ensembl_database_loader_spark.operators.dedup import simhash64_pairs_banded

    ensure_session_confs(spark)
    pairs = simhash64_pairs_banded(
        _corpus(spark, sf), "doc_id", "text", "lang", max_hamming=4
    )
    return pairs.agg(
        _cnt(F.col("hamming") <= 4).alias("pair_cnt"),
        _cnt(F.col("hamming") == 0).alias("zero_ham_cnt"),
    )


@probe(
    "dd_embedding_neardup",
    oracle=(
        "WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) "
        "AS v FROM embeddings), "
        "p AS (SELECT ROUND(" + _COS.format(a="a.v", b="b.v") + ", 6) AS c "
        "FROM e a JOIN e b ON a.vec_id < b.vec_id) "
        "SELECT COUNT(*) FILTER (WHERE c >= 0.5) AS near_cnt, "
        "COUNT(*) FILTER (WHERE c >= 0.9) AS dup_cnt, "
        "ROUND(MAX(c), 2) AS max_cos FROM p"
    ),
    tags=("llm", "dedup"),
)
def dd_embedding(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: all-pairs stats (counts at 0.5/0.9
    thresholds + max). Quadratic baseline; the LSH-bucketed variant is
    ss_ann_lsh."""
    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings")
    pairs = embedding_neardup_pairs(e, "vec_id", "embedding", threshold=-1.0)
    return pairs.agg(
        _cnt(F.col("cos") >= 0.5).alias("near_cnt"),
        _cnt(F.col("cos") >= 0.9).alias("dup_cnt"),
        F.round(F.max("cos"), 2).alias("max_cos"),
    )


@probe(
    "ss_ann_lsh",
    oracle="SELECT TRUE AS returned_k, TRUE AS planted_found",
    tags=("llm", "similarity", "approx"),
)
def ss_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate NN: multi-table random-hyperplane LSH bucket + exact
    cosine re-rank.

    Assertable contract: the fixture's embeddings are RANDOM vectors,
    so top-5-vs-exact recall is a coin flip (measured 0-0.6 across
    scale factors) and no honest recall bound exists. What hyperplane
    LSH DOES guarantee is near-certain recovery of a true near-dup
    (cosine ~1 shares every sign bit with probability ~1), so the probe
    PLANTS one — the query vector scaled by 1.0001 under a fresh id —
    and asserts the ANN search surfaces it. Both contract booleans
    (k results returned, plant recovered) are hash-gated by a
    TRUE-declaring oracle; an LSH regression that breaks bucketing
    breaks the hash."""
    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    planted_id = 999_999_937
    planted = e.filter(F.col("vec_id") == 0).select(
        F.lit(planted_id).cast(e.schema["vec_id"].dataType).alias("vec_id"),
        F.transform("embedding", lambda x: (x * 1.0001).cast("float")).alias(
            "embedding"
        ),
    )
    corpus = e.unionByName(planted)
    approx = lsh_bucket_topk(corpus, "vec_id", "embedding", query_id=0, k=5)
    return approx.agg(
        (_cnt() == 5).alias("returned_k"),
        (_cnt(F.col("vec_id") == planted_id) == 1).alias("planted_found"),
    )


# ---------------------------------------------------------------------------
# Text analysis extensions
# ---------------------------------------------------------------------------

_RATIO = (
    "CAST(len(list_filter({toks}, t -> list_contains({sws}, t))) AS DOUBLE) "
    "/ greatest(len({toks}), 1)"
)

_LANGID_ORACLE = (
    f"WITH t AS (SELECT lang, {_toks('text')} AS toks FROM documents), "
    "r AS (SELECT lang, "
    + _RATIO.format(toks="toks", sws="['der','die','und','das','ein']") + " AS r_de, "
    + _RATIO.format(toks="toks", sws="['the','a','of','and','to']") + " AS r_en, "
    + _RATIO.format(toks="toks", sws="['el','la','de','y','que']") + " AS r_es, "
    + _RATIO.format(toks="toks", sws="['le','la','et','de','un']") + " AS r_fr FROM t), "
    "g AS (SELECT lang, CASE WHEN greatest(r_de, r_en, r_es, r_fr) < 0.02 THEN 'und' "
    "WHEN r_de >= greatest(r_en, r_es, r_fr) THEN 'de' "
    "WHEN r_en >= greatest(r_es, r_fr) THEN 'en' "
    "WHEN r_es >= r_fr THEN 'es' ELSE 'fr' END AS lang_guess FROM r) "
    "SELECT lang, lang_guess, COUNT(*) AS cnt FROM g "
    "GROUP BY lang, lang_guess ORDER BY lang, lang_guess"
)


@probe("tx_langid", oracle=_LANGID_ORACLE, tags=("llm", "text"))
def tx_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-profile language-ID heuristic vs the labeled lang
    (confusion counts). First-in-sorted-order wins ties, matching the
    oracle's >=-chain."""
    ensure_session_confs(spark)
    d = with_lang_guess(table(spark, sf, "documents"), "text")
    return (
        d.groupBy("lang", "lang_guess")
        .agg(_cnt().alias("cnt"))
        .orderBy("lang", "lang_guess")
    )


@probe(
    "tx_token_counts",
    oracle=(
        f"WITH t AS (SELECT lang, {_toks('text')} AS toks FROM documents) "
        "SELECT lang, CAST(SUM(len(toks)) AS BIGINT) AS total_tokens, "
        "CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS total_distinct_tokens, "
        "ROUND(AVG(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a, b) -> a + b) AS DOUBLE) "
        "/ greatest(len(toks), 1)), 2) AS avg_tok_len "
        "FROM t GROUP BY lang ORDER BY lang"
    ),
    tags=("llm", "text"),
)
def tx_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """Token counting per language (whitespace tokenizer): totals +
    mean token length."""
    ensure_session_confs(spark)
    d = with_token_stats(table(spark, sf, "documents"), "text")
    return (
        d.groupBy("lang")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("n_distinct_tokens").cast("bigint").alias("total_distinct_tokens"),
            F.round(F.avg("mean_tok_len"), 2).alias("avg_tok_len"),
        )
        .orderBy("lang")
    )


@probe(
    "tx_fingerprint",
    oracle=(
        f"WITH f AS (SELECT {_POLY_HASH.format(s=_norm('text'))} AS fp FROM documents) "
        "SELECT COUNT(DISTINCT fp) AS distinct_fp, CAST(MIN(fp) AS BIGINT) AS min_fp, "
        "CAST(MAX(fp) AS BIGINT) AS max_fp FROM f"
    ),
    tags=("llm", "text"),
)
def tx_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Document fingerprinting: polynomial rolling hash of normalized
    text (mod 1e9+7), replicated bit-for-bit by the oracle's
    list_reduce fold."""
    ensure_session_confs(spark)
    d = with_fingerprint(table(spark, sf, "documents"), "text")
    return d.agg(
        F.countDistinct("fingerprint").alias("distinct_fp"),
        F.min("fingerprint").cast("bigint").alias("min_fp"),
        F.max("fingerprint").cast("bigint").alias("max_fp"),
    )


@probe(
    "tx_regex_token_counts",
    oracle=(
        "WITH t AS (SELECT lang, regexp_extract_all(lower(text), "
        "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n]+', 0) AS toks FROM documents) "
        "SELECT lang, CAST(SUM(len(toks)) AS BIGINT) AS total_pretokens, "
        "CAST(SUM(len(list_distinct(toks))) AS BIGINT) AS total_distinct_pretokens, "
        "CAST(SUM(len(list_filter(toks, t -> NOT regexp_matches(t, '^[a-z0-9]')))) "
        "AS BIGINT) AS total_punct_runs "
        "FROM t GROUP BY lang ORDER BY lang"
    ),
    tags=("llm", "text"),
)
def tx_regex_tokens(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish pre-tokenization counts per language (letter / digit /
    punctuation runs — the GPT-2 pre-split shape with engine-portable
    ASCII classes). Pure JVM regex, one codegen'd pass."""
    from ensembl_database_loader_spark.operators.textstats import with_regex_tokens

    ensure_session_confs(spark)
    d = with_regex_tokens(table(spark, sf, "documents"))
    return (
        d.groupBy("lang")
        .agg(
            F.sum("n_pretokens").cast("bigint").alias("total_pretokens"),
            F.sum("n_distinct_pretokens")
            .cast("bigint")
            .alias("total_distinct_pretokens"),
            F.sum("n_punct_runs").cast("bigint").alias("total_punct_runs"),
        )
        .orderBy("lang")
    )


@probe(
    "tx_repetition",
    oracle=(
        f"WITH t AS (SELECT doc_id AS id, {_toks('text')} AS l FROM documents), "
        "w AS (SELECT id, unnest(l) AS w FROM t), "
        "wc AS (SELECT id, w, COUNT(*) AS c FROM w GROUP BY id, w), "
        "ws AS (SELECT id, MAX(c) AS top_w, CAST(SUM(c) AS BIGINT) AS n_words, "
        "COUNT(*) AS n_distinct FROM wc GROUP BY id), "
        "b AS (SELECT id, l[i] || ' ' || l[i+1] AS bgm FROM t, "
        "UNNEST(generate_series(1, len(l) - 1)) AS g(i)), "
        "bc AS (SELECT id, bgm, COUNT(*) AS c FROM b GROUP BY id, bgm), "
        "bs AS (SELECT id, MAX(c) AS top_b, SUM(c) AS n_bg FROM bc GROUP BY id), "
        "d AS (SELECT ws.id, "
        "top_w / CAST(n_words AS DOUBLE) AS twf, "
        "(n_words - n_distinct) / CAST(n_words AS DOUBLE) AS dwf, "
        "COALESCE(top_b / CAST(n_bg AS DOUBLE), 0.0) AS tbf "
        "FROM ws LEFT JOIN bs ON ws.id = bs.id) "
        "SELECT COUNT(*) AS n_docs, "
        "COUNT(*) FILTER (WHERE twf > 0.2) AS repetitive_docs, "
        "ROUND(SUM(dwf), 2) AS sum_dup_frac, "
        "ROUND(SUM(tbf), 2) AS sum_bigram_frac FROM d"
    ),
    tags=("llm", "text"),
)
def tx_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals (top-word / duplicate-word /
    top-bigram fractions, operators/textstats.py repetition_stats)
    rolled up over the corpus: doc counts past the 0.2 top-word
    threshold plus fraction sums — the repetition-filter stage of a
    pretraining curation stack, fully SQL-replicable."""
    from ensembl_database_loader_spark.operators.textstats import repetition_stats

    ensure_session_confs(spark)
    r = repetition_stats(table(spark, sf, "documents"))
    return r.agg(
        _cnt().alias("n_docs"),
        _cnt(F.col("top_word_frac") > 0.2).alias("repetitive_docs"),
        F.round(F.sum("dup_word_frac"), 2).alias("sum_dup_frac"),
        F.round(F.sum("top_bigram_frac"), 2).alias("sum_bigram_frac"),
    )


@probe(
    "tx_boilerplate",
    oracle=(
        f"WITH t AS (SELECT doc_id AS id, {_shingles(_toks('text'))} AS sh "
        "FROM documents), "
        "e AS (SELECT id, unnest(sh) AS shingle FROM t), "
        "fl AS (SELECT shingle, COUNT(DISTINCT id) AS nd FROM e "
        "GROUP BY shingle HAVING COUNT(DISTINCT id) >= 3), "
        "h AS (SELECT e.id, COUNT(*) AS nb FROM e JOIN fl USING (shingle) "
        "GROUP BY e.id), "
        "d AS (SELECT t.id, len(sh) AS ns, COALESCE(nb, 0) AS nb "
        "FROM t LEFT JOIN h ON t.id = h.id) "
        "SELECT (SELECT COUNT(*) FROM fl) AS n_boilerplate_ngrams, "
        "CAST(COUNT(*) FILTER (WHERE nb > 0) AS BIGINT) AS docs_affected, "
        "ROUND(SUM(CASE WHEN ns > 0 THEN nb / CAST(ns AS DOUBLE) "
        "ELSE 0.0 END), 2) AS sum_boilerplate_frac FROM d"
    ),
    tags=("llm", "text"),
)
def tx_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document boilerplate: word 3-grams recurring in >= 3
    distinct documents (template chrome / license blurbs), rolled up as
    flagged-ngram count, affected docs, and contamination-fraction sum
    (operators/textstats.py crossdoc_boilerplate). The flagged set is
    small by construction, so the doc back-join broadcasts."""
    from ensembl_database_loader_spark.operators.textstats import (
        crossdoc_boilerplate,
    )

    ensure_session_confs(spark)
    flagged, docs = crossdoc_boilerplate(table(spark, sf, "documents"))
    return (
        flagged.agg(_cnt().alias("n_boilerplate_ngrams"))
        .crossJoin(
            docs.agg(
                _cnt(F.col("n_boilerplate") > 0).alias("docs_affected"),
                F.round(F.sum("boilerplate_frac"), 2).alias("sum_boilerplate_frac"),
            )
        )
    )


@probe(
    "ss_ann_ivf",
    oracle="SELECT TRUE AS returned_k, TRUE AS recall_ok",
    tags=("llm", "similarity", "approx"),
)
def ss_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate NN via IVF cells (nearest-centroid partitioning,
    n_probe-cell scan, exact re-rank), asserted against the exact
    top-5. The raw overlap is engine-specific, so the probe emits only
    the contract booleans — k results returned and recall >= 0.6 —
    which the oracle declares TRUE: an IVF regression that tanks recall
    hash-mismatches. (Measured recall: 0.8 at sf0.001, 1.0 at
    sf0.01/sf0.1, so the 0.6 bound has >= 1-cell slack.) ss_ann_lsh
    stays rows-only: hyperplane-LSH recall for moderately-similar
    neighbors is legitimately fixture-dependent (0 at sf0.01).
    Complements ss_ann_lsh as the second standard ANN scale path."""
    from ensembl_database_loader_spark.operators.similarity import ivf_topk

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings")
    # persist the 5-row results: each feeds two DAG branches (agg +
    # intersect) and would otherwise recompute its whole scan path
    exact = cosine_topk(e, "vec_id", "embedding", query_id=0, k=5).persist()
    approx = ivf_topk(e, "vec_id", "embedding", query_id=0, k=5).persist()
    overlap = exact.select("vec_id").intersect(approx.select("vec_id"))
    return (
        approx.agg(_cnt().alias("ann_results"))
        .crossJoin(overlap.agg(_cnt().alias("overlap_with_exact")))
        .select(
            (F.col("ann_results") == 5).alias("returned_k"),
            (F.col("overlap_with_exact") / F.lit(5.0) >= 0.6).alias("recall_ok"),
        )
    )


@probe(
    "ss_ann_ivf_indexed",
    oracle=(
        "SELECT TRUE AS returned_k, TRUE AS matches_unindexed, "
        "TRUE AS recall_ok"
    ),
    tags=("llm", "similarity", "approx", "index"),
)
def ss_ann_ivf_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Materialized IVF ANN index: ``build_ann_index`` assigns cells
    ONCE and commits the corpus as a manifest table partitioned by
    ``_cell``; ``ivf_topk_indexed`` reads only the n_probe probed cells
    (PartitionFilters-pruned, pinned in tests/test_plan_quality.py) —
    the 100 TB serving path, vs ``ss_ann_ivf`` which re-assigns the
    whole corpus per query.

    Contract (all hash-gated by a TRUE-declaring oracle): k results
    returned; the indexed result is ROW-IDENTICAL to the unindexed
    ``ivf_topk`` with the same deterministic centroids (same grid init,
    same GEMM assignment, same exact-cosine re-rank — symmetric
    exceptAll must be empty); recall vs exact top-5 >= 0.6 (same bound
    ss_ann_ivf carries, measured 0.8-1.0 across fixtures)."""
    import tempfile

    from ensembl_database_loader_spark.operators.similarity import (
        build_ann_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="edl_annidx_") + "/embeddings"
    build_ann_index(e, "vec_id", "embedding", path, n_cells=16)

    qvec = list(
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    # the three 5-row gate frames collect concurrently (each serving
    # form evaluated exactly once) and the identity/recall checks run
    # driver-side — the exceptAll/intersect formulation re-read the
    # index per DAG branch and paid the extra gate exchanges
    irows, drows, erows = _collect_sorted_parallel(
        ivf_topk_indexed(spark, path, qvec, k=5, n_probe=4, exclude_id=0),
        ivf_topk(e, "vec_id", "embedding", query_id=0, k=5),
        cosine_topk(e, "vec_id", "embedding", query_id=0, k=5).select(
            "vec_id"
        ),
    )
    hits = len({r[0] for r in erows} & {r[0] for r in irows})
    return spark.range(1).select(
        F.lit(len(irows) == 5).alias("returned_k"),
        F.lit(irows == drows).alias("matches_unindexed"),
        F.lit(hits / 5.0 >= 0.6).alias("recall_ok"),
    )


def _dir_data_bytes(path: str) -> int:
    import os

    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


@probe(
    "ss_ann_ivf_quant",
    oracle=(
        "SELECT TRUE AS qi_returned_k, TRUE AS qi_recall_ok, "
        "TRUE AS qi_matches_full, TRUE AS qi_bytes_halved"
    ),
    tags=("llm", "similarity", "approx", "index", "quantize"),
)
def ss_ann_ivf_quant(spark: SparkSession, sf: str) -> DataFrame:
    """Int8-quantized materialized IVF index
    (``build_ann_index(quantized=True)``): the index stores
    ``array<tinyint>`` codes + a per-vector scale instead of float
    vectors — the 4x storage/IO lever applied to the hot serving copy.
    The symmetric per-vector scheme's scale cancels in cosine
    (cos(s*q, y) == cos(q, y)), so the re-rank runs directly on the
    int8 codes: no dequantize column in the query plan, and ranking
    error comes only from the int8 rounding itself.

    Hash-gated contract (TRUE-declaring oracle): k results returned;
    recall@5 vs the exact brute-force top-5 >= 0.6 (the bound the
    full-precision index carries); overlap with the FULL-precision
    indexed top-5 >= 3/5 (int8 rounding may legitimately flip
    near-tied iid neighbours); and the quantized index's data bytes
    are UNDER HALF the full-precision index's — measured in-probe, so
    the storage claim is gated, not asserted (the ~4x raw-element
    ratio lands as ~3-4x in parquet because tinyint arrays
    dictionary-encode; COVERAGE.md records the measured ratio)."""
    import tempfile

    from ensembl_database_loader_spark.operators.similarity import (
        build_ann_index,
        ivf_topk_indexed,
    )

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    root = tempfile.mkdtemp(prefix="edl_annq_")
    full_path, quant_path = root + "/full", root + "/quant"
    build_ann_index(e, "vec_id", "embedding", full_path, n_cells=16)
    build_ann_index(e, "vec_id", "embedding", quant_path, n_cells=16, quantized=True)
    bytes_halved = _dir_data_bytes(quant_path) < 0.5 * _dir_data_bytes(full_path)

    qvec = list(
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    quant = ivf_topk_indexed(
        spark, quant_path, qvec, k=5, n_probe=4, exclude_id=0
    ).persist()
    full = ivf_topk_indexed(
        spark, full_path, qvec, k=5, n_probe=4, exclude_id=0
    ).persist()
    exact = cosine_topk(e, "vec_id", "embedding", query_id=0, k=5).persist()
    return (
        quant.agg(_cnt().alias("n"))
        .crossJoin(
            exact.select("vec_id")
            .intersect(quant.select("vec_id"))
            .agg(_cnt().alias("hits_exact"))
        )
        .crossJoin(
            full.select("vec_id")
            .intersect(quant.select("vec_id"))
            .agg(_cnt().alias("hits_full"))
        )
        .select(
            (F.col("n") == 5).alias("qi_returned_k"),
            (F.col("hits_exact") >= 3).alias("qi_recall_ok"),
            (F.col("hits_full") >= 3).alias("qi_matches_full"),
            F.lit(bool(bytes_halved)).alias("qi_bytes_halved"),
        )
    )


@probe(
    "ss_ann_pq_indexed",
    oracle=(
        "SELECT TRUE AS pqix_returned_k, TRUE AS pqix_cluster_pure, "
        "TRUE AS pqix_refine_recall_ok, TRUE AS pqix_residual_fidelity, "
        "TRUE AS pqix_bytes_lt_int8"
    ),
    tags=("llm", "similarity", "approx", "index", "quantize", "recall"),
)
def ss_ann_pq_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """IVF x PQ materialized index — the standard billion-vector
    composition (IVF prunes WHICH cells a query scans, PQ shrinks WHAT
    the scan reads): ``build_ann_index(quantized='pq')`` persists
    8-BYTE code rows partitioned by k-means cell (codebooks in the
    index table's properties), ``pq_topk_indexed`` ADC-scans only the
    n_probe probed cell partitions (PartitionFilters-pruned, pinned in
    tests/test_plan_quality.py) and re-ranks the top-``refine``
    candidates against full-precision vectors fetched by id.

    Hash-gated contract (TRUE-declaring oracle) on the planted-cluster
    fixture: the ADC-only path returns k rows, ALL from the query's
    true cluster (coarse ranking from 8-byte codes alone — the same
    purity gate ss_ann_pq_recall carries; fine-ranking 250 near-dup
    members at cosine ~0.996 is beyond any 8-byte code, which is
    exactly WHY the serving path re-ranks); the refine path
    (refine=200 of ~500 probed candidates — at billion scale, ~4k of
    millions) achieves recall@5 >= 0.8 vs the exact cosine top-5;
    RESIDUAL encoding (codes quantize ``xn - centroid_cell`` — the
    8-byte budget spent on the much smaller residual) estimates true
    distances with LOWER mean ADC error than non-residual codes over
    the probed candidates (measured ~0.0048 vs ~0.0075 here — the
    standard-composition claim, gated as a measured comparison); and
    the PQ index's data bytes are measured UNDER the int8 index's
    (itself under half the float index per ss_ann_ivf_quant) — the
    full storage ladder float > int8 > pq is gated, not asserted.
    Reference analogue: priority-pruned routing, Prioritise.pm:70-81."""
    import tempfile

    from ensembl_database_loader_spark.functions.vectors import cosine
    from ensembl_database_loader_spark.operators.similarity import (
        build_ann_index,
        kmeans_centroids,
        pq_topk_indexed,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()
    cents = kmeans_centroids(corpus, "vec_id", "embedding", n_cells=8, n_iter=3)
    root = tempfile.mkdtemp(prefix="edl_annpq_")
    res_path, plain_path, int8_path = (
        root + "/res", root + "/plain", root + "/int8"
    )
    # the three builds share the persisted corpus and the precomputed
    # centroids and write to disjoint paths: run them as concurrent
    # write jobs instead of three sequential ones
    from concurrent.futures import ThreadPoolExecutor

    def _build(args):
        path, quant, residual = args
        build_ann_index(
            corpus, "vec_id", "embedding", path, n_cells=8,
            centroids=cents, quantized=quant, pq_m=8, pq_k=16,
            pq_residual=residual,
        )

    with ThreadPoolExecutor(max_workers=3) as ex:
        list(
            ex.map(
                _build,
                (
                    (res_path, "pq", True),
                    (plain_path, "pq", False),
                    (int8_path, "int8", False),
                ),
            )
        )
    bytes_lt_int8 = _dir_data_bytes(res_path) < _dir_data_bytes(int8_path)

    qvec = list(
        corpus.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    exact = (
        cosine_topk(corpus, "vec_id", "embedding", query_id=0, k=5)
        .select("vec_id")
        .persist()
    )
    adc = pq_topk_indexed(
        spark, res_path, qvec, k=5, n_probe=2, exclude_id=0
    ).persist()
    refine = pq_topk_indexed(
        spark, res_path, qvec, k=5, n_probe=2, refine=200,
        corpus=corpus, exclude_id=0,
    ).persist()

    # mean |adc - true_L2| over every probed candidate, both encodings:
    # true L2 on normalized vectors is 2 - 2*cos(x, q), so one join
    # against the exact-cosine frame scores ADC fidelity row-by-row
    qcol = F.array(*[F.lit(float(x)) for x in qvec])
    true_d = corpus.select(
        "vec_id",
        (F.lit(2.0) - F.lit(2.0) * cosine(F.col("embedding"), qcol)).alias(
            "_true"
        ),
    )

    def _mean_err(path: str):
        full = pq_topk_indexed(
            spark, path, qvec, k=1_000_000, n_probe=2, exclude_id=0
        )
        return (
            full.join(true_d, "vec_id")
            .agg(F.avg(F.abs(F.col("adc_dist") - F.col("_true"))).alias("e"))
        )

    err_res = _mean_err(res_path).select(F.col("e").alias("e_res"))
    err_plain = _mean_err(plain_path).select(F.col("e").alias("e_plain"))

    return (
        adc.agg(
            _cnt().alias("n"),
            F.max(F.pmod("vec_id", F.lit(8))).alias("max_mod"),
        )
        .crossJoin(
            exact.intersect(refine.select("vec_id"))
            .agg(_cnt().alias("hits_refine"))
        )
        .crossJoin(err_res)
        .crossJoin(err_plain)
        .select(
            (F.col("n") == 5).alias("pqix_returned_k"),
            (F.col("max_mod") == 0).alias("pqix_cluster_pure"),
            (F.col("hits_refine") >= 4).alias("pqix_refine_recall_ok"),
            (F.col("e_res") < F.col("e_plain")).alias(
                "pqix_residual_fidelity"
            ),
            F.lit(bool(bytes_lt_int8)).alias("pqix_bytes_lt_int8"),
        )
    )


@probe(
    "ss_ann_batch",
    oracle=(
        "SELECT TRUE AS bq_n_queries_ok, TRUE AS bq_n_pairs_ok, "
        "TRUE AS bq_matches_loop, TRUE AS bq_matches_mirror"
    ),
    tags=("llm", "similarity", "approx", "batch"),
)
def ss_ann_batch(spark: SparkSession, sf: str) -> DataFrame:
    """BATCH-query ANN (``ivf_topk_many``): 100 queries answered in ONE
    plan — one corpus cell-assignment pass, the probed-cell-exploded
    query side broadcast into a hash join, one per-query window top-k —
    vs the O(queries) full corpus scans a loop over ``ivf_topk`` costs
    (the retrieval-sweep / contamination-kNN shape).

    Hash-gated contract (TRUE-declaring oracle): 100 queries produce
    exactly 100 x k pairs; for one query PER CLUSTER (qids 0..7) the
    batch rows are ROW-IDENTICAL (id, cos, rank) to the single-query
    ``ivf_topk`` with the same deterministic grid centroids; and ALL
    100 queries' top-5 id sets match an independent driver-side numpy
    mirror of the IVF math (same normalization, same probe order, same
    rounded-cosine tie-break) — the loop-parity check at full batch
    width without 100 Spark jobs."""
    import numpy as np

    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_many,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()
    queries = corpus.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    batch = ivf_topk_many(
        queries, corpus, "qid", "qvec", "vec_id", "embedding",
        k=5, n_cells=8, n_probe=2, exclude_self=True,
    )
    # every gate frame is tiny (batch = 500 rows, singles <= 5): build
    # them all lazily, collect CONCURRENTLY (each serving form runs
    # exactly once), and run the multiset compares, the numpy mirror,
    # and the count checks driver-side — the symmetric-exceptAll
    # formulation evaluated each single-query plan twice and paid 16
    # extra exchanges plus a union-tree final action
    singles = [
        ivf_topk(
            corpus, "vec_id", "embedding", query_id=qid, k=5,
            n_cells=8, n_probe=2,
        )
        for qid in range(8)
    ]
    collected = _collect_sorted_parallel(
        batch,
        corpus.select("vec_id", F.col("embedding").cast("array<double>")),
        *singles,
    )
    brows, rows, single_rows = collected[0], collected[1], collected[2:]

    # Spark-loop parity on one query per cluster: the (vec_id, cos)
    # multisets must match exactly for each of qids 0..7
    loop_ok = True
    for qid in range(8):
        b = sorted((r[1], r[2]) for r in brows if r[0] == qid)
        loop_ok = loop_ok and single_rows[qid] == b

    # numpy mirror of the full 100-query batch (driver-side verifier on
    # the fixture-sized corpus — the operator itself never collects)
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    x = np.array([r[1] for r in rows], dtype=np.float64)
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cn = xn[:8]  # first-8-by-id grid centroids, already normalized rows
    cells = (xn @ cn.T).argmax(axis=1)
    got = {}
    for r in brows:
        got.setdefault(r[0], set()).add(r[1])
    mirror_ok = len(got) == 100
    for qi in range(100):
        probe_cells = np.argsort(-(cn @ xn[qi]))[:2]
        cand = np.isin(cells, probe_cells) & (ids != qi)
        cos = xn[cand] @ xn[qi]
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
        order = np.lexsort((ids[cand], -cos))[:5]
        expect = set(ids[cand][order].tolist())
        mirror_ok = mirror_ok and got.get(qi, set()) == expect

    return spark.range(1).select(
        F.lit(len({r[0] for r in brows}) == 100).alias("bq_n_queries_ok"),
        F.lit(len(brows) == 500).alias("bq_n_pairs_ok"),
        F.lit(bool(loop_ok)).alias("bq_matches_loop"),
        F.lit(bool(mirror_ok)).alias("bq_matches_mirror"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@probe(
    "mm_frame_sample",
    oracle=(
        "WITH b AS (SELECT octet_length(encode(text)) AS olen FROM documents), "
        "f AS (SELECT olen, 1 + olen % 8 AS n, (1 + olen % 8 + 1) // 2 AS k FROM b) "
        "SELECT CAST(SUM(k) AS BIGINT) AS frame_cnt, "
        "CAST(SUM(k * (k - 1)) AS BIGINT) AS sum_frame_idx, "
        "CAST(SUM(k * (olen // n)) AS BIGINT) AS sum_frame_bytes FROM f"
    ),
    tags=("llm", "multimodal"),
)
def mm_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Video frame-sampling plumbing: one row fans out to every 2nd
    frame (mapInPandas UDTF shape over binary payloads); the oracle
    closed-forms the fan-out (k frames of olen//n bytes each, frame
    indices 0,2,..,2(k-1))."""
    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    payload = with_binary_payload(d, "doc_id", "text", modality="video")
    frames = sample_frames(payload, every_nth=2)
    return frames.agg(
        _cnt().alias("frame_cnt"),
        F.sum("frame_idx").cast("bigint").alias("sum_frame_idx"),
        F.sum(F.octet_length("frame_bytes")).cast("bigint").alias("sum_frame_bytes"),
    )


@probe(
    "mm_decode_stats",
    oracle=(
        "WITH m AS (SELECT doc_id, octet_length(encode(text)) AS olen FROM documents) "
        "SELECT COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS img_cnt, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 4 + olen % 13 END) AS BIGINT) AS sum_width, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 3 + doc_id % 7 END) AS BIGINT) AS sum_height, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 37 + olen) % 256 END) AS BIGINT) "
        "AS sum_mean_b, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN ((doc_id * 37 + olen) % 256 + 2) % 256 END) "
        "AS BIGINT) AS sum_mean_r, "
        "COUNT(*) FILTER (WHERE doc_id % 2 = 1) AS wav_cnt, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 8 + olen % 32 END) AS BIGINT) AS sum_frames, "
        "CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN abs(doc_id % 1000 - 500) END) AS BIGINT) "
        "AS sum_amp FROM m"
    ),
    tags=("llm", "multimodal"),
)
def mm_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL multimodal decode: deterministic 24-bit BMP (even doc_ids)
    and 16-bit PCM WAV (odd doc_ids) payloads flow through an
    Arrow-batched mapInPandas stage that genuinely parses headers,
    pixel rows (with stride), and PCM samples via stdlib struct/wave
    (multimodal/binaryops.py: encode_bmp24/decode_bmp24,
    encode_wav16/decode_wav16). The oracle closed-forms every decoded
    statistic from the generation parameters — a decoder bug (channel
    order, stride, sample width) breaks the hash match."""
    from ensembl_database_loader_spark.multimodal.binaryops import (
        build_deterministic_media,
        decode_real_media,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    stats = decode_real_media(build_deterministic_media(d, "doc_id", "text"))
    img = F.col("modality") == "image/bmp"
    wav = F.col("modality") == "audio/wav"
    return stats.agg(
        _cnt(img).alias("img_cnt"),
        F.sum(F.when(img, F.col("width"))).cast("bigint").alias("sum_width"),
        F.sum(F.when(img, F.col("height"))).cast("bigint").alias("sum_height"),
        F.sum(F.when(img, F.round("mean_b"))).cast("bigint").alias("sum_mean_b"),
        F.sum(F.when(img, F.round("mean_r"))).cast("bigint").alias("sum_mean_r"),
        _cnt(wav).alias("wav_cnt"),
        F.sum(F.when(wav, F.col("n_frames"))).cast("bigint").alias("sum_frames"),
        F.sum(F.when(wav, F.col("max_amp"))).cast("bigint").alias("sum_amp"),
    )


@probe(
    "mm_resize",
    oracle=(
        "SELECT COUNT(*) AS cnt, CAST(COUNT(*) * 96 AS BIGINT) AS sum_resized_bytes, "
        "CAST(SUM(CASE WHEN octet_length(encode(text)) >= 96 THEN 96 "
        "ELSE octet_length(encode(text)) END) AS BIGINT) AS sum_kept_bytes "
        "FROM documents"
    ),
    tags=("llm", "multimodal"),
)
def mm_resize(spark: SparkSession, sf: str) -> DataFrame:
    """Resize-stage plumbing over binary payloads (12x8 target): the
    stub truncates/pads to w*h bytes, so output sizes are exact and the
    kept-byte count (pre-padding) is oracle-predictable. The real seam
    decodes/resamples inside the same Arrow batch."""
    from ensembl_database_loader_spark.multimodal.binaryops import resize_images

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    payload = with_binary_payload(d, "doc_id", "text", modality="image")
    out = resize_images(payload, 12, 8)
    resized = out.agg(
        _cnt().alias("cnt"),
        F.sum(F.octet_length("bytes")).cast("bigint").alias("sum_resized_bytes"),
    )
    kept = payload.agg(
        F.sum(F.least(F.col("meta.n_bytes"), F.lit(96)))
        .cast("bigint")
        .alias("sum_kept_bytes")
    )
    return resized.crossJoin(kept)


@probe(
    "mm_image_neardup",
    oracle=(
        # analytic ground truth: the generator PLANTS one variant per
        # doc at exactly Hamming 2 (two cells flipped), and unrelated
        # 62-bit patterns sit ~32 apart (P[<=4] ~ 1e-13 per pair), so
        # the recovered pair set must be exactly the planted one
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(SUM(doc_id) AS BIGINT) AS id1_sum, "
        "CAST(SUM(doc_id + 500000) AS BIGINT) AS id2_sum, "
        "CAST(MIN(2) AS INT) AS min_hamming, "
        "CAST(MAX(2) AS INT) AS max_hamming "
        "FROM documents WHERE doc_id < 5000"
    ),
    tags=("llm", "multimodal", "dedup"),
)
def mm_image_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual image near-dup (multimodal/binaryops.py): real
    pattern BMPs (one per doc + a two-cell-flipped variant), aHash-64
    per image (mean-pooled 8x8 grayscale thresholded at the global
    mean — invariant to resizing, pinned by test), then the SAME
    pigeonhole banded-Hamming join text simhash uses
    (operators/dedup.banded_hamming_pairs) — text and images dedup
    through ONE engine, only the fingerprint function differs, and
    candidates stay band-bucketed (never all-pairs) at corpus scale.
    The pair set, id sums, and both Hamming extremes must equal the
    planted ground truth exactly."""
    from ensembl_database_loader_spark.multimodal.binaryops import (
        build_pattern_media,
        image_neardup_pairs,
    )

    ensure_session_confs(spark)
    docs = (
        table(spark, sf, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 5000)  # bounded image count at every SF
    )
    media = build_pattern_media(docs, "doc_id", variant_offset=500_000)
    pairs = image_neardup_pairs(media, max_hamming=4)
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("id1").cast("bigint").alias("id1_sum"),
        F.sum("id2").cast("bigint").alias("id2_sum"),
        F.min("hamming").cast("int").alias("min_hamming"),
        F.max("hamming").cast("int").alias("max_hamming"),
    )


@probe(
    "mm_audio_neardup",
    oracle=(
        # the audio twin of mm_image_neardup's analytic ground truth
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, "
        "CAST(SUM(doc_id) AS BIGINT) AS id1_sum, "
        "CAST(SUM(doc_id + 500000) AS BIGINT) AS id2_sum, "
        "CAST(MIN(2) AS INT) AS min_hamming, "
        "CAST(MAX(2) AS INT) AS max_hamming "
        "FROM documents WHERE doc_id < 3000"
    ),
    tags=("llm", "multimodal", "dedup"),
)
def mm_audio_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual AUDIO near-dup (multimodal/binaryops.py): real 16-bit
    PCM WAVs whose amplitude envelope is the identity signal
    (duration/sample-rate invariant — a resampled clip hashes
    identically, pinned by test), amplitude-envelope hash per clip,
    then the SAME banded-Hamming engine as text simhash and image
    aHash — the third modality on one dedup machinery. Planted
    two-window-flipped variants must be recovered exactly."""
    from ensembl_database_loader_spark.multimodal.binaryops import (
        audio_neardup_pairs,
        build_envelope_media,
    )

    ensure_session_confs(spark)
    docs = (
        table(spark, sf, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 3000)  # bounded clip count at every SF
    )
    media = build_envelope_media(docs, "doc_id", variant_offset=500_000)
    pairs = audio_neardup_pairs(media, max_hamming=4)
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("id1").cast("bigint").alias("id1_sum"),
        F.sum("id2").cast("bigint").alias("id2_sum"),
        F.min("hamming").cast("int").alias("min_hamming"),
        F.max("hamming").cast("int").alias("max_hamming"),
    )


@probe(
    "mm_decode_plumbing",
    oracle=(
        "WITH b AS (SELECT octet_length(encode(text)) AS olen, "
        "unicode(substr(text, 1, 1)) AS fb FROM documents) "
        "SELECT COUNT(*) AS cnt, CAST(SUM(16 + olen % 64) AS BIGINT) AS sum_width, "
        "CAST(SUM(16 + (olen * 7 + fb) % 64) AS BIGINT) AS sum_height, "
        "CAST(SUM(1 + olen % 8) AS BIGINT) AS sum_frames, "
        "CAST(SUM(olen) AS BIGINT) AS sum_bytes FROM b"
    ),
    tags=("llm", "multimodal"),
)
def mm_decode_plumbing(spark: SparkSession, sf: str) -> DataFrame:
    """Opaque-payload decode plumbing (the seam for formats needing
    external media libs): binary payload column + typed metadata through
    decode_media_stats with the documented deterministic stand-in —
    schema, batching, and partitioning are the real 100 TB shape."""
    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    payload = with_binary_payload(d, "doc_id", "text", modality="image")
    stats = decode_media_stats(payload)
    return stats.agg(
        _cnt().alias("cnt"),
        F.sum("width").cast("bigint").alias("sum_width"),
        F.sum("height").cast("bigint").alias("sum_height"),
        F.sum("n_frames").cast("bigint").alias("sum_frames"),
        F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
    )


# ---------------------------------------------------------------------------
# Corpus-construction extensions (round 6): decontamination, data mixing,
# sequence packing, PII redaction
# ---------------------------------------------------------------------------

_CONTAM_ORACLE = (
    "WITH b AS (SELECT list(DISTINCT s) AS bl FROM (SELECT unnest("
    + _shingles(_toks("text"))
    + ") AS s FROM documents WHERE source = 'src0')), "
    "d AS (SELECT " + _shingles(_toks("text")) + " AS sh FROM documents "
    "WHERE source <> 'src0'), "
    "r AS (SELECT len(sh) AS n_sh, "
    "len(list_intersect(sh, bl)) AS hits FROM d, b) "
    "SELECT COUNT(*) AS n_docs, "
    "COUNT(*) FILTER (WHERE hits > 0) AS n_flagged_any, "
    "COUNT(*) FILTER (WHERE CAST(hits AS DOUBLE) / greatest(n_sh, 1) >= 0.2) "
    "AS n_flagged_frac, "
    "CAST(SUM(hits) AS BIGINT) AS total_hits, "
    "ROUND(AVG(CAST(hits AS DOUBLE) / greatest(n_sh, 1)), 2) AS mean_frac FROM r"
)


@probe("tx_contamination", oracle=_CONTAM_ORACLE, tags=("llm", "text", "curation"))
def tx_contamination(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (operators/contamination.py): docs
    from source 'src0' play the held-out eval suite; every other doc is
    scored by its distinct-3-gram overlap with the benchmark n-gram
    set. Plan: benchmark shingles dedup once and BROADCAST (eval suites
    are tiny next to a corpus), the corpus explodes shingles once, the
    membership probe is map-side, one doc-keyed shuffle aggregates.
    The oracle recomputes per-doc hit counts via list_intersect."""
    from ensembl_database_loader_spark.operators.contamination import (
        contamination_report,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    rep = contamination_report(
        d.filter(F.col("source") != "src0"),
        d.filter(F.col("source") == "src0"),
        "doc_id",
        "text",
        n=3,
    )
    return rep.agg(
        _cnt().alias("n_docs"),
        _cnt(F.col("n_contaminated") > 0).alias("n_flagged_any"),
        _cnt(F.col("contamination_frac") >= 0.2).alias("n_flagged_frac"),
        F.sum("n_contaminated").cast("bigint").alias("total_hits"),
        F.round(F.avg("contamination_frac"), 2).alias("mean_frac"),
    )


#: Deterministic PII injection — identical SQL text runs on both engines
#: (the corpus has no organic PII, so the probe plants some: emails on
#: doc_id%7, IPv4 on %11, phone numbers on %13; CASE order resolves
#: overlaps identically).
_PII_INJECT = (
    "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || "
    "CAST(doc_id AS STRING) || '@example.com now' "
    "WHEN doc_id % 11 = 0 THEN text || ' from 10.' || "
    "CAST(doc_id % 256 AS STRING) || '.0.' || CAST(doc_id % 100 AS STRING) || "
    "' logged' "
    "WHEN doc_id % 13 = 0 THEN text || ' call +1-555-' || "
    "lpad(CAST(doc_id % 1000 AS STRING), 3, '0') || '-0199' "
    "ELSE text END"
)

_PII_ORACLE = (
    f"WITH i AS (SELECT doc_id, {_PII_INJECT} AS text FROM documents), "
    "r AS (SELECT doc_id, "
    "len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email, "
    "len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ipv4, "
    "len(regexp_extract_all(text, '\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}')) AS n_phone, "
    "regexp_replace(regexp_replace(regexp_replace(text, "
    "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), "
    "'\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS redacted FROM i) "
    "SELECT CAST(SUM(n_email) AS BIGINT) AS emails, "
    "CAST(SUM(n_ipv4) AS BIGINT) AS ips, "
    "CAST(SUM(n_phone) AS BIGINT) AS phones, "
    "COUNT(*) FILTER (WHERE n_email + n_ipv4 + n_phone > 0) AS docs_touched, "
    "CAST(COUNT(DISTINCT md5(redacted)) AS BIGINT) AS distinct_redacted, "
    "CAST(SUM(length(redacted)) AS BIGINT) AS total_chars FROM r"
)


@probe("tx_pii_redact", oracle=_PII_ORACLE, tags=("llm", "text", "curation"))
def tx_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrub (operators/redact.py): emails / IPv4s / phone numbers
    replaced by typed tags, counts taken pre-replacement. Patterns live
    in the Java-regex / RE2 common subset so the oracle scrubs
    byte-identically; distinct-md5-of-redacted-text hash-gates the full
    scrub output, not just the counts. Whole-stage codegen, zero
    shuffle before the final aggregate."""
    from ensembl_database_loader_spark.operators.redact import with_pii_redaction

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select(
        "doc_id", F.expr(_PII_INJECT).alias("text")
    )
    r = with_pii_redaction(d, "text")
    return r.agg(
        F.sum("n_email").cast("bigint").alias("emails"),
        F.sum("n_ipv4").cast("bigint").alias("ips"),
        F.sum("n_phone").cast("bigint").alias("phones"),
        _cnt(F.col("n_email") + F.col("n_ipv4") + F.col("n_phone") > 0).alias(
            "docs_touched"
        ),
        F.countDistinct(F.md5("redacted")).cast("bigint").alias("distinct_redacted"),
        F.sum(F.length("redacted")).cast("bigint").alias("total_chars"),
    )


#: The probe's mixture: whitelist semantics — fr absent => dropped.
_MIX_RATES = {"en": 0.5, "es": 0.25, "zh": 0.1, "de": 0.8}

_MIX_ORACLE = (
    "WITH k AS (SELECT lang, ((doc_id * 2654435761) % 4294967296) % 1000 AS b "
    "FROM documents), "
    "s AS (SELECT lang, COUNT(*) AS n_input, COUNT(*) FILTER (WHERE b < "
    "CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250 WHEN 'zh' THEN 100 "
    "WHEN 'de' THEN 800 ELSE 0 END) AS n_kept FROM k GROUP BY lang) "
    "SELECT lang, n_input, n_kept, "
    "ROUND(CAST(n_kept AS DOUBLE) / n_input, 2) AS achieved_rate "
    "FROM s ORDER BY lang"
)


@probe("llp_mix_sample", oracle=_MIX_ORACLE, tags=("llm", "pipeline", "curation"))
def llp_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling / data mixing
    (operators/mixing.py): keep iff Knuth-hash(doc_id) mod 1000 falls
    under the stratum's threshold — reproducible across reruns,
    cluster layouts, and incremental batches, and row-level EXACT
    cross-engine (pure BIGINT arithmetic), unlike seed-based sample().
    Zero shuffles for the sample itself (map-side filter); the audit
    report is one groupBy."""
    from ensembl_database_loader_spark.operators.mixing import (
        mixture_report,
        stratified_sample,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    s = stratified_sample(d, "doc_id", "lang", _MIX_RATES, modulus=1000)
    return mixture_report(d, s, "lang").orderBy("lang")


_PACK_ORACLE = (
    f"WITH t AS (SELECT len({_toks('text')}) AS n_tokens FROM documents) "
    "SELECT COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens, "
    "TRUE AS each_doc_once, TRUE AS no_overflow, TRUE AS ffd_bound_ok, "
    "TRUE AS above_lower_bound"
    " FROM t"
)


@probe("llp_seq_packing", oracle=_PACK_ORACLE, tags=("llm", "pipeline", "curation"))
def llp_packing(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (operators/packing.py): documents bin-packed
    first-fit-decreasing into 256-token training sequences, sharded by
    deterministic id hash (8 shards pack concurrently; one shuffle
    total). Hash-gated contract: doc/token totals are oracle-exact, and
    the TRUE-declaring oracle gates coverage (every doc exactly once),
    capacity (no pack above budget), the per-shard FFD pack-count bound
    n_packs <= floor(2*tokens/budget)+1, and the global lower bound
    n_packs >= ceil(tokens/budget)."""
    from ensembl_database_loader_spark.operators.packing import (
        pack_sequences,
        packing_report,
    )

    ensure_session_confs(spark)
    d = with_token_stats(table(spark, sf, "documents"), "text")
    packed = pack_sequences(d, "doc_id", "n_tokens", budget=256, n_shards=8)
    return packing_report(packed, budget=256)


_TRAIN_ORACLE = (
    f"WITH c AS (SELECT * FROM {_CORPUS} t0), "
    f"q0 AS (SELECT id, lang, text, {_toks('text')} AS toks, "
    "length(text) AS n FROM c), "
    f"q AS (SELECT id, lang, text FROM q0 WHERE {_QUALITY_SCORE_SQL} >= 2), "
    "e AS (SELECT id, lang, text FROM (SELECT id, lang, text, "
    f"ROW_NUMBER() OVER (PARTITION BY {_norm('text')} ORDER BY id) AS rn "
    "FROM q) t WHERE rn = 1), "
    f"s AS (SELECT id, lang, {_shingles(_toks('text'))} AS sh FROM e), "
    "p AS (SELECT a.id AS id1, b.id AS id2 FROM s a "
    "JOIN s b ON a.lang = b.lang AND a.id < b.id "
    "WHERE " + _JACCARD.format(a="a.sh", b="b.sh") + " >= 0.8), "
    "k AS (SELECT e.id, e.lang, e.text, s.sh FROM e JOIN s USING (id) "
    "WHERE id NOT IN (SELECT DISTINCT id2 FROM p)), "
    f"bl AS (SELECT list(DISTINCT x) AS bl FROM (SELECT "
    f"unnest({_shingles(_toks('text'))}) AS x FROM documents "
    "WHERE source = 'src0')), "
    "k2 AS (SELECT id, lang, text FROM k, bl WHERE "
    "CAST(len(list_intersect(sh, bl)) AS DOUBLE) / greatest(len(sh), 1) <= 0.2), "
    "m AS (SELECT * FROM k2 WHERE ((id * 2654435761) % 4294967296) % 1000 < "
    "CASE lang WHEN 'en' THEN 500 WHEN 'es' THEN 250 WHEN 'zh' THEN 100 "
    "WHEN 'de' THEN 800 ELSE 0 END) "
    "SELECT (SELECT COUNT(*) FROM c) AS n_input, "
    "(SELECT COUNT(*) FROM q) AS n_quality, "
    "(SELECT COUNT(*) FROM e) AS n_exact, "
    "(SELECT COUNT(*) FROM k) AS n_kept, "
    f"(SELECT CAST(SUM(len({_toks('text')})) AS BIGINT) FROM k) AS tokens_kept, "
    "(SELECT COUNT(*) FROM k2) AS n_clean, "
    "(SELECT COUNT(*) FROM m) AS n_mixed, "
    f"(SELECT CAST(SUM(len({_toks('text')})) AS BIGINT) FROM m) AS packed_tokens, "
    "TRUE AS each_doc_once, TRUE AS no_overflow, TRUE AS ffd_bound_ok, "
    "TRUE AS above_lower_bound"
)


@probe(
    "llp_training_pipeline",
    oracle=_TRAIN_ORACLE,
    tags=("llm", "pipeline", "curation"),
)
def llp_training(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end training-corpus construction
    (pipeline/training.py build_training_corpus): curation funnel ->
    benchmark decontamination (src0 docs play the eval suite) ->
    deterministic mixture sampling -> FFD sequence packing, one call.
    Every stage through mixing is recomputed exactly by the oracle
    (nine CTEs, the deepest composition in the suite); packing adds
    exact token totals plus its hash-gated contract booleans. Runs on
    the variant corpus so the near-dup stage has real work."""
    from ensembl_database_loader_spark.pipeline.training import (
        build_training_corpus,
    )

    ensure_session_confs(spark)
    bench = table(spark, sf, "documents").filter(F.col("source") == "src0")
    _packed, report = build_training_corpus(
        _corpus(spark, sf),
        bench,
        near_dup="inverted",
        mix_rates=_MIX_RATES,
        pack_budget=512,
        pack_shards=8,
    )
    return report


@probe(
    "ws3_streaming_ingest_curate",
    oracle="SELECT TRUE AS kept_equal, TRUE AS store_grew",
    tags=("llm", "pipeline", "streaming", "live-stream"),
)
def ws3_streaming_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """LIVE incremental curation (streaming/ingest.py): two document
    drops land in a directory as jsonl files; a file-source stream
    with foreachBatch runs curate_increment per micro-batch against
    the persisted fingerprint store (bootstrapping on the first drop),
    appending survivors to the curated output. Hash-gated contract:
    the streamed kept set is ROW-IDENTICAL to the one-shot
    minhash-strategy curation of the union, and the store grew across
    batches. Deterministic 1-in-20 subsample bounds probe cost
    (variants are +100000 ≡ 0 mod 20, so near-dup pairs stay
    aligned); writing landing files from collected rows is the
    probe-harness stand-in for the crawler that produces them."""
    import json as _json
    import os
    import tempfile
    import time as _time

    from ensembl_database_loader_spark.pipeline.curate import curate_corpus
    from ensembl_database_loader_spark.streaming.ingest import (
        stream_documents,
        streaming_curate,
    )

    ensure_session_confs(spark)
    corpus = _corpus(spark, sf).filter(F.col("doc_id") % 20 == 0)
    root = tempfile.mkdtemp(prefix="edl_ingest_")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    store, out, ckpt = (os.path.join(root, d) for d in ("store", "out", "ckpt"))

    drops = (
        ("b1.jsonl", corpus.filter(F.col("doc_id") < 100000)),
        ("b2.jsonl", corpus.filter(F.col("doc_id") >= 100000)),
    )
    now = _time.time()
    for i, (fname, frame) in enumerate(drops):
        path = os.path.join(landing, fname)
        with open(path, "w") as f:
            f.writelines(
                _json.dumps(r.asDict()) + "\n"
                for r in frame.select("doc_id", "lang", "text").collect()
            )
        # stagger mtimes so the file source's oldest-first order runs
        # b1 before b2 (the monotone-id invariant) within ONE drain
        os.utime(path, (now - 20 + 10 * i, now - 20 + 10 * i))
    q = streaming_curate(
        stream_documents(spark, landing, max_files_per_trigger=1),
        store,
        out,
        ckpt,
    )
    # the one-shot reference funnel is independent of the stream:
    # materialize it NOW, while the micro-batches drain on the
    # engine's own threads (guide §2.6 — its jobs back-fill executors
    # the per-batch curate_increment protocol leaves idle)
    one_shot, _ = curate_corpus(corpus, near_dup="minhash")
    ko = one_shot.select("id").persist()
    ko.count()
    q.awaitTermination(300)

    streamed = spark.read.parquet(out).select("id").persist()
    sym_diff = streamed.exceptAll(ko).unionAll(ko.exceptAll(streamed))

    sig_counts = (
        spark.read.parquet(store + "/exact_sigs")
        .agg(
            _cnt(F.col("id") >= 100000).alias("b2"),
            _cnt(F.col("id") < 100000).alias("b1"),
        )
        .collect()[0]
    )
    grew = sig_counts.b1 > 0 and sig_counts.b2 > 0
    return sym_diff.agg((_cnt() == 0).alias("kept_equal")).select(
        "kept_equal", F.lit(bool(grew)).alias("store_grew")
    )


_CHUNK_ORACLE = (
    # the empty/whitespace-only guard mirrors the Spark chunker's: a
    # doc whose token list is [''] yields ZERO chunks in both engines
    # (generate_series over toks=[''] would otherwise emit one empty
    # chunk here that chunk_documents never produces)
    f"WITH t AS (SELECT doc_id, {_toks('text')} AS toks FROM documents "
    "WHERE NOT (len(" + _toks("text") + ") = 1 "
    "AND (" + _toks("text") + ")[1] = '')), "
    "c AS (SELECT doc_id, (s - 1) / 24 AS chunk_idx, "
    "array_to_string(list_slice(toks, s, s + 31), ' ') AS chunk, "
    "len(list_slice(toks, s, s + 31)) AS n_tok "
    "FROM t, unnest(generate_series(1, len(toks), 24)) AS u(s)) "
    "SELECT COUNT(*) AS total_chunks, "
    "CAST(SUM(n_tok) AS BIGINT) AS sum_chunk_tokens, "
    "CAST(MAX(n_tok) AS BIGINT) AS max_chunk_tokens, "
    "CAST(COUNT(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks, "
    "TRUE AS udtf_equal FROM c"
)


@probe("tx_chunking", oracle=_CHUNK_ORACLE, tags=("llm", "text", "udtf"))
def tx_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Document chunking (operators/chunking.py): 32-token windows
    every 24 tokens (8 overlap) — the RAG/embedding fan-out. The JVM
    higher-order-function chunker supplies the oracle-exact stats; the
    Python UDTF variant (Spark 4 user-defined TABLE function, lateral
    join) is re-run over the same docs and hash-gated ROW-IDENTICAL to
    the JVM path (boolean the TRUE-declaring oracle locks)."""
    from ensembl_database_loader_spark.operators.chunking import (
        chunk_documents,
        chunk_udtf,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    jvm = chunk_documents(d, "doc_id", "text", size=32, overlap=8).persist()

    spark.udtf.register("edl_chunk_text", chunk_udtf(32, 8))
    d.select("doc_id", "text").createOrReplaceTempView("edl_chunk_docs")
    via_udtf = spark.sql(
        "SELECT d.doc_id AS id, c.chunk_idx, c.chunk, c.n_tokens "
        "FROM edl_chunk_docs d, LATERAL edl_chunk_text(d.text) c"
    )
    diff = jvm.exceptAll(via_udtf).unionAll(via_udtf.exceptAll(jvm))
    stats = jvm.agg(
        _cnt().alias("total_chunks"),
        F.sum("n_tokens").cast("bigint").alias("sum_chunk_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_chunk_tokens"),
        F.countDistinct(F.md5("chunk")).cast("bigint").alias("distinct_chunks"),
    )
    return stats.crossJoin(diff.agg((_cnt() == 0).alias("udtf_equal")))


#: char list of a word (DuckDB side)
_DUCK_CHARS = "list_transform(generate_series(1, length(word)), i -> substring(word, i, 1))"

_BPE_ORACLE = (
    "WITH w AS (SELECT word, COUNT(*) AS freq FROM "
    f"(SELECT unnest({_toks('text')}) AS word FROM documents) "
    "WHERE word <> '' GROUP BY word), "
    # merge 1: adjacent char pairs weighted by word freq
    "p1 AS (SELECT substring(word, i, 1) AS a, substring(word, i + 1, 1) AS b, "
    "SUM(freq) AS cnt FROM w, "
    "unnest(generate_series(1, length(word) - 1)) AS t(i) "
    "WHERE length(word) >= 2 GROUP BY 1, 2), "
    "m1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1), "
    # rewrite by merge 1: separator-join chars, non-overlapping replace
    # (exact vs the greedy fold: pre-merge symbols are single chars, so
    # no cross-symbol false match is possible — see probe docstring)
    "r AS (SELECT freq, list_filter(string_split(replace("
    f"array_to_string({_DUCK_CHARS}, chr(31)), "
    "(SELECT a FROM m1) || chr(31) || (SELECT b FROM m1), "
    "(SELECT a FROM m1) || (SELECT b FROM m1)), chr(31)), x -> x <> '') AS syms "
    "FROM w), "
    # merge 2: adjacent symbol pairs of the rewritten words
    "p2 AS (SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt FROM r, "
    "unnest(generate_series(1, len(syms) - 1)) AS t(i) "
    "WHERE len(syms) >= 2 GROUP BY 1, 2), "
    "m2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1) "
    "SELECT (SELECT COUNT(*) FROM w) AS n_words, "
    "(SELECT COUNT(DISTINCT substring(word, i, 1)) FROM w, "
    "unnest(generate_series(1, length(word))) AS t(i)) AS base_vocab, "
    "(SELECT a || '+' || b FROM m1) AS merge1, "
    "(SELECT a || '+' || b FROM m2) AS merge2, "
    "CAST(12 AS BIGINT) AS n_merges, "
    "TRUE AS roundtrip_ok, TRUE AS symbols_in_vocab, TRUE AS compress_ok"
)


@probe("tx_bpe_train", oracle=_BPE_ORACLE, tags=("llm", "text", "iterative"))
def tx_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE vocabulary training (operators/bpe.py): the
    corpus collapses to the distinct-word frequency table (one
    shuffle), then 12 Sennrich merge steps — pair counting as
    partial-aggregated groupBy, argmax with deterministic (count desc,
    pair lex) tie-break, greedy rewrite as a pure-JVM fold,
    localCheckpoint lineage cuts. The oracle recomputes merges 1 AND 2
    exactly (merge-2 needs the merge-1 rewrite, done with a
    separator-joined non-overlapping replace — exact here because
    pre-merge symbols are single characters, so the pattern can't
    straddle a symbol boundary); later merges are pinned by the
    pure-Python-reference equality test
    (tests/test_corpus_ops.py::test_train_bpe_matches_reference).
    Encoding contracts (hash-gated TRUE): every encoded word
    reconstructs by concatenation, uses only vocabulary symbols, and
    the freq-weighted mean symbols/word does not exceed mean chars."""
    from ensembl_database_loader_spark.operators.bpe import (
        encode_words,
        train_bpe,
        word_frequencies,
    )

    ensure_session_confs(spark)
    wf = word_frequencies(table(spark, sf, "documents"), "text").persist()
    merges = train_bpe(wf, 12)
    enc = encode_words(wf, merges)
    vocab = sorted({a + b for a, b in merges})
    checks = enc.agg(
        F.min(
            (F.concat_ws("", F.col("syms")) == F.col("word")).cast("int")
        ).alias("rt"),
        F.min(
            F.forall(
                "syms",
                lambda s: (F.length(s) == 1)
                | F.array_contains(F.array(*[F.lit(v) for v in vocab]), s),
            ).cast("int")
        ).alias("in_vocab"),
        (
            F.sum(F.size("syms") * F.col("freq"))
            <= F.sum(F.length("word") * F.col("freq"))
        ).alias("compress"),
    )
    stats = wf.agg(_cnt().alias("n_words")).crossJoin(
        wf.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)), "
                    "i -> substring(word, i, 1))"
                )
            ).alias("ch")
        ).agg(F.countDistinct("ch").cast("bigint").alias("base_vocab"))
    )
    return stats.crossJoin(checks).select(
        "n_words",
        "base_vocab",
        F.lit("+".join(merges[0]) if merges else None).alias("merge1"),
        F.lit("+".join(merges[1]) if len(merges) > 1 else None).alias("merge2"),
        F.lit(len(merges)).cast("bigint").alias("n_merges"),
        (F.col("rt") == 1).alias("roundtrip_ok"),
        (F.col("in_vocab") == 1).alias("symbols_in_vocab"),
        F.col("compress").alias("compress_ok"),
    )


_BPE_ENCODE_ORACLE = (
    "SELECT doc_id, "
    f"md5(replace({{norm}}, ' ', '')) AS rt_md5, "
    "TRUE AS ids_in_vocab, TRUE AS counts_bounded "
    "FROM documents ORDER BY doc_id"
).format(norm=_norm("coalesce(text, '')"))


@probe("tx_bpe_encode", oracle=_BPE_ENCODE_ORACLE, tags=("llm", "text"))
def tx_bpe_encode(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level BPE encoding to token ids (operators/bpe.
    encode_corpus): every document tokenized with the 12-merge
    vocabulary trained by the tx_bpe_train path. Row-level exact gates:
    the decoded token concatenation reconstructs each document's
    normalized separator-free text (md5 vs DuckDB's direct
    recomputation — encoding partitions the text, nothing lost or
    invented), every id lies in [0, vocab_size), and the token count is
    bounded by [n_words, n_nonspace_chars] (each word yields >= 1 and
    <= len(word) symbols). The encoder runs per DISTINCT word, not per
    occurrence; documents reassemble via one shuffle_hash join +
    ordered flatten — no Python touches corpus-sized data."""
    from ensembl_database_loader_spark.operators.bpe import (
        encode_corpus,
        token_vocabulary,
        train_bpe,
        word_frequencies,
    )
    from ensembl_database_loader_spark.functions.text import tokens as _tok

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    wf = word_frequencies(d, "text").persist()
    # parallel-BPE batched passes: the probe's gates (roundtrip
    # partition, vocab membership, count bounds) hold for ANY merge
    # list, so the 12 merges train in ~3 counting passes instead of 12
    # sequential driver round-trips (exact-sequential equality is
    # tx_bpe_train's contract, not this probe's)
    merges = train_bpe(wf, 12, merges_per_pass=4)
    vocab_size = token_vocabulary(wf, merges).count()
    enc = encode_corpus(d, merges, keep_tokens=True)
    n_words = F.size(F.filter(_tok("text"), lambda w: w != ""))
    n_chars = F.length(F.regexp_replace(normalize_text("text"), " ", ""))
    return enc.select(
        "doc_id",
        F.md5(F.concat_ws("", "tokens")).alias("rt_md5"),
        F.forall(
            "token_ids",
            lambda i: (i >= 0) & (i < F.lit(int(vocab_size))),
        ).alias("ids_in_vocab"),
        (
            (F.col("n_tokens") >= n_words.cast("bigint"))
            & (F.col("n_tokens") <= n_chars.cast("bigint"))
        ).alias("counts_bounded"),
    ).orderBy("doc_id")


_SEMDEDUP_ORACLE = (
    "WITH e AS (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "p AS (SELECT b.vec_id AS id2 FROM e a JOIN e b "
    "ON a.label = b.label AND a.vec_id < b.vec_id "
    "WHERE ROUND(" + _COS.format(a="a.v", b="b.v") + ", 6) >= 0.5), "
    "d AS (SELECT DISTINCT id2 FROM p) "
    "SELECT (SELECT COUNT(*) FROM e) AS n_input, "
    "(SELECT COUNT(*) FROM d) AS n_dropped, "
    "CAST((SELECT COUNT(*) FROM e) - (SELECT COUNT(*) FROM d) AS BIGINT) "
    "AS n_kept, "
    "(SELECT CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) FROM e "
    "WHERE vec_id NOT IN (SELECT id2 FROM d)) AS kept_id_sum"
)


@probe("dd_semantic_dedup", oracle=_SEMDEDUP_ORACLE, tags=("llm", "dedup", "semantic"))
def dd_semantic(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup (SemDeDup shape, operators/similarity.py
    semantic_dedup): keep-first drop of rows whose embedding cosine
    >= 0.5 with a smaller-id row in the SAME label block (blocking
    pushed into pair generation). Pair stage is the exact blocked-GEMM
    engine (the family's exact baseline — candidates='ivf'/'lsh' is
    the wired at-scale path, hash-gated by dd_semantic_dedup_ann, same
    anti-join); the oracle recomputes the full blocked pair set and the
    kept-id SUM, so a single wrongly-kept row breaks the hash."""
    from ensembl_database_loader_spark.operators.similarity import semantic_dedup

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    kept = semantic_dedup(e, "vec_id", "embedding", "label", threshold=0.5)
    tot = e.agg(_cnt().alias("n_input"))
    return tot.crossJoin(
        kept.agg(
            _cnt().alias("n_kept"),
            F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint").alias("kept_id_sum"),
        )
    ).select(
        "n_input",
        (F.col("n_input") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
        F.col("n_kept").cast("bigint"),
        "kept_id_sum",
    )


_SPLIT_ORACLE = (
    # sorted split names: test [0,50), train [50,950), val [950,1000)
    "WITH k AS (SELECT lang, ((doc_id * 2654435761) % 4294967296) % 1000 AS b "
    "FROM documents), "
    "s AS (SELECT lang, CASE WHEN b < 50 THEN 'test' "
    "WHEN b < 950 THEN 'train' ELSE 'val' END AS split FROM k) "
    "SELECT split, lang, COUNT(*) AS cnt FROM s "
    "GROUP BY split, lang ORDER BY split, lang"
)


@probe("llp_corpus_split", oracle=_SPLIT_ORACLE, tags=("llm", "pipeline", "curation"))
def llp_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test split (operators/mixing.py
    split_corpus): the keyed-hash bucket space carved into contiguous
    ranges (sorted-name order, last range absorbs rounding) — disjoint,
    exhaustive, layout-independent, and row-level EXACT cross-engine;
    per-(split, lang) counts hash-gated."""
    from ensembl_database_loader_spark.operators.mixing import split_corpus

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    s = split_corpus(d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}, 1000)
    return (
        s.groupBy("split", "lang").agg(_cnt().alias("cnt")).orderBy("split", "lang")
    )


_TEMP_MIX_ORACLE = (
    # identical expression order to the engine: w = n_units^0.5, share =
    # w / sum(w), epochs = budget * share / n_units — both engines round
    # the final doubles, so libm last-ulp noise cannot leak
    "WITH per AS (SELECT source AS domain, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    f"CAST(SUM(len({_toks('text')})) AS BIGINT) AS n_units "
    "FROM documents GROUP BY source), "
    "t AS (SELECT CAST(SUM(n_units) AS BIGINT) AS tu, "
    "SUM(POWER(CAST(n_units AS DOUBLE), 0.5)) AS tw FROM per) "
    "SELECT domain, n_rows, n_units, "
    "ROUND(CAST(n_units AS DOUBLE) / tu, 6) AS share_natural, "
    "ROUND(POWER(CAST(n_units AS DOUBLE), 0.5) / tw, 6) AS share_alpha, "
    "ROUND(1000000 * (POWER(CAST(n_units AS DOUBLE), 0.5) / tw) / n_units, 4) "
    "AS epochs FROM per, t ORDER BY domain"
)


@probe(
    "llp_temperature_mixture",
    oracle=_TEMP_MIX_ORACLE,
    tags=("llm", "pipeline", "mixing"),
)
def llp_temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled domain mixture
    (operators/mixing.temperature_mixture): per-source token counts ->
    alpha=0.5-smoothed sampling shares (upweight low-resource domains,
    cap the head) + the epoch factor a 1M-token budget implies per
    domain — the standard alpha-sampling knob of multilingual/
    multi-domain training, computed in ONE partial-aggregated pass with
    broadcast scalar totals. The oracle replays the identical
    expression order so the rounded doubles agree exactly."""
    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.mixing import (
        temperature_mixture,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    return temperature_mixture(
        d,
        "source",
        alpha=0.5,
        size_col=F.size(tokens("text")),
        token_budget=1_000_000,
    )


_UPSAMPLE_ORACLE = (
    # epochs exactly as llp_temperature_mixture (budget 5M), then the
    # engine's quantized-threshold repetition replayed row by row
    "WITH per AS (SELECT source AS domain, "
    f"CAST(SUM(len({_toks('text')})) AS BIGINT) AS n_units "
    "FROM documents GROUP BY source), "
    "t AS (SELECT SUM(POWER(CAST(n_units AS DOUBLE), 0.5)) AS tw FROM per), "
    "rates AS (SELECT domain, ROUND(5000000 * "
    "(POWER(CAST(n_units AS DOUBLE), 0.5) / tw) / n_units, 4) AS epochs "
    "FROM per, t), "
    "r2 AS (SELECT domain, CAST(FLOOR(epochs) AS BIGINT) AS f, "
    "CAST(ROUND((epochs - FLOOR(epochs)) * 1000000, 0) AS BIGINT) AS fu "
    "FROM rates), "
    "docs AS (SELECT doc_id, source, "
    "((doc_id * 2654435761) % 4294967296) % 1000000 AS u FROM documents), "
    "c AS (SELECT d.doc_id, d.source, "
    "r2.f + CASE WHEN d.u < r2.fu THEN 1 ELSE 0 END AS copies "
    "FROM docs d JOIN r2 ON d.source = r2.domain), "
    "e AS (SELECT doc_id, source, "
    "unnest(generate_series(1, CAST(copies AS INT))) AS epoch "
    "FROM c WHERE copies > 0) "
    "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_out, "
    "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs, "
    "CAST(SUM(epoch) AS BIGINT) AS epoch_sum, "
    "CAST(SUM(doc_id) AS BIGINT) AS id_sum "
    "FROM e GROUP BY source ORDER BY source"
)


@probe(
    "llp_mixture_upsample",
    oracle=_UPSAMPLE_ORACLE,
    tags=("llm", "pipeline", "mixing"),
)
def llp_mixture_upsample(spark: SparkSession, sf: str) -> DataFrame:
    """The mixture loop CLOSED (operators/mixing.temperature_mixture ->
    upsample_corpus): alpha=0.5 epoch factors for a 5M-token budget
    materialized into actual repeated rows — floor(epochs) copies per
    doc plus one more for a deterministic keyed-hash fraction, epoch
    index attached so downstream shuffling interleaves repetitions.
    Zero corpus shuffle (broadcast rates + codegen explode); per-domain
    output counts, multiplicities (epoch_sum), and membership (id_sum)
    are row-level exact vs the oracle's full replay — the quantized
    fractional threshold is what makes a float-rate sampler
    reproducible cross-engine."""
    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.mixing import (
        temperature_mixture,
        upsample_corpus,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    mix = temperature_mixture(
        d, "source", alpha=0.5, size_col=F.size(tokens("text")),
        token_budget=5_000_000,
    )
    up = upsample_corpus(
        d,
        "doc_id",
        mix.select(F.col("domain").alias("source"), "epochs"),
        "source",
    )
    return (
        up.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_out"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("epoch").cast("bigint").alias("epoch_sum"),
            F.sum("doc_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("source")
    )


_SCD2_ORACLE = (
    # three deterministic dimension loads derived from customer; the
    # oracle computes each history segment's lifetime by comparing
    # consecutive snapshots directly (same = IS NOT DISTINCT FROM on
    # the tracked pair), which is exactly what SCD2 records
    "WITH base AS (SELECT c_custkey AS k, "
    "CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal, c_mktsegment AS seg "
    "FROM customer), "
    "b1 AS (SELECT * FROM base), "
    "b2 AS (SELECT k, bal + CASE WHEN k % 10 = 0 THEN 1000 ELSE 0 END AS bal, seg "
    "FROM base WHERE k % 97 <> 0 "
    "UNION ALL SELECT k + 1000000, bal, seg FROM base WHERE k % 50 = 0), "
    "b3 AS (SELECT k, bal + CASE WHEN k % 10 = 0 THEN 1000 ELSE 0 END AS bal, "
    "CASE WHEN k % 25 = 0 THEN 'MOVED' ELSE seg END AS seg "
    "FROM base WHERE k % 97 <> 0 "
    "UNION ALL SELECT k + 1000000, bal, seg FROM base WHERE k % 50 = 0), "
    "seg1 AS (SELECT b1.k, b1.bal, b1.seg, "
    "CASE WHEN b2.k IS NULL OR NOT (b1.bal IS NOT DISTINCT FROM b2.bal "
    "AND b1.seg IS NOT DISTINCT FROM b2.seg) THEN CAST(2 AS BIGINT) "
    "WHEN b3.k IS NULL OR NOT (b1.bal IS NOT DISTINCT FROM b3.bal "
    "AND b1.seg IS NOT DISTINCT FROM b3.seg) THEN CAST(3 AS BIGINT) "
    "ELSE NULL END AS vt FROM b1 "
    "LEFT JOIN b2 ON b1.k = b2.k LEFT JOIN b3 ON b1.k = b3.k), "
    "open2 AS (SELECT b2.k, b2.bal, b2.seg FROM b2 LEFT JOIN b1 "
    "ON b2.k = b1.k WHERE b1.k IS NULL OR NOT (b2.bal IS NOT DISTINCT "
    "FROM b1.bal AND b2.seg IS NOT DISTINCT FROM b1.seg)), "
    "seg2 AS (SELECT o.k, o.bal, o.seg, "
    "CASE WHEN b3.k IS NULL OR NOT (o.bal IS NOT DISTINCT FROM b3.bal "
    "AND o.seg IS NOT DISTINCT FROM b3.seg) THEN CAST(3 AS BIGINT) "
    "ELSE NULL END AS vt FROM open2 o LEFT JOIN b3 ON o.k = b3.k), "
    "seg3 AS (SELECT b3.k, b3.bal, b3.seg, CAST(NULL AS BIGINT) AS vt "
    "FROM b3 LEFT JOIN b2 ON b3.k = b2.k WHERE b2.k IS NULL OR NOT "
    "(b3.bal IS NOT DISTINCT FROM b2.bal AND b3.seg IS NOT DISTINCT "
    "FROM b2.seg)), "
    "hist AS (SELECT CAST(1 AS BIGINT) AS valid_from, vt, k, bal FROM seg1 "
    "UNION ALL SELECT 2, vt, k, bal FROM seg2 "
    "UNION ALL SELECT 3, vt, k, bal FROM seg3) "
    "SELECT valid_from, COALESCE(vt, 0) AS valid_to_or_open, "
    "CAST(COUNT(*) AS BIGINT) AS n_rows, "
    "CAST(SUM(k) AS BIGINT) AS key_sum, "
    "CAST(SUM(bal) AS BIGINT) AS bal_cents "
    "FROM hist GROUP BY 1, 2 ORDER BY 1, 2"
)


@probe(
    "llp_scd2_history",
    oracle=_SCD2_ORACLE,
    tags=("llm", "pipeline", "warehouse"),
)
def llp_scd2_history(spark: SparkSession, sf: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge
    (operators/upsert.scd2_merge): three full dimension loads derived
    from customer — bootstrap, then balance bumps + deletions + new
    keys, then segment moves — folded into a versioned history (every
    change closes a row and opens its successor; absence closes; the
    unchanged current slice carries over untouched). ONE
    dimension-keyed full-outer join per load, closed rows never
    reshuffled. The oracle derives every segment's lifetime by
    comparing consecutive snapshots with IS NOT DISTINCT FROM — interval
    bookkeeping (valid_from, valid_to) is hash-exact per bucket, keys
    and balance cents included."""
    from ensembl_database_loader_spark.operators.upsert import scd2_merge

    ensure_session_confs(spark)
    base = table(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    b1 = base
    surviving = base.where(F.col("k") % 97 != 0)
    bumped = surviving.select(
        "k",
        (F.col("bal")
         + F.when(F.col("k") % 10 == 0, 1000).otherwise(0)).alias("bal"),
        "seg",
    )
    newbies = base.where(F.col("k") % 50 == 0).select(
        (F.col("k") + 1000000).alias("k"), "bal", "seg"
    )
    b2 = bumped.unionByName(newbies)
    b3 = bumped.select(
        "k",
        "bal",
        F.when(F.col("k") % 25 == 0, F.lit("MOVED")).otherwise(F.col("seg"))
        .alias("seg"),
    ).unionByName(newbies)

    h = scd2_merge(None, b1, ("k",), ("bal", "seg"), 1)
    h = scd2_merge(h, b2, ("k",), ("bal", "seg"), 2)
    h = scd2_merge(h, b3, ("k",), ("bal", "seg"), 3)
    return (
        h.groupBy(
            "valid_from",
            F.coalesce(F.col("valid_to"), F.lit(0)).cast("bigint")
            .alias("valid_to_or_open"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
            F.sum("bal").cast("bigint").alias("bal_cents"),
        )
        .orderBy("valid_from", "valid_to_or_open")
    )


_SHUFFLE_SHARD_ORACLE = (
    # same knuth permutation: shard = h % 8, pos = rank by (h, id) in
    # shard; sum(pos * id) pins the EXACT order (any transposition
    # changes it), not just membership
    "WITH h AS (SELECT doc_id, ((doc_id * 2654435761) % 4294967296) AS hv "
    "FROM documents), "
    "s AS (SELECT doc_id, CAST(hv % 8 AS INT) AS shard, "
    "ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos FROM h) "
    "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_rows, "
    "CAST(SUM(pos * doc_id) AS BIGINT) AS order_sum "
    "FROM s GROUP BY shard ORDER BY shard"
)


@probe("llp_shuffle_shard", oracle=_SHUFFLE_SHARD_ORACLE, tags=("llm", "pipeline", "export"))
def llp_shuffle_shard(spark: SparkSession, sf: str) -> DataFrame:
    """Training-order global shuffle (operators/export.shuffle_shard):
    the corpus striped over 8 shards by keyed hash with a
    deterministic within-shard permutation — shard assignment is
    map-side (no shuffle), the order is a shard-LOCAL sort (never a
    global range exchange), and the whole permutation is a pure
    function of doc ids so reruns and incremental batches agree.
    The order_sum fingerprint (sum of pos*id per shard) gates the
    exact row order against the oracle's window recomputation —
    membership-only hashing would miss a wrong sort."""
    from ensembl_database_loader_spark.operators.export import (
        shard_order_checksum,
        shuffle_shard,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select("doc_id")
    return shard_order_checksum(shuffle_shard(d, "doc_id", 8), "doc_id")


#: Deterministic multi-line reconstruction of the single-line fixture
#: docs: 4-token lines; line idx (1-based) gets '.' when (doc_id+idx)%3=0,
#: a blocked ' cookie.' suffix when %5=0, else no terminal; the first
#: line is appended again at the end (exercises first-occurrence
#: dedup). Spark and DuckDB build byte-identical texts.
_LINES_SPARK = (
    "transform(sequence(1, size(toks), 4), s -> "
    "array_join(slice(toks, s, 4), ' ') || "
    "CASE WHEN (doc_id + cast((s - 1) / 4 as int) + 1) % 3 = 0 THEN '.' "
    "WHEN (doc_id + cast((s - 1) / 4 as int) + 1) % 5 = 0 THEN ' cookie.' "
    "ELSE '' END)"
)

_LINES_DUCK = (
    "list_transform(generate_series(1, len(toks), 4), s -> "
    "array_to_string(list_slice(toks, s, s + 3), ' ') || "
    "CASE WHEN (doc_id + (s - 1) // 4 + 1) % 3 = 0 THEN '.' "
    "WHEN (doc_id + (s - 1) // 4 + 1) % 5 = 0 THEN ' cookie.' "
    "ELSE '' END)"
)

_CLEAN_ORACLE = (
    f"WITH t AS (SELECT doc_id, {_toks('text')} AS toks FROM documents), "
    f"built AS (SELECT doc_id, {_LINES_DUCK} AS lines FROM t), "
    "doc2 AS (SELECT doc_id, list_append(lines, lines[1]) AS lines FROM built), "
    "f AS (SELECT doc_id, list_filter(lines, l -> "
    "regexp_matches(l, '[.!?\"]$') AND len(string_split(trim(l), ' ')) >= 3 "
    "AND NOT contains(lower(l), 'javascript') AND NOT contains(lower(l), 'cookie') "
    "AND NOT contains(lower(l), 'lorem ipsum') AND NOT contains(lower(l), '{')"
    ") AS kept FROM doc2), "
    "d AS (SELECT doc_id, list_filter(kept, (x, i) -> list_position(kept, x) = i) "
    "AS ded FROM f), "
    "r AS (SELECT doc_id, array_to_string(ded, chr(10)) AS clean_text, "
    "len(ded) AS n_lines FROM d WHERE len(ded) >= 1) "
    "SELECT COUNT(*) AS docs_kept, CAST(SUM(n_lines) AS BIGINT) AS lines_kept, "
    "CAST(SUM(length(clean_text)) AS BIGINT) AS chars_kept, "
    "CAST(COUNT(DISTINCT md5(clean_text)) AS BIGINT) AS distinct_cleaned FROM r"
)


@probe("tx_line_clean", oracle=_CLEAN_ORACLE, tags=("llm", "text", "curation"))
def tx_line_clean(spark: SparkSession, sf: str) -> DataFrame:
    """C4-style line cleaning (operators/textclean.py): terminal-
    punctuation rule, min-words rule, blocklist, order-preserving
    first-occurrence line dedup, min-lines doc drop — all as codegen
    array lambdas (zero shuffle before the final aggregate). The probe
    reconstructs multi-line docs deterministically (identical SQL on
    both engines) and the oracle recomputes the ENTIRE clean,
    hash-gating the distinct-md5 of every cleaned text."""
    from ensembl_database_loader_spark.operators.textclean import clean_lines

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select(
        "doc_id", F.split(normalize_text("text"), " ").alias("toks")
    )
    built = d.select("doc_id", F.expr(_LINES_SPARK).alias("lines"))
    doc2 = built.select(
        "doc_id",
        F.array_join(
            F.concat(F.col("lines"), F.array(F.element_at("lines", 1))), "\n"
        ).alias("text"),
    )
    cleaned = clean_lines(doc2, "text", min_words=3, min_lines=1)
    return cleaned.agg(
        _cnt().alias("docs_kept"),
        F.sum("n_lines_kept").cast("bigint").alias("lines_kept"),
        F.sum(F.length("clean_text")).cast("bigint").alias("chars_kept"),
        F.countDistinct(F.md5("clean_text")).cast("bigint").alias("distinct_cleaned"),
    )


_QUANT_ORACLE = (
    "WITH e AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "s AS (SELECT vec_id, v, greatest(list_max(list_transform(v, x -> abs(x))) "
    "/ 127.0, 1e-12) AS sc FROM e), "
    "q AS (SELECT vec_id, v, sc, "
    "list_transform(v, x -> CAST(round(x / sc) AS INT)) AS qv FROM s), "
    "per AS (SELECT vec_id, sc, "
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(qv, x -> CAST(x AS BIGINT))), (a, b) -> a + b) AS q_sum, "
    "list_max(list_transform(qv, x -> abs(x))) AS q_max, "
    "list_max(list_transform(generate_series(1, len(v)), "
    "i -> abs(v[i] - qv[i] * sc) / sc)) AS rel_err FROM q) "
    "SELECT COUNT(*) AS n_vecs, CAST(SUM(q_sum) AS BIGINT) AS sum_q, "
    "CAST(MAX(q_max) AS BIGINT) AS max_abs_q, "
    "TRUE AS err_bounded FROM per"
)


@probe("ss_quantize_int8", oracle=_QUANT_ORACLE, tags=("llm", "similarity", "storage"))
def ss_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Int8 symmetric per-vector quantization (operators/quantize.py):
    the 4x ANN-storage lever. The component-sum and max-magnitude of
    the quantized corpus are oracle-exact (Spark ROUND and DuckDB
    round share half-away-from-zero); the per-component reconstruction
    error bound |x - q*scale| <= scale/2 (+ float slack) is the
    hash-gated contract."""
    from ensembl_database_loader_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    q = quantize_embeddings(e, "embedding")
    deq = q.withColumn("dq", dequantize("q", "scale"))
    per = deq.select(
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda a, x: a + x.cast("bigint")
        ).alias("q_sum"),
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("q_max"),
        F.array_max(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                "dq",
                lambda x, d: F.abs(x - d) / F.col("scale"),
            )
        ).alias("rel_err"),
    )
    return per.agg(
        _cnt().alias("n_vecs"),
        F.sum("q_sum").cast("bigint").alias("sum_q"),
        F.max("q_max").cast("bigint").alias("max_abs_q"),
        (F.max("rel_err") <= 0.5 + 1e-9).alias("err_bounded"),
    )


# ---------------------------------------------------------------------------
# Round 7: ANN-candidate semantic dedup + clustered-fixture recall gates
# ---------------------------------------------------------------------------

_SEMDEDUP_ANN_ORACLE = (
    # exact-path drop count is recomputed in full SQL (same blocked
    # keep-first rule as _SEMDEDUP_ORACLE, threshold 0.2); the ANN
    # paths' guarantees are engine-side contracts the TRUE literals
    # lock: each ANN candidate set is a SUBSET of all pairs, so each
    # ANN kept set must be a SUPERSET of the exact kept set, and on
    # this fixture both paths must actually drop rows.
    "WITH e AS (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), "
    "p AS (SELECT b.vec_id AS id2 FROM e a JOIN e b "
    "ON a.label = b.label AND a.vec_id < b.vec_id "
    "WHERE ROUND(" + _COS.format(a="a.v", b="b.v") + ", 6) >= 0.2) "
    "SELECT (SELECT COUNT(*) FROM e) AS n_input, "
    "(SELECT COUNT(DISTINCT id2) FROM p) AS n_dropped_exact, "
    "TRUE AS ivf_superset_ok, TRUE AS lsh_superset_ok, "
    "TRUE AS ivf_drops, TRUE AS lsh_drops"
)


@probe(
    "dd_semantic_dedup_ann",
    oracle=_SEMDEDUP_ANN_ORACLE,
    tags=("llm", "dedup", "semantic", "approx"),
)
def dd_semantic_ann(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup at corpus scale (operators/similarity.py semantic_dedup
    candidates='ivf'|'lsh'): pair generation restricted to IVF cells /
    LSH bucket postings instead of the exact all-pairs GEMM — work
    drops from O(n^2) to ~O(n^2/n_cells) (balanced cells; see
    scripts/scaling_bench.py for the measured near-linear curve).

    Hash-gated contract: the exact path's drop count is recomputed in
    full SQL (threshold 0.2, label blocking); both ANN paths must keep
    a SUPERSET of the exact kept set (ANN candidates are a subset of
    all pairs — a single wrongly-dropped row breaks the hash) and must
    drop a non-empty set on this fixture (so the booleans aren't
    vacuous)."""
    from ensembl_database_loader_spark.operators.similarity import semantic_dedup

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    kept = {
        mode: semantic_dedup(
            e, "vec_id", "embedding", "label", threshold=0.2, candidates=mode
        )
        .select("vec_id")
        .persist()
        for mode in ("exact", "ivf", "lsh")
    }
    n_input = e.agg(_cnt().alias("n_input"))
    n_exact = kept["exact"].agg(_cnt().alias("_ke"))
    out = (
        n_input.crossJoin(n_exact)
        .crossJoin(
            kept["exact"]
            .join(kept["ivf"], "vec_id", "left_anti")
            .agg((_cnt() == 0).alias("ivf_superset_ok"))
        )
        .crossJoin(
            kept["exact"]
            .join(kept["lsh"], "vec_id", "left_anti")
            .agg((_cnt() == 0).alias("lsh_superset_ok"))
        )
        .crossJoin(kept["ivf"].agg(_cnt().alias("_ki")))
        .crossJoin(kept["lsh"].agg(_cnt().alias("_kl")))
    )
    return out.select(
        "n_input",
        (F.col("n_input") - F.col("_ke")).cast("bigint").alias("n_dropped_exact"),
        "ivf_superset_ok",
        "lsh_superset_ok",
        (F.col("_ki") < F.col("n_input")).alias("ivf_drops"),
        (F.col("_kl") < F.col("n_input")).alias("lsh_drops"),
    )


@probe(
    "ss_ann_recall_clustered",
    oracle=(
        "SELECT TRUE AS exact_in_cluster0, TRUE AS lsh_returned_5, "
        "TRUE AS ivf_returned_5, TRUE AS recall_lsh_ok, TRUE AS recall_ivf_ok"
    ),
    tags=("llm", "similarity", "approx", "recall"),
)
def ss_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Honest recall@5 gate for the ANN paths on a CLUSTERED fixture.

    The raw embeddings fixture is iid random vectors, so top-5-vs-exact
    recall there is a coin flip and no recall bound is assertable
    (ss_ann_lsh instead plants a near-dup). Real embedding corpora are
    clustered — so this probe builds a deterministic planted-cluster
    corpus FROM the fixture: the first 8 embeddings (by vec_id) are
    normalized cluster seeds, and each seed gets 250 members
    seed + 0.02 * noise, with noise components derived from
    xxhash64(cluster, member, dim) — fully Spark-side, no RNG state,
    identical across runs/partitionings. Within-cluster cosine ~0.996,
    cross-cluster ~0 (random seeds), so the exact top-5 of member 0 is
    entirely inside cluster 0 (asserted), and a working ANN path must
    recover it.

    Hash-gated contract (TRUE-declaring oracle): exact top-5 all in
    cluster 0; both ANN paths return k=5; recall@5 vs exact >= 0.8 for
    multi-table hyperplane LSH (default 4 planes x 8 tables) AND for
    IVF with kmeans-trained cells (n_cells=8, n_probe=2) — measured
    1.0 at every sf, bound leaves one-miss slack for ulp-level k-means
    drift."""
    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
        lsh_bucket_topk,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()

    # persist the 5-row results — each feeds multiple DAG branches
    # (returned-k agg + recall intersect)
    exact = (
        cosine_topk(corpus, "vec_id", "embedding", 0, 5)
        .select("vec_id")
        .persist()
    )
    lsh = (
        lsh_bucket_topk(corpus, "vec_id", "embedding", 0, 5)
        .select("vec_id")
        .persist()
    )
    cents = kmeans_centroids(corpus, "vec_id", "embedding", n_cells=8, n_iter=3)
    ivf = (
        ivf_topk(
            corpus, "vec_id", "embedding", 0, 5,
            n_cells=8, n_probe=2, centroids=cents,
        )
        .select("vec_id")
        .persist()
    )

    return (
        exact.agg(
            (F.max(F.pmod("vec_id", F.lit(8))) == 0).alias("exact_in_cluster0")
        )
        .crossJoin(lsh.agg((_cnt() == 5).alias("lsh_returned_5")))
        .crossJoin(ivf.agg((_cnt() == 5).alias("ivf_returned_5")))
        .crossJoin(
            exact.intersect(lsh).agg((_cnt() >= 4).alias("recall_lsh_ok"))
        )
        .crossJoin(
            exact.intersect(ivf).agg((_cnt() >= 4).alias("recall_ivf_ok"))
        )
    )


@probe(
    "ss_ann_pq_recall",
    oracle=(
        "SELECT TRUE AS pq_returned_5, TRUE AS cluster_pure, "
        "TRUE AS self_first, CAST(8 AS BIGINT) AS code_bytes, "
        "CAST(512 AS BIGINT) AS float_bytes"
    ),
    tags=("llm", "similarity", "approx", "recall", "quantize"),
)
def ss_ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization recall gate (operators/pq.py) on the SAME
    planted-cluster fixture as ss_ann_recall_clustered: 8 clusters x
    250 members from the embeddings fixture, codebooks trained m=8 x
    k=16 (8 BYTES per 64-dim vector — 64x smaller than the float64
    corpus, the accounting gated as columns), member 0 queried by ADC
    over the CODES only. Contract: 5 rows returned, the query vector
    itself ranks first (its reconstruction is its own nearest), and
    recall@5 vs the exact cosine top-5 >= 0.8. PQ is the what-a-scan-
    reads lever beside IVF's which-vectors-scan lever; at corpus scale
    the codes ride the partitioned ANN index."""
    from ensembl_database_loader_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()

    books = pq_train(corpus, "vec_id", "embedding", m=8, k=16, n_iter=3,
                     max_train=2000)
    codes = pq_encode(corpus, "vec_id", "embedding", books)
    qvec = [
        r[0]
        for r in corpus.filter(F.col("vec_id") == 0)
        .select(F.explode("embedding"))
        .collect()
    ]
    top = pq_topk(codes, books, qvec, k=5).persist()
    dim = len(qvec)
    return (
        top.agg((_cnt() == 5).alias("pq_returned_5"))
        .crossJoin(
            top.agg(
                (F.max(F.pmod("id", F.lit(8))) == 0).alias("cluster_pure")
            )
        )
        .crossJoin(
            top.orderBy("adc_dist", "id")
            .limit(1)
            .agg((F.max("id") == 0).alias("self_first"))
        )
        .crossJoin(
            spark.range(1).select(
                F.lit(8).cast("bigint").alias("code_bytes"),
                F.lit(int(dim) * 8).cast("bigint").alias("float_bytes"),
            )
        )
    )


_BOILER = (
    "standard license header boilerplate appended for exact substring testing"
)

_SUBSTR_ORACLE = (
    # same planted-boilerplate corpus, window hashing, duplicate set,
    # coverage, and cleaned text as the Spark operator — the cleaned
    # texts' distinct md5 is the strongest gate (one mis-removed token
    # anywhere breaks the hash)
    "WITH c AS (SELECT doc_id AS id, CASE WHEN doc_id % 3 = 0 THEN "
    f"text || ' {_BOILER}' ELSE text END AS text FROM documents), "
    f"t AS (SELECT id, {_toks('text')} AS toks FROM c), "
    "w AS (SELECT id, s AS pos, "
    "md5(array_to_string(list_slice(toks, s, s + 7), ' ')) AS whash "
    "FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(s) "
    "WHERE len(toks) >= 8 AND NOT (len(toks) = 1 AND toks[1] = '')), "
    "d AS (SELECT whash FROM w GROUP BY whash HAVING COUNT(*) >= 2), "
    "ds AS (SELECT id, list(pos) AS starts FROM w JOIN d USING (whash) "
    "GROUP BY id), "
    "cl AS (SELECT t.id, toks, COALESCE(ds.starts, []) AS starts "
    "FROM t LEFT JOIN ds ON t.id = ds.id), "
    "k AS (SELECT id, len(toks) AS n_tok, "
    "list_filter(list_transform(generate_series(1, len(toks)), "
    "i -> CASE WHEN len(list_filter(starts, s -> s <= i AND s >= i - 7)) > 0 "
    "THEN NULL ELSE toks[i] END), x -> x IS NOT NULL) AS kept FROM cl) "
    "SELECT CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_docs, "
    "CAST((SELECT COUNT(*) FROM w) AS BIGINT) AS n_windows, "
    "CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_dup_hashes, "
    "CAST((SELECT COUNT(*) FROM k WHERE n_tok - len(kept) > 0) AS BIGINT) "
    "AS docs_affected, "
    "CAST((SELECT SUM(n_tok - len(kept)) FROM k) AS BIGINT) AS tokens_removed, "
    # COALESCE: DuckDB's array_to_string([]) is NULL where Spark's
    # array_join([]) is '' — a fully-removed doc must hash as '' in
    # both engines
    "CAST((SELECT COUNT(DISTINCT md5(COALESCE(array_to_string(kept, ' '), ''))) "
    "FROM k) AS BIGINT) AS distinct_clean_md5"
)


@probe("tx_substr_dedup", oracle=_SUBSTR_ORACLE, tags=("llm", "dedup", "substring"))
def tx_substr_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring dedup (operators/substrdedup.py — the
    ExactSubstr pass of Lee et al. 2022, as distributed rolling-window
    hashing): every 8-token span occurring >= 2 times corpus-wide is
    removed from every document that contains it. The corpus plants a
    10-token license boilerplate on every third document (CASE both
    engines compute identically), so the duplicated-window set, the
    affected-doc count, the removed-token total, AND the distinct md5
    of every cleaned text are all non-vacuous and hash-gated."""
    from ensembl_database_loader_spark.operators.substrdedup import (
        remove_duplicate_spans,
        window_hashes,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" " + _BOILER))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # one window-hash pass and one dup aggregation feed the probe's
    # stats AND the removal operator (hashes/duplicated pass-through)
    wins = window_hashes(corpus, "doc_id", "text", window=8).persist()
    dups = (
        wins.groupBy("whash")
        .agg(_cnt().alias("cnt"))
        .filter(F.col("cnt") >= 2)
        .persist()
    )
    cleaned = remove_duplicate_spans(
        corpus, "doc_id", "text", window=8, hashes=wins, duplicated=dups
    ).persist()
    return (
        corpus.agg(_cnt().alias("n_docs"))
        .crossJoin(wins.agg(_cnt().alias("n_windows")))
        .crossJoin(dups.agg(_cnt().alias("n_dup_hashes")))
        .crossJoin(
            cleaned.agg(
                _cnt(F.col("n_removed") > 0).alias("docs_affected"),
                F.sum("n_removed").cast("bigint").alias("tokens_removed"),
                F.countDistinct(F.md5("clean_text"))
                .cast("bigint")
                .alias("distinct_clean_md5"),
            )
        )
    )


_TOKEN_BUDGET_ORACLE = (
    # the naive single-window reference: per-stratum cumsum of tokens
    # in (knuth_hash, id) order, keep while tokens-before < budget —
    # the bucketed Spark plan must produce the IDENTICAL keep set
    # (kept_id_sum is the row-level gate)
    f"WITH t AS (SELECT doc_id, lang, len({_toks('text')}) AS n_tokens "
    "FROM documents), "
    "h AS (SELECT *, (doc_id * 2654435761) % 4294967296 AS hh FROM t "
    "WHERE lang IN ('de', 'en', 'zh')), "
    "b AS (SELECT *, CASE lang WHEN 'en' THEN 3000 WHEN 'zh' THEN 500 "
    "WHEN 'de' THEN 100000 END AS bud, "
    "COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY hh, doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM h) "
    "SELECT lang, COUNT(*) AS kept_cnt, "
    "CAST(SUM(n_tokens) AS BIGINT) AS kept_tokens, "
    "CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum, "
    "((SUM(n_tokens) - MAX(n_tokens)) < MAX(bud)) AS overshoot_bounded "
    "FROM b WHERE bef < bud GROUP BY lang ORDER BY lang"
)


@probe(
    "llp_token_budget",
    oracle=_TOKEN_BUDGET_ORACLE,
    tags=("llm", "pipeline", "mixing"),
)
def llp_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """Token-budget corpus selection (operators/budget.py
    select_token_budget): per-stratum 'first N tokens' in deterministic
    (knuth32(id), id) order — the mixing primitive that turns token
    weight recipes into document sets. The Spark plan is the SCALE
    formulation (hash-range bucket histogram + window cumsum over the
    tiny histogram + exact pass over ONLY the boundary bucket — no
    stratum is ever fully sorted); the oracle is the naive one-window
    reference, so the hash-gate proves the two plans pick the
    identical keep set (kept_id_sum is row-level). Budgets: en 3000 /
    zh 500 / de 100000 tokens; other strata drop (whitelist)."""
    from ensembl_database_loader_spark.operators.budget import select_token_budget
    from ensembl_database_loader_spark.operators.textstats import with_token_stats

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    dt = with_token_stats(d, "text").select("doc_id", "lang", "n_tokens")
    kept = select_token_budget(
        dt, "doc_id", "n_tokens", "lang",
        {"en": 3000, "zh": 500, "de": 100000}, n_buckets=64,
    )
    bud = F.when(F.col("lang") == "en", 3000).when(F.col("lang") == "zh", 500).when(
        F.col("lang") == "de", 100000
    )
    return (
        kept.groupBy("lang")
        .agg(
            _cnt().alias("kept_cnt"),
            F.sum("n_tokens").cast("bigint").alias("kept_tokens"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            # overshoot <= one document is a THEOREM of the keep rule
            # (total = before_last + tok_last < budget + max_tok), so
            # sum - max < budget must hold — a real hash-gated bound
            ((F.sum("n_tokens") - F.max("n_tokens")) < F.max(bud)).alias(
                "overshoot_bounded"
            ),
        )
        .orderBy("lang")
    )


_LM_ORACLE = (
    # identical training corpus (lang='en'), add-1-smoothed bigram
    # logprob, per-doc mean, per-lang aggregate; en_best uses the
    # UNROUNDED per-lang means (gaps ~1e-3, far above ulp noise)
    f"WITH tdoc AS (SELECT doc_id, lang, {_toks('text')} AS toks FROM documents), "
    "uni AS (SELECT w, COUNT(*) AS uc FROM "
    f"(SELECT unnest({_toks('text')}) AS w FROM documents WHERE lang = 'en') "
    "WHERE w <> '' GROUP BY w), "
    "vv AS (SELECT COUNT(*) AS v FROM uni), "
    "bi AS (SELECT w1, w2, COUNT(*) AS bc FROM "
    "(SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM tdoc, "
    "unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE lang = 'en') "
    "GROUP BY w1, w2), "
    "bg AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2 FROM tdoc, "
    "unnest(generate_series(1, len(toks) - 1)) AS u(i)), "
    "sc AS (SELECT doc_id, lang, "
    "ln((COALESCE(bc, 0) + 1.0) / (COALESCE(uc, 0) + 1.0 * v)) AS lp "
    "FROM bg LEFT JOIN bi USING (w1, w2) "
    "LEFT JOIN uni ON bg.w1 = uni.w CROSS JOIN vv), "
    "doc AS (SELECT doc_id, lang, AVG(lp) AS mlp FROM sc GROUP BY doc_id, lang), "
    "per AS (SELECT lang, COUNT(*) AS cnt, AVG(mlp) AS raw FROM doc GROUP BY lang) "
    "SELECT lang, CAST(cnt AS BIGINT) AS scored_docs, "
    "ROUND(raw + 1e-9, 2) AS avg_logprob, "
    "((SELECT lang FROM per ORDER BY raw DESC, lang LIMIT 1) = 'en') AS en_best "
    "FROM per ORDER BY lang"
)


@probe("tx_lm_perplexity", oracle=_LM_ORACLE, tags=("llm", "text", "quality"))
def tx_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM perplexity quality scoring (operators/lm.py — the
    CCNet model-based filter next to the heuristic quality score):
    train add-1-smoothed unigram/bigram counts on the English slice,
    score EVERY document's mean bigram ln-probability, aggregate per
    language. The discrimination contract — the reference language
    scores best (`en_best`) — is exactly CCNet's premise, computed on
    the unrounded per-language means in both engines; the per-language
    rounded means and scored-doc counts are hash-gated directly.
    Probabilities are exact BIGINT-count rationals; ln() is the only
    double step."""
    from ensembl_database_loader_spark.operators.lm import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    uni, bi, vocab = train_bigram_lm(d.filter(F.col("lang") == "en"))
    scored = score_bigram_logprob(d, "doc_id", "text", uni, bi, vocab)
    per = (
        scored.filter(F.col("mean_logprob").isNotNull())
        .groupBy("lang")
        .agg(
            _cnt().alias("scored_docs"),
            F.avg("mean_logprob").alias("_raw"),
        )
        .persist()
    )
    best = per.orderBy(F.desc("_raw"), "lang").limit(1).select(
        (F.col("lang") == "en").alias("en_best")
    )
    return (
        per.crossJoin(best)
        .select(
            "lang",
            F.col("scored_docs").cast("bigint"),
            F.round(F.col("_raw") + F.lit(1e-9), 2).alias("avg_logprob"),
            "en_best",
        )
        .orderBy("lang")
    )


_KN_ORACLE = (
    # identical KN statistics (lang='en' training slice), identical
    # IEEE expression sequence, per-doc mean, per-lang aggregate
    f"WITH tdoc AS (SELECT doc_id, lang, {_toks('text')} AS toks FROM documents), "
    "bi AS (SELECT w1, w2, COUNT(*) AS bc FROM "
    "(SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM tdoc, "
    "unnest(generate_series(1, len(toks) - 1)) AS u(i) WHERE lang = 'en') "
    "GROUP BY w1, w2), "
    "ctx AS (SELECT w1, CAST(SUM(bc) AS BIGINT) AS c1, COUNT(*) AS n1f "
    "FROM bi GROUP BY w1), "
    "cont AS (SELECT w2, COUNT(*) AS n1b FROM bi GROUP BY w2), "
    "bb AS (SELECT COUNT(*) AS b FROM bi), "
    "vv AS (SELECT COUNT(DISTINCT w) AS v FROM "
    f"(SELECT unnest({_toks('text')}) AS w FROM documents WHERE lang = 'en') "
    "WHERE w <> ''), "
    "bg AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2 FROM tdoc, "
    "unnest(generate_series(1, len(toks) - 1)) AS u(i)), "
    "sc AS (SELECT doc_id, lang, ln(CASE WHEN c1 IS NOT NULL THEN "
    "GREATEST(COALESCE(bc, 0) - 0.75, 0.0) / c1 "
    "+ 0.75 * n1f / c1 * ((COALESCE(n1b, 0) + 1.0) / (b + v)) "
    "ELSE (COALESCE(n1b, 0) + 1.0) / (b + v) END) AS lp "
    "FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN ctx USING (w1) "
    "LEFT JOIN cont USING (w2) CROSS JOIN bb CROSS JOIN vv), "
    "doc AS (SELECT doc_id, lang, AVG(lp) AS mlp FROM sc GROUP BY doc_id, lang), "
    "per AS (SELECT lang, COUNT(*) AS cnt, AVG(mlp) AS raw FROM doc GROUP BY lang) "
    "SELECT lang, CAST(cnt AS BIGINT) AS scored_docs, "
    "ROUND(raw + 1e-9, 2) AS avg_logprob, "
    "((SELECT lang FROM per ORDER BY raw DESC, lang LIMIT 1) = 'en') AS en_best "
    "FROM per ORDER BY lang"
)


@probe("tx_lm_kneser_ney", oracle=_KN_ORACLE, tags=("llm", "text", "quality"))
def tx_lm_kneser_ney(spark: SparkSession, sf: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (operators/lm.
    train_kn_bigram_lm / score_kn_logprob) — the smoothing KenLM
    actually uses for the CCNet filter, beside the add-alpha baseline
    of tx_lm_perplexity: absolute discounting on seen bigrams, backoff
    mass D*N1+(w1,.)/c(w1) routed to the CONTINUATION distribution
    N1+(., w2)/(B+V-uniform-floored), full continuation fallback for
    unseen contexts. Every statistic is a BIGINT count; the probability
    expression is mirrored character-for-character in the oracle so
    both engines run the identical IEEE sequence, and the per-language
    means + the en_best discrimination contract hash-gate the result."""
    from ensembl_database_loader_spark.operators.lm import (
        score_kn_logprob,
        train_kn_bigram_lm,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    bi, ctx, cont, n_types, vocab = train_kn_bigram_lm(
        d.filter(F.col("lang") == "en")
    )
    scored = score_kn_logprob(
        d, "doc_id", "text", bi, ctx, cont, n_types, vocab
    )
    per = (
        scored.filter(F.col("mean_logprob").isNotNull())
        .groupBy("lang")
        .agg(
            _cnt().alias("scored_docs"),
            F.avg("mean_logprob").alias("_raw"),
        )
        .persist()
    )
    best = per.orderBy(F.desc("_raw"), "lang").limit(1).select(
        (F.col("lang") == "en").alias("en_best")
    )
    return (
        per.crossJoin(best)
        .select(
            "lang",
            F.col("scored_docs").cast("bigint"),
            F.round(F.col("_raw") + F.lit(1e-9), 2).alias("avg_logprob"),
            "en_best",
        )
        .orderBy("lang")
    )


_MATERIALIZE_ORACLE = (
    # replay the pack_concat stream per shard (same knuth shard + (hash,
    # id) order + cumsum), then cut it into 128-token windows from
    # per-token rows: md5 of each window's space-joined tokens is
    # row-level exact
    f"WITH t AS (SELECT doc_id, {_toks('text')} AS words, "
    f"len({_toks('text')}) AS n FROM documents), "
    "h AS (SELECT doc_id, words, n, "
    "(doc_id * 2654435761) % 4294967296 AS hh, "
    "CAST(((doc_id * 2654435761) % 4294967296) % 8 AS INTEGER) AS shard FROM t), "
    "s AS (SELECT *, COALESCE(SUM(n + 1) OVER (PARTITION BY shard "
    "ORDER BY hh, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS start_offset FROM h), "
    "tok AS (SELECT shard, start_offset + i - 1 AS pos, words[i] AS w "
    "FROM s, unnest(generate_series(1, n)) AS u(i) "
    "UNION ALL SELECT shard, start_offset + n AS pos, '<e>' FROM s) "
    "SELECT shard, CAST(pos // 128 AS BIGINT) AS example, "
    "CAST(COUNT(*) AS BIGINT) AS n_tokens, "
    "md5(string_agg(w, ' ' ORDER BY pos)) AS tok_md5, "
    "(COUNT(*) = 128) AS complete "
    "FROM tok GROUP BY shard, pos // 128 ORDER BY shard, example"
)


@probe(
    "llp_tokenized_examples",
    oracle=_MATERIALIZE_ORACLE,
    tags=("llm", "pipeline", "packing"),
)
def llp_tokenized_examples(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-length training-example materialization (operators/
    packing.materialize_examples): each shard's documents concatenate
    (with an eos sentinel) into one token stream and the ACTUAL
    128-token examples are cut out, documents spanning boundaries —
    the artifact a trainer consumes, downstream of pack_concat's
    offset arithmetic. Row-level exact per (shard, example): token
    count, the md5 of the example's space-joined tokens (the oracle
    rebuilds every window from per-token rows — content, order, and
    boundary splits must all agree), and that only a shard's final
    example is incomplete. The engine never builds per-token rows:
    fragments are JVM array slices (ceil(len/seq_len)+1 per doc), one
    shuffle groups them by (shard, example)."""
    from ensembl_database_loader_spark.functions.text import tokens as _tok
    from ensembl_database_loader_spark.operators.packing import (
        materialize_examples,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select(
        "doc_id", _tok("text").alias("toks")
    )
    ex = materialize_examples(
        d, "doc_id", "toks", seq_len=128, n_shards=8, eos="<e>"
    )
    return ex.select(
        "shard",
        F.col("example").cast("bigint").alias("example"),
        "n_tokens",
        F.md5(F.concat_ws(" ", "tokens")).alias("tok_md5"),
        "complete",
    ).orderBy("shard", "example")


_CONCAT_PACK_ORACLE = (
    # per-shard concat stream: same knuth shard + (hash, id) order +
    # cumsum arithmetic, all BIGINT — row-level exact
    f"WITH t AS (SELECT doc_id, len({_toks('text')}) AS n_tokens FROM documents), "
    "h AS (SELECT doc_id, n_tokens, "
    "(doc_id * 2654435761) % 4294967296 AS hh, "
    "CAST(((doc_id * 2654435761) % 4294967296) % 8 AS INTEGER) AS shard FROM t), "
    "s AS (SELECT *, COALESCE(SUM(n_tokens + 1) OVER (PARTITION BY shard "
    "ORDER BY hh, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
    "AS start_offset FROM h), "
    "e AS (SELECT *, start_offset // 128 AS fe, "
    "(start_offset + greatest(n_tokens, 1) - 1) // 128 AS le FROM s) "
    "SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs, "
    "CAST(SUM(n_tokens + 1) AS BIGINT) AS stream_tokens, "
    "CAST((SUM(n_tokens + 1) + 127) // 128 AS BIGINT) AS n_examples, "
    "CAST(COUNT(*) FILTER (WHERE fe != le) AS BIGINT) AS docs_split, "
    "CAST(SUM(start_offset) AS BIGINT) AS sum_start_offsets "
    "FROM e GROUP BY shard ORDER BY shard"
)


@probe(
    "llp_concat_packing",
    oracle=_CONCAT_PACK_ORACLE,
    tags=("llm", "pipeline", "packing"),
)
def llp_concat_packing(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concatenation packing (operators/packing.py
    pack_concat): per-shard token streams with one EOS per document,
    fixed 128-token examples cut across document boundaries. The
    oracle recomputes the full shard/order/cumsum arithmetic, so
    per-shard doc counts, stream lengths, example counts, boundary-
    split counts AND the sum of every start offset (row-level) are
    hash-gated. Complements llp_seq_packing (FFD binning) as the
    second standard packing scheme."""
    from ensembl_database_loader_spark.operators.packing import pack_concat
    from ensembl_database_loader_spark.operators.textstats import with_token_stats

    ensure_session_confs(spark)
    d = with_token_stats(table(spark, sf, "documents"), "text").select(
        "doc_id", "n_tokens"
    )
    packed = pack_concat(d, "doc_id", "n_tokens", seq_len=128, n_shards=8)
    return (
        packed.groupBy("shard")
        .agg(
            _cnt().alias("n_docs"),
            F.sum(F.col("n_tokens") + 1).cast("bigint").alias("stream_tokens"),
            F.floor((F.sum(F.col("n_tokens") + 1) + 127) / 128)
            .cast("bigint")
            .alias("n_examples"),
            _cnt(F.col("spans_boundary")).alias("docs_split"),
            F.sum("start_offset").cast("bigint").alias("sum_start_offsets"),
        )
        .orderBy("shard")
    )


_DOMAIN_CAP_ORACLE = (
    # the naive per-domain row_number reference: rank docs per source
    # in (knuth_hash, id) order, keep rank <= cap. The Spark side runs
    # the bucket-histogram plan instead (no per-domain sort) — the
    # row-level kept_id_sum gate proves the two pick IDENTICAL docs.
    # TRY_CAST + cap IS NOT NULL mirrors the Spark side's whitelist
    # semantics exactly: a source outside src0..src19 drops in both
    # engines instead of erroring the oracle
    "WITH h AS (SELECT doc_id, source, "
    "(doc_id * 2654435761) % 4294967296 AS hh FROM documents), "
    "c AS (SELECT *, CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INTEGER) "
    "BETWEEN 0 AND 19 THEN "
    "CASE WHEN TRY_CAST(SUBSTR(source, 4) AS INTEGER) % 2 = 1 "
    "THEN 4 ELSE 9 END END AS cap FROM h WHERE source LIKE 'src%'), "
    "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source "
    "ORDER BY hh, doc_id) AS rn FROM c) "
    "SELECT source, COUNT(*) AS kept_cnt, "
    "CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum, "
    "(COUNT(*) = MIN(cap)) AS cap_exact "
    "FROM r WHERE rn <= cap GROUP BY source ORDER BY source"
)


@probe(
    "llp_domain_cap",
    oracle=_DOMAIN_CAP_ORACLE,
    tags=("llm", "pipeline", "mixing"),
)
def llp_domain_cap(spark: SparkSession, sf: str) -> DataFrame:
    """Per-domain document cap (operators/budget.py select_doc_cap):
    keep at most cap docs per source in deterministic (knuth32(id), id)
    order — the web-curation staple that stops giant domains dominating
    a corpus (and the analogue of the reference's per-database limits,
    LoadDBs_conf.pm batch scoping). A doc cap is a token budget at
    weight 1, so the bucket-histogram scale plan is reused verbatim;
    the oracle is the naive per-domain row_number window. cap_exact
    pins non-vacuity: every source exceeds its cap on the fixture, so
    exactly cap docs survive (the weight-1 exactness theorem)."""
    from ensembl_database_loader_spark.operators.budget import select_doc_cap

    ensure_session_confs(spark)
    caps = {f"src{i}": (4 if i % 2 == 1 else 9) for i in range(0, 20)}
    d = table(spark, sf, "documents").select("doc_id", "source")
    kept = select_doc_cap(d, "doc_id", "source", caps, n_buckets=64)
    cap_col = F.create_map(
        *[x for k, v in sorted(caps.items()) for x in (F.lit(k), F.lit(v))]
    )[F.col("source")]
    return (
        kept.groupBy("source")
        .agg(
            _cnt().alias("kept_cnt"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
            (_cnt() == F.max(cap_col)).alias("cap_exact"),
        )
        .orderBy("source")
    )


_SKETCH_ORACLE = (
    # exact distinct/overlap quantities recomputed in SQL; sketch
    # quantities are engine-side (DataSketches binaries DuckDB cannot
    # reproduce) and ride TRUE-declaring contract booleans — each
    # non-vacuous: the fixture has 3k-27k distinct shingles per lang
    # and a strictly-between-0-and-1 Jaccard at every sf
    f"WITH t AS (SELECT lang, source, {_toks('text')} AS toks FROM documents "
    "WHERE lang IN ('en', 'de')), "
    "sh AS (SELECT lang, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS s "
    "FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)), "
    "g AS (SELECT s, MAX(lang = 'en') AS en, MAX(lang = 'de') AS de "
    "FROM sh GROUP BY s) "
    "SELECT CAST(COUNT(*) FILTER (WHERE en) AS BIGINT) AS en_distinct, "
    "CAST(COUNT(*) FILTER (WHERE de) AS BIGINT) AS de_distinct, "
    "CAST(COUNT(*) FILTER (WHERE en AND de) AS BIGINT) AS inter_exact, "
    "ROUND(CAST(COUNT(*) FILTER (WHERE en AND de) AS DOUBLE) "
    "/ COUNT(*) + 1e-9, 4) AS jaccard_exact, "
    "TRUE AS hll_ok, TRUE AS merge_ok, TRUE AS theta_ok FROM g"
)


@probe(
    "ss_sketch_distinct_overlap",
    oracle=_SKETCH_ORACLE,
    tags=("sketch", "llm", "incremental"),
)
def ss_sketch_distinct_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable distinct sketches (operators/sketches.py): storable
    per-batch HLL sketches whose union carries the single-shot error
    bound (merge_ok gates per-source-merged within 2% of the one-shot
    union estimate over en shingles — DataSketches guarantees no
    error growth on merge, not bit-identity), HLL estimate
    within 5% of the exact distinct count (hll_ok), and theta-sketch
    set algebra estimating en/de shingle Jaccard without any
    distinct-join (theta_ok: within 0.05 absolute of the exact
    Jaccard, which the oracle recomputes in full alongside the exact
    distinct counts). The incremental layer over q17's one-shot
    approx_count_distinct: sketches persist with each batch, 'distinct
    across all runs' is a union over tiny rows, not a rescan."""
    from ensembl_database_loader_spark.functions.text import tokens, word_shingles
    from ensembl_database_loader_spark.operators.sketches import (
        corpus_overlap_estimate,
        distinct_sketches,
        merge_distinct_sketches,
    )

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").filter(F.col("lang").isin("en", "de"))
    sh = d.select(
        "lang", "source", F.explode(word_shingles(tokens("text"))).alias("s")
    ).persist()

    g = sh.groupBy("s").agg(
        F.max(F.col("lang") == "en").alias("en"),
        F.max(F.col("lang") == "de").alias("de"),
    )
    exact = g.agg(
        _cnt(F.col("en")).alias("en_distinct"),
        _cnt(F.col("de")).alias("de_distinct"),
        _cnt(F.col("en") & F.col("de")).alias("inter_exact"),
        F.round(
            _cnt(F.col("en") & F.col("de")) / _cnt() + F.lit(1e-9), 4
        ).alias("jaccard_exact"),
    )

    en = sh.filter(F.col("lang") == "en")
    per_src = distinct_sketches(en, ("source",), "s", lg_k=14)
    merged = merge_distinct_sketches(per_src).select(
        F.col("distinct_est").alias("m_est")
    )
    # route the single-shot sketch through the SAME union estimator:
    # a fresh sketch reports the HIP estimate, a union the composite
    # estimate — the register state is identical, the estimator isn't
    single = merge_distinct_sketches(
        distinct_sketches(en.withColumn("_g", F.lit(1)), ("_g",), "s")
    ).select(F.col("distinct_est").alias("s_est"))
    theta = corpus_overlap_estimate(
        en.select("s"), sh.filter(F.col("lang") == "de").select("s"), "s", lg_k=16
    ).select(F.col("est_jaccard").alias("t_j"))

    return (
        exact.crossJoin(merged)
        .crossJoin(single)
        .crossJoin(theta)
        .select(
            "en_distinct",
            "de_distinct",
            "inter_exact",
            "jaccard_exact",
            (
                F.abs(F.col("s_est") - F.col("en_distinct"))
                / F.col("en_distinct")
                <= 0.05
            ).alias("hll_ok"),
            (
                F.abs(F.col("m_est") - F.col("s_est"))
                / F.col("s_est")
                <= 0.02
            ).alias("merge_ok"),
            (F.abs(F.col("t_j") - F.col("jaccard_exact")) <= 0.05).alias(
                "theta_ok"
            ),
        )
    )


@probe(
    "dd_semantic_dedup_incr",
    oracle=(
        "SELECT CAST(COUNT(*) AS BIGINT) AS sdi_store_rows, "
        "TRUE AS sdi_matches_oneshot, TRUE AS sdi_store_drops, "
        "TRUE AS sdi_kept_nonempty FROM embeddings WHERE vec_id < 4000"
    ),
    tags=("llm", "dedup", "semantic", "incremental"),
)
def dd_semantic_dedup_incr(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental semantic dedup (pipeline/curate.py
    write_semantic_store / semantic_dedup_increment): batch1 deduped
    one-shot and stored with its IVF cells + centroids; batch2 deduped
    against the STORE (same-cell cross pairs only — stored vectors are
    never re-paired against themselves) plus itself.

    Hash-gated contract: kept1 ∪ kept2 is ROW-IDENTICAL to the
    one-shot semantic_dedup(union, candidates='ivf', same centroids)
    keep set (symmetric-difference-empty, the increment twin of
    llp_incremental_dedup's gate); the store actually CAUSED drops
    (batch2 deduped alone keeps strictly more — non-vacuous); the
    store holds every input row (count gated in SQL); kept set
    non-empty. Threshold 0.2 on the iid fixture gives cross-batch
    near-pairs at every sf."""
    import tempfile

    from ensembl_database_loader_spark.operators.similarity import (
        _grid_centroids,
        semantic_dedup,
    )
    from ensembl_database_loader_spark.pipeline.curate import (
        semantic_dedup_increment,
        write_semantic_store,
    )

    ensure_session_confs(spark)
    # vec_id < 4000 caps the quadratic-ish pair work at large sf (the
    # operator's own scaling is measured separately in COVERAGE.md)
    e = (
        table(spark, sf, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") < 4000)
    )
    cut = e.count() // 2
    b1 = e.filter(F.col("vec_id") < cut)
    b2 = e.filter(F.col("vec_id") >= cut)
    store = tempfile.mkdtemp(prefix="edl_semstore_") + "/sem"

    cents = _grid_centroids(b1, "vec_id", "embedding", 16)
    kept1 = semantic_dedup(
        b1, "vec_id", "embedding", threshold=0.2,
        candidates="ivf", centroids=cents,
    ).select("vec_id")
    write_semantic_store(b1, store, "vec_id", "embedding", centroids=cents)
    kept2 = semantic_dedup_increment(
        b2, store, "vec_id", "embedding", threshold=0.2
    ).select("vec_id").persist()

    one_shot = semantic_dedup(
        e, "vec_id", "embedding", threshold=0.2,
        candidates="ivf", centroids=cents,
    ).select("vec_id")
    inc = kept1.unionByName(kept2).persist()
    sym_diff = inc.exceptAll(one_shot).unionAll(one_shot.exceptAll(inc))
    # batch2 deduped with NO store: the store's cross-batch pairs must
    # shrink the kept set (proves the increment consulted history)
    kept2_alone = semantic_dedup(
        b2, "vec_id", "embedding", threshold=0.2,
        candidates="ivf", centroids=cents,
    ).select("vec_id")
    stored = spark.read.parquet(store + "/sem_vectors")
    return (
        stored.agg(_cnt().alias("sdi_store_rows"))
        .crossJoin(sym_diff.agg((_cnt() == 0).alias("sdi_matches_oneshot")))
        .crossJoin(
            kept2_alone.agg(_cnt().alias("_ka"))
            .crossJoin(kept2.agg(_cnt().alias("_ki")))
            .select((F.col("_ka") > F.col("_ki")).alias("sdi_store_drops"))
        )
        .crossJoin(inc.agg((_cnt() > 0).alias("sdi_kept_nonempty")))
    )


_CLF_ORACLE = (
    # the planted label (>=2 of the three heuristic indicators) and the
    # knuth split recomputed relationally; the classifier's holdout
    # accuracy gate is a boolean (training is iterative — not
    # SQL-expressible — but on a linearly separable planting the
    # learned boundary must reproduce the labels)
    f"WITH q AS (SELECT doc_id, {_toks('text')} AS toks, length(text) AS n "
    "FROM documents), "
    "s AS (SELECT doc_id, "
    "(CASE WHEN n BETWEEN 100 AND 400 THEN 1 ELSE 0 END) "
    "+ (CASE WHEN CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) >= 0.5 "
    "THEN 1 ELSE 0 END) "
    "+ (CASE WHEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(toks, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b) AS DOUBLE) "
    "/ greatest(len(toks), 1) BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS qs "
    "FROM q), "
    "lab AS (SELECT CASE WHEN qs >= 2 THEN 1 ELSE 0 END AS y, "
    "((doc_id * 2654435761) % 4294967296) % 10 AS b FROM s) "
    "SELECT CAST(SUM(CASE WHEN b < 8 THEN 1 ELSE 0 END) AS BIGINT) AS clf_n_train, "
    "CAST(SUM(CASE WHEN b >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS clf_n_holdout, "
    "CAST(SUM(CASE WHEN b >= 8 THEN y ELSE 0 END) AS BIGINT) AS clf_holdout_pos, "
    "TRUE AS clf_acc_ok FROM lab"
)


@probe("tx_quality_classifier", oracle=_CLF_ORACLE, tags=("llm", "text", "model"))
def tx_quality_classifier(spark: SparkSession, sf: str) -> DataFrame:
    """Trained quality classifier (operators/classifier.py) — the
    model-based filter step (CCNet/fastText-style) after the heuristic
    filters. Features are single-pass codegen expressions; training is
    MLlib logistic regression (distributed LBFGS: one treeAggregate
    per iteration, only the coefficient vector on the driver); serving
    is the exported JSON model applied as a codegen
    ``sigmoid(b + w.x)`` column — no MLlib, no UDF at inference.

    The probe plants a separable labeling (>= 2 of the 3 heuristic
    quality indicators — the ll5 signals), splits 80/20 on the knuth
    hash, trains on the 80, and gates (a) the split/label accounting
    against the relational recomputation and (b) >= 95% holdout
    accuracy of the CODEGEN-SERVED scores — which also pins that the
    exported coefficients mean what the trainer learned."""
    from ensembl_database_loader_spark.operators.classifier import (
        quality_features,
        quality_score_expr,
        train_quality_classifier,
    )
    from ensembl_database_loader_spark.operators.mixing import keyed_hash

    ensure_session_confs(spark)
    d = quality_features(table(spark, sf, "documents"), "text")
    d = d.withColumn(
        "y",
        (
            F.col("f_len_in_bounds") + F.col("f_diversity_ok") + F.col("f_mtl_ok")
            >= 2
        ).cast("double"),
    ).withColumn("b", keyed_hash("doc_id", 10))
    model = train_quality_classifier(d.filter(F.col("b") < 8), "y")
    hold = F.col("b") >= 8
    pred_ok = (
        (quality_score_expr(model) >= 0.5).cast("int") == F.col("y").cast("int")
    ).cast("int")
    return d.agg(
        F.sum(F.when(~hold, 1).otherwise(0)).cast("bigint").alias("clf_n_train"),
        F.sum(F.when(hold, 1).otherwise(0)).cast("bigint").alias("clf_n_holdout"),
        F.sum(F.when(hold, F.col("y")).otherwise(0.0))
        .cast("bigint")
        .alias("clf_holdout_pos"),
        (F.avg(F.when(hold, pred_ok)) >= 0.95).alias("clf_acc_ok"),
    )


_FREQ_ORACLE = (
    # exact token total in SQL; the sketch quantities are gated by
    # TRUE-declared contracts (the sketches.py pattern): WHICH
    # beyond-guarantee candidates survive is layout-dependent, the MG
    # contract itself is not
    f"WITH t AS (SELECT {_toks('text')} AS toks FROM documents) "
    "SELECT CAST(SUM(len(toks)) AS BIGINT) AS fi_n_tokens, "
    "TRUE AS fi_err_ok, TRUE AS fi_bounds_ok, TRUE AS fi_heavy_found FROM t"
)


@probe("dq_freq_items", oracle=_FREQ_ORACLE, tags=("sketch", "approx", "dq"))
def dq_freq_items(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries heavy hitters (operators/sketches.frequent_items)
    over the exploded token stream of the documents table: <= k
    counters per partition (Arrow pass, nothing item-granular ever
    shuffles), a k x #partitions candidate frame combined in one step.
    Gates the full MG contract against the exact counts computed at
    probe scale: every weight is a lower bound within err of truth,
    every token with true count > err survives, and err <= n/(k+1) —
    the proven mergeable-summaries bound."""
    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.sketches import frequent_items

    ensure_session_confs(spark)
    k = 32
    toks = table(spark, sf, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    sk = frequent_items(toks, "tok", k=k)
    exact = toks.groupBy("tok").agg(_cnt().alias("cnt"))
    items = sk.filter(F.col("item").isNotNull())
    errdf = sk.filter(F.col("item").isNull()).agg(
        F.coalesce(F.sum("weight"), F.lit(0)).cast("bigint").alias("err")
    )
    bounds = (
        items.join(exact, items.item == exact.tok, "left")
        .crossJoin(errdf)
        .agg(
            F.min(
                (F.col("weight") <= F.col("cnt"))
                & (F.col("weight") >= F.col("cnt") - F.col("err"))
            ).alias("fi_bounds_ok")
        )
    )
    heavy = (
        exact.crossJoin(errdf)
        .filter(F.col("cnt") > F.col("err"))
        .join(items, F.col("tok") == F.col("item"), "left_anti")
        .agg((_cnt() == 0).alias("fi_heavy_found"))
    )
    head = (
        toks.agg(_cnt().alias("n"))
        .crossJoin(errdf)
        .select(
            F.col("n").cast("bigint").alias("fi_n_tokens"),
            (F.col("err") <= F.col("n") / F.lit(k + 1)).alias("fi_err_ok"),
        )
    )
    return head.crossJoin(bounds).crossJoin(heavy)


_EXACTK_ORACLE = (
    # identical hash arithmetic: DuckDB's direct (id*K) % 2^32 equals
    # Spark's overflow-free two-halves knuth32 for every non-negative
    # doc_id (< 2^32 here), so the sample is row-level EXACT
    "WITH h AS (SELECT lang, doc_id, "
    "((doc_id * 2654435761) % 4294967296) AS hv FROM documents), "
    "s AS (SELECT lang, doc_id, ROW_NUMBER() OVER "
    "(PARTITION BY lang ORDER BY hv, doc_id) AS rn FROM h), "
    "g AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY hv, doc_id) AS rn "
    "FROM h), "
    "sl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ks_n, "
    "CAST(SUM(doc_id) AS BIGINT) AS ks_id_sum FROM s WHERE rn <= 20 "
    "GROUP BY lang), "
    "gl AS (SELECT CAST(COUNT(*) AS BIGINT) AS g_n, "
    "CAST(SUM(doc_id) AS BIGINT) AS g_id_sum FROM g WHERE rn <= 50) "
    "SELECT lang, ks_n, ks_id_sum, g_n, g_id_sum "
    "FROM sl CROSS JOIN gl ORDER BY lang"
)


@probe("llp_sample_exact_k", oracle=_EXACTK_ORACLE, tags=("llm", "pipeline", "curation"))
def llp_sample_exact_k(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-size deterministic sampling
    (operators/mixing.sample_exact_k): the k rows with the smallest
    knuth32(id) — exactly k, the SAME k on any layout/cluster/engine,
    incremental-append stable. Global form plans
    TakeOrderedAndProject (per-partition k-heap, no global sort —
    plan-gated in tests); stratified form pre-filters map-side at
    margin·k/n·2^32 per stratum so the per-stratum window sorts
    ~margin·k rows instead of n, with a provable (not probabilistic)
    unfiltered fallback for any stratum the filter leaves short. The
    id-sum fingerprint makes the oracle row-level exact."""
    from ensembl_database_loader_spark.operators.mixing import sample_exact_k

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select("doc_id", "lang")
    strat = (
        sample_exact_k(d, "doc_id", 20, strata_col="lang")
        .groupBy("lang")
        .agg(
            _cnt().alias("ks_n"),
            F.sum("doc_id").cast("bigint").alias("ks_id_sum"),
        )
    )
    glob = sample_exact_k(d, "doc_id", 50).agg(
        _cnt().alias("g_n"),
        F.sum("doc_id").cast("bigint").alias("g_id_sum"),
    )
    return strat.crossJoin(glob).orderBy("lang")


_TCHK_ORACLE = (
    # the mutation set is SQL-expressible, so the drill-down's side
    # counts are oracle-EXACT, not just TRUE-gated: side a = every
    # dropped-or-changed original row, side b = every changed new row
    "SELECT CAST(COUNT(*) AS BIGINT) AS tc_n_rows, "
    "CAST(COUNT(*) FILTER (WHERE l_orderkey % 100000 IN (7, 13)) AS BIGINT)"
    " AS tc_only_a, "
    "CAST(COUNT(*) FILTER (WHERE l_orderkey % 100000 = 13) AS BIGINT)"
    " AS tc_only_b, "
    "TRUE AS tc_equal_ok, TRUE AS tc_mut_detected FROM lineitem"
)


@probe("dq_table_checksum", oracle=_TCHK_ORACLE, tags=("dq", "integrity"))
def dq_table_checksum(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed table integrity (operators/integrity.py) — the
    row-level analogue of the reference's file-checksum verify
    (LoadFiles.pm:171-199): two tables compare by exchanging one
    order-independent (count, modular-sum, bit-xor) fingerprint row
    per hash bucket; drill-down re-scans ONLY mismatched buckets
    (map-side fp filter) and diffs with multiset exceptAll. Gated
    here: layout-invariance (repartitioned copy == original), a
    synthetic drop+mutate detected, and the drill-down's exact
    side-a/side-b row counts vs the relational recomputation."""
    from ensembl_database_loader_spark.operators.integrity import (
        checksum_diff_rows,
        checksum_mismatches,
    )

    ensure_session_confs(spark)
    a = table(spark, sf, "lineitem")
    m = F.col("l_orderkey") % 100000
    b = a.filter(m != 7).withColumn(
        "l_quantity",
        F.when(m == 13, F.col("l_quantity") + 1).otherwise(F.col("l_quantity")),
    )
    # 4096 buckets + a mutation set that is SMALL in absolute terms
    # (a handful of orderkeys), so the mutated fingerprints land in a
    # handful of buckets and the
    # drill-down's map-side bucket filter actually prunes the rescan;
    # the mutation flag falls out of the drill-down (diff rows exist
    # IFF checksums mismatched) — no separate summary compare
    d = checksum_diff_rows(a, b, n_buckets=4096)
    sides = d.agg(
        _cnt(F.col("side") == "a").alias("tc_only_a"),
        _cnt(F.col("side") == "b").alias("tc_only_b"),
        (_cnt() > 0).alias("tc_mut_detected"),
    )
    # layout-invariance contract on the narrower orders table (the
    # checksum canonicalizes columns, so table choice is immaterial)
    o = table(spark, sf, "orders")
    flags = a.agg(_cnt().alias("tc_n_rows")).crossJoin(
        spark.range(1).select(
            F.lit(
                checksum_mismatches(o, o.repartition(7), 4096).count() == 0
            ).alias("tc_equal_ok")
        )
    )
    return flags.crossJoin(sides).select(
        "tc_n_rows", "tc_only_a", "tc_only_b", "tc_equal_ok", "tc_mut_detected"
    )


_QHIST_ORACLE = (
    "SELECT CAST(COUNT(*) AS BIGINT) AS qh_n, TRUE AS qh_p50_ok, "
    "TRUE AS qh_p99_ok, TRUE AS qh_merge_exact FROM lineitem"
)


@probe("dq_quantile_hist", oracle=_QHIST_ORACLE, tags=("sketch", "approx", "dq"))
def dq_quantile_hist(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable log-bucket quantile histogram
    (operators/sketches.quantile_histogram) over lineitem prices: one
    groupBy to a few-hundred-row summary, storable per batch, merged
    by plain SUM — EXACTLY equal to the one-shot histogram (counts are
    counts; contrast the HLL union's 2% bound), completing the sketch
    trio (HLL distincts, MG heavy hitters, histogram quantiles).
    Gates: the p50/p99 estimates' buckets provably CONTAIN the true
    rank statistic (two conditional counts — no sort anywhere), and
    split-merge == one-shot bucket-for-bucket."""
    from ensembl_database_loader_spark.operators.sketches import (
        histogram_quantiles,
        merge_quantile_histograms,
        quantile_histogram,
    )

    ensure_session_confs(spark)
    prec = 32
    bound = 2.0 ** (1.0 / prec)
    li = table(spark, sf, "lineitem").select(
        F.col("l_extendedprice").cast("double").alias("x"),
        F.col("l_orderkey"),
    )
    hist = quantile_histogram(li, "x", precision=prec)
    ests = {
        r.p: r.est
        for r in histogram_quantiles(hist, (0.5, 0.99), prec).collect()
    }

    def _contains(p: float, est: float):
        # bucket-containment contract: #(x < est/bound) < ceil(p*n)
        # <= #(x <= est*bound) — exact conditional counts, no sort
        rank = F.greatest(F.ceil(F.lit(p) * F.count(F.lit(1))), F.lit(1))
        below = F.sum(F.when(F.col("x") < est / bound, 1).otherwise(0))
        upto = F.sum(F.when(F.col("x") <= est * bound, 1).otherwise(0))
        return (below < rank) & (rank <= upto)

    flags = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("qh_n"),
        _contains(0.5, ests[0.5]).alias("qh_p50_ok"),
        _contains(0.99, ests[0.99]).alias("qh_p99_ok"),
    )
    h1 = quantile_histogram(li.filter(F.col("l_orderkey") % 2 == 0), "x", prec)
    h2 = quantile_histogram(li.filter(F.col("l_orderkey") % 2 == 1), "x", prec)
    merged = merge_quantile_histograms(h1.unionByName(h2))
    mism = (
        merged.join(hist, ["bucket", "n"], "full_outer")
        .filter(merged.bucket.isNull() | hist.bucket.isNull())
        .count()
    )
    return flags.crossJoin(
        spark.range(1).select(F.lit(mism == 0).alias("qh_merge_exact"))
    ).select("qh_n", "qh_p50_ok", "qh_p99_ok", "qh_merge_exact")


_WSAMPLE_ORACLE = (
    # identical IEEE arithmetic both sides: integer hash, one double
    # multiply — the sample is row-level exact cross-engine
    "SELECT CAST(COUNT(*) AS BIGINT) AS ws_n, "
    "CAST(SUM(doc_id) AS BIGINT) AS ws_id_sum FROM documents "
    "WHERE ((doc_id * 2654435761) % 4294967296) < "
    "(doc_id % 100) / 100.0 * 4294967296"
)


@probe("llp_weighted_sample", oracle=_WSAMPLE_ORACLE, tags=("llm", "pipeline", "curation"))
def llp_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Per-row weighted Poisson sampling
    (operators/mixing.weighted_sample): keep probability is the row's
    own weight column (here a synthetic quality score (doc_id%100)/100)
    — the quality-weighted downsampling step between heuristic filters
    and mixing. Pure map-side codegen filter, zero shuffle, decision a
    pure function of (id, weight) so reruns/layouts/engines agree
    row-for-row (id-sum gated)."""
    from ensembl_database_loader_spark.operators.mixing import weighted_sample

    ensure_session_confs(spark)
    d = table(spark, sf, "documents").select(
        "doc_id", ((F.col("doc_id") % 100) / 100.0).alias("w")
    )
    return weighted_sample(d, "doc_id", "w").agg(
        _cnt().alias("ws_n"),
        F.sum("doc_id").cast("bigint").alias("ws_id_sum"),
    )


_MMR_Q = 17  # fixed query vec_id for the MMR probe

_MMR_ORACLE = (
    # the rank-1 MMR pick IS the plain cosine argmax (no redundancy
    # term on an empty selected set) — SQL-exact; the greedy tail is
    # contract-gated Spark-side
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 17), "
    "c AS (SELECT vec_id, "
    + _COS.format(a="embedding", b="qv")
    + " AS cos FROM embeddings, q WHERE vec_id <> 17) "
    "SELECT CAST(10 AS BIGINT) AS mm_k, "
    "CAST((SELECT vec_id FROM c ORDER BY cos DESC, vec_id LIMIT 1) AS BIGINT)"
    " AS mm_top1_id, "
    "TRUE AS mm_subset_ok, TRUE AS mm_diverse_ok"
)


@probe("ss_mmr_rerank", oracle=_MMR_ORACLE, tags=("similarity", "rag"))
def ss_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """MMR diversity re-ranking (operators/similarity.mmr_rerank) over
    a brute-force top-50 candidate pool: one applyInPandas group per
    query, each greedy step a vectorized matvec on the executor-local
    candidate matrix. Gates: the rank-1 pick equals the SQL cosine
    argmax EXACTLY, the selection stays inside the candidate pool, and
    the MMR-selected set's mean pairwise cosine is no higher than the
    plain top-k's (the diversity property that justifies the operator
    — strictly lower whenever near-dups rank high)."""
    from ensembl_database_loader_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    ensure_session_confs(spark)
    k, m = 10, 50
    e = table(spark, sf, "embeddings").select("vec_id", "embedding")
    pool = cosine_topk(e, "vec_id", "embedding", _MMR_Q, k=m).select("vec_id")
    qv = e.filter(F.col("vec_id") == _MMR_Q).select(
        F.col("embedding").alias("qv")
    )
    cands = (
        e.join(pool.hint("broadcast"), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select(F.lit(_MMR_Q).alias("q"), "vec_id", "qv", "embedding")
    )
    sel = mmr_rerank(cands, "q", "vec_id", "qv", "embedding", k=k, lam=0.5)
    top1 = (
        sel.filter(F.col("rank") == 1)
        .select(F.col("vec_id").cast("bigint").alias("mm_top1_id"))
    )
    subset = (
        sel.join(pool, "vec_id", "left_anti")
        .agg((_cnt() == 0).alias("mm_subset_ok"))
    )

    def _mean_pair_cos(ids_df):
        v = e.join(ids_df.hint("broadcast"), "vec_id").select(
            F.col("vec_id").alias("i"), F.col("embedding").alias("va")
        )
        w = v.select(F.col("i").alias("j"), F.col("va").alias("vb"))
        from ensembl_database_loader_spark.functions.vectors import cosine

        return (
            v.crossJoin(w)
            .filter(F.col("i") < F.col("j"))
            .agg(F.avg(cosine(F.col("va"), F.col("vb"))).alias("m"))
        )

    plain_k = cosine_topk(e, "vec_id", "embedding", _MMR_Q, k=k).select("vec_id")
    mmr_mean = _mean_pair_cos(sel.select("vec_id")).select(
        F.col("m").alias("mmr_m")
    )
    plain_mean = _mean_pair_cos(plain_k).select(F.col("m").alias("plain_m"))
    diverse = (
        mmr_mean.crossJoin(plain_mean)
        .select(
            (F.col("mmr_m") <= F.col("plain_m") + 1e-9).alias("mm_diverse_ok")
        )
    )
    head = sel.agg(_cnt().alias("mm_k"))
    return head.crossJoin(top1).crossJoin(subset).crossJoin(diverse)


_PARA_ORACLE = """
WITH s AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
p AS (SELECT doc_id,
             unnest(parts) AS para,
             unnest(generate_series(1, len(parts))) AS pos
      FROM s),
k AS (SELECT doc_id, pos, para,
             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
      FROM p)
SELECT doc_id,
       CAST(COUNT(*) FILTER (WHERE rn = 1 OR len(para) < 1) AS BIGINT)
           AS paras_kept,
       CAST(COUNT(*)
            - COUNT(*) FILTER (WHERE rn = 1 OR len(para) < 1) AS BIGINT)
           AS paras_removed,
       md5(COALESCE(string_agg(para, ' ' ORDER BY pos)
                    FILTER (WHERE rn = 1 OR len(para) < 1), '')) AS text_md5
FROM k GROUP BY doc_id ORDER BY doc_id
"""


@probe("dd_paragraph_dedup", oracle=_PARA_ORACLE, tags=("llm", "dedup", "text"))
def dd_paragraph_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Paragraph-granularity corpus dedup (operators/paradedup.
    dedup_paragraphs): only the FIRST corpus-wide occurrence of each
    paragraph survives, documents are stitched back in order. The
    fixture's documents carry no newlines, so the separator is ' ' —
    word-level, the degenerate case that maximizes repeats and makes
    the first-occurrence rule bite hard (vocabulary is tiny). Row-level
    exact: per-doc kept/removed counts plus the md5 of every rebuilt
    text against DuckDB's window recomputation. The engine never runs
    the oracle's per-paragraph ROW_NUMBER sort — first occurrences come
    from a partial-aggregated min(struct(id, pos)), so the boilerplate
    paragraph repeated in half the corpus reduces map-side instead of
    sorting on one reducer."""
    from ensembl_database_loader_spark.operators.paradedup import dedup_paragraphs

    ensure_session_confs(spark)
    docs = table(spark, sf, "documents")
    out = dedup_paragraphs(docs, id_col="doc_id", text_col="text", sep=" ")
    return (
        out.select(
            "doc_id",
            "paras_kept",
            "paras_removed",
            F.md5(F.col("text")).alias("text_md5"),
        )
        .orderBy("doc_id")
    )


_DSIR_POLY = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(generate_series(1, length(gram)), "
    "i -> CAST(unicode(substr(gram, i, 1)) AS BIGINT))), "
    "(acc, b) -> (acc * 31 + b) % 1000000007)"
)

_DSIR_ORACLE = (
    # full recompute: same grams (unigrams sans empty + bigrams), same
    # poly-hash buckets, same Laplace-smoothed log-ratios, same rounded
    # top-20% selection with id tie-break
    f"WITH tdoc AS (SELECT doc_id, lang, {_toks('text')} AS toks FROM documents), "
    "g0 AS (SELECT doc_id, lang, list_concat("
    "list_filter(toks, w -> w <> ''), "
    "CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[]) ELSE "
    "list_transform(generate_series(1, len(toks) - 1), "
    "i -> toks[i] || ' ' || toks[i + 1]) END) AS grams FROM tdoc), "
    "g AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g0), "
    f"b AS (SELECT doc_id, lang, {_DSIR_POLY} % 2048 AS bucket FROM g), "
    "tc AS (SELECT bucket, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY 1), "
    "rc AS (SELECT bucket, COUNT(*) AS cr FROM b GROUP BY 1), "
    "tot AS (SELECT (SELECT COUNT(*) FROM b WHERE lang = 'en') AS nt, "
    "(SELECT COUNT(*) FROM b) AS nr), "
    "sc AS (SELECT doc_id, SUM("
    "ln((COALESCE(ct, 0) + 0.5) / (nt + 0.5 * 2048)) "
    "- ln((COALESCE(cr, 0) + 0.5) / (nr + 0.5 * 2048))) AS logw "
    "FROM b LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket) "
    "CROSS JOIN tot GROUP BY doc_id), "
    "rk AS (SELECT doc_id, logw, ROW_NUMBER() OVER "
    "(ORDER BY ROUND(logw, 6) DESC, doc_id) AS rn FROM sc), "
    "kept AS (SELECT doc_id, logw FROM rk "
    "WHERE rn <= (SELECT COUNT(*) * 0.2 FROM documents)), "
    "per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ds_kept, "
    "CAST(SUM(doc_id) AS BIGINT) AS ds_id_sum, "
    "ROUND(AVG(logw) + 1e-9, 2) AS ds_avg_logw "
    "FROM kept JOIN documents USING (doc_id) GROUP BY lang) "
    "SELECT lang, ds_kept, ds_id_sum, ds_avg_logw, "
    "((SELECT lang FROM per ORDER BY ds_kept DESC, lang LIMIT 1) = 'en') "
    "AS ds_en_top FROM per ORDER BY lang"
)


@probe("tx_dsir_select", oracle=_DSIR_ORACLE, tags=("llm", "text", "sampling", "quality"))
def tx_dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR-style importance resampling (operators/dsir.py — Xie et al.
    2023): hashed-n-gram bucket distributions fitted for the TARGET
    (English slice) and the RAW corpus, every document scored by its
    summed smoothed log probability ratio, the top 20% selected
    deterministically by (rounded weight, id). The full pipeline —
    grams, poly-hash buckets, Laplace ratios, ranking — is recomputed
    from scratch by the oracle, so the kept SET is row-level exact
    (per-lang id sums), not just count-gated. The discrimination
    contract (`ds_en_top`): the selected slice is majority-target —
    DSIR's premise, and the model-free counterpart of the bigram-LM
    filter's `en_best` gate. Probabilities are exact BIGINT-count
    rationals; ln() is the only double step."""
    from ensembl_database_loader_spark.operators.dsir import dsir_select

    ensure_session_confs(spark)
    d = table(spark, sf, "documents")
    k = int(d.count() * 0.2)
    kept = dsir_select(
        d.select("doc_id", "lang", "text"),
        "doc_id",
        "text",
        d.filter(F.col("lang") == "en"),
        k=k,
        num_buckets=2048,
    ).persist()
    per = (
        kept.groupBy("lang")
        .agg(
            _cnt().alias("ds_kept"),
            F.sum("doc_id").cast("bigint").alias("ds_id_sum"),
            F.round(F.avg("logw") + F.lit(1e-9), 2).alias("ds_avg_logw"),
        )
        .persist()
    )
    top = per.orderBy(F.desc("ds_kept"), "lang").limit(1).select(
        (F.col("lang") == "en").alias("ds_en_top")
    )
    return per.crossJoin(top).select(
        "lang", "ds_kept", "ds_id_sum", "ds_avg_logw", "ds_en_top"
    ).orderBy("lang")


_SEMDECON_ORACLE = (
    # full recompute: same deterministic perturbed benchmark, same
    # rounded cosine threshold, train x bench only
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
    "FROM embeddings), "
    "b AS (SELECT vec_id AS src, list_transform(generate_series(1, len(v)), "
    "i -> v[i] + 0.01 * ((((vec_id * 31 + (i - 1) * 7) % 201) - 100) "
    "/ 100.0)) AS bv FROM e WHERE vec_id % 40 = 0), "
    "p AS (SELECT e.vec_id, "
    "ROUND(list_dot_product(e.v, b.bv) / "
    "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(b.bv, b.bv))), 6) "
    "AS c FROM e, b), "
    "f AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS hits FROM p "
    "WHERE c >= 0.95 GROUP BY vec_id) "
    "SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS sd_n_train, "
    "CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS sd_flagged, "
    "CAST((SELECT COALESCE(SUM(vec_id), 0) FROM f) AS BIGINT) AS sd_flag_id_sum, "
    "CAST((SELECT SUM(hits) FROM f) AS BIGINT) AS sd_hits, "
    "CAST((SELECT COALESCE(SUM(vec_id), 0) FROM e WHERE vec_id NOT IN "
    "(SELECT vec_id FROM f)) AS BIGINT) AS sd_kept_id_sum, "
    "TRUE AS sd_ivf_subset_ok, TRUE AS sd_ivf_found_any"
)


@probe(
    "tx_semantic_decontam",
    oracle=_SEMDECON_ORACLE,
    tags=("llm", "similarity", "contamination", "quality"),
)
def tx_semantic_decontam(spark: SparkSession, sf: str) -> DataFrame:
    """SEMANTIC benchmark decontamination
    (similarity.semantic_decontaminate) — the embedding-space companion
    of the n-gram scrub (tx_contamination): a deterministic 'benchmark'
    is planted as every 40th training embedding plus integer-derived
    noise (cosine ~0.998 to its source — a paraphrase that shares no
    n-grams), and every training doc with cosine >= 0.95 to ANY
    benchmark row is dropped. The exact path (train x bench blocked
    GEMM — never train x train) is hash-gated ROW-LEVEL against the
    oracle's full cross-join recompute (flagged/kept id sums, hit
    counts); the IVF-celled path is TRUE-gated to flag a SUBSET (same
    contract as semantic_dedup's ANN candidates) that is non-empty
    (the planted pair lands in its source's cell — tiny perturbations
    don't cross nearest-centroid boundaries)."""
    from ensembl_database_loader_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ensure_session_confs(spark)
    e = table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    noise = lambda i: (  # noqa: E731
        (F.pmod(F.col("vec_id") * 31 + i * 7, F.lit(201)) - F.lit(100))
        / F.lit(100.0)
    )
    # bench ids are offset so train/bench id spaces never collide
    bench = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x, i: x + F.lit(0.01) * noise(i)
        ).alias("embedding"),
    )
    kept_ex, flag_ex = semantic_decontaminate(
        e, bench, "vec_id", "embedding", threshold=0.95, candidates="exact"
    )
    kept_iv, flag_iv = semantic_decontaminate(
        e, bench, "vec_id", "embedding", threshold=0.95, candidates="ivf",
        n_cells=16,
    )
    flag_ex = flag_ex.persist()
    flag_iv = flag_iv.persist()
    return (
        e.agg(_cnt().alias("sd_n_train"))
        .crossJoin(
            flag_ex.agg(
                _cnt().alias("sd_flagged"),
                F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint").alias(
                    "sd_flag_id_sum"
                ),
                F.sum("hits").cast("bigint").alias("sd_hits"),
            )
        )
        .crossJoin(
            kept_ex.agg(
                F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint").alias(
                    "sd_kept_id_sum"
                )
            )
        )
        .crossJoin(
            flag_iv.join(flag_ex, "vec_id", "left_anti")
            .agg((_cnt() == 0).alias("sd_ivf_subset_ok"))
        )
        .crossJoin(flag_iv.agg((_cnt() > 0).alias("sd_ivf_found_any")))
        .select(
            "sd_n_train", "sd_flagged", "sd_flag_id_sum", "sd_hits",
            "sd_kept_id_sum", "sd_ivf_subset_ok", "sd_ivf_found_any",
        )
    )


@probe(
    "ss_ann_batch_indexed",
    oracle=(
        "SELECT TRUE AS bi_ivf_matches, TRUE AS bi_pq_matches, "
        "CAST(20 AS BIGINT) AS bi_ivf_pairs, CAST(20 AS BIGINT) AS bi_pq_pairs, "
        "TRUE AS bi_pq_df_matches, "
        "TRUE AS bi_gemm_matches, TRUE AS bi_pq_gemm_matches, "
        "TRUE AS bi_split_matches, TRUE AS bi_pq_split_matches"
    ),
    tags=("llm", "similarity", "approx", "batch", "index"),
)
def ss_ann_batch_indexed(spark: SparkSession, sf: str) -> DataFrame:
    """Batch queries over MATERIALIZED indexes: ``ivf_topk_many_indexed``
    (float index — union-of-probed-cells pruned scan, broadcast query
    join) and ``pq_topk_many_indexed`` (PQ index — one ADC pass scoring
    each code row against exactly the queries probing its cell). Both
    hash-gated ROW-IDENTICAL (id, score, rank) to their single-query
    operators (``ivf_topk_indexed`` / ``pq_topk_indexed``) across one
    query for each of four clusters on the planted fixture — the serving-path batch
    forms provably equal the gated single-query paths they amortize.

    r11 additions, hash-gated via exact multiset identity (r12: each
    form collected once — <= 20 rows — and compared driver-side, which
    replaces the symmetric-exceptAll union tree's ~24 extra exchanges):
    the DATAFRAME-shaped PQ batch (``pq_topk_many_indexed_df`` — ADC
    tables computed executor-side per query row, JVM-side scoring,
    plan-gated single pruned codes-only scan) is row-identical to the
    list form, and the per-cell GEMM scorer (``scorer='gemm'`` —
    cogrouped BLAS matmul per probed cell with in-cell top-k, the
    measured ~100x wide-sweep fix: 8.6 s vs 855-947 s at 10k queries x
    40k vectors) is row-identical to the pair-expression plan.

    r12 riders (VERDICT r11 #3): ``cell_split`` sub-chunks each
    cogrouped cell by xxhash64(id) % split so no single Arrow batch
    holds more than ~1/split of a hot cell (the per-group memory
    bound); hash-gated row-identical to the unsplit plans on BOTH the
    float GEMM and PQ ADC paths."""
    import tempfile

    from pyspark.sql import Window

    from ensembl_database_loader_spark.operators.similarity import (
        build_ann_index,
        ivf_topk_indexed,
        ivf_topk_many_indexed,
        pq_topk_indexed,
        pq_topk_many_indexed,
        pq_topk_many_indexed_df,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()
    corpus.count()  # materialize once before the concurrent builds
    root = tempfile.mkdtemp(prefix="edl_annbi_")
    flat_path, pq_path = root + "/flat", root + "/pq"
    # the float and PQ indexes share nothing but the persisted corpus:
    # build them as two concurrent driver threads (guide §2.6 — the
    # k-means/codebook training jobs back-fill each other's tails)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _ex:
        _f1 = _ex.submit(
            build_ann_index, corpus, "vec_id", "embedding", flat_path,
            n_cells=8,
        )
        _f2 = _ex.submit(
            build_ann_index, corpus, "vec_id", "embedding", pq_path,
            n_cells=8, quantized="pq", pq_m=8, pq_k=16,
        )
        _f1.result(), _f2.result()
    qrows = corpus.filter(F.col("vec_id") < 4).collect()
    qlist = [(r["vec_id"], list(r["embedding"])) for r in qrows]
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    # every gate frame here is <= 20 rows: build ALL serving forms
    # lazily, collect them CONCURRENTLY (each form evaluated exactly
    # once), and run the multiset identity checks driver-side on
    # sorted tuples — the symmetric-exceptAll formulation computed the
    # same empty diffs but paid ~24 extra hash-aggregate exchanges
    # plus one giant union-tree final action (measured 9 s of the
    # probe by itself at sf0.1)
    def _batch(**kw):
        return ivf_topk_many_indexed(
            spark, flat_path, queries, "qid", "qvec", k=5, n_probe=2,
            exclude_self=True, **kw,
        )

    def _pq_batch(**kw):
        return pq_topk_many_indexed_df(
            spark, pq_path, queries, "qid", "qvec", k=5, n_probe=2,
            exclude_self=True, **kw,
        )

    singles = []
    for qid, qv in qlist:
        singles.append(
            ivf_topk_indexed(
                spark, flat_path, qv, k=5, n_probe=2, exclude_id=qid
            ).withColumn(
                "rank",
                F.row_number().over(Window.orderBy(F.desc("cos"), "vec_id")),
            ).select("vec_id", "cos", "rank")
        )
        singles.append(
            pq_topk_indexed(
                spark, pq_path, qv, k=5, n_probe=2, exclude_id=qid
            ).withColumn(
                "rank",
                F.row_number().over(
                    Window.orderBy(F.asc("adc_dist"), "vec_id")
                ),
            ).select("vec_id", "adc_dist", "rank")
        )
    collected = _collect_sorted_parallel(
        _batch(),
        pq_topk_many_indexed(
            spark, pq_path, qlist, k=5, n_probe=2, exclude_self=True
        ),
        _pq_batch(),
        _batch(scorer="gemm"),
        _pq_batch(scorer="gemm"),
        _batch(scorer="gemm", cell_split=3),
        _pq_batch(scorer="gemm", cell_split=3),
        *singles,
    )
    ivf_rows, pq_rows = collected[0], collected[1]
    df_matches = collected[2] == pq_rows
    gemm_matches = collected[3] == ivf_rows
    pq_gemm_matches = collected[4] == pq_rows
    split_matches = collected[5] == ivf_rows
    pq_split_matches = collected[6] == pq_rows

    ivf_matches = True
    pq_matches = True
    for i, (qid, _) in enumerate(qlist):
        b_ivf = sorted((r[1], r[2], r[3]) for r in ivf_rows if r[0] == qid)
        ivf_matches = ivf_matches and collected[7 + 2 * i] == b_ivf
        b_pq = sorted((r[1], r[2], r[3]) for r in pq_rows if r[0] == qid)
        pq_matches = pq_matches and collected[8 + 2 * i] == b_pq

    return spark.range(1).select(
        F.lit(bool(ivf_matches)).alias("bi_ivf_matches"),
        F.lit(bool(pq_matches)).alias("bi_pq_matches"),
        F.lit(len(ivf_rows)).cast("bigint").alias("bi_ivf_pairs"),
        F.lit(len(pq_rows)).cast("bigint").alias("bi_pq_pairs"),
        F.lit(bool(df_matches)).alias("bi_pq_df_matches"),
        F.lit(bool(gemm_matches)).alias("bi_gemm_matches"),
        F.lit(bool(pq_gemm_matches)).alias("bi_pq_gemm_matches"),
        F.lit(bool(split_matches)).alias("bi_split_matches"),
        F.lit(bool(pq_split_matches)).alias("bi_pq_split_matches"),
    )

@probe(
    "ss_ann_manifest_index",
    oracle=(
        "SELECT TRUE AS mi_append_served, "
        "TRUE AS mi_append_scoped, TRUE AS mi_replay_noop, "
        "TRUE AS mi_delete_served_out, TRUE AS mi_delete_scoped, "
        "TRUE AS mi_restore_serves, TRUE AS mi_rebalance_ok, "
        "TRUE AS mi_hotsplit_ok"
    ),
    tags=("llm", "similarity", "index", "lake", "lifecycle"),
)
def ss_ann_manifest_index(spark: SparkSession, sf: str) -> DataFrame:
    """ANN index AS A MANIFEST TABLE (``build_ann_index``): the index's
    cells are hive partitions of a committed table, its centroids live
    in table PROPERTIES, and the lake's whole lifecycle machinery
    applies to the serving copy — the r10 gap where the index sat
    outside the transaction layer (rebuilds were rm -rf, deletes were
    impossible, rollback was manual).

    Hash-gated contracts (TRUE-declaring oracle) on the planted-cluster
    fixture: (1) an appended near-query vector serves at rank 1, the
    append's file delta (changed_files — pure metadata) touches exactly
    ONE cell partition, and a REPLAYED append with the same txn commits
    nothing (exactly-once ingest); (2) ``delete_from_ann_index`` on the
    query's whole top-5 (the upstream-dedup shape) removes them from
    serving, with the copy-on-write rewrite scoped to their single
    cell; (3) ``restore_table`` to the pre-delete version brings them
    back METADATA-ONLY — serving rollback; (4, r11)
    ``rebalance_ann_index`` re-clusters in place as ONE commit
    (centroids version with the layout), serving the same top-5 on the
    tight planted clusters, with the replayed maintenance txn
    committing nothing; (5, r12) ``split_hot_cells`` PARTIALLY
    rebalances — only the hottest cell(s) split into sub-centroids
    trained on their own rows, every other file carried by reference
    (files_untouched > 0), the centroid list grows by the split count,
    serving the same top-5, and the replayed txn is a no-op detected at
    entry before any training (VERDICT r11 #4 + ADVICE r12). Reference
    analogue: L1 drop/recreate-on-retry idempotency,
    LoadFiles.pm:56-64."""
    import tempfile

    from ensembl_database_loader_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
        ivf_topk_indexed,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        changed_files,
        latest_manifest,
        restore_table,
    )

    ensure_session_confs(spark)
    corpus = _planted_clusters(spark, sf).persist()
    mani = tempfile.mkdtemp(prefix="edl_annmi_") + "/mani"
    build_ann_index(corpus, "vec_id", "embedding", mani, n_cells=8)
    qvec = list(
        corpus.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )
    before_ids = sorted(
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=5, n_probe=2, exclude_id=0
        ).collect()
    )

    plant = spark.createDataFrame(
        [(1_000_000, [float(x) + 1e-4 for x in qvec])],
        "vec_id bigint, embedding array<double>",
    )
    append_to_ann_index(plant, mani, txn=("probe_ingest", 1))
    v_app = int(latest_manifest(spark, mani)["version"])
    top1 = ivf_topk_indexed(spark, mani, qvec, k=1, n_probe=2, exclude_id=0)
    append_served = top1.first()["vec_id"] == 1_000_000
    ch_app = changed_files(spark, mani, v_app - 1, v_app)
    append_scoped = (
        not ch_app["removed"]
        and len({f.split("_cell=")[1].split("/")[0] for f in ch_app["added"]})
        == 1
    )
    append_to_ann_index(plant, mani, txn=("probe_ingest", 1))  # replay
    replay_noop = int(latest_manifest(spark, mani)["version"]) == v_app

    victims = corpus.filter(F.col("vec_id").isin(before_ids))
    out = delete_from_ann_index(spark, mani, victims)
    ch_del = changed_files(spark, mani, v_app, int(out["version"]))
    delete_scoped = len(out["cells_scoped"]) == 1 and all(
        f"_cell={out['cells_scoped'][0]}/" in f
        for f in ch_del["added"] + ch_del["removed"]
    )
    after = {
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=5, n_probe=2, exclude_id=0
        ).collect()
    }
    delete_served_out = bool(after) and not (after & set(before_ids))
    restore_table(spark, mani, v_app)
    restored = {
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=6, n_probe=2, exclude_id=0
        ).collect()
    }
    restore_serves = set(before_ids) <= restored

    # r11: in-place re-clustering (rebalance_ann_index) — one atomic
    # commit, new centroids versioned with the layout, serving
    # preserved on the tight planted clusters, replayed txn a no-op
    from ensembl_database_loader_spark.operators.similarity import (
        rebalance_ann_index,
    )

    pre = {
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=5, n_probe=2, exclude_id=0
        ).collect()
    }
    v_pre = int(latest_manifest(spark, mani)["version"])
    rb = rebalance_ann_index(spark, mani, txn=("probe_maint", 1))
    post = {
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=5, n_probe=2, exclude_id=0
        ).collect()
    }
    rb_replay = rebalance_ann_index(spark, mani, txn=("probe_maint", 1))
    rebalance_ok = (
        rb["version"] == v_pre + 1
        and post == pre
        and rb_replay["version"] is None
        and int(latest_manifest(spark, mani)["version"]) == v_pre + 1
    )

    # r12: partial rebalance — split exactly the hottest cell(s)
    # (hot_share pinned just under the observed max share, so the
    # argmax cells and only they cross it), everything else carried by
    # reference, serving unchanged, replay a no-op at entry
    from ensembl_database_loader_spark.operators.similarity import (
        ann_index_meta,
        split_hot_cells,
    )
    from ensembl_database_loader_spark.sinks.manifest import table_partitions

    counts = [
        int(p["n_rows"] or 0) for p in table_partitions(spark, mani)
    ]
    thr = (max(counts) / sum(counts)) - 1e-9
    n_cells_pre = int(ann_index_meta(mani, spark)["n_cells"])
    hs = split_hot_cells(spark, mani, hot_share=thr, txn=("probe_maint", 2))
    post_hs = {
        r["vec_id"]
        for r in ivf_topk_indexed(
            spark, mani, qvec, k=5, n_probe=2, exclude_id=0
        ).collect()
    }
    hs_replay = split_hot_cells(
        spark, mani, hot_share=thr, txn=("probe_maint", 2)
    )
    hotsplit_ok = (
        len(hs["cells_split"]) >= 1
        and hs["files_untouched"] > 0
        and hs["files_rewritten"] > 0
        and hs["n_cells"] == n_cells_pre + len(hs["cells_split"])
        and post_hs == post
        and hs_replay["version"] is None
    )

    return (
        spark.range(1)
        .select(
            F.lit(bool(append_served)).alias("mi_append_served"),
            F.lit(bool(append_scoped)).alias("mi_append_scoped"),
            F.lit(bool(replay_noop)).alias("mi_replay_noop"),
            F.lit(bool(delete_served_out)).alias("mi_delete_served_out"),
            F.lit(bool(delete_scoped)).alias("mi_delete_scoped"),
            F.lit(bool(restore_serves)).alias("mi_restore_serves"),
            F.lit(bool(rebalance_ok)).alias("mi_rebalance_ok"),
            F.lit(bool(hotsplit_ok)).alias("mi_hotsplit_ok"),
        )
    )


_BM25_ORACLE = (
    # full recompute: same tokens, same Okapi weighting (k1=1.2,
    # b=0.75, Lucene non-negative idf), same (round-6 score, doc id)
    # ranking — the kept rows and emitted scores are value-exact
    r"WITH d AS (SELECT doc_id, list_filter(string_split("
    r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), "
    "w -> w <> '') AS toks FROM documents), "
    "dl AS (SELECT doc_id, len(toks) AS dl FROM d), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl), "
    "q AS (SELECT doc_id AS qid, list_slice(toks, 1, 5) AS qtoks "
    "FROM d WHERE doc_id % 100 = 7), "
    "qt AS (SELECT DISTINCT qid, unnest(qtoks) AS term FROM q), "
    "p AS (SELECT doc_id, unnest(toks) AS term FROM d), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM p "
    "WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2), "
    "dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "sc AS (SELECT qid, tf.doc_id AS doc_id, "
    "ROUND(SUM(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 "
    "/ (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score "
    "FROM qt JOIN tf USING (term) JOIN dft USING (term) "
    "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st GROUP BY 1, 2), "
    "rk AS (SELECT qid, doc_id, score, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY score DESC, doc_id) AS rn FROM sc) "
    "SELECT qid, doc_id, ROUND(score, 2) AS score, "
    "CAST(rn AS INTEGER) AS rank, TRUE AS bm_idx_matches, "
    "TRUE AS bm_shuffle_matches, "
    "TRUE AS bm_idx_shuffle_matches FROM rk WHERE rn <= 5 "
    "ORDER BY qid, rank"
)


@probe(
    "ss_bm25_topk",
    oracle=_BM25_ORACLE,
    tags=("llm", "similarity", "retrieval", "text"),
)
def ss_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 sparse retrieval (operators/bm25.py) — the lexical sibling
    of the dense-ANN serving stack: a batch query frame (every doc_id %
    100 == 7's first five tokens) scored against the documents corpus,
    top-5 per query. The AD-HOC path (one corpus scan; the exploded
    term stream filtered by the broadcast query-term set BEFORE the tf
    aggregate) is hash-gated VALUE-EXACT against the oracle's full
    recompute — kept rows, rounded scores, ranks. TRUE-gated: the
    MATERIALIZED postings index (a manifest table with term + doc-id
    blooms, term-sorted [min, max] stats, corpus stats in table
    properties) is row-identical to the ad-hoc path, and (r12) the
    DATAFRAME-SHAPED query path (``broadcast_queries=False``
    — executor-side tokenization, shuffle join, zero driver collect:
    the corpus-scale sweep shape, VERDICT r11 #2) is row-identical to
    the collected broadcast form on BOTH the ad-hoc and indexed
    paths."""
    import tempfile

    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.bm25 import (
        bm25_topk,
        bm25_topk_indexed,
        build_bm25_index,
    )

    ensure_session_confs(spark)
    docs = table(spark, sf, "documents").select("doc_id", "text")
    toks = F.filter(tokens("text"), lambda w: w != "")
    queries = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("qtext"),
    )
    topk = bm25_topk(docs, queries, "doc_id", "text", k=5).persist()

    path = tempfile.mkdtemp(prefix="edl_bm25_") + "/idx"
    build_bm25_index(docs, "doc_id", "text", path, num_files=4)
    # every identity gate compares <= |queries|*5 rows: the serving
    # forms collect CONCURRENTLY (each evaluated exactly once; topk
    # stays persisted — its cached rows also feed the returned value
    # frame) and the multiset compares happen driver-side on sorted
    # tuples; the exceptAll formulation paid two extra hash-aggregate
    # exchanges per gate and evaluated each compare side twice
    trows, idx_rows, shuf_rows, idx_shuf_rows = (
        _collect_sorted_parallel(
            topk,
            bm25_topk_indexed(spark, path, queries, k=5),
            bm25_topk(
                docs, queries, "doc_id", "text", k=5,
                broadcast_queries=False,
            ),
            bm25_topk_indexed(
                spark, path, queries, k=5, broadcast_queries=False
            ),
        )
    )
    idx_matches = idx_rows == trows
    shuffle_matches = shuf_rows == trows
    idx_shuffle_matches = idx_shuf_rows == idx_rows
    return (
        topk.withColumn("bm_idx_matches", F.lit(bool(idx_matches)))
        .withColumn("bm_shuffle_matches", F.lit(bool(shuffle_matches)))
        .withColumn("bm_idx_shuffle_matches", F.lit(bool(idx_shuffle_matches)))
        .select(
            "qid", "doc_id", "score", "rank",
            "bm_idx_matches", "bm_shuffle_matches",
            "bm_idx_shuffle_matches",
        )
        .orderBy("qid", "rank")
    )


_RRF_ORACLE = (
    # full recompute of BOTH retrieval paths + the fusion: BM25 as in
    # _BM25_ORACLE, dense = exact cosine, RRF = sum of 1/(60 + rank)
    # over the sources that returned the doc, (round-6, id) ranking
    r"WITH d AS (SELECT doc_id, list_filter(string_split("
    r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), "
    "w -> w <> '') AS toks FROM documents), "
    "dl AS (SELECT doc_id, len(toks) AS dl FROM d), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl), "
    "q AS (SELECT doc_id AS qid, list_slice(toks, 1, 5) AS qtoks "
    "FROM d WHERE doc_id % 100 = 7), "
    "qt AS (SELECT DISTINCT qid, unnest(qtoks) AS term FROM q), "
    "p AS (SELECT doc_id, unnest(toks) AS term FROM d), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM p "
    "WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2), "
    "dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "sc AS (SELECT qid, tf.doc_id AS doc_id, "
    "ROUND(SUM(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 "
    "/ (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score "
    "FROM qt JOIN tf USING (term) JOIN dft USING (term) "
    "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st GROUP BY 1, 2), "
    "brk AS (SELECT qid, doc_id, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY score DESC, doc_id) AS rn FROM sc), "
    "ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "qv AS (SELECT vec_id AS qid, v AS qv FROM ce WHERE vec_id % 100 = 7), "
    "cs AS (SELECT qid, vec_id AS doc_id, ROUND(list_dot_product(qv, v) "
    "/ (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) "
    "AS cos FROM qv, ce), "
    "crk AS (SELECT qid, doc_id, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY cos DESC, doc_id) AS rn FROM cs), "
    "u AS (SELECT qid, doc_id, 1.0 / (60 + rn) AS c FROM brk WHERE rn <= 5 "
    "UNION ALL SELECT qid, doc_id, 1.0 / (60 + rn) FROM crk WHERE rn <= 5), "
    "f AS (SELECT qid, doc_id, ROUND(SUM(c), 6) AS rrf FROM u GROUP BY 1, 2), "
    "frk AS (SELECT qid, doc_id, rrf, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn FROM f) "
    "SELECT qid, doc_id, rrf, CAST(rn AS INTEGER) AS rank "
    "FROM frk WHERE rn <= 5 ORDER BY qid, rank"
)


@probe(
    "ss_hybrid_rrf",
    oracle=_RRF_ORACLE,
    tags=("llm", "similarity", "retrieval", "fusion"),
)
def ss_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """HYBRID retrieval: Reciprocal Rank Fusion (operators/fusion.py)
    of the lexical path (BM25 top-5, operators/bm25.py) and the dense
    path (exact cosine top-5) for the same query set — the standard
    two-tower serving composition, fused on RANKS so the two systems'
    incomparable scores never need calibration. VALUE-EXACT against the
    oracle's full recompute of both retrievals and the fusion (fused
    scores, ranks, kept rows). Fusion costs one union + one partial-agg
    over the already-tiny top-k frames — the corpora are only scanned
    inside the retrieval operators."""
    from pyspark.sql import Window

    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.functions.vectors import cosine
    from ensembl_database_loader_spark.operators.bm25 import bm25_topk
    from ensembl_database_loader_spark.operators.fusion import rrf_fuse

    ensure_session_confs(spark)
    docs = table(spark, sf, "documents").select("doc_id", "text")
    toks = F.filter(tokens("text"), lambda w: w != "")
    queries = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(toks, 1, 5)).alias("qtext"),
    )
    lex = bm25_topk(docs, queries, "doc_id", "text", k=5)

    e = table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = e.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(qv)).select(
        "qid",
        F.col("vec_id").alias("doc_id"),
        F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
    dense = pairs.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 5
    )
    return (
        rrf_fuse([lex, dense], id_col="doc_id", k0=60, k=5)
        .select("qid", "doc_id", "rrf", "rank")
        .orderBy("qid", "rank")
    )


_SYNC_ORACLE = (
    # r12.2: incremental index sync. The oracle applies the SAME
    # curation wave to the raw tables in pure SQL (delete id%50==3,
    # rewrite id%50==9, insert 1000000+id for id%50==21) and fully
    # recomputes both serving paths over the MUTATED state: BM25 as in
    # _BM25_ORACLE and exact round-6 cosine; the emitted one-row
    # fingerprints (counts + id sums + integer-scaled score sums over
    # the exact top-5 rows) are value-exact against serving from the
    # SYNCED indexes — CDC classification, delete/append application,
    # stats deltas, and serving all sit on the hashed path.
    r"WITH base AS (SELECT doc_id, text FROM documents "
    "WHERE doc_id < 2000), "
    "md AS (SELECT doc_id, CASE WHEN doc_id % 50 = 9 "
    "THEN 'sync rewrite ' || text ELSE text END AS text "
    "FROM base WHERE doc_id % 50 <> 3 "
    "UNION ALL SELECT 1000000 + doc_id, 'synthetic arrival ' || text "
    "FROM base WHERE doc_id % 50 = 21), "
    r"d AS (SELECT doc_id, list_filter(string_split("
    r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '), "
    "w -> w <> '') AS toks FROM md), "
    "dl AS (SELECT doc_id, len(toks) AS dl FROM d), "
    "st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(dl) AS avgdl FROM dl), "
    "q AS (SELECT doc_id AS qid, list_slice(toks, 1, 5) AS qtoks FROM d "
    "WHERE doc_id % 100 IN (7, 9) "
    "OR (doc_id >= 1000000 AND doc_id % 100 = 21)), "
    "qt AS (SELECT DISTINCT qid, unnest(qtoks) AS term FROM q), "
    "p AS (SELECT doc_id, unnest(toks) AS term FROM d), "
    "tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM p "
    "WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY 1, 2), "
    "dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1), "
    "sc AS (SELECT qid, tf.doc_id AS doc_id, "
    "ROUND(SUM(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 "
    "/ (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score "
    "FROM qt JOIN tf USING (term) JOIN dft USING (term) "
    "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st GROUP BY 1, 2), "
    "brk AS (SELECT qid, doc_id, score, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY score DESC, doc_id) AS rn FROM sc), "
    "bm AS (SELECT CAST(COUNT(*) AS BIGINT) AS sy_bm_n, "
    "CAST(SUM(qid) AS BIGINT) AS sy_bm_qid_sum, "
    "CAST(SUM(doc_id) AS BIGINT) AS sy_bm_doc_sum, "
    "CAST(SUM(CAST(ROUND(ROUND(score, 2) * 100) AS BIGINT)) AS BIGINT) "
    "AS sy_bm_cents FROM brk WHERE rn <= 5), "
    "ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "WHERE vec_id < 1000), "
    "me AS (SELECT vec_id, CASE WHEN vec_id % 50 = 9 "
    "THEN list_transform(v, x -> -x) ELSE v END AS v "
    "FROM ce WHERE vec_id % 50 <> 3 "
    "UNION ALL SELECT 1000000 + vec_id, list_reverse(v) "
    "FROM ce WHERE vec_id % 50 = 21), "
    "qv AS (SELECT vec_id AS qid, v AS qv FROM me "
    "WHERE vec_id % 100 IN (7, 9) "
    "OR (vec_id >= 1000000 AND vec_id % 100 = 21)), "
    "cs AS (SELECT qid, vec_id AS doc_id, "
    "ROUND(list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) "
    "* sqrt(list_dot_product(v, v))), 6) AS cos FROM qv, me), "
    "crk AS (SELECT qid, doc_id, cos, ROW_NUMBER() OVER "
    "(PARTITION BY qid ORDER BY cos DESC, doc_id) AS rn FROM cs), "
    "an AS (SELECT CAST(COUNT(*) AS BIGINT) AS sy_ann_n, "
    "CAST(SUM(qid) AS BIGINT) AS sy_ann_qid_sum, "
    "CAST(SUM(doc_id) AS BIGINT) AS sy_ann_doc_sum, "
    "CAST(SUM(CAST(ROUND(cos * 1000000) AS BIGINT)) AS BIGINT) "
    "AS sy_ann_microcos FROM crk WHERE rn <= 5) "
    "SELECT sy_bm_n, sy_bm_qid_sum, sy_bm_doc_sum, sy_bm_cents, "
    "sy_ann_n, sy_ann_qid_sum, sy_ann_doc_sum, sy_ann_microcos, "
    "TRUE AS sy_bm_rebuild_identical, TRUE AS sy_ann_rebuild_identical, "
    "TRUE AS sy_replay_noop, TRUE AS sy_cdc_o_delta, "
    "TRUE AS sy_bm_append_only "
    "FROM bm CROSS JOIN an"
)


@probe(
    "ss_index_sync",
    oracle=_SYNC_ORACLE,
    tags=("llm", "similarity", "lake", "lifecycle", "sync"),
)
def ss_index_sync(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental serving-index sync (operators/indexsync.py): a
    curation wave lands on two source lake tables (docs + embeddings)
    as ordinary commits — append / ``delete_rows`` / ``update_rows`` —
    and the BM25 postings index and the manifest-backed ANN index
    follow via ``sync_bm25_index`` / ``sync_ann_index``, which consume
    the O(changed-files) row-level change feed
    (``sinks.manifest.row_changes``) and apply exactly the delta as
    ONE atomic ``apply_delta`` commit per index (victims leave through
    the id-bloom/cell-scoped rewrite, arrivals stage through the
    indexes' own encoders, stats + watermark + txn publish together —
    no deletes-without-arrivals window) — never a rebuild, never a
    snapshot rescan.

    VALUE-EXACT (one hashed fingerprint row): serving from the synced
    indexes — BM25 top-5 per query and full-probe IVF cosine top-5 per
    query over the mutated corpus — reproduces the oracle's from-
    scratch recompute of the mutated state (counts, id sums, integer-
    scaled score sums over the exact kept rows). TRUE-gated cross-path
    identities, each reference path value-exact or exact by
    construction: (1) the synced postings equal a from-scratch
    ``build_bm25_index`` on the target snapshot, row-for-row AND in
    exact-integer corpus stats; (2) the synced ANN contents equal the
    stateless re-assignment of the target snapshot under the index's
    persisted centroids; (3) replaying both syncs is a no-op detected
    at entry (txn watermark + sync state — nothing commits); (4) the
    O(delta) feed is row-identical to ``table_diff``'s two-snapshot
    classification while reading ONLY commit-touched files; (5) the
    mixed BM25 wave (deletes + updates + inserts) is ONE APPEND-ONLY
    commit — generation markers mask the dead images, ``removed ==
    []`` (r12.3's structural O(wave) claim).
    Reference analogue: reload touches one database, never the mirror
    (LoadFiles.pm:56-64)."""
    import tempfile

    from ensembl_database_loader_spark.functions.text import tokens
    from ensembl_database_loader_spark.operators.bm25 import (
        bm25_topk_indexed,
        build_bm25_index,
        compact_bm25_tombstones,
    )
    from ensembl_database_loader_spark.operators.indexsync import (
        sync_ann_index,
        sync_bm25_index,
    )
    from ensembl_database_loader_spark.operators.similarity import (
        _assign_cells,
        ann_index_meta,
        build_ann_index,
        ivf_topk_many_indexed,
    )
    from ensembl_database_loader_spark.sinks.manifest import (
        changed_files,
        delete_rows,
        latest_manifest,
        row_changes,
        snapshot,
        table_diff,
        table_properties,
        update_rows,
        write_table,
    )

    ensure_session_confs(spark)
    root = tempfile.mkdtemp(prefix="edl_sync_")
    src_d, src_e = root + "/docs", root + "/emb"
    bm_idx, bm_fresh = root + "/bm25", root + "/bm25_fresh"
    ann_idx = root + "/ann"

    # fixture cap (the o_orderkey <= 3000 pattern): the lifecycle is
    # the thing under test, not corpus breadth — serving fingerprints
    # stay value-exact at every SF on the capped universe
    docs0 = (
        table(spark, sf, "documents")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    emb0 = (
        table(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 1000)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    # the curation wave: three commits per source (delete, rewrite,
    # arrival batch) — the ids are data-derived and deterministic
    def _ids(df, col, m):
        return [r[0] for r in df.filter(F.col(col) % 50 == m).select(col).collect()]

    toks = F.filter(tokens("text"), lambda w: w != "")
    is_q = lambda c: (F.col(c) % 100).isin(7, 9) | (
        (F.col(c) >= 1000000) & (F.col(c) % 100 == 21)
    )

    # The two lifecycles — docs -> BM25 postings and embeddings -> ANN
    # cells — share NOTHING (disjoint tables, indexes, gates), so they
    # run as two concurrent driver threads: each side's protocol is a
    # long chain of small commits/serves whose jobs leave most of the
    # cluster idle, and the other side's jobs back-fill it (guide
    # §2.6). Per-side ordering (build -> wave -> sync -> replay ->
    # gates -> serves) is unchanged, so every gate sees exactly the
    # state it did sequentially.
    def _docs_side():
        write_table(docs0.repartition(4), src_d, stats_cols=("doc_id",))
        build_bm25_index(
            snapshot(spark, src_d, 0), "doc_id", "text", bm_idx, num_files=4
        )
        delete_rows(
            spark, src_d, prune=[("doc_id", "in", _ids(docs0, "doc_id", 3))]
        )
        update_rows(
            spark, src_d, {"text": "concat('sync rewrite ', text)"},
            prune=[("doc_id", "in", _ids(docs0, "doc_id", 9))],
        )
        write_table(
            docs0.filter(F.col("doc_id") % 50 == 21).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(
                    F.lit("synthetic arrival "), F.col("text")
                ).alias("text"),
            ),
            src_d,
            mode="append",
        )

        # gate 4: the O(delta) feed == table_diff, reading only the
        # commit-touched files
        to_v = int(latest_manifest(spark, src_d)["version"])
        fast = row_changes(
            spark, src_d, 0, to_v, ("doc_id",), include_preimage=True
        )
        # inputFiles BEFORE persist: an InMemoryRelation hides the scans
        read_rel = {
            f.split(src_d.rstrip("/") + "/", 1)[1] for f in fast.inputFiles()
        }
        full = table_diff(
            spark, src_d, 0, to_v, ("doc_id",), include_preimage=True
        )
        cdc_same = (
            fast.exceptAll(full).unionAll(full.exceptAll(fast)).count() == 0
        )
        cf = changed_files(spark, src_d, 0, to_v)
        touched = set(cf["added"]) | set(cf["removed"])
        cdc_o_delta = bool(cdc_same and read_rel and read_rel <= touched)

        # the sync, then replay it (gate 3, BM25 half)
        s_bm = sync_bm25_index(spark, bm_idx, src_d, from_version=0)
        # gate 5 (r12.3): the MIXED wave — deletes AND updates AND
        # inserts — lands on the BM25 index as ONE APPEND-ONLY commit
        # (generation markers mask the dead images; no postings file is
        # rewritten — the structural O(wave) claim)
        v_bm = int(latest_manifest(spark, bm_idx)["version"])
        bm_append_only = bool(
            changed_files(spark, bm_idx, v_bm - 1, v_bm)["removed"] == []
        )
        bm_replay_noop = bool(
            not s_bm["noop"] and sync_bm25_index(spark, bm_idx, src_d)["noop"]
        )

        # serving fingerprint over the synced index (the hashed row).
        # The BM25 fingerprint is served with the pure deletes still
        # TOMBSTONED (auto sync defers them as O(wave) marker rows), so
        # the tombstone serving path — victims filtered before the df
        # aggregate — sits directly on the value-exact hash.
        qd = snapshot(spark, src_d).filter(is_q("doc_id")).select(
            F.col("doc_id").alias("qid"),
            F.concat_ws(" ", F.slice(toks, 1, 5)).alias("qtext"),
        )

        def _bm_serve():
            return bm25_topk_indexed(spark, bm_idx, qd, k=5).agg(
                F.count(F.lit(1)).cast("bigint").alias("sy_bm_n"),
                F.sum("qid").cast("bigint").alias("sy_bm_qid_sum"),
                F.sum("doc_id").cast("bigint").alias("sy_bm_doc_sum"),
                F.sum(F.round(F.round("score", 2) * 100).cast("bigint"))
                .cast("bigint")
                .alias("sy_bm_cents"),
            )

        tomb_serving = tuple(_bm_serve().first())

        # gate 1: the synced index equals a from-scratch rebuild — stats
        # immediately (tombstoning decrements them exactly), snapshots
        # bit-for-bit after ONE amortized compact_bm25_tombstones, and
        # post-compaction serving identical to the tombstone serving
        build_bm25_index(
            snapshot(spark, src_d), "doc_id", "text", bm_fresh, num_files=4
        )
        ma = table_properties(spark, bm_idx)["bm25"]
        mb = table_properties(spark, bm_fresh)["bm25"]
        compact_bm25_tombstones(spark, bm_idx)
        a, b = snapshot(spark, bm_idx), snapshot(spark, bm_fresh)
        bm_ident = bool(
            a.exceptAll(b).unionAll(b.exceptAll(a)).count() == 0
            and (ma["n_docs"], ma["total_tokens"])
            == (mb["n_docs"], mb["total_tokens"])
            and tuple(_bm_serve().first()) == tomb_serving
        )
        return tomb_serving, bm_ident, bm_replay_noop, cdc_o_delta, bm_append_only

    def _emb_side():
        write_table(emb0.repartition(4), src_e, stats_cols=("vec_id",))
        build_ann_index(
            snapshot(spark, src_e, 0), "vec_id", "embedding", ann_idx,
            n_cells=8,
        )
        delete_rows(
            spark, src_e, prune=[("vec_id", "in", _ids(emb0, "vec_id", 3))]
        )
        update_rows(
            spark, src_e, {"embedding": "transform(embedding, x -> -x)"},
            prune=[("vec_id", "in", _ids(emb0, "vec_id", 9))],
        )
        write_table(
            emb0.filter(F.col("vec_id") % 50 == 21).select(
                (F.col("vec_id") + 1000000).alias("vec_id"),
                F.reverse("embedding").alias("embedding"),
            ),
            src_e,
            mode="append",
        )

        # the sync, then replay it (gate 3, ANN half)
        s_ann = sync_ann_index(spark, ann_idx, src_e, from_version=0)
        ann_replay_noop = bool(
            not s_ann["noop"] and sync_ann_index(spark, ann_idx, src_e)["noop"]
        )

        # gate 2: synced ANN contents == same-centroid re-assignment of
        # the target snapshot
        cents = ann_index_meta(ann_idx, spark)["centroids"]
        want = _assign_cells(
            snapshot(spark, src_e), "embedding", cents
        ).select("vec_id", "_cell", "embedding")
        got = snapshot(spark, ann_idx).select("vec_id", "_cell", "embedding")
        ann_ident = bool(
            got.exceptAll(want).unionAll(want.exceptAll(got)).count() == 0
        )

        qe = snapshot(spark, src_e).filter(is_q("vec_id")).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )
        ann_serving = tuple(
            ivf_topk_many_indexed(
                spark, ann_idx, qe, "qid", "qv", k=5, n_probe=8
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("sy_ann_n"),
                F.sum("qid").cast("bigint").alias("sy_ann_qid_sum"),
                F.sum("vec_id").cast("bigint").alias("sy_ann_doc_sum"),
                F.sum(F.round(F.col("cos") * 1000000).cast("bigint"))
                .cast("bigint")
                .alias("sy_ann_microcos"),
            )
            .first()
        )
        return ann_serving, ann_ident, ann_replay_noop

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_docs = ex.submit(_docs_side)
        f_emb = ex.submit(_emb_side)
        tomb_serving, bm_ident, bm_replay, cdc_o_delta, bm_append_only = (
            f_docs.result()
        )
        ann_serving, ann_ident, ann_replay = f_emb.result()
    replay_noop = bool(bm_replay and ann_replay)

    return spark.createDataFrame(
        [tomb_serving + ann_serving],
        "sy_bm_n bigint, sy_bm_qid_sum bigint, sy_bm_doc_sum bigint, "
        "sy_bm_cents bigint, sy_ann_n bigint, sy_ann_qid_sum bigint, "
        "sy_ann_doc_sum bigint, sy_ann_microcos bigint",
    ).select(
        "sy_bm_n", "sy_bm_qid_sum", "sy_bm_doc_sum", "sy_bm_cents",
        "sy_ann_n", "sy_ann_qid_sum", "sy_ann_doc_sum", "sy_ann_microcos",
        F.lit(bm_ident).alias("sy_bm_rebuild_identical"),
        F.lit(ann_ident).alias("sy_ann_rebuild_identical"),
        F.lit(replay_noop).alias("sy_replay_noop"),
        F.lit(cdc_o_delta).alias("sy_cdc_o_delta"),
        F.lit(bm_append_only).alias("sy_bm_append_only"),
    )
