"""Unit tests for the training-data operators beyond oracle parity:
semantic properties (LSH recall vs exact, dedup idempotence, decode
plumbing) that hash-matching alone doesn't cover."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ensembl_database_loader_spark.catalog import table
from ensembl_database_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ensembl_database_loader_spark.operators.similarity import (
    cosine_topk,
    lsh_bucket_topk,
)
from ensembl_database_loader_spark.multimodal.binaryops import (
    decode_media_stats,
    decode_image,
    with_binary_payload,
)


def _variant_corpus(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    v = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "lang",
        F.regexp_replace("text", "^[^ ]+ ", "").alias("text"),
    )
    return d.unionByName(v)


def test_exact_dedup_idempotent(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    once = exact_dedup(d, "text")
    twice = exact_dedup(once, "text")
    assert once.count() == twice.count() == d.select("text").distinct().count()


def test_minhash_lsh_finds_planted_neardups(spark, sf_dir):
    """Every planted (doc, variant) pair with high true Jaccard should be
    recovered by LSH candidates; verified pairs must be a subset of the
    exact pairwise result."""
    c = _variant_corpus(spark, sf_dir).withColumn("_all", F.lit(1))
    exact = {
        (r.id1, r.id2)
        for r in ngram_jaccard_pairs(c, "doc_id", "text", "_all", threshold=0.8).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(c, "doc_id", "text", threshold=0.8).collect()
    }
    assert lsh <= exact  # verification step guarantees precision
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.5, f"LSH recall too low: {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_minhash_band_keys_direct_equivalence(spark, sf_dir):
    """The fused one-shuffle band-key path (conditional MINs in a
    single groupBy + posexplode) must emit byte-identical (id, band,
    key) rows to the two-step signatures -> band-keys path."""
    from ensembl_database_loader_spark.operators.dedup import (
        minhash_band_keys,
        minhash_band_keys_direct,
        minhash_signatures,
    )

    d = table(spark, sf_dir, "documents")
    two = minhash_band_keys(minhash_signatures(d, "doc_id", "text", 8, 3), 2)
    one = minhash_band_keys_direct(d, "doc_id", "text", 8, 2, 3)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))


def test_simhash_identical_docs_zero_hamming(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    s1 = simhash(d, "doc_id", "text").withColumnRenamed("simhash", "h1")
    s2 = simhash(d.withColumn("text", F.upper("text")), "doc_id", "text").withColumnRenamed(
        "simhash", "h2"
    )
    j = s1.join(s2, "id")
    # normalization lowercases, so upper-cased copies hash identically
    assert j.filter(F.col("h1") != F.col("h2")).count() == 0


def test_ann_lsh_subset_quality(spark, sf_dir):
    e = table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in cosine_topk(e, "vec_id", "embedding", 0, k=5).collect()]
    approx = [r.vec_id for r in lsh_bucket_topk(e, "vec_id", "embedding", 0, k=5).collect()]
    assert len(approx) <= 5
    # bucketing shrinks the candidate set; results must still be real ids
    all_ids = {r.vec_id for r in e.select("vec_id").collect()}
    assert set(approx) <= all_ids and 0 not in approx
    assert len(exact) == 5


def test_ann_lsh_finds_planted_neardup(spark, sf_dir):
    """The property multi-table sign-LSH must deliver: a true near-dup
    (cosine ~0.99+) of the query shares a bucket in >=1 of 8 tables with
    probability ~1, so it must appear in the approximate top-k."""
    e = table(spark, sf_dir, "embeddings")
    planted = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.lit(999999).cast("bigint").alias("vec_id"),
            F.transform("embedding", lambda x: (x * 1.0001).cast("float")).alias(
                "embedding"
            ),
            F.col("label"),
        )
    )
    corpus = e.unionByName(planted)
    top = [r.vec_id for r in lsh_bucket_topk(corpus, "vec_id", "embedding", 0, k=5).collect()]
    assert 999999 in top, top


def test_ivf_topk_finds_planted_neardup(spark, sf_dir):
    """IVF must route a ~0.9999-cosine near-dup of the query into a
    probed cell and surface it in the approximate top-k."""
    from ensembl_database_loader_spark.operators.similarity import ivf_topk

    e = table(spark, sf_dir, "embeddings")
    planted = e.filter(F.col("vec_id") == 0).select(
        F.lit(888888).cast("bigint").alias("vec_id"),
        F.transform("embedding", lambda x: (x * 1.0001).cast("float")).alias(
            "embedding"
        ),
        F.col("label"),
    )
    top = [
        r.vec_id
        for r in ivf_topk(
            e.unionByName(planted), "vec_id", "embedding", query_id=0, k=5
        ).collect()
    ]
    assert 888888 in top, top


def _query_vec(e, query_id=0):
    return list(
        e.filter(F.col("vec_id") == query_id)
        .select(F.col("embedding").cast("array<double>"))
        .first()[0]
    )


def test_ann_index_ivf_matches_unindexed(spark, sf_dir, tmp_path):
    """The materialized IVF index must return ROW-IDENTICAL results to
    the per-query-assignment ivf_topk — under both the grid init and
    trained k-means centroids — and persist its meta for stateless
    reuse (a later session / appended batch needs only the json)."""
    from ensembl_database_loader_spark.operators.similarity import (
        ann_index_meta,
        build_ann_index,
        ivf_topk,
        ivf_topk_indexed,
        kmeans_centroids,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = _query_vec(e)

    for label, cents in (
        ("grid", None),
        ("kmeans", kmeans_centroids(e, "vec_id", "embedding", n_cells=8, n_iter=2)),
    ):
        path = str(tmp_path / f"idx_{label}")
        used = build_ann_index(
            e, "vec_id", "embedding", path, n_cells=8, centroids=cents
        )
        direct = ivf_topk(
            e, "vec_id", "embedding", 0, k=5, n_cells=8, centroids=used
        ).collect()
        indexed = ivf_topk_indexed(
            spark, path, qvec, k=5, n_probe=4, exclude_id=0
        ).collect()
        assert [tuple(r) for r in indexed] == [tuple(r) for r in direct], label

    meta = ann_index_meta(str(tmp_path / "idx_kmeans"), spark)
    assert meta["kind"] == "ivf" and meta["n_cells"] == 8
    assert len(meta["centroids"][0]) == meta["dim"]


def test_ann_index_append_equals_full_build(spark, sf_dir, tmp_path):
    """Incremental index growth: build on half the corpus, append the
    other half with the PERSISTED centroids — queries must equal a
    one-shot full build with the same centroids (assignment is
    stateless given the persisted centroids, so cell membership is
    identical)."""
    from ensembl_database_loader_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        ivf_topk_indexed,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    half1 = e.filter(F.col("vec_id") % 2 == 0)
    half2 = e.filter(F.col("vec_id") % 2 == 1)
    qvec = _query_vec(e)

    full_path = str(tmp_path / "idx_full")
    cents = build_ann_index(e, "vec_id", "embedding", full_path, n_cells=8)

    inc_path = str(tmp_path / "idx_inc")
    build_ann_index(half1, "vec_id", "embedding", inc_path, centroids=cents)
    append_to_ann_index(half2, inc_path)

    full = ivf_topk_indexed(spark, full_path, qvec, k=5, exclude_id=0).collect()
    inc = ivf_topk_indexed(spark, inc_path, qvec, k=5, exclude_id=0).collect()
    assert [tuple(r) for r in inc] == [tuple(r) for r in full]


def test_regex_pretokens_unit(spark):
    from ensembl_database_loader_spark.operators.textstats import with_regex_tokens

    df = spark.createDataFrame([("Hello, world! 42 foo-bar",)], "text string")
    r = with_regex_tokens(df).collect()[0]
    # pretokens: hello , world ! 42 foo - bar  => 8 runs, 2 punct-only (',' '!' '-')
    assert r.n_pretokens == 8
    assert r.n_punct_runs == 3
    assert r.n_distinct_pretokens == 8


def test_multimodal_decode_stub_and_schema(spark, sf_dir):
    d = table(spark, sf_dir, "documents").limit(10)
    payload = with_binary_payload(d, "doc_id", "text", modality="image")
    assert dict(payload.dtypes)["bytes"] == "binary"
    out = decode_media_stats(payload)
    rows = out.collect()
    assert len(rows) == 10
    assert all(16 <= r.width < 80 and r.n_bytes > 0 for r in rows)
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        # optional-dependency seam: without an imaging library the
        # stub raises, chaining the ImportError
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG")


def test_decode_image_with_pillow_if_available():
    """Exercises the real Pillow path when the optional dependency is
    present (skipped in this container, which ships no imaging lib)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    im = PIL_Image.new("RGB", (7, 5))
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    assert decode_image(buf.getvalue()) == (7, 5)


def test_bmp24_codec_roundtrip():
    from ensembl_database_loader_spark.multimodal.binaryops import (
        decode_bmp24,
        encode_bmp24,
    )

    data = encode_bmp24(5, 3, (10, 20, 30))  # width 5 -> stride padding
    w, h, mb, mg, mr = decode_bmp24(data)
    assert (w, h) == (5, 3)
    assert (mb, mg, mr) == (10.0, 20.0, 30.0)
    # header sanity: true BMP magic + 24bpp + declared size matches
    assert data[:2] == b"BM" and len(data) == 54 + ((5 * 3 + 3) & ~3) * 3
    with pytest.raises(ValueError):
        decode_bmp24(b"PNG not a bmp")


def test_wav16_codec_roundtrip():
    from ensembl_database_loader_spark.multimodal.binaryops import (
        decode_wav16,
        encode_wav16,
    )

    data = encode_wav16(12, -123, framerate=8000)
    nch, rate, frames, amp = decode_wav16(data)
    assert (nch, rate, frames, amp) == (1, 8000, 12, 123)
    assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"


def test_connected_components_chain_and_isolates(spark):
    """A 4-node chain (transitively connected), a 2-node pair, and an
    isolated node: labels must be the component-minimum ids."""
    from ensembl_database_loader_spark.operators.components import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "id bigint")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 bigint, id2 bigint"
    )
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 60-node path graph has diameter 59: the round-4 min-label
    propagation needed 59 rounds and raised at the 25-round cap. The
    large-star/small-star formulation must converge within the same
    default cap (O(log n) rounds regardless of diameter)."""
    from ensembl_database_loader_spark.operators.components import (
        connected_components,
    )

    n = 60
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 bigint, id2 bigint"
    )
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_two_chains_and_star(spark):
    """Mixed topology: two long chains plus a pre-formed star — each
    component labels to its minimum id."""
    from ensembl_database_loader_spark.operators.components import (
        connected_components,
    )

    chain_a = [(i, i + 1) for i in range(0, 29)]          # 0..29
    chain_b = [(i, i + 1) for i in range(100, 129)]       # 100..129
    star = [(200, v) for v in range(201, 206)]            # 200..205
    nodes = spark.createDataFrame(
        [(i,) for i in list(range(30)) + list(range(100, 130)) + list(range(200, 206))],
        "id bigint",
    )
    edges = spark.createDataFrame(chain_a + chain_b + star, "id1 bigint, id2 bigint")
    got = {r.id: r.component for r in connected_components(nodes, edges).collect()}
    assert all(got[i] == 0 for i in range(30))
    assert all(got[i] == 100 for i in range(100, 130))
    assert all(got[i] == 200 for i in range(200, 206))


def test_connected_components_raises_on_no_convergence(spark):
    from ensembl_database_loader_spark.operators.components import (
        connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id1 bigint, id2 bigint"
    )
    with pytest.raises(RuntimeError):
        connected_components(nodes, edges, max_iterations=1)


def test_curate_corpus_funnel_semantics(spark):
    """Hand-built corpus: low-quality doc dropped at stage 1, exact
    duplicate collapsed to the smaller id, near-dup pair keeps the
    smaller id, survivors and stats agree."""
    from ensembl_database_loader_spark.pipeline.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and then runs far away " * 3
    near = "a " + good  # shares nearly all 3-gram shingles with `good`
    other = "completely different german words appear here nine ten eleven " * 2
    rows = [
        (1, "en", good),
        (2, "en", good.upper()),  # exact dup after normalization -> id 1 wins
        (3, "en", near),          # near-dup of 1 -> dropped (id 1 < 3)
        (4, "en", "aa aa aa aa"), # fails length + diversity + token shape
        (5, "de", other),         # distinct content: survives every stage
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    kept, stats = curate_corpus(df)
    kept_ids = sorted(r.id for r in kept.collect())
    assert kept_ids == [1, 5]
    s = stats.collect()[0]
    # exact-dedup is global (not blocked): cross-language identical text
    # is the same document; uppercase dup 2 collapses into 1
    assert (s.n_input, s.n_quality, s.n_exact, s.n_kept) == (5, 4, 3, 2)
    assert s.tokens_kept > 0
    # exact-cluster mode (connected components) agrees on this corpus
    kept_cc, stats_cc = curate_corpus(df, cluster_exact=True)
    assert sorted(r.id for r in kept_cc.collect()) == [1, 5]
    assert stats_cc.collect()[0].n_kept == 2


def test_curate_corpus_near_dup_strategies(spark, sf_dir):
    """'prefix' (default) and 'inverted' must produce IDENTICAL kept
    sets (PPJoin prefix filtering is an exact-equivalence optimization);
    'minhash' verifies candidates with exact Jaccard so its kept set can
    only be a SUPERSET (LSH recall < 1 drops fewer docs, never more).
    Unknown strategies fail fast."""
    from ensembl_database_loader_spark.pipeline.curate import curate_corpus

    corpus = _variant_corpus(spark, sf_dir)
    kept_by = {}
    for strategy in ("prefix", "inverted", "minhash"):
        kept, stats = curate_corpus(corpus, near_dup=strategy)
        kept_by[strategy] = {r.id for r in kept.collect()}
        assert stats.collect()[0].n_kept == len(kept_by[strategy])
    assert kept_by["prefix"] == kept_by["inverted"]
    assert kept_by["minhash"] >= kept_by["prefix"]

    with pytest.raises(ValueError, match="near_dup"):
        curate_corpus(corpus, near_dup="bogus")[0].collect()


def test_curate_increment_equals_one_shot(spark, sf_dir, tmp_path):
    """Two-batch incremental curation (batch1 bootstraps the
    fingerprint store, batch2 dedups against store + itself) must equal
    the one-shot minhash-strategy run over the union — kept ids AND
    funnel totals."""
    from ensembl_database_loader_spark.pipeline.curate import (
        curate_corpus,
        curate_increment,
    )

    corpus = _variant_corpus(spark, sf_dir)  # variants get doc_id+100000
    batch1 = corpus.filter(F.col("doc_id") < 100000)
    batch2 = corpus.filter(F.col("doc_id") >= 100000)
    store = str(tmp_path / "fp_store")

    kept1, stats1 = curate_corpus(batch1, near_dup="minhash", store_path=store)
    kept2, stats2 = curate_increment(batch2, store)
    inc_ids = {r.id for r in kept1.collect()} | {r.id for r in kept2.collect()}

    kept_all, stats_all = curate_corpus(corpus, near_dup="minhash")
    one_ids = {r.id for r in kept_all.collect()}
    assert inc_ids == one_ids

    s1, s2, sa = stats1.first(), stats2.first(), stats_all.first()
    assert s1.n_input + s2.n_input == sa.n_input
    assert s1.n_kept + s2.n_kept == sa.n_kept
    assert s1.tokens_kept + s2.tokens_kept == sa.tokens_kept


def test_curate_increment_store_reuse(spark, sf_dir, tmp_path):
    """The store must compose across increments: after batch2's append,
    a batch3 increment dedups against batch1 AND batch2 signatures; an
    exact re-send of an already-kept doc is dropped at the exact stage
    without touching the Jaccard path."""
    from ensembl_database_loader_spark.pipeline.curate import (
        curate_corpus,
        curate_increment,
    )

    corpus = _variant_corpus(spark, sf_dir)
    batch1 = corpus.filter(F.col("doc_id") < 100000)
    batch2 = corpus.filter(F.col("doc_id") >= 100000)
    store = str(tmp_path / "fp_store")

    curate_corpus(batch1, near_dup="minhash", store_path=store)
    n_sigs_1 = spark.read.parquet(store + "/exact_sigs").count()
    _, stats2 = curate_increment(batch2, store)
    n_exact_2 = stats2.first().n_exact
    n_sigs_2 = spark.read.parquet(store + "/exact_sigs").count()
    assert n_sigs_2 == n_sigs_1 + n_exact_2  # append, not rewrite

    # batch3: resend of batch1 docs under fresh (larger) ids -> all are
    # exact dups of stored texts, zero exact survivors, zero kept
    batch3 = batch1.select(
        (F.col("doc_id") + 300000).alias("doc_id"), "lang", "text"
    )
    kept3, stats3 = curate_increment(batch3, store, update_store=False)
    assert kept3.count() == 0
    s3 = stats3.first()
    assert s3.n_exact == 0 and s3.n_kept == 0


def test_bmp_wav_codec_property():
    """Property: encode->decode is the identity on (geometry, fill) /
    (frames, amplitude) across sizes including stride-padding edges."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ensembl_database_loader_spark.multimodal.binaryops import (
        decode_bmp24,
        decode_wav16,
        encode_bmp24,
        encode_wav16,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 20),
        bgr=st.tuples(
            st.integers(0, 255), st.integers(0, 255), st.integers(0, 255)
        ),
    )
    def check_bmp(w, h, bgr):
        got = decode_bmp24(encode_bmp24(w, h, bgr))
        assert got == (w, h, float(bgr[0]), float(bgr[1]), float(bgr[2]))

    @settings(max_examples=50, deadline=None)
    @given(n=st.integers(1, 64), v=st.integers(-32768, 32767))
    def check_wav(n, v):
        nch, rate, frames, amp = decode_wav16(encode_wav16(n, v))
        assert (nch, rate, frames, amp) == (1, 8000, n, abs(v))

    check_bmp()
    check_wav()


def test_real_media_decode_through_spark(spark, sf_dir):
    """BMP/WAV payloads built and genuinely decoded through the
    mapInPandas stages must match the closed-form generation params."""
    from ensembl_database_loader_spark.multimodal.binaryops import (
        build_deterministic_media,
        decode_real_media,
    )

    d = table(spark, sf_dir, "documents").limit(20)
    src = {r.doc_id: len(r.text.encode()) for r in d.collect()}
    rows = decode_real_media(build_deterministic_media(d, "doc_id", "text")).collect()
    assert len(rows) == len(src)
    for r in rows:
        olen = src[r.id]
        if r.id % 2 == 0:
            assert r.modality == "image/bmp"
            assert r.width == 4 + olen % 13 and r.height == 3 + r.id % 7
            assert round(r.mean_b) == (r.id * 37 + olen) % 256
            assert r.n_frames is None
        else:
            assert r.modality == "audio/wav"
            assert r.n_frames == 8 + olen % 32 and r.sample_rate == 8000
            assert r.max_amp == abs(r.id % 1000 - 500)
            assert r.width is None


def test_resize_images_plumbing(spark):
    from ensembl_database_loader_spark.multimodal.binaryops import (
        resize_images,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [(1, "short"), (2, "x" * 100)], "id bigint, text string"
    )
    payload = with_binary_payload(df, "id", "text", modality="image")
    out = resize_images(payload, 8, 4).collect()
    assert {(r.id, r.width, r.height, len(r.bytes)) for r in out} == {
        (1, 8, 4, 32),
        (2, 8, 4, 32),
    }
    # stub truncates/pads: short payload zero-padded, long truncated
    by_id = {r.id: bytes(r.bytes) for r in out}
    assert by_id[1].startswith(b"short") and by_id[1].endswith(b"\0")
    assert by_id[2] == b"x" * 32


def test_sample_frames_fanout(spark):
    from ensembl_database_loader_spark.multimodal.binaryops import (
        _fake_decode,
        sample_frames,
        with_binary_payload,
    )

    text = "a" * 37  # n_frames = 1 + 37 % 8 = 6 -> sampled frames 0,2,4
    df = spark.createDataFrame([(7, text)], "id bigint, text string")
    out = sample_frames(
        with_binary_payload(df, "id", "text", modality="video"), every_nth=2
    ).collect()
    n = _fake_decode(text.encode())[2]
    assert n == 6
    assert sorted(r.frame_idx for r in out) == [0, 2, 4]
    step = len(text) // n
    assert all(len(r.frame_bytes) == step for r in out)


def test_filter_map_lines_v1(spark):
    from ensembl_database_loader_spark.functions.text import filter_map_lines

    df = spark.createDataFrame(
        [("keep this",), ("drop that",), ("keep me too",)], "line string"
    )
    out = filter_map_lines(df, "line", keep_rlike="^keep", alter_pattern="keep",
                           alter_replacement="KEPT")
    assert sorted(r.line for r in out.collect()) == ["KEPT me too", "KEPT this"]


def test_simhash_banded_equivalence(spark):
    """Banded SimHash blocking returns exactly the same (id1, id2,
    hamming) pairs as the quadratic-within-block version (pigeonhole
    candidate completeness over 5 bands at max_hamming=4)."""
    from ensembl_database_loader_spark.operators.dedup import (
        simhash_pairs,
        simhash_pairs_banded,
    )
    from ensembl_database_loader_spark.plans.llm import _corpus

    c = _corpus(spark, "/root/testdata/sf0.01")
    quad = {
        (r.id1, r.id2, r.hamming)
        for r in simhash_pairs(c, "doc_id", "text", "lang", max_hamming=4).collect()
    }
    banded = {
        (r.id1, r.id2, r.hamming)
        for r in simhash_pairs_banded(c, "doc_id", "text", "lang", max_hamming=4).collect()
    }
    assert len(quad) > 0
    assert banded == quad


def test_simhash64_weighted_banded_equivalence(spark):
    """Weighted 60-bit banded pairs equal the quadratic self-join over
    the same fingerprints (12-bit-band pigeonhole completeness)."""
    from ensembl_database_loader_spark.operators.dedup import (
        simhash64_pairs_banded,
        simhash64_weighted_fingerprints,
    )
    from ensembl_database_loader_spark.plans.llm import _corpus

    c = _corpus(spark, "/root/testdata/sf0.001")
    fps = simhash64_weighted_fingerprints(c, "doc_id", "text", "lang")
    a, b = fps.alias("a"), fps.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    quad = {
        (r[0], r[1], r.h)
        for r in a.join(
            b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id"))
        )
        .select("a.id", "b.id", ham.cast("int").alias("h"))
        .filter(F.col("h") <= 4)
        .collect()
    }
    banded = {
        (r.id1, r.id2, r.hamming)
        for r in simhash64_pairs_banded(c, "doc_id", "text", "lang").collect()
    }
    assert len(quad) > 0
    assert banded == quad


def test_simhash_banded_rejects_too_few_bands(spark, sf_dir):
    import pytest as _pytest

    from ensembl_database_loader_spark.operators.dedup import simhash_pairs_banded

    d = table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError):
        simhash_pairs_banded(d, "doc_id", "text", "lang", max_hamming=4, n_bands=3)


def test_prefix_filter_jaccard_equivalence(spark):
    """Prefix-filtered exact Jaccard returns exactly the same pairs as
    the plain inverted index (candidate completeness)."""
    from ensembl_database_loader_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from ensembl_database_loader_spark.plans.llm import _corpus

    c = _corpus(spark, "/root/testdata/sf0.01")
    plain = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(c, "doc_id", "text", "lang", 3, 0.8).collect()
    }
    pref = {
        (r.id1, r.id2, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs_prefix(c, "doc_id", "text", "lang", 3, 0.8).collect()
    }
    assert len(plain) > 0
    assert pref == plain


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check: on seeded random graphs (varying density, incl.
    isolated nodes and duplicate/reversed edges), large-star/small-star
    must agree with a plain union-find."""
    import random

    from ensembl_database_loader_spark.operators.components import (
        connected_components,
    )

    for seed, n, m in [(1, 30, 15), (2, 40, 60), (3, 25, 5), (4, 50, 120)]:
        rng = random.Random(seed)
        node_ids = rng.sample(range(1000), n)
        edge_list = [
            (rng.choice(node_ids), rng.choice(node_ids)) for _ in range(m)
        ]
        # union-find reference
        parent = {i: i for i in node_ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # canonical label = min of component
        comp_min: dict[int, int] = {}
        for i in node_ids:
            r = find(i)
            comp_min[r] = min(comp_min.get(r, i), i)
        expected = {i: comp_min[find(i)] for i in node_ids}

        nodes = spark.createDataFrame([(i,) for i in node_ids], "id bigint")
        edges = spark.createDataFrame(
            edge_list or [(node_ids[0], node_ids[0])], "id1 bigint, id2 bigint"
        )
        got = {
            r.id: r.component
            for r in connected_components(nodes, edges).collect()
        }
        assert got == expected, f"seed={seed}"


def test_kmeans_centroids_recover_separated_clusters(spark):
    """Three well-separated synthetic clusters: after Lloyd's rounds,
    every point's nearest trained centroid must put its whole cluster
    in one cell (purity 1.0), and trained centroids must sit near the
    true cluster means — the property grid-init alone does not have."""
    import numpy as np

    from ensembl_database_loader_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.RandomState(7)
    true_means = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    rows = []
    for ci, mu in enumerate(true_means):
        for j in range(40):
            v = mu + rng.normal(0, 0.3, 4)
            rows.append((ci * 1000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    cents = np.array(
        kmeans_centroids(df, "vec_id", "embedding", n_cells=3, n_iter=5)
    )
    cn = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    assign = {}
    for rid, v in rows:
        x = np.array(v)
        xn = x / np.linalg.norm(x)
        assign[rid] = int((xn @ cn.T).argmax())
    for ci in range(3):
        cells = {assign[ci * 1000 + j] for j in range(40)}
        assert len(cells) == 1, f"cluster {ci} split across cells {cells}"
    # each true mean is close (cosine) to exactly one trained centroid
    tm = true_means / np.linalg.norm(true_means, axis=1, keepdims=True)
    best = (tm @ cn.T).max(axis=1)
    assert (best > 0.99).all(), best

    # trained centroids slot into ivf_topk unchanged
    top = ivf_topk(
        df, "vec_id", "embedding", query_id=0, k=3, n_cells=3, n_probe=1,
        centroids=cents.tolist(),
    ).collect()
    assert len(top) == 3
    got_ids = {r.vec_id for r in top}
    assert got_ids <= {j for j in range(1, 40)}, got_ids  # same cluster as query


def test_repetition_stats_hand_built(spark):
    """Hand-computed repetition fractions: a stuffed doc, a clean doc,
    and a one-word doc (bigram fraction must be 0, not a div-by-zero)."""
    from ensembl_database_loader_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now"),     # 6 words: buy x3, now x3
            (2, "all words here are unique"),   # 5 distinct words
            (3, "single"),                      # 1 word, 0 bigrams
        ],
        "doc_id bigint, text string",
    )
    got = {r.id: r for r in repetition_stats(df).collect()}
    r1 = got[1]
    assert r1.n_words == 6
    assert r1.top_word_frac == 0.5          # 'buy' 3/6
    assert r1.dup_word_frac == (6 - 2) / 6
    assert r1.top_bigram_frac == 3 / 5      # 'buy now' 3 of 5 bigrams
    r2 = got[2]
    assert (r2.top_word_frac, r2.dup_word_frac) == (0.2, 0.0)
    assert r2.top_bigram_frac == 0.25       # 4 distinct bigrams
    r3 = got[3]
    assert (r3.n_words, r3.top_bigram_frac) == (1, 0.0)


def test_crossdoc_boilerplate_hand_built(spark):
    """Planted template chrome across 3 docs is flagged; a unique doc
    is untouched; a short doc yields 0 shingles and 0.0 fraction."""
    from ensembl_database_loader_spark.operators.textstats import (
        crossdoc_boilerplate,
    )

    footer = "all rights reserved worldwide"
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {footer}"),
            (2, f"delta epsilon zeta {footer}"),
            (3, f"eta theta iota {footer}"),
            (4, "completely unrelated text body here"),
            (5, "too short"),
        ],
        "doc_id bigint, text string",
    )
    flagged, docs = crossdoc_boilerplate(df, n=3, min_docs=3)
    flagged_set = {r.shingle for r in flagged.collect()}
    # the 3-gram fully inside the shared footer appears in docs 1-3
    assert "all rights reserved" in flagged_set
    assert "rights reserved worldwide" in flagged_set
    assert all("unrelated" not in s for s in flagged_set)
    d = {r.id: r for r in docs.collect()}
    assert d[1].n_boilerplate >= 2 and d[1].boilerplate_frac > 0
    assert d[4].n_boilerplate == 0 and d[4].boilerplate_frac == 0.0
    assert d[5].n_shingles == 0 and d[5].boilerplate_frac == 0.0


def test_ann_index_quantized_storage_and_append(spark, sf_dir, tmp_path):
    """r8: quantized IVF index — stores int8 codes + scale instead of
    float vectors; the scale cancels in cosine so ranking degrades
    only by int8 rounding; appends quantize uniformly; the data bytes
    must actually halve vs the full-precision index."""
    import os

    from ensembl_database_loader_spark.operators.similarity import (
        ann_index_meta,
        append_to_ann_index,
        build_ann_index,
        ivf_topk_indexed,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = _query_vec(e)
    fp, qp = str(tmp_path / "full"), str(tmp_path / "quant")
    cents = build_ann_index(e, "vec_id", "embedding", fp, n_cells=8)
    build_ann_index(
        e, "vec_id", "embedding", qp, n_cells=8, centroids=cents, quantized=True
    )
    assert ann_index_meta(qp, spark)["quantized"] is True

    # stored shape: no float vector column, tinyint codes
    stored = spark.read.parquet(qp)
    assert "embedding" not in stored.columns
    assert dict(stored.dtypes)["q"] == "array<tinyint>"

    full = ivf_topk_indexed(spark, fp, qvec, k=5, exclude_id=0).collect()
    quant = ivf_topk_indexed(spark, qp, qvec, k=5, exclude_id=0).collect()
    overlap = {r.vec_id for r in full} & {r.vec_id for r in quant}
    assert len(overlap) >= 3  # int8 rounding may flip near-ties only

    def data_bytes(p):
        total = 0
        for d, _, files in os.walk(p):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if not f.startswith((".", "_"))
            )
        return total

    assert data_bytes(qp) < 0.5 * data_bytes(fp)

    # append path quantizes with the persisted centroids: incremental
    # build == one-shot build, bit-identical (same codes, same cells)
    inc = str(tmp_path / "quant_inc")
    build_ann_index(
        e.filter(F.col("vec_id") % 2 == 0), "vec_id", "embedding", inc,
        centroids=cents, quantized=True,
    )
    append_to_ann_index(e.filter(F.col("vec_id") % 2 == 1), inc)
    got = ivf_topk_indexed(spark, inc, qvec, k=5, exclude_id=0).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in quant]


def test_quantize_scale_cancels_in_cosine(spark):
    """The exactness property the int8 re-rank relies on: cosine of the
    RAW codes equals cosine of the dequantized vector to fp precision
    (symmetric per-vector scheme: dequant = q * scale, scale > 0)."""
    from ensembl_database_loader_spark.functions.vectors import cosine
    from ensembl_database_loader_spark.operators.quantize import (
        dequantize,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(1, [0.3, -1.7, 2.4, 0.0]), (2, [-0.01, 0.02, -0.03, 0.04])],
        "id bigint, v array<double>",
    )
    q = quantize_embeddings(df, "v")
    y = F.array(*[F.lit(x) for x in (0.5, 0.1, -0.2, 0.9)])
    got = q.select(
        (
            F.abs(
                cosine(F.transform("q", lambda x: x.cast("double")), y)
                - cosine(dequantize("q", "scale"), y)
            )
            < 1e-12
        ).alias("ok")
    ).collect()
    assert all(r.ok for r in got)


def test_semantic_increment_equals_one_shot(spark, sf_dir, tmp_path):
    """r8: incremental semantic dedup — batch1 deduped one-shot, its
    rows stored with IVF cells + centroids; batch2 deduped against the
    store + itself. kept1 ∪ kept2 must equal the one-shot
    semantic_dedup(union, candidates='ivf', same centroids) keep set,
    and stored vectors must never be re-paired against themselves."""
    from ensembl_database_loader_spark.operators.similarity import (
        _grid_centroids,
        semantic_dedup,
    )
    from ensembl_database_loader_spark.pipeline.curate import (
        semantic_dedup_increment,
        write_semantic_store,
    )

    e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    cut = n // 2
    b1 = e.filter(F.col("vec_id") < cut)
    b2 = e.filter(F.col("vec_id") >= cut)
    store = str(tmp_path / "semstore")

    cents = _grid_centroids(b1, "vec_id", "embedding", 16)
    kept1 = semantic_dedup(
        b1, "vec_id", "embedding", threshold=0.2,
        candidates="ivf", centroids=cents,
    )
    write_semantic_store(b1, store, "vec_id", "embedding", centroids=cents)
    kept2 = semantic_dedup_increment(
        b2, store, "vec_id", "embedding", threshold=0.2
    )

    one_shot = semantic_dedup(
        e, "vec_id", "embedding", threshold=0.2,
        candidates="ivf", centroids=cents,
    )
    inc_ids = {r.vec_id for r in kept1.select("vec_id").collect()} | {
        r.vec_id for r in kept2.select("vec_id").collect()
    }
    os_ids = {r.vec_id for r in one_shot.select("vec_id").collect()}
    assert inc_ids == os_ids
    # non-vacuous: the increment must actually drop batch2 rows against
    # the STORE (not just within itself)
    dropped2 = {r.vec_id for r in b2.select("vec_id").collect()} - {
        r.vec_id for r in kept2.select("vec_id").collect()
    }
    assert dropped2, "fixture produced no cross/within-batch semantic drops"

    # store composed: a third batch increments against batch1+batch2
    # (update_store=True appended batch2's vectors)
    sigs = spark.read.parquet(store + "/sem_vectors")
    assert sigs.count() == n  # every input row stored, kept or not


# ---------------------------------------------------------------------------
# MMR re-ranking
# ---------------------------------------------------------------------------


def _py_mmr(cands, qv, k, lam):
    """cands: {id: vec}. Pure-python greedy reference."""
    import math

    def norm(v):
        n = math.sqrt(sum(x * x for x in v)) or 1e-12
        return [x / n for x in v]

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    qn = norm(qv)
    nv = {i: norm(v) for i, v in cands.items()}
    rel = {i: dot(v, qn) for i, v in nv.items()}
    sel, red = [], {i: None for i in cands}
    for _ in range(min(k, len(cands))):
        best, best_s = None, -float("inf")
        for i in sorted(cands):
            if i in sel:
                continue
            s = lam * rel[i] - (
                (1 - lam) * red[i] if red[i] is not None else 0.0
            )
            if s > best_s:
                best, best_s = i, s
        sel.append(best)
        for i in cands:
            s = dot(nv[i], nv[best])
            red[i] = s if red[i] is None else max(red[i], s)
    return sel


def test_mmr_rerank_matches_reference_and_diversifies(spark):
    from ensembl_database_loader_spark.operators.similarity import mmr_rerank

    # query points east; candidates 1 and 2 are near-duplicates just
    # NORTH of the axis, 3 mirrors 1 south of it, 4 points north.
    # Plain top-2 takes the dup pair; at lam=0.5 candidate 2's
    # redundancy with the already-picked 1 (cos ~0.9999) exceeds its
    # relevance edge over 3 (whose redundancy with 1 is only ~0.81),
    # so MMR must pick the mirror instead of the dup
    cands = {
        1: [0.95, 0.31],
        2: [0.94, 0.33],
        3: [0.95, -0.31],
        4: [0.0, 1.0],
    }
    qv = [1.0, 0.0]
    rows = [(7, i, qv, v) for i, v in cands.items()]
    df = spark.createDataFrame(
        rows, "q long, id long, qv array<double>, dv array<double>"
    ).repartition(4)
    got = [
        r.id
        for r in mmr_rerank(df, "q", "id", "qv", "dv", k=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert got == _py_mmr(cands, qv, 3, 0.5)
    assert got[0] == 1 and got[1] == 3  # diversity beat the near-dup

    # lam=1.0 degenerates to plain relevance order (1 and 3 tie on
    # cosine — id breaks it — and the near-dup 2 comes right back)
    got_rel = [
        r.id
        for r in mmr_rerank(df, "q", "id", "qv", "dv", k=4, lam=1.0)
        .orderBy("rank")
        .collect()
    ]
    assert got_rel == _py_mmr(cands, qv, 4, 1.0) == [1, 3, 2, 4]


def test_mmr_rerank_multi_query_and_guards(spark):
    import pytest as _pt

    from ensembl_database_loader_spark.operators.similarity import mmr_rerank

    rows = []
    for q in range(5):
        qv = [1.0, float(q)]
        for i in range(10):
            rows.append((q, i, qv, [float(i % 3), float(i % 5)]))
    df = spark.createDataFrame(
        rows, "q long, id long, qv array<double>, dv array<double>"
    )
    out = mmr_rerank(df, "q", "id", "qv", "dv", k=4, lam=0.3)
    per_q = {
        r.q: r.cnt
        for r in out.groupBy("q").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert per_q == {q: 4 for q in range(5)}
    ranks = {r.rank for r in out.filter(F.col("q") == 0).collect()}
    assert ranks == {1, 2, 3, 4}
    with _pt.raises(ValueError, match="k must be"):
        mmr_rerank(df, "q", "id", "qv", "dv", k=0)
    with _pt.raises(ValueError, match="lam"):
        mmr_rerank(df, "q", "id", "qv", "dv", k=1, lam=1.5)


def test_dedup_keep_best_canonical_per_cluster(spark):
    """Keep-best: the highest-quality doc survives per cluster (tie ->
    smaller id); isolated docs always survive; column set preserved."""
    from ensembl_database_loader_spark.operators.components import (
        dedup_keep_best,
    )

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 7.0), (6, 7.0)],
        "id bigint, q double",
    ).repartition(3)
    # clusters: {1,2,3} (chain), {5,6}; 4 isolated
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id1 bigint, id2 bigint"
    )
    kept = dedup_keep_best(docs, edges, "id", "q")
    assert kept.columns == ["id", "q"]
    got = sorted(r.id for r in kept.collect())
    # cluster1 -> id 2 (q=30); cluster2 -> id 5 (tie 7.0, smaller id);
    # isolated 4 survives
    assert got == [2, 4, 5]
    # plan gates: partial group-limit bounds the shuffle per component
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_temperature_mixture_shares_and_epochs(spark):
    """alpha=0 -> uniform, alpha=1 -> natural; shares sum to 1; epochs
    = budget * share / n_units; guards."""
    import pytest

    from ensembl_database_loader_spark.operators.mixing import (
        temperature_mixture,
    )

    df = spark.createDataFrame(
        [("a", 100)] * 4 + [("b", 50)] * 2 + [("c", 10)] * 1,
        "dom string, toks int",
    )
    # natural (alpha=1): shares proportional to token mass 400/100/10
    nat = {
        r.domain: r.share_alpha
        for r in temperature_mixture(df, "dom", alpha=1.0, size_col="toks").collect()
    }
    assert nat == {"a": round(400 / 510, 6), "b": round(100 / 510, 6),
                   "c": round(10 / 510, 6)}
    # uniform (alpha=0)
    uni = {
        r.domain: r.share_alpha
        for r in temperature_mixture(df, "dom", alpha=0.0, size_col="toks").collect()
    }
    assert all(v == round(1 / 3, 6) for v in uni.values())
    # alpha=0.5 compresses the range: head share shrinks, tail grows
    mid = {
        r.domain: r.share_alpha
        for r in temperature_mixture(df, "dom", alpha=0.5, size_col="toks").collect()
    }
    assert uni["a"] < mid["a"] < nat["a"]
    assert nat["c"] < mid["c"] < uni["c"]
    # epochs: budget * share / n_units, here with row counts as units
    rows = temperature_mixture(
        df, "dom", alpha=0.5, token_budget=700
    ).collect()
    by = {r.domain: r for r in rows}
    assert by["a"].n_rows == 4 and by["a"].n_units == 4
    import math

    tw = math.sqrt(4) + math.sqrt(2) + math.sqrt(1)
    assert by["c"].epochs == round(700 * (1 / tw) / 1, 4)
    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture(df, "dom", alpha=1.5)


def test_upsample_corpus_exact_repetition(spark):
    """floor copies for everyone, one extra for a deterministic
    hash-fraction; epoch indexes 1..copies; zero-rate domains drop;
    layout independence."""
    from ensembl_database_loader_spark.operators.mixing import (
        keyed_hash,
        upsample_corpus,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(1, 201)],
        "doc_id bigint, dom string",
    )
    rates = spark.createDataFrame(
        [("a", 2.3), ("b", 0.5), ("c", 1.0)], "dom string, epochs double"
    )
    out = upsample_corpus(df, "doc_id", rates, "dom")
    rows = out.collect()
    # python reference with the same quantized-threshold arithmetic
    units = {
        r.doc_id: r.u
        for r in df.select(
            "doc_id", keyed_hash("doc_id", 1_000_000).alias("u")
        ).collect()
    }
    import math

    def copies(i, rate):
        full = math.floor(rate)
        frac_units = round((rate - full) * 1_000_000)
        return full + (1 if units[i] < frac_units else 0)

    expect = {}
    for i in range(1, 201):
        rate = 2.3 if i % 2 == 0 else 0.5
        expect[i] = copies(i, rate)
    got = {}
    for r in rows:
        got[r.doc_id] = got.get(r.doc_id, 0) + 1
        assert 1 <= r.epoch <= expect[r.doc_id]
    assert got == {i: c for i, c in expect.items() if c > 0}
    # every domain-a row appears at least twice (floor(2.3) = 2)
    assert all(c >= 2 for i, c in expect.items() if i % 2 == 0)
    # layout independence
    out2 = upsample_corpus(df.repartition(7), "doc_id", rates, "dom")
    assert sorted((r.doc_id, r.epoch) for r in out2.collect()) == sorted(
        (r.doc_id, r.epoch) for r in rows
    )
