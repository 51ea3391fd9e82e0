"""Validation for the LLM-data operators, focusing on the probabilistic ops
whose outputs can't be oracle-checked in SQL: MinHash/SimHash recall against
exact brute force, ANN recall against exact KNN, and the multimodal stub
contract."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata import (
    attach_fake_media,
    cosine_knn,
    exact_dedup,
    extract_media_features,
    lsh_ann_knn,
    minhash_pairs,
    ngram_jaccard_pairs,
    sample_frames,
    simhash_pairs,
)
from coin_for_rich_spark.llmdata.dedup import ngram_shingles
from coin_for_rich_spark.llmdata.multimodal import decode_media
from coin_for_rich_spark.sources import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def test_exact_dedup_finds_planted_duplicate(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b c"),
            Row(doc_id=2, text="  A b C  "),  # same after normalize
            Row(doc_id=3, text="different entirely"),
        ]
    )
    out = {r["keep_id"]: r for r in exact_dedup(df).collect()}
    assert out[1]["n_copies"] == 2
    assert out[3]["n_copies"] == 1


def test_line_dedup_drops_cross_doc_boilerplate_and_rebuilds_in_order(spark):
    from coin_for_rich_spark.llmdata import explode_lines, line_dedup

    df = spark.createDataFrame(
        [
            # "footer" appears in 3 distinct docs -> boilerplate, dropped
            Row(doc_id=1, text="alpha\nfooter\nbeta"),
            Row(doc_id=2, text="Footer \ngamma"),  # normalized identity
            Row(doc_id=3, text="delta\nfooter"),
            # intra-doc repetition only -> NEVER dropped (distinct-doc rule)
            Row(doc_id=4, text="echo\necho\necho"),
            # blank lines are exempt even though every doc could share them
            Row(doc_id=5, text="zeta\n\neta"),
            Row(doc_id=6, text="theta\n\niota"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(explode_lines(df), min_dup_docs=2).collect()
    }
    assert out[1]["clean_text"] == "alpha\nbeta"  # order preserved
    assert out[1]["n_lines"] == 3 and out[1]["n_lines_dropped"] == 1
    assert out[2]["clean_text"] == "gamma"
    assert out[3]["clean_text"] == "delta"
    assert out[4]["clean_text"] == "echo\necho\necho"
    assert out[4]["n_lines_dropped"] == 0
    assert out[5]["clean_text"] == "zeta\n\neta"
    assert out[6]["clean_text"] == "theta\n\niota"


def test_line_dedup_all_boilerplate_doc_rebuilds_empty(spark):
    from coin_for_rich_spark.llmdata import explode_lines, line_dedup

    df = spark.createDataFrame(
        [Row(doc_id=1, text="same"), Row(doc_id=2, text="same")]
    )
    out = {
        r["doc_id"]: r
        for r in line_dedup(explode_lines(df), min_dup_docs=2).collect()
    }
    # every doc still yields a row; its text is empty, counts are honest
    assert set(out) == {1, 2}
    assert out[1]["clean_text"] == "" and out[1]["n_lines_dropped"] == 1


def test_hard_negatives_excludes_disguised_positives(spark):
    """A planted near-duplicate of the anchor (cosine ≈ 1, above hi)
    must NOT appear as a negative; the in-band vectors do, hardest
    first; the orthogonal easy vector (below lo) is excluded."""
    import math

    import pytest as _pytest

    from coin_for_rich_spark.llmdata.similarity import hard_negatives

    def vec(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, vec(0.0)),            # anchor
        (1, vec(0.001)),          # near-dup, cos ~ 1 -> excluded (>= hi)
        (2, vec(0.9)),            # cos ~ 0.62 -> in band, hardest
        (3, vec(1.2)),            # cos ~ 0.36 -> in band
        (4, [0.0, 0.0, 1.0, 0.0]),  # orthogonal -> below lo
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    out = [
        r
        for r in hard_negatives(
            df, n_neg=2, sim_lo=0.1, sim_hi=0.9, knn_k=4
        ).collect()
        if r["vec_id"] == 0
    ]
    assert [r["nbr"] for r in sorted(out, key=lambda r: r["neg_rank"])] == [
        2,
        3,
    ]
    with _pytest.raises(ValueError, match="sim_lo < sim_hi"):
        hard_negatives(df, sim_lo=0.5, sim_hi=0.5)
    with _pytest.raises(ValueError, match="knn_k"):
        hard_negatives(df, n_neg=5, knn_k=3)


def test_intra_doc_line_dedup_semantics(spark):
    """First occurrence survives, later intra-doc repeats drop (the
    exact case line_dedup exempts), normalized identity, blank lines
    exempt, order preserved."""
    from coin_for_rich_spark.llmdata import explode_lines, intra_doc_line_dedup

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="echo\nalpha\nEcho \necho\nbeta"),
            Row(doc_id=2, text="zeta\n\n\nzeta"),  # blanks exempt, zeta drops
            Row(doc_id=3, text="unique\nlines\nonly"),
            # cross-doc repeats are NOT this operator's business
            Row(doc_id=4, text="unique"),
        ]
    )
    out = {
        r["doc_id"]: r
        for r in intra_doc_line_dedup(explode_lines(df)).collect()
    }
    assert out[1]["clean_text"] == "echo\nalpha\nbeta"
    assert out[1]["n_lines"] == 5 and out[1]["n_lines_dropped"] == 2
    assert out[2]["clean_text"] == "zeta\n\n"
    assert out[2]["n_lines_dropped"] == 1
    assert out[3]["n_lines_dropped"] == 0
    assert out[4]["clean_text"] == "unique"  # doc 3's copy is untouched


def test_explode_token_segments_covers_text_exactly(spark):
    from coin_for_rich_spark.llmdata import explode_token_segments

    text = " ".join(f"w{i}" for i in range(29))  # 2 full spans + 5-token tail
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    segs = explode_token_segments(df, k=12).orderBy("pos").collect()
    assert [r["pos"] for r in segs] == [0, 1, 2]
    assert segs[0]["line"] == " ".join(f"w{i}" for i in range(12))
    assert segs[2]["line"] == " ".join(f"w{i}" for i in range(24, 29))
    # concatenating the spans reconstructs the original text
    assert " ".join(r["line"] for r in segs) == text


def test_ngram_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="one two")])
    row = df.select(ngram_shingles("text", 3).alias("s")).first()
    assert row["s"] == []


def test_minhash_recall_vs_exact(docs):
    """Every high-similarity pair found by exact Jaccard must be recovered by
    the MinHash+LSH path (at this corpus size the banding catches s≥0.2
    pairs essentially always), and reported jaccard values must agree."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs(docs, threshold=0.2).collect()
    }
    # minhash output is a subset of exact pairs (verify step) ...
    assert set(mh) <= set(exact)
    # ... with identical jaccard values where present
    for pair, j in mh.items():
        assert j == exact[pair]
    # ... and recall at this scale should be high
    if exact:
        assert len(mh) / len(exact) >= 0.8


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
            Row(doc_id=3, text="totally unrelated words here now ok"),
        ]
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_gate_contract_pinned(spark, sf_dir):
    """The full simhash_pairs gate contract — banded pigeonhole pairs vs the
    sampled brute-force twin, n_missing == n_extra == 0 on the real
    documents table — preserved as a pytest pin after simhash_pairs rotated
    OUT of the driver gate in r12 (swapped for span_corruption; its oracle
    row was a constant, so the checkable content always lived in the engine
    side pinned here)."""
    from tests.pinned_rows import q_simhash_pairs

    rows = q_simhash_pairs(spark, sf_dir).collect()
    assert len(rows) == 1
    assert rows[0]["pigeonhole_exact"] is True
    assert rows[0]["n_missing"] == 0 and rows[0]["n_extra"] == 0


def test_ann_recall_on_planted_cluster(spark):
    """Random-hyperplane LSH must recover planted near-duplicates of the
    query vector: vectors at small angular distance share the query's bucket
    (or a Hamming-1 probe) with overwhelming probability. (On uniformly
    random embeddings ANN recall is inherently poor — that's the operator
    working as specified, so the recall contract is tested on structure.)"""
    import random

    rng = random.Random(42)
    base = [rng.uniform(-1, 1) for _ in range(64)]
    rows = []
    for i in range(5):  # planted near-dups of the query
        rows.append(
            Row(vec_id=i, embedding=[x + rng.uniform(-0.01, 0.01) for x in base])
        )
    for i in range(5, 105):  # background noise
        rows.append(
            Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(64)])
        )
    emb = spark.createDataFrame(rows)
    ann = [r["vec_id"] for r in lsh_ann_knn(emb, base, k=5).collect()]
    assert set(ann) == {0, 1, 2, 3, 4}


def test_cosine_knn_self_is_top(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    top = cosine_knn(emb, qv, k=3).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] == 1.0


def test_decode_media_stub_contract():
    with pytest.raises(NotImplementedError, match="codec library"):
        decode_media(b"bytes", "image/png", fake=False)
    f1 = decode_media(b"bytes", "image/png", fake=True)
    f2 = decode_media(b"bytes", "audio/wav", fake=True)
    assert f1 == f2 and len(f1) == 8  # deterministic, payload-derived


def test_media_pipeline_arrow_batches(docs):
    media = attach_fake_media(docs)
    feats = extract_media_features(media, fake=True)
    rows = feats.limit(5).collect()
    assert all(len(r["feature"]) == 8 for r in rows)
    assert all(len(r["sha256"]) == 64 for r in rows)
    # plumbing must preserve row count (map-only, no dedup/filter)
    assert feats.count() == docs.count()


def test_sample_frames_counts(spark):
    df = spark.createDataFrame(
        [Row(media_id=1, mime="video/mp4", duration_ms=3500),
         Row(media_id=2, mime="image/png", duration_ms=None)]
    )
    out = sample_frames(df, every_ms=1000).collect()
    # 0,1000,2000,3000 for the video; nothing for the image
    assert sorted(r["frame_ts_ms"] for r in out) == [0, 1000, 2000, 3000]


def test_jaccard_prefix_equals_count(docs):
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    cols = ["doc_a", "doc_b", "n_inter", "sz_a", "sz_b"]
    count_rows = sorted(
        tuple(r) for r in ngram_jaccard_pairs(docs, threshold=0.2).select(*cols).collect()
    )
    prefix_rows = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, threshold=0.2, method="prefix")
        .select(*cols)
        .collect()
    )
    assert count_rows == prefix_rows and len(count_rows) > 0


def test_jaccard_count_plan_cache_registry_drains(docs):
    """The count plan's inverted doc-list index is the only persist inside
    ngram_jaccard_pairs; it must register for cleanup and actually unpersist
    when the registry is drained (bench passes / long sessions rely on it)."""
    from coin_for_rich_spark.llmdata import dedup as D

    D.release_intermediate_caches()  # start clean
    out = D.ngram_jaccard_pairs(docs, threshold=0.2)
    assert len(out.collect()) > 0
    assert len(D._INTERMEDIATE_CACHES) == 1
    cached = D._INTERMEDIATE_CACHES[0]
    assert cached.storageLevel.useMemory
    D.release_intermediate_caches()
    assert not D._INTERMEDIATE_CACHES
    assert not cached.storageLevel.useMemory
    # the prefix plan persists nothing
    D.ngram_jaccard_pairs(docs, threshold=0.2, method="prefix").collect()
    assert not D._INTERMEDIATE_CACHES


def test_jaccard_auto_probe_picks_plan_by_skew(docs):
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    # benign corpus, generous budget → the count plan (no array verify step)
    benign = ngram_jaccard_pairs(docs, threshold=0.2)
    assert "array_intersect" not in benign._jdf.queryExecution().optimizedPlan().toString()
    # a 1-row budget forces the skew-safe prefix plan
    forced = ngram_jaccard_pairs(docs, threshold=0.2, pair_budget=1)
    assert "array_intersect" in forced._jdf.queryExecution().optimizedPlan().toString()
    cols = ["doc_a", "doc_b", "n_inter", "sz_a", "sz_b"]
    assert sorted(tuple(r) for r in benign.select(*cols).collect()) == sorted(
        tuple(r) for r in forced.select(*cols).collect()
    )


@pytest.fixture()
def dup_heavy_docs(spark):
    """64 identical documents — the worst case for BOTH exact plans: every
    doc shares every shingle, so Σdf² and the prefix candidate join are each
    ~n². The deterministic 1/8 hash sample keeps several of the 64 ids, so
    the probes always see the duplication."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    return spark.createDataFrame(
        [Row(doc_id=i, text=text) for i in range(64)]
    )


def test_jaccard_over_cap_raises_actionable(dup_heavy_docs):
    """Over-cap side of the candidate_cap contract: on a duplicate-heavy
    corpus the guard must refuse to BUILD the pair join — a loud error
    naming the estimate, the cap, and the remediation options — instead of
    leaving a quadratic join to a cluster timeout."""
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    with pytest.raises(RuntimeError, match="candidate pairs"):
        # pair_budget=1 forces past the count plan; candidate_cap=1 makes
        # any observed duplication trip the prefix-volume guard
        ngram_jaccard_pairs(
            dup_heavy_docs, threshold=0.2, pair_budget=1, candidate_cap=1
        )
    # the error is actionable: it names the scalable tiers and the overrides
    with pytest.raises(RuntimeError, match="minhash_pairs"):
        ngram_jaccard_pairs(
            dup_heavy_docs, threshold=0.2, pair_budget=1, candidate_cap=1
        )


def test_jaccard_over_cap_degrades_to_lsh(dup_heavy_docs):
    """on_over_cap='lsh': same 6-column schema, exact per-pair verification,
    pairs a subset of the exact tier's — and on identical docs (identical
    MinHash signatures) recall is total, so the sets are EQUAL here."""
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    exact = ngram_jaccard_pairs(dup_heavy_docs, threshold=0.2, method="prefix")
    with pytest.warns(UserWarning, match="MinHash-LSH"):
        degraded = ngram_jaccard_pairs(
            dup_heavy_docs,
            threshold=0.2,
            pair_budget=1,
            candidate_cap=1,
            on_over_cap="lsh",
        )
    assert degraded.columns == exact.columns
    assert sorted(tuple(r) for r in degraded.collect()) == sorted(
        tuple(r) for r in exact.collect()
    )


def test_jaccard_under_cap_proceeds(dup_heavy_docs):
    """Under-cap side: the same duplicate-heavy corpus with a sufficient cap
    builds the exact relation — the guard gates, it does not distort."""
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        dup_heavy_docs, threshold=0.2, pair_budget=1, candidate_cap=10_000_000
    )
    rows = out.collect()
    # 64 identical docs → C(64,2) ordered pairs, all jaccard 1.0
    assert len(rows) == 64 * 63 // 2
    assert all(r["jaccard"] == 1.0 for r in rows)


def test_jaccard_on_over_cap_typo_raises(dup_heavy_docs):
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    with pytest.raises(ValueError, match="on_over_cap"):
        ngram_jaccard_pairs(dup_heavy_docs, on_over_cap="LSH")


def test_embed_neardup_int_exact_matches_verify_fold(spark, sf_dir):
    """The r15 decide-in-kernel mode (int_exact=True over int8 codes) must
    reproduce the verify-fold path's pairs AND rounded cosines bit-for-bit
    — the integer-dot exactness argument made testable."""
    from coin_for_rich_spark.llmdata import embedding_neardup_pairs
    from coin_for_rich_spark.llmdata.similarity import quantize_embeddings
    from coin_for_rich_spark.sources import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    codes = quantize_embeddings(emb).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    fold = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            codes, threshold=0.4, method="exact"
        ).collect()
    }
    kernel = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(
            codes, threshold=0.4, method="exact", int_exact=True
        ).collect()
    }
    assert len(fold) > 0
    assert kernel == fold  # exact dict equality: same pairs, same doubles


def test_embed_neardup_lsh_is_subset_of_exact(spark, sf_dir):
    from coin_for_rich_spark.llmdata import embedding_neardup_pairs
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.4, method="exact").collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs(emb, threshold=0.4, method="lsh").collect()
    }
    assert len(exact) > 0
    # verification step guarantees precision 1: every LSH pair is a true pair
    assert lsh <= exact


def test_ivf_exact_when_probing_all_cells(spark, sf_dir):
    """n_probe = n_centroids must reproduce the exact top-k (the IVF
    candidate filter becomes a no-op and only the re-rank remains)."""
    from coin_for_rich_spark.llmdata import cosine_knn, ivf_ann_knn
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = [(r.vec_id, r.cosine) for r in cosine_knn(emb, qv, k=10).collect()]
    ivf_all = [
        (r.vec_id, r.cosine)
        for r in ivf_ann_knn(emb, qv, k=10, n_centroids=16, n_probe=16).collect()
    ]
    assert ivf_all == exact


def test_ivf_partial_probe_recall(spark, sf_dir):
    from coin_for_rich_spark.llmdata import cosine_knn, ivf_ann_knn
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = {r.vec_id for r in cosine_knn(emb, qv, k=10).collect()}
    ann = {r.vec_id for r in ivf_ann_knn(emb, qv, k=10, n_centroids=16, n_probe=6).collect()}
    assert len(exact & ann) >= 4


def test_doc_profile_matches_single_purpose_operators(spark, sf_dir):
    """The fused one-projection scan must be column-identical to the four
    single-purpose operators it subsumes."""
    from coin_for_rich_spark.llmdata import (
        doc_fingerprint,
        doc_langid,
        doc_profile,
        doc_stats,
        doc_tokens,
    )
    from coin_for_rich_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    prof = {r.doc_id: r for r in doc_profile(docs).collect()}
    for r in doc_stats(docs).collect():
        p = prof[r.doc_id]
        for c in ("n_chars", "n_tokens", "n_punct", "n_stopwords",
                  "quality_bucket"):
            assert getattr(p, c) == getattr(r, c), c
    for r in doc_tokens(docs).collect():
        assert prof[r.doc_id].bpe_tokens == r.bpe_tokens
        assert prof[r.doc_id].n_tokens == r.ws_tokens
    for r in doc_langid(docs).collect():
        assert prof[r.doc_id].pred_lang == r.pred_lang
    for r in doc_fingerprint(docs).collect():
        assert prof[r.doc_id].bag_fingerprint == r.bag_fingerprint
        assert prof[r.doc_id].n_distinct_tokens == r.n_distinct_tokens


def test_bucket_of_requires_column_name():
    import pytest
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata.similarity import bucket_of

    with pytest.raises(TypeError, match="column NAME"):
        bucket_of(F.col("embedding"), [[1.0, -1.0]])


def test_lsh_ann_numpy_fallback_matches_codegen_path(spark, sf_dir, monkeypatch):
    """Past the codegen literal budget the candidate filter switches to the
    Arrow-batched numpy path — same query, same result set."""
    from coin_for_rich_spark.llmdata import similarity as sim
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter("vec_id = 0").select("embedding").first()[0]
    lit = sim.lsh_ann_knn(emb, qv, k=5, n_planes=4, n_tables=2).collect()
    monkeypatch.setattr(sim, "_MAX_SQL_LITERALS", 1)
    fb = sim.lsh_ann_knn(emb, qv, k=5, n_planes=4, n_tables=2).collect()
    assert [(r.vec_id, r.cosine) for r in lit] == [(r.vec_id, r.cosine) for r in fb]


def test_ivf_numpy_fallback_matches_codegen_path(spark, sf_dir, monkeypatch):
    from coin_for_rich_spark.llmdata import similarity as sim
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter("vec_id = 0").select("embedding").first()[0]
    cents = sim.ivf_centroids(emb, 8)
    lit = sim.ivf_ann_knn(emb, qv, k=5, n_probe=3, centroids=cents).collect()
    monkeypatch.setattr(sim, "_MAX_SQL_LITERALS", 1)
    fb = sim.ivf_ann_knn(emb, qv, k=5, n_probe=3, centroids=cents).collect()
    assert [(r.vec_id, r.cosine) for r in lit] == [(r.vec_id, r.cosine) for r in fb]


def test_kmeans_refine_improves_planted_clusters(spark):
    """Lloyd refinement must recover planted cluster structure: starting
    from hash-sampled seeds, refined centroids give IVF at n_probe=1 perfect
    recall of a query's own cluster."""
    import numpy as np
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata.similarity import (
        cosine_knn,
        ivf_ann_knn,
        ivf_centroids,
        kmeans_refine,
    )

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 16) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append(Row(vec_id=i, embedding=(centers[c] + rng.randn(16) * 0.05).tolist()))
    emb = spark.createDataFrame(rows).cache()
    emb.count()
    seeds = ivf_centroids(emb, 4)
    refined = kmeans_refine(emb, seeds, n_iter=10)
    assert len(refined) == 4 and len(refined[0]) == 16
    qv = emb.filter("vec_id = 0").first()["embedding"]
    exact = {r.vec_id for r in cosine_knn(emb, qv, k=10).collect()}
    got = {
        r.vec_id
        for r in ivf_ann_knn(
            emb, qv, k=10, n_probe=1, centroids=refined
        ).collect()
    }
    assert got == exact


def test_kmeans_refine_deterministic(spark):
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata.similarity import kmeans_refine

    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i % 3), float(i % 5)]) for i in range(60)]
    )
    seeds = [[0.0, 0.0], [2.0, 4.0]]
    a = kmeans_refine(emb, seeds, n_iter=4)
    b = kmeans_refine(emb, seeds, n_iter=4)
    assert a == b


def test_simhash_packed_equals_wide(spark, sf_dir):
    """The packed-lane accumulator (22 BIGINT columns) must produce exactly
    the fingerprints of the reference 64-column ±1 formulation."""
    from coin_for_rich_spark.llmdata.dedup import simhash_fingerprints
    from coin_for_rich_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    packed = {r.doc: r.simhash_hex for r in simhash_fingerprints(docs).collect()}
    wide = {
        r.doc: r.simhash_hex
        for r in simhash_fingerprints(docs, impl="wide").collect()
    }
    assert packed == wide and len(packed) == docs.count()


def test_cross_corpus_contamination(spark):
    """Planted eval leakage: an exact copy, a shingle-overlapping rewrite,
    and a clean doc — only the first two are flagged, with the right
    classification."""
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import cross_corpus_contamination

    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
            Row(doc_id=2, text="completely unrelated training material about spark"),
            Row(doc_id=3, text="something with the quick brown fox phrase inside it"),
        ]
    )
    evalset = spark.createDataFrame(
        [
            Row(doc_id=100, text="The Quick Brown Fox Jumps Over The Lazy Dog Today".lower()),
            Row(doc_id=101, text="held out benchmark question nobody trained on"),
        ]
    )
    got = {
        (r.train_id, r.eval_id): (r.exact_dup, r.n_shared_shingles)
        for r in cross_corpus_contamination(train, evalset, min_overlap=2).collect()
    }
    assert (1, 100) in got
    exact_dup, shared = got[(1, 100)]
    assert exact_dup and shared >= 7
    assert (3, 100) in got and not got[(3, 100)][0]
    assert all(tid != 2 and eid != 101 for tid, eid in got)


def test_bloom_prefilter_cascade_equals_exact(spark):
    """The r14 VERDICT ask #7 pin: the Bloom-prefilter → exact-verify
    cascade over planted contamination returns EXACTLY the exact-only
    verifier's pairs (no false negatives by construction), and the
    survivor relation shows the verifier touched only Bloom positives —
    a strict subset of the training corpus."""
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import cross_corpus_contamination
    from coin_for_rich_spark.llmdata.dedup import (
        bloom_prefiltered_contamination,
    )

    # 2 contaminated docs (one exact copy, one passage overlap) buried in
    # 40 clean ones — the shape the cascade exists for
    rows = [
        Row(doc_id=1, text="the held out benchmark asks what color the sky is"),
        Row(doc_id=2, text="students wondered what color the sky is at dusk exactly"),
    ] + [
        Row(doc_id=100 + i, text=f"clean training paragraph number {i} about topic {i * 7}")
        for i in range(40)
    ]
    train = spark.createDataFrame(rows)
    evalset = spark.createDataFrame(
        [
            Row(doc_id=900, text="The held out benchmark asks what color the sky is".lower()),
            Row(doc_id=901, text="another benchmark nobody leaked anywhere at all"),
        ]
    )
    exact_pairs = {
        (r.train_id, r.eval_id, r.exact_dup, r.n_shared_shingles)
        for r in cross_corpus_contamination(
            train, evalset, min_overlap=2
        ).collect()
    }
    pairs_df, survivors = bloom_prefiltered_contamination(
        train, evalset, min_overlap=2
    )
    cascade_pairs = {
        (r.train_id, r.eval_id, r.exact_dup, r.n_shared_shingles)
        for r in pairs_df.collect()
    }
    assert cascade_pairs == exact_pairs and len(cascade_pairs) >= 2
    # the scan-scope evidence: the exact verifier saw ONLY Bloom positives
    surv_ids = {r[0] for r in survivors.collect()}
    assert {1, 2} <= surv_ids                 # contamination never filtered
    assert len(surv_ids) < train.count()      # but the scan DID shrink
    # and at default FPR virtually all clean docs are gone
    assert len(surv_ids) <= 10, surv_ids


def test_contamination_spans_planted_severity(spark):
    """A planted verbatim 12-token passage reads back as EXACTLY
    max_span_tokens=12; an isolated shared 3-gram reads as 3; a doc
    containing two disjoint leaked passages counts n_spans=2."""
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata.dedup import contamination_spans

    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    assert len(passage.split()) == 12
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"intro words then {passage} and trailing filler here"),
            Row(doc_id=2, text="unrelated text sharing only alpha bravo charlie nothing else"),
            Row(
                doc_id=3,
                text=f"{passage} middle gap words xx yy zz golf hotel india juliett kilo lima",
            ),
            Row(doc_id=4, text="completely clean document with zero overlap at all"),
        ]
    )
    evalset = spark.createDataFrame([Row(doc_id=900, text=passage)])
    got = {
        r.train_id: (r.max_span_tokens, r.n_spans, r.n_matched_ngrams)
        for r in contamination_spans(train, evalset, n=3).collect()
    }
    assert got[1] == (12, 1, 10)  # full passage: 12-3+1 = 10 matched 3-grams
    assert got[2][0] == 3 and got[2][1] == 1  # lone shared 3-gram
    assert got[3][0] == 12 and got[3][1] >= 2  # full passage + 6-token suffix rerun
    assert 4 not in got  # zero shared shingles -> no row at all


def test_quantize_round_trip_error_bound(spark, sf_dir):
    """int8 quantize→dequantize reconstruction error is ≤ scale/2 per
    component, and quantized-corpus kNN agrees with float kNN on top-1."""
    import numpy as np

    from coin_for_rich_spark.llmdata import (
        cosine_knn,
        dequantize_embeddings,
        quantize_embeddings,
    )
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb).cache()
    orig = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb.collect()}
    for r in q.collect():
        x = orig[r.vec_id]
        xhat = np.array(r.qvec, dtype=float) * r.scale
        assert np.all(np.abs(x - xhat) <= r.scale / 2 + 1e-12)
        assert all(-127 <= int(v) <= 127 for v in r.qvec)
    deq = dequantize_embeddings(q)
    qv = emb.filter("vec_id = 0").first()["embedding"]
    top_f = cosine_knn(emb, qv, k=3).collect()
    top_q = cosine_knn(deq, qv, k=3).collect()
    assert top_f[0].vec_id == top_q[0].vec_id
    q.unpersist()


def test_doc_repetition_signals(spark):
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import doc_repetition

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam spam"),
            Row(doc_id=2, text="six completely different words here now"),
            Row(doc_id=3, text="ab"),
        ]
    )
    r = {x.doc_id: x for x in doc_repetition(docs).collect()}
    # all 3-grams identical -> 4 total, 1 distinct
    assert r[1].n_ngrams == 4 and r[1].n_distinct_ngrams == 1
    assert abs(r[1].dup_ngram_frac - 0.75) < 1e-12
    assert r[1].top_token_frac == 1.0
    assert r[2].dup_ngram_frac == 0.0
    assert abs(r[2].top_token_frac - 1 / 6) < 1e-12
    # shorter than n -> zero ngrams, no division blowups
    assert r[3].n_ngrams == 0 and r[3].dup_ngram_frac == 0.0


def test_gemm_grid_sizing_rule():
    """The auto grid must scale with the data: memory-bound at corpus scale
    (a fixed B would OOM), parallelism-floored on big clusters, and capped
    on tiny corpora where per-group overhead would dominate."""
    from coin_for_rich_spark.llmdata.similarity import _gemm_grid_size

    mb = 256 << 20
    # 10^8 x 768 float64: memory bound dominates everything
    b = _gemm_grid_size(100_000_000, 768, 1000, mb)
    assert 2 * (100_000_000 / b) * 768 * 8 <= mb
    assert b >= 4000
    # small corpus: overhead cap binds (5k rows -> at most 2 blocks),
    # regardless of a huge cluster
    assert _gemm_grid_size(5_000, 32, 1000, mb) == 2
    # mid corpus on a big cluster: parallelism floor binds (B(B+1)/2 >= 256)
    b = _gemm_grid_size(10_000_000, 32, 256, mb)
    assert b * (b + 1) // 2 >= 256
    # degenerate inputs never produce B < 1
    assert _gemm_grid_size(0, 0, 1, mb) == 1


def test_token_ngrams_and_max_multiplicity_match_python_reference(spark):
    """The zip_with n-gram builder and the run-length max-multiplicity pass
    must agree with the obvious Python reference on a seeded fuzz corpus
    (repetition-heavy vocab, unicode, empty/short/boundary-length docs) —
    the algebra is tricky (null padding, trailing-window slice, run reset),
    the contract is simple."""
    import random
    import re
    from collections import Counter

    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata.textstats import (
        _max_multiplicity,
        token_ngrams,
        tokenize,
    )

    rng = random.Random(42)
    vocab = ["a", "b", "ab", "x1", ".", "longertoken", "ñé"]
    texts = {i: " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
             for i in range(200)}
    texts.update({200: "", 201: "one", 202: "one two", 203: "one two three",
                  204: "  padded   whitespace  "})
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    toks = tokenize("text")
    got = df.select(
        "doc_id",
        token_ngrams(toks, 2).alias("g2"),
        token_ngrams(toks, 3).alias("g3"),
        _max_multiplicity(toks).alias("m"),
    ).collect()
    assert len(got) == len(texts)
    for r in got:
        # mirror tokenize's contract: empty/whitespace-only -> [] (the
        # phantom [""] token was a review-pass fix)
        stripped = texts[r.doc_id].strip()
        t = re.split(r"\s+", stripped) if stripped else []
        for n, col in ((2, r.g2), (3, r.g3)):
            ref = [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)] \
                if len(t) >= n else []
            assert col == ref, (r.doc_id, n, col, ref)
        expect_m = max(Counter(t).values()) if t else 0
        assert r.m == expect_m, (r.doc_id, t, r.m)


def test_doc_profile_long_document_scaling(spark):
    """Long-document guard: top_token_frac must stay near-linear per row.

    A 2×10⁴-token document with ~all-distinct tokens costs ~4×10⁸ array
    comparisons per row under a naive O(distinct × total) per-token filter
    loop (minutes for this corpus) vs ~10⁵ operations for the run-length
    pass over the sorted array. The wall-clock budget is deliberately loose
    — it only fails if someone reintroduces a quadratic per-row loop."""
    import time

    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import doc_profile, doc_repetition

    n = 20_000
    # all-distinct tokens except one tripled token -> known max multiplicity
    toks = [f"t{i}" for i in range(n - 2)] + ["t0", "t0"]
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(toks)) for i in range(8)]
    ).repartition(8)
    t0 = time.monotonic()
    rows = doc_profile(docs).select("doc_id", "n_tokens", "top_token_frac").collect()
    rep = {r.doc_id: r for r in doc_repetition(docs).collect()}
    elapsed = time.monotonic() - t0
    assert len(rows) == 8
    for r in rows:
        assert r.n_tokens == n
        assert abs(r.top_token_frac - 3 / n) < 1e-12
        assert abs(rep[r.doc_id].top_token_frac - 3 / n) < 1e-12
    assert elapsed < 60, f"doc_profile took {elapsed:.1f}s on long docs"


def test_pq_recall_and_compression(spark, sf_dir):
    """PQ codebooks + ADC scoring + exact re-rank: on the real embedding
    corpus the re-ranked top-10 must recover most of the exact top-10, and
    the stored representation is m small codes per vector."""
    from coin_for_rich_spark.llmdata import (
        cosine_knn,
        pq_ann_knn,
        pq_encode,
        pq_train,
    )
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    emb.count()
    books = pq_train(emb, m=8, k=16, n_iter=3)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    codes = pq_encode(emb, books).cache()
    first = codes.first()
    assert len(first.pq_codes) == 8
    assert all(0 <= c < 16 for c in first.pq_codes)
    qv = emb.filter("vec_id = 0").first()["embedding"]
    exact = {r.vec_id for r in cosine_knn(emb, qv, k=10).collect()}
    got = {
        r.vec_id
        for r in pq_ann_knn(
            emb, qv, k=10, codebooks=books, codes=codes, rerank=100
        ).collect()
    }
    # isotropic random corpus is ANN's worst case; rerank=100 of n≈1000
    # must still recover at least half the true neighbors
    assert len(exact & got) >= 5
    codes.unpersist()
    emb.unpersist()


def test_pq_exact_when_rerank_covers_corpus(spark, sf_dir):
    """With rerank >= corpus size the re-rank IS the exact scan — PQ must
    return exactly the brute-force top-k."""
    from coin_for_rich_spark.llmdata import cosine_knn, pq_ann_knn, pq_train
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    books = pq_train(emb, m=4, k=8, n_iter=2)
    qv = emb.filter("vec_id = 0").first()["embedding"]
    exact = [(r.vec_id, r.cosine) for r in cosine_knn(emb, qv, k=5).collect()]
    got = [
        (r.vec_id, r.cosine)
        for r in pq_ann_knn(emb, qv, k=5, codebooks=books, rerank=n).collect()
    ]
    assert got == exact
    emb.unpersist()


def test_materialized_ann_index_prunes_partitions_and_is_exact_at_full_probe(
    spark, sf_dir, tmp_path
):
    """The cell-partitioned index turns a probe into partition pruning: the
    scan's plan carries the _cell partition filter, probing all cells equals
    brute force, and a 2-cell probe reads only those directories."""
    from coin_for_rich_spark.llmdata import (
        ann_index_knn,
        cosine_knn,
        materialize_ann_index,
    )
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    emb.count()
    path = str(tmp_path / "ann_index")
    cents = materialize_ann_index(emb, path, n_centroids=8, n_iter=2)
    qv = emb.filter("vec_id = 0").first()["embedding"]

    full = ann_index_knn(spark, path, cents, qv, k=5, n_probe=8)
    exact = [(r.vec_id, r.cosine) for r in cosine_knn(emb, qv, k=5).collect()]
    assert [(r.vec_id, r.cosine) for r in full.collect()] == exact

    probe = ann_index_knn(spark, path, cents, qv, k=5, n_probe=2)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "_cell" in plan  # partition filter present in the scan
    probe.collect()
    emb.unpersist()


def test_ivf_pq_composition(spark, sf_dir):
    """IVF cell restriction composes with PQ scoring: run PQ ANN over only
    the probed cells' vectors — the IVF-PQ shape — and still recover the
    query's true nearest neighbor."""
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata import pq_ann_knn, pq_train
    from coin_for_rich_spark.llmdata.similarity import (
        _centroid_ranks_py,
        _nearest_centroid_expr,
        ivf_centroids,
    )
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    emb.count()
    cents = ivf_centroids(emb, 8)
    qv = emb.filter("vec_id = 0").first()["embedding"]
    probes = _centroid_ranks_py([float(x) for x in qv], cents)[:4]
    cell = _nearest_centroid_expr("embedding", cents)
    cands = emb.withColumn("_cell", cell).filter(
        F.col("_cell").isin(probes)
    ).drop("_cell")
    books = pq_train(emb, m=4, k=8, n_iter=2)
    got = pq_ann_knn(cands, qv, k=5, codebooks=books, rerank=50).collect()
    assert got[0].vec_id == 0  # the query's own vector survives the funnel
    emb.unpersist()


def test_ivf_pq_index_end_to_end(spark, sf_dir, tmp_path):
    """The full on-disk IVF-PQ index: codes stored with cell partitions, a
    probe prunes partitions and ADC-scores the code bytes, full vectors are
    touched only for the re-rank — and at full probe + full rerank it's
    exact brute force."""
    from coin_for_rich_spark.llmdata import (
        ann_index_knn,
        cosine_knn,
        materialize_ann_index,
        pq_train,
    )
    from coin_for_rich_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    books = pq_train(emb, m=4, k=8, n_iter=2)
    path = str(tmp_path / "ivfpq")
    cents = materialize_ann_index(
        emb, path, n_centroids=8, n_iter=2, pq_codebooks=books
    )
    qv = emb.filter("vec_id = 0").first()["embedding"]
    exact = [(r.vec_id, r.cosine) for r in cosine_knn(emb, qv, k=5).collect()]
    full = ann_index_knn(
        spark, path, cents, qv, k=5, n_probe=8, pq_codebooks=books, rerank=n
    )
    assert [(r.vec_id, r.cosine) for r in full.collect()] == exact
    probed = ann_index_knn(
        spark, path, cents, qv, k=5, n_probe=2, pq_codebooks=books, rerank=50
    ).collect()
    assert probed[0].vec_id == 0
    emb.unpersist()


def test_pick_canonical_policies(spark):
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import pick_canonical

    clusters = spark.createDataFrame(
        [Row(doc_id=i, cluster_id=1 if i <= 3 else 10, cluster_size=0)
         for i in [1, 2, 3, 10, 11]]
    )
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="short"),
            Row(doc_id=2, text="the longest document of them all"),
            Row(doc_id=3, text="mid length doc"),
            Row(doc_id=10, text="same size"),
            Row(doc_id=11, text="same size"),
        ]
    )
    longest = {r.cluster_id: (r.keep_id, r.cluster_size)
               for r in pick_canonical(clusters, docs).collect()}
    assert longest == {1: (2, 3), 10: (10, 2)}  # equal length -> lowest id
    min_id = {r.cluster_id: r.keep_id
              for r in pick_canonical(clusters, docs, prefer="min_id").collect()}
    assert min_id == {1: 1, 10: 10}


def test_dedup_review_hardening(spark):
    """The dedup review-pass pins: threshold-boundary parity between the
    Jaccard plans, literal delimiters, string-id canonical picks, unknown-
    method errors, star/label self-pair parity, and the shared-shingle
    minhash path."""
    import pytest
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import (
        dedup_clusters,
        explode_lines,
        minhash_pairs,
        pick_canonical,
        simhash_pairs,
    )
    from coin_for_rich_spark.llmdata.dedup import (
        ngram_jaccard_pairs,
        ngram_shingles,
    )
    from pyspark.sql import functions as F

    # 1. J == threshold exactly (7/25 = 0.28, and 0.28*25 > 7 in doubles):
    # both plans must keep the pair — the prefix plan's pruning previously
    # dropped it at the float boundary
    toks_x = " ".join(f"t{i}" for i in range(27))  # 25 distinct trigrams
    toks_y = " ".join(f"t{i}" for i in range(9))  # its first 7 trigrams
    docs2 = spark.createDataFrame(
        [(0, toks_x), (1, toks_y)], "doc_id long, text string"
    )
    for m in ("count", "prefix"):
        got = ngram_jaccard_pairs(docs2, threshold=0.28, method=m).collect()
        assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(0, 1, 0.28)], m
    with pytest.raises(ValueError, match="unknown method"):
        ngram_jaccard_pairs(docs2, method="Count")

    # 2. regex metacharacter delimiters split literally
    d = spark.createDataFrame([(0, "a|b|c")], "doc_id long, text string")
    lines = [r.line for r in explode_lines(d, delimiter="|").collect()]
    assert lines == ["a", "b", "c"]

    # 3. pick_canonical with STRING ids (negated-id ordering silently
    # NULLed these before)
    cl = spark.createDataFrame(
        [Row(doc_id="b", cluster_id="a"), Row(doc_id="a", cluster_id="a")]
    )
    dd = spark.createDataFrame(
        [Row(doc_id="a", text="xxxx"), Row(doc_id="b", text="yy")]
    )
    assert pick_canonical(cl, dd).first().keep_id == "a"  # longest
    assert pick_canonical(cl, dd, prefer="min_id").first().keep_id == "a"

    # 4. star ≡ label on degenerate self-pair rows
    pairs = spark.createDataFrame(
        [(1, 2), (5, 5)], "doc_a long, doc_b long"
    )
    for m in ("label", "star"):
        got = sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup_clusters(pairs, method=m).collect()
        )
        assert got == [(1, 1, 2), (2, 1, 2), (5, 5, 1)], m
    with pytest.raises(ValueError, match="unknown method"):
        dedup_clusters(pairs, method="stars")
    with pytest.raises(ValueError, match="unknown method"):
        simhash_pairs(docs2, method="bands")
    with pytest.raises(ValueError, match="divisible"):
        minhash_pairs(docs2, num_perm=32, bands=7)

    # 5. the shared-shingle fast path returns the identical pair relation
    near = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 30))) for i in range(6)],
        "doc_id long, text string",
    )
    base = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_pairs(near, threshold=0.2).collect()
    )
    pre = near.select(
        F.col("doc_id").alias("doc"), ngram_shingles("text", 3).alias("sh")
    )
    shared = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_pairs(near, threshold=0.2, shingled=pre).collect()
    )
    assert base == shared and len(base) > 0


def test_jaccard_count_plan_survives_interpreted_eval(docs):
    """Spark's interpreted Slice.eval overflows 32-bit on huge length
    literals (codegen silently falls back to interpretation on wide plans,
    e.g. >64KB generated methods) — the count plan must produce identical
    pairs with codegen disabled entirely."""
    from coin_for_rich_spark.functions.partitioning import scoped_conf
    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    cols = ["doc_a", "doc_b", "n_inter"]
    expected = sorted(
        tuple(r)
        for r in ngram_jaccard_pairs(docs, threshold=0.2, method="prefix")
        .select(*cols)
        .collect()
    )
    assert expected
    with scoped_conf(
        docs.sparkSession,
        **{
            "spark.sql.codegen.wholeStage": "false",
            "spark.sql.codegen.factoryMode": "NO_CODEGEN",
        },
    ):
        got = sorted(
            tuple(r)
            for r in ngram_jaccard_pairs(docs, threshold=0.2, method="count")
            .select(*cols)
            .collect()
        )
    assert got == expected


def test_knn_join_matches_brute_force(spark):
    """knn_join over the blocked grid must equal a per-row brute-force
    top-k with the (cosine desc, nbr asc) tie contract — values, order,
    and the self-exclusion."""
    import numpy as np

    from coin_for_rich_spark.llmdata import knn_join

    rng = np.random.RandomState(13)
    n, d, k = 60, 8, 5
    M = rng.randn(n, d)
    M[7] = 0.0  # zero vector: cosine 0 against everything
    M[11] = M[3] * 2.0  # exact-duplicate direction: cosine 1 tie
    rows = [(i, [float(x) for x in M[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.vec_id, r.rank): (r.nbr, r.cosine)
        for r in knn_join(df, k=k, n_blocks=4).collect()
    }

    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    nrm = np.where(nrm == 0, 1.0, nrm)
    Mn = M / nrm
    C = Mn @ Mn.T
    for i in range(n):
        order = sorted(
            (j for j in range(n) if j != i), key=lambda j: (-C[i, j], j)
        )[:k]
        for rank, j in enumerate(order, start=1):
            nbr, cosv = got[(i, rank)]
            assert nbr == j, (i, rank, nbr, j)
            assert cosv == round(float(C[i, j]), 6), (i, rank)
    assert len(got) == n * k


def test_knn_join_small_corpus_and_validation(spark):
    import pytest as _pytest

    from coin_for_rich_spark.llmdata import knn_join

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k larger than n-1: every other vector returned, ranked
    out = knn_join(df, k=10, n_blocks=2).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r.vec_id, []).append(r.nbr)
    assert all(sorted(v) == sorted({0, 1, 2} - {i}) for i, v in per_id.items())
    with _pytest.raises(ValueError, match="k must be"):
        knn_join(df, k=0)


def test_knn_join_deterministic_across_runs(spark):
    import numpy as np

    from coin_for_rich_spark.llmdata import knn_join

    rng = np.random.RandomState(29)
    rows = [(i, [float(x) for x in rng.randn(6)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(7)
    a = sorted(knn_join(df, k=3, n_blocks=3).collect())
    b = sorted(knn_join(df, k=3, n_blocks=5).collect())  # grid size is physical only
    assert a == b


def test_ann_index_append_and_path_only_query(spark, tmp_path):
    """Appends join the index under its persisted geometry: new vectors
    land in the cell their stored centroids dictate, probes see them
    immediately, and a path-only query (centroids=None) reads the sidecar."""
    import numpy as np

    from coin_for_rich_spark.llmdata import (
        ann_index_knn,
        append_to_ann_index,
        load_ann_index_meta,
        materialize_ann_index,
    )

    rng = np.random.RandomState(19)
    base = [(i, [float(x) for x in rng.randn(8)]) for i in range(80)]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann")
    cents = materialize_ann_index(df, path, n_centroids=4, n_iter=2)
    meta = load_ann_index_meta(path)
    assert meta["centroids"] == cents

    # append: one vector exactly on an existing vector's direction → it
    # must become that vector's top hit at full probe width
    target = base[17][1]
    extra = [(1000, [2.0 * x for x in target]), (1001, [float(x) for x in rng.randn(8)])]
    append_to_ann_index(
        spark.createDataFrame(extra, "vec_id long, embedding array<double>"), path
    )
    hits = ann_index_knn(
        spark, path, None, target, k=2, n_probe=4
    ).collect()
    assert {h.vec_id for h in hits} == {17, 1000}
    assert all(h.cosine == 1.0 for h in hits)
    # appended rows landed in the partition their centroid assignment
    # dictates: re-deriving the cell from the sidecar centroids matches
    # the partition value on disk
    rows = spark.read.parquet(path).filter(F.col("vec_id") >= 1000).collect()
    C = np.asarray(meta["centroids"], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-150)
    for r in rows:
        v = np.asarray(r.embedding, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-150)
        assert r._cell == int(np.argmax(Cn @ v))


def test_knn_join_antipodal_neighbor_survives(spark):
    """A vector's exact negation has cosine −1, which float rounding can
    push below −1 — it must NOT be conflated with the self-pair sentinel
    (clip-before-mask)."""
    from coin_for_rich_spark.llmdata import knn_join

    rows = [
        (0, [0.3, -0.7, 0.11, 0.923]),
        (1, [-0.3, 0.7, -0.11, -0.923]),  # exact negation of 0
        (2, [1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {(r.vec_id, r.rank): (r.nbr, r.cosine) for r in knn_join(df, k=2, n_blocks=2).collect()}
    # each of 0/1 sees the other as its rank-2 (worst) neighbor at -1.0
    assert out[(0, 2)] == (1, -1.0)
    assert out[(1, 2)] == (0, -1.0)


def test_neardup_lsh_empty_and_explicit_dims(spark):
    from coin_for_rich_spark.llmdata import embedding_neardup_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert embedding_neardup_pairs(empty, method="lsh").count() == 0
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01])], "vec_id long, embedding array<double>"
    )
    got = embedding_neardup_pairs(df, method="lsh", dims=2, threshold=0.9).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]


def test_neardup_lsh_over_budget_falls_back_and_matches(spark, monkeypatch):
    """embedding_neardup_pairs' bucket column obeys the literal budget like
    every other literal-SQL consumer: past it, the Arrow bucket twin
    produces the SAME pair set (at realistic dims — 768 × 4 planes = 3072
    literals — the codegen'd fold is exactly the regime the budget's
    measured rationale warns about)."""
    from coin_for_rich_spark.llmdata import similarity as sim

    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(8)]) for i in range(40)]
        + [(100, [1.0] * 8), (101, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    lit = sorted(
        (r.id_a, r.id_b)
        for r in sim.embedding_neardup_pairs(df, method="lsh", threshold=0.95).collect()
    )
    monkeypatch.setattr(sim, "_MAX_SQL_LITERALS", 1)
    fb = sorted(
        (r.id_a, r.id_b)
        for r in sim.embedding_neardup_pairs(df, method="lsh", threshold=0.95).collect()
    )
    assert lit == fb and (100, 101) in lit


def test_similarity_boundary_inputs(spark, monkeypatch):
    """Zero query, empty corpus, NULL embeddings, non-finite centroids —
    the boundary shapes must fail clean or score clean, never crash or
    silently return NULL-ranked garbage."""
    import pytest

    from coin_for_rich_spark.llmdata import similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    # all-zero query: cosine 0.0 for every row (NOT NULL), id-ordered
    got = sim.cosine_knn(df, [0.0, 0.0], k=2).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [(0, 0.0), (1, 0.0)]
    # empty corpus: ivf empty result, train/materialize fail with context
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.ivf_ann_knn(empty, [1.0, 0.0], k=3).count() == 0
    assert sim.kmeans_refine(empty, []) == []
    with pytest.raises(ValueError, match="empty corpus"):
        sim.pq_train(empty)
    with pytest.raises(ValueError, match="empty corpus"):
        sim.materialize_ann_index(empty, "/tmp/never_written_idx")
    # non-finite centroid components: a clear error, not a ParseException
    with pytest.raises(ValueError, match="non-finite"):
        sim._nearest_centroid_expr("embedding", [[float("nan"), 1.0]])
    # NULL embedding rows: dropped/ignored identically on BOTH sides of
    # the literal budget (the Arrow twins must not np.stack-crash)
    with_null = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.99, 0.01]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    lit_pairs = sorted(
        (r.id_a, r.id_b)
        for r in sim.embedding_neardup_pairs(
            with_null, method="lsh", dims=2, threshold=0.9
        ).collect()
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    lit_knn = [r.vec_id for r in sim.ivf_ann_knn(
        with_null, [1.0, 0.0], k=2, centroids=cents, n_probe=2).collect()]
    monkeypatch.setattr(sim, "_MAX_SQL_LITERALS", 1)
    fb_pairs = sorted(
        (r.id_a, r.id_b)
        for r in sim.embedding_neardup_pairs(
            with_null, method="lsh", dims=2, threshold=0.9
        ).collect()
    )
    fb_knn = [r.vec_id for r in sim.ivf_ann_knn(
        with_null, [1.0, 0.0], k=2, centroids=cents, n_probe=2).collect()]
    assert lit_pairs == fb_pairs == [(0, 1)]
    assert lit_knn == fb_knn


def test_sample_frames_half_open_duration(spark):
    from pyspark.sql import Row

    from coin_for_rich_spark.llmdata import sample_frames

    df = spark.createDataFrame(
        [Row(media_id=1, mime="video/mp4", duration_ms=3000)]
    )
    out = sorted(r.frame_ts_ms for r in sample_frames(df, every_ms=1000).collect())
    # exact-multiple duration: no tick at duration_ms (half-open, matching
    # sample_real_frames)
    assert out == [0, 1000, 2000]


def test_grouped_quantiles_closed_form():
    """Hand-checkable pin: p50/p90/p99 of 1..100 in one group are exactly
    50/90/99 (rank = ceil(p·n) with integer arithmetic), and a two-group
    frame keeps groups independent."""
    from coin_for_rich_spark.llmdata.textstats import grouped_quantiles
    from coin_for_rich_spark.session import get_spark

    spark = get_spark("tests")
    rows = [("a", i) for i in range(1, 101)] + [("b", 7)] * 10
    df = spark.createDataFrame(rows, "grp_in string, val long")
    out = {
        (r.grp, r.quantile): (r.value, r.n_rows)
        for r in grouped_quantiles(df, "val", "grp_in").collect()
    }
    assert out[("a", "p50")] == (50, 100)
    assert out[("a", "p90")] == (90, 100)
    assert out[("a", "p99")] == (99, 100)
    assert out[("b", "p50")] == (7, 10)
    assert out[("b", "p99")] == (7, 10)
