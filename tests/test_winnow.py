"""Winnowing fingerprint tier (llmdata/winnow.py) and DSIR selection tier
(llmdata/dsir.py): the paper contracts — the winnowing detection/noise
guarantees (Schleimer et al. 2003 §2) and the DSIR selection determinism
(Xie et al. 2023, deterministic top-k variant) — plus the winnow_overlap
DuckDB twin pin. The dsir_select twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.winnow import (
    winnow_fingerprints,
    winnow_overlap_pairs,
)
from coin_for_rich_spark.llmdata.dsir import (
    dsir_bucket_model,
    dsir_scores,
    dsir_select,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_winnow_overlap_matches_duckdb_twin(spark, sf_dir, duck):
    """The winnow_overlap row, hash-exact vs its first-principles DuckDB
    twin, and required to find at least one overlapping pair."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_winnow_overlap(spark, sf_dir).toPandas()
    assert len(sdf) > 0
    odf = duck.execute(entry_mod._winnow_overlap_oracle_sql()).df()
    problems = compare("winnow_overlap", sdf, odf)
    assert not problems, problems


# ------------------------------------------------- winnowing contracts


def test_fused_fp_kernel_matches_jvm_selection(spark, sf_dir):
    """The r15 fused Python kernel (k-gram + md5 + window-min + unique in
    one Arrow hop) must select the exact fingerprint SETS the JVM
    md5_prefix_long + positional selection path derives — including the
    digest-prefix identity (first 60 bits of the digest == the 15-hex-char
    prefix value)."""
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata.winnow import (
        _fp_set_fused_udf,
        _winnow_select,
        kgram_hashes,
    )
    from coin_for_rich_spark.llmdata.textstats import tokenize
    from coin_for_rich_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    k, w = 4, 5
    jvm = {
        (r.doc_id, r.fp)
        for r in docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(
                        _winnow_select(kgram_hashes("text", k), w),
                        lambda x: x["fp"],
                    )
                )
            ).alias("fp"),
        ).collect()
    }
    fused = {
        (r.doc_id, r.fp)
        for r in docs.select(
            "doc_id",
            F.explode(_fp_set_fused_udf(k, w)(tokenize("text"))).alias("fp"),
        ).collect()
    }
    assert len(jvm) > 0
    assert fused == jvm


def test_winnow_detection_guarantee(spark):
    """Paper §2 detection: two documents sharing a run of ≥ t tokens share
    at least one fingerprint — whatever surrounds the run."""
    shared = " ".join(f"s{i}" for i in range(8))  # exactly t = 8 tokens
    rows = [
        (1, "alpha beta gamma " + shared + " delta epsilon zeta"),
        (2, "one two three four five " + shared + " six seven"),
    ]
    fps = winnow_fingerprints(_docs(spark, rows), k=4, t=8).toPandas()
    a = set(fps[fps.doc_id == 1].fp)
    b = set(fps[fps.doc_id == 2].fp)
    assert a & b, "a shared 8-token run must yield a shared fingerprint"


def test_winnow_noise_threshold(spark):
    """Paper §2 noise: documents with no common k-gram (k=4) share no
    fingerprint — every fingerprint is the hash of some k-gram."""
    rows = [
        (1, " ".join(f"a{i}" for i in range(30))),
        (2, " ".join(f"b{i}" for i in range(30))),
    ]
    fps = winnow_fingerprints(_docs(spark, rows), k=4, t=8).toPandas()
    a = set(fps[fps.doc_id == 1].fp)
    b = set(fps[fps.doc_id == 2].fp)
    assert a and b and not (a & b)


def test_winnow_density_and_positions(spark):
    """Selected positions are valid k-gram starts, and selection is much
    sparser than the full k-gram list (expected density 2/(w+1))."""
    n = 400
    text = " ".join(f"w{i * 7919 % 997}" for i in range(n))
    fps = winnow_fingerprints(_docs(spark, [(1, text)]), k=4, t=8).toPandas()
    n_kgrams = n - 4 + 1
    assert fps.pos.between(0, n_kgrams - 1).all()
    # density: 2/(w+1) = 1/3 expected; allow generous slack both ways
    assert 0.15 * n_kgrams <= len(fps) <= 0.6 * n_kgrams


def test_winnow_short_docs(spark):
    """Docs shorter than k tokens yield no fingerprints; docs with fewer
    than w k-grams still yield exactly one window's pick."""
    rows = [(1, "a b c"), (2, "a b c d e"), (3, ""), (4, None)]
    fps = winnow_fingerprints(_docs(spark, rows), k=4, t=8).toPandas()
    assert set(fps.doc_id) == {2}
    assert len(fps[fps.doc_id == 2]) == 1  # 2 k-grams < w → one window


def test_winnow_overlap_max_df_guard(spark):
    """A fingerprint present in more than max_df documents is dropped
    before the pair join — the boilerplate/quadratic-blowup guard."""
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [(i, boiler) for i in range(1, 8)]  # 7 identical docs
    pairs_capped = winnow_overlap_pairs(
        _docs(spark, rows), k=4, t=8, min_shared=1, max_df=3
    ).toPandas()
    assert len(pairs_capped) == 0  # every fp has df=7 > 3 → all dropped
    pairs_open = winnow_overlap_pairs(
        _docs(spark, rows), k=4, t=8, min_shared=1, max_df=50
    ).toPandas()
    assert len(pairs_open) == 7 * 6 // 2  # all pairs survive


def test_winnow_overlap_accepts_non_identifier_id_column(spark):
    """The postings schema is a DDL string that reparses the id column
    name; an id column named ``doc id`` must give the same pairs as
    ``doc_id``."""
    boiler = " ".join(f"b{i}" for i in range(12))
    rows = [(i, boiler) for i in range(1, 4)] + [(9, "x y z w v u t s r")]
    plain = winnow_overlap_pairs(_docs(spark, rows), k=4, t=8, min_shared=1)
    spaced = winnow_overlap_pairs(
        spark.createDataFrame(rows, "`doc id` bigint, text string"),
        id_col="doc id", k=4, t=8, min_shared=1,
    )
    assert sorted(map(tuple, spaced.collect())) == sorted(
        map(tuple, plain.collect())
    )
    assert spaced.count() == 3


def test_winnow_invalid_params(spark):
    with pytest.raises(ValueError):
        winnow_fingerprints(_docs(spark, [(1, "a b c")]), k=5, t=4)


# ------------------------------------------------------ DSIR contracts


def test_dsir_separates_planted_domains(spark):
    """Raw-pool docs written in the target's vocabulary outrank raw-pool
    docs written in a disjoint vocabulary."""
    tvocab = lambda i: f"t{i % 17}"  # noqa: E731
    rvocab = lambda i: f"r{i % 17}"  # noqa: E731
    rows = []
    for d in range(20):  # target docs: t-vocabulary
        rows.append((d, " ".join(tvocab(d + i) for i in range(40))))
    for d in range(20, 30):  # raw docs that LOOK like target
        rows.append((d, " ".join(tvocab(d + i) for i in range(40))))
    for d in range(30, 40):  # raw docs that don't
        rows.append((d, " ".join(rvocab(d + i) for i in range(40))))
    docs = _docs(spark, rows)
    sel = dsir_select(docs, F.col("doc_id") < 20, top_k=20).toPandas()
    top10 = set(sel[sel["rank"] <= 10].doc_id)
    assert top10 == set(range(20, 30))
    bottom = set(sel[sel["rank"] > 10].doc_id)
    assert bottom == set(range(30, 40))


def test_dsir_scores_null_for_featureless_docs(spark):
    rows = [(1, "alpha beta gamma delta"), (2, ""), (3, None)]
    s = dsir_scores(_docs(spark, rows), F.col("doc_id") == 1).toPandas()
    s = s.set_index("doc_id")
    assert s.loc[1, "n_feats"] == 7  # 4 unigrams + 3 bigrams
    assert s.loc[2, "n_feats"] == 0 and s.loc[3, "n_feats"] == 0
    assert s.loc[[2, 3], "logw"].isna().all()


def test_dsir_model_bounded_and_deterministic(spark, sf_dir):
    """The bucket model never exceeds n_buckets rows and is identical
    across two fits (pure function of the pool)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m1 = dsir_bucket_model(docs, F.col("lang") == "en", n_buckets=512)
    m2 = dsir_bucket_model(docs, F.col("lang") == "en", n_buckets=512)
    p1 = m1.toPandas().sort_values("bucket").reset_index(drop=True)
    p2 = m2.toPandas().sort_values("bucket").reset_index(drop=True)
    assert len(p1) <= 512
    assert p1.equals(p2)


def test_dsir_select_excludes_target_docs(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sel = dsir_select(docs, F.col("lang") == "en", top_k=50)
    picked = sel.join(
        docs.select("doc_id", "lang"), "doc_id"
    ).toPandas()
    assert (picked.lang != "en").all()
    assert sorted(picked["rank"]) == list(range(1, len(picked) + 1))
