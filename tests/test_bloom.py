"""Bloom membership sketch pins (llmdata/bloom.py): the sketch contracts —
zero false negatives, mergeability via bit_or, bounded false-positive
rate, null handling. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.bloom import (
    bloom_build,
    bloom_positions,
    bloom_probe,
)


def test_no_false_negatives(spark):
    """Every inserted item probes True — the property the prefilter
    cascade depends on."""
    items = spark.createDataFrame(
        [(i, f"item-{i}") for i in range(300)], "id long, item string"
    )
    bloom = bloom_build(items, "item", n_bits=1 << 12, k=5)
    probed = bloom_probe(
        items.select("id", "item"), bloom, "item", n_bits=1 << 12, k=5
    ).toPandas()
    assert probed.member.all()


def test_false_positive_rate_bounded(spark):
    """Non-members trip at roughly the theoretical (1-e^{-kn/m})^k rate —
    pinned loosely (≤ 3×) so a broken hash (e.g. all positions equal)
    fails loudly."""
    import math

    n, m, k = 500, 1 << 13, 5
    ins = spark.createDataFrame(
        [(f"in-{i}",) for i in range(n)], "item string"
    )
    out = spark.createDataFrame(
        [(i, f"out-{i}") for i in range(2000)], "id long, item string"
    )
    bloom = bloom_build(ins, "item", n_bits=m, k=k)
    probed = bloom_probe(out, bloom, "item", n_bits=m, k=k).toPandas()
    fpr = probed.member.mean()
    theory = (1 - math.exp(-k * n / m)) ** k
    assert fpr <= max(3 * theory, 0.01), (fpr, theory)


def test_merge_is_bit_or(spark):
    """Union of two corpora's filters == filter of the union — the
    mergeability the sparse (word_idx, bits) representation buys."""
    a = spark.createDataFrame([(f"a-{i}",) for i in range(50)], "item string")
    b = spark.createDataFrame([(f"b-{i}",) for i in range(50)], "item string")
    fa = bloom_build(a, "item", n_bits=1 << 10, k=3)
    fb = bloom_build(b, "item", n_bits=1 << 10, k=3)
    merged = (
        fa.union(fb)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .toPandas()
        .sort_values("word_idx")
        .reset_index(drop=True)
    )
    direct = (
        bloom_build(a.union(b), "item", n_bits=1 << 10, k=3)
        .toPandas()
        .sort_values("word_idx")
        .reset_index(drop=True)
    )
    assert merged.equals(direct)


def test_null_items_probe_false_and_insert_nothing(spark):
    ins = spark.createDataFrame([("x",), (None,)], "item string")
    bloom = bloom_build(ins, "item", n_bits=1 << 10, k=3)
    q = spark.createDataFrame(
        [(1, "x"), (2, None)], "id long, item string"
    )
    probed = (
        bloom_probe(q, bloom, "item", n_bits=1 << 10, k=3)
        .toPandas()
        .set_index("id")
    )
    assert bool(probed.loc[1, "member"])
    assert not bool(probed.loc[2, "member"])


def test_positions_deterministic_and_in_range(spark):
    df = spark.createDataFrame([("abc",)], "item string")
    pos = df.select(
        bloom_positions("item", 1 << 10, 7).alias("p")
    ).first()["p"]
    assert len(pos) == 7
    assert all(0 <= p < (1 << 10) for p in pos)
    # distinct salts -> not all equal (a collapsed hash family would
    # destroy the FPR guarantee silently)
    assert len(set(pos)) > 1


def test_arrow_fallback_bit_identical_to_literal_path(spark):
    """Past _MAX_SQL_LITERALS words the probe switches to the broadcast
    numpy bitmap in a pandas_udf — same positions (JVM md5), same bits,
    byte-identical member column. Probed by running the SAME geometry
    through both paths with the budget monkeypatched down (the semdedup
    _affinity_udf equality pattern)."""
    from coin_for_rich_spark.llmdata import bloom as bloom_mod

    ins = spark.createDataFrame(
        [(f"in-{i}",) for i in range(200)], "item string"
    )
    q = spark.createDataFrame(
        [(i, f"in-{i}" if i % 3 == 0 else f"probe-{i}") for i in range(600)]
        + [(999, None)],
        "id long, item string",
    )
    m, k = 1 << 13, 4  # 128 words
    bloom = bloom_build(ins, "item", n_bits=m, k=k)
    lit = bloom_probe(q, bloom, "item", n_bits=m, k=k).toPandas()
    orig = bloom_mod._MAX_SQL_LITERALS
    try:
        bloom_mod._MAX_SQL_LITERALS = 8  # force the Arrow path at 128 words
        udf = bloom_probe(q, bloom, "item", n_bits=m, k=k).toPandas()
    finally:
        bloom_mod._MAX_SQL_LITERALS = orig
    lit = lit.sort_values("id").reset_index(drop=True)
    udf = udf.sort_values("id").reset_index(drop=True)
    assert list(lit.member.astype(bool)) == list(udf.member.astype(bool))
    assert bool(lit[lit.id == 0].member.iloc[0])      # member hits
    assert not bool(lit[lit.id == 999].member.iloc[0])  # NULL probes False


def test_large_nbits_fpr_through_fallback(spark):
    """A realistically wide filter (n_bits = 2²⁰ → 16384 words, past the
    literal budget) routes through the Arrow path automatically, keeps
    zero false negatives, and lands near the theoretical FPR — the exact
    configuration the r14 verdict showed would blow codegen before."""
    import math

    n, m, k = 400, 1 << 20, 5
    assert m // 64 > 1000  # really is past _MAX_SQL_LITERALS
    ins = spark.createDataFrame([(f"in-{i}",) for i in range(n)], "item string")
    outs = spark.createDataFrame(
        [(i, f"out-{i}") for i in range(3000)], "id long, item string"
    )
    bloom = bloom_build(ins, "item", n_bits=m, k=k)
    hits = bloom_probe(ins.select("item"), bloom, "item", n_bits=m, k=k).toPandas()
    assert hits.member.all()  # no false negatives through the fallback
    fpr = bloom_probe(outs, bloom, "item", n_bits=m, k=k).toPandas().member.mean()
    theory = (1 - math.exp(-k * n / m)) ** k  # ~2.4e-14 at this geometry
    assert fpr <= max(3 * theory, 1e-3), (fpr, theory)


def test_probe_rejects_mismatched_geometry(spark):
    """A bitmap built wider than the probe's n_bits has word_idx out of
    range — must raise, not silently return wrong membership."""
    ins = spark.createDataFrame([(f"x-{i}",) for i in range(500)], "item string")
    wide = bloom_build(ins, "item", n_bits=1 << 14, k=5)
    q = spark.createDataFrame([(1, "x-0")], "id long, item string")
    with pytest.raises(ValueError, match="word_idx"):
        bloom_probe(q, wide, "item", n_bits=1 << 10, k=5)


def test_invalid_params(spark):
    df = spark.createDataFrame([("x",)], "item string")
    with pytest.raises(ValueError):
        bloom_build(df, "item", n_bits=100, k=3)  # not a multiple of 64
    with pytest.raises(ValueError):
        bloom_build(df, "item", n_bits=64, k=0)
