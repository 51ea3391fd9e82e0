"""Count-Min-Sketch tier pins (llmdata/cms.py): the sketch contracts — no
underestimate ever, sum-mergeability, weighted build,
Arrow-fallback/literal path equality, geometry guards. Each row's DuckDB
twin is checked in test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.cms import (
    cms_build,
    cms_estimate,
    cms_positions,
)


def test_cms_never_underestimates(spark):
    """est >= true for EVERY sketched item — the contract the
    sketch-filter -> exact-verify cascade depends on (collisions in a
    counter only ever add)."""
    rows = [(f"item-{i % 37}",) for i in range(1000)]
    items = spark.createDataFrame(rows, "item string")
    sketch = cms_build(items, "item", width=64, depth=3)  # forced collisions
    probe = items.distinct()
    est = cms_estimate(probe, sketch, "item", width=64, depth=3)
    true_c = items.groupBy("item").count()
    joined = est.join(true_c, "item").toPandas()
    assert (joined.est >= joined["count"]).all()
    # and with a wide matrix the estimates are exact (no collisions)
    wide = cms_build(items, "item", width=4096, depth=4)
    est2 = cms_estimate(probe, wide, "item", width=4096, depth=4)
    j2 = est2.join(true_c, "item").toPandas()
    assert (j2.est == j2["count"]).all()


def test_cms_merge_is_sum(spark):
    """Union of two corpora's sketches == sketch of the union — the
    mergeability the sparse (row_idx, col_idx, cnt) representation buys
    (1000 executors sketch shards independently, one groupBy folds)."""
    a = spark.createDataFrame([(f"a-{i % 5}",) for i in range(40)], "item string")
    b = spark.createDataFrame([(f"b-{i % 7}",) for i in range(30)], "item string")
    fa = cms_build(a, "item", width=128, depth=3)
    fb = cms_build(b, "item", width=128, depth=3)
    merged = (
        fa.union(fb)
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").alias("cnt"))
        .toPandas()
        .sort_values(["row_idx", "col_idx"])
        .reset_index(drop=True)
    )
    direct = (
        cms_build(a.union(b), "item", width=128, depth=3)
        .toPandas()
        .sort_values(["row_idx", "col_idx"])
        .reset_index(drop=True)
    )
    assert merged.equals(direct)


def test_cms_weighted_build(spark):
    """weight_col adds per-row integer weights — sketching pre-aggregated
    (item, count) input equals sketching the raw occurrences."""
    raw = spark.createDataFrame(
        [("x",)] * 7 + [("y",)] * 3, "item string"
    )
    agg = raw.groupBy("item").agg(F.count(F.lit(1)).alias("w"))
    s_raw = cms_build(raw, "item", width=64, depth=3).toPandas()
    s_agg = cms_build(agg, "item", width=64, depth=3, weight_col="w").toPandas()
    key = ["row_idx", "col_idx"]
    assert (
        s_raw.sort_values(key).reset_index(drop=True)
        .equals(s_agg.sort_values(key).reset_index(drop=True))
    )


def test_cms_arrow_fallback_bit_identical_to_literal_path(spark):
    """Past _MAX_SQL_LITERALS cells the estimate switches to the numpy
    broadcast probed in a pandas_udf — same positions (JVM md5), same
    integers, identical column (the bloom_probe equality pattern)."""
    from coin_for_rich_spark.llmdata import cms as cms_mod

    items = spark.createDataFrame(
        [(f"i-{i % 50}",) for i in range(400)], "item string"
    )
    q = items.distinct().union(
        spark.createDataFrame([("missing",), (None,)], "item string")
    )
    w, d = 128, 4  # 512 cells — under the budget for the literal leg
    sketch = cms_build(items, "item", width=w, depth=d)
    lit = cms_estimate(q, sketch, "item", width=w, depth=d).toPandas()
    orig = cms_mod._MAX_SQL_LITERALS
    try:
        cms_mod._MAX_SQL_LITERALS = 8
        udf = cms_estimate(q, sketch, "item", width=w, depth=d).toPandas()
    finally:
        cms_mod._MAX_SQL_LITERALS = orig
    lit = lit.sort_values("item", na_position="first").reset_index(drop=True)
    udf = udf.sort_values("item", na_position="first").reset_index(drop=True)
    lp = lit.est.astype("Int64")
    up = udf.est.astype("Int64")
    assert lp.equals(up), (lp, up)
    # NULL item estimates NULL on both paths
    assert lit.est[lit.item.isna()].isna().all()
    assert udf.est[udf.item.isna()].isna().all()


def test_cms_rejects_mismatched_geometry(spark):
    items = spark.createDataFrame([(f"x-{i}",) for i in range(200)], "item string")
    wide = cms_build(items, "item", width=1024, depth=4)
    q = spark.createDataFrame([("x-0",)], "item string")
    with pytest.raises(ValueError, match="cell"):
        cms_estimate(q, wide, "item", width=64, depth=4)


def test_cms_positions_deterministic_and_in_range(spark):
    df = spark.createDataFrame([("abc",)], "item string")
    pos = df.select(cms_positions("item", 512, 6).alias("p")).first()["p"]
    assert len(pos) == 6
    assert all(0 <= p < 512 for p in pos)
    assert len(set(pos)) > 1  # a collapsed hash family fails loudly


def test_cms_invalid_params(spark):
    df = spark.createDataFrame([("x",)], "item string")
    with pytest.raises(ValueError):
        cms_build(df, "item", width=0, depth=3)
    with pytest.raises(ValueError):
        cms_build(df, "item", width=64, depth=0)
