"""SemDeDup tier pins (llmdata/semdedup.py): the paper-rule contracts —
keep-farthest-from-centroid ranking, within-cell dominance only, and
Arrow-UDF/codegen path equality. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata.semdedup import (
    _affinity_expr,
    _affinity_udf,
    semdedup,
)


def test_semdedup_planted_duplicates(spark):
    """Near-identical vectors collapse to one kept representative; the
    kept one is the cell's lowest-centroid-cosine ranked member."""
    base = [float(i % 7 + 1) for i in range(8)]
    rows = [(i, [x + 0.001 * i for x in base]) for i in range(5)]
    # a far-away singleton that must survive untouched
    rows.append((99, [100.0, -50.0, 3.0, 0.0, 0.0, 0.0, 0.0, 1.0]))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = semdedup(df, n_clusters=2, tau=0.99).toPandas()
    clones = out[out.vec_id < 10]
    assert clones.cell.nunique() == 1
    assert int(clones.keep.sum()) == 1
    kept = clones[clones.keep]
    assert int(kept["rank"].iloc[0]) == int(clones["rank"].min())
    assert bool(out[out.vec_id == 99].keep.iloc[0])


def test_semdedup_dominance_is_cell_scoped(spark):
    """A cosine-close pair split across cells is NOT deduped — the paper
    prunes within clusters only."""
    rows = [
        (0, [10.0, 0.0, 0.0]),
        (1, [10.0, 0.1, 0.0]),   # near-dup of 0
        (2, [-10.0, 0.0, 0.0]),
        (3, [-10.0, -0.1, 0.0]),  # near-dup of 2
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    # explicit centroids (the kmeans_refine seam): the default hash sample
    # can pick two same-direction vectors as centroids on a 4-row fixture
    out = semdedup(
        df, n_clusters=2, tau=0.95,
        centroids=[[10.0, 0.0, 0.0], [-10.0, 0.0, 0.0]],
    ).toPandas()
    # two cells, one near-dup pair each -> exactly one drop per cell
    assert out.cell.nunique() == 2
    assert int(out.keep.sum()) == 2
    per_cell = out.groupby("cell").keep.sum()
    assert (per_cell == 1).all()


def test_semdedup_rank_orders_by_centroid_cosine(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup(emb, n_clusters=4, tau=0.45).toPandas()
    for _, grp in out.groupby("cell"):
        g = grp.sort_values("rank")
        assert g.cos_centroid.is_monotonic_increasing or (
            # equal rounded cosines may interleave ids; raw rank ordering
            # is (cos asc, id asc) so rounded values never DECREASE
            (g.cos_centroid.diff().dropna() >= -1e-12).all()
        )
        assert list(g["rank"]) == list(range(1, len(g) + 1))


def test_affinity_udf_matches_expr_path(spark, sf_dir):
    """The Arrow fallback computes the identical (negcos, cid) struct —
    int-valued code vectors keep both paths exact."""
    from coin_for_rich_spark.llmdata.similarity import (
        ivf_centroids,
        quantize_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes = quantize_embeddings(emb).select(
        "vec_id", F.transform("qvec", lambda q: q.cast("double")).alias("v")
    )
    cents = ivf_centroids(codes, 4, "vec_id", "v")
    a = codes.select(
        "vec_id", _affinity_expr("v", cents).alias("s")
    ).toPandas()
    b = codes.select(
        "vec_id", _affinity_udf(cents)(F.col("v")).alias("s")
    ).toPandas()
    a = a.sort_values("vec_id").reset_index(drop=True)
    b = b.sort_values("vec_id").reset_index(drop=True)
    for ra, rb in zip(a.s, b.s):
        assert ra["cid"] == rb["cid"]
        assert ra["negcos"] == rb["negcos"]


def test_semdedup_pair_kernel_is_cell_scoped_in_plan(spark):
    """The r14 verdict's `weak` finding, closed: the pair kernel's
    FlatMapGroupsInPandas grid key must INCLUDE the cell column — the
    corpus-global (bi, bj) grid filtered to same-cell pairs afterwards is
    exactly the plan this pin forbids."""
    from coin_for_rich_spark.llmdata.similarity import _gemm_candidates

    rows = [(i, [float(i), 1.0, 0.0], i % 3) for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, v array<double>, cell int"
    )
    cand = _gemm_candidates(df, 0.9, "vec_id", "v", block_col="cell")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    grouped = plan.split("FlatMapGroupsInPandas")[1].splitlines()[0]
    assert "_bk" in grouped, grouped  # cell key IS part of the grid key
    assert "bi" in grouped and "bj" in grouped, grouped


def test_semdedup_cross_cell_pairs_never_generated(spark):
    """Semantic half of the cell-scope pin: a planted cosine-identical
    pair split across cells must be absent from the CANDIDATE stage
    itself (not filtered later) — blocked-grid groups keyed by cell can
    never see both sides."""
    from coin_for_rich_spark.llmdata.similarity import embedding_neardup_pairs

    rows = [
        (0, [5.0, 0.0], 0),
        (1, [5.0, 0.0], 1),   # identical vector, DIFFERENT cell
        (2, [5.0, 0.1], 0),   # near-dup of 0, same cell
        (3, [0.0, 7.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>, cell int")
    got = (
        embedding_neardup_pairs(
            df, threshold=0.9, id_col="vec_id", vec_col="v",
            method="exact", block_col="cell",
        )
        .select("id_a", "id_b")
        .toPandas()
    )
    pairs = set(zip(got.id_a, got.id_b))
    assert (0, 2) in pairs          # same-cell near-dup found
    assert (0, 1) not in pairs      # cross-cell identical pair never formed
    # and without the block the cross-cell pair IS found — proving the
    # scoping is doing the work, not the threshold
    allp = (
        embedding_neardup_pairs(
            df, threshold=0.9, id_col="vec_id", vec_col="v", method="exact"
        )
        .select("id_a", "id_b")
        .toPandas()
    )
    assert (0, 1) in set(zip(allp.id_a, allp.id_b))


def test_semdedup_rejects_bad_k(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(ValueError):
        semdedup(emb, n_clusters=0)
