"""PMI collocation mining (llmdata/collocations.py): a scalar-Python
formula oracle on a planted corpus, floor/tie/edge behavior, and the
plan contract. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import math

import pytest

from coin_for_rich_spark.llmdata.collocations import pmi_collocations


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ------------------------------------------------------------- formula


def test_pmi_matches_python_reference(spark):
    """A planted corpus where 'strong glue' is a designed collocation
    (always adjacent) and 'weak glue' co-occurs at chance — the engine
    reproduces scalar PMI and puts the designed pair on top."""
    rows = [
        (i, "strong glue filler%d other%d strong glue pad%d" % (i, i, i))
        for i in range(8)
    ]
    out = pmi_collocations(
        _docs(spark, rows), top_m=1000, min_count=2
    ).collect()
    got = {(r["w1"], r["w2"]): r for r in out}

    # scalar reference for the (strong, glue) pair
    uni: dict[str, int] = {}
    pair: dict[tuple, int] = {}
    t1 = t2 = 0
    for _, text in rows:
        toks = text.split()
        for t in toks:
            uni[t] = uni.get(t, 0) + 1
            t1 += 1
        for a, b in zip(toks, toks[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
            t2 += 1
    want = round(
        math.log(
            (pair[("strong", "glue")] / t2)
            / ((uni["strong"] / t1) * (uni["glue"] / t1))
        ),
        6,
    )
    r = got[("strong", "glue")]
    assert r["c_pair"] == 16 and r["c_w1"] == 16 and r["c_w2"] == 16
    assert r["pmi"] == pytest.approx(want, abs=2e-6)
    # the designed collocation outranks the chance-level glue->filler
    assert r["rank"] == 1


def test_pmi_min_count_floor(spark):
    """Pairs below the floor never appear, even with extreme PMI (a
    hapax bigram has the highest possible PMI — the floor is what keeps
    that noise out)."""
    rows = [(1, "rare hapax"), (2, "common pair common pair common pair")]
    out = pmi_collocations(
        _docs(spark, rows), top_m=100, min_count=2
    ).collect()
    pairs = {(r["w1"], r["w2"]) for r in out}
    assert ("rare", "hapax") not in pairs
    assert ("common", "pair") in pairs


def test_pmi_tie_break_is_lexicographic(spark):
    """Symmetric constructions score exactly equal — rank must order
    ties by (w1, w2) ascending in any engine."""
    rows = [(i, "aa bb cc dd aa bb cc dd") for i in range(4)]
    out = sorted(
        pmi_collocations(
            _docs(spark, rows), top_m=10, min_count=2
        ).collect(),
        key=lambda r: r["rank"],
    )
    scores = [r["pmi"] for r in out]
    tied = [
        (r["w1"], r["w2"]) for r in out if r["pmi"] == scores[0]
    ]
    assert tied == sorted(tied)


def test_pmi_edges(spark):
    """Sub-2-token docs contribute no pairs; an empty corpus returns an
    empty frame with the full schema; parameters validate."""
    out = pmi_collocations(
        _docs(spark, [(1, "solo"), (2, ""), (3, "   ")]),
        top_m=10,
        min_count=1,
    )
    assert out.count() == 0
    assert out.columns == [
        "w1", "w2", "c_pair", "c_w1", "c_w2", "pmi", "rank",
    ]
    with pytest.raises(ValueError, match="top_m"):
        pmi_collocations(_docs(spark, [(1, "x y")]), top_m=0)
    with pytest.raises(ValueError, match="min_count"):
        pmi_collocations(_docs(spark, [(1, "x y")]), min_count=0)


# ---------------------------------------------------------------- plan


def test_pmi_plan_takeordered_not_full_sort(spark, sf_dir):
    """100 TB posture pin: the global cut is TakeOrdered (per-partition
    heaps), not a corpus-wide Sort→Limit, and no Python node appears."""
    from tests.pinned_rows import q_pmi_collocations

    plan = (
        q_pmi_collocations(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrdered" in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
