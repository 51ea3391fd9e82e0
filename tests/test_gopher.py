"""Gopher-rules quality filter (llmdata/gopher.py): planted-text branch
coverage for the rules the synthetic corpus cannot fire, threshold
validation, and the plan contract. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import pytest

from coin_for_rich_spark.llmdata.gopher import GOPHER_DEFAULTS, gopher_filter


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ------------------------------------------------------ rule branches


def test_gopher_planted_rule_branches(spark):
    """Every rule fires on its designed specimen — including symbol_ratio
    and alpha_words, which an all-alphabetic word-salad corpus can never
    trigger (so the gate row alone cannot cover these branches)."""
    good = "the cat sat on the mat with a dog and " + " ".join(
        f"word{i}" for i in range(41)
    )
    rows = [
        (1, good),  # passes every default rule
        (2, "the of and to in is that with for on"),  # word_count (short)
        (3, "a I " * 30),  # mean_word_len < 3, stopwords
        (4, " ".join(f"w{i} !!! ### $$$" for i in range(20))),  # symbol_ratio
        (5, " ".join(str(i) for i in range(100, 160))),  # alpha_words
        (6, "the of " + "spark is fast " * 30),  # dup_ngrams (repeated 3-grams)
        (7, "the " * 60 + "of it is"),  # top_token
    ]
    out = {
        r["doc_id"]: r
        for r in gopher_filter(_docs(spark, rows)).collect()
    }
    assert out[1]["keep"] and out[1]["reject_reasons"] == ""
    assert "word_count" in out[2]["reject_reasons"]
    assert "mean_word_len" in out[3]["reject_reasons"]
    assert "symbol_ratio" in out[4]["reject_reasons"]
    assert "alpha_words" in out[5]["reject_reasons"]
    assert "dup_ngrams" in out[6]["reject_reasons"]
    assert "top_token" in out[7]["reject_reasons"]
    for r in out.values():  # audit-trail consistency, every row
        n = 0 if r["reject_reasons"] == "" else len(
            r["reject_reasons"].split(",")
        )
        assert r["n_rules_failed"] == n
        assert r["keep"] == (n == 0)


def test_gopher_unknown_threshold_raises(spark):
    with pytest.raises(ValueError, match="unknown gopher thresholds"):
        gopher_filter(_docs(spark, [(1, "x")]), max_tokens_typo=5)


def test_gopher_defaults_are_the_published_set():
    """The paper-default dict is part of the operator contract: a silent
    edit to a threshold must fail loudly here, not shift corpus keep
    rates unexplained."""
    assert GOPHER_DEFAULTS == {
        "min_tokens": 50,
        "max_tokens": 100_000,
        "min_mean_word_len": 3.0,
        "max_mean_word_len": 10.0,
        "min_stopwords": 2,
        "max_symbol_ratio": 0.1,
        "min_alpha_word_frac": 0.80,
        "max_dup_ngram_frac": 0.30,
        "max_top_token_frac": 0.20,
    }


# ---------------------------------------------------------------- plan


def test_gopher_plan_is_scan_stage_only(spark, sf_dir):
    """100 TB posture pin: the decision is one fused select in the scan
    stage — no Exchange, no Python node; downstream `filter(keep)` is a
    Catalyst-pushable predicate."""
    from tests.pinned_rows import q_gopher_filter

    plan = (
        q_gopher_filter(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
