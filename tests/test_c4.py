"""C4 line-level cleaning (llmdata/c4.py): planted-text branch coverage for
the rules the synthetic corpus cannot fire, physical-line vs segment
paths, rule validation, and the plan contract. Each row's DuckDB twin is
checked in test_oracle_parity.py."""

from __future__ import annotations

import pytest

from coin_for_rich_spark.llmdata.c4 import C4_DEFAULTS, c4_clean


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ------------------------------------------------------ rule branches


def test_c4_planted_rule_branches(spark):
    """Every rule fires on its designed specimen — including
    terminal-punct, banned-token, and curly-brace, which the single-space
    all-alpha corpus can never trigger (so the gate row alone cannot
    cover these branches). Physical-line path, paper defaults."""
    rows = [
        # every line ends in terminal punct, >= 3 words, 5 lines: keeps
        (1, "\n".join(f"this is good line number {i}." for i in range(5))),
        # one short line dropped -> 4 survivors -> min_lines rejects
        (2, "ok.\n" + "\n".join(f"a fine line here {i}!" for i in range(4))),
        # no terminal punctuation anywhere: every line dropped
        (3, "\n".join(f"line {i} with no ending" for i in range(6))),
        # javascript line dropped, rest survive
        (4, "please enable javascript now.\n"
            + "\n".join(f'a good line {i}?' for i in range(5))),
        # lorem ipsum page ban (lines themselves are fine)
        (5, "\n".join(f"Lorem ipsum dolor sit amet {i}." for i in range(5))),
        # curly brace page ban
        (6, "\n".join(f"function body {i} {{x}}." for i in range(5))),
    ]
    out = {r["doc_id"]: r for r in c4_clean(_docs(spark, rows)).collect()}

    assert out[1]["keep"] and out[1]["page_reject_reasons"] == ""
    assert out[1]["clean_text"] == rows[0][1]  # untouched page round-trips

    assert out[2]["n_drop_short"] == 1
    assert out[2]["n_lines_kept"] == 4
    assert "min_lines" in out[2]["page_reject_reasons"]

    assert out[3]["n_drop_no_punct"] == 6
    assert out[3]["n_lines_kept"] == 0 and out[3]["clean_text"] == ""

    assert out[4]["n_drop_banned_token"] == 1
    assert out[4]["keep"]  # 5 survivors, no page rule fires
    assert "javascript" not in out[4]["clean_text"]

    assert "banned_phrase" in out[5]["page_reject_reasons"]
    assert "curly_brace" in out[6]["page_reject_reasons"]

    for r in out.values():  # audit-trail consistency, every row
        n = 0 if r["page_reject_reasons"] == "" else len(
            r["page_reject_reasons"].split(",")
        )
        assert r["n_page_rules_failed"] == n
        assert r["keep"] == (n == 0)
        assert r["n_lines_kept"] <= r["n_lines"]


def test_c4_banned_token_is_word_membership_not_substring(spark):
    """'javascripting' must NOT trip the token rule (the documented
    non-substring semantics), and matching is case-insensitive."""
    rows = [
        (1, "we love javascripting a lot."),
        (2, "we love JavaScript a lot."),
    ]
    out = {
        r["doc_id"]: r
        for r in c4_clean(
            _docs(spark, rows), min_lines=1
        ).collect()
    }
    assert out[1]["n_drop_banned_token"] == 0 and out[1]["keep"]
    assert out[2]["n_drop_banned_token"] == 1 and not out[2]["keep"]


def test_c4_segment_path_matches_manual_segmentation(spark):
    """segment_tokens path: spans are the documented [i*k, (i+1)*k) token
    windows; the truncated tail falls to the word floor."""
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens, k=4 -> 4,4,2
    out = c4_clean(
        _docs(spark, [(1, text)]),
        segment_tokens=4,
        min_line_words=4,
        min_lines=2,
        require_terminal_punct=False,
        out_delimiter=" | ",
    ).collect()[0]
    assert out["n_lines"] == 3
    assert out["n_drop_short"] == 1  # the 2-token tail
    assert out["clean_text"] == "t0 t1 t2 t3 | t4 t5 t6 t7"
    assert out["keep"]


def test_c4_unknown_rule_raises(spark):
    with pytest.raises(ValueError, match="unknown c4 rules"):
        c4_clean(_docs(spark, [(1, "x")]), min_words_typo=5)
    with pytest.raises(ValueError, match="segment_tokens"):
        c4_clean(_docs(spark, [(1, "x")]), segment_tokens=0)


def test_c4_defaults_are_the_published_set():
    """The paper-default dict is part of the operator contract: a silent
    edit must fail loudly here, not shift corpus keep rates unexplained."""
    assert C4_DEFAULTS == {
        "min_line_words": 3,
        "min_lines": 5,
        "require_terminal_punct": True,
        "banned_line_tokens": ("javascript",),
        "banned_page_phrases": ("lorem ipsum",),
        "ban_curly_brace": True,
    }


# --------------------------------------------------------- composition


def test_c4_then_gopher_composition(spark):
    """The pipeline contract: C4 REPAIRS first, Gopher GATES the
    rewritten text — and the order matters. A page whose raw text fails
    Gopher (boilerplate-flooded: dup 3-grams over threshold) passes once
    C4 has stripped the repeated junk lines, which a gate-on-raw run
    would have rejected."""
    from coin_for_rich_spark.llmdata.c4 import c4_clean
    from coin_for_rich_spark.llmdata.gopher import gopher_filter

    line1 = "the finding that distributed engines shuffle with " + " ".join(
        f"alpha{i} bravo{i} charlie{i}" for i in range(10)
    ) + " ends well."
    line2 = "and the optimizer prunes columns for " + " ".join(
        f"delta{i} echoes{i} foxtrot{i}" for i in range(10)
    ) + " ends too."
    junk = "buy now click here."  # short line, C4 word-floor drops it
    raw = "\n".join([line1] + [junk] * 30 + [line2])
    docs = spark.createDataFrame(
        [(1, raw)], "doc_id bigint, text string"
    )

    gate_on_raw = gopher_filter(docs).collect()[0]
    assert not gate_on_raw["keep"]
    assert "dup_ngrams" in gate_on_raw["reject_reasons"]

    repaired = c4_clean(docs, min_line_words=5, min_lines=2).select(
        "doc_id", "clean_text"
    )
    assert "buy now" not in repaired.collect()[0]["clean_text"]
    gate_on_clean = gopher_filter(
        repaired, text_col="clean_text"
    ).collect()[0]
    assert gate_on_clean["keep"], gate_on_clean["reject_reasons"]


# ---------------------------------------------------------------- plan


def test_c4_plan_is_scan_stage_only(spark, sf_dir):
    """100 TB posture pin: repair + decision is in-row higher-order
    algebra in the scan stage — no Exchange, no Python node (the
    explode→groupBy alternative would shuffle every line of the
    corpus)."""
    from tests.pinned_rows import q_c4_clean

    plan = (
        q_c4_clean(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
