"""SFT chat-template assembly (llmdata/sft.py): handcrafted span extraction
(the property that matters: slicing the text by the spans returns
exactly the assistant contents), null/empty edges, and the plan
contract. Each row's DuckDB twin is checked in test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import Row

from coin_for_rich_spark.llmdata.sft import chat_render


def _convs(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id bigint, turns array<struct<role:string,content:string>>",
    )


# ------------------------------------------------------------ property


def test_sft_spans_slice_back_to_assistant_content(spark):
    """THE correctness property: for every conversation, text[s:e] for
    each emitted span reproduces exactly the assistant contents in turn
    order, and loss never covers template scaffolding."""
    rows = [
        (
            1,
            [
                Row(role="user", content="what is spark"),
                Row(role="assistant", content="a distributed engine"),
                Row(role="user", content="and catalyst"),
                Row(role="assistant", content="its optimizer"),
            ],
        ),
        (2, [Row(role="user", content="no answer here")]),
        (
            3,
            [
                Row(role="system", content="be terse"),
                Row(role="assistant", content=""),
            ],
        ),
    ]
    out = {r["conv_id"]: r for r in chat_render(_convs(spark, rows)).collect()}

    r1 = out[1]
    spans = [
        tuple(map(int, s.split("-")))
        for s in r1["loss_spans"].split(",")
    ]
    assert [r1["text"][s:e] for s, e in spans] == [
        "a distributed engine",
        "its optimizer",
    ]
    assert r1["loss_chars"] == len("a distributed engine") + len(
        "its optimizer"
    )
    assert r1["n_turns"] == 4 and r1["n_assistant_turns"] == 2
    for s, e in spans:  # scaffolding never leaks into the mask
        assert "<|" not in r1["text"][s:e]

    assert out[2]["loss_spans"] == "" and out[2]["loss_chars"] == 0
    # empty assistant content: a zero-width span at the right offset
    s, e = map(int, out[3]["loss_spans"].split("-"))
    assert s == e
    assert out[3]["text"][:s].endswith("<|im_start|>assistant\n")

    for r in out.values():
        assert r["n_chars"] == len(r["text"])


def test_sft_template_shape_is_pinned(spark):
    """The rendered template is part of the contract: a silent edit to
    the scaffolding must fail here, not shift every offset downstream."""
    out = chat_render(
        _convs(spark, [(1, [Row(role="user", content="hi")])])
    ).collect()[0]
    assert out["text"] == "<|im_start|>user\nhi<|im_end|>\n"


def test_sft_null_edges(spark):
    """NULL turns array renders as an empty conversation (not size=-1
    corruption); NULL content coalesces to ''."""
    rows = [
        (1, None),
        (2, [Row(role="assistant", content=None)]),
    ]
    out = {r["conv_id"]: r for r in chat_render(_convs(spark, rows)).collect()}
    assert out[1]["n_turns"] == 0 and out[1]["text"] == ""
    assert out[1]["loss_spans"] == "" and out[1]["n_chars"] == 0
    assert out[2]["loss_chars"] == 0 and out[2]["n_assistant_turns"] == 1
    s, e = map(int, out[2]["loss_spans"].split("-"))
    assert s == e


# ---------------------------------------------------------------- plan


def test_sft_plan_is_scan_stage_only(spark, sf_dir):
    """100 TB posture pin: the whole render (derivation + fold + audit
    columns) is in-row — no Exchange, no Window, no Python node; the
    explode→window alternative would shuffle every turn."""
    from tests.pinned_rows import q_sft_render

    plan = (
        q_sft_render(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
