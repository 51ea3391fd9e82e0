"""Pins for repeated_span_dedup — the sequence-level (exact repeated
substring) tier of the dedup ladder. The operator's contract is defined by
the pure-Python reference twin below; the Spark plan must reproduce it
value-for-value on crafted shapes AND on real testdata documents."""

from __future__ import annotations

from pyspark.sql import functions as F

from coin_for_rich_spark.llmdata import repeated_span_dedup
from coin_for_rich_spark.sources import load_table


def _py_reference(rows: dict[int, str], window: int) -> dict[int, dict]:
    """Dict-based twin of the documented semantics: global (doc, pos)
    winner per duplicated window value, greedy merged-range removal,
    single-space rebuild."""
    toks = {d: [t for t in text.split() if t] for d, text in rows.items()}
    occs: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(toks):
        ts = toks[d]
        for p in range(0, len(ts) - window + 1):
            occs.setdefault(" ".join(ts[p : p + window]), []).append((d, p))
    marks: dict[int, list[int]] = {d: [] for d in toks}
    for _win, os_ in occs.items():
        if len(os_) < 2:
            continue
        winner = min(os_)
        for o in os_:
            if o != winner:
                marks[o[0]].append(o[1])
    out = {}
    for d, ts in toks.items():
        ranges: list[list[int]] = []
        for p in sorted(marks[d]):
            if ranges and p <= ranges[-1][1]:
                ranges[-1][1] = max(ranges[-1][1], p + window)
            else:
                ranges.append([p, p + window])
        covered = set()
        for s, e in ranges:
            covered.update(range(s, e))
        kept = [t for i, t in enumerate(ts) if i not in covered]
        out[d] = {
            "text": " ".join(kept),
            "n_tokens_before": len(ts),
            "n_tokens_removed": len(ts) - len(kept),
            "n_spans_removed": len(ranges),
        }
    return out


def _assert_matches(spark, rows: dict[int, str], window: int):
    df = spark.createDataFrame(
        list(rows.items()), "doc_id long, text string"
    )
    got = {r.doc_id: r.asDict() for r in repeated_span_dedup(df, window=window).collect()}
    want = _py_reference(rows, window)
    assert set(got) == set(want)
    for d in want:
        for k, v in want[d].items():
            assert got[d][k] == v, (d, k, got[d], want[d])


def test_cross_doc_passage_removed_once(spark):
    """A verbatim 6-token passage shared by two docs: the (min doc, min
    pos) occurrence survives, the other loses exactly the covered span."""
    shared = "the quick brown fox jumps high"
    rows = {
        1: f"alpha beta {shared} gamma delta",
        2: f"start {shared} end one two three",
        3: "totally unrelated text with enough tokens here",
    }
    _assert_matches(spark, rows, window=4)
    # and the loser really lost the passage
    df = spark.createDataFrame(list(rows.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in repeated_span_dedup(df, window=4).collect()}
    assert got[1].n_tokens_removed == 0  # winner (min doc)
    assert got[2].n_tokens_removed > 0
    assert "quick brown" not in got[2].text
    assert got[3].n_tokens_removed == 0


def test_intra_doc_repetition_and_overlap_merge(spark):
    """The same window repeated INSIDE one doc dedups too (first
    occurrence wins), and overlapping marked ranges merge greedily."""
    rows = {
        7: "a b c d a b c d a b c d tail words here",
        8: "x y z w distinct filler tokens beyond window",
    }
    _assert_matches(spark, rows, window=4)


def test_short_empty_and_whitespace_docs_pass_through(spark):
    rows = {
        1: "one two three",  # shorter than window
        2: "",
        3: "\t\n  \n ",
        4: "   padded   spacing   text   normalizes   ",
    }
    _assert_matches(spark, rows, window=5)
    df = spark.createDataFrame(list(rows.items()), "doc_id long, text string")
    got = {r.doc_id: r for r in repeated_span_dedup(df, window=5).collect()}
    assert got[2].text == "" and got[2].n_tokens_before == 0
    assert got[3].text == "" and got[3].n_tokens_before == 0
    assert got[4].text == "padded spacing text normalizes"
    for d in rows:
        assert got[d].n_tokens_removed == 0 and got[d].n_spans_removed == 0


def test_matches_reference_on_real_documents(spark, sf_dir):
    """Full-column equality against the Python twin over the real
    documents table (its word-salad docs share many short windows — a
    dense duplicated-window regime)."""
    docs = load_table(spark, sf_dir, "documents")
    rows = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    _assert_matches(spark, rows, window=6)


def test_matches_reference_on_randomized_dense_corpus(spark):
    """Seeded randomized corpus from a 6-word alphabet (dense duplicated-
    window regime: many cross-doc AND intra-doc repeats, chained overlaps,
    winner ties broken only by (doc, pos)) — full-column equality with the
    Python twin. One Spark job; deterministic by seed."""
    import random

    rng = random.Random(20260815)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = {
        d: " ".join(rng.choice(words) for _ in range(rng.randrange(0, 41)))
        for d in range(60)
    }
    _assert_matches(spark, rows, window=5)


def test_matches_duckdb_oracle_twin(spark, sf_dir, duck):
    """Hash-exact cross-engine pin: the DuckDB twin
    (__spark_entry__._span_dedup_oracle_sql) re-derives window occurrences,
    the ROW-min winner, gaps-and-islands range merging and the rebuild,
    here against the library call itself rather than the query wrapper."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = repeated_span_dedup(
        load_table(spark, sf_dir, "documents"), window=8
    ).toPandas()
    odf = duck.execute(entry_mod._span_dedup_oracle_sql(window=8)).df()
    problems = compare("span_dedup", sdf, odf)
    assert not problems, problems


def test_layout_invariance_and_validation(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {
        r.doc_id: tuple(r)
        for r in repeated_span_dedup(docs, window=6).collect()
    }
    b = {
        r.doc_id: tuple(r)
        for r in repeated_span_dedup(
            docs.repartition(13, F.xxhash64("doc_id")), window=6
        ).collect()
    }
    assert a == b
    import pytest

    with pytest.raises(ValueError, match="window"):
        repeated_span_dedup(docs, window=1)
