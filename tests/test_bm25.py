"""BM25 retrieval (llmdata/bm25.py): a pure-Python formula oracle on a
planted corpus, tie-break determinism, salted/unsalted equivalence, edge
cases, and the plan contract. Each row's DuckDB twin is checked in
test_oracle_parity.py."""

from __future__ import annotations

import math

import pytest

from coin_for_rich_spark.llmdata.bm25 import bm25_index, bm25_topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _queries(spark, rows):
    return spark.createDataFrame(rows, "query_id bigint, text string")


# ------------------------------------------------------------- formula


def _py_bm25(corpus, query_terms, k1=1.2, b=0.75):
    """Independent scalar reference: Lucene-variant BM25 over a token
    corpus ({doc_id: [terms]})."""
    n = len(corpus)
    dls = {d: len(t) for d, t in corpus.items()}
    avgdl = float(sum(dls.values())) / float(n)
    df = {}
    for terms in corpus.values():
        for t in set(terms):
            df[t] = df.get(t, 0) + 1
    out = {}
    for d, terms in corpus.items():
        s = 0.0
        matched = 0
        for t in set(query_terms):
            tf = terms.count(t)
            if tf == 0 or t not in df:
                continue
            matched += 1
            idf = math.log(
                1.0 + ((float(n) - float(df[t])) + 0.5) / (df[t] + 0.5)
            )
            s += idf * (
                (tf * (k1 + 1.0))
                / (tf + k1 * ((1.0 - b) + b * (dls[d] / avgdl)))
            )
        if matched:
            out[d] = (round(s, 6), matched)
    return out


def test_bm25_matches_python_reference(spark):
    """Planted corpus with rare/common terms, repeated terms (tf > 1),
    and length variation — engine scores equal the scalar reference to
    the emitted 6-decimal grid."""
    corpus = {
        1: "apple banana cherry apple",
        2: "apple apple apple apple apple apple apple apple",
        3: "banana date elderberry fig grape honeydew",
        4: "cherry cherry date",
        5: "kiwi lemon mango nectarine orange papaya quince raspberry",
    }
    idx = bm25_index(
        _docs(spark, [(d, t) for d, t in corpus.items()])
    )
    got = {
        r["doc_id"]: (r["score"], r["n_terms_matched"])
        for r in bm25_topk(
            idx, _queries(spark, [(7, "apple cherry")]), k=10
        ).collect()
    }
    want = _py_bm25(
        {d: t.split() for d, t in corpus.items()}, ["apple", "cherry"]
    )
    assert set(got) == set(want)
    for d in want:
        assert got[d][1] == want[d][1]
        assert got[d][0] == pytest.approx(want[d][0], abs=2e-6)
    # doc 1 matches both terms; doc 2 is pure tf saturation on one term
    assert got[1][1] == 2 and got[2][1] == 1


def test_bm25_rank_deterministic_on_ties(spark):
    """Structurally identical docs score EXACTLY equal — rank must break
    by doc_id ascending, and k must cut reproducibly."""
    rows = [(i, "same tokens here") for i in range(1, 7)]
    rows.append((99, "different stuff entirely"))
    idx = bm25_index(_docs(spark, rows))
    out = bm25_topk(
        idx, _queries(spark, [(1, "same tokens")]), k=4
    ).collect()
    assert [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])] == [
        1, 2, 3, 4,
    ]
    assert len({r["score"] for r in out}) == 1


def test_bm25_salted_equals_unsalted(spark):
    """The salted two-phase top-k is a pure execution strategy: same
    result set as the plain window (topn_per_key contract, pinned here
    on real scores)."""
    rows = [
        (i, f"alpha beta gamma token{i % 5} token{i % 3}")
        for i in range(1, 40)
    ]
    idx = bm25_index(_docs(spark, rows))
    qs = _queries(spark, [(1, "alpha token1"), (2, "beta token2")])
    from coin_for_rich_spark.operators.windowed import topn_per_key
    from pyspark.sql import functions as F

    # recompute the scored relation via the module, then run both
    # strategies over it
    scored = bm25_topk(idx, qs, k=10**6).drop("rank")
    a = topn_per_key(
        scored, ["query_id"],
        [F.col("score").desc(), F.col("doc_id").asc()], 5, salted=False,
    )
    b = topn_per_key(
        scored, ["query_id"],
        [F.col("score").desc(), F.col("doc_id").asc()], 5, salted=True,
    )
    key = lambda r: (r["query_id"], r["doc_id"])  # noqa: E731
    assert sorted(map(key, a.collect())) == sorted(map(key, b.collect()))


def test_bm25_edges(spark):
    """Empty docs count in N/avgdl but never match; empty or
    no-vocabulary queries return nothing; k validates."""
    idx = bm25_index(
        _docs(spark, [(1, "real words here"), (2, ""), (3, "   ")])
    )
    assert idx.n_docs == 3
    assert idx.avgdl == pytest.approx(1.0)  # 3 terms / 3 docs
    qs = _queries(
        spark, [(1, "real"), (2, ""), (3, "unseen vocabulary")]
    )
    out = bm25_topk(idx, qs, k=3).collect()
    assert {r["query_id"] for r in out} == {1}
    assert [r["doc_id"] for r in out] == [1]
    with pytest.raises(ValueError, match="k must be"):
        bm25_topk(idx, qs, k=0)


def test_bm25_terms_are_normalized(spark):
    """'Apple,' and 'apple' are the same term (match_tokens semantics:
    lowercase + edge punctuation strip), so dl/df/tf count normalized
    terms."""
    idx = bm25_index(_docs(spark, [(1, "Apple, apple APPLE.")]))
    p = idx.postings.collect()
    assert len(p) == 1
    assert p[0]["term"] == "apple" and p[0]["tf"] == 3
    assert p[0]["dl"] == 3


# ------------------------------------------------------------ keywords


def test_tfidf_keywords_formula_and_ties(spark):
    """tf·idf ranks the doc-specific rare term over the corpus-wide
    common one; equal (tf, df) profiles tie and break by term asc."""
    from coin_for_rich_spark.llmdata.bm25 import tfidf_keywords

    rows = [
        (1, "common zebra common common"),
        (2, "common common yak xylophone"),
        (3, "common filler other words"),
    ]
    out = tfidf_keywords(bm25_index(_docs(spark, rows)), top_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    top1 = {
        d: min(rs, key=lambda r: r["rank"])["term"]
        for d, rs in by_doc.items()
    }
    assert top1[1] == "zebra"  # df=1 beats tf=3 of the df=3 term
    # doc 2: 'xylophone' and 'yak' both (tf=1, df=1) — exact tie, term asc
    d2 = sorted(by_doc[2], key=lambda r: r["rank"])
    assert [r["term"] for r in d2] == ["xylophone", "yak"]
    assert d2[0]["score"] == d2[1]["score"]
    with pytest.raises(ValueError, match="top_n"):
        tfidf_keywords(bm25_index(_docs(spark, rows)), top_n=0)


# ---------------------------------------------------------------- plan


def test_bm25_plan_broadcasts_queries_not_corpus(spark, sf_dir):
    """100 TB posture pin: the query side reaches the postings through
    BroadcastHashJoin (the corpus is never reshuffled for a query
    batch), and no sort-merge join appears anywhere."""
    from tests.pinned_rows import q_bm25_topk

    plan = (
        q_bm25_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Python" not in plan and "ArrowEval" not in plan, plan
