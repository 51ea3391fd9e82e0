"""Corpus→training-batch operators: clustering, packing, sampling,
normalization, quantiles."""

from __future__ import annotations

from pyspark.sql import Row

from coin_for_rich_spark.llmdata import (
    dedup_clusters,
    hash_sample,
    normalize_text,
    pack_sequences,
    token_quantiles,
)
from coin_for_rich_spark.sources import load_table


def test_dedup_clusters_components(spark):
    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=10, doc_b=11)]
    )
    rows = {r.doc_id: (r.cluster_id, r.cluster_size) for r in dedup_clusters(pairs).collect()}
    assert rows == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}


def test_dedup_clusters_chain_converges(spark):
    # a long path graph needs multiple propagation rounds
    pairs = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(9)])
    rows = dedup_clusters(pairs).collect()
    assert all(r.cluster_id == 0 and r.cluster_size == 10 for r in rows)


def test_dedup_clusters_auto_matches_star_and_label(spark, sf_dir):
    """The r15 size-gated driver union-find ('auto' under the edge budget)
    must produce the identical (doc_id, cluster_id, cluster_size) relation
    as both distributed methods — chains, self-pairs, disjoint components —
    and must route to the distributed star tier past the budget."""
    pairs = spark.createDataFrame(
        [Row(doc_a=i, doc_b=i + 1) for i in range(9)]  # 10-node chain
        + [Row(doc_a=100, doc_b=101), Row(doc_a=7, doc_b=7)]  # + self-pair
    )
    want = sorted(
        map(tuple, dedup_clusters(pairs, method="label").collect())
    )
    got_auto = sorted(map(tuple, dedup_clusters(pairs, method="auto").collect()))
    got_star = sorted(map(tuple, dedup_clusters(pairs, method="star").collect()))
    assert got_auto == want == got_star
    # over-budget: auto degrades to the distributed star tier, same result
    got_big = sorted(
        map(
            tuple,
            dedup_clusters(pairs, method="auto", driver_edge_limit=3).collect(),
        )
    )
    assert got_big == want


def test_pack_sequences_partition_invariant(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, pack_sequences(docs, 512, n_partitions=2).collect()))
    b = sorted(map(tuple, pack_sequences(docs, 512, n_partitions=7).collect()))
    assert a == b and len(a) == docs.count()
    # the packing is a valid prefix layout: cum_before is the running sum
    ordered = sorted(a)
    run = 0
    for _, n_tokens, cum_before, seq_id, seq_offset in ordered:
        assert cum_before == run
        assert seq_id == cum_before // 512
        assert seq_offset == cum_before % 512
        run += n_tokens


def test_hash_sample_is_deterministic_subset(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    s1 = {r.doc_id for r in hash_sample(docs).select("doc_id").collect()}
    s2 = {r.doc_id for r in hash_sample(docs).select("doc_id").collect()}
    assert s1 == s2
    assert 0 < len(s1) < docs.count()
    # two disjoint hex buckets never overlap and together double the draw
    s3 = {r.doc_id for r in hash_sample(docs, hex_chars=("1",)).select("doc_id").collect()}
    assert not (s1 & s3)


def test_hash_sample_and_predicate_share_one_default():
    """hash_sample and hash_sample_predicate must read their default
    geometry from ONE constant: the predicate's complement is only the
    sample's complement while the two defaults agree."""
    import inspect

    from coin_for_rich_spark.llmdata import pipeline

    for fn in (pipeline.hash_sample, pipeline.hash_sample_predicate):
        default = inspect.signature(fn).parameters["hex_chars"].default
        assert default is pipeline._DEFAULT_HEX_CHARS, fn.__name__


def test_normalize_text_canonical_form(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="  Hello\x00\tWorld  THERE ")])
    r = normalize_text(df).first()
    assert r.norm_text == "hello world there"
    assert r.n_chars_removed == len("  Hello\x00\tWorld  THERE ") - len("hello world there")


def test_asof_join_semantics(spark):
    import datetime as dt

    from coin_for_rich_spark.operators import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [
            Row(event_id=1, ts=t(5), user_id=1, value=0.0),   # after r@3 → 30.0
            Row(event_id=2, ts=t(3), user_id=1, value=0.0),   # tie with r@3 → 30.0
            Row(event_id=3, ts=t(1), user_id=1, value=0.0),   # before any → null
            Row(event_id=4, ts=t(9), user_id=2, value=0.0),   # user 2 has no rights
        ]
    )
    right = spark.createDataFrame(
        [Row(user_id=1, ts=t(3), value=30.0), Row(user_id=1, ts=t(7), value=70.0)]
    )
    out = {
        r.event_id: r.v
        for r in asof_join(
            left, right, on=["user_id"], payload={"value": "v"}
        ).collect()
    }
    assert out == {1: 30.0, 2: 30.0, 3: None, 4: None}


def test_asof_join_null_payloads_and_null_right_time(spark):
    """Review-pass pins: a right row whose payload FIELD is genuinely NULL
    must still win as the as-of row (per-column carries stitched fields
    from different right rows), and a NULL right timestamp matches nothing
    (it used to sort NULLS FIRST and leak onto every left row)."""
    import datetime as dt

    from coin_for_rich_spark.operators import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [Row(event_id=1, ts=t(9), user_id=1), Row(event_id=2, ts=t(3), user_id=1)]
    )
    right = spark.createDataFrame(
        [
            Row(user_id=1, ts=t(2), price=10.0, qty=1),
            Row(user_id=1, ts=t(5), price=None, qty=7),   # newest: NULL price
            Row(user_id=1, ts=None, price=99.0, qty=99),  # matches NOTHING
        ]
    )
    out = {
        r.event_id: (r.p, r.q)
        for r in asof_join(
            left, right, on=["user_id"], payload={"price": "p", "qty": "q"}
        ).collect()
    }
    # event 1: the t(5) ROW wins whole — (NULL, 7), never (10.0, 7)
    assert out[1] == (None, 7)
    # event 2 (ts=t(3)): only t(2) is at-or-before — the NULL-ts row's
    # payload must not leak onto it as a spurious "match"
    assert out[2] == (10.0, 1)
    # aliases named like reserved internals fail up front, not mid-plan
    import pytest

    with pytest.raises(ValueError, match="reserved"):
        asof_join(left, right, on=["user_id"], payload={"price": "_t"})


def test_scrub_text_redacts_and_counts(spark):
    from coin_for_rich_spark.llmdata import scrub_text

    df = spark.createDataFrame(
        [Row(doc_id=1, text="mail a@b.com or https://x.io/p?q=1 code 12345678 ok")]
    )
    r = scrub_text(df).first()
    assert r.scrubbed_text == "mail <EMAIL> or <URL> code <NUM> ok"
    assert (r.n_email, r.n_url, r.n_num) == (1, 1, 1)


def test_chunk_documents_spans(spark):
    from coin_for_rich_spark.llmdata import chunk_documents

    text = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    rows = sorted(
        (r.chunk_id, r.tok_start, r.n_chunk_tokens)
        for r in chunk_documents(df, chunk_tokens=128, stride=64).collect()
    )
    assert rows == [(0, 0, 128), (1, 64, 86), (2, 128, 22)]
    full = chunk_documents(df, chunk_tokens=128, stride=64).filter("chunk_id = 0").first()
    assert full.chunk_text.split() == [f"w{i}" for i in range(128)]


def test_token_quantiles_match_numpy(spark, sf_dir):
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    counts = [len(r.text.strip().split()) for r in docs.select("text").collect()]
    r = token_quantiles(docs).first()
    assert r.p50 == round(float(np.percentile(counts, 50)), 4)
    assert r.p90 == round(float(np.percentile(counts, 90)), 4)
    assert r.approx_ok


def test_dedup_clusters_raises_on_nonconvergence(spark):
    import pytest

    # diameter 9 cannot converge in a single propagation round
    pairs = spark.createDataFrame([Row(doc_a=i, doc_b=i + 1) for i in range(9)])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(pairs, max_iter=1)


def test_asof_join_rejects_name_collisions(spark):
    import datetime as dt

    import pytest

    from coin_for_rich_spark.operators import asof_join

    t = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame([Row(k=1, ts=t, value=1.0)])
    right = spark.createDataFrame([Row(k=1, ts=t, price=2.0)])
    # payload alias equal to an existing left column
    with pytest.raises(ValueError, match="payload aliases collide"):
        asof_join(left, right, on=["k"], payload={"price": "value"})
    # input column named like a reserved internal
    left_bad = spark.createDataFrame([Row(k=1, ts=t, _src=0)])
    with pytest.raises(ValueError, match="reserved internal"):
        asof_join(left_bad, right, on=["k"], payload={"price": "p"})
    # duplicate aliases
    right2 = spark.createDataFrame([Row(k=1, ts=t, price=2.0, qty=3.0)])
    with pytest.raises(ValueError, match="duplicate payload aliases"):
        asof_join(left, right2, on=["k"], payload={"price": "x", "qty": "x"})


def test_cc_star_equals_label_propagation(spark):
    """Large-star/small-star components must equal min-label propagation on
    assorted graph shapes (chains, cliques, stars, random), including a
    chain whose diameter far exceeds the star method's round count."""
    import random

    from coin_for_rich_spark.llmdata import dedup_clusters

    shapes = []
    # long chain (diameter 40)
    shapes.append([(i, i + 1) for i in range(40)])
    # two cliques + a bridge + isolated pair
    clique = [(a, b) for a in range(100, 105) for b in range(100, 105) if a < b]
    clique += [(a, b) for a in range(200, 204) for b in range(200, 204) if a < b]
    clique += [(104, 200), (300, 301)]
    shapes.append(clique)
    for seed in (1, 2, 3):
        rng = random.Random(seed)
        shapes.append(
            [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
        )
    for pairs_list in shapes:
        pairs_list = [(a, b) for a, b in pairs_list if a != b]
        pairs = spark.createDataFrame(pairs_list, "doc_a long, doc_b long")
        label = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(pairs).collect()
        }
        star = {
            r.doc_id: (r.cluster_id, r.cluster_size)
            for r in dedup_clusters(pairs, method="star").collect()
        }
        assert star == label


def test_stratified_hash_sample(spark, sf_dir):
    """Per-stratum rates land near target, draws are deterministic, and
    shrinking a rate yields a nested subset."""
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata import doc_langid, stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    lang = docs.join(doc_langid(docs).select("doc_id", "pred_lang"), "doc_id")
    fr = {"en": 0.5, "es": 0.25, "de": 0.0}
    s1 = stratified_hash_sample(lang, "pred_lang", fr)
    s2 = stratified_hash_sample(lang, "pred_lang", fr)
    ids1 = {r.doc_id for r in s1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in s2.select("doc_id").collect()}
    assert ids1 == ids2
    totals = {r.pred_lang: r["count"] for r in lang.groupBy("pred_lang").count().collect()}
    got = {r.pred_lang: r["count"] for r in s1.groupBy("pred_lang").count().collect()}
    assert "de" not in got
    for lg, f in (("en", 0.5), ("es", 0.25)):
        if totals.get(lg, 0) >= 20:
            assert abs(got.get(lg, 0) / totals[lg] - f) < 0.2, lg
    # nesting: halving a rate selects a subset of the fuller draw
    smaller = {
        r.doc_id
        for r in stratified_hash_sample(lang, "pred_lang", {"en": 0.25})
        .select("doc_id").collect()
    }
    fuller = {
        r.doc_id
        for r in stratified_hash_sample(lang, "pred_lang", {"en": 0.5})
        .select("doc_id").collect()
    }
    assert smaller <= fuller


def test_domain_mix_fractions_arithmetic():
    from coin_for_rich_spark.llmdata import domain_mix_fractions

    counts = {"a": 100, "b": 10, "c": 50}
    # total=160, target 0.25 -> 40 sampled rows; a: 40*0.5/100=0.2,
    # b: 40*0.4/10=1.6 -> clamped to 1.0 (no upsampling), d: absent -> dropped
    fr = domain_mix_fractions(
        counts, {"a": 0.5, "b": 0.4, "d": 0.1}, 0.25
    )
    assert fr["a"] == 160 * 0.25 * 0.5 / 100
    assert fr["b"] == 1.0
    assert "c" not in fr and "d" not in fr


def test_domain_mix_sample_hits_targets_and_nests(spark, sf_dir):
    import math

    from coin_for_rich_spark.llmdata import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    weights = {"src0": 0.3, "src1": 0.25, "src2": 0.2, "src3": 0.15, "src4": 0.1}
    total = docs.count()
    counts = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    s = domain_mix_sample(docs, "source", weights, 0.1)
    got = {r[0]: r[1] for r in s.groupBy("source").count().collect()}
    assert set(got) <= set(weights)  # unweighted domains excluded
    for d, w in weights.items():
        if d not in counts:
            continue
        expect = min(counts[d], total * 0.1 * w)
        # md5 draw ~ binomial(n_d, frac): allow 4 sigma + 1
        tol = 4 * math.sqrt(max(expect, 1.0)) + 1
        assert abs(got.get(d, 0) - expect) <= tol, (d, got.get(d, 0), expect)
    # nesting: a smaller overall target draws a subset of the fuller mix
    smaller = {r[0] for r in domain_mix_sample(docs, "source", weights, 0.05)
               .select("doc_id").collect()}
    fuller = {r[0] for r in s.select("doc_id").collect()}
    assert smaller <= fuller


def test_temperature_mix_weights_rule_and_composition(spark, sf_dir):
    """q_d ∝ p_d^α: α=1 reproduces the natural mix, α=0 is uniform, and
    intermediate α strictly flattens head-vs-tail ratios; the weights
    compose with domain_mix_sample into a valid draw."""
    import math

    import pytest

    from coin_for_rich_spark.llmdata import (
        domain_mix_sample,
        temperature_mix_weights,
    )

    counts = {"head": 8000, "mid": 1500, "tail": 500}
    total = sum(counts.values())
    nat = temperature_mix_weights(counts, 1.0)
    for d, n in counts.items():
        assert math.isclose(nat[d], n / total)
    uni = temperature_mix_weights(counts, 0.0)
    assert all(math.isclose(v, 1 / 3) for v in uni.values())
    t = temperature_mix_weights(counts, 0.3)
    # flattening: head/tail ratio shrinks but ordering is preserved
    assert 1 < t["head"] / t["tail"] < counts["head"] / counts["tail"]
    assert t["head"] > t["mid"] > t["tail"]
    assert math.isclose(sum(t.values()), 1.0)
    # zero-count domains drop; negative temperature rejected
    assert "z" not in temperature_mix_weights({"a": 1, "z": 0}, 0.5)
    with pytest.raises(ValueError, match="alpha"):
        temperature_mix_weights(counts, -0.1)
    assert temperature_mix_weights({}, 0.5) == {}

    # composition over the real corpus: the α-flattened draw keeps MORE of
    # the smallest domain and LESS of the largest than the natural draw
    docs = load_table(spark, sf_dir, "documents")
    real = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    big = max(real, key=real.get)
    small = min(real, key=real.get)
    if real[big] > real[small]:  # testdata has a skewed source mix
        flat = domain_mix_sample(
            docs, "source", temperature_mix_weights(real, 0.3), 0.2
        )
        natural = domain_mix_sample(
            docs, "source", temperature_mix_weights(real, 1.0), 0.2
        )
        fcounts = {r[0]: r[1] for r in flat.groupBy("source").count().collect()}
        ncounts = {r[0]: r[1] for r in natural.groupBy("source").count().collect()}
        assert fcounts.get(small, 0) >= ncounts.get(small, 0)
        assert fcounts.get(big, 0) <= ncounts.get(big, 0)


def test_epoch_shuffle_is_layout_invariant_and_seeded(spark):
    from coin_for_rich_spark.llmdata import epoch_shuffle

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    def order_of(df, seed):
        rows = epoch_shuffle(df, n_shards=4, seed=seed).collect()
        return sorted((r.shard, r.ord, r.doc_id) for r in rows)

    base = order_of(docs, seed=1)
    # identical under any physical input layout
    assert order_of(docs.repartition(13), seed=1) == base
    assert order_of(docs.coalesce(1), seed=1) == base
    # a different seed is a different permutation
    other = order_of(docs, seed=2)
    assert [d for *_x, d in base] != [d for *_x, d in other]
    # same multiset of docs either way, shards reasonably balanced
    assert sorted(d for *_x, d in base) == list(range(200))
    from collections import Counter
    sizes = Counter(s for s, *_x in base)
    assert set(sizes) == {0, 1, 2, 3} and max(sizes.values()) < 200

    import pytest as _pytest
    with _pytest.raises(ValueError, match="n_shards"):
        epoch_shuffle(docs, 0)


def test_epoch_shuffle_composes_with_bpe_packing(spark):
    """The training-prep chain: BPE-tokenize → epoch-shuffle → pack — the
    composition every pretraining pipeline runs, end to end."""
    from coin_for_rich_spark.llmdata import (
        encode_bpe,
        epoch_shuffle,
        pack_sequences,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [(i, "pack these tokens tightly " * (i % 3 + 1)) for i in range(20)],
        "doc_id long, text string",
    )
    model = train_bpe(docs, n_merges=8, strategy="driver", min_pair_count=1)
    toks = encode_bpe(docs, model)
    shuffled = epoch_shuffle(toks.join(docs, "doc_id"), n_shards=2, seed=3)
    # pack by the SHUFFLED epoch order: re-key ids by (shard, ord)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    packed = pack_sequences(
        shuffled.select(
            F.dense_rank().over(Window.orderBy("shard", "ord")).alias("epoch_pos"),
            F.col("text"),
        ),
        budget=32,
        id_col="epoch_pos",
    )
    rows = packed.collect()
    assert len(rows) == 20
    assert all(r.seq_id >= 0 for r in rows)


def test_span_corruption_structure_and_determinism(spark):
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata import span_corruption

    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}w{j}" for j in range(40))) for i in range(30)],
        "doc_id long, text string",
    )
    out = span_corruption(docs, density=0.3, span_len=3, seed=5)
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == set(range(30))
    total_masked = 0
    for i, r in rows.items():
        words = [f"t{i}w{j}" for j in range(40)]
        # target = sentinels + masked tokens, ends with the closing sentinel
        assert r.target_tokens[-1].startswith("<extra_id_")
        sentinels_in = [t for t in r.input_tokens if t.startswith("<extra_id_")]
        sentinels_tgt = [t for t in r.target_tokens if t.startswith("<extra_id_")]
        # input sentinels are numbered 0.. in order, target repeats them + closer
        assert sentinels_in == [f"<extra_id_{k}>" for k in range(len(sentinels_in))]
        assert sentinels_tgt[:-1] == sentinels_in
        assert sentinels_tgt[-1] == f"<extra_id_{len(sentinels_in)}>"
        # reconstruction: splice target spans back into input = original
        spans = {}
        cur = None
        for t in r.target_tokens[:-1]:
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in r.input_tokens:
            rebuilt.extend(spans[t] if t.startswith("<extra_id_") else [t])
        assert rebuilt == words, i
        assert r.n_masked == sum(len(v) for v in spans.values())
        total_masked += r.n_masked
    # density lands near the target over the corpus (30×40 tokens)
    assert 0.15 < total_masked / (30 * 40) < 0.45

    # deterministic across runs and input layouts; new seed → new mask
    again = {r.doc_id: r for r in span_corruption(
        docs.repartition(7), density=0.3, span_len=3, seed=5
    ).collect()}
    assert all(
        (rows[i].input_tokens, rows[i].target_tokens)
        == (again[i].input_tokens, again[i].target_tokens)
        for i in rows
    )
    other = {r.doc_id: r for r in span_corruption(
        docs, density=0.3, span_len=3, seed=6
    ).collect()}
    assert any(rows[i].input_tokens != other[i].input_tokens for i in rows)


def test_span_corruption_edges(spark):
    import pytest as _pytest

    from coin_for_rich_spark.llmdata import span_corruption

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in span_corruption(docs, density=0.0).collect()}
    # density 0: nothing masked, input = tokens, target = closing sentinel
    assert rows[0].input_tokens == ["a", "b", "c"]
    assert rows[0].n_masked == 0 and rows[0].target_tokens == ["<extra_id_0>"]
    assert rows[1].input_tokens == [] and rows[1].n_masked == 0
    full = {r.doc_id: r for r in span_corruption(docs, density=1.0).collect()}
    # density 1: everything masked into one run
    assert full[0].input_tokens == ["<extra_id_0>"]
    assert full[0].target_tokens == ["<extra_id_0>", "a", "b", "c", "<extra_id_1>"]
    with _pytest.raises(ValueError, match="density"):
        span_corruption(docs, density=1.5)
    with _pytest.raises(ValueError, match="span_len"):
        span_corruption(docs, span_len=0)


def test_token_count_empty_text_is_zero(spark):
    from coin_for_rich_spark.llmdata import pack_sequences

    docs = spark.createDataFrame(
        [(0, "two tokens"), (1, ""), (2, "   "), (3, "one")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pack_sequences(docs, budget=8).collect()}
    assert rows[1].n_tokens == 0 and rows[2].n_tokens == 0
    # the empty docs contribute nothing to the prefix sum
    assert rows[3].cum_before == 2


def test_text_tier_edge_and_composition_hardening(spark):
    """Review-pass pins for the text tier: NULL/empty text never crashes or
    phantom-counts; the stratified draw is independent of the holdout draw;
    non-Latin text is not 'punctuation'; lexicon matching sees through case
    and edge punctuation; mean_word_len comes from token lengths."""
    import pytest

    from coin_for_rich_spark.llmdata import (
        chunk_documents,
        doc_profile,
        hash_sample,
        pack_sequences,
        stratified_hash_sample,
    )
    from coin_for_rich_spark.llmdata.quality import train_char_lm

    df = spark.createDataFrame(
        [
            (0, "plain english words here"),
            (1, None),
            (2, "   "),
            (3, "El perro. La casa. Los gatos."),
            (4, "съешь же ещё этих мягких булок"),
            (5, " a  b "),
        ],
        "doc_id long, text string",
    )
    prof = {r.doc_id: r for r in doc_profile(df).collect()}
    # NULL/empty: zero tokens, never -1 or a phantom token
    assert prof[1].n_tokens == 0 and prof[2].n_tokens == 0
    assert prof[2].top_token_frac == 0.0
    # capitalized + punctuation-glued Spanish markers now score
    assert prof[3].score_es >= 3 and prof[3].pred_lang == "es"
    # Cyrillic prose is NOT punctuation-heavy
    assert prof[4].n_punct == 0 and prof[4].quality_bucket != "punct_heavy"
    # mean word length from tokens: ' a  b ' -> two 1-char tokens
    assert prof[5].mean_word_len == 1.0
    # chunking: no phantom chunks, no crash on NULL
    chunks = chunk_documents(df, chunk_tokens=4, stride=4)
    ids = {r.doc_id for r in chunks.collect()}
    assert 1 not in ids and 2 not in ids and 0 in ids
    # packing survives NULL-text rows with a clean 0 count
    packed = {r.doc_id: r.n_tokens for r in pack_sequences(df, 8).collect()}
    assert packed[1] == 0 and packed[2] == 0
    # stratified draw is INDEPENDENT of the holdout draw: sampling a
    # hash-held-out split at rate f actually draws ~f, not 0%/100%
    wide = spark.createDataFrame(
        [(i, "x", "s") for i in range(4000)], "doc_id long, text string, src string"
    )
    hold = hash_sample(wide)  # conditions md5 hex digit 1
    n_hold = hold.count()
    n_draw = stratified_hash_sample(hold, "src", {"s": 0.25}).count()
    assert 0.15 * n_hold < n_draw < 0.35 * n_hold, (n_hold, n_draw)
    with pytest.raises(ValueError, match="alpha"):
        train_char_lm(df.filter("text IS NOT NULL"), alpha=0.0)


def test_span_corruption_matches_duckdb_xxh64_twin(spark, sf_dir, duck):
    """The full span-corruption contract vs its first-principles DuckDB
    twin: closed-form XXH64 over the (doc_id, block, seed) chain, run
    numbering, sentinel interleave, ordered reassembly and the closing
    sentinel."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_span_corruption(spark, sf_dir).toPandas()
    odf = duck.execute(entry_mod._span_corruption_oracle_sql()).df()
    problems = compare("span_corruption", sdf, odf)
    assert not problems, problems
