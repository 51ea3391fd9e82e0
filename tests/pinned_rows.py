"""Pinned rows: every checked query that is not in the driver's 50-row gate.

``__spark_entry__.queries()`` / ``oracle_sql()`` hold only the rows the
driver runs. The rows here were declared once and rotated out, or were
proven as swap-in candidates and never declared. Each keeps its DuckDB
twin, and ``tests/test_oracle_parity.py::test_pinned_row_matches_oracle``
checks every entry of ``pinned_oracle_sql()`` against its row with the
gate's own ``selfcheck.compare``. ``simhash_pairs`` has no twin: its
engine-side completeness contract is checked in tests/test_llmdata.py.

A row that swaps into the gate moves from this file back into
``queries()`` and ``oracle_sql()``, and its COVERAGE.md entry says which
declared row it replaced.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from __spark_entry__ import (
    HOURLY,
    REVENUE_DEC,
    _STREAM_STATE_PARTITIONS,
    _U64,
    _XXH_P1,
    _XXH_P2,
    _XXH_P3,
    _XXH_P4,
    _XXH_P5,
    _staged_stream,
    _stream_rollup_oracle_sql,
    _u64_add,
    _u64_mix,
    _u64_mul,
    _u64_rotl,
    q_stream_rollup,
)
from coin_for_rich_spark.llmdata import (
    attach_real_media,
    decode_media_stats,
    epoch_shuffle,
    explode_token_segments,
    hash_sample,
    knn_join,
    scrub_text,
    simhash_pairs,
)
from coin_for_rich_spark.operators import count_distinct_pairs, detect_gaps
from coin_for_rich_spark.sources import load_table
from coin_for_rich_spark.streaming import candle_stream, streaming_ohlcv_rollup


def q_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — LEAD-based gap detection (queries.py:54-61), 12h threshold."""
    ev = load_table(spark, sf_dir, "events")
    return detect_gaps(ev, ["user_id"], "ts", min_gap_seconds=43200)


def q_doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise redaction pass + per-doc audit counts."""
    return scrub_text(load_table(spark, sf_dir, "documents"))


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — count distinct tuple (select_queries.sql:215-218) per group, with
    the 100 TB fast path declared alongside as an oracle-checkable accuracy
    property: the HLL sketch estimate (approx_count_distinct — one pass,
    bounded memory, a fraction of the exact two-phase distinct's shuffle)
    must land within ±5% of the hash-checked exact count. Sketch values
    themselves differ across engines, so the oracle checks the exact values
    plus the *contract* on the sketch, not the sketch bits."""
    li = load_table(spark, sf_dir, "lineitem")
    exact = count_distinct_pairs(
        li, ["l_partkey", "l_suppkey"], ["l_returnflag"]
    ).withColumnRenamed("n_distinct", "n_exact")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct(
            F.concat_ws("|", "l_partkey", "l_suppkey"), 0.02
        ).alias("n_approx")
    )
    return (
        exact.join(approx, "l_returnflag")
        .select(
            "l_returnflag",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= 0.05 * F.col("n_exact")
            ).alias("approx_ok"),
        )
        .orderBy("l_returnflag")
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — left outer join decorating the fact with a dimension
    (aggregations.sql:32-35 analog), aggregated per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .groupBy("p_brand")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle (llmdata.pipeline.epoch_shuffle):
    shard + order key as a pure function of (doc_id, seed) — layout- and
    cluster-size-invariant by construction. The oracle recomputes Spark's
    exact xxhash64 chain (XXH64 of the 8-byte id seeded 42, re-seeding the
    4-byte literal's hash) in DuckDB via the closed form for fixed-width
    input, then the same pmod — every ord and shard value is hash-exact,
    not a property. The layout-invariance property itself stays pinned in
    tests/test_pipeline.py. Replaced the former ``embed_knn`` row (r6→r7
    surface swap, COVERAGE.md): brute cosine top-k remains certified by
    ``embed_knn_join``'s exact every-row ranking vs the full DuckDB
    pairwise oracle (a gate row r7-r13, pinned here since) and keeps
    executing inside ``embed_ann_lsh`` / ``embed_ann_ivf`` as their recall
    truth set.

    Out of the gate since r10 (swapped for ``leakage_split``); the layout
    half ships in ``write_epoch_shards`` (tests/test_splits.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, n_shards=8, seed=7).select("doc_id", "shard", "ord")


# the brute-force property twin runs on this deterministic md5 prefix sample
# (4/16 of docs → 1/16 of the all-pairs work) — the pigeonhole guarantee is
# per-pair, so a sampled check is a valid property, and the quadratic scan
# never touches the full corpus
_SIMHASH_SAMPLE_CHARS = ("0", "1", "2", "3")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-≤3 pairs via chunk pigeonhole banding, declared as the
    oracle-checkable completeness property: pigeonhole banding (4 chunks,
    distance < 4) provably finds every pair the all-pairs brute-force scan
    finds — so n_missing and n_extra must be exactly 0. The banded (scale)
    plan runs on the FULL corpus; the quadratic brute twin runs only on a
    deterministic hash sample and is compared against the banded pairs whose
    endpoints both fall in the sample — the per-pair guarantee makes the
    sampled check exactly as binding, without an unconditioned all-pairs
    join anywhere in the declared plan. The raw pair listing is the
    operator's API, value-checked (including full-corpus brute parity at
    test scale) in tests/test_llmdata.py."""
    from coin_for_rich_spark.llmdata.dedup import simhash_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # one persisted fingerprint relation feeds both methods and both
    # anti-joins — without it the 64-column signature agg runs ~6×
    fp = simhash_fingerprints(docs).persist()
    banded = simhash_pairs(docs, max_hamming=3, fingerprints=fp).select(
        "doc_a", "doc_b"
    ).persist()
    fp_sample = hash_sample(fp, id_col="doc", hex_chars=_SIMHASH_SAMPLE_CHARS)
    brute = simhash_pairs(
        docs, max_hamming=3, method="brute", fingerprints=fp_sample
    ).select("doc_a", "doc_b").persist()

    def _in_sample(c: str):
        return F.substring(F.md5(F.col(c).cast("string")), 1, 1).isin(
            *_SIMHASH_SAMPLE_CHARS
        )

    banded_sampled = banded.filter(_in_sample("doc_a") & _in_sample("doc_b"))
    banded.count(), brute.count()  # materialize each side exactly once
    n_missing = brute.join(
        banded_sampled, ["doc_a", "doc_b"], "left_anti"
    ).count()
    n_extra = banded_sampled.join(brute, ["doc_a", "doc_b"], "left_anti").count()
    return spark.createDataFrame(
        [(n_missing == 0 and n_extra == 0, n_missing, n_extra)],
        "pigeonhole_exact boolean, n_missing bigint, n_extra bigint",
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style domain-targeted selection (Xie et al., NeurIPS 2023;
    llmdata/dsir.py): hashed unigram+bigram bucket models (B=4096) fit on
    the en/non-en split of the pool, add-one-smoothed log importance
    ratios, per-doc DECIMAL-routed weight sums, and the deterministic
    top-200 non-target selection (TakeOrdered, no global sort). Output
    weight and ordering key are the 6-decimal-rounded ``logw6`` — the
    quality tier's ce6 convention for cross-engine double parity."""
    from coin_for_rich_spark.llmdata.dsir import dsir_select

    return dsir_select(
        load_table(spark, sf_dir, "documents"),
        F.col("lang") == "en",
        top_k=200,
    )


def _dsir_select_oracle_sql() -> str:
    """DuckDB twin of ``q_dsir_select`` — re-derives the bucket models
    (same md5-prefix bucket hash), the smoothed log ratios (libm ln ==
    the engine's driver-side math.log bit-for-bit), and the per-occurrence
    decimal sum. The double→decimal cast goes THROUGH VARCHAR to replicate
    Spark's shortest-repr cast semantics; the final round(…, 6) absorbs
    the scale-18 rounding-mode residue (quality_score's ce6 pattern)."""
    return r"""
        WITH toks AS (
            SELECT doc_id, (lang = 'en') AS is_t,
                   CASE WHEN length(trim(text)) > 0
                        THEN regexp_split_to_array(trim(text), '\s+')
                        ELSE [] END AS tk
            FROM documents
        ),
        gr AS (
            SELECT doc_id, is_t,
                   list_concat(tk,
                       list_transform(range(1, greatest(len(tk), 1)),
                           i -> tk[i] || ' ' || tk[i+1])) AS grams
            FROM toks
        ),
        occ AS (
            SELECT doc_id, is_t,
                   ('0x' || substr(md5(g), 1, 15))::BIGINT % 4096 AS bucket
            FROM gr, unnest(grams) AS t(g)
        ),
        counts AS (
            SELECT bucket,
                   sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                   sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
            FROM occ GROUP BY 1
        ),
        tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM counts),
        model AS (
            SELECT bucket,
                   ln((ct + 1.0) / (CAST(t_tot AS DOUBLE) + 4096.0))
                   - ln((cr + 1.0) / (CAST(r_tot AS DOUBLE) + 4096.0))
                       AS logratio
            FROM counts, tot
        ),
        scored AS (
            SELECT o.doc_id, count(*) AS n_feats,
                   round(CAST(sum(CAST(CAST(m.logratio AS VARCHAR)
                                       AS DECIMAL(38,18))) AS DOUBLE),
                         6) AS logw6
            FROM occ o JOIN model m USING (bucket)
            GROUP BY 1
        )
        SELECT doc_id, n_feats, logw6,
               row_number() OVER (ORDER BY logw6 DESC, doc_id) AS rank
        FROM scored s JOIN toks USING (doc_id)
        WHERE NOT is_t
        ORDER BY logw6 DESC, doc_id LIMIT 200
    """


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup — semantic dedup in embedding space (Abbas et al. 2023;
    llmdata/semdedup.py): hash-ranked centroids (k=8), per-vector cell
    assignment + centroid cosine on the INT8 code tier (every dot an
    exact integer — the embed_neardup convention), ascending-centroid-
    cosine keep ranking, and within-cell dominance at tau=0.45 via the
    blocked-GEMM pair kernel. The oracle re-derives ALL of it: the XXH64
    closed form ranks the same centroid ids, the same clamped/unclamped
    norm split reproduces every cosine, and the keep flag is the same
    EXISTS over higher-ranked same-cell neighbours."""
    from coin_for_rich_spark.llmdata.semdedup import semdedup

    return semdedup(
        load_table(spark, sf_dir, "embeddings"), n_clusters=8, tau=0.45
    )


def _semdedup_oracle_sql(n_clusters: int = 8, tau: float = 0.45) -> str:
    """DuckDB twin of ``q_semdedup`` — full value re-derivation: int8
    codes (embed_neardup's quantize arithmetic), centroid ids via the
    XXH64-of-bigint closed form (hashLong(vec_id, 42), the same chain the
    epoch-shuffle twin pins), assignment cosine with the CLAMPED row norm
    (`_nearest_centroid_expr`'s 1e-150 guard) and python-`or` centroid
    norm fallback, pair cosine with UNCLAMPED norms (the verify fold),
    and the rank/dominance relations."""
    init = (42 + _XXH_P5 + 8) & _U64
    fmix = [
        _u64_mix(33),
        _u64_mul(_XXH_P2),
        _u64_mix(29),
        _u64_mul(_XXH_P3),
        _u64_mix(32),
    ]
    steps = [
        _u64_mul(_XXH_P2),
        _u64_rotl(31),
        _u64_mul(_XXH_P1),
        f"xor({init}::UBIGINT, v)",
        _u64_rotl(27),
        _u64_mul(_XXH_P1),
        _u64_add(_XXH_P4),
        *fmix,
    ]
    ctes = [
        "x0 AS (SELECT vec_id, CAST(vec_id AS UBIGINT) AS v FROM embeddings)"
    ]
    for i, expr in enumerate(steps, 1):
        ctes.append(f"x{i} AS (SELECT vec_id, {expr} AS v FROM x{i - 1})")
    xxh = ",\n            ".join(ctes)
    return f"""
        WITH {xxh},
        hord AS (
            SELECT vec_id,
                   CASE WHEN v >= 9223372036854775808::UBIGINT
                        THEN (v::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                        ELSE v::BIGINT END AS ord
            FROM x{len(steps)}
        ),
        q AS (
            SELECT vec_id, embedding::DOUBLE[] AS v0,
                   greatest(list_max(list_transform(
                       embedding::DOUBLE[], x -> abs(x))) / 127.0,
                       1e-30) AS scale
            FROM embeddings
        ),
        e AS (
            SELECT vec_id,
                   list_transform(v0, x ->
                       CAST(CAST(round(x / scale) AS TINYINT) AS DOUBLE))
                       AS v
            FROM q
        ),
        n AS (
            SELECT vec_id, v,
                   sqrt(list_dot_product(v, v)) AS nrm,
                   greatest(sqrt(list_dot_product(v, v)), 1e-150) AS nrmc
            FROM e
        ),
        cent AS (
            SELECT row_number() OVER (ORDER BY h.ord, h.vec_id) - 1 AS cid,
                   n.v AS cv,
                   CASE WHEN sqrt(list_dot_product(n.v, n.v)) = 0
                        THEN 1e-150
                        ELSE sqrt(list_dot_product(n.v, n.v)) END AS cnorm
            FROM hord h JOIN n ON n.vec_id = h.vec_id
            ORDER BY h.ord, h.vec_id LIMIT {n_clusters}
        ),
        assign AS (
            SELECT n.vec_id, c.cid,
                   list_dot_product(n.v, c.cv) / (n.nrmc * c.cnorm) AS cos
            FROM n CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, cid AS cell, cos AS cos_centroid
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS brn
                FROM assign
            ) WHERE brn = 1
        ),
        ranked AS (
            SELECT vec_id, cell, cos_centroid,
                   row_number() OVER (
                       PARTITION BY cell
                       ORDER BY cos_centroid ASC, vec_id ASC) AS rank
            FROM best
        ),
        prs AS (
            SELECT ra.vec_id AS id_a, rb.vec_id AS id_b,
                   ra.rank AS rank_a, rb.rank AS rank_b
            FROM ranked ra
            JOIN ranked rb ON ra.cell = rb.cell AND ra.vec_id < rb.vec_id
            JOIN n na ON na.vec_id = ra.vec_id
            JOIN n nb ON nb.vec_id = rb.vec_id
            WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm)
                  >= {tau!r}
        ),
        dom AS (
            SELECT DISTINCT CASE WHEN rank_a < rank_b THEN id_b
                                 ELSE id_a END AS vec_id
            FROM prs
        )
        SELECT r.vec_id, r.cell,
               round(r.cos_centroid, 6) AS cos_centroid,
               r.rank, (d.vec_id IS NULL) AS keep
        FROM ranked r LEFT JOIN dom d USING (vec_id)
    """


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter contamination probe (llmdata/bloom.py): the
    reference-corpus split (doc_id % 4 = 1) sketches its content keys
    (md5 of lower(trim(text)) — the content_hash convention) into a
    64 Kbit / 5-hash Bloom bitmap held as a sparse (word_idx, bits)
    relation; EVERY document then probes scan-side with no corpus×corpus
    join. The oracle re-derives the bitmap word-for-word and the
    membership column bit-for-bit — including the deterministic false
    positives — because the bit positions are the same md5-prefix hash
    family as the winnowing/DSIR tiers."""
    from coin_for_rich_spark.llmdata.bloom import bloom_build, bloom_probe
    from coin_for_rich_spark.llmdata.dedup import content_hash

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", content_hash("text").alias("ck"))
    ref = keyed.filter(F.col("doc_id") % 4 == 1)
    bloom = bloom_build(ref, "ck", n_bits=1 << 16, k=5)
    return bloom_probe(
        keyed, bloom, "ck", n_bits=1 << 16, k=5
    ).select("doc_id", "member")


def _bloom_probe_oracle_sql() -> str:
    """DuckDB twin of ``q_bloom_probe`` — rebuilds the sparse bitmap with
    the same md5-prefix positions and probes it: the sign-bit word (bit
    63) computes in HUGEINT and wraps by 2⁶⁴ to match Java's shiftleft;
    NULL content keys probe False through the same coalesce path."""
    return r"""
        WITH keyed AS (
            SELECT doc_id, md5(lower(trim(text))) AS ck FROM documents
        ),
        ins AS (
            SELECT DISTINCT ck FROM keyed
            WHERE doc_id % 4 = 1 AND ck IS NOT NULL
        ),
        ipos AS (
            SELECT ('0x' || substr(md5(ck || ':' || i), 1, 15))::BIGINT
                       % 65536 AS pos
            FROM ins, range(5) t(i)
        ),
        words AS (
            SELECT pos // 64 AS word_idx,
                   bit_or(CASE WHEN pos % 64 = 63
                          THEN ((1::HUGEINT << 63)
                                - 18446744073709551616::HUGEINT)::BIGINT
                          ELSE (1::HUGEINT << (pos % 64))::BIGINT
                          END) AS bits
            FROM ipos GROUP BY 1
        ),
        qpos AS (
            SELECT k.doc_id,
                   ('0x' || substr(md5(k.ck || ':' || i), 1, 15))::BIGINT
                       % 65536 AS pos
            FROM keyed k, range(5) t(i)
        ),
        hits AS (
            SELECT q.doc_id,
                   coalesce(
                       (w.bits & (CASE WHEN q.pos % 64 = 63
                                  THEN ((1::HUGEINT << 63)
                                        - 18446744073709551616::HUGEINT)::BIGINT
                                  ELSE (1::HUGEINT << (q.pos % 64))::BIGINT
                                  END)) != 0,
                       false) AS hit
            FROM qpos q LEFT JOIN words w ON w.word_idx = q.pos // 64
        )
        SELECT doc_id, coalesce(bool_and(hit), false) AS member
        FROM hits GROUP BY doc_id
    """


def q_cms_topgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch frequency tier (llmdata/cms.py — the sketch
    family's third member after HLL distinct-count and Bloom membership):
    sketch every token 3-gram occurrence of the corpus into a bounded
    depth×width counter matrix (one explode + one map-side-combined
    count; mergeable by sum), then estimate the corpus-wide frequency of
    a probe subset's distinct grams WITHOUT a corpus groupBy. Output
    carries the exact count next to the estimate plus the
    ``never_under`` contract column (CMS collisions only ever ADD) — the
    oracle re-derives matrix, estimates, and deterministic overshoot
    cell-for-cell, all integer."""
    from coin_for_rich_spark.llmdata.cms import cms_build, cms_estimate
    from coin_for_rich_spark.llmdata.textstats import token_ngrams, tokenize

    docs = load_table(spark, sf_dir, "documents")
    occ = docs.select(
        F.explode(token_ngrams(tokenize(F.col("text")), 3)).alias("gram")
    )
    sketch = cms_build(occ, "gram", width=240, depth=4)
    probe = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .select(F.explode(token_ngrams(tokenize(F.col("text")), 3)).alias("gram"))
        .distinct()
    )
    est = cms_estimate(probe, sketch, "gram", width=240, depth=4)
    true_c = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("true_cnt"))
    return (
        est.join(true_c, "gram")
        .select(
            "gram",
            "est",
            "true_cnt",
            (F.col("est") >= F.col("true_cnt")).alias("never_under"),
        )
        .orderBy("gram")
    )


def _cms_topgrams_oracle_sql() -> str:
    """DuckDB twin of ``q_cms_topgrams`` — rebuilds the depth×width
    counter matrix with the same md5-prefix positions and takes the same
    min-over-rows estimate; every value (including collision overshoot)
    is an exact integer, so the comparison is bit-for-bit with no float
    routing anywhere."""
    return r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ),
        idx AS (
            -- range as a LIST function (unnest'ed): the table-function
            -- form rejects per-row stop arguments
            SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 3
        ),
        occ AS (
            SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
            FROM idx
        ),
        cells AS (
            SELECT r.i AS row_idx,
                   ('0x' || substr(md5(gram || ':' || r.i), 1, 15))::BIGINT
                       % 240 AS col_idx,
                   count(*) AS cnt
            FROM occ, range(4) r(i)
            GROUP BY 1, 2
        ),
        probe AS (
            SELECT DISTINCT gram FROM occ WHERE doc_id % 17 = 0
        ),
        ppos AS (
            SELECT p.gram, r.i AS row_idx,
                   ('0x' || substr(md5(p.gram || ':' || r.i), 1, 15))::BIGINT
                       % 240 AS col_idx
            FROM probe p, range(4) r(i)
        ),
        est AS (
            SELECT gram, min(coalesce(c.cnt, 0)) AS est
            FROM ppos LEFT JOIN cells c USING (row_idx, col_idx)
            GROUP BY gram
        ),
        truec AS (SELECT gram, count(*) AS true_cnt FROM occ GROUP BY gram)
        SELECT e.gram, CAST(e.est AS BIGINT) AS est,
               CAST(t.true_cnt AS BIGINT) AS true_cnt,
               e.est >= t.true_cnt AS never_under
        FROM est e JOIN truec t USING (gram)
        ORDER BY gram
    """


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination SEVERITY (llmdata/dedup.py contamination_spans): for
    every (train, eval) pair sharing token 3-grams across a deterministic
    eval holdout (doc_id % 23 == 0), the longest contiguous eval passage
    appearing verbatim in the training doc — diagonal gaps-and-islands
    over positional shingle matches, max_span_tokens = longest island +
    n − 1. The span-level refinement presence-tier decontamination can't
    express: "shares 3 shingles" vs "contains the benchmark's 200-token
    answer verbatim". Pure integer algebra end to end."""
    from coin_for_rich_spark.llmdata.dedup import contamination_spans

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    tr = docs.filter(F.col("doc_id") % 23 != 0)
    return contamination_spans(tr, ev, n=3).orderBy("train_id", "eval_id")


def _contamination_spans_oracle_sql() -> str:
    """DuckDB twin of ``q_contamination_spans`` — positional 3-gram
    shingles, cross-corpus equi-join, and the same diagonal
    gaps-and-islands (pos_eval − row_number per (train, eval, diagonal));
    the 1-based DuckDB positions differ from Spark's 0-based by a
    constant, which every output column is invariant to (diagonals and
    consecutiveness only). All integers."""
    return r"""
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
            FROM documents
        ),
        idx AS (
            -- range as a LIST function (unnest'ed): the table-function
            -- form rejects per-row stop arguments
            SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
            FROM t WHERE len(toks) >= 3
        ),
        g AS (
            SELECT doc_id, i AS pos,
                   array_to_string(toks[i:i+2], ' ') AS shingle
            FROM idx
        ),
        tr AS (
            SELECT doc_id AS train_id, pos AS p_t, shingle
            FROM g WHERE doc_id % 23 <> 0
        ),
        ev AS (
            SELECT doc_id AS eval_id, pos AS p_e, shingle
            FROM g WHERE doc_id % 23 = 0
        ),
        m AS (
            SELECT train_id, eval_id, p_t, p_e, p_t - p_e AS d
            FROM tr JOIN ev USING (shingle)
        ),
        isl AS (
            SELECT train_id, eval_id, d,
                   p_e - row_number() OVER (
                       PARTITION BY train_id, eval_id, d ORDER BY p_e
                   ) AS isl_key
            FROM m
        ),
        runs AS (
            SELECT train_id, eval_id, d, isl_key, count(*) AS run_len
            FROM isl GROUP BY ALL
        )
        SELECT train_id, eval_id,
               CAST(max(run_len) + 2 AS BIGINT) AS max_span_tokens,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(run_len) AS BIGINT) AS n_matched_ngrams
        FROM runs
        GROUP BY train_id, eval_id
        ORDER BY train_id, eval_id
    """


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-archive ingest (llmdata/warc.py — the format boundary a
    web-scale corpus actually arrives through; Common Crawl's record
    framing + embedded HTTP responses): every document is wrapped as an
    HTTP 200 response record, 8 consecutive docs muxed per WARC file,
    then the engine must parse its way BACK through the real bytes —
    record frames, header grammar, HTTP status line, Content-Length
    framing — to per-record rows with ABSOLUTE byte offsets. The oracle
    never parses a byte: it re-derives every offset/length from the
    serialization formulas (222-byte fixed record header + uri + the
    Content-Length digits themselves) — the mp4 keyframe posture applied
    to the crawl boundary. The per-member-gzip leg (the Common Crawl wire
    shape) and the dead-letter grammar are pinned in tests/test_warc.py."""
    from coin_for_rich_spark.llmdata.warc import attach_warc_files, warc_records

    docs = load_table(spark, sf_dir, "documents")
    recs = warc_records(attach_warc_files(docs))
    return recs.select(
        "file_id",
        "target_uri",
        "record_offset",
        "record_length",
        "warc_type",
        "record_id",
        "warc_date",
        "content_length",
        "http_status",
        "http_content_type",
        F.octet_length(F.col("body")).cast("long").alias("body_bytes"),
        F.md5(F.col("body")).alias("body_md5"),
    )


def _warc_extract_oracle_sql() -> str:
    """DuckDB twin of ``q_warc_extract`` — formula-only: HTTP block size
    N = 77 + digits(B) + B over body bytes B, record frame 222 +
    len(uri) + digits(N) + N, offsets a cumulative sum over each file's
    doc_id order. The engine must reach the same integers through real
    container bytes; md5(body) pins the payload itself, not just its
    length."""
    return """
        WITH r AS (
            SELECT doc_id,
                   doc_id // 8 AS file_id,
                   'http://crawl.example/doc/' || doc_id AS target_uri,
                   '<html><body><p>' || text || '</p></body></html>' AS html
            FROM documents
        ),
        sz AS (
            SELECT *,
                   strlen(html) AS b,
                   77 + length(CAST(strlen(html) AS VARCHAR)) + strlen(html)
                       AS n
            FROM r
        ),
        rec AS (
            SELECT *,
                   222 + length(target_uri)
                       + length(CAST(n AS VARCHAR)) + n AS rec_len
            FROM sz
        )
        SELECT CAST(file_id AS BIGINT) AS file_id,
               target_uri,
               CAST(coalesce(sum(rec_len) OVER (
                   PARTITION BY file_id ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS record_offset,
               CAST(rec_len AS BIGINT) AS record_length,
               'response' AS warc_type,
               'urn:uuid:' || printf('00000000-0000-4000-8000-%012d', doc_id)
                   AS record_id,
               '2024-01-01T00:00:00Z' AS warc_date,
               CAST(n AS BIGINT) AS content_length,
               CAST(200 AS INT) AS http_status,
               'text/html; charset=utf-8' AS http_content_type,
               CAST(b AS BIGINT) AS body_bytes,
               md5(html) AS body_md5
        FROM rec
    """


def q_tar_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style tar shard export (llmdata/tarshard.py — the
    training-side boundary: packed corpora ship to data loaders as tar
    shards of grouped sample files). Every document becomes a
    ``<id>.json`` + ``<id>.txt`` member pair, 64 docs per shard; the
    engine WRITES real deterministic ustar bytes (one applyInPandas per
    shard — the co-locating shuffle is the operator) and then must index
    its way BACK through them (checksum-verified header walk) to
    per-member rows with absolute offsets and payload md5s. The oracle
    never builds a tar: headers are 512-byte blocks, members
    ``1 + ceil(b/512)`` blocks, archives zero-padded to the 10240-byte
    record — every offset is a window sum over byte-length algebra."""
    from coin_for_rich_spark.llmdata.tarshard import (
        tar_shard_members,
        tar_shard_write,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tar_shard_members(tar_shard_write(docs, docs_per_shard=64))


def _tar_export_oracle_sql() -> str:
    """DuckDB twin of ``q_tar_export`` — formula-only: per-member blocks
    ``1 + (b + 511) // 512``, offsets 512·(window cumulative blocks),
    shard totals rounded up to the 10240-byte tar record; md5 over the
    member strings pins the payloads the engine slices out of the real
    archive bytes."""
    return """
        WITH d AS (
            SELECT doc_id,
                   doc_id // 64 AS shard_id,
                   '{"doc_id":' || doc_id || ',"lang":"' || lang || '"}'
                       AS js,
                   text
            FROM documents
        ),
        sz AS (
            SELECT *,
                   strlen(js) AS bj,
                   strlen(text) AS bt,
                   (1 + (strlen(js) + 511) // 512)
                       + (1 + (strlen(text) + 511) // 512) AS eblocks
            FROM d
        ),
        laid AS (
            SELECT *,
                   512 * coalesce(sum(eblocks) OVER (
                       PARTITION BY shard_id ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS doc_off,
                   512 * sum(eblocks) OVER (PARTITION BY shard_id) + 1024
                       AS v
            FROM sz
        ),
        tot AS (
            SELECT *, v + ((-v) % 10240 + 10240) % 10240 AS total
            FROM laid
        ),
        m AS (
            SELECT shard_id,
                   printf('%012d', doc_id) || '.json' AS member_name,
                   bj AS payload_bytes,
                   doc_off AS hdr_offset,
                   md5(js) AS member_md5,
                   total
            FROM tot
            UNION ALL
            SELECT shard_id,
                   printf('%012d', doc_id) || '.txt',
                   bt,
                   doc_off + 512 * (1 + (bj + 511) // 512),
                   md5(text),
                   total
            FROM tot
        )
        SELECT CAST(shard_id AS BIGINT) AS shard_id,
               member_name,
               CAST(payload_bytes AS BIGINT) AS payload_bytes,
               CAST(hdr_offset AS BIGINT) AS hdr_offset,
               CAST(hdr_offset + 512 AS BIGINT) AS data_offset,
               member_md5,
               CAST(total AS BIGINT) AS shard_total_bytes
        FROM m
    """


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language doc-length percentiles (llmdata/textstats.py
    grouped_quantiles — the curation-threshold primitive: published
    pipelines pick length/score cutoffs as corpus percentiles). One
    groupBy collapses the corpus to its per-(lang, length) HISTOGRAM —
    bounded by the value range, not the corpus — then one window over the
    histogram; the quantile rank is all-integer (``(n·num + den − 1) div
    den``), so the oracle is bit-exact with zero float routing."""
    from coin_for_rich_spark.llmdata.textstats import grouped_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return grouped_quantiles(docs, F.length("text"), "lang").select(
        F.col("grp").alias("lang"), "quantile", "value", "n_rows"
    )


def _length_quantiles_oracle_sql() -> str:
    """DuckDB twin of ``q_length_quantiles`` — same histogram, window,
    and integer rank formula; every value is an exact integer."""
    return """
        WITH hist AS (
            SELECT lang AS grp, length(text) AS v, count(*) AS c
            FROM documents GROUP BY 1, 2
        ),
        laid AS (
            SELECT grp, v,
                   sum(c) OVER (PARTITION BY grp ORDER BY v) AS cum,
                   sum(c) OVER (PARTITION BY grp) AS n
            FROM hist
        ),
        p AS (
            SELECT * FROM (VALUES (50, 100, 'p50'), (90, 100, 'p90'),
                                  (99, 100, 'p99')) t(num, den, label)
        )
        SELECT grp AS lang,
               label AS quantile,
               CAST(min(v) AS BIGINT) AS value,
               CAST(min(n) AS BIGINT) AS n_rows
        FROM laid CROSS JOIN p
        WHERE cum >= (n * num + den - 1) // den
        GROUP BY 1, 2
    """


def _pii_synth_text(d):
    """Deterministic PII-bearing enrichment of the documents text, built
    from doc_id with the SAME arithmetic in Spark and the oracle (the
    attach_real_avc_video pattern: the synthetic generator is shared SQL,
    so the oracle tests the DETECTION algebra, not the generator). Every
    doc gains an email + URL; every 3rd a 16-digit card candidate (Luhn
    validity falls out of the digits — a deterministic ~10% split); every
    4th an E.164 phone; every 5th an IPv4."""
    ds = d.cast("string")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), ds, F.lit("@mail.example.com"),
        F.lit(" see https://ex.example.org/d/"), ds,
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" card 4"),
                F.lpad(((d * 7919) % F.lit(10**15)).cast("string"), 15, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" tel +1415555"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" host "), (d % 256).cast("string"),
                F.lit("."), ((d * 7) % 256).cast("string"),
                F.lit("."), ((d * 13) % 256).cast("string"),
                F.lit("."), ((d * 29) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )


def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII audit + redaction (llmdata/pii.py): per-document counts
    of email / URL / IPv4 / Luhn-validated card / phone / digit-run
    classes plus the sequentially-redacted text, over a deterministic
    doc_id-derived enrichment of the corpus (the raw synthetic text
    contains no PII). Counts are independent per class on the raw text;
    card candidates split valid/invalid by a pure column-algebra Luhn
    fold. One select, zero exchanges, zero Python UDFs."""
    from coin_for_rich_spark.llmdata.pii import pii_audit

    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id", _pii_synth_text(F.col("doc_id")).alias("text")
    )
    return pii_audit(synth)


def _pii_audit_oracle_sql() -> str:
    """DuckDB twin of ``q_pii_audit`` — the synthetic enrichment mirrored
    expression-for-expression, the SELECT list built from the SHARED
    pattern fragments (llmdata.pii.pii_oracle_exprs), so the pattern
    strings cannot drift between engines."""
    from coin_for_rich_spark.llmdata.pii import pii_oracle_exprs

    cols = ",\n               ".join(
        f"{sql} AS {name}" for name, sql in pii_oracle_exprs().items()
    )
    return f"""
        WITH synth AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com'
                        || ' see https://ex.example.org/d/'
                        || CAST(doc_id AS VARCHAR)
                        || CASE WHEN doc_id % 3 = 0
                           THEN ' card 4' || lpad(CAST((doc_id * 7919)
                                % 1000000000000000 AS VARCHAR), 15, '0')
                           ELSE '' END
                        || CASE WHEN doc_id % 4 = 0
                           THEN ' tel +1415555'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END
                        || CASE WHEN doc_id % 5 = 0
                           THEN ' host ' || CAST(doc_id % 256 AS VARCHAR)
                                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                                || '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
                                || '.' || CAST((doc_id * 29) % 256 AS VARCHAR)
                           ELSE '' END
                       AS text
            FROM documents
        )
        SELECT doc_id,
               {cols}
        FROM synth
    """


#: q_gopher_filter thresholds: tightened from the paper defaults so every
#: corpus-sensitive rule exercises BOTH branches on the synthetic
#: word-salad distribution (n_tokens 10–99, mwl 3.7–5.3, stopwords 0–8,
#: dup3 0–0.07, top-token 0.09–0.30 at sf0.01 — measured before choosing);
#: symbol/alpha rules cannot fire on all-alpha salads and keep their
#: planted-text branch coverage in tests/test_gopher.py instead.
_GOPHER_GATE_THRESHOLDS = dict(
    min_tokens=30,
    min_mean_word_len=4.0,
    min_stopwords=2,
    max_dup_ngram_frac=0.02,
    max_top_token_frac=0.20,
)


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality DECISION (llmdata/gopher.py): per
    document, the full signal row, a comma-joined reject_reasons audit
    trail in fixed rule order, and the keep verdict — composed from the
    SAME signal formulas doc_profile pins hash-exact (tokenize guard,
    match_tokens stopword normalization, 3-gram dup fraction, sorted-run
    top-token multiplicity). One fused select, zero exchanges, zero UDFs."""
    from coin_for_rich_spark.llmdata.gopher import gopher_filter

    docs = load_table(spark, sf_dir, "documents")
    return gopher_filter(docs, **_GOPHER_GATE_THRESHOLDS)


def _gopher_filter_oracle_sql() -> str:
    """DuckDB twin of ``q_gopher_filter`` — the signal formulas written
    from first principles (same guarded tokenization and normalization the
    doc_profile oracle uses), thresholds injected from the SHARED
    ``_GOPHER_GATE_THRESHOLDS`` dict so engine and oracle cannot drift."""
    th = {**__import__(
        "coin_for_rich_spark.llmdata.gopher", fromlist=["GOPHER_DEFAULTS"]
    ).GOPHER_DEFAULTS, **_GOPHER_GATE_THRESHOLDS}
    return f"""
        WITH t AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) > 0
                        THEN regexp_split_to_array(trim(text), '\\s+')
                        ELSE []::VARCHAR[] END AS toks,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '([^\\p{{L}}\\p{{N}}\\s])', 1))
                       AS n_punct
            FROM documents
        ),
        s AS (
            SELECT doc_id, toks,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CASE WHEN len(toks) > 0 THEN
                       CAST(list_sum(list_transform(toks, x -> length(x)))
                            AS DOUBLE) / len(toks)
                   ELSE 0.0 END AS mean_word_len,
                   CAST(len(list_filter(
                       list_transform(toks, x -> lower(regexp_replace(x,
                           '(^[^\\p{{L}}\\p{{N}}]+|[^\\p{{L}}\\p{{N}}]+$)',
                           '', 'g'))),
                       x -> x IN ('the', 'and', 'of', 'to', 'in', 'is',
                                  'that', 'with', 'for', 'on')))
                       AS BIGINT) AS n_stopwords,
                   CASE WHEN n_chars > 0
                        THEN CAST(n_punct AS DOUBLE) / n_chars
                        ELSE 0.0 END AS symbol_ratio,
                   CASE WHEN len(toks) > 0 THEN
                       CAST(len(list_filter(toks,
                           x -> regexp_matches(x, '\\p{{L}}'))) AS DOUBLE)
                       / len(toks)
                   ELSE 0.0 END AS alpha_word_frac,
                   CASE WHEN len(toks) >= 3 THEN
                       1.0 - CAST(len(list_distinct(
                           [array_to_string(toks[i:i+2], ' ')
                            for i in range(1, len(toks) - 1)])) AS DOUBLE)
                           / (len(toks) - 2)
                   ELSE 0.0 END AS dup_ngram_frac,
                   CASE WHEN len(toks) > 0 THEN
                       CAST(list_max(list_transform(list_distinct(toks),
                           u -> len(list_filter(toks, x -> x = u))))
                           AS DOUBLE) / len(toks)
                   ELSE 0.0 END AS top_token_frac
            FROM t
        ),
        r AS (
            SELECT *,
                   list_filter([
                       CASE WHEN n_tokens < {th["min_tokens"]}
                              OR n_tokens > {th["max_tokens"]}
                            THEN 'word_count' END,
                       CASE WHEN mean_word_len < {th["min_mean_word_len"]}
                              OR mean_word_len > {th["max_mean_word_len"]}
                            THEN 'mean_word_len' END,
                       CASE WHEN n_stopwords < {th["min_stopwords"]}
                            THEN 'stopwords' END,
                       CASE WHEN symbol_ratio > {th["max_symbol_ratio"]}
                            THEN 'symbol_ratio' END,
                       CASE WHEN alpha_word_frac < {th["min_alpha_word_frac"]}
                            THEN 'alpha_words' END,
                       CASE WHEN dup_ngram_frac > {th["max_dup_ngram_frac"]}
                            THEN 'dup_ngrams' END,
                       CASE WHEN top_token_frac > {th["max_top_token_frac"]}
                            THEN 'top_token' END
                   ], x -> x IS NOT NULL) AS reasons
            FROM s
        )
        SELECT doc_id, n_tokens, mean_word_len, n_stopwords, symbol_ratio,
               alpha_word_frac, dup_ngram_frac, top_token_frac,
               coalesce(array_to_string(reasons, ','), '') AS reject_reasons,
               CAST(len(reasons) AS BIGINT) AS n_rules_failed,
               len(reasons) = 0 AS keep
        FROM r
    """


#: q_c4_clean rules: segment path (the corpus has no physical lines) with
#: the three corpus-sensitive rules tuned to fire BOTH ways on the salad
#: distribution (measured before choosing at sf0.01: keep rate 53.2%,
#: min_lines rejects 218/500, banned_phrase 18/500, 450/500 docs lose at
#: least one line to word_count). terminal-punct / banned-token / curly
#: cannot fire on an all-alpha single-space corpus and keep planted-text
#: branch coverage in tests/test_c4.py instead (same posture as the
#: gopher gate's symbol rules).
_C4_GATE_RULES = dict(
    min_line_words=12,
    min_lines=4,
    require_terminal_punct=False,
    banned_page_phrases=("table table",),
)
_C4_GATE_K = 12


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line repair + page decision (llmdata/c4.py): the REWRITE
    tier below the Gopher gate — per document, drop lines failing the
    line rules (word floor; banned token; terminal punct when enabled),
    rebuild clean_text from survivors in order, and reject pages the
    rewrite hollowed out (min_lines) or that carry a banned phrase /
    curly brace. Line structure is the package's deterministic 12-token
    segmentation (the corpus has no physical lines). Everything in-row:
    one projection of higher-order-function algebra, zero exchanges,
    zero UDFs."""
    from coin_for_rich_spark.llmdata.c4 import c4_clean

    docs = load_table(spark, sf_dir, "documents")
    return c4_clean(docs, segment_tokens=_C4_GATE_K, **_C4_GATE_RULES)


def _c4_clean_oracle_sql() -> str:
    """DuckDB twin of ``q_c4_clean`` — the segment construction and every
    rule written from first principles (list_slice spans over the
    single-space split, word counts on the space-collapsed trimmed line),
    thresholds injected from the SHARED ``_C4_GATE_RULES`` dict so engine
    and oracle cannot drift. The empty-survivor page needs an explicit
    coalesce: DuckDB ``array_to_string([])`` is NULL where Spark
    ``array_join`` is ''."""
    from coin_for_rich_spark.llmdata.c4 import C4_DEFAULTS

    r = {**C4_DEFAULTS, **_C4_GATE_RULES}
    # this twin transcribes the GATE config; the punct rule is disabled
    # there (n_drop_no_punct hardcoded 0 below) — keep the two in sync
    assert not r["require_terminal_punct"]
    k = _C4_GATE_K
    banned = ", ".join(
        f"'{t}'" for t in r["banned_line_tokens"]
    )
    wc = (
        "(CASE WHEN trim({s}) = '' THEN 0"
        " ELSE len(regexp_split_to_array(trim({s}), ' +')) END)"
    )
    bad = (
        "list_has_any(regexp_split_to_array(lower(trim({s})), ' +'),"
        f" [{banned}])"
    )
    drop = f"({wc} < {r['min_line_words']} OR {bad})"
    phrase_hits = " OR ".join(
        f"contains(lower(text), '{p}')" for p in r["banned_page_phrases"]
    )
    return f"""
        WITH t AS (
            SELECT doc_id, text, string_split(text, ' ') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id, text,
                   list_transform(
                       range(0, greatest(
                           CAST(ceil(len(toks) / {k}.0) AS INT), 1)),
                       i -> array_to_string(
                           list_slice(toks, i*{k} + 1, (i+1)*{k}), ' ')
                   ) AS segs
            FROM t
        ),
        r AS (
            SELECT doc_id, text, segs,
                   list_filter(segs, x -> NOT {drop.format(s='x')}) AS kept,
                   len(list_filter(segs,
                       x -> {wc.format(s='x')} < {r['min_line_words']}))
                       AS n_drop_short,
                   len(list_filter(segs, x -> {bad.format(s='x')}))
                       AS n_drop_banned_token
            FROM s
        ),
        p AS (
            SELECT doc_id,
                   CAST(len(segs) AS BIGINT) AS n_lines,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   CAST(n_drop_short AS BIGINT) AS n_drop_short,
                   CAST(0 AS BIGINT) AS n_drop_no_punct,
                   CAST(n_drop_banned_token AS BIGINT)
                       AS n_drop_banned_token,
                   coalesce(array_to_string(kept, chr(10)), '')
                       AS clean_text,
                   list_filter([
                       CASE WHEN len(kept) < {r['min_lines']}
                            THEN 'min_lines' END,
                       CASE WHEN {phrase_hits}
                            THEN 'banned_phrase' END,
                       CASE WHEN contains(text, '{{')
                              OR contains(text, '}}')
                            THEN 'curly_brace' END
                   ], x -> x IS NOT NULL) AS reasons
            FROM r
        )
        SELECT doc_id, n_lines, n_lines_kept, n_drop_short,
               n_drop_no_punct, n_drop_banned_token, clean_text,
               coalesce(array_to_string(reasons, ','), '')
                   AS page_reject_reasons,
               CAST(len(reasons) AS BIGINT) AS n_page_rules_failed,
               len(reasons) = 0 AS keep
        FROM p
    """


#: q_bm25_topk: queries derive deterministically from the corpus itself
#: (every 97th doc contributes its first 8 raw tokens), so the oracle can
#: rebuild them in SQL; k/k1/b shared here so engine and oracle cannot
#: drift.
_BM25_GATE = dict(k=10, k1=1.2, b=0.75)
_BM25_QUERY_STRIDE = 97
_BM25_QUERY_TOKENS = 8


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword top-k (llmdata/bm25.py): the LEXICAL retrieval tier
    beside the embedding ANN family — index-once (postings + doc_freq,
    one corpus shuffle) / query-many (query idf broadcast onto the
    postings scan, salted two-phase top-k). Scores follow the
    quality_score float contract: exact integer inputs, DECIMAL(38,18)
    order-free summation, round-6 emission, (score DESC, doc_id ASC)
    deterministic ranking."""
    from coin_for_rich_spark.llmdata.bm25 import bm25_index, bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter(
        F.col("doc_id") % _BM25_QUERY_STRIDE == 3
    ).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(
                F.split(F.trim(F.col("text")), r"\s+"),
                1,
                _BM25_QUERY_TOKENS,
            ),
            " ",
        ).alias("text"),
    )
    return bm25_topk(bm25_index(docs), queries, **_BM25_GATE)


def _bm25_topk_oracle_sql() -> str:
    """DuckDB twin of ``q_bm25_topk`` — postings, document frequencies,
    avgdl, idf, and the tf normalization rebuilt from first principles
    over the raw documents view; float parity per the module contract
    (identical literal injection from the SHARED ``_BM25_GATE``, the
    same ((N − df) + 0.5) association, DECIMAL(38,18) summation, round-6
    emission). The only residual divergence is the last-ulp freedom of
    the two engines' ln(), absorbed by the 1e-6 grid."""
    k = _BM25_GATE["k"]
    k1 = _BM25_GATE["k1"]
    b = _BM25_GATE["b"]
    stride, qtok = _BM25_QUERY_STRIDE, _BM25_QUERY_TOKENS
    return f"""
        WITH terms AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           CASE WHEN length(trim(text)) > 0
                                THEN regexp_split_to_array(trim(text),
                                                           '\\s+')
                                ELSE []::VARCHAR[] END,
                           t -> lower(regexp_replace(t,
                               '(^[^\\p{{L}}\\p{{N}}]+|[^\\p{{L}}\\p{{N}}]+$)',
                               '', 'g'))),
                       t -> t != '') AS terms
            FROM documents
        ),
        dl AS (
            SELECT doc_id, terms, CAST(len(terms) AS BIGINT) AS dl
            FROM terms
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                       AS avgdl
            FROM dl
        ),
        postings AS (
            SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, dl, unnest(terms) AS term FROM dl)
            GROUP BY doc_id, dl, term
        ),
        doc_freq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM postings GROUP BY term
        ),
        queries AS (
            SELECT doc_id AS query_id,
                   array_to_string(
                       regexp_split_to_array(trim(text), '\\s+')[1:{qtok}],
                       ' ') AS qtext
            FROM documents WHERE doc_id % {stride} = 3
        ),
        qterms AS (
            SELECT DISTINCT query_id, term
            FROM (
                SELECT query_id,
                       unnest(list_filter(
                           list_transform(
                               CASE WHEN length(trim(qtext)) > 0
                                    THEN regexp_split_to_array(
                                        trim(qtext), '\\s+')
                                    ELSE []::VARCHAR[] END,
                               t -> lower(regexp_replace(t,
                                   '(^[^\\p{{L}}\\p{{N}}]+|[^\\p{{L}}\\p{{N}}]+$)',
                                   '', 'g'))),
                           t -> t != '')) AS term
                FROM queries
            )
        ),
        qidf AS (
            SELECT q.query_id, q.term,
                   ln(1.0 + ((s.n - CAST(f.df AS DOUBLE)) + 0.5)
                            / (CAST(f.df AS DOUBLE) + 0.5)) AS idf
            FROM qterms q
            JOIN doc_freq f USING (term)
            CROSS JOIN stats s
        ),
        scored AS (
            SELECT q.query_id, p.doc_id,
                   round(CAST(sum(CAST(
                       q.idf * ((CAST(p.tf AS DOUBLE) * {k1 + 1.0!r})
                           / (CAST(p.tf AS DOUBLE)
                              + {k1!r} * ({1.0 - b!r}
                                  + {b!r} * (CAST(p.dl AS DOUBLE)
                                             / s.avgdl))))
                       AS DECIMAL(38,18))) AS DOUBLE), 6) AS score,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM postings p
            JOIN qidf q USING (term)
            CROSS JOIN stats s
            GROUP BY q.query_id, p.doc_id
        ),
        ranked AS (
            SELECT *,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS BIGINT)
                       AS rank
            FROM scored
        )
        SELECT query_id, doc_id, score, n_terms_matched, rank
        FROM ranked WHERE rank <= {k}
    """


#: q_pmi_collocations: the corpus vocabulary is small, so every adjacent
#: pair clears a low floor — min_count=5 still exercises the floor (rare
#: pairs at sf0.001 fall below it) and top_m=50 cuts inside the ranked
#: list at every scale.
_PMI_GATE = dict(top_m=50, min_count=5)


def q_pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PMI collocation mining (llmdata/collocations.py): top-m adjacent
    bigrams by pointwise mutual information — in-row pair construction,
    one hash-agg per count relation, min_count floor before the
    vocabulary joins, TakeOrdered global cut. Single-ln score (no float
    summation), round-6 emission, (pmi DESC, w1, w2) total order."""
    from coin_for_rich_spark.llmdata.collocations import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, **_PMI_GATE)


def _pmi_collocations_oracle_sql() -> str:
    """DuckDB twin of ``q_pmi_collocations`` — unigram/bigram counts,
    totals, and the PINNED PMI association ``(c_pair/T2) /
    ((c_w1/T1)·(c_w2/T1))`` rebuilt from the raw documents view;
    thresholds injected from the SHARED ``_PMI_GATE`` dict. The only
    cross-engine freedom is the last ulp of ln(), absorbed by the
    round-6 grid."""
    m = _PMI_GATE["top_m"]
    mc = _PMI_GATE["min_count"]
    return f"""
        WITH terms AS (
            SELECT list_filter(
                       list_transform(
                           CASE WHEN length(trim(text)) > 0
                                THEN regexp_split_to_array(trim(text),
                                                           '\\s+')
                                ELSE []::VARCHAR[] END,
                           t -> lower(regexp_replace(t,
                               '(^[^\\p{{L}}\\p{{N}}]+|[^\\p{{L}}\\p{{N}}]+$)',
                               '', 'g'))),
                       t -> t != '') AS terms
            FROM documents
        ),
        uni AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c_w
            FROM (SELECT unnest(terms) AS w FROM terms)
            GROUP BY w
        ),
        pairs AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
            FROM (
                SELECT t.terms[i] AS w1, t.terms[i + 1] AS w2
                FROM terms t, unnest(range(1, len(t.terms))) AS r(i)
            )
            GROUP BY w1, w2
        ),
        totals AS (
            SELECT (SELECT CAST(sum(c_w) AS DOUBLE) FROM uni) AS t1,
                   (SELECT CAST(sum(c_pair) AS DOUBLE) FROM pairs) AS t2
        ),
        scored AS (
            SELECT p.w1, p.w2, p.c_pair, u1.c_w AS c_w1, u2.c_w AS c_w2,
                   round(ln(
                       (CAST(p.c_pair AS DOUBLE) / t.t2)
                       / ((CAST(u1.c_w AS DOUBLE) / t.t1)
                          * (CAST(u2.c_w AS DOUBLE) / t.t1))
                   ), 6) AS pmi
            FROM pairs p
            JOIN uni u1 ON p.w1 = u1.w
            JOIN uni u2 ON p.w2 = u2.w
            CROSS JOIN totals t
            WHERE p.c_pair >= {mc}
        )
        SELECT w1, w2, c_pair, c_w1, c_w2, pmi,
               CAST(row_number() OVER (
                   ORDER BY pmi DESC, w1 ASC, w2 ASC) AS BIGINT) AS rank
        FROM scored
        ORDER BY pmi DESC, w1 ASC, w2 ASC
        LIMIT {m}
    """


#: q_hard_negatives band: measured on the sf0.01 top-20 neighbor cosines
#: before choosing (span 0.178–0.513, median 0.256, p90 0.326) so all
#: three cuts fire — below-lo discards, in-band keeps, ≥hi "disguised
#: positive" exclusions.
_HARDNEG_GATE = dict(n_neg=3, sim_lo=0.22, sim_hi=0.35, knn_k=20)


def q_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hard-negative mining (llmdata/similarity.py hard_negatives): per
    anchor, the 3 hardest negatives from its 20 exact nearest neighbors
    with cosine in [0.22, 0.35) — similar enough to be informative,
    below the positive band. Same blocked-GEMM candidate shape as
    embed_knn_join; band + rank on the round-6 emission; per-anchor
    window bounded by knn_k."""
    from coin_for_rich_spark.llmdata.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, **_HARDNEG_GATE)


def _hard_negatives_oracle_sql() -> str:
    """DuckDB twin of ``q_hard_negatives`` — the embed_knn_join twin's
    full-pairwise construction (zero-norm clamp, full-precision knn_k
    ranking, round-6 emission) composed with the band filter and the
    rounded re-rank, thresholds injected from the SHARED
    ``_HARDNEG_GATE`` dict."""
    g = _HARDNEG_GATE
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_dot_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) = 0 AS is_zero
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
                   CASE WHEN a.is_zero OR b.is_zero THEN 0.0
                        ELSE list_cosine_similarity(a.e, b.e)
                   END AS cos_full
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ),
        knn AS (
            SELECT vec_id, nbr, round(cos_full, 6) AS cosine
            FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY vec_id
                           ORDER BY cos_full DESC, nbr) AS rk
                FROM pairs
            ) WHERE rk <= {g["knn_k"]}
        ),
        band AS (
            SELECT vec_id, nbr, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY cosine DESC, nbr) AS BIGINT) AS neg_rank
            FROM knn
            WHERE cosine >= {g["sim_lo"]!r} AND cosine < {g["sim_hi"]!r}
        )
        SELECT vec_id, nbr, cosine, neg_rank
        FROM band WHERE neg_rank <= {g["n_neg"]}
    """


#: q_intra_dedup segment width: 2-token spans repeat WITHIN salad docs
#: often enough to exercise both branches (measured at sf0.01 before
#: choosing: 250/13715 lines dropped across 181/500 docs; k=3 drops only
#: 3 lines, k=4 zero).
_INTRA_GATE_K = 2


def q_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-line removal (llmdata/dedup.py
    intra_doc_line_dedup): first occurrence of each normalized line
    survives, later repeats inside the SAME document drop, document
    rebuilt in order — the repetition REWRITE line_dedup deliberately
    exempts. Window over (doc, line-hash) — skew bounded by one line's
    repeats within one doc — plus the per-doc rebuild: two shuffles."""
    from coin_for_rich_spark.llmdata.dedup import (
        explode_token_segments,
        intra_doc_line_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    return intra_doc_line_dedup(
        explode_token_segments(docs, k=_INTRA_GATE_K)
    )


def _intra_dedup_oracle_sql() -> str:
    """DuckDB twin of ``q_intra_dedup`` — the k-token segmentation,
    the first-occurrence rule over the lower(trim(line)) identity, and
    the in-order reassembly rebuilt from the raw documents view."""
    k = _INTRA_GATE_K
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ),
        segs AS (
            SELECT doc_id,
                   list_transform(
                       range(0, greatest(
                           CAST(ceil(len(toks) / {k}.0) AS INT), 1)),
                       i -> array_to_string(
                           list_slice(toks, i*{k} + 1, (i+1)*{k}), ' ')
                   ) AS segs
            FROM t
        ),
        e AS (
            SELECT doc_id, i AS pos, segs[i + 1] AS line
            FROM segs, unnest(range(0, len(segs))) AS r(i)
        ),
        occ AS (
            SELECT doc_id, pos, line,
                   CASE WHEN trim(line) != '' THEN
                       row_number() OVER (
                           PARTITION BY doc_id, lower(trim(line))
                           ORDER BY pos) > 1
                   ELSE FALSE END AS dropped
            FROM e
        )
        SELECT doc_id,
               coalesce(string_agg(
                   CASE WHEN NOT dropped THEN line END, chr(10)
                   ORDER BY pos), '') AS clean_text,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_lines_dropped
        FROM occ
        GROUP BY doc_id
    """


_TFIDF_GATE_N = 3


def q_tfidf_keywords(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-doc keyword extraction (llmdata/bm25.py tfidf_keywords): top-3
    terms per document by tf·idf off the SAME standing index bm25_topk
    queries — one term-keyed join, one balanced doc-keyed window, single
    ln per row (no summation), round-6, (score DESC, term ASC)
    deterministic ranks."""
    from coin_for_rich_spark.llmdata.bm25 import bm25_index, tfidf_keywords

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_keywords(bm25_index(docs), top_n=_TFIDF_GATE_N)


def _tfidf_keywords_oracle_sql() -> str:
    """DuckDB twin of ``q_tfidf_keywords`` — postings / doc_freq / N and
    the shared bm25 idf rebuilt from the raw documents view (the same
    CTE construction the bm25_topk twin pins), tf·idf at round-6, ranks
    by the same total order."""
    n = _TFIDF_GATE_N
    return f"""
        WITH terms AS (
            SELECT doc_id,
                   list_filter(
                       list_transform(
                           CASE WHEN length(trim(text)) > 0
                                THEN regexp_split_to_array(trim(text),
                                                           '\\s+')
                                ELSE []::VARCHAR[] END,
                           t -> lower(regexp_replace(t,
                               '(^[^\\p{{L}}\\p{{N}}]+|[^\\p{{L}}\\p{{N}}]+$)',
                               '', 'g'))),
                       t -> t != '') AS terms
            FROM documents
        ),
        postings AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(terms) AS term FROM terms)
            GROUP BY doc_id, term
        ),
        doc_freq AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM postings GROUP BY term
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM terms
        ),
        scored AS (
            SELECT p.doc_id, p.term, p.tf, f.df,
                   round(CAST(p.tf AS DOUBLE) * ln(1.0 +
                       ((s.n - CAST(f.df AS DOUBLE)) + 0.5)
                       / (CAST(f.df AS DOUBLE) + 0.5)), 6) AS score
            FROM postings p
            JOIN doc_freq f USING (term)
            CROSS JOIN stats s
        ),
        ranked AS (
            SELECT *,
                   CAST(row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS BIGINT) AS rank
            FROM scored
        )
        SELECT doc_id, term, tf, df, score, rank
        FROM ranked WHERE rank <= {n}
    """


#: q_sft_render: conversations derive deterministically from the corpus
#: (the c4 12-token segmentation, roles alternating user/assistant from
#: segment 0), so the oracle rebuilds them in SQL; segment width shared
#: here.
_SFT_GATE_K = 12


def q_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT chat-template assembly (llmdata/sft.py): conversations render
    through the fixed ChatML-shaped template into ONE training string
    per doc with the loss-mask character spans over assistant-turn
    content — the artifact supervised fine-tuning consumes. One in-row
    linear fold (struct-accumulator `aggregate`): zero exchanges, zero
    UDFs, zero windows."""
    from coin_for_rich_spark.llmdata.sft import chat_render

    k = _SFT_GATE_K
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        F.col("doc_id").alias("conv_id"),
        F.split(F.col("text"), " ", -1).alias("_toks"),
    )
    nseg = F.ceil(F.size("_toks") / F.lit(float(k))).cast("int")
    convs = toked.select(
        "conv_id",
        F.transform(
            F.sequence(F.lit(0), F.greatest(nseg - 1, F.lit(0))),
            lambda i: F.struct(
                F.when(i % 2 == 0, F.lit("user"))
                .otherwise(F.lit("assistant"))
                .alias("role"),
                F.array_join(
                    F.slice("_toks", i * k + 1, F.lit(k)), " "
                ).alias("content"),
            ),
        ).alias("turns"),
    )
    return chat_render(convs, id_col="conv_id")


def _sft_render_oracle_sql() -> str:
    """DuckDB twin of ``q_sft_render`` — the segment-to-turns derivation,
    the template pieces, the prefix-sum character offsets, and the
    span/audit columns rebuilt from the raw documents view (window
    prefix sums over exploded turns stand in for the engine's in-row
    fold; both compute the same offsets). Spans and text are compared
    byte-for-byte."""
    k = _SFT_GATE_K
    return f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM documents
        ),
        segs AS (
            SELECT doc_id,
                   list_transform(
                       range(0, greatest(
                           CAST(ceil(len(toks) / {k}.0) AS INT), 1)),
                       i -> array_to_string(
                           list_slice(toks, i*{k} + 1, (i+1)*{k}), ' ')
                   ) AS segs
            FROM t
        ),
        turns AS (
            SELECT doc_id, i,
                   CASE WHEN i % 2 = 0 THEN 'user'
                        ELSE 'assistant' END AS role,
                   segs[i + 1] AS content
            FROM segs, unnest(range(0, len(segs))) AS r(i)
        ),
        pieces AS (
            SELECT doc_id, i, role, content,
                   '<|im_start|>' || role || chr(10) || content
                       || '<|im_end|>' || chr(10) AS piece,
                   length('<|im_start|>' || role || chr(10)) AS head_len
            FROM turns
        ),
        offs AS (
            SELECT *,
                   coalesce(sum(length(piece)) OVER (
                       PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS off
            FROM pieces
        ),
        spans AS (
            SELECT doc_id, i, role, piece, content,
                   off + head_len AS s,
                   off + head_len + length(content) AS e
            FROM offs
        )
        SELECT doc_id AS conv_id,
               string_agg(piece, '' ORDER BY i) AS text,
               coalesce(string_agg(
                   CASE WHEN role = 'assistant'
                        THEN s || '-' || e END, ',' ORDER BY i), '')
                   AS loss_spans,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_assistant_turns,
               CAST(sum(length(piece)) AS BIGINT) AS n_chars,
               CAST(coalesce(sum(CASE WHEN role = 'assistant'
                        THEN length(content) END), 0) AS BIGINT)
                   AS loss_chars
        FROM spans
        GROUP BY doc_id
    """


def q_embed_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine kNN JOIN: top-5 neighbors for EVERY embedding row over
    the blocked-GEMM grid (llmdata.similarity.knn_join — per-block partial
    top-k both directions, ≤ n·B·k shuffle rows, bounded per-id final
    aggregation, deterministic (cosine desc, nbr asc) tie contract). The
    oracle recomputes the full pairwise ranking with DuckDB's
    list_cosine_similarity + row_number under the same tie order."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, k=5, n_blocks=4)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round trip, oracle-checked: per document, a valid 8-bit
    grayscale PNG (even ids), PCM16 mono WAV (ids ≡ 1 mod 4), or G.711
    mu-law COMPRESSED WAV (ids ≡ 3 mod 4, fmt tag 7) is ENCODED from
    closed-form content, then DECODED back (pure stdlib+numpy: zlib inflate
    + PNG filter reconstruction / RIFF walk / mu-law integer expansion —
    llmdata.codecs) and reduced to integer-exact value statistics. The
    oracle never sees the bytes — it recomputes count/sum/min/max of the
    decoded pixels/samples directly from the generation formulas (for the
    mu-law leg it evaluates the spec's expansion
    ``((u%16)*8+132) << ((u//16)%8)`` per codeword) — so a green row
    certifies the whole encode→bytes→decode pipeline including a real
    compressed-audio codec, not just metadata plumbing. Bytes are born and
    die inside executor Arrow batches (two chained mapInPandas); compressed
    VIDEO codecs remain the honest stub boundary."""
    media = attach_real_media(load_table(spark, sf_dir, "documents"))
    return decode_media_stats(media)


def q_stream_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4 — watermarked streaming hourly rollup (continuous-aggregate
    analog, create.sql:161-174 + policies :345-381). Append mode emits only
    watermark-closed candles — the open candle is held back exactly like the
    updater (updater.py:177-184); with delay 0 the closed set is every bucket
    whose end <= max(ts), which is what the oracle filters to.

    Out of the gate since r11 (swapped for ``stream_late_correction``,
    whose rollup-cascade stage subsumes the streamed-hourly semantics over
    a HARDER input — a replay with conflicting late corrections); the
    policy-derived watermark keeps its declared ``stream_rollup_5m`` row."""
    import uuid

    from coin_for_rich_spark.streaming.rollup import run_to_memory

    stream = candle_stream(_staged_stream(spark, sf_dir))
    rolled = streaming_ohlcv_rollup(stream, "1h", watermark="0 seconds")
    return run_to_memory(
        rolled,
        f"stream_rollup_1h_{uuid.uuid4().hex}",
        "append",
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def _stream_rollup_1h_oracle_sql() -> str:
    """DuckDB twin of the watermark-0 streamed hourly rollup: append mode +
    watermark 0 emits exactly the buckets whose window end precedes the
    stream's max event time (the open candle is withheld)."""
    return f"""
        WITH c AS ({HOURLY})
        SELECT * FROM c
        WHERE bucket + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
    """


def _doc_scrub_oracle_sql() -> str:
    """DuckDB twin of llmdata.pipeline.scrub_text — out of the gate since
    r11 (swapped for ``span_dedup``); the scrub still executes inside the
    declared ``corpus_curation`` row."""
    return """
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   'https?://[^\\s]+', '<URL>', 'g'),
                   '[0-9]{7,}', '<NUM>', 'g') AS scrubbed_text,
               len(regexp_extract_all(text,
                   '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,})', 1)) AS n_email,
               len(regexp_extract_all(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '(https?://[^\\s]+)', 1)) AS n_url,
               len(regexp_extract_all(
                   regexp_replace(regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       'https?://[^\\s]+', '<URL>', 'g'),
                   '([0-9]{7,})', 1)) AS n_num
        FROM documents
    """


def _epoch_shuffle_oracle_sql(seed: int, n_shards: int) -> str:
    init = (42 + _XXH_P5 + 8) & _U64  # hashLong's seeded accumulator
    seed_mult = ((seed & 0xFFFFFFFF) * _XXH_P1) & _U64  # hashInt's k1
    fmix = [_u64_mix(33), _u64_mul(_XXH_P2), _u64_mix(29), _u64_mul(_XXH_P3), _u64_mix(32)]
    steps = [
        # hashLong(doc_id, 42): k1 = rotl(id*P2,31)*P1; h = init ^ k1;
        # h = rotl(h,27)*P1 + P4; fmix
        _u64_mul(_XXH_P2),
        _u64_rotl(31),
        _u64_mul(_XXH_P1),
        f"xor({init}::UBIGINT, v)",
        _u64_rotl(27),
        _u64_mul(_XXH_P1),
        _u64_add(_XXH_P4),
        *fmix,
        # hashInt(seed_literal, h): h += P5+4; h ^= (seed&0xffffffff)*P1;
        # h = rotl(h,23)*P2 + P3; fmix
        _u64_add(_XXH_P5 + 4),
        f"xor(v, {seed_mult}::UBIGINT)",
        _u64_rotl(23),
        _u64_mul(_XXH_P2),
        _u64_add(_XXH_P3),
        *fmix,
    ]
    ctes = ["h0 AS (SELECT doc_id, CAST(doc_id AS UBIGINT) AS v FROM documents)"]
    for i, expr in enumerate(steps, 1):
        ctes.append(f"h{i} AS (SELECT doc_id, {expr} AS v FROM h{i - 1})")
    joined = ",\n            ".join(ctes)
    return f"""
        WITH {joined},
        fin AS (
            SELECT doc_id,
                   CASE WHEN v >= 9223372036854775808::UBIGINT
                        THEN (v::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                        ELSE v::BIGINT END AS ord
            FROM h{len(steps)}
        )
        SELECT doc_id,
               CAST(((ord % {n_shards}) + {n_shards}) % {n_shards} AS INT) AS shard,
               ord
        FROM fin
    """


def _brand_revenue_oracle_sql() -> str:
    """DuckDB twin of ``q_brand_revenue`` (J2 left-outer decorate) —
    out of the gate since r15 (swapped for ``video_keyframes_avc``). The
    J2 family keeps gate presence through top_customers /
    region_supplier_volume (multi-hop joins over the same fact)."""
    return f"""
        SELECT p_brand, CAST({REVENUE_DEC} AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY p_brand
    """


def _count_distinct_oracle_sql() -> str:
    """DuckDB twin of ``q_count_distinct`` (A7 exact tuple-distinct +
    HLL accuracy contract) — out of the gate since r15 (swapped for
    ``winnow_overlap``); the sketch contract keeps its own pins in tests/test_sketches.py."""
    return """
        SELECT l_returnflag,
               count(DISTINCT (l_partkey, l_suppkey)) AS n_exact,
               TRUE AS approx_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """


def _gap_detect_oracle_sql() -> str:
    """DuckDB twin of ``q_gap_detect`` (W1) — out of the gate since r13
    (swapped for ``stream_rollup_1d``).
    Fractional seconds: EXTRACT(EPOCH FROM (next - time)) in the
    reference (queries.py:54-75) keeps the µs fraction; the same
    integer-µs diff / 1e6 double division runs on both engines."""
    return """
        SELECT user_id, ts AS gap_start, next_time AS gap_end,
               (epoch_us(next_time) - epoch_us(ts)) / 1000000.0 AS gap_seconds
        FROM (
            SELECT user_id, ts,
                   lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_time
            FROM events
        )
        WHERE (epoch_us(next_time) - epoch_us(ts)) / 1000000.0 > 43200
    """


def _embed_knn_join_oracle_sql() -> str:
    """DuckDB twin of ``q_embed_knn_join`` — full pairwise cosine ranking,
    same tie order (cosine desc, nbr asc) as the blocked-GEMM operator.
    Out of the gate since r14 (swapped for ``video_keyframes``). The
    exact-cosine family keeps gate presence via ``embed_neardup`` (same
    GEMM-blocked kernel) and the ANN recall rows it certifies."""
    return """
        WITH v AS (
            -- zero-norm contract (r9 edge-gate adjudication): the engine
            -- clamps zero norms to 1 (_normed_rows), so a zero vector
            -- scores cosine EXACTLY 0.0 against everything — never NaN,
            -- never excluded. Encode the same rule here; non-degenerate
            -- rows keep DuckDB's native cosine (full-precision ranking).
            SELECT vec_id, embedding::DOUBLE[] AS e,
                   list_dot_product(embedding::DOUBLE[],
                                    embedding::DOUBLE[]) = 0 AS is_zero
            FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS vec_id, b.vec_id AS nbr,
                   CASE WHEN a.is_zero OR b.is_zero THEN 0.0
                        ELSE list_cosine_similarity(a.e, b.e)
                   END AS cos_full
            FROM v a JOIN v b ON a.vec_id <> b.vec_id
        ),
        ranked AS (
            -- rank on FULL precision (the Spark side ranks unrounded
            -- BLAS cosines); round only for the emitted column
            SELECT vec_id, nbr, cos_full,
                   CAST(row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY cos_full DESC, nbr
                   ) AS INT) AS rank
            FROM pairs
        )
        SELECT vec_id, rank, nbr, round(cos_full, 6) AS cosine
        FROM ranked WHERE rank <= 5
    """


def _media_decode_oracle_sql() -> str:
    """DuckDB twin of ``q_media_decode`` — recomputes the statistics of
    the DECODED values straight from the generation formulas
    (attach_real_media docstring): it can't parse PNG/WAV and doesn't
    need to — the Spark side must arrive at the same integers THROUGH
    the bytes (for the mu-law leg it evaluates the G.711 expansion
    per codeword). Out of the gate since r13 (swapped for
    ``web_preprocess``)."""
    return """
            WITH png_px AS (
                SELECT doc_id,
                       unnest(generate_series(
                           0, (doc_id % 31 + 1) * (doc_id % 23 + 1) - 1)) AS k
                FROM documents WHERE doc_id % 2 = 0
            ),
            png_v AS (
                SELECT doc_id,
                       ((k % (doc_id % 31 + 1)) * 7
                        + (k // (doc_id % 31 + 1)) * 13 + doc_id) % 256 AS v
                FROM png_px
            ),
            png_feats AS (
                SELECT doc_id AS media_id, 'png' AS kind,
                       CAST(min(doc_id) % 31 + 1 AS INT) AS width,
                       CAST(min(doc_id) % 23 + 1 AS INT) AS height,
                       count(*) AS n_values,
                       CAST(sum(v) AS BIGINT) AS value_sum,
                       CAST(min(v) AS BIGINT) AS value_min,
                       CAST(max(v) AS BIGINT) AS value_max
                FROM png_v GROUP BY doc_id
            ),
            wav_s AS (
                SELECT doc_id,
                       unnest(generate_series(0, doc_id % 977 + 99)) AS t
                FROM documents WHERE doc_id % 4 = 1
            ),
            wav_v AS (
                SELECT doc_id, (t * 31 + doc_id * 17) % 65521 - 32760 AS v
                FROM wav_s
            ),
            wav_feats AS (
                SELECT doc_id AS media_id, 'wav' AS kind,
                       CAST(NULL AS INT) AS width,
                       CAST(NULL AS INT) AS height,
                       count(*) AS n_values,
                       CAST(sum(v) AS BIGINT) AS value_sum,
                       CAST(min(v) AS BIGINT) AS value_min,
                       CAST(max(v) AS BIGINT) AS value_max
                FROM wav_v GROUP BY doc_id
            ),
            -- mu-law leg: codeword c(t) = (13t + 17i) % 256, expanded by
            -- the G.711 integer expansion (u = complement; t = biased
            -- mantissa << exponent; sign from bit 7) — the same closed
            -- form the Spark-side decoder implements in numpy.
            ulaw_c AS (
                SELECT doc_id,
                       (t * 13 + doc_id * 17) % 256 AS c
                FROM (
                    SELECT doc_id,
                           unnest(generate_series(0, doc_id % 977 + 99)) AS t
                    FROM documents WHERE doc_id % 4 = 3
                )
            ),
            ulaw_v AS (
                SELECT doc_id,
                       CASE WHEN (255 - c) >= 128
                            THEN 132 - (((255 - c) % 16) * 8 + 132)
                                       * (1 << (((255 - c) // 16) % 8))
                            ELSE (((255 - c) % 16) * 8 + 132)
                                 * (1 << (((255 - c) // 16) % 8)) - 132
                       END AS v
                FROM ulaw_c
            ),
            ulaw_feats AS (
                SELECT doc_id AS media_id, 'wav_ulaw' AS kind,
                       CAST(NULL AS INT) AS width,
                       CAST(NULL AS INT) AS height,
                       count(*) AS n_values,
                       CAST(sum(v) AS BIGINT) AS value_sum,
                       CAST(min(v) AS BIGINT) AS value_min,
                       CAST(max(v) AS BIGINT) AS value_max
                FROM ulaw_v GROUP BY doc_id
            )
            SELECT * FROM png_feats
            UNION ALL
            SELECT * FROM wav_feats
            UNION ALL
            SELECT * FROM ulaw_feats
        """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# the fixed-width streamed resolutions neither declared (5m, 1D) nor
# pinned with an explicit watermark (1h): with those three they cover the
# reference's whole fixed-width conagg family (create.sql:345-381). '1M'
# stays batch-only: calendar months have no fixed streaming window width.
_STREAM_ROLLUP_INTERVALS = ("15m", "30m", "6h", "12h", "7D")


def pinned_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every pinned row, shaped like ``__spark_entry__.queries()``."""
    return {
        "gap_detect": q_gap_detect,
        "doc_scrub": q_doc_scrub,
        "count_distinct": q_count_distinct,
        "brand_revenue": q_brand_revenue,
        "epoch_shuffle": q_epoch_shuffle,
        "simhash_pairs": q_simhash_pairs,
        "dsir_select": q_dsir_select,
        "semdedup": q_semdedup,
        "bloom_probe": q_bloom_probe,
        "cms_topgrams": q_cms_topgrams,
        "contamination_spans": q_contamination_spans,
        "warc_extract": q_warc_extract,
        "tar_export": q_tar_export,
        "length_quantiles": q_length_quantiles,
        "pii_audit": q_pii_audit,
        "gopher_filter": q_gopher_filter,
        "c4_clean": q_c4_clean,
        "bm25_topk": q_bm25_topk,
        "pmi_collocations": q_pmi_collocations,
        "hard_negatives": q_hard_negatives,
        "intra_dedup": q_intra_dedup,
        "tfidf_keywords": q_tfidf_keywords,
        "sft_render": q_sft_render,
        "embed_knn_join": q_embed_knn_join,
        "media_decode": q_media_decode,
        "stream_rollup_1h": q_stream_rollup_1h,
        **{
            f"stream_rollup_{iv.lower()}": functools.partial(
                q_stream_rollup, interval=iv
            )
            for iv in _STREAM_ROLLUP_INTERVALS
        },
    }


def pinned_oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every pinned row but ``simhash_pairs``, shaped
    like ``__spark_entry__.oracle_sql()``."""
    return {
        "gap_detect": _gap_detect_oracle_sql(),
        "doc_scrub": _doc_scrub_oracle_sql(),
        "count_distinct": _count_distinct_oracle_sql(),
        "brand_revenue": _brand_revenue_oracle_sql(),
        "epoch_shuffle": _epoch_shuffle_oracle_sql(seed=7, n_shards=8),
        "dsir_select": _dsir_select_oracle_sql(),
        "semdedup": _semdedup_oracle_sql(),
        "bloom_probe": _bloom_probe_oracle_sql(),
        "cms_topgrams": _cms_topgrams_oracle_sql(),
        "contamination_spans": _contamination_spans_oracle_sql(),
        "warc_extract": _warc_extract_oracle_sql(),
        "tar_export": _tar_export_oracle_sql(),
        "length_quantiles": _length_quantiles_oracle_sql(),
        "pii_audit": _pii_audit_oracle_sql(),
        "gopher_filter": _gopher_filter_oracle_sql(),
        "c4_clean": _c4_clean_oracle_sql(),
        "bm25_topk": _bm25_topk_oracle_sql(),
        "pmi_collocations": _pmi_collocations_oracle_sql(),
        "hard_negatives": _hard_negatives_oracle_sql(),
        "intra_dedup": _intra_dedup_oracle_sql(),
        "tfidf_keywords": _tfidf_keywords_oracle_sql(),
        "sft_render": _sft_render_oracle_sql(),
        "embed_knn_join": _embed_knn_join_oracle_sql(),
        "media_decode": _media_decode_oracle_sql(),
        "stream_rollup_1h": _stream_rollup_1h_oracle_sql(),
        **{
            f"stream_rollup_{iv.lower()}": _stream_rollup_oracle_sql(iv)
            for iv in _STREAM_ROLLUP_INTERVALS
        },
    }
