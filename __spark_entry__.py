"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 (reference file:line
cited in the implementing function's docstring inside coin_for_rich_spark/),
expressed Spark-first; ``oracle_sql()`` holds the DuckDB-ANSI equivalent run
by the driver at sf0.01.

Numeric-parity policy (see coin_for_rich_spark/functions/numbers.py): every
sum over floating-point measures goes through DECIMAL(18,2) in BOTH engines —
double summation is order-dependent under Spark's parallel partial
aggregation, decimal summation is exact — then is cast back to double.
Timestamps: the testdata's nanosecond timestamps are truncated to
microseconds identically on both sides (integer division, see
coin_for_rich_spark/sources/tables.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coin_for_rich_spark.operators import (
    asof_join,
    cascade_rollup_multi,
    common_keys_top30,
    count_distinct_pairs,
    dedup_pk,
    detect_gaps,
    geo_daily_return,
    latest_per_key,
    moving_average,
    ohlcv_rollup,
    range_join,
    sessionize,
    recompute_is_trading,
    retention_anti_join,
    top_k_with_other,
    weekly_return,
)
from coin_for_rich_spark.llmdata import (
    ann_index_knn,
    attach_real_media,
    attach_real_video,
    demux_video_frames,
    sample_real_frames,
    cross_corpus_contamination,
    decode_media_stats,
    cosine_knn,
    knn_join,
    dedup_clusters,
    score_char_lm,
    train_char_lm,
    embedding_neardup_pairs,
    doc_profile,
    exact_dedup,
    explode_token_segments,
    line_dedup,
    hash_sample,
    hash_sample_predicate,
    repeated_span_dedup,
    materialize_ann_index,
    pick_canonical,
    pq_train,
    quantize_embeddings,
    release_intermediate_caches,
    scrub_text,
    lsh_ann_knn,
    minhash_pairs,
    ngram_jaccard_pairs,
    normalize_text,
    pack_sequences,
    simhash_pairs,
    domain_mix_sample,
    train_bpe,
    encode_bpe,
    build_dedup_index,
    incremental_dedup,
    epoch_shuffle,
    leakage_safe_split,
    cross_split_pairs,
)
from coin_for_rich_spark.llmdata.textstats import LANG_MARKERS, STOPWORDS
from coin_for_rich_spark.functions.partitioning import ensure_parallelism
from coin_for_rich_spark.plans import read_ohlcvs
from coin_for_rich_spark.sources import (
    build_fetch_plan,
    candles_view,
    fetch_pages,
    load_table,
)
from coin_for_rich_spark.streaming import (
    ParquetMergeSink,
    candle_stream,
    format_wire_candles,
    latest_value_serve,
    parse_wire_candles,
    read_ingested_corpus,
    run_ingest,
    stage_stream_chunks,
    streaming_corpus_ingest,
    streaming_ohlcv_rollup,
)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

# Candle relation over `events` shared by the oracle SQL below: event_type is
# the symbol key, value is price and per-tick volume (FIXTURES.md §6 mapping).
def _candle_sql(bucket_expr: str, source: str = "events") -> str:
    return f"""
        SELECT {bucket_expr} AS bucket,
               event_type AS symbol,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
               count(*) AS n_trades
        FROM {source}
        GROUP BY 1, 2
    """


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _epoch_bucket(width: int) -> str:
    # identical to functions.timeutils.time_bucket: origin-aligned floor
    # (TimescaleDB's 2000-01-03 Monday origin — phase-neutral for widths
    # dividing a day, Monday-aligning 7D/14D) via integer arithmetic,
    # rebuilt as a naive timestamp. // floors in DuckDB and epochs here are
    # post-origin, so the mod is a floor-mod either way.
    origin = 946_857_600
    return (
        f"make_timestamp(((((CAST(floor(epoch(ts)) AS BIGINT) - {origin}) "
        f"// {width}) * {width}) + {origin}) * 1000000)"
    )


HOURLY = _candle_sql("date_trunc('hour', ts)")
DAILY = _candle_sql("date_trunc('day', ts)")

# every resolution's direct-from-ticks bucket expression — the candles_all
# oracle recomputes each resolution independently of the Spark side's cascade
_RES_BUCKET_SQL: dict[str, str] = {
    "5m": _epoch_bucket(300),
    "15m": _epoch_bucket(900),
    "30m": _epoch_bucket(1800),
    "1h": "date_trunc('hour', ts)",
    "3h": _epoch_bucket(10800),
    "6h": _epoch_bucket(21600),
    "12h": _epoch_bucket(43200),
    "1D": "date_trunc('day', ts)",
    "7D": _epoch_bucket(604800),
    "14D": _epoch_bucket(1209600),
    "1M": "date_trunc('month', ts)",
}

CANDLES_ALL_SQL = "\nUNION ALL\n".join(
    f"SELECT *, '{res}' AS resolution FROM ({_candle_sql(bucket)})"
    for res, bucket in _RES_BUCKET_SQL.items()
)

# sum of the discounted price routed through DECIMAL — one double multiply
# (deterministic), cast at scale 4 (the true product has ≤4 decimal digits, so
# the cast is exact and engine-independent; scale 2 would sit on rounding
# ties), then an exact decimal accumulation. See functions/numbers.py.
REVENUE_DEC = "sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))"

# shared by the doc_stats / doc_langid oracles and the corpus_curation
# pipeline oracle that composes them as CTEs
# match-normalization mirror of textstats.match_tokens: lowercase + strip
# edge punctuation before lexicon matching
_MATCH_TOKS_SQL = (
    "list_transform(toks, x -> lower(regexp_replace(x, "
    "'(^[^\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+$)', '', 'g')))"
)

DOC_STATS_SQL = f"""
    WITH t AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) > 0
                    THEN regexp_split_to_array(trim(text), '\\s+')
                    ELSE []::VARCHAR[] END AS toks,
               length(text) AS n_chars,
               len(regexp_extract_all(text, '([^\\p{{L}}\\p{{N}}\\s])', 1)) AS n_punct
        FROM documents
    ),
    s AS (
        SELECT doc_id, n_chars, len(toks) AS n_tokens, n_punct, toks,
               len(list_filter({_MATCH_TOKS_SQL},
                   x -> x IN ({_sql_list(STOPWORDS)}))) AS n_stopwords
        FROM t
    )
    SELECT doc_id, n_chars, n_tokens, n_punct, n_stopwords,
           -- guarded like textstats.doc_stats: a zero-char/zero-token doc
           -- scores 0.0, never NaN (the engine's documented contract —
           -- adjudicated green from the r9 edge-gate divergence)
           CASE WHEN n_chars > 0
                THEN CAST(n_punct AS DOUBLE) / n_chars
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0
                THEN CAST(n_stopwords AS DOUBLE) / n_tokens
                ELSE 0.0 END AS stopword_ratio,
           CASE WHEN n_tokens > 0 THEN
               CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / n_tokens
           ELSE 0.0 END AS mean_word_len,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN CAST(n_punct AS DOUBLE) / n_chars > 0.2 THEN 'punct_heavy'
                WHEN CAST(n_stopwords AS DOUBLE) / n_tokens > 0.05 THEN 'fluent'
                ELSE 'ok' END AS quality_bucket
    FROM s
"""

DOC_LANGID_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) > 0
                    THEN regexp_split_to_array(trim(text), '\\s+')
                    ELSE []::VARCHAR[] END AS toks
        FROM documents
    ),
    m AS (SELECT doc_id, {_MATCH_TOKS_SQL} AS toks FROM t),
    s AS (
        SELECT doc_id,
               len(list_filter(toks, x -> x IN ({_sql_list(LANG_MARKERS['en'])}))) AS score_en,
               len(list_filter(toks, x -> x IN ({_sql_list(LANG_MARKERS['es'])}))) AS score_es,
               len(list_filter(toks, x -> x IN ({_sql_list(LANG_MARKERS['de'])}))) AS score_de
        FROM m
    )
    SELECT doc_id, score_en, score_es, score_de,
           CASE WHEN score_en >= score_es AND score_en >= score_de THEN 'en'
                WHEN score_es >= score_de THEN 'es'
                ELSE 'de' END AS pred_lang
    FROM s
"""


# exact 3-gram Jaccard pairs — the ngram_jaccard oracle, reused by the
# minhash recall-property oracle to recompute the exact pair count in SQL
NGRAM_JACCARD_SQL = """
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(toks) >= 3
                   THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                   ELSE []::VARCHAR[] END) AS shingles
        FROM t
    ),
    sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
           CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.2
"""


# ---------------------------------------------------------------------------
# queries — SURVEY §2 operators (Spark side)
# ---------------------------------------------------------------------------


# every resolution the engine serves: the 8 reference continuous aggregates
# (create.sql:105-223) plus the 3 accepted-but-unbound router intervals we
# define (P8 divergence, readers.py:180-289)
_ALL_RESOLUTIONS = (
    "5m", "15m", "30m", "1h", "3h", "6h", "12h", "1D", "7D", "14D", "1M"
)


def q_candles_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 — the ENTIRE 11-resolution candle family as one relation with a
    ``resolution`` column, built the way a 100 TB deployment maintains it:
    one scan of the ticks into a 5m base rollup (the finest resolution),
    then every resolution CASCADES from that base in ONE fused shuffle
    (operators/candles.cascade_rollup_multi) — bucket nesting makes the
    cascade bit-exact vs re-aggregating the raw ticks (every coarser bucket
    boundary is 300s-aligned, calendar months included), the coarse
    aggregation reads ~Δ/5m fewer rows than the tick table, and the whole
    family costs two exchanges total instead of eleven scans. The oracle
    recomputes each resolution directly from the raw rows (UNION ALL of the
    11 direct SQL rollups), so a green row proves both every resolution's
    semantics AND the cascade's exactness — the r2 ``candles_1d_cascade``
    check, generalized to the whole family."""
    cv = candles_view(spark, sf_dir)
    base = ohlcv_rollup(cv, "5m")
    return cascade_rollup_multi(base, list(_ALL_RESOLUTIONS))


def _promote_staged_dir(built: str, final: str) -> None:
    """Atomically promote a staged build directory to its final path.

    The rename's OSError is swallowed ONLY when it means a concurrent build
    already promoted a complete copy (EEXIST / ENOTEMPTY on the target);
    any other failure — permissions, a cross-device TMPDIR — re-raises at
    the root cause instead of surfacing later as an unrelated
    FileNotFoundError. ``final`` must exist afterwards either way, else we
    fail loud with context."""
    import errno
    import os

    try:
        os.rename(built, final)
    except OSError as exc:
        if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            raise
    if not os.path.isdir(final):
        raise RuntimeError(
            f"staged promotion to {final!r} completed without error but "
            "the directory is absent"
        )


# gate-artifact paths memoized per (artifact name, sf_dir)
_BUILT_ONCE: dict[tuple[str, str], str] = {}


def _build_once(
    sf_dir: str, table: str, name: str, tag: str, build: Callable[[str], None]
) -> str:
    """Build-or-reuse the gate artifact ``name`` over ``{sf_dir}/{table}``.

    Rollup store, dedup index, IVF-PQ index and stream replays are built
    once per source identity and reused across processes — the correctness
    gate runs each query in its OWN process. The artifact lives at
    ``$TMPDIR/cfr_{name}_{key}``; ``key`` hashes the source file's path,
    size and mtime with ``tag``, which names everything else that shapes
    the bytes (loaded schema, build constants, layout version). So a
    regenerated testdata dir or a changed build can never serve a stale
    artifact — a layout change MUST change the tag. A missing artifact is
    built by ``build(path)`` in a staging dir and promoted by one atomic
    rename, so a reader never sees a half-built one; the staging dir is
    removed whether the build succeeds or raises."""
    import hashlib
    import os
    import shutil
    import tempfile

    memo = (name, sf_dir)
    if memo not in _BUILT_ONCE:
        try:
            st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
            ident = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
        except OSError:
            ident = sf_dir
        key = hashlib.md5(f"{ident}|{tag}".encode()).hexdigest()[:12]
        final = os.path.join(tempfile.gettempdir(), f"cfr_{name}_{key}")
        if not os.path.isdir(final):
            stage = tempfile.mkdtemp(prefix=f"cfr_{name}_stage_")
            try:
                built = os.path.join(stage, name)
                build(built)
                _promote_staged_dir(built, final)
            finally:
                shutil.rmtree(stage, ignore_errors=True)
        _BUILT_ONCE[memo] = final
    return _BUILT_ONCE[memo]


def _point_symlink(target: str, link: str) -> None:
    """Atomically (re)point ``link`` at ``target``.

    The oracle SQL strings are generated without an ``sf_dir`` argument,
    so they read gate artifacts at a FIXED $TMPDIR name. Serving that name
    through a symlink to a per-source-identity store directory means two
    processes gating DIFFERENT sources can never rebuild over each other's
    in-flight state (the r10 failure: a concurrent sf0.001 pytest run
    rmtree'd the shared ingest dir mid-sf1-stream). Same-source concurrent
    builds still race only against identical content. A legacy plain
    directory at ``link`` is removed once — and if any of it survives the
    first sweep (a file being written into it concurrently), the second
    rmtree raises instead of letting ``os.replace`` die later with a
    less-actionable EISDIR/ENOTEMPTY.

    Residual cross-SOURCE race (r10 ADVICE): the link name itself is a
    shared mutable pointer, so a concurrent gate on a DIFFERENT source
    could repoint it between this repoint and an oracle read through the
    bare link name. This is ACCEPTED and documented rather than closed:
    the read side cannot pin the target at SQL-generation time, because
    every harness generates all oracle SQL before any engine leg runs
    (see _gate_store_path — an r11 realpath-at-generation attempt read
    the PREVIOUS process's store and the edge axis caught it), and the
    harness convention is one gate at a time. Same-source concurrency
    stays safe: builds land in disjoint per-identity stores and the
    repoint is atomic."""
    import os
    import shutil

    if not os.path.islink(link) and os.path.isdir(link):
        shutil.rmtree(link, ignore_errors=True)
        if os.path.isdir(link):
            shutil.rmtree(link)  # fail loud with the root-cause OSError
    tmp = f"{link}.lnk{os.getpid()}"
    try:
        os.remove(tmp)
    except FileNotFoundError:
        pass
    os.symlink(target, tmp)
    os.replace(tmp, link)


def _gate_store_path(link_name: str) -> str:
    """The fixed $TMPDIR link name a gate-artifact oracle reads through.

    Deliberately NOT resolved to its target here: every harness (driver,
    selfcheck, scale_gate) generates ALL oracle SQL once, BEFORE any query
    runs — at that point the link still targets whatever the PREVIOUS
    process gated, so realpath-at-generation would pin the oracle to a
    stale store (an r11 attempt did exactly that; the edge axis caught it
    because edge stores differ in VALUES, while same-value stores made it
    look green). Lazy resolution at oracle EXECUTION time reads the store
    the engine leg just built and repointed. The residual exposure — a
    gate on a DIFFERENT source repointing the shared link between this
    process's engine run and its oracle read — is accepted and documented:
    the harness never runs gates concurrently, and _point_symlink keeps
    same-source concurrency safe (disjoint per-identity stores)."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), link_name)


def _rollup_store(cv: DataFrame, sf_dir: str) -> dict[str, str]:
    """M4 — the materialized rollup family over ``cv`` (the candle view of
    ``sf_dir``) as {resolution: table path}: materialized once per source
    identity, every materialized-route read is served from the sink
    tables."""
    import os

    from coin_for_rich_spark.sources.store import materialize_rollups

    # schema fingerprint: a loader type-normalization change re-stages;
    # bucketing-version tag: a semantic change to time_bucket (e.g. the
    # r7 Monday week-origin fix) must rebuild the store, or a stale 7D
    # table would keep serving Thursday-aligned candles
    store = _build_once(
        sf_dir,
        "events",
        "rollups",
        cv.schema.simpleString() + "|bkt-mon1",
        lambda path: materialize_rollups(cv, path),
    )
    return {
        name.removeprefix("candles_"): os.path.join(store, name)
        for name in os.listdir(store)
        if name.startswith("candles_")
    }


def q_chart_read_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The main read path (readers.py:126-368) through BOTH routes, tagged by
    a ``route`` column and required to be value-identical:

    - ``direct`` — route interval → on-the-fly hourly rollup → key + time
      filters → DESC limit 500 → ASC re-sort (P1/P2/P8, §2.6);
    - ``materialized`` — M4, the materialize→route round trip (the
      reference's conagg↔router relationship, readers.py:248-289 +
      create.sql:105-223): the 8-resolution rollup family is written to
      date-partitioned sink tables (sources.store.materialize_rollups) and
      the same read is served from the candles_1h sink table, never the raw
      ticks (plan pinned in tests/test_store.py).

    The oracle emits the one correct answer under both tags, so a green row
    is exactly the route-equivalence contract the reference's
    REFRESH MATERIALIZED VIEW maintenance promises its readers."""
    from coin_for_rich_spark.sources.store import load_rollups

    cv = candles_view(spark, sf_dir)
    kwargs = dict(start="2024-01-03 00:00:00", end="2024-01-29 00:00:00",
                  limit=500)
    direct = read_ohlcvs(cv, "purchase", "1h", **kwargs)
    rollups = load_rollups(spark, _rollup_store(cv, sf_dir))
    mat = read_ohlcvs(cv, "purchase", "1h", **kwargs, rollups=rollups)
    return direct.withColumn("route", F.lit("direct")).unionByName(
        mat.withColumn("route", F.lit("materialized"))
    )


def q_chart_read_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled chart read (J4+A8, readers.py:210-244): each spine point
    looks up its fetched candle or becomes an avg-filled dummy candle with
    volume 0, under the reference's exact spine semantics (serve-pass fix,
    round 10): the spine anchors at min(FETCHED bucket) — never at ``start``
    — runs to ``end``, and only its latest ``limit`` grid points survive
    (the reference DESC-limits its generate_series before the join,
    `readers.py:228-238`), so real rows older than the clamped spine drop
    out of the response. ``end`` is pinned to max(ts) floored to the minute
    — the deterministic stand-in for the reference's default now-1min anchor
    (`readers.py:171-175`)."""
    cv = candles_view(spark, sf_dir)
    end = cv.agg(F.max("ts")).first()[0]
    return read_ohlcvs(cv, "click", "1h", end=end, limit=500, empty_ts=True)


def q_common_keys_30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — common_basequote_30 (create.sql:94-99): keys on >2 counterparties,
    first 30 in key order."""
    li = load_table(spark, sf_dir, "lineitem")
    return common_keys_top30(li, "l_partkey", "l_suppkey", min_across=2, top_n=30)


def q_top20_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/W4 — top_20_quoted_vol (create.sql:280-316): top-20 by summed
    measure + 'Other' residual bucket."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "disc_price",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"),
    )
    return top_k_with_other(li, "l_partkey", "disc_price", k=20)


def q_weekly_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/W6 — weekly_return view (create.sql:318-337)."""
    return weekly_return(candles_view(spark, sf_dir))


def q_geo_daily_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W3 — geo_daily_return view (create.sql:225-278), now = max(ts)."""
    return geo_daily_return(candles_view(spark, sf_dir))


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — LATERAL top-1-per-group (queries.py:19-31) as a per-key window."""
    ev = load_table(spark, sf_dir, "events")
    return latest_per_key(ev, ["user_id"], "ts", "event_id")


def q_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r13
    # swapped for `stream_rollup_1d` (COVERAGE.md): W1's LEAD-gap contract
    # stays pinned hash-exact by tests/test_operators.py::
    # test_gap_detect_matches_duckdb_twin via _gap_detect_oracle_sql, and
    # the LEAD window family keeps gate coverage through geo_daily_return,
    # the only declared row that runs the bounded-LEAD fill
    # (operators.gapfill.lead_bounded_fill, W2); chart_read_gapfill's
    # gap_fill_series has no LEAD window (agg → explode → project)
    """W1 — LEAD-based gap detection (queries.py:54-61), 12h threshold."""
    ev = load_table(spark, sf_dir, "events")
    return detect_gaps(ev, ["user_id"], "ts", min_gap_seconds=43200)


def q_is_trading(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — is_trading recompute (daily.sql:1-40), now = max(ts)."""
    ev = load_table(spark, sf_dir, "events")
    return recompute_is_trading(ev, ["user_id"], "ts")


def q_retention_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/M2 — retention anti-join (delete_queries.sql:3-10): rows outside the
    top-30 key list, summarized per event_type."""
    ev = load_table(spark, sf_dir, "events")
    keep = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "user_id")
        .limit(30)
    )
    removed = retention_anti_join(ev, keep, ["user_id"])
    return removed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("checksum"),
    )


def q_dedup_pk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/J6 — PK dedup (insert_queries.sql:8-15): one row per
    (user_id, event_type, minute), keep lowest event_id; summarized."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "minute", F.date_trunc("minute", "ts")
    )
    deduped = dedup_pk(ev, ["user_id", "event_type", "minute"], "event_id")
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("event_id").alias("checksum"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/windowed.sessionize): per-user
    sessions split at >12h silences (the same threshold as gap_detect),
    summarized as start/end/count/duration — the W1 LAG family promoted
    from detecting gaps to segmenting by them."""
    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, keys=["user_id"], time_col="ts", gap_seconds=43200)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each click event decorated with the
    user's latest purchase value at or before the click — the canonical
    time-series decoration the reference writes as a LATERAL latest-row
    query (queries.py:19-31), here as one union + ordered carry-forward
    window (single shuffle, no range join). Oracle: DuckDB's native
    ASOF LEFT JOIN."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(
        clicks, purchases, on=["user_id"],
        payload={"value": "last_purchase_value"},
    )


def _range_join_inputs(spark: SparkSession, sf_dir: str):
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("event_id", "ts", "user_id", "value")
    # fresh scan for the interval side: deriving both join inputs from ONE
    # DataFrame lineage makes user_id==user_id a same-exprId self-join —
    # Spark disambiguates it correctly but logs `trivially true equals
    # predicate` on every gate/bench run (VERDICT r8 ask #6). A second read
    # gives distinct attribute ids (and an identical physical scan).
    ev2 = load_table(spark, sf_dir, "events")
    day_min = ev2.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.min("ts").alias("day_min"))
    w_short = day_min.select(
        "user_id",
        F.col("day_min").alias("start"),
        (F.col("day_min") + F.expr("INTERVAL 90 MINUTES")).alias("end"),
        F.lit("w90").alias("win"),
    )
    w_long = day_min.select(
        "user_id",
        (F.col("day_min") + F.expr("INTERVAL 30 MINUTES")).alias("start"),
        (F.col("day_min") + F.expr("INTERVAL 240 MINUTES")).alias("end"),
        F.lit("w240").alias("win"),
    )
    return pts, w_short.unionByName(w_long)


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators/rangejoin.py — declared r8, swapped in
    for `token_quantiles` per VERDICT r7 ask #2): each event joined to every
    per-(user, day) activity window containing it. Exercises the full
    relational contract in one declared row: INNER and LEFT modes (tagged,
    unioned), half-open [start, end) bounds (a point at `end` must not
    match), OVERLAPPING multi-bucket intervals at bucket_seconds=3600 (the
    240-minute window spans 4-5 buckets and overlaps the 90-minute one, so
    a point can match 0, 1, or 2 intervals), and the extra-equality-keys
    path (`on=["user_id"]`). The oracle re-derives the identical interval
    relation and runs DuckDB's native inequality joins."""
    pts, ivs = _range_join_inputs(spark, sf_dir)
    kwargs = dict(
        point_ts="ts", start_col="start", end_col="end",
        on=["user_id"], bucket_seconds=3600,
    )
    inner = range_join(pts, ivs, how="inner", **kwargs)
    left = range_join(pts, ivs, how="left", **kwargs)
    out = inner.withColumn("mode", F.lit("inner")).unionByName(
        left.withColumn("mode", F.lit("left"))
    )
    # unmatched left rows carry sentinel values instead of NULLs: the gate's
    # value-hash treatment of NULL timestamps is engine-dependent, and the
    # (sentinel-tagged) rows prove the left-mode contract just as hard
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    return out.select(
        "event_id", "ts", "user_id", "value",
        F.coalesce("start", epoch).alias("start"),
        F.coalesce("end", epoch).alias("end"),
        F.coalesce("win", F.lit("none")).alias("win"),
        "mode",
    )


def q_doc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r11
    # swapped for `span_dedup` (COVERAGE.md): the scrub pass is pure
    # regexp column algebra, fully value-pinned in tests/test_pipeline.py,
    # and it still EXECUTES inside the declared corpus_curation pipeline
    """PII/noise redaction pass + per-doc audit counts."""
    return scrub_text(load_table(spark, sf_dir, "documents"))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring dedup (the ExactSubstr tier of the dedup
    ladder, Lee et al. 2022) over the full documents table: every 8-token
    span occurring >= 2 times corpus-wide is removed from every occurrence
    but the global (min doc, min pos) winner, marked ranges merged per doc
    (llmdata.dedup.repeated_span_dedup — r11 swap-in for ``doc_scrub``).
    The oracle re-derives the whole pass from first principles in DuckDB:
    list-comprehension window occurrences keyed by the span STRING (so a
    green row also bounds the engine's 128-bit hash-key trade), ROW-min
    global winners, gaps-and-islands range merging, and the token-index
    rebuild — proven hash-exact at sf0.1 AND sf1 before declaration
    (tests/test_span_dedup.py, .scale/SPAN_DEDUP_SCALING.json)."""
    return repeated_span_dedup(load_table(spark, sf_dir, "documents"), window=8)


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECLARED r12 (rotation discipline: oracle committed and proven at
    # three scales in r11 BEFORE declaration — _span_corruption_oracle_sql)
    """T5-style span corruption over the documents table, serialized to
    hash-comparable strings (sentinel-marked encoder input + decoder
    target + per-doc mask count)."""
    from coin_for_rich_spark.llmdata.pipeline import span_corruption

    out = span_corruption(
        load_table(spark, sf_dir, "documents"), density=0.15, span_len=3, seed=0
    )
    return out.select(
        "doc_id",
        F.array_join("input_tokens", " ").alias("input_text"),
        F.array_join("target_tokens", " ").alias("target_text"),
        "n_masked",
    )


# deterministic HTML/URL synthesis shared VERBATIM by q_web_preprocess and
# its oracle: documents.text wrapped in adversarial markup (script/style/
# template blocks whose CONTENT must vanish, a comment hiding list markup,
# double-escaped and numeric entities), plus four URL shapes per doc_id mod
# 4 (uppercase scheme+www+default port+fragment+tracking mix; a second '?'
# gluing a tracking param; an all-tracking query; a scheme-less opaque id)
_WEB_HTML_P1 = "<html><head><title>Doc "
_WEB_HTML_P2 = (
    '</title><style>p{margin:0}</style>'
    '<script type="text/javascript">var trap = "<p>not text</p>";</script>'
    "</head><body><!-- nav <ul><li>menu</li></ul> -->"
    "<h1>Title &amp;amp; &#169; "
)
_WEB_HTML_P3 = "</h1> <p>"
_WEB_HTML_P4 = (
    "</p><div>tail &lt;b&gt;&nbsp;rest</div>"
    "<template><p>ghost</p></template></body></html>"
)


def q_web_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECLARED r13 (swap-in for media_decode; oracle committed + proven at
    # five datasets in r12, one round before declaration per the rotation
    # discipline — see _web_preprocess_oracle_sql)
    """Web preprocessing (llmdata/web.py): HTML→text extraction + URL
    canonicalization over a deterministic adversarial wrapping of the
    documents table — script/style/template content dropped wholesale,
    block tags → line structure, entity decode order, tracking-param
    strip with the second-'?' disguise, scheme-specific default ports,
    param sort, opaque-id passthrough. Every output string oracle-exact."""
    from coin_for_rich_spark.llmdata.web import canonical_url, html_text

    # the ~15-regex extraction ladder below is pure compute over a compact
    # narrow scan — widen it or it runs single-core (guide §2 / r15
    # continuation: 0.96 → 0.61 s; no-op on a naturally wide corpus scan)
    docs = ensure_parallelism(
        load_table(spark, sf_dir, "documents"), key="doc_id"
    )
    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(_WEB_HTML_P1), sid, F.lit(_WEB_HTML_P2), sid,
        F.lit(_WEB_HTML_P3), F.coalesce(F.col("text"), F.lit("")),
        F.lit(_WEB_HTML_P4),
    )
    m = F.col("doc_id") % 4
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("HTTPS://WWW.Shop"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".COM:443/Items/"), sid,
                F.lit("/?utm_source=feed&ref=home&b=2&a=1#frag"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("http://News"), (F.col("doc_id") % 5).cast("string"),
                F.lit(".example.org:80/read?a="),
                (F.col("doc_id") % 3).cast("string"),
                F.lit("?utm_campaign=x"),
            ),
        )
        .when(
            m == 2,
            F.concat(
                F.lit("https://example"), (F.col("doc_id") % 7).cast("string"),
                F.lit(".net/p/"), sid, F.lit("/?utm_medium=email&fbclid=ZZ"),
            ),
        )
        .otherwise(F.concat(F.lit("URN:doc:"), sid))
    )
    # both operators are row-wise projections of the same synthesized row,
    # so they fuse into ONE select over one pruned scan — zero exchanges
    # (the DataFrame wrappers extract_html_text/canonicalize_urls joined
    # here would shuffle both legs on doc_id for nothing; their column
    # forms html_text/canonical_url ARE the operators, one definition)
    t = html_text(html)
    canon = canonical_url(url)
    return docs.select(
        "doc_id",
        t.alias("extracted_text"),
        F.when(t.isNull() | (t == ""), 0)
        .otherwise(F.size(F.split(t, "\n")))
        .alias("n_lines"),
        url.alias("url"),
        canon.alias("canonical_url"),
        F.regexp_extract(canon, r"^[a-z0-9+.-]+://([^/?]+)", 1).alias("domain"),
    )


def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r15
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


def q_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON wire-format handling (§2.7 row_to_json's read twin): typed
    from_json extraction of the props payload, aggregated per event_type.
    Integer sums are exact; the mean is one double division of exact ints."""
    # per-row JSON parse over a single-row-group scan: widen before the
    # parse+partial-agg stage (r15 continuation: 0.57 → 0.45 s; no-op on a
    # naturally wide scan)
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"), key="user_id")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate showcase over the fact table (A-family): decimal-exact sums
    and explicit sum/count averages."""
    # the decimal partial aggregation is the whole query; over a
    # single-row-group fact scan it runs single-core — widen first (hash on
    # the high-cardinality orderkey, NOT the 4-value group key; r15
    # continuation: 1.48 → 0.80 s, no-op on a naturally wide scan)
    li = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem"), key="l_orderkey"
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_disc_price"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — fact ⋈ dims with broadcast (select_queries.sql:83-96 analog):
    top-10 customers by decimal-exact revenue."""
    # widen the fact on the JOIN key: the exchange is reused by the
    # l_orderkey join (same key, target = shuffle partitions), so this
    # costs nothing extra when the planner shuffle-joins, and when AQE
    # broadcasts the other side it parallelizes the probe+partial-agg
    # stage that otherwise inherits the single-row-group scan's 1 task
    # (r15 continuation: 1.68 → 1.19 s; no-op on a naturally wide scan)
    li = ensure_parallelism(
        load_table(spark, sf_dir, "lineitem"), key="l_orderkey"
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    # lineitem ⋈ orders is fact ⋈ fact — shuffle join on the key (AQE may
    # still broadcast at tiny SFs, but the hint must not force it: orders is
    # not broadcastable at scale). customer is SF-scaled too → AQE decides;
    # nation is a true fixed-size dim → explicit broadcast.
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")).alias("_rev")
        )
    )
    return (
        rev.orderBy(F.col("_rev").desc(), "c_custkey")
        .limit(10)
        .select("c_custkey", "c_name", "n_name", F.col("_rev").cast("double").alias("revenue"))
    )


def q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r15
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


def q_region_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 multi-hop: revenue per nation where supplier and customer share the
    nation, one region (the local-supplier-volume shape — exercises every
    dimension hop: region→nation→{customer,supplier}→orders/lineitem).
    Fixed dims broadcast; fact⋈fact shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — trailing moving average (aggregations.sql:26-39): 168-row (7-day)
    frame over hourly closes per symbol; decimal sliding sum / double divide
    so the frame accumulation is engine-independent."""
    hourly = ohlcv_rollup(candles_view(spark, sf_dir), "1h")
    return moving_average(
        hourly, ["symbol"], "bucket", "close", n_preceding=167, out_col="ma"
    ).select("bucket", "symbol", "close", "ma")


#: quality-score gate geometry: the classic char-trigram model with
#: alpha=0.5 smoothing, trained on the doc_id % 4 == 1 reference split
_QUALITY_GATE_ORDER = 3
_QUALITY_GATE_ALPHA = 0.5


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char n-gram LM quality scoring, hash-exact (llmdata/quality.py —
    declared r10, swapped in for `serve_payload` per VERDICT r8 ask #4):
    trains the trigram model on the doc_id % 4 == 1 reference split and
    scores EVERY document's cross-entropy under it.

    The oracle does NOT trust the model (the BPE-row discipline): it
    RE-TRAINS the whole model in DuckDB from the raw documents table —
    normalization (lower/trim/space→▁), codepoint trigrams, reference
    counts, alphabet size, context sums, add-alpha smoothing — and
    re-scores every document through the same coalesce(model, context
    penalty, 1/V floor) ladder.

    Float contract: every per-doc sum routes through DECIMAL(38,18) (the
    double→decimal cast is engine-independent — verified against DuckDB —
    and decimal addition is order-free), so the only residual divergence
    is the last-ulp freedom of the two engines' ln(); the emitted
    cross-entropy is rounded to 6 decimals, leaving ~1e-15 of slack
    against a 1e-6 grid (the geo_daily_return round-4 contract class,
    green since r1)."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 4 == 1)
    lm = train_char_lm(
        ref, order=_QUALITY_GATE_ORDER, alpha=_QUALITY_GATE_ALPHA
    )
    # model relations are persisted by the trainer; register them with the
    # bench cache registry so min-of-N passes measure the plan, not a
    # warm model cache, and nothing leaks across passes
    from coin_for_rich_spark.llmdata.dedup import _INTERMEDIATE_CACHES

    _INTERMEDIATE_CACHES.extend(
        [lm.ngrams_enc, lm.contexts_enc]
        if lm.ngrams_enc is not None
        else [lm.ngrams, lm.contexts]
    )
    scored = score_char_lm(docs, lm)
    return scored.select(
        "doc_id",
        "n_ngrams",
        F.round("cross_entropy", 6).alias("ce6"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (llmdata package)
# ---------------------------------------------------------------------------


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline: quality gate + language ID (one fused
    doc_profile scan — per-doc columns never need a join between themselves)
    + exact-dedup canonical-copy selection + BENCHMARK DECONTAMINATION,
    summarized per (lang, quality).

    The decontamination leg (llmdata.dedup.cross_corpus_contamination)
    treats the deterministic 1/16 hash-sampled holdout as the "eval set" and
    flags every remaining training doc that shares ≥ 5 distinct 3-gram
    shingles with it or duplicates it exactly — surfaced as the verified
    ``n_contaminated`` column. Every relation in this plan (keep set, eval
    holdout, contaminated set) is corpus-proportional, so NO broadcast is
    hard-hinted anywhere — a forced broadcast of a 1/16 corpus fraction is
    a driver OOM at 100 TB. AQE broadcasts any side that turns out small at
    runtime; ``broadcast_eval=False`` opts the contamination operator out
    of its bounded-eval-set broadcast contract for the same reason."""
    docs = load_table(spark, sf_dir, "documents")
    profile = doc_profile(docs).select(
        "doc_id", "n_tokens", "quality_bucket", "pred_lang"
    )
    keep_ids = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    evalset = hash_sample(docs)
    # the holdout draw is a PURE deterministic predicate on md5(doc_id), so
    # the training split is its complement FILTER, not an anti-join — at
    # 100 TB that anti-join is a corpus-scale exchange for information the
    # scan already has (guide §2.4: remove shuffles outright). The predicate
    # is hash_sample's OWN (hash_sample_predicate — r15 ADVICE: a hand-copied
    # expression silently stops being the complement if the sample's default
    # geometry ever changes). The coalesce keeps the anti-join's NULL-id
    # semantics: a NULL id matches nothing, so the anti-join KEPT it, and
    # NOT(NULL-predicate) must too.
    train = docs.filter(
        ~F.coalesce(hash_sample_predicate("doc_id"), F.lit(False))
    )
    contaminated = (
        cross_corpus_contamination(
            train, evalset, min_overlap=5, broadcast_eval=False
        )
        .filter(F.col("exact_dup") | (F.col("n_shared_shingles") >= 5))
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .withColumn("_contam", F.lit(True))
    )
    kept = (
        profile.join(keep_ids, "doc_id", "left_semi")
        .filter(F.col("quality_bucket") != "too_short")
        .join(contaminated, "doc_id", "left")
    )
    return (
        kept.groupBy("pred_lang", "quality_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.count(F.col("_contam")).alias("n_contaminated"),
        )
        .orderBy("pred_lang", "quality_bucket")
    )


def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused text-analysis scan (llmdata.textstats.doc_profile): quality
    stats, BPE-ish token count, language ID, and bag fingerprint in ONE
    projection — zero joins, zero shuffles, the plan shape a 100 TB curation
    pass takes. Covers the doc_stats / doc_tokens / doc_langid /
    doc_fingerprint operators in a single oracle-checked relation (the
    oracle composes the four equivalent SQL bodies on doc_id)."""
    return doc_profile(load_table(spark, sf_dir, "documents"))


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-document line-level exact dedup with ordered reassembly — the
    C4/Gopher boilerplate pass (llmdata.dedup.line_dedup): 12-token spans
    (the corpus has no physical newlines, so the deterministic token
    segmentation stands in for lines) hashed corpus-wide; any span present
    in ≥2 DISTINCT documents is dropped from all of them and every document
    is rebuilt from its surviving spans in original order. Replaces the
    former ``doc_exact_dedup`` row (r5→r6 surface swap, COVERAGE.md):
    document-level exact dedup stays gate-certified inside
    ``corpus_curation``'s n_exact_dups stage."""
    docs = load_table(spark, sf_dir, "documents")
    return line_dedup(explode_token_segments(docs, k=12), min_dup_docs=2)


# the exact-Jaccard pair relation is both a declared query and the truth set
# for the minhash recall property — compute (and persist) it once per
# (session, sf_dir) instead of twice
_NGRAM_PAIRS_CACHE: dict[str, DataFrame] = {}


def _exact_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    if sf_dir not in _NGRAM_PAIRS_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        _NGRAM_PAIRS_CACHE[sf_dir] = ngram_jaccard_pairs(
            docs, threshold=0.2
        ).persist()
    return _NGRAM_PAIRS_CACHE[sf_dir]


def _reset_bench_caches() -> None:
    """Drop memoized QUERY RESULTS so bench's min-of-N passes measure the
    plan, not a cache hit (the ``_build_once`` gate artifacts are
    deliberately NOT dropped — they are amortized infrastructure, not the
    measured query's own work). Called by bench.py between passes."""
    for df in _NGRAM_PAIRS_CACHE.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — best-effort cache drop
            pass
    _NGRAM_PAIRS_CACHE.clear()
    # drain intermediates persisted INSIDE operators (the Jaccard count
    # plan's inverted index) — without this each pass leaks a cached relation
    release_intermediate_caches()


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs. method='auto' (the default)
    estimates Σ df(shingle)² from a deterministic 1/8 doc sample (unbiased
    estimator — see llmdata.dedup.ngram_jaccard_pairs) and picks the
    inverted doc-list count plan only while the pair intermediate is
    bounded, else the PPJoin-style prefix-filter plan — the skew-safe
    behavior a 100 TB corpus needs, with a planning pass that costs 1/8 of
    a corpus scan and no corpus-sized persist anywhere."""
    return _exact_jaccard_pairs(spark, sf_dir)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, declared as an oracle-checkable
    recall/precision property against the exact n-gram Jaccard pairs
    (xxhash64 signatures have no DuckDB twin, but the *contract* does:
    the oracle recomputes the exact pair count in SQL and pins
    recall ≥ 80% and precision = 1 — the latter guaranteed by the exact
    verify step). The raw pair listing is the operator's API
    (llmdata.dedup.minhash_pairs), value-checked in tests/test_llmdata.py."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE union + hash-aggregate computes all three set statistics
    # (|exact|, |exact ∩ found|, |found \ exact|) in a single job — the
    # old shape ran three actions (count + semi-join count + anti-join
    # count) against a persisted `found`, i.e. three scheduler round-trips
    # and a cache write for what is one relational question (r15
    # optimization round, guide §2.4: one pass, one exchange). The union
    # form beats a full-outer join here: full outer cannot broadcast and
    # forces a sort-merge (two sorted exchanges), while the union's pair
    # groupBy is a map-side-combinable hash aggregate. Both pair sets are
    # distinct on (doc_a, doc_b), so max() per side marks membership
    # exactly. `found` has one consumer now, so its persist goes too;
    # `exact` stays the shared per-(session, sf) cached relation.
    found = minhash_pairs(docs, threshold=0.2).select(
        "doc_a", "doc_b", F.lit(0).alias("_e"), F.lit(1).alias("_f")
    )
    exact = _exact_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("_e"), F.lit(0).alias("_f")
    )
    stats = (
        exact.unionByName(found)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("_e").alias("e"), F.max("_f").alias("f"))
        .agg(
            F.sum("e").alias("n_exact"),
            F.sum(F.col("e") * F.col("f")).alias("n_hits"),
            F.sum(F.when(F.col("e") == 0, 1).otherwise(0)).alias("n_extra"),
        )
        .first()
    )
    return spark.createDataFrame(
        [(stats["n_exact"], stats["n_hits"] >= 0.8 * stats["n_exact"], stats["n_extra"] == 0)],
        "n_exact_pairs bigint, recall_ok boolean, precision_ok boolean",
    )


# the standing dedup fingerprint index is ingest-time infrastructure (like
# the rollup store and the IVF-PQ index): built once per source identity at
# a FIXED path — fixed, not identity-keyed, because the DuckDB twin reads
# the same parquet legs back and oracle_sql() cannot see sf_dir — with an
# identity marker so a testdata swap rebuilds instead of serving stale legs.
_DEDUP_GATE_GEOMETRY = {"n": 3, "num_perm": 32, "bands": 8}


def _dedup_probe_batch(docs: DataFrame) -> DataFrame:
    """The probe batch: the doc_id % 4 == 0 split PLUS a replay of every
    % 40 == 1 history doc under a fresh id (+1e6) — the corpus has no
    exact-duplicate documents, so the replays are what exercises the exact
    leg (and the exact-over-near precedence: a replay also collides in
    every band at estimate 1.0)."""
    base = docs.filter(F.col("doc_id") % 4 == 0)
    replay = docs.filter(F.col("doc_id") % 40 == 1).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    return base.unionByName(replay)


def _dedup_index_gate(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the gate's dedup-index pair under $TMPDIR:
    ``index/`` — the standing fingerprint index over the HISTORY split
    (doc_id % 4 != 0); ``probe/`` — the same three fingerprint legs for the
    BATCH (:func:`_dedup_probe_batch`), dumped so the oracle can recompute
    the probe's classification joins from parquet (the batch fingerprints
    are a pure function of the corpus, so the dump is bit-identical to what
    ``incremental_dedup`` derives internally)."""
    import os
    import tempfile

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        history = docs.filter(F.col("doc_id") % 4 != 0)
        batch = _dedup_probe_batch(docs)
        build_dedup_index(history, os.path.join(path, "index"), **_DEDUP_GATE_GEOMETRY)
        build_dedup_index(batch, os.path.join(path, "probe"), **_DEDUP_GATE_GEOMETRY)
        # part of the store's layout: older versions of this module reuse
        # a store only when this marker is present
        with open(os.path.join(path, "_ident.txt"), "w") as fh:
            fh.write("idx4v2")

    store = _build_once(sf_dir, "documents", "dedupidx", "idx4v2", build)
    # per-source-identity store + fixed symlink for the oracle: concurrent
    # gates over different sources build disjoint directories (see
    # _point_symlink)
    _point_symlink(store, os.path.join(tempfile.gettempdir(), "cfr_dedupidx_gate"))
    return store


def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against the PERSISTED fingerprint index
    (llmdata.dedup_index.incremental_dedup): the batch split is classified
    exact_dup / near_dup / fresh by probing the standing on-disk index of
    the history split — exact leg one equi-join on content_hash, near leg a
    band-bucket equi-join + signature-estimate scoring, history touched
    only through its index files. The oracle recomputes every
    classification from the SAME parquet legs in DuckDB (md5 exact join,
    band-bucket join, matching-position Jaccard estimate, threshold, and
    the (max est, min doc) tie contract) — so a green row certifies the
    probe's join/score/precedence logic end-to-end, with the fingerprint
    generation itself pinned by the build≡append and probe-parity tests in
    tests/test_dedup_index.py. Replaces the former ``media_features`` row
    (r6→r7 surface swap, COVERAGE.md): its fake-decoder tier is superseded
    by the real ``media_decode``/``media_resample``/``frame_sample`` rows."""
    import os

    gate = _dedup_index_gate(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    batch = _dedup_probe_batch(docs)
    return incremental_dedup(batch, os.path.join(gate, "index"), threshold=0.5)


def _corpus_ingest_batches(docs: DataFrame) -> list[DataFrame]:
    """The 4 arrival batches of the streaming corpus-ingest gate: batches
    0-2 are the doc_id % 4 == b splits; batch 3 is the % 4 == 3 split PLUS
    a replay of every (% 10 == 3, % 4 != 3) doc under a fresh id (+1e6).
    The corpus has no exact-duplicate documents, so the replays are what
    makes later batches actually dedup against index state the EARLIER
    batches appended — the cross-batch contract under test."""
    base = docs.select("doc_id", "text")
    batches = [base.filter(F.col("doc_id") % 4 == b) for b in range(3)]
    replay = base.filter(
        (F.col("doc_id") % 4 != 3) & (F.col("doc_id") % 10 == 3)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    batches.append(base.filter(F.col("doc_id") % 4 == 3).unionByName(replay))
    return batches


def q_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming corpus-ingest loop (streaming/corpus.py) end-to-end —
    the LLM-pipeline twin of the candle-ingest north star: a real file
    stream replays 4 document micro-batches through foreachBatch; each
    batch exact-dedups within itself, probes the STANDING fingerprint index
    (cold-started empty), writes only fresh docs to its exactly-once corpus
    directory, and appends its fingerprints so the NEXT batch's probe sees
    them. Like the rollup store and the IVF-PQ index, the loop is
    ingest-time infrastructure: it executes ONCE per source identity inside
    the gate (a testdata swap re-runs it) and the declared query serves the
    batch-partitioned corpus read — live per-call ingest economics stay
    covered by ``stream_upsert_ingest``, the candle twin of this loop. The
    query returns the final ingested corpus (doc_id, ingest_batch). The
    oracle replays the ENTIRE 4-batch protocol in SQL —
    per-batch min-id-per-md5 winners, then exact-hash and band-bucket +
    signature-estimate suppression against the union of all PRIOR batches'
    survivors (chained CTEs; fingerprints read from the parquet dump the
    gate materializes, which is bit-identical to what the loop derives
    because both are pure functions of the corpus). Replaces the former
    ``doc_chunks`` row (r7 swap, COVERAGE.md): the pipeline component it
    shared with ``doc_scrub`` stays gate-covered there, and
    chunk_documents keeps its value-checked pytest rows."""
    import hashlib
    import os
    import shutil
    import tempfile

    from coin_for_rich_spark.streaming.source import read_file_stream

    docs = load_table(spark, sf_dir, "documents")
    batches = _corpus_ingest_batches(docs)

    # identity-cached pure inputs: the staged arrival chunks (one file per
    # micro-batch, mtime-ordered so the file source replays in sequence)
    # and the all-candidates fingerprint dump the oracle reads. The store
    # directory is per-source-identity with the fixed oracle name served
    # through a symlink (_point_symlink): the ingest loop MUTATES its index
    # mid-stream, so two processes gating different sources through one
    # shared directory corrupt each other (the r10 sf1-vs-pytest race).
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        ident = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}|ingest4v2"
    except OSError:
        ident = f"{sf_dir}|ingest4v2"
    gate = os.path.join(
        tempfile.gettempdir(),
        f"cfr_corpusingest_{hashlib.md5(ident.encode()).hexdigest()[:12]}",
    )
    os.makedirs(gate, exist_ok=True)
    marker = os.path.join(gate, "_ident.txt")
    current = None
    if os.path.isfile(marker):
        with open(marker) as fh:
            current = fh.read()
    stage_dir = os.path.join(gate, "stage")
    corpus = os.path.join(gate, "corpus")
    if current != ident:
        shutil.rmtree(stage_dir, ignore_errors=True)
        os.makedirs(stage_dir)
        for i, b in enumerate(batches):
            sub = os.path.join(stage_dir, f"_chunk_{i}")
            b.coalesce(1).write.mode("overwrite").parquet(sub)
            part = next(
                f
                for f in os.listdir(sub)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            final = os.path.join(stage_dir, f"{i:03d}.parquet")
            os.replace(os.path.join(sub, part), final)
            shutil.rmtree(sub, ignore_errors=True)
            base_t = os.stat(stage_dir).st_mtime
            os.utime(final, (base_t + 10.0 * (i + 1),) * 2)
        all_cands = batches[0]
        for b in batches[1:]:
            all_cands = all_cands.unionByName(b)
        shutil.rmtree(os.path.join(gate, "fps"), ignore_errors=True)
        build_dedup_index(all_cands, os.path.join(gate, "fps"))
        # the cold-start ingest itself: fresh index / corpus / checkpoint
        # (a stale checkpoint would skip already-seen files; a stale index
        # would dedup the whole replay against the previous run)
        idx = os.path.join(gate, "idx")
        shutil.rmtree(idx, ignore_errors=True)
        shutil.rmtree(corpus, ignore_errors=True)
        empty = spark.createDataFrame([], "doc_id long, text string")
        build_dedup_index(empty, idx)
        stream = read_file_stream(
            spark, stage_dir, batches[0].schema, max_files_per_trigger=1
        )
        q = streaming_corpus_ingest(
            stream, idx, corpus, tempfile.mkdtemp(prefix="cfr_corpus_ckpt_"),
            threshold=0.5,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # marker LAST: a crash mid-build leaves a mismatched identity and
        # the next call rebuilds instead of serving a partial corpus
        with open(marker, "w") as fh:
            fh.write(ident)
    _point_symlink(
        gate, os.path.join(tempfile.gettempdir(), "cfr_corpusingest_gate")
    )
    return read_ingested_corpus(spark, corpus).select(
        "doc_id", F.col("ingest_batch").cast("int").alias("ingest_batch")
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
    pairwise oracle (a gate row r7-r13; pytest-twin-pinned since the r14
    rotation) and keeps executing inside ``embed_ann_lsh`` /
    ``embed_ann_ivf`` as their recall truth set.

    UNDECLARED since r10 (swapped for ``leakage_split``): the pure-(id,
    seed) contract stays hash-exact-pinned by the XXH64 closed-form twin in
    tests/test_pipeline.py (``_epoch_shuffle_oracle_sql`` still runs there)
    and the layout half ships in ``write_epoch_shards``
    (tests/test_splits.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs, n_shards=8, seed=7).select("doc_id", "shard", "ord")


# ordered split fractions for the declared leakage-safe split: 16-bit
# thresholds round(65536*cum) = 58982 / 62259 / 65536 — the oracle hardcodes
# the same integers, so the two sides can never disagree by a float ulp
_SPLIT_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split, cluster-atomic over the REAL
    dedup relation (llmdata.splits.leakage_safe_split over
    dedup_clusters(exact 3-gram Jaccard pairs, threshold 0.2)): every
    member of a near-dup cluster draws ONE split from 16 bits of
    md5(cluster_key, seed) against exact integer thresholds — a pure
    (id, seed) assignment, layout/partitioning/append-stable.

    Declared as the composed oracle row: per-split document counts (DuckDB
    re-derives the md5-threshold assignment digit-for-digit over its own
    recursive-CTE connected components) PLUS the ``cross_split_pairs``
    audit count over the SAME pair tier the clusters came from — leakage a
    cluster-atomic split makes impossible, so the column is 0 by
    construction and any nonzero value is a real atomicity bug on either
    side. Replaces the ``epoch_shuffle`` row (r9→r10 surface swap,
    COVERAGE.md): epoch_shuffle's pure-(id,seed) contract stays pinned by
    the XXH64 closed-form twin in tests/test_pipeline.py and its layout
    half ships in ``write_epoch_shards`` (tests/test_splits.py).

    Plan shape: the cluster join is the only shuffle beyond the pair
    relation itself; the draw is scan-stage column algebra (no window, no
    global sort); the audit is two equi-joins on the doc id.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _exact_jaccard_pairs(spark, sf_dir)
    # method="auto" (r15 optimization round): size-gated driver
    # union-find under the 2M-edge budget, distributed star past it —
    # identical labels by construction (pinned in tests), so the
    # oracle row is unchanged while the per-round shuffle + fixed-point
    # jobs drop out at bounded pair volumes.
    clusters = dedup_clusters(pairs, method="auto")
    assigned = leakage_safe_split(
        docs, _SPLIT_FRACTIONS, clusters=clusters, seed=7
    )
    violations = cross_split_pairs(assigned, pairs).agg(
        F.count(F.lit(1)).alias("violations")
    )
    counts = assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    # 3-row × 1-row crossJoin: the violation count is a corpus-global scalar
    return counts.crossJoin(violations)


# the brute-force property twin runs on this deterministic md5 prefix sample
# (4/16 of docs → 1/16 of the all-pairs work) — the pigeonhole guarantee is
# per-pair, so a sampled check is a valid property, and the quadratic scan
# never touches the full corpus
_SIMHASH_SAMPLE_CHARS = ("0", "1", "2", "3")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r12
    # rotated OUT of the gate for span_corruption (COVERAGE.md r12 mapping):
    # this query's oracle row was a constant (the engine computes
    # n_missing/n_extra internally), so the gate lost nothing checkable; the
    # full pigeonhole-vs-brute completeness contract is pinned in
    # tests/test_llmdata.py::test_simhash_gate_contract_pinned and the raw
    # pair listing stays value-checked in test_llmdata.py
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


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact near-dup pairs → dedup groups
    (doc_id, cluster_id = component min, cluster_size) plus the CANONICAL
    KEEP ROW per cluster (keep_id = longest member, ties → lowest id).

    ``method='star'``: alternating large-star/small-star contraction —
    O(log n) rounds regardless of component diameter (label propagation is
    O(diameter) and fails loud on deep chains); equality of the two methods
    is pinned in tests. The keep row is ``pick_canonical``'s one max_by hash
    agg per cluster — skew-immune. The oracle recomputes components via a
    recursive transitive closure and the keep row via a length/id ranking."""
    pairs = _exact_jaccard_pairs(spark, sf_dir)
    # method="auto": see q_leakage_split — same size-gated fast path,
    # same labels, distributed star tier intact past the edge budget
    clusters = dedup_clusters(pairs, method="auto")
    docs = load_table(spark, sf_dir, "documents")
    keep = pick_canonical(clusters, docs).select("cluster_id", "keep_id")
    return clusters.join(keep, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size", "keep_id"
    )


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing at a 2048-token budget via the
    two-phase distributed prefix sum (llmdata.pipeline.pack_sequences) — the
    global running token count is computed per-partition + broadcast
    offsets, never through a single-task global window."""
    return pack_sequences(load_table(spark, sf_dir, "documents"), budget=2048)


# target training mix for the declared domain-mixing draw: five weighted
# domains at distinct shares (sum 1.0) so every derived fraction differs,
# the rest excluded — the "curate a mix from a multi-source corpus" shape
_MIX_WEIGHTS = {"src0": 0.3, "src1": 0.25, "src2": 0.2, "src3": 0.15, "src4": 0.1}
_MIX_TARGET = 0.1  # the sample is 10% of the corpus, split per the weights
# the oracle's VALUES list is GENERATED from the same dict so the IEEE
# double literals can never drift between engines
_MIX_WEIGHTS_SQL = ", ".join(
    f"('{d}', CAST({w!r} AS DOUBLE))" for d, w in _MIX_WEIGHTS.items()
)


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weighted sampling (llmdata.pipeline.domain_mix_sample):
    per-domain keep rates DERIVED from target mix weights and actual domain
    counts (rate = total·target·weight/count, clamped at 1), then the same
    deterministic md5-threshold draw as stratified_hash_sample — engine-
    independent, append-stable, and nested (growing the target keeps every
    previously-drawn row). Composed with canonical text normalization, as
    the former ``doc_normalize_sample`` row was (r5→r6 surface swap,
    COVERAGE.md): that row's normalize + stratified-hash-draw components
    are both still exercised here, now with data-derived fractions. The
    oracle re-derives the fractions from the same counts with the same
    IEEE-double expression shape, so the match is bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = domain_mix_sample(docs, "source", _MIX_WEIGHTS, _MIX_TARGET)
    return normalize_text(sampled, keep_cols=("source",)).withColumn(
        "n_chars", F.length("norm_text") + F.col("n_chars_removed")
    )


#: gate BPE shape (declared r8): small enough that the DuckDB twin re-trains
#: the merge table itself in chained materialized CTEs, large enough that
#: multi-round merge interactions (merged symbols re-pairing) occur
_BPE_GATE_MERGES = 12
_BPE_GATE_MIN_PAIR = 2


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train + encode, hash-exact (llmdata/bpe.py — declared r8, swapped
    in for `media_resample` per VERDICT r7 ask #3): trains the deterministic
    12-merge model on the gate corpus (tie-break: count desc, pair lex asc),
    tokenizes every document, and emits per doc the token count plus an md5
    over the full, boundary-delimited token stream. The oracle does NOT
    trust the model: it independently RE-TRAINS the merge table in DuckDB
    (12 chained materialized CTEs, each one pair-count aggregation + argmax
    + a separator-guarded string fold replaying the left-to-right merge
    rule) and re-encodes every word — so a green row certifies trainer
    determinism, the merge fold, and per-doc positional reassembly
    end-to-end. The existing two-regime broadcast plan guards
    (tests/test_bpe.py) stay in force.

    The gate path treats \\x1f as whitespace on BOTH sides before anything
    else runs: \\x1f is this row's token/symbol framing delimiter and is
    NOT regex whitespace, so a corpus word containing it would corrupt the
    engine's array_join framing and the oracle's US-delimited fold
    *differently* — an undiagnosable mismatch. Mapping it to ' ' keeps the
    two sides byte-identical on any corpus (ADVICE r8 #4)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", "\x1f", " ")
    )
    # ONE corpus-scale tokenize → explode → count for the whole
    # train+encode pipeline (r15 optimization round, guide §2.4): the
    # trainer's word-count relation IS encode's vocabulary (same tokenize,
    # same empty-token filter), so sharing the persisted relation removes a
    # full corpus tokenize + posexplode + distinct exchange from the encode
    # plan. Registered in the intermediate-cache registry so bench passes
    # drain it like every other operator-internal persist.
    from coin_for_rich_spark.llmdata.bpe import _word_counts_df
    from coin_for_rich_spark.llmdata.dedup import _INTERMEDIATE_CACHES

    wc = _word_counts_df(docs, "text").persist()
    _INTERMEDIATE_CACHES.append(wc)
    model = train_bpe(
        docs,
        n_merges=_BPE_GATE_MERGES,
        min_pair_count=_BPE_GATE_MIN_PAIR,
        word_counts=wc,
    )
    enc = encode_bpe(docs, model, vocab=wc)
    return enc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.md5(F.array_join("tokens", "\x1f")).alias("toks_md5"),
    )


def q_embed_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH approximate top-10, declared as an oracle-checkable
    recall property: with 8 tables × 8 planes + Hamming-1 multiprobe the ANN
    result must recover ≥ 40% of the exact top-10 (planes are fixed-seed →
    fully deterministic; the bound carries margin over the measured recall
    on this isotropic-random corpus — the worst case for ANN — and the
    candidate filter still prunes ~70% of the scan). The ranked ANN output
    is the operator's API, recall-tested in tests/test_llmdata.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ann = lsh_ann_knn(emb, qv, k=10).select("vec_id")
    exact = cosine_knn(emb, qv, k=10).select("vec_id")
    return (
        exact.join(ann, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            (F.col("n_hits") >= 4).alias("recall_ok"),
        )
    )


def _ann_index(emb: DataFrame, sf_dir: str) -> tuple[str, list, list]:
    """Build-or-reuse the on-disk IVF-PQ index over ``emb`` (the
    `embeddings` table of ``sf_dir``) — ingest-time infrastructure like the
    rollup store: 16 kmeans-refined coarse cells as PARTITION directories
    (a probe is a partition-pruned read), PQ codes (m=8 sub-spaces × 16
    centroids) stored with every row for ADC scoring. Centroids +
    codebooks (index metadata, a few KB) ride along in ``_meta.json`` —
    underscore-prefixed, so Spark's parquet reader ignores it."""
    import json
    import os

    def build(path: str) -> None:
        books = pq_train(emb, m=8, k=16, n_iter=2)
        cents = materialize_ann_index(
            emb, path, n_centroids=16, n_iter=3, pq_codebooks=books
        )
        with open(os.path.join(path, "_meta.json"), "w") as fh:
            json.dump({"centroids": cents, "codebooks": books}, fh)

    index = _build_once(
        sf_dir,
        "embeddings",
        "annidx",
        emb.schema.simpleString() + "|ivf16pq8x16",
        build,
    )
    with open(os.path.join(index, "_meta.json")) as fh:
        meta = json.load(fh)
    return index, meta["centroids"], meta["codebooks"]


def q_embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate top-10 against the MATERIALIZED on-disk index
    (llmdata.similarity.materialize_ann_index / ann_index_knn): 6 of 16
    kmeans-refined cells probed as a partition-PRUNED parquet read, ADC
    scoring over the stored PQ codes, exact re-rank of the 100 best — the
    genuinely 100 TB-shaped ANN serving path, declared as the
    oracle-checkable recall property (≥ 40% of exact top-10; deterministic:
    fixed seeds, fixed data). Exactness at n_probe = n_centroids and the
    partition-filter plan guard are pinned in tests/test_llmdata.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    path, cents, books = _ann_index(emb, sf_dir)
    ann = ann_index_knn(
        spark, path, cents, qv, k=10, n_probe=6, pq_codebooks=books, rerank=100
    ).select("vec_id")
    exact = cosine_knn(emb, qv, k=10).select("vec_id")
    return (
        exact.join(ann, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.lit(10).alias("k"),
            (F.col("n_hits") >= 4).alias("recall_ok"),
        )
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the embedding tier of the dedup
    ladder) over the INT8 STORAGE TIER: the corpus is symmetric-per-vector
    int8 quantized (scale = max|x|/127 — 4× smaller, the billion-vector
    storage format) and BOTH the blocked-GEMM candidate grid and the exact
    verify fold run directly on the int8 codes. Cosine is invariant to
    per-vector scaling, so cos(q_a, q_b) ≡ cos(x̂_a, x̂_b) — same pairs,
    while the shuffle carries 1-byte elements instead of reconstructed
    doubles and the dequantize transform drops out of the plan entirely.
    Code dot products are integer-valued (exact in double), making the
    cross-engine comparison sturdier than the reconstructed-double fold;
    the oracle replicates the same quantize arithmetic and cosine-on-codes.
    The LSH-blocked variant trades recall for fewer flops (subset property
    tested in pytest)."""
    # quantization + GEMM batching inherit the scan's partitioning; a
    # single-row-group embeddings file serializes them — widen first
    # (r15 continuation: 1.13 → 0.82 s; no-op on a naturally wide scan)
    emb = ensure_parallelism(
        load_table(spark, sf_dir, "embeddings"), key="vec_id"
    )
    codes = quantize_embeddings(emb).select(
        "vec_id", F.col("qvec").alias("embedding")
    )
    # int_exact (r15 optimization round): the int8 codes make every dot and
    # norm an exact integer in float64, so the GEMM kernel's cosine is the
    # sequential verify fold bit-for-bit and the verify join stage (two
    # corpus-side joins + a per-pair interpreted fold) drops out of the
    # plan — same pairs, same rounded cosines, fewer exchanges.
    return embedding_neardup_pairs(
        codes, threshold=0.4, method="exact", int_exact=True
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through REAL MP4 containers (upgraded in r6 from
    the metadata-arithmetic plan, which stays unit-tested as the fake tier):
    generate a valid ISO-BMFF file per video row (llmdata.mp4.mp4_mux_gray,
    closed-form grayscale frames), demux it — box walk + stts/stsc/stsz/stco
    sample resolution, frame slices decoded to integer stats inside the same
    Arrow batch — then tick-sample at 400 ms with zero-shuffle per-row
    column algebra (each frame row emits exactly the ticks its [ts, ts+dur)
    interval covers). The oracle predicts every demuxed frame's statistics
    straight from the generation formulas — the Spark side must arrive at
    the same integers THROUGH the container bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_real_frames(
        demux_video_frames(attach_real_video(docs)), every_ms=400
    )


def q_video_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECLARED r14 (swap-in for embed_knn_join per the rotation discipline:
    # oracle committed + three-scale-proven in r13, one round before
    # declaration — see _video_keyframes_oracle_sql)
    """Keyframe index WITHOUT decode (r13, llmdata/multimodal.py
    video_keyframe_index + llmdata/mp4.py stss/stsd parsing — the honest
    close of the avc1 residual): per video container, the stsd decoder
    configuration (codec/RFC-6381/profile/level from the avcC record when
    present) and one row per sync sample with its timestamp and ABSOLUTE
    byte range — exactly the (file, offset, length) slice list a 100 TB
    curation pipeline ships to a decode service, computed from container
    math alone. The gry8 fixtures carry no stss (every sample sync per
    ISO 14496-12 §8.6.2) and no decoder config, so the oracle predicts
    every row — offsets included — straight from the generation formulas
    and the muxer's fixed header sizes; the Spark side must arrive at the
    same integers THROUGH the container bytes. The avc1/avcC leg is pinned
    on hand-muxed compressed containers in tests/test_mp4.py."""
    from coin_for_rich_spark.llmdata.multimodal import video_keyframe_index

    docs = load_table(spark, sf_dir, "documents")
    return video_keyframe_index(attach_real_video(docs))


def _video_keyframes_oracle_sql() -> str:
    """DuckDB twin of ``q_video_keyframes`` — never parses a byte: for the
    video-assigned rows (doc_id % 3 = 2) it re-derives dims/frame-count
    from the attach_real_video formulas, sample timestamps from the fixed
    250 ms tick, and ABSOLUTE byte offsets from the muxer's layout contract
    (20-byte ftyp + 8-byte mdat header → first sample at 28, then
    cumulative w·h frame sizes — mp4.mp4_mux_gray's first_sample_off)."""
    return """
        WITH v AS (
            SELECT doc_id AS media_id,
                   doc_id % 13 + 1 AS w,
                   doc_id % 11 + 1 AS h,
                   doc_id % 7 + 2 AS n
            FROM documents WHERE doc_id % 3 = 2
        ),
        k AS (
            SELECT media_id, w, h, n,
                   unnest(generate_series(0, n - 1)) AS sample_idx
            FROM v
        )
        SELECT media_id,
               'gry8' AS sample_format,
               CAST(NULL AS VARCHAR) AS codec,
               CAST(NULL AS VARCHAR) AS rfc6381,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(n AS INT) AS n_samples,
               CAST(n AS INT) AS n_keyframes,
               FALSE AS has_stss,
               CAST(sample_idx AS INT) AS sample_idx,
               CAST(sample_idx * 250 AS BIGINT) AS keyframe_ts_ms,
               CAST(28 + sample_idx * w * h AS BIGINT) AS byte_offset,
               CAST(w * h AS BIGINT) AS n_bytes
        FROM k
    """


def q_video_keyframes_avc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECLARED r15 (swap-in for brand_revenue per the rotation discipline:
    # committed + three-scale-proven in r14, declared r15)
    """Keyframe index over COMPRESSED (avc1) containers (r14 — the
    formula-oracle close of the avc1/avcC leg, previously pytest-only):
    per document-assigned video, a hand-muxed H.264-shaped container —
    avcC decoder config + stss sync table over opaque payloads
    (llmdata/mp4.py mp4_mux_avc1, llmdata/multimodal.py
    attach_real_avc_video) — is indexed WITHOUT decode by the same
    video_keyframe_index tier as the gate's gry8 row. The generation
    formulas are the contract: the oracle re-derives every row — codec,
    RFC 6381 string, stss membership, timestamps, ABSOLUTE byte offsets —
    from doc_id alone, so a green row certifies the stsd/avcC/stss parse
    path THROUGH real container bytes."""
    from coin_for_rich_spark.llmdata.multimodal import (
        attach_real_avc_video,
        video_keyframe_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    return video_keyframe_index(attach_real_avc_video(docs))


def _video_keyframes_avc_oracle_sql() -> str:
    """DuckDB twin of ``q_video_keyframes_avc`` — never parses a byte: it
    re-derives sample counts/sizes/sync membership from the
    attach_real_avc_video formulas, the decoder config (profile/level
    pools → printf'd RFC 6381 string) from doc_id, and ABSOLUTE byte
    offsets from mp4_mux_avc1's layout contract (20-byte ftyp + 8-byte
    mdat header → sample 0 at 28, then cumulative payload sizes)."""
    return """
        WITH v AS (
            SELECT doc_id AS media_id,
                   doc_id % 5 + 3 AS n,
                   doc_id % 16 + 16 AS w,
                   doc_id % 9 + 8 AS h,
                   CASE doc_id % 3 WHEN 0 THEN 66 WHEN 1 THEN 77
                        ELSE 100 END AS profile,
                   CASE doc_id % 4 WHEN 0 THEN 30 WHEN 1 THEN 31
                        WHEN 2 THEN 40 ELSE 51 END AS level
            FROM documents WHERE doc_id % 3 = 2
        ),
        s AS (
            SELECT media_id, n, w, h, profile, level,
                   unnest(generate_series(0, n - 1)) AS k
            FROM v
        ),
        sz AS (
            SELECT *,
                   10 + media_id % 17 + (media_id + 7 * k) % 23 AS sample_sz,
                   (k = 0 OR (media_id + k) % 3 = 0) AS is_key
            FROM s
        ),
        laid AS (
            SELECT *,
                   28 + coalesce(sum(sample_sz) OVER (
                       PARTITION BY media_id ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS byte_offset,
                   sum(CASE WHEN is_key THEN 1 ELSE 0 END)
                       OVER (PARTITION BY media_id) AS n_keys
            FROM sz
        )
        SELECT media_id,
               'avc1' AS sample_format,
               'h264' AS codec,
               printf('avc1.%02X00%02X', profile, level) AS rfc6381,
               CAST(w AS INT) AS width,
               CAST(h AS INT) AS height,
               CAST(n AS INT) AS n_samples,
               CAST(n_keys AS INT) AS n_keyframes,
               TRUE AS has_stss,
               CAST(k AS INT) AS sample_idx,
               CAST(k * 500 AS BIGINT) AS keyframe_ts_ms,
               CAST(byte_offset AS BIGINT) AS byte_offset,
               CAST(sample_sz AS BIGINT) AS n_bytes
        FROM laid WHERE is_key
    """


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DECLARED r15 (swap-in for count_distinct per the rotation discipline:
    # committed + three-scale-proven in r14, declared r15; pytest twins:
    # tests/test_winnow.py)
    """Winnowing passage-overlap pairs (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS tier; llmdata/winnow.py): token 4-gram md5 hashes,
    window w = t−k+1 = 5, rightmost-minimal selection, then document pairs
    sharing ≥ 2 distinct fingerprints with per-doc fingerprint counts
    carried. The POSITIONAL complement to the set-similarity dedup tiers:
    it finds shared PASSAGES (any common run of ≥ 8 tokens is guaranteed
    caught), not near-identical documents. max_df=50 drops boilerplate
    fingerprints before the self-join — the tier's quadratic-blowup guard.
    r15: fingerprints interned to 60-bit ``md5_prefix_long`` integers (8
    bytes through the exchange/persist/join instead of 16-char hex)."""
    from coin_for_rich_spark.llmdata.winnow import winnow_overlap_pairs

    return winnow_overlap_pairs(
        load_table(spark, sf_dir, "documents"),
        k=4, t=8, min_shared=2, max_df=50,
    )


def _winnow_overlap_oracle_sql() -> str:
    """DuckDB twin of ``q_winnow_overlap`` — re-derives the full winnowing
    selection from first principles (list-comprehension k-gram md5 hashes,
    per-window rightmost-minimal pick via the same
    ``wl − position(reverse(s), min(s))`` formula, row-level DISTINCT for
    the neighbouring-window dedupe) and the pair layer including the
    max_df boilerplate cap. Fingerprints are the shared
    ``md5_prefix_long`` contract (hashing.py): the 60-bit integer value
    of the 15-hex-char md5 prefix, compared numerically in both engines,
    so selection ties resolve identically."""
    return r"""
        WITH toks AS (
            SELECT doc_id,
                   CASE WHEN length(trim(text)) > 0
                        THEN regexp_split_to_array(trim(text), '\s+')
                        ELSE [] END AS tk
            FROM documents
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(range(1, len(tk) - 4 + 2),
                       i -> ('0x' || substr(md5(array_to_string(tk[i:i+3], ' ')),
                                            1, 15))::BIGINT) AS h
            FROM toks WHERE len(tk) >= 4
        ),
        wins AS (
            SELECT doc_id, h,
                   greatest(1, len(h) - 5 + 1) AS nwin,
                   least(5, len(h)) AS wl
            FROM hs
        ),
        sel AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, nwin + 1),
                       i -> {'pos': i - 1 + wl
                                    - list_position(list_reverse(h[i:i+wl-1]),
                                                    list_min(h[i:i+wl-1])),
                             'fp': list_min(h[i:i+wl-1])})) AS u
            FROM wins
        ),
        fpd AS (
            SELECT DISTINCT doc_id, u.fp AS fp FROM sel
        ),
        nf AS (
            SELECT doc_id, count(*) AS n_fp FROM fpd GROUP BY 1
        ),
        keep AS (
            SELECT fp FROM fpd GROUP BY fp HAVING count(*) <= 50
        ),
        fpk AS (
            SELECT f.doc_id, f.fp FROM fpd f JOIN keep USING (fp)
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS n_shared,
               min(na.n_fp) AS n_fp_a, min(nb.n_fp) AS n_fp_b
        FROM fpk a
        JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        JOIN nf na ON na.doc_id = a.doc_id
        JOIN nf nb ON nb.doc_id = b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # pytest-twin coverage this round (tests/test_winnow.py); future
    # rotation-fuel candidate once a queue slot frees (≤2 discipline)
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


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # pytest-twin coverage this round (tests/test_semdedup.py); future
    # rotation-fuel candidate once a queue slot frees (≤2 discipline)
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


def q_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # pytest-twin coverage this round (tests/test_bloom.py); future
    # rotation-fuel candidate once a queue slot frees (≤2 discipline)
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


def q_cms_topgrams(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16 swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next — see _cms_topgrams_oracle_sql;
    # pytest twins: tests/test_cms.py)
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


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16 swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next — see
    # _contamination_spans_oracle_sql; pytest twins: tests/test_llmdata.py)
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


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next — see _warc_extract_oracle_sql;
    # pytest twins: tests/test_warc.py)
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


def q_tar_export(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next — see _tar_export_oracle_sql;
    # pytest twins: tests/test_tarshard.py)
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


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_llmdata.py::test_length_quantiles_matches_duckdb_twin)
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


def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_pii.py::test_pii_audit_matches_duckdb_twin)
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


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_gopher.py::test_gopher_filter_matches_duckdb_twin)
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


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_c4.py::test_c4_clean_matches_duckdb_twin)
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


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_bm25.py::test_bm25_topk_matches_duckdb_twin)
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
) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_collocations.py::test_pmi_matches_duckdb_twin)
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
) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_llmdata.py::test_hard_negatives_matches_duckdb_twin)
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


def q_intra_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_llmdata.py::test_intra_dedup_matches_duckdb_twin)
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
) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_bm25.py::test_tfidf_keywords_matches_duckdb_twin)
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


def q_sft_render(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED
    # r16+ swap-in candidate (rotation discipline: committed + proven this
    # round, declared no earlier than next; pytest twin:
    # tests/test_sft.py::test_sft_render_matches_duckdb_twin)
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


def q_embed_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r14
    # swapped for `video_keyframes` (COVERAGE.md): the every-row exact-kNN
    # oracle stays pinned hash-exact by tests/test_llmdata.py::
    # test_embed_knn_join_matches_duckdb_twin via
    # _embed_knn_join_oracle_sql, and the exact-cosine family keeps its
    # gate presence through embed_neardup (same GEMM-blocked kernel) plus
    # the ANN recall contracts (embed_ann_lsh / embed_ann_ivf) it certifies
    """Exact cosine kNN JOIN: top-5 neighbors for EVERY embedding row over
    the blocked-GEMM grid (llmdata.similarity.knn_join — per-block partial
    top-k both directions, ≤ n·B·k shuffle rows, bounded per-id final
    aggregation, deterministic (cosine desc, nbr asc) tie contract). The
    oracle recomputes the full pairwise ranking with DuckDB's
    list_cosine_similarity + row_number under the same tie order."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join(emb, k=5, n_blocks=4)


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:  # UNDECLARED r13
    # swapped for `web_preprocess` (COVERAGE.md): the codec round trip stays
    # pinned hash-exact by tests/test_codecs.py::
    # test_media_decode_matches_duckdb_twin via _media_decode_oracle_sql,
    # and the attach→mapInPandas→stats plumbing keeps its gate row through
    # frame_sample (same codec bytes, same Arrow batch shape)
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


# ---------------------------------------------------------------------------
# backfill fetch plan (S1/S2 — the REST work queue as a distributed relation)
# ---------------------------------------------------------------------------

_FETCH_SYMBOLS = [
    ("bitfinex", "BTC-USD"),
    ("binance", "ETH-USDT"),
    ("bittrex", "XRP-BTC"),
]
_FETCH_START_MS = 1704067200000  # 2024-01-01T00:00:00Z
_FETCH_END_MS = _FETCH_START_MS + 1500 * 60000  # 1500 minutes
_FETCH_PAGE_MIN = 500

_FETCH_SYMS_SQL = ", ".join(f"('{e}', '{s}')" for e, s in _FETCH_SYMBOLS)


def q_fetch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — the backfill work queue as a relation (bitfinex.py:492-538):
    (exchange, symbol, page window) rows from sequence+explode."""
    return build_fetch_plan(
        spark, _FETCH_SYMBOLS, _FETCH_START_MS, _FETCH_END_MS, _FETCH_PAGE_MIN
    )


def q_fetch_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — paginated fetch + per-exchange field normalization
    (bitfinex.py:357-490, close/high swap :195-245), deterministic synthetic
    fetcher standing in for HTTP."""
    plan = q_fetch_plan(spark, sf_dir)
    return fetch_pages(plan)


# ---------------------------------------------------------------------------
# streaming operators (Structured Streaming, replayed deterministically)
# ---------------------------------------------------------------------------


_STREAM_N_CHUNKS = 4

# state-store partitions for the stream gate rows, sized to the KEYSPACE
# (a handful of symbols / ~150 users) instead of inheriting the
# batch-wide 32: every partition commits per micro-batch regardless of
# data, so the floor cost is partitions × commits (see
# scoped_shuffle_partitions). r15 set 8 → 4 on a −9% same-session A/B,
# but the r15 round bench contradicted it (stream tier +19%); the r16
# exonerate-or-revert A/B (OPTIMIZATION_r16.md, 3 alternating rounds of
# all six rows) read a WASH on per-row mins (24.43 s at 4 vs 24.26 s at
# 8) with the worst row (stream_upsert_ingest: more parallel COPY legs)
# favoring 8 — reverted to the r14 value, since the burden of proof sits
# on the change. At production keyspaces this knob goes UP.
_STREAM_STATE_PARTITIONS = 8


def _staged_stream(spark: SparkSession, sf_dir: str):
    """Replay `events` as a 4-batch time-ordered file stream (S3 stand-in).

    4 micro-batches: enough to exercise cross-batch state/watermark logic;
    replay semantics are chunk-count-invariant (tests use 6). Staging costs
    a full scan + write and every stream_* row replays the same chunks, so
    they are a build-once artifact; the key carries the loader-normalized
    schema, so a loader type-normalization change (e.g. NTZ -> TIMESTAMP)
    re-stages.
    """
    from coin_for_rich_spark.streaming.source import read_file_stream

    ev = load_table(spark, sf_dir, "events")
    staged = _build_once(
        sf_dir,
        "events",
        "stream",
        ev.schema.simpleString() + f"|n={_STREAM_N_CHUNKS}",
        lambda path: stage_stream_chunks(ev, path, n_chunks=_STREAM_N_CHUNKS),
    )
    return read_file_stream(spark, staged, ev.schema)


def _late_correction_stream(spark: SparkSession, sf_dir: str):
    """Replay `events` as 4 time-ordered chunks PLUS one trailing
    late-correction chunk — the reference's defining ingest topology
    (`celery_tasks.py:73-84`): the WS feed builds candles live, then a
    periodic REST re-fetch re-delivers the exchange's OFFICIAL rows for
    already-closed minutes, which must overwrite the live-built candles.

    The correction chunk re-delivers, for every minute with epoch-minute
    index % 7 == 3 that is strictly below its symbol's newest minute, the
    FULL tick set of that minute with ``value + 0.5`` (a deterministic
    "the exchange's books differed" transform — both price and volume
    shift, since the candle projection derives both from ``value``). It
    is staged as one file with an mtime strictly after every original
    chunk, so the file source replays it as the final micro-batch —
    arriving at the hold-back collector long after those minutes were
    emitted and at the merge sink after their rows landed."""
    import os

    from coin_for_rich_spark.streaming.source import read_file_stream

    ev = load_table(spark, sf_dir, "events")

    def build(path: str) -> None:
        stage_stream_chunks(ev, path, n_chunks=_STREAM_N_CHUNKS)
        evm = ev.withColumn(
            "_m", F.floor(F.unix_micros("ts") / F.lit(60_000_000))
        )
        mx = evm.groupBy("event_type").agg(F.max("_m").alias("_max_m"))
        corr = (
            evm.join(mx, "event_type")
            .filter((F.col("_m") % 7 == 3) & (F.col("_m") < F.col("_max_m")))
            .withColumn("value", F.col("value") + F.lit(0.5))
            .select(*ev.columns)
        )
        sub = path + "_corr"
        corr.coalesce(1).write.mode("overwrite").parquet(sub)
        part = next(
            f
            for f in os.listdir(sub)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        last = max(
            os.stat(os.path.join(path, f)).st_mtime
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )
        dest = os.path.join(path, "zz-late-corrections.parquet")
        os.replace(os.path.join(sub, part), dest)
        os.utime(dest, (last + 10.0,) * 2)

    # the tag embeds EVERY constant that shapes the staged bytes — chunk
    # count and the correction transform (%7==3, +0.5) — so changing any
    # of them can never serve a stale staged replay
    staged = _build_once(
        sf_dir,
        "events",
        "latecorr",
        ev.schema.simpleString()
        + f"|latecorr2|n={_STREAM_N_CHUNKS}|minute%7==3|value+0.5",
        build,
    )
    return read_file_stream(spark, staged, ev.schema)


def q_stream_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4 — watermarked streaming hourly rollup (continuous-aggregate
    analog, create.sql:161-174 + policies :345-381). Append mode emits only
    watermark-closed candles — the open candle is held back exactly like the
    updater (updater.py:177-184); with delay 0 the closed set is every bucket
    whose end <= max(ts), which is what the oracle filters to.

    UNDECLARED since r11 (swapped for ``stream_late_correction``, whose
    rollup-cascade stage subsumes the streamed-hourly semantics over a
    HARDER input — a replay with conflicting late corrections): the
    explicit-watermark contract stays pinned hash-exact by
    tests/test_streaming.py::test_stream_rollup_1h_matches_duckdb_twin via
    the preserved ``_stream_rollup_1h_oracle_sql``; the policy-derived
    watermark keeps its declared ``stream_rollup_5m`` row."""
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


def q_stream_rollup_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4 — the SECOND streamed conagg resolution (r10 swap-in), and the
    one that pins the reference's cadence→watermark translation at a second
    point: watermark=None derives the delay from the 5m policy's
    ``end_offset`` ('5 minutes', create.sql:345-381 via
    streaming.rollup.CONAGG_POLICIES) instead of the explicit 0s the 1h row
    uses. Append mode therefore emits exactly the buckets whose end clears
    max(ts) − end_offset — the conagg's publication lag — which is what the
    oracle filters to (the replay is time-ordered, so the lag only delays
    publication and can never drop a row). Replaces ``stream_dedup``
    (COVERAGE.md): exactly-once dedup stays pinned by
    tests/test_streaming.py's duplicate-delivery suite and the PK-dedup
    contract by the declared ``dedup_pk``/``stream_upsert_ingest`` rows.

    Thin wrapper over the parameterized ``q_stream_rollup``, like
    ``q_stream_rollup_1d``."""
    return q_stream_rollup(spark, sf_dir, "5m")


def q_stream_rollup_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/S4 — the THIRD streamed conagg resolution (r12; DECLARED r13):
    the reference's most-served family includes daily (create.sql:105-118,
    its policy create.sql:345-381 → CONAGG_POLICIES['1D'] = start '3 days' /
    end '1 day' / schedule '1 day'). watermark=None derives the delay from
    the 1D policy's end_offset exactly like the declared ``stream_rollup_5m``
    row, pinning the cadence→watermark translation at a SECOND gate point —
    and the first where the window spans many micro-batches (every replay
    chunk lands inside open daily windows, so state survives across all
    batches and only the watermark's final advance publishes). Append mode
    emits exactly the buckets whose end clears max(ts) − end_offset.

    Thin wrapper over the parameterized ``q_stream_rollup`` (r12 ADVICE:
    one definition per tier — the oracle is likewise
    ``_stream_rollup_oracle_sql('1D')``), proven hash-exact at three sfs in
    r12 before declaration per the rotation discipline."""
    return q_stream_rollup(spark, sf_dir, "1D")


def q_stream_late_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4+S7+A2 COMPOSED — the reference's full ingest pipeline as one
    oracle-checked row (r11 swap-in for ``stream_rollup_1h``): WS replay
    WITH conflicting late corrections (`celery_tasks.py:73-84` — the
    periodic REST re-fetch that re-delivers exchange-official rows for
    already-closed minutes) driven through

    1. the hold-back collector in the reference updater's verbatim emit
       protocol (`updater.py:160-185`): every closed 1m candle emits once
       a later minute arrives; the correction batch RE-OPENS and re-emits
       its minutes from the corrected ticks alone (the aggregates of an
       emitted minute are discarded at emission — exactly the updater,
       whose Redis sub-hash drops drained candles);
    2. the idempotent merge sink with upsert semantics (ON CONFLICT DO
       UPDATE, `queries.py:12-15`): the re-emitted corrected candles
       arrive in a LATER micro-batch, so newest-batch-wins resolves every
       corrected (symbol, bucket) to the correction — the parquet
       merge-on-read twin of the live-PG leg ``stream_upsert_ingest``
       already certifies (winner rule shared via within_batch_order,
       value-identical by the twin-parity capstone);
    3. the batch rollup cascade 1m → 5m → 1h (A2, bucket nesting twice)
       over the RESOLVED state.

    The oracle re-derives the final corrected hourly family from the raw
    events alone: apply the correction transform to the corrected minutes,
    drop each symbol's newest minute (hold-back), aggregate straight to 1h
    — so a green row proves end-to-end that a late correction lands in the
    served rollups, the pipeline the reference exists to run. The direct
    1h aggregation is the valid twin of the two-stage cascade by bucket
    nesting (proven in tests/test_properties.py), and volume stays on the
    decimal accumulator through both cascade steps."""
    import tempfile

    from coin_for_rich_spark.operators.candles import cascade_rollup
    from coin_for_rich_spark.streaming.stateful import hold_back_collector

    stream = candle_stream(_late_correction_stream(spark, sf_dir))
    candles_1m = hold_back_collector(stream, late_policy="emit")
    sink = ParquetMergeSink(
        tempfile.mkdtemp(prefix="cfr_latecorr_sink_") + "/tbl",
        pk=("symbol", "bucket"),
        mode="upsert",
    )
    run_ingest(
        candles_1m,
        sink,
        tempfile.mkdtemp(prefix="cfr_ckpt_"),
        state_partitions=_STREAM_STATE_PARTITIONS,
    )
    resolved = sink.read(spark)
    hourly = cascade_rollup(cascade_rollup(resolved, "5m"), "1h")
    return hourly.select(
        "bucket", "symbol", "open", "high", "low", "close", "volume", "n_trades"
    )


def q_stream_latest_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — latest-value serve aggregate (the Redis serve-hash,
    bitfinex.py:202-217): streaming max_by per key in complete mode.

    The stream first round-trips through the reference's Redis staging WIRE
    FORMAT (S3, bitfinex.py:176-201): each candle is serialized to a
    ``"t;;o;;h;;l;;c;;v"`` string and re-parsed with ``parse_wire_candles``
    (µs epoch so microsecond event time survives; doubles round-trip via
    shortest-repr cast) — so the wire parser + dead-letter split executes
    inside this oracle-checked row, not just in unit tests. The dead-letter
    leg is structurally empty here: format_wire_candles serializes NULL
    fields as explicit empty tokens (arity always 6), so a hypothetical
    null-field candle would land in dead letters with its full wire string
    — it cannot shift columns or silently vanish from the serve aggregate
    (arity + null contract pinned in tests/test_streaming.py)."""
    import uuid

    from coin_for_rich_spark.streaming.rollup import run_to_memory

    stream = candle_stream(_staged_stream(spark, sf_dir))
    wire = format_wire_candles(
        stream.select(
            "symbol",
            "ts",
            F.col("price").alias("open"),
            F.col("price").alias("high"),
            F.col("price").alias("low"),
            F.col("price").alias("close"),
            "volume",
        ),
        ts_unit="us",
    )
    # round_decimals=4: the reference updater's ingest rounding
    # (fetchers/ws/updater.py:84-88, NUM_DECIMALS=4) applied to the wire
    # fields — value-identical here (testdata measures are ≤2-decimal,
    # verified across sfs) but the reference-faithful parse is what the
    # gate row executes; exactness of the rounding itself is pinned
    # three-ways in tests/test_numbers.py
    parsed, _dead = parse_wire_candles(wire, ts_unit="us", round_decimals=4)
    candles = parsed.select(
        "symbol", "ts", F.col("close").alias("price"), "volume"
    )
    return run_to_memory(
        latest_value_serve(candles),
        f"stream_latest_{uuid.uuid4().hex}",
        "complete",
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def q_stream_hold_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — the updater's data-driven close rule via applyInPandasWithState
    (updater.py:165-184): a 1m candle is emitted once a later candle for the
    same key arrives; each key's newest candle is withheld."""
    import uuid

    from coin_for_rich_spark.streaming.rollup import run_to_memory
    from coin_for_rich_spark.streaming.stateful import hold_back_collector

    stream = candle_stream(_staged_stream(spark, sf_dir))
    return run_to_memory(
        hold_back_collector(stream),
        f"stream_hold_back_{uuid.uuid4().hex}",
        "append",
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def _psql_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The live-PostgreSQL leg of ``q_stream_upsert_ingest``: one
    ``PgWireMergeSink`` (streaming/pgwire.py) creates the table, merges
    and reads back. Each micro-batch is ONE Spark action as it arrives —
    every non-empty partition the stream hands ``foreachBatch`` COPYs from
    its own executor task over the raw wire protocol into the call's
    UNLOGGED staging table, which the first such task creates — then, if
    any rows landed, one transaction runs the DISTINCT ON + ON CONFLICT DO
    UPDATE merge and drops staging — the reference's ingest semantics
    (`fetchers/helpers/dbhelpers.py:34-132`): COPY each batch as it
    arrives, then merge. The returned relation is the resolved
    state read back FROM Postgres via COPY TO — the correctness row
    certifies what the database holds, not what Spark sent."""
    import hashlib
    import tempfile

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink
    from coin_for_rich_spark.streaming.pgserver import ephemeral_pg

    conninfo = ephemeral_pg()
    if conninfo is None:
        raise RuntimeError("no runnable PostgreSQL server in this environment")
    stream = _staged_stream(spark, sf_dir)
    schema = stream.schema
    table = f"cfr_upsert_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    sink = PgWireMergeSink(
        conninfo, table, pk=("user_id", "event_type"), mode="upsert",
        tiebreak_col="ts",
    )
    sink.create_table(schema, drop=True)
    run_ingest(
        stream,
        sink,
        tempfile.mkdtemp(prefix="cfr_ckpt_"),
        state_partitions=_STREAM_STATE_PARTITIONS,
    )
    return sink.read(spark, schema)


def q_stream_upsert_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S7 — foreachBatch merge-upsert ingest (ON CONFLICT DO UPDATE,
    queries.py:12-15): time-ordered replay means the kept row per
    (user_id, event_type) is the globally latest by ts.

    Backend selection via SPARK_GRAFT_PSQL: 'auto' (default) runs the
    north-star PostgreSQL sink when a server can boot in this environment
    and falls back to the parquet twin otherwise; '1' REQUIRES the
    Postgres leg (fail loud); '0' forces the parquet twin. Both legs
    resolve winners through the shared ``within_batch_order`` rule and are
    pinned value-identical by the twin-parity capstone
    (tests/test_postgres_sink.py), so the oracle row is backend-invariant
    BY CONSTRUCTION — and since r6 it certifies the Postgres readback
    wherever the server runs, closing the last gap between the declared
    gate and the reference's production ingest path."""
    import os
    import tempfile
    import warnings

    flag = os.environ.get("SPARK_GRAFT_PSQL", "auto")
    if flag != "0":
        try:
            return _psql_upsert_ingest(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — degrade to the pinned twin
            if flag == "1":
                raise
            warnings.warn(
                f"PostgreSQL leg unavailable ({exc}); stream_upsert_ingest "
                "falling back to the parquet merge twin",
                stacklevel=2,
            )
    sink = ParquetMergeSink(
        tempfile.mkdtemp(prefix="cfr_sink_") + "/tbl",
        pk=("user_id", "event_type"),
        mode="upsert",
        tiebreak_col="ts",
    )
    run_ingest(
        _staged_stream(spark, sf_dir),
        sink,
        tempfile.mkdtemp(prefix="cfr_ckpt_"),
        state_partitions=_STREAM_STATE_PARTITIONS,
    )
    return sink.read(spark)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full chart read path —
    interval router → hourly rollup → key/time filters → limit clamp."""
    cv = candles_view(spark, "/root/testdata/sf0.001")
    return read_ohlcvs(cv, "purchase", "1h", limit=500)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 declared queries — exactly the driver gate's 50-row window
    so EVERY entry gets a correctness row, ordered highest-risk-first
    (streaming semantics, then ANN/embedding, then fetch/media/sketch tiers,
    then the batch relational families) as insurance: if the list ever grows
    past a cap again, the components hardest to verify any other way are the
    last to fall out, not the first. The trailing assertion makes growth
    past the window FAIL LOUDLY instead of silently shedding a row."""
    out = {
        # streaming semantics (S3-S8) — the ingest path's north star
        # (stream_rollup_1h → stream_late_correction in r11: the composed
        # WS-replay + late-REST-correction pipeline — hold-back emit
        # protocol → upsert merge → rollup cascade — oracle-checked on the
        # final corrected hourly rollup; the explicit-watermark hourly
        # contract stays pinned hash-exact in tests/test_streaming.py)
        "stream_late_correction": q_stream_late_correction,
        "stream_latest_serve": q_stream_latest_serve,
        "stream_hold_back": q_stream_hold_back,
        # second streamed conagg resolution (r10 swap-in for stream_dedup:
        # exactly-once dedup stays pytest-pinned, COVERAGE.md maps it)
        "stream_rollup_5m": q_stream_rollup_5m,
        "stream_upsert_ingest": q_stream_upsert_ingest,
        # third streamed conagg resolution (r13 swap-in, gap_detect →
        # stream_rollup_1d: W1's LEAD-gap contract stays pinned hash-exact
        # by tests/test_operators.py::test_gap_detect_matches_duckdb_twin,
        # and detect_gaps still executes inside the maintenance suite; the
        # daily tier is the first streamed window spanning MANY
        # micro-batches — cross-batch state survival under the
        # policy-derived watermark, proven at three sfs in r12 before
        # declaration per the rotation discipline)
        "stream_rollup_1d": q_stream_rollup_1d,
        # embedding similarity / ANN tier (embed_knn → epoch_shuffle in r7:
        # brute cosine stays certified via embed_knn_join's every-row
        # oracle, a pytest twin pin since the r14 rotation)
        "embed_ann_lsh": q_embed_ann_lsh,
        "embed_ann_ivf": q_embed_ann_ivf,
        "embed_neardup": q_embed_neardup,
        # REST fetch plan (S1/S2)
        "fetch_plan": q_fetch_plan,
        "fetch_backfill": q_fetch_backfill,
        # multimodal plumbing (media_features → dedup_index_probe in r7:
        # its fake tier is superseded by the real decode/resample/frame rows)
        "frame_sample": q_frame_sample,
        # keyframe index without decode (r14 swap-in, embed_knn_join →
        # video_keyframes: the every-row exact-kNN oracle stays pinned
        # hash-exact by tests/test_llmdata.py::
        # test_embed_knn_join_matches_duckdb_twin, and the exact-cosine
        # family keeps gate presence via embed_neardup — same GEMM-blocked
        # kernel; video_keyframes's formula oracle — offsets included —
        # was committed and three-scale-proven in r13 before declaration
        # per the rotation discipline)
        "video_keyframes": q_video_keyframes,
        # compressed-container keyframe leg (r15 swap-in, brand_revenue →
        # video_keyframes_avc: the left-outer-decorate J2 family keeps gate
        # presence through top_customers/region_supplier_volume/top20_other,
        # and brand_revenue stays pinned hash-exact by tests/
        # test_operators.py::test_brand_revenue_matches_duckdb_twin; the
        # avc1/avcC formula oracle was committed + three-scale-proven in
        # r14 before declaration per the rotation discipline)
        "video_keyframes_avc": q_video_keyframes_avc,
        # web preprocessing (r13 swap-in, media_decode → web_preprocess:
        # the full encode→bytes→decode codec round trip stays pinned
        # hash-exact by tests/test_codecs.py::test_media_decode_matches_
        # duckdb_twin, and the attach→mapInPandas→stats plumbing keeps its
        # gate row via frame_sample; web_preprocess's five-dataset
        # string-exact twin was committed and proven in r12 before
        # declaration per the rotation discipline — HTML→text + URL
        # canonicalization was the one operator family with zero gate
        # presence)
        "web_preprocess": q_web_preprocess,
        # BPE tokenizer (media_resample → bpe_encode in r8: the per-pixel
        # NN contract stays pytest-pinned; the codec round trip is pinned
        # by the media_decode twin in tests/test_codecs.py since r13)
        "bpe_encode": q_bpe_encode,
        # bucketed range join (token_quantiles → range_join in r8: the
        # sketch-vs-exact contract stays pytest-pinned)
        "range_join": q_range_join,
        # T5 denoising constructor (simhash_pairs → span_corruption in r12:
        # the pigeonhole-vs-brute completeness contract stays pinned
        # hash-exact in tests/test_llmdata.py — its oracle row was a
        # constant-TRUE degenerate, while span_corruption's twin re-derives
        # the full mask/sentinel/reassembly output string-exact; oracle
        # committed and three-scale-proven in r11 per the swap discipline)
        "span_corruption": q_span_corruption,
        # ngram_jaccard precedes minhash_pairs deliberately: it computes the
        # exact-pair relation both reuse, so each query's bench cost is its
        # own work (the base relation's cost lands on the query that owns it)
        "ngram_jaccard": q_ngram_jaccard,
        # winnowing passage-overlap (r15 swap-in, count_distinct →
        # winnow_overlap: A7's exact tuple-distinct + HLL contract stays
        # pinned hash-exact by tests/test_operators.py::
        # test_count_distinct_matches_duckdb_twin, and the sketch contract
        # keeps its own pins in tests/test_sketches.py; winnowing's
        # full-value twin was committed + three-scale-proven in r14 before
        # declaration per the rotation discipline — the POSITIONAL
        # passage-overlap tier had zero gate presence until now)
        "winnow_overlap": q_winnow_overlap,
        "minhash_pairs": q_minhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        # incremental dedup vs the persisted fingerprint index (r7 swap-in)
        "dedup_index_probe": q_dedup_index_probe,
        "seq_packing": q_seq_packing,
        # leakage-safe cluster-atomic split (r10 swap-in for epoch_shuffle:
        # the shuffle's pure-(id,seed) contract stays pinned by the XXH64
        # closed-form twin in tests/test_pipeline.py; COVERAGE.md maps it)
        "leakage_split": q_leakage_split,
        "doc_line_dedup": q_doc_line_dedup,
        "doc_profile": q_doc_profile,
        "domain_mix_sample": q_domain_mix_sample,
        # ExactSubstr dedup tier (doc_scrub → span_dedup in r11: the scrub
        # pass is pure regexp column algebra value-pinned in
        # tests/test_pipeline.py and still executes inside the declared
        # corpus_curation row; span_dedup's oracle was committed and
        # sf1-proven one round before declaration per the swap discipline)
        "span_dedup": q_span_dedup,
        # overlapping chunking (doc_chunks → corpus_ingest in r7: the
        # scrub+chunk pipeline component stays gate-covered by doc_scrub)
        "corpus_ingest": q_corpus_ingest,
        "corpus_curation": q_corpus_curation,
        # candle family + chart reads
        "candles_all": q_candles_all,
        "chart_read_routes": q_chart_read_routes,
        "chart_read_gapfill": q_chart_read_gapfill,
        # analytics views
        "common_keys_30": q_common_keys_30,
        "top20_other": q_top20_other,
        "weekly_return": q_weekly_return,
        "geo_daily_return": q_geo_daily_return,
        # window / maintenance operators
        "latest_per_key": q_latest_per_key,
        "is_trading": q_is_trading,
        "retention_summary": q_retention_summary,
        "dedup_pk": q_dedup_pk,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        # relational core (count_distinct → winnow_overlap and
        # brand_revenue → video_keyframes_avc in r15: both rotated-out rows
        # keep named hash-exact twins in tests/test_operators.py, and their
        # families keep gate presence — exact distinct through dedup_pk's
        # tuple dedup + the join/agg rows, J2 left-decorate through
        # top_customers/region_supplier_volume)
        "props_extract": q_props_extract,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "region_supplier_volume": q_region_supplier_volume,
        "moving_avg": q_moving_avg,
        # char-LM quality scorer (serve_payload → quality_score in r10:
        # the serve wire contract stays pinned by the 11 test_serve.py
        # cases from the r10 adversarial pass; epoch-ms serialization
        # still executes inside the oracle-checked chart rows)
        "quality_score": q_quality_score,
    }
    assert len(out) <= 50, (
        f"{len(out)} queries declared but the driver correctness gate checks "
        "only the first 50 — swap a query out (documenting the old→new "
        "mapping in COVERAGE.md) instead of silently losing a row"
    )
    return out


# ---------------------------------------------------------------------------
# DuckDB twin of Spark's xxhash64 over (bigint, int-literal) — the epoch-
# shuffle order key. XXH64 collapses to a short closed form for fixed-width
# input: hashLong(id, 42) then hashInt(seed_literal, that). DuckDB's BIGINT
# ops raise on overflow, so every multiply/rotate routes through HUGEINT
# mod 2^64; emitted as a chain of one-op CTEs (inlining would duplicate the
# running value exponentially).
# ---------------------------------------------------------------------------

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1
# the full 64×64-bit product needs UNSIGNED int128: (2^64-1)^2 overflows
# HUGEINT (signed) but fits UHUGEINT exactly
_M64 = "18446744073709551616::UHUGEINT"


def _u64_mul(c: int) -> str:
    return f"(((v)::UHUGEINT * {c}::UHUGEINT) % {_M64})::UBIGINT"


def _u64_add(c: int) -> str:
    return f"(((v)::UHUGEINT + {c}::UHUGEINT) % {_M64})::UBIGINT"


def _u64_rotl(r: int) -> str:
    return f"({_u64_mul(1 << r)} | ((v) >> {64 - r}))"


def _u64_mix(r: int) -> str:
    return f"xor(v, (v) >> {r})"


def _stream_rollup_1h_oracle_sql() -> str:
    """DuckDB twin of the watermark-0 streamed hourly rollup — preserved as
    a pytest pin after ``stream_rollup_1h`` rotated OUT of the driver gate
    in r11 (swapped for ``stream_late_correction``, whose cascade stage
    covers hourly rollup semantics over a harder input): append mode +
    watermark 0 emits exactly the buckets whose window end precedes the
    stream's max event time (the open candle is withheld)."""
    return f"""
        WITH c AS ({HOURLY})
        SELECT * FROM c
        WHERE bucket + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
    """


def _stream_rollup_1d_oracle_sql() -> str:
    """DuckDB twin of the policy-derived streamed DAILY rollup (r12, the
    third streamed conagg resolution; DECLARED r13): append mode with the
    1D policy's end_offset ('1 day') emits exactly the buckets whose window
    end clears max(ts) − 1 day — the conagg's publication lag, which on a
    time-ordered replay only delays publication and can never drop a row.
    Thin wrapper over the parameterized twin (r12 ADVICE: a dedicated
    hand-written daily oracle and the generic one can drift apart — one
    definition)."""
    return _stream_rollup_oracle_sql("1D")


def _stream_rollup_oracle_sql(interval: str) -> str:
    """Generic DuckDB twin for ANY fixed-width streamed conagg resolution
    (r12): candles over the resolution's origin-aligned bucket expression,
    published exactly when the window end clears max(ts) − end_offset (the
    policy's publication lag, `create.sql:345-381` →
    ``CONAGG_POLICIES[interval][1]``). With the 5m/1h/1d twins this closes
    the per-resolution gap: the reference's full fixed-width conagg family
    streams through ``streaming_ohlcv_rollup`` with its policy-derived
    watermark and every resolution is pinned against this twin in
    tests/test_streaming.py (the calendar '1M' tier is batch-only by
    design — calendar months have no fixed streaming window width)."""
    from coin_for_rich_spark.functions.timeutils import INTERVAL_SECONDS
    from coin_for_rich_spark.streaming.rollup import CONAGG_POLICIES

    width = INTERVAL_SECONDS[interval]
    end_offset = CONAGG_POLICIES[interval][1]
    return f"""
        WITH c AS ({_candle_sql(_RES_BUCKET_SQL[interval])})
        SELECT * FROM c
        WHERE bucket + INTERVAL {width} SECOND
              <= (SELECT max(ts) - INTERVAL '{end_offset}' FROM events)
    """


def q_stream_rollup(
    spark: SparkSession, sf_dir: str, interval: str
) -> DataFrame:
    """Policy-watermarked streamed rollup at ANY fixed resolution — the
    parameterized form behind the declared ``stream_rollup_5m`` row and the
    pytest-pinned 1h/1d/15m/30m/6h/12h/7D tiers."""
    import uuid

    from coin_for_rich_spark.streaming.rollup import run_to_memory

    stream = candle_stream(_staged_stream(spark, sf_dir))
    rolled = streaming_ohlcv_rollup(stream, interval, watermark=None)
    return run_to_memory(
        rolled,
        f"stream_rollup_{interval.lower()}_{uuid.uuid4().hex}",
        "append",
        state_partitions=_STREAM_STATE_PARTITIONS,
    )


def _doc_scrub_oracle_sql() -> str:
    """DuckDB twin of llmdata.pipeline.scrub_text — preserved as a pytest
    pin after ``doc_scrub`` rotated OUT of the driver gate in r11 (swapped
    for ``span_dedup``; every scrubbed string and audit count stays checked
    in tests/test_pipeline.py, and the scrub still executes inside the
    declared ``corpus_curation`` row)."""
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


def _web_preprocess_oracle_sql() -> str:
    """DuckDB twin of ``q_web_preprocess`` — the html_text and
    canonical_url column chains re-derived step-for-step (same synthesis
    constants, same replace ORDER): block-content drops with 'gis' RE2
    flags, whitespace flatten BEFORE block-break conversion, tag strip,
    entity decode in the pinned order, numeric entities, line collapse;
    then scheme/host lowering, scheme-specific default-port strip,
    fragment drop, FIRST-'?' split (instr, not a global regex — a '?'
    inside a parameter value is data), the second-'?'-tracking-param
    disguise (RE2 has no lookahead, so the twin uses a capture-group
    rewrite — semantically identical), tracking filter + param sort,
    trailing-slash and www. strip, opaque passthrough.

    UNDECLARED (r13 rotation fuel per the swap discipline): executed
    string-exact in tests/test_web.py this round, one round before any
    declaration."""
    trk = "(?:utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)"
    block_break = (
        r"</(?:p|div|li|tr|h[1-6]|ul|ol|table|section|article|header|footer|"
        r"blockquote|pre|figure)>|<br\s*/?>|<hr\s*/?>"
    )
    # html_text chain over the synthesized column, innermost-first
    t = "html"
    for tag in ("script", "style", "noscript", "template"):
        t = f"regexp_replace({t}, '<{tag}\\b[^>]*>.*?</{tag}>', ' ', 'gis')"
    t = f"regexp_replace({t}, '<!--.*?-->', ' ', 'gs')"
    t = f"regexp_replace({t}, '\\s+', ' ', 'g')"
    t = f"regexp_replace({t}, '{block_break}', chr(10), 'gi')"
    t = f"regexp_replace({t}, '<[^>]+>', ' ', 'gs')"
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "''"), ("&apos;", "''"), ("&amp;", "&"),
    ):
        t = f"replace({t}, '{ent}', '{rep}')"
    t = f"regexp_replace({t}, '&#(\\d+);', ' ', 'g')"
    t = f"regexp_replace({t}, '[ \\t\\r\\f]+', ' ', 'g')"
    t = f"regexp_replace({t}, ' ?\\n ?', chr(10), 'g')"
    t = f"regexp_replace({t}, '\\n{{2,}}', chr(10), 'g')"
    t = f"trim({t})"
    return f"""
        WITH base AS (
          SELECT doc_id,
                 '{_WEB_HTML_P1}' || CAST(doc_id AS VARCHAR) ||
                 '{_WEB_HTML_P2}' || CAST(doc_id AS VARCHAR) ||
                 '{_WEB_HTML_P3}' || coalesce(text, '') ||
                 '{_WEB_HTML_P4}' AS html,
                 CASE doc_id % 4
                   WHEN 0 THEN 'HTTPS://WWW.Shop' || CAST(doc_id % 7 AS VARCHAR)
                        || '.COM:443/Items/' || CAST(doc_id AS VARCHAR)
                        || '/?utm_source=feed&ref=home&b=2&a=1#frag'
                   WHEN 1 THEN 'http://News' || CAST(doc_id % 5 AS VARCHAR)
                        || '.example.org:80/read?a=' || CAST(doc_id % 3 AS VARCHAR)
                        || '?utm_campaign=x'
                   WHEN 2 THEN 'https://example' || CAST(doc_id % 7 AS VARCHAR)
                        || '.net/p/' || CAST(doc_id AS VARCHAR)
                        || '/?utm_medium=email&fbclid=ZZ'
                   ELSE 'URN:doc:' || CAST(doc_id AS VARCHAR)
                 END AS url
          FROM documents
        ),
        txt AS (
          SELECT doc_id, {t} AS extracted_text FROM base
        ),
        u0 AS (
          SELECT doc_id, trim(url) AS c FROM base
        ),
        u1 AS (
          SELECT doc_id, c,
                 lower(regexp_extract(c, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                 regexp_replace(regexp_replace(c, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                                '#.*$', '') AS rest
          FROM u0
        ),
        u2 AS (
          SELECT *, regexp_replace(lower(regexp_extract(rest, '^([^/?]+)', 1)),
                                   '^www\\.', '') AS host0,
                 regexp_replace(rest, '^[^/?]+', '') AS raw_tail
          FROM u1
        ),
        u3 AS (
          SELECT *, CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                         WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                         ELSE host0 END AS host,
                 instr(raw_tail, '?') AS qpos
          FROM u2
        ),
        u4 AS (
          SELECT *, regexp_replace(
                   CASE WHEN qpos > 0 THEN substr(raw_tail, 1, qpos - 1)
                        ELSE raw_tail END, '/$', '') AS path,
                 CASE WHEN qpos > 0
                      THEN regexp_replace(substr(raw_tail, qpos + 1),
                                          '\\?({trk}=)', '&\\1', 'g')
                 END AS query
          FROM u3
        ),
        u5 AS (
          SELECT *, list_sort(list_filter(string_split(query, '&'),
                     p -> p <> '' AND NOT regexp_matches(p, '^{trk}=')))
                 AS kept
          FROM u4
        ),
        u6 AS (
          SELECT doc_id, c, scheme, host,
                 CASE WHEN kept IS NOT NULL AND len(kept) > 0
                      THEN path || '?' || array_to_string(kept, '&')
                      ELSE path END AS tail
          FROM u5
        ),
        canon AS (
          SELECT doc_id,
                 CASE WHEN c IS NULL THEN NULL
                      WHEN scheme = '' THEN lower(c)
                      ELSE scheme || '://' || host || tail END AS canonical_url
          FROM u6
        )
        SELECT b.doc_id,
               t.extracted_text,
               CASE WHEN t.extracted_text IS NULL OR t.extracted_text = ''
                    THEN 0
                    ELSE len(string_split(t.extracted_text, chr(10))) END
                   AS n_lines,
               b.url,
               k.canonical_url,
               coalesce(regexp_extract(k.canonical_url,
                        '^[a-z0-9+.-]+://([^/?]+)', 1), '') AS domain
        FROM base b
        JOIN txt t USING (doc_id)
        JOIN canon k USING (doc_id)
    """


def _span_dedup_oracle_sql(window: int) -> str:
    """DuckDB twin of ``llmdata.dedup.repeated_span_dedup`` — the exact
    repeated-substring (ExactSubstr, Lee et al. 2022) pass: window
    occurrences via list comprehension, the global (doc, pos) winner per
    duplicated window value via a ROW min, marked-range merging as
    gaps-and-islands (running max of span ends), and the token-index
    filter as a guarded comprehension.

    DECLARED as of r11 (``span_dedup``, swapped in for ``doc_scrub`` per
    the rotation discipline): proven hash-exact at sf0.001/sf0.1/sf1 in
    tests/test_span_dedup.py and .scale/SPAN_DEDUP_SCALING.json one round
    before declaration.
    """
    w = int(window)
    # Streaming window derivation (r11): the original comprehension built,
    # PER DOCUMENT, the full list of {{window-string, pos}} structs before
    # unnesting — DuckDB's buffer manager does not track comprehension
    # intermediates, so at sf1 (~25M windows) the oracle grew to ~96 GiB
    # RSS beside the 48 GiB JVM and drew the OOM killer. This form explodes
    # one row per TOKEN (lateral unnest of an integer range) and assembles
    # each window with LEAD over (doc, pos) — sort-based, spillable, fully
    # tracked: measured 4.3 s / <1 GiB RSS for the same aggregation at sf1.
    lead_concat = " || ' ' || ".join(
        f"lead(w, {k}) OVER win" for k in range(1, w)
    )
    return f"""
        WITH t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        tok AS (
          SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS w
          FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        ),
        occ AS (
          SELECT doc_id, pos, w || ' ' || {lead_concat} AS win
          FROM tok
          WINDOW win AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING)
          QUALIFY lead(w, {w - 1}) OVER win IS NOT NULL
        ),
        win0 AS (
          SELECT win, min((doc_id, pos)) AS w0
          FROM occ GROUP BY win HAVING count(*) >= 2
        ),
        marks AS (
          SELECT o.doc_id, o.pos
          FROM occ o JOIN win0 ww USING (win)
          WHERE (o.doc_id, o.pos) <> ww.w0
        ),
        ordered AS (
          SELECT doc_id, pos,
                 max(pos + {w}) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_e
          FROM marks
        ),
        isl AS (
          SELECT doc_id, pos,
                 sum(CASE WHEN prev_e IS NULL OR pos > prev_e
                          THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS iid
          FROM ordered
        ),
        ranges AS (
          SELECT doc_id, min(pos) AS s, max(pos + {w}) AS e
          FROM isl GROUP BY doc_id, iid
        ),
        rng AS (
          SELECT doc_id, list({{'s': s, 'e': e}} ORDER BY s) AS ranges
          FROM ranges GROUP BY doc_id
        ),
        final AS (
          SELECT t.doc_id, t.toks, coalesce(r.ranges, []) AS ranges
          FROM t LEFT JOIN rng r USING (doc_id)
        )
        SELECT doc_id,
               coalesce(array_to_string(
                   [toks[i] for i in range(1, len(toks) + 1)
                    if len(list_filter(ranges,
                           rr -> rr.s <= i - 1 AND i - 1 < rr.e)) = 0],
                   ' '), '') AS text,
               len(toks) AS n_tokens_before,
               len(toks) - len(
                   [toks[i] for i in range(1, len(toks) + 1)
                    if len(list_filter(ranges,
                           rr -> rr.s <= i - 1 AND i - 1 < rr.e)) = 0])
                   AS n_tokens_removed,
               len(ranges) AS n_spans_removed
        FROM final
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


def _span_corruption_oracle_sql(
    density: float = 0.15, span_len: int = 3, seed: int = 0
) -> str:
    """DuckDB twin of ``llmdata.pipeline.span_corruption`` — the T5-style
    denoising constructor, re-derived from first principles: the mask draw
    recomputes Spark's ``xxhash64(doc_id BIGINT, block BIGINT, seed INT)``
    chain in closed form (hashLong → hashLong → hashInt, each a complete
    seeded XXH64 with final avalanche, as one-op UHUGEINT-mod-2⁶⁴ CTE
    steps over the token rows — the epoch-shuffle twin's machinery
    extended to a three-element, per-row-varying input), then rebuilds
    run numbering (gaps-and-islands), sentinel interleave, ordered
    reassembly, and the closing sentinel.

    UNDECLARED (the 50-query gate window is full): executed hash-exact
    against the engine in tests/test_pipeline.py — the documented r12
    swap-in candidate per the rotation discipline (committed and proven
    one round before declaration, like span_dedup was in r10)."""
    d_thresh = int(density * 1_000_000)
    fmix = [_u64_mix(33), _u64_mul(_XXH_P2), _u64_mix(29), _u64_mul(_XXH_P3), _u64_mix(32)]
    init1 = (42 + _XXH_P5 + 8) & _U64  # hashLong(doc_id, seed=42) accumulator
    seed_mult = ((seed & 0xFFFFFFFF) * _XXH_P1) & _U64  # hashInt's k1
    k1_steps = [_u64_mul(_XXH_P2), _u64_rotl(31), _u64_mul(_XXH_P1)]
    hash_long_tail = [_u64_rotl(27), _u64_mul(_XXH_P1), _u64_add(_XXH_P4), *fmix]
    carry = "doc_id, pos, tok"
    ctes = [
        # streaming token explosion (same form as the span-dedup twin)
        """t AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        )""",
        # MATERIALIZED: DuckDB 1.0 inlines single-use CTEs, which drags the
        # LATERAL unnest into the downstream per-doc aggregate and trips
        # "LATERAL join cannot contain aggregates"
        f"""t0 AS MATERIALIZED (
          SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS tok,
                 CAST(CAST((i - 1) // {int(span_len)} AS BIGINT) AS UBIGINT) AS v
          FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        )""",
    ]
    n = 0
    # phase A: k1 of the block value
    for expr in k1_steps:
        ctes.append(f"a{n} AS (SELECT {carry}, {expr} AS v FROM {'t0' if n == 0 else f'a{n-1}'})")
        n += 1
    # phase B: v = hashLong(doc_id, 42), carrying kb
    steps_b = [
        *k1_steps,
        f"xor({init1}::UBIGINT, v)",
        *hash_long_tail,
    ]
    ctes.append(
        f"b0 AS (SELECT {carry}, v AS kb, CAST(CAST(doc_id AS BIGINT) AS UBIGINT) AS v FROM a{n-1})"
    )
    m = 0
    for expr in steps_b:
        ctes.append(f"b{m+1} AS (SELECT {carry}, kb, {expr} AS v FROM b{m})")
        m += 1
    # phase C: v = hashLong(block, v) — init = v + P5 + 8, k1 = kb
    steps_c = [_u64_add(_XXH_P5 + 8), "xor(v, kb)", *hash_long_tail]
    # phase D: v = hashInt(seed, v)
    steps_d = [
        _u64_add(_XXH_P5 + 4),
        f"xor(v, {seed_mult}::UBIGINT)",
        _u64_rotl(23),
        _u64_mul(_XXH_P2),
        _u64_add(_XXH_P3),
        *fmix,
    ]
    for expr in steps_c + steps_d:
        ctes.append(f"b{m+1} AS (SELECT {carry}, kb, {expr} AS v FROM b{m})")
        m += 1
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined},
        flag AS (
          SELECT doc_id, pos, tok,
                 ((CASE WHEN v >= 9223372036854775808::UBIGINT
                        THEN (v::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                        ELSE v::BIGINT END % 1000000 + 1000000) % 1000000)
                     < {d_thresh} AS masked
          FROM b{m}
        ),
        runs AS (
          SELECT *, masked AND NOT coalesce(
                   lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE
                 ) AS start
          FROM flag
        ),
        ks AS (
          SELECT *, sum(CASE WHEN start THEN 1 ELSE 0 END)
                      OVER (PARTITION BY doc_id ORDER BY pos) AS k
          FROM runs
        ),
        elems AS (
          SELECT doc_id, pos,
                 CASE WHEN NOT masked THEN [tok]
                      WHEN start THEN ['<extra_id_' || CAST(k - 1 AS VARCHAR) || '>']
                      ELSE []::VARCHAR[] END AS inp,
                 CASE WHEN masked AND start
                        THEN ['<extra_id_' || CAST(k - 1 AS VARCHAR) || '>', tok]
                      WHEN masked THEN [tok]
                      ELSE []::VARCHAR[] END AS tgt,
                 CASE WHEN masked THEN 1 ELSE 0 END AS msk,
                 k
          FROM ks
        ),
        per_doc AS (
          SELECT doc_id,
                 flatten(list(inp ORDER BY pos)) AS input_toks,
                 flatten(list(tgt ORDER BY pos)) AS tgt_toks,
                 CAST(sum(msk) AS BIGINT) AS n_masked,
                 max(k) AS nspans
          FROM elems GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(array_to_string(p.input_toks, ' '), '') AS input_text,
               coalesce(array_to_string(
                   p.tgt_toks ||
                   ['<extra_id_' || CAST(p.nspans AS VARCHAR) || '>'], ' '),
                   '') AS target_text,
               coalesce(p.n_masked, 0) AS n_masked
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


def _dedup_probe_oracle_sql() -> str:
    """DuckDB twin of the incremental-dedup probe: reads the index + probe
    fingerprint legs that ``q_dedup_index_probe`` materializes (the fixed
    $TMPDIR link name, resolved lazily at oracle EXECUTION — see
    ``_gate_store_path`` for why generation-time resolution is wrong)
    and REDOES the classification: md5-exact equi-join,
    band-bucket candidate join, matching-position Jaccard estimate over the
    signature arrays, the ≥ threshold filter, and the (max estimate,
    min doc) tie contract, with exact taking precedence over near."""
    gate = _gate_store_path("cfr_dedupidx_gate")
    return f"""
        WITH idx_exact AS (SELECT * FROM read_parquet('{gate}/index/exact/*.parquet')),
        new_exact AS (SELECT * FROM read_parquet('{gate}/probe/exact/*.parquet')),
        idx_bands AS (SELECT * FROM read_parquet('{gate}/index/bands/*/*.parquet', hive_partitioning=1)),
        new_bands AS (SELECT * FROM read_parquet('{gate}/probe/bands/*/*.parquet', hive_partitioning=1)),
        idx_sigs AS (SELECT * FROM read_parquet('{gate}/index/sigs/*.parquet')),
        new_sigs AS (SELECT * FROM read_parquet('{gate}/probe/sigs/*.parquet')),
        batch AS (
            SELECT doc_id FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id + 1000000 FROM documents WHERE doc_id % 40 = 1
        ),
        exact_hits AS (
            SELECT ne.doc AS doc_id, min(ie.doc) AS exact_match
            FROM new_exact ne JOIN idx_exact ie USING (content_hash)
            GROUP BY ne.doc
        ),
        cand AS (
            SELECT DISTINCT nb.doc AS new_doc, ib.doc AS idx_doc
            FROM new_bands nb JOIN idx_bands ib
              ON nb.band = ib.band AND nb.bhash = ib.bhash
        ),
        scored AS (
            SELECT c.new_doc, c.idx_doc,
                   list_sum(list_transform(
                       list_zip(ns.signature, isg.signature),
                       x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END
                   )) / 32.0 AS est_jaccard
            FROM cand c
            JOIN new_sigs ns ON ns.doc = c.new_doc
            JOIN idx_sigs isg ON isg.doc = c.idx_doc
        ),
        near AS (
            SELECT new_doc AS doc_id, min(idx_doc) AS near_match,
                   max(est_jaccard) AS est_jaccard
            FROM (
                SELECT *, max(est_jaccard) OVER (PARTITION BY new_doc) AS best
                FROM scored WHERE est_jaccard >= 0.5
            ) WHERE est_jaccard = best
            GROUP BY new_doc
        )
        SELECT b.doc_id,
               CASE WHEN eh.exact_match IS NOT NULL THEN 'exact_dup'
                    WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                    ELSE 'fresh' END AS status,
               coalesce(eh.exact_match, nr.near_match) AS match_doc,
               CASE WHEN eh.exact_match IS NOT NULL THEN 1.0
                    ELSE nr.est_jaccard END AS est_jaccard
        FROM batch b
        LEFT JOIN exact_hits eh USING (doc_id)
        LEFT JOIN near nr USING (doc_id)
    """


def _corpus_ingest_oracle_sql() -> str:
    """DuckDB twin of the 4-batch streaming corpus ingest: replays the
    WHOLE protocol in chained CTEs — per-batch in-batch winners (min id per
    md5), then exact-hash and band-bucket + signature-estimate suppression
    against the union of all PRIOR batches' survivors — over the
    fingerprint dump ``q_corpus_ingest`` materializes (same fixed $TMPDIR
    resolution as the dedup-probe twin)."""
    gate = _gate_store_path("cfr_corpusingest_gate")
    est = (
        "list_sum(list_transform(list_zip(ns.signature, isg.signature), "
        "x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END)) / 32.0"
    )
    parts = [
        f"""fex AS (SELECT * FROM read_parquet('{gate}/fps/exact/*.parquet')),
        fbd AS (SELECT * FROM read_parquet('{gate}/fps/bands/*/*.parquet', hive_partitioning=1)),
        fsg AS (SELECT * FROM read_parquet('{gate}/fps/sigs/*.parquet')),
        cand AS (
            SELECT doc_id, CAST(doc_id % 4 AS INT) AS b FROM documents
            UNION ALL
            SELECT doc_id + 1000000, 3 FROM documents
            WHERE doc_id % 4 != 3 AND doc_id % 10 = 3
        ),
        prior0 AS (SELECT doc_id FROM cand WHERE FALSE)"""
    ]
    for b in range(4):
        parts.append(
            f"""keep{b} AS (
            SELECT min(c.doc_id) AS doc_id
            FROM cand c JOIN fex ON fex.doc = c.doc_id
            WHERE c.b = {b} GROUP BY fex.content_hash
        ),
        ing{b} AS (
            SELECT k.doc_id FROM keep{b} k
            WHERE NOT EXISTS (
                SELECT 1 FROM fex a JOIN fex i ON a.content_hash = i.content_hash
                WHERE a.doc = k.doc_id AND i.doc IN (SELECT doc_id FROM prior{b})
            )
            AND NOT EXISTS (
                SELECT 1
                FROM fbd nb JOIN fbd ib ON nb.band = ib.band AND nb.bhash = ib.bhash
                JOIN fsg ns ON ns.doc = nb.doc
                JOIN fsg isg ON isg.doc = ib.doc
                WHERE nb.doc = k.doc_id AND ib.doc IN (SELECT doc_id FROM prior{b})
                  AND {est} >= 0.5
            )
        )"""
        )
        if b < 3:
            parts.append(
                f"""prior{b + 1} AS (
            SELECT doc_id FROM prior{b} UNION SELECT doc_id FROM ing{b}
        )"""
            )
    selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS ingest_batch FROM ing{b}" for b in range(4)
    )
    joined = ",\n        ".join(parts)
    return f"WITH {joined}\n        {selects}"


def _bpe_oracle_sql(n_merges: int, min_pair_count: int) -> str:
    """DuckDB twin that RE-TRAINS the BPE model and re-encodes every doc.

    One chained (best_k, words_{k+1}) CTE pair per merge round: best_k is
    the pair-count argmax under the engine's exact tie-break (count desc,
    pair lexicographic asc, min-pair-count floor); the fold replays the
    left-to-right merge rule as a GENUINE left-to-right list_reduce over
    the symbol array (ADVICE r8 #1 — the previous separator-guarded string
    replace scanned the ORIGINAL string past each consumed trailing
    separator, so the second of two adjacent occurrences of the winning
    pair never merged: 'banana' under (a,n) gave [b,an,a,n,a,</w>] where
    the engine's _apply_merge gives [b,an,an,a,</w>]). The accumulator is
    the US-delimited symbol string seeded with a lone US sentinel; at each
    symbol x, if the accumulator ends with `US a US` and x = b the trailing
    `a US` is rewritten to `a||b US`, else `x US` is appended. A merged
    token can never re-merge with a following b in the same pass because
    the rewritten suffix is `a||b` ≠ `a` (b is non-empty) — exactly the
    non-overlapping scan of _apply_merge, including [l,l,l] -> [ll,l].
    CTEs are MATERIALIZED: default inlining re-expands each words_k ~4x
    per round — exponential in rounds. Empty best_k (max pair count below
    the floor) joins NULL and leaves sym untouched, matching the trainer's
    break. \\x1f in raw text is mapped to ' ' first, mirroring the engine
    gate path (ADVICE r8 #4)."""
    us = "chr(31)"
    parts = [
        f"""doc_words AS MATERIALIZED (
            SELECT doc_id, pos, w[pos] AS word
            FROM (
                SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS pos
                FROM (
                    SELECT doc_id,
                           CASE WHEN len(trim(replace(text, {us}, ' '))) > 0
                                THEN list_filter(
                                    regexp_split_to_array(
                                        trim(replace(text, {us}, ' ')), '\\s+'),
                                    x -> x <> '')
                                ELSE [] END AS w
                    FROM documents
                )
            )
        ),
        words0 AS MATERIALIZED (
            SELECT word, count(*) AS cnt,
                   {us} || regexp_replace(word, '(.)', '\\1' || {us}, 'g')
                        || '</w>' || {us} AS sym
            FROM doc_words GROUP BY word
        )"""
    ]
    for k in range(n_merges):
        parts.append(
            f"""best{k} AS MATERIALIZED (
            SELECT s[i] AS a, s[i + 1] AS b, sum(cnt) AS n
            FROM (
                SELECT s, cnt, unnest(range(1, len(s))) AS i
                FROM (SELECT list_filter(str_split(sym, {us}), x -> x <> '') AS s,
                             cnt
                      FROM words{k})
            )
            GROUP BY 1, 2
            HAVING sum(cnt) >= {min_pair_count}
            ORDER BY n DESC, a, b LIMIT 1
        ),
        words{k + 1} AS MATERIALIZED (
            SELECT word, cnt,
                   CASE WHEN mb.a IS NULL THEN sym
                        ELSE list_reduce(
                            list_prepend({us},
                                list_filter(str_split(sym, {us}),
                                            x -> x <> '')),
                            (acc, x) -> CASE
                                WHEN ends_with(acc, {us} || mb.a || {us})
                                     AND x = mb.b
                                THEN substr(acc, 1,
                                            len(acc) - len(mb.a) - 1)
                                     || mb.a || mb.b || {us}
                                ELSE acc || x || {us} END)
                   END AS sym
            FROM words{k} LEFT JOIN best{k} mb ON TRUE
        )"""
        )
    parts.append(
        f"""enc AS (
            SELECT word, list_filter(str_split(sym, {us}), x -> x <> '') AS toks
            FROM words{n_merges}
        ),
        per_doc AS (
            SELECT dw.doc_id,
                   sum(len(e.toks)) AS n_tokens,
                   string_agg(array_to_string(e.toks, {us}), {us}
                              ORDER BY dw.pos) AS tok_str
            FROM doc_words dw JOIN enc e USING (word)
            GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
               md5(coalesce(p.tok_str, '')) AS toks_md5
        FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"""
    )
    return "WITH " + ",\n        ".join(parts)


def _brand_revenue_oracle_sql() -> str:
    """DuckDB twin of ``q_brand_revenue`` (J2 left-outer decorate) —
    rotated OUT of the driver gate in r15 (swapped for
    ``video_keyframes_avc``): executed hash-exact by
    tests/test_operators.py::test_brand_revenue_matches_duckdb_twin. The
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
    HLL accuracy contract) — rotated OUT of the driver gate in r15
    (swapped for ``winnow_overlap``): executed hash-exact by
    tests/test_operators.py::test_count_distinct_matches_duckdb_twin;
    the sketch contract keeps its own pins in tests/test_sketches.py."""
    return """
        SELECT l_returnflag,
               count(DISTINCT (l_partkey, l_suppkey)) AS n_exact,
               TRUE AS approx_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """


def _gap_detect_oracle_sql() -> str:
    """DuckDB twin of ``q_gap_detect`` (W1) — rotated OUT of the driver
    gate in r13 (swapped for ``stream_rollup_1d``): executed hash-exact
    by tests/test_operators.py::test_gap_detect_matches_duckdb_twin.
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
    Rotated OUT of the driver gate in r14 (swapped for
    ``video_keyframes``): executed hash-exact by
    tests/test_llmdata.py::test_embed_knn_join_matches_duckdb_twin. The
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
    per codeword). Rotated OUT of the driver gate in r13 (swapped for
    ``web_preprocess``): executed hash-exact by
    tests/test_codecs.py::test_media_decode_matches_duckdb_twin."""
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



def oracle_sql() -> dict[str, str]:
    return {
        "candles_all": CANDLES_ALL_SQL,
        "chart_read_routes": f"""
            WITH c AS ({HOURLY}),
            sel AS (
                SELECT * FROM (
                    SELECT * FROM c
                    WHERE symbol = 'purchase'
                      AND bucket >= TIMESTAMP '2024-01-03 00:00:00'
                      AND bucket <= TIMESTAMP '2024-01-29 00:00:00'
                    ORDER BY bucket DESC LIMIT 500
                ) ORDER BY bucket
            )
            SELECT *, 'direct' AS route FROM sel
            UNION ALL
            SELECT *, 'materialized' AS route FROM sel
        """,
        "chart_read_gapfill": f"""
            WITH c AS ({HOURLY}),
            e AS (SELECT date_trunc('minute', max(ts)) AS end_ts FROM events),
            f AS (
                SELECT c.* FROM c, e
                WHERE symbol = 'click' AND bucket <= end_ts
                ORDER BY bucket DESC LIMIT 500
            ),
            stats AS (
                SELECT
                    CAST(sum(CAST(open AS DECIMAL(18,2))) AS DOUBLE) / count(open) AS a_open,
                    CAST(sum(CAST(high AS DECIMAL(18,2))) AS DOUBLE) / count(high) AS a_high,
                    CAST(sum(CAST(low AS DECIMAL(18,2))) AS DOUBLE) / count(low) AS a_low,
                    CAST(sum(CAST(close AS DECIMAL(18,2))) AS DOUBLE) / count(close) AS a_close,
                    min(bucket) AS lo
                FROM f
            ),
            -- the spine: anchored at min(fetched), stepping to end, then
            -- clamped to its latest 500 grid points (readers.py:228-238's
            -- ORDER BY ts DESC LIMIT over the generated series)
            spine AS (
                -- the IS NOT NULL guard carries the empty-fetch contract
                -- through the clamp: DuckDB's greatest() IGNORES NULL
                -- arguments (unlike the SQL-standard NULL-poisoning
                -- comparison), so on an empty fetch the clamp anchor alone
                -- would fabricate a 500-row all-NULL spine where the
                -- reference (readers.py:230, pinned on live PG) returns []
                SELECT unnest(generate_series(
                    greatest(stats.lo,
                             date_trunc('hour', e.end_ts) - INTERVAL 499 HOUR),
                    e.end_ts, INTERVAL 1 HOUR)) AS bucket
                FROM stats, e
                WHERE stats.lo IS NOT NULL
            )
            SELECT spine.bucket AS bucket,
                   round(coalesce(f.open, stats.a_open), 4) AS open,
                   round(coalesce(f.high, stats.a_high), 4) AS high,
                   round(coalesce(f.low, stats.a_low), 4) AS low,
                   round(coalesce(f.close, stats.a_close), 4) AS close,
                   coalesce(f.volume, 0.0) AS volume,
                   (f.open IS NULL) AS filled,
                   'click' AS symbol
            FROM spine LEFT JOIN f ON spine.bucket = f.bucket, stats
        """,
        "common_keys_30": """
            SELECT l_partkey, count(DISTINCT l_suppkey) AS n_across
            FROM lineitem
            GROUP BY l_partkey
            HAVING count(DISTINCT l_suppkey) > 2
            ORDER BY l_partkey
            LIMIT 30
        """,
        "top20_other": f"""
            WITH per_key AS (
                SELECT l_partkey, {REVENUE_DEC} AS vol
                FROM lineitem GROUP BY l_partkey
            ),
            ranked AS (
                SELECT l_partkey, vol,
                       row_number() OVER (ORDER BY vol DESC, l_partkey) AS ranking
                FROM per_key
            )
            SELECT CASE WHEN ranking > 20 THEN 'Other'
                        ELSE 'P-' || CAST(l_partkey AS VARCHAR) END AS bucket_label,
                   CAST(round(sum(vol), 4) AS DOUBLE) AS total_vol
            FROM ranked
            GROUP BY 1
            ORDER BY total_vol DESC, bucket_label
        """,
        "weekly_return": f"""
            WITH windowed AS (
                -- create.sql:327 windows the RAW rows to the trailing week
                -- BEFORE bucketing (now anchored at max ts); stale keys
                -- vanish and a straddling week opens inside the window
                SELECT * FROM events
                WHERE ts >= date_trunc('day', (SELECT max(ts) FROM events))
                              - INTERVAL 7 DAY
            ),
            weekly AS ({_candle_sql(_epoch_bucket(604800), source="windowed")}),
            latest AS (
                SELECT symbol, bucket AS week, open, close
                FROM weekly
                QUALIFY row_number() OVER (PARTITION BY symbol ORDER BY bucket DESC) = 1
            )
            SELECT symbol, week,
                   round((close - open) / open * 100, 4) AS weekly_return_pct
            FROM latest WHERE open <> 0
        """,
        "geo_daily_return": f"""
            WITH daily AS ({DAILY}),
            recent AS (
                SELECT symbol, bucket, close FROM daily
                WHERE bucket >= date_trunc('day', (SELECT max(ts) FROM events)) - INTERVAL 8 DAY
                  AND close <> 0
            ),
            nx AS (
                SELECT symbol, bucket, close,
                       lead(bucket) OVER (PARTITION BY symbol ORDER BY bucket) AS next_bucket
                FROM recent
            ),
            filled AS (
                -- next_bucket IS NOT NULL: PostgreSQL eliminates the
                -- select-list-SRF row when LEAD is NULL, so the reference's
                -- close_filled CTE DROPS each key's final daily bucket
                -- (pinned verbatim in tests/test_reference_sql_parity)
                SELECT symbol,
                       unnest(generate_series(
                           bucket,
                           next_bucket - INTERVAL 1 DAY,
                           INTERVAL 1 DAY)) AS bucket,
                       close
                FROM nx
                WHERE next_bucket IS NOT NULL
            ),
            factors AS (
                SELECT symbol, close,
                       lag(close) OVER (PARTITION BY symbol ORDER BY bucket) AS prev_close
                FROM filled
            )
            SELECT symbol,
                   round((pow(exp(sum(ln(close / prev_close))), 1.0 / count(*)) - 1) * 100, 4)
                       AS daily_return_pct,
                   count(*) AS n_days
            FROM factors
            WHERE prev_close IS NOT NULL AND prev_close <> 0
              AND ln(close / prev_close) IS NOT NULL
            GROUP BY symbol
            ORDER BY symbol
        """,
        "latest_per_key": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
            QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "is_trading": """
            WITH latest AS (
                SELECT user_id, max(ts) AS latest_time FROM events GROUP BY user_id
            )
            SELECT user_id, latest_time,
                   (CAST(floor(epoch((SELECT max(ts) FROM events))) AS BIGINT)
                      - CAST(floor(epoch(latest_time)) AS BIGINT)) <= 86400 AS is_trading
            FROM latest
        """,
        "retention_summary": """
            WITH keep AS (
                SELECT user_id FROM events
                GROUP BY user_id
                ORDER BY count(*) DESC, user_id
                LIMIT 30
            )
            SELECT event_type, count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS checksum
            FROM events
            WHERE user_id NOT IN (SELECT user_id FROM keep)
            GROUP BY event_type
        """,
        "dedup_pk": """
            WITH deduped AS (
                SELECT * FROM events
                QUALIFY row_number() OVER (
                    PARTITION BY user_id, event_type, date_trunc('minute', ts)
                    ORDER BY event_id
                ) = 1
            )
            SELECT event_type, count(*) AS n_rows, CAST(sum(event_id) AS BIGINT) AS checksum
            FROM deduped
            GROUP BY event_type
        """,
        "sessionize": """
            WITH s AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR CAST(floor(epoch(ts)) AS BIGINT)
                                    - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                                    > 43200
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            n AS (
                SELECT user_id, ts,
                       CAST(sum(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM s
            )
            SELECT user_id, session_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(floor(epoch(max(ts))) AS BIGINT)
                     - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_seconds
            FROM n
            GROUP BY user_id, session_id
        """,
        # append mode + policy watermark: a 5m bucket publishes once its
        # end clears max(ts) - end_offset (5 minutes) - the conagg
        # publication lag; the time-ordered replay makes the lag pure
        # delay, never a drop
        "stream_rollup_5m": f"""
            WITH c AS ({_candle_sql(_RES_BUCKET_SQL["5m"])})
            SELECT * FROM c
            WHERE bucket + INTERVAL 5 MINUTE
                  <= (SELECT max(ts) - INTERVAL 5 MINUTE FROM events)
        """,
        "asof_join": """
            SELECT l.event_id, l.ts, l.user_id, l.value,
                   r.value AS last_purchase_value
            FROM (SELECT event_id, ts, user_id, value FROM events
                  WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                            WHERE event_type = 'purchase') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        # the ExactSubstr tier, re-derived string-keyed from first
        # principles (r11 swap-in; doc_scrub's regexp SQL twin moved with
        # its query to tests/test_pipeline.py)
        "span_dedup": _span_dedup_oracle_sql(window=8),
        # replays the whole 4-batch ingest protocol from the fingerprint dump
        "corpus_ingest": _corpus_ingest_oracle_sql(),
        "props_extract": """
            SELECT event_type,
                   count(*) AS n_rows,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                     / count(*) AS avg_k
            FROM events
            GROUP BY event_type
            ORDER BY event_type
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": f"""
            WITH rev AS (
                SELECT c_custkey, c_name, n_name, {REVENUE_DEC} AS _rev
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY c_custkey, c_name, n_name
            )
            SELECT c_custkey, c_name, n_name, CAST(_rev AS DOUBLE) AS revenue
            FROM rev
            ORDER BY _rev DESC, c_custkey
            LIMIT 10
        """,
        "region_supplier_volume": f"""
            SELECT n_name,
                   CAST({REVENUE_DEC} AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "moving_avg": f"""
            WITH c AS ({HOURLY})
            SELECT bucket, symbol, close,
                   CAST(sum(CAST(close AS DECIMAL(18,2))) OVER w AS DOUBLE)
                     / count(*) OVER w AS ma
            FROM c
            WINDOW w AS (PARTITION BY symbol ORDER BY bucket
                         ROWS BETWEEN 167 PRECEDING AND CURRENT ROW)
        """,
        # the quality oracle RE-TRAINS the char-trigram model from the raw
        # documents table (normalization, codepoint trigrams, reference
        # counts, alphabet, context sums, add-alpha smoothing) and
        # re-scores every doc — it never sees the engine's model. Framing:
        # each trigram is its three codepoints space-joined (the engine's
        # token_ngrams join), spaces remapped to ▁ first so the separator
        # is unambiguous; context = the first two codepoints; the smoothing
        # arithmetic mirrors the engine's IEEE expression shape exactly
        # ((c + 0.5) / (c_ctx + 0.5·V), double all the way), so the ln
        # ARGUMENT is bit-identical and only ln's last ulp is free — the
        # round-6 contract absorbs it (see q_quality_score)
        "quality_score": """
            WITH norm AS (
                SELECT doc_id, replace(lower(trim(text)), ' ', '▁') AS s
                FROM documents
            ),
            grams AS MATERIALIZED (
                SELECT doc_id,
                       substr(s, i, 1) || ' ' || substr(s, i + 1, 1)
                           || ' ' || substr(s, i + 2, 1) AS ngram
                FROM (
                    SELECT doc_id, s, unnest(range(1, len(s) - 1)) AS i
                    FROM norm
                )
            ),
            ref_counts AS MATERIALIZED (
                SELECT ngram, count(*) AS c
                FROM grams WHERE doc_id % 4 = 1
                GROUP BY ngram
            ),
            vsize AS (
                SELECT greatest(
                    count(DISTINCT split_part(ngram, ' ', 3)), 1) AS v
                FROM ref_counts
            ),
            ctx_counts AS MATERIALIZED (
                SELECT substr(ngram, 1, len(ngram) - 2) AS ctx,
                       sum(c) AS c_ctx
                FROM ref_counts GROUP BY 1
            ),
            model AS (
                SELECT r.ngram,
                       ln((r.c + 0.5)
                          / (cc.c_ctx + 0.5 * (SELECT v FROM vsize))) AS logp
                FROM ref_counts r
                JOIN ctx_counts cc
                  ON substr(r.ngram, 1, len(r.ngram) - 2) = cc.ctx
            ),
            ctx_unseen AS (
                SELECT ctx,
                       ln(0.5 / (c_ctx + 0.5 * (SELECT v FROM vsize)))
                           AS logp_unseen
                FROM ctx_counts
            ),
            -- PER-OCCURRENCE, mirroring the engine's r14 plan (no
            -- (doc, ngram) pre-aggregate): each occurrence contributes
            -- CAST(lp AS DECIMAL) once, and the exact decimal sum of n
            -- copies equals n x dec(lp) — bit-identical to any grouping
            lps AS (
                SELECT g.doc_id,
                       coalesce(m.logp, cu.logp_unseen,
                                -ln((SELECT v FROM vsize))) AS lp
                FROM grams g
                LEFT JOIN model m ON g.ngram = m.ngram
                LEFT JOIN ctx_unseen cu
                  ON substr(g.ngram, 1, len(g.ngram) - 2) = cu.ctx
            ),
            scored AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_ngrams,
                       round(
                           CAST(-sum(CAST(lp AS DECIMAL(38, 18)))
                                AS DOUBLE) / count(*),
                           6) AS ce6
                FROM lps GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(s.n_ngrams, 0) AS n_ngrams,
                   s.ce6
            FROM documents d LEFT JOIN scored s USING (doc_id)
            ORDER BY doc_id
        """,
        "doc_profile": f"""
            WITH stats AS ({DOC_STATS_SQL}),
            lang AS ({DOC_LANGID_SQL}),
            tok AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '([\\p{{L}}]+|[\\p{{N}}]+|[^\\p{{L}}\\p{{N}}\\s])', 1)) AS bpe_tokens
                FROM documents
            ),
            -- toks guarded exactly like textstats.tokenize: an empty/
            -- whitespace doc is ZERO tokens, not SQL split's phantom ['']
            -- (the r9 edge-gate divergence, adjudicated engine-side-right)
            fp AS (
                SELECT doc_id,
                       -- coalesce: DuckDB array_to_string([]) is NULL where
                       -- Spark concat_ws gives '' — the empty doc must hash
                       -- to md5('') on both sides
                       md5(coalesce(array_to_string(
                           list_sort(list_distinct(toks)), ' '), ''))
                           AS bag_fingerprint,
                       len(list_distinct(toks)) AS n_distinct_tokens
                FROM (SELECT doc_id,
                             CASE WHEN length(trim(text)) > 0
                                  THEN regexp_split_to_array(trim(text), '\\s+')
                                  ELSE []::VARCHAR[] END AS toks
                      FROM documents)
            ),
            rep AS (
                SELECT doc_id,
                       CAST(greatest(len(toks) - 2, 0) AS INT) AS n_ngrams,
                       len(list_distinct(CASE WHEN len(toks) >= 3
                           THEN [array_to_string(toks[i:i+2], ' ')
                                 for i in range(1, len(toks) - 1)]
                           ELSE []::VARCHAR[] END)) AS n_distinct_ngrams,
                       CASE WHEN len(toks) > 0 THEN
                           CAST(list_max(list_transform(list_distinct(toks),
                               t -> len(list_filter(toks, x -> x = t))))
                               AS DOUBLE) / len(toks)
                       ELSE 0.0 END AS top_token_frac
                FROM (SELECT doc_id,
                             CASE WHEN length(trim(text)) > 0
                                  THEN regexp_split_to_array(trim(text), '\\s+')
                                  ELSE []::VARCHAR[] END AS toks
                      FROM documents)
            )
            SELECT stats.*, tok.bpe_tokens,
                   lang.score_en, lang.score_es, lang.score_de, lang.pred_lang,
                   fp.bag_fingerprint, fp.n_distinct_tokens,
                   rep.n_ngrams, rep.n_distinct_ngrams,
                   CASE WHEN rep.n_ngrams > 0 THEN
                       1.0 - CAST(rep.n_distinct_ngrams AS DOUBLE) / rep.n_ngrams
                   ELSE 0.0 END AS dup_ngram_frac,
                   rep.top_token_frac
            FROM stats
            JOIN tok USING (doc_id)
            JOIN lang USING (doc_id)
            JOIN fp USING (doc_id)
            JOIN rep USING (doc_id)
        """,
        "corpus_curation": f"""
            WITH stats AS ({DOC_STATS_SQL}),
            lang AS ({DOC_LANGID_SQL}),
            ded AS (
                SELECT min(doc_id) AS doc_id
                FROM documents GROUP BY md5(lower(trim(text)))
            ),
            ev AS (
                SELECT doc_id, text FROM documents
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
            ),
            tr AS (
                SELECT doc_id, text FROM documents
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
            ),
            tsh AS (
                SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ')
                          for i in range(1, len(toks) - 1)]
                    ELSE []::VARCHAR[] END)) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS toks
                      FROM tr)
            ),
            esh AS (
                SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ')
                          for i in range(1, len(toks) - 1)]
                    ELSE []::VARCHAR[] END)) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS toks
                      FROM ev)
            ),
            sh_hits AS (
                SELECT t.doc_id AS train_id
                FROM tsh t JOIN esh e ON t.shingle = e.shingle
                GROUP BY t.doc_id, e.doc_id
                HAVING count(*) >= 5
            ),
            ex_hits AS (
                SELECT t.doc_id AS train_id
                FROM tr t JOIN ev e
                  ON md5(lower(trim(t.text))) = md5(lower(trim(e.text)))
            ),
            contam AS (
                SELECT DISTINCT train_id AS doc_id FROM (
                    SELECT train_id FROM sh_hits
                    UNION ALL SELECT train_id FROM ex_hits
                )
            ),
            kept AS (
                SELECT s.doc_id, s.n_tokens, s.quality_bucket, l.pred_lang
                FROM ded
                JOIN stats s ON ded.doc_id = s.doc_id
                JOIN lang l ON ded.doc_id = l.doc_id
                WHERE s.quality_bucket <> 'too_short'
            )
            SELECT pred_lang, quality_bucket, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   count(c.doc_id) AS n_contaminated
            FROM kept LEFT JOIN contam c USING (doc_id)
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "doc_line_dedup": """
            WITH base AS (
                SELECT doc_id, string_split(text, ' ') AS l FROM documents
            ),
            idx AS (
                SELECT doc_id, l,
                       unnest(range(CAST(ceil(len(l)/12.0) AS BIGINT))) AS i
                FROM base
            ),
            segs AS (
                SELECT doc_id, i AS pos,
                       array_to_string(l[(i*12+1):((i+1)*12)], ' ') AS line
                FROM idx
            ),
            boiler AS (
                SELECT lower(trim(line)) AS k
                FROM segs
                WHERE trim(line) <> ''
                GROUP BY 1
                HAVING count(DISTINCT doc_id) >= 2
            ),
            marked AS (
                SELECT s.doc_id, s.pos, s.line, (b.k IS NOT NULL) AS dropped
                FROM segs s LEFT JOIN boiler b ON lower(trim(s.line)) = b.k
            )
            SELECT doc_id,
                   coalesce(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE NOT dropped), '') AS clean_text,
                   count(*) AS n_lines,
                   count(*) FILTER (WHERE dropped) AS n_lines_dropped
            FROM marked
            GROUP BY doc_id
        """,
        "ngram_jaccard": NGRAM_JACCARD_SQL,
        "minhash_pairs": f"""
            SELECT count(*) AS n_exact_pairs,
                   TRUE AS recall_ok,
                   TRUE AS precision_ok
            FROM ({NGRAM_JACCARD_SQL})
        """,
        "span_corruption": _span_corruption_oracle_sql(),
        "embed_ann_lsh": """
            SELECT 10 AS k, TRUE AS recall_ok
        """,
        "embed_ann_ivf": """
            SELECT 10 AS k, TRUE AS recall_ok
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({NGRAM_JACCARD_SQL}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            reach(a, b) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
                WHERE e.dst <> r.a
            ),
            comp AS (
                SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                FROM reach GROUP BY a
            ),
            pick AS (
                SELECT cluster_id, doc_id AS keep_id FROM (
                    SELECT comp.cluster_id, comp.doc_id,
                           row_number() OVER (
                               PARTITION BY comp.cluster_id
                               ORDER BY length(d.text) DESC, comp.doc_id ASC
                           ) AS rn
                    FROM comp JOIN documents d ON d.doc_id = comp.doc_id
                ) WHERE rn = 1
            )
            SELECT comp.doc_id, comp.cluster_id,
                   count(*) OVER (PARTITION BY comp.cluster_id) AS cluster_size,
                   pick.keep_id
            FROM comp JOIN pick USING (cluster_id)
        """,
        "seq_packing": """
            WITH t AS (
                -- mirrors pipeline.token_count: split, then DROP empty
                -- strings — an empty or whitespace-only doc is 0 tokens,
                -- never SQL split's phantom [''] (r9 edge-gate
                -- adjudication: a phantom token here shifts EVERY
                -- downstream cum_before/seq_offset)
                SELECT doc_id,
                       len(list_filter(
                           regexp_split_to_array(trim(text), '\\s+'),
                           x -> x <> '')) AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       CAST(coalesce(sum(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS BIGINT) AS cum_before
                FROM t
            )
            SELECT doc_id, n_tokens, cum_before,
                   cum_before // 2048 AS seq_id,
                   cum_before % 2048 AS seq_offset
            FROM c
        """,
        "domain_mix_sample": f"""
            WITH c AS (
                SELECT source, count(*) AS n FROM documents GROUP BY 1
            ),
            t AS (SELECT count(*) AS total FROM documents),
            w AS (SELECT * FROM (VALUES {_MIX_WEIGHTS_SQL}) AS v(source, wt)),
            f AS (
                SELECT c.source,
                       least(CAST(1.0 AS DOUBLE),
                             t.total * CAST({_MIX_TARGET!r} AS DOUBLE)
                                 * w.wt / c.n) AS frac
                FROM c JOIN w USING (source) CROSS JOIN t
            ),
            s AS (
                SELECT d.doc_id, d.source, d.text,
                       lower(trim(regexp_replace(regexp_replace(
                           d.text, '[\\x00-\\x1F\\x7F]', ' ', 'g'),
                           '\\s+', ' ', 'g'))) AS norm_text
                FROM documents d JOIN f USING (source)
                WHERE CAST(concat('0x',
                           substr(md5(CAST(d.doc_id AS VARCHAR)), 5, 4))
                           AS BIGINT)
                      < 65536 * f.frac
            )
            SELECT doc_id, source, norm_text,
                   length(text) - length(norm_text) AS n_chars_removed,
                   length(text) AS n_chars
            FROM s
        """,
        # bpe_encode: the oracle re-trains the merge table itself — see
        # _bpe_oracle_sql (token_quantiles left the gate for range_join in
        # r8; its exact-vs-sketch contract stays pinned in tests/)
        "bpe_encode": _bpe_oracle_sql(_BPE_GATE_MERGES, _BPE_GATE_MIN_PAIR),
        "range_join": """
            WITH day_min AS (
                SELECT user_id, date_trunc('day', ts) AS day, min(ts) AS day_min
                FROM events GROUP BY 1, 2
            ),
            ivs AS (
                SELECT user_id, day_min AS start,
                       day_min + INTERVAL 90 MINUTE AS "end",
                       'w90' AS win
                FROM day_min
                UNION ALL
                SELECT user_id, day_min + INTERVAL 30 MINUTE,
                       day_min + INTERVAL 240 MINUTE, 'w240'
                FROM day_min
            ),
            pts AS (SELECT event_id, ts, user_id, value FROM events)
            SELECT p.event_id, p.ts, p.user_id, p.value,
                   i.start, i."end", i.win, 'inner' AS mode
            FROM pts p JOIN ivs i
              ON p.user_id = i.user_id AND p.ts >= i.start AND p.ts < i."end"
            UNION ALL
            SELECT p.event_id, p.ts, p.user_id, p.value,
                   coalesce(i.start, TIMESTAMP '1970-01-01 00:00:00') AS start,
                   coalesce(i."end", TIMESTAMP '1970-01-01 00:00:00') AS "end",
                   coalesce(i.win, 'none') AS win, 'left' AS mode
            FROM pts p LEFT JOIN ivs i
              ON p.user_id = i.user_id AND p.ts >= i.start AND p.ts < i."end"
        """,
        # leakage_split: DuckDB re-derives the whole composition — connected
        # components via recursive transitive closure (same CTE as the
        # dedup_clusters oracle), the md5-threshold split draw digit-for-
        # digit (16 bits of md5(unit || chr(31) || seed), exact integer
        # thresholds 58982/62259 = round(65536*cum) for 0.9/0.05/0.05), and
        # the cross-split audit count over the same pair tier (0 by
        # cluster-atomicity construction)
        "leakage_split": f"""
            WITH RECURSIVE pairs AS ({NGRAM_JACCARD_SQL}),
            edges AS (
                SELECT doc_a AS src, doc_b AS dst FROM pairs
                UNION
                SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            reach(a, b) AS (
                SELECT src, dst FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
                WHERE e.dst <> r.a
            ),
            comp AS (
                SELECT a AS doc_id, least(a, min(b)) AS cluster_id
                FROM reach GROUP BY a
            ),
            labeled AS (
                SELECT d.doc_id,
                       CASE WHEN h < 58982 THEN 'train'
                            WHEN h < 62259 THEN 'val'
                            ELSE 'test' END AS split
                FROM (
                    SELECT d0.doc_id,
                           CAST(concat('0x', substr(md5(concat(
                               CAST(coalesce(c.cluster_id, d0.doc_id)
                                    AS VARCHAR),
                               chr(31), '7')), 9, 4)) AS BIGINT) AS h
                    FROM documents d0
                    LEFT JOIN comp c ON d0.doc_id = c.doc_id
                ) d
            ),
            viol AS (
                SELECT count(*) AS violations
                FROM pairs p
                JOIN labeled a ON p.doc_a = a.doc_id
                JOIN labeled b ON p.doc_b = b.doc_id
                WHERE a.split <> b.split
            )
            SELECT l.split, count(*) AS n_docs, v.violations
            FROM labeled l CROSS JOIN viol v
            GROUP BY l.split, v.violations
        """,
        "embed_neardup": """
            WITH q AS (
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
                SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
        """,
        # recomputes every exact/near/fresh classification from the SAME
        # parquet legs the Spark probe reads (the gate query materializes
        # them first — selfcheck/driver run the Spark side, then its oracle)
        "dedup_index_probe": _dedup_probe_oracle_sql(),
        # predicts each demuxed frame's integer stats and tick set from the
        # attach_real_video formulas (w = i%13+1, h = i%11+1, n = i%7+2,
        # 250 ms/frame, pixel = (5x+11y+29f+i) % 256) without parsing MP4:
        # frame f covers [250f, 250f+250), so its ticks are the multiples of
        # 400 in [250f, 250f+249]
        "frame_sample": """
            WITH vids AS (
                SELECT doc_id AS i, doc_id % 13 + 1 AS w,
                       doc_id % 11 + 1 AS h, doc_id % 7 + 2 AS n
                FROM documents WHERE doc_id % 3 = 2
            ),
            frames AS (
                SELECT i, w, h, unnest(generate_series(0, n - 1)) AS f
                FROM vids
            ),
            ticks AS (
                SELECT i, f,
                       unnest(generate_series(
                           ((250 * f + 399) // 400) * 400,
                           250 * f + 249, 400)) AS frame_ts_ms
                FROM frames
            ),
            vals AS (
                SELECT i, w, h, f,
                       ((k % w) * 5 + (k // w) * 11 + 29 * f + i) % 256 AS v
                FROM frames,
                     LATERAL unnest(generate_series(0, w * h - 1)) AS u(k)
            ),
            stats AS (
                SELECT i, f,
                       CAST(min(w) AS INT) AS width,
                       CAST(min(h) AS INT) AS height,
                       count(*) AS n_values,
                       CAST(sum(v) AS BIGINT) AS value_sum,
                       CAST(min(v) AS BIGINT) AS value_min,
                       CAST(max(v) AS BIGINT) AS value_max
                FROM vals GROUP BY i, f
            )
            SELECT t.i AS media_id, t.frame_ts_ms, CAST(t.f AS INT) AS sample_idx,
                   s.width, s.height, s.n_values, s.value_sum,
                   s.value_min, s.value_max
            FROM ticks t JOIN stats s ON t.i = s.i AND t.f = s.f
        """,
        # r14 swap-in: the keyframe-index formula twin (committed + proven
        # at three scales in r13 before declaration per the rotation
        # discipline; the rotated-out embed_knn_join twin lives in
        # _embed_knn_join_oracle_sql, pinned in tests/test_llmdata.py)
        "video_keyframes": _video_keyframes_oracle_sql(),
        # r15 swap-ins: the avc1/avcC keyframe formula twin and the
        # winnowing passage-overlap twin (both committed + three-scale-
        # proven in r14 before declaration per the rotation discipline;
        # the rotated-out brand_revenue/count_distinct twins live in
        # _brand_revenue_oracle_sql/_count_distinct_oracle_sql, pinned in
        # tests/test_operators.py)
        "video_keyframes_avc": _video_keyframes_avc_oracle_sql(),
        "winnow_overlap": _winnow_overlap_oracle_sql(),
        # r13 swap-ins: the five-dataset-proven web twin and the daily
        # streamed-conagg twin (both committed + proven one round before
        # declaration per the rotation discipline)
        "web_preprocess": _web_preprocess_oracle_sql(),
        "stream_rollup_1d": _stream_rollup_1d_oracle_sql(),
        "fetch_plan": f"""
            WITH syms(exchange, symbol) AS (VALUES {_FETCH_SYMS_SQL})
            SELECT exchange, symbol, page_start_ms,
                   least(page_start_ms + {_FETCH_PAGE_MIN * 60000},
                         {_FETCH_END_MS}) AS page_end_ms
            FROM (
                SELECT exchange, symbol,
                       unnest(generate_series({_FETCH_START_MS},
                                              {_FETCH_END_MS} - 1,
                                              {_FETCH_PAGE_MIN * 60000}))
                           AS page_start_ms
                FROM syms
            )
        """,
        "fetch_backfill": f"""
            WITH syms(exchange, symbol) AS (VALUES {_FETCH_SYMS_SQL}),
            mins AS (
                SELECT exchange, symbol,
                       unnest(generate_series({_FETCH_START_MS},
                                              {_FETCH_END_MS} - 1,
                                              60000)) AS time_ms
                FROM syms
            )
            SELECT exchange, symbol, time_ms,
                   CAST(((time_ms // 60000) * 37 + length(symbol) * 13) % 1000
                        AS DOUBLE) / 10 AS open,
                   CAST(((time_ms // 60000) * 37 + length(symbol) * 13) % 1000 + 5
                        AS DOUBLE) / 10 AS high,
                   CAST(((time_ms // 60000) * 37 + length(symbol) * 13) % 1000 - 5
                        AS DOUBLE) / 10 AS low,
                   CAST(((time_ms // 60000) * 37 + length(symbol) * 13) % 1000 + 1
                        AS DOUBLE) / 10 AS close,
                   CAST((time_ms // 60000) % 100 AS DOUBLE) AS volume
            FROM mins
        """,
        # the composed late-correction pipeline, re-derived from the raw
        # events alone (r11 swap-in; the explicit-watermark hourly twin
        # moved with its query to tests/test_streaming.py): corrected
        # minutes (epoch-minute % 7 == 3, strictly below the symbol's
        # newest) take the value+0.5 transform, each symbol's newest
        # minute is withheld (hold-back), then ONE hour-level aggregation
        # — the valid twin of the engine's 1m → 5m → 1h cascade by bucket
        # nesting (first/last distribute over nested buckets; the decimal
        # volume accumulator makes the sum order-free).
        "stream_late_correction": """
            WITH t AS (
                SELECT event_type AS symbol, ts, value,
                       CAST(floor(epoch(ts)) AS BIGINT) // 60 AS m
                FROM events
            ),
            mm AS (SELECT symbol, max(m) AS max_m FROM t GROUP BY symbol),
            eff AS (
                SELECT t.symbol, t.ts, t.m,
                       CASE WHEN t.m % 7 = 3 THEN t.value + 0.5
                            ELSE t.value END AS value
                FROM t JOIN mm USING (symbol)
                WHERE t.m < mm.max_m
            )
            SELECT make_timestamp(((m * 60 // 3600) * 3600) * 1000000) AS bucket,
                   symbol,
                   arg_min(value, ts) AS open,
                   max(value) AS high,
                   min(value) AS low,
                   arg_max(value, ts) AS close,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume,
                   count(*) AS n_trades
            FROM eff
            GROUP BY 1, 2
        """,
        "stream_latest_serve": """
            SELECT event_type AS symbol, ts, value AS price, value AS volume
            FROM events
            QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY ts DESC) = 1
        """,
        # data-driven close: every minute candle except each key's newest
        "stream_hold_back": f"""
            WITH m AS ({_candle_sql("date_trunc('minute', ts)")})
            SELECT * FROM m
            QUALIFY bucket < max(bucket) OVER (PARTITION BY symbol)
        """,
        # time-ranged replay batches ⇒ the last batch containing a PK holds
        # its max ts, and within-batch upsert keeps max ts ⇒ global argmax.
        "stream_upsert_ingest": """
            SELECT event_id, ts, user_id, event_type, value, props
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id, event_type ORDER BY ts DESC
            ) = 1
        """,
    }
