"""Serve-layer wire contract (plans.serve, M6)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from coin_for_rich_spark.plans import serialize_candles, to_json_rows


def test_serialize_candles_ms_and_seconds(spark):
    df = spark.createDataFrame(
        [("2024-01-01 01:00:00", "btc", 1.23456, 2.0, 0.5, 1.999999, 10.00004)],
        "bucket string, symbol string, open double, high double, low double, close double, volume double",
    ).withColumn("bucket", F.to_timestamp("bucket"))

    ms = serialize_candles(df, results_mls=True).first()
    assert ms.time == 1704070800000
    assert ms.open == 1.2346 and ms.close == 2.0 and ms.volume == 10.0

    secs = serialize_candles(df, results_mls=False).first()
    assert secs.time == 1704070800


def test_to_json_rows_shape(spark):
    df = spark.createDataFrame([(1, "a", 2.5)], "id int, name string, v double")
    payload = to_json_rows(df).first().payload
    assert json.loads(payload) == {"id": 1, "name": "a", "v": 2.5}


# --- round-10 serve/API adversarial pass (VERDICT r8 ask #3) ---------------
# The reference spec: `web/routes/api/rest/utils/readers.py:32-368` +
# `parsers.py:9-40`. Each test pins one edge the mirrored oracles could
# never disagree on because both sides were written from one reading.


def _mk_candles(spark, rows):
    """rows: [(iso_bucket, open, high, low, close, volume)] for one symbol."""
    df = spark.createDataFrame(
        [(b, "k", o, h, lo, c, v) for b, o, h, lo, c, v in rows],
        "bucket string, symbol string, open double, high double, "
        "low double, close double, volume double",
    )
    return df.withColumn("bucket", F.to_timestamp("bucket"))


def _ticks_from_candles(spark, rows):
    """One tick per candle (price=o=h=l=c, volume) so the 1h rollup equals
    the row exactly — isolates READER semantics from aggregation."""
    df = spark.createDataFrame(
        [(i, b, "k", r[1], r[5]) for i, (b, *r_) in enumerate(rows) for r in [rows[i]]],
        "event_id long, ts string, symbol string, price double, volume double",
    )
    return df.withColumn("ts", F.to_timestamp("ts"))


def test_empty_ts_spine_anchors_at_min_fetched_not_start(spark):
    """readers.py:230: generate_series starts at min(FETCHED time) — a
    `start` long before the first row adds NO leading dummies (start only
    bounds the fetch)."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [
        ("2024-01-10 05:00:00", 1.0, 1.0, 1.0, 1.0, 1.0),
        ("2024-01-10 07:00:00", 3.0, 3.0, 3.0, 3.0, 3.0),
    ]
    out = read_ohlcvs(
        _ticks_from_candles(spark, rows),
        "k",
        "1h",
        start="2024-01-01 00:00:00",
        end="2024-01-10 07:00:00",
        empty_ts=True,
    ).collect()
    buckets = [r.bucket.isoformat() for r in out]
    assert buckets == [
        "2024-01-10T05:00:00",
        "2024-01-10T06:00:00",
        "2024-01-10T07:00:00",
    ]
    assert [r.filled for r in out] == [False, True, False]
    # the dummy: avg over the fetched window, volume 0 (readers.py:221-227)
    dummy = out[1]
    assert dummy.open == 2.0 and dummy.volume == 0.0


def test_empty_ts_fills_trailing_gap_up_to_end(spark):
    """readers.py:231: the series runs to `end` even past the last real
    row — trailing dummies chart the quiet tail (by default up to
    now-1min; here pinned with an explicit end)."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [("2024-01-10 05:00:00", 1.0, 1.0, 1.0, 1.0, 1.0)]
    out = read_ohlcvs(
        _ticks_from_candles(spark, rows),
        "k",
        "1h",
        end="2024-01-10 08:30:00",
        empty_ts=True,
    ).collect()
    buckets = [r.bucket.isoformat() for r in out]
    assert buckets == [
        "2024-01-10T05:00:00",
        "2024-01-10T06:00:00",
        "2024-01-10T07:00:00",
        "2024-01-10T08:00:00",
    ]
    assert [r.filled for r in out] == [False, True, True, True]


def test_empty_ts_spine_clamped_to_latest_limit_points(spark):
    """readers.py:228-238: the dummy series is DESC-limited to `limit`
    BEFORE the join, so the response holds the latest `limit` grid points
    and real rows older than the clamped spine drop out entirely."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [
        ("2024-01-10 00:00:00", 1.0, 1.0, 1.0, 1.0, 1.0),  # older than spine
        ("2024-01-10 06:00:00", 2.0, 2.0, 2.0, 2.0, 2.0),
        ("2024-01-10 08:00:00", 4.0, 4.0, 4.0, 4.0, 4.0),
    ]
    out = read_ohlcvs(
        _ticks_from_candles(spark, rows),
        "k",
        "1h",
        end="2024-01-10 08:00:00",
        limit=3,
        empty_ts=True,
    ).collect()
    buckets = [r.bucket.isoformat() for r in out]
    assert buckets == [
        "2024-01-10T06:00:00",
        "2024-01-10T07:00:00",
        "2024-01-10T08:00:00",
    ]
    # 00:00's real row is gone; 06:00 and 08:00 are real, 07:00 a dummy
    assert [r.filled for r in out] == [False, True, False]


def test_empty_ts_empty_fetch_returns_nothing(spark):
    """readers.py:230: min() over an empty fetch is NULL, generate_series
    emits nothing — an out-of-range request returns [], never a dummy
    series (the old start-anchored spine would have fabricated one)."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [("2024-01-10 05:00:00", 1.0, 1.0, 1.0, 1.0, 1.0)]
    out = read_ohlcvs(
        _ticks_from_candles(spark, rows),
        "k",
        "1h",
        start="2023-06-01 00:00:00",
        end="2023-06-02 00:00:00",
        empty_ts=True,
    )
    assert out.count() == 0


def test_default_end_is_now_minus_one_minute(spark):
    """readers.py:171-175: with no `end`, the fetch is bounded at
    (now - 1 minute) floored to the minute — rows at or before the bound
    survive, later rows don't. `now` injected for determinism."""
    import datetime as dt

    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [
        ("2024-01-10 05:00:00", 1.0, 1.0, 1.0, 1.0, 1.0),
        ("2024-01-10 07:00:00", 3.0, 3.0, 3.0, 3.0, 3.0),
    ]
    # now = 06:00:45 -> end = 05:59 -> the 05:00 bucket passes, 07:00 not
    out = read_ohlcvs(
        _ticks_from_candles(spark, rows),
        "k",
        "1h",
        now=dt.datetime(2024, 1, 10, 6, 0, 45),
    ).collect()
    assert [r.bucket.isoformat() for r in out] == ["2024-01-10T05:00:00"]


def test_chart_limit_contract_zero_and_negative(spark):
    """readers.py:168 clamps only DOWNWARD: limit=0 -> LIMIT 0 -> empty;
    a negative limit errors on both sides (PostgreSQL rejects LIMIT -1,
    Spark rejects .limit(-1)) — the chart reader has no 'all rows'
    spelling, unlike the analytics readers."""
    import pytest

    from coin_for_rich_spark.plans.reader import read_ohlcvs

    rows = [("2024-01-10 05:00:00", 1.0, 1.0, 1.0, 1.0, 1.0)]
    ticks = _ticks_from_candles(spark, rows)
    assert read_ohlcvs(ticks, "k", "1h", limit=0).count() == 0
    # empty_ts path too: LIMIT 0 fetch -> no min(fetched time) to anchor
    # the spine -> the reference's DESC-limited series is empty -> []
    gap0 = read_ohlcvs(ticks, "k", "1h", limit=0, empty_ts=True)
    assert gap0.count() == 0
    assert "filled" in gap0.columns  # schema stays the gap-filled shape
    with pytest.raises(Exception, match="-1|negative|LIMIT"):
        read_ohlcvs(ticks, "k", "1h", limit=-1).count()


def test_chart_read_rejects_bad_inputs_before_any_spark_call():
    """A gap fill over calendar months and a negative limit fail at the
    boundary with ValueError: the source here is no DataFrame, so any
    Spark call on it would raise something else first."""
    import pytest

    from coin_for_rich_spark.plans.reader import read_ohlcvs

    not_a_frame = object()
    with pytest.raises(ValueError, match="calendar months"):
        read_ohlcvs(not_a_frame, "k", "1M", end="2024-01-10 00:00:00", empty_ts=True)
    with pytest.raises(ValueError, match="limit must be >= 0, got -1"):
        read_ohlcvs(not_a_frame, "k", "1h", end="2024-01-10 00:00:00", limit=-1)


def test_read_returns_cutoff_truthiness_and_limit_all(spark):
    """readers.py:44-68: cutoffs are tested for TRUTHINESS — cutoff 0 is
    ignored exactly like None (a 'negative returns only' request cannot be
    expressed); limit=-1 returns ALL rows; order is value DESC; and there
    is NO 500 clamp (an explicit larger limit is honored)."""
    from coin_for_rich_spark.plans.reader import read_returns

    df = spark.createDataFrame(
        [("a", -5.0), ("b", -1.0), ("c", 0.0), ("d", 2.0), ("e", 9.0)],
        "symbol string, daily_return_pct double",
    )
    # both cutoffs: strict (lower, upper) band
    band = read_returns(df, "daily_return_pct", 9, -5).collect()
    assert [r.symbol for r in band] == ["d", "c", "b"]
    # cutoff 0 is FALSY -> ignored: upper=0 alone behaves like no filter
    zero = read_returns(df, "daily_return_pct", cutoff_upper_pct=0).collect()
    assert [r.symbol for r in zero] == ["e", "d", "c", "b", "a"]
    # limit=-1 -> all rows even with a filter
    alln = read_returns(df, "daily_return_pct", cutoff_lower_pct=-2, limit=-1)
    assert alln.count() == 4
    # plain limit honored above 500's chart clamp (no clamp here)
    assert read_returns(df, "daily_return_pct", limit=2).count() == 2


def test_round4_divergence_from_reference_is_documented(spark):
    """parsers.py:22-34 rounds with Python Decimal's HALF_EVEN over exact
    NUMERICs; the engine rounds doubles with Spark's round() (HALF_UP on
    the decimal repr). For every value the ingest contract can store
    (<= 4 decimal digits, fetchers round at NUM_DECIMALS=4) rounding is
    the identity on both sides, so the divergence is reachable ONLY
    through avg-fill dummies whose exact mean lands on a binary-exact
    4-decimal tie (e.g. 0.03125). Pin the engine's HALF_UP choice there
    and the shared no-op on stored values, so the contract is explicit."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "k", 0.03125, 1.2345, 1.2345, 1.2345, 1.0)],
        "bucket string, symbol string, open double, high double, low double,"
        " close double, volume double",
    ).withColumn("bucket", F.to_timestamp("bucket"))
    row = serialize_candles(df).first()
    # engine: HALF_UP -> 0.0313 (reference parse_ohlcv would emit
    # Decimal('0.0312') here — banker's rounding on the exact tie)
    assert row.open == 0.0313
    # stored-value contract: 4-decimal inputs round to themselves
    assert row.high == 1.2345


def test_parse_ohlcv_null_guard_contract(spark):
    """parsers.py:36-39: round_decimal(None) -> None, so NULL values
    serialize as NULL (a TypeError only arises from a NULL time, which the
    DDL forbids — the reference's catch-all that empties the WHOLE
    response is unreachable for valid rows; the engine serializes NULLs
    per-column instead of discarding the response)."""
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00", "k", None, 2.0, 0.5, 1.0, None)],
        "bucket string, symbol string, open double, high double, low double,"
        " close double, volume double",
    ).withColumn("bucket", F.to_timestamp("bucket"))
    row = serialize_candles(df).first()
    assert row.open is None and row.volume is None and row.time is not None


# ---------------------------------------------------------------------------
# WS serve-loop cadence contract (reference senders.py:38-167) — the last
# reader-visible serving behavior without a twin (r13 VERDICT ask #6).
# Pure-arithmetic pins; no Spark session needed.
# ---------------------------------------------------------------------------

def _loop():
    from coin_for_rich_spark.plans.serve import ServeLoop

    return ServeLoop()


def test_serve_loop_1m_pushes_every_second_from_latest_store():
    sl = _loop()
    sid = sl.subscribe("binance", "BTC", "USDT", "1m", at_s=0.0)
    sends = sl.sends_between(0.0, 5.0)
    assert [t for t, _, _ in sends] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert all(s == sid for _, s, _ in sends)
    # '1m' serves FRESH data from the latest-value store, not the rollup
    # read path (senders.py:71-84)
    assert {src for _, _, src in sends} == {"latest"}


def test_serve_loop_rollup_cadence_is_interval_minutes_in_seconds():
    from coin_for_rich_spark.plans.serve import SERVE_POLL_SECONDS

    # the reference's exact sleep table (senders.py:103-119)
    assert SERVE_POLL_SECONDS["5m"] == 5
    assert SERVE_POLL_SECONDS["15m"] == 15
    assert SERVE_POLL_SECONDS["30m"] == 30
    assert SERVE_POLL_SECONDS["1h"] == 60
    assert SERVE_POLL_SECONDS["6h"] == 360
    assert SERVE_POLL_SECONDS["12h"] == 720
    assert SERVE_POLL_SECONDS["1D"] == 1440
    assert SERVE_POLL_SECONDS["7D"] == 10080
    # the three intervals the reference lists but busy-loops on
    # (constants.py:2-4 vs the sleep chain) — extended by the same
    # minutes→seconds rule, adjudicated engine-side-right
    assert SERVE_POLL_SECONDS["3h"] == 180
    assert SERVE_POLL_SECONDS["14D"] == 20160
    assert SERVE_POLL_SECONDS["1M"] == 43200


def test_serve_loop_rollup_source_and_schedule():
    sl = _loop()
    sl.subscribe("binance", "BTC", "USDT", "1h", at_s=0.0)
    sends = sl.sends_between(0.0, 200.0)
    assert [t for t, _, _ in sends] == [0.0, 60.0, 120.0, 180.0]
    assert {src for _, _, src in sends} == {"rollup"}


def test_serve_loop_unsubscribe_stops_future_sends():
    sl = _loop()
    sl.subscribe("binance", "BTC", "USDT", "1m", at_s=0.0)
    sl.unsubscribe("binance", "BTC", "USDT", "1m", at_s=2.0)
    # the tick AT the unsubscribe time is already suppressed (the loop's
    # membership check runs before the send)
    assert [t for t, _, _ in sl.sends_between(0.0, 10.0)] == [0.0, 1.0]


def test_serve_loop_duplicate_subscription_multiplicity():
    """The reference's serving_id is deliberately not client-unique
    (senders.py:62 TODO): two subscriptions to one series share a key, and
    ONE unsubscribe leaves BOTH loops serving (each checks membership, and
    one copy of the key remains); only the second unsubscribe stops them.
    """
    sl = _loop()
    sl.subscribe("binance", "BTC", "USDT", "1m", at_s=0.0)
    sl.subscribe("binance", "BTC", "USDT", "1m", at_s=0.5)
    sl.unsubscribe("binance", "BTC", "USDT", "1m", at_s=2.1)
    sends = [t for t, _, _ in sl.sends_between(0.0, 4.0)]
    # both loops still ticking after the first unsubscribe
    assert sends == [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5]
    sl2 = _loop()
    sl2.subscribe("binance", "BTC", "USDT", "1m", at_s=0.0)
    sl2.subscribe("binance", "BTC", "USDT", "1m", at_s=0.5)
    sl2.unsubscribe("binance", "BTC", "USDT", "1m", at_s=2.1)
    sl2.unsubscribe("binance", "BTC", "USDT", "1m", at_s=2.2)
    # multiplicity zero: every loop dies at its next tick
    assert [t for t, _, _ in sl2.sends_between(0.0, 4.0)] == [0.0, 0.5, 1.0, 1.5, 2.0]


def test_serve_loop_invalid_interval_errors_without_loop():
    import pytest as _pytest

    sl = _loop()
    assert sl.subscribe("binance", "BTC", "USDT", "2m") is None
    assert sl.error_events == [
        {"message": "interval must be in the determined list"}
    ]
    assert sl.sends_between(0.0, 10.0) == []
    # unsubscribe of a never-subscribed key surfaces the reference's
    # hidden list.remove ValueError (senders.py:135)
    with _pytest.raises(ValueError):
        sl.unsubscribe("binance", "ETH", "USDT", "1m")


def test_tick_bound_replacement_equals_bucket_bounds(spark):
    """The r15 raw-route pushdown: replacing the post-agg bucket bounds
    with their aligned tick-level equivalents must be EXACTLY equivalent
    for every interval, including non-aligned request bounds, Monday-origin
    weeks, and the calendar-month edge over a leap February — and the ts
    range must reach the parquet-scannable tick filter (no derived
    expressions)."""
    import datetime as dt

    from coin_for_rich_spark.functions.timeutils import INTERVAL_SECONDS
    from coin_for_rich_spark.operators.candles import ohlcv_rollup
    from coin_for_rich_spark.plans.reader import _aligned_tick_bounds

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(minutes=131 * i), "s", 1.0 + i % 7, float(i % 5))
        for i in range(900)
    ]
    ticks = spark.createDataFrame(
        rows, "ts timestamp, symbol string, price double, volume double"
    )
    cases = [
        ("2024-01-04 07:23:00", "2024-02-17 19:41:00"),  # unaligned both
        ("2024-02-29 23:59:00", "2024-03-02 00:00:00"),  # leap-month edge
        (None, "2024-01-29 00:00:00"),
    ]
    for iv in INTERVAL_SECONDS:
        for st, en in cases:
            std = dt.datetime.fromisoformat(st) if st else None
            end = dt.datetime.fromisoformat(en) if en else None
            old = ohlcv_rollup(ticks, iv, keys=["symbol"])
            if std is not None:
                old = old.filter(F.col("bucket") >= F.lit(std))
            if end is not None:
                old = old.filter(F.col("bucket") <= F.lit(end))
            lo, hi = _aligned_tick_bounds(iv, std, end)
            t2 = ticks
            if lo is not None:
                t2 = t2.filter(F.col("ts") >= F.lit(lo))
            if hi is not None:
                t2 = t2.filter(F.col("ts") < F.lit(hi))
            new = ohlcv_rollup(t2, iv, keys=["symbol"])
            assert sorted(map(tuple, old.collect())) == sorted(
                map(tuple, new.collect())
            ), (iv, st, en)
