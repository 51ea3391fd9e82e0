"""Semantic unit tests for the core operators — reference-parity behaviors
that the oracle gate can't isolate (tie-breaking, gap-fill fill values,
router validation, limit clamping)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from coin_for_rich_spark.functions.timeutils import time_bucket
from coin_for_rich_spark.operators import (
    dedup_pk,
    latest_per_key,
    ohlcv_rollup,
)
from coin_for_rich_spark.operators.gapfill import gap_fill_sql
from coin_for_rich_spark.plans import read_ohlcvs
from coin_for_rich_spark.sources import candles_view


def _ticks(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # one bucket, distinct times: open=first, close=last
        Row(event_id=1, ts=t0, symbol="A", price=10.0, volume=1.0),
        Row(event_id=2, ts=t0 + dt.timedelta(minutes=1), symbol="A", price=30.0, volume=1.0),
        Row(event_id=3, ts=t0 + dt.timedelta(minutes=2), symbol="A", price=5.0, volume=1.0),
        Row(event_id=4, ts=t0 + dt.timedelta(minutes=3), symbol="A", price=20.0, volume=1.0),
        # tie on timestamp: tiebreak_col must decide deterministically
        Row(event_id=5, ts=t0 + dt.timedelta(hours=1), symbol="A", price=100.0, volume=1.0),
        Row(event_id=6, ts=t0 + dt.timedelta(hours=1), symbol="A", price=200.0, volume=1.0),
    ]
    return spark.createDataFrame(rows)


def test_rollup_ohlc_semantics(spark):
    out = {
        r["bucket"]: r
        for r in ohlcv_rollup(_ticks(spark), "1h", tiebreak_col="event_id").collect()
    }
    b0 = out[dt.datetime(2024, 1, 1, 0, 0)]
    assert (b0["open"], b0["high"], b0["low"], b0["close"]) == (10.0, 30.0, 5.0, 20.0)
    assert b0["volume"] == 4.0 and b0["n_trades"] == 4


def test_rollup_tiebreak_deterministic(spark):
    out = {
        r["bucket"]: r
        for r in ohlcv_rollup(_ticks(spark), "1h", tiebreak_col="event_id").collect()
    }
    b1 = out[dt.datetime(2024, 1, 1, 1, 0)]
    # Timescale first/last tie order is internal heap order; ours is defined:
    # lowest (ts, event_id) opens, highest closes (SURVEY §4 item 2).
    assert b1["open"] == 100.0 and b1["close"] == 200.0


def test_time_bucket_epoch_alignment(spark):
    df = spark.createDataFrame(
        [Row(ts=dt.datetime(2024, 1, 1, 13, 47, 59))]
    ).select(
        time_bucket("ts", "5m").alias("b5"),
        time_bucket("ts", "6h").alias("b6h"),
        time_bucket("ts", "1M").alias("b1m"),
    )
    r = df.first()
    assert r["b5"] == dt.datetime(2024, 1, 1, 13, 45)
    assert r["b6h"] == dt.datetime(2024, 1, 1, 12, 0)
    assert r["b1m"] == dt.datetime(2024, 1, 1, 0, 0)


def test_read_ohlcvs_rejects_unknown_interval(spark, sf_dir):
    """The reader raises the router's ValueError on both routes, before any
    bound arithmetic can fail on the interval first."""
    cv = candles_view(spark, sf_dir)
    with pytest.raises(ValueError, match="unknown interval"):
        read_ohlcvs(cv, "click", "42s")
    with pytest.raises(ValueError, match="unknown interval"):
        read_ohlcvs(cv, "click", "42s", rollups={"1h": cv})


def test_read_ohlcvs_clamps_limit(spark, sf_dir):
    cv = candles_view(spark, sf_dir)
    # `readers.py:168`: limit = min(limit, 500)
    n = read_ohlcvs(cv, "click", "1m", limit=10_000).count()
    assert n <= 500


def _gap_fill(candles, interval, end, lim=500):
    """``gap_fill_sql`` over ``candles``, bound the way the chart reader
    binds it."""
    return candles.sparkSession.sql(
        gap_fill_sql("{src}", interval), args={"end": end, "lim": lim}, src=candles
    )


def test_gap_fill_avg_dummies(spark):
    candles = spark.createDataFrame(
        [
            Row(bucket=dt.datetime(2024, 1, 1), open=10.0, high=12.0, low=9.0, close=11.0, volume=5.0),
            Row(bucket=dt.datetime(2024, 1, 3), open=20.0, high=22.0, low=19.0, close=21.0, volume=7.0),
        ]
    )
    out = {r["bucket"]: r for r in _gap_fill(candles, "1D", dt.datetime(2024, 1, 3)).collect()}
    assert len(out) == 3
    dummy = out[dt.datetime(2024, 1, 2)]
    # avg over the fetched window, volume 0 (`readers.py:221-227`)
    assert dummy["filled"] and dummy["volume"] == 0.0
    assert dummy["open"] == 15.0 and dummy["close"] == 16.0
    assert not out[dt.datetime(2024, 1, 1)]["filled"]


def test_gap_fill_rejects_duplicate_buckets(spark):
    """A frame that repeats a bucket (not filtered to one key) fails
    loudly instead of emitting one output row per copy."""
    candles = spark.createDataFrame(
        [
            Row(bucket=dt.datetime(2024, 1, d), open=1.0, high=1.0, low=1.0,
                close=1.0, volume=1.0)
            for d in (1, 1, 3)
        ]
    )
    with pytest.raises(Exception, match="DUPLICATED_MAP_KEY"):
        _gap_fill(candles, "1D", dt.datetime(2024, 1, 3)).collect()


def test_dedup_keeps_lowest_tiebreak(spark):
    df = spark.createDataFrame(
        [Row(k="a", v=1, tb=2), Row(k="a", v=9, tb=1), Row(k="b", v=3, tb=5)]
    )
    rows = {r["k"]: r for r in dedup_pk(df, ["k"], "tb").collect()}
    assert rows["a"]["v"] == 9 and rows["a"]["tb"] == 1
    assert len(rows) == 2


def test_latest_per_key_single_row(spark, sf_dir):
    from coin_for_rich_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    latest = latest_per_key(ev, ["user_id"], "ts", "event_id")
    dup = latest.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert dup == 0


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """The HLL fast path must track the exact distinct count within the
    configured relative error (x2 safety margin for small groups)."""
    from coin_for_rich_spark.sources import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("|", "l_partkey", "l_suppkey")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag").agg(F.countDistinct(key).alias("n")).collect()
    }
    approx = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct(key, 0.02).alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for flag, n in exact.items():
        assert abs(approx[flag] - n) <= max(0.04 * n, 5)


def test_latest_per_key_agg_equals_window(spark, sf_dir):
    from coin_for_rich_spark.operators import latest_per_key
    from coin_for_rich_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    agg = sorted(map(tuple, latest_per_key(ev, ["user_id"]).collect()))
    win = sorted(map(tuple, latest_per_key(ev, ["user_id"], method="window").collect()))
    assert agg == win


def test_sessionize_splits_on_gap(spark):
    import datetime as dt

    from pyspark.sql import Row

    from coin_for_rich_spark.operators import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        Row(user_id=1, ts=t0),
        Row(user_id=1, ts=t0 + dt.timedelta(minutes=10)),
        Row(user_id=1, ts=t0 + dt.timedelta(hours=3)),   # > 1h gap → new session
        Row(user_id=2, ts=t0),
    ]
    out = sorted(
        (r.user_id, r.session_id, r.n_events, r.duration_seconds)
        for r in sessionize(
            spark.createDataFrame(rows), ["user_id"], gap_seconds=3600
        ).collect()
    )
    assert out == [(1, 1, 2, 600), (1, 2, 1, 0), (2, 1, 1, 0)]


def test_cascade_multi_equals_per_resolution_cascades(spark, sf_dir):
    """The fused single-shuffle multi-resolution cascade must equal the
    per-resolution cascade_rollup it replaces, resolution by resolution."""
    from coin_for_rich_spark.operators import (
        cascade_rollup,
        cascade_rollup_multi,
        ohlcv_rollup,
    )
    from coin_for_rich_spark.sources import candles_view

    base = ohlcv_rollup(candles_view(spark, sf_dir), "5m").cache()
    base.count()
    intervals = ["15m", "1h", "1D", "7D", "1M"]
    fused = cascade_rollup_multi(base, intervals)
    for iv in intervals:
        one = {
            tuple(r): None
            for r in cascade_rollup(base, iv).collect()
        }
        got = {
            tuple(r)[1:]: None  # drop leading resolution column
            for r in fused.filter(fused.resolution == iv)
            .select([c for c in fused.columns])
            .collect()
        }
        assert set(got) == set(one), iv
    base.unpersist()


def test_scoped_shuffle_partitions_restores_on_success_and_error(spark):
    import pytest

    from coin_for_rich_spark.functions.partitioning import (
        scoped_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    with scoped_shuffle_partitions(spark, 5):
        assert spark.conf.get(key) == "5"
    assert spark.conf.get(key) == prev
    with pytest.raises(RuntimeError):
        with scoped_shuffle_partitions(spark, 7):
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prev
    # None leaves the session value alone: the runners' unsized default
    with scoped_shuffle_partitions(spark, None):
        assert spark.conf.get(key) == prev
    assert spark.conf.get(key) == prev


def test_topn_per_key_salted_equals_plain(spark, sf_dir):
    """The two-phase salted top-N must equal the single-window plan exactly
    (deterministic order incl. tiebreak), on a deliberately skewed input."""
    from pyspark.sql import functions as F

    from coin_for_rich_spark.operators import topn_per_key
    from coin_for_rich_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    # skew: fold most keys into one hot key
    skewed = ev.withColumn(
        "user_id", F.when(F.col("user_id") % 7 != 0, 0).otherwise(F.col("user_id"))
    ).repartition(8)
    order = [F.col("ts").desc(), F.col("event_id").desc()]
    plain = sorted(
        map(tuple, topn_per_key(skewed, ["user_id"], order, 5).collect())
    )
    salted = sorted(
        map(tuple, topn_per_key(skewed, ["user_id"], order, 5, salted=True).collect())
    )
    assert plain == salted and len(plain) > 0


def test_skew_report_identifies_heavy_hitters(spark):
    from coin_for_rich_spark.operators.maintenance import skew_report

    rows = (
        [("hot", i) for i in range(90)]
        + [("warm", i) for i in range(8)]
        + [(f"k{i}", 0) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "k string, x int")
    r = skew_report(df, ["k"], top_n=3).collect()[0]
    assert r["n_rows"] == 118 and r["n_keys"] == 22
    assert r["max_rows"] == 90 and r["max_key"] == "hot"
    assert r["p50"] == 1
    assert r["skew_ratio"] == 90.0
    hh = [(h["key"], h["rows"]) for h in r["heavy_hitters"]]
    assert hh[0] == ("hot", 90) and hh[1] == ("warm", 8) and len(hh) == 3


def test_skew_report_composite_key_and_plan(spark, sf_dir):
    from coin_for_rich_spark.operators.maintenance import skew_report
    from coin_for_rich_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    out = skew_report(li, ["l_returnflag", "l_linestatus"], top_n=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the hitters come from TakeOrdered, never a full-keyspace collect
    assert "TakeOrdered" in plan
    r = out.collect()[0]
    assert r["n_rows"] == li.count()
    assert len(r["heavy_hitters"]) <= 5
    assert r["heavy_hitters"][0]["rows"] == r["max_rows"]


def test_range_join_matches_naive_and_avoids_bnl(spark):
    """Bucketed point-in-interval join: row-identical to the naive
    non-equi join, but planned as an equi-join (no BroadcastNestedLoop),
    with single-match semantics across bucket spans."""
    import datetime as dt

    from pyspark.sql import functions as F

    from coin_for_rich_spark.operators import range_join

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)  # noqa: E731
    points = spark.createDataFrame(
        [(i, t(i % 60, (i * 7) % 60), i % 3) for i in range(120)],
        "pid long, ts timestamp, key int",
    )
    intervals = spark.createDataFrame(
        [
            (100, t(0), t(10), 0),
            (101, t(5), t(6), 0),       # 1-minute interval
            (102, t(0), t(59, 59), 1),  # spans many buckets
            (103, t(30), t(30), 2),     # empty (start == end, half-open)
            (104, t(58), t(59), 9),     # key with no points
        ],
        "iid long, start timestamp, end timestamp, key int",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, on=["key"], bucket_seconds=300
        ).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in points.join(
            intervals,
            (points.key == intervals.key)
            & (points.ts >= intervals.start)
            & (points.ts < intervals.end),
        ).collect()
    )
    assert got == naive and len(got) > 0
    # no duplicate (point, interval) pairs despite multi-bucket intervals
    assert len(got) == len(set(got))
    # the cliff this operator removes is the KEYLESS range join: pure
    # BETWEEN has no equality, so Spark plans BroadcastNestedLoop; the
    # bucketed rewrite is an equi-join even with no extra keys
    p2 = points.drop("key")
    i2 = intervals.drop("key")
    keyless = sorted(
        (r.pid, r.iid)
        for r in range_join(p2, i2, bucket_seconds=300).collect()
    )
    naive_keyless = sorted(
        (r.pid, r.iid)
        for r in p2.join(
            i2, (p2.ts >= i2.start) & (p2.ts < i2.end)
        ).collect()
    )
    assert keyless == naive_keyless
    ptxt = range_join(p2, i2, bucket_seconds=300)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoop" not in ptxt
    ntxt = (
        p2.join(i2, (p2.ts >= i2.start) & (p2.ts < i2.end))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoop" in ntxt or "CartesianProduct" in ntxt

    # left join keeps unmatched points with null interval columns
    left = range_join(points, intervals, on=["key"], bucket_seconds=300, how="left")
    rows = left.collect()
    matched = {p for p, _ in got}
    assert {r.pid for r in rows if r.iid is None} == {
        r.pid for r in points.collect()
    } - matched

    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner/left"):
        range_join(points, intervals, how="full")
    with _pytest.raises(ValueError, match="ambiguous"):
        range_join(points.withColumnRenamed("pid", "iid"), intervals)


def test_range_join_exact_on_big_longs_and_explosion_guard(spark):
    """Integral time columns bucket with 64-bit integer arithmetic: epoch
    nanoseconds (~1.7e18) are beyond double's 2^53 exact range, where the
    old double round-trip could floor a boundary value into the wrong
    bucket and silently drop the match. And one sentinel-dated interval
    must fail loud, not OOM the executor mid-job."""
    import pytest

    from coin_for_rich_spark.operators import range_join

    base = 1_700_000_000_000_000_000  # epoch ns, > 2^53
    w_ns = 3600 * 1_000_000_000
    # a point at an interval's EXACT start boundary, boundary on a bucket edge
    start = (base // w_ns) * w_ns
    points = spark.createDataFrame(
        [(1, start), (2, start - 1)], "pid long, ts long"
    )
    intervals = spark.createDataFrame(
        [(10, start, start + w_ns)], "iid long, start long, end long"
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(
            points, intervals, bucket_seconds=w_ns
        ).collect()
    )
    assert got == [(1, 10)]  # boundary point matches; pre-start point doesn't

    sentinel = spark.createDataFrame(
        [(11, start, start + 5000 * w_ns)], "iid long, start long, end long"
    )
    with pytest.raises(Exception, match="range_join: one interval spans"):
        range_join(points, sentinel, bucket_seconds=w_ns,
                   max_interval_buckets=1000).collect()
    # raising the cap deliberately is allowed (small span here)
    ok = range_join(points, intervals, bucket_seconds=w_ns,
                    max_interval_buckets=10).collect()
    assert len(ok) == 1


def test_operator_core_review_hardening(spark):
    """Round-7 review pins for the relational core: sessionize's tiebreak
    parameter works; gap-fill with a bound end neither duplicates the
    spine nor misses candles below an off-grid end; moving_average follows SQL AVG NULL
    semantics; count-distinct-pairs counts NULL-component rows like a
    Postgres row constructor; weekly buckets align to Monday (TimescaleDB's
    2000-01-03 origin), not epoch-floor Thursday."""
    import datetime as dt

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from coin_for_rich_spark.functions.timeutils import time_bucket
    from coin_for_rich_spark.operators import (
        count_distinct_pairs,
        moving_average,
        sessionize,
    )

    t0 = dt.datetime(2024, 1, 1)

    # 1. sessionize(tiebreak_col=...) no longer an unresolved-column error
    df = spark.createDataFrame(
        [Row(k="a", ts=t0, event_id=i) for i in range(3)]
    )
    got = sessionize(df, ["k"], tiebreak_col="event_id").collect()
    assert len(got) == 1 and got[0].n_events == 3

    # 2. a bound end: exactly one spine row per bucket, and an off-grid
    # :45 end snaps to the hour grid instead of matching nothing
    candles = spark.createDataFrame(
        [
            Row(bucket=t0 + dt.timedelta(hours=1), open=1.0, high=1.0,
                low=1.0, close=1.0, volume=5.0),
            Row(bucket=t0 + dt.timedelta(hours=3), open=2.0, high=2.0,
                low=2.0, close=2.0, volume=7.0),
        ]
    )
    filled = _gap_fill(candles, "1h", t0 + dt.timedelta(hours=3, minutes=45)).collect()
    assert len(filled) == 3  # hours 1..3, each ONCE
    by_bucket = {r.bucket: r for r in filled}
    assert by_bucket[t0 + dt.timedelta(hours=1)].filled is False
    assert by_bucket[t0 + dt.timedelta(hours=3)].volume == 7.0
    assert by_bucket[t0 + dt.timedelta(hours=2)].filled is True

    # 3. AVG ignores NULLs
    mv = spark.createDataFrame(
        [Row(k="a", ts=t0 + dt.timedelta(minutes=i),
             close=[10.0, None, 20.0][i]) for i in range(3)]
    )
    r = moving_average(mv, ["k"], "ts", "close", 2).collect()[-1]
    assert r.moving_avg == 15.0

    # 4. NULL-component pairs count like Postgres row constructors
    pairs = spark.createDataFrame(
        [Row(a=1, b=None), Row(a=1, b=None), Row(a=1, b=2)]
    )
    assert count_distinct_pairs(pairs, ["a", "b"]).first().n_distinct == 2

    # 5. Monday-aligned weeks (2000-01-03 origin); day/hour buckets
    # unchanged by the origin (it divides a day)
    wk = spark.createDataFrame([Row(ts=dt.datetime(2024, 1, 10))])  # a Wed
    b = wk.select(
        time_bucket("ts", "7D").alias("w"),
        time_bucket("ts", "1D").alias("d"),
        time_bucket("ts", "1h").alias("h"),
    ).first()
    assert b.w == dt.datetime(2024, 1, 8)  # Monday of that week
    assert b.d == dt.datetime(2024, 1, 10) and b.h == dt.datetime(2024, 1, 10)
