"""Streaming-layer semantics, verified against the batch operators.

Every test replays the events testdata as a deterministic multi-batch file
stream (time-ordered chunks, maxFilesPerTrigger=1) and asserts the streaming
result equals the equivalent batch computation — the same one the DuckDB
oracle checks — so batch and streaming can't drift apart.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.operators import dedup_pk, latest_per_key, ohlcv_rollup
from coin_for_rich_spark.sources import candles_view, load_table
from coin_for_rich_spark.streaming import (
    ParquetMergeSink,
    candle_stream,
    latest_value_serve,
    run_ingest,
    stage_stream_chunks,
    streaming_ohlcv_rollup,
)
from coin_for_rich_spark.streaming.rollup import run_to_memory
from coin_for_rich_spark.streaming.source import read_file_stream


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "events")
    ev = load_table(spark, sf_dir, "events")
    schema = stage_stream_chunks(ev, path, n_chunks=6)
    return path, schema


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_rollup_matches_batch_on_closed_windows(spark, sf_dir, staged_events):
    path, schema = staged_events
    stream = candle_stream(read_file_stream(spark, path, schema))
    rolled = streaming_ohlcv_rollup(stream, "1h", watermark="0 seconds")
    got = run_to_memory(rolled, "t_stream_rollup_1h", "append")

    ev = candles_view(spark, sf_dir)
    max_ts = ev.select(F.max("ts")).first()[0]
    expected = ohlcv_rollup(ev, "1h").filter(
        F.col("bucket") + F.expr("INTERVAL 1 HOUR") <= F.lit(max_ts)
    )
    cols = ["bucket", "symbol", "open", "high", "low", "close", "volume", "n_trades"]
    assert _rows(got, cols) == _rows(expected, cols)
    # the open (unclosed) candle must be held back: nothing at/after the last
    # watermark-open bucket boundary
    assert got.filter(
        F.col("bucket") + F.expr("INTERVAL 1 HOUR") > F.lit(max_ts)
    ).count() == 0


def test_latest_value_serve_matches_batch_latest(spark, sf_dir, staged_events):
    path, schema = staged_events
    stream = candle_stream(read_file_stream(spark, path, schema))
    got = run_to_memory(latest_value_serve(stream), "t_stream_latest", "complete")

    expected = latest_per_key(
        candles_view(spark, sf_dir), ["symbol"], "ts", tiebreak_col=None
    ).select("symbol", "ts", "price", "volume")
    cols = ["symbol", "ts", "price", "volume"]
    assert _rows(got, cols) == _rows(expected, cols)


def test_merge_sink_ignore_is_idempotent_first_writer_wins(spark, tmp_path):
    sink = ParquetMergeSink(
        str(tmp_path / "tbl"), pk=("k",), mode="ignore", tiebreak_col="seq"
    )
    b1 = spark.createDataFrame([("a", 1, 10.0), ("a", 2, 11.0), ("b", 3, 20.0)],
                               "k string, seq int, v double")
    b2 = spark.createDataFrame([("a", 4, 99.0), ("c", 5, 30.0)],
                               "k string, seq int, v double")
    sink.merge(b1, 0)
    sink.merge(b2, 1)
    sink.merge(b2, 1)  # replay — must be a no-op
    got = sorted(tuple(r) for r in sink.read(spark).collect())
    # within-batch dedup keeps lowest seq for 'ignore'; PK 'a' keeps batch-1 row
    assert got == [("a", 1, 10.0), ("b", 3, 20.0), ("c", 5, 30.0)]


def test_merge_sink_upsert_newest_wins(spark, tmp_path):
    sink = ParquetMergeSink(
        str(tmp_path / "tbl"), pk=("k",), mode="upsert", tiebreak_col="seq"
    )
    b1 = spark.createDataFrame([("a", 1, 10.0), ("b", 2, 20.0)],
                               "k string, seq int, v double")
    b2 = spark.createDataFrame([("a", 3, 10.5), ("a", 4, 10.9), ("c", 5, 30.0)],
                               "k string, seq int, v double")
    sink.merge(b1, 0)
    sink.merge(b2, 1)
    got = sorted(tuple(r) for r in sink.read(spark).collect())
    # 'a' corrected by batch 2 (highest seq within batch wins), 'b' untouched
    assert got == [("a", 4, 10.9), ("b", 2, 20.0), ("c", 5, 30.0)]


def test_merge_sink_empty_batch_adds_no_partition(spark, tmp_path):
    """An empty micro-batch (an idle trigger) leaves no ``batch=N``
    partition behind for later reads to list and window over, whether it
    arrives with no partitions or as empty partitions."""
    sink = ParquetMergeSink(str(tmp_path / "tbl"), pk=("k",), mode="ignore")
    schema = "k string, v double"
    sink.merge(spark.createDataFrame([("a", 1.0)], schema), 0)
    assert sink.batch_log_length() == 1
    sink.merge(spark.createDataFrame([], schema), 1)
    filtered = spark.createDataFrame([("b", 2.0)], schema).repartition(4)
    sink.merge(filtered.filter("v < 0"), 2)
    assert sink.batch_log_length() == 1
    assert sorted(os.listdir(tmp_path / "tbl")) == ["batch=0"]
    assert [tuple(r) for r in sink.read(spark).collect()] == [("a", 1.0)]


def test_hold_back_collector_matches_batch_minus_open_candle(
    spark, sf_dir, staged_events
):
    """S4 data-driven close rule: every candle except each key's newest is
    emitted; the newest (still-open) one is withheld."""
    from coin_for_rich_spark.streaming.stateful import hold_back_collector

    path, schema = staged_events
    stream = candle_stream(read_file_stream(spark, path, schema))
    collected = hold_back_collector(stream)
    q = (
        collected.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_hold_back")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_hold_back")

    minutely = ohlcv_rollup(candles_view(spark, sf_dir), "1m")
    from pyspark.sql import Window

    w = Window.partitionBy("symbol")
    expected = (
        minutely.withColumn("_mx", F.max("bucket").over(w))
        .filter(F.col("bucket") < F.col("_mx"))
        .drop("_mx")
    )
    cols = ["bucket", "symbol", "open", "high", "low", "close", "volume", "n_trades"]
    assert _rows(got, cols) == _rows(expected, cols)


def test_hold_back_emit_mode_equals_drop_mode_on_ordered_replay(
    spark, sf_dir, staged_events
):
    """Wiring pin for late_policy='emit' (the reference-protocol mode,
    tests/test_reference_updater_protocol.py): on a time-ordered replay
    with no stale rule the two policies are behaviourally identical (no
    late data exists to drop, no tombstone to consult), so the emit-mode
    end-to-end output must equal drop mode's row-for-row. The protocol
    DIVERGENCES (late never-seen minutes, event-time stale flush) are
    pinned cycle-by-cycle against live PostgreSQL in the parity module."""
    from coin_for_rich_spark.streaming.stateful import hold_back_collector

    path, schema = staged_events
    cols = ["bucket", "symbol", "open", "high", "low", "close", "volume", "n_trades"]
    outs = {}
    for policy in ("drop", "emit"):
        stream = candle_stream(read_file_stream(spark, path, schema))
        q = (
            hold_back_collector(stream, late_policy=policy)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(f"t_hb_{policy}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        outs[policy] = _rows(spark.table(f"t_hb_{policy}"), cols)
    assert outs["emit"] == outs["drop"]
    assert len(outs["emit"]) > 0


def test_streamed_ingest_pipeline_dedups_on_pk(spark, sf_dir, tmp_path, staged_events):
    """End-to-end S4+S6: chunked replay → foreachBatch ignore-merge ==
    batch dedup_pk over the same input."""
    path, schema = staged_events
    stream = read_file_stream(spark, path, schema)
    sink = ParquetMergeSink(
        str(tmp_path / "ohlcvs"),
        pk=("user_id", "event_type"),
        mode="ignore",
        tiebreak_col="event_id",
    )
    run_ingest(stream, sink, str(tmp_path / "ckpt"))
    got = sink.read(spark)

    ev = load_table(spark, sf_dir, "events")
    expected = dedup_pk(ev, ["user_id", "event_type"], tiebreak_col="event_id")
    # chunks are time-ordered but batch-boundary ties across chunks are
    # decided per-batch: 'first batch wins' == lowest event_id only within a
    # batch. The stream chunks are disjoint in time and event_id order is not
    # guaranteed to follow ts, so compare on PK coverage + value sanity.
    assert got.count() == expected.count()
    assert (
        got.select("user_id", "event_type").distinct().count() == got.count()
    )


def test_jdbc_upsert_sql_shapes():
    from coin_for_rich_spark.streaming.jdbc import upsert_sql

    ignore = upsert_sql("ohlcvs", "ohlcvs__staging", ["exchange", "time", "open"],
                        ["exchange", "time"], "ignore", [])
    assert ignore.endswith("ON CONFLICT (exchange, time) DO NOTHING")
    up = upsert_sql("ohlcvs", "s", ["exchange", "time", "open", "close"],
                    ["exchange", "time"], "upsert", [])
    assert up.endswith("DO UPDATE SET open = excluded.open, close = excluded.close")
    # within-batch dedup: DISTINCT ON over the PK, tiebreak order
    dd = upsert_sql("ohlcvs", "s", ["exchange", "time", "open"],
                    ["exchange", "time"], "upsert", ["open DESC"])
    assert "SELECT DISTINCT ON (exchange, time) exchange, time, open FROM s" in dd
    assert "ORDER BY exchange, time, open DESC" in dd
    # empty dedup_order still dedups (exact-duplicate PK rows in one batch)
    dd0 = upsert_sql("t", "s", ["a"], ["a"], "ignore", [])
    assert "SELECT DISTINCT ON (a) a FROM s ORDER BY a" in dd0
    with pytest.raises(ValueError, match="mode must be"):
        upsert_sql("t", "s", ["a"], ["a"], "merge", [])


def test_merge_sink_compact_preserves_state_and_semantics(spark, tmp_path):
    from coin_for_rich_spark.streaming import ParquetMergeSink

    sink = ParquetMergeSink(
        str(tmp_path / "tbl"), pk=("k",), mode="upsert", tiebreak_col="seq"
    )
    b1 = spark.createDataFrame([("a", 1, 10.0), ("b", 2, 20.0)],
                               "k string, seq int, v double")
    b2 = spark.createDataFrame([("a", 3, 10.5)], "k string, seq int, v double")
    sink.merge(b1, 0)
    sink.merge(b2, 1)
    before = sorted(map(tuple, sink.read(spark).collect()))
    sink.compact(spark)
    after = sorted(map(tuple, sink.read(spark).collect()))
    assert before == after == [("a", 3, 10.5), ("b", 2, 20.0)]
    # post-compaction batches still override the base
    b3 = spark.createDataFrame([("b", 4, 21.0)], "k string, seq int, v double")
    sink.merge(b3, 2)
    assert sorted(map(tuple, sink.read(spark).collect())) == [
        ("a", 3, 10.5), ("b", 4, 21.0)
    ]


def test_exactly_once_dedup_under_duplicate_delivery(spark, sf_dir, staged_events):
    from coin_for_rich_spark.streaming import exactly_once_dedup

    path, schema = staged_events
    stream = read_file_stream(spark, path, schema)
    doubled = stream.union(stream)
    deduped = exactly_once_dedup(doubled, ["event_id"], watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stream_dedup")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_stream_dedup")
    ev = load_table(spark, sf_dir, "events")
    assert got.count() == ev.count()  # every event exactly once
    assert _rows(got, ["event_id"]) == _rows(ev, ["event_id"])


def test_stale_flush_force_emits_held_candle(spark, tmp_path):
    """ADVICE fix: with stale_ms set, a key with NO later data must still
    flush once its processing-time timeout lapses (the reference's
    DATA_HELD_MLS_THRESHOLD force-flush) — the timeout is armed on every
    state update. Key 'lonely' appears only in batch 1; by the time batch 2
    (other keys) processes, its 1 ms timeout has lapsed → its held candle is
    emitted. Without the timeout it stays withheld forever."""
    import datetime as dt

    from pyspark.sql import Row

    from coin_for_rich_spark.streaming.stateful import hold_back_collector

    t0 = dt.datetime(2024, 1, 1)
    batch1 = [
        Row(symbol="lonely", ts=t0, price=1.0, volume=1.0),
        Row(symbol="busy", ts=t0, price=2.0, volume=1.0),
    ]
    batch2 = [
        Row(symbol="busy", ts=t0 + dt.timedelta(minutes=5), price=3.0, volume=1.0),
    ]
    path = str(tmp_path / "stale")
    df1 = spark.createDataFrame(batch1)
    df2 = spark.createDataFrame(batch2)
    import os

    df1.coalesce(1).write.mode("overwrite").parquet(path)
    df2.coalesce(1).write.mode("append").parquet(path)
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    base = os.stat(path).st_mtime
    for i, name in enumerate(parts):
        os.utime(os.path.join(path, name), (base + 10 * (i + 1),) * 2)

    import time

    stream = read_file_stream(spark, path, df1.schema)
    for flag, expect_lonely in ((True, True), (False, False)):
        name = f"t_stale_{int(flag)}"
        q = (
            hold_back_collector(stream, stale_ms=1 if flag else None)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if flag:
                # a ProcessingTimeTimeout query keeps running no-data batches
                # to fire timeouts, so availableNow never self-terminates —
                # poll the sink for the force-flushed candle instead
                deadline = time.monotonic() + 120
                while time.monotonic() < deadline:
                    got = {r.symbol for r in spark.table(name).collect()}
                    if "lonely" in got:
                        break
                    time.sleep(0.5)
            else:
                q.awaitTermination(120)
                got = {r.symbol for r in spark.table(name).collect()}
        finally:
            q.stop()
        assert ("lonely" in got) == expect_lonely, (flag, got)
        # busy's first candle closes by later data in both modes
        assert "busy" in got


def test_ingest_resumes_from_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """Crash-recovery semantics (the reference's restart path,
    updater.py:127-138): ingest half the replay, stop, then restart against
    the SAME checkpoint and sink with the rest of the files present — the
    final table must equal a single uninterrupted run: nothing lost, nothing
    doubled. This is Spark's offset-log + idempotent-merge contract, pinned
    end-to-end."""
    import os
    import shutil

    from coin_for_rich_spark.sources import load_table
    from coin_for_rich_spark.streaming import ParquetMergeSink, run_ingest
    from coin_for_rich_spark.streaming.source import (
        read_file_stream,
        stage_stream_chunks,
    )

    ev = load_table(spark, sf_dir, "events")
    staged = str(tmp_path / "staged")
    schema = stage_stream_chunks(ev, staged, n_chunks=6)
    parts = sorted(
        f for f in os.listdir(staged)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    sink = ParquetMergeSink(str(tmp_path / "tbl"), pk=("event_id",), mode="ignore")

    for name in parts[:3]:
        shutil.copy2(os.path.join(staged, name), os.path.join(src, name))
    run_ingest(read_file_stream(spark, src, schema), sink, ckpt)
    n_partial = sink.read(spark).count()
    assert 0 < n_partial < ev.count()

    for name in parts[3:]:
        shutil.copy2(os.path.join(staged, name), os.path.join(src, name))
    run_ingest(read_file_stream(spark, src, schema), sink, ckpt)

    got = sink.read(spark)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_parse_wire_candles_splits_dead_letters(spark):
    """The Redis wire-format parser types well-formed rows and routes every
    malformed shape (wrong arity, non-numeric field) to the dead-letter
    relation — nothing raises, nothing is lost."""
    from pyspark.sql import Row

    from coin_for_rich_spark.streaming import parse_wire_candles

    rows = [
        Row(symbol="BTC-USD", wire="1704067200000;;1.5;;2.0;;1.0;;1.8;;42.5"),
        Row(symbol="ETH-USD", wire="1704067260000;;3;;4;;2;;3.5;;7"),
        Row(symbol="BAD1", wire="1704067200000;;1.5;;2.0"),          # arity
        Row(symbol="BAD2", wire="notatime;;1;;2;;3;;4;;5"),          # bad ts
        Row(symbol="BAD3", wire="1704067200000;;x;;2;;3;;4;;5"),     # bad num
        Row(symbol="BAD4", wire=None),  # NULL wire: must NOT vanish (r10)
    ]
    parsed, dead = parse_wire_candles(spark.createDataFrame(rows))
    good = {r.symbol: r for r in parsed.collect()}
    assert set(good) == {"BTC-USD", "ETH-USD"}
    assert good["BTC-USD"].open == 1.5 and good["BTC-USD"].volume == 42.5
    assert good["BTC-USD"].ts.year == 2024
    assert {r.symbol for r in dead.collect()} == {"BAD1", "BAD2", "BAD3", "BAD4"}
    # the rounding variant routes the same shapes identically (its guard
    # tree is evaluated once through the array transform, r10 plan shape)
    parsed4, dead4 = parse_wire_candles(
        spark.createDataFrame(rows), round_decimals=4
    )
    assert {r.symbol for r in parsed4.collect()} == {"BTC-USD", "ETH-USD"}
    assert {r.symbol for r in dead4.collect()} == {"BAD1", "BAD2", "BAD3", "BAD4"}


def test_parse_wire_round_trips_through_candle_stream_shape(spark):
    from pyspark.sql import Row

    from coin_for_rich_spark.streaming import parse_wire_candles

    parsed, _ = parse_wire_candles(
        spark.createDataFrame(
            [Row(symbol="S", wire="1704067200000;;1;;2;;0.5;;1.5;;9")]
        )
    )
    assert set(parsed.columns) == {"symbol", "ts", "open", "high", "low",
                                   "close", "volume"}


def test_format_wire_round_trip_is_lossless_at_us(spark, sf_dir):
    """format -> parse at ts_unit='us' is the identity on real candle data:
    microsecond event time and shortest-repr doubles both survive the wire
    hop (the reference's ms stamps are covered by the default unit above)."""
    from coin_for_rich_spark.streaming import format_wire_candles, parse_wire_candles

    cv = candles_view(spark, sf_dir).limit(200).select(
        "symbol", "ts",
        F.col("price").alias("open"), F.col("price").alias("high"),
        F.col("price").alias("low"), F.col("price").alias("close"),
        "volume",
    )
    wire = format_wire_candles(cv, ts_unit="us")
    parsed, dead = parse_wire_candles(wire, ts_unit="us")
    assert dead.count() == 0
    cols = ["symbol", "ts", "open", "high", "low", "close", "volume"]
    assert _rows(parsed, cols) == _rows(cv, cols)


def test_format_wire_null_fields_keep_arity_and_dead_letter(spark):
    """A candle with a NULL column must serialize to a full-arity wire
    string (concat_ws would silently skip the null, shifting every later
    field) and come back on the DEAD-LETTER leg with the raw string intact
    — never as a mis-parsed row, never silently dropped."""
    import datetime as dt

    from pyspark.sql import Row

    from coin_for_rich_spark.streaming import format_wire_candles, parse_wire_candles

    ts = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        Row(symbol="ok", ts=ts, open=1.0, high=2.0, low=0.5, close=1.5,
            volume=9.0),
        Row(symbol="null-mid", ts=ts, open=1.0, high=None, low=0.5,
            close=1.5, volume=9.0),
        Row(symbol="null-ts", ts=None, open=1.0, high=2.0, low=0.5,
            close=1.5, volume=9.0),
    ]
    wire = format_wire_candles(spark.createDataFrame(rows), ts_unit="us")
    by_sym = {r["symbol"]: r["wire"] for r in wire.collect()}
    # arity is preserved: every wire string has exactly 6 fields
    assert all(w.count(";;") == 5 for w in by_sym.values())
    assert ";;;;" in by_sym["null-mid"]  # explicit empty token, not a skip
    assert by_sym["null-ts"].startswith(";;")
    parsed, dead = parse_wire_candles(wire, ts_unit="us")
    assert [r["symbol"] for r in parsed.collect()] == ["ok"]
    dead_rows = {r["symbol"]: r["wire"] for r in dead.collect()}
    assert set(dead_rows) == {"null-mid", "null-ts"}
    assert dead_rows["null-mid"] == by_sym["null-mid"]


def test_rollup_watermark_delay_revises_within_and_drops_beyond(spark, tmp_path):
    """CONAGG policy parity (create.sql:345-381): with the declared 5m
    policy's end_offset as the watermark delay ('5 minutes'), replaying late
    rows shows all three lateness behaviors:

    - a late row whose window is still open w.r.t. the watermark REVISES the
      window before emission (start_offset re-scan semantics);
    - a late row beyond the delay, arriving after its window's state was
      evicted and the candle emitted, is DROPPED — the reference's conagg
      also won't see it until the REST re-fetch/upsert correction path;
    - the open candle is withheld (end_offset lag / updater hold-back).

    Timing nuance (empirically pinned here): eviction happens at the END of
    the first batch whose watermark passes the window end, AFTER that
    batch's input was merged — so a beyond-delay row is only dropped from
    the batch FOLLOWING the emission, which is why the 99.0 row replays in
    its own later chunk.
    """
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    base = dt.datetime(2024, 1, 1, 0, 0, tzinfo=dt.timezone.utc)

    def t(m):
        return base + dt.timedelta(minutes=m)

    # batch 0 advances max event time to 00:22 => watermark 00:17 thereafter;
    # batch 1 replays late rows against that watermark and triggers the
    # eviction+emission of the [00:00,00:05) candle; batch 2's beyond-delay
    # row then finds no state and is dropped; batch 3 closes everything
    # except its own (open) window.
    chunks = [
        [("X", t(1), 10.0), ("X", t(22), 20.0)],
        [("X", t(16), 30.0),   # window [00:15,00:20) end > wm  -> accepted
         ("X", t(21), 40.0)],  # window [00:20,00:25) end > wm  -> revises
        [("X", t(2), 99.0)],   # window [00:00,00:05) evicted   -> dropped
        [("X", t(40), 50.0)],
    ]
    path = str(tmp_path / "events")
    os.makedirs(path)
    for i, rows in enumerate(chunks):
        tbl = pa.table({
            "symbol": pa.array([r[0] for r in rows]),
            "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us", tz="UTC")),
            "price": pa.array([r[2] for r in rows], type=pa.float64()),
            "volume": pa.array([1.0 for _ in rows], type=pa.float64()),
        })
        f = os.path.join(path, f"chunk-{i:02d}.parquet")
        pq.write_table(tbl, f)
        os.utime(f, (1_000_000_000 + 10 * i, 1_000_000_000 + 10 * i))
    schema = T.StructType([
        T.StructField("symbol", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ])
    stream = read_file_stream(spark, path, schema)
    rolled = streaming_ohlcv_rollup(stream, "5m")  # policy watermark: 5 minutes
    got = run_to_memory(rolled, "t_rollup_wm_delay", "append")
    out = {
        r["bucket"].minute + 60 * r["bucket"].hour:
            (r["open"], r["close"], r["n_trades"])
        for r in got.collect()
    }
    # beyond-delay late row dropped: the 00:00 candle still holds ONLY 00:01
    # accepted late row materialized its own window at 00:15
    # within-delay late row revised 00:20 before emission (open from 00:21)
    # open candle at 00:40 withheld (watermark 00:35 < window end 00:45)
    assert out == {
        0: (10.0, 10.0, 1),
        15: (30.0, 30.0, 1),
        20: (40.0, 20.0, 2),
    }


def test_streaming_sessionize_matches_batch_on_closed_sessions(
    spark, sf_dir, staged_events
):
    """The session_window twin must produce exactly the batch operator's
    sessions for every session the watermark has closed, and hold back
    every still-open one — the same discipline as the rollup twin."""
    from coin_for_rich_spark.operators.windowed import sessionize
    from coin_for_rich_spark.streaming.sessions import streaming_sessionize

    gap = 1800
    path, schema = staged_events
    stream = candle_stream(read_file_stream(spark, path, schema))
    sessions = streaming_sessionize(
        stream, ["symbol"], gap_seconds=gap, watermark="0 seconds"
    )
    got = run_to_memory(sessions, "t_stream_sessions", "append")

    ev = candles_view(spark, sf_dir)
    max_ts = ev.select(F.max("ts")).first()[0]
    batch = sessionize(ev, ["symbol"], gap_seconds=gap)

    # precondition for twin equality: the corpus must not contain an
    # exact-gap delta (the one boundary where the twins legitimately
    # diverge — see streaming/sessions.py). If testdata ever does, this
    # fails loudly instead of the equivalence passing by luck.
    from pyspark.sql import Window as W

    deltas = ev.select(
        "symbol",
        (
            F.to_unix_timestamp("ts")
            - F.to_unix_timestamp(
                F.lag("ts").over(W.partitionBy("symbol").orderBy("ts"))
            )
        ).alias("d"),
    )
    assert deltas.filter(F.col("d") == gap).count() == 0

    closed = batch.filter(
        F.col("session_end") + F.expr(f"INTERVAL {gap} SECONDS")
        <= F.lit(max_ts)
    )
    cols = ["symbol", "session_start", "session_end", "n_events", "duration_seconds"]
    assert _rows(got, cols) == _rows(closed, cols)
    assert closed.count() > 0
    # still-open sessions (end + gap past the final watermark) held back
    assert got.filter(
        F.col("session_end") + F.expr(f"INTERVAL {gap} SECONDS") > F.lit(max_ts)
    ).count() == 0


class _FakeState:
    """Minimal GroupState stand-in for driving _flush_fn directly — the
    engine-edge inputs (empty chunk with live state, late-after-close
    replays) are hard to provoke deterministically through a real query."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def _mk_rows(rows):
    import pandas as pd

    return iter(
        [
            pd.DataFrame(
                {
                    "ts": pd.to_datetime([r[0] for r in rows]),
                    "price": [r[1] for r in rows],
                    "volume": [r[2] for r in rows],
                }
            )
        ]
    )


def test_flush_fn_edge_inputs_and_emit_once():
    """Review-pass pins for the hold-back collector: an EMPTY chunk with
    live state must not crash the vectorized path; a closed (already
    emitted) minute never re-emits a partial duplicate on late replays;
    a stale flush leaves a watermark tombstone with the same guarantee."""
    import pandas as pd

    from coin_for_rich_spark.streaming.stateful import _flush_fn

    key = ("sym",)
    state = _FakeState()
    # batch 1: two minutes -> older emitted, newest held
    out1 = list(
        _flush_fn(
            key,
            _mk_rows(
                [("2024-01-01 10:00:00", 5.0, 1.0), ("2024-01-01 10:01:00", 6.0, 1.0)]
            ),
            state,
        )
    )
    assert len(out1) == 1 and out1[0]["close"].tolist() == [5.0]
    # batch 2: EMPTY chunk with live state — previously IndexError
    out2 = list(_flush_fn(key, iter([pd.DataFrame({"ts": [], "price": [], "volume": []})]), state))
    assert out2 == [] and state.exists
    # batch 3: a LATE row for the already-emitted 10:00 minute is dropped —
    # an append sink must never receive a second, partial 10:00 candle
    out3 = list(_flush_fn(key, _mk_rows([("2024-01-01 10:00:30", 9.0, 1.0)]), state))
    assert out3 == []
    # ...while the held 10:01 bucket is still open and closes on later data
    out4 = list(_flush_fn(key, _mk_rows([("2024-01-01 10:02:00", 7.0, 1.0)]), state))
    assert len(out4) == 1 and out4[0]["close"].tolist() == [6.0]
    # stale flush: emit held, keep the watermark tombstone; a replay of the
    # flushed minute after the flush is ALSO dropped
    timed = _FakeState(value=state._value, timed_out=True)
    out5 = list(_flush_fn(key, iter([]), timed))
    assert len(out5) == 1 and out5[0]["bucket"].tolist() == [pd.Timestamp("2024-01-01 10:02:00")]
    assert timed.exists and not timed.removed  # tombstone, not removal
    timed.hasTimedOut = False
    out6 = list(_flush_fn(key, _mk_rows([("2024-01-01 10:02:45", 1.0, 1.0)]), timed))
    assert out6 == []


def test_flush_fn_tombstone_ttl_bounds_state_and_suppression():
    """ADVICE r7 + r8 (stateful.py tombstone lifecycle): a stale flush
    leaves the emit-once watermark as a tombstone armed with the LONG TTL
    (stale_ms x _TOMBSTONE_TTL_FACTOR). Within that horizon replays of
    emitted minutes stay suppressed and all-late batches re-arm the TTL;
    when the TTL itself fires on a tombstone-only state the key is
    RECLAIMED (r8: keeping it forever leaked one state entry per dead key
    under key churn). Past the horizon a replay re-emits — the downstream
    idempotent sink is the documented backstop."""
    from coin_for_rich_spark.streaming.stateful import (
        _TOMBSTONE_TTL_FACTOR,
        _flush_fn,
    )

    key = ("sym",)
    state = _FakeState()
    # emit minute 10:00 by sending 10:00 then 10:01, then close 10:01 too
    list(
        _flush_fn(
            key,
            _mk_rows(
                [("2024-01-01 10:00:00", 5.0, 1.0), ("2024-01-01 10:01:00", 6.0, 1.0)]
            ),
            state,
            stale_ms=1000,
        )
    )
    # stale flush closes 10:01 -> tombstone-only state, long TTL armed
    timed = _FakeState(value=state._value, timed_out=True)
    list(_flush_fn(key, iter([]), timed, stale_ms=1000))
    assert timed.exists and timed.get[0] == []  # no open buckets
    assert timed.timeout_set == 1000 * _TOMBSTONE_TTL_FACTOR
    # an all-late batch within the horizon: suppressed, TTL re-armed
    timed.hasTimedOut = False
    timed.timeout_set = None
    out = list(_flush_fn(key, _mk_rows([("2024-01-01 10:00:30", 9.0, 1.0)]), timed, stale_ms=1000))
    assert out == [] and timed.exists
    assert timed.timeout_set == 1000 * _TOMBSTONE_TTL_FACTOR
    # the TTL fires on the tombstone-only state: the key has been dead for
    # the whole replay horizon — its state is reclaimed, not kept forever
    timed.hasTimedOut = True
    out = list(_flush_fn(key, iter([]), timed, stale_ms=1000))
    assert out == []
    assert timed.removed and not timed.exists, "dead tombstone not reclaimed"
    # past the horizon a replay re-aggregates from scratch: held as the
    # key's newest (only) bucket, then emitted on later data — the
    # downstream idempotent sink dedups the duplicate (key, bucket)
    timed.hasTimedOut = False
    out = list(_flush_fn(key, _mk_rows([("2024-01-01 10:01:30", 8.0, 1.0)]), timed, stale_ms=1000))
    assert out == [] and timed.exists


def test_rollup_interval_and_trigger_guards(spark, tmp_path):
    """Unsupported intervals fail with context (not a bare KeyError), and a
    no-policy interval demands an explicit watermark (a silent '0 seconds'
    default would drop all late rows)."""
    import datetime as dt

    import pytest
    from pyspark.sql import Row

    from coin_for_rich_spark.streaming.rollup import streaming_ohlcv_rollup

    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [Row(symbol="a", ts=dt.datetime(2024, 1, 1), price=1.0, volume=1.0)]
    )
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    with pytest.raises(ValueError, match="no fixed streaming window"):
        streaming_ohlcv_rollup(stream, "1M")
    with pytest.raises(ValueError, match="watermark"):
        streaming_ohlcv_rollup(stream, "3h")
    # explicit watermark unlocks the no-policy interval (plan builds fine)
    streaming_ohlcv_rollup(stream, "3h", watermark="1 hour")


def test_latest_value_serve_deterministic_ts_tie(spark):
    """Two updates sharing a timestamp: the greatest value struct wins the
    tie — deterministic across runs/partitionings (a bare max_by on ts
    picks an arbitrary tied row), mirroring the reference's 'ts >= current'
    overwrite guard as closely as an order-blind engine can."""
    import datetime as dt

    from pyspark.sql import Row

    from coin_for_rich_spark.streaming.latest import latest_value_serve

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            Row(symbol="a", ts=t, price=3.0, volume=1.0),
            Row(symbol="a", ts=t, price=9.0, volume=1.0),
            Row(symbol="a", ts=t - dt.timedelta(minutes=1), price=99.0, volume=1.0),
        ]
    )
    for _ in range(3):  # stable under repeated evaluation
        row = latest_value_serve(df).collect()[0]
        assert (row.price, row.ts) == (9.0, t)


def test_stream_rollup_1d_matches_duckdb_twin(spark, sf_dir, duck):
    """The daily streamed conagg tier with its policy-derived watermark
    (CONAGG_POLICIES['1D'] end_offset '1 day'), hash-exact against a
    DuckDB twin that applies the same publication-lag filter. The daily
    window spans many micro-batches, so this also pins cross-batch state
    survival: every replay chunk updates open daily windows and only the
    final watermark advance publishes them."""
    import __spark_entry__ as entry_mod
    from selfcheck import compare

    sdf = entry_mod.q_stream_rollup_1d(spark, sf_dir).toPandas()
    assert len(sdf) > 0, "daily policy must emit closed buckets on a 30-day replay"
    odf = duck.execute(entry_mod._stream_rollup_1d_oracle_sql()).df()
    problems = compare("stream_rollup_1d", sdf, odf)
    assert not problems, problems
