"""Streaming OHLCV rollup — the continuous-aggregate path (A1/A2, S4).

Reference parity: each TimescaleDB continuous aggregate
(`scripts/database/init/create.sql:105-223`) is refreshed incrementally by a
policy `(start_offset, end_offset, schedule_interval)`
(`create.sql:345-381`); the WS updater additionally holds back each key's
newest (still-open) candle and drains every 10 s
(`fetchers/ws/updater.py:29,165-184`). Structured Streaming expresses all
three semantics natively:

- bucket           → ``window(ts, Δ)`` (origin-aligned tumbling window,
                     identical boundaries to functions.timeutils.time_bucket)
- end_offset /     → ``withWatermark(ts, end_offset)``: a window emits only
  hold-open-candle   once the watermark passes its end, so open buckets are
                     never published (append mode) — exactly the updater's
                     hold-back and the conagg's end_offset lag.
- start_offset /   → state-store retention: late rows within the watermark
  re-scan             revise the window before emission; rows later than that
                     are dropped (the reference instead re-fetches via REST
                     and upserts — that correction path is sink.run_ingest
                     with mode='upsert').
- schedule_interval→ ``trigger(processingTime=...)`` (``run_ingest``'s
                     trigger); bounded replays drain with ``availableNow``.

The input is the one candle schema (``symbol``, ``ts``, ``price``,
``volume``, see ``source.candle_stream``); column names are fixed, not
parameters. ``run_to_memory`` is the one in-memory runner for every
streaming row here: append for this rollup and the hold-back collector,
complete for the latest-value serve.

Scale posture: partial aggregation happens per micro-batch map-side; state is
keyed on (key, window) so state size scales with active windows per key, not
input rows. At 1000 executors the state store shards on the same shuffle
partitioning as the batch rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutils import INTERVAL_SECONDS
from ..operators.candles import ohlcv_aggs

# (start_offset, end_offset, schedule_interval) per resolution —
# `create.sql:345-381`. end_offset doubles as the watermark delay.
CONAGG_POLICIES: dict[str, tuple[str, str, str]] = {
    "5m": ("15 minutes", "5 minutes", "5 minutes"),
    "15m": ("45 minutes", "15 minutes", "15 minutes"),
    "30m": ("90 minutes", "30 minutes", "30 minutes"),
    "1h": ("3 hours", "1 hour", "1 hour"),
    "6h": ("18 hours", "6 hours", "6 hours"),
    "12h": ("36 hours", "12 hours", "12 hours"),
    "1D": ("3 days", "1 day", "1 day"),
    "7D": ("21 days", "7 days", "7 days"),
}

_DURATIONS: dict[str, str] = {
    iv: f"{secs} seconds" for iv, secs in INTERVAL_SECONDS.items() if secs
}


def streaming_ohlcv_rollup(
    stream: DataFrame, interval: str, watermark: str | None = None
) -> DataFrame:
    """Watermarked tumbling-window OHLCV candles over a streaming candle
    DataFrame (``symbol``, ``ts``, ``price``, ``volume``).

    The aggregate expressions ARE the batch operator's —
    ``operators.candles.ohlcv_aggs`` is imported, not copied — one definition
    of open/high/low/close/volume, two execution modes, so batch backfill and
    streaming refresh can never disagree on semantics (the reference keeps
    them consistent by construction too: one SQL view definition,
    `create.sql:105-118`). Guarded by tests/test_plans.py.

    Append-mode output emits a candle exactly once, when the watermark passes
    the window end (the "don't publish the open candle" rule, S4).
    """
    if interval not in _DURATIONS:
        raise ValueError(
            f"interval {interval!r} has no fixed streaming window duration "
            f"(supported: {sorted(_DURATIONS)}); calendar intervals like "
            "'1M' vary in length and belong to the batch rollup cascade"
        )
    if watermark is None:
        policy = CONAGG_POLICIES.get(interval)
        if policy is None:
            raise ValueError(
                f"interval {interval!r} has no continuous-aggregate policy "
                "to derive a watermark from — pass watermark= explicitly "
                "(defaulting to '0 seconds' would silently DROP every late "
                "row; the late-data tolerance is a semantic choice)"
            )
        watermark = policy[1]
    # share the batch tier's bucket origin (TimescaleDB's 2000-01-03
    # Monday): window() epoch-aligns by default, which is identical for
    # widths dividing a day (offset 0) but would start 7D/14D windows on
    # Thursday while functions.timeutils.time_bucket starts them Monday —
    # the batch-vs-streaming equivalence must hold at every resolution
    from ..functions.timeutils import TS_BUCKET_ORIGIN

    width = INTERVAL_SECONDS[interval]
    offset = TS_BUCKET_ORIGIN % width
    win = F.window("ts", _DURATIONS[interval], startTime=f"{offset} seconds")
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "symbol")
        .agg(*ohlcv_aggs())
        .select(
            F.col("win.start").alias("bucket"),
            "symbol",
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_trades",
        )
    )


def run_to_memory(
    df: DataFrame,
    table_name: str,
    output_mode: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (``availableNow``) into an
    in-memory sink and return the table: ``"append"`` for a watermarked
    rollup or the hold-back collector (only closed candles land),
    ``"complete"`` for the latest-value serve (one row per key).
    ``state_partitions`` sizes the state store to the keyspace (see
    functions.partitioning.scoped_shuffle_partitions)."""
    from ..functions.partitioning import scoped_shuffle_partitions

    # the scope must cover awaitTermination: micro-batch planning (which
    # captures the state partition count) happens after start() returns
    with scoped_shuffle_partitions(df.sparkSession, state_partitions):
        (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(table_name)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return df.sparkSession.table(table_name)
