"""The core operator: time-bucketed OHLCV rollup.

Reference parity: each of the 8 TimescaleDB continuous aggregates
(`scripts/database/init/create.sql:105-223`) is

    SELECT time_bucket(Δ, time), exchange, base_id, quote_id,
           first(open, time), max(high), min(low), last(close, time),
           sum(volume)
    GROUP BY exchange, base_id, quote_id, bucket

Spark-first expression: one ``groupBy(bucket, *keys).agg(...)`` where
Timescale's ordered aggregates ``first/last(value, time)`` are Spark's
built-in ``min_by``/``max_by`` — zero UDFs (SURVEY §2.10). Tie-breaking on
equal timestamps is undefined in Timescale (internal heap order); we make it
deterministic by ordering on ``struct(time, row_id)`` (SURVEY §4 item 2).

Scale posture: this is a single hash aggregation keyed on
(symbol, bucket) — partial (map-side) aggregation combines within each input
partition before the one unavoidable shuffle, so shuffled bytes scale with
the number of *groups*, not rows (minute-level input → Δ-level output). With
storage partitioned by date, partition pruning bounds any time-windowed
rollup to the touched days. There is no window function and no global sort
here — the plan is identical at sf0.001 and at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.numbers import MONEY, money
from ..functions.timeutils import time_bucket


def _ohlcv_agg_sql(price: str, volume: str, order: str) -> list[tuple[str, str]]:
    """THE OHLCV aggregates over the SQL expressions ``price``, ``volume``
    and ``order`` (what open/close argmin/argmax order on), as (output
    name, Spark SQL) pairs — the single definition behind the batch rollup
    (below), the streaming rollup (streaming.rollup) and the chart reader's
    prepared statements (plans.reader), so backfill, incremental refresh
    and on-the-fly reads can never disagree on candle semantics (the
    reference gets the same guarantee from one SQL view definition,
    `create.sql:105-118`)."""
    return [
        ("open", f"min_by({price}, {order})"),
        ("high", f"max({price})"),
        ("low", f"min({price})"),
        ("close", f"max_by({price}, {order})"),
        ("volume", f"CAST(sum(CAST({volume} AS {MONEY})) AS DOUBLE)"),
        ("n_trades", "count(1)"),
    ]


def ohlcv_aggs(
    time_col: str = "ts",
    price_col: str = "price",
    volume_col: str = "volume",
    order: str | None = None,
) -> list[Column]:
    """The OHLCV aggregates over the named columns, as aliased Columns;
    ``order`` is SQL text (default: the time column). Guarded by
    tests/test_plans.py."""
    pairs = _ohlcv_agg_sql(f"`{price_col}`", f"`{volume_col}`", order or f"`{time_col}`")
    return [F.expr(sql).alias(name) for name, sql in pairs]


#: the OHLCV aggregates over ``price``, ``volume`` and ``ts``, as a Spark
#: SQL select list for the chart reader's prepared statements
OHLCV_AGGS_SQL = ", ".join(
    f"{sql} AS {name}" for name, sql in _ohlcv_agg_sql("price", "volume", "ts")
)


def ohlcv_rollup(
    df: DataFrame,
    interval: str,
    keys: list[str] = ("symbol",),
    time_col: str = "ts",
    price_col: str = "price",
    volume_col: str = "volume",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """OHLCV candles at ``interval`` per key.

    Output: bucket, *keys, open, high, low, close (doubles), volume
    (decimal-summed then double — see functions.numbers), n_trades.

    ``tiebreak_col`` makes the ordered aggregates deterministic when two
    rows share a timestamp (SURVEY §4 item 2); the driver's testdata has no
    per-key timestamp ties (verified at every sf), so the default orders on
    time alone, which also matches DuckDB's two-argument ``arg_min/arg_max``.
    """
    order = (
        f"struct(`{time_col}`, `{tiebreak_col}`)"
        if tiebreak_col and tiebreak_col in df.columns
        else None
    )
    return df.groupBy(time_bucket(time_col, interval).alias("bucket"), *keys).agg(
        *ohlcv_aggs(time_col, price_col, volume_col, order=order)
    )


def coarse_candle_aggs(order_col) -> list:
    """THE fine→coarse candle aggregate list, shared by the per-resolution
    cascade and the fused multi-resolution cascade (same discipline as
    ``ohlcv_aggs``: one definition, so the two paths the tests equate can
    never silently diverge). ``order_col`` is the fine-bucket column the
    open/close argmin/argmax order on."""
    return [
        F.min_by("open", order_col).alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.max_by("close", order_col).alias("close"),
        F.sum(money("volume")).cast("double").alias("volume"),
        F.sum("n_trades").alias("n_trades"),
    ]


def cascade_rollup(
    candles: DataFrame,
    coarse_interval: str,
    keys: list[str] = ("symbol",),
) -> DataFrame:
    """Roll already-bucketed candles up to a coarser resolution.

    Exactly equals ``ohlcv_rollup(ticks, coarse_interval)`` whenever the
    coarse width is a multiple of the fine width (bucket nesting — proven as
    a property in tests/test_properties.py): open = open of the earliest
    fine bucket, close = close of the latest, high/low = max/min, volume and
    n_trades sum. Volume re-enters the decimal accumulator (fine volumes
    carry ≤2 decimals) so the cascade stays bit-exact.

    Scale: this is THE way to maintain the 8-resolution family at 100 TB —
    each step consumes the previous resolution's output (~60× fewer rows
    5m→1h, 24× 1h→1D) instead of rescanning raw ticks; same plan shape
    (one hash agg, one shuffle), input orders of magnitude smaller.
    """
    b = time_bucket("bucket", coarse_interval).alias("bucket")
    return candles.groupBy(b, *keys).agg(
        *coarse_candle_aggs(F.col("bucket"))
    )


def cascade_rollup_multi(
    candles: DataFrame,
    intervals: list[str],
    keys: list[str] = ("symbol",),
) -> DataFrame:
    """Every ``intervals`` resolution cascaded from one fine-candle relation
    in a SINGLE shuffle, tagged by a ``resolution`` column.

    ``cascade_rollup`` per resolution is correct but costs one shuffle
    barrier each — at 11 resolutions that is ~22 stages of fixed scheduling
    overhead around tiny aggregations. This fuses the fan-out: each fine
    candle explodes into |intervals| (resolution, coarse_bucket) assignments
    (executor-side, inside the scan stage), then ONE hash aggregation keyed
    on (resolution, bucket, *keys) builds the whole family. Shuffled bytes
    are Σ_Δ |groups(Δ)| ≈ |intervals| × |fine groups| — the same total the
    per-resolution cascades shuffle, with one exchange instead of ten, and
    partial aggregation still combines map-side. Exactness argument is the
    per-pair bucket nesting of ``cascade_rollup``, unchanged; an interval
    equal to the fine resolution degrades to an exact identity re-group.
    """
    meta = ["open", "high", "low", "close", "volume", "n_trades"]
    rc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(iv).alias("resolution"),
                    time_bucket("bucket", iv).alias("cbucket"),
                )
                for iv in intervals
            ]
        )
    )
    exploded = candles.select(
        *keys, F.col("bucket").alias("_fine"), *meta, rc.alias("_rc")
    ).select(
        *keys,
        F.col("_rc.resolution").alias("resolution"),
        F.col("_rc.cbucket").alias("bucket"),
        "_fine",
        *meta,
    )
    return exploded.groupBy("resolution", "bucket", *keys).agg(
        *coarse_candle_aggs(F.col("_fine"))
    )

