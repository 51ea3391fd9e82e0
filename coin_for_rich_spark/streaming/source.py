"""Deterministic streaming sources for tests and local replay.

The reference's live source is three exchange WebSocket feeds normalized to
one candle schema (`fetchers/ws/bitfinex.py:110-229` et al., S3). In this
engine the source is any Structured Streaming reader producing that schema
(Kafka in production, file streams in tests); everything downstream is
source-agnostic.

``stage_stream_chunks`` turns a batch DataFrame into an N-file parquet
directory ordered by event time (range partitioning → part-file order ==
time order), so a file stream with ``maxFilesPerTrigger=1`` replays it as N
micro-batches in near-arrival order — the closest deterministic analog of
the reference's 10-second updater drain cycle (`fetchers/ws/updater.py:29`).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.numbers import round_wire


def stage_stream_chunks(df: DataFrame, path: str, n_chunks: int = 8) -> T.StructType:
    """Write ``df`` as ``n_chunks`` time-ordered parquet files under ``path``
    and return the schema (file streams require an explicit schema).

    The file source replays files in *modification-time* order, and a single
    parquet write stamps every part file with the same mtime — leaving the
    replay order arbitrary, which would advance the watermark past
    later-arriving older chunks and drop them as late. Re-stamp the part
    files with strictly increasing mtimes in range-partition (= event-time)
    order so replay follows event time.
    """
    (
        df.repartitionByRange(n_chunks, F.col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite")
        .parquet(path)
    )
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
    )
    base = os.stat(path).st_mtime
    for i, name in enumerate(parts):
        full = os.path.join(path, name)
        os.utime(full, (base + 10.0 * (i + 1), base + 10.0 * (i + 1)))
    return df.schema


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def candle_stream(stream: DataFrame) -> DataFrame:
    """Normalize an events-shaped stream to the candle schema — the SAME
    projection as sources.tables.candles_view (imported, not copied, so the
    batch views and the streaming legs can never silently diverge)."""
    from ..sources.tables import candle_projection

    return stream.select(*candle_projection())


WIRE_SEP = ";;"
# the five value fields after the event time, in wire order
_WIRE_VALUES = ("open", "high", "low", "close", "volume")


def format_wire_candles(df: DataFrame, ts_unit: str = "ms") -> DataFrame:
    """Inverse of ``parse_wire_candles``: serialize ``ts``/``open``/``high``/
    ``low``/``close``/``volume`` to the ``"t;;o;;h;;l;;c;;v"`` staging wire
    string in ``wire``, next to ``symbol`` (what the reference's WS
    fetchers write to Redis before the updater drains it). Doubles go
    through Spark's cast-to-string (shortest round-trip representation), so
    ``parse(format(x)) == x`` exactly; with ``ts_unit="us"`` the event time
    round-trips at full microsecond precision too. Pure projection —
    batch- and streaming-safe.

    NULL fields serialize as an explicit empty token (``concat_ws`` would
    otherwise silently SKIP them, emitting a short-arity string that parses
    as the wrong fields): arity is always 6, and the parse side
    dead-letters the row — a null-field candle surfaces in the dead-letter
    relation with its full wire string instead of vanishing or shifting
    columns."""
    ts_of = {"ms": F.unix_millis, "us": F.unix_micros}[ts_unit]
    fields = [ts_of(F.col("ts"))] + [F.col(c) for c in _WIRE_VALUES]
    pieces = [F.coalesce(f.cast("string"), F.lit("")) for f in fields]
    return df.select("symbol", F.concat_ws(WIRE_SEP, *pieces).alias("wire"))


def parse_wire_candles(
    df: DataFrame, ts_unit: str = "ms", round_decimals: int | None = None
):
    """Parse the reference's Redis staging wire format —
    ``"t;;o;;h;;l;;c;;v"`` strings (`fetchers/ws/bitfinex.py:176-201`,
    key formats `fetchers/config/constants.py:29-44`) — into typed candle
    columns, splitting malformed rows to a dead-letter relation instead of
    failing the stream (the ohlcvs_errors pattern applied to the wire hop).

    ``ts_unit`` selects the epoch resolution of field 1: ``"ms"`` (the
    reference's exchange-candle stamps) or ``"us"`` (lossless for
    microsecond-precision event time — a ms hop would silently truncate).

    Returns ``(parsed, dead_letters)``: parsed has symbol/ts/open/high/low/
    close/volume; dead_letters has ``symbol`` + the raw ``wire`` string.
    All parsing is ``try_cast`` column algebra — ANSI-safe (a bad field
    yields NULL, never an exception), streaming-safe (pure projection), and
    the same expressions work on a batch backfill of a dumped staging hash.

    ``round_decimals`` applies the reference updater's ingest rounding
    (`fetchers/ws/updater.py:84-88`: ``round_decimal(field, NUM_DECIMALS)``
    with ``NUM_DECIMALS = 4``, `fetchers/config/constants.py:51`) to the
    five value fields — the wire field is a string, so the reference
    rounds the exact decimal it spells, half-even; ``round_wire``
    reproduces that bit-for-bit. Default ``None`` keeps the engine's own
    lossless round-trip contract (``parse(format(x)) == x``); pass ``4``
    for reference-faithful ingest. When set, values outside
    ``decimal(38,18)`` — in magnitude (1e20+) OR in precision (>18
    significant fractional digits, where the decimal cast's half-up tail
    rounding could silently flip the half-even decision) — dead-letter
    instead of parsing (the reference's unbounded Decimal accepts them; a
    1e20 price is not a candle, and a one-tick silent divergence is worse
    than a dead letter).
    """
    ts_of = {"ms": F.timestamp_millis, "us": F.timestamp_micros}[ts_unit]
    parts = F.split(F.col("wire"), WIRE_SEP)

    def val(x: Column) -> Column:
        if round_decimals is None:
            return x.try_cast("double")
        return round_wire(x, round_decimals)

    # The five value fields parse through ONE array `transform`: the value
    # expression (nontrivial when `round_decimals` brings in round_wire's
    # guard tree) appears in the plan exactly once as a lambda body, not
    # five times — and because `transform` is not collapse-cheap, Catalyst
    # keeps the `_vals` projection instead of inlining a copy per consumer.
    # The r9 per-field formulation instantiated the tree 10× (5 columns +
    # the dead-letter predicate re-deriving each) and DOUBLED the streaming
    # parse — per-MICRO-BATCH plan compile/codegen scales with tree size,
    # and at a production tick cadence that compile tax is paid every few
    # seconds, forever. Per-row arithmetic was never the cost (measured
    # equal in batch).
    #
    # try_element_at / slice, NOT element_at: under ANSI (Spark 4 default)
    # a bare element_at on a short-arity row RAISES, and the dead-letter
    # guarantee would rest on the optimizer happening to evaluate the
    # size()==6 conjunct first — try_* makes the NULL contract structural
    # (slice of a short array just yields a shorter array; the arity
    # conjunct in _ok catches it).
    vals = F.transform(F.slice(parts, 2, 5), val)
    ts = ts_of(F.try_element_at(parts, F.lit(1)).try_cast("bigint"))
    shaped = df.select(
        "symbol",
        "wire",
        ts.alias("ts"),
        vals.alias("_vals"),
        F.size(parts).alias("_arity"),
    ).withColumn(
        "_ok",
        # coalesce(False): a NULL wire string makes every conjunct NULL,
        # and a NULL predicate fails BOTH filter legs — the row would
        # vanish from parsed AND dead letters, violating the "malformed
        # rows never disappear" contract on raw batch backfills
        F.coalesce(
            (F.col("_arity") == 6)
            & F.col("ts").isNotNull()
            & ~F.exists("_vals", lambda x: x.isNull()),
            F.lit(False),
        ),
    )
    parsed = shaped.filter("_ok").select(
        "symbol",
        "ts",
        *[F.try_element_at("_vals", F.lit(i + 1)).alias(n)
          for i, n in enumerate(_WIRE_VALUES)],
    )
    dead = shaped.filter(~F.col("_ok")).select("symbol", "wire")
    return parsed, dead
