"""Loaders for the driver's parquet testdata.

The driver's star schema stands in for the reference's data model
(FIXTURES.md §6): `events` plays the role of the `ohlcvs` tick/candle fact
stream (`scripts/database/init/create.sql:12-22` in the reference), small dims
play `symbol_exchange` (`create.sql:24-30`).

Scale posture: at 100 TB these reads become partitioned-directory scans
(`.../dt=2024-01-01/*.parquet`); everything downstream only assumes a
DataFrame with the right schema, so swapping the loader for a partitioned /
bucketed table is a one-line change. Filters and projections are declared on
the returned DataFrame, so Catalyst pushes them into the parquet scan
(PushedFilters / ReadSchema) — no eager materialization here.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Declared event-time columns, normalized to TimestampType regardless of the
# physical parquet encoding. The generator has changed shape between rounds
# (nanosecond INT64 → timestamp[us] with isAdjustedToUTC=false), so the loader
# adapts by CONTRACT: whatever physical type arrives, downstream code sees
# TIMESTAMP (with local tz) — the only type `withWatermark` accepts.
#   - LongType (nanos via nanosAsLong): integer `div 1000` — a double division
#     loses sub-microsecond precision at 1.7e18 ns and would drift from
#     DuckDB's exact nanos→micros truncation.
#   - TimestampNTZType (µs, no UTC flag): cast to "timestamp". load_table
#     pins the session tz to UTC itself, so the wall-clock values — and
#     therefore every oracle hash — are unchanged on any caller's session.
#   - TimestampType: already canonical.
_TIME_COLS: dict[str, list[str]] = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with the engine's loader contract applied.

    CONTRACT NOTE — session side effect, deliberate: this call pins
    ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` on the caller's session, and the tz
    pin is persistent BY DESIGN (the normalization casts evaluate lazily,
    at job time, so a restore-after-load would re-break them). UTC is the
    engine-wide semantic: every oracle hash, serve payload, and bucket
    boundary assumes it. A caller that needs a non-UTC session for its own
    data should use a separate SparkSession rather than re-pointing this
    one after loading engine tables.
    """
    # Self-sufficient on a vanilla SparkSession: nanos-INT64 testdata is
    # rejected at scan time unless nanosAsLong is on, and the µs-NTZ
    # normalization below (cast to "timestamp") reads the session timezone —
    # on a non-UTC session it would shift NTZ instants by the local offset
    # relative to the epoch-based nanos-long path, silently breaking the
    # cross-encoding "identical wall-clock values" contract. Both confs are
    # runtime-settable, so pin them here rather than relying on the session
    # builder (session.py) having run.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 — conf introspection is best-effort
        prev_tz = None
    if prev_tz is not None and prev_tz not in ("UTC", "Etc/UTC", "GMT", "Z"):
        # the pin below is a documented contract, but a caller mixing
        # non-engine workloads into this session should DISCOVER the
        # contract, not silently inherit UTC semantics
        warnings.warn(
            "load_table pins spark.sql.session.timeZone=UTC on this session "
            f"(was {prev_tz!r}); use a separate SparkSession for workloads "
            "that need a non-UTC session timezone",
            stacklevel=2,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TIME_COLS.get(name, []):
        if col in df.columns:
            df = df.withColumn(col, _to_event_time(df.schema[col].dataType, col))
    return df


def _to_event_time(dt: T.DataType, col: str):
    """Normalize one physical time encoding to TimestampType (see _TIME_COLS)."""
    if isinstance(dt, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    if isinstance(dt, T.TimestampNTZType):
        return F.col(col).cast("timestamp")
    if isinstance(dt, T.TimestampType):
        return F.col(col)
    raise TypeError(
        f"unsupported physical type for event-time column {col!r}: {dt}"
    )


def candles_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`events` normalized to the candle-stream shape the reference's fetchers
    emit (`fetchers/helpers/ws.py:6-17`): a key (symbol), an event time, and a
    price/volume measure. `event_type` stands in for the
    (exchange, base_id, quote_id) key triple; `value` is both trade price and
    per-tick volume.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(*candle_projection())


def candle_projection() -> list:
    """The ONE events→candles column mapping, shared by the batch view and
    streaming.source.candle_stream — one definition, two execution modes,
    so batch-vs-streaming equivalence can never drift on the projection."""
    return [
        F.col("event_id"),
        F.col("ts"),
        F.col("event_type").alias("symbol"),
        F.col("user_id"),
        F.col("value").alias("price"),
        F.col("value").alias("volume"),
    ]
