"""Partitioned table store: the hypertable analog (§1.2).

Reference parity: `SELECT create_hypertable('ohlcvs', 'time')`
(`scripts/database/init/create.sql:87`) chunk-partitions the fact table on
time; secondary indexes (`create.sql:76-78`) provide (key, time) access
paths. The Spark-native equivalent is columnar Parquet **partitioned by a
derived date column**: partition pruning replaces chunk exclusion, Parquet
min/max row-group statistics replace the b-trees, and column pruning comes
free.

Every time-predicate query on a table written this way scans only the
touched days — at 100 TB, a one-week chart read touches 7 partitions no
matter how many years of history exist. Writers bucket rows into their day
inside the normal shuffle; no driver-side loop, no global sort.

``materialize_rollups`` is the continuous-aggregate sink: each resolution's
candles land in their own partitioned table, which the interval router
(plans.reader) can then serve without rescanning raw ticks — the exact
relationship between the reference's `ohlcvs` and its 8 rollup views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.candles import ohlcv_rollup

PARTITION_COL = "dt"


def utc_day(col) -> F.Column:
    """The UTC calendar day of a timestamp, independent of the SESSION
    timezone: epoch seconds floor-div 86400 → DATE. ``to_date`` would cut
    the day in the session zone — a writer running outside the engine's
    UTC pin (load_table enforces it, but nothing forces a store writer
    through load_table) would bake a shifted layout that a UTC reader's
    partition predicate then silently prunes matching rows out of."""
    return F.date_from_unix_date(
        F.floor(F.unix_timestamp(col) / F.lit(86400)).cast("int")
    )


def utc_day_sql(ts: str) -> str:
    """:func:`utc_day` as Spark SQL text over the SQL expression ``ts``
    (pinned equal to it in tests/test_store.py)."""
    return f"date_from_unix_date(CAST(floor(unix_timestamp({ts}) / 86400) AS INT))"


def write_partitioned(
    df: DataFrame,
    path: str,
    time_col: str = "ts",
    mode: str = "overwrite",
    coalesce_days: bool = False,
    truncate: bool = False,
) -> None:
    """Write ``df`` date-partitioned on ``time_col``'s UTC day.

    ``coalesce_days=True`` shuffles rows to their day before the write so
    each day directory gets one file instead of one-per-task — right for
    *rollup* sinks (a day of candles is small; without it a 32-task write
    creates 32 tiny files per day and file-open overhead dominates every
    subsequent read). Leave it off for raw fact writes, where a hot day must
    stay spread across many tasks/files.

    ``mode='overwrite'`` (default) uses DYNAMIC partition overwrite: only
    the day partitions present in ``df`` are replaced — Spark's default
    static overwrite would wipe the WHOLE table on an incremental
    single-day write, deleting every prior day with no warning. That makes
    the default **incremental-only**: a full rebuild over the same path
    leaves any day partition absent from the new data in place (e.g. after
    a bucketing-semantics change that shifts which days rollup rows land
    in). Pass ``truncate=True`` for a full rebuild — the whole table is
    replaced (static overwrite), so no stale partition survives.
    """
    out = df.withColumn(PARTITION_COL, utc_day(F.col(time_col)))
    if coalesce_days:
        out = out.repartition(F.col(PARTITION_COL))
    writer = out.write.mode(mode)
    if not truncate:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    else:
        writer = writer.option("partitionOverwriteMode", "static")
    writer.partitionBy(PARTITION_COL).parquet(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    """Read a partitioned table; time predicates prune via ``dt``.

    Callers filter on the *time column* as usual plus (optionally) ``dt`` —
    ``prune_time_range`` derives the partition predicate from a time range
    so callers never have to think about the layout.
    """
    return spark.read.parquet(path)


def time_range_sql(time_col: str, start: bool, end: bool) -> str:
    """The SQL predicate for ``:start <= time_col <= :end`` (each side only
    when asked for) AND its derived partition predicate on ``dt``, with
    ``:start``/``:end`` left as named parameter markers.

    The redundant ``dt`` bounds are what the scan planner prunes on —
    Catalyst cannot infer them from the ``time_col`` bounds because ``dt``
    is a stored column, not an expression, once the table is on disk.
    """
    bounds = []
    if start:
        bounds += [f"`{time_col}` >= :start",
                   f"{PARTITION_COL} >= {utc_day_sql('CAST(:start AS TIMESTAMP)')}"]
    if end:
        bounds += [f"`{time_col}` <= :end",
                   f"{PARTITION_COL} <= {utc_day_sql('CAST(:end AS TIMESTAMP)')}"]
    return " AND ".join(bounds)


def prune_time_range(df: DataFrame, time_col: str, start=None, end=None) -> DataFrame:
    """Apply a time-range filter AND its derived partition predicate, as
    one predicate (:func:`time_range_sql`)."""
    if start is None and end is None:
        return df
    pred = time_range_sql(time_col, start is not None, end is not None)
    return df.sparkSession.sql(
        f"SELECT * FROM {{df}} WHERE {pred}", args={"start": start, "end": end}, df=df
    )


def materialize_rollups(
    ticks: DataFrame,
    base_path: str,
    intervals: tuple[str, ...] = ("5m", "15m", "30m", "1h", "6h", "12h", "1D", "7D"),
) -> dict[str, str]:
    """Write the rollup family to per-resolution partitioned sink tables
    (the 8 continuous aggregates, `create.sql:105-223`); returns
    interval → path. Batch backfill counterpart of streaming.rollup.

    This is a FULL REBUILD from ``ticks``: each sink table is truncated
    (static overwrite), so a re-run over the same path after a semantics
    change (e.g. the 7D Monday-origin fix) cannot leave stale partitions
    from the old layout serving conflicting candles. Incremental
    single-day refreshes should call ``write_partitioned`` directly with
    its default dynamic-overwrite mode.

    The 8 resolutions are independent jobs over the same input, so they are
    submitted concurrently from driver threads — Spark's scheduler
    interleaves their stages across the cluster instead of paying 8× the
    per-job latency serially (FAIR/FIFO both fine; the jobs don't contend on
    state)."""
    from concurrent.futures import ThreadPoolExecutor

    family = {iv: ohlcv_rollup(ticks, iv) for iv in intervals}

    def _write(item: tuple[str, DataFrame]) -> tuple[str, str]:
        interval, rolled = item
        p = f"{base_path}/candles_{interval}"
        write_partitioned(
            rolled, p, time_col="bucket", coalesce_days=True, truncate=True
        )
        return interval, p

    if not family:
        return {}  # empty interval list: no work, not a ThreadPool error
    with ThreadPoolExecutor(max_workers=len(family)) as pool:
        return dict(pool.map(_write, family.items()))


def load_rollups(spark: SparkSession, paths: dict[str, str]) -> dict[str, DataFrame]:
    """Reload materialized rollups for the interval router (plans.reader).

    ``dt`` is KEPT: dropping it here would make every routed read scan the
    rollup's full history — Catalyst cannot derive the partition predicate
    from ``bucket`` bounds once ``dt`` is projected away. The reader
    applies the derived ``dt`` bounds and drops the column from its
    output (plans/reader.read_ohlcvs)."""
    return {iv: read_partitioned(spark, p) for iv, p in paths.items()}
