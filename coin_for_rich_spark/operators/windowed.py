"""Sliding-frame window aggregates (W5).

Reference parity: the 7-day moving average of close over the 1-minute
relation — ``AVG(close) OVER (PARTITION BY exchange, base_id, quote_id
ORDER BY time ROWS BETWEEN 10079 PRECEDING AND CURRENT ROW)``
(`schemas/aggregations.sql:26-39`).

Numeric posture: a windowed double AVG is summed in engine-specific order
(DuckDB uses a segment tree for sliding frames, Spark a running frame
accumulator), so bit-exact parity requires the same decimal routing as the
grouped sums — exact decimal sliding SUM, then one double division by the
frame COUNT.

Scale posture: partitioned window, ordered within key only — parallel across
keys, no global sort, state bounded by the frame width. The streaming analog
at 100 TB is a windowed aggregate over the rollup sink rather than raw ticks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numbers import money


def sessionize(
    df: DataFrame,
    keys: list[str],
    time_col: str = "ts",
    gap_seconds: int = 3600,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: consecutive events of a key belong to one
    session until a silence longer than ``gap_seconds``; emits per-session
    summary rows (start/end/n_events/duration).

    The classic two-window composition (the same LAG family as W1's gap
    detection, `schemas/queries.py:54-61`, promoted from *detecting* gaps to
    *segmenting* by them): LAG marks session starts, a running SUM of the
    start flags numbers the sessions, then one hash-agg per (key, session).
    Batch twin of Structured Streaming's ``session_window`` aggregate.

    Scale: both windows partition by key and order by time — parallel across
    keys, no global sort; the final aggregate shuffles on (key, session_id)
    which the window pass already co-located, so AQE collapses it to a
    local aggregation.
    """
    order = [F.col(time_col)] + ([F.col(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    prev = F.lag(time_col).over(w)
    is_start = F.when(
        prev.isNull()
        | (
            F.to_unix_timestamp(F.col(time_col)) - F.to_unix_timestamp(prev)
            > gap_seconds
        ),
        1,
    ).otherwise(0)
    # the tiebreak column must survive the intermediate projection — the
    # running-sum window orders by it, and dropping it made the documented
    # determinism parameter an unresolved-column AnalysisException
    carry = [F.col(tiebreak_col)] if tiebreak_col else []
    numbered = df.select(
        *keys,
        F.col(time_col),
        *carry,
        is_start.alias("_new"),
    ).select(
        *keys,
        F.col(time_col),
        F.sum("_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return numbered.groupBy(*keys, "session_id").agg(*session_aggs(time_col))


def session_aggs(time_col: str) -> list:
    """THE per-session summary aggregates — one definition shared by the
    batch LAG-based ``sessionize`` and the streaming ``session_window``
    twin (`streaming/sessions.py`), same discipline as ``ohlcv_aggs``:
    imported, not copied, so the two modes can never silently diverge."""
    return [
        F.min(time_col).alias("session_start"),
        F.max(time_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (
            F.to_unix_timestamp(F.max(time_col))
            - F.to_unix_timestamp(F.min(time_col))
        ).alias("duration_seconds"),
    ]


def moving_average(
    df: DataFrame,
    keys: list[str],
    time_col: str,
    value_col: str,
    n_preceding: int,
    out_col: str = "moving_avg",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key trailing moving average over the last ``n_preceding + 1`` rows.

    ``tiebreak_col`` pins the within-frame order when timestamps tie (frame
    membership would otherwise be nondeterministic at the edges).
    """
    order = [F.col(time_col)]
    if tiebreak_col and tiebreak_col in df.columns:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(-n_preceding, Window.currentRow)
    )
    return df.withColumn(
        out_col,
        # count(value), not count(*): SQL AVG ignores NULL values — the
        # reference's AVG(...) OVER frame (aggregations.sql) divides by the
        # non-NULL count, and operators.gapfill.gap_fill_sql already
        # follows that rule
        F.sum(money(value_col)).over(w).cast("double")
        / F.count(F.col(value_col)).over(w),
    )


def topn_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list,
    n: int,
    salted: bool = False,
) -> DataFrame:
    """Top-``n`` rows per key by ``order_by`` (list of Column sort exprs —
    include a tiebreak for determinism).

    ``salted=False`` is the plain per-key ``row_number`` window: every row of
    a key sorts in ONE task — correct, and the skew trap when one key holds
    a large corpus fraction.

    ``salted=True`` is the two-phase skew remedy the as-of/window docstrings
    point at, made concrete: phase 1 takes a LOCAL top-n per
    (key, input-partition) — ``spark_partition_id()`` is the salt, so a hot
    key's rows sort in as many tasks as the scan gave it, each emitting ≤ n
    survivors — and phase 2 runs the exact per-key window over ≤ n×P
    survivors. Results are identical (top-n of a union is the top-n of
    per-part top-n's); wall-clock on a skewed key drops from one giant sort
    to P small ones + one tiny one.
    """
    final_w = Window.partitionBy(*keys).orderBy(*order_by)
    if salted:
        pre_w = Window.partitionBy(*keys, "_salt").orderBy(*order_by)
        df = (
            df.withColumn("_salt", F.spark_partition_id())
            .withColumn("_rn", F.row_number().over(pre_w))
            .filter(F.col("_rn") <= n)
            .drop("_rn", "_salt")
        )
    return (
        df.withColumn("_rn", F.row_number().over(final_w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )
