"""The reference's four analytics materialized views, Spark-first.

- ``common_basequote_30`` (`scripts/database/init/create.sql:94-99`)
- ``top_20_quoted_vol``  (`create.sql:280-316`)
- ``weekly_return``      (`create.sql:318-337`)
- ``geo_daily_return``   (`create.sql:225-278`)

Each is a pure DataFrame plan; "materialized view refresh" is just writing
the plan's result to a sink table (see plans/maintenance notes), so the same
definitions serve batch recompute and scheduled refresh.

Scale posture notes per operator are inline. The common theme: aggregate
FIRST (shrinking to ~|keys| rows), and only then apply any global ordering —
``row_number`` over an unpartitioned window is fine on a post-aggregation
relation of thousands of rows, and never applied to the raw fact table
(SURVEY §7 "100 TB posture").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark.sql import types as T

from ..functions.numbers import money, money4
from .candles import ohlcv_rollup


def common_keys_top30(
    df: DataFrame,
    key_col: str = "l_partkey",
    across_col: str = "l_suppkey",
    min_across: int = 2,
    top_n: int = 30,
) -> DataFrame:
    """Keys present across more than ``min_across`` counterparties, first
    ``top_n`` in key order.

    Parity: ``common_basequote_30`` — (base, quote) pairs listed on > 2
    exchanges, ORDER BY keys LIMIT 30 (`create.sql:94-99`).

    Scale: groupBy + count-distinct is two hash aggregations (partial
    distinct then count) — no sort of the fact table; the ORDER BY runs on
    the already-aggregated key list.
    """
    return (
        df.groupBy(key_col)
        .agg(F.countDistinct(across_col).alias("n_across"))
        .filter(F.col("n_across") > min_across)
        .orderBy(key_col)
        .limit(top_n)
    )


def top_k_with_other(
    df: DataFrame,
    key_col: str,
    measure_col: str,
    k: int = 20,
    label_prefix: str = "P-",
) -> DataFrame:
    """Top-K keys by summed measure; everything below rank K collapses into
    an 'Other' bucket; re-aggregated per label.

    Parity: ``top_20_quoted_vol`` — SUM(close*volume) per pair, ROW_NUMBER
    ranking, rank > 20 → 'Other', second aggregation, ROUND(...,4)
    (`create.sql:280-316`, ops A5/A6/W4 in SURVEY §2).

    Scale: the expensive part is the first aggregation (hash agg, one
    shuffle on key). The winner set is then found with the two-phase salted
    top-N (``topn_per_key`` with no keys, ``salted=True``): each partition of
    the aggregated relation emits its local top-K, and only ≤ K×P survivors
    meet the global ranking — so no unpartitioned ``row_number`` ever sorts
    the full key universe in one task (at 100 TB the distinct-key relation
    can itself be large). Keys outside the winner set collapse into 'Other'
    via a broadcast membership probe — identical results to the global-rank
    formulation (top-K of a union is the top-K of per-partition top-Ks),
    deterministic tie-break on key.
    """
    from .windowed import topn_per_key

    measure = (
        F.col(measure_col)
        if isinstance(df.schema[measure_col].dataType, T.DecimalType)
        else money4(measure_col)
    )  # scale-4 fallback: a computed product (close*volume) at scale 2
    # sits on double rounding ties (numbers.MONEY4 contract) and can flip
    # membership near rank k vs the NUMERIC oracle
    per_key = df.groupBy(key_col).agg(F.sum(measure).alias("_vol_dec"))
    winners = topn_per_key(
        per_key, [], [F.col("_vol_dec").desc(), F.col(key_col)], n=k, salted=True
    ).select(key_col, F.lit(True).alias("_top"))
    labeled = per_key.join(F.broadcast(winners), key_col, "left").withColumn(
        "bucket_label",
        F.when(F.col("_top").isNull(), F.lit("Other")).otherwise(
            F.concat(F.lit(label_prefix), F.col(key_col).cast("string"))
        ),
    )
    return (
        labeled.groupBy("bucket_label")
        .agg(F.round(F.sum("_vol_dec"), 4).cast("double").alias("total_vol"))
        .orderBy(F.col("total_vol").desc(), F.col("bucket_label"))
    )


def weekly_return(
    df: DataFrame,
    keys: list[str] = ("symbol",),
    time_col: str = "ts",
    price_col: str = "price",
    now=None,
    **rollup_kwargs,
) -> DataFrame:
    """% return of each key's latest week: ROUND((close-open)/open*100, 4).

    Parity: ``weekly_return`` (`create.sql:318-337`) — the source rows are
    FIRST windowed to ``time >= CURRENT_DATE - interval '1 week'``
    (`create.sql:327`, ``now`` parameterizes CURRENT_DATE as max(time) for
    determinism), THEN rolled up at 1 week (A1), DISTINCT ON (keys) ...
    ORDER BY bucket DESC keeps the latest week (W6, emulated with
    row_number over a per-key window), then the return arithmetic (A9).
    Guard ``open <> 0`` per `create.sql:334-335`.

    The window-before-bucket order is semantic, not cosmetic: a key whose
    last data predates the window disappears entirely (the reference never
    reports stale keys), and a second-to-latest week straddling the cutoff
    would open at the first row INSIDE the window, not the true week open —
    both behaviors pinned against the reference's own SQL on live
    PostgreSQL in tests/test_reference_sql_parity.
    """
    if now is None:
        now = df.select(F.max(time_col)).first()[0]
    cutoff = F.date_sub(F.lit(now).cast("timestamp").cast("date"), 7)
    windowed = df.filter(F.col(time_col) >= cutoff.cast("timestamp"))
    weekly = ohlcv_rollup(windowed, "7D", keys=list(keys), time_col=time_col,
                          price_col=price_col, **rollup_kwargs)
    w = Window.partitionBy(*keys).orderBy(F.col("bucket").desc())
    latest = weekly.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        latest.filter(F.col("open") != 0)
        .select(
            *keys,
            F.col("bucket").alias("week"),
            F.round((F.col("close") - F.col("open")) / F.col("open") * 100, 4).alias(
                "weekly_return_pct"
            ),
        )
    )


def geo_daily_return(
    df: DataFrame,
    keys: list[str] = ("symbol",),
    time_col: str = "ts",
    price_col: str = "price",
    lookback_days: int = 8,
    now=None,
    **rollup_kwargs,
) -> DataFrame:
    """Geometric-mean daily return over the last ``lookback_days`` per key:
    ``(POWER(EXP(SUM(ln(close/prev_close))), 1/COUNT(*)) - 1) * 100``.

    Parity: ``geo_daily_return`` (`create.sql:225-278`) — daily rollup,
    per-gap LEAD-bounded forward fill of close (the ``close_filled`` CTE,
    `create.sql:227-244`, W2), LAG(close)
    per key (W3), ln of the daily factor, geometric mean (A4),
    CURRENT_DATE-relative window (`create.sql:241`) parameterized by ``now``
    so results are deterministic (SURVEY §7 M0). A gap day carries the
    previous close forward, so its factor is ln(1)=0 — it dilutes the
    geometric mean (larger n) without adding return, exactly the reference's
    semantics; a factor never spans a gap. The fill DROPS each key's final
    daily bucket: PostgreSQL's select-list SRF
    semantics eliminate the LEAD-is-NULL row from the reference's
    ``close_filled`` CTE, so the most recent day's return is never counted
    — reproduced deliberately and pinned against the reference's own SQL
    (tests/test_reference_sql_parity).

    Zero-guards per `create.sql:242,275`: close <> 0 before the fill (so a
    forward-filled prev_close is never 0) and factor rows with NULL ln
    dropped.
    """
    if now is None:
        now = df.select(F.max(time_col)).first()[0]
    cutoff = F.date_sub(F.lit(now).cast("timestamp").cast("date"), lookback_days)
    # the cutoff is a midnight instant and 1D buckets are midnight floors
    # (the bucket origin is phase-neutral for day widths), so
    # ``bucket >= cutoff ⟺ ts >= cutoff`` EXACTLY — apply the window to the
    # ticks, where the constant-folded literal pushes to the parquet scan,
    # instead of rolling up the entire history and filtering the derived
    # bucket (guide §6; same move as reader._aligned_tick_bounds, pinned
    # equivalent there for every interval)
    windowed = df.filter(F.col(time_col) >= cutoff.cast("timestamp"))
    daily = ohlcv_rollup(windowed, "1D", keys=list(keys), time_col=time_col,
                         price_col=price_col, **rollup_kwargs)
    recent = daily.filter(F.col("close") != 0).select(*keys, "bucket", "close")
    # close_filled: each present day is extended with copies carrying its
    # close forward to LEAD(bucket) - 1 day — Postgres's per-row
    # generate_series(bucket, LEAD(bucket) - Δ, Δ) exactly, so every gap
    # fills from its left edge. No join: the fill factor is data-dependent
    # per gap, and the exploded output streams out of the window stage.
    # PostgreSQL eliminates the select-list SRF row when LEAD(bucket) is
    # NULL, so the reference's close_filled CTE drops each key's FINAL daily
    # bucket — the most recent day's return never enters the geometric mean
    # (verified verbatim in test_reference_sql_parity); here
    # sequence(b, NULL, Δ) is NULL and explode of a NULL array emits no rows,
    # the same row elimination
    day = F.expr("INTERVAL 86400 SECOND")
    filled = recent.withColumn(
        "_next", F.lead("bucket").over(Window.partitionBy(*keys).orderBy("bucket"))
    ).select(
        *keys, F.explode(F.sequence(F.col("bucket"), F.col("_next") - day, day)).alias("bucket"),
        "close",
    )
    w = Window.partitionBy(*keys).orderBy("bucket")
    factors = (
        filled.withColumn("prev_close", F.lag("close").over(w))
        .filter(F.col("prev_close").isNotNull() & (F.col("prev_close") != 0))
        .withColumn("ln_daily_factor", F.log(F.col("close") / F.col("prev_close")))
        .filter(F.col("ln_daily_factor").isNotNull())
    )
    return (
        factors.groupBy(*keys)
        .agg(
            F.round(
                (
                    F.pow(F.exp(F.sum("ln_daily_factor")), F.lit(1.0) / F.count(F.lit(1)))
                    - 1
                )
                * 100,
                4,
            ).alias("daily_return_pct"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy(*keys)
    )
