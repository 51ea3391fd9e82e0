"""Gap-filled time series with avg-fill dummy rows.

Reference parity: the chart reader's ``empty_ts`` mode
(`web/routes/api/rest/utils/readers.py:210-244` for 1m, `:329-362` for
buckets): a ``generate_series`` of expected timestamps LEFT JOINed to the
data (J4), missing rows COALESCEd to dummy candles whose open/high/low/close
are the AVERAGE over the *fetched window* and whose volume is 0 (A8) — a
reference idiosyncrasy reproduced exactly (SURVEY §4 item 3).

Spark-first expression: one global aggregate row holds the spine
``sequence(min, max, interval)`` (Postgres ``generate_series``, SURVEY §2.7),
the averages and a bucket → candle map of the fetched rows; each exploded
spine point looks its bucket up in that map instead of a LEFT JOIN, so the
small (post-rollup, ≤500-row) fetched set is read once. The reference also
averages over the limited fetched set (`readers.py:221-227`). The fill is
written once, as SQL text (``gap_fill_sql``), so the chart reader can
prepare it inside its own statement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.numbers import MONEY
from ..functions.timeutils import INTERVAL_SECONDS, time_bucket_sql


def lead_bounded_fill(
    df: DataFrame,
    keys: list[str],
    bucket_col: str = "bucket",
    interval: str = "1D",
    carry_cols: list[str] = ("close",),
    last_bucket: str = "keep",
) -> DataFrame:
    """W2 — per-gap LEAD-bounded forward fill (the reference's
    ``close_filled`` CTE, `create.sql:227-244`): each present bucket is
    extended with copies carrying its values forward to
    ``LEAD(bucket) - interval`` — so every gap is filled from its left edge
    and the series never extends past the last present bucket.

    ``last_bucket`` pins what happens to each key's FINAL bucket (whose
    LEAD is NULL):

    - ``"keep"`` — the bucket emits itself once (natural reading of a
      forward fill, and what ``gap_fill_series`` consumers want);
    - ``"drop"`` — the bucket emits NOTHING, reproducing PostgreSQL's
      actual evaluation of the reference CTE: a set-returning function in
      the select list whose argument is NULL
      (``generate_series(bucket, LEAD(bucket) - Δ, Δ)`` with LEAD = NULL)
      returns zero rows and ELIMINATES the whole row — so the reference's
      ``close_filled`` silently drops each key's latest daily close, and
      ``geo_daily_return`` never includes the most recent day's return.
      Verified against a live PostgreSQL 15 (tests/test_reference_sql_parity
      runs the CTE verbatim).

    Spark-first: one LEAD window per key (the rows are already post-rollup,
    ~|buckets| per key), then ``explode(sequence(bucket, next - Δ, Δ))`` —
    Postgres's per-row ``generate_series(bucket, LEAD(bucket) - Δ, Δ)``
    exactly. No join: the fill factor is data-dependent per gap, and the
    exploded output streams out of the window stage map-side.
    """
    if last_bucket not in ("keep", "drop"):
        raise ValueError(f"last_bucket must be 'keep' or 'drop', got {last_bucket!r}")
    width = INTERVAL_SECONDS[interval]
    if width is None:
        raise ValueError("lead-bounded fill needs a fixed-width interval")
    step = F.expr(f"INTERVAL {width} SECOND")
    w = Window.partitionBy(*keys).orderBy(bucket_col)
    nxt = F.lead(bucket_col).over(w)
    stop = F.col("_next") - step
    if last_bucket == "keep":
        stop = F.coalesce(stop, F.col(bucket_col))
    # with last_bucket="drop", sequence(b, NULL, Δ) is NULL and explode of a
    # NULL array emits no rows — the same row elimination PostgreSQL applies
    seq = F.sequence(F.col(bucket_col), stop, step)
    return (
        df.withColumn("_next", nxt)
        .select(*keys, F.explode(seq).alias(bucket_col), *carry_cols)
    )


#: the price columns a dummy candle fills with their fetched-window average
FILL_COLS = ("open", "high", "low", "close")


def gap_fill_args(interval: str, start=None, end=None, series_limit: int | None = None) -> dict:
    """The parameters :func:`gap_fill_sql` binds for one fill; raises
    ``ValueError`` for a calendar-month interval or a ``series_limit``
    below 1, before any Spark call. ``None`` binds NULL: the bound or the
    clamp then falls back to the data (see :func:`gap_fill_series`)."""
    width = INTERVAL_SECONDS[interval]
    if width is None:
        raise ValueError("gap fill over calendar months not supported; use fixed widths")
    if series_limit is not None and series_limit < 1:
        raise ValueError(f"series_limit must be >= 1, got {series_limit}")
    span = None if series_limit is None else width * (series_limit - 1)
    return {"fill_start": start, "fill_end": end, "fill_span": span}


def gap_fill_sql(src: str, interval: str) -> str:
    """THE gap fill, as one Spark SQL statement over the relation ``src``
    with the named markers of :func:`gap_fill_args` — the single
    definition that :func:`gap_fill_series` and the chart reader's
    prepared statements (``plans.reader``) both run.

    One global agg row carries the spine bounds, the fill averages and a
    bucket → candle map of the fetched rows (the reference's dseries
    computes avg(fetched) alongside its generate_series,
    `readers.py:221-238`); the spine ``sequence`` explodes from that row
    and each point looks its bucket up in the map. The averages come from
    every fetched row, so a sparse key whose latest data is older than the
    clamped spine still emits avg-filled dummies, not NULLs (caught by the
    live-PG reader-shape leg). Agg, never select: with both bounds bound, a
    select would emit one row PER candle and duplicate the spine N times.
    The one row explodes in sequence order inside one partition, so the
    output is ascending with no sort.

    Explicit bounds SNAP to the bucket grid (an unaligned start would put
    every spine timestamp off-grid, the lookup would find nothing, and all
    real candles would come back as filled dummies); data-derived bounds
    are bucket values already. The clamp steps back ``:fill_span``
    seconds from the upper bound — both bounds sit on one grid, so that
    stays on-grid — and ``greatest`` keeps the later anchor: the latest
    ``series_limit`` grid points, exactly the reference's ORDER BY ts DESC
    LIMIT over its generate_series. ``greatest`` SKIPS nulls, so the
    ``CASE`` keeps an empty fetch's NULL anchor NULL and its spine empty
    (the reference returns [] — its series starts at min(fetched time),
    which does not exist)."""
    step = f"INTERVAL {INTERVAL_SECONDS[interval]} SECOND"
    lo = time_bucket_sql("CAST(:fill_start AS TIMESTAMP)", interval)
    hi = time_bucket_sql("CAST(:fill_end AS TIMESTAMP)", interval)
    avgs = ", ".join(
        f"CAST(sum(CAST({c} AS {MONEY})) AS DOUBLE) / count({c}) AS _avg_{c}" for c in FILL_COLS
    )
    fills = ", ".join(
        f"round(coalesce(_rows[bucket].{c}, _avg_{c}), 4) AS {c}" for c in FILL_COLS
    )
    return f"""
        SELECT bucket, {fills}, coalesce(_rows[bucket].volume, 0D) AS volume,
               _rows[bucket].open IS NULL AS filled
        FROM (
            SELECT *, explode(sequence(
                CASE WHEN _lo IS NOT NULL
                     THEN greatest(_lo, _hi - make_dt_interval(0, 0, 0, :fill_span)) END,
                _hi, {step})) AS bucket
            FROM (
                SELECT coalesce({lo}, min(bucket)) AS _lo,
                       coalesce({hi}, max(bucket)) AS _hi,
                       map_from_entries(collect_list(struct(
                           bucket, struct({", ".join(FILL_COLS)}, volume)))) AS _rows,
                       {avgs}
                FROM {src}
            )
        )"""


def gap_fill_series(
    candles: DataFrame,
    interval: str,
    start=None,
    end=None,
    series_limit: int | None = None,
) -> DataFrame:
    """Fill missing buckets of a single-key candle frame.

    ``candles`` must already be filtered to one key (the reference fills
    per-request, one symbol per call), hold each ``bucket`` once and never
    NULL (a repeat raises ``DUPLICATED_MAP_KEY``), and carry ``bucket``,
    ``FILL_COLS`` and ``volume``; the output keeps only those columns plus
    ``filled``, ascending by ``bucket``. Missing buckets get avg(value over
    fetched window) for each price column, 0 volume, and ``filled = true``.
    The avg is decimal-summed / count to stay deterministic under parallel
    aggregation.

    ``series_limit`` reproduces the reference's spine clamp
    (`readers.py:228-238`): its dummy series is ordered DESC and LIMITed
    before the join, so only the LATEST ``series_limit`` grid points
    survive — real rows older than the clamped spine are dropped from the
    output (the spine misses them). ``None`` leaves the spine unclamped.
    ``start``, when given, anchors the spine explicitly; the reference
    reader never does this (its spine always starts at min(fetched time) —
    `readers.py:230`), so the chart reader binds no start. ``end``
    defaults to max(bucket).
    """
    args = gap_fill_args(interval, start, end, series_limit)
    return candles.sparkSession.sql(gap_fill_sql("{src}", interval), args=args, src=candles)
