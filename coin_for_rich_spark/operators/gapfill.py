"""Gap-filled time series with avg-fill dummy rows.

Reference parity: the chart reader's ``empty_ts`` mode
(`web/routes/api/rest/utils/readers.py:210-244` for 1m, `:329-362` for
buckets): a ``generate_series`` of expected timestamps LEFT JOINed to the
data (J4), missing rows COALESCEd to dummy candles whose open/high/low/close
are the AVERAGE over the *fetched window* and whose volume is 0 (A8) — a
reference idiosyncrasy reproduced exactly (SURVEY §4 item 3).

Spark-first expression: one global aggregate row holds the spine
``sequence(min, end, interval)`` (Postgres ``generate_series``, SURVEY
§2.7), the averages and a bucket → candle map of the fetched rows; each
exploded spine point looks its bucket up in that map instead of a LEFT
JOIN, so the small (post-rollup, ≤500-row) fetched set is read once. The
reference also averages over the limited fetched set
(`readers.py:221-227`). The fill is written once, as SQL text
(``gap_fill_sql``), which the chart reader prepares inside its own
statement and binds with its own ``:end`` and ``:lim`` markers.
"""

from __future__ import annotations

from ..functions.numbers import MONEY
from ..functions.timeutils import INTERVAL_SECONDS, time_bucket_sql


#: the price columns a dummy candle fills with their fetched-window average
FILL_COLS = ("open", "high", "low", "close")


def gap_fill_sql(src: str, interval: str) -> str:
    """THE gap fill, as one Spark SQL statement over the relation ``src``,
    which holds one key's fetched candles (each ``bucket`` once and never
    NULL — a repeat raises ``DUPLICATED_MAP_KEY`` — with ``FILL_COLS`` and
    ``volume``). It reads two named markers: ``:end``, the request's upper
    bound, and ``:lim``, the fetch limit that also clamps the spine. The
    output is ``bucket``, ``FILL_COLS``, ``volume`` and ``filled``,
    ascending by ``bucket``; ``interval`` must be a fixed width.

    One global agg row carries the spine bounds, the fill averages and a
    bucket → candle map of the fetched rows (the reference's dseries
    computes avg(fetched) alongside its generate_series,
    `readers.py:221-238`); the spine ``sequence`` explodes from that row
    and each point looks its bucket up in the map. The averages come from
    every fetched row, so a sparse key whose latest data is older than the
    clamped spine still emits avg-filled dummies, not NULLs (caught by the
    live-PG reader-shape leg). Agg, never select: a select would emit one
    row PER candle and duplicate the spine N times. The one row explodes
    in sequence order inside one partition, so the output is ascending
    with no sort. The averages are decimal-summed / count, so they stay
    deterministic under parallel aggregation.

    The spine starts at min(fetched bucket) (`readers.py:230`) and ends at
    ``:end`` SNAPPED to the bucket grid (an unaligned end would put every
    spine timestamp off-grid, the lookup would find nothing, and all real
    candles would come back as filled dummies). The clamp steps back
    ``width * (:lim - 1)`` seconds from that end — both bounds sit on one
    grid, so that stays on-grid — and ``greatest`` keeps the later anchor:
    the latest ``:lim`` grid points, exactly the reference's ORDER BY ts
    DESC LIMIT over its generate_series. ``greatest`` SKIPS nulls, so the
    ``CASE`` keeps an empty fetch's NULL anchor NULL and its spine empty
    (the reference returns [] — its series starts at min(fetched time),
    which does not exist); a ``:lim`` of 0 fetches nothing, so it never
    reaches the clamp."""
    width = INTERVAL_SECONDS[interval]
    hi = time_bucket_sql("CAST(:end AS TIMESTAMP)", interval)
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
                     THEN greatest(_lo, _hi - make_dt_interval(0, 0, 0, {width} * (:lim - 1))) END,
                _hi, INTERVAL {width} SECOND)) AS bucket
            FROM (
                SELECT min(bucket) AS _lo, {hi} AS _hi,
                       map_from_entries(collect_list(struct(
                           bucket, struct({", ".join(FILL_COLS)}, volume)))) AS _rows,
                       {avgs}
                FROM {src}
            )
        )"""
