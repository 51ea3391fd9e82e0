"""The user-facing chart read path: interval router + filtered, clamped,
optionally gap-filled candle reads.

Reference parity: ``readers.read_ohlcvs``
(`web/routes/api/rest/utils/readers.py:126-368`):
1. clamp ``limit = min(limit, 500)`` (`readers.py:168`);
2. normalize start/end to minute precision (`readers.py:169-176`);
3. route the interval string to one of the 9 relations — raw 1m or one of 8
   rollups (`readers.py:180-289`). The reference's constant list also admits
   '3h', '14D', '1M' but its router leaves them unbound (falls through with
   an error) — we implement them as on-the-fly buckets and document the
   divergence (SURVEY §2.2 P8);
4. filter on key triple + time range, fetch DESC with LIMIT, re-sort ASC for
   charting (`readers.py:194-195,242`);
5. optional gap-fill with avg-filled dummy rows (``empty_ts``,
   `readers.py:210-244`).

Each request binds ONE prepared Spark SQL statement — the reference's
single statement against a continuous aggregate. Its text is built once
per route shape (source, interval, route, ``empty_ts``, whether ``start``
is set, ``key_col``) and bound per request with ``spark.sql(text,
args=...)``: symbol, bounds and limit. A materialized rollup is filtered
on key, bucket bounds and their derived ``dt`` bounds
(``sources.store.time_range_sql``); any other interval filters the ticks
on key and the equivalent tick bounds, then buckets them on the fly; the
gap fill is ``operators.gapfill.gap_fill_sql`` over the fetch. Building a
request's plan from DataFrame calls costs hundreds of Py4J round trips
(PySpark's call-site capture wraps each one); binding a cached text costs
a few dozen.

Each source DataFrame is registered as one temp view on its first read.
The view is dropped at the first read after the DataFrame is
garbage-collected: the finalizer only queues the name, since it may run in
the middle of another Py4J call (py4j defers its own finalizers the same
way). One lock covers view creation and the text cache, so concurrent
first reads never share a view name.

Scale posture: the router picks a *pre-aggregated* rollup table exactly like
the reference picks a continuous aggregate — the read never rescans raw
minutes for coarse intervals. Filters land on the rollup's partition/sort
keys, so with date-partitioned sinks this is partition-pruned scan → filter →
top-K (Spark's TakeOrderedAndProject), no full sort.
"""

from __future__ import annotations

import datetime as dt
import itertools
import threading
import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timeutils import INTERVAL_SECONDS, time_bucket_sql
from ..operators.candles import OHLCV_AGGS_SQL
from ..operators.gapfill import gap_fill_args, gap_fill_sql
from ..sources.store import PARTITION_COL, time_range_sql

#: Interval strings accepted by the API (`web/config/constants.py:2-4`).
VALID_INTERVALS = list(INTERVAL_SECONDS.keys())

#: Resolutions materialized as rollup tables in the reference
#: (`create.sql:105-223`); everything else is bucketed on the fly.
MATERIALIZED = {"5m", "15m", "30m", "1h", "6h", "12h", "1D", "7D"}

MAX_LIMIT = 500  # `readers.py:168`


def _floor_minute(t) -> dt.datetime | None:
    """Normalize a request bound to minute precision (`readers.py:169-176`).

    Accepts epoch milliseconds (the reference's wire format), ISO strings,
    or datetimes.
    """
    if t is None:
        return None
    if isinstance(t, (int, float)):  # epoch milliseconds, the wire format
        t = dt.datetime.fromtimestamp(t / 1000.0, dt.timezone.utc).replace(tzinfo=None)
    elif isinstance(t, str):
        t = dt.datetime.fromisoformat(t)
    return t.replace(second=0, microsecond=0)


def _aligned_tick_bounds(interval, start, end):
    """The tick-level [lo, hi) window EXACTLY equivalent to the bucket
    bounds ``start ≤ bucket ≤ end`` for this interval's bucketing: since
    bucket(ts) is the largest bucket-aligned instant ≤ ts,

        bucket ≥ start ⟺ ts ≥ ceil_align(start)
        bucket ≤ end   ⟺ ts <  floor_align(end) + width

    Fixed widths align to TS_BUCKET_ORIGIN (Monday-aligned weeks included);
    '1M' aligns to calendar month starts. Naive datetimes, UTC semantics —
    the same frame the bucketing expressions use. ``start`` may be None
    (no lower bound, ``lo`` None); ``end`` is required."""
    from ..functions.timeutils import TS_BUCKET_ORIGIN

    width = INTERVAL_SECONDS[interval]
    epoch = dt.datetime(1970, 1, 1)
    lo = None
    if width is not None:
        # microsecond-exact arithmetic (r15 ADVICE): int(total_seconds())
        # truncated a sub-second start, widening the window by one leading
        # bucket vs the bucket-bound semantics. Integer microseconds keep
        # whole-second inputs bit-identical and make fractional inputs
        # exact (read_ohlcvs floors to the minute first, so this is a
        # direct-caller hardening, not a behavior change there).
        width_us = width * 1_000_000
        origin_us = TS_BUCKET_ORIGIN * 1_000_000
        if start is not None:
            e = (start - epoch) // dt.timedelta(microseconds=1)
            r = (e - origin_us) % width_us
            lo = epoch + dt.timedelta(
                microseconds=e if r == 0 else e - r + width_us
            )
        e = (end - epoch) // dt.timedelta(microseconds=1)
        f = e - ((e - origin_us) % width_us)
        hi = epoch + dt.timedelta(microseconds=f + width_us)
    else:  # calendar month
        if start is not None:
            if (start.day, start.hour, start.minute, start.second, start.microsecond) == (1, 0, 0, 0, 0):
                lo = start
            else:
                lo = (start.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
                      + dt.timedelta(days=32)).replace(day=1)
        hi = (end.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
              + dt.timedelta(days=32)).replace(day=1)
    return lo, hi


def _sql(view: str, interval: str, materialized: bool, empty_ts: bool,
         has_start: bool, key_col: str) -> str:
    """The prepared statement of one route shape over the temp ``view``."""
    key = f"`{key_col}`"
    if materialized:
        # the bucket bounds plus their derived dt bounds (Catalyst cannot
        # infer them from `bucket` — dt is a stored column), so the scan
        # PRUNES instead of reading the rollup's whole history; dt then
        # leaves the serve schema
        fetch = (f"SELECT * EXCEPT ({PARTITION_COL}) FROM {view} WHERE {key} = :sym"
                 f" AND ({time_range_sql('bucket', has_start, True)})")
    else:
        # Replace the post-agg bucket bounds with their EXACT tick-level
        # equivalents (guide §6): the bucket bounds sit on a derived column
        # (two to_unix_timestamp + mod chains per row, never pushed to the
        # scan), while ``bucket ≥ start ⟺ ts ≥ ceil_align(start)`` and
        # ``bucket ≤ end ⟺ ts < floor_align(end) + width`` — because
        # bucket = align_floor(ts) is the largest aligned instant ≤ ts. The
        # replacement is bit-identical (every kept bucket aggregates its
        # complete tick set — the bounds are bucket-aligned so no bucket is
        # split), strictly cheaper per row (two plain timestamp compares),
        # and PushedFilters gains the ts range so a properly laid-out
        # deployment skips row groups outside the chart window instead of
        # aggregating the entire tick history. The two bounds stay
        # adjacent: when the window holds no whole bucket, lo == hi makes
        # them each other's negation and Catalyst's BooleanSimplification
        # folds the read to an empty relation that runs no Spark job.
        bounds = "ts >= :lo AND ts < :hi" if has_start else "ts < :hi"
        fetch = (f"SELECT {time_bucket_sql('ts', interval)} AS bucket, {key}, {OHLCV_AGGS_SQL}"
                 f" FROM {view} WHERE {bounds} AND {key} = :sym GROUP BY 1, {key}")
    # DESC fetch with limit keeps the latest rows (`readers.py:194-195`),
    # then ASC re-sort for charting (`readers.py:242`); the gap fill emits
    # its spine ascending, so it takes the fetch unsorted.
    fetched = f"{fetch} ORDER BY bucket DESC LIMIT :lim"
    if not empty_ts:
        return f"SELECT * FROM ({fetched}) ORDER BY bucket"
    return (f"WITH fetched AS ({fetched})"
            f" SELECT *, :sym AS {key} FROM ({gap_fill_sql('fetched', interval)})")


_LOCK = threading.Lock()
#: source DataFrame → (its temp view, {route shape: statement text})
_SOURCES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: (session, view) of collected sources, dropped by the next read
_DEAD_VIEWS: list = []
_VIEW_IDS = itertools.count()


def _statement(src: DataFrame, shape: tuple) -> str:
    """The statement text of one route ``shape`` over ``src``; registers
    ``src``'s temp view on its first read and builds each text once."""
    with _LOCK:
        while _DEAD_VIEWS:
            spark, view = _DEAD_VIEWS.pop()
            spark.catalog.dropTempView(view)
        if src not in _SOURCES:
            view = f"chart_src_{next(_VIEW_IDS)}"
            src.createOrReplaceTempView(view)
            weakref.finalize(src, _DEAD_VIEWS.append, (src.sparkSession, view)).atexit = False
            _SOURCES[src] = (view, {})
        view, texts = _SOURCES[src]
        if shape not in texts:
            texts[shape] = _sql(view, *shape)
        return texts[shape]


def read_ohlcvs(
    ticks: DataFrame,
    symbol: str,
    interval: str = "1m",
    start=None,
    end=None,
    limit: int = 500,
    empty_ts: bool = False,
    key_col: str = "symbol",
    rollups: dict[str, DataFrame] | None = None,
    now=None,
) -> DataFrame:
    """Chart read: candles for one symbol at one interval, ASC by bucket,
    at most ``min(limit, 500)`` rows (the *latest* ones in range), optionally
    gap-filled.

    ``ticks`` carries ``ts``, ``price``, ``volume`` and ``key_col``. An
    interval with an entry in ``rollups`` reads that rollup, which must
    carry its ``dt`` partition column (``sources.store.load_rollups``);
    any other interval buckets ``ticks`` on the fly. An unknown interval,
    a negative ``limit`` and a gap fill over '1M' raise ``ValueError``
    before any Spark call.

    ``end`` defaults to one minute before ``now`` (`readers.py:171-175` —
    the reference always bounds the fetch at now-1min, floored to the
    minute); ``now`` defaults to the wall clock and exists so replays and
    oracles can pin it (the same determinism parameter as
    ``weekly_return``'s). The reference clamps only downward
    (``min(limit, 500)``, no lower bound): ``limit=0`` returns nothing and
    a negative limit is an error on both sides (PostgreSQL rejects
    ``LIMIT -1``) — unlike the analytics readers (:func:`read_returns`),
    where -1 explicitly means "all".
    """
    if interval not in INTERVAL_SECONDS:
        raise ValueError(f"unknown interval {interval!r}; valid: {VALID_INTERVALS}")
    limit = int(limit)
    if limit < 0:
        raise ValueError(f"limit must be >= 0, got {limit}")
    limit = min(limit, MAX_LIMIT)  # `readers.py:168`
    start, end = _floor_minute(start), _floor_minute(end)
    if end is None:
        # `readers.py:171-175`: end = (now - 1 minute) floored to the minute
        if now is None:
            now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        end = _floor_minute(now) - dt.timedelta(minutes=1)
    args = {"sym": symbol, "lim": limit}
    if empty_ts:
        # `readers.py:228-244`: the spine starts at min(FETCHED time) — not
        # at `start`, which only bounds the fetch — runs to `end` (trailing
        # gaps fill with dummies up to now-1min by default), and only its
        # latest `limit` grid points survive (the series is DESC-limited
        # before the join, so real rows older than the clamped spine drop
        # out). An empty fetch returns [] — there is no min to anchor at.
        # limit=0: the fetch is empty, so the spine is empty either way;
        # the floor of 1 keeps gap_fill_args's >=1 check for direct callers
        args.update(gap_fill_args(interval, end=end, series_limit=max(limit, 1)))
    materialized = bool(rollups) and interval in rollups
    if materialized:
        src = rollups[interval]
        args.update(start=start, end=end)
    else:
        src = ticks
        args.update(zip(("lo", "hi"), _aligned_tick_bounds(interval, start, end)))
    shape = (interval, materialized, empty_ts, start is not None, key_col)
    return src.sparkSession.sql(_statement(src, shape), args=args)


def read_returns(
    df: DataFrame,
    value_col: str,
    cutoff_upper_pct=None,
    cutoff_lower_pct=None,
    limit: int = 500,
) -> DataFrame:
    """The analytics-view reader (`readers.py:32-118`, ``read_geodr`` /
    ``read_wr``): optional extreme-value cutoffs, DESC by the return
    column, ``limit=-1`` returns ALL rows.

    Two reference idiosyncrasies reproduced deliberately (each pinned in
    tests/test_serve.py):

    - the cutoffs are tested for TRUTHINESS (``if cutoff_upper_pct and
      ...``), so a cutoff of ``0`` is silently ignored, exactly like
      ``None`` — a caller wanting "only negative returns" cannot express
      it, on either side;
    - unlike the chart reader there is NO 500 clamp: the default is 500
      but an explicit larger limit is honored, and ``-1`` means all rows
      (the chart reader would reject -1 — `readers.py:64-68` vs `:168`).
    """
    out = df
    if cutoff_upper_pct and cutoff_lower_pct:
        out = out.filter(
            (F.col(value_col) < F.lit(cutoff_upper_pct))
            & (F.col(value_col) > F.lit(cutoff_lower_pct))
        )
    elif cutoff_upper_pct:
        out = out.filter(F.col(value_col) < F.lit(cutoff_upper_pct))
    elif cutoff_lower_pct:
        out = out.filter(F.col(value_col) > F.lit(cutoff_lower_pct))
    out = out.orderBy(F.col(value_col).desc())
    if limit == -1:
        return out
    return out.limit(int(limit))
