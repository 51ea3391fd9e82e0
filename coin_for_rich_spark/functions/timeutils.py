"""Time-bucketing and epoch-ms helpers.

Reference parity:
- ``time_bucket(interval, time)`` — TimescaleDB's bucketing function used by
  every continuous aggregate (`scripts/database/init/create.sql:107` et al.).
  Sub-daily widths map to exact epoch arithmetic; calendar widths (day, week,
  month) map to ``date_trunc`` — both are pure Catalyst expressions that stay
  inside whole-stage codegen (no UDFs, per SURVEY §2.10).
- ``time_bucket_sql`` — the same bucketing as Spark SQL text, for the
  chart reader's prepared statements (``plans.reader``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's 8 continuous-aggregate resolutions (`create.sql:105-223`)
# plus the interval strings its router accepts but leaves broken — '3h', '14D',
# '1M' fall through with `table` unbound in `readers.py:180-289`; we define
# them (documented divergence, SURVEY §2.2 P8).
INTERVAL_SECONDS: dict[str, int | None] = {
    "1m": 60,
    "5m": 300,
    "15m": 900,
    "30m": 1800,
    "1h": 3600,
    "3h": 10800,
    "6h": 21600,
    "12h": 43200,
    "1D": 86400,
    "7D": 604800,
    "14D": 1209600,
    "1M": None,  # calendar month — not a fixed width; bucketed via date_trunc
}


#: TimescaleDB's bucket origin — 2000-01-03 00:00:00 UTC, a MONDAY
#: (timescaledb's documented default for interval widths). For every width
#: that divides a day the origin is phase-neutral (946857600 % w == 0), so
#: sub-daily and daily buckets are identical to a plain epoch floor; for
#: 7D/14D it aligns weeks to Monday — a bare epoch floor starts weeks on
#: THURSDAY (1970-01-01), a 4-day divergence from the reference's weekly
#: continuous aggregate that the round-7 review surfaced.
TS_BUCKET_ORIGIN = 946_857_600


def time_bucket(ts: Column | str, interval: str) -> Column:
    """Bucket start for ``ts`` at the given interval.

    Origin-aligned floor for fixed widths (identical semantics to
    TimescaleDB's ``time_bucket(width, ts)``: subtract
    ``(epoch - origin) mod width``), ``date_trunc('month')`` for '1M'.
    Integer division on the long epoch keeps this exact and codegen-friendly.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    if interval == "1M":
        return F.date_trunc("month", c)
    width = INTERVAL_SECONDS[interval]
    secs = F.to_unix_timestamp(c)
    return F.timestamp_seconds(secs - _pymod(secs - TS_BUCKET_ORIGIN, width))


def time_bucket_sql(ts: str, interval: str) -> str:
    """:func:`time_bucket` as Spark SQL text over the SQL expression ``ts``
    (which it repeats). The same functions in the same order, so both
    spellings bucket every timestamp alike (pinned in tests/test_operators.py)."""
    if interval == "1M":
        return f"date_trunc('month', {ts})"
    width = INTERVAL_SECONDS[interval]
    secs = f"to_unix_timestamp({ts})"
    return (f"timestamp_seconds({secs} - ((({secs} - {TS_BUCKET_ORIGIN}) % {width})"
            f" + {width}) % {width})")


def _pymod(col: Column, width: int) -> Column:
    # timestamps here are post-1970 so % is already a floor-mod; spelled out
    # so negative epochs would still bucket left.
    return ((col % width) + width) % width

