"""Partitioned store semantics: pruning actually reaches the scan, and the
materialized-rollup path serves the interval router."""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from coin_for_rich_spark.operators import ohlcv_rollup
from coin_for_rich_spark.plans import read_ohlcvs
from coin_for_rich_spark.sources import candles_view, load_table
from coin_for_rich_spark.sources.store import (
    load_rollups,
    materialize_rollups,
    prune_time_range,
    read_partitioned,
    write_partitioned,
)


@pytest.fixture(scope="module")
def store(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "events")
    write_partitioned(load_table(spark, sf_dir, "events"), path)
    return path


def test_roundtrip_preserves_rows(spark, sf_dir, store):
    ev = load_table(spark, sf_dir, "events")
    back = read_partitioned(spark, store)
    assert back.count() == ev.count()
    assert back.select(F.sum("event_id")).first()[0] == ev.select(F.sum("event_id")).first()[0]


def test_time_range_prunes_partitions(spark, store):
    back = read_partitioned(spark, store)
    pruned = prune_time_range(back, "ts", start="2024-01-10 00:00:00", end="2024-01-12 23:59:59")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    # the derived dt bounds must appear as partition filters on the scan
    assert "PartitionFilters" in plan
    assert "dt" in plan.split("PartitionFilters", 1)[1][:300]
    # and the result only contains the three requested days
    days = sorted(r[0].isoformat() for r in pruned.select("dt").distinct().collect())
    assert days == ["2024-01-10", "2024-01-11", "2024-01-12"]


def test_materialized_rollups_serve_the_router(spark, sf_dir, tmp_path):
    cv = candles_view(spark, sf_dir)
    paths = materialize_rollups(cv, str(tmp_path / "rollups"), intervals=("1h", "1D"))
    rollups = load_rollups(spark, paths)

    served = read_ohlcvs(cv, "purchase", "1h", limit=100, rollups=rollups)
    direct = read_ohlcvs(cv, "purchase", "1h", limit=100)
    cols = ["bucket", "open", "high", "low", "close", "volume", "n_trades"]
    assert sorted(map(tuple, served.select(*cols).collect())) == sorted(
        map(tuple, direct.select(*cols).collect())
    )


def test_materialized_route_scans_rollup_not_ticks(spark, sf_dir, tmp_path):
    """M4: the pre-aggregated route must read the candles_1h sink table and
    never rescan the raw tick relation (the conagg↔router contract)."""
    cv = candles_view(spark, sf_dir)
    paths = materialize_rollups(cv, str(tmp_path / "rollups"), intervals=("1h",))
    rollups = load_rollups(spark, paths)
    served = read_ohlcvs(cv, "purchase", "1h", limit=100, rollups=rollups)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    plan = buf.getvalue()
    assert "candles_1h" in plan
    assert "events.parquet" not in plan


@pytest.fixture(scope="module")
def rollups_1h(spark, sf_dir, tmp_path_factory):
    cv = candles_view(spark, sf_dir)
    base = str(tmp_path_factory.mktemp("rollups_1h"))
    return cv, load_rollups(spark, materialize_rollups(cv, base, intervals=("1h",)))


def test_materialized_route_prunes_dt_partitions(rollups_1h):
    """A windowed read on the materialized route must hand the scan its
    derived dt bounds: without them every answer stays right while each
    read lists and scans the rollup's whole history."""
    cv, rollups = rollups_1h
    served = read_ohlcvs(
        cv, "purchase", "1h", start="2024-01-10 00:00:00",
        end="2024-01-12 06:00:00", rollups=rollups,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    scans = [node for node in buf.getvalue().split("\n(") if "candles_1h" in node]
    assert scans, "no scan of the candles_1h sink table"
    part = [ln for ln in scans[0].splitlines() if ln.startswith("PartitionFilters")]
    assert part and "dt" in part[0] and ">=" in part[0] and "<=" in part[0], part


_GAP_REQ = dict(start="2024-01-05 00:00:00", end="2024-01-12 06:30:00",
                limit=40, empty_ts=True)


def test_materialized_gap_fill_matches_ticks(rollups_1h):
    """empty_ts on the materialized route answers exactly what the tick
    route answers, with a limit that clamps the spine below its span."""
    cv, rollups = rollups_1h
    served = read_ohlcvs(cv, "purchase", "1h", rollups=rollups, **_GAP_REQ)
    direct = read_ohlcvs(cv, "purchase", "1h", **_GAP_REQ)
    assert served.columns == direct.columns
    rows = served.collect()
    assert rows == direct.collect()
    # the clamp is active: 40 grid points, real candles and dummies both
    assert len(rows) == 40
    assert {r.filled for r in rows} == {True, False}
    # ascending for charting, with no sort after the gap fill
    buckets = [r.bucket for r in rows]
    assert buckets == sorted(buckets)


def _jobs_to_collect(df, group: str) -> int:
    """Spark jobs one ``collect`` of ``df`` runs (job group + status
    tracker; works with the Spark UI off)."""
    sc = df.sparkSession.sparkContext
    sc.setJobGroup(group, group)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_raw_gap_fill_reads_the_ticks_once(rollups_1h):
    """A gap-filled read on the tick route plans ONE scan of the tick
    source and no join, and runs at most two jobs: the rollup's shuffle
    stage and the result stage."""
    cv, _ = rollups_1h
    served = read_ohlcvs(cv, "purchase", "1h", **_GAP_REQ)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        served.explain("formatted")
    tree = buf.getvalue().split("\n\n", 1)[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Join" not in tree, tree
    assert _jobs_to_collect(served, "raw_gap_fill") <= 2


def test_materialized_gap_fill_runs_one_job(rollups_1h):
    """On the materialized route the scan, top-K, aggregate and spine all
    run in a single job."""
    cv, rollups = rollups_1h
    served = read_ohlcvs(cv, "purchase", "1h", rollups=rollups, **_GAP_REQ)
    assert _jobs_to_collect(served, "materialized_gap_fill") == 1


def test_utc_day_is_session_timezone_independent(spark):
    """The dt partition derivation must cut days on UTC midnight no matter
    the session timezone — a shifted layout written by a non-UTC session
    would make a UTC reader's partition predicate silently prune matching
    rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from coin_for_rich_spark.sources.store import utc_day

    ts = dt.datetime(2024, 1, 11, 3, 0, tzinfo=dt.timezone.utc)
    df = spark.createDataFrame([(ts,)], "ts timestamp")
    utc_val = df.select(utc_day(F.col("ts")).alias("d")).first().d
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_val = df.select(utc_day(F.col("ts")).alias("d")).first().d
        # to_date (the old derivation) WOULD shift: 03:00Z = 22:00 prev day NY
        shifted = df.select(F.to_date(F.col("ts")).alias("d")).first().d
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert utc_val == ny_val == dt.date(2024, 1, 11)
    assert shifted == dt.date(2024, 1, 10)


def test_utc_day_sql_matches_column_twin(spark):
    """The SQL text of utc_day cuts days exactly where the Column
    expression does."""
    import datetime as dt

    from coin_for_rich_spark.sources.store import utc_day, utc_day_sql

    ts = [dt.datetime(2024, 1, 10, 23, 59, 59, 999999), dt.datetime(2024, 1, 11),
          dt.datetime(2023, 12, 31, 12, 30), dt.datetime(1999, 12, 31, 23, 59, 59)]
    df = spark.createDataFrame([(t,) for t in ts], "ts timestamp")
    pairs = df.select(utc_day(F.col("ts")).alias("c"), F.expr(utc_day_sql("ts")).alias("s"))
    assert pairs.dtypes == [("c", "date"), ("s", "date")]
    assert all(r.c == r.s for r in pairs.collect())


def test_incremental_write_keeps_other_partitions(spark, tmp_path):
    """mode='overwrite' is DYNAMIC: writing one day replaces only that
    day's partition — Spark's static default would wipe the whole table on
    an incremental write."""
    import datetime as dt

    from coin_for_rich_spark.sources.store import (
        materialize_rollups,
        read_partitioned,
        write_partitioned,
    )

    path = str(tmp_path / "t")
    day1 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 1.0)], "ts timestamp, v double"
    )
    day2 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 5), 2.0)], "ts timestamp, v double"
    )
    write_partitioned(day1, path)
    write_partitioned(day2, path)  # incremental: must NOT delete day 1
    got = sorted(r.v for r in read_partitioned(spark, path).collect())
    assert got == [1.0, 2.0]
    # and re-writing day 2 replaces day 2 only (no duplicates)
    write_partitioned(day2, path)
    got = sorted(r.v for r in read_partitioned(spark, path).collect())
    assert got == [1.0, 2.0]
    # empty interval family: no work, not a ThreadPool crash
    assert materialize_rollups(day1, str(tmp_path / "r"), intervals=()) == {}


def test_full_rebuild_truncates_stale_partitions(spark, tmp_path):
    """ADVICE r7 (store.py:70): dynamic overwrite makes write_partitioned
    incremental-only — a full rebuild whose new data no longer lands in an
    old day partition would leave that partition serving stale rows.
    truncate=True (and materialize_rollups, which is a full rebuild) must
    replace the WHOLE table."""
    import datetime as dt

    from coin_for_rich_spark.sources.store import (
        materialize_rollups,
        read_partitioned,
        write_partitioned,
    )

    path = str(tmp_path / "t")
    both = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 5), 1.0), (dt.datetime(2024, 1, 2, 5), 2.0)],
        "ts timestamp, v double",
    )
    only2 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 5), 9.0)], "ts timestamp, v double"
    )
    write_partitioned(both, path)
    # full rebuild that no longer produces day 1: stale day-1 must go
    write_partitioned(only2, path, truncate=True)
    got = sorted(r.v for r in read_partitioned(spark, path).collect())
    assert got == [9.0], f"stale partition survived full rebuild: {got}"

    # materialize_rollups over the same base path is a full rebuild: rows
    # whose buckets moved to a different day (the weekly-origin scenario)
    # must not coexist with the old layout
    base = str(tmp_path / "roll")
    jan = spark.createDataFrame(
        [("s", dt.datetime(2024, 1, 1, 0, 0), 1.0, 1.0)],
        "symbol string, ts timestamp, price double, volume double",
    )
    feb = spark.createDataFrame(
        [("s", dt.datetime(2024, 2, 5, 0, 0), 2.0, 2.0)],
        jan.schema,
    )
    materialize_rollups(jan, base, intervals=("1D",))
    paths = materialize_rollups(feb, base, intervals=("1D",))
    rows = read_partitioned(spark, paths["1D"]).collect()
    assert len(rows) == 1 and rows[0]["close"] == 2.0, (
        "re-run of materialize_rollups left stale partitions: "
        f"{[(r['bucket'], r['close']) for r in rows]}"
    )
