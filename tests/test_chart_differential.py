"""Serve-path differential test: chart responses against the DuckDB oracle.

Every request goes through ``read_ohlcvs`` + ``serialize_candles`` exactly
as a chart client calls them, over a seeded tick history and its
materialized rollups, and must equal ``perfbench.oracle.chart_expected``
under ``compare_rows``, with the oracle's column order. The requests are
two cycles of the benchmark's mix (all five request classes) plus
hand-written edges the mix rarely draws."""

from __future__ import annotations

import datetime as dt
import gc
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from perfbench import gen, oracle

SEED = 13
N_SYMBOLS = 6
N_DAYS = 3
D = gen.BASE  # 2024-01-01, a Monday; day 1 (2024-01-02) holds no ticks


def _req(route, interval, start, end, limit=500, empty_ts=False, symbol="SYM0"):
    return dict(route=route, symbol=symbol, interval=interval, start=start,
                end=end, limit=limit, empty_ts=empty_ts)


def _cls(req) -> str:
    return req["route"] + ("+gap_fill" if req["empty_ts"] else "")


MIX = gen.chart_requests(SEED, 2 * len(gen.ROUTE_CYCLE), N_SYMBOLS, N_DAYS)

EDGES = {
    "limit0": _req("materialized", "1h", D, D + dt.timedelta(days=2, hours=12), limit=0),
    "limit0_gap_fill": _req("raw_1m", "1m", D, D + dt.timedelta(days=1), limit=0, empty_ts=True),
    "limit1": _req("raw_1m", "1m", D + dt.timedelta(days=2), D + dt.timedelta(days=2, hours=6), limit=1),
    "limit500_clamps": _req("raw_1m", "1m", D, D + dt.timedelta(days=2, hours=23), limit=500),
    "no_whole_bucket_materialized": _req(
        "materialized", "1D", D + dt.timedelta(days=2, hours=1), D + dt.timedelta(days=2, hours=20)),
    "no_whole_bucket_on_the_fly": _req(
        "on_the_fly", "3h", D + dt.timedelta(hours=1, minutes=10), D + dt.timedelta(hours=2, minutes=50)),
    "1M_across_month_start": _req(
        "on_the_fly", "1M", dt.datetime(2023, 12, 20), D + dt.timedelta(days=1, hours=12)),
    "7D_across_monday": _req("materialized", "7D", dt.datetime(2023, 12, 27), D + dt.timedelta(days=1)),
    "7D_across_monday_gap_fill": _req(
        "materialized", "7D", dt.datetime(2023, 12, 27), D + dt.timedelta(days=8), empty_ts=True),
    "14D_across_monday": _req("on_the_fly", "14D", dt.datetime(2023, 12, 20), D + dt.timedelta(days=2)),
    "spine_clamped_materialized": _req(
        "materialized", "1h", D, D + dt.timedelta(days=1, hours=5), limit=10, empty_ts=True),
    "spine_clamped_raw_1m": _req(
        "raw_1m", "1m", D + dt.timedelta(hours=22), D + dt.timedelta(days=1, minutes=30),
        limit=60, empty_ts=True),
    "no_ticks_symbol": _req("materialized", "1h", D, D + dt.timedelta(days=2), symbol="SYM99"),
    "no_ticks_symbol_gap_fill": _req(
        "raw_1m", "1m", D, D + dt.timedelta(days=2), empty_ts=True, symbol="SYM99"),
}

CASES = [
    pytest.param(r, id=f"mix{i:02d}-{_cls(r)}-{r['interval']}") for i, r in enumerate(MIX)
] + [pytest.param(r, id=name) for name, r in EDGES.items()]


@pytest.fixture(scope="module")
def chart_store(spark, tmp_path_factory):
    """(ticks, rollups, DuckDB connection, open_sources): the seeded ticks,
    date-partitioned, their rollup family, a DuckDB connection holding the
    same ticks, and a factory of fresh source DataFrames over the store."""
    from coin_for_rich_spark.sources.store import (
        load_rollups,
        materialize_rollups,
        read_partitioned,
        write_partitioned,
    )

    base = tmp_path_factory.mktemp("chart_store")
    table = gen.tick_history(SEED, N_SYMBOLS, N_DAYS)
    src = gen.write_table(table, str(base / "ticks.parquet"))
    write_partitioned(spark.read.parquet(src), str(base / "ticks"), truncate=True)
    ticks = read_partitioned(spark, str(base / "ticks"))
    paths = materialize_rollups(ticks, str(base / "rollups"))
    con = oracle.connect_ticks(table)

    def open_sources():
        """Fresh source DataFrames over the same store: no temp view and
        no statement text of the reader's belongs to them yet."""
        return read_partitioned(spark, str(base / "ticks")), load_rollups(spark, paths)

    yield (*open_sources(), con, open_sources)
    con.close()


def serve(ticks, rollups, req) -> list[dict]:
    """One chart response, the way a client asks for it."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs
    from coin_for_rich_spark.plans.serve import serialize_candles

    df = serialize_candles(read_ohlcvs(
        ticks, req["symbol"], req["interval"], start=req["start"], end=req["end"],
        limit=req["limit"], empty_ts=req["empty_ts"], rollups=rollups))
    return [r.asDict() for r in df.collect()]


def test_mix_covers_every_request_class():
    assert {_cls(r) for r in MIX} == {
        "materialized", "materialized+gap_fill", "raw_1m", "raw_1m+gap_fill", "on_the_fly"}
    assert {r["interval"] for r in MIX if r["route"] == "on_the_fly"} == set(gen.ON_THE_FLY)


@pytest.mark.parametrize("req", CASES)
def test_chart_response_matches_oracle(chart_store, req):
    ticks, rollups, con, _ = chart_store
    got = serve(ticks, rollups, req)
    want = oracle.chart_expected(con, req)
    assert oracle.compare_rows(want, got) is None, oracle.compare_rows(want, got)
    if want:
        assert list(got[0]) == list(want[0])  # column order, not just the set


def test_window_without_whole_bucket_runs_no_job(chart_store):
    """A tick-route window that holds no whole bucket plans to an empty
    relation: its collect runs no Spark job."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    ticks, rollups, _, _ = chart_store
    month = _req("on_the_fly", "1M", D + dt.timedelta(days=1, hours=2), D + dt.timedelta(days=2))
    for name, req in (("3h", EDGES["no_whole_bucket_on_the_fly"]), ("1M", month)):
        df = read_ohlcvs(ticks, req["symbol"], req["interval"], start=req["start"],
                         end=req["end"], limit=req["limit"], rollups=rollups)
        sc = df.sparkSession.sparkContext
        sc.setJobGroup(name, name)
        try:
            assert df.collect() == []
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(name) == [], name


#: first reads of eight route shapes; the two clients take alternate
#: entries, so each barrier round starts two first reads over two
#: different sources (a rollup and the ticks)
FIRST_READS = [
    _req("materialized", "1h", D, D + dt.timedelta(days=2, hours=3)),
    _req("raw_1m", "1m", D + dt.timedelta(days=2), D + dt.timedelta(days=2, hours=9)),
    _req("materialized", "1h", D, D + dt.timedelta(days=1, hours=5), limit=30, empty_ts=True),
    _req("on_the_fly", "3h", D, D + dt.timedelta(days=2, hours=20), symbol="SYM1"),
    _req("materialized", "1D", D, D + dt.timedelta(days=2, hours=12), symbol="SYM2"),
    _req("raw_1m", "1m", D + dt.timedelta(hours=20), D + dt.timedelta(days=1), limit=90, empty_ts=True),
    _req("materialized", "1D", D, D + dt.timedelta(days=2, hours=12), empty_ts=True, symbol="SYM2"),
    _req("on_the_fly", "14D", dt.datetime(2023, 12, 20), D + dt.timedelta(days=2)),
]


def test_two_thread_first_reads_match_serial(chart_store):
    """Two clients start the FIRST reads of eight route shapes on fresh
    sources, two at a time behind a barrier: every response equals its
    serial answer, so concurrent first reads never share a temp view or a
    half-built statement."""
    ticks, rollups, _, open_sources = chart_store
    serial = [serve(ticks, rollups, r) for r in FIRST_READS]
    fresh_ticks, fresh_rollups = open_sources()
    barrier = threading.Barrier(2)

    def client(k: int) -> dict[int, list[dict]]:
        out = {}
        for i in range(k, len(FIRST_READS), 2):
            barrier.wait(timeout=60)
            try:
                out[i] = serve(fresh_ticks, fresh_rollups, FIRST_READS[i])
            except BaseException:
                barrier.abort()  # the other client stops at its next round
                raise
        return out

    with ThreadPoolExecutor(2) as pool:
        got = {i: rows for part in pool.map(client, (0, 1)) for i, rows in part.items()}
    assert len({(r["interval"], r["empty_ts"]) for r in FIRST_READS}) >= 6
    for i, want in enumerate(serial):
        assert got[i] == want, (i, FIRST_READS[i])


def test_source_view_dropped_after_gc(spark, chart_store):
    """A source DataFrame gets one temp view on its first read; once the
    DataFrame is garbage-collected, the next read drops that view."""
    from coin_for_rich_spark.plans.reader import read_ohlcvs

    ticks, _, _, open_sources = chart_store

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = views()
    src, _ = open_sources()
    read_ohlcvs(src, "SYM0", "3h", end=D + dt.timedelta(days=1))
    read_ohlcvs(src, "SYM0", "14D", end=D + dt.timedelta(days=1))
    (view,) = views() - before  # one view per source, not per shape
    del src
    gc.collect()
    assert view in views()  # the finalizer only queues the drop
    read_ohlcvs(ticks, "SYM0", "3h", end=D + dt.timedelta(days=1))
    assert view not in views()
