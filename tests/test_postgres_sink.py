"""End-to-end integration of the COPY + ON CONFLICT merge sink
(``PgWireMergeSink``) against a REAL PostgreSQL server — the north-star sink
semantics (`fetchers/helpers/dbhelpers.py:34-132`,
`fetchers/config/queries.py:4,12-15`) executed inside the actual target
engine, not just asserted as SQL strings.

The module boots a throwaway cluster (initdb + pg_ctl under the `postgres`
user, unix socket only, trust auth) and tears it down afterwards; it skips
cleanly when the environment has no runnable server. The capstone test
drives the SAME staged micro-batch stream through ``ParquetMergeSink`` and
``PgWireMergeSink`` and requires the resolved states to be value-identical
— the two backends are twins by construction, so this pins that the
COPY/DISTINCT ON/ON CONFLICT path implements exactly the merge semantics the
oracle-checked `stream_upsert_ingest` query verifies for the parquet twin.
Table state is mostly checked through ``psql``, a client independent of the
sink's own wire client.
"""

from __future__ import annotations

import datetime as dt
import subprocess
import tempfile
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from coin_for_rich_spark.streaming.pgserver import pg_runnable, start_cluster

pytestmark = pytest.mark.skipif(
    not pg_runnable(), reason="no runnable PostgreSQL server in this environment"
)


@pytest.fixture(scope="module")
def pg():
    """Scratch single-node cluster on a unix socket (via the engine's own
    pgserver lifecycle — the same code path the declared query boots);
    yields psql conninfo args. Not under pytest's tmp_path: those live
    below a 0700 root-owned dir the postgres user cannot traverse."""
    conninfo, stop = start_cluster(tempfile.mkdtemp(prefix="cfr_pg_"))
    try:
        yield conninfo
    finally:
        stop()


def _sql(conninfo: list[str], sql: str) -> str:
    p = subprocess.run(
        ["psql", "-X", "-q", "-v", "ON_ERROR_STOP=1", *conninfo, "-c", sql],
        capture_output=True,
        cwd="/",
    )
    assert p.returncode == 0, p.stderr.decode()
    return p.stdout.decode()


def _fetch(conninfo: list[str], query: str) -> list[list[str]]:
    p = subprocess.run(
        ["psql", "-X", "-A", "-t", "-F", "\t", *conninfo, "-c", query],
        capture_output=True,
        cwd="/",
    )
    assert p.returncode == 0, p.stderr.decode()
    return [
        line.split("\t")
        for line in p.stdout.decode().splitlines()
        if line.strip()
    ]


def test_psql_merge_ignore_first_writer_wins_and_replay_is_noop(spark, pg):
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_ign;"
             "CREATE TABLE t_ign (k text PRIMARY KEY, seq int, v double precision)")
    sink = PgWireMergeSink(pg, "t_ign", pk=("k",), mode="ignore",
                           tiebreak_col="seq")
    b1 = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 11.0), ("b", 3, 20.0)],
        "k string, seq int, v double",
    )
    b2 = spark.createDataFrame(
        [("a", 4, 99.0), ("c", 5, 30.0)], "k string, seq int, v double"
    )
    sink.merge(b1, 0)
    sink.merge(b2, 1)
    sink.merge(b2, 1)  # replay — must be a no-op
    got = [
        (r[0], int(r[1]), float(r[2]))
        for r in _fetch(pg, "SELECT k, seq, v FROM t_ign ORDER BY k")
    ]
    # the ParquetMergeSink twin's exact expectation (within-batch dedup keeps
    # the LOWEST tiebreak for 'ignore'; PK 'a' keeps its batch-0 row)
    assert got == [("a", 1, 10.0), ("b", 3, 20.0), ("c", 5, 30.0)]


def test_psql_merge_upsert_newest_wins(spark, pg):
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_ups;"
             "CREATE TABLE t_ups (k text PRIMARY KEY, seq int, v double precision)")
    sink = PgWireMergeSink(pg, "t_ups", pk=("k",), mode="upsert",
                           tiebreak_col="seq")
    b1 = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0)], "k string, seq int, v double"
    )
    b2 = spark.createDataFrame(
        [("a", 3, 10.5), ("a", 4, 10.9), ("c", 5, 30.0)],
        "k string, seq int, v double",
    )
    sink.merge(b1, 0)
    sink.merge(b2, 1)
    got = [
        (r[0], int(r[1]), float(r[2]))
        for r in _fetch(pg, "SELECT k, seq, v FROM t_ups ORDER BY k")
    ]
    # 'a' corrected by batch 2 (HIGHEST tiebreak within the batch wins)
    assert got == [("a", 4, 10.9), ("b", 2, 20.0), ("c", 5, 30.0)]


def test_psql_merge_null_round_trip(spark, pg):
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_null;"
             "CREATE TABLE t_null (k text PRIMARY KEY, v double precision)")
    sink = PgWireMergeSink(pg, "t_null", pk=("k",), mode="ignore")
    sink.merge(
        spark.createDataFrame([("a", None), ("b", 1.5)], "k string, v double"), 0
    )
    got = {r[0]: r[1] for r in _fetch(pg, "SELECT k, coalesce(v::text, 'NULL') FROM t_null")}
    assert got == {"a": "NULL", "b": "1.5"}


def test_psql_merge_text_format_survives_adversarial_values(spark, pg):
    """The COPY hop must be collision-free: a literal '\\N' string, a line
    consisting of '\\.', embedded tabs/newlines/backslashes, and a NULL in a
    BIGINT column (which coerces every other value in that column to float
    under pandas) all have to land exactly — each of these corrupted or
    aborted the naive CSV encoding. Checked through psql's md5, not the
    sink's own readback."""
    import hashlib

    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_esc;"
             "CREATE TABLE t_esc (k text PRIMARY KEY, s text, n bigint)")
    rows = [
        ("nullmark", "\\N", None),          # literal backslash-N string
        ("dotline", "a\n\\.\nb", 1),        # inline-COPY terminator line
        ("tabs", "x\ty\\z\rw", 2),          # delimiter + backslash + CR
        ("snull", None, 9_007_199_254_740_993),  # NULL text, 2^53+1 bigint
    ]
    sink = PgWireMergeSink(pg, "t_esc", pk=("k",), mode="ignore")
    sink.merge(spark.createDataFrame(rows, "k string, s string, n long"), 0)
    got = {
        r[0]: (r[1], r[2])
        for r in _fetch(
            pg,
            "SELECT k, coalesce(md5(s), 'NULL'), coalesce(n::text, 'NULL')"
            " FROM t_esc",
        )
    }
    expect = {
        k: (
            hashlib.md5(s.encode()).hexdigest() if s is not None else "NULL",
            str(n) if n is not None else "NULL",
        )
        for k, s, n in rows
    }
    assert got == expect


def test_psql_merge_empty_batch_is_a_cheap_noop(spark, pg):
    """foreachBatch delivers empty micro-batches (idle trigger fires); the
    sink must no-op without touching the database."""
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_empty;"
             "CREATE TABLE t_empty (k text PRIMARY KEY, v double precision)")
    # a socket directory that does not exist: any connection would raise
    sink = PgWireMergeSink(["-h", "/nonexistent", "-p", "5432"], "t_empty",
                           pk=("k",), mode="upsert")
    sink.merge(spark.createDataFrame([], "k string, v double"), 0)
    assert _fetch(pg, "SELECT count(*) FROM t_empty") == [["0"]]


def test_psql_merge_failed_batch_leaves_nothing_behind(spark, pg):
    """Atomicity: the merge into the target runs in ONE transaction after
    every partition's COPY, so a batch that fails (here: a NOT NULL
    violation, raised by the merge's INSERT into the target) must leave the
    target untouched, even of the batch's valid rows, and raise with the
    database error attached. The staging table it leaves is dropped by the next
    merge, which commits normally."""
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_atomic;"
             "CREATE TABLE t_atomic (k text PRIMARY KEY,"
             " v double precision NOT NULL)")
    sink = PgWireMergeSink(pg, "t_atomic", pk=("k",), mode="ignore")
    sink.merge(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    bad = spark.createDataFrame([("b", 2.0), ("c", None)], "k string, v double")
    with pytest.raises(Exception, match="t_atomic"):
        sink.merge(bad, 1)
    assert _fetch(pg, "SELECT k, v FROM t_atomic ORDER BY k") == [["a", "1"]]
    sink.merge(spark.createDataFrame([("d", 4.0)], "k string, v double"), 2)
    assert _fetch(pg, "SELECT k, v FROM t_atomic ORDER BY k") == [
        ["a", "1"], ["d", "4"]
    ]
    # the next batch's merge dropped the failed batch's staging table
    assert _fetch(pg, "SELECT count(*) FROM pg_tables WHERE starts_with("
                      f"tablename, '{sink.staging}')") == [["0"]]


def test_pgwire_sink_failed_staging_job_leaves_nothing_behind(spark, pg):
    """A staging task that dies after its COPY commits fails the job (local
    mode runs each task once): ``merge`` raises before the merge
    transaction, so the target is untouched. The failed call's staging
    table outlives it; the next good batch merges normally and its merge
    drops that leftover with its own staging."""
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_stage_fail;"
             "CREATE TABLE t_stage_fail (k text PRIMARY KEY, v double precision)")
    sink = PgWireMergeSink(pg, "t_stage_fail", pk=("k",), mode="upsert")
    schema = "k string, v double"
    leftovers = ("SELECT count(*) FROM pg_tables WHERE starts_with(tablename, "
                 f"'{sink.staging}')")
    sink.merge(spark.createDataFrame([("a", 1.0)], schema), 0)

    def fail():
        raise RuntimeError("injected staging fault")

    sink._post_copy_fault = fail
    # one task: no sibling task of the failed job can outlive it
    bad = spark.createDataFrame([("a", 9.0), ("b", 2.0)], schema).coalesce(1)
    with pytest.raises(Exception, match="injected staging fault"):
        sink.merge(bad, 1)
    assert _fetch(pg, "SELECT k, v FROM t_stage_fail") == [["a", "1"]]
    assert _fetch(pg, leftovers) == [["1"]]
    sink._post_copy_fault = None
    sink.merge(spark.createDataFrame([("c", 3.0)], schema), 2)
    assert _fetch(pg, "SELECT k, v FROM t_stage_fail ORDER BY k") == [
        ["a", "1"], ["c", "3"]
    ]
    assert _fetch(pg, leftovers) == [["0"]]


@pytest.mark.parametrize("backend", ["parquet", "pgwire"])
def test_merge_sinks_run_one_job_per_batch(spark, pg, tmp_path, backend):
    """Each sink's ``foreachBatch`` body runs ONE Spark job per non-empty
    batch: no emptiness probe ahead of the write, so the batch's plan runs
    once and needs no ``persist``."""
    from coin_for_rich_spark.streaming import ParquetMergeSink, PgWireMergeSink

    if backend == "parquet":
        sink = ParquetMergeSink(str(tmp_path / "tbl"), pk=("k",), mode="upsert")
    else:
        _sql(pg, "DROP TABLE IF EXISTS t_one_job;"
                 "CREATE TABLE t_one_job (k text PRIMARY KEY, v double precision)")
        sink = PgWireMergeSink(pg, "t_one_job", pk=("k",), mode="upsert")
    # local rows: building the batch runs no job and needs no shuffle
    batch = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    sc = spark.sparkContext
    group = f"merge_one_job_{backend}"
    sc.setJobGroup(group, "merge")
    try:
        sink.merge(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_psql_sink_matches_parquet_twin_on_a_real_stream(spark, sf_dir, tmp_path, pg):
    """Capstone: the same staged micro-batch replay (the q_stream_upsert_ingest
    shape — upsert on (user_id, event_type), ts tiebreak) driven through both
    sink backends; the Postgres table must equal the parquet twin's resolved
    read row-for-row."""
    from coin_for_rich_spark.sources import load_table
    from coin_for_rich_spark.streaming import (
        ParquetMergeSink,
        PgWireMergeSink,
        run_ingest,
    )
    from coin_for_rich_spark.streaming.source import (
        read_file_stream,
        stage_stream_chunks,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    staged = str(tmp_path / "staged")
    schema = stage_stream_chunks(ev, staged, n_chunks=4)

    pq_sink = ParquetMergeSink(
        str(tmp_path / "tbl"), pk=("user_id", "event_type"), mode="upsert",
        tiebreak_col="ts",
    )
    _sql(pg, "DROP TABLE IF EXISTS events_ing;"
             "CREATE TABLE events_ing (event_id bigint, ts timestamp,"
             " event_type text, user_id bigint, value double precision,"
             " PRIMARY KEY (user_id, event_type))")
    ps_sink = PgWireMergeSink(
        pg, "events_ing", pk=("user_id", "event_type"), mode="upsert",
        tiebreak_col="ts",
    )
    run_ingest(read_file_stream(spark, staged, schema), pq_sink,
               str(tmp_path / "ckpt_pq"))
    run_ingest(read_file_stream(spark, staged, schema), ps_sink,
               str(tmp_path / "ckpt_ps"))

    def key(t):
        return (t[3], t[2])

    expect = sorted(
        (
            (r["event_id"], r["ts"], r["event_type"], r["user_id"], r["value"])
            for r in pq_sink.read(spark).collect()
        ),
        key=key,
    )
    got = sorted(
        (
            (
                int(r[0]),
                dt.datetime.strptime(
                    r[1] + ("" if "." in r[1] else ".0"), "%Y-%m-%d %H:%M:%S.%f"
                ),
                r[2],
                int(r[3]),
                float(r[4]),
            )
            for r in _fetch(
                pg,
                "SELECT event_id, ts, event_type, user_id, value FROM events_ing",
            )
        ),
        key=key,
    )
    assert len(got) == len(expect) > 0
    assert got == expect


def test_pg_ddl_maps_schema_and_rejects_composites():
    from coin_for_rich_spark.streaming.jdbc import pg_ddl

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("n", T.LongType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    ddl = pg_ddl("t", schema, ["k", "ts"])
    assert ddl == (
        "CREATE TABLE t (k text, ts timestamp, n bigint, "
        "v double precision, PRIMARY KEY (k, ts))"
    )
    bad = T.StructType([T.StructField("a", T.ArrayType(T.LongType()))])
    with pytest.raises(TypeError, match="scalar"):
        pg_ddl("t", bad, ["a"])


def test_hypertable_ddl_guarded_and_pk_validated():
    """The TimescaleDB conversion (the reference's create_hypertable on
    ohlcvs) must be extension-guarded — identical DDL deploys against plain
    PostgreSQL as a no-op — and must reject a time column outside the PK
    at DDL-build time (TimescaleDB requires the partitioning column in
    every unique index; better a ValueError here than a server error at
    deploy)."""
    from coin_for_rich_spark.streaming.jdbc import hypertable_ddl

    ddl = hypertable_ddl("ohlcvs", "ts", ["symbol", "ts"])
    # guard on pg_extension (INSTALLED), never CREATE EXTENSION: a DO block
    # is a transaction context, where TimescaleDB's loader refuses install
    assert "pg_extension" in ddl and "extname = 'timescaledb'" in ddl
    assert "CREATE EXTENSION" not in ddl
    assert "create_hypertable('ohlcvs', 'ts', if_not_exists => TRUE)" in ddl
    with pytest.raises(ValueError, match="primary key"):
        hypertable_ddl("events", "ts", ["user_id", "event_type"])


def test_create_table_with_hypertable_on_plain_postgres(spark, pg):
    """On a server WITHOUT timescaledb the guarded conversion is a no-op:
    the table comes up as a plain PK table and the merge path is unchanged
    — the exact degradation contract the DDL promises."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    sink = PgWireMergeSink(pg, "hyper_t", ("k", "ts"), mode="upsert")
    sink.create_table(schema, drop=True, hypertable_time_col="ts")
    import datetime

    df = spark.createDataFrame(
        [("a", datetime.datetime(2024, 1, 1, 0, 0), 1.5)], schema
    )
    sink.merge(df, 0)
    rows = _fetch(pg, "SELECT k, v FROM hyper_t")
    assert rows == [["a", "1.5"]]


_UTC = dt.timezone.utc
_IST = dt.timezone(dt.timedelta(hours=5, minutes=30))

# The COPY contract of the sink's per-value encoding, one row per case:
# (id, value, Spark type, value decoded back). The text-format reference
# stores ``pg_text_value(_utc_wall_clock(value))`` and ``pg_text_parse``
# must give back the last field; the live round trip below sends every
# accepted row through the sink's binary COPY and must read back the same.
# ``TypeError`` marks a value the text encoder must reject at the sink
# boundary.
PG_TEXT_CASES = [
    ("null", None, T.StringType(), None),
    ("literal-backslash-N", "\\N", T.StringType(), "\\N"),
    ("end-of-copy-marker", "\\.", T.StringType(), "\\."),
    ("marker-line", "a\n\\.\nb", T.StringType(), "a\n\\.\nb"),
    ("tab", "x\ty", T.StringType(), "x\ty"),
    ("newline", "nl\nnl", T.StringType(), "nl\nnl"),
    ("cr", "a\rb", T.StringType(), "a\rb"),
    ("backslash", "back\\slash", T.StringType(), "back\\slash"),
    # a literal backslash-t must NOT come back as a tab
    ("backslash-t", "a\\tb", T.StringType(), "a\\tb"),
    ("double-backslash", "\\\\", T.StringType(), "\\\\"),
    # COPY TO escapes these on the way out though the write side does not
    ("server-escaped-controls", "a\x0bb\x08c\x0cd", T.StringType(),
     "a\x0bb\x08c\x0cd"),
    ("empty-string", "", T.StringType(), ""),
    # byte length != character length
    ("multi-byte-utf8", "Zürich ₿ 𝄞", T.StringType(), "Zürich ₿ 𝄞"),
    ("nan", float("nan"), T.DoubleType(), float("nan")),
    ("inf", float("inf"), T.DoubleType(), float("inf")),
    ("-inf", float("-inf"), T.DoubleType(), float("-inf")),
    ("negative-zero", -0.0, T.DoubleType(), -0.0),
    ("point-one", 0.1, T.DoubleType(), 0.1),
    ("2**53+1", 2**53 + 1, T.LongType(), 2**53 + 1),
    ("max-long", 2**63 - 1, T.LongType(), 2**63 - 1),
    ("min-long", -(2**63), T.LongType(), -(2**63)),
    ("bool", True, T.BooleanType(), True),
    ("date", dt.date(2024, 2, 29), T.DateType(), dt.date(2024, 2, 29)),
    # before PostgreSQL's 2000-01-01 epoch: a negative binary day count
    ("pre-2000-date", dt.date(1999, 12, 31), T.DateType(), dt.date(1999, 12, 31)),
    ("utc-timestamp-us", dt.datetime(2024, 1, 2, 3, 4, 5, 678901, _UTC),
     T.TimestampType(), dt.datetime(2024, 1, 2, 3, 4, 5, 678901)),
    # before PostgreSQL's 2000 epoch (negative binary µs), then also before
    # Spark's 1970 epoch (negative µs on both sides)
    ("pre-2000-utc-timestamp", dt.datetime(1999, 12, 31, 23, 59, 59, 999999, _UTC),
     T.TimestampType(), dt.datetime(1999, 12, 31, 23, 59, 59, 999999)),
    ("pre-1970-utc-timestamp", dt.datetime(1969, 7, 20, 20, 17, 40, 1, _UTC),
     T.TimestampType(), dt.datetime(1969, 7, 20, 20, 17, 40, 1)),
    # an aware non-UTC value is stored as its UTC wall clock
    ("aware-non-utc-timestamp", dt.datetime(2024, 1, 2, 3, 4, 5, 6, _IST),
     T.TimestampType(), dt.datetime(2024, 1, 1, 21, 34, 5, 6)),
    ("bytea", b"\x00\x01\\\xff", T.BinaryType(), b"\x00\x01\\\xff"),
    ("reject-list", [1, 2], T.ArrayType(T.LongType()), TypeError),
    ("reject-tuple", (1, 2), T.ArrayType(T.LongType()), TypeError),
    ("reject-set", {1, 2}, T.ArrayType(T.LongType()), TypeError),
    ("reject-dict", {"k": 1}, T.MapType(T.StringType(), T.LongType()),
     TypeError),
    ("reject-row", Row(a=1), T.StructType([T.StructField("a", T.LongType())]),
     TypeError),
]


def _same(got, expected) -> bool:
    if isinstance(got, float) and isinstance(expected, float):
        return repr(got) == repr(expected)  # NaN is itself; -0.0 is not 0.0
    return got == expected


@pytest.mark.parametrize(
    "value, dtype, expected",
    [c[1:] for c in PG_TEXT_CASES],
    ids=[c[0] for c in PG_TEXT_CASES],
)
def test_pg_text_parse_inverts_pg_text_value(value, dtype, expected):
    from coin_for_rich_spark.streaming.jdbc import (
        _utc_wall_clock,
        pg_text_parse,
        pg_text_value,
    )

    if expected is TypeError:
        # str(v) would ship Python repr, which is not COPY text for these
        with pytest.raises(TypeError, match="PostgreSQL COPY"):
            pg_text_value(value)
        return
    got = pg_text_parse(pg_text_value(_utc_wall_clock(value)), dtype)
    assert _same(got, expected), (got, expected)


def test_pg_text_table_round_trips_through_live_merge_and_read(spark, pg):
    """The whole COPY-text table through the server: every accepted case,
    one row each (its value in its type's column, NULL in the others),
    merged by PgWireMergeSink from executors and read back over COPY TO,
    must decode to the table's expected value."""
    from coin_for_rich_spark.streaming import PgWireMergeSink
    from coin_for_rich_spark.streaming.jdbc import _utc_wall_clock

    cases = [c for c in PG_TEXT_CASES if c[3] is not TypeError]
    types = {}
    for _, _, dtype, _ in cases:
        types.setdefault(dtype.simpleString(), dtype)
    cols = {name: f"c{i}" for i, name in enumerate(types)}
    schema = T.StructType(
        [T.StructField("k", T.StringType())]
        + [T.StructField(cols[name], t) for name, t in types.items()]
    )
    rows = []
    for cid, value, dtype, _ in cases:
        row = {c: None for c in cols.values()}
        row[cols[dtype.simpleString()]] = value
        rows.append((cid, *row.values()))
    sink = PgWireMergeSink(pg, "t_text_table", pk=("k",), mode="ignore")
    sink.create_table(schema, drop=True)
    sink.merge(spark.createDataFrame(rows, schema).repartition(3), 0)
    got = {r["k"]: r.asDict() for r in sink.read(spark, schema).collect()}
    assert set(got) == {c[0] for c in cases}
    for cid, _, dtype, expected in cases:
        v = got[cid].pop(cols[dtype.simpleString()])
        if isinstance(v, dt.datetime):
            v = _utc_wall_clock(v)  # collect() yields the host-local clock
        assert _same(v, expected), (cid, v, expected)
        assert all(x is None for c, x in got[cid].items() if c != "k"), cid


def test_psql_read_back_matches_merged_state(spark, pg):
    """sink.read must return EXACTLY the resolved rows the database holds —
    NULLs, adversarial strings, large ints, and µs timestamps included —
    as typed Spark rows (this is the transport the declared
    stream_upsert_ingest row certifies)."""
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_rb;"
             "CREATE TABLE t_rb (k text PRIMARY KEY, s text, n bigint,"
             " v double precision, ts timestamp)")
    rows = [
        ("a", "x\ty\\z\n\\.", 2**53 + 1, 0.1, dt.datetime(2024, 1, 1, 0, 0, 0)),
        ("b", None, None, None, None),
        ("c", "\\N", -7, 6.55, dt.datetime(2024, 6, 30, 23, 59, 59, 999999)),
    ]
    schema = "k string, s string, n long, v double, ts timestamp"
    sink = PgWireMergeSink(pg, "t_rb", pk=("k",), mode="ignore")
    batch = spark.createDataFrame(rows, schema)
    sink.merge(batch, 0)
    got = sorted(tuple(r) for r in sink.read(spark, batch.schema).collect())
    assert got == sorted(rows)


def test_declared_query_psql_leg_matches_parquet_twin(spark, sf_dir, monkeypatch):
    """Gate-level capstone for the r6 wiring: q_stream_upsert_ingest with
    SPARK_GRAFT_PSQL=1 (resolved state read back FROM a live Postgres) must
    equal the parquet twin (=0) row-for-row — the two legs of the declared
    query are interchangeable, so the correctness row is backend-invariant."""
    import __spark_entry__ as entry_mod

    monkeypatch.setenv("SPARK_GRAFT_PSQL", "1")
    via_pg = sorted(
        tuple(r) for r in entry_mod.q_stream_upsert_ingest(spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_PSQL", "0")
    via_parquet = sorted(
        tuple(r) for r in entry_mod.q_stream_upsert_ingest(spark, sf_dir).collect()
    )
    assert len(via_pg) == len(via_parquet) > 0
    assert via_pg == via_parquet


# ---------------------------------------------------------------------------
# Wire-protocol client (streaming/pgwire.py) and the sink's distributed
# staging, against the same live server.
# ---------------------------------------------------------------------------


def test_pgwire_client_query_copy_and_errors(pg):
    from coin_for_rich_spark.streaming.pgwire import (
        PgError,
        PgWireClient,
        conninfo_params,
    )

    with PgWireClient(**conninfo_params(pg)) as c:
        rows, tags = c.query("SELECT 1, NULL")
        assert rows == [["1", None]] and tags == ["SELECT 1"]
        c.query("DROP TABLE IF EXISTS wt; CREATE TABLE wt (k text, v int)")
        assert c.copy_in(
            "COPY wt (k, v) FROM STDIN", [b"a\t1\n", b"b\t2\nc\t3\n"]
        ) == "COPY 3"
        with pytest.raises(PgError, match="does not exist"):
            c.query("SELECT no_such_col FROM wt")
        # connection stays usable after an error cycle
        assert c.query("SELECT count(*) FROM wt")[0] == [["3"]]
        with pytest.raises(PgError, match="invalid input"):
            c.copy_in("COPY wt (k, v) FROM STDIN", [b"z\tnope\n"])
        assert c.query("SELECT count(*) FROM wt")[0] == [["3"]]


def test_ephemeral_cluster_pins_c_collation(pg):
    """The throwaway cluster must initdb with --locale=C: an inherited
    en_US-style locale would sort strings case-insensitively in
    DISTINCT ON ... ORDER BY, silently forking tied-row winners from the
    byte-wise ParquetMergeSink — the exact cross-backend parity the
    NULLS-pinned order terms guarantee."""
    rows = _fetch(pg, "SHOW lc_collate")
    assert rows[0][0] in ("C", "POSIX"), rows
    # byte-order proof: uppercase sorts before lowercase under C collation
    got = _fetch(pg, "SELECT x FROM (VALUES ('a'), ('B')) t(x) ORDER BY x")
    assert [r[0] for r in got] == ["B", "a"]


def test_conninfo_parsing_strict_and_complete():
    """Silently-dropped conninfo arguments are a data-placement hazard (the
    sink would merge into postgres/postgres instead of where the caller
    said) — unknown tokens must ERROR, and the shapes psql itself accepts
    (long flags, positional dbname) must parse."""
    from coin_for_rich_spark.streaming.pgwire import conninfo_params

    assert conninfo_params(["-h", "/tmp/s", "-U", "u", "-d", "db"]) == {
        "host": "/tmp/s", "user": "u", "database": "db"
    }
    assert conninfo_params(["--user=ingest", "--host=h", "mydb"]) == {
        "user": "ingest", "host": "h", "database": "mydb"
    }
    with pytest.raises(ValueError, match="unrecognized"):
        conninfo_params(["--wat=1"])
    with pytest.raises(ValueError, match="missing its value"):
        conninfo_params(["-h"])


def test_pgwire_copy_through_query_fails_fast(pg):
    """COPY FROM STDIN through query() would deadlock waiting for CopyData
    until the socket timeout; the client must reject it immediately and
    keep the connection usable is NOT promised (fail loud, fail fast)."""
    from coin_for_rich_spark.streaming.pgwire import (
        PgError,
        PgWireClient,
        conninfo_params,
    )

    with PgWireClient(**conninfo_params(pg)) as c:
        c.query("CREATE TABLE IF NOT EXISTS qcopy_t (a int)")
        with pytest.raises(PgError, match=r"copy_in\(\) or copy_out\(\)"):
            c.query("COPY qcopy_t FROM STDIN")


def test_pgwire_copy_out_streams_and_drains_errors(pg):
    """copy_out returns the COPY TO payload byte-exact; a server error and a
    COPY FROM STDIN sent to it both raise PgError and leave the connection
    usable."""
    from coin_for_rich_spark.streaming.pgwire import (
        PgError,
        PgWireClient,
        conninfo_params,
    )

    with PgWireClient(**conninfo_params(pg)) as c:
        c.query("DROP TABLE IF EXISTS co_t; CREATE TABLE co_t (k text, v int)")
        c.copy_in("COPY co_t FROM STDIN", [b"a\\tb\t1\n", b"z\t\\N\n"])
        assert c.copy_out("COPY co_t TO STDOUT") == b"a\\tb\t1\nz\t\\N\n"
        assert c.copy_out("COPY (SELECT 1 WHERE false) TO STDOUT") == b""
        with pytest.raises(PgError, match="does not exist"):
            c.copy_out("COPY no_such_t TO STDOUT")
        with pytest.raises(PgError, match="copy_out"):
            c.copy_out("COPY co_t FROM STDIN")
        assert c.query("SELECT count(*) FROM co_t")[0] == [["2"]]


def test_pgwire_distributed_sink_stages_partitions_in_parallel(spark, pg):
    """A multi-partition batch lands complete and correctly merged: every
    executor partition COPYs over its own wire connection, and the merge
    resolves within-batch duplicates by the shared winner rule."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_w;"
             "CREATE TABLE t_w (k text PRIMARY KEY, seq int, v double precision)")
    sink = PgWireMergeSink(pg, "t_w", pk=("k",), mode="upsert",
                           tiebreak_col="seq")
    rows = [(f"k{i % 40}", i, float(i)) for i in range(400)]
    batch = spark.createDataFrame(
        rows, "k string, seq int, v double"
    ).repartition(8)
    sink.merge(batch, 0)
    got = {r[0]: (int(r[1]), float(r[2])) for r in _fetch(pg, "SELECT * FROM t_w")}
    # upsert: highest seq per key wins (within_batch_order newest-first)
    want = {}
    for k, seq, v in rows:
        if k not in want or seq > want[k][0]:
            want[k] = (seq, v)
    assert got == want and len(got) == 40
    # staging cleaned up inside the merge transaction
    assert _fetch(pg, "SELECT count(*) FROM pg_tables WHERE tablename LIKE '_cfr_wstage%'")[0][0] == "0"
    # 16 tasks race to create each call's staging table: the advisory lock
    # serializes their CREATE ... IF NOT EXISTS, every batch lands whole
    for batch_id in range(1, 4):
        rows = [(f"k{i % 40}", 1000 * batch_id + i, float(i)) for i in range(800)]
        batch = spark.createDataFrame(
            rows, "k string, seq int, v double"
        ).repartition(16)
        sink.merge(batch, batch_id)
        got = {r[0]: int(r[1]) for r in _fetch(pg, "SELECT k, seq FROM t_w")}
        assert got == {f"k{i}": 1000 * batch_id + 760 + i for i in range(40)}
    assert _fetch(pg, "SELECT count(*) FROM pg_tables WHERE tablename LIKE '_cfr_wstage%'")[0][0] == "0"


def test_pgwire_sink_failed_merge_leaves_target_untouched(spark, pg):
    """Atomicity: a batch that fails in the merge transaction — a Spark
    ``long`` out of the target's ``integer`` range (staging is typed from
    the batch, so the INSERT's assignment cast raises), or a NOT NULL
    violation — raises with the database error attached and leaves the
    target in its previous state; the next batch recreates staging and
    merges normally."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_wf;"
             "CREATE TABLE t_wf (k text PRIMARY KEY, n int NOT NULL)")
    sink = PgWireMergeSink(pg, "t_wf", pk=("k",), mode="ignore")
    schema = "k string, n long"
    sink.merge(spark.createDataFrame([("a", 1)], schema), 0)
    for bad, error in (
        ([("b", 2**40)], "out of range"),
        ([("b", 2), ("c", None)], "not-null constraint"),
    ):
        with pytest.raises(Exception, match=error):
            sink.merge(spark.createDataFrame(bad, schema), 1)
        assert _fetch(pg, "SELECT k, n FROM t_wf") == [["a", "1"]]
    sink.merge(spark.createDataFrame([("d", 4)], schema), 2)
    assert _fetch(pg, "SELECT k, n FROM t_wf ORDER BY k") == [
        ["a", "1"], ["d", "4"]
    ]


@pytest.mark.parametrize(
    "ddl, row",
    [
        ("k string, tags array<long>", ("a", [1, 2])),
        ("k string, price decimal(18,2)", ("a", Decimal("1.50"))),
        ("k string, seen timestamp_ntz", ("a", dt.datetime(2024, 1, 1))),
    ],
    ids=["array", "decimal", "timestamp_ntz"],
)
def test_pgwire_sink_rejects_unmapped_types_before_connecting(spark, ddl, row):
    """A column with no binary COPY encoding raises TypeError naming it on
    the driver, before any connection: the socket dir does not exist, so
    connecting first would raise a connection error instead."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    sink = PgWireMergeSink(["-h", "/nonexistent", "-p", "5432"], "t_types",
                           pk=("k",), mode="upsert")
    batch = spark.createDataFrame([row], ddl)
    column = batch.columns[1]
    with pytest.raises(TypeError, match=f"column '{column}'"):
        sink.merge(batch, 0)


def test_pgwire_sink_rejects_staging_names_past_63_bytes():
    """Each merge stages into ``<staging>_<12 hex>``; past PostgreSQL's
    63-byte identifier limit the server would truncate that name silently
    and the merge's sweep of leftovers would never match it."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    conninfo = ["-h", "/nonexistent", "-p", "5432"]
    sink = PgWireMergeSink(conninfo, "t" * 38, pk=("k",))
    assert len(sink.staging.encode()) + 13 == 63
    with pytest.raises(ValueError, match="63-byte"):
        PgWireMergeSink(conninfo, "t" * 39, pk=("k",))


def test_pgwire_sink_merge_sql_for_ingest_benchmark_is_pinned():
    """The merge statement the sink builds for the ``ingest_pg`` benchmark's
    configuration (upsert on ``(symbol, bucket)`` over the hold-back
    collector's ``OUTPUT_SCHEMA`` columns, no tiebreak column), pinned
    verbatim, so a refactor of the SQL builder or of the winner rule cannot
    move the SQL PostgreSQL executes. The staging name is random per merge;
    ``stg`` stands in for it."""
    from coin_for_rich_spark.streaming.jdbc import (
        PgWireMergeSink,
        pg_dedup_order,
        upsert_sql,
    )
    from coin_for_rich_spark.streaming.stateful import OUTPUT_SCHEMA

    sink = PgWireMergeSink(["-h", "/nonexistent", "-p", "5432"], "candles_1m",
                           pk=("symbol", "bucket"), mode="upsert")
    cols = OUTPUT_SCHEMA.fieldNames()
    order = pg_dedup_order(sink.mode, sink.pk, sink.tiebreak_col, cols)
    assert upsert_sql(sink.table, "stg", cols, sink.pk, sink.mode, order) == (
        "INSERT INTO candles_1m (symbol, bucket, open, high, low, close, "
        "volume, n_trades) SELECT DISTINCT ON (symbol, bucket) symbol, bucket, "
        "open, high, low, close, volume, n_trades FROM stg ORDER BY symbol, "
        "bucket, close ASC NULLS FIRST, high ASC NULLS FIRST, low ASC NULLS "
        "FIRST, n_trades ASC NULLS FIRST, open ASC NULLS FIRST, volume ASC "
        "NULLS FIRST ON CONFLICT (symbol, bucket) DO UPDATE SET open = "
        "excluded.open, high = excluded.high, low = excluded.low, close = "
        "excluded.close, volume = excluded.volume, n_trades = excluded.n_trades"
    )


def test_pgwire_sink_stages_many_arrow_batches_from_one_partition(spark, pg):
    """A 25,000-row single-partition batch reaches its one staging task as
    three Arrow record batches (default maxRecordsPerBatch 10,000), COPYed
    over one connection: the count and per-column sums read back through
    ``read()`` equal the batch's own, NULLs and both epochs' signs
    included."""
    from pyspark.sql import functions as F

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    pg_epoch_us = 946_684_800 * 10**6
    batch = spark.range(25_000).select(
        F.format_string("k%05d", "id").alias("k"),
        (F.col("id") - 12_500).alias("n"),
        F.when(F.col("id") % 7 != 0, F.col("id") * 0.5).alias("v"),
        # one hour and 3 µs apart, straddling PostgreSQL's 2000 epoch
        F.timestamp_micros(F.col("id") * 3_600_000_003 + pg_epoch_us - 10**13)
        .alias("ts"),
        F.date_add(F.lit("1969-12-01").cast("date"), F.col("id").cast("int"))
        .alias("d"),
        (F.col("id") % 3 == 0).alias("flag"),
    ).coalesce(1)
    assert int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")) < 25_000
    sink = PgWireMergeSink(pg, "t_arrow_batches", pk=("k",), mode="ignore")
    sink.create_table(batch.schema, drop=True)
    sink.merge(batch, 0)

    def sums(df):
        return tuple(df.agg(
            F.count("*"), F.sum("n"), F.count("v"), F.sum("v"),
            F.sum(F.unix_micros("ts").cast("decimal(38,0)")),
            F.sum(F.unix_date("d")), F.sum(F.col("flag").cast("int")),
            F.sum(F.length("k")),
        ).first())

    assert sums(sink.read(spark, batch.schema)) == sums(batch)


def test_pgwire_client_over_tcp(spark):
    """The production transport: the same client + distributed sink over
    localhost TCP instead of the unix socket."""
    import socket as pysocket
    import tempfile

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink
    from coin_for_rich_spark.streaming.pgwire import PgWireClient, conninfo_params

    with pysocket.socket() as s:  # grab a free port
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    conninfo, stop = start_cluster(
        tempfile.mkdtemp(prefix="cfr_pg_tcp_"), tcp_port=port
    )
    try:
        params = conninfo_params(conninfo)
        assert params["host"] == "localhost" and int(params["port"]) == port
        with PgWireClient(**params) as c:
            assert c.query("SELECT 42")[0] == [["42"]]
            c.query("CREATE TABLE t_tcp (k text PRIMARY KEY, v int)")
        sink = PgWireMergeSink(conninfo, "t_tcp", pk=("k",), mode="ignore")
        sink.merge(
            spark.createDataFrame(
                [("a", 1), ("b", 2)], "k string, v int"
            ).repartition(2),
            0,
        )
        assert _fetch(conninfo, "SELECT k, v FROM t_tcp ORDER BY k") == [
            ["a", "1"],
            ["b", "2"],
        ]
    finally:
        stop()


def test_pgwire_sink_adversarial_values_round_trip(spark, pg):
    """The wire COPY path must survive adversarial payloads: embedded
    tabs/newlines/backslashes, the literal NULL token, end-of-copy marker
    lookalikes, NaN/inf floats, and µs timestamps — staged from
    executors, read back typed."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_wa;"
             "CREATE TABLE t_wa (k text PRIMARY KEY, s text,"
             " v double precision, ts timestamp)")
    rows = [
        ("tabs", "a\tb\tc", 1.5, dt.datetime(2024, 1, 1)),
        ("nl", "x\ny\rz", float("nan"), None),
        ("bs", "back\\slash \\N \\.", float("inf"), dt.datetime(2024, 2, 2)),
        ("nul", None, -0.0, dt.datetime(2024, 3, 3, 4, 5, 6, 789012)),
    ]
    schema = "k string, s string, v double, ts timestamp"
    sink = PgWireMergeSink(pg, "t_wa", pk=("k",), mode="ignore")
    batch = spark.createDataFrame(rows, schema)
    sink.merge(batch.repartition(3), 0)
    got = {r["k"]: tuple(r) for r in sink.read(spark, batch.schema).collect()}
    import math

    for k, s, v, ts in rows:
        gk, gs, gv, gts = got[k]
        assert gs == s
        if v is not None and math.isnan(v):
            assert math.isnan(gv)
        else:
            assert gv == v
        assert gts == ts


def test_pg_readback_unescapes_server_control_chars(spark, pg):
    """COPY TO escapes \\b \\f \\v (beyond the \\t \\n \\r the write side
    produces); the readback parser must undo all of them — a stored
    vertical tab must not come back as the letter 'v'."""
    from coin_for_rich_spark.streaming import PgWireMergeSink

    _sql(pg, "DROP TABLE IF EXISTS t_ctl;"
             "CREATE TABLE t_ctl (k text PRIMARY KEY, s text)")
    rows = [("vt", "a\x0bb"), ("bsp", "x\x08y"), ("ff", "p\x0cq")]
    schema = "k string, s string"
    sink = PgWireMergeSink(pg, "t_ctl", pk=("k",), mode="ignore")
    batch = spark.createDataFrame(rows, schema)
    sink.merge(batch, 0)
    got = {r["k"]: r["s"] for r in sink.read(spark, batch.schema).collect()}
    assert got == dict(rows)


def test_null_tiebreak_parity_with_parquet_twin(spark, pg, tmp_path):
    """A NULL tiebreak value must resolve to the SAME winner in the
    database as in the parquet twin: Spark desc() is nulls-LAST,
    PostgreSQL's bare DESC is nulls-FIRST, so the rendered ORDER BY pins
    NULLS LAST explicitly."""
    from coin_for_rich_spark.streaming import ParquetMergeSink, PgWireMergeSink

    rows = [("k1", None, 1.0), ("k1", dt.datetime(2024, 1, 1), 2.0)]
    schema = "k string, ts timestamp, v double"
    batch = spark.createDataFrame(rows, schema)

    pq = ParquetMergeSink(
        str(tmp_path / "tbl"), pk=("k",), mode="upsert", tiebreak_col="ts"
    )
    pq.merge(batch, 0)
    pq_v = pq.read(spark).collect()[0]["v"]

    _sql(pg, "DROP TABLE IF EXISTS t_nt;"
             "CREATE TABLE t_nt (k text PRIMARY KEY, ts timestamp,"
             " v double precision)")
    sink = PgWireMergeSink(pg, "t_nt", pk=("k",), mode="upsert",
                           tiebreak_col="ts")
    sink.merge(batch, 0)
    got = _fetch(pg, "SELECT v FROM t_nt")[0][0]
    assert float(got) == pq_v, (got, pq_v)


def test_pgwire_sink_stages_one_task_per_nonempty_partition(spark, pg, tmp_path):
    """The sink stages each micro-batch as it arrives: one COPY per
    non-empty partition of the batch, no repartition of its own. A
    1-partition batch stages through exactly one COPY, the same rows in 4
    partitions through exactly 4, and both merge to the same state."""
    import os
    import uuid

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    rows = [(f"k{i % 40}", i, float(i)) for i in range(400)]
    schema = "k string, seq int, v double"
    states = {}
    for nparts in (1, 4):
        t = f"t_copies{nparts}"
        marks = tmp_path / t
        marks.mkdir()
        _sql(pg, f"DROP TABLE IF EXISTS {t};"
                 f"CREATE TABLE {t} (k text PRIMARY KEY, seq int,"
                 " v double precision)")
        sink = PgWireMergeSink(pg, t, pk=("k",), mode="upsert",
                               tiebreak_col="seq")
        marks_dir = str(marks)
        # runs on the executor after each partition's COPY commits
        sink._post_copy_fault = lambda: open(
            os.path.join(marks_dir, uuid.uuid4().hex), "w"
        ).close()
        batch = spark.createDataFrame(rows, schema)
        batch = batch.coalesce(1) if nparts == 1 else batch.repartition(4)
        sink.merge(batch, 0)
        assert len(os.listdir(marks)) == nparts
        states[nparts] = sorted(_fetch(pg, f"SELECT * FROM {t}"))
    assert states[1] == states[4] and len(states[1]) == 40


def test_pgwire_sink_single_partition_batch_merges_identically(spark, pg):
    """End-to-end through one staging task: a 1-partition batch
    (the local micro-batch shape) must merge to the same state as the
    8-partition batch of the same rows."""
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink

    rows = [(f"k{i % 40}", i, float(i)) for i in range(400)]
    schema = "k string, seq int, v double"
    states = {}
    for t, nparts in (("t_np1", 1), ("t_np8", 8)):
        _sql(pg, f"DROP TABLE IF EXISTS {t};"
                 f"CREATE TABLE {t} (k text PRIMARY KEY, seq int,"
                 " v double precision)")
        sink = PgWireMergeSink(pg, t, pk=("k",), mode="upsert",
                               tiebreak_col="seq")
        batch = spark.createDataFrame(rows, schema)
        batch = batch.coalesce(1) if nparts == 1 else batch.repartition(8)
        sink.merge(batch, 0)
        states[t] = sorted(_fetch(pg, f"SELECT * FROM {t}"))
    assert states["t_np1"] == states["t_np8"] and len(states["t_np1"]) == 40
