"""PostgreSQL/TimescaleDB merge sink: the north-star backend (S5/S7).

Reference parity: candle batches land in Postgres via COPY with an
``INSERT ... ON CONFLICT DO NOTHING | DO UPDATE`` merge
(`fetchers/helpers/dbhelpers.py:34-132`, templates
`fetchers/config/queries.py:4,12-15`). The driver-defined target approach is
"Structured Streaming + PostgreSQL/TimescaleDB sink" (BASELINE.json), so
``PgWireMergeSink`` is the production twin of ``ParquetMergeSink``:
identical ``merge(batch, batch_id)`` interface, pluggable into
``run_ingest``.

One sink, one client, one Spark action per micro-batch. Executors stage their
partitions in parallel into an UNLOGGED staging table over the raw v3 wire
protocol (``streaming/pgwire.py``, pure stdlib): the first task with rows
creates the table, and each task encodes whole Arrow record batches
(``mapInArrow``) into binary COPY tuples with pyarrow/numpy, no per-row
Python. If any rows were staged, the driver then issues ONE set-based
``INSERT ... SELECT ... ON CONFLICT`` + staging drop in one transaction —
the merge runs inside the database, the only place it can be transactional
for an external store. Table DDL (``create_table``) and the resolved-state
readback (``read``, ``COPY ... TO STDOUT`` in text format) go through the
same client. Integration-tested against a live PostgreSQL
(tests/test_postgres_sink.py).
"""

from __future__ import annotations

import datetime
import math
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Spark type -> (PostgreSQL column type, binary COPY value dtype). The dtype
# is the native numpy storage of a fixed-width value, shipped big-endian;
# None marks a length-prefixed byte string (UTF-8 text, raw bytea).
# Deliberately scalar-only: composite Spark types must be serialized
# upstream, and every other type is refused before a connection opens.
_PG_TYPES: dict[type, tuple[str, str | None]] = {
    T.LongType: ("bigint", "i8"),
    T.IntegerType: ("integer", "i4"),
    T.ShortType: ("smallint", "i2"),
    T.DoubleType: ("double precision", "f8"),
    T.FloatType: ("real", "f4"),
    T.StringType: ("text", None),
    T.BooleanType: ("boolean", "u1"),
    T.TimestampType: ("timestamp", "i8"),
    T.DateType: ("date", "i4"),
    T.BinaryType: ("bytea", None),
}

# PostgreSQL's binary epoch is 2000-01-01, Arrow's 1970-01-01: timestamps
# shift by that many µs, dates by that many days
_PG_EPOCH_SHIFT = {T.TimestampType: 946_684_800_000_000, T.DateType: 10_957}

# binary COPY framing: signature, flags and header-extension length (both
# zero), and the int16 -1 that ends the stream
_PG_COPY_HEADER = b"PGCOPY\n\xff\r\n\x00" + bytes(8)
_PG_COPY_TRAILER = b"\xff\xff"


def _pg_type(field: T.StructField) -> tuple[str, str | None]:
    pg = _PG_TYPES.get(type(field.dataType))
    if pg is None:
        raise TypeError(
            f"column {field.name!r}: no PostgreSQL mapping for Spark type "
            f"{field.dataType.simpleString()}; serialize it to a scalar first"
        )
    return pg


def _pg_columns(schema: T.StructType) -> str:
    """``name type, ...`` column list for ``schema``; raises TypeError
    naming the first column with no PostgreSQL mapping."""
    return ", ".join(f"{f.name} {_pg_type(f)[0]}" for f in schema.fields)


def pg_ddl(table: str, schema: T.StructType, pk: list[str]) -> str:
    """CREATE TABLE statement for ``schema`` with a composite PRIMARY KEY —
    the unique index ``ON CONFLICT (pk)`` requires. TimescaleDB would add
    ``SELECT create_hypertable(...)`` after this; the merge semantics are
    identical either way (`scripts/database/init/create.sql:12-22`)."""
    return (
        f"CREATE TABLE {table} ({_pg_columns(schema)}, "
        f"PRIMARY KEY ({', '.join(pk)}))"
    )


def _copy_binary_plan(schema: T.StructType) -> list[tuple[str | None, int]]:
    """Per-column encoder plan for :func:`_copy_binary_tuples`: the value
    dtype and the epoch shift of each field. Built on the driver, so a
    column with no PostgreSQL mapping (array, map, struct, decimal,
    TimestampNTZ) raises TypeError naming it before any connection opens."""
    return [
        (_pg_type(f)[1], _PG_EPOCH_SHIFT.get(type(f.dataType), 0))
        for f in schema.fields
    ]


def _copy_binary_tuples(batch, plan: list[tuple[str | None, int]]):
    """One Arrow record batch as PostgreSQL binary COPY tuples (the data
    between :data:`_PG_COPY_HEADER` and :data:`_PG_COPY_TRAILER`), returned as
    a ``pyarrow.Buffer``. Per tuple: an int16 field count, then per field an
    int32 length (-1 for NULL) and the big-endian value.

    Vectorized: each field becomes one or two binary columns (length word
    and value bytes) and one ``binary_join_element_wise`` lays them out row
    by row. Values ship as exact bits — NaN, ±Infinity and -0.0 need no text
    rules — and Spark's UTC µs minus the epoch shift is exactly the UTC wall
    clock :func:`_utc_wall_clock` gives the text format."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows

    def binary(data: bytes, sizes) -> pa.Array:
        offsets = np.zeros(n + 1, np.int64)
        np.cumsum(sizes, out=offsets[1:])
        return pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)]
        )

    parts = [binary(np.full(n, len(plan), ">i2").tobytes(), np.full(n, 2))]
    for col, (dtype, shift) in zip(batch.columns, plan):
        valid = (
            np.ones(n, bool) if col.null_count == 0
            else col.is_valid().to_numpy(zero_copy_only=False)
        )
        if dtype is None:
            value = col.cast(pa.large_binary()).fill_null(b"")
            size = np.where(valid, pc.binary_length(value).to_numpy(), -1)
            parts += [binary(size.astype(">i4").tobytes(), np.full(n, 4)), value]
            continue
        vals = col.cast(pa.from_numpy_dtype(np.dtype(dtype))).fill_null(0).to_numpy()
        if shift:
            vals = vals - shift
        be = np.dtype(dtype).newbyteorder(">")
        field = np.empty(n, [("size", ">i4"), ("value", be)])
        field["size"] = np.where(valid, be.itemsize, -1)
        field["value"] = vals
        size = np.where(valid, field.itemsize, 4)
        data = field.view(np.uint8).reshape(n, -1)
        if col.null_count:  # a NULL keeps only its length word
            data = data[np.arange(field.itemsize) < size[:, None]]
        parts.append(binary(data.tobytes(), size))
    rows = pc.binary_join_element_wise(*parts, pa.scalar(b"", pa.large_binary()))
    end = np.frombuffer(rows.buffers()[1], np.int64)[n]  # a fresh array: offset 0
    return rows.buffers()[2][:end]


def hypertable_ddl(table: str, time_col: str, pk: list[str]) -> str:
    """TimescaleDB conversion for a freshly created table, guarded on the
    extension being INSTALLED in the target database — the reference's
    ``SELECT create_hypertable('ohlcvs', 'time')``
    (`scripts/database/init/create.sql` / `schemas/create_tables.sql:85`)
    as a no-op everywhere the extension is not active (plain PostgreSQL,
    or a TimescaleDB-capable server where it was never CREATEd), so the
    same DDL deploys against both. TimescaleDB requires the partitioning column in every
    unique index, so ``time_col`` must be part of the sink's PK — enforced
    here rather than discovered as a server error at deploy time. The merge
    semantics (ON CONFLICT upsert) are identical either way; chunking is a
    storage-layout concern the sink never sees.

    The guard probes ``pg_extension`` (the extension INSTALLED in this
    database — the reference's init scripts run on an image where it
    already is) rather than issuing ``CREATE EXTENSION`` itself: a DO block
    is a function/transaction context, exactly where TimescaleDB's loader
    refuses to install, so auto-creating here would fail on the one server
    the guard exists for. Installing the extension is a deployment step,
    not table DDL."""
    if time_col not in pk:
        raise ValueError(
            f"hypertable time column {time_col!r} must be part of the "
            f"primary key {pk} (TimescaleDB requires the partitioning "
            "column in every unique index)"
        )
    return (
        "DO $$ BEGIN\n"
        "  IF EXISTS (SELECT 1 FROM pg_extension "
        "WHERE extname = 'timescaledb') THEN\n"
        f"    PERFORM create_hypertable('{table}', '{time_col}', "
        "if_not_exists => TRUE);\n"
        "  END IF;\n"
        "END $$;"
    )


# Every escape COPY TO text emits (\b \f \v included — the server escapes
# more control chars than pg_text_value ever produces).
_PG_TEXT_UNESCAPES = {
    "t": "\t", "n": "\n", "r": "\r",
    "b": "\b", "f": "\f", "v": "\v",
}


def pg_text_parse(tok: str, dtype: T.DataType):
    """Inverse of :func:`pg_text_value` for one COPY-text token: ``\\N`` →
    None, backslash escapes undone, then the lexical form parsed per the
    Spark type. Round-trip fidelity is exact by construction: floats ship
    shortest-exact both ways (``extra_float_digits=3`` on read), timestamps
    are µs-precision ISO text in both directions."""
    if tok == "\\N":
        return None
    if isinstance(dtype, (T.StringType,)):
        # left-to-right scan, NOT chained str.replace: encoded "\\t" is a
        # literal backslash + t, and a naive replace("\\t", TAB) first
        # would corrupt it into a tab
        unescape = _PG_TEXT_UNESCAPES
        out: list[str] = []
        i = 0
        while i < len(tok):
            c = tok[i]
            if c == "\\" and i + 1 < len(tok):
                nxt = tok[i + 1]
                out.append(unescape.get(nxt, nxt))
                i += 2
            else:
                out.append(c)
                i += 1
        return "".join(out)
    if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType)):
        return int(tok)
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return float(tok)
    if isinstance(dtype, T.BooleanType):
        return tok == "t"
    if isinstance(dtype, T.TimestampType):
        return datetime.datetime.fromisoformat(tok)
    if isinstance(dtype, T.DateType):
        return datetime.date.fromisoformat(tok)
    if isinstance(dtype, T.BinaryType):
        return bytes.fromhex(tok.replace("\\\\x", "", 1))
    raise TypeError(f"no COPY-text parser for Spark type {dtype.simpleString()}")


def upsert_sql(
    target: str,
    staging: str,
    columns: list[str],
    pk: list[str],
    mode: str,
    dedup_order: list[str],
) -> str:
    """The set-based merge statement (`queries.py:4,12-15` templates).

    mode='ignore' → ON CONFLICT DO NOTHING (idempotent ingest, S6);
    mode='upsert' → ON CONFLICT DO UPDATE SET every non-PK column (late
    correction, S7).

    The staging SELECT is PostgreSQL ``DISTINCT ON (pk)`` ordered by
    ``pk, *dedup_order`` (a list of ``"col ASC|DESC"`` terms, possibly
    empty; see :func:`pg_dedup_order`): one staged batch can hold the same
    PK twice, on which ``DO UPDATE`` raises "cannot affect row a second
    time" and ``DO NOTHING`` would keep an arbitrary copy. With it the kept
    row per PK is deterministic.
    """
    if mode not in ("ignore", "upsert"):
        raise ValueError(f"mode must be 'ignore' or 'upsert', got {mode!r}")
    cols = ", ".join(columns)
    conflict = ", ".join(pk)
    order = ", ".join([conflict, *dedup_order])
    base = (
        f"INSERT INTO {target} ({cols}) SELECT DISTINCT ON ({conflict}) "
        f"{cols} FROM {staging} ORDER BY {order} ON CONFLICT ({conflict}) "
    )
    if mode == "ignore":
        return base + "DO NOTHING"
    updates = ", ".join(
        f"{c} = excluded.{c}" for c in columns if c not in set(pk)
    )
    return base + f"DO UPDATE SET {updates}"


def pg_dedup_order(
    mode: str, pk: list[str], tiebreak_col: str | None, columns: list[str]
) -> list[str]:
    """The shared ``within_batch_order`` winner rule rendered as PostgreSQL
    ORDER BY terms — ONE rendering for every Postgres-backed sink (the
    sink-module docstring's warning about hand-kept copies applies to this
    rendering too).

    NULLS placement is explicit because the engines' defaults diverge:
    Spark's ``asc()`` is nulls-FIRST and ``desc()`` nulls-LAST, while
    PostgreSQL defaults to the opposite (NULLS LAST on ASC, NULLS FIRST on
    DESC) — without the explicit terms, a NULL tiebreak value would make
    the database legs keep a different winner than the parquet twin and
    break the backend-invariance the oracle row relies on."""
    from .sink import within_batch_order

    return [
        f"{c} {'ASC NULLS FIRST' if ascending else 'DESC NULLS LAST'}"
        for c, ascending in within_batch_order(mode, pk, tiebreak_col, columns)
    ]


def _utc_wall_clock(v):
    """Naive/aware datetime → naive UTC wall clock (identity on all other
    values): what the sink stores in a ``timestamp`` column, whatever the
    encoding host's local timezone. The sink's binary COPY gets the same
    clock from Spark's UTC µs (:func:`_copy_binary_tuples`); this function
    is kept as the text-format reference that the COPY-text table in
    tests/test_postgres_sink.py pins, and that ``read`` mirrors."""
    if isinstance(v, datetime.datetime):
        aware = v if v.tzinfo is not None else v.astimezone()
        return aware.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


_PG_TEXT_ESCAPES = str.maketrans(
    {"\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r"}
)


def pg_text_value(v) -> str:
    """One value in PostgreSQL COPY *text* format: ``\\N`` for NULL,
    backslash escapes for delimiter/newline/backslash in strings. The sink
    writes binary COPY (:func:`_copy_binary_tuples`) and reads text; this is
    the text-format reference :func:`pg_text_parse` inverts, pinned by the
    COPY-text table in tests/test_postgres_sink.py.

    Text format (not CSV) is deliberate — it is collision-free by
    construction where the CSV form has three lurking bugs: a string value
    equal to the NULL token reads back as NULL, a quoted value containing a
    ``\\.`` line ends the COPY stream early, and pandas' ``to_csv``
    coerces nullable int columns to float ('5.0' fails integer COPY).
    Escaping makes all of those representable: a literal backslash-dot
    ships as ``\\\\.``, a literal ``\\N`` as ``\\\\N``."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return repr(v)  # shortest exact round-trip
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "\\\\x" + bytes(v).hex()
    if isinstance(v, (list, tuple, set, frozenset, dict)):
        # array/map/struct columns (Row is a tuple subclass) have no COPY
        # text encoding here — str(v) would ship Python repr, which either
        # fails opaquely inside the transaction or silently stores garbage
        # in a text column. Fail loud at the sink boundary instead.
        raise TypeError(
            "array/map/struct values are not supported by the PostgreSQL COPY "
            f"sink (got {type(v).__name__}); serialize the column to a "
            "scalar (e.g. to_json) before the sink"
        )
    return str(v).translate(_PG_TEXT_ESCAPES)


class PgWireMergeSink:
    """Distributed-staging PK-merge into PostgreSQL over the raw wire
    protocol (``streaming/pgwire.py``), with the same ``merge(batch,
    batch_id)`` contract and within-batch winner rule as
    ``ParquetMergeSink``.

    Per micro-batch, ONE Spark action, so the plan ``foreachBatch`` hands
    over runs once and needs no cache:

    1. driver: name a fresh staging table, ``<staging>_<12 hex>``; no
       connection;
    2. executors (``mapInArrow``): each non-empty partition opens one wire
       connection, creates the UNLOGGED staging table if no task has yet
       (``IF NOT EXISTS`` under an advisory lock, since two concurrent
       creations can collide on ``pg_type``), streams its record batches as
       ``COPY ... (FORMAT binary)`` tuples (:func:`_copy_binary_tuples`,
       the UTC wall clock for timestamps) and yields its row count. Staging
       is typed from the batch's Spark schema (``_PG_TYPES``): binary COPY
       needs exact type widths. UNLOGGED skips WAL for transient data;
    3. driver: if the counts sum to 0, stop — an empty batch opens no
       connection. Otherwise ONE transaction — ``INSERT ... SELECT
       DISTINCT ON (pk) ... ON CONFLICT`` + ``DROP`` of every
       ``<staging>_<12 hex>`` table in the schema. The INSERT's assignment
       casts and the target's constraints apply here (a ``bigint`` out of
       an ``integer`` column's range, a NULL in a NOT NULL column), so the
       merge is atomic: a failure anywhere leaves the target untouched.

    Task-retry safety: a retried partition re-COPYs the same rows, so
    staging may hold EXACT duplicates; ``DISTINCT ON`` collapses them (ties
    between identical rows are indistinguishable), so the merged result is
    retry-invariant. Batch replay is idempotent: a no-op for 'ignore', a
    same-value overwrite for 'upsert'.

    Concurrency contract: ONE writer per target table at a time — each
    merge drops every staging table derived from the target, a concurrent
    writer's included (foreachBatch serializes batches within a query,
    which is the intended deployment).
    Crash leftovers: a failed call's staging table is dropped by the next
    merge that commits; its name is never reused, so its rows never reach
    a later batch.
    """

    def __init__(
        self,
        conninfo: list[str],
        table: str,
        pk: tuple[str, ...],
        mode: str = "ignore",
        tiebreak_col: str | None = None,
        socket_timeout: float = 600.0,
    ) -> None:
        from .pgwire import conninfo_params

        if mode not in ("ignore", "upsert"):
            raise ValueError(f"mode must be 'ignore' or 'upsert', got {mode!r}")
        self.params = conninfo_params(conninfo)
        # the merge transaction is ONE simple-query round trip with no
        # protocol traffic while the server works — its recv timeout must
        # budget the largest batch's set-based merge, not a chat latency
        # (a timeout mid-merge reports failure for work the server may
        # still commit). Tunable per deployment.
        self.params.setdefault("timeout", socket_timeout)
        self.table = table
        self.pk = list(pk)
        self.mode = mode
        self.tiebreak_col = tiebreak_col
        # FULL qualified name, sanitized — keying on the bare table name
        # would let a.t and b.t trample each other's staging
        self.staging = "_cfr_wstage_" + table.replace(".", "__")
        # the server silently truncates an identifier past 63 bytes, and
        # the merge's sweep of <staging>_<12 hex> would never match it
        if len(self.staging.encode()) + 13 > 63:
            raise ValueError(f"table {table!r}: staging name {self.staging}_"
                             "<12 hex> exceeds PostgreSQL's 63-byte limit")
        # fault-injection seam (None in production): a picklable callable
        # invoked on the EXECUTOR after a partition's COPY commits — the
        # fault-gate axis uses it to fail a task AFTER its rows are staged,
        # proving the docstring's retry-safety claim (the retried task
        # re-COPYs, staging holds exact duplicates, DISTINCT ON collapses
        # them) with a real retried COPY instead of an argument
        self._post_copy_fault = None

    def merge(self, batch: DataFrame, batch_id: int) -> None:
        from .pgwire import PgWireClient

        plan = _copy_binary_plan(batch.schema)  # unsupported types: no connection
        columns = batch.columns
        params = dict(self.params)
        staging = f"{self.staging}_{uuid.uuid4().hex[:12]}"
        create_sql = (
            f"BEGIN; SELECT pg_advisory_xact_lock(hashtext('{staging}')); "
            f"CREATE UNLOGGED TABLE IF NOT EXISTS {staging} "
            f"({_pg_columns(batch.schema)}); COMMIT"
        )
        copy_sql = f"COPY {staging} ({', '.join(columns)}) FROM STDIN (FORMAT binary)"
        post_copy_fault = self._post_copy_fault

        def copy_partition(batches):
            from itertools import chain

            import pyarrow as pa

            tuples = (_copy_binary_tuples(b, plan) for b in batches if b.num_rows)
            first = next(tuples, None)
            staged = 0
            if first is not None:  # empty partition: no connection at all
                with PgWireClient(**params) as conn:
                    conn.query(create_sql)
                    tag = conn.copy_in(
                        copy_sql,
                        chain([_PG_COPY_HEADER, first], tuples, [_PG_COPY_TRAILER]),
                    )
                staged = int(tag.split()[-1])
                if post_copy_fault is not None:
                    post_copy_fault()  # test seam — see __init__
            yield pa.RecordBatch.from_arrays([pa.array([staged], pa.int64())], ["n"])

        counts = batch.mapInArrow(copy_partition, "n long").collect()
        if not sum(r.n for r in counts):
            return  # idle-trigger batches: no staging table, no connection

        merge_stmt = upsert_sql(
            self.table, staging, columns, self.pk, self.mode,
            pg_dedup_order(self.mode, self.pk, self.tiebreak_col, columns),
        )
        # unquoted identifiers fold to lower case in the catalog
        pattern = f"^{re.escape(self.staging.lower())}_[0-9a-f]{{12}}$"
        sweep = (
            "DO $$DECLARE t text; BEGIN FOR t IN SELECT tablename FROM "
            "pg_tables WHERE schemaname = current_schema() AND tablename ~ "
            f"'{pattern}' LOOP EXECUTE format('DROP TABLE %I', t); "
            "END LOOP; END $$"
        )
        with PgWireClient(**params) as c:
            c.query(f"BEGIN; {merge_stmt}; {sweep}; COMMIT;")

    def create_table(
        self, schema, drop: bool = False, hypertable_time_col: str | None = None
    ) -> None:
        """Create the target table from a Spark schema with the sink's PK
        (composite PRIMARY KEY backs ON CONFLICT); ``drop=True`` first
        drops any previous incarnation — the reset a re-run query wants.
        ``hypertable_time_col`` additionally runs the guarded TimescaleDB
        conversion (:func:`hypertable_ddl`) — a no-op unless the extension
        is INSTALLED in the database, the reference's hypertable where it
        is. One simple-query message, so the statements apply atomically."""
        from .pgwire import PgWireClient

        pre = f"DROP TABLE IF EXISTS {self.table}; " if drop else ""
        post = (
            "; " + hypertable_ddl(self.table, hypertable_time_col, self.pk)
            if hypertable_time_col
            else ""
        )
        with PgWireClient(**self.params) as c:
            c.query(f"{pre}{pg_ddl(self.table, schema, self.pk)}{post}")

    def read(self, spark: SparkSession, schema) -> DataFrame:
        """Resolved table state read back FROM PostgreSQL as a DataFrame —
        the twin of ``ParquetMergeSink.read``, so a correctness gate can
        certify what the database actually holds, not what was sent to it.

        Transport is ``COPY ... TO STDOUT`` (text format): the exact
        inverse of the write path, with ``\\N`` NULLs and backslash
        escapes, so values round-trip losslessly. ``extra_float_digits = 3``
        pins shortest-exact float output; timestamps are µs ISO text both
        ways. Driver-side O(result) by design: a correctness readback, not
        a serving path.
        """
        from .pgwire import PgWireClient

        cols = ", ".join(f.name for f in schema.fields)
        with PgWireClient(**self.params) as c:
            c.query("SET extra_float_digits = 3")
            out = c.copy_out(f"COPY (SELECT {cols} FROM {self.table}) TO STDOUT")
        utc = datetime.timezone.utc

        def parse(tok: str, dtype):
            v = pg_text_parse(tok, dtype)
            # the table stores the UTC wall clock (see _utc_wall_clock);
            # attach UTC so createDataFrame's interpretation is system-tz
            # independent, mirroring the write-side normalization
            if isinstance(v, datetime.datetime) and isinstance(
                dtype, T.TimestampType
            ):
                return v.replace(tzinfo=utc)
            return v

        rows = [
            tuple(
                parse(tok, f.dataType)
                for tok, f in zip(line.split("\t"), schema.fields)
            )
            # every row ends in a newline; [:-1] drops only the tail, so a
            # row that is one empty string still reads back
            for line in out.decode().split("\n")[:-1]
        ]
        return spark.createDataFrame(rows, schema)
