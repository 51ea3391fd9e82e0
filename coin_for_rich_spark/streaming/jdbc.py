"""PostgreSQL/TimescaleDB merge sink: the north-star backend (S5/S7).

Reference parity: candle batches land in Postgres via COPY with an
``INSERT ... ON CONFLICT DO NOTHING | DO UPDATE`` merge
(`fetchers/helpers/dbhelpers.py:34-132`, templates
`fetchers/config/queries.py:4,12-15`). The driver-defined target approach is
"Structured Streaming + PostgreSQL/TimescaleDB sink" (BASELINE.json), so
``PgWireMergeSink`` is the production twin of ``ParquetMergeSink``:
identical ``merge(batch, batch_id)`` interface, pluggable into
``run_ingest``.

One sink, one client. Per micro-batch, executors COPY their partitions in
parallel into an UNLOGGED staging table over the raw v3 wire protocol
(``streaming/pgwire.py``, pure stdlib); the driver then issues ONE
set-based ``INSERT ... SELECT ... ON CONFLICT`` + staging drop in one
transaction — the merge runs inside the database, the only place it can be
transactional for an external store. Table DDL (``create_table``) and the
resolved-state readback (``read``, ``COPY ... TO STDOUT``) go through the
same client. Integration-tested against a live PostgreSQL
(tests/test_postgres_sink.py).
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Spark type -> PostgreSQL column type, for creating a target table from a
# stream's schema. Deliberately scalar-only: composite Spark types must be
# serialized upstream (pg_text_value fails loud on them anyway).
_PG_TYPES: dict[type, str] = {
    T.LongType: "bigint",
    T.IntegerType: "integer",
    T.ShortType: "smallint",
    T.DoubleType: "double precision",
    T.FloatType: "real",
    T.StringType: "text",
    T.BooleanType: "boolean",
    T.TimestampType: "timestamp",
    T.DateType: "date",
    T.BinaryType: "bytea",
}


def pg_ddl(table: str, schema: T.StructType, pk: list[str]) -> str:
    """CREATE TABLE statement for ``schema`` with a composite PRIMARY KEY —
    the unique index ``ON CONFLICT (pk)`` requires. TimescaleDB would add
    ``SELECT create_hypertable(...)`` after this; the merge semantics are
    identical either way (`scripts/database/init/create.sql:12-22`)."""
    cols = []
    for f in schema.fields:
        pg_type = _PG_TYPES.get(type(f.dataType))
        if pg_type is None:
            raise TypeError(
                f"column {f.name!r}: no PostgreSQL mapping for Spark type "
                f"{f.dataType.simpleString()}; serialize it to a scalar first"
            )
        cols.append(f"{f.name} {pg_type}")
    return (
        f"CREATE TABLE {table} ({', '.join(cols)}, "
        f"PRIMARY KEY ({', '.join(pk)}))"
    )


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
# more control chars than pg_text_value ever produces on the write side).
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
    mode: str = "ignore",
    dedup_order: list[str] | None = None,
) -> str:
    """The set-based merge statement (`queries.py:4,12-15` templates).

    mode='ignore' → ON CONFLICT DO NOTHING (idempotent ingest, S6);
    mode='upsert' → ON CONFLICT DO UPDATE SET every non-PK column (late
    correction, S7).

    ``dedup_order`` (a list of ``"col ASC|DESC"`` terms, possibly empty)
    switches the staging SELECT to PostgreSQL ``DISTINCT ON (pk)`` ordered
    by ``pk, *dedup_order`` — required when one staged batch can hold the
    same PK twice: ``DO UPDATE`` raises "cannot affect row a second time"
    on such input, and ``DO NOTHING`` would keep an arbitrary copy. With it
    the kept row per PK is deterministic. ``None`` keeps the plain SELECT
    (the caller guarantees PK-unique staging).
    """
    if mode not in ("ignore", "upsert"):
        raise ValueError(f"mode must be 'ignore' or 'upsert', got {mode!r}")
    cols = ", ".join(columns)
    conflict = ", ".join(pk)
    select = f"SELECT {cols} FROM {staging}"
    if dedup_order is not None:
        order = ", ".join([conflict, *dedup_order]) if dedup_order else conflict
        select = (
            f"SELECT DISTINCT ON ({conflict}) {cols} FROM {staging} "
            f"ORDER BY {order}"
        )
    base = f"INSERT INTO {target} ({cols}) {select} ON CONFLICT ({conflict}) "
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
    values). Applied on whichever host encodes the row — driver or executor
    — so the stored ``timestamp`` is UTC regardless of that host's local
    timezone."""
    if isinstance(v, datetime.datetime):
        aware = v if v.tzinfo is not None else v.astimezone()
        return aware.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


_PG_TEXT_ESCAPES = str.maketrans(
    {"\\": "\\\\", "\t": "\\t", "\n": "\\n", "\r": "\\r"}
)


def pg_text_value(v) -> str:
    """One value in PostgreSQL COPY *text* format: ``\\N`` for NULL,
    backslash escapes for delimiter/newline/backslash in strings.

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

    Per micro-batch:

    1. driver: recreate an UNLOGGED staging table ``(LIKE target)`` —
       UNLOGGED skips WAL (the data is transient by design and a crash
       truncates it, which is exactly the semantics staging wants);
    2. executors: ``foreachPartition`` — each non-empty partition opens one
       wire connection and COPYs its rows (text format, ``pg_text_value``
       encoding of the UTC wall clock). N partitions stage in parallel; the
       driver never sees a row;
    3. driver: ONE transaction — ``INSERT ... SELECT DISTINCT ON (pk) ...
       ON CONFLICT`` + ``DROP`` of staging. The merge is atomic; a failure
       anywhere leaves the target untouched and the next attempt recreates
       staging from scratch.

    Task-retry safety: a retried partition re-COPYs the same rows, so
    staging may hold EXACT duplicates; ``DISTINCT ON`` collapses them (ties
    between identical rows are indistinguishable), so the merged result is
    retry-invariant. Batch replay is idempotent: a no-op for 'ignore', a
    same-value overwrite for 'upsert'.

    Concurrency contract: ONE writer per target table at a time — the
    staging name is derived from the target, so two queries merging into
    the same table concurrently would trample each other's staging
    (foreachBatch serializes batches within a query, which is the intended
    deployment).
    Crash leftovers are handled by the ``DROP TABLE IF EXISTS`` that opens
    every merge.
    """

    def __init__(
        self,
        conninfo: list[str],
        table: str,
        pk: tuple[str, ...],
        mode: str = "ignore",
        tiebreak_col: str | None = None,
        copy_chunk_bytes: int = 1 << 20,
        socket_timeout: float = 600.0,
        stage_parallelism: int = 16,
    ) -> None:
        from .pgwire import conninfo_params

        upsert_sql(table, "_probe_stg", ["_probe"], list(pk), mode)  # validate
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
        self.copy_chunk_bytes = int(copy_chunk_bytes)
        # cap on concurrent staging connections when a NARROW batch is
        # widened before the COPY stage (see _merge_persisted) — also the
        # widening target, clamped to the cluster's default parallelism
        self.stage_parallelism = int(stage_parallelism)
        # FULL qualified name, sanitized — keying on the bare table name
        # would let a.t and b.t trample each other's staging
        self.staging = "_cfr_wstage_" + table.replace(".", "__")
        # fault-injection seam (None in production): a picklable callable
        # invoked on the EXECUTOR after a partition's COPY commits — the
        # fault-gate axis uses it to fail a task AFTER its rows are staged,
        # proving the docstring's retry-safety claim (the retried task
        # re-COPYs, staging holds exact duplicates, DISTINCT ON collapses
        # them) with a real retried COPY instead of an argument
        self._post_copy_fault = None

    def _dedup_order(self, columns: list[str]) -> list[str]:
        return pg_dedup_order(self.mode, self.pk, self.tiebreak_col, columns)

    def _stage_source(self, batch: DataFrame) -> DataFrame:
        """The COPY stage's parallelism is the batch's partition count, and
        a micro-batch that arrives as one small file scans as ONE
        partition — serializing the whole per-row text encode onto a single
        core (the exact opposite of this sink's distributed-staging design;
        measured r16: ~1.3 s/batch serial at sf0.1, −45% on the declared
        row once widened). Widen narrow batches to min(stage_parallelism,
        defaultParallelism) before staging; batches that already arrive
        wide (the production stream shape) pass through untouched.
        Result-invariant: the merge's DISTINCT ON order is a TOTAL order
        (tiebreak + every non-PK column, within_batch_order), so staging
        row placement cannot change the kept row; retried round-robin
        tasks re-produce the same assignment (Spark sorts before
        round-robin repartition), and exact duplicates from a retry still
        collapse."""
        sc = batch.sparkSession.sparkContext
        target = min(self.stage_parallelism, sc.defaultParallelism)
        if target > 1 and batch.rdd.getNumPartitions() < target:
            return batch.repartition(target)
        return batch

    def merge(self, batch: DataFrame, batch_id: int) -> None:
        from .pgwire import PgWireClient

        # two actions follow (isEmpty probe + the staging foreachPartition);
        # inside foreachBatch the batch is a plan, so without persist the
        # upstream micro-batch computation would execute twice per batch
        batch.persist()
        try:
            self._merge_persisted(batch, batch_id)
        finally:
            batch.unpersist()

    def _merge_persisted(self, batch: DataFrame, batch_id: int) -> None:
        from .pgwire import PgWireClient

        if batch.isEmpty():
            return  # idle-trigger batches: skip DDL + connections entirely
        columns = batch.columns
        params = dict(self.params)
        staging = self.staging
        chunk_bytes = self.copy_chunk_bytes
        copy_sql = f"COPY {staging} ({', '.join(columns)}) FROM STDIN"
        post_copy_fault = self._post_copy_fault

        with PgWireClient(**params) as c:
            c.query(
                f"DROP TABLE IF EXISTS {staging}; "
                f"CREATE UNLOGGED TABLE {staging} "
                f"(LIKE {self.table} INCLUDING DEFAULTS)"
            )

        def copy_partition(rows) -> None:
            it = iter(rows)
            try:
                first = next(it)
            except StopIteration:
                return  # empty partition: no connection at all

            def chunks():
                from itertools import chain

                buf: list[str] = []
                size = 0
                for row in chain([first], it):
                    line = (
                        "\t".join(
                            pg_text_value(_utc_wall_clock(v)) for v in row
                        )
                        + "\n"
                    )
                    buf.append(line)
                    size += len(line)
                    if size >= chunk_bytes:
                        yield "".join(buf).encode()
                        buf, size = [], 0
                if buf:
                    yield "".join(buf).encode()

            with PgWireClient(**params) as conn:
                conn.copy_in(copy_sql, chunks())
            if post_copy_fault is not None:
                post_copy_fault()  # test seam — see __init__

        self._stage_source(batch).foreachPartition(copy_partition)

        merge_stmt = upsert_sql(
            self.table,
            staging,
            columns,
            self.pk,
            self.mode,
            dedup_order=self._dedup_order(columns),
        )
        with PgWireClient(**params) as c:
            c.query(
                f"BEGIN; {merge_stmt}; DROP TABLE {staging}; COMMIT;"
            )

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
