"""Merge sinks: idempotent insert and late-correction upsert (S5/S6/S7).

Reference parity: the bulk loader COPYs candle batches and falls back to
``INSERT ... ON CONFLICT (pk) DO NOTHING`` (idempotent ingest, S6,
`fetchers/helpers/dbhelpers.py:34-132`, `schemas/insert_queries.sql:1-3`) or
``DO UPDATE SET (o,h,l,c,v) = excluded...`` (the 1-minute re-fetch that
overwrites WS candles with corrected REST data, S7,
`fetchers/config/queries.py:12-15`).

Spark-first expression: ``writeStream.foreachBatch(sink.merge)``. On a real
deployment the merge body is a single statement — Delta/Iceberg
``MERGE INTO`` or a JDBC ``INSERT ... ON CONFLICT`` into TimescaleDB (the
north-star sink, BASELINE.json) — both scale-out merges shuffled on the PK.
This container has neither Delta nor a Postgres, so ``ParquetMergeSink``
implements identical semantics as an anti-join + union rewrite over a
parquet directory with an atomic swap; the merge *logic* (PK match, ignore
vs. update, within-batch dedup) is the part under test and is shared by any
backend.

Exactly-once posture: foreachBatch may replay a batch on failure; both merge
modes are idempotent on the PK (replaying a batch is a no-op for 'ignore'
and a same-value overwrite for 'upsert'), which together with checkpointing
gives the reference's processing-set guarantee
(`fetchers/ws/updater.py:127-138`) natively.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Protocol

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def within_batch_order(
    mode: str,
    pk: list[str],
    tiebreak_col: str | None,
    columns: list[str],
) -> list[tuple[str, bool]]:
    """The deterministic WITHIN-batch winner order shared by every merge
    backend — (column, ascending) pairs: the tiebreak column first
    (ascending for 'ignore' = earliest-insert ctid semantics,
    `insert_queries.sql:8-15`; descending for 'upsert' = newest correction
    wins), then the remaining non-PK columns ascending by name, so rows
    tied on the tiebreak resolve identically on every backend and every
    read. ONE definition on purpose: ParquetMergeSink's merge-on-read
    window and PgWireMergeSink's DISTINCT ON must stay twins, and two
    hand-kept copies of this rule would silently diverge."""
    asc = mode == "ignore"
    order: list[tuple[str, bool]] = []
    if tiebreak_col is not None:
        order.append((tiebreak_col, asc))
    order.extend(
        (c, True)
        for c in sorted(
            c
            for c in columns
            if c not in pk and c != tiebreak_col and c != "_batch"
        )
    )
    return order



def swap_directory(live: str, staged: str, token: str) -> None:
    """Atomically-enough promote a fully-staged sibling directory over the
    live one: two renames, then remove the outgoing tree. The live path is
    never an empty/partial directory; a crash between the renames leaves a
    complete tree at one path or the other (recoverable by rename). The
    ONE swap implementation every compaction in this repo uses (merge
    sink, ingested corpus, dedup-index legs)."""
    old = f"{live}__old_{token}"
    os.rename(live, old)
    os.rename(staged, live)
    shutil.rmtree(old)


class ParquetMergeSink:
    """PK-merge sink over a parquet directory, merge-on-read (LSM-style).

    mode='ignore' — first writer wins (ON CONFLICT DO NOTHING, S6).
    mode='upsert' — newest batch wins (ON CONFLICT DO UPDATE, S7).
    ``tiebreak_col`` orders rows *within* one batch so the kept row per PK is
    deterministic (highest tiebreak wins for upsert, lowest for ignore —
    matching "earliest insert" ctid semantics, `insert_queries.sql:8-15`).

    Write path: each micro-batch lands as its own ``batch=N`` partition —
    write amplification is O(batch), never O(table) (the previous design
    rewrote the whole table per batch, which is quadratic over a day of
    10-second batches). Replaying a batch overwrites its own partition:
    idempotent. Read path: one window per PK ordered by (batch, tiebreak)
    resolves the winner — exactly Delta/Iceberg's merge-on-read shape; an
    explicit ``compact()`` folds the log into a base partition when read
    amplification matters.
    """

    _BASE_BATCH = -1  # compaction target; sorts before/after all real batches

    def __init__(
        self,
        path: str,
        pk: tuple[str, ...],
        mode: str = "ignore",
        tiebreak_col: str | None = None,
    ) -> None:
        if mode not in ("ignore", "upsert"):
            raise ValueError(f"mode must be 'ignore' or 'upsert', got {mode!r}")
        self.path = path
        self.pk = list(pk)
        self.mode = mode
        self.tiebreak_col = tiebreak_col

    # -- batch-side helpers ------------------------------------------------

    def _order(self, data_cols: list[str]) -> list:
        asc = self.mode == "ignore"  # first batch wins vs newest batch wins
        cols = [F.col("_batch").asc() if asc else F.col("_batch").desc()]
        # total order: rows sharing (batch, tiebreak) on one PK must resolve
        # identically on EVERY read — merge-on-read re-evaluates the window
        # per read, so any ambiguity would make reads unstable over time
        cols.extend(
            F.col(c).asc() if ascending else F.col(c).desc()
            for c, ascending in within_batch_order(
                self.mode, self.pk, self.tiebreak_col, data_cols
            )
        )
        return cols

    def read(self, spark: SparkSession) -> DataFrame | None:
        """Resolved table state: one winner per PK across the batch log."""
        if not os.path.exists(self.path):
            return None
        parts = [d for d in os.listdir(self.path) if d.startswith("batch=")]
        if not parts:
            return None
        raw = spark.read.option("basePath", self.path).parquet(
            *[os.path.join(self.path, d) for d in parts]
        ).withColumnRenamed("batch", "_batch")
        w = Window.partitionBy(*self.pk).orderBy(*self._order(raw.columns))
        return (
            raw.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_batch")
        )

    # -- the foreachBatch body ----------------------------------------------

    def merge(self, batch: DataFrame, batch_id: int) -> None:
        # ONE action: inside foreachBatch the batch is a PLAN, so a second
        # action (an emptiness probe) would run the upstream micro-batch —
        # for a stateful source, its whole state pass — twice per batch.
        # Replay-idempotent: the batch owns its partition, overwrites it
        out = os.path.join(self.path, f"batch={int(batch_id)}")
        batch.write.mode("overwrite").parquet(out)
        # an empty batch writes one 0-row part file; drop its partition, so
        # no later read lists and windows over it. Footer reads run no job
        parts = [f for f in os.listdir(out) if f.endswith(".parquet")]
        if not sum(pq.read_metadata(os.path.join(out, f)).num_rows for f in parts):
            shutil.rmtree(out)

    # -- maintenance --------------------------------------------------------

    def batch_log_length(self) -> int:
        """Number of ``batch=N`` partitions the next read must window over
        — the read-amplification factor merge-on-read pays until compaction."""
        if not os.path.exists(self.path):
            return 0
        return sum(1 for d in os.listdir(self.path) if d.startswith("batch="))

    def compact(self, spark: SparkSession) -> None:
        """Fold the batch log into a single base partition (read-amp → 1).

        The resolved state becomes ``batch=-1``: for 'ignore' it sorts first
        (existing rows keep winning), for 'upsert' it sorts last (future
        batches keep overriding) — semantics are unchanged either way.

        Swap protocol: the complete compacted log is fully staged in a
        sibling directory BEFORE the table location is touched, then swapped
        in with two directory renames — the table is never an empty/partial
        directory, and a crash at any point leaves a complete log at either
        the original or the staged path (recoverable by rename, nothing
        lost). Concurrency contract: run with the stream stopped — a merge()
        landing between the renames would write into the outgoing directory
        and be dropped. (On a transactional table format — Delta/Iceberg,
        the production sink — OPTIMIZE does this under a real log commit.)
        """
        resolved = self.read(spark)
        if resolved is None:
            return
        token = uuid.uuid4().hex
        staged = f"{self.path}__compact_{token}"
        resolved.write.mode("overwrite").parquet(
            os.path.join(staged, f"batch={self._BASE_BATCH}")
        )
        swap_directory(self.path, staged, token)


class MergeSink(Protocol):
    """What ``run_ingest`` needs of a sink: ``ParquetMergeSink`` and
    ``streaming.jdbc.PgWireMergeSink`` both have it."""

    def merge(self, batch: DataFrame, batch_id: int) -> None: ...


def run_ingest(
    stream: DataFrame,
    sink: MergeSink,
    checkpoint_dir: str,
    trigger: dict | None = None,
    state_partitions: int | None = None,
) -> None:
    """The micro-batch collector (S4): drive a stream into a merge sink,
    each micro-batch handed to ``sink.merge`` as the engine partitioned it.

    Production trigger is ``{"processingTime": "10 seconds"}`` — the
    updater's drain cadence (`fetchers/ws/updater.py:29`); tests use
    availableNow for a deterministic bounded run.
    """
    from ..functions.partitioning import scoped_shuffle_partitions

    with scoped_shuffle_partitions(stream.sparkSession, state_partitions):
        (
            stream.writeStream.foreachBatch(sink.merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**(trigger or {"availableNow": True}))
            .start()
            .awaitTermination()
        )
