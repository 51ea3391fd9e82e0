"""Partition-shape helpers.

``ensure_parallelism`` exists for one reason: a CPU-bound per-row stage
(shingle explode, 64-column SimHash sums, GEMM batches) is only as parallel
as its *input* partition count, and a small parquet file arrives as ONE
partition — so on a 32-core executor the tokenize stage runs at 1/32 of the
machine. Spark sizes scan partitions by bytes (`spark.sql.files.
maxPartitionBytes`), which is the right default for IO-bound scans and the
wrong one for compute-bound stages over compact inputs.

At real scale this is a no-op: a 100 TB corpus scans as ~10⁶ partitions,
`getNumPartitions() >= cores` holds, and no shuffle is added. The check reads
the planned partition count (physical planning only — no job runs), so the
guard itself is cheap.
"""

from __future__ import annotations

from contextlib import contextmanager
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

#: per-session memo of planned partition counts keyed by the ANALYZED
#: plan's semanticHash: ``df.rdd.getNumPartitions()`` runs full physical
#: planning on the driver (~40 ms per call), and the guard is called with
#: the same few scan-projections dozens of times per session (every
#: operator build, every bench pass). The partition count of a given
#: logical plan is deterministic within a session (same files, same
#: splits confs), so the memo can never serve a wrong answer to the same
#: plan; semanticHash is ~2 ms. Keyed weakly by session so a stopped
#: session's entries die with it.
_PLANNED_PARTITIONS: "WeakKeyDictionary[SparkSession, dict[int, int]]" = (
    WeakKeyDictionary()
)


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """Repartition ``df`` up to the session's core count iff the planned
    scan has fewer partitions — i.e., trade one small shuffle for full-width
    parallelism of a compute-heavy downstream stage. Never shrinks, never
    reshuffles an already-wide input.

    ``key=None`` repartitions round-robin; passing a high-cardinality
    column name hash-partitions instead, which (a) skips the local
    sort-before-repartition every keyless repartition pays (SPARK-23207 —
    that sort runs on the NARROW input, i.e. serially, which on a
    single-row-group fact scan costs more than the widening saves), and
    (b) when ``key`` is the downstream join/group key and the target equals
    ``spark.sql.shuffle.partitions``, the exchange is REUSED by the join
    instead of being an extra hop (guide §2.4)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        memo = _PLANNED_PARTITIONS.setdefault(df.sparkSession, {})
        memo_key = df._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # noqa: BLE001 — introspection is best-effort
        memo, memo_key = None, None
    if memo is not None and memo_key in memo:
        n = memo[memo_key]
    else:
        n = df.rdd.getNumPartitions()
        if memo is not None:
            memo[memo_key] = n
    if n < target:
        if key is not None:
            return df.repartition(target, key)
        return df.repartition(target)
    return df


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily set session confs (dots spelled as ``__`` in kwargs is
    not supported — pass a dict via ``**{"a.b.c": v}``), restoring previous
    values (or unsetting) afterwards."""
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset key
            prev[k] = None
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, old in prev.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def scoped_shuffle_partitions(spark: SparkSession, n: int | None):
    """Temporarily pin ``spark.sql.shuffle.partitions`` for the enclosed
    plan-and-start window, restoring the previous value after; ``None``
    leaves the session's value alone (a no-op scope).

    Exists for the streaming runners: a stateful query creates one state
    store per shuffle partition and commits EVERY one of them in EVERY
    micro-batch, even when the keyspace is a handful of symbols — so the
    per-batch floor cost is partitions × commit, paid regardless of data.
    State partitioning is fixed at the first checkpoint, so the right number
    is keyspace-sized, chosen per query, not inherited from the batch-wide
    shuffle default (where 32+ is correct for fact-table joins). At real
    scale the same knob goes UP for hot wide keyspaces — the point is that
    it's sized, not defaulted.
    """
    confs = {} if n is None else {"spark.sql.shuffle.partitions": str(n)}
    return scoped_conf(spark, **confs)
