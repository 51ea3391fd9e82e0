"""Latest-value serve aggregate (S8) — the Redis serve-hash, Spark-native.

Reference parity: each WS fetcher overwrites a per-key Redis hash with the
newest candle, guarded by `timestamp >= current`
(`fetchers/ws/bitfinex.py:202-217`); the web layer reads it every second
(`web/routes/api/ws/utils/senders.py:73-84`). In Spark this is a streaming
``groupBy("symbol").agg(max_by(struct(...), ts))`` in **update** mode: state
holds exactly one row per key, each micro-batch emits only keys whose latest
value changed — the same "overwrite if newer" semantics without the external
KV store.

Scale posture: state size = |keys| (symbol universe, ~hundreds), shuffled on
the key — trivially sharded; serving reads the in-memory/complete sink or a
foreachBatch push to the real cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_value_serve(stream: DataFrame) -> DataFrame:
    """The newest ``(ts, price, volume)`` per ``symbol`` of a candle stream,
    one row per key; drive it with ``rollup.run_to_memory(..., "complete")``
    for the serve-hash snapshot."""
    # ordering key = (ts, value struct): the reference's `timestamp >=
    # current` guard means the LATEST ARRIVAL wins a timestamp tie, an
    # order Spark cannot observe — max_by on the bare ts would pick an
    # arbitrary tied row per run/partitioning, so the value struct itself
    # breaks ties (lexicographic struct comparison): deterministic across
    # runs and engines, documented as "greatest value wins a ts tie"
    val = F.struct("ts", "price", "volume")
    return (
        stream.groupBy("symbol")
        .agg(F.max_by(val, F.struct("ts", val)).alias("_latest"))
        .select("symbol", "_latest.*")
    )
