"""Structured Streaming layer: the reference's ingest path re-expressed.

Reference parity map (SURVEY §2.9):
- continuous aggregates + refresh policies  → streaming.rollup (A1/A2)
- WS micro-batch updater (10 s, hold-back)  → streaming.stateful +
                                              run_ingest's trigger (S4)
- COPY/upsert bulk sink, ON CONFLICT        → streaming.sink, streaming.jdbc
                                              (S5/S6/S7)
- latest-value serve hash                   → streaming.latest (S8)
- wire format + file-chunk replay source    → streaming.source (S3 stand-in)

Every step reads and writes the one candle schema (``symbol``, ``ts``,
``price``, ``volume``; ``wire`` for the ``"t;;o;;h;;l;;c;;v"`` string), so
column names are fixed rather than parameters. Two runners drive a stream:
``run_ingest`` into a merge sink, ``rollup.run_to_memory`` into a memory
table.
"""

from .corpus import (
    compact_ingested_corpus,
    ingest_batch_into_corpus,
    list_ingest_batches,
    read_ingested_corpus,
    streaming_corpus_ingest,
)
from .dedupe import exactly_once_dedup
from .jdbc import PgWireMergeSink, upsert_sql
from .latest import latest_value_serve
from .rollup import CONAGG_POLICIES, streaming_ohlcv_rollup
from .sessions import streaming_sessionize
from .sink import ParquetMergeSink, run_ingest
from .source import candle_stream, format_wire_candles, stage_stream_chunks, parse_wire_candles

__all__ = [
    "CONAGG_POLICIES",
    "exactly_once_dedup",
    "PgWireMergeSink",
    "ParquetMergeSink",
    "upsert_sql",
    "candle_stream",
    "latest_value_serve",
    "run_ingest",
    "stage_stream_chunks",
    "parse_wire_candles",
    "format_wire_candles",
    "streaming_ohlcv_rollup",
    "streaming_sessionize",
    "streaming_corpus_ingest",
    "ingest_batch_into_corpus",
    "read_ingested_corpus",
    "compact_ingested_corpus",
    "list_ingest_batches",
]
