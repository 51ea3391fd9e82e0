"""Ingest throughput, head-to-head: reference single-writer posture vs the
engine's distributed staging, on the same live PostgreSQL.

The reference ingests through ONE process and ONE connection per fetcher —
CSV COPY into the table with an ON CONFLICT fallback
(`fetchers/helpers/dbhelpers.py:34-132`). The engine's one sink,
``PgWireMergeSink``, stages each non-empty partition of a batch as it
arrives from its own task, so ONE sink runs both postures with identical
merge semantics; the legs differ only in the batch's partitioning, which
the caller owns:

- single writer — the reference's shape: the batch coalesced to one
  partition, so one connection COPYs every row into staging before the
  one merge transaction;
- distributed — the scale-out shape: the batch repartitioned to the
  cluster's default parallelism, so every partition COPYs in parallel
  over the raw wire protocol into UNLOGGED staging, then one set-based
  DISTINCT ON + ON CONFLICT merge.

This script measures both on identical batches (the events→candles
projection at sf0.1 = 100k rows and sf1 = 1M rows), in the two postures
that bracket real ingest:

- **fresh**: empty target, every row inserts (the backfill posture);
- **replay**: identical batch again, every row conflicts (the
  crash-replay / late-data posture — ON CONFLICT DO NOTHING all the way).

Same table DDL, same PK (event_id), same 'ignore' mode (the reference's
``PSQL_INSERT_IGNOREDUP_QUERY`` posture), same binary COPY encoding. The input
DataFrame is persisted and counted before any timing, so both legs pay
only their own transport + merge. Both legs run the SAME min-of-2
settle-guarded cycle protocol — symmetric methodology, so a co-tenant
load burst cannot fabricate the speedup in either direction.

On one host both legs share one PostgreSQL server, so this measures the
single-endpoint bound honestly: the distributed win is bounded by server-
side COPY parallelism here, and grows with executor count only until the
database saturates — which is the designed bottleneck (the engine's job
is to never be the slower side of that pair).

Run: ``python scripts/ingest_throughput.py``.
Output: table on stderr, JSON to ``.scale/INGEST_THROUGHPUT.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from coin_for_rich_spark.session import get_spark  # noqa: E402
from coin_for_rich_spark.sources import candles_view  # noqa: E402
from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink  # noqa: E402
from coin_for_rich_spark.streaming.pgwire import PgWireClient  # noqa: E402
from coin_for_rich_spark.streaming.pgserver import ephemeral_pg  # noqa: E402
from scripts.host_probe import probe  # noqa: E402
from scripts.measure import settle  # noqa: E402

SF01 = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF1 = os.path.join(REPO, ".scale", "sf1")
PK = ("event_id",)
MODE = "ignore"  # the reference's dominant path: INSERT ... DO NOTHING


def _sql(sink: PgWireMergeSink, sql: str) -> list[list[str | None]]:
    with PgWireClient(**sink.params) as c:
        return c.query(sql)[0]


def bench_leg(sink: PgWireMergeSink, batch, label: str) -> dict:
    """min-of-2 full cycles, each: settle → truncate → fresh merge into an
    empty table → identical replay. Both legs get the SAME protocol — an
    asymmetric methodology would let one load burst fabricate the
    speedup."""
    out: dict = {"fresh": None, "replay": None, "loadavg_pre": []}
    for _ in range(2):
        settle(max_load=2.0, timeout_s=120.0)
        out["loadavg_pre"].append(round(os.getloadavg()[0], 2))
        _sql(sink, f"TRUNCATE {sink.table}")
        for posture in ("fresh", "replay"):
            t0 = time.perf_counter()
            sink.merge(batch, 0)
            t = round(time.perf_counter() - t0, 3)
            if out[posture] is None or t < out[posture]:
                out[posture] = t
    out["rows_in_table"] = int(
        _sql(sink, f"SELECT count(*) FROM {sink.table}")[0][0]
    )
    print(json.dumps({label: out}), file=sys.stderr)
    return out


def main() -> int:
    spark = get_spark("coin_for_rich_spark-ingest-throughput")
    conninfo = ephemeral_pg()
    if conninfo is None:
        print("no runnable PostgreSQL in this environment", file=sys.stderr)
        return 2
    probe_pre = probe(spark, tag="ingest_tput_pre")
    results: dict[str, dict] = {}
    for sf_label, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        if not os.path.isdir(os.path.join(sf_dir, "events.parquet")) and not (
            os.path.isfile(os.path.join(sf_dir, "events.parquet"))
        ):
            print(f"skip {sf_label}: no events at {sf_dir}", file=sys.stderr)
            continue
        batch = candles_view(spark, sf_dir).persist()
        n_rows = batch.count()
        table = f"cfr_tput_{sf_label.replace('.', '_')}"
        sink = PgWireMergeSink(conninfo, table, pk=PK, mode=MODE)
        sink.create_table(batch.schema, drop=True)
        narrow = batch.coalesce(1)
        wide = batch.repartition(spark.sparkContext.defaultParallelism)
        legs: dict[str, dict] = {}
        legs["single_writer"] = bench_leg(sink, narrow, f"{sf_label}/single")
        legs["distributed"] = bench_leg(sink, wide, f"{sf_label}/wire")
        batch.unpersist()
        best_single = legs["single_writer"]["fresh"]
        results[sf_label] = {
            "rows": n_rows,
            "legs": legs,
            "single_fresh_rows_per_s": round(n_rows / best_single),
            "distributed_fresh_rows_per_s": round(
                n_rows / legs["distributed"]["fresh"]
            ),
            "speedup_fresh": round(best_single / legs["distributed"]["fresh"], 2),
        }
    out = {
        "pk": list(PK),
        "mode": MODE,
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "probe_pre": probe_pre,
        "probe_post": probe(spark, tag="ingest_tput_post"),
        "results": results,
    }
    path = os.path.join(REPO, ".scale", "INGEST_THROUGHPUT.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
