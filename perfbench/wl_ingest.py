"""``ingest_pg``: open-loop file-stream ingest into PostgreSQL.

A dropper thread renames pre-written tick chunks into a watched directory on
a fixed schedule: ``RATE_HZ`` chunks a second for the first ``STEADY_SHARE``
of the run. Once every steady chunk has committed, ``BURSTS`` burst files
(reconnect backfills) follow one at a time, each due once the one before
it has committed, so no burst waits behind another micro-batch.
The pipeline is ``read_file_stream`` → ``candle_stream`` →
``hold_back_collector`` → ``run_ingest`` into a ``PgWireMergeSink``
upserting on (symbol, bucket), on an ephemeral PostgreSQL from
``pgserver``, with an as-soon-as-possible trigger that lets each
micro-batch take every file that has arrived.

A chunk's freshness runs from its *due* time to the end of the sink merge
of the micro-batch that consumed it, so it includes queue wait and any
lateness of the dropper. The latency metrics are the steady chunks'
freshness; the throughput metric is the bursts' median rate, a burst's
tick rows divided by the time from its due time to its commit. The workload never falls
back to another sink: when PostgreSQL cannot boot the run fails.

Sizes follow the reference platform's envelope (BASELINE.md): the 30 pairs
it fetches, one chunk per 10 s updater flush, and a burst of two REST
backfill pages (1000 one-minute candles each) per symbol.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time

from . import gen, harness, metrics, oracle, trace
from .harness import Run

#: the reference fetches the top-30 pairs
N_SYMBOLS = 30
#: a steady chunk is one updater flush: 10 s of event time with 10 ticks
#: per symbol (the 1 s real-time cadence)
FLUSH_S = 10.0
TICKS_PER_FLUSH = 10
#: flushes replayed per second: the reference's 10 s cadence sped up 40x,
#: or a run of a few seconds would see a single micro-batch
RATE_HZ = 4.0
#: share of ``--seconds`` with steady drops
STEADY_SHARE = 0.8
#: a burst is two backfill pages of 1000 one-minute candles per symbol
#: (binance's page size; a reconnect after about 33 hours offline) at
#: about one tick per symbol-minute, in one file: a single rename lands it
#: whole in one micro-batch, where a run of renames could be split across
#: two by a trigger listing the directory halfway
BACKFILL_MINUTES = 2000
#: bursts per run: one burst is one micro-batch, so its rate moves with
#: every hiccup of the host; the median of three moves less
BURSTS = 3
#: a burst is due this long after the micro-batch before it committed
BURST_GAP_S = 0.5
TABLE = "candles_1m"
#: a run whose chunks are not all committed this long after they are due fails
DRAIN_TIMEOUT_S = 90.0
#: a chunk dropped this late broke the open-loop schedule and counts as failed
MAX_GEN_LAG_S = 1.0
#: chunks pushed through before measuring: one alone, then the rest at once,
#: then one burst
WARMUP_CHUNKS = 8


class Dropper(threading.Thread):
    """Renames ``files[i]`` into ``watch`` when ``t0 + due[i]`` passes,
    whatever the pipeline is doing. ``dropped[i]`` is when it happened;
    ``delay`` (seconds, by chunk index) makes a drop late on purpose."""

    def __init__(self, files, due, watch, t0, delay=None, clock=time.time,
                 sleep=time.sleep) -> None:
        super().__init__(daemon=True)
        self.files, self.due, self.watch, self.t0 = files, due, watch, t0
        self.delay = delay or {}
        self.clock, self.sleep = clock, sleep
        self.dropped: list[float | None] = [None] * len(files)

    def run(self) -> None:
        for i, (src, due) in enumerate(zip(self.files, self.due)):
            wait = self.t0 + due + self.delay.get(i, 0.0) - self.clock()
            if wait > 0:
                self.sleep(wait)
            os.rename(src, os.path.join(self.watch, os.path.basename(src)))
            self.dropped[i] = self.clock()


def freshness(due_abs: list[float], committed: list[float]) -> list[float]:
    """Seconds from each chunk's due time to the commit that covered it."""
    return [c - d for d, c in zip(due_abs, committed)]


def consumed_files(ckpt: str, batch_id: int) -> list[str]:
    """Files the file source assigned to ``batch_id``, from its metadata log
    (``<ckpt>/sources/0/<id>``, or a compacted ``<id>.compact``)."""
    base = os.path.join(ckpt, "sources", "0", str(batch_id))
    path = base if os.path.exists(base) else base + ".compact"
    with open(path) as fh:
        lines = fh.read().splitlines()[1:]
    entries = (json.loads(line) for line in lines if line)
    return [os.path.basename(e["path"]) for e in entries if e["batchId"] == batch_id]


class TimedSink:
    """Wraps the engine sink's ``merge``: records each micro-batch's files
    and merge interval."""

    def __init__(self, sink, ckpt: str, tracer) -> None:
        self.sink, self.ckpt, self.tracer = sink, ckpt, tracer
        self.batches: list[dict] = []
        self.lock = threading.Lock()

    def merge(self, batch, batch_id: int) -> None:
        files = consumed_files(self.ckpt, batch_id)
        start = time.time()
        with self.tracer.span("sink.merge", req=f"batch-{batch_id}"):
            self.sink.merge(batch, batch_id)
        with self.lock:
            self.batches.append({"id": batch_id, "files": files, "start": start,
                                 "end": time.time()})

    def commit_time(self, name: str) -> float | None:
        with self.lock:
            for b in self.batches:
                if name in b["files"]:
                    return b["end"]
        return None


def _pg_base(run: Run, rep: int) -> str:
    """The cluster's directory: under the work directory when the
    ``postgres`` user can reach it and the socket path fits, else a fresh
    temporary directory (removed when the cluster stops)."""
    base = run.path(f"pg{rep}")
    reachable = subprocess.run(
        ["runuser", "-u", "postgres", "--", "test", "-x", run.work],
        capture_output=True,
    ).returncode == 0
    if reachable and len(base) < 80:
        run.env["pg_data_in_checkout"] = True
        return base
    run.env["pg_data_in_checkout"] = False
    return tempfile.mkdtemp(prefix="perfbench_pg_", dir="/tmp")


def _pg_query(conninfo, sql: str):
    from coin_for_rich_spark.streaming.pgwire import PgWireClient, conninfo_params

    with PgWireClient(**conninfo_params(conninfo)) as c:
        return c.query(sql)[0]


def _sessions(conninfo) -> int:
    rows = _pg_query(
        conninfo, "SELECT sessions FROM pg_stat_database WHERE datname = 'postgres'"
    )
    return int(rows[0][0])


def run_ingest_pg(run: Run) -> dict:
    from pyspark.sql import types as T

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink, pg_ddl
    from coin_for_rich_spark.streaming.pgserver import pg_runnable, start_cluster
    from coin_for_rich_spark.streaming.sink import run_ingest
    from coin_for_rich_spark.streaming.source import candle_stream, read_file_stream
    from coin_for_rich_spark.streaming.stateful import OUTPUT_SCHEMA, hold_back_collector

    if not pg_runnable():
        raise RuntimeError(
            "ingest_pg needs a bootable PostgreSQL (root, runuser, initdb, "
            "pg_ctl, postgres user); it has no fallback sink"
        )
    tracer = run.tracer
    n_steady = int(run.seconds * STEADY_SHARE * RATE_HZ)
    n_warm = WARMUP_CHUNKS + 1
    flush, burst = (FLUSH_S, TICKS_PER_FLUSH), (60.0 * BACKFILL_MINUTES, BACKFILL_MINUTES)
    chunks = gen.ingest_chunks(
        run.seed, N_SYMBOLS,
        [flush] * WARMUP_CHUNKS + [burst] + [flush] * n_steady + [burst] * BURSTS,
    )
    staged = [
        gen.write_table(c, run.path("input", f"chunk-{i:05d}.parquet"))
        for i, c in enumerate(chunks)
    ]
    run.env["inputs_sha256"] = gen.file_digest(staged)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])

    spark = harness.start_spark(run)
    recorder = None
    if run.trace:
        recorder = trace.progress_recorder()
        spark.streams.addListener(recorder)

    def setup(rep: int) -> dict:
        """Boot PostgreSQL, create the sink table and start the stream,
        until it waits for data."""
        conninfo, stop_pg = start_cluster(_pg_base(run, rep))
        run.cleanups.append(stop_pg)
        _pg_query(conninfo, pg_ddl(TABLE, OUTPUT_SCHEMA, ["symbol", "bucket"]))
        watch, ckpt = run.path(f"watch{rep}"), run.path(f"ckpt{rep}")
        os.makedirs(watch)
        sink = TimedSink(
            PgWireMergeSink(conninfo, TABLE, pk=("symbol", "bucket"), mode="upsert"),
            ckpt, tracer,
        )
        stream = hold_back_collector(candle_stream(
            read_file_stream(spark, watch, schema, max_files_per_trigger=1_000_000)
        ))
        errors: list[BaseException] = []

        def drive() -> None:
            try:
                run_ingest(stream, sink, ckpt, trigger={"processingTime": "0 seconds"})
            except BaseException as exc:  # noqa: BLE001 — re-raised by the caller
                errors.append(exc)

        thread = threading.Thread(target=drive, daemon=True)
        thread.start()
        _wait(lambda: any(q.status["message"] == "Waiting for data to arrive"
                          for q in spark.streams.active),
              errors, 120.0, "the stream start")
        return {"conninfo": conninfo, "stop_pg": stop_pg, "sink": sink,
                "thread": thread, "errors": errors, "watch": watch}

    def teardown(state: dict) -> None:
        for q in spark.streams.active:
            q.stop()
        state["thread"].join(60)
        state["stop_pg"]()

    setup_s, setup_all, st = harness.repeated_setup(setup, teardown)
    # warm-up (not timed): a lone chunk pays the cold start of the Python
    # workers, the state store and code generation; then a batch of several
    # chunks starts the extra Python workers a multi-file batch runs on; then
    # a burst compiles the large-batch paths, or the first timed burst would
    # be slower than the others
    src = run.path("src")
    shutil.copytree(run.path("input"), src)
    warm = [os.path.basename(p) for p in staged[:n_warm]]
    for group in (warm[:1], warm[1:WARMUP_CHUNKS], warm[WARMUP_CHUNKS:]):
        for name in group:
            os.rename(os.path.join(src, name), os.path.join(st["watch"], name))
        _wait(lambda: all(st["sink"].commit_time(n) is not None for n in group),
              st["errors"], 180.0, "the warm-up chunks")
    sink = st["sink"]
    sessions0 = _sessions(st["conninfo"])
    warm_batches = len(sink.batches)

    names = [os.path.basename(p) for p in staged[n_warm:]]
    steady, bursts = names[:n_steady], names[n_steady:]
    t0 = time.time() + 0.2
    due = [k / RATE_HZ for k in range(n_steady)]
    due_abs = [t0 + d for d in due]
    droppers = [Dropper([os.path.join(src, n) for n in steady], due, st["watch"], t0)]
    droppers[0].start()
    _wait(lambda: all(sink.commit_time(n) is not None for n in steady),
          st["errors"], run.seconds + DRAIN_TIMEOUT_S, "every steady chunk")
    last_commit = max(sink.commit_time(n) for n in steady)
    burst_rates = []
    for k, name in enumerate(bursts):
        burst_due = last_commit + BURST_GAP_S
        due_abs.append(burst_due)
        droppers.append(Dropper([os.path.join(src, name)], [0.0], st["watch"], burst_due))
        droppers[-1].start()
        _wait(lambda name=name: sink.commit_time(name) is not None,
              st["errors"], DRAIN_TIMEOUT_S, f"burst {k}")
        last_commit = sink.commit_time(name)
        rows = chunks[n_warm + n_steady + k].num_rows
        burst_rates.append(rows / (last_commit - burst_due))
    for d in droppers:
        d.join()
    for q in spark.streams.active:
        q.stop()
    st["thread"].join(60)
    sessions = _sessions(st["conninfo"]) - sessions0 - 1  # minus the probe

    committed = [sink.commit_time(n) for n in names]
    dropped = [t for d in droppers for t in d.dropped]
    fresh = freshness(due_abs[:n_steady], committed[:n_steady])
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1e3 * harness.pct(fresh, 50),
        "latency_p75_ms": 1e3 * harness.pct(fresh, 75),
        "throughput_per_s": statistics.median(burst_rates),
    }
    gen_lag_ms = 1e3 * max(d - a for d, a in zip(dropped, due_abs))

    rows = _pg_query(
        st["conninfo"],
        f"SELECT symbol, bucket, open, high, low, close, volume, n_trades "
        f"FROM {TABLE} ORDER BY symbol, bucket",
    )
    actual = [
        {"symbol": r[0], "bucket": dt.datetime.fromisoformat(r[1]),
         "open": float(r[2]), "high": float(r[3]), "low": float(r[4]),
         "close": float(r[5]), "volume": float(r[6]), "n_trades": int(r[7])}
        for r in rows
    ]
    diff = oracle.compare_rows(oracle.ingest_expected(chunks), actual)
    failures = [f"final PostgreSQL state: {diff}"] if diff else []
    failures += [
        f"{n} dropped {d - a:.3f} s after its due time"
        for n, d, a in zip(names, dropped, due_abs)
        if d - a > MAX_GEN_LAG_S
    ]

    layer = {}
    if run.trace:
        measured = sink.batches[warm_batches:]
        layer = _layer_metrics(run, recorder, measured, due_abs, names, len(actual))
        layer["sink.pg_sessions"] = sessions
        layer["streaming.gen_lag_ms"] = gen_lag_ms
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": len(names) + 1,
        "failed": len(failures),
        "failures": failures,
        "report": {
            "freshness_p50_s": e2e["latency_p50_ms"] / 1e3,
            "freshness_p75_s": e2e["latency_p75_ms"] / 1e3,
            "burst_rows_per_s": e2e["throughput_per_s"],
            "burst_rates": burst_rates,
            "chunks": len(names),
            "batches": len(sink.batches) - warm_batches,
            "gen_lag_ms": gen_lag_ms,
            "pg_sessions": sessions,
            "setup_reps_s": setup_all,
        },
    }


def _wait(done, errors: list, timeout: float, what: str) -> None:
    deadline = time.time() + timeout
    while not done():
        if errors:
            raise RuntimeError(f"the ingest query failed: {errors[0]}") from errors[0]
        if time.time() > deadline:
            raise TimeoutError(f"{what} not committed within {timeout:.0f} s")
        time.sleep(0.01)


def _layer_metrics(run: Run, recorder, batches, due_abs, names, landed: int) -> dict:
    ids = {b["id"] for b in batches}
    log, rss_mb = harness.finish_trace(run)
    progress = [p for p in recorder.progress if p["batchId"] in ids]
    by_batch = trace.jobs_by(log, "streaming.sql.batchId")
    ops = {}
    trigger_start = {}
    for p in progress:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        trigger_start[p["batchId"]] = start
        ops[str(p["batchId"])] = (start, start + p["durationMs"].get("triggerExecution", 0) / 1e3)
    layer = {
        "process.peak_rss_mb": rss_mb,
        **metrics.spark_per_op(log, ops, "streaming.sql.batchId"),
        **metrics.spark_whole_run(log),
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": metrics.mean(p["numInputRows"] for p in progress),
        "streaming.trigger_ms": metrics.mean(
            p["durationMs"].get("triggerExecution", 0) for p in progress),
    }
    for ph in metrics.STREAM_PHASES:
        layer[f"streaming.phase_ms.{ph}"] = metrics.mean(
            p["durationMs"].get(ph, 0) for p in progress)
    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    layer["streaming.state_commit_ms"] = metrics.mean(s["commitTimeMs"] for s in states)
    if states:
        layer["streaming.state_rows"] = states[-1]["numRowsTotal"]
        layer["streaming.state_bytes"] = states[-1]["memoryUsedBytes"]
    holdback = []
    copy_ms, txn_ms = [], []
    for b in batches:
        jobs = by_batch.get(str(b["id"]), [])
        # a stage a later job reuses is listed by both jobs; count it once
        sids = {s for j in jobs for s in log["jobs"][j]["stages"] if s in log["stages"]}
        holdback.append(sum(log["stages"][s]["run_ms"] for s in sids
                            if log["stages"][s]["stateful"]))
        in_merge = [j for j in jobs if log["jobs"][j]["start"] / 1e3 >= b["start"]]
        # the COPY stage is the merge's one job that runs a Python function
        # through the RDD API (the sink's foreachPartition)
        copy_ms.append(sum(
            (log["jobs"][j]["end"] - log["jobs"][j]["start"]) for j in in_merge
            if log["jobs"][j]["python_rdd"]
        ))
        txn_ms.append(1e3 * ((b["end"] - b["start"]) - trace.covered(
            b["start"], b["end"], trace.job_intervals(log, in_merge))))
    layer["streaming.holdback_exec_ms"] = metrics.mean(holdback)
    layer["sink.merge_ms"] = 1e3 * metrics.mean(b["end"] - b["start"] for b in batches)
    layer["sink.copy_stage_ms"] = metrics.mean(copy_ms)
    layer["sink.merge_txn_ms"] = metrics.mean(txn_ms)
    waits = []
    for name, d in zip(names, due_abs):
        b = next(b for b in batches if name in b["files"])
        if b["id"] in trigger_start:
            waits.append(trigger_start[b["id"]] - d)
    layer["streaming.queue_wait_s"] = statistics.median(waits) if waits else 0.0
    layer["streaming.backlog_max_files"] = max(len(b["files"]) for b in batches)
    emitted = sum(s["emitted"] for s in log["stages"].values())
    layer["sink.landed_per_emitted"] = landed / emitted if emitted else 0.0
    return layer
