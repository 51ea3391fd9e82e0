"""``chart_read``: a closed loop of 2 clients serving chart reads.

Set-up writes the seeded tick history date-partitioned and materializes the
rollup family. It runs three times, cold and then twice warm; ``setup_s``
is the median of the warm ones. Each request calls
``plans.reader.read_ohlcvs`` then ``plans.serve.serialize_candles`` and
collects the result. ``plans``,
``sources`` and ``operators`` do all the work; ``streaming`` does none.

A traced run then runs the ``corpus_dedup`` passes in a session of their
own (``wl_dedup.run_folded``) and reports their ``llmdata.*`` metrics
beside the chart's; the end-to-end metrics are the chart's alone.
"""

from __future__ import annotations

import shutil
from concurrent.futures import ThreadPoolExecutor

from . import gen, harness, metrics, oracle, trace, wl_dedup
from .harness import Run

CLIENTS = 2
N_SYMBOLS = 6
N_DAYS = 3
#: responses compared against DuckDB per run, drawn by seed
CHECK_SAMPLE = 40


def run_chart(run: Run) -> dict:
    import random

    from coin_for_rich_spark.plans.reader import read_ohlcvs
    from coin_for_rich_spark.plans.serve import serialize_candles
    from coin_for_rich_spark.sources.store import (
        load_rollups,
        materialize_rollups,
        read_partitioned,
        write_partitioned,
    )

    tracer = run.tracer
    ticks_tbl = gen.tick_history(run.seed, N_SYMBOLS, N_DAYS)
    src = gen.write_table(ticks_tbl, run.path("input", "ticks.parquet"))
    run.env["inputs_sha256"] = gen.file_digest([src])
    requests = gen.chart_requests(run.seed, 5000, N_SYMBOLS, N_DAYS)
    # one untimed read per request shape, from the far end of the sequence
    # the loop never reaches, compiles each shape's query code first (on
    # as many threads as the loop has clients)
    warmup = {(r["route"], r["empty_ts"]): r for r in requests[-len(gen.ROUTE_CYCLE):]}

    spark = harness.start_spark(run)
    sc = spark.sparkContext
    materialize_s: list[float] = []

    def setup(rep: int):
        base = run.path(f"store{rep}")
        with tracer.span("sources.write_partitioned", req=f"setup-{rep}"):
            write_partitioned(spark.read.parquet(src), f"{base}/ticks", truncate=True)
        ticks = read_partitioned(spark, f"{base}/ticks")
        with tracer.span("operators.materialize_rollups", req=f"setup-{rep}") as sp:
            paths = materialize_rollups(ticks, f"{base}/rollups")
        if sp is not None:
            materialize_s.append(sp["end"] - sp["start"])
        return base, ticks, load_rollups(spark, paths)

    setup_s, setup_all, (_, ticks, rollups) = harness.repeated_setup(
        setup, lambda state: shutil.rmtree(state[0])
    )

    def read(i: int, req: dict) -> list[dict]:
        op = f"read-{i}"
        sc.setJobGroup(op, req["route"] + ("+gap_fill" if req["empty_ts"] else ""))
        with tracer.span("chart.read", req=op):
            with tracer.span("plans.read_ohlcvs"):
                df = read_ohlcvs(
                    ticks, req["symbol"], req["interval"], start=req["start"],
                    end=req["end"], limit=req["limit"], empty_ts=req["empty_ts"],
                    rollups=rollups,
                )
            with tracer.span("plans.serialize_candles"):
                out = serialize_candles(df)
            with tracer.span("spark.collect"):
                return [r.asDict() for r in out.collect()]

    with ThreadPoolExecutor(CLIENTS) as pool:
        list(pool.map(read, range(len(requests), len(requests) + len(warmup)),
                      warmup.values()))
    records = harness.closed_loop(CLIENTS, run.seconds, requests, read)
    sc.setJobGroup("checks", "output checks")
    ok = [r for r in records if r.error is None]
    lat = [r.latency_s for r in ok]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1e3 * harness.pct(lat, 50),
        "latency_p75_ms": 1e3 * harness.pct(lat, 75),
        "throughput_per_s": len(ok) / max(
            max(r.start + r.latency_s for r in records) - min(r.start for r in records),
            1e-9,
        ),
    }

    failures = [f"read {r.index}: {r.error}" for r in records if r.error]
    con = oracle.connect_ticks(ticks_tbl)
    sample = random.Random(run.seed).sample(ok, min(CHECK_SAMPLE, len(ok)))
    for r in sample:
        diff = oracle.compare_rows(oracle.chart_expected(con, r.request), r.result)
        if diff:
            failures.append(f"read {r.index} {r.request['interval']}: {diff}")
    con.close()

    res = {
        "e2e": e2e,
        "layer": {},
        "attempted": len(records) + len(sample),
        "failed": len(failures),
        "failures": failures,
        "report": {
            "read_p50_ms": e2e["latency_p50_ms"],
            "read_p75_ms": e2e["latency_p75_ms"],
            "reads_per_s": e2e["throughput_per_s"],
            "reads": len(records),
            "setup_reps_s": setup_all,
        },
    }
    if run.trace:
        res["layer"] = _layer_metrics(run, records, materialize_s)  # stops the session
        dedup = wl_dedup.run_folded(run)
        res["layer"].update(dedup["layer"])
        res["attempted"] += dedup["attempted"]
        res["failed"] += dedup["failed"]
        res["failures"] += [f"dedup {f}" for f in dedup["failures"]]
        res["report"].update({k if k.startswith("dedup_") else f"dedup_{k}": v
                              for k, v in dedup["report"].items()})
    return res


def _layer_metrics(run: Run, records, materialize_s) -> dict:
    spans = run.tracer.spans
    by_req: dict[str, dict[str, float]] = {}
    for s in spans:
        by_req.setdefault(s["req"], {})[s["name"]] = s["end"] - s["start"]
    measured = {f"read-{r.index}" for r in records}
    tops = {s["req"]: (s["start"], s["end"]) for s in spans
            if s["name"] == "chart.read" and s["req"] in measured}
    log, rss_mb = harness.finish_trace(run)
    layer = {
        "process.peak_rss_mb": rss_mb,
        **metrics.spark_per_op(log, tops, "spark.jobGroup.id"),
        **metrics.spark_whole_run(log),
        "operators.materialize_s": metrics.mean(materialize_s[1:] or materialize_s),
    }
    ok = [r for r in records if r.error is None]
    for cls in metrics.READ_CLASSES:
        lat = [
            r.latency_s for r in ok
            if (cls == "gap_fill" and r.request["empty_ts"])
            or (not r.request["empty_ts"] and r.request["route"] == cls)
        ]
        layer[f"plans.read_ms.{cls}"] = 1e3 * metrics.mean(lat)
    reads = [by_req[f"read-{r.index}"] for r in ok if f"read-{r.index}" in by_req]
    layer["plans.build_ms"] = 1e3 * metrics.mean(
        d.get("plans.read_ohlcvs", 0) + d.get("plans.serialize_candles", 0) for d in reads
    )
    layer["plans.collect_ms"] = 1e3 * metrics.mean(d.get("spark.collect", 0) for d in reads)
    groups = trace.jobs_by(log, "spark.jobGroup.id")
    read_jobs = [j for op in tops for j in groups.get(op, ())]
    tot = trace.job_totals(log, read_jobs)
    n = max(len(tops), 1)
    rows_out = sum(len(r.result) for r in ok)
    layer["sources.files_scanned_per_read"] = tot["files"] / n
    layer["sources.bytes_scanned_per_read"] = tot["bytes_read"] / n
    layer["sources.rows_scanned_per_row_returned"] = tot["records_read"] / max(rows_out, 1)
    return layer
