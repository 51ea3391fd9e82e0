"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pyarrow as pa

from perfbench import gen, metrics, oracle, trace
from perfbench.run import WORKLOADS
from perfbench.wl_ingest import Dropper, consumed_files, freshness

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_inputs(seed: int, out: str) -> list[str]:
    paths = [gen.write_table(gen.tick_history(seed, 2, 3), f"{out}/ticks.parquet")]
    for i, c in enumerate(gen.ingest_chunks(seed, 4, [(10.0, 10)] * 2 + [(1200.0, 20)])):
        paths.append(gen.write_table(c, f"{out}/chunk-{i}.parquet"))
    corpus, _ = gen.dedup_corpus(seed, n_base=40, n_copies=5, n_near=5)
    paths.append(gen.write_table(corpus, f"{out}/corpus.parquet"))
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_inputs(7, str(tmp_path / "a"))
    b = _write_inputs(7, str(tmp_path / "b"))
    c = _write_inputs(8, str(tmp_path / "c"))
    for pa_, pb in zip(a, b):
        with open(pa_, "rb") as fa, open(pb, "rb") as fb:
            assert fa.read() == fb.read()
    assert gen.file_digest(a) == gen.file_digest(b)
    assert gen.file_digest(a) != gen.file_digest(c)
    assert gen.chart_requests(7, 50, 2, 3) == gen.chart_requests(7, 50, 2, 3)
    assert gen.chart_requests(7, 50, 2, 3) != gen.chart_requests(8, 50, 2, 3)


def test_request_mix_is_the_same_for_every_seed():
    for seed in (1, 2):
        reqs = gen.chart_requests(seed, len(gen.ROUTE_CYCLE), 6, 4)
        classes = sorted((r["route"], r["empty_ts"]) for r in reqs)
        assert classes == sorted(gen.ROUTE_CYCLE)
    assert sum(gap for _, gap in gen.ROUTE_CYCLE) * 5 == len(gen.ROUTE_CYCLE)


def test_ingest_ticks_increase_per_symbol_across_chunks():
    chunks = gen.ingest_chunks(3, 4, [(10.0, 10)] * 3 + [(1200.0, 20)] * 2)
    last: dict[str, int] = {}
    for c in chunks:
        for sym, ts in zip(c.column("event_type").to_pylist(),
                           c.column("ts").cast(pa.int64()).to_pylist()):
            assert ts > last.get(sym, -1)
            last[sym] = ts


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
        {"id": 5, "parent": 1, "start": 9.5, "end": 12.0},  # runs past 1
    ]
    st = trace.self_times(spans)
    assert st[1] == 10.0 - 5.0 - 0.5
    assert st[2] == 3.0 - 1.0
    assert st[3] == 3.0
    assert st[4] == 1.0
    assert st[5] == 2.5


def test_tracer_links_parents_and_requests():
    t = trace.Tracer(True)
    with t.span("op", req="read-1"):
        with t.span("child"):
            pass
    child, op = t.spans
    assert child["parent"] == op["id"] and child["req"] == "read-1"
    off = trace.Tracer(False)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


def test_freshness_runs_from_due_time_and_a_late_drop_raises_it(tmp_path):
    def measure(delay: dict) -> tuple[float, list[float]]:
        src, watch = tmp_path / f"src{len(delay)}", tmp_path / f"watch{len(delay)}"
        src.mkdir()
        watch.mkdir()
        files = []
        for i in range(3):
            (src / f"c{i}").write_text("x")
            files.append(str(src / f"c{i}"))
        now = [100.0]
        d = Dropper(files, [0.0, 1.0, 2.0], str(watch), t0=100.0, delay=delay,
                    clock=lambda: now[0],
                    sleep=lambda s: now.__setitem__(0, now[0] + s))
        d.run()
        due = [100.0, 101.0, 102.0]
        committed = [t + 0.25 for t in d.dropped]  # the consumer commits 0.25 s after each drop
        lag = max(a - b for a, b in zip(d.dropped, due))
        return lag, freshness(due, committed)

    lag0, fresh0 = measure({})
    lag1, fresh1 = measure({1: 0.5})
    assert lag0 == 0.0 and fresh0 == [0.25, 0.25, 0.25]
    assert lag1 == 0.5
    assert fresh1[1] == fresh0[1] + 0.5


def test_consumed_files_reads_plain_and_compacted_logs(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)

    def entry(name, batch):
        return json.dumps({"path": f"file:///w/{name}", "timestamp": 1, "batchId": batch})

    (log / "3").write_text("v1\n" + entry("a", 3) + "\n" + entry("b", 3) + "\n")
    (log / "9.compact").write_text("v1\n" + entry("a", 3) + "\n" + entry("z", 9) + "\n")
    assert consumed_files(str(tmp_path), 3) == ["a", "b"]
    assert consumed_files(str(tmp_path), 9) == ["z"]


def test_event_log_attribution_on_a_synthetic_log(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [
             {"nodeName": "Scan parquet",
              "metrics": [{"name": "number of files read", "accumulatorId": 41}],
              "children": []},
             # the operator reports its output rows twice; count them once
             {"nodeName": "FlatMapGroupsInPandasWithState",
              "metrics": [{"name": "number of output rows", "accumulatorId": 51},
                          {"name": "number of output rows", "accumulatorId": 52}],
              "children": []}]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[41, 3], [99, 1000]]},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "read-0",
                                             "spark.sql.execution.id": "7"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Accumulables": [
            {"ID": 51, "Name": "number of output rows", "Update": 8},
            {"ID": 52, "Name": "number of output rows", "Update": 8}]},
         "Task Metrics": {"Executor Run Time": 40, "Executor CPU Time": 20_000_000,
                          "JVM GC Time": 5, "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Input Metrics": {"Bytes Read": 500, "Records Read": 50}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = trace.parse_event_log(str(path))
    tot = trace.job_totals(log, trace.jobs_by(log, "spark.jobGroup.id")["read-0"])
    assert (tot["jobs"], tot["tasks"], tot["run_ms"], tot["cpu_ms"]) == (1, 1, 40, 20.0)
    assert (tot["shuffle_write"], tot["records_read"], tot["files"]) == (100, 50, 3)
    assert log["stages"][0]["emitted"] == 8
    per_op = metrics.spark_per_op(log, {"read-0": (0.9, 1.4)}, "spark.jobGroup.id")
    assert abs(per_op["spark.driver_self_ms_per_op"] - 250.0) < 1e-6


def test_closed_loop_runs_until_time_and_minimum_are_both_met():
    import itertools

    from perfbench.harness import closed_loop

    recs = closed_loop(1, 0.0, itertools.repeat(None), lambda i, _: i, min_ops=2)
    assert [r.result for r in recs] == [0, 1]
    recs = closed_loop(2, 0.0, itertools.repeat(None), lambda i, _: 1 / (i - 1))
    assert recs == []
    recs = closed_loop(1, 0.0, itertools.repeat(None), lambda i, _: 1 / (i - 1), min_ops=3)
    assert [r.error is None for r in recs] == [True, False, True]


def test_covered_merges_overlaps_and_clips():
    assert trace.covered(0, 10, [(1, 3), (2, 5), (8, 20)]) == 6
    assert trace.covered(0, 10, []) == 0


# -- output checks ---------------------------------------------------------------


def _tiny_ticks() -> pa.Table:
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [  # (minute offset, second, price, volume)
        (0, 5, 10.0, 1.0), (0, 30, 12.0, 2.0), (1, 0, 11.0, 1.5),
        (65, 10, 20.0, 3.0), (65, 40, 19.0, 0.5),
    ]
    ts = [t0 + dt.timedelta(minutes=m, seconds=s) for m, s, _, _ in rows]
    return pa.table({
        "symbol": ["A"] * len(rows),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "price": [r[2] for r in rows],
        "volume": [r[3] for r in rows],
    })


def _req(interval, empty_ts=False, limit=500):
    return {"symbol": "A", "interval": interval, "limit": limit, "empty_ts": empty_ts,
            "start": dt.datetime(2024, 1, 1), "end": dt.datetime(2024, 1, 1, 12, 0)}


def test_chart_oracle_matches_hand_computed_candles():
    con = oracle.connect_ticks(_tiny_ticks())
    ms = int(dt.datetime(2024, 1, 1, 10, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    hourly = oracle.chart_expected(con, _req("1h"))
    assert hourly == [
        {"time": ms, "symbol": "A", "open": 10.0, "high": 12.0, "low": 10.0,
         "close": 11.0, "volume": 4.5, "n_trades": 3},
        {"time": ms + 3_600_000, "symbol": "A", "open": 20.0, "high": 20.0,
         "low": 19.0, "close": 19.0, "volume": 3.5, "n_trades": 2},
    ]
    filled = oracle.chart_expected(con, _req("1h", empty_ts=True))
    # the spine runs from the first fetched bucket (10:00) to end's bucket (12:00)
    assert [r["filled"] for r in filled] == [False, False, True]
    assert filled[2]["open"] == 15.0 and filled[2]["volume"] == 0.0
    assert len(oracle.chart_expected(con, _req("1m", limit=2))) == 2


def test_a_corrupted_expected_chart_response_is_caught():
    con = oracle.connect_ticks(_tiny_ticks())
    good = oracle.chart_expected(con, _req("1h"))
    assert oracle.compare_rows(good, [dict(r) for r in good]) is None
    bad = [dict(r) for r in good]
    bad[1]["close"] += 0.01
    assert "close" in oracle.compare_rows(bad, good)
    assert "rows" in oracle.compare_rows(good[:1], good)


def test_a_corrupted_expected_ingest_state_is_caught():
    chunks = gen.ingest_chunks(5, 2, [(180.0, 100)] * 2)
    expected = oracle.ingest_expected(chunks)
    # 2 chunks x 3 minutes x 2 symbols, minus each symbol's held-back minute
    assert len(expected) == 2 * (6 - 1)
    assert oracle.compare_rows(expected, [dict(r) for r in expected]) is None
    bad = [dict(r) for r in expected]
    bad[0]["n_trades"] += 1
    assert "n_trades" in oracle.compare_rows(bad, expected)


def _dedup_outputs(expected: dict) -> dict:
    """The outputs a correct pass returns when it finds every exact pair."""
    clusters = oracle.components(expected["pairs"])
    return {
        "exact": dict(expected["exact"]),
        "clean": dict(expected["clean"]),
        "pairs": dict(expected["pairs"]),
        "clusters": clusters,
        "canonical": oracle.canonical(clusters, expected["clean"]),
    }


def test_dedup_oracle_on_a_hand_built_corpus():
    body = " ".join(f"t{k}" for k in range(20))
    near = body.replace("t10", "u10")
    docs = {
        0: "cookie banner here\n" + body,
        1: near + "\ncookie banner here",
        2: "  " + ("cookie banner here\n" + body).upper() + "  ",  # copy of 0
        3: "something else entirely with more than three tokens",
    }
    e = oracle.dedup_expected(docs)
    assert e["exact"] == {0: 2, 1: 1, 3: 1}
    # the banner is in two surviving documents, so it is boilerplate
    assert e["clean"] == {0: body, 1: near, 3: docs[3]}
    # 18 shingles each; the swapped token breaks 3 of them in each
    assert e["pairs"] == {(0, 1): 15 / 21}
    clusters = oracle.components(e["pairs"])
    assert clusters == {0: (0, 2), 1: (0, 2)}
    assert oracle.canonical(clusters, e["clean"]) == {0: (0, 2)}


def test_planted_near_duplicates_are_the_exact_pairs():
    corpus, planted = gen.dedup_corpus(3, n_base=60, n_copies=6, n_near=8)
    docs = dict(zip(corpus.column("doc_id").to_pylist(), corpus.column("text").to_pylist()))
    e = oracle.dedup_expected(docs)
    assert sorted(e["pairs"]) == planted
    assert len(e["exact"]) == len(docs) - 6
    assert oracle.check_dedup(e, _dedup_outputs(e)) == []


def test_corrupted_dedup_outputs_are_caught():
    corpus, _ = gen.dedup_corpus(4, n_base=60, n_copies=6, n_near=8)
    e = oracle.dedup_expected(
        dict(zip(corpus.column("doc_id").to_pylist(), corpus.column("text").to_pylist()))
    )
    cases = {
        "exact_dedup": lambda g: g["exact"].update({max(g["exact"]) + 1: 1}),
        "line_dedup": lambda g: g["clean"].update({0: g["clean"][0] + " x"}),
        "not exact": lambda g: g["pairs"].update({(0, 1): 0.5}),
        "recall": lambda g: [g["pairs"].pop(p) for p in list(g["pairs"])[:4]],
        "dedup_clusters": lambda g: g["clusters"].update({10_000: (10_000, 1)}),
        "pick_canonical": lambda g: g["canonical"].popitem(),
    }
    for what, corrupt in cases.items():
        got = _dedup_outputs(e)
        corrupt(got)
        assert any(what in d for d in oracle.check_dedup(e, got)), what


def test_ingest_pg_fails_loudly_without_postgresql(tmp_path, monkeypatch):
    import pytest

    from coin_for_rich_spark.streaming import pgserver
    from perfbench.harness import Run
    from perfbench.wl_ingest import run_ingest_pg

    monkeypatch.setattr(pgserver, "pg_runnable", lambda: False)
    run = Run(workload="ingest_pg", seed=1, seconds=1, trace=False,
              work=str(tmp_path), tracer=trace.Tracer(False))
    with pytest.raises(RuntimeError, match="no fallback sink"):
        run_ingest_pg(run)
    assert run.spark is None  # failed before any session or sink existed


# -- BENCHMARK.json -------------------------------------------------------------


def test_benchmark_json_matches_the_metrics_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    assert better == metrics.BETTER
    # a traced end-to-end metric improves the same way as the untraced one
    layer_better = {m["name"]: m["better"] for m in bench["per_layer"]}
    for name, way in better.items():
        assert layer_better[f"traced.{name}"] == way
