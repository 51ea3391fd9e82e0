"""``corpus_dedup``: a closed loop of dedup passes over a seeded corpus.

Set-up loads the corpus (``SETUP_REPS`` times; ``setup_s`` is the median of
the warm ones). Each pass runs the dedup ladder ``exact_dedup`` →
``line_dedup`` → ``minhash_pairs`` → ``dedup_clusters`` →
``pick_canonical``, materializing each step's output (``localCheckpoint``)
so its cost lands on the step that made it. ``llmdata`` does all the work;
nothing else in the benchmark calls it.

The workload is not in ``BENCHMARK.json``: its pass times moved with the
shared host more than its run could average out (see the README). A traced
``chart_read`` run runs it after the chart loop, in a session of its own
(:func:`run_folded`), so ``llmdata`` is still measured layer by layer.
"""

from __future__ import annotations

import itertools
import os

from . import gen, harness, metrics, oracle, trace
from .harness import Run

#: ``--seconds`` of the dedup passes in a traced ``chart_read`` run: none
#: beyond the two timed passes every run makes
FOLDED_SECONDS = 0.0


def run_dedup(run: Run) -> dict:
    from pyspark.sql import functions as F

    from coin_for_rich_spark.llmdata.dedup import (
        dedup_clusters,
        exact_dedup,
        explode_lines,
        line_dedup,
        minhash_pairs,
        pick_canonical,
    )

    tracer = run.tracer
    corpus, planted = gen.dedup_corpus(run.seed)
    src = gen.write_table(corpus, run.path("input", "corpus.parquet"))
    run.env["inputs_sha256"] = gen.file_digest([src])
    n_docs = corpus.num_rows
    expected = oracle.dedup_expected(
        dict(zip(corpus.column("doc_id").to_pylist(), corpus.column("text").to_pylist()))
    )

    spark = harness.start_spark(run)
    sc = spark.sparkContext

    def setup(rep: int):
        with tracer.span("sources.load_corpus", req=f"setup-{rep}"):
            docs = spark.read.parquet(src).cache()
            docs.count()
        return docs

    setup_s, setup_all, docs = harness.repeated_setup(setup, lambda d: d.unpersist())

    def step(op: str, name: str, fn):
        sc.setJobGroup(op, name)
        with tracer.span(f"llmdata.{name}"):
            return fn().localCheckpoint()

    def dedup_pass(i: int, _req) -> dict:
        op = f"pass-{i}"
        with tracer.span("dedup.pass", req=op):
            exact = step(op, "exact_dedup", lambda: exact_dedup(docs))
            kept = docs.join(exact.select(F.col("keep_id").alias("doc_id")), "doc_id")
            clean = step(op, "line_dedup", lambda: line_dedup(explode_lines(kept)))
            pairs = step(op, "minhash_pairs",
                         lambda: minhash_pairs(clean, text_col="clean_text"))
            clusters = step(op, "dedup_clusters",
                            lambda: dedup_clusters(pairs, a_col="doc_a", b_col="doc_b"))
            canon = step(op, "pick_canonical",
                         lambda: pick_canonical(clusters, clean, text_col="clean_text"))
        return {"exact": exact, "clean": clean, "pairs": pairs,
                "clusters": clusters, "canonical": canon}

    dedup_pass(-1, None)  # untimed: compiles every step's query code
    # at least two passes, so a slow first pass on a busy host does not leave
    # the run's percentiles resting on one sample
    records = harness.closed_loop(1, run.seconds, itertools.repeat(None), dedup_pass,
                                  min_ops=2)
    sc.setJobGroup("checks", "output checks")
    ok = [r for r in records if r.error is None]
    lat = [r.latency_s for r in ok]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": 1e3 * harness.pct(lat, 50),
        "latency_p75_ms": 1e3 * harness.pct(lat, 75),
        "throughput_per_s": n_docs * len(ok) / max(
            max(r.start + r.latency_s for r in records) - min(r.start for r in records),
            1e-9,
        ),
    }

    failures = [f"pass {r.index}: {r.error}" for r in records if r.error]
    failed = len(failures)
    recall = []
    for r in ok:  # one check per pass, failed if any step's output is wrong
        got = _collect(r.result)
        diffs = oracle.check_dedup(expected, got)
        failures += [f"pass {r.index} {d}" for d in diffs]
        failed += bool(diffs)
        recall.append(sum(p in got["pairs"] for p in planted) / len(planted))

    layer = {}
    if run.trace:
        layer = _layer_metrics(run, records)
        layer["llmdata.recall"] = metrics.mean(recall)
        layer["llmdata.pass_ms"] = e2e["latency_p50_ms"]
        layer["llmdata.docs_per_s"] = e2e["throughput_per_s"]
    return {
        "e2e": e2e,
        "layer": layer,
        "attempted": len(records) + len(ok),
        "failed": failed,
        "failures": failures,
        "report": {
            "dedup_pass_p50_ms": e2e["latency_p50_ms"],
            "dedup_pass_p75_ms": e2e["latency_p75_ms"],
            "dedup_docs_per_s": e2e["throughput_per_s"],
            "passes": len(records),
            "docs": n_docs,
            "exact_pairs": len(expected["pairs"]),
            "planted_pairs": len(planted),
            "setup_reps_s": setup_all,
        },
    }


def run_folded(run: Run) -> dict:
    """The dedup passes of another workload's traced run: ``run_dedup`` in a
    fresh session under ``<work>/dedup``, on the run's seed and tracer,
    stopped before returning. Only its ``llmdata.*`` metrics are kept; the
    Spark-wide ones belong to the host workload."""
    sub = Run(workload="corpus_dedup", seed=run.seed, seconds=FOLDED_SECONDS,
              trace=True, work=run.path("dedup"), tracer=run.tracer)
    os.makedirs(sub.path("tmp"))
    try:
        res = run_dedup(sub)
    finally:
        harness.stop_spark(sub)
    run.env["dedup_inputs_sha256"] = sub.env["inputs_sha256"]
    res["layer"] = {k: v for k, v in res["layer"].items() if k.startswith("llmdata.")}
    return res


def _collect(out: dict) -> dict:
    """One pass's outputs as plain Python, in :func:`oracle.check_dedup`'s
    shapes."""
    return {
        "exact": {r.keep_id: r.n_copies for r in out["exact"].collect()},
        "clean": {r.doc_id: r.clean_text for r in out["clean"].collect()},
        "pairs": {(r.doc_a, r.doc_b): r.jaccard for r in out["pairs"].collect()},
        "clusters": {r.doc_id: (r.cluster_id, r.cluster_size)
                     for r in out["clusters"].collect()},
        "canonical": {r.cluster_id: (r.keep_id, r.cluster_size)
                      for r in out["canonical"].collect()},
    }


def _layer_metrics(run: Run, records) -> dict:
    spans = run.tracer.spans
    measured = {f"pass-{r.index}" for r in records if r.error is None}
    tops = {s["req"]: (s["start"], s["end"]) for s in spans
            if s["name"] == "dedup.pass" and s["req"] in measured}
    calls = [s for s in spans
             if s["name"].startswith("llmdata.") and s["req"] in measured]
    log, rss_mb = harness.finish_trace(run)
    layer = {
        "process.peak_rss_mb": rss_mb,
        **metrics.spark_per_op(log, tops, "spark.jobGroup.id"),
        **metrics.spark_whole_run(log),
    }
    groups = trace.jobs_by(log, "spark.jobGroup.id")
    n = max(len(tops), 1)
    driver_ms = 0.0
    for name in metrics.DEDUP_STEPS:
        mine = [s for s in calls if s["name"] == f"llmdata.{name}"]
        jobs = [j for op in tops for j in groups.get(op, ())
                if log["jobs"][j]["props"].get("spark.job.description") == name]
        layer[f"llmdata.call_ms.{name}"] = 1e3 * sum(s["end"] - s["start"] for s in mine) / n
        layer[f"llmdata.shuffle_bytes.{name}"] = trace.job_totals(log, jobs)["shuffle_write"] / n
        intervals = trace.job_intervals(log, jobs)
        driver_ms += 1e3 * sum(
            (s["end"] - s["start"]) - trace.covered(s["start"], s["end"], intervals)
            for s in mine
        )
    layer["llmdata.python_ms"] = driver_ms / n
    return layer
