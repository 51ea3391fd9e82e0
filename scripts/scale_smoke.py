"""sf1 scale smoke — the 10x datapoint the 100 TB design grade needs.

VERDICT r7 ask #4 / r8 ask #1: every scale claim in COVERAGE.md is argued
from plan shape; this script adds the first measured datapoint above
sf0.1. It (a) GENERATES an sf1 dataset (10x sf0.1) under
``/root/repo/.scale/sf1`` by replicating the driver's sf0.1 tables ten
times along the axis that actually grows at 100 TB — KEY CARDINALITY —
and (b) runs the six most expensive declared plans at sf0.1 and sf1 in
ONE session, reporting per-query wall seconds and the 10x scaling ratio.

Generation is shared with ``scripts/scale_gate.py`` (the full-gate sf1
correctness run): ``scripts/sf1_data.py`` replicates ALL ten tables with
FK-consistent key offsets — see its docstring for the replication design
(disjoint vocab per document replica, sign-flip reflections per embedding
replica, fixed dim universes). Idempotent via the ident marker. Output:
one JSON line per plan + a summary table on stderr, full JSON to
``.scale/SCALE_SMOKE.json``.

Run: ``python scripts/scale_smoke.py [query ...]`` (default: the top-6).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from coin_for_rich_spark.session import get_spark  # noqa: E402
from coin_for_rich_spark.sources import load_table  # noqa: E402
from scripts.sf1_data import REPLICAS, SF01, SF1, ensure_sf1  # noqa: E402
from scripts.host_probe import probe  # noqa: E402
from scripts.measure import settle  # noqa: E402
# the six most expensive declared plans (VERDICT r8 ask #1 list + bpe)
TOP = [
    "stream_upsert_ingest",
    "stream_latest_serve",
    "stream_hold_back",
    "ngram_jaccard",
    "dedup_clusters",
    "bpe_encode",
]


def run_plan(spark: SparkSession, name: str, sf_dir: str) -> dict:
    fn = entry_mod.queries()[name]
    # pass 0 (untimed): row count — warms fs cache/codegen so the timed
    # passes measure the plan; passes 1..2: noop-writer wall time, MIN
    entry_mod._reset_bench_caches()
    rows = fn(spark, sf_dir).count()
    wall = None
    for _ in range(2):
        entry_mod._reset_bench_caches()
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        t = time.perf_counter() - t0
        wall = t if wall is None else min(wall, t)
    return {"sec": round(wall, 3), "rows": rows}


def main() -> int:
    names = sys.argv[1:] or TOP
    spark = get_spark("coin_for_rich_spark-scale-smoke")
    ensure_sf1(spark)
    # warm both dirs so fs-cache effects don't land on the first plan
    for d in (SF01, SF1):
        for t in ("events", "documents"):
            load_table(spark, d, t).count()
    settle(max_load=2.0, timeout_s=300.0)
    probe_pre = probe(spark, tag="scale_smoke_pre")
    # labels follow the dir basenames so the env-composed next-decade run
    # (SPARK_GRAFT_SF_DIR=.scale/sf1 + SPARK_GRAFT_SF1_OUT=.scale/sf10,
    # i.e. sf1 -> sf10) reads honestly in the artifact
    lab_a = os.path.basename(SF01.rstrip("/"))
    lab_b = os.path.basename(SF1.rstrip("/"))
    if lab_a == lab_b:
        # equal basenames (e.g. both dirs named `data`) would collide in one
        # row key — the second write would clobber the first and ratio_10x
        # would compare a directory to itself
        lab_a, lab_b = lab_a + "_base", lab_b + "_target"
    results: dict[str, dict] = {}
    for name in names:
        row: dict = {"loadavg_pre": round(os.getloadavg()[0], 2)}
        for label, d in ((lab_a, SF01), (lab_b, SF1)):
            try:
                row[label] = run_plan(spark, name, d)
            except Exception as exc:  # noqa: BLE001 — the smoke RECORDS cliffs
                row[label] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        a, b = row.get(lab_a, {}).get("sec"), row.get(lab_b, {}).get("sec")
        row["ratio_10x"] = round(b / a, 2) if a and b else None
        results[name] = row
        print(json.dumps({name: row}), file=sys.stderr)
    out = {
        "base_dir": SF01,
        "target_dir": SF1,
        "replicas": REPLICAS,
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "probe_pre": probe_pre,
        "probe_post": probe(spark, tag="scale_smoke_post"),
        "results": results,
    }
    # a non-default target writes a TAGGED artifact — the committed
    # sf0.1-vs-sf1 record must never be clobbered by a composed run
    tag = "" if lab_b == "sf1" else "_" + lab_b.upper()
    path = os.path.join(REPO, ".scale", f"SCALE_SMOKE{tag}.json")
    if os.path.exists(path):
        # heavy plans run ONE per invocation under the harness budget — merge
        # this invocation's rows into the standing artifact (same dirs only;
        # a different base/target pair means the old rows are stale and the
        # artifact is rewritten) instead of clobbering the other plans' rows
        with open(path) as fh:
            prior = json.load(fh)
        if prior.get("base_dir") == SF01 and prior.get("target_dir") == SF1:
            prior.setdefault("results", {}).update(out["results"])
            prior["loadavg_end"] = out["loadavg_end"]
            # the probe bracket belongs to THIS invocation's rows; the
            # full history stays queryable in .scale/HOST_PROBE.jsonl
            prior["probe_pre"] = out["probe_pre"]
            prior["probe_post"] = out["probe_post"]
            omitted = prior.get("omitted")
            if isinstance(omitted, dict):
                for name in out["results"]:
                    omitted.pop(name, None)
            out = prior
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
