"""sf10 x SKEW composition smoke (r12 VERDICT ask #4).

The sf10 decade is uniform-replica; the 1000x-skew generator had only been
composed up to sf0.1-scale gates. This script composes the two axes for
the three heaviest sf10 text plans: it builds a SKEWED sf10 documents twin
(the same transform as ``scripts/skew_data.py`` — 5% of docs collapse into
one mega near-duplicate boilerplate cluster, the hot-domain shape — applied
to the 500k-doc sf10 table), then measures ``span_dedup`` /
``quality_score`` / ``doc_profile`` on uniform sf10 and skewed sf10 in ONE
session and reports the skew/uniform ratio per plan.

Only ``documents`` is materialized in the twin dir: all three plans read
that one table, and replicating sf10's other tables for an axis they never
touch would be dead weight (the full-surface skew correctness gate already
runs at sf0.1 scale via ``scale_gate.py --dir .scale/skew``).

The exact-pair tier (``ngram_jaccard`` / ``dedup_clusters``) is measured
on this twin as a GUARD scenario, not a wall-clock row: a 25k-doc mega
near-duplicate cluster makes the TRUE answer itself quadratic
(~25k²/2 ≈ 3.1×10⁸ pairs), so no exact-schema plan — count, prefix, or
LSH-verified — can return it in bounded output. The correct engine
behavior is the candidate-cap probe REFUSING in probe time (seconds) with
a box-sized cap, and that refusal latency + its estimate is what
``ngram_jaccard_guard`` records.

Run quiet, after other gates: ``python scripts/sf10_skew_smoke.py``.
Output: ``.scale/SCALE_SMOKE_SF10_SKEW.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from coin_for_rich_spark.llmdata.dedup import release_intermediate_caches  # noqa: E402
from coin_for_rich_spark.session import get_spark  # noqa: E402
from coin_for_rich_spark.sources import load_table  # noqa: E402
from scripts.host_probe import probe  # noqa: E402
from scripts.measure import settle  # noqa: E402
from scripts.skew_data import _BASE  # noqa: E402 — ONE mega-cluster definition

SF10 = os.path.join(REPO, ".scale", "sf10")
SF10_SKEW = os.path.join(REPO, ".scale", "sf10skew")
ARTIFACT = os.path.join(REPO, ".scale", "SCALE_SMOKE_SF10_SKEW.json")
VERSION = "sf10skew-docs-v1"
PLANS = ["span_dedup", "doc_profile", "quality_score"]


def ensure_sf10_skew_docs(spark) -> None:
    """Idempotent: skewed documents twin of .scale/sf10 (same transform as
    skew_data.skew_tables' documents leg, same ident-marker discipline)."""
    ident_path = os.path.join(SF10_SKEW, "_ident.txt")
    src = os.path.join(SF10, "documents.parquet")
    st = os.stat(src)
    ident = f"{VERSION}|{src}|{st.st_size}|{st.st_mtime_ns}"
    if os.path.exists(ident_path):
        with open(ident_path) as fh:
            if fh.read().strip() == ident:
                return
    docs = spark.read.parquet(src)
    clustered = F.col("doc_id") % 20 == 7
    skewed = docs.select(
        "doc_id",
        F.when(
            clustered,
            F.concat(F.lit(_BASE + " tail_"), F.col("doc_id").cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
        F.when(clustered, F.lit("boilerplate.example")).otherwise(
            F.col("source")
        ).alias("source"),
        "n_chars",
    ).withColumn("n_chars", F.length("text").cast("long"))
    os.makedirs(SF10_SKEW, exist_ok=True)
    skewed.repartition(32).write.mode("overwrite").parquet(
        os.path.join(SF10_SKEW, "documents.parquet")
    )
    with open(ident_path, "w") as fh:
        fh.write(ident)


def run_plan(spark, name: str, sf_dir: str) -> dict:
    fn = entry_mod.queries()[name]
    if hasattr(entry_mod, "_reset_bench_caches"):
        entry_mod._reset_bench_caches()
    rows = fn(spark, sf_dir).count()
    wall = None
    for _ in range(2):
        if hasattr(entry_mod, "_reset_bench_caches"):
            entry_mod._reset_bench_caches()
        release_intermediate_caches()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        t = time.perf_counter() - t0
        wall = t if wall is None else min(wall, t)
    return {"sec": round(wall, 3), "rows": rows}


def run_guard_probe(spark) -> dict:
    """The exact-pair tier on the skewed twin: assert the candidate-cap
    probe refuses in probe time with a box-sized cap (50M — what local[32]
    shuffles in minutes), instead of starting a ~3.1e8-candidate join whose
    OUTPUT is itself quadratic. Records refusal latency + the estimates the
    error names."""
    import re

    from coin_for_rich_spark.llmdata.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF10_SKEW, "documents")
    cap = 50_000_000
    t0 = time.perf_counter()
    try:
        # .first() would force the join; the probe fires eagerly inside the
        # call, so reaching a DataFrame at all means the guard passed it.
        df = ngram_jaccard_pairs(docs, candidate_cap=cap, on_over_cap="error")
        wall = time.perf_counter() - t0
        return {
            "refused": False,
            "probe_wall_s": round(wall, 3),
            "note": "guard did NOT refuse — plan was certified; join not executed",
            "plan_columns": df.columns,
        }
    except RuntimeError as exc:
        wall = time.perf_counter() - t0
        msg = str(exc)
        nums = [int(s.replace(",", "")) for s in re.findall(r"[\d,]{4,}", msg)]
        return {
            "refused": True,
            "probe_wall_s": round(wall, 3),
            "candidate_cap": cap,
            "estimates_in_error": nums[:3],
            "error_head": msg[:300],
        }


def main() -> int:
    names = sys.argv[1:] or PLANS
    spark = get_spark("coin_for_rich_spark-sf10-skew-smoke")
    if not os.path.isdir(SF10):
        print("missing .scale/sf10 — run the decade composition first",
              file=sys.stderr)
        return 1
    ensure_sf10_skew_docs(spark)
    for d in (SF10, SF10_SKEW):
        load_table(spark, d, "documents").count()  # warm fs cache
    probe_pre = probe(spark, tag="sf10_skew_pre")
    results: dict[str, dict] = {}
    for name in names:
        # settle at the TOP of each plan iteration (r13 ADVICE): a single
        # settle before the loop left later plans starting on a hot box
        # (committed artifact recorded loadavg_pre 21.5 for doc_profile)
        settle(max_load=2.0, timeout_s=300.0)
        row: dict = {"loadavg_pre": round(os.getloadavg()[0], 2)}
        for label, d in (("sf10_uniform", SF10), ("sf10_skew", SF10_SKEW)):
            try:
                row[label] = run_plan(spark, name, d)
            except Exception as exc:  # noqa: BLE001 — the smoke RECORDS cliffs
                row[label] = {"error": f"{type(exc).__name__}: {exc}"[:500]}
        a = row.get("sf10_uniform", {}).get("sec")
        b = row.get("sf10_skew", {}).get("sec")
        # explicit None/zero guard (r13 ADVICE): truthiness turned a
        # 0.0-rounded wall into ratio None, and a genuinely 0.0 uniform
        # leg would have divided by zero
        row["ratio_skew_vs_uniform"] = (
            round(b / a, 2)
            if a is not None and b is not None and a > 0
            else None
        )
        results[name] = row
        print(json.dumps({name: row}), file=sys.stderr)
    guard_ok = True
    if not sys.argv[1:]:  # default run: include the guard scenario
        results["ngram_jaccard_guard"] = run_guard_probe(spark)
        # COVERAGE.md defines refusal as the CORRECT engine behavior for
        # this adversary — a run where the guard certifies the quadratic
        # plan is a contract regression and must not exit clean (r13
        # ADVICE)
        guard_ok = results["ngram_jaccard_guard"]["refused"]
        if not guard_ok:
            print(
                "GUARD-REGRESSION: candidate-cap probe did NOT refuse the "
                "sf10-skew mega-cluster adversary — exact-pair admission "
                "contract broken",
                file=sys.stderr,
            )
        results["ngram_jaccard_guard"]["why_not_a_wall_row"] = (
            "the 25k-doc mega cluster makes the TRUE exact answer "
            "~3.1e8 pairs — quadratic OUTPUT, so no exact-schema plan is "
            "runnable at any cap; the measured contract is the probe "
            "refusing in seconds instead of a cluster timeout"
        )
        print(json.dumps({"ngram_jaccard_guard": results["ngram_jaccard_guard"]}),
              file=sys.stderr)
    out = {
        "uniform_dir": SF10,
        "skew_dir": SF10_SKEW,
        "skew_transform": (
            "documents only: 5% of 500k docs (doc_id % 20 = 7) become "
            "near-copies of one boilerplate paragraph differing in a "
            "per-doc tail token (25k-doc mega near-duplicate cluster, "
            "hot source domain) — skew_data.py's documents leg at 100x "
            "the committed skew gate's scale"
        ),
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "probe_pre": probe_pre,
        "probe_post": probe(spark, tag="sf10_skew_post"),
        "results": results,
    }
    if os.path.exists(ARTIFACT):
        with open(ARTIFACT) as fh:
            prior = json.load(fh)
        if (
            prior.get("uniform_dir") == SF10
            and prior.get("skew_dir") == SF10_SKEW
        ):
            prior.setdefault("results", {}).update(out["results"])
            prior["loadavg_end"] = out["loadavg_end"]
            prior["probe_pre"] = out["probe_pre"]
            prior["probe_post"] = out["probe_post"]
            out = prior
    with open(ARTIFACT, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()
    return 0 if guard_ok else 2


if __name__ == "__main__":
    raise SystemExit(main())
