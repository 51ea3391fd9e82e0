"""Per-round benchmark harness (driver contract).

Runs every ``queries()`` entry from ``__spark_entry__`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<name>: sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the ``noop`` writer (full execution of
every partition, no driver-side collect — the same shape a cluster run has).
A warm-up pass of a trivial action first amortizes JVM/session startup out of
the per-query numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from coin_for_rich_spark.session import get_spark
from scripts.host_probe import probe
from scripts.measure import settle


def run_query(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def latest_bench_anchor(root: str) -> str | None:
    """File name of the newest committed round bench under ``root``: the
    ``BENCH_r<N>.json`` with the largest integer N. Variants such as
    ``BENCH_r16_c8.json`` (a rerun at another core count) are not
    anchors."""
    runs = {
        int(m.group(1)): name
        for name in os.listdir(root)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", name))
    }
    return runs[max(runs)] if runs else None


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    only = set(sys.argv[1:])
    settled_s = settle()

    spark = get_spark("coin_for_rich_spark-bench")
    # warm-up: touch every table once so fs cache / codegen / Arrow init don't
    # land on the first measured query.
    from coin_for_rich_spark.sources import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    # fixed-workload host probe brackets the measurement (r13 VERDICT ask
    # #1): identical engine code drifted 1.21x round-over-round with no
    # engine diff, and without a denominator that number is unanswerable.
    # The probe's spark_shuffle leg is the best single proxy for what the
    # bench itself exercises (codegen + shuffle + scheduler).
    probe_pre = probe(spark, tag="bench_pre")

    # two measured passes, per-query MIN: wall-clock on a shared host is
    # noisy (co-tenant bursts inflate single runs 2-3×); the min of two runs
    # is a far better estimate of the plan's actual cost than one sample
    n_passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    timings: dict[str, float] = {}
    for _ in range(n_passes):
        # memoized query RESULTS must not leak between passes — min-of-N
        # should measure the plan, not a cache hit (staged infrastructure
        # like stream chunks stays warm on purpose)
        entry_mod._reset_bench_caches()
        for name, fn in entry_mod.queries().items():
            if only and name not in only:
                continue
            try:
                t = round(run_query(spark, fn, sf_dir), 3)
            except Exception as exc:  # noqa: BLE001 — record the failure, keep going
                print(f"BENCH-ERROR {name}: {exc}", file=sys.stderr)
                t = -1.0
            prev = timings.get(name)
            timings[name] = t if prev is None or prev < 0 else (
                min(prev, t) if t >= 0 else prev
            )

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    probe_post = probe(spark, tag="bench_post")
    # probe-normalized sum: wall seconds per unit of host shuffle speed —
    # dimensionless across sessions, so r-over-r ratios of THIS number
    # subtract host drift. Denominator = mean bracketing spark_shuffle_s.
    shuffle_ref = (
        probe_pre["spark_shuffle_s"] + probe_post["spark_shuffle_s"]
    ) / 2.0
    norm = round(total / shuffle_ref, 2) if shuffle_ref > 0 else None
    # r15 instrument hardening. Two measured defects in the mean-probe
    # normalization, both visible in .scale/HOST_PROBE.jsonl (10 same-day
    # rows: shuffle-probe CV 19%, larger than the bench sum's own spread):
    #   1. MEAN of the two bracketing probes mixes co-tenant bursts into
    #      the denominator; every other number in this repo is a min-of-N
    #      for exactly that reason. Denominator here = MIN(pre, post).
    #   2. The six stream_* rows (~23 s) are micro-batch MACHINERY
    #      constants (trigger waits, wire round-trips) that do not scale
    #      with host shuffle speed, so normalizing the WHOLE sum by a
    #      fast probe inflates the ratio with no plan change. The
    #      breakdown below normalizes only the host-speed-sensitive part.
    # Both fields are ADDITIVE — value_per_shuffle_unit keeps its r14
    # definition for continuity.
    shuffle_ref_min = min(
        probe_pre["spark_shuffle_s"], probe_post["spark_shuffle_s"]
    )
    stream_fixed = round(
        sum(t for n, t in timings.items() if n.startswith("stream_") and t >= 0),
        3,
    )
    nonstream = round(total - stream_fixed, 3)
    ns_norm_min = (
        round(nonstream / shuffle_ref_min, 2) if shuffle_ref_min > 0 else None
    )
    # HEADLINE round-over-round numbers: this run's normalizations as
    # ratios of the newest committed round bench's (latest_bench_anchor).
    # Ratios of normalized numbers subtract host drift, so a move here is
    # a plan change, not a co-tenant burst.
    repo = os.path.dirname(os.path.abspath(__file__))
    anchor = latest_bench_anchor(repo)
    ref: dict = {}
    if anchor:
        with open(os.path.join(repo, anchor)) as fh:
            ref = json.load(fh).get("parsed") or {}

    def vs_anchor(x: float | None, key: str) -> float | None:
        return round(x / ref[key], 3) if x and ref.get(key) else None

    # self-describing environment: host load at measurement time, so a
    # round-over-round comparison can tell plan regressions from co-tenant
    # noise without a controlled re-run (the r6 adjudication cost)
    try:
        load1, load5, load15 = (round(x, 2) for x in os.getloadavg())
    except OSError:
        load1 = load5 = load15 = -1.0
    print(
        json.dumps(
            {
                "metric": "sum_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n": n_passes,
                "loadavg": [load1, load5, load15],
                "settled_s": settled_s,
                # the parallelism the session really runs with, not the
                # host's core count (they differ under SPARK_GRAFT_CPUS)
                "cpus": spark.sparkContext.defaultParallelism,
                "probe_pre": probe_pre,
                "probe_post": probe_post,
                "value_per_shuffle_unit": norm,
                "anchor": anchor,
                "norm_ratio_vs_anchor": vs_anchor(norm, "value_per_shuffle_unit"),
                "stream_fixed_s": stream_fixed,
                "nonstream_s": nonstream,
                "shuffle_ref_min_s": round(shuffle_ref_min, 3),
                "nonstream_per_shuffle_unit_min": ns_norm_min,
                "nonstream_ratio_vs_anchor": vs_anchor(
                    ns_norm_min, "nonstream_per_shuffle_unit_min"
                ),
            }
        )
    )
    spark.stop()
    return 1 if any(t < 0 for t in timings.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
