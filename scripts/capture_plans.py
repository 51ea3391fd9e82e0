"""Capture .explain("formatted") for every declared query.

Writes plans/r15/<name>_<tag>.txt for each declared query (tag = before/after,
argv[1]). Streaming rows execute during construction (their returned relation
is the materialized sink state), so their "plan" is the sink-read plan — still
recorded for completeness, with a header note.

Usage: SPARK_GRAFT_SF_DIR=... python scripts/capture_plans.py before [q ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from coin_for_rich_spark.session import get_spark


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_DIR", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("coin_for_rich_spark-plans")
    qs = entry_mod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name.startswith("stream_"):
            # executing the full micro-batch pipeline just to print the
            # sink-read plan is not worth the minutes; the streaming rows'
            # shape is pinned by the streaming module tests
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR capturing plan: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(f"captured {name}")
        entry_mod._reset_bench_caches()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
