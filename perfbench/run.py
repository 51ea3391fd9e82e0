"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload chart_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
every file the run writes stays under ``.perfbench_work/`` (removed at
exit) and, for traced runs, ``.perfbench_out/`` (the spans). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it, each starting
with ``#``, record the host, versions, seed and input hash, and name each
end-to-end metric the way the workload's users know it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: the workloads in BENCHMARK.json
WORKLOADS = ("chart_read", "ingest_pg")
#: runnable on its own; a traced chart_read run includes its dedup passes
EXTRA_WORKLOADS = ("corpus_dedup",)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def workload_fn(name: str):
    if name == "chart_read":
        from perfbench.wl_chart import run_chart

        return run_chart
    if name == "corpus_dedup":
        from perfbench.wl_dedup import run_dedup

        return run_dedup
    from perfbench.wl_ingest import run_ingest_pg

    return run_ingest_pg


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and PostgreSQL (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "coin_for_rich_spark", "__init__.py")):
        print("perfbench: the engine package coin_for_rich_spark is not in this "
              f"checkout ({ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, metrics
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    pinned = harness.pin_environment(work, ROOT)
    run = harness.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work, tracer=Tracer(bool(args.trace)),
    )
    try:
        res = workload_fn(args.workload)(run)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    finally:
        # every step runs even when an earlier one fails, so no JVM,
        # PostgreSQL or work directory outlives the run
        def dump_spans() -> None:
            if run.tracer.spans:
                os.makedirs(out, exist_ok=True)
                run.tracer.dump(os.path.join(
                    out, f"{args.workload}-seed{args.seed}-spans.json"))

        steps = [lambda: harness.stop_spark(run), *reversed(run.cleanups),
                 dump_spans, lambda: shutil.rmtree(work, ignore_errors=True)]
        for step in steps:
            try:
                step()
            except Exception:  # noqa: BLE001 — report, then keep cleaning up
                traceback.print_exc()

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": int(pinned["SPARK_GRAFT_CPUS"]),
        "driver_mem": pinned["SPARK_GRAFT_DRIVER_MEM"],
        **harness.versions(), **run.env,
    }
    print("# env " + json.dumps(env, sort_keys=True, default=str))
    for k, v in res["report"].items():
        print(f"# {args.workload} {k} {json.dumps(v, default=str)}")
    for f in res["failures"][:20]:
        print(f"# FAILED {f}")
    if args.trace:
        layer = dict(res["layer"])
        layer.update({f"traced.{k}": v for k, v in res["e2e"].items()})
        values, units = metrics.complete(layer), metrics.PER_LAYER
    else:
        values, units = res["e2e"], metrics.E2E
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
