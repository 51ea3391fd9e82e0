"""Full 50-query oracle gate at sf1 — bit-exact correctness at 10x bench scale.

Round 9's scale smoke measured the six most expensive plans at sf1; this
runs the ENTIRE declared surface (`__spark_entry__.queries()`) at sf1 and
compares every row against its DuckDB oracle with selfcheck's
stricter-than-the-driver comparator (bit-for-bit floats). A plan that is
correct at sf0.01 but silently wrong at 10x the bench scale — a broadcast
gate flipping, a sampled probe mis-sizing, a state store overflowing —
fails HERE, not in an argument about plan shape.

The oracle side gets a per-query interrupt budget (default 600 s,
``SPARK_GRAFT_ORACLE_TIMEOUT_S``): DuckDB re-derives several operators from
first principles (BPE re-training, char-LM re-training, brute-force kNN),
and a quadratic oracle priced for sf0.01 may be genuinely unaffordable at
sf1. A timeout is recorded as ``oracle_timeout`` — the ENGINE leg still
must complete and its row count is recorded, so the distinction between
"engine fails at scale" and "oracle is expensive at scale" stays explicit.

Run: ``python scripts/scale_gate.py [--dir PATH] [query ...]`` (default:
all declared queries at the generated sf1). ``--dir`` points the same gate
at ANY dataset directory with the ten driver tables — e.g. the
adversarially skewed distribution from ``scripts/skew_data.py`` — making
this the one harness for "full declared surface vs oracle on dataset X".
Output: table on stderr, full JSON to ``.scale/SCALE_GATE[_<tag>].json``.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from selfcheck import compare  # noqa: E402
from coin_for_rich_spark.session import get_spark  # noqa: E402
from coin_for_rich_spark.sources import TABLES  # noqa: E402
from scripts.sf1_data import SF1, ensure_sf1  # noqa: E402

ORACLE_TIMEOUT_S = float(os.environ.get("SPARK_GRAFT_ORACLE_TIMEOUT_S", "600"))


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """selfcheck's view registration, extended to Spark-written DIRECTORY
    parquet (the sf1 generator writes multi-part directories; the driver's
    own testdata is single files — both shapes register identically).

    Memory posture: the oracle shares the box with a 48 GiB Spark JVM, and
    DuckDB's default limit (80% of RAM) ignores that neighbor — the r11
    span-dedup oracle at sf1 (a ~25M-window string aggregation) grew to
    96 GiB RSS and drew the OOM killer. Cap the oracle at a fixed budget
    and give it a spill directory: grouped aggregations then spill to disk
    instead of dying, which is the correct posture for a first-principles
    re-derivation whose working set scales with the data."""
    import tempfile

    con = duckdb.connect()
    con.execute(
        f"SET memory_limit='{os.environ.get('SPARK_GRAFT_ORACLE_MEM', '24GB')}'"
    )
    con.execute(
        f"SET temp_directory='{tempfile.mkdtemp(prefix='cfr_duck_spill_')}'"
    )
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str, timeout_s: float):
    """Execute one oracle query under an interrupt budget.

    Isolation matters here: each query runs on its OWN cursor (a separate
    connection to the shared in-memory catalog) and the timer callback is
    gated on a done-flag — otherwise a timer firing in the window between
    the query completing and ``cancel()`` would leave a stray interrupt on
    a shared connection that spuriously kills the NEXT query."""
    cur = con.cursor()
    done = threading.Event()

    def maybe_interrupt() -> None:
        if not done.is_set():
            cur.interrupt()

    timer = threading.Timer(timeout_s, maybe_interrupt)
    timer.start()
    try:
        return cur.execute(sql).df(), None
    except duckdb.InterruptException:
        return None, "timeout"
    finally:
        done.set()
        timer.cancel()
        cur.close()


def main() -> int:
    argv = sys.argv[1:]
    target_dir = None
    tag_override = None
    if "--tag" in argv:
        i = argv.index("--tag")
        if i + 1 >= len(argv):
            raise SystemExit("--tag requires a name argument")
        # distinguishes artifacts for runs that vary the ENVIRONMENT rather
        # than the dataset (e.g. a constrained-memory pass at sf1) so they
        # can't clobber the committed full-gate record for that dataset
        tag_override = "_" + argv[i + 1].upper()
        argv = argv[:i] + argv[i + 2 :]
    if "--dir" in argv:
        i = argv.index("--dir")
        if i + 1 >= len(argv):
            raise SystemExit("--dir requires a path argument")
        target_dir = os.path.abspath(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    only = set(argv)
    unknown = only - set(entry_mod.queries())
    if unknown:
        # a typo'd name must not read as a green zero-query gate
        raise SystemExit(f"unknown queries: {sorted(unknown)}")
    spark = get_spark("coin_for_rich_spark-scale-gate")
    if target_dir is None:
        target_dir = SF1
        ensure_sf1(spark)
    tag = (
        ""
        if target_dir == SF1
        else "_" + os.path.basename(target_dir.rstrip("/")).upper()
    )
    if tag_override is not None:
        tag = tag_override
    con = duck_connect(target_dir)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    results: dict[str, dict] = {}
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        row: dict = {"loadavg_pre": round(os.getloadavg()[0], 2)}
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, target_dir).toPandas()
            row["engine"] = {
                "sec": round(time.perf_counter() - t0, 3),
                "rows": len(sdf),
            }
        except Exception as exc:  # noqa: BLE001 — the gate RECORDS cliffs
            row["engine"] = {
                "sec": round(time.perf_counter() - t0, 3),
                "error": f"{type(exc).__name__}: {exc}"[:500],
            }
            row["status"] = "spark_error"
            results[name] = row
            n_fail += 1
            print(json.dumps({name: row}), file=sys.stderr)
            continue
        if name not in oracles:
            row["status"] = "rows_only"
            n_pass += 1
            results[name] = row
            print(json.dumps({name: row}), file=sys.stderr)
            continue
        t1 = time.perf_counter()
        try:
            odf, to = run_oracle(con, oracles[name], ORACLE_TIMEOUT_S)
        except Exception as exc:  # noqa: BLE001
            row["oracle"] = {
                "sec": round(time.perf_counter() - t1, 3),
                "error": f"{type(exc).__name__}: {exc}"[:500],
            }
            row["status"] = "oracle_error"
            results[name] = row
            n_fail += 1
            print(json.dumps({name: row}), file=sys.stderr)
            continue
        row["oracle"] = {"sec": round(time.perf_counter() - t1, 3)}
        if to == "timeout":
            row["status"] = "oracle_timeout"
            # engine completed; oracle couldn't afford the re-derivation
            n_pass += 1
        else:
            row["oracle"]["rows"] = len(odf)
            problems = compare(name, sdf, odf)
            if problems:
                row["status"] = "mismatch"
                row["problems"] = problems[:5]
                n_fail += 1
            else:
                row["status"] = "pass"
                n_pass += 1
        results[name] = row
        print(json.dumps({name: row}), file=sys.stderr)
    out = {
        "sf_dir": target_dir,
        "oracle_timeout_s": ORACLE_TIMEOUT_S,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        "cpus": spark.sparkContext.defaultParallelism,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "n_pass": n_pass,
        "n_fail": n_fail,
        "results": results,
    }
    # subset runs must not clobber the committed full-gate artifact
    subset = "_SUBSET" if only else ""
    path = os.path.join(REPO, ".scale", f"SCALE_GATE{tag}{subset}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    statuses: dict[str, int] = {}
    for r in results.values():
        statuses[r["status"]] = statuses.get(r["status"], 0) + 1
    print(json.dumps({"summary": statuses, "json": path}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
