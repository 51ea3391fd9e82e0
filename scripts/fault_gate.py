"""Fault-injection gate: injected TASK failures under real retries.

Every prior gate axis runs failure-free, so the engine's retry-safety
claims — "a retried partition re-COPYs the same rows and DISTINCT ON
collapses them" (streaming/jdbc.PgWireMergeSink), "the fetcher's
mapInPandas batch is a pure function of its plan rows" — were proven only
by argument. This axis proves them by execution: a deterministic fault
(first attempt of a chosen partition raises AFTER its work is done) is
injected into live tasks under ``local-cluster`` mode with
``spark.task.maxFailures=4``, and the faulted run must be value-identical
to the clean run, with the retry OBSERVED (attempt markers on shared disk,
one file per (scenario, partition, attempt)).

``local[...]`` cannot run this: local mode pins ``spark.task.maxFailures``
to 1, so a task failure fails the job instead of retrying — the axis runs
in ``local-cluster[2,4,2048]`` (2 worker JVMs), the same topology the
CLUSTER gate uses, which also makes the retry cross a real process
boundary.

Scenarios:

- ``batch_shuffle`` — a mapInPandas pass-through ahead of a
  groupBy/decimal-sum shuffle fails its first partition-0 attempt: the
  retried map task must re-produce identical shuffle blocks (deterministic
  source scan), leaving the aggregate bit-identical.
- ``fetch_mapinpandas`` — the REST fetcher plan (``q_fetch_backfill``,
  mapInPandas over the page relation) with the same pass-through fault
  fused into its output stage: a retried fetch task re-runs the fetch for
  its partition; the result must equal the clean run (the reference
  re-fetches pages on failure the same way, `celery_tasks.py` retry args).
- ``pgwire_copy_retry`` — THE claim this axis exists for: the distributed
  COPY staging of ``PgWireMergeSink`` with a post-COPY fault (the task
  fails AFTER its staging rows are committed — the worst crash point).
  The retried task re-COPYs the same rows, so staging holds exact
  duplicates; the merge's ``DISTINCT ON`` must collapse them and the
  final PostgreSQL table must be row-identical to a clean ingest into a
  separate table. Attempt markers prove the first attempt completed its
  COPY before dying (the duplicate really was staged). Here and in
  ``foreachbatch_replay`` one wire sink per leg creates the table, merges,
  and reads the final state back over ``COPY ... TO STDOUT``.
- ``foreachbatch_replay`` — the OTHER at-least-once seam: the driver
  crashes AFTER a micro-batch's merge transaction committed to
  PostgreSQL but BEFORE Spark records the batch's offset commit (a
  wrapper raises right after ``merge()`` returns for batch 1 on the
  first run). The restarted query replays batch 1 into the sink a second
  time — the same batch merged TWICE — and the final table must be
  row-identical to a single clean ingest: batch-replay idempotence of
  the upsert merge executed through a real checkpoint restart.
- ``executor_kill_shuffle`` / ``executor_kill_stream_replay`` — real
  process deaths: one executor JVM SIGKILLed mid-stage (shuffle blocks
  die with it) / mid-stateful-replay, with the loss proven by the dead
  pid, a ``SparkListenerExecutorRemoved`` event-log record, AND the kill
  landing while a stage was active and the run in flight (r13).
- ``driver_kill_replay`` — the DRIVER JVM itself SIGKILLed (whole process
  group of a subprocess running the upsert-ingest replay) mid-micro-batch
  — between a batch's start record and its merge/offset commit, proven by
  an S-without-E progress line at kill time — then restarted from the
  same checkpoint; the resumed run must commit the killed batch and the
  final merge-on-read state must be value-identical to a clean ingest
  (the reference's crash-recovery processing-set,
  `fetchers/ws/updater.py:127-138`).

Run: ``python scripts/fault_gate.py [--sf DIR]`` (default sf0.001 — the
fault mechanics are size-invariant; the VALUES still go through the full
comparator). Output: ``.scale/SCALE_GATE_FAULTS.json``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MASTER = os.environ.setdefault("SPARK_GRAFT_MASTER", "local-cluster[2,4,2048]")

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from selfcheck import compare  # noqa: E402
from coin_for_rich_spark.session import get_spark  # noqa: E402
from coin_for_rich_spark.sources import load_table  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
MARKER_ROOT = tempfile.mkdtemp(prefix="cfr_fault_markers_")


def _mark_and_maybe_fail(scenario: str, fail_partition: int = 0) -> None:
    """Executor-side: record this task attempt, raise on the first attempt
    of ``fail_partition``. Markers land on shared disk (local-cluster
    workers share the host), so the driver can assert the retry HAPPENED
    — a gate that silently never injected would otherwise read as green.
    """
    from pyspark import TaskContext

    ctx = TaskContext.get()
    if ctx is None or ctx.partitionId() != fail_partition:
        return
    attempt = ctx.attemptNumber()
    path = os.path.join(MARKER_ROOT, f"{scenario}_p{fail_partition}_a{attempt}")
    with open(path, "a") as fh:
        fh.write("x")
    if attempt == 0:
        raise RuntimeError(
            f"injected fault: {scenario} partition {fail_partition} attempt 0"
        )


def _attempts(scenario: str) -> int:
    return len(
        [f for f in os.listdir(MARKER_ROOT) if f.startswith(scenario + "_")]
    )


def _passthrough_with_fault(schema, scenario: str):
    def fn(it):
        first = True
        for pdf in it:
            if first:
                _mark_and_maybe_fail(scenario)
                first = False
            yield pdf
        if first:  # empty partition: still exercise the fault point
            _mark_and_maybe_fail(scenario)

    return fn


def _verdict(name: str, clean_df, faulted_df) -> dict:
    """selfcheck's full comparator (row count, columns, bit-exact values)
    between the clean and faulted runs of the same plan."""
    clean = clean_df.toPandas()
    faulted = faulted_df.toPandas()
    problems = compare(name, faulted, clean)
    return {
        "match": not problems,
        "problems": problems or None,
        "rows": int(len(clean)),
        "task_attempts_observed": _attempts(name),
    }


def scenario_batch_shuffle(spark, sf_dir: str) -> dict:
    ev = load_table(spark, sf_dir, "events").repartition(8, "event_id")
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "sum_value"
        ),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    ]
    clean = ev.groupBy("event_type").agg(*agg_cols)
    faulted = (
        ev.mapInPandas(
            _passthrough_with_fault(ev.schema, "batch_shuffle"), ev.schema
        )
        .groupBy("event_type")
        .agg(*agg_cols)
    )
    return _verdict("batch_shuffle", clean, faulted)


def scenario_fetch_mapinpandas(spark, sf_dir: str) -> dict:
    clean = entry_mod.q_fetch_backfill(spark, sf_dir)
    out = entry_mod.q_fetch_backfill(spark, sf_dir)
    faulted = out.mapInPandas(
        _passthrough_with_fault(out.schema, "fetch_mapinpandas"), out.schema
    )
    return _verdict("fetch_mapinpandas", clean, faulted)


def scenario_pgwire_copy_retry(spark, sf_dir: str) -> dict:
    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink
    from coin_for_rich_spark.streaming.pgserver import ephemeral_pg
    from coin_for_rich_spark.streaming.sink import run_ingest

    conninfo = ephemeral_pg()
    if conninfo is None:
        return {"match": None, "skipped": "no runnable PostgreSQL server"}

    stream = entry_mod._staged_stream(spark, sf_dir)
    schema = stream.schema
    pk = ("user_id", "event_type")
    results = {}
    for leg, fault in (("clean", False), ("faulted", True)):
        sink = PgWireMergeSink(
            conninfo, f"cfr_fault_{leg}", pk=pk, mode="upsert",
            tiebreak_col="ts",
        )
        sink.create_table(schema, drop=True)
        if fault:
            # post-COPY: the task dies AFTER its staging rows committed,
            # so the retry re-COPYs and staging holds exact duplicates
            sink._post_copy_fault = lambda: _mark_and_maybe_fail(
                "pgwire_copy_retry"
            )
        run_ingest(
            entry_mod._staged_stream(spark, sf_dir),
            sink,
            tempfile.mkdtemp(prefix="cfr_fault_ckpt_"),
            state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
        )
        results[leg] = sink.read(spark, schema)
    out = _verdict("pgwire_copy_retry", results["clean"], results["faulted"])
    # the duplicate really was staged: attempt 0 wrote its marker (i.e. its
    # COPY had already committed) before raising, and attempt >= 1 ran
    marker0 = os.path.join(MARKER_ROOT, "pgwire_copy_retry_p0_a0")
    out["first_attempt_copied_before_dying"] = os.path.exists(marker0)
    return out


def scenario_foreachbatch_replay(spark, sf_dir: str) -> dict:
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from coin_for_rich_spark.streaming.jdbc import PgWireMergeSink
    from coin_for_rich_spark.streaming.pgserver import ephemeral_pg
    from coin_for_rich_spark.streaming.sink import run_ingest

    conninfo = ephemeral_pg()
    if conninfo is None:
        return {"match": None, "skipped": "no runnable PostgreSQL server"}

    stream = entry_mod._staged_stream(spark, sf_dir)
    schema = stream.schema
    pk = ("user_id", "event_type")

    class CrashAfterCommit:
        """foreachBatch wrapper: the merge transaction for batch 1 COMMITS,
        then the driver 'crashes' before Spark writes the batch's offset
        commit — so the restart MUST replay batch 1 into the sink."""

        def __init__(self, sink) -> None:
            self.sink = sink
            self.crashed = False
            self.merged_batches: list[int] = []

        def merge(self, batch, batch_id) -> None:
            self.sink.merge(batch, batch_id)
            self.merged_batches.append(int(batch_id))
            if batch_id == 1 and not self.crashed:
                self.crashed = True
                raise RuntimeError(
                    "injected crash: after batch 1's merge commit, "
                    "before its offset commit"
                )

    results = {}
    replay_proof = {}
    for leg in ("clean", "replayed"):
        sink = PgWireMergeSink(
            conninfo, f"cfr_replay_{leg}", pk=pk, mode="upsert",
            tiebreak_col="ts",
        )
        sink.create_table(schema, drop=True)
        ckpt = tempfile.mkdtemp(prefix=f"cfr_replay_ckpt_{leg}_")
        if leg == "clean":
            run_ingest(
                entry_mod._staged_stream(spark, sf_dir),
                sink,
                ckpt,
                state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
            )
        else:
            wrapper = CrashAfterCommit(sink)
            try:
                run_ingest(
                    entry_mod._staged_stream(spark, sf_dir),
                    wrapper,
                    ckpt,
                    state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
                )
            except StreamingQueryException:
                pass  # the injected crash — restart from the checkpoint
            else:
                return {"match": False, "error": "injected crash never fired"}
            run_ingest(
                entry_mod._staged_stream(spark, sf_dir),
                wrapper,
                ckpt,
                state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
            )
            # the replay really happened: batch 1 merged twice
            replay_proof = {
                "merged_batch_ids": wrapper.merged_batches,
                "batch_1_merged_twice": wrapper.merged_batches.count(1) == 2,
            }
        results[leg] = sink.read(spark, schema)
    out = _verdict("foreachbatch_replay", results["clean"], results["replayed"])
    out.update(replay_proof)
    out["match"] = out["match"] and replay_proof.get("batch_1_merged_twice", False)
    return out


EVENTLOG_DIR = tempfile.mkdtemp(prefix="cfr_fault_eventlog_")


def _executor_removed_count() -> int:
    """Count SparkListenerExecutorRemoved events in the session's event log
    (written with a 1 KB buffer so events surface promptly mid-session) —
    the proof that a kill scenario really lost an executor, not just a
    task attempt."""
    n = 0
    for root, _dirs, files in os.walk(EVENTLOG_DIR):
        for fname in files:
            path = os.path.join(root, fname)
            try:
                with open(path, errors="replace") as fh:
                    n += sum(
                        1
                        for line in fh
                        if '"Event":"SparkListenerExecutorRemoved"' in line
                    )
            except OSError:
                continue
    return n


def _kill_one_executor(spark, done_event, grace_s: float = 1.0) -> dict:
    """Driver-side: wait until tasks are actively RUNNING, then SIGKILL one
    of this app's CoarseGrainedExecutorBackend JVMs — a real process death
    mid-stage, not an in-task raise. Returns the kill evidence dict: the
    pid (None if no executor process exists — local[] mode — or if the run
    finished before a stage was seen active after the grace period), plus
    whether an active stage was still running at the instant of the kill
    and whether ``run_fn`` had already returned (r12 ADVICE: a SIGKILL
    landing on an idle executor after the job finished must not read as an
    observed injection)."""
    import signal
    import subprocess
    import time

    tracker = spark.sparkContext.statusTracker()
    app_id = spark.sparkContext.applicationId
    deadline = time.time() + 120
    while time.time() < deadline:
        if tracker.getActiveStageIds() or done_event.is_set():
            break
        time.sleep(0.1)
    time.sleep(grace_s)
    # match executors of THIS app only (the launch command carries the app
    # id) — a concurrent Spark session's executors must never be collateral
    out = subprocess.run(
        ["pgrep", "-f", f"CoarseGrainedExecutorBackend.*{app_id}"],
        capture_output=True,
        text=True,
    )
    pids = [int(p) for p in out.stdout.split()]
    if not pids:
        return {"pid": None, "no_executor_processes": True}
    # aim the kill: sample the mid-run predicates every 20 ms and signal
    # right after the first sample that saw a stage active mid-run, so the
    # kill cannot land in an idle gap between a replay's stages
    active = completed = False
    deadline = time.time() + 120
    while time.time() < deadline:
        active = bool(tracker.getActiveStageIds())
        completed = done_event.is_set()
        if active or completed:
            break
        time.sleep(0.02)
    if completed or not active:
        return {
            "pid": None,
            "no_executor_processes": False,
            "active_stage_at_kill": active,
            "run_completed_before_kill": completed,
        }
    os.kill(pids[0], signal.SIGKILL)
    return {
        "pid": pids[0],
        "no_executor_processes": False,
        "active_stage_at_kill": active,
        "run_completed_before_kill": completed,
    }


def _run_with_executor_kill(spark, name: str, clean_pdf, run_fn) -> dict:
    """Execute ``run_fn`` (which materializes the faulted plan — armed this
    way because some query functions run streaming ingest EAGERLY inside
    construction) while a watcher thread SIGKILLs one executor mid-run;
    compare against the already-materialized clean result and attach the
    process-death evidence (dead pid + executor-removed event observed in
    the event log + the kill provably landing mid-run)."""
    import threading
    import time

    before = _executor_removed_count()
    killed: dict = {}
    done = threading.Event()

    def _killer() -> None:
        killed.update(_kill_one_executor(spark, done))

    th = threading.Thread(target=_killer, daemon=True)
    th.start()
    faulted_pdf = run_fn()
    done.set()
    th.join(timeout=150)
    if killed.get("no_executor_processes"):
        # r12 ADVICE: a master with no executor JVMs (local[*]) cannot run
        # this scenario — mark it skipped like the PostgreSQL-dependent
        # scenarios instead of failing the whole gate red
        return {
            "match": None,
            "skipped": "no executor JVMs under this master",
            "master": MASTER,
        }
    problems = compare(name, faulted_pdf, clean_pdf)
    pid = killed.get("pid")
    pid_dead = pid is not None and not os.path.exists(f"/proc/{pid}")
    # r12 ADVICE: "injection observed" requires the SIGKILL to have landed
    # while the faulted run was actually in flight — an active stage at
    # kill time AND run_fn not yet returned — not merely a dead pid
    mid_run = bool(
        killed.get("active_stage_at_kill")
        and not killed.get("run_completed_before_kill")
    )
    # the event log flushes on a 1 KB buffer; give the listener bus a
    # bounded window to drain before declaring the loss unobserved
    removed = False
    deadline = time.time() + 30
    while time.time() < deadline:
        if _executor_removed_count() > before:
            removed = True
            break
        time.sleep(0.5)
    return {
        "match": (not problems) and pid is not None and mid_run,
        "problems": problems or None,
        "rows": int(len(clean_pdf)),
        "executor_killed_pid": pid,
        "killed_process_gone": pid_dead,
        "executor_loss_in_event_log": removed,
        "active_stage_at_kill": killed.get("active_stage_at_kill"),
        "run_completed_before_kill": killed.get("run_completed_before_kill"),
        "kill_landed_mid_run": mid_run,
    }


def scenario_executor_kill_shuffle(spark, sf_dir: str) -> dict:
    """Process-level fault during a shuffle-heavy batch query: one executor
    JVM is SIGKILLed while map tasks run, so its finished shuffle blocks die
    with it — Spark must re-run lost map tasks (FetchFailed → stage
    resubmit) and/or reschedule live ones, and the aggregate must stay
    bit-identical to the clean run."""
    import time as _time

    ev = load_table(spark, sf_dir, "events").repartition(8, "event_id")
    agg_cols = [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "sum_value"
        ),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    ]
    clean_pdf = ev.groupBy("event_type").agg(*agg_cols).toPandas()

    def slow_passthrough(it):
        first = True
        for pdf in it:
            if first:
                # widen the map stage so the SIGKILL lands mid-stage — the
                # pause is a pure delay, never a value change
                _time.sleep(1.5)
                first = False
            yield pdf

    faulted = (
        ev.mapInPandas(slow_passthrough, ev.schema)
        .groupBy("event_type")
        .agg(*agg_cols)
    )
    return _run_with_executor_kill(
        spark, "executor_kill_shuffle", clean_pdf, faulted.toPandas
    )


def scenario_executor_kill_stream_replay(spark, sf_dir: str) -> dict:
    """Process-level fault during the composed late-correction replay (the
    r11 gate row `stream_late_correction`): one executor JVM dies while the
    5-micro-batch stateful replay runs — hold-back state commits, merge-sink
    batch dirs, and the rollup cascade must all survive the loss and the
    final corrected hourly family must be value-identical to a clean run."""
    clean_pdf = entry_mod.q_stream_late_correction(spark, sf_dir).toPandas()
    # q_stream_late_correction runs its streaming ingest EAGERLY (run_ingest
    # returns after availableNow drains), so the kill thread must already be
    # armed when the call starts — hand the whole call in as the run_fn
    return _run_with_executor_kill(
        spark, "executor_kill_stream_replay", clean_pdf,
        lambda: entry_mod.q_stream_late_correction(spark, sf_dir).toPandas(),
    )


def _driver_kill_child() -> int:
    """Child mode (``--driver-kill-child``): run the upsert-ingest replay
    as a REAL Spark driver process, recording per-batch progress to a
    shared file (``S <id>`` before the merge, ``E <id>`` after it, ``DONE``
    at clean exit). The parent SIGKILLs this whole process group between a
    batch's S record and its E record — a driver death mid-micro-batch —
    then relaunches with the same checkpoint + sink, and structured
    streaming must resume from the committed offsets and converge to the
    clean run's exact state (the reference's crash-recovery processing-set,
    `fetchers/ws/updater.py:127-138`)."""
    import time

    from coin_for_rich_spark.streaming.sink import ParquetMergeSink, run_ingest

    args = sys.argv[sys.argv.index("--driver-kill-child") + 1:]
    sf_dir, sink_path, ckpt, progress_path, slow_s = args[:5]

    def _record(line: str) -> None:
        with open(progress_path, "a") as fh:
            fh.write(line + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    spark = get_spark("coin_for_rich_spark-driver-kill-child")
    sink = ParquetMergeSink(
        sink_path, pk=("user_id", "event_type"), mode="upsert",
        tiebreak_col="ts",
    )

    class ProgressSink:
        """The kill window is the sleep between the S record and the
        merge: a SIGKILL there dies with the batch started but neither
        merged nor offset-committed, so the restart MUST replay it."""

        def merge(self, batch, batch_id) -> None:
            _record(f"S {int(batch_id)}")
            time.sleep(float(slow_s))
            sink.merge(batch, batch_id)
            _record(f"E {int(batch_id)}")

    run_ingest(
        entry_mod._staged_stream(spark, sf_dir),
        ProgressSink(),
        ckpt,
        state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
    )
    _record("DONE")
    spark.stop()
    return 0


def scenario_driver_kill_replay(spark, sf_dir: str) -> dict:
    """Process-level DRIVER fault: the upsert-ingest replay runs in a
    subprocess (its own Spark driver + executors), the parent SIGKILLs the
    entire process group mid-micro-batch (after the batch's start record,
    before its merge/offset commit — proven by an S line with no matching
    E at kill time), relaunches from the same checkpoint, and the final
    merge-on-read state must be value-identical to a clean in-process
    ingest. This is the one process-level failure mode the executor-kill
    scenarios can't reach: the checkpoint itself is the survivor."""
    import signal
    import subprocess
    import tempfile as _tempfile
    import time

    from coin_for_rich_spark.streaming.sink import ParquetMergeSink, run_ingest

    # clean leg, in-process (same sink class, same stream, same PK rules)
    clean_sink = ParquetMergeSink(
        _tempfile.mkdtemp(prefix="cfr_dk_clean_") + "/tbl",
        pk=("user_id", "event_type"), mode="upsert", tiebreak_col="ts",
    )
    run_ingest(
        entry_mod._staged_stream(spark, sf_dir),
        clean_sink,
        _tempfile.mkdtemp(prefix="cfr_dk_clean_ckpt_"),
        state_partitions=entry_mod._STREAM_STATE_PARTITIONS,
    )
    clean_pdf = clean_sink.read(spark).toPandas()

    sink_path = _tempfile.mkdtemp(prefix="cfr_dk_faulted_") + "/tbl"
    ckpt = _tempfile.mkdtemp(prefix="cfr_dk_faulted_ckpt_")
    progress = os.path.join(
        _tempfile.mkdtemp(prefix="cfr_dk_progress_"), "progress.txt"
    )
    open(progress, "w").close()
    slow_s = "3.0"
    cmd = [
        sys.executable, os.path.abspath(__file__), "--driver-kill-child",
        sf_dir, sink_path, ckpt, progress, slow_s,
    ]

    def _progress_lines() -> list[str]:
        with open(progress) as fh:
            return [ln.strip() for ln in fh if ln.strip()]

    # run 1: kill the whole process group (python driver + its JVM + its
    # executors — start_new_session gives the child its own pgid) once a
    # batch PAST the first is started but not yet merged, so the
    # checkpoint provably holds committed progress AND an in-flight batch
    child = subprocess.Popen(cmd, start_new_session=True)
    kill_batch = None
    deadline = time.time() + 300
    while time.time() < deadline and child.poll() is None:
        lines = _progress_lines()
        started = [int(l.split()[1]) for l in lines if l.startswith("S ")]
        ended = {int(l.split()[1]) for l in lines if l.startswith("E ")}
        in_flight = [b for b in started if b not in ended and b >= 1]
        if in_flight:
            kill_batch = in_flight[0]
            break
        time.sleep(0.05)
    if kill_batch is None:
        child.kill()
        child.wait()
        return {
            "match": False,
            "error": "no in-flight batch >= 1 observed before the run ended",
            "progress": _progress_lines(),
        }
    os.killpg(child.pid, signal.SIGKILL)
    child.wait(timeout=60)
    run1 = _progress_lines()
    kill_landed_mid_batch = (
        f"S {kill_batch}" in run1
        and f"E {kill_batch}" not in run1
        and "DONE" not in run1
    )
    committed_before_kill = sorted(
        int(l.split()[1]) for l in run1 if l.startswith("E ")
    )

    # run 2: same checkpoint, same sink — must resume and converge
    open(progress, "w").close()
    child2 = subprocess.Popen(cmd, start_new_session=True)
    try:
        rc2 = child2.wait(timeout=600)
    except subprocess.TimeoutExpired:
        os.killpg(child2.pid, signal.SIGKILL)
        return {"match": False, "error": "restarted child timed out"}
    run2 = _progress_lines()
    committed_after_restart = sorted(
        int(l.split()[1]) for l in run2 if l.startswith("E ")
    )

    faulted_pdf = ParquetMergeSink(
        sink_path, pk=("user_id", "event_type"), mode="upsert",
        tiebreak_col="ts",
    ).read(spark).toPandas()
    problems = compare("driver_kill_replay", faulted_pdf, clean_pdf)
    killed_batch_committed_after_restart = (
        kill_batch in committed_after_restart
    )
    return {
        "match": (
            not problems
            and kill_landed_mid_batch
            and rc2 == 0
            and "DONE" in run2
            and killed_batch_committed_after_restart
        ),
        "problems": problems or None,
        "rows": int(len(clean_pdf)),
        "killed_mid_batch_id": kill_batch,
        "kill_landed_mid_batch": kill_landed_mid_batch,
        "child_exit_code_run1": child.returncode,
        "committed_batches_before_kill": committed_before_kill,
        "committed_batches_after_restart": committed_after_restart,
        "killed_batch_committed_after_restart":
            killed_batch_committed_after_restart,
        "restart_exit_code": rc2,
        "restart_reached_done": "DONE" in run2,
    }


def main() -> int:
    sf_dir = SF_DIR
    if "--sf" in sys.argv:
        sf_dir = os.path.abspath(sys.argv[sys.argv.index("--sf") + 1])
    spark = get_spark(
        "coin_for_rich_spark-fault-gate",
        extra_conf={
            "spark.task.maxFailures": "4",
            # the executor-kill scenarios prove the process death via the
            # event log; the 1 KB buffer makes events visible mid-session,
            # and compression/rolling are disabled so the mid-session scan
            # reads plain JSON lines (the default writes a zstd-compressed
            # rolling directory the scanner cannot stream)
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": EVENTLOG_DIR,
            "spark.eventLog.buffer.kb": "1",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    scenarios = {}
    for name, fn in (
        ("batch_shuffle", scenario_batch_shuffle),
        ("fetch_mapinpandas", scenario_fetch_mapinpandas),
        ("pgwire_copy_retry", scenario_pgwire_copy_retry),
        ("foreachbatch_replay", scenario_foreachbatch_replay),
        ("executor_kill_shuffle", scenario_executor_kill_shuffle),
        ("executor_kill_stream_replay", scenario_executor_kill_stream_replay),
        ("driver_kill_replay", scenario_driver_kill_replay),
    ):
        try:
            scenarios[name] = fn(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 — record, keep gating
            scenarios[name] = {"match": False, "error": repr(exc)}
        status = scenarios[name].get("match")
        retried = scenarios[name].get("task_attempts_observed", 0)
        print(
            f"{name:24s} match={status} attempts={retried}",
            file=sys.stderr,
        )
    executed = [s for s in scenarios.values() if "skipped" not in s]
    n_skipped = len(scenarios) - len(executed)
    ok = all(
        s.get("match") is True or "skipped" in s for s in scenarios.values()
    )
    injected = all(
        # task-fault scenarios prove the injection via attempt markers, the
        # checkpoint-restart scenario via the doubled batch-1 merge,
        # executor-kill scenarios via the executor-removed event-log record
        # PLUS the kill provably landing mid-run (r12 ADVICE — an idle-
        # executor kill after the job finished must not count), and the
        # driver-kill scenario via the S-without-E mid-batch proof
        s.get("task_attempts_observed", 0) >= 2
        or s.get("batch_1_merged_twice") is True
        or (
            s.get("executor_loss_in_event_log") is True
            and s.get("kill_landed_mid_run") is True
        )
        or s.get("kill_landed_mid_batch") is True
        for s in scenarios.values()
        if s.get("match") is True
    )
    # a run where EVERY scenario skipped must not read green: `all([])` is
    # vacuously true for both predicates above, so a PostgreSQL-less box
    # that skipped everything would otherwise exit 0 with all_match=true
    if not executed:
        ok = injected = False
    artifact = {
        "master": MASTER,
        "max_failures": 4,
        "sf_dir": sf_dir,
        "all_match": ok,
        "all_retries_observed": injected,
        "n_executed": len(executed),
        "n_skipped": n_skipped,
        "scenarios": scenarios,
    }
    out_path = os.path.join(REPO, ".scale", "SCALE_GATE_FAULTS.json")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(artifact, fh, indent=2)
    print(json.dumps({"all_match": ok, "all_retries_observed": injected}))
    spark.stop()
    return 0 if (ok and injected) else 1


if __name__ == "__main__":
    if "--driver-kill-child" in sys.argv:
        raise SystemExit(_driver_kill_child())
    raise SystemExit(main())
