"""Ephemeral single-node PostgreSQL for the wire-protocol merge sink.

The reference's production sink is PostgreSQL/TimescaleDB; this module lets
the engine EXECUTE that sink wherever a server can run, instead of only
asserting its SQL. It boots a throwaway cluster (initdb + pg_ctl under the
``postgres`` user, unix socket only, trust auth) and exposes two layers:

- :func:`start_cluster` — explicit lifecycle for callers that own their
  cluster (the integration test suite boots per-module clusters);
- :func:`ephemeral_pg` — a process-cached cluster for the declared
  ``stream_upsert_ingest`` query: booted once on first use, torn down at
  interpreter exit, so a bench loop re-running the query pays initdb once.

Everything degrades honestly: :func:`pg_runnable` reports whether this
environment can run a server at all, and :func:`ephemeral_pg` returns None
(never raises) when it can't — callers fall back to the parquet twin, whose
merge semantics are pinned byte-identical by the twin-parity capstone test.
"""

from __future__ import annotations

import atexit
import os
import pwd
import shutil
import subprocess
import tempfile
import warnings
from typing import Callable

# the sandbox installs server binaries here, off PATH; client `psql` is on
# PATH. Checked first, then PATH, so a distro layout also works.
PGBIN_CANDIDATES = ("/usr/local/bin", "/usr/lib/postgresql/16/bin")


def _pg_binary(name: str) -> str | None:
    for d in PGBIN_CANDIDATES:
        p = os.path.join(d, name)
        if os.path.exists(p):
            return p
    return shutil.which(name)


def pg_runnable() -> bool:
    """True iff this environment can boot a scratch PostgreSQL: root (to
    runuser down to ``postgres``), client + server binaries present (the
    test suites' SQL helpers drive ``psql``), and a ``postgres`` system
    user to own the data directory."""
    if os.geteuid() != 0:
        return False
    if not (shutil.which("runuser") and shutil.which("psql")):
        return False
    if not all(_pg_binary(b) for b in ("initdb", "pg_ctl", "postgres")):
        return False
    try:
        pwd.getpwnam("postgres")
    except KeyError:
        return False
    return True


def _as_pg(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        ["runuser", "-u", "postgres", "--", *argv],
        capture_output=True,
        cwd="/",
    )


def start_cluster(
    base: str, tcp_port: int | None = None
) -> tuple[list[str], Callable[[], None]]:
    """initdb + start one cluster under ``base`` (created, chowned to
    ``postgres``); returns (psql conninfo args, stop callable). The stop
    callable is idempotent and also removes ``base``. Raises RuntimeError
    with the server's stderr if any lifecycle step fails.

    Default posture is unix-socket-only (listen_addresses=''); pass
    ``tcp_port`` to ALSO listen on localhost:<port> — the conninfo then
    points at the TCP endpoint, which is what exercises the wire client's
    production transport."""
    data = os.path.join(base, "data")
    sock = os.path.join(base, "sock")
    os.makedirs(data, exist_ok=True)
    os.makedirs(sock, exist_ok=True)
    subprocess.run(["chown", "-R", "postgres", base], check=True)
    initdb, pg_ctl = _pg_binary("initdb"), _pg_binary("pg_ctl")

    def _fail(msg: str) -> "RuntimeError":
        # failure paths must not leak the data dir (repeated probes would
        # accumulate cfr_pg_* trees in /tmp) — best-effort stop + rmtree
        import shutil

        try:
            _as_pg(pg_ctl, "-D", data, "-m", "immediate", "stop")
        except Exception:  # noqa: BLE001 — cleanup is best-effort
            pass
        shutil.rmtree(base, ignore_errors=True)
        return RuntimeError(msg)

    # --locale=C pins BYTE-ORDER collation: an inherited en_US.UTF-8 locale
    # would make DISTINCT ON ... ORDER BY sort strings case-insensitively,
    # silently forking the tied-row winner from the byte-wise
    # ParquetMergeSink — the cross-backend parity the NULLS-pinned order
    # terms exist to guarantee
    p = _as_pg(initdb, "-D", data, "-A", "trust", "--no-sync", "--locale=C")
    if p.returncode != 0:
        raise _fail(f"initdb failed: {p.stderr.decode(errors='replace')}")
    # fsync/synchronous_commit off: the cluster is throwaway by construction
    # (deleted on stop, never restarted after a crash), so durability buys
    # nothing — this is PostgreSQL's own documented configuration for test
    # servers. Atomicity/visibility semantics are unchanged; the failure-
    # atomicity test still passes against this configuration.
    listen = "''" if tcp_port is None else "localhost"
    port_opt = "" if tcp_port is None else f" -c port={int(tcp_port)}"
    p = _as_pg(
        pg_ctl,
        "-D",
        data,
        "-o",
        f"-c listen_addresses={listen} -c unix_socket_directories={sock} "
        "-c fsync=off -c synchronous_commit=off -c full_page_writes=off"
        + port_opt,
        "-w",
        "-l",
        os.path.join(base, "log"),
        "start",
    )
    if p.returncode != 0:
        raise RuntimeError(f"pg_ctl start failed: {p.stderr.decode(errors='replace')}")

    stopped = {"done": False}

    def stop() -> None:
        if stopped["done"]:
            return
        stopped["done"] = True
        _as_pg(pg_ctl, "-D", data, "-w", "-m", "fast", "stop")
        shutil.rmtree(base, ignore_errors=True)

    if tcp_port is not None:
        return [
            "-h", "localhost", "-p", str(int(tcp_port)),
            "-U", "postgres", "-d", "postgres",
        ], stop
    return ["-h", sock, "-U", "postgres", "-d", "postgres"], stop


_CACHED: dict[str, object] = {}


def ephemeral_pg() -> list[str] | None:
    """Process-cached scratch cluster: conninfo args, or None when this
    environment cannot run a server (or the boot failed — warned once with
    the cause and remembered, so a broken environment probes once, not per
    query)."""
    if "conninfo" in _CACHED:
        return _CACHED["conninfo"]  # type: ignore[return-value]
    if not pg_runnable():
        _CACHED["conninfo"] = None
        return None
    try:
        conninfo, stop = start_cluster(tempfile.mkdtemp(prefix="cfr_pg_eph_"))
    except Exception as exc:  # noqa: BLE001 — degrade to the parquet twin
        warnings.warn(
            f"ephemeral PostgreSQL boot failed ({type(exc).__name__}: {exc});"
            " falling back to the parquet twin",
            RuntimeWarning,
            stacklevel=2,
        )
        _CACHED["conninfo"] = None
        return None
    _CACHED["conninfo"] = conninfo
    atexit.register(stop)
    return conninfo
