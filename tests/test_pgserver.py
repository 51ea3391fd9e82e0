"""``ephemeral_pg`` degrades to ``None`` when the scratch cluster cannot
boot; the failure must say why, once, instead of reading like an
environment that has no PostgreSQL at all."""

from __future__ import annotations

import pytest

from coin_for_rich_spark.streaming import pgserver


def test_failed_ephemeral_boot_warns_once_and_caches_none(monkeypatch, tmp_path):
    boots = []

    def failing_start(base):
        boots.append(base)
        raise PermissionError("socket dir not reachable by postgres")

    monkeypatch.setattr(pgserver, "pg_runnable", lambda: True)
    monkeypatch.setattr(pgserver, "start_cluster", failing_start)
    monkeypatch.setattr(pgserver, "_CACHED", {})
    monkeypatch.setattr(pgserver.tempfile, "mkdtemp", lambda prefix: str(tmp_path))

    with pytest.warns(RuntimeWarning, match="PermissionError: socket dir not reachable"):
        assert pgserver.ephemeral_pg() is None
    assert pgserver.ephemeral_pg() is None
    assert len(boots) == 1
