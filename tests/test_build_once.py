"""``_build_once``: the one build-or-reuse protocol behind the gate artifacts
(rollup store, dedup index, IVF-PQ index, stream replays). No SparkSession:
the builds here are plain file writes into a private ``$TMPDIR``."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

import pytest

import __spark_entry__ as entry_mod


@pytest.fixture
def src(tmp_path, monkeypatch) -> str:
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    monkeypatch.setattr(entry_mod, "_BUILT_ONCE", {})
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "events.parquet").write_bytes(b"not really parquet")
    return str(sf)


def _artifacts(name: str = "t") -> list[str]:
    return sorted(glob.glob(os.path.join(tempfile.gettempdir(), f"cfr_{name}_*")))


class _Writer:
    """A ``build`` that records its calls and writes one file."""

    def __init__(self) -> None:
        self.calls: list[str] = []

    def __call__(self, path: str) -> None:
        self.calls.append(path)
        os.makedirs(path)
        with open(os.path.join(path, "data.txt"), "w") as fh:
            fh.write(str(len(self.calls)))


def test_builds_once_and_reuses(src):
    build = _Writer()
    first = entry_mod._build_once(src, "events", "t", "v1", build)
    assert entry_mod._build_once(src, "events", "t", "v1", build) == first
    assert len(build.calls) == 1
    assert open(os.path.join(first, "data.txt")).read() == "1"
    # the staging dir is gone; only the final artifact remains
    assert _artifacts() == [first]
    # a fresh process (cleared memo) reuses the artifact on disk
    entry_mod._BUILT_ONCE.clear()
    assert entry_mod._build_once(src, "events", "t", "v1", build) == first
    assert len(build.calls) == 1


def test_key_hashes_source_identity_and_tag(src):
    """The key formula is part of the on-disk contract: stores written
    under it are reused across versions of this module."""
    st = os.stat(os.path.join(src, "events.parquet"))
    ident = f"{src}|{st.st_size}|{st.st_mtime_ns}|v1"
    key = hashlib.md5(ident.encode()).hexdigest()[:12]
    path = entry_mod._build_once(src, "events", "t", "v1", _Writer())
    assert path == os.path.join(tempfile.gettempdir(), f"cfr_t_{key}")


def test_missing_table_falls_back_to_the_dir_name(src):
    key = hashlib.md5(f"{src}|v1".encode()).hexdigest()[:12]
    path = entry_mod._build_once(src, "absent", "t", "v1", _Writer())
    assert os.path.basename(path) == f"cfr_t_{key}"


def test_changed_mtime_or_tag_builds_a_new_artifact(src):
    build = _Writer()
    first = entry_mod._build_once(src, "events", "t", "v1", build)

    entry_mod._BUILT_ONCE.clear()
    st = os.stat(os.path.join(src, "events.parquet"))
    os.utime(
        os.path.join(src, "events.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000),
    )
    regenerated = entry_mod._build_once(src, "events", "t", "v1", build)
    assert regenerated != first

    entry_mod._BUILT_ONCE.clear()
    retagged = entry_mod._build_once(src, "events", "t", "v2", build)
    assert retagged not in (first, regenerated)
    assert len(build.calls) == 3
    assert _artifacts() == sorted([first, regenerated, retagged])


def test_failed_build_leaves_nothing_and_next_call_builds(src):
    def broken(path: str) -> None:
        os.makedirs(path)
        open(os.path.join(path, "half.txt"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        entry_mod._build_once(src, "events", "t", "v1", broken)
    # neither a final artifact nor a cfr_t_stage_* dir is left behind
    assert _artifacts() == []

    build = _Writer()
    path = entry_mod._build_once(src, "events", "t", "v1", build)
    assert len(build.calls) == 1
    assert os.listdir(path) == ["data.txt"]


def test_concurrent_promotion_returns_the_winner(src):
    """Another process promotes its copy between this build and the
    rename: the loser's rename fails on the non-empty target, and the
    winner's complete copy is served without raising."""
    final = entry_mod._build_once(src, "events", "t", "v1", _Writer())
    shutil.rmtree(final)
    entry_mod._BUILT_ONCE.clear()

    def racing(path: str) -> None:
        _Writer()(path)
        os.makedirs(final)
        with open(os.path.join(final, "winner.txt"), "w") as fh:
            fh.write("theirs")

    assert entry_mod._build_once(src, "events", "t", "v1", racing) == final
    assert os.listdir(final) == ["winner.txt"]
    assert _artifacts() == [final]
