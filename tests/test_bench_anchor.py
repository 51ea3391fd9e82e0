"""bench.py's trend anchor: the newest committed round bench."""

from __future__ import annotations

from bench import latest_bench_anchor


def test_picks_highest_round_and_skips_variants(tmp_path):
    for name in ("BENCH_r9.json", "BENCH_r16.json", "BENCH_r16_c8.json"):
        (tmp_path / name).write_text("{}")
    # integer order: r16 beats r9 although "r9" sorts after "r16" as text
    assert latest_bench_anchor(str(tmp_path)) == "BENCH_r16.json"


def test_no_bench_file_means_no_anchor(tmp_path):
    (tmp_path / "BENCH_r16_c8.json").write_text("{}")
    assert latest_bench_anchor(str(tmp_path)) is None
