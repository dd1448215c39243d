"""run.py's clean-up of work dirs left by killed runs, and the tail
percentile rule."""

import os
import subprocess

import run


def test_remove_stale_work_keeps_live_runs(tmp_path):
    gone = subprocess.Popen(["true"])
    gone.wait()
    for name in (f"run-{gone.pid}-a", f"run-{os.getpid()}-b", "other"):
        (tmp_path / name).mkdir()
    run.remove_stale_work(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == ["other", f"run-{os.getpid()}-b"]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile([1.0] * 10) is None
    pct, value = run.tail_percentile([float(x) for x in range(1, 21)])
    assert pct == 50 and 10 <= value <= 11
