"""Scratch-directory lifecycle (`sora_spark/scratch.py`): every directory
handed out is gone once its process exits, and the first request in a
process removes the entries of dead processes, once."""

from __future__ import annotations

import os
import subprocess
import sys

from sora_spark import scratch

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_handed_out_dirs_removed_at_exit():
    code = (
        "import os\n"
        "from sora_spark.scratch import fresh_dir, scratch_dir\n"
        "for d in (scratch_dir('exit_kept'), fresh_dir('exit_fresh')):\n"
        "    open(os.path.join(d, 'f'), 'w').close()\n"
        "    print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=_CHECKOUT, timeout=120,
        check=True,
    )
    dirs = out.stdout.split()
    assert len(dirs) == 2, out.stdout
    for d in dirs:
        assert os.path.dirname(d) == os.path.join(_CHECKOUT, ".scratch")
        assert not os.path.exists(d), d


def test_first_request_sweeps_dead_pids_once(tmp_path, monkeypatch):
    child = subprocess.Popen([sys.executable, "-c", "pass"])
    child.wait()
    dead, live = child.pid, os.getpid()
    monkeypatch.setattr(scratch, "ROOT", str(tmp_path))
    monkeypatch.setattr(scratch, "_handed_out", set())
    monkeypatch.setattr("atexit.register", lambda fn: fn)
    for entry in (f"a-pid{dead}", f"a-pid{dead}-seq", f"a-pid{live}", "a-7"):
        (tmp_path / entry).mkdir()

    kept = scratch.scratch_dir("b")
    assert sorted(os.listdir(tmp_path)) == sorted(
        [f"a-pid{live}", "a-7", f"b-pid{live}"]
    )

    # later requests sweep nothing; scratch_dir keeps, fresh_dir empties
    (tmp_path / f"c-pid{dead}").mkdir()
    open(os.path.join(kept, "f"), "w").close()
    assert scratch.scratch_dir("b") == kept
    assert os.listdir(kept) == ["f"]
    assert scratch.fresh_dir("b") == kept
    assert os.listdir(kept) == []
    assert (tmp_path / f"c-pid{dead}").is_dir()
