"""Scratch directories: where queries put the tables, indexes, stream
checkpoints and replay files they write and read back.

One root, the checkout's own `.scratch/` (gitignored), so two checkouts
never share scratch. One name per directory, `<name>-pid<N>`, so each
process owns its directories. Every directory handed out is removed
when the process exits. The first request in a process also removes
the `-pid<N>` entries of processes that are gone (a crashed run never
reached its exit hook). Importing this module creates and removes
nothing. A caller keeps every path it writes (index sidecars
included) inside a directory handed out here.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil

ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
_PID = re.compile(r"-pid(\d+)(?=-|$)")
_handed_out: set[str] = set()


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # alive under another user
    return True


def _remove_handed_out() -> None:
    for d in _handed_out:
        shutil.rmtree(d, ignore_errors=True)


def _first_request() -> None:
    os.makedirs(ROOT, exist_ok=True)
    for entry in os.listdir(ROOT):
        m = _PID.search(entry)
        if m and not _alive(int(m.group(1))):
            shutil.rmtree(os.path.join(ROOT, entry), ignore_errors=True)
    atexit.register(_remove_handed_out)


def scratch_dir(name: str) -> str:
    """This process's directory for `name`: created if absent, and kept
    with its contents across calls (a later call reads back what an
    earlier one wrote) until the process exits."""
    if not _handed_out:
        _first_request()
    d = os.path.join(ROOT, f"{name}-pid{os.getpid()}")
    _handed_out.add(d)
    os.makedirs(d, exist_ok=True)
    return d


def fresh_dir(name: str) -> str:
    """`scratch_dir(name)`, emptied: a query that creates a table or
    index, appends, or keeps a stream checkpoint starts from nothing on
    every run in the process."""
    d = scratch_dir(name)
    shutil.rmtree(d)
    os.makedirs(d)
    return d
