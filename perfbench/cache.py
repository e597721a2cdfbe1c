"""On-disk input cache: one directory per workload, seed and size."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from typing import Callable, Iterable, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))

#: directories kept per workload; older seeds are evicted
KEEP = 6


def seed_dir(cache: str, workload: str, key: str,
             build: Callable[[str], None]) -> str:
    """``cache/workload/key``, built by ``build(tmp)`` on first use and
    published by rename, so an interrupted build is never reused."""
    base = os.path.join(cache, workload)
    path = os.path.join(base, key)
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(base, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, path)
    entries = sorted(
        (os.path.join(base, e) for e in os.listdir(base) if ".tmp" not in e),
        key=os.path.getmtime)
    for old in entries[:-KEEP]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def run_procs(calls: Iterable[Tuple[str, str, tuple]],
              workers: int = 1) -> None:
    """Run ``module.func(*args)`` for each ``(module, func, args)`` in a
    Python process of its own, at most ``workers`` at once, and wait for
    every one.  New processes, not forked ones, because the caller
    already runs the JVM gateway's threads; and what they allocate
    leaves with them, so generation does not stay in the driver's RSS.
    Plain subprocesses rather than a multiprocessing pool, whose
    resource tracker process outlives the pool."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (HERE, os.environ.get("PYTHONPATH")) if p))
    todo, running = list(calls), []
    try:
        while todo or running:
            while todo and len(running) < workers:
                module, func, args = todo.pop(0)
                code = (f"import json, sys, {module}; "
                        f"{module}.{func}(*json.loads(sys.argv[1]))")
                running.append(subprocess.Popen(
                    [sys.executable, "-c", code, json.dumps(list(args))],
                    env=env))
            proc = running.pop(0)
            if proc.wait():
                raise RuntimeError(
                    f"input generation exited with code {proc.returncode}")
    finally:
        for proc in running:
            proc.kill()
            proc.wait()
