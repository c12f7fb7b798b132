"""Stopping a Spark session together with every process it started.

``SparkSession.stop`` leaves the driver JVM running: it exits on its own
only once this process has exited and closed its stdin, so for a moment
after the benchmark returns it is still there, with any Python workers it
forked. ``stop_spark`` ends the JVM and every other process below this one,
and waits until each has ended.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int | None = None) -> set[tuple[int, str]]:
    """``(pid, start time)`` of every live process below ``root``."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(int(entry))
        if fields is None or fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        start[int(entry)] = fields[19]
    out, todo = set(), [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out.add((pid, start[pid]))
            todo.append(pid)
    return out


def alive(proc: tuple[int, str]) -> bool:
    """Whether the process still runs (not ended, not a zombie, not a new
    process that took over its pid)."""
    fields = _stat(proc[0])
    return fields is not None and fields[0] != "Z" and fields[19] == proc[1]


def _reap():
    """Collect this process's own ended children."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_all(procs: set[tuple[int, str]], grace_s: float = 20.0):
    """Wait for ``procs`` to end: ``grace_s`` on their own, then SIGTERM,
    then SIGKILL; returns once none is left."""
    deadline = time.monotonic() + grace_s
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for proc in procs:
                if alive(proc):
                    try:
                        os.kill(proc[0], sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            _reap()
            procs = {p for p in procs if alive(p)}
            if not procs:
                return
            time.sleep(0.05)
    while any(alive(p) for p in procs):
        _reap()
        time.sleep(0.05)


def stop_spark(spark):
    """Stop the session, close the driver JVM's stdin so that it exits, and
    wait for it and every other process below this one to end."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        procs = descendants()
        gateway = SparkContext._gateway
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        end_all(procs)
