"""Process-tree measurements of the benchmark's Spark session: its JVM
and Python workers are descendants of the benchmark process."""

from __future__ import annotations

import os
import signal
import subprocess
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_mib() -> dict[str, float]:
    """Peak RSS (VmHWM) of the session's JVM and of its Python workers,
    each summed over processes."""
    kib = {"java": 0, "python": 0}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited meanwhile
        name = fields.get("Name", "").strip()
        for kind in kib:
            if name.startswith(kind):
                kib[kind] += int(fields.get("VmHWM", "0 kB").split()[0])
    return {kind: k / 1024.0 for kind, k in kib.items()}


def stop(spark) -> None:
    """Stop the session, its JVM and every process under it, and wait."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
            time.sleep(0.1)
        deadline = time.monotonic() + 10


def cpu_seconds() -> float:
    """User plus system CPU seconds used so far by this process and every
    live descendant, each with its reaped children."""
    total = 0
    for pid in (os.getpid(), *descendants(os.getpid())):
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")
