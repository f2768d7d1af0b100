"""The benchmark's process tree, read from /proc: peak resident memory,
and a shutdown that waits for the JVM and the Python workers to exit."""

from __future__ import annotations

import os
import signal
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python_worker(pid: int, parent: int) -> bool:
    """A worker is forked by the PySpark daemon, so it and its parent both
    run ``pyspark.daemon``."""
    def cmd(p):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                return f.read()
        except OSError:
            return b""
    return b"pyspark.daemon" in cmd(pid) and b"pyspark.daemon" in cmd(parent)


class RssSampler:
    """Peak resident memory of the process tree: the VmHWM of the driver,
    the JVM and the PySpark daemon, plus the `slots` largest Python-worker
    VmHWMs. Spark forks extra workers for concurrent jobs and retires idle
    ones, so how many exist during a run varies with timing. At most `slots`
    tasks run at once, so the largest `slots` workers bound what they hold
    together."""

    def __init__(self, slots: int):
        self.root = os.getpid()
        self.slots = slots
        self.peak_kb: dict[int, int] = {}
        self.workers: set[int] = set()

    def sample(self) -> None:
        kids = _children_map()
        todo = [(self.root, None)]
        while todo:
            pid, parent = todo.pop()
            hwm = _vm_hwm_kb(pid)
            if hwm:
                self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), hwm)
                if parent is not None and _is_python_worker(pid, parent):
                    self.workers.add(pid)
            todo.extend((k, pid) for k in kids.get(pid, []))

    def total_mb(self) -> float:
        others = sum(kb for p, kb in self.peak_kb.items() if p not in self.workers)
        workers = sorted((self.peak_kb[p] for p in self.workers), reverse=True)
        return (others + sum(workers[:self.slots])) / 1024.0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (the gateway exits on EOF),
    and wait until every process the run started has ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed below
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
