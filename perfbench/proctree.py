"""This process and everything it started (the Spark JVM and its Python
workers), read from /proc: CPU time, resident memory, clean shutdown; and
the machine's steal time.

The benchmark's times are wall-clock seconds with the hypervisor's steal
taken out. On a shared virtual machine steal stretches wall time by a
factor that drifts over minutes; the guest kernel counts it per CPU in
/proc/stat, apart from the time the CPUs spent running anything.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, starting at field 3
    return s[s.rfind(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children."""
    pid = pid or os.getpid()
    ticks = 0
    for p in [pid, *descendants(pid)]:
        st = _stat(p)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks summed over the machine's CPUs since boot; busy
    is every state but idle, iowait and steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def unstolen(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` seconds less the share of them the hypervisor stole: steal
    over (busy + steal) is the part of the time the guest wanted to run
    that it was not given."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return wall * (1.0 - steal / (busy + steal)) if busy + steal > 0 else wall


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed resident memory of the tree, sampled every 0.5 s while
    not paused (the benchmark pauses it around its own output checks)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.paused = False
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.5):
            if not self.paused:
                kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
                self.peak_kb = max(self.peak_kb, kb)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        left = descendants(os.getpid())
        while left and time.time() < deadline:
            time.sleep(0.2)
            left = descendants(os.getpid())
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.1)
