"""Host-side measurements: resident memory from /proc and the calibration
probe that every run record carries."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return "?"


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed resident set of every descendant of this process
    (the Spark driver JVM and its Python workers; the benchmark client
    itself is excluded) on a background thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_process: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        kids = _children_map()
        direct = set(kids.get(os.getpid(), []))
        jvm_exes = {_exe(p) for p in direct}
        by_proc = {}
        for p in descendants(os.getpid(), kids):
            # a process below the JVM that still runs the JVM's executable
            # is a fork about to exec a helper command: it shares the JVM's
            # pages, so counting it would double them
            if p not in direct and _exe(p) in jvm_exes:
                continue
            by_proc[f"{p}:{_comm(p)}"] = rss_bytes(p)
        total = sum(by_proc.values())
        if total > self.peak:
            self.peak = total
            self.peak_by_process = {k: v for k, v in by_proc.items() if v}
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def cpu_jiffies() -> list[int]:
    """Host-wide (user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict:
    """Share of CPU time per state between two :func:`cpu_jiffies` reads;
    ``steal`` is time the hypervisor gave this machine's CPUs to others."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: v / total for n, v in zip(names, d)}


_PROBE = (
    "import re, time\n"
    "text = 'lorem ipsum dolor sit amet consectetur ' * 4000\n"
    "pat = re.compile(r'[a-z]+')\n"
    "t0 = time.perf_counter()\n"
    "for _ in range(15):\n"
    "    n = sum(1 for _ in pat.finditer(text))\n"
    "print(time.perf_counter() - t0)\n"
)


def calibration(nproc: int) -> dict:
    """Pure-regex scan (the kind of work the miners do) in 1 process and in
    ``nproc`` concurrent processes. The slowdown is the host's ceiling on
    parallel efficiency for scan-heavy work, independent of Spark."""

    def measure(n: int) -> float:
        procs = [
            subprocess.Popen(
                [sys.executable, "-c", _PROBE], stdout=subprocess.PIPE, text=True
            )
            for _ in range(n)
        ]
        return sum(float(p.communicate()[0]) for p in procs) / n

    t1, tn = measure(1), measure(nproc)
    return {
        "nproc": nproc,
        "regex_scan_s_1proc": t1,
        f"regex_scan_s_{nproc}proc": tn,
        "slowdown_1_to_n": tn / t1,
        "efficiency_ceiling": t1 / tn,
    }


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is running (exited or a zombie); returns
    the ones still running at the timeout."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _running(p)]
        if alive:
            time.sleep(0.1)
    return alive
