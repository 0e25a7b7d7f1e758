"""Host readings for the benchmark: CPU ticks, load and process memory.

Everything here reads ``/proc``; nothing starts a process or a thread.
"""

from __future__ import annotations

import os
import statistics
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> dict[str, int]:
    """Aggregate ``/proc/stat`` counters for all cores.

    ``busy`` counts user, nice, system, irq and softirq; idle, iowait and
    steal are excluded, so busy ticks are CPU time some process spent."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals
    return {
        "busy": user + nice + system + irq + softirq,
        "steal": steal,
        "total": sum(vals),
    }


def busy_ms(start: dict[str, int], end: dict[str, int]) -> float:
    return (end["busy"] - start["busy"]) * 1000.0 / CLK_TCK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def noise_start() -> dict:
    return {"ticks": cpu_ticks(), "load1": load1()}


def noise_block(start: dict, **context) -> dict:
    """Steal and busy share of all cores between ``start`` and now, load
    at both ends, plus whatever run context the caller records."""
    end = cpu_ticks()
    dt = max(end["total"] - start["ticks"]["total"], 1)
    return {
        "steal_pct": round(100.0 * (end["steal"] - start["ticks"]["steal"]) / dt, 2),
        "busy_pct": round(100.0 * (end["busy"] - start["ticks"]["busy"]) / dt, 2),
        "load1_start": start["load1"],
        "load1_end": load1(),
        "nproc": os.cpu_count(),
        **context,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants() -> list[int]:
    kids = _children()
    todo, found = list(kids.get(os.getpid(), [])), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, []))
    return found


def peak_rss_mb() -> float:
    """Sum of the peak resident set of this process and every live
    descendant: the driver JVM, the PySpark daemon and its workers."""
    return sum(_hwm_kb(p) for p in [os.getpid(), *_descendants()]) / 1024.0


def wait_descendants(timeout: float) -> None:
    """Wait until every process started from this one has exited."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in _descendants() if not _is_zombie(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {left}")
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def median(values: list[float]) -> float:
    return float(statistics.median(values))
