"""Host fingerprint and noise record, read from ``/proc`` (no psutil).

Every result carries what the host was and how busy it was while the run
measured: a figure from a loaded host is history, not a baseline.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
from importlib import metadata


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def mem_available_gb() -> float:
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemAvailable:"):
            return int(line.split()[1]) / 2**20
    return 0.0


def git_sha(root: str) -> str:
    """The commit the checkout was made from, or ``unknown`` outside git."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _version(pkg: str) -> str:
    try:
        return metadata.version(pkg)
    except metadata.PackageNotFoundError:
        return "missing"


def fingerprint(root: str) -> dict:
    shm = shutil.disk_usage("/dev/shm").free / 2**30 if os.path.isdir("/dev/shm") else 0.0
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "mem_available_gb": round(mem_available_gb(), 2),
        "dev_shm_free_gb": round(shm, 2),
        "spark": _version("pyspark"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "git_sha": git_sha(root),
    }


def cpu_counters() -> dict:
    """Cumulative counters whose difference over a run is the noise record:
    CPU PSI "some" stall microseconds and steal/total jiffies."""
    out = {"psi_some_us": None, "steal": 0, "total": 0}
    for line in _read("/proc/pressure/cpu").splitlines():
        if line.startswith("some"):
            fields = dict(kv.split("=") for kv in line.split()[1:])
            out["psi_some_us"] = int(fields["total"])
            out["psi_some_avg60"] = float(fields["avg60"])
    for line in _read("/proc/stat").splitlines():
        if line.startswith("cpu "):
            jiffies = [int(x) for x in line.split()[1:]]
            out["steal"] = jiffies[7] if len(jiffies) > 7 else 0
            out["total"] = sum(jiffies[:8])
            break
    out["loadavg"] = os.getloadavg()
    return out


def noise_record(start: dict, end: dict, wall_s: float) -> dict:
    rec = {
        "loadavg_start": [round(x, 2) for x in start["loadavg"]],
        "loadavg_end": [round(x, 2) for x in end["loadavg"]],
        "steal_share": round(
            (end["steal"] - start["steal"]) / max(1, end["total"] - start["total"]), 4
        ),
    }
    if start["psi_some_us"] is not None and end["psi_some_us"] is not None:
        rec["cpu_psi_some_share"] = round(
            (end["psi_some_us"] - start["psi_some_us"]) / 1e6 / max(wall_s, 1e-9), 4
        )
        rec["cpu_psi_some_avg60_end"] = end.get("psi_some_avg60")
    return rec


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        stat = _read(f"/proc/{entry}/stat")
        if not stat:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(entry))
    return tree


def tree_rss_bytes(root_pid: int) -> int:
    """Resident set size of ``root_pid`` and all its descendants: the
    driver JVM and the Python workers it forks."""
    tree = _children()
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(tree.get(pid, ()))
        for line in _read(f"/proc/{pid}/status").splitlines():
            if line.startswith("VmRSS:"):
                total += int(line.split()[1]) * 1024
                break
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread until :meth:`stop`."""

    def __init__(self, pid: int, interval_s: float = 0.25):
        self._pid = pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self.peak_bytes = 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self._pid))
            self._stop.wait(self._interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes
