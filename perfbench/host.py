"""Host sizing, calibration probe and JVM memory readout.

The benchmark sizes Spark to the machine it runs on: ``local[<cores>]``
with the cores this process may use, and a driver heap derived from the
memory the machine (or its cgroup) grants. The calibration probe is run at
the start and end of every run and stored as metadata next to the result;
it is never a metric and never a wait gate.
"""

from __future__ import annotations

import os
import subprocess
import sys

_PROBE_CODE = r"""
import hashlib, sys, time
secs = float(sys.argv[1])
buf = b"x" * 4096
h = hashlib.sha256()
n = 0
t_end = time.perf_counter() + secs / 2
while time.perf_counter() < t_end:
    for _ in range(64):
        h.update(buf)
    n += 64
big = bytearray(16 * 1024 * 1024)
m = 0
t0 = time.perf_counter()
t_end = t0 + secs / 2
while time.perf_counter() < t_end:
    bytes(big)
    m += 1
print(n * 4096 / (secs / 2) / 1e6, m * 16 / (time.perf_counter() - t0))
"""


def cores() -> int:
    """Cores this process may run on (respects affinity masks)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def memory_bytes() -> int:
    """Memory granted to this machine: MemTotal, capped by a cgroup limit."""
    total = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total = int(line.split()[1]) * 1024
                break
    for limit_file in ("/sys/fs/cgroup/memory.max",
                       "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(limit_file) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit() and 0 < int(raw) < total:
            total = int(raw)
    return total


def heap_mb(mem_bytes: int) -> int:
    """Driver heap: a twentieth of the machine's memory, within
    [512 MiB, 4 GiB].

    In local mode the driver heap is the whole cluster's memory. The
    benchmark's tables are a few MB, so a small heap fits them; a heap far
    above the working set only grows the JVM's resident set (and the time
    spent faulting its pages in) on a host whose memory other tenants
    share."""
    return max(512, min(4096, mem_bytes // 20 // (1 << 20)))


def calibration_probe(n_procs: int, seconds: float = 0.4) -> dict:
    """Zero-engine control: sha256 MB/s and 16 MB copy MB/s summed over
    ``n_procs`` concurrent processes (at most one per core). Stored as
    run metadata so a slow host window is visible next to the figures."""
    procs = [subprocess.Popen([sys.executable, "-c", _PROBE_CODE,
                               str(seconds)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(max(1, n_procs))]
    sha = copy = 0.0
    try:
        for p in procs:
            out, _ = p.communicate(timeout=30)
            a, b = out.split()
            sha += float(a)
            copy += float(b)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()
    return {"procs": len(procs), "sha256_mb_per_s": round(sha, 1),
            "copy_mb_per_s": round(copy, 1)}


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
