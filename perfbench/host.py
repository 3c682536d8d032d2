"""Host context recorded with every run: what ran, where, and how busy the
machine was.  None of it is a gated metric; it lets scatter on a shared
host be read."""
from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

SPEED_CONTROL_S = 0.2  # seconds each speed-control loop runs
SPEED_CONTROL_LEAD_S = 0.5  # time the loop processes get to start before they run together


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open('/proc/loadavg') as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit(root: str) -> str | None:
    """Commit of a git checkout, read from ``.git`` without running git;
    None for an exported tree."""
    head_path = os.path.join(root, '.git', 'HEAD')
    if not os.path.isfile(head_path):
        return None
    with open(head_path) as f:
        head = f.read().strip()
    if not head.startswith('ref: '):
        return head
    ref = head[5:]
    ref_path = os.path.join(root, '.git', ref)
    if os.path.isfile(ref_path):
        with open(ref_path) as f:
            return f.read().strip()
    packed = os.path.join(root, '.git', 'packed-refs')
    if os.path.isfile(packed):
        with open(packed) as f:
            for line in f:
                if line.rstrip().endswith(' ' + ref):
                    return line.split()[0]
    return None


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f'/proc/{pid}/status') as f:
            for line in f:
                if line.startswith('VmHWM:'):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def _burn(seconds: float) -> int:
    n = x = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end:
        for i in range(20_000):
            x ^= i * 2654435761
        n += 20_000
    return n


def speed_control() -> dict:
    """CPU-bound host-speed control: loop iterations per second of one
    process, and of ``nproc`` independent processes together.  Scaling
    below ~0.9 means other tenants are using the cores.  Each loop is a
    child process that this call waits for."""
    n = nproc()
    rates = {}
    for procs in (1, n):
        start_at = time.time() + SPEED_CONTROL_LEAD_S
        loops = [subprocess.Popen([sys.executable, os.path.abspath(__file__), 'burn', repr(start_at)],
                                  stdout=subprocess.PIPE, text=True)
                 for _ in range(procs)]
        rates[procs] = sum(int(p.communicate()[0]) for p in loops) / SPEED_CONTROL_S
    return {
        'procs': n,
        'iters_per_s_1proc': round(rates[1]),
        f'iters_per_s_{n}proc': round(rates[n]),
        'scaling': round(rates[n] / (n * rates[1]), 3),
    }


def context(root: str, master: str) -> dict:
    return {
        'commit': git_commit(root),
        'nproc': nproc(),
        'master': master,
        'python': platform.python_version(),
        'platform': platform.platform(),
        'loadavg_before': loadavg(),
    }


if __name__ == '__main__' and sys.argv[1:2] == ['burn']:
    # one speed-control loop: wait for the shared start time, then count
    time.sleep(max(0.0, float(sys.argv[2]) - time.time()))
    print(_burn(SPEED_CONTROL_S))
