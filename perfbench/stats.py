"""Sample summaries and host counters used by every workload.

Timings are summarised as a median plus the highest percentile that has
at least ``TAIL_SUPPORT`` samples beyond it, with the sample count, so a
tail is never quoted from a handful of observations.
"""

from __future__ import annotations

import math
import statistics

TAIL_SUPPORT = 10
_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def supported_percentile(n: int) -> float | None:
    """Highest candidate percentile p with at least TAIL_SUPPORT of the n
    samples strictly above its rank; None when not even p50 qualifies."""
    for p in _CANDIDATES:
        if n - _rank(p, n) >= TAIL_SUPPORT:
            return p
    return None


def _rank(p: float, n: int) -> int:
    """Nearest-rank position ceil(p/100 * n), immune to float round-up."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the value at rank ceil(p/100 * n))."""
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def summarize(values: list[float]) -> dict:
    """{"n", "p50", "tail_pct", "tail"}; needs at least 2 x TAIL_SUPPORT
    samples, so that p50 at least is supported."""
    p = supported_percentile(len(values))
    if p is None:
        raise ValueError(f"{len(values)} samples support no percentile")
    return {"n": len(values), "p50": statistics.median(values),
            "tail_pct": p, "tail": percentile(values, p)}


def pct_label(p: float) -> str:
    return f"p{p:g}".replace(".", "_")


# -- host counters ----------------------------------------------------------

_CPUACCT = "/sys/fs/cgroup/cpuacct/cpuacct.usage"


def cgroup_cpu_s() -> float:
    """CPU seconds charged to this container's cgroup (cgroup v1
    ``cpuacct.usage``). A host without it fails the run: no other counter
    means the same thing (``/proc/stat`` counts the whole VM and steal)."""
    try:
        with open(_CPUACCT) as fh:
            return int(fh.read()) / 1e9
    except OSError as e:
        raise RuntimeError(f"cpu_s needs the cgroup v1 counter {_CPUACCT}: {e}") from e


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given live processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_steal() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f) - f[3] - f[4], f[7]


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of busy CPU time the hypervisor stole between two readings:
    a noisy-neighbour gauge for judging a run's wall-clock figures."""
    busy = b[0] - a[0]
    return 100.0 * (b[1] - a[1]) / busy if busy else 0.0
