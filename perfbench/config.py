"""Workload definitions, machine sizing and host-noise sampling.

Everything here is plain Python (no Spark import), so the parent process
in ``run.py`` can use it before any JVM starts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: every file the benchmark writes lives under this directory of the checkout
CACHE = os.path.join(ROOT, ".bench_cache")


@dataclass(frozen=True)
class Workload:
    """One crawl workload: corpus shape, seeding and crawl configuration."""

    name: str
    n_pages: int
    words: int
    n_hosts: int
    seed_frac: float  # share of corpus urls seeded; 1.0 seeds every url
    quota: int  # per-host politeness quota per round
    buckets: int
    rounds: int
    #: rounds whose wall time is ``crawl_s``; earlier rounds run but are
    #: not counted (crawl_steady skips its seeding round)
    first_measured_round: int
    segments: int  # WARC segment files
    #: unmeasured trials in set-up: the JIT is still compiling the round's
    #: code over the first few replays, which made each trial 15-30% faster
    #: than the one before
    warmup_trials: int
    #: a run measures trials until --seconds pass and at least this many ran
    min_trials: int


WORKLOADS: dict[str, Workload] = {
    # every url seeded, one round over 1,000-word pages: extraction and the
    # fetch_log write carry it; the seen-set probe is skipped
    "crawl_wave": Workload(
        name="crawl_wave",
        n_pages=2_000,
        words=1_000,
        n_hosts=300,
        seed_frac=1.0,
        quota=1_000_000,
        buckets=4,
        rounds=1,
        first_measured_round=1,
        segments=8,
        warmup_trials=2,
        min_trials=3,
    ),
    # 10% seeded, quota below the hot host's backlog, small rounds: the
    # per-round floor, Bloom probe, maybe anti-join and (round 3, both
    # buckets past MIN_CAP) a sidecar rebuild carry it
    "crawl_steady": Workload(
        name="crawl_steady",
        n_pages=28_000,
        words=100,
        n_hosts=300,
        seed_frac=0.1,
        quota=1_100,
        buckets=2,
        rounds=3,
        first_measured_round=2,
        segments=8,
        warmup_trials=0,
        min_trials=1,
    ),
}

#: the same workloads shrunk for the benchmark's own tests (``--scale tiny``)
TINY: dict[str, Workload] = {
    "crawl_wave": replace(
        WORKLOADS["crawl_wave"], n_pages=300, words=50, n_hosts=20, segments=2,
        warmup_trials=1, min_trials=2,
    ),
    "crawl_steady": replace(
        WORKLOADS["crawl_steady"], n_pages=3_000, words=20, n_hosts=30, quota=200, segments=2
    ),
}


def workload(name: str, scale: str = "full") -> Workload:
    return (TINY if scale == "tiny" else WORKLOADS)[name]


def machine() -> dict:
    """Cores, physical RAM and the driver heap sized to fit in it."""
    cores = len(os.sched_getaffinity(0))
    ram = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram = int(line.split()[1]) * 1024
                break
    # a quarter of RAM, between 1 and 8 GiB: the local-mode driver is also
    # the executor, and the Python workers and page cache need the rest
    heap_gb = max(1, min(8, ram // (4 << 30)))
    return {"cores": cores, "ram_bytes": ram, "heap": f"{heap_gb}g"}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostNoise:
    """steal% and sys% of all CPU ticks over a ``with`` block (/proc/stat)."""

    steal_pct = sys_pct = 0.0

    def __enter__(self) -> "HostNoise":
        self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        d = [b - a for a, b in zip(self._t0, _cpu_ticks())]
        tot = max(sum(d), 1)
        # fields: user nice system idle iowait irq softirq steal
        self.steal_pct = round(100.0 * d[7] / tot, 2)
        self.sys_pct = round(100.0 * d[2] / tot, 2)
