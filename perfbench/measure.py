"""Pure helpers of the benchmark: pass order, latency percentiles, metric
names, and CPU and memory of a process tree read from ``/proc``.

Nothing here imports Spark, so the helpers are tested on their own
(``perfbench/tests``).
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

#: A tail percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def seeded_passes(keys: Sequence[str], seed: int) -> Iterator[list[str]]:
    """Endless sequence of passes; each pass is a permutation of ``keys``
    drawn from ``seed``, so a run's k-th pass is the same on every run
    with that seed and every pass holds each key exactly once."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(list(keys), len(keys))


def samples_beyond(n: int, q: float) -> int:
    """Samples above the nearest-rank quantile ``q`` of ``n`` samples."""
    return n - math.ceil(q * n)


def min_samples(q: float) -> int:
    """Fewest samples for which quantile ``q`` has MIN_BEYOND beyond it."""
    n = 1
    while samples_beyond(n, q) < MIN_BEYOND:
        n += 1
    return n


def percentile(samples: Sequence[float], q: float) -> float:
    """Quantile ``q`` by linear interpolation between order statistics.

    Raises ValueError for a tail quantile (q > 0.5) that fewer than
    MIN_BEYOND samples lie beyond: such a figure is set by a handful of
    executions and does not repeat from run to run."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if q > 0.5 and samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples has {samples_beyond(n, q)} beyond it; "
            f"need {MIN_BEYOND} ({min_samples(q)} samples)"
        )
    s = sorted(samples)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def digest(rows: Sequence[Sequence]) -> str:
    """Row count and an order-independent digest of collected rows: the
    sum, modulo 2**64, of a 64-bit hash of each row's repr."""
    h = 0
    for row in rows:
        h += int.from_bytes(hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest(), "big")
    return f"{len(rows)}:{h % 2**64:016x}"


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    #: utime + stime + cutime + cstime, in clock ticks. The last two hold
    #: children this process has reaped, so summing this field over the
    #: live processes of a tree counts every process that ever ran in it
    #: once, provided each was reaped inside the tree.
    cpu_ticks: int


def scan_procs(proc_root: str = "/proc") -> dict[int, Proc]:
    procs: dict[int, Proc] = {}
    for entry in os.listdir(proc_root):
        if not entry.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, entry, "stat")) as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        # comm is parenthesised and may hold spaces or ')'
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        rest = stat[stat.rindex(")") + 2 :].split()
        ticks = sum(int(x) for x in rest[11:15])
        procs[int(entry)] = Proc(int(entry), int(rest[1]), comm, ticks)
    return procs


def descendants(procs: dict[int, Proc], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(procs: dict[int, Proc], pids: Sequence[int]) -> float:
    tick = os.sysconf("SC_CLK_TCK")
    return sum(procs[p].cpu_ticks for p in pids if p in procs) / tick


def vm_hwm_mb(pids: Sequence[int], proc_root: str = "/proc") -> float:
    """Sum of the kernel's resident-set high-water marks (VmHWM)."""
    kb = 0
    for pid in pids:
        try:
            with open(os.path.join(proc_root, str(pid), "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


@dataclass(frozen=True)
class TreeSample:
    """CPU seconds of the benchmark's process tree, split into the Spark
    driver (this Python process), the JVM, and the JVM's descendants (the
    PySpark daemon and its Python workers)."""

    driver_s: float
    jvm_s: float
    pyworker_s: float
    pyworker_pids: tuple[int, ...]
    jvm_pid: int | None

    @property
    def total_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s


def sample_tree(root: int, proc_root: str = "/proc") -> TreeSample:
    procs = scan_procs(proc_root)
    jvms = [p for p in descendants(procs, root) if procs[p].comm == "java"]
    jvm = jvms[0] if jvms else None
    workers = tuple(descendants(procs, jvm)) if jvm is not None else ()
    others = [p for p in descendants(procs, root) if p != jvm and p not in workers]
    return TreeSample(
        driver_s=cpu_seconds(procs, [root, *others]),
        jvm_s=cpu_seconds(procs, [jvm] if jvm is not None else []),
        pyworker_s=cpu_seconds(procs, workers),
        pyworker_pids=workers,
        jvm_pid=jvm,
    )
