"""Spans, self time, percentiles and stream-latency arithmetic.

Spans are kept in memory by a :class:`Tracer` and written out once, at the
end of a run. A span has a name (``<module>.<function>`` of the layer it
wraps), start and end (``time.perf_counter`` seconds), the id of the span
that was open when it started, the workload and the op id it belongs to.
A disabled tracer records nothing and costs one branch per call.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAIL_BEYOND = 10  # a tail percentile must leave at least this many samples beyond it
# A window whose stolen share is s ran (1 - s) ** -STEAL_EXPONENT times
# longer than on an unshared host. Fitted to 30 runs of the three
# workloads on a 4-core VM whose stolen share ranged from 0 to 0.45: the
# steal counter misses that busy host cores also run the guest's code
# slower, and that loss grows with the same host load.
STEAL_EXPONENT = 1.7


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    workload: str
    op: int | None
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()  # open spans, per thread
        self.op: int | None = None
        # parent for spans opened on a thread with no open span of its own
        # (e.g. a streaming callback thread working for a span on another)
        self.foster: int | None = None

    @contextmanager
    def span(self, name: str):
        """Time the body as one span; yields the span (``None`` when
        disabled) so the body can attach counts to it."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                  stack[-1] if stack else self.foster, self.workload, self.op)
        self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    covered, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        covered += cur_end - cur_start
    return covered


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - union_length(children.get(s.id, [])) for s in spans}


def layer_self_times(spans: list[Span], layers: list[str]) -> dict[str, float]:
    """Self time summed per layer, the layer being a span name's first
    dotted component. Spans of other names (ops, phases) are left out."""
    own = self_times(spans)
    out = {layer: 0.0 for layer in layers}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        if layer in out:
            out[layer] += own[s.id]
    return out


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    # rounding keeps a rank that is whole in exact arithmetic from creeping up
    rank = max(1, math.ceil(round(pct / 100.0 * len(ordered), 9)))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> float:
    """The highest percentile whose nearest-rank sample leaves at least
    ``beyond`` samples above it; 100 (the maximum) when ``n`` is too small
    for a percentile above the median to do so."""
    if n <= 2 * beyond:
        return 100.0
    return 100.0 * (n - beyond) / n


def source_log_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, read from a file-source stream's log in
    its checkpoint (plain and ``.compact`` log files alike), so attributing
    files to epochs needs no Spark action."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    try:
        names = os.listdir(log_dir)
    except OSError:
        return out
    for n in names:
        if n.startswith("."):
            continue
        try:
            with open(os.path.join(log_dir, n)) as f:
                lines = f.read().splitlines()
        except OSError:
            continue
        for line in lines[1:]:  # the first line is the log format version
            try:
                entry = json.loads(line)
            except ValueError:
                continue  # a log file caught mid-write
            out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def file_latencies(
    due: dict[str, float], batches: dict[str, int], commits: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Latency of each landed file, from when it was due to the commit of
    the micro-batch that read it; also the files not committed."""
    lat, missing = {}, []
    for name, t_due in due.items():
        b = batches.get(name)
        if b is None or b not in commits:
            missing.append(name)
        else:
            lat[name] = commits[b] - t_due
    return lat, missing


def max_backlog(landed: list[float], committed: list[float]) -> int:
    """Most files landed but not yet committed at any landing instant
    (``landed[i]`` and ``committed[i]`` belong to the same file)."""
    return max(
        (sum(1 for lt, ct in zip(landed, committed) if lt <= t < ct) for t in landed),
        default=0,
    )


def cpu_ticks(stat: str = "/proc/stat") -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs since boot. Busy is
    user + nice + system + irq + softirq; stolen is time a virtual CPU
    wanted to run while the hypervisor ran something else."""
    try:
        with open(stat) as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return 0, 0  # no /proc: nothing is known to be stolen
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields + [0] * (8 - len(fields))
    return user + nice + system + irq + softirq, steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time wanted between two ``cpu_ticks`` readings that
    the hypervisor withheld. On a shared host every CPU-bound interval
    stretches by ``1 / (1 - share)``; 0 when nothing was stolen."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


class CpuMeter:
    """Busy and stolen ticks summed over the windows it is opened for, so
    the stolen share covers exactly the time a figure was measured in."""

    def __init__(self) -> None:
        self.busy = self.stolen = 0

    @contextmanager
    def window(self):
        b0, s0 = cpu_ticks()
        try:
            yield
        finally:
            b1, s1 = cpu_ticks()
            self.busy += b1 - b0
            self.stolen += s1 - s0

    @property
    def share(self) -> float:
        return steal_share((0, 0), (self.busy, self.stolen))


def without_steal(seconds: float, share: float) -> float:
    """``seconds`` measured in a window with stolen share ``share``, as
    they would read on an unshared host."""
    return seconds * (1.0 - share) ** STEAL_EXPONENT
