"""Order statistics and host counters shared by every workload."""

from __future__ import annotations

import os
import statistics
import time


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them; a
    single value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it; with ten or fewer samples, the maximum (percentile
    100)."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= 10:
        return 100.0, ordered[-1]
    return 100.0 * (n - 10) / n, ordered[n - 11]


def cpu_s() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of this machine's virtual CPUs since boot,
    from ``/proc/stat``; (0, 0) where the kernel does not report them.
    Stolen time is time the hypervisor held a virtual CPU that had work to
    do, for another tenant of a shared host."""
    try:
        with open("/proc/stat") as f:
            fields = [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0.0, 0.0
    user, nice, system, _idle, _iowait, irq, softirq, steal = fields
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


class Stopwatch:
    """Times an interval in wall seconds and in wall seconds net of
    hypervisor steal.

    On a shared host the hypervisor can hold this machine's virtual CPUs
    while the program has work for them, and an interval then runs slower
    for reasons outside the program. ``net`` scales the wall time by the
    share of the CPU time the machine wanted that it got,
    busy / (busy + stolen): the interval's wall time on an uncontended
    host, its work spread over the CPUs as it was. Without steal, net is
    the wall time."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_s()

    def read(self) -> tuple[float, float]:
        """(wall, net) seconds since the stopwatch started."""
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.cpu0, cpu_s()))
        return wall, (wall * busy / (busy + stolen) if busy > 0 else wall)


class Metrics:
    """Named metrics of one run: each keeps its unit and its samples; the
    reported value is the median of the samples."""

    def __init__(self) -> None:
        self._units: dict[str, str] = {}
        self._samples: dict[str, list[float]] = {}
        self._notes: dict[str, str] = {}

    def add(self, name: str, unit: str, value: float, note: str = "") -> None:
        self._units[name] = unit
        self._samples.setdefault(name, []).append(float(value))
        if note:
            self._notes[name] = note

    def has(self, name: str) -> bool:
        return name in self._samples

    def samples(self, name: str) -> list[float]:
        return list(self._samples.get(name, []))

    def value(self, name: str) -> float:
        return quartiles(self._samples[name])[1]

    def table(self) -> list[str]:
        """One line per metric: name, unit, sample count, median, quartiles."""
        lines = [f"{'metric':44s} {'unit':>8s} {'n':>6s} {'median':>14s} {'q1':>14s} {'q3':>14s}"]
        for name in self._samples:
            q1, med, q3 = quartiles(self._samples[name])
            note = f"  {self._notes[name]}" if name in self._notes else ""
            lines.append(
                f"{name:44s} {self._units[name]:>8s} {len(self._samples[name]):6d} "
                f"{med:14.6g} {q1:14.6g} {q3:14.6g}{note}"
            )
        return lines

    def as_result(self, names: list[str]) -> dict:
        return {n: {"value": self.value(n), "unit": self._units[n]} for n in names}
