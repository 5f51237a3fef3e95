"""Latency summaries and op accounting shared by every workload."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field


def _rank(q: float, n: int) -> int:
    """1-based nearest rank of percentile ``q`` among ``n`` samples (the
    rounding keeps 99.9% of 10,000 at rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    xs = sorted(values)
    return xs[_rank(q, len(xs)) - 1]


@dataclass
class OpLog:
    """Attempted ops of one measured window, with their outcome."""
    latencies_s: list[float] = field(default_factory=list)  # ok ops only
    by_kind: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    cycle_rates: list[float] = field(default_factory=list)  # ok ops/s per cycle

    def end_cycle(self, ok_ops: int, wall_s: float) -> None:
        """Close one whole cycle of the window: ``ok_ops`` completed in
        ``wall_s`` seconds."""
        self.cycle_rates.append(ok_ops / wall_s if wall_s > 0 else 0.0)

    def record(self, latency_s: float, ok: bool, error: str = "",
               kind: str = "") -> None:
        self.attempted += 1
        if ok:
            self.latencies_s.append(latency_s)
            self.by_kind.setdefault(kind, []).append(latency_s)
        else:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(error)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def summary(self, tail_q: float) -> dict:
        """End-to-end figures with their sample counts. A failed op has no
        latency sample, so it counts against throughput and ``failed_ratio``
        but never makes a percentile look faster. ``tail_q`` is fixed so
        runs stay comparable; ``tail_beyond`` says how many samples lie past
        it (at 15-25 ops per window, fewer than the ten a tail would want).
        ``ops_per_s`` is the median of the per-cycle rates when the window
        was cut into cycles, so a burst of host load that slows one cycle
        does not move it; otherwise completed ops over the window's wall."""
        lat_ms = [x * 1e3 for x in self.latencies_s]
        n = len(lat_ms)
        done = self.attempted - self.failed
        if self.cycle_rates:
            rate = statistics.median(self.cycle_rates)
        else:
            rate = done / self.wall_s if self.wall_s > 0 else 0.0
        return {
            "ops_per_s": rate,
            "cycles": len(self.cycle_rates),
            "p50_ms": statistics.median(lat_ms) if n else float("nan"),
            "tail_ms": percentile(lat_ms, tail_q) if n else float("nan"),
            "tail_percentile": tail_q,
            "tail_beyond": n - _rank(tail_q, n) if n else 0,
            "samples": n,
            "attempted": self.attempted,
            "failed": self.failed,
            "failed_ratio": self.failed_ratio,
        }
