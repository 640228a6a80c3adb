"""Summary statistics and failure counting for the benchmark's records."""

from __future__ import annotations

import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it; with fewer, the "percentile" is one or two outliers, not a tail.
MIN_BEYOND = 10


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q``-th percentile of ``n``."""
    return n - math.ceil(q / 100.0 * n)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100).

    Raises ``ValueError`` unless at least :data:`MIN_BEYOND` samples lie
    beyond it, so p99 needs 1000 samples and p90 needs 100.
    """
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    n = len(values)
    beyond = samples_beyond(n, q)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q:g} of {n} samples has {beyond} beyond it; needs {MIN_BEYOND}"
        )
    return sorted(values)[math.ceil(q / 100.0 * n) - 1]


def summary(values: list[float]) -> dict:
    """Median, quartiles, best (lowest) and count of a list of repetitions."""
    xs = sorted(values)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    else:
        q1 = q3 = xs[0]
    return {
        "n": len(xs),
        "median": statistics.median(xs),
        "q1": q1,
        "q3": q3,
        "best": xs[0],
    }


class Tally:
    """Counts attempted and failed operations; a wrong answer is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.first_failures: list[str] = []

    def check(self, label: str, want, got) -> bool:
        """One attempted operation whose output must equal ``want``."""
        return self._count(label, want == got, f"{label}: expected {want!r}, got {got!r}")

    def error(self, label: str, exc: BaseException) -> None:
        """One attempted operation that raised."""
        self._count(label, False, f"{label}: {type(exc).__name__}: {exc}")

    def _count(self, label: str, ok: bool, detail: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.first_failures) < 5:
                self.first_failures.append(detail[:500])
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
