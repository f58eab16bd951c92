"""Summary statistics, metric records and the failed-operation counter.

Pure Python: nothing here imports Spark, so the helpers are testable
without a JVM.
"""

from __future__ import annotations

import json
import math
import re
import statistics
import traceback

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

# A tail percentile is reported only when at least this many samples lie
# beyond it; a percentile resting on fewer is noise, not a tail.
MIN_BEYOND = 10
TAILS = (0.9,)


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - math.ceil(q * n)


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` percentile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it."""
    n = len(samples)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        return None
    return sorted(samples)[math.ceil(q * n) - 1]


def latency_summary(name: str, samples_ms: list[float]) -> dict:
    """Median of ``samples_ms`` plus each tail percentile the sample count
    supports. Always states the sample count; a dropped tail is listed
    under ``dropped`` with the count it would have needed."""
    out: dict = {f"{name}_n": len(samples_ms)}
    if samples_ms:
        out[f"{name}_p50_ms"] = statistics.median(samples_ms)
    for q in TAILS:
        label = f"{name}_p{round(q * 100)}_ms"
        v = percentile(samples_ms, q)
        if v is None:
            need = math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)
            out.setdefault("dropped", []).append(
                f"{label}: {len(samples_ms)} samples, needs {need}"
            )
        else:
            out[label] = v
    return out


def metric(name: str, value: float, unit: str) -> tuple[str, dict]:
    """One metric record, with its name and unit validated."""
    if not METRIC_NAME.fullmatch(name) or len(name) > 64:
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")
    value = float(value)
    if not math.isfinite(value):
        raise ValueError(f"metric {name} is not finite: {value}")
    return name, {"value": value, "unit": unit}


class Checks:
    """Counts operations and their failures.

    An operation fails when it raises or when one of its output checks
    does not hold. Either way the failure is recorded and counted, and
    the benchmark carries on, so one bad answer cannot hide the rest.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, label: str, fn, *args, **kwargs):
        """Run one operation; return its result, or None if it raised."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — counted, reported, not raised
            self._fail(label, traceback.format_exc(limit=3))
            return None

    def verify(self, label: str, problems: list[str]) -> bool:
        """Record the output checks of one already-counted operation."""
        if problems:
            self._fail(label, "; ".join(problems[:5]))
            return False
        return True

    def verify_op(self, label: str, problems: list[str]) -> bool:
        """Count a check that is an operation of its own (a comparison
        made once per run outside the timed window)."""
        self.attempted += 1
        return self.verify(label, problems)

    def _fail(self, label: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{label}: {why}")

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0


def result_line(checks: Checks, metrics: dict) -> str:
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": checks.correct,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    })
