"""Pure helpers for the benchmark: percentiles, failure tallies, the result line.

Nothing here touches Spark, so the tests exercise it without a session.
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import dataclass

# Metric names: a letter or digit, then letters, digits, `_`, `.`, `-`;
# at most 64 characters. Units: at most 16 of letters, digits, `_/%.-`.
_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}")
_UNIT_RE = re.compile(r"[A-Za-z0-9_/%.\-]{1,16}")


def valid_metric_name(name: str) -> bool:
    return _NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return _UNIT_RE.fullmatch(unit) is not None


@dataclass(frozen=True)
class Percentile:
    """A nearest-rank percentile with the samples it rests on."""

    value: float
    n: int  # samples
    above: int  # samples strictly greater than value


def percentile(values: list[float], p: float) -> Percentile:
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it. Raises ValueError on no samples."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    value = ordered[math.ceil(p / 100 * len(ordered)) - 1]
    return Percentile(value, len(ordered), sum(v > value for v in ordered))


@dataclass
class Tally:
    """Query executions attempted, and those that raised or returned the
    wrong row count. A failed execution contributes no latency sample."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def rows_match(got: int | None, expected: int) -> bool:
    """Output check: the query's row count equals its oracle twin's."""
    return got is not None and got == expected


def result_line(tally: Tally, metrics: dict[str, tuple[float, str]]) -> str:
    """The benchmark's final stdout line. ``correct`` holds only when no
    execution failed; each metric is written with all its digits."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_metric_name(name) or not valid_unit(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps(
        {
            "correct": tally.attempted > 0 and tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": out,
        }
    )
