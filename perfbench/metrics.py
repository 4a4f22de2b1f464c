"""Summary statistics and the result line's metric schema."""

from __future__ import annotations

import json
import math
import re
from fractions import Fraction

#: percentiles a tail may be reported at, lowest first
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)
#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def percentile(samples: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    r = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(r), math.ceil(r)
    return xs[lo] + (xs[hi] - xs[lo]) * (r - lo)


def p50(samples: list[float]) -> float:
    return percentile(samples, 50.0)


def tail(samples: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` for the highest ladder percentile with at
    least ``TAIL_BEYOND`` samples beyond it, or ``None`` when even the lowest
    rung lacks them (always below 20 samples).  The median is not on the
    ladder, so a tail is never a copy of the p50."""
    n = len(samples)
    best = None
    for p in TAIL_LADDER:
        # exact arithmetic: 100 * (1 - 0.9) is below 10 in floating point
        if n * (100 - Fraction(str(p))) / 100 >= TAIL_BEYOND:
            best = p
    return None if best is None else (best, percentile(samples, best))


def failed_share(failed: int, attempted: int) -> float:
    """Failed timed calls over attempted timed calls."""
    if attempted < 1:
        raise ValueError("no timed call was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def check_spec(bench: dict) -> None:
    """Raise if BENCHMARK.json's metric lists break the result schema."""
    seen = set()
    for key in ("end_to_end", "per_layer"):
        for m in bench[key]:
            name, unit = m["name"], m["unit"]
            if not NAME_RE.match(name) or name in seen:
                raise ValueError(f"bad or repeated metric name {name!r}")
            if not UNIT_RE.match(unit):
                raise ValueError(f"bad unit {unit!r} for {name}")
            if m["better"] not in ("lower", "higher"):
                raise ValueError(f"bad 'better' for {name}")
            seen.add(name)
    for m in bench["end_to_end"]:
        if not 0 < m["bound"] <= 0.25:
            raise ValueError(f"bound of {m['name']} outside (0, 0.25]")
    if not any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"]):
        raise ValueError("end_to_end lacks setup_s")


def result_line(bench: dict, trace: bool, values: dict[str, float], correct: bool,
                attempted: int, failed: int) -> str:
    """The final stdout line: exactly the metrics BENCHMARK.json lists for
    this mode, each with its declared unit."""
    wanted = bench["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in wanted}
    missing = names - values.keys()
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    metrics = {}
    for m in wanted:
        v = values[m["name"]]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise ValueError(f"metric {m['name']} is not a finite number: {v!r}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
