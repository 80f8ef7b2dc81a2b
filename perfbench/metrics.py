"""Metric bookkeeping shared by the workloads: the BENCHMARK.json spec,
name validation, percentiles with a sample-count rule, and the
pass/fail tally behind ``attempted`` / ``failed``.

Pure Python (no Spark), so the unit tests import it directly.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH_RE = re.compile(r"[A-Za-z0-9_./-]{1,200}")
MAX_BOUND = 0.25
#: a percentile is reported only when this many samples lie beyond it
TAIL_SAMPLES = 10

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def validate_spec(spec: dict) -> list[str]:
    """Every way ``spec`` breaks the BENCHMARK.json contract (empty when
    it is valid)."""
    errs = []
    keys = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    if set(spec) != keys:
        errs.append(f"top-level keys {sorted(spec)} != {sorted(keys)}")
        return errs
    cmd = spec["command"]
    if not (isinstance(cmd, list) and 1 <= len(cmd) <= 32
            and all(isinstance(c, str) and len(c) <= 200 for c in cmd)):
        errs.append("command must be 1-32 strings of at most 200 characters")
    elif any(c.startswith("/") or ".." in c.split("/") for c in cmd):
        errs.append("command may not hold absolute paths or '..'")
    paths = spec["paths"]
    if not (isinstance(paths, list) and 1 <= len(paths) <= 16):
        errs.append("paths must list 1-16 directories")
    else:
        for p in paths:
            if not (isinstance(p, str) and PATH_RE.fullmatch(p)) or p.startswith("/") or ".." in p.split("/"):
                errs.append(f"bad path {p!r}")
    rs = spec["run_seconds"]
    if not (isinstance(rs, int) and not isinstance(rs, bool) and 1 <= rs <= 60):
        errs.append("run_seconds must be a whole number from 1 to 60")
    seen: set[str] = set()

    def name_ok(n) -> bool:
        if not (isinstance(n, str) and NAME_RE.fullmatch(n)):
            errs.append(f"bad name {n!r}")
            return False
        if n in seen:
            errs.append(f"name {n!r} used twice")
            return False
        seen.add(n)
        return True

    wls = spec["workloads"]
    if not (isinstance(wls, list) and 2 <= len(wls) <= 8):
        errs.append("workloads must list 2-8 entries")
        wls = wls if isinstance(wls, list) else []
    for w in wls:
        if not isinstance(w, dict) or set(w) != {"name", "why"}:
            errs.append(f"workload {w!r} must have exactly name and why")
            continue
        name_ok(w["name"])
        if not (isinstance(w["why"], str) and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]):
            errs.append(f"workload {w['name']!r}: why must be one line of at most 200 characters")
    for section, lo, hi, fields in (
        ("end_to_end", 1, 16, {"name", "unit", "better", "bound"}),
        ("per_layer", 1, 128, {"name", "unit", "better"}),
    ):
        ms = spec[section]
        if not (isinstance(ms, list) and lo <= len(ms) <= hi):
            errs.append(f"{section} must list {lo}-{hi} metrics")
            ms = ms if isinstance(ms, list) else []
        for m in ms:
            if not isinstance(m, dict) or set(m) != fields:
                errs.append(f"{section} metric {m!r} must have exactly {sorted(fields)}")
                continue
            name_ok(m["name"])
            if not (isinstance(m["unit"], str) and UNIT_RE.fullmatch(m["unit"])):
                errs.append(f"metric {m['name']!r}: bad unit {m['unit']!r}")
            if m["better"] not in ("lower", "higher"):
                errs.append(f"metric {m['name']!r}: better must be lower or higher")
            if "bound" in fields:
                b = m["bound"]
                if not (isinstance(b, (int, float)) and not isinstance(b, bool) and 0 < b <= MAX_BOUND):
                    errs.append(f"metric {m['name']!r}: bound must be in (0, {MAX_BOUND}]")
    setup = [m for m in spec.get("end_to_end", []) if isinstance(m, dict) and m.get("name") == "setup_s"]
    if not setup or setup[0].get("unit") != "s" or setup[0].get("better") != "lower":
        errs.append("end_to_end must hold setup_s in s, lower is better")
    return errs


def load_spec(path: str = SPEC_PATH) -> dict:
    with open(path, encoding="utf-8") as fh:
        spec = json.load(fh)
    errs = validate_spec(spec)
    if errs:
        raise ValueError("invalid BENCHMARK.json: " + "; ".join(errs))
    return spec


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, wanted: float = 95, floor: float = 50) -> int | None:
    """The highest whole percentile ≤ ``wanted`` (and ≥ ``floor``) with
    at least :data:`TAIL_SAMPLES` of ``n`` samples beyond it; None when
    even ``floor`` lacks them."""
    for p in range(int(wanted), int(floor) - 1, -1):
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            return p
    return None


def tail(values: list[float]) -> tuple[int | None, float]:
    """(percentile, value) at :func:`tail_percentile` of ``values``; (None,
    0.0) when there are too few samples for any."""
    p = tail_percentile(len(values))
    return (p, percentile(values, p)) if p is not None else (None, 0.0)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tally:
    """Pass/fail count of the workload's operations; every operation is
    checked against an independent answer before it counts as passed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {detail}" if detail else what)
        return ok

    def result(self, metrics: dict[str, tuple[float, str]]) -> dict:
        return {
            "correct": self.attempted > 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
