"""Arithmetic of the benchmark's figures: medians, the tail rule, the
per-pass end-to-end metrics and the per-layer sums of a traced run."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

#: the tail is the highest percentile with at least this many samples above it
TAIL_MIN_ABOVE = 10


@dataclass
class PassRecord:
    index: int
    traced: bool
    wall_s: float
    cpu_s: float
    #: (script name, seconds) in submission order
    scripts: list[tuple[str, float]]
    ext_cpus: float
    hot: bool
    #: summed per-script layer metrics (traced passes only)
    layers: dict = field(default_factory=dict)


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has
    TAIL_MIN_ABOVE samples above it.  With too few samples for that,
    the maximum, at percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= TAIL_MIN_ABOVE:
        return s[-1], 100.0
    k = n - TAIL_MIN_ABOVE - 1  # s[k] has exactly TAIL_MIN_ABOVE samples above it
    return s[k], 100.0 * (k + 1) / n


def end_to_end(passes: list[PassRecord], setups: list[float], peak_rss_mb: float) -> dict:
    timed = [p for p in passes if not p.traced]
    latencies = [t for p in timed for _, t in p.scripts]
    tail_value, tail_pct = tail(latencies)
    return {
        "setup_s": statistics.median(setups),
        "pass_s": statistics.median(p.wall_s for p in timed),
        "script_p50_s": statistics.median(latencies),
        "script_tail_s": tail_value,
        "cpu_s": statistics.median(p.cpu_s for p in timed),
        "peak_rss_mb": peak_rss_mb,
        # not metrics: recorded beside them
        "_script_tail_pct": tail_pct,
        "_script_samples": len(latencies),
    }


def per_layer(passes: list[PassRecord]) -> dict:
    """Per-pass means of the traced passes' layer sums, plus the rule
    effectiveness ratio and the tracing overhead."""
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    totals: dict[str, float] = {}
    for p in traced:
        for k, v in p.layers.items():
            totals[k] = totals.get(k, 0) + v
    out = {k: v / len(traced) for k, v in totals.items()}
    runs = totals.get("catalyst.rule_runs", 0)
    out["catalyst.rule_effective_ratio"] = (
        totals.get("catalyst.rule_effective", 0) / runs if runs else 0.0)
    out.pop("catalyst.rule_effective", None)
    out["trace.pass_s"] = statistics.median(p.wall_s for p in traced)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(p.wall_s for p in plain)
    return out


def metrics_block(declared: list[dict], values: dict) -> dict:
    """The result's `metrics` object: every declared metric with its
    declared unit.  A declared per-ET time that no ET of this workload
    produced is 0; any other missing metric is an error."""
    out = {}
    for m in declared:
        name = m["name"]
        if name not in values and not name.startswith("operators.et_s."):
            raise KeyError(f"metric {name} was not measured")
        out[name] = {"value": values.get(name, 0.0), "unit": m["unit"]}
    return out
