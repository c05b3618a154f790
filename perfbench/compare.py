"""Compare saved benchmark outputs.

    python3 perfbench/compare.py BASE.txt NEW.txt

Each file holds the standard output of one or more runs of
`perfbench/run.py`.  Prints, per workload and metric, the median over
each file's runs and their ratio.  Refuses (exit code 2) when the runs
do not share one script hash per workload: their figures measure
different scripts.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[tuple[dict, dict]]:
    """(report, result) pairs, one per run found in the file."""
    runs, report = [], None
    with open(path) as fh:
        for line in fh:
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "perfbench" in obj:
                report = obj["perfbench"]
            elif "metrics" in obj and report is not None:
                runs.append((report, obj))
                report = None
    return runs


def compare(base: list[tuple[dict, dict]], new: list[tuple[dict, dict]]) -> list[str]:
    hashes: dict[str, set[str]] = {}
    for report, _ in base + new:
        hashes.setdefault(report["workload"], set()).add(report["stamp"]["script_hash"])
    mixed = {w: sorted(h) for w, h in hashes.items() if len(h) > 1}
    if mixed:
        raise ValueError(f"runs with different script hashes: {mixed}")
    lines = []
    for workload in sorted(hashes):
        def medians(runs):
            values: dict[str, list[float]] = {}
            for report, result in runs:
                if report["workload"] == workload:
                    for name, m in result["metrics"].items():
                        values.setdefault(name, []).append(m["value"])
            return {k: statistics.median(v) for k, v in values.items()}
        b, n = medians(base), medians(new)
        for name in sorted(b.keys() & n.keys()):
            ratio = n[name] / b[name] if b[name] else float("nan")
            lines.append(f"{workload:12s} {name:36s} {b[name]:12.4f} {n[name]:12.4f} {ratio:7.3f}")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        lines = compare(load(argv[0]), load(argv[1]))
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print(f"{'workload':12s} {'metric':36s} {'base':>12s} {'new':>12s} {'new/base':>7s}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
