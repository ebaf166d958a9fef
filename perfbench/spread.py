"""Median and quartile spread of benchmark results, one row per metric.

    python3 perfbench/spread.py results.jsonl [more.jsonl ...]

Each input line is a result line printed by perfbench/run.py (other
lines are skipped). The spread is (Q3 - Q1) / median, with the quartiles
of statistics.quantiles(values, n=4) -- the figure BENCHMARK.json's
bounds are compared against.
"""

from __future__ import annotations

import json
import statistics
import sys


def spreads(results: list[dict]) -> dict[str, dict]:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for r in results:
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(float(m["value"]))
            units[name] = m["unit"]
    out = {}
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], None, xs[0])
        out[name] = {
            "n": len(xs), "median": med, "q1": q1, "q3": q3, "unit": units[name],
            "spread": (q3 - q1) / med if med else 0.0,
        }
    return out


def main() -> int:
    results = []
    for path in sys.argv[1:]:
        with open(path) as fh:
            for line in fh:
                if line.startswith('{"correct"'):
                    results.append(json.loads(line))
    if not results:
        print("no result lines found", file=sys.stderr)
        return 1
    failed = sum(r["failed"] for r in results)
    print(f"{len(results)} runs, {failed} failed, all correct: {all(r['correct'] for r in results)}")
    for name, s in spreads(results).items():
        print(f"{name:40s} n={s['n']:2d} median={s['median']:.4g} {s['unit']:6s} "
              f"q1={s['q1']:.4g} q3={s['q3']:.4g} spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
