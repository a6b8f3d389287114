"""Compare the untraced results of two sets of benchmark runs.

Usage: python3 perfbench/compare.py BASE_RESULTS_DIR NEW_RESULTS_DIR

Each directory holds the per-run records that ``perfbench/run.py``
writes to ``.perfbench_work/results/``. For every workload and
end-to-end metric it prints both medians, the change, and each side's
spread (quartile distance over the median). It refuses to compare, and
exits with 2, when the two sides ran on different inputs: the same
workload and seed with different fixture fingerprints, or, for a
workload whose input does not depend on the seed, any two different
fingerprints.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def load(results_dir: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    for name in sorted(os.listdir(results_dir)):
        if name.endswith(".json"):
            with open(os.path.join(results_dir, name)) as f:
                rec = json.load(f)
            if not rec["trace"]:
                runs.setdefault(rec["workload"], []).append(rec)
    return runs


def input_mismatch(a: list[dict], b: list[dict]) -> str:
    """Why the two sides' inputs differ, or '' when they match."""
    fp_a = {r["seed"]: r["fingerprint"]["id"] for r in a}
    fp_b = {r["seed"]: r["fingerprint"]["id"] for r in b}
    for seed in fp_a.keys() & fp_b.keys():
        if fp_a[seed] != fp_b[seed]:
            return f"seed {seed}: fingerprint {fp_a[seed]} != {fp_b[seed]}"
    ids_a, ids_b = set(fp_a.values()), set(fp_b.values())
    if len(ids_a) == 1 and len(ids_b) == 1 and ids_a != ids_b:
        return f"fingerprint {ids_a.pop()} != {ids_b.pop()}"
    return ""


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    refused = False
    for workload in sorted(base.keys() & new.keys()):
        a, b = base[workload], new[workload]
        why = input_mismatch(a, b)
        if why:
            print(f"{workload}: REFUSED, inputs differ ({why})")
            refused = True
            continue
        print(f"{workload}: {len(a)} base runs, {len(b)} new runs")
        for metric in a[0]["metrics"]:
            va = [r["metrics"][metric]["value"] for r in a]
            vb = [r["metrics"][metric]["value"] for r in b]
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if ma else 0.0
            print(
                f"  {metric:22s} {ma:14.4f} -> {mb:14.4f} "
                f"{a[0]['metrics'][metric]['unit']:7s} {change:+7.1%}  "
                f"spread {spread(va):.3f} / {spread(vb):.3f}"
            )
    return 2 if refused else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
