"""Compare two sets of run records (perfbench/results/*.json) of one workload.

    python3 perfbench/compare.py --base A1.json A2.json ... --new B1.json B2.json ...

For each end-to-end metric: the median of each set, the base set's spread
(quartile distance over median) and whether the new median is worse than
the base median by more than the metric's bound in BENCHMARK.json. For each
operation: the median over runs of its warm median, flagged when the new
one exceeds the base one by more than OP_TOLERANCE or three times the base
spread, whichever is larger. Exit status 1 when anything is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

OP_TOLERANCE = 0.25


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def compare_sets(base: list[dict], new: list[dict], e2e: list[dict]) -> dict:
    """``base``/``new``: run records; ``e2e``: BENCHMARK.json's end_to_end."""
    out = {"metrics": {}, "ops": {}, "flagged": []}
    for m in e2e:
        name = m["name"]
        b = [r["end_to_end"][name] for r in base]
        n = [r["end_to_end"][name] for r in new]
        bm, nm = statistics.median(b), statistics.median(n)
        worse = (nm - bm) / bm if m["better"] == "lower" else (bm - nm) / bm
        out["metrics"][name] = {"base": bm, "new": nm, "worse_by": worse,
                                "base_spread": _spread(b), "bound": m["bound"]}
        if worse > m["bound"]:
            out["flagged"].append(name)
    ops = set.intersection(*(set(r["summary"]["ops"]) for r in base + new))
    for op in sorted(ops):
        b = [r["summary"]["ops"][op]["warm_median_s"] for r in base]
        n = [r["summary"]["ops"][op]["warm_median_s"] for r in new]
        if None in b or None in n:
            continue
        bm, nm = statistics.median(b), statistics.median(n)
        tol = max(OP_TOLERANCE, 3 * _spread(b))
        out["ops"][op] = {"base_s": bm, "new_s": nm, "ratio": nm / bm, "tolerance": tol}
        if nm > bm * (1 + tol):
            out["flagged"].append(op)
    return out


def _load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    e2e = _load(os.path.join(root, "BENCHMARK.json"))["end_to_end"]
    rep = compare_sets([_load(p) for p in args.base], [_load(p) for p in args.new], e2e)
    print(json.dumps(rep, indent=1))
    return 1 if rep["flagged"] else 0


if __name__ == "__main__":
    sys.exit(main())
