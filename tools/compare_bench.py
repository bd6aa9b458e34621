"""Compare two bench JSON artifacts (same schema as bench.py's stdout line).

Usage::

    python -m tools.compare_bench baseline.json closing.json [--top N]

Prints total/geomean speedup over the common rows plus the biggest movers
in both directions.
"""

from __future__ import annotations

import argparse
import json
import math
import sys


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--top", type=int, default=20)
    args = ap.parse_args(argv)

    b = json.load(open(args.before))
    a = json.load(open(args.after))
    bq, aq = b["queries"], a["queries"]
    common = sorted(set(bq) & set(aq))
    if not common:
        sys.exit(f"no query rows in common between {args.before} "
                 f"and {args.after}")
    tb = sum(bq[q] for q in common)
    ta = sum(aq[q] for q in common)
    if not a["value"] or not ta:
        sys.exit(f"cannot compare: {args.after} has a zero total")
    ratios = {q: bq[q] / aq[q] for q in common if aq[q] > 0 and bq[q] > 0}
    geo = (math.exp(sum(math.log(r) for r in ratios.values()) / len(ratios))
           if ratios else float("nan"))
    print(f"totals (reported): {b['value']} -> {a['value']}  "
          f"({b['value'] / a['value']:.3f}x)")
    print(f"common rows: {len(common)}  sum {tb:.1f} -> {ta:.1f} "
          f"({tb / ta:.3f}x)  geomean {geo:.3f}x")
    imp = sum(1 for r in ratios.values() if r > 1.1)
    reg = sum(1 for r in ratios.values() if r < 0.9)
    print(f"improved(>1.1x): {imp}  regressed(<0.9x): {reg}  "
          f"flat: {len(ratios) - imp - reg}")
    ranked = sorted(ratios.items(), key=lambda kv: -kv[1])
    print("\nbiggest improvements:")
    for q, r in ranked[: args.top]:
        print(f"  {q:32s} {bq[q]:7.3f} -> {aq[q]:7.3f}  {r:.2f}x")
    print("\nbiggest regressions:")
    for q, r in ranked[-args.top:][::-1]:
        if r < 1.0:
            print(f"  {q:32s} {bq[q]:7.3f} -> {aq[q]:7.3f}  {r:.2f}x")


if __name__ == "__main__":
    main()
