#!/usr/bin/env python3
"""Compare two benchmark artifacts (or two directories of them).

    python3 perfbench/compare.py OLD NEW

OLD and NEW are artifact files written by ``run.py`` under
``.perfbench/artifacts/``, or directories of them.  For each workload
found on both sides, prints every end-to-end and per-layer metric with
the median of each side and the relative change.  Comparing an untraced
run with a traced run of the same workload and seed gives the tracing
overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def _load(path: str) -> dict[str, list[dict]]:
    files = ([path] if os.path.isfile(path)
             else sorted(glob.glob(os.path.join(path, "*-t[01].json"))))
    out = defaultdict(list)
    for f in files:
        with open(f) as fh:
            a = json.load(fh)
        out[a["workload"]].append(a)
    return out


def _medians(arts: list[dict], section: str) -> dict[str, float]:
    vals = defaultdict(list)
    for a in arts:
        for k, v in (a.get(section) or {}).items():
            if isinstance(v, (int, float)):
                vals[k].append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = _load(argv[1]), _load(argv[2])
    for wl in sorted(set(old) & set(new)):
        print(f"== {wl}  ({len(old[wl])} vs {len(new[wl])} runs)")
        for section in ("end_to_end", "per_layer"):
            a, b = _medians(old[wl], section), _medians(new[wl], section)
            for k in sorted(set(a) & set(b)):
                rel = (b[k] / a[k] - 1) * 100 if a[k] else float("nan")
                print(f"  {section[:3]} {k:48s} {a[k]:14.4f} {b[k]:14.4f} {rel:+8.1f}%")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
