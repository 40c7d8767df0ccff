"""Compare two sets of benchmark results, refusing mismatched hosts.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a result that ``run.py`` wrote under ``.perfbench/results``.
Results are comparable only when their host facts (cores, scale factor,
Spark, Java and Python versions, workload, trace flag and run length)
agree; seeds may differ. For each metric it prints both medians, their
ratio and each side's quartile spread.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402

#: host facts that may differ between compared results
FREE_FACTS = ("seed",)


def comparable(a: dict, b: dict) -> list[str]:
    """Host facts on which ``a`` and ``b`` differ (empty when they may
    be compared)."""
    keys = sorted((set(a) | set(b)) - set(FREE_FACTS))
    return [k for k in keys if a.get(k) != b.get(k)]


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1:])
    if not base or not new:
        print("need at least one result on each side", file=sys.stderr)
        return 2
    ref = base[0]["host"]
    for r in base + new:
        diff = comparable(ref, r["host"])
        if diff:
            print(f"refusing to compare: host facts differ on {diff}", file=sys.stderr)
            return 1
    for name in base[0]["metrics"]:
        b = [r["metrics"][name] for r in base]
        n = [r["metrics"][name] for r in new]
        mb, mn = median(b), median(n)
        spread = (lambda v: quartile_spread(v) if len(v) > 1 and statistics.median(v)
                  else float("nan"))
        ratio = mn / mb if mb else float("nan")
        print(f"{name:34s} base {mb:12.4f}  new {mn:12.4f}  new/base {ratio:7.3f}"
              f"  spread base {spread(b):6.3f} new {spread(n):6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
