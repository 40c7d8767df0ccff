"""Run the oracle + strict-dtype sweeps over EVERY registered query and
write CORRECTNESS_FULL_r{N}.json — the reproducible record behind the
"all queries pass" claim.

Usage: python tools/full_sweep.py <round-number>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> int:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())

    def run(tool: list[str], timeout: int = 1500, retries: int = 1) -> str:
        """Run a checker with file-backed stdout and a hard timeout.

        pyspark's toPandas result socket can flakily deadlock the whole
        child (JVM parked in SocketAuthServer.getResult while Python
        waits on its end — observed twice under long sweeps); a pipe
        also hides which query hung. Stream stdout to a temp file so a
        partial run is inspectable, kill on timeout, retry once."""
        import tempfile

        for attempt in range(retries + 1):
            with tempfile.NamedTemporaryFile(
                "w+", suffix=".log", delete=False
            ) as f:
                try:
                    subprocess.run(
                        tool,
                        cwd=HERE,
                        stdout=f,
                        stderr=subprocess.DEVNULL,
                        text=True,
                        timeout=timeout,
                    )
                except subprocess.TimeoutExpired:
                    f.flush()
                    tail = open(f.name).read().splitlines()[-3:]
                    print(
                        f"[full_sweep] {tool[1]} timed out "
                        f"(attempt {attempt + 1}); last lines: {tail}",
                        file=sys.stderr,
                    )
                    continue
                return open(f.name).read()
        return open(f.name).read()

    # chunked execution: a fresh checker subprocess (fresh Spark
    # session) per ~24 queries, so the flaky post-streaming socket
    # deadlock costs one chunk's timeout + retry instead of the whole
    # phase. Chunk JVM startup adds ~15 s x n_chunks — cheap insurance.
    CHUNK = 24

    def chunks():
        for i in range(0, len(names), CHUNK):
            yield names[i : i + CHUNK]

    oracle_pass: set = set()
    for part in chunks():
        out = run(
            [sys.executable, "tools/check_correctness.py", *part],
            timeout=600,
        )
        oracle_pass |= {
            line.split()[1].rstrip(":")
            for line in out.splitlines()
            if line.startswith(("PASS", "OK?"))
        }
        print(f"[full_sweep] oracle {len(oracle_pass)}/{len(names)}")
    strict_pass: set = set()
    for part in chunks():
        out = run(
            [sys.executable, "tools/check_types_strict.py", *part],
            timeout=600,
        )
        strict_pass |= {
            line.split(":")[0]
            for line in out.splitlines()
            if line.strip().endswith("PASS")
        }
        print(f"[full_sweep] strict {len(strict_pass)}/{len(names)}")

    queries = {
        n: {"oracle": n in oracle_pass, "strict": n in strict_pass}
        for n in names
    }
    fails = [n for n, v in queries.items() if not (v["oracle"] and v["strict"])]
    artifact = {
        "round": rnd,
        "sf": 0.01,
        "tools": [
            "tools/check_correctness.py (value oracle, normalized)",
            "tools/check_types_strict.py (driver-grade raw dtypes + exact values)",
        ],
        "total_queries": len(names),
        "pass_both": len(names) - len(fails),
        "fail": fails,
        "queries": queries,
    }
    path = os.path.join(HERE, f"CORRECTNESS_FULL_r{rnd:02d}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"wrote {path}: {artifact['pass_both']}/{len(names)} pass, fails={fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
