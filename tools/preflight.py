"""One-command release preflight: the exact verification chain every
round's close-out claim comes from, in the order the claims are made.

1. full pytest (unit/property/plan-guard/e2e suites);
2. full DuckDB-oracle harness at sf0.01 — the driver's correctness
   gate scale, every registry query;
3. determinism audit at sf0.1 — two same-session runs of every query,
   value-hash compared;
4. the benchmark's own tests (``perfbench/tests``), in a process of
   their own: one of them stops the shared SparkSession;
5. the declared benchmark (BENCHMARK.json): one untraced
   ``perfbench/run.py`` run of each workload, ``pipeline_csv`` and
   ``headliners_cold`` (``--seed 1 --seconds 16 --trace 0``).

Any step failing stops the chain (the later claims would be
meaningless). Total ~25 min on the 32-core box.

Usage: python -m tools.preflight [--skip-determinism]
"""

from __future__ import annotations

import subprocess
import sys
import time
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent


def _run(label: str, cmd: list[str]) -> None:
    t0 = time.time()
    print(f"=== {label} ===", flush=True)
    proc = subprocess.run(cmd, cwd=REPO_ROOT)
    dt = time.time() - t0
    if proc.returncode != 0:
        print(f"PREFLIGHT FAILED at {label} ({dt:.0f}s)", flush=True)
        sys.exit(proc.returncode)
    print(f"--- {label} ok ({dt:.0f}s)", flush=True)


def main() -> int:
    py = sys.executable
    _run("pytest", [py, "-m", "pytest", "tests/", "-q"])
    _run(
        "oracle sf0.01",
        [py, "-m", "tests.oracle_harness", "--sf", "/root/testdata/sf0.01"],
    )
    if "--skip-determinism" not in sys.argv:
        _run(
            "determinism sf0.1",
            [py, "-m", "tools.determinism_audit", "--sf", "/root/testdata/sf0.1"],
        )
    _run("perfbench tests", [py, "-m", "pytest", "perfbench/tests", "-q"])
    for workload in ("pipeline_csv", "headliners_cold"):
        _run(
            f"perfbench {workload}",
            [
                py, "perfbench/run.py", "--workload", workload,
                "--seed", "1", "--seconds", "16", "--trace", "0",
            ],
        )
    print("PREFLIGHT GREEN", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
