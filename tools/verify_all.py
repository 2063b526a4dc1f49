"""One-command verification runner — runs every repo gate in order and
stops at the first failure:

  1. full oracle gate at sf0.01 (DuckDB value-hash check, all queries)
  2. full oracle gate at sf0.1
  3. bare-session driver simulation (tools/driver_sim.py)
  4. full pytest suite
  5. physical-plan audit (tools/plan_audit.py — regenerates PLANS.md)
  6. bench at $SPARK_GRAFT_SF_DIR (prints one JSON line, writes no file)

Usage: python tools/verify_all.py [--quick]
--quick runs only steps 1 and 3 (the cheap pre-commit gate).

Test-data roots for steps 1-2 default to /root/testdata/sf* and can be
overridden with $SPARK_GRAFT_SF001_DIR / $SPARK_GRAFT_SF01_DIR.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF001 = os.environ.get("SPARK_GRAFT_SF001_DIR", "/root/testdata/sf0.01")
SF01 = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")

STEPS = [
    ("oracle sf0.01", [sys.executable, "tools/oracle_check.py", SF001]),
    ("oracle sf0.1", [sys.executable, "tools/oracle_check.py", SF01]),
    ("driver_sim", [sys.executable, "tools/driver_sim.py"]),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("plan_audit", [sys.executable, "tools/plan_audit.py"]),
    ("bench", [sys.executable, "bench.py"]),
]
QUICK = {"oracle sf0.01", "driver_sim"}


def main() -> int:
    quick = "--quick" in sys.argv
    for name, cmd in STEPS:
        if quick and name not in QUICK:
            continue
        t0 = time.perf_counter()
        print(f"== {name}: {' '.join(cmd)}", flush=True)
        r = subprocess.run(cmd, cwd=REPO)
        dt = time.perf_counter() - t0
        if r.returncode != 0:
            print(f"== {name} FAILED ({dt:.0f}s)", flush=True)
            return r.returncode
        print(f"== {name} ok ({dt:.0f}s)", flush=True)
    print("== ALL STEPS OK", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
