"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

1. The result checker rejects a table with one changed cell and a table
   with one dropped row.
2. At sf0.01, two traced runs of each workload give identical jobs,
   stages and tasks for every op, layer by layer: the Spark counters the
   per-layer metrics rest on are deterministic.

Exits 1 if either fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import check  # noqa: E402
from perfbench.run import WORKLOAD_NAMES  # noqa: E402

SEED = 7
SECONDS = 2


def traced_counts(workload: str) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", "1", "--scale", "0.01"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload}: traced run exited {proc.returncode}")
    record = ROOT / "perfbench" / ".work" / "runs" / f"{workload}-seed{SEED}-trace1.json"
    return json.loads(record.read_text())["per_op_counts"]


def main(argv: list[str]) -> int:
    check.self_test()
    print("checker: rejects a changed cell and a dropped row")
    failed = False
    for w in argv or WORKLOAD_NAMES:
        first, second = traced_counts(w), traced_counts(w)
        same = first == second
        failed |= not same
        print(f"{w}: {len(first)} traced ops, jobs/stages/tasks per op and layer "
              f"{'identical' if same else 'DIFFER'} across two runs")
        if not same:
            for op in sorted(set(first) | set(second)):
                if first.get(op) != second.get(op):
                    print(f"  {op}: {first.get(op)} != {second.get(op)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
