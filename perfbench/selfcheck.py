"""Repeatability and tracing-overhead check for the benchmark.

    python3 perfbench/selfcheck.py [--seeds 1 2] [workload ...]

Run from the repository root. Per workload it makes four runs of
``run.py``: traced with seed A twice, traced with seed B once, untraced
with seed A once. It fails (exit 1) unless

- every run is correct with zero failed operations;
- the two seed-A traced runs give identical per-layer ``jobs``,
  ``stages``, ``tasks`` and ``out_rows`` and identical written and
  on-disk bytes;
- the seed-B traced run attempts the same number of operations.

It prints the ``spark.*`` remainder (jobs no wrapped call submitted)
and, side by side, the untraced run's end-to-end numbers and the traced
run's, whose ratio is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("jobs", "stages", "tasks", "out_rows")


def bench(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(result, diagnostics) of one ``run.py`` process."""
    proc = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", str(seed),
            "--seconds", "0", "--trace", str(trace),
        ],
        capture_output=True, text=True, check=False,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["diagnostics"]


def check_workload(workload: str, seed_a: int, seed_b: int) -> list[str]:
    a1, d1 = bench(workload, seed_a, 1)
    a2, d2 = bench(workload, seed_a, 1)
    b1, _ = bench(workload, seed_b, 1)
    u1, du1 = bench(workload, seed_a, 0)
    problems = []
    for name, r in (("traced A", a1), ("traced A again", a2), ("traced B", b1), ("untraced A", u1)):
        if not r["correct"] or r["failed"]:
            problems.append(f"{name}: {r['failed']} of {r['attempted']} operations failed")
    for key, m in a1["metrics"].items():
        if key.rsplit(".", 1)[-1] in EXACT and m["value"] != a2["metrics"][key]["value"]:
            problems.append(f"{key}: {m['value']} then {a2['metrics'][key]['value']} on seed {seed_a}")
    for key in ("written_bytes", "disk_bytes"):
        if d1[key] != d2[key]:
            problems.append(f"{key}: {d1[key]} then {d2[key]} on seed {seed_a}")
    if a1["attempted"] != b1["attempted"]:
        problems.append(f"operations: {a1['attempted']} on seed {seed_a}, {b1['attempted']} on seed {seed_b}")

    print(f"\n== {workload}")
    spark = {k: v["value"] for k, v in a1["metrics"].items() if k.startswith("spark.")}
    print("spark.* remainder:", json.dumps(spark))
    print(f"{'metric':<14}{'untraced':>12}{'traced':>12}{'traced/untraced':>18}")
    for k, v in du1["end_to_end"].items():
        t = d1["end_to_end"][k]
        print(f"{k:<14}{v:>12.4f}{t:>12.4f}{t / v:>18.3f}")
    print("steal share untraced/traced:", du1["host"]["steal_share"], d1["host"]["steal_share"])
    return problems


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--seeds", type=int, nargs=2, default=(1, 2))
    args = ap.parse_args()
    problems = []
    for w in args.workloads:
        problems += [f"{w}: {p}" for p in check_workload(w, *args.seeds)]
    for p in problems:
        print("FAIL", p)
    print("selfcheck:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
