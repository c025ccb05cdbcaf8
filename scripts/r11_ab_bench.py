"""r11 no-regression artifact (VERDICT r10 item 1): interleaved bench.py
A/B between HEAD (/root/repo) and the r9 grading commit 2aeff08
(worktree /root/wt_r9), driver methodology — bench.py itself, count()
action, cold JVM per run — N pairs in one host window so both arms see
the same host weather.

Usage: python scripts/r11_ab_bench.py [pairs] [outdir]
Writes <outdir>/head_<i>.json and <outdir>/r9_<i>.json (the raw one-line
bench payloads) plus a summary table to stdout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

PAIRS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
OUTDIR = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/plans/r11/ab"
ARMS = {"head": "/root/repo", "r9": "/root/wt_r9"}
ENV = dict(
    os.environ,
    SPARK_GRAFT_SF_DIR=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
)

os.makedirs(OUTDIR, exist_ok=True)
results: dict[str, list[dict]] = {"head": [], "r9": []}
for i in range(PAIRS):
    for arm, cwd in ARMS.items():
        out = os.path.join(OUTDIR, f"{arm}_{i}.json")
        with open(out, "w") as fh:
            rc = subprocess.run(
                [sys.executable, "bench.py"], cwd=cwd, env=ENV,
                stdout=fh, stderr=subprocess.DEVNULL,
            ).returncode
        if rc != 0:
            # a failed arm leaves an empty or partial payload: skip it
            print(f"pair {i} {arm}: bench.py failed rc={rc}, skipped",
                  flush=True)
            continue
        with open(out) as fh:
            payload = json.loads(fh.read().strip().splitlines()[-1])
        results[arm].append(payload)
        print(f"pair {i} {arm}: total={payload['value']}s rc={rc}", flush=True)

if not results["head"] or not results["r9"]:
    sys.exit("no successful run in one arm: nothing to compare")

# per-query min-of-pairs comparison (min = least host noise per arm)
names = list(results["head"][0]["queries"].keys())
print(f"\n{'query':<32} {'r9_min':>8} {'head_min':>8} {'head/r9':>8}")
tot_h = tot_r = 0.0
for q in names:
    h = min((r["queries"].get(q) for r in results["head"]
             if r["queries"].get(q) is not None), default=None)
    r9 = min((r["queries"].get(q) for r in results["r9"]
              if r["queries"].get(q) is not None), default=None)
    if h is None or r9 is None:
        print(f"{q:<32} {'-':>8} {'-':>8}  (failed in every run of an arm)")
        continue
    tot_h += h
    tot_r += r9
    print(f"{q:<32} {r9:>8.3f} {h:>8.3f} {h / r9 if r9 else 0:>8.2f}")
print(f"{'TOTAL(min-of-arms)':<32} {tot_r:>8.3f} {tot_h:>8.3f} {tot_h / tot_r:>8.2f}")
