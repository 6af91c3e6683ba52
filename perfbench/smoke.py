"""Toy-size smoke of every workload, untraced and traced.

    python3 perfbench/smoke.py

Runs perfbench/run.py with --toy on each workload in both modes and checks
the result line: exactly the keys correct/attempted/failed/metrics, a correct
run, and metric names and units that BENCHMARK.json lists (every end-to-end
metric untraced, every per-layer metric traced).  Exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    listed = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=600)
            tag = f"{workload} --trace {trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} "
                                f"attempted={result['attempted']} failed={result['failed']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != listed[trace]:
                extra = sorted(set(got) - set(listed[trace]))
                missing = sorted(set(listed[trace]) - set(got))
                units = sorted(k for k in set(got) & set(listed[trace])
                               if got[k] != listed[trace][k])
                problems.append(f"{tag}: not in BENCHMARK.json {extra}, "
                                f"not printed {missing}, unit differs {units}")
            print(f"ok {tag}" if not problems or not problems[-1].startswith(tag)
                  else f"FAIL {tag}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
