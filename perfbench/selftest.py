"""Self-test of the benchmark at tiny scale (sf0.001 tables, 20 person
files, one timed pass per run).

    python3 perfbench/selftest.py

For every workload it runs the benchmark untraced and traced, and checks:

- the result line has exactly the contract's keys, and every metric named
  in BENCHMARK.json for that mode is emitted, with its declared unit;
- no call failed (the failed ratio is 0) and the outputs are correct;
- in the traced run, the layer spans (operators.build + plan.executed_plan
  + exec.run + convert.*) plus the collector's reads and the per-call
  cache clear account for the traced pass wall time.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

SEED = 1
#: the accounted share of the traced pass wall time must fall in this band
ACCOUNTED = (0.95, 1.02)


def run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {out.returncode}:\n"
                           f"{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for workload in workloads.MIXES:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            tag = f"{workload} trace={trace}"
            before = len(problems)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ from "
                                f"BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
            if trace:
                path = os.path.join(ROOT, ".perfbench", f"trace-{workload}-s{SEED}.json")
                with open(path) as fh:
                    layer = json.load(fh)["per_layer"]
                share = layer["trace.accounted_share"]
                print(f"{workload}: traced pass {layer['trace.wall_s']:.3f}s, "
                      f"accounted {share:.3f}, overhead "
                      f"{layer['trace.overhead_s']:+.3f}s", flush=True)
                if not ACCOUNTED[0] <= share <= ACCOUNTED[1]:
                    problems.append(f"{tag}: spans account for {share:.3f} "
                                    "of the traced pass")
            print(f"{tag}: {'ok' if len(problems) == before else 'FAIL'}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
