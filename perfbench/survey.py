"""Survey every query of the workload families at benchmark scale, and
print the queries the selection rule picks for each family.

    python3 perfbench/survey.py [--seed 1]

Each query is called once warm and then three times traced; the median
call is reported with its layer times and execution counts. The rule that
picked the queries in ``workloads.MIXES``: sort a family by median latency
and take the query at position ``n // 2``, the family's median. Queries
whose inputs do not come from the seed are left out.

The table goes to stdout, and the whole record to
``.perfbench/survey-s<seed>.json``. A survey takes about five minutes on
4 vCPUs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

#: group -> families (the query-name prefix after ``q_``)
GROUPS = {
    "relational": ("agg", "join", "win", "sql", "composite"),
    "dedup": ("dedup", "pairs", "sim", "text", "embed", "graph", "knn", "bpe", "rank"),
    "stream": ("stream",),
    "sink": ("sink",),
}
#: these read the three embedded reference sample files whatever the seed
UNSEEDED = ("q_stream_convert", "q_convert_json_parquet")
CALLS = 3


def measure(runner, tracer, name: str) -> dict:
    from tracing import per_call

    runner.tracer = None
    runner.timed(name)
    tracer.calls.clear()
    tracer.spans.clear()
    runner.tracer = tracer
    tracer.start()
    try:
        for _ in range(CALLS):
            runner.timed(name)
    finally:
        tracer.stop()
        runner.tracer = None
    return per_call(tracer)[name]


def median_query(walls: dict[str, float]) -> str:
    ranked = sorted(walls, key=walls.get)
    return ranked[len(ranked) // 2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    import inputs
    import workloads
    from tracing import Tracer

    sf, n_files = run.SCALES["bench"]
    cpus = run.spark_cores()
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"survey-{os.getpid()}")
    run._environment(work, cpus)
    os.chdir(work)
    data = inputs.ensure(ROOT, args.seed, sf, n_files, cpus)
    spark, _ = run.cold_setup(os.path.join(data, "tables"), cpus)
    record: dict[str, dict] = {}
    try:
        from json_parquet_convertor_spark import registry

        runner = workloads.Runner(spark, data, work)
        tracer = Tracer(spark)
        for group, families in GROUPS.items():
            for name in sorted(registry.QUERIES):
                family = name.split("_")[1]
                if family not in families or name in UNSEEDED:
                    continue
                try:
                    rec = measure(runner, tracer, name)
                except Exception as exc:  # noqa: BLE001 - reported, survey goes on
                    rec = {"error": repr(exc)[:300]}
                record[name] = {"group": group, "family": family, **rec}
                run.log(f"{name}: {json.dumps(record[name])}")
    finally:
        run.stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(state, f"survey-s{args.seed}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    report(record)
    return 0


def report(record: dict[str, dict]) -> None:
    ok = {k: v for k, v in record.items() if "error" not in v}
    for k, v in record.items():
        if "error" in v:
            print(f"{k}: failed: {v['error']}")
    by_group, by_family = defaultdict(list), defaultdict(dict)
    for k, v in ok.items():
        by_group[v["group"]].append(v)
        by_family[(v["group"], v["family"])][k] = v["wall_s"]
    print("group       n  wall sum  geomean  build share  max jobs  max shuffle B  max spill B")
    for group, vs in by_group.items():
        walls = [v["wall_s"] for v in vs]
        build = sum(v.get("operators.build_s", 0.0) for v in vs)
        print(f"{group:10s} {len(vs):3d} {sum(walls):8.2f}s "
              f"{math.exp(statistics.fmean(map(math.log, walls))):7.3f}s "
              f"{build / sum(walls):11.2f} "
              f"{max(v.get('exec.jobs', 0) for v in vs):9.0f} "
              f"{max(v.get('exec.shuffle_write_bytes', 0) for v in vs):14.0f} "
              f"{max(v.get('exec.spill_bytes', 0) for v in vs):12.0f}")
    print("family                 n  median   pick")
    for (group, family), walls in by_family.items():
        q = median_query(walls)
        print(f"{group + '/' + family:20s} {len(walls):3d} "
              f"{statistics.median(walls.values()):6.3f}s  {q} {walls[q]:.3f}s")


if __name__ == "__main__":
    sys.exit(main())
