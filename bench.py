"""Benchmark harness: time every declared query at a given scale factor.

Usage (matches the driver contract):
    python bench.py                       # sf dir from $SPARK_GRAFT_SF_DIR
                                          # (default /root/testdata/sf0.1),
                                          # local[$SPARK_GRAFT_CPUS]
    python bench.py --out FILE [--force]  # pick the durable-copy name
                                          # (default: BENCH_FULL_r{N}.json,
                                          # N = current round inferred from
                                          # CORRECTNESS_r*.json; an existing
                                          # file is never overwritten without
                                          # --force — the run diverts to a
                                          # unique suffixed name. Every run
                                          # also appends to
                                          # BENCH_HISTORY.jsonl, append-only)

Prints exactly ONE JSON line on stdout:
    {"metric": "total_query_sec", "value": <sum of per-query medians>,
     "unit": "sec", "queries": {"<name>": <median sec>, ...}, "sf": 0.1,
     "cpus": N, "reps": R}

Method: warm SparkSession (one untimed warmup pass of the flagship), then
each registered query runs REPS times (default 3) and reports the median.
Execution is forced JVM-side via the noop sink — full plan runs, nothing is
collected to Python, so the numbers measure the engine, not row transfer.
All diagnostics go to stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> None:
    """Execute the full plan without moving rows to Python."""
    df.write.format("noop").mode("overwrite").save()


# Queries dominated by a single-table scan+agg, re-benched against a
# properly split (multi-file) copy of their input to show what the plan does
# when parallelism is not capped by the fixtures' single row group
# (BASELINE.md "Known measurement ceiling").
_SPLIT_QUERIES = (
    "q_agg_groupby",
    "q_agg_global",
    "q_scan_parquet",
    "q_text_tokens",
    "q_text_quality",
    "q_dedup_exact",
)


def _make_split_dir(spark, sf_dir: str) -> str:
    """One-time repartition(32) copies of the big tables (lineitem,
    documents); every other table is symlinked unchanged."""
    from json_parquet_convertor_spark.sources.io import (
        TABLES,
        load_table,
        run_tmp,
    )

    split = run_tmp("bench_split")
    os.makedirs(split, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(split, f"{t}.parquet")
        if t in ("lineitem", "documents"):
            load_table(spark, sf_dir, t).repartition(32).write.mode(
                "overwrite"
            ).parquet(dst)
        elif not os.path.lexists(dst):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)
    return split


def _current_round(here: str) -> int:
    """Repo marker for the in-progress round: the driver writes
    CORRECTNESS_r{N}.json at the END of round N, so the highest one on
    disk + 1 is the round currently being built."""
    import glob
    import re

    rounds = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", f))
    ]
    return (max(rounds) + 1) if rounds else 1


def _canary(spark, sf_dir: str, reps: int) -> float:
    """Fixed host-state probe: median time of the flagship scan+agg.

    The five recorded r1-r5 full runs differ 163.7-198.3 s purely by host
    state (warm JVMs, concurrent judges), uniformly across untouched
    queries. Timing the SAME query at run start and run end turns that
    folklore band into a measurement: quote totals deflated by
    (canary_ref / measured canary) per BASELINE.md methodology."""
    from json_parquet_convertor_spark import registry

    samples = []
    for _ in range(max(reps, 3)):
        t0 = time.perf_counter()
        _force(registry.QUERIES["q_agg_groupby"](spark, sf_dir))
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 4)


def main() -> int:
    # --out PATH redirects the durable JSON copy (default: round-stamped
    # BENCH_FULL_r{N}.json, never clobbering an existing file without
    # --force); every run ALSO appends to BENCH_HISTORY.jsonl so concurrent
    # builder/driver/judge runs never destroy each other's records
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--force", action="store_true",
        help="allow overwriting an existing default-named durable copy",
    )
    args = ap.parse_args()
    out_path = args.out
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    from json_parquet_convertor_spark import registry
    from json_parquet_convertor_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="jpc-bench", cpus=cpus)

    # warmup: spin up executors, JIT the scan/agg path
    _force(registry.QUERIES["q_agg_groupby"](spark, sf_dir))

    loadavg_start = list(os.getloadavg())
    canary_start = _canary(spark, sf_dir, reps)
    print(f"canary@start: {canary_start}s load={loadavg_start}",
          file=sys.stderr)

    timings: dict[str, float] = {}
    for name in sorted(registry.QUERIES):
        fn = registry.QUERIES[name]
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                _force(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                print(f"BENCH ERROR {name}: {exc!r}", file=sys.stderr)
                samples = []
                break
            samples.append(time.perf_counter() - t0)
        if samples:
            timings[name] = round(statistics.median(samples), 4)
            print(f"{name}: {timings[name]}s (reps={samples})", file=sys.stderr)
        # queries that cache intermediates (LSH signatures) must not carry
        # their cache into other queries' measurements
        spark.catalog.clearCache()

    # split-input variant: same queries, multi-file inputs — parallelism no
    # longer capped at one task by the single-row-group fixtures. NOT part
    # of `value` (the 2x gate compares like-for-like against BASELINE).
    split_timings: dict[str, float] = {}
    try:
        split_dir = _make_split_dir(spark, sf_dir)
        for name in _SPLIT_QUERIES:
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                _force(registry.QUERIES[name](spark, split_dir))
                samples.append(time.perf_counter() - t0)
            split_timings[name] = round(statistics.median(samples), 4)
            print(f"{name}@split: {split_timings[name]}s", file=sys.stderr)
            spark.catalog.clearCache()
    except Exception as exc:  # noqa: BLE001
        print(f"BENCH ERROR split variant: {exc!r}", file=sys.stderr)

    canary_end = _canary(spark, sf_dir, reps)
    loadavg_end = list(os.getloadavg())
    print(f"canary@end: {canary_end}s load={loadavg_end}", file=sys.stderr)

    sf = None
    tail = os.path.basename(sf_dir.rstrip("/"))
    if tail.startswith("sf"):
        try:
            sf = float(tail[2:])
        except ValueError:
            sf = None

    by_cost_desc = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    )
    out = {
        "metric": "total_query_sec",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        # descending by cost so a stdout-tail truncation only ever loses the
        # cheapest entries (BENCH_r02 lost the 17 alphabetically-first ones)
        "queries": by_cost_desc,
        "queries_split_input": split_timings,
        "sf": sf,
        "cpus": cpus,
        "reps": reps,
        # host-state canary (BASELINE.md "Bench methodology"): fixed query
        # timed before and after the sweep + 1/5/15-min loadavg; readers
        # deflate totals by (canary_ref / mean canary) to compare runs
        # taken under different host load
        "canary_query": "q_agg_groupby",
        "canary_start_sec": canary_start,
        "canary_end_sec": canary_end,
        # the deflation applied FOR the reader (r10 lesson: the driver's
        # raw 175.4 s vs 153.4 s looked like a 14% regression until manual
        # canary arithmetic showed pure host load): total scaled by
        # canary_ref / mean(canary_start, canary_end), canary_ref = 1.30 s
        # from the r6 idle reference (BASELINE.md "Bench methodology")
        "canary_ref_sec": 1.30,
        "value_deflated": round(
            sum(timings.values())
            * 1.30 / ((canary_start + canary_end) / 2),
            4,
        ) if (canary_start + canary_end) > 0 else None,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        # repeated at the END of the line: the driver's stdout capture has
        # historically truncated the HEAD of long lines, destroying the
        # totals above — a tail-surviving copy keeps the headline readable
        "value_tail_copy": round(sum(timings.values()), 4),
        "n_queries": len(timings),
    }
    line = json.dumps(out)
    # the durable copy: BENCH_r0N stdout captures have been truncated mid-
    # JSON three rounds running, so always persist the full parseable JSON
    # beside the repo for the judge. `--out` picks the filename (latest-run
    # copy, overwritten); the history file is append-only so every run —
    # builder, driver, judge — survives in order with a wall-clock stamp.
    here = os.path.dirname(os.path.abspath(__file__))
    explicit_out = out_path is not None
    if not explicit_out:
        out_path = os.path.join(
            here, f"BENCH_FULL_r{_current_round(here):02d}.json"
        )
    # an EXPLICIT --out honors the caller verbatim (the driver depends on
    # its chosen filename); only the default name is clobber-protected
    if not explicit_out and os.path.exists(out_path) and not args.force:
        # never silently clobber a committed artifact (it happened to
        # BENCH_FULL.json three rounds running): divert to a unique name
        base = out_path
        n = 1
        while os.path.exists(out_path):
            out_path = f"{base}.{n}"
            n += 1
        print(
            f"BENCH WARN {base} exists; writing {out_path} instead "
            "(pass --force to overwrite)",
            file=sys.stderr,
        )
    try:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
        stamped = dict(out)
        stamped["wall_clock_utc"] = time.strftime(
            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
        )
        with open(os.path.join(here, "BENCH_HISTORY.jsonl"), "a") as fh:
            fh.write(json.dumps(stamped) + "\n")
    except OSError as exc:
        print(f"BENCH WARN could not persist bench artifact: {exc}",
              file=sys.stderr)
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
