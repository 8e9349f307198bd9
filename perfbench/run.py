"""Repository benchmark: seeded workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One cold process per run, Spark in
``local[nproc - 1]``, one caller issuing calls back to back (a closed
loop). A run:

1. builds (or reuses) the seeded inputs for ``--seed`` (never timed);
2. sets up once, cold: pyspark and package imports, ``session.get_spark``
   (JVM launch), ``registry.load_all`` and the first forced query. That
   is ``setup_s``, and the session serves the rest of the run;
3. runs the correctness gate once over the workload's mix (every query
   against its DuckDB oracle, conversions against the generator's
   expected rows);
4. times whole passes over the mix until ``--seconds`` have elapsed, at
   least ``MIN_PASSES`` of them. The gate's pass is the warm-up.

With ``--trace 0`` the result line carries the end-to-end metrics. With
``--trace 1`` the timed passes alternate untraced and traced; the line
carries the per-layer metrics and the tracing overhead (traced minus
untraced ``wall_s``), and the spans are written to
``.perfbench/trace-<workload>-s<seed>.json``.

The last stdout line is the JSON result; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "json_parquet_convertor_spark"
#: timed passes per run at least, so every call has a median
MIN_PASSES = 3
#: (scale factor of the fixture tables, number of person JSON files)
SCALES = {"bench": (0.01, 40), "tiny": (0.001, 20)}
SETUP_QUERY = "q_agg_groupby"


_T0 = time.perf_counter()


def log(*parts) -> None:
    """Diagnostics go to stderr, stamped with the seconds since start."""
    print(f"[{time.perf_counter() - _T0:6.1f}s]", *parts, file=sys.stderr, flush=True)


def _prerequisites() -> list[str]:
    need = [
        os.path.join(ROOT, PACKAGE, "registry.py"),
        os.path.join(ROOT, "scripts", "gen_fixtures.py"),
        os.path.join(ROOT, "tests", "oracle_utils.py"),
    ]
    return [p for p in need if not os.path.isfile(p)]


def spark_cores() -> int:
    """Spark's task slots: every vCPU but one, which is left to the Python
    caller and the JVM's JIT and GC threads. With every vCPU running
    tasks, run-to-run spread on 4 vCPUs was wider."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _environment(work: str, cpus: int) -> None:
    """Keep every byte the run writes inside the checkout, and let Python
    workers import the package whatever their working directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tests"), path) if p
    )
    import tempfile

    tempfile.tempdir = None
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


class RssSampler:
    """Peak resident memory of this process plus its JVM child, sampled
    in a background thread while ``active`` is set."""

    def __init__(self, jvm_pid: int | None) -> None:
        self.pids = [os.getpid()] + ([jvm_pid] if jvm_pid else [])
        self.peak_kb = 0
        self.active = threading.Event()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _loop(self) -> None:
        while not self._done.wait(0.05):
            if self.active.is_set():
                total = sum(self._rss_kb(p) for p in self.pids)
                self.peak_kb = max(self.peak_kb, total)

    def close(self) -> None:
        self._done.set()
        self._thread.join(timeout=5)


def _jvm_pid(spark) -> int | None:
    name = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    head = str(name).split("@")[0]
    return int(head) if head.isdigit() else None


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cold_setup(tables: str, cpus: int):
    """One set-up of a cold process: import the package (and with it
    pyspark), ``session.get_spark`` (JVM launch, session), ``registry.load_all``
    and the first forced query. Return (spark, timings)."""
    from workloads import force

    t0 = time.perf_counter()
    from json_parquet_convertor_spark import registry
    from json_parquet_convertor_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    force(registry.QUERIES[SETUP_QUERY](spark, tables))
    t3 = time.perf_counter()
    spark.catalog.clearCache()
    return spark, {
        "setup_s": t3 - t0,
        "session.get_spark_s": t1 - t0,
        "registry.load_all_s": t2 - t1,
        "setup.first_query_s": t3 - t2,
    }


def gate(runner, mix: list[str], tables: str, persons: dict) -> list[str]:
    """Check every call of the mix once; return the names that failed."""
    import duckdb
    from oracle_utils import register_duck_views

    from workloads import check

    duck = duckdb.connect()
    failed = []
    try:
        register_duck_views(duck, tables)
        for name in mix:
            try:
                ok, detail = check(runner, name, duck, persons)
            except Exception as exc:  # noqa: BLE001 - a failing call is a result
                ok, detail = False, f"raised {exc!r:.300}"
            log(f"gate {'ok  ' if ok else 'FAIL'} {name}: {detail[:200]}")
            if not ok:
                failed.append(name)
    finally:
        duck.close()
    return failed


def timed_passes(runner, mix: list[str], seconds: float, min_passes: int,
                 max_passes: int | None = None, tracer=None):
    """Whole passes over the mix until ``seconds`` elapsed, at least
    ``min_passes`` and at most ``max_passes`` of each kind. Without a
    tracer every pass is untraced. With one, passes alternate untraced and
    traced, so both kinds run at the same point of the JIT's warm-up curve.
    Returns ({kind: (pass walls, {call: [latencies]})}, failed calls,
    attempted calls)."""
    kinds = {"untraced": None}
    if tracer is not None:
        kinds["traced"] = tracer
    rec = {k: ([], {n: [] for n in mix}) for k in kinds}
    failed = attempted = 0
    start = time.perf_counter()
    while True:
        done = min(len(walls) for walls, _ in rec.values())
        if (done >= min_passes and time.perf_counter() - start >= seconds
                or max_passes is not None and done >= max_passes):
            break
        for kind, t in kinds.items():
            walls, lat = rec[kind]
            runner.tracer = t
            if t:
                t.start()
            t0 = time.perf_counter()
            for name in mix:
                attempted += 1
                try:
                    lat[name].append(runner.timed(name))
                except Exception as exc:  # noqa: BLE001 - counted, run continues
                    failed += 1
                    log(f"call FAIL {name}: {exc!r:.300}")
            walls.append(time.perf_counter() - t0)
            if t:
                t.stop()
    runner.tracer = None
    return rec, failed, attempted


def end_to_end(lat) -> dict[str, float]:
    """Per-call medians keep both metrics robust to a single slow call (a
    GC pause, a noisy neighbour). ``wall_s`` is one warm pass over the
    mix: the sum of each call's median latency."""
    medians = [statistics.median(v) for v in lat.values() if v]
    return {
        "wall_s": sum(medians),
        "query_geomean_s": math.exp(sum(math.log(m) for m in medians) / len(medians)),
    }


def per_layer(tracer, t_walls, traced_wall: float, untraced_wall: float,
              layers: dict, n_files: int) -> tuple[dict, dict]:
    """Per-pass layer numbers of a traced run, and per-pass self times.
    Span times and counts are summed over the traced passes and divided
    by their number; peaks are the largest seen."""
    from collections import Counter

    from tracing import COUNTS, IO_FUNCS, PEAKS, self_times, totals

    n_passes = len(t_walls)
    dur, n = totals(tracer.spans)
    for f in IO_FUNCS:
        dur[f"io.{f}"] += 0.0
        n[f"io.{f}"] += 0
    counts: Counter = Counter({k: 0.0 for k in COUNTS})
    for c in tracer.calls:
        for k, v in c["counts"].items():
            counts[k] = max(counts[k], v) if k in PEAKS else counts[k] + v
    out = dict(layers)
    out.update({f"{k}_s": v / n_passes for k, v in dur.items()})
    out.update({f"{k}_calls": v / n_passes for k, v in n.items() if k.startswith("io.")})
    out.update({k: v if k in PEAKS else v / n_passes for k, v in counts.items()})
    wall = sum(t_walls) / n_passes
    layer_s = sum(out.get(f"{k}_s", 0.0) for k in (
        "operators.build", "plan.executed_plan", "exec.run", "convert.bulk",
        "convert.per_file"))
    out.update({
        "jvm.gc_s": tracer.gc_total_s / n_passes,
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        # the traced pass = the layers' spans + the collector's reads
        # + the per-call cache clear; this share should be close to 1
        "trace.accounted_share": (layer_s + out.get("trace.collect_s", 0.0)
                                  + out.get("harness.cleanup_s", 0.0)) / wall,
    })
    if dur["convert.per_file"]:
        out["convert.files_per_s"] = n_files * n_passes / dur["convert.per_file"]
    own = {k: v / n_passes for k, v in self_times(tracer.spans).items()}
    return out, own


def declared(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="seeded workloads with "
                                 "end-to-end and per-layer metrics")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench",
                    help="tiny: sf0.001 tables, 20 person files, one pass")
    args = ap.parse_args(argv)

    missing = _prerequisites()
    if missing:
        log("perfbench: not a checkout of the engine; missing", *missing)
        return 2
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.MIXES:
        log(f"perfbench: unknown workload {args.workload!r}")
        return 2
    mix = list(workloads.MIXES[args.workload])
    sf, n_files = SCALES[args.scale]
    cpus = spark_cores()
    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cpus)
    os.chdir(work)
    spark = sampler = None
    try:
        import inputs

        data = inputs.ensure(ROOT, args.seed, sf, n_files, cpus)
        persons = {k: v[1] for k, v in inputs.person_files(args.seed, n_files).items()}
        tables = os.path.join(data, "tables")

        spark, setup_times = cold_setup(tables, cpus)
        log("setup: " + ", ".join(f"{k} {v:.3f}" for k, v in setup_times.items()))
        runner = workloads.Runner(spark, data, work)
        sampler = RssSampler(_jvm_pid(spark))

        gate_failed = gate(runner, mix, tables, persons)
        tiny = args.scale == "tiny"
        max_passes = 1 if tiny else None
        min_passes = 1 if tiny else MIN_PASSES
        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
        sampler.active.set()
        rec, failed, attempted = timed_passes(
            runner, mix, args.seconds, min_passes, max_passes, tracer)
        sampler.active.clear()
        walls, lat = rec["untraced"]
        log(f"untraced passes: {[round(w, 3) for w in walls]}")
        if tracer:
            t_walls, t_lat = rec["traced"]
            log(f"traced passes: {[round(w, 3) for w in t_walls]}")
            layers = {k: v for k, v in setup_times.items() if k != "setup_s"}
            layers["proc.peak_rss_mb"] = sampler.peak_kb / 1024.0
            values, own = per_layer(tracer, t_walls, end_to_end(t_lat)["wall_s"],
                                    end_to_end(lat)["wall_s"], layers, n_files)
            _write_trace(state, args, tracer, values, own)
            units = declared("per_layer")
        else:
            values = end_to_end(lat)
            values["setup_s"] = setup_times["setup_s"]
            every = sorted(x for v in lat.values() for x in v)
            # the highest percentile with ten calls beyond it
            below = max(1, len(every) - 10)
            log(f"{len(every)} timed calls in {len(walls)} passes; "
                f"{100 * below // len(every)}th percentile {every[below - 1]:.3f}s; "
                "call medians: "
                + ", ".join(f"{k} {statistics.median(v):.3f}"
                            for k, v in lat.items() if v))
            units = declared("end_to_end")
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
        failed += len(gate_failed)
        attempted += len(mix)
        result = {
            "correct": not gate_failed and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if sampler:
            sampler.close()
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _write_trace(state: str, args, tracer, values: dict, own: dict) -> None:
    from tracing import per_call

    path = os.path.join(state, f"trace-{args.workload}-s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({
            "workload": args.workload,
            "seed": args.seed,
            "note": "per pass; the noop write plans the query again, so "
                    "exec.run_s and trace.overhead_s include a second "
                    "Catalyst planning pass",
            "per_layer": values,
            "self_s": own,
            "per_call": per_call(tracer),
            "calls": tracer.calls,
            "spans": tracer.spans,
        }, fh)
    log(f"per-layer record: {json.dumps(values)}")
    log(f"self times: {json.dumps(own)}")
    for name, v in per_call(tracer).items():
        log(f"call {name}: " + ", ".join(f"{k} {x:.4g}" for k, x in v.items()))
    log(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main())
