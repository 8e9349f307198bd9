"""Scaling probe (judge r3 'Next round' #3): catch the quadratic that 218
green sf0.1 runs can hide.

Builds a 4x replica of the sf0.1 fixtures in /tmp (facts key-shifted per
replica; document text Caesar-ciphered and embeddings jittered per replica
so self-join dedup/ANN queries gain 4x the WORK, not 16x the duplicate
pairs), times every registered query once at sf0.1 and once at 4x, and
reports t_4x / t_sf0.1 per query. A healthy plan scales at most linearly:
ratio ≲ 4 plus fixed overhead. Queries above THRESHOLD are re-timed with 3
reps to separate noise from super-linearity.

Usage: python scripts/scale_probe.py [--replicas 4] [--threshold 6.0]
Writes SCALING.json at the repo root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _rot(s: str, k: int) -> str:
    return s[k:] + s[:k]


def build_scaled(spark, src: str, dst: str, replicas: int) -> None:
    from pyspark.sql import functions as F

    from json_parquet_convertor_spark.sources.io import TABLES, load_table

    os.makedirs(dst, exist_ok=True)
    # key offsets: one power-of-ten above the base table's max id so
    # replica ids never collide
    def off(df, col):
        m = df.agg(F.max(col)).collect()[0][0]
        p = 1
        while p <= m:
            p *= 10
        return p

    shift_keys = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey"],
        "events": ["event_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if t not in shift_keys:
            if not os.path.lexists(out):
                os.symlink(os.path.join(src, f"{t}.parquet"), out)
            continue
        base = load_table(spark, src, t)
        key_off = {c: off(base, c) for c in shift_keys[t]}
        parts = []
        for k in range(replicas):
            rep = base
            for c, o in key_off.items():
                rep = rep.withColumn(c, F.col(c) + F.lit(k * o))
            if t == "documents":
                # per-replica Caesar cipher: token statistics of each
                # replica match the original, but replicas share no text,
                # so near-dup/similarity candidates scale linearly
                rep = rep.withColumn(
                    "text",
                    F.translate(
                        "text", ALPHA + ALPHA.upper(),
                        _rot(ALPHA, k) + _rot(ALPHA.upper(), k),
                    ),
                )
            if t == "embeddings":
                # deterministic per-replica jitter decorrelates copies so
                # LSH buckets don't fill with exact duplicates
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, i) -> "
                        f"cast(x + sin(vec_id * 31 + i * 7 + {k}) * 0.05"
                        f" as float))"
                    ),
                )
            parts.append(rep)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(out)
        print(f"built {t} x{replicas}", file=sys.stderr)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, sf_dir, reps=1):
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        samples.append(time.perf_counter() - t0)
        # between reps, not after: queries that cache intermediates must
        # rebuild them each rep or later reps measure warm-cache replays
        spark.catalog.clearCache()
    return statistics.median(samples)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=4)
    ap.add_argument("--threshold", type=float, default=6.0)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--only", nargs="*", default=None,
        help="query names to probe (default: all); results merge into an "
        "existing SCALING.json",
    )
    args = ap.parse_args()

    from json_parquet_convertor_spark import registry
    from json_parquet_convertor_spark.sources.io import run_tmp
    from json_parquet_convertor_spark.session import get_spark

    registry.load_all()
    spark = get_spark(app_name="jpc-scale-probe", cpus=32)
    scaled = run_tmp(f"scale_x{args.replicas}")
    build_scaled(spark, args.base, scaled, args.replicas)

    _force(registry.QUERIES["q_agg_groupby"](spark, args.base))  # warmup

    scaling_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.json",
    )
    out: dict[str, dict] = {}
    names = sorted(registry.QUERIES)
    if args.only:
        names = [n for n in names if n in set(args.only)]
        if os.path.exists(scaling_path):
            out.update(json.load(open(scaling_path)).get("queries", {}))
    for name in names:
        fn = registry.QUERIES[name]
        try:
            t_base = time_query(spark, fn, args.base)
            t_big = time_query(spark, fn, scaled)
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc!r}", file=sys.stderr)
            out[name] = {"error": repr(exc)[:200]}
            continue
        ratio = t_big / t_base if t_base > 0 else float("inf")
        out[name] = {
            "t_base": round(t_base, 3),
            "t_4x": round(t_big, 3),
            "ratio": round(ratio, 2),
        }
        print(
            f"{name}: {t_base:.2f}s -> {t_big:.2f}s  x{ratio:.2f}",
            file=sys.stderr,
        )

    # confirm suspects with 3 reps on both sides
    suspects = [
        n
        for n, v in out.items()
        if "ratio" in v and v["ratio"] > args.threshold
    ]
    for name in suspects:
        fn = registry.QUERIES[name]
        t_base = time_query(spark, fn, args.base, reps=3)
        t_big = time_query(spark, fn, scaled, reps=3)
        out[name]["t_base_r3"] = round(t_base, 3)
        out[name]["t_4x_r3"] = round(t_big, 3)
        out[name]["ratio_r3"] = round(t_big / t_base, 2)
        print(
            f"RECHECK {name}: x{out[name]['ratio_r3']}", file=sys.stderr
        )

    # a suspect whose 3-rep recheck lands back under threshold was noise
    # (first-run cache effects), not super-linearity — don't report it
    confirmed = [
        n for n in suspects if out[n]["ratio_r3"] > args.threshold
    ]
    result = {
        "replicas": args.replicas,
        "threshold": args.threshold,
        "suspects": {
            n: out[n] for n in confirmed
        },
        "queries": out,
    }
    with open(scaling_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({
        "n": len(out),
        "suspects": {n: out[n].get("ratio_r3", out[n].get("ratio"))
                     for n in confirmed},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
