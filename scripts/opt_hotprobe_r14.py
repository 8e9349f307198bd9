"""Hot-bucket probe for the bucket-list pre-screen.

Synthesizes the exact failure mode the screen exists for — ONE bucket key
owning h rows (a 10⁷-member boilerplate clique) plus a spread tail — and
runs the bucket-list aggregate in both shapes:

  OLD: groupBy(k).agg(array_sort(collect_list(id)), count)
       .filter(cnt <= cap)                 # cap applied AFTER the list
  NEW: buckets.bucket_members              # cap applied BEFORE the list

Usage: python scripts/opt_hotprobe_r14.py [hot_members ...]
(default 1000000 10000000; SPARK_GRAFT_CPUS sets the local slots).

Reports wall time and the aggregate's peak-memory SQLMetric (best effort
through the AQE plan). The OLD shape must materialize + sort the full
h-member array in one un-spillable aggregation buffer before throwing it
away; the NEW shape never ships those rows into the list aggregate.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from json_parquet_convertor_spark.operators.buckets import (  # noqa: E402
    LSH_BUCKET_CAP,
    bucket_members,
)
from json_parquet_convertor_spark.session import get_spark  # noqa: E402

HOT = [int(x) for x in (sys.argv[1:] or ["1000000", "10000000"])]
TAIL_KEYS = 100_000  # spread tail: 100k buckets of 10 members each


def peak_agg_memory_bytes(df) -> int:
    """Max 'peak memory' SQLMetric over aggregate nodes (best effort)."""
    best = 0

    def walk(node):
        nonlocal best
        name = node.getClass().getSimpleName()
        if "Adaptive" in name:
            walk(node.executedPlan())
            return
        if "QueryStage" in name:
            walk(node.plan())
        if "Aggregate" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if "peak" in str(kv._1()).lower():
                    best = max(best, kv._2().value())
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    try:
        walk(df._jdf.queryExecution().executedPlan())
    except Exception as exc:  # metric plumbing is diagnostic only
        print(f"  (peak-memory walk failed: {exc})", file=sys.stderr)
    return int(best)


def main() -> int:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (
        os.cpu_count() or 8
    )
    spark = get_spark(app_name="jpc-hotprobe-r14", cpus=cpus)

    for h in HOT:
        # id space: hot rows get key 0, tail rows key 1..TAIL_KEYS
        rows = spark.range(h + 10 * TAIL_KEYS).select(
            F.col("id"),
            F.when(F.col("id") < h, F.lit(0))
            .otherwise(F.col("id") % TAIL_KEYS + 1)
            .alias("k"),
        )

        old = (
            rows.groupBy("k")
            .agg(
                F.array_sort(F.collect_list("id")).alias("ds"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .filter(F.col("cnt") <= LSH_BUCKET_CAP)
        )
        for arm, shape in (
            ("new", bucket_members(rows, ["k"], "id", LSH_BUCKET_CAP)),
            ("old", old),
        ):
            spark.sparkContext.setJobDescription(f"hotprobe:{h}:{arm}")
            t0 = time.perf_counter()
            try:
                shape.write.format("noop").mode("overwrite").save()
                err = None
            except Exception as exc:
                err = f"{type(exc).__name__}: {str(exc)[:200]}"
            dt = time.perf_counter() - t0
            print(
                json.dumps(
                    {
                        "hot_members": h,
                        "arm": arm,
                        "sec": round(dt, 2),
                        "error": err,
                        "agg_peak_memory_bytes": peak_agg_memory_bytes(
                            shape
                        ),
                    }
                )
            )
            sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
