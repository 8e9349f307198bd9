"""Drive __spark_entry__.py exactly as the driver would: plain default
SparkSession (no engine tuning, no UTC tz pre-set), entry() smoke, then a
sample of queries at sf0.01 hash-compared against DuckDB oracles."""

import os
import sys
import time

# Drive the checkout this script sits in, in the driver and in the Python
# workers (UDFs and Python data sources import the package there too).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)

from pyspark.sql import SparkSession

# deliberately NOT the engine's get_spark(): simulate the driver's own session
# with a non-UTC timezone as the adversarial probe. JPC_TZ overrides (e.g.
# Asia/Kolkata — a half-hour offset catches whole-hour-safe assumptions).
spark = (
    SparkSession.builder.master(
        f"local[{os.environ.get('JPC_CPUS', '8')}]"
    )
    .appName("driver-sim")
    .config(
        "spark.sql.session.timeZone",
        os.environ.get("JPC_TZ", "America/New_York"),
    )
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e

t0 = time.time()
df = e.entry(spark)
rows = df.collect()
print(f"entry(): {len(rows)} rows, schema={df.columns}, {time.time()-t0:.1f}s")
assert len(rows) > 0

qs = e.queries()
oracles = e.oracle_sql()
print(f"queries: {len(qs)}, oracled: {len(oracles)}")
assert set(oracles) <= set(qs)

import duckdb

# JPC_SF_DIR: point the whole differential check at any fixture dir (e.g.
# scripts/gen_fixtures.py output) — proves spark/duckdb agreement isn't an
# artifact of the one driver-generated dataset
SF = os.environ.get("JPC_SF_DIR", "/root/testdata/sf0.01")

from tests.oracle_utils import register_duck_views, sweep_queries


def con_factory():
    """Fresh connection with the driver's (drift-aware) view registration —
    rebuilt by sweep_queries whenever a failed oracle may have poisoned the
    previous one (a DuckDB OOM leaves every later allocation failing)."""
    c = duckdb.connect()
    register_duck_views(c, SF)
    return c


sample = sys.argv[1:] or sorted(qs)
fails = sweep_queries(spark, con_factory, qs, oracles, sample, SF)
print(f"\n{len(sample)-len(fails)}/{len(sample)} matched at {SF}")
sys.exit(1 if fails else 0)
