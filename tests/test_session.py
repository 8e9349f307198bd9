"""Session-level settings of ``session.get_spark``: generated classes are
reused across warm calls, launching the JVM leaves the process
environment as the caller had it, and plan builds make no origin-capture
round trips.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from json_parquet_convertor_spark import registry
from perfbench.workloads import MIXES, force

registry.load_all()

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _mix_pass(spark, sf_dir) -> None:
    for name in MIXES["analytic"]:
        force(registry.QUERIES[name](spark, sf_dir))
        spark.catalog.clearCache()


def test_warm_queries_do_not_recompile(spark, sf_dir):
    """The benchmark's ``analytic`` mix cycles through about 180 generated
    classes. Spark's 100-entry class cache evicts each before its reuse and
    recompiles ~170 per pass; the session's cache holds the whole mix, so a
    second warm pass compiles nothing."""
    _mix_pass(spark, sf_dir)
    before = _compiles(spark)
    _mix_pass(spark, sf_dir)
    assert _compiles(spark) - before == 0


def test_get_spark_scopes_submit_args_to_jvm_launch():
    """The driver-heap launch argument reaches the JVM, and the variable
    that carried it is gone from the process environment afterwards."""
    code = textwrap.dedent("""
        import os
        from json_parquet_convertor_spark.session import get_spark

        spark = get_spark(app_name="jpc-env-probe", cpus=1, shuffle_partitions=1)
        print("ARGS_SET", "PYSPARK_SUBMIT_ARGS" in os.environ)
        print("DRIVER_MEM", spark.sparkContext.getConf().get("spark.driver.memory"))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_DRIVER_MEM")}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("ARGS_SET ", "DRIVER_MEM ")))
    assert lines == {"ARGS_SET": "False", "DRIVER_MEM": "8g"}


#: Py4J commands sent while building q_dedup_near, the costliest plan
#: build of the benchmark mix. The build sends about 920; with origin
#: capture on it sends about 2,290, and with the per-pair signature
#: join-backs back (capture off) about 1,260.
BUILD_SEND_CEILING = 1100


def test_worst_builder_stays_under_a_py4j_round_trip_ceiling(
    spark, sf_dir, monkeypatch
):
    """The session has PySpark's DataFrame origin capture off, and
    building q_dedup_near stays under BUILD_SEND_CEILING round trips.
    The second build is counted, so the table and partition memos are
    warm, and Py4J's object-release commands (sent when Python collects
    a JVM proxy) are not counted."""
    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    build = registry.QUERIES["q_dedup_near"]
    build(spark, sf_dir)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    build(spark, sf_dir)
    monkeypatch.undo()
    assert 0 < len(sent) <= BUILD_SEND_CEILING, len(sent)
