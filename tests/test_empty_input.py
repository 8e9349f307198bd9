"""Regression pin for the round-6 empty-input sweep findings.

A full 286-query differential on a zero-row fixture (gen_fixtures.py
--empty: every table 0 rows, schemas intact — the routine empty
partition/day/source at 100 TB) exposed 13 queries whose behavior
depended on at least one row existing:

- grouping sets (cube/rollup/groupingsets): Spark emits no () grand-total
  row over empty input while DuckDB emits one with cnt=0 — pinned to
  materialized-groups-only via HAVING cnt > 0 on both sides;
- schema inference on round-trip sinks (convert_parquet_json and the four
  partitioned write/read-backs): an empty write leaves no files or
  partition dirs to infer from — all five now declare the written schema;
- NULL-vs-0 aggregates over empty (sink_sorted n_rows, privacy_kanon
  customers_at_risk, sink_compacted/sink_sorted hardcoded file counts);
- driver-side seeds of iterative algorithms (pagerank's 0.15/n,
  k-means' np.vstack of zero seed vectors).

This module regenerates the empty fixture in tmp and re-runs the DuckDB
differential for exactly those queries. The full-registry empty sweep
remains the out-of-band job:
JPC_SF_DIR=<empty dir> python scripts/drive_entry.py.
"""

from __future__ import annotations

import os
import sys

import pytest

from json_parquet_convertor_spark import registry

registry.load_all()

AFFECTED_ORACLED = [
    "q_agg_cube",
    "q_agg_rollup",
    "q_agg_groupingsets",
    "q_convert_parquet_json",
    "q_sink_partitioned",
    "q_scan_pruned",
    "q_scan_metadata",
    "q_join_prune_dynamic",
    "q_sink_compacted",
    "q_sink_sorted",
    "q_privacy_kanon",
    "q_graph_pagerank",
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0_empty")
    build(spark, dst, 0.001, empty=True)
    return dst


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(empty_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table = dir of part files
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", AFFECTED_ORACLED)
def test_affected_queries_match_on_empty_fixture(
    spark, empty_duck, empty_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, empty_duck, registry.QUERIES[name], registry.ORACLES[name],
        empty_dir,
    )
    assert ok, f"{name}: {detail}"


WRITE_ONCE = (
    "q_scan_pruned",
    "q_scan_merge_schema",
    "q_join_prune_dynamic",
    "q_scan_jsonlines",
)
REPLAYED_STREAMS = (
    "q_stream_foreachbatch",
    "q_stream_quality_gate",
    "q_stream_stateful",
    "q_stream_s3_events",
)


def _halve_table(path: str) -> None:
    """Rewrite a fixture table in place with its first half of rows; the
    new file lands by ``os.replace``, as an atomic producer would land it."""
    import shutil

    import pyarrow.parquet as pq

    table = pq.read_table(path)
    tmp = path + ".rewrite"
    pq.write_table(table.slice(0, table.num_rows // 2), tmp)
    if os.path.isdir(path):  # a directory table cannot be replaced by rename
        shutil.rmtree(path)
    os.replace(tmp, path)


def test_write_once_scratch_is_fixture_keyed(spark, empty_dir, sf_dir, tmp_path):
    """One process, two fixtures: the write-once layouts (q_scan_pruned,
    q_scan_merge_schema, q_join_prune_dynamic, the q_scan_jsonlines
    round-trip copy) must key their scratch dir by fixture, or the empty
    fixture's layout — written first here, as in a full pytest session —
    is served to every later fixture (caught r6: q_scan_pruned returned 0
    rows at sf0.01 after test_empty_input had populated the unkeyed dir).
    The third call goes back to the empty fixture: a write-once dir keyed
    in memory but not on disk serves it the previous fixture's rows.

    Then one fixture path rewritten mid-session: a copy of the fixture
    whose events, lineitem, orders and documents are halved after every
    copy derived from them was written. The write-once layouts and the
    streams' replay copies must then match the rewritten tables, not the
    rows they were first built from."""
    import shutil

    import duckdb

    from tests.oracle_utils import compare_query, register_duck_views

    for name in WRITE_ONCE:
        assert registry.QUERIES[name](spark, empty_dir).count() == 0
        assert registry.QUERIES[name](spark, sf_dir).count() > 0, name
        assert registry.QUERIES[name](spark, empty_dir).count() == 0, name

    copy = str(tmp_path / "rewritten")
    shutil.copytree(sf_dir, copy)
    for name in WRITE_ONCE + REPLAYED_STREAMS:
        assert registry.QUERIES[name](spark, copy).count() > 0, name
    for t in ("events", "lineitem", "orders", "documents"):
        _halve_table(os.path.join(copy, f"{t}.parquet"))
    con = duckdb.connect()
    try:
        register_duck_views(con, copy)
        for name in WRITE_ONCE + REPLAYED_STREAMS:
            ok, detail = compare_query(
                spark, con, registry.QUERIES[name], registry.ORACLES[name],
                copy,
            )
            assert ok, f"{name} after the rewrite: {detail}"
    finally:
        con.close()


@pytest.mark.parametrize(
    "name", ["q_sink_partitioned", "q_scan_csv", "q_convert_parquet_json"]
)
def test_returned_frame_survives_a_second_call(spark, sf_dir, name):
    """A sink query writes under run_tmp() and returns a frame that reads
    its output back lazily. A second call writes to its own directory, so
    the first frame's files are still there when it is counted."""
    query = registry.QUERIES[name]
    first = query(spark, sf_dir)
    second = query(spark, sf_dir)
    assert first.count() == second.count() > 0


def test_spread_reprobes_only_on_a_stamp_change(spark, tmp_path):
    """spread() memoizes partition counts by plan hash, which does not see
    a table rewritten under the same path. A warm load_table hit keeps the
    counts; a changed table stamp drops them, so the next spread() probes
    the new layout instead of repartitioning by the old count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from json_parquet_convertor_spark.sources.io import load_table, spread

    target = spark.sparkContext.defaultParallelism
    table = pa.table(
        {"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": ["a", "b"]}
    )
    path = tmp_path / "region.parquet"
    path.mkdir()
    pq.write_table(table, str(path / "part-0.parquet"))
    sf = str(tmp_path)

    df = load_table(spark, sf, "region")
    assert spread(df) is not df  # one file: repartitioned up to target
    memo = spark.__dict__["_jpc_spread_memo"]
    assert load_table(spark, sf, "region") is df  # warm hit
    assert spark.__dict__["_jpc_spread_memo"] is memo  # counts kept

    for i in range(1, target):  # enough part files to fill every slot
        pq.write_table(table, str(path / f"part-{i}.parquet"))
    fresh = load_table(spark, sf, "region")
    assert fresh is not df
    assert spread(fresh) is fresh  # re-probed: target files, no repartition
    assert fresh.count() == 2 * target


def test_kmeans_returns_empty_cleanly(spark, empty_dir):
    """Zero seed vectors must yield an empty result with the normal
    schema, not np.vstack's ValueError (and the r13 promoted oracle's
    WHERE n_vectors > 0 mirrors the 0-row shape)."""
    out = registry.QUERIES["q_embed_kmeans"](spark, empty_dir)
    assert out.columns == [
        "centroid_id",
        "n_vectors",
        "inertia_monotone",
        "assignment_complete",
    ]
    assert out.count() == 0
