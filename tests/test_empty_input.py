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


def test_write_once_scratch_is_fixture_keyed(spark, empty_dir, sf_dir):
    """One process, two fixtures: the write-once layouts (q_scan_pruned,
    q_scan_merge_schema, q_join_prune_dynamic, the q_scan_jsonlines
    round-trip copy) must key their scratch dir by fixture, or the empty
    fixture's layout — written first here, as in a full pytest session —
    is served to every later fixture (caught r6: q_scan_pruned returned 0
    rows at sf0.01 after test_empty_input had populated the unkeyed dir).
    The third call goes back to the empty fixture: a write-once dir keyed
    in memory but not on disk serves it the previous fixture's rows."""
    for name in ("q_scan_pruned", "q_scan_merge_schema",
                 "q_join_prune_dynamic", "q_scan_jsonlines"):
        assert registry.QUERIES[name](spark, empty_dir).count() == 0
        assert registry.QUERIES[name](spark, sf_dir).count() > 0, name
        assert registry.QUERIES[name](spark, empty_dir).count() == 0, name


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
