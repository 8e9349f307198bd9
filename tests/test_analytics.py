"""Invariant tests for operators/analytics.py beyond DuckDB parity.

Parity (tests/test_oracle_parity.py) proves Spark == DuckDB; these prove
both are RIGHT: Z-order actually clusters, the CDC diff populates every
change class, Welch's t matches an independent pure-Python computation,
the repetition metrics match a per-doc Python recount, and a lift on a
4-dp midpoint rounds alike in both engines.
"""

from __future__ import annotations

import math

from json_parquet_convertor_spark import registry

registry.load_all()


def test_zorder_locality(spark, sf_dir):
    """Mean per-bucket envelope must be far narrower than the global range
    on BOTH dimensions — the property that makes min/max stats prune 2-D
    predicates after a Z-order rewrite."""
    rows = registry.QUERIES["q_sort_zorder"](spark, sf_dir).collect()
    assert len(rows) >= 4
    g_part = max(r.part_max for r in rows) - min(r.part_min for r in rows)
    g_supp = max(r.supp_max for r in rows) - min(r.supp_min for r in rows)
    mean_area = sum(
        (r.part_max - r.part_min + 1) * (r.supp_max - r.supp_min + 1)
        for r in rows
    ) / len(rows)
    # each bucket's 2-D envelope must cover a small fraction of the full
    # (part × supp) rectangle — that fraction is what min/max pruning skips
    assert mean_area < (g_part + 1) * (g_supp + 1) / 2


def test_cdc_all_classes_populated(spark, sf_dir):
    rows = registry.QUERIES["q_cdc_diff"](spark, sf_dir).collect()
    kinds = {r.change_type for r in rows}
    assert kinds == {"insert", "delete", "update"}
    for r in rows:
        if r.change_type == "insert":
            assert r.old_price is None and r.new_price is not None
        elif r.change_type == "delete":
            assert r.old_price is not None and r.new_price is None
        else:
            assert abs(r.old_price - 0.9 * r.new_price) < 1e-6


def test_ttest_matches_python_reference(spark, duck, sf_dir):
    """Recompute Welch's t from raw rows in pure Python (two-pass, no
    sufficient-statistic shortcut) — the engine's one-pass decimal version
    must agree to the reported rounding."""
    vals = {"click": [], "purchase": []}
    for et, v in duck.execute(
        "SELECT event_type, value FROM events"
        " WHERE event_type IN ('click','purchase')"
    ).fetchall():
        vals[et].append(round(v, 4))  # mirror the DECIMAL(18,4) cast
    a, b = vals["click"], vals["purchase"]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a) / (len(a) - 1)
    vb = sum((x - mb) ** 2 for x in b) / (len(b) - 1)
    t_ref = (ma - mb) / math.sqrt(va / len(a) + vb / len(b))

    row = registry.QUERIES["q_stats_ttest"](spark, sf_dir).collect()[0]
    assert row.n1 == len(a) and row.n2 == len(b)
    assert abs(row.t_stat - t_ref) < 1e-3
    assert abs(row.mean_diff - (ma - mb)) < 1e-3


def test_repetition_matches_python_recount(spark, duck, sf_dir):
    """Per-doc bigram stats must equal a literal Python recount."""
    res = {
        r.doc_id: r
        for r in registry.QUERIES["q_text_repetition"](spark, sf_dir)
        .limit(1000)
        .collect()
    }
    docs = duck.execute(
        "SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 10"
    ).fetchall()
    for doc_id, text in docs:
        ws = text.split(" ")
        grams = [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        if not grams:
            assert doc_id not in res
            continue
        counts: dict[str, int] = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        r = res[doc_id]
        assert r.n_bigrams == len(grams)
        assert r.n_distinct == len(counts)
        assert r.top_n == max(counts.values())


def test_incremental_merge_state_is_two_sided(spark, sf_dir):
    """Both the old-state and new-slice partials must contribute rows —
    otherwise the merge degenerates to a plain aggregate and proves
    nothing."""
    from json_parquet_convertor_spark.operators.analytics import _CUTOFF
    from json_parquet_convertor_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    n_old = orders.filter(orders.o_orderdate < _CUTOFF).count()
    n_new = orders.filter(orders.o_orderdate >= _CUTOFF).count()
    assert n_old > 0 and n_new > 0
    total = registry.QUERIES["q_agg_incremental"](spark, sf_dir)
    from pyspark.sql import functions as F

    merged_n = total.agg(F.sum("n_orders")).collect()[0][0]
    assert merged_n == n_old + n_new


def test_observe_metrics_collected(spark, sf_dir):
    """q_observe_qc's named observation must surface real metrics after an
    action, without a second scan."""
    df = registry.QUERIES["q_observe_qc"](spark, sf_dir)
    df.collect()
    # walk the logical plan to the CollectMetrics node's result
    from pyspark.sql.observation import Observation  # noqa: F401

    metrics = df._jdf.queryExecution().observedMetrics()
    row = metrics.get("qc").get()
    seen = row.getAs("rows_seen")
    assert seen > 0
    assert row.getAs("null_disc") == 0
    assert 0.0 <= row.getAs("min_disc") <= row.getAs("max_disc")


def test_ratio4_rounds_count_ratios_half_up_in_both_engines(spark):
    """57/800 = 0.07125 is a 4-dp midpoint: rounding the double gave
    0.0713 in Spark and 0.0712 in DuckDB. ``ratio4`` and its twin round
    the integer counts half-up and agree with exact rational rounding."""
    from fractions import Fraction

    import duckdb

    from json_parquet_convertor_spark.exact import ratio4, sql_ratio4

    # (ab, n_orders, sa, sb)
    rows = [(3, 19, 20, 40), (21, 47, 25, 32), (1, 1, 3, 1), (2, 1, 3, 1),
            (5, 10**11, 10**9, 10**9), (10**6, 10**11, 10**6, 10**6)]
    num, den = ("ab", "n"), ("sa", "sb")
    df = spark.createDataFrame(rows, "ab long, n long, sa long, sb long")
    got = [r[0] for r in df.select(ratio4(num, den)).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (ab BIGINT, n BIGINT, sa BIGINT, sb BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    duck = [r[0] for r in con.execute(
        f"SELECT {sql_ratio4(num, den)} FROM t ORDER BY rowid"
    ).fetchall()]
    con.close()
    want = [
        int(Fraction(ab * n, sa * sb) * 10**4 + Fraction(1, 2)) / 10**4
        for ab, n, sa, sb in rows
    ]
    assert got == duck == want
    assert want[:2] == [0.0713, 1.2338]


def test_pairs_lift_on_a_midpoint_matches_its_oracle(spark, tmp_path):
    """47 orders: parts 1 and 2 share 21, part 1 sits in 25 and part 2 in
    32, so lift = 21·47/(25·32) = 987/800 = 1.23375, a 4-dp midpoint
    (confidence 21/25 = 0.84). Both engines must report 1.2338."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare_query

    pairs = (
        [(o, p) for o in range(1, 22) for p in (1, 2)]
        + [(o, 1) for o in range(22, 26)]
        + [(o, 2) for o in range(26, 37)]
        + [(o, 3) for o in range(37, 48)]
    )
    n = len(pairs)
    table = pa.table(
        {
            "l_orderkey": pa.array([o for o, _ in pairs], pa.int64()),
            "l_partkey": pa.array([p for _, p in pairs], pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": [1.0] * n,
            "l_extendedprice": [1.0] * n,
            "l_discount": [0.0] * n,
            "l_tax": [0.0] * n,
            "l_returnflag": ["N"] * n,
            "l_linestatus": ["O"] * n,
            "l_shipdate": pa.array([0] * n, pa.timestamp("us")),
        }
    )
    path = str(tmp_path / "lineitem.parquet")
    pq.write_table(table, path)
    rows = registry.QUERIES["q_pairs_lift"](spark, str(tmp_path)).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 21, 0.84, 1.2338)]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')"
        )
        ok, detail = compare_query(
            spark, con, registry.QUERIES["q_pairs_lift"],
            registry.ORACLES["q_pairs_lift"], str(tmp_path),
        )
    finally:
        con.close()
    assert ok, detail
