"""Physical-plan audits (the 100 TB posture, checked mechanically).

Correctness says the right rows come back; these tests pin the plan SHAPE
that makes each operator viable at scale: filters reaching the parquet
scan, column pruning, broadcast joins where intended, TakeOrderedAndProject
for top-k, map-side partial aggregation, and no cartesian or nested-loop
join without a stated bound.

``plans/inventory.json`` records ``audit``'s facts for every registered
query that is not stream-only: one JSON object per line, sorted by query
name, with sorted keys, so a plan change is a one-line diff. An entry whose
plan holds a BroadcastNestedLoopJoin or CartesianProduct carries a ``why``
that bounds it. When a change alters a plan on purpose, the failing test
prints the live line; paste it over the query's line.
"""

from __future__ import annotations

import json
import os

import pytest

from json_parquet_convertor_spark import registry
from json_parquet_convertor_spark.plans.inspect import (
    audit,
    lambda_split_violations,
    physical_plan,
)

registry.load_all()

# real readStream executions — .queryExecution() would need a started stream
_STREAM_ONLY = {"q_stream_convert", "q_stream_watermark"}

_INVENTORY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    "inventory.json",
)
with open(_INVENTORY_PATH, encoding="utf-8") as _fh:
    _LINES = _fh.read().splitlines()
_INVENTORY = {e["query"]: e for e in map(json.loads, _LINES)}

_NESTED_LOOP = ("BroadcastNestedLoopJoin", "CartesianProduct")


def _line(entry: dict) -> str:
    """``entry`` as an inventory line."""
    return json.dumps(entry, sort_keys=True, ensure_ascii=False)


def _plan(spark, sf_dir, name: str) -> str:
    return physical_plan(registry.QUERIES[name](spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_filter_simple")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity" in plan, plan


def test_column_pruning_in_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_filter_simple")
    # ReadSchema must carry only the 4 selected columns, not all 11
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_returnflag" not in read_schema, read_schema
    assert "l_extendedprice" in read_schema


def test_broadcast_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan


def test_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk")
    assert "TakeOrderedAndProject" in plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    facts = audit(registry.QUERIES["q_agg_groupby"](spark, sf_dir))
    # map-side partial + final merge = at least two HashAggregate operators
    assert facts["hash_aggregates"] >= 2


def test_asof_has_no_join_node(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_asof")
    assert "Join" not in plan, "union-merge as-of must not plan a join"


def test_no_unpartitioned_window_over_table(spark, sf_dir):
    """q_sort_multi's windows must all be partitioned (the offsets window
    runs over #partitions rows, which Spark still plans as a global window —
    allowed because its input is bounded by cluster size, so we assert the
    row_number window specifically)."""
    plan = _plan(spark, sf_dir, "q_sort_multi")
    rn_lines = [
        l for l in plan.splitlines() if "row_number" in l and "Window" in l
    ]
    assert rn_lines, plan
    for l in rn_lines:
        assert "pid" in l, f"row_number window not partitioned: {l}"


@pytest.mark.parametrize(
    "name", sorted(n for n in registry.QUERIES if n not in _STREAM_ONLY)
)
def test_query_has_no_cartesian(spark, sf_dir, name):
    # caches left by earlier test files would turn scans into
    # InMemoryTableScans and change the facts
    spark.catalog.clearCache()
    df = registry.QUERIES[name](spark, sf_dir)
    recorded = _INVENTORY.get(name, {})
    live = {"query": name, **audit(df)}
    if "why" in recorded:
        live["why"] = recorded["why"]
    assert live == recorded, (
        f"{name}: plan facts differ from plans/inventory.json; live line:\n"
        f"{_line(live)}"
    )
    # a nested-loop or cartesian join is quadratic unless one side is
    # bounded (a 1-row scalar attach, a probe, a demo on tiny tables):
    # each one states its bound, and no other entry carries a reason
    nested = any(j in live["joins"] for j in _NESTED_LOOP)
    assert nested == bool(live.get("why")), (
        f"{name}: a why is required exactly where the plan holds "
        f"{' or '.join(_NESTED_LOOP)}: {live['joins']}"
    )
    # HOF lambdas defeat codegen subexpression elimination (--longtext):
    # split(text) INSIDE a lambda body re-splits the document once per
    # ELEMENT — O(len²) per row; a 1.4 MB megadoc never finishes.
    # The token array must be bound as a real attribute before the lambda
    # indexes it (split as the transform INPUT — a SIBLING of the lambda —
    # is the correct shape and is not flagged). Checked on the optimized
    # logical plan's expression tree (toJSON), not the formatted plan
    # string, so maxToStringFields truncation can't hide a violation and a
    # sibling split() on the same line can't false-positive.
    hits = lambda_split_violations(df)
    assert not hits, (
        f"{name}: split() inside a HOF lambda (quadratic per row): {hits}"
    )


def test_inventory_holds_the_registry_queries():
    """One canonical line per non-stream registry query, in name order."""
    want = {n for n in registry.QUERIES if n not in _STREAM_ONLY}
    assert set(_INVENTORY) == want, (
        f"unregistered: {sorted(set(_INVENTORY) - want)}, "
        f"missing: {sorted(want - set(_INVENTORY))}"
    )
    names = [json.loads(line)["query"] for line in _LINES]
    assert names == sorted(want), "one line per query, sorted by name"
    for line in _LINES:
        assert line == _line(json.loads(line)), line


def test_lambda_split_gate_detects_and_allows():
    """The gate itself: split INSIDE a lambda is flagged; split bound as
    the HOF input (sibling — even on the same formatted plan line, the old
    scanner's false-positive shape) is not; and a lambda whose body was
    long enough to truncate the formatted plan string still can't hide."""
    from pyspark.sql import functions as F

    from json_parquet_convertor_spark.session import get_spark

    spark = get_spark(app_name="jpc-tests", cpus=8, shuffle_partitions=8)
    df = spark.createDataFrame([("a b c",)], "text string")
    bad = df.select(
        F.expr("transform(sequence(1, 3), i -> split(text, ' ')[i])")
    )
    assert lambda_split_violations(bad)
    good = df.select(
        # split as HOF input PLUS a second split in a sibling projection:
        # both legal, both on the lambda's formatted line or next to it
        F.expr("transform(split(text, ' '), t -> upper(t))"),
        F.expr("size(split(text, ' '))"),
    )
    assert not lambda_split_violations(good)
    # a wide lambda body (many conds) that the default formatted plan
    # string would elide with '... N more fields' still reports
    conds = " + ".join(
        f"length(split(text, ' ')[{i}])" for i in range(60)
    )
    wide = df.select(F.expr(f"transform(sequence(1, 2), i -> {conds})"))
    assert lambda_split_violations(wide)
    # substring over an OUTER string at a lambda-dependent
    # position re-seeks from the string head per element — O(len²)
    bad_sub = df.select(
        F.expr("transform(sequence(1, length(text) - 1),"
               " i -> substring(text, i, 2))")
    )
    assert lambda_split_violations(bad_sub)
    # linear substring shapes stay legal: position independent of the
    # lambda var; or the string IS the lambda element
    ok_sub = df.select(
        F.expr("transform(split(text, ' '), t -> substring(t, 1, 3))"),
        F.expr("transform(sequence(1, 3), i -> substring(text, 1, 2))"),
    )
    assert not lambda_split_violations(ok_sub)


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """Both sides bucketed+sorted by the join key → the sort-merge join
    itself needs no Exchange (and no Sort); the only shuffle in the plan is
    the final aggregation."""
    df = registry.QUERIES["q_join_bucketed"](spark, sf_dir)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    # below the join: bucketed scans only — no Exchange may appear
    assert "Exchange" not in join_part, join_part
    # whole plan: exactly the one aggregation exchange
    facts = audit(df)
    assert (facts["shuffles"], facts["broadcasts"]) == (1, 0), plan


def _subtree(lines: list[str], i: int) -> str:
    """The plan-tree subtree rooted at line ``i`` (by marker indentation)."""
    import re as _re

    def pos(line: str) -> int:
        m = _re.search(r"[+:]-", line)
        return m.start() if m else 10**6

    p = pos(lines[i])
    out = [lines[i]]
    for line in lines[i + 1:]:
        if pos(line) <= p:
            break
        out.append(line)
    return "\n".join(out)


def test_bm25_df_broadcast_is_query_term_bounded(spark, sf_dir):
    """The document-frequency build side must be restricted to the (≤3)
    query terms BEFORE it broadcasts — a full-vocabulary df broadcast OOMs
    every executor at 100 TB. Mechanically: every
    BroadcastExchange whose subtree aggregates token counts (the df build)
    must also contain the limit-3 query-term restriction inside that
    subtree."""
    import re as _re

    plan = _plan(spark, sf_dir, "q_rank_bm25")
    lines = plan.splitlines()
    checked = 0
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        sub = _subtree(lines, i)
        if _re.search(
            r"HashAggregate\(keys=\[token\S*\], functions=\[count\(1\)\]", sub
        ):
            checked += 1
            assert "limit=3" in sub, sub
    assert checked >= 1, plan


def test_pairs_lift_no_forced_broadcast_of_support_table(spark, sf_dir):
    """The per-part support table grows with the data (|parts| is 1e8+ at
    100 TB), so it must never carry a forced broadcast hint —
    Catalyst/AQE picks the join side from size estimates, which
    flips to shuffle at real scale. The only hint allowed is the 1-row
    order-count frame."""
    df = registry.QUERIES["q_pairs_lift"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    hints = [i for i, l in enumerate(lines) if "ResolvedHint" in l]
    assert len(hints) == 1, analyzed
    # the surviving hint's immediate child must be the global 1-row count
    assert "n_orders" in lines[hints[0] + 1], analyzed


def test_decontaminate_benchmark_side_broadcasts(spark, sf_dir):
    """The eval-suite gram set must broadcast: the 100 TB corpus is never
    shuffled for the contamination check."""
    plan = _plan(spark, sf_dir, "q_text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_single_exchange(spark, sf_dir):
    """All three windows (lag, lead, row_number) share the user_id
    partitioning — the history build must cost exactly one shuffle of the
    event log."""
    plan = _plan(spark, sf_dir, "q_scd2_history")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges\n{plan}"


def test_sql_exists_decorrelates_to_semi_and_anti(spark, sf_dir):
    """Catalyst must turn the correlated EXISTS / NOT EXISTS into real
    semi/anti joins, not a per-row subquery."""
    plan = _plan(spark, sf_dir, "q_sql_exists")
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan


def test_sql_view_filter_still_pushed(spark, sf_dir):
    """The temp view is a catalog object only: its l_quantity filter must
    be inlined and pushed to the parquet scan."""
    plan = _plan(spark, sf_dir, "q_sql_view")
    assert "PushedFilters: [" in plan
    assert "LessThan(l_quantity" in plan, plan


def test_corpus_mix_no_pre_aggregation_shuffle(spark, sf_dir):
    """Keep-decision is row-local: the only exchange allowed is the final
    per-source aggregate's."""
    plan = _plan(spark, sf_dir, "q_corpus_mix")
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_sessionize_single_exchange(spark, sf_dir):
    """Lag window, cumsum window, AND the (user, session) rollup all ride
    the user_id hash partitioning (HashPartitioning(user_id) satisfies the
    rollup's ClusteredDistribution since user_id is a grouping key) — the
    whole sessionization must cost exactly one shuffle of the event log."""
    plan = _plan(spark, sf_dir, "q_win_sessionize")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"{n_exchanges} exchanges\n{plan}"


def test_range_binned_join_is_equi_join(spark, sf_dir):
    """The pure range join must meet on the day-bin EQUI join (hash or
    sort-merge), never a nested-loop — that is the whole point of the
    binning."""
    plan = _plan(spark, sf_dir, "q_join_range_binned")
    assert "NestedLoop" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_pruned_scan_uses_partition_filters(spark, sf_dir):
    """The status predicate must resolve against the hive partition
    listing (PartitionFilters), not run as a per-row data filter."""
    plan = _plan(spark, sf_dir, "q_scan_pruned")
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf_lines, plan
    assert any("o_orderstatus" in l for l in pf_lines), pf_lines


def test_dynamic_partition_pruning_in_fact_scan(spark, sf_dir):
    """The fact scan's PartitionFilters must contain the runtime
    dynamicpruning subquery — proof the month list flows from the dim
    join into the partition listing instead of a full scan."""
    plan = _plan(spark, sf_dir, "q_join_prune_dynamic")
    assert "dynamicpruning" in plan.lower(), plan


def test_bloom_prefilter_stays_broadcast_until_final_agg(spark, sf_dir):
    """q_join_bloom_prefilter's whole point is that the fact scan meets
    ONLY broadcast joins (two bitmap probes + the exact semi refine + the
    dim build chain) — the first shuffle in the plan must be the final
    aggregation. A config/code drift that turns any probe into a
    SortMergeJoin would silently reintroduce a full-fact shuffle."""
    plan = _plan(spark, sf_dir, "q_join_bloom_prefilter")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "LeftSemi" in plan, plan  # the exact refine survived optimization
    # shuffles: the bloom-bitmap fold (planned once per probe side pre-AQE;
    # runtime reuses one) + the final aggregate — never the fact table. The
    # fact side carries no Exchange: every fact row reaches the final agg
    # through broadcast joins only.
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Reused" not in l
    )
    assert n_exchanges <= 3, plan
    # no exchange keyed on a fact column (the bloom folds key on `word`,
    # the final agg on the returnflag GROUP BY — both post-reduction)
    assert not any(
        "Exchange hashpartitioning(l_suppkey" in l for l in plan.splitlines()
    ), plan


def test_salted_join_replication_stays_bounded(spark, sf_dir):
    """q_join_salted replicates the dim ×salt_n inside a broadcast; the
    fact side must stay shuffle-free (BroadcastHashJoin, one final-agg
    exchange) and the salt modulus must stay 8 — a future edit that fattens
    the replication factor (or moves the explode onto the fact side) has to
    update this pin consciously."""
    import re

    plan = _plan(spark, sf_dir, "q_join_salted")
    assert "BroadcastHashJoin" in plan, plan
    # the dim replication (Generate explode) happens under the broadcast,
    # so it is |dim|×8 rows built once — not a fact-side blowup
    bx = plan.index("BroadcastExchange")
    assert "Generate explode" in plan[bx:], plan
    assert "Generate explode" not in plan[:bx], plan
    # the fact-side salt pmod pins the ×8 bound. The mix is
    # reduce-first (pmod(key, n) before the multiply, overflow-safe for
    # snowflake-scale keys); 2654435761 % 8 == 1, so Catalyst folds the
    # multiply away entirely and the salt is pmod(pmod(key, 8), 8)
    assert re.search(r"pmod\(pmod\(l_orderkey#\d+L?, 8\), 8\)", plan), plan
    n_exchanges = sum(
        1
        for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "Reused" not in l
    )
    assert n_exchanges == 1, plan


def test_skew_diagnose_topk_no_global_sort(spark, sf_dir):
    """Top-10 heaviest keys must be TakeOrderedAndProject over the key
    counts, not a full Sort of the count table."""
    plan = _plan(spark, sf_dir, "q_skew_diagnose")
    assert "TakeOrderedAndProject" in plan, plan


def test_cache_reuse_hits_inmemory_scan(spark, sf_dir):
    """Both consumers of the cached base must read InMemoryTableScan (the
    cached columnar relation), not re-scan parquet twice."""
    df = registry.QUERIES["q_cache_reuse"](spark, sf_dir)
    df.collect()  # materialize the cache
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan, plan


def test_null_safe_join_over_base_tables_is_hash_join(spark, sf_dir):
    """q_join_null_safe pushes the aggregate through the join (38x faster
    in a probe), so the registered query joins two <=51-row frames. This
    test keeps the ORIGINAL shape covered: drive `<=>` over base-table
    volumes, assert it plans as a hash join (NULL hashes like any value —
    no nested-loop fallback), and assert the raw-join-then-aggregate
    result equals the registered pushed-down query, proving the rewrite
    result-equivalent on real data."""
    from pyspark.sql import functions as F

    from json_parquet_convertor_spark.sources.io import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
    )
    c = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, None)
        .otherwise(F.col("c_custkey") % 50)
        .alias("k"),
    )
    raw = o.alias("o").join(c.alias("c"), F.col("o.k").eqNullSafe(F.col("c.k")))
    plan = physical_plan(raw)
    assert "NestedLoop" not in plan, plan
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ), plan
    got = {
        (r["k"], r["n_pairs"], r["n_cust"])
        for r in raw.groupBy(F.col("o.k").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("c.c_custkey").cast("bigint").alias("n_cust"),
        )
        .collect()
    }
    want = {
        (r["k"], r["n_pairs"], r["n_cust"])
        for r in registry.QUERIES["q_join_null_safe"](spark, sf_dir).collect()
    }
    assert got == want


def test_hinted_join_is_shuffled_hash_without_sort(spark, sf_dir):
    """q_join_hinted's SHUFFLE_HASH hint must materialize as a
    ShuffledHashJoin with no Sort feeding it — skipping both sort passes
    is the entire point of the hint over the sort-merge default."""
    plan = _plan(spark, sf_dir, "q_join_hinted")
    assert "ShuffledHashJoin" in plan, plan
    join_seen = False
    for line in plan.splitlines():
        if "ShuffledHashJoin" in line:
            join_seen = True
        if join_seen and "SortMergeJoin" in line:
            raise AssertionError(f"unexpected SMJ alongside hint:\n{plan}")
    assert join_seen


def test_composite_q5_single_big_join(spark, sf_dir):
    """Q5's six-table graph must resolve to at most ONE non-broadcast join
    (lineitem⋈orders); region/nation/supplier/customer all apply map-side.
    A second shuffle join means a dim lost its broadcast; any nested-loop
    means the local-supplier predicate fell out of the join condition."""
    joins = audit(registry.QUERIES["q_composite_q5"](spark, sf_dir))["joins"]
    assert joins.get("BroadcastHashJoin", 0) >= 4, joins
    assert "BroadcastNestedLoopJoin" not in joins, joins
    assert "CartesianProduct" not in joins, joins
    assert sum(joins.values()) - joins["BroadcastHashJoin"] <= 1, joins


def test_sql_params_bind_as_pushable_literals(spark, sf_dir):
    """Named parameters must bind in the parser as ordinary literals —
    the price predicate still reaches the parquet scan as a pushed
    filter (the injection-safe form costs no plan quality)."""
    plan = _plan(spark, sf_dir, "q_sql_params")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice,50000.0)" in plan, plan


def test_sql_identifier_resolves_to_plain_scan(spark, sf_dir):
    """IDENTIFIER() binds during analysis — the plan must look exactly
    like the hard-coded query: a pruned lineitem scan feeding a
    partial-agg groupBy, no extra nodes."""
    plan = _plan(spark, sf_dir, "q_sql_identifier")
    assert "FileScan" in plan or "Scan parquet" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_linestatus" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, read_schema


def test_range_join_aggregates_events_before_the_join(spark, sf_dir):
    """q_join_range must join (user, day) PARTIALS, never raw events: an
    sf1.0 sweep over twelve fixture axes showed the old
    equi+range-post-filter plan degenerating to a per-key cartesian under
    hot-key skew (one user on both sides = 8.0e11 post-filter pairs). The structural guarantee
    is an Aggregate on the events side BELOW the join (partials bounded
    by |distinct user x day|) and an equi-join that includes the day key
    (no range post-filter pair formation)."""
    plan = _plan(spark, sf_dir, "q_join_range")
    # partial aggregation of events happens under the join: two
    # HashAggregates (partial+final) precede the join's events input —
    # assert the plan carries a day-keyed aggregate at all
    assert "HashAggregate" in plan, plan
    # the join is pure equi (user AND day): no non-equi range condition
    # survives as a join post-filter on a raw events relation
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # day key present in a join: the exploded 7-day window makes the
    # range an equi key, so SortMergeJoin/ShuffledHashJoin/BroadcastHash
    # keys include d
    import re

    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "ShuffledHashJoin" in l
            or "BroadcastHashJoin" in l)
    ]
    assert join_lines, plan
    assert any(re.search(r"\bd#\d+L?\b", l) for l in join_lines), plan


def test_lsh_candidate_generation_is_join_free(spark, sf_dir):
    """The LSH dedup candidate generators emit pairs IN-ROW from
    per-bucket member lists (one aggregate on the bucket key),
    not via a bucket SELF-join — the
    self-join shape cost 4-5 exchanges per query. Both queries keep the
    broadcast LEFT ANTI hot-bucket screen that drops over-cap buckets
    BEFORE the member-list aggregate (guide §5). q_dedup_near's members
    carry their signatures and are scored in the list, so the screen is
    its only join and nothing is cached; q_dedup_simhash adds the two
    equi join-backs that attach each deduped pair's fingerprints. The
    basket pair miner has no join at all. Joins are pinned by COUNT and
    kind, not by strategy (the join-backs' strategy legitimately depends
    on autoBroadcastJoinThreshold/stats at fixture scale — a stats
    change flipping BroadcastHashJoin to SortMergeJoin must not fail
    this pin while results stay correct)."""
    import re

    for name, n_joins in (("q_dedup_near", 1), ("q_dedup_simhash", 3)):
        plan = _plan(spark, sf_dir, name)
        # never a pair-forming non-equi join
        for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
            assert node not in plan, (name, node, plan)
        # the in-row pair emission survived (bucket lists + explode)
        assert "collect_list" in plan and "flatten" in plan, (name, plan)
        # a bucket self-join or a join-back reappearing raises the count
        joins = [
            m.group(0)
            for m in re.finditer(
                r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*",
                plan,
            )
        ]
        assert len(joins) == n_joins, (name, joins, plan)
        anti = [j for j in joins if "LeftAnti" in j]
        assert len(anti) == 1, (name, joins)
    plan = _plan(spark, sf_dir, "q_dedup_near")
    for node in ("InMemoryRelation", "SortAggregate"):
        assert node not in plan, (node, plan)
    plan = _plan(spark, sf_dir, "q_pairs_copurchase")
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, (node, plan)


def test_embed_refilter_carries_per_vector_norms(spark, sf_dir):
    """The exact-cosine refilter joins back a
    per-vector norm² scalar (n2a/n2b) instead of recomputing two
    self-dots per candidate pair — the per-pair work is ONE dot."""
    plan = _plan(spark, sf_dir, "q_dedup_embed")
    assert "n2a" in plan and "n2b" in plan, plan
