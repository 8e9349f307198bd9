"""Joins (SURVEY.md §2 B3).

Scale posture per join:
- equi joins on big×big (orders⋈lineitem) → sort-merge/shuffled-hash on the
  key; AQE handles skew (`spark.sql.adaptive.skewJoin.enabled`);
- small dims (region/nation/supplier, and customer at most SFs) → explicit
  ``broadcast()`` so no shuffle of the fact side;
- theta/range joins → keep one side small/banded, or Spark falls back to
  BroadcastNestedLoopJoin — fine when one side is broadcastable, disastrous
  otherwise (documented per query);
- as-of join → no native Spark operator; rewritten as join + row_number
  (windowed dedup), the standard Spark formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_parquet_convertor_spark.exact import dsum, fday, fsec, id_hash
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, materialize, spread


@query(
    "q_join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100000
    )
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(
        cust, orders.o_custkey == cust.c_custkey, "inner"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 200000
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cond = (cust.c_custkey == orders.o_custkey) & (orders.o_totalprice > 200000)
    return cust.join(orders, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_name
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_name"
    )


@query(
    "q_join_full",
    oracle="""
    SELECT a.custkey AS left_key, b.custkey AS right_key, a.n_orders, b.n_lines
    FROM (SELECT o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
          FROM orders WHERE o_orderstatus = 'F' GROUP BY 1) a
    FULL JOIN (SELECT o.o_custkey AS custkey, CAST(COUNT(*) AS BIGINT) AS n_lines
               FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
               WHERE l.l_returnflag = 'R' GROUP BY 1) b
      ON a.custkey = b.custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    a = (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    b = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count("*").alias("n_lines"))
    )
    return a.join(b, a.custkey == b.custkey, "full").select(
        a.custkey.alias("left_key"),
        b.custkey.alias("right_key"),
        "n_orders",
        "n_lines",
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no high-value order (the filter keeps the anti-join
    non-vacuous — every customer has *some* order in this data)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_broadcast",
    oracle="""
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join on a small dim: the 25-row nation table ships to
    every executor; the customer side never shuffles for the join (only the
    final groupBy shuffles, map-side partial aggregation first)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("sum_bal"),
        )
    )


@query(
    "q_join_theta",
    oracle="""
    SELECT p.p_partkey, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM part p JOIN lineitem l
      ON l.l_extendedprice BETWEEN p.p_retailprice * 10 AND p.p_retailprice * 10 + 500
    WHERE p.p_partkey <= 10
    GROUP BY 1
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join: price-band match. Planned as a
    BroadcastNestedLoopJoin — correct here because the banded side is
    pre-filtered tiny and broadcast; at 100 TB you band-bucket both sides
    first (add a coarse bucket key, equi-join on it, then refine)."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 10)
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    cond = (li.l_extendedprice >= part.p_retailprice * 10) & (
        li.l_extendedprice <= part.p_retailprice * 10 + 500
    )
    return (
        li.join(F.broadcast(part), cond)
        .groupBy("p_partkey")
        .agg(F.count("*").alias("n_lines"))
    )


@query(
    "q_join_range",
    oracle="""
    -- events PRE-AGGREGATED to (user, day) partials before the join: the
    -- window is whole days anchored at midnights (o_ts = 2024-01-01 +
    -- k days), so day-grain partials are EXACT, and the join touches
    -- |distinct (user, day)| rows instead of every event. The raw
    -- equi+range formulation this replaces is quadratic under hot-key
    -- skew (one key on both sides IS a cartesian: the sf1.0 composed
    -- fixture put 0.78M orders and 1.03M events on ONE key = 8.0e11
    -- post-filter pairs, hours in BOTH engines)
    WITH ed AS (
        SELECT user_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS d,
               CAST(COUNT(*) AS BIGINT) AS c,
               SUM(CAST(value AS DECIMAL(18,4))) AS s
        FROM events
        GROUP BY 1, 2
    ),
    o AS (
        SELECT o_orderkey, o_custkey,
               19723 + o_orderkey % 23 AS o_day  -- epoch day of 2024-01-01
        FROM orders
    )
    SELECT o.o_orderkey, CAST(SUM(ed.c) AS BIGINT) AS n_events,
           CAST(SUM(ed.s) AS DOUBLE) AS sum_value
    FROM o JOIN ed
      ON ed.user_id = o.o_custkey
     AND ed.d >= o.o_day AND ed.d < o.o_day + 7
    GROUP BY 1
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join on timestamps with an equi-key (user): how many events
    (and how much value) did each order's customer produce in the 7 days
    from the order date? Order dates (1995-2001) are remapped into the
    events window (Jan 2024) to make the overlap non-vacuous.

    Scale formulation — aggregate THROUGH the join: the query only needs
    per-order SUMs over the range, and the range is whole days anchored
    at midnights, so events first collapse to (user, day) count/sum
    partials (one map-side-combinable shuffle, output bounded by
    |distinct user×day|, ~30 rows per user here) and each order joins at
    most 7 partial rows via an explode of its day window into an
    EQUI-join key (user, day) — candidates are bounded by construction,
    never per-event. The plain 'equi-join on user + range post-filter'
    this replaces is only scalable while keys are unskewed: one hot key
    on both sides degenerates to a per-key cartesian (the sf1.0 composed
    fixture — one user owning half of each side — put 8.0e11 pairs
    through the post-filter; this plan does 7 partial rows per order).
    Day-bucketing uses exact.fday (LONG floor of unix micros), exact for
    pre-1970 and year-2300 dirty timestamps alike."""
    ev = load_table(spark, sf_dir, "events")
    ed = ev.groupBy(
        "user_id", fday("ts").alias("d")
    ).agg(
        F.count("*").alias("c"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
    )
    day0 = 19723  # floor(epoch('2024-01-01 UTC') / 86400)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.lit(day0) + F.col("o_orderkey") % 23).alias("o_day"),
    ).select(
        "o_orderkey",
        "o_custkey",
        F.explode(
            F.sequence(F.col("o_day"), F.col("o_day") + 6)
        ).alias("d"),
    )
    return (
        orders.join(
            ed,
            (ed.user_id == orders.o_custkey) & (ed.d == orders.d),
        )
        .groupBy("o_orderkey")
        .agg(
            F.sum("c").cast("bigint").alias("n_events"),
            F.sum("s").cast("double").alias("sum_value"),
        )
    )


@query(
    "q_join_asof",
    oracle="""
    -- the as-of key space is (user, bucket): o_ts takes exactly 31
    -- values by construction, so the latest-event lookup aggregates
    -- events x 31 buckets (linear) instead of materializing every
    -- (order x prior-event) pair — 1.5e9 pairs at gen sf1.0, which
    -- OOM'd the original ROW_NUMBER-over-raw-join formulation
    WITH b AS (
        SELECT range AS k,
               TIMESTAMP '2024-01-01' + range * INTERVAL 1 DAY AS bts
        FROM range(31)
    ),
    -- (ts, event_id) packed into ONE hugeint so the per-group argmax is
    -- a plain vectorized MAX — DuckDB's struct/arg_max aggregates run a
    -- per-row allocating state update that took minutes over these 31M
    -- rows; the 1e19 field width exceeds every representable BIGINT
    -- event_id (--bigid plants ~9.1e15 snowflake ids, which overflowed
    -- the old 1e10 field), and the guard makes a NEGATIVE id — the one
    -- value that still breaks the pack — ERROR loudly instead of
    -- mis-tie-breaking silently (r7 verdict #3)
    e0 AS (
        SELECT user_id,
               -- epoch shift guard: the pack below adds 1e17 us so a
               -- pre-1970 (negative-epoch) timestamp still packs to a
               -- NONNEGATIVE hugeint — DuckDB's // truncates toward zero
               -- and % follows the dividend sign, so a negative packed
               -- value would decode to the wrong ts/event_id silently
               CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) BETWEEN
                         -100000000000000000 AND 100000000000000000
                    THEN ts
                    ELSE CAST(error('q_join_asof oracle: epoch_us '
                         'outside pack shift 1e17') AS TIMESTAMP)
               END AS ts,
               CASE WHEN event_id >= 0 THEN event_id
                    ELSE CAST(error('q_join_asof oracle: negative '
                         || 'event_id ' || event_id || ' breaks the pack')
                         AS BIGINT)
               END AS event_id
        FROM events
    ),
    ue AS (
        SELECT e.user_id, b.k,
               max((CAST(epoch_us(CAST(e.ts AS TIMESTAMP)) AS HUGEINT)
                    + 100000000000000000)
                   * 10000000000000000000 + e.event_id) AS pk
        FROM e0 e JOIN b ON CAST(e.ts AS TIMESTAMP) <= b.bts
        GROUP BY 1, 2
    ),
    best AS (
        -- GROUP BY + MAX(type), not DISTINCT (r11 --rowdup, r13
        -- --conflict): the payload join-back matches EVERY physical copy
        -- of the winning event_id — exact re-delivered copies (DISTINCT
        -- collapsed those) AND conflicting re-deliveries whose drifted
        -- event_type DISTINCT kept, fanning the LEFT JOIN below. The
        -- contract pick among same-(ts, event_id) versions is the MAX
        -- event_type, mirroring the Spark carry window's type tiebreak.
        SELECT ue.user_id, ue.k,
               make_timestamp(CAST(ue.pk // 10000000000000000000
                                   AS BIGINT)
                              - 100000000000000000) AS last_event_ts,
               max(ev.event_type) AS last_event_type
        FROM ue JOIN events ev
          ON ev.user_id = ue.user_id
         AND ev.event_id = CAST(ue.pk % 10000000000000000000 AS BIGINT)
        GROUP BY 1, 2, 3
    )
    SELECT o.o_orderkey, o.o_custkey,
           best.last_event_ts, best.last_event_type
    FROM (
        SELECT o_orderkey, o_custkey, o_orderkey % 31 AS k
        FROM orders
    ) o LEFT JOIN best ON best.user_id = o.o_custkey AND best.k = o.k
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest event at-or-before each order's timestamp, per
    user) via the union-merge formulation: tag both sides, union them, one
    window per user ordered by (ts, tag, event_id), and ``last(...,
    ignoreNulls)`` carries the most recent event forward onto each order row.

    This is THE scale-safe as-of: one linear shuffle on the user key, state
    per row is O(1). The naive LEFT JOIN ``ON user match AND ts <= o_ts`` +
    keep-latest materializes every (order x all-prior-events) pair first —
    quadratic per user, and hot users skew the shuffle. Ties on ts are
    broken by event_id (events sort before orders at equal ts, so an event
    AT the order timestamp matches, = the oracle's ``ts <= o_ts``).
    Order dates are remapped into the events window (Jan 2024) so matches
    are non-vacuous."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("u"),
        F.expr(
            "TIMESTAMP '2024-01-01' + make_interval(0,0,0, CAST(o_orderkey % 31 AS INT))"
        ).alias("ts"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("timestamp").alias("ev_ts"),
        F.lit(None).cast("string").alias("ev_type"),
        F.lit(None).cast("long").alias("event_id"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("user_id").alias("u"),
        "ts",
        F.lit(0).alias("is_order"),
        F.col("ts").alias("ev_ts"),
        F.col("event_type").alias("ev_type"),
        "event_id",
    )
    # NULL-user events (orphans — the --nullkey axis) are dropped from
    # the lookup side: under the oracle's equi-join a NULL key matches
    # nothing, so the NULL-custkey partition must carry NO events — the
    # orders there still emit, with NULL last_event (left-join semantics)
    merged = orders.unionByName(ev.filter(F.col("u").isNotNull()))
    # ev_type tiebreak (r13, --conflict): conflicting copies tie the full
    # (ts, is_order, event_id) key with drifted types; last() then picks
    # the MAX type — the same contract the oracle's join-back states
    w = (
        Window.partitionBy("u")
        .orderBy(
            "ts",
            "is_order",
            F.col("event_id").asc_nulls_first(),
            F.asc_nulls_first("ev_type"),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.select(
            "o_orderkey",
            F.col("u").alias("o_custkey"),
            "is_order",
            F.last("ev_ts", ignorenulls=True).over(w).alias("last_event_ts"),
            F.last("ev_type", ignorenulls=True).over(w).alias("last_event_type"),
        )
        .filter(F.col("is_order") == 1)
        .drop("is_order")
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever on tiny inputs (5×25 here). Guarded by
    Spark requiring explicit crossJoin()."""
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = load_table(spark, sf_dir, "nation").select("n_name")
    return region.crossJoin(nation)


@query(
    "q_join_multiway",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           -- VARCHAR hop: scale-2 midpoint parity (r13 --conflict rule,
           -- see q_agg_groupby's oracle comment)
           CAST(SUM(CAST(CAST(l.l_extendedprice AS VARCHAR) AS DECIMAL(12,2)) * (1 - CAST(CAST(l.l_discount AS VARCHAR) AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('AMERICA', 'ASIA') AND o.o_orderstatus = 'F'
    GROUP BY 1
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 5-table chain. Fact⋈fact (lineitem⋈orders) shuffles on
    orderkey; nation/region broadcast explicitly (always tiny); customer is
    left to AQE — it broadcasts at small SF but correctly shuffles at 100 TB,
    where it's the second-largest table. Catalyst reorders and pushes the
    r_name/o_orderstatus filters below the joins."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("AMERICA", "ASIA")
    )
    from json_parquet_convertor_spark.exact import dec

    revenue = dec("l_extendedprice") * (F.lit(1) - dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(revenue).cast("double").alias("revenue"),
        )
    )


@query(
    "q_join_bucketed",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join via bucketed tables — THE shuffle elimination
    primitive for repeated big×big joins at 100 TB. Both sides are written
    ``bucketBy(8, join_key)`` (+ sortBy, so the sort-merge join needs no
    sort either); Spark's bucketing guarantees bucket i of orders and
    bucket i of customer hold the same key range, so the merge join reads
    them pairwise with NO Exchange before the join (asserted in
    tests/test_plans.py). The only shuffle left in the query is the final
    tiny aggregation.

    The ``merge`` hint opts out of the broadcast that AQE would otherwise
    pick for the small test dim — at 100 TB customer outgrows broadcast
    and this bucketed plan is exactly what you want already in place."""
    from json_parquet_convertor_spark.sources.io import _RUN_TOKEN, run_tmp

    # Stable per-process names + overwrite mode: repeated invocations (bench
    # reps, verify sweeps) reuse the same two catalog entries instead of
    # accumulating uuid-suffixed ones per call; each call's files go to its
    # own scratch dir.
    t_orders, t_cust = f"jpc_orders_b_{_RUN_TOKEN}", f"jpc_cust_b_{_RUN_TOKEN}"
    base = run_tmp("bucketed")

    (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_totalprice")
        .write.bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .option("path", f"{base}/orders")
        .mode("overwrite")
        .saveAsTable(t_orders)
    )
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .write.bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .option("path", f"{base}/customer")
        .mode("overwrite")
        .saveAsTable(t_cust)
    )
    orders_b, cust_b = spark.table(t_orders), spark.table(t_cust)
    return (
        orders_b.hint("merge")
        .join(cust_b, orders_b.o_custkey == cust_b.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "q_join_salted",
    oracle="""
    -- the (18,4)x(4,2) product sums at SCALE 6, so the scaled numerator
    -- crosses 2^53 at sf1.0 volumes (1.56e17 on the composed fixture)
    -- where DuckDB's direct decimal->double cast double-rounds 1 ulp off
    -- Spark's correctly-rounded BigDecimal conversion — route the cast
    -- through VARCHAR (the r6 rule; string->double parses correctly
    -- rounded in both engines)
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (CASE l_returnflag WHEN 'A' THEN CAST(1.10 AS DECIMAL(4,2))
                                         WHEN 'N' THEN CAST(1.20 AS DECIMAL(4,2))
                                         ELSE CAST(1.30 AS DECIMAL(4,2)) END))
                AS VARCHAR) AS DOUBLE) AS weighted_price
    FROM lineitem
    -- inner-join fidelity (r13, --conflict): the engine joins the fact
    -- to a 3-row dim, so a drifted flag ('A~v2') matches NOTHING — the
    -- CASE lookup's ELSE arm must not resurrect it as a phantom group
    WHERE l_returnflag IN ('A', 'N', 'R')
    GROUP BY 1
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join for skewed keys — the manual fix when AQE skew-split
    isn't enough. The fact side's join key (l_returnflag, 3 values over the
    whole table) is maximally skewed: a plain key join funnels each flag's
    rows through ONE task. Salting appends a deterministic salt in [0, 8)
    to the fact side and replicates the dim side 8x via explode(sequence),
    so the join key becomes (flag, salt) — 24 evenly-loaded partitions
    instead of 3 hot ones. The post-join aggregate is salt-oblivious.

    The oracle computes the same weighted sum join-free (CASE lookup),
    proving the salt changed the distribution, not the semantics.
    Broadcast bound: the salted dim is |dim| × salt_n rows (24 here);
    when the replicated dim outgrows the broadcast threshold, salt BOTH
    sides instead (fact gets rand-mod salt, dim explodes the full range)
    and shuffle-join on (key, salt) — load-balance is identical."""
    salt_n = 8
    dim = spark.createDataFrame(
        [("A", "1.10"), ("N", "1.20"), ("R", "1.30")], ["flag", "factor_s"]
    ).select("flag", F.col("factor_s").cast("decimal(4,2)").alias("factor"))
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt_n - 1)))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        id_hash("l_orderkey", salt_n).alias("salt"),
    )
    joined = li.join(
        F.broadcast(dim_salted),
        (li.l_returnflag == dim_salted.flag) & (li.salt == dim_salted.salt),
    )
    from json_parquet_convertor_spark.exact import dec

    return joined.groupBy("flag").agg(
        F.count("*").alias("n_lines"),
        F.sum(dec("l_extendedprice", 18, 4) * F.col("factor"))
        .cast("double")
        .alias("weighted_price"),
    )


@query(
    "q_composite_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2))
                    * (1 - CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_composite_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): the canonical multi-operator
    composite — selective dim filter, 3-way join, decimal-exact revenue
    aggregate, deterministic top-10. Exercises the whole stack in one plan
    the way a real report query would.

    Scale design: both date filters and the mktsegment predicate push into
    the parquet scans (plan-asserted pushdown elsewhere), so the joins see
    ~1/5 of customers and a fraction of orders/lineitem; the orders⋈customer
    side shrinks enough for AQE to broadcast it into the lineitem join at
    small SFs while the same declarative plan falls back to shuffled joins
    at 100 TB. The top-10 is TakeOrderedAndProject — no global sort. The
    tiebreak (revenue, date, orderkey) makes the LIMIT deterministic across
    engines; revenue is summed in decimal so ties are exact, not
    float-jittered (exact.py's factor-cast rule)."""
    from json_parquet_convertor_spark.exact import dec

    cutoff = F.lit("1998-06-01").cast("timestamp")
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    revenue = (
        F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2)))
        .cast("double")
        .alias("revenue")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenue)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(
            F.col("revenue").desc(), F.col("order_date"), F.col("l_orderkey")
        )
        .limit(10)
    )


@query(
    "q_join_range_binned",
    oracle="""
    WITH iv AS (
        SELECT o_orderkey AS iv_id,
               TIMESTAMP '2024-01-01' + (o_orderkey % 23) * INTERVAL 1 DAY
                   AS s
        FROM orders WHERE o_orderkey % 300 = 0
    )
    SELECT iv_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM iv JOIN events e
      ON e.ts >= iv.s AND e.ts < iv.s + 3 * INTERVAL 1 DAY
    GROUP BY iv_id
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (no equi key at all) made scale-safe by binning:
    intervals explode into the day bins they cover, events derive their
    one day bin, and the engines meet on a bin EQUI-join with the exact
    range check as a post-filter. The oracle states the naive range
    predicate directly.

    Without the bins Spark can only plan a BroadcastNestedLoopJoin —
    O(events × intervals) compares. Binned, the cost is
    O(events + intervals × days_covered) and the join is an ordinary
    shuffled equi-join: partitionable, AQE-skew-splittable, broadcastable
    when the interval side is small. Each (event, interval) pair meets
    exactly once because an event has ONE bin and a half-open interval
    covers each of its bins once — no post-dedup needed.

    Scale: bin width tunes the tradeoff (width ≈ median interval length
    minimizes replication); the interval side here replicates ×3 per row
    while the 100 TB fact side is never replicated, only hashed on its
    bin."""
    iv = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 300 == 0)
        .select(
            F.col("o_orderkey").alias("iv_id"),
            F.expr(
                "TIMESTAMP '2024-01-01'"
                " + make_interval(0,0,0, CAST(o_orderkey % 23 AS INT))"
            ).alias("s"),
        )
        .withColumn("e", F.expr("s + INTERVAL 3 DAY"))
        .withColumn(
            "bin",
            F.explode(
                # truncate==floor holds: s/e are interval bounds built by
                # literal-second arithmetic (fraction-free), so
                # unix_timestamp's toward-zero truncation cannot diverge
                F.sequence(
                    F.floor(F.unix_timestamp("s") / 86400),
                    F.floor((F.unix_timestamp("e") - 1) / 86400),
                )
            ),
        )
    )
    ev = spread(load_table(spark, sf_dir, "events")).withColumn(
        "bin", fday("ts")
    )
    return (
        ev.join(iv, "bin")
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .groupBy("iv_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


@query(
    "q_join_fuzzy",
    oracle="""
    WITH n AS (SELECT n_name FROM nation)
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INT) AS edit_dist
    FROM n a JOIN n b
      ON substr(a.n_name, 1, 1) = substr(b.n_name, 1, 1)
     AND a.n_name < b.n_name
    WHERE levenshtein(a.n_name, b.n_name) <= 5
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (approximate-string) join with BLOCKING: candidate pairs form
    only inside first-letter blocks (an equi-join), then Levenshtein
    distance <= 5 filters inside the block — entity-resolution's standard
    two-phase shape (block cheaply, compare expensively) expressed as an
    ordinary shuffled equi-join.

    Without the block key this is an all-pairs O(N²) comparison; with it,
    cost is Σ block² — and the block key is swappable (soundex, first
    token, length bucket, LSH of q-grams) without touching the join
    shape. Levenshtein runs JVM-side in both engines with identical
    dynamic-programming semantics, so the integer distances hash-match.

    Scale: same posture as every dedup operator here — candidates only
    ever meet inside equi-join buckets; skewed blocks (everyone named
    'J...') are exactly the salting / AQE-skew-split case q_join_salted
    demonstrates."""
    n = load_table(spark, sf_dir, "nation").select("n_name")
    a = n.select(F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(
            b,
            (
                F.substring("name_a", 1, 1)
                == F.substring("name_b", 1, 1)
            )
            & (F.col("name_a") < F.col("name_b")),
        )
        .filter(dist <= 5)
        .select("name_a", "name_b", dist.cast("int").alias("edit_dist"))
    )


@query(
    "q_join_spatial_grid",
    oracle="""
    WITH p AS (
        SELECT c_custkey,
               ((c_custkey * 53) % 1000) / 10.0 AS x,
               ((c_custkey * 97) % 1000) / 10.0 AS y
        FROM customer
    ),
    s AS (
        SELECT n_nationkey,
               ((n_nationkey * 41) % 1000) / 10.0 AS sx,
               ((n_nationkey * 67) % 1000) / 10.0 AS sy
        FROM nation
    )
    SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_within,
           round(MIN((x - sx) * (x - sx) + (y - sy) * (y - sy)), 4)
               AS min_d2
    FROM p JOIN s
      ON (x - sx) * (x - sx) + (y - sy) * (y - sy) <= 225.0
    GROUP BY c_custkey
    """,
)
def q_join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via GRID bucketing: points (customers) and
    stations get deterministic planar coordinates, each station replicates
    into its 3×3 neighborhood of 15-unit grid cells, and candidates meet
    on a cell EQUI-join before the exact distance filter — the standard
    scale-out shape for "find everything within radius r" when no spatial
    index exists. Cell size = radius guarantees correctness (anything
    within r of a point lies in the 3×3 block of its cell), and each
    qualifying pair meets exactly once (a point has ONE cell; replicas
    are distinct cells).

    The oracle states the naive radius predicate; Spark's plan is the
    gridded equi-join — same rows, O(points + 9·stations) candidates
    instead of O(points × stations).

    Scale: only the small station side replicates (×9); the big point
    side is hashed once on its cell. Skewed cells (urban cores) are the
    q_join_salted case. Swap the arithmetic cells for geohash/S2/H3
    prefixes and the join shape is unchanged. Broadcast bound: 9×|stations|
    rows — fine while stations number ≲10^6; a station set past that drops
    the hint and the cell equi-join shuffles both sides on (cx, cy), same
    candidate set."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        (((F.col("c_custkey") * 53) % 1000) / 10.0).alias("x"),
        (((F.col("c_custkey") * 97) % 1000) / 10.0).alias("y"),
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (((F.col("n_nationkey") * 41) % 1000) / 10.0).alias("sx"),
        (((F.col("n_nationkey") * 67) % 1000) / 10.0).alias("sy"),
    )
    p = cust.withColumn("cx", F.floor(F.col("x") / 15)).withColumn(
        "cy", F.floor(F.col("y") / 15)
    )
    offsets = F.expr(
        "explode(flatten(transform(sequence(-1, 1), dx ->"
        " transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
    )
    s = (
        nat.select("*", offsets.alias("o"))
        .withColumn("cx", F.floor(F.col("sx") / 15) + F.col("o.dx"))
        .withColumn("cy", F.floor(F.col("sy") / 15) + F.col("o.dy"))
        .drop("o")
    )
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        p.join(F.broadcast(s), ["cx", "cy"])
        .filter(d2 <= 225.0)
        .groupBy("c_custkey")
        .agg(
            F.count("*").alias("n_within"),
            F.round(F.min(d2), 4).alias("min_d2"),
        )
    )


@query(
    "q_join_prune_dynamic",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE strftime(o_orderdate, '%Y') = '1997'
    GROUP BY 1
    """,
)
def q_join_prune_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is laid out partitioned
    by month (the 100 TB date-partitioned-lake layout), the dim side
    selects months through a derived attribute (year), and Spark injects
    the dim's runtime join-key values as a partition filter into the fact
    scan — only the 12 matching month directories are read, without the
    query ever naming them statically. tests/test_plans.py asserts the
    `dynamicpruning` subquery is present in the fact scan's partition
    filters.

    At 100 TB this is THE mechanism that turns "join fact to a filtered
    dim" into "read 1% of the fact table": static pruning can't see
    through the join, and without DPP the scan reads every partition.
    The partitioned copy is written once per fixture stamp (not per call)
    — layout jobs are amortized across every query that reads them."""
    monthly = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    dest = materialize(
        "dpp_orders",
        sf_dir,
        lambda d: monthly.write.partitionBy("o_month")
        .mode("overwrite")
        .parquet(d),
    )
    # explicit schema: an empty partitioned write has no month dirs to
    # infer from (r6 empty-fixture sweep); DPP still fires on the
    # declared partition column
    fact = spark.read.schema(monthly.schema).parquet(dest)
    dim = (
        fact.select("o_month")
        .distinct()
        .withColumn("o_year", F.substring("o_month", 1, 4))
        .filter(F.col("o_year") == "1997")
        .select("o_month")
    )
    return (
        fact.join(dim.hint("broadcast"), "o_month")
        .groupBy("o_month")
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "q_join_null_safe",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0 THEN NULL
                    ELSE o_custkey % 50 END AS k
        FROM orders
    ), c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 13 = 0 THEN NULL
                    ELSE c_custkey % 50 END AS k
        FROM customer
    )
    SELECT o.k AS k,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
    FROM o JOIN c ON o.k IS NOT DISTINCT FROM c.k
    GROUP BY 1
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    EACH OTHER instead of vanishing — the semantics dimension-key joins
    need when "unknown" is itself a bucket (unattributed traffic, missing
    region). A plain `=` join silently drops every NULL-keyed row on both
    sides; flagging that difference is why this is its own operator.

    Scale design: Spark plans `<=>` as an ordinary hash join — NULL
    hashes like any value, so the join stays a shuffled equi-join (NO
    fallback to nested-loop, asserted in tests/test_plans.py). The key
    here has FIXED NDV (50 buckets + NULL), so materializing the raw
    join is Θ(|orders|·|customer|/NDV) — quadratic in scale, which the
    round-5 10x generated probe measured at 38x for 10x data. The
    per-group aggregate only needs per-key COUNTS, so the aggregation is
    PUSHED THROUGH the join: each side collapses to ≤51 rows first
    (n_pairs = n_orders·n_rows_c per key, exactly the join's group
    cardinality), and the null-safe join runs over the two aggregate
    frames — same result, same `<=>` operator, linear cost. Caveat at
    100 TB stands for joins that must materialize pairs: the NULL bucket
    is a single key and the biggest skew hot spot — q_skew_diagnose
    surfaces it, q_join_salted fixes it."""
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
    o_agg = o.groupBy("k").agg(F.count("*").alias("n_orders"))
    c_agg = c.groupBy("k").agg(
        F.count("*").alias("n_rows_c"),
        F.countDistinct("c_custkey").alias("n_cust"),
    )
    return (
        o_agg.alias("o")
        .join(c_agg.alias("c"), F.col("o.k").eqNullSafe(F.col("c.k")))
        .select(
            F.col("o.k").alias("k"),
            (F.col("n_orders") * F.col("n_rows_c"))
            .cast("bigint")
            .alias("n_pairs"),
            F.col("n_cust").cast("bigint").alias("n_cust"),
        )
    )


@query(
    "q_join_asof_tolerance",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey AS u,
               TIMESTAMP '2024-01-01'
                   + to_seconds(CAST(o_orderkey % 2678400 AS BIGINT)) AS ts
        FROM orders
    ), e AS (
        -- orphan (NULL-user) events can never match an equi-key; the
        -- engine drops them from the lookup side identically
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ets FROM events
        WHERE user_id IS NOT NULL
    ), j AS (
        -- native ASOF (latest event at-or-before), tolerance as a
        -- post-filter — NOT the naive bounded join+MAX: that
        -- materializes every in-window (order × event) pair per user,
        -- which the r12 sf1.0 composed sweep proved infeasible under
        -- --extreme/--hotkey key collapse (one user × 10M events ×
        -- 750k orders). Equivalent by construction: the latest event
        -- <= ts IS the window max when in tolerance, and when it is
        -- older than the bound the window is empty.
        SELECT o.o_orderkey, o.ts, e.ets
        FROM o ASOF LEFT JOIN e ON e.user_id = o.u AND e.ets <= o.ts
    )
    SELECT o_orderkey,
           CASE WHEN ets >= ts - INTERVAL 6 HOUR
                THEN CAST(floor(epoch(ets)) AS BIGINT) END AS ev_epoch,
           CAST(ets IS NOT NULL AND ets >= ts - INTERVAL 6 HOUR AS INT)
               AS matched
    FROM j
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas merge_asof
    `tolerance=`): each order matches the latest same-user event at or
    before its timestamp, but only if that event is ≤ 6 hours old —
    stale features are worse than no features in an online-training
    pipeline, so the feature-store read API makes the bound explicit.

    Same union-merge engine as q_join_asof (one linear shuffle on the
    user key, O(1) state per row, no quadratic pair blow-up): carry the
    last event time forward per user, then APPLY THE TOLERANCE as a
    post-filter that nulls out matches older than the bound. The oracle
    uses DuckDB's native ASOF join with the same tolerance post-filter
    (r12: its former naive bounded join+MAX was quadratic per user —
    fine at pytest scale, infeasible at sf1.0 composed where the
    --extreme/--hotkey axes collapse the key space).

    Order timestamps spread over the whole event month (seconds
    granularity) so tolerance hits and misses both occur."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("u"),
        F.expr(
            "TIMESTAMP '2024-01-01'"
            " + make_interval(0, 0, 0, 0, 0, 0, CAST(o_orderkey % 2678400 AS INT))"
        ).alias("ts"),
        F.lit(1).alias("is_order"),
        F.lit(None).cast("timestamp").alias("ev_ts_in"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.col("user_id").alias("u"),
        "ts",
        F.lit(0).alias("is_order"),
        F.col("ts").alias("ev_ts_in"),
    )
    from pyspark.sql import Window

    # NULL-user events (orphans) are dropped from the lookup side — the
    # oracle's equi-join matches nothing on NULL, so the NULL-custkey
    # partition must carry NO events; its orders still emit unmatched
    # (same class as q_join_asof; only populates when --bigid spreads
    # order timestamps across the event month)
    merged = orders.unionByName(ev.filter(F.col("u").isNotNull()))
    w = (
        Window.partitionBy("u")
        .orderBy("ts", "is_order")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_ev", F.last("ev_ts_in", ignorenulls=True).over(w)
    )
    return (
        carried.filter(F.col("is_order") == 1)
        .select(
            "o_orderkey",
            F.when(
                F.col("last_ev")
                >= F.col("ts") - F.expr("INTERVAL 6 HOUR"),
                fsec("last_ev"),
            ).alias("ev_epoch"),
        )
        .withColumn(
            "matched", F.col("ev_epoch").isNotNull().cast("int")
        )
    )


@query(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_suppkey IN (
        SELECT s_suppkey
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
    )
    GROUP BY 1
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with an explicit Bloom-filter prefilter — the runtime-
    filter pattern that makes selective big×small semi-joins cheap at
    100 TB. The build side (suppliers in one region) is folded into a
    65 536-bit Bloom bitmap stored as 1 024 (word, bits) rows; the fact
    side probes the broadcast bitmap with k=2 xxhash64 positions and drops
    every row that misses EITHER bit before any shuffle happens. Survivors
    (true matches + Bloom false positives) then take the exact semi-join,
    so the result is exactly the semi-join — the Bloom stage only sheds
    volume early, the way Spark's own `runtime.bloomFilter` injection or a
    DPP subquery filter would, but stated explicitly so it works on any
    join shape and any Spark build.

    Scale design: the bitmap is O(bits/64) rows regardless of build-side
    cardinality (size the bits to the build count × ~10 for a ~1 % false-
    positive rate at k=2); both probe joins broadcast it, so the fact scan
    stays shuffle-free until the final refine-and-aggregate, which runs on
    the ~selectivity-sized remnant instead of the full table."""
    m_bits = 1 << 16
    dim = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    # build: fold k=2 hash positions per key into (word, bits) rows
    pos = dim.select(
        F.explode(
            F.array(
                F.pmod(F.xxhash64("s_suppkey", F.lit(1)), F.lit(m_bits)),
                F.pmod(F.xxhash64("s_suppkey", F.lit(2)), F.lit(m_bits)),
            )
        ).alias("pos")
    )
    bloom = (
        pos.select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_returnflag", "l_quantity"
    )
    probed = fact.withColumns(
        {
            "p1": F.pmod(F.xxhash64("l_suppkey", F.lit(1)), F.lit(m_bits)),
            "p2": F.pmod(F.xxhash64("l_suppkey", F.lit(2)), F.lit(m_bits)),
        }
    )
    b1 = bloom.select(F.col("word").alias("w1"), F.col("bits").alias("bits1"))
    b2 = bloom.select(F.col("word").alias("w2"), F.col("bits").alias("bits2"))
    candidates = (
        probed.join(
            F.broadcast(b1), (F.col("p1") / 64).cast("long") == F.col("w1")
        )
        .join(F.broadcast(b2), (F.col("p2") / 64).cast("long") == F.col("w2"))
        .filter(
            F.col("bits1").bitwiseAND(
                F.expr("shiftleft(1L, CAST(p1 % 64 AS INT))")
            )
            != 0
        )
        .filter(
            F.col("bits2").bitwiseAND(
                F.expr("shiftleft(1L, CAST(p2 % 64 AS INT))")
            )
            != 0
        )
    )
    return (
        candidates.join(  # exact refine: kill Bloom false positives
            F.broadcast(dim),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_join_hinted",
    oracle="""
    SELECT l_returnflag AS flag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def q_join_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy hint: SHUFFLE_HASH forces a shuffled hash join
    where Catalyst's default for two big sides is sort-merge. SHJ skips
    BOTH sort passes — the win whenever the build side's per-partition
    slice fits in memory (hash build is O(n), sort is O(n log n), and
    SMJ sorts the probe side too). The flip side at 100 TB: a skewed or
    underpartitioned build side OOMs where SMJ would have spilled
    gracefully — which is why this is a per-query HINT, not a config
    default, and why q_skew_diagnose runs first. Plan shape (ShuffledHashJoin,
    no Sort under the join) is asserted in tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    return (
        li.join(
            o.hint("shuffle_hash"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count("*").alias("n_lines"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "q_join_interval_overlap",
    oracle="""
    WITH s AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) - 300 AS s_start,
               CAST(floor(epoch(ts)) AS BIGINT) + 300 AS s_end,
               event_id AS s_id
        FROM events WHERE event_type = 'purchase'
    ),
    i AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) - 900 AS i_start,
               CAST(floor(epoch(ts)) AS BIGINT) + 900 AS i_end,
               event_id AS i_id
        FROM events WHERE event_type = 'error' AND event_id % 50 = 0
    )
    -- DISTINCT: one row per overlapping (session, incident) PAIR — the
    -- Spark twin's dropDuplicates([s_id, i_id]) already states this, and
    -- --rowdup re-delivers copies of the same event_id that would
    -- otherwise emit the pair once per copy-combination
    SELECT DISTINCT s.user_id, s.s_id, i.i_id,
           CAST(LEAST(s.s_end, i.i_end)
                - GREATEST(s.s_start, i.i_start) AS BIGINT) AS overlap_sec
    FROM s JOIN i
      ON s.s_start < i.i_end AND i.i_start < s.s_end
    """,
)
def q_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join — which purchase windows (±5 min
    around each purchase) overlap an incident window (±15 min around
    sampled error events)? The blast-radius question every ops/attribution
    pipeline asks, and the last member of this repo's temporal-join
    family (as-of = point→latest-point, range = point→interval, this =
    interval→interval).

    Scale design: a naive overlap predicate is a nested-loop join. Both
    interval sets are BINNED to a 30-minute grid, each interval exploding
    into the bins it touches (≤ 2 bins for sessions, ≤ 2 for incidents —
    ceil(len/bin)+1); candidates meet ONLY in the bin equi-join, the
    exact overlap predicate refines, and dropDuplicates removes the
    multi-bin double-hits. Candidate volume is bounded by per-bin
    occupancy (the same hot-key logic as every LSH bucket join here) —
    at 100 TB you size the grid so bins hold ~thousands of intervals.
    The oracle runs the naive theta join: small enough at sf0.01, and
    exactly what the binned plan must reproduce."""
    ep = fsec("ts")
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (ep - 300).alias("s_start"),
        (ep + 300).alias("s_end"),
        F.col("event_id").alias("s_id"),
    )
    incidents = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 50 == 0)
    ).select(
        (ep - 900).alias("i_start"),
        (ep + 900).alias("i_end"),
        F.col("event_id").alias("i_id"),
    )
    bin_s = 1800

    def binned(df, start, end):
        return df.withColumn(
            "bin",
            F.explode(
                F.sequence(
                    (F.col(start) / bin_s).cast("bigint"),
                    (F.col(end) / bin_s).cast("bigint"),
                )
            ),
        )
    sb = binned(sessions, "s_start", "s_end")
    ib = binned(incidents, "i_start", "i_end")
    return (
        sb.join(ib, "bin")
        .filter(
            (F.col("s_start") < F.col("i_end"))
            & (F.col("i_start") < F.col("s_end"))
        )
        .dropDuplicates(["s_id", "i_id"])
        .select(
            "user_id",
            "s_id",
            "i_id",
            (
                F.least("s_end", "i_end")
                - F.greatest("s_start", "i_start")
            ).alias("overlap_sec"),
        )
    )


@query(
    "q_composite_q5",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2))
                    * (1 - CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q_composite_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): the six-table composite —
    region→nation dim chain, a year of orders, and the LOCAL-supplier
    condition (c_nationkey = s_nationkey) that makes the join graph
    cyclic, not a star. Q3 (q_composite_q3) is the 3-table warm-up; this
    is the plan where join ORDER and build-side choice actually decide
    the runtime, which is why it's the classic optimizer benchmark.

    Scale design: region (1 row after the filter), nation (25) and
    supplier (SF×10k) broadcast — so the fact-side pipeline is
    lineitem⋈orders (the only big×big join, on the orders shuffle key)
    with every dim applied map-side; the year filter pushes into the
    orders scan and dynamic partition pruning would prune a
    date-partitioned fact at 100 TB. The local-supplier equality is a
    join-level predicate, not a post-filter, so Catalyst applies it
    inside the supplier hash join — candidates never materialize.
    Revenue sums in decimal (exact.py), tiebreak on n_name for a
    deterministic order."""
    from json_parquet_convertor_spark.exact import dec

    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # dim chain folds driver-free: nation semi-restricted to the region
    nat = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice", 12, 2) * (1 - dec("l_discount", 4, 2)))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "q_composite_q18",
    oracle="""
    WITH hq AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(trunc(l_quantity) AS BIGINT)) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice, hq.sum_qty
    FROM hq
    JOIN orders o   ON o.o_orderkey = hq.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_composite_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): find the orders whose
    total line quantity exceeds a threshold, then attach order and
    customer detail — the HAVING-driven semi-join composite. The classic
    trap Q18 exists to expose: the naive plan aggregates lineitem TWICE
    (once for the IN-subquery, once for the displayed sum). Here the
    heavy-order table is computed ONCE and reused as both the filter and
    the sum column — one lineitem shuffle total.

    Scale design: the lineitem groupBy is the only fact-table shuffle;
    its output (orders passing the threshold — a tiny fraction) drives
    broadcast joins against orders and customer at this SF, and at
    100 TB AQE keeps the post-HAVING side small enough that the
    orders join stays broadcast while customer attaches after the
    top-100 cut if the optimizer pushes the limit (TakeOrderedAndProject
    bounds the result either way). Quantities are integral, so the sum
    is computed in BIGINT — exact in both engines by construction."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("bigint").alias("qty")
    )
    hq = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name"
    )
    return (
        hq.join(orders, hq.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# array-membership join (explode → equi-join, not array_contains)
# ---------------------------------------------------------------------------


@query(
    "q_join_array_membership",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT d.doc_id, u.tok
        FROM documents d
        CROSS JOIN unnest(string_split(d.text, ' ')) AS u(tok)
        WHERE u.tok IN ('spark', 'table', 'hash', 'merge', 'join')
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           array_to_string(list_sort(list(tok)), ',') AS hits
    FROM tok GROUP BY doc_id
    """,
)
def q_join_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-membership join: which watchlist keywords does each document
    contain? The naive formulation — `array_contains(tokens, kw)` against
    every keyword — is a nested-loop theta join (|docs| × |watchlist|
    evaluations, no pushdown); the Spark-first shape EXPLODES the token
    array and equi-joins the broadcast watchlist, turning membership into
    a hash probe per token. Content moderation, PII keyword screens, and
    topic tagging are all this join.

    Distinct (doc, keyword) pairs before the rollup so repeated words
    count once; the hit list is sorted and comma-serialized on both
    engines before the hash compare (registry array rule).

    Scale design: explode is linear; the watchlist broadcast (bounded —
    keyword screens are KBs, documented broadcast-size rule) makes the
    join map-side, so the only shuffle is the per-doc rollup on doc_id —
    which q_text_tokens et al. already shuffle on. If the watchlist ever
    outgrew broadcast, the same explode feeds a shuffle equi-join on the
    token key; the plan family, not the operator, changes."""
    watch = spark.createDataFrame(
        [("spark",), ("table",), ("hash",), ("merge",), ("join",)], ["kw"]
    )
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    hits = tok.join(F.broadcast(watch), tok.tok == watch.kw).select(
        "doc_id", "tok"
    )
    # r14 optimization (guide §2.4 remove shuffles): the distinct
    # (doc, keyword) pair set was its own aggregate + exchange on
    # (doc_id, tok) ahead of the per-doc rollup's second exchange —
    # collect_set dedups inside the rollup aggregate itself, so one
    # exchange carries only matched tokens. The set is bounded by the
    # watchlist size (≤5 elements/doc), n_hits = |set| exactly as the
    # old COUNT(*) over distinct pairs, and the equi-join emits no NULL
    # tok, so set semantics are identical.
    kws = F.sort_array(F.collect_set("tok"))
    return hits.groupBy("doc_id").agg(
        F.size(kws).cast("bigint").alias("n_hits"),
        F.array_join(kws, ",").alias("hits"),
    )


# ---------------------------------------------------------------------------
# point-in-time (SCD2 as-of) join — fact rows against a versioned dimension
# ---------------------------------------------------------------------------


@query(
    "q_join_point_in_time",
    oracle="""
    WITH dim AS (
        SELECT o_custkey AS custkey,
               CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
                    AS BIGINT) AS valid_from,
               -- sentinel-encoded (r11, --evolve): o_orderpriority is
               -- nullable (old-schema part files) and DuckDB arg_max
               -- SKIPS NULL values where Spark max_by returns the value
               -- at the true extreme key; chr(1) makes every row visible
               -- and decodes back to NULL in the final select.
               -- Lexicographic STRUCT max, not arg_max (r13, --conflict):
               -- a conflicting re-delivery ties the max o_orderkey with
               -- drifted priorities, so the pick carries the priority as
               -- its own tiebreak — both engines compare (key, payload)
               -- structs field-wise left to right.
               (max(struct_pack(
                   k := o_orderkey,
                   p := COALESCE(o_orderpriority, chr(1))))).p
                   AS state
        FROM orders GROUP BY 1, 2
    ),
    versions AS (
        SELECT custkey, valid_from, state,
               lead(valid_from) OVER (
                   PARTITION BY custkey ORDER BY valid_from
               ) AS valid_to
        FROM dim
    ),
    facts AS (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS custkey,
               CAST(floor(epoch(CAST(l.l_shipdate AS TIMESTAMP)) / 86400)
                    AS BIGINT) AS ship_day
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    -- versions are CONTIGUOUS per custkey (valid_to = next valid_from),
    -- so interval containment == greatest valid_from <= ship_day, which
    -- is DuckDB's native ASOF JOIN — O(n log n) instead of the generic
    -- equi+range filter that ground through ~1e9 (fact x version) pairs
    -- under hot-custkey skew at gen sf1.0
    SELECT f.l_orderkey, f.l_linenumber, f.custkey, f.ship_day,
           NULLIF(v.state, chr(1)) AS state_asof
    FROM facts f ASOF LEFT JOIN versions v
      ON f.custkey = v.custkey
     AND f.ship_day >= v.valid_from
    """,
)
def q_join_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every shipment picks up the customer's order
    priority AS OF its ship day — i.e. the SCD2 dimension version whose
    [valid_from, valid_to) span contains the fact timestamp. This is the
    lookup every versioned-dimension lake needs (q_scd2_history BUILDS
    the history; this query CONSUMES one), and the train-data variant is
    feature-leakage prevention: a feature joined point-in-time can never
    see the future.

    Scale design: the naive formulation is a range join (key equality +
    BETWEEN) whose worst case multiplies each fact by every version of
    its key. This implementation never builds that pairing: dimension
    versions and facts are UNIONED into one stream keyed by custkey and
    sorted by (day, kind) — versions sorting before facts on the same
    day — and one last-non-null window carries the current state onto
    each fact row. Cost = one shuffle of facts+versions on the dimension
    key and an O(1)-state window: the as-of join collapses into the same
    single-sort pattern as q_join_asof, with per-version ties resolved
    deterministically at build time (max_by orderkey within a day).
    DuckDB twins it as the explicit interval join — same result, which
    is exactly the equivalence the window rewrite claims. Facts earlier
    than their customer's first version keep a NULL state (left-join
    semantics: "no version was in effect"), which the fixture exercises
    because its synthetic ship dates are not ordered after order
    dates."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day = fday
    # NULL-custkey orders (orphans — the --nullkey axis) contribute NO
    # dimension version: the oracle's ASOF equi-key never matches NULL,
    # so the NULL-custkey carry partition must stay version-free — its
    # facts still emit with NULL state (left-join semantics)
    dim = (
        o.filter(F.col("o_custkey").isNotNull())
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            day(F.col("o_orderdate")).alias("d"),
        )
        # sentinel-encoded state (see oracle comment): a version whose
        # argmax row carries a NULL priority must still act as a version
        # BOUNDARY in the ignorenulls carry below (a bare NULL state
        # would silently extend the previous version past its valid_to).
        # Collision assumption: no genuine o_orderpriority value is the
        # bare control byte \x01 — pinned by
        # tests/test_genfix_parity.py::test_nul_sentinel_absent_from_
        # orders_priority; a future fixture axis that dirties orders
        # strings must avoid \x01 (or this decode must switch sentinel)
        # struct max, not max_by (r13, --conflict): see oracle comment —
        # the coalesce must sit INSIDE the compared struct so a
        # NULL-priority copy loses to its non-NULL twin identically in
        # both engines (Spark struct comparison would sort a NULL field
        # smallest anyway; chr(1) keeps that explicit and decodeable)
        .agg(
            F.max(
                F.struct(
                    F.col("o_orderkey").alias("k"),
                    F.coalesce(
                        F.col("o_orderpriority"), F.lit("\x01")
                    ).alias("p"),
                )
            )["p"].alias("state")
        )
        .select("custkey", "d", F.lit(0).alias("kind"), "state",
                F.lit(None).cast("bigint").alias("l_orderkey"),
                F.lit(None).cast("bigint").alias("l_linenumber"))
    )
    facts = (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("custkey"),
            day(F.col("l_shipdate")).alias("d"),
            F.lit(1).alias("kind"),
            F.lit(None).cast("string").alias("state"),
            "l_orderkey",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        )
    )
    merged = dim.unionByName(facts)
    carry = (
        Window.partitionBy("custkey")
        .orderBy("d", "kind", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = merged.withColumn(
        "state_asof", F.last("state", ignorenulls=True).over(carry)
    )
    return resolved.filter(F.col("kind") == 1).select(
        "l_orderkey",
        "l_linenumber",
        "custkey",
        F.col("d").alias("ship_day"),
        F.nullif(F.col("state_asof"), F.lit("\x01")).alias("state_asof"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: role-playing dimension (nation joined under two roles)
# ---------------------------------------------------------------------------


@query(
    "q_composite_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           -- inner floor first: Spark divides integer floor-seconds, so
           -- the oracle must too — a fractional epoch within 1s below a
           -- 365.25-day-year boundary would otherwise flip the year
           CAST(floor(floor(epoch(CAST(l_shipdate AS TIMESTAMP)))
                      / 86400 / 365.25) AS BIGINT) AS ship_year,
           CAST(SUM(CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(12,2))
                    * (1 - CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q_composite_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bilateral trade between two
    nations by ship year, with the ROLE-PLAYING dimension pattern —
    the same nation table joined twice under different roles
    (supplier's nation vs customer's nation), which star-schema
    optimizers must treat as two independent dims. The OR between the
    two direction tuples is the interesting predicate: it can only be
    applied once BOTH roles are bound.

    Scale design: both nation roles and supplier/customer broadcast
    (each nation filter reduces its dim before the fact joins — the
    supplier side keeps only NATION_1+NATION_2 suppliers, so the fact
    stream shrinks at the FIRST join). lineitem⋈orders stays the only
    big×big join, on the natural orderkey shuffle. The direction OR is
    evaluated on two broadcast-bound small columns, never expanding
    rows. Ship-year from integer epoch arithmetic (365.25-day years)
    keeps the bucketing engine-neutral; revenue is the decimal-factor
    product of exact.py."""
    from json_parquet_convertor_spark.exact import dec

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    pair = nation.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(pair.withColumnRenamed("n_name", "supp_nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(pair.withColumnRenamed("n_name", "cust_nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust), o["o_custkey"] == cust["c_custkey"])
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    year = F.floor(
        fsec("l_shipdate") / 86400 / 365.25
    ).cast("bigint")
    return joined.groupBy(
        "supp_nation", "cust_nation", year.alias("ship_year")
    ).agg(
        F.sum(
            dec("l_extendedprice", 12, 2)
            * (1 - dec("l_discount", 4, 2))
        )
        .cast("double")
        .alias("revenue")
    )
