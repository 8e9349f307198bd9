"""Scans/sinks, projections/filters, sorts/limits, set ops.

SURVEY.md §2 B1 (generalizes reference A1-A4/A6), B2 (generalizes A5),
B6, B7. Everything here is a stock Catalyst plan: filters and projections
reach the parquet scan as PushedFilters/ReadSchema; sorts+limits plan as
TakeOrderedAndProject.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark import convert
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import (
    load_table,
    materialize,
    read_csv,
    read_json,
    run_tmp,
    write_csv,
    write_parquet,
)

# ---------------------------------------------------------------------------
# B1 — scans / sources / sinks
# ---------------------------------------------------------------------------

@query(
    "q_scan_parquet",
    oracle="SELECT * FROM lineitem",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full parquet table scan. At scale the interesting part is what is NOT
    here: no collect, no repartition — the scan parallelism is the file
    splits (`spark.sql.files.maxPartitionBytes`)."""
    return load_table(spark, sf_dir, "lineitem")


@query(
    "q_scan_json",
    # golden-value oracle: the embedded reference samples (convert.py
    # SAMPLE_PERSONS) are the full expected output of the JSON scan
    oracle="""
    SELECT * FROM (VALUES
        ('1122', 'KIM', 'CM', CAST(34 AS INT)),
        ('12',   'AMY', 'AC', CAST(56 AS INT)),
        ('1234', 'Jon', 'CM', CAST(12 AS INT))
    ) AS t("ID", "name", "nationality", "age")
    """,
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference input shape (A3/A4): multiLine single-object JSON files read
    with an explicit schema."""
    src = convert.write_sample_json(
        run_tmp("scan_json")
    )
    df = read_json(spark, src, schema=convert.PERSON_JSON_SCHEMA)
    return df.orderBy("ID")


@query(
    "q_convert_json_parquet",
    # golden-value oracle: fresh goldens computed from the current sample
    # JSON (the reference's checked-in person2 golden is stale, SURVEY §5);
    # age narrowed to TINYINT per the reference's INT32/INT_8 annotation
    oracle="""
    SELECT * FROM (VALUES
        ('1122', 'KIM', 'CM', CAST(34 AS TINYINT)),
        ('12',   'AMY', 'AC', CAST(56 AS TINYINT)),
        ('1234', 'Jon', 'CM', CAST(12 AS TINYINT))
    ) AS t(id, name, nationality, age)
    """,
)
def q_convert_json_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core pipeline (A3→A5→A6): JSON in → rename/zero-fill/
    tinyint cast → snappy parquet out → read back."""
    base = run_tmp("convert")
    src = convert.write_sample_json(os.path.join(base, "json"))
    dst = os.path.join(base, "parquet")
    return convert.json_to_parquet(spark, src, dst).orderBy("id")


@query(
    "q_sink_partitioned",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet write + read-back aggregate. Partitioning by a
    low-cardinality time key is the 100 TB layout primitive: a later
    ``WHERE o_year = 2024`` becomes partition pruning, not a scan."""
    from json_parquet_convertor_spark.exact import dsum

    dst = run_tmp("sink_partitioned")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    write_parquet(orders, dst, partition_by=["o_year"])
    # explicit schema: an EMPTY partitioned write leaves no partition dirs
    # or part files to infer from (r6 empty-fixture sweep); declaring the
    # written schema reads both layouts identically
    back = spark.read.schema(orders.schema).parquet(dst)
    return back.groupBy("o_year").agg(
        F.count("*").alias("cnt"),
        dsum("o_totalprice").alias("sum_price"),
    )


@query(
    "q_scan_csv",
    # the CSV round-trip is lossless on nation, so the source table IS the
    # expected output
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source round-trip with explicit schema (inferSchema would be a
    second full pass at scale)."""
    dst = run_tmp("scan_csv")
    nation = load_table(spark, sf_dir, "nation")
    write_csv(nation, dst)
    back = read_csv(
        spark, dst, "n_nationkey INT, n_name STRING, n_regionkey INT"
    )
    return back.orderBy("n_nationkey")


# ---------------------------------------------------------------------------
# B2 — projections / filters / predicates (generalizes A5)
# ---------------------------------------------------------------------------


@query(
    "q_project_rename_cast",
    oracle="""
    SELECT c_custkey AS id,
           c_name AS full_name,
           CAST(c_nationkey AS TINYINT) AS nat_tiny,
           -- VARCHAR hop: scale-2 midpoint parity (r13 --conflict rule,
           -- see q_agg_groupby's oracle comment)
           CAST(CAST(CAST(c_acctbal AS VARCHAR) AS DECIMAL(12,2)) AS DOUBLE) AS bal_dec
    FROM customer
    """,
)
def q_project_rename_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5's exact shape (convertor/struct.go:20-28): select + rename +
    narrowing cast (nationkey fits in a tinyint like the reference's age)."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("full_name"),
        F.col("c_nationkey").cast("tinyint").alias("nat_tiny"),
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias("bal_dec"),
    )


@query(
    "q_filter_simple",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45
    """,
)
def q_filter_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single comparison predicate — shows up as PushedFilters in the scan."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    )


@query(
    "q_filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE (l_quantity BETWEEN 10 AND 20)
      AND (l_discount > 0.05 OR NOT (l_returnflag = 'A'))
      AND l_linestatus IN ('O', 'F')
    """,
)
def q_filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            c("l_quantity").between(10, 20)
            & ((c("l_discount") > 0.05) | ~(c("l_returnflag") == "A"))
            & c("l_linestatus").isin("O", "F")
        )
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
        )
    )


@query(
    "q_filter_null_semantics",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           NULLIF(l_returnflag, 'N') AS rf_nulled,
           (NULLIF(l_returnflag, 'N') IS NOT DISTINCT FROM NULL) AS rf_is_null_safe
    FROM lineitem
    WHERE NULLIF(l_returnflag, 'N') IS NULL
       OR (NULLIF(l_linestatus, 'F') IS NOT NULL AND l_orderkey % 100 = 0)
    """,
)
def q_filter_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL / null-safe equality (<=>). The base tables are
    null-free (the reference's model has no NULL, SURVEY §1), so nulls are
    derived via NULLIF."""
    li = load_table(spark, sf_dir, "lineitem")
    rf_nulled = F.nullif(F.col("l_returnflag"), F.lit("N"))
    ls_nulled = F.nullif(F.col("l_linestatus"), F.lit("F"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rf_nulled.alias("rf_nulled"),
        rf_nulled.eqNullSafe(F.lit(None)).alias("rf_is_null_safe"),
    ).filter(
        rf_nulled.isNull() | (ls_nulled.isNotNull() & (F.col("l_orderkey") % 100 == 0))
    )


@query(
    "q_filter_like",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_brand
    FROM part
    WHERE p_type LIKE '%BRASS%'
       OR regexp_matches(p_name, '^[ab].*[0-9]$')
       OR p_brand LIKE 'Brand#1_'
    """,
)
def q_filter_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = F.col
    return (
        load_table(spark, sf_dir, "part")
        .filter(
            c("p_type").like("%BRASS%")
            | c("p_name").rlike("^[ab].*[0-9]$")
            | c("p_brand").like("Brand#1_")
        )
        .select("p_partkey", "p_name", "p_type", "p_brand")
    )


@query(
    "q_case_when",
    oracle="""
    SELECT CASE WHEN l_quantity > 40 THEN 'heavy'
                WHEN l_quantity > 20 THEN 'mid'
                ELSE 'light' END AS qty_bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
    FROM lineitem
    GROUP BY 1
    """,
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    from json_parquet_convertor_spark.exact import dsum

    bucket = (
        F.when(F.col("l_quantity") > 40, "heavy")
        .when(F.col("l_quantity") > 20, "mid")
        .otherwise("light")
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(bucket.alias("qty_bucket"))
        .agg(
            F.count("*").alias("cnt"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "q_zero_fill",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '') AS seg_zero,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS bal_zero
    FROM customer
    """,
)
def q_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's missing-field→zero-value semantics (A4): nulls become
    '' / 0, never NULL (convertor/struct.go:4-17 — non-pointer fields, all
    parquet columns required)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.coalesce(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("")
        ).alias("seg_zero"),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")),
            F.lit(0.0),
        ).alias("bal_zero"),
    )


# ---------------------------------------------------------------------------
# B6 — sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "q_sort_multi",
    oracle="""
    SELECT c_custkey, seg_nulled, c_acctbal,
           CAST(ROW_NUMBER() OVER (
               ORDER BY seg_nulled DESC NULLS LAST,
                        c_acctbal ASC NULLS FIRST, c_custkey
           ) AS BIGINT) AS sort_pos
    FROM (
        SELECT c_custkey, NULLIF(c_mktsegment, 'AUTOMOBILE') AS seg_nulled, c_acctbal
        FROM customer
    )
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort, mixed asc/desc, NULLS LAST. The hash compare is
    order-insensitive, so the sort order is captured as a global row-number
    column computed over the same ordering (ties broken by the unique key).

    The global row number is built scale-safely — NOT with an unpartitioned
    ``Window.orderBy`` (which funnels the whole table through one task):

    1. ``repartitionByRange`` on the sort keys — a distributed range sort;
       partition ids increase with key order by construction;
    2. per-partition ``row_number`` (window partitioned by partition id);
    3. per-partition counts → cumulative offsets (one window over
       #partitions rows — bounded by cluster size, not data size) broadcast
       back, ``sort_pos = offset + local_rn``.
    """
    from pyspark.sql.window import Window

    # every key pins its null placement explicitly: Spark ASC defaults to
    # NULLS FIRST but DuckDB to NULLS LAST, so an implicit asc() diverges
    # the moment the column carries NULLs (caught by the --nulls sweep)
    sort_keys = [
        F.col("seg_nulled").desc_nulls_last(),
        F.col("c_acctbal").asc_nulls_first(),
        F.col("c_custkey").asc(),
    ]
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE")).alias("seg_nulled"),
        "c_acctbal",
    )
    ranged = cust.repartitionByRange(16, *sort_keys).withColumn(
        "pid", F.spark_partition_id()
    )
    local_rn = F.row_number().over(Window.partitionBy("pid").orderBy(*sort_keys))
    with_rn = ranged.withColumn("local_rn", local_rn)

    counts = with_rn.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset")
    )
    return (
        with_rn.join(F.broadcast(offsets), "pid")
        .select(
            "c_custkey",
            "seg_nulled",
            "c_acctbal",
            (F.col("offset") + F.col("local_rn")).cast("bigint").alias("sort_pos"),
        )
        .orderBy("sort_pos")
    )


@query(
    "q_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global limit after sort — Catalyst plans TakeOrderedAndProject (no full
    sort, per-partition top-N then merge). Tie broken by unique key so the
    selected set is deterministic."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(50)
    )


@query(
    "q_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_returnflag = 'R'
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# B7 — set operations
# ---------------------------------------------------------------------------


@query(
    "q_union_all",
    oracle="""
    SELECT o_custkey AS custkey, 'orders' AS src FROM orders
    UNION ALL
    SELECT c_custkey AS custkey, 'customer' AS src FROM customer
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), F.lit("orders").alias("src")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.lit("customer").alias("src")
    )
    return orders.unionByName(cust)


@query(
    "q_union_distinct",
    oracle="""
    SELECT o_custkey AS custkey FROM orders
    UNION
    SELECT c_custkey AS custkey FROM customer
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    return orders.unionByName(cust).distinct()


@query(
    "q_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey")
    )
    return cust.intersect(orders)


@query(
    "q_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers without a high-value order (set-difference flavor of the
    anti-join in q_join_anti; the filter keeps the result non-empty)."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cust.subtract(orders)


@query(
    "q_sink_compacted",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE 64 END AS INT)
               AS n_files_small,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0 ELSE 4 END AS INT)
               AS n_files_compacted
    FROM events
    """,
)
def q_sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance op every long-running
    pipeline needs: streaming sinks and over-parallel writers leave
    thousands of small files, and at 100 TB the resulting open/seek storm
    dominates scan time. Write 64 shards, compact to 4 with repartition,
    and verify both layouts hold identical rows. File counts are computed
    engine-side via countDistinct(input_file_name()) — no driver listing.
    Broadcast bound: the crossJoined n_small frame is exactly 1 row."""
    import os as _os

    base = run_tmp("compaction")
    small, compacted = _os.path.join(base, "small"), _os.path.join(base, "big")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    ev.repartition(64).write.mode("overwrite").parquet(small)
    spark.read.parquet(small).repartition(4).write.mode("overwrite").parquet(
        compacted
    )
    n_small = (
        spark.read.parquet(small)
        .select(F.input_file_name().alias("f"))
        .agg(F.countDistinct("f").cast("int").alias("n_files_small"))
    )
    # row count and file count of the compacted layout in ONE scan
    back_stats = (
        spark.read.parquet(compacted)
        .select(F.input_file_name().alias("f"))
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("f").cast("int").alias("n_files_compacted"),
        )
    )
    return back_stats.crossJoin(F.broadcast(n_small)).select(
        "n_rows", "n_files_small", "n_files_compacted"
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH updates AS (
        SELECT event_id, user_id, value * 2 AS value
        FROM events WHERE event_id % 3 = 0
    ),
    inserts AS (
        SELECT event_id + 1000000 AS event_id, user_id, value
        FROM events WHERE event_id % 97 = 0
    ),
    changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(c.event_id, b.event_id) AS event_id,
           COALESCE(c.user_id, b.user_id) AS user_id,
           round(COALESCE(c.value, b.value), 4) AS value,
           CASE WHEN c.event_id IS NULL THEN 'unchanged'
                WHEN b.event_id IS NULL THEN 'inserted'
                ELSE 'updated' END AS merge_action
    FROM (SELECT event_id, user_id, value FROM events) b
    FULL JOIN changes c ON b.event_id = c.event_id
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (upsert) expressed as the classic full-outer-join merge —
    the pattern under every incremental pipeline when a transactional table
    format isn't available: base FULL OUTER JOIN changes on the key,
    coalesce changed columns over base columns, tag each row's action.

    At 100 TB the join shuffles on the merge key exactly once (AQE handles
    the typical skew of hot keys in the changes side), and the result is
    rewritten partition-wise — with Delta/Iceberg this same plan runs under
    MERGE INTO with file-level pruning. The change set here is derived
    deterministically from the base (every 3rd event updated, every 97th
    re-keyed as an insert) so the oracle can reproduce it."""
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    updates = base.filter(F.col("event_id") % 3 == 0).select(
        "event_id", "user_id", (F.col("value") * 2).alias("value")
    )
    inserts = base.filter(F.col("event_id") % 97 == 0).select(
        (F.col("event_id") + 1000000).alias("event_id"), "user_id", "value"
    )
    changes = updates.unionByName(inserts)
    b, c = base.alias("b"), changes.alias("c")
    return b.join(c, F.col("b.event_id") == F.col("c.event_id"), "full").select(
        F.coalesce(F.col("c.event_id"), F.col("b.event_id")).alias("event_id"),
        F.coalesce(F.col("c.user_id"), F.col("b.user_id")).alias("user_id"),
        F.round(F.coalesce(F.col("c.value"), F.col("b.value")), 4).alias("value"),
        F.when(F.col("c.event_id").isNull(), "unchanged")
        .when(F.col("b.event_id").isNull(), "inserted")
        .otherwise("updated")
        .alias("merge_action"),
    )


@query(
    "q_scan_orc",
    # ORC round-trips nation losslessly, so the source table is the oracle
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip — the other columnar format Spark ships
    natively (vectorized reader, predicate pushdown, zlib/zstd). Same
    declarative surface as parquet: at 100 TB the choice between them is an
    ecosystem question (Hive lineage vs everything else), not a Spark one."""
    dst = run_tmp("scan_orc")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").orc(dst)
    return spark.read.orc(dst).orderBy("n_nationkey")


@query(
    "q_scan_text",
    oracle="""
    WITH persons(id, name, nat, age) AS (
        VALUES ('1234', 'Jon', 'CM', 12), ('12', 'AMY', 'AC', 56),
               ('1122', 'KIM', 'CM', 34)
    ),
    lines AS (
        SELECT unnest([
            '{',
            ' "ID": "' || id || '",',
            ' "name": "' || name || '",',
            ' "nationality": "' || nat || '",',
            ' "age": ' || CAST(age AS VARCHAR),
            '}'
        ]) AS line
        FROM persons
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN contains(line, 'nationality') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nationality_lines,
           CAST(MIN(length(line)) AS INT) AS min_len,
           CAST(MAX(length(line)) AS INT) AS max_len
    FROM lines
    """,
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source (spark.read.text) — the raw-ingest format
    for logs and unparsed corpora: one string column, no schema, line
    splits parallelize by file offset. Stats over the reference sample
    files' lines; the oracle reconstructs the same line set inline."""
    src = convert.write_sample_json(run_tmp("scan_text"))
    lines = spark.read.text(src).select(F.col("value").alias("line"))
    nonempty = lines.filter(F.length(F.trim("line")) > 0)
    return nonempty.agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.when(F.col("line").contains("nationality"), 1).otherwise(0)
        ).cast("bigint").alias("n_nationality_lines"),
        F.min(F.length("line")).alias("min_len"),
        F.max(F.length("line")).alias("max_len"),
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
    FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the native unpivot (SQL MELT) operator — the
    inverse of q_pivot and the standard preprocessing step for per-metric
    ML feature tables. Narrow, shuffle-free transform: each input row emits
    one row per value column inside the same task (Catalyst Expand node),
    so at 100 TB it's a pure map stage that preserves partitioning."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return part.unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q_scan_jsonlines",
    # lossless long/string round-trip, so the source table is the oracle
    oracle="SELECT doc_id, lang, n_chars FROM documents",
)
def q_scan_jsonlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-delimited JSON (jsonlines) source/sink round-trip — the
    default interchange format for web-scale corpora (Common Crawl derived
    sets, API exports). Unlike the reference's pretty-printed multiLine
    files (one JSON doc per whole file, unsplittable), NDJSON splits by
    line offset, so a 100 TB input parallelizes like any text scan.
    Explicit schema on read — schema inference would be a second full pass.
    The round-trip copy is written once per fixture stamp (materialize)."""
    dst = materialize(
        "jsonlines",
        sf_dir,
        lambda d: load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .json(d),
    )
    return spark.read.schema("doc_id long, lang string, n_chars long").json(
        dst
    )


@query(
    "q_sink_sorted",
    oracle="""
    SELECT CAST(1 AS INT) AS files_ok,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_overlapping_files
    FROM events
    """,
)
def q_sink_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered sorted data layout (the poor man's Z-order): events
    repartitioned by user_id RANGE, sorted within partitions by (user_id,
    ts), written as parquet. Each output file then holds a disjoint user_id
    range — min/max file statistics let any engine skip files at scan time
    (parquet row-group stats + Spark's file pruning), which at 100 TB is
    the difference between reading 4 files and reading 4,000.

    The query proves the clustering property engine-side: per-file min/max
    ranges are collected via input_file_name() and checked for overlap with
    a lag window (a range layout has ZERO overlapping files; an unsorted
    write almost surely has all files overlapping). The exact FILE COUNT is
    deliberately not part of the oracle contract: the range partitioner
    skips empty partitions, so a degenerate key (one user — r8 --extreme
    sweep) writes 1 file, and even 4 well-spread distinct keys can sample
    into 3 — the emitted files_ok asserts the bounded-count invariant
    (0 files iff 0 rows, else 1..4) engine-side instead."""
    import os as _os

    from pyspark.sql.window import Window as _W

    out = _os.path.join(run_tmp("sorted_sink"), "clustered")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    (
        ev.repartitionByRange(4, "user_id")
        .sortWithinPartitions("user_id", "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    stats = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.min("user_id").alias("lo"),
            F.max("user_id").alias("hi"),
            F.count("*").alias("n"),
        )
    )
    w = _W.partitionBy().orderBy("lo", "f")
    flagged = stats.withColumn(
        "overlaps_prev",
        (F.col("lo") <= F.lag("hi").over(w)).cast("int"),
    )
    return flagged.agg(
        # bounded-count invariant: an empty layout writes 0 files, a
        # populated one 1..4 (<= the requested range partitions)
        F.when(
            F.coalesce(F.sum("n"), F.lit(0)) == 0,
            (F.countDistinct("f") == 0).cast("int"),
        )
        .otherwise(F.countDistinct("f").between(1, 4).cast("int"))
        .alias("files_ok"),
        # coalesce: sum over the zero-file stats frame is NULL, but the
        # row count of an empty layout is 0 (r6 empty-fixture sweep)
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.sum("overlaps_prev"), F.lit(0))
        .cast("long")
        .alias("n_overlapping_files"),
    )


@query(
    "q_scan_binary",
    oracle="""
    SELECT 'blob_' || i || '.bin' AS fname,
           CAST(107 + 17 * i AS BIGINT) AS flen,
           md5('blob-' || i || ':' || repeat('x', 100 + 17 * i))
               AS content_md5
    FROM generate_series(0, 7) t(i)
    """,
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingest via Spark's `binaryFile` source — the
    front door for multimodal corpora (images/audio/PDFs land as one
    (path, length, content) row per file, feeding the mapInPandas decode
    operators downstream, q_multimodal_decode).

    Eight deterministic ASCII blobs are staged per call; the oracle
    reconstructs name/length/md5 arithmetically (same bytes → same md5 hex
    in both engines).

    Scale: binaryFile lists files in parallel and assigns WHOLE files to
    tasks (no splitting — a file must fit a task, which is the right
    contract for opaque media); pair it with the compaction op for the
    many-small-files crawl case. The md5 runs JVM-side on the binary
    column, no Python in the path."""
    src = run_tmp("binary_src")
    os.makedirs(src)
    for i in range(8):
        payload = f"blob-{i}:" + "x" * (100 + 17 * i)
        with open(os.path.join(src, f"blob_{i}.bin"), "wb") as fh:
            fh.write(payload.encode("ascii"))
    files = spark.read.format("binaryFile").load(src)
    return files.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("flen"),
        F.md5("content").alias("content_md5"),
    )


@query(
    "q_json_normalize",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_custkey < 200
    """,
)
def q_json_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON round trip: denormalize orders into one JSON document
    per customer (struct + sorted array-of-structs → `to_json`), then
    normalize back (`from_json` with explicit schema → `explode` →
    flatten) — both directions of the semi-structured workflow the
    reference only does one level of (convertor/convertor.go:129-153 maps
    a flat 4-field object; nested arrays are exactly what its row-struct
    approach cannot express).

    The oracle is the round-trip IDENTITY: the flattened output must equal
    the original relational projection — which also pins that doubles
    survive to_json/from_json bit-exactly (Jackson prints shortest-round-
    trip decimals).

    Scale: nest = one groupBy shuffle of the (filtered, pruned) orders;
    un-nest = row-local parse+explode. Schema-explicit from_json means no
    inference scan, and the JSON stage is a real string column — the same
    path an API export/import would take."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    )
    nested = orders.groupBy("o_custkey").agg(
        F.to_json(
            F.struct(
                F.col("o_custkey").alias("cust"),
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("o_orderkey").alias("k"),
                            F.col("o_totalprice").alias("p"),
                        )
                    )
                ).alias("orders"),
            )
        ).alias("doc")
    )
    schema = (
        "STRUCT<cust: BIGINT, orders: ARRAY<STRUCT<k: BIGINT, p: DOUBLE>>>"
    )
    parsed = nested.select(
        F.from_json("doc", schema).alias("d")
    ).select(
        F.col("d.cust").alias("o_custkey"),
        F.explode("d.orders").alias("o"),
    )
    return parsed.select(
        "o_custkey",
        F.col("o.k").alias("o_orderkey"),
        F.col("o.p").alias("o_totalprice"),
    )


@query(
    "q_scan_pruned",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition PRUNING at the scan: orders are laid out hive-partitioned
    by o_orderstatus (written once per fixture stamp), and the status
    filter then never touches non-matching partitions — it resolves
    against the file LISTING, zero data I/O for pruned branches
    (plan-asserted: the filter appears under PartitionFilters, not as a
    data filter).

    This is the top storage-layout lever at 100 TB: partition by the
    always-filtered low-cardinality column (date, source, status) and
    every query carrying that predicate skips whole directory trees.
    Contrast q_sink_sorted (range-clustering WITHIN files for file-skipping
    via min/max stats) — real layouts compose both."""
    from json_parquet_convertor_spark.exact import dsum

    orders = load_table(spark, sf_dir, "orders")
    part_dir = materialize(
        "orders_by_status",
        sf_dir,
        lambda d: orders.write.partitionBy("o_orderstatus")
        .mode("overwrite")
        .parquet(d),
    )
    # explicit schema: an empty partitioned write has nothing to infer
    # from (r6 empty-fixture sweep); partition pruning still applies
    pruned = spark.read.schema(orders.schema).parquet(part_dir).filter(
        F.col("o_orderstatus") == "F"
    )
    return pruned.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


@query(
    "q_setop_all",
    oracle="""
    WITH a AS (SELECT l_suppkey FROM lineitem WHERE l_quantity < 10),
    b AS (SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'),
    i AS (SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b),
    x AS (SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
    SELECT 'intersect_all' AS op, l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM i GROUP BY l_suppkey
    UNION ALL
    SELECT 'except_all' AS op, l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM x GROUP BY l_suppkey
    """,
)
def q_setop_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations — INTERSECT ALL / EXCEPT ALL keep
    MULTIPLICITY (min(m_a, m_b) and m_a − m_b respectively), which the
    DISTINCT variants (q_intersect / q_except) destroy; bag semantics are
    what dedup accounting and replication reconciliation actually need
    ("how many copies remain on each side"), summarized here as per-key
    multiplicities.

    Scale: Spark plans both as a single hash aggregation computing the two
    sides' counts per key then expanding min/difference copies — one
    shuffle on the value, no join; same shape as the exact-dedup count
    pass."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 10).select("l_suppkey")
    b = li.filter(F.col("l_returnflag") == "A").select("l_suppkey")
    i = (
        a.intersectAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "l_suppkey", "multiplicity")
    )
    x = (
        a.exceptAll(b)
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "l_suppkey", "multiplicity")
    )
    return i.unionByName(x)


@query(
    "q_scan_merge_schema",
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches with DIFFERENT
    schemas (v1 lacks o_orderstatus; v2 carries it) land in one dataset,
    and `mergeSchema=true` reconciles them — v1 rows surface the new
    column as NULL instead of failing the scan. This is the append-only
    data-lake reality: producers add columns mid-stream and readers must
    take the union schema.

    The oracle reconstructs the same view relationally (status visible
    only for the v2 half). Scale note: mergeSchema's footer-sampling scan
    is driver-side cost at listing time, not per-row — fine at 100 TB as
    long as the file count stays compacted (q_sink_compacted); steady
    state pins the merged schema explicitly instead of re-inferring."""
    from json_parquet_convertor_spark.exact import dsum

    def write(base: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(os.path.join(base, "v1"))
        )
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.mode("overwrite")
            .parquet(os.path.join(base, "v2"))
        )

    base = materialize("merge_schema", sf_dir, write)
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return merged.groupBy(
        F.col("o_orderstatus").alias("status")
    ).agg(
        F.count("*").alias("n_rows"),
        dsum("o_totalprice").alias("total_price"),
    )


@query(
    "q_gen_range",
    oracle="""
    WITH g AS (
        SELECT i AS id,
               CAST(i % 97 AS BIGINT) AS bucket,
               CAST((i * 2654435761) % 1000003 AS BIGINT) AS val
        FROM generate_series(0, 99999) t(i)
    )
    SELECT CAST(bucket % 10 AS BIGINT) AS g,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(MIN(val) AS BIGINT) AS min_val,
           CAST(MAX(val) AS BIGINT) AS max_val
    FROM g GROUP BY 1
    """,
)
def q_gen_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-data generation from the `range` source — the dbgen
    replacement: `spark.range(N)` materializes ids with NO input I/O,
    split evenly across the cluster's parallelism, and deterministic
    hash-mixed columns turn the ids into reproducible test/benchmark data
    (this is how you generate 100 TB of fixtures IN the cluster rather
    than uploading them).

    The checksum-style aggregate (count/sum/min/max per bucket) pins that
    both engines derive identical data from the same arithmetic — the
    property that makes generated fixtures usable for differential
    testing at all.

    Scale: range is an O(0)-storage source with perfect partitioning (each
    task gets a contiguous id slice); generation cost is pure codegen
    arithmetic, so throughput is CPU-bound and linear in cores."""
    g = spark.range(0, 100000).select(
        "id",
        (F.col("id") % 97).alias("bucket"),
        ((F.col("id") * 2654435761) % 1000003).alias("val"),
    )
    return g.groupBy((F.col("bucket") % 10).alias("g")).agg(
        F.count("*").alias("n"),
        F.sum("val").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


@query(
    "q_scan_csv_corrupt",
    # the valid rows ARE nation; the 3 malformed lines are appended by the
    # query itself, so their count is a known constant
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(3 AS BIGINT) AS n_corrupt,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM nation
    """,
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on a CSV source: the file contains valid
    rows plus lines whose types don't parse; PERMISSIVE mode (the scale
    default — a 100 TB ingest must not die on row 3 billion) nulls the
    bad fields and captures the raw line in _corrupt_record for a
    quarantine sink, and the query reports good/corrupt counts plus an
    aggregate over the clean rows. The alternative modes are one option
    away: DROPMALFORMED (silently skip) and FAILFAST (abort — the
    reference's Go converter reacts to a bad payload by skipping the
    message, convertor/convertor.go:118-124, i.e. DROPMALFORMED
    semantics; PERMISSIVE+quarantine is strictly more auditable).

    Scale note: corrupt capture costs one extra string column on bad
    rows only; the count/aggregate pipeline stays fully vectorized (the
    tiny cache() is the documented requirement for reading the corrupt
    column in the same query that references parsed columns)."""
    import os

    dst = run_tmp("scan_csv_corrupt")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_csv(nation, dst)
    # append one extra part file holding only malformed lines
    bad = os.path.join(dst, "part-bad.csv")
    if not os.path.exists(bad):
        with open(bad, "w") as f:
            f.write("n_nationkey,n_name,n_regionkey\n")
            f.write("not_an_int,BADLAND,0\n")
            f.write("99,NOWHERE,not_an_int\n")
            f.write("x,y,z\n")
    back = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT,"
            " _corrupt_record STRING"
        )
        .csv(dst)
    )
    back = back.cache()  # PERMISSIVE corrupt-capture needs the raw row
    return back.agg(
        F.sum(
            F.col("_corrupt_record").isNull().cast("bigint")
        ).alias("n_good"),
        F.sum(
            F.col("_corrupt_record").isNotNull().cast("bigint")
        ).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey"))
        ).alias("sum_region"),
    )


@query(
    "q_union_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, NULL AS o_clerk, 'v1' AS src
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice,
           'clerk#' || CAST(o_custkey % 100 AS VARCHAR) AS o_clerk, 'v2' AS src
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_union_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: batch v1 predates the o_clerk column, batch
    v2 carries it; `unionByName(allowMissingColumns=True)` aligns by NAME
    and null-fills the gap — the append pattern every long-lived dataset
    hits when producers add fields. Positional unionAll would silently
    misalign or reject; q_scan_merge_schema covers the same evolution at
    the parquet-reader level, this covers it at the plan level.

    Scale: union is a zero-shuffle plan concatenation — partitions of
    both children pass through untouched; the null-fill is a constant
    projection."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("src")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.concat(F.lit("clerk#"), (F.col("o_custkey") % 100).cast("string"))
        .alias("o_clerk"),
        F.lit("v2").alias("src"),
    )
    return v1.unionByName(v2, allowMissingColumns=True)


@query(
    "q_scan_xml",
    # the XML round-trip is lossless on nation, so the source table IS the
    # expected output (same convention as q_scan_csv)
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (built-in `xml` format, new in Spark 4): write
    nation as row-tagged XML, read it back with an EXPLICIT schema — the
    B2B/legacy-feed front door (the same ingest posture as q_scan_csv:
    never inferSchema, that's a second full pass at scale).

    Scale: the StAX row reader splits on rowTag boundaries, so XML files
    parallelize per-file (not per-block) — at 100 TB you keep XML inputs
    many-small-files or convert once to parquet (this repo's whole
    reason to exist) rather than scanning XML twice."""
    dst = run_tmp("scan_xml")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    (
        nation.write.format("xml")
        .option("rootTag", "nations")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(dst)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .load(dst)
    )
    return back.orderBy("n_nationkey")


@query(
    "q_observe_qc",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_discount > 0.02
    GROUP BY 1
    """,
)
def q_observe_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality metrics via `Dataset.observe()`: the scan
    carries named observation metrics (row count, null count, min/max of
    the filter column) that are collected AS A SIDE EFFECT of whatever
    action executes the query — no second pass, no separate QC job. The
    returned relation is an ordinary aggregate (oracled); the observed
    metrics are asserted in tests/test_analytics.py via a QueryExecution
    listener-free collect.

    At 100 TB this is how pipeline QC must work: a dedicated
    "SELECT count(nulls)" validation query would re-scan the lake;
    observe() piggybacks the metrics on the production query's one scan
    for free (it's a local accumulator per task, merged on the driver)."""
    from json_parquet_convertor_spark.exact import dsum

    li = load_table(spark, sf_dir, "lineitem")
    observed = li.observe(
        "qc",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("l_discount").isNull().cast("long")).alias("null_disc"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
    )
    return (
        observed.filter(F.col("l_discount") > 0.02)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_cache_reuse",
    oracle="""
    WITH base AS (
        SELECT o_custkey, o_totalprice,
               CAST(year(o_orderdate) AS INT) AS o_year
        FROM orders WHERE o_totalprice > 1000
    ), yearly AS (
        SELECT o_year, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM base GROUP BY 1
    ), spenders AS (
        SELECT o_year,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_big_spenders
        FROM base WHERE o_totalprice > 100000 GROUP BY 1
    )
    SELECT y.o_year, y.n_orders, COALESCE(s.n_big_spenders, 0)
               AS n_big_spenders
    FROM yearly y LEFT JOIN spenders s USING (o_year)
    """,
)
def q_cache_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit caching for multi-consumer plans: a filtered projection is
    `.cache()`d and TWO downstream aggregates read it — the second
    consumer hits the in-memory columnar relation instead of re-scanning
    parquet (InMemoryTableScan, asserted in tests/test_plans.py). This is
    the interactive-analytics / iterative-refinement posture; contrast
    with the rest of the repo where single-consumer plans correctly do
    NOT cache (cache is not free: it materializes, consumes storage
    memory, and blocks pushdown below the cache point).

    At 100 TB you cache the FILTERED projection (small), never the raw
    table; storage level MEMORY_AND_DISK spills per-executor. The cache
    is unpersisted by the caller when the session of queries ends —
    here: blocking=False at function exit keeps the handle alive only
    for this plan's consumers (Spark re-materializes transparently if
    evicted)."""
    orders = load_table(spark, sf_dir, "orders")
    base = (
        orders.filter(F.col("o_totalprice") > 1000)
        .select(
            "o_custkey",
            "o_totalprice",
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .cache()
    )
    yearly = base.groupBy("o_year").agg(F.count("*").alias("n_orders"))
    spenders = (
        base.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_year")
        .agg(F.countDistinct("o_custkey").alias("n_big_spenders"))
    )
    return yearly.join(spenders, "o_year", "left").select(
        "o_year",
        "n_orders",
        F.coalesce("n_big_spenders", F.lit(0)).alias("n_big_spenders"),
    )


@query(
    "q_scan_metadata",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM events
    GROUP BY 1
    """,
)
def q_scan_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name` /
    `file_size`, Spark 3.4+): per-file lineage surfaced inside an
    ordinary scan — the primitive behind corrupt-file triage, per-file
    freshness audits, and incremental-load bookkeeping (which physical
    file did this row come from?), with zero extra I/O since the values
    come from the scan's own file listing.

    The query writes events partitioned by event_type (repartitioned on
    the partition key first, so each partition value lands in exactly
    one task → exactly one file), reads it back selecting `_metadata`,
    and proves the file↔partition mapping: rows counted per FILE equal
    rows counted per event_type, and each partition holds one file.

    Scale: `_metadata` is populated from the driver's file index —
    constant-width columns, no shuffle, no extra read. The
    repartition-by-partition-key write is itself the small-files cure
    (q_sink_compacted's point) applied at write time."""
    dst = run_tmp("scan_metadata")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.repartition("event_type").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(dst)
    # explicit schema: empty partitioned writes have nothing to infer from
    # (r6 empty-fixture sweep); _metadata stays selectable either way
    back = spark.read.schema(ev.schema).parquet(dst).select(
        "event_type",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
    )
    return (
        back.filter(F.col("fsize") > 0)  # metadata sanity folded in
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("fname").alias("n_files"),
        )
    )


@query(
    "q_source_custom",
    oracle="""
    SELECT s AS sensor_id,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(s * 100003 + t * 17) AS BIGINT) AS sum_reading,
           CAST(MAX(s * 100003 + t * 17) AS BIGINT) AS max_reading
    FROM generate_series(0, 7) g(s), generate_series(0, 249) h(t)
    GROUP BY 1
    """,
)
def q_source_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 `pyspark.sql.datasource`): a
    user-defined source registered by name and read like any built-in
    format — the extension point for feeds Spark has no connector for
    (internal APIs, queues, bespoke file formats). The source declares
    its schema and one InputPartition per sensor, so the ENGINE owns
    scheduling, retries, and parallelism — no driver-side polling loop
    like the reference's SQS poller (convertor/convertor.go:44-57).

    Scale: reader tasks run Arrow-batched in Python workers; parallelism
    = len(partitions()). The aggregate on top behaves like any scan →
    partial-agg plan; Catalyst sees a normal relation. Column pruning
    can be implemented per-source (not needed for 3 columns).

    The feed is deterministic (reading = id·100003 + tick·17), so the
    oracle restates the generator over generate_series — certifying the
    full read path hash-exactly."""
    from json_parquet_convertor_spark.sources.pysource import (
        SensorDataSource,
    )

    try:
        spark.dataSource.register(SensorDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    feed = (
        spark.read.format("jpc_sensors")
        .option("sensors", "8")
        .option("ticks", "250")
        .load()
    )
    return feed.groupBy("sensor_id").agg(
        F.count("*").alias("n_ticks"),
        F.sum("reading").alias("sum_reading"),
        F.max("reading").alias("max_reading"),
    )


@query(
    "q_scan_json_corrupt",
    oracle="""
    SELECT CAST(SUM(CASE WHEN n_nationkey % 4 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_good,
           CAST(SUM(CASE WHEN n_nationkey % 4 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN n_nationkey % 4 <> 0 THEN n_regionkey
                    ELSE 0 END) AS BIGINT) AS sum_region_good
    FROM nation
    """,
)
def q_scan_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling on a JSON-lines source — the JSON twin
    of q_scan_csv_corrupt, and the failure mode the reference actually
    hits (a non-JSON S3 object makes its json.Unmarshal skip the
    message, convertor/convertor.go:118-124 = DROPMALFORMED). Every 4th
    line is truncated garbage; PERMISSIVE mode parses the rest, nulls
    the bad rows' fields and captures the raw line in _corrupt_record,
    and the query reports good/corrupt counts plus an aggregate proving
    the good rows parsed intact.

    Scale note: schema is explicit (no inferSchema second pass);
    corrupt capture costs one string column on bad rows only. The
    cache() is Spark's documented requirement for referencing
    _corrupt_record alongside parsed columns in one query."""
    import os

    dst = run_tmp("scan_json_corrupt")
    os.makedirs(dst, exist_ok=True)
    nation = load_table(spark, sf_dir, "nation").orderBy("n_nationkey")
    lines = []
    for r in nation.collect():  # 25 rows — driver-side fixture build only
        if r["n_nationkey"] % 4 == 0:
            lines.append('{"n_nationkey": ' + str(r["n_nationkey"]) + ", trunca")
        else:
            lines.append(
                '{"n_nationkey": %d, "n_name": "%s", "n_regionkey": %d}'
                % (r["n_nationkey"], r["n_name"], r["n_regionkey"])
            )
    with open(os.path.join(dst, "part-0.json"), "w") as f:
        f.write("\n".join(lines) + "\n")

    parsed = (
        spark.read.schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dst)
        .cache()
    )
    good = F.col("_corrupt_record").isNull()
    return parsed.agg(
        F.sum(good.cast("bigint")).alias("n_good"),
        F.sum((~good).cast("bigint")).alias("n_corrupt"),
        F.sum(F.when(good, F.col("n_regionkey")).otherwise(0))
        .cast("bigint")
        .alias("sum_region_good"),
    )


@query(
    "q_s3_event_parse",
    oracle="""
    SELECT 'jpc-landing' AS bucket,
           'incoming/' || event_type || '/' || CAST(event_id AS VARCHAR)
               || ' raw.json' AS key,
           CAST(floor(value * 100) AS BIGINT) AS size_bytes
    FROM events
    """,
)
def q_s3_event_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 event-notification → work-item parsing — the reference's entire
    front door (``convertor/convertor.go:35-44`` SqsBody shape;
    ``convertor/convertor.go:110-121`` unmarshal + QueryUnescape), with
    its two deployment bugs fixed: ALL ``Records[]`` entries become work
    items (the reference reads only ``Records[0]``, silently dropping the
    rest of a batched notification), and the URL-decode failure path
    skips the one record, not the whole message.

    The fixture stage builds real notification bodies from the events
    table (one message per user, records sorted by event_id, keys
    URL-encoded the way S3 delivers them); the operator under test is the
    parse side: ``from_json`` with the explicit Records schema →
    ``explode`` (all records, not [0]) → ``url_decode`` of the object
    key. The round trip is lossless, so the oracle states the expected
    work items directly off the events table.

    Scale posture: parsing is pure whole-stage-codegen expression work
    (from_json / explode / url_decode are all JVM built-ins) — no shuffle,
    no Python; a billion queued notifications parse at scan speed. The
    one groupBy here belongs to the fixture build (simulating SQS batch
    delivery), not to the operator: in production the bodies arrive
    pre-formed from the queue source and the parse stage is a pure map.
    The streaming twin (q_stream_s3_events) runs the SAME parse over a
    readStream of the same bodies."""
    return parse_s3_events(s3_notification_bodies(spark, sf_dir))


def s3_notification_bodies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic S3 event-notification JSON bodies built from the
    events table: one message per user, Records[] sorted by event_id,
    object keys URL-encoded as S3 delivers them."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    rec = ev.select(
        "user_id",
        F.struct(
            F.col("event_id").alias("_ord"),
            F.url_encode(
                F.concat(
                    F.lit("incoming/"),
                    "event_type",
                    F.lit("/"),
                    F.col("event_id").cast("string"),
                    F.lit(" raw.json"),
                )
            ).alias("k"),
            F.floor(F.col("value") * 100).cast("bigint").alias("sz"),
        ).alias("r"),
    )
    bodies = (
        rec.groupBy("user_id")
        .agg(F.array_sort(F.collect_list("r")).alias("rs"))
        .select(
            F.to_json(
                F.struct(
                    F.expr(
                        "transform(rs, x -> named_struct("
                        "'s3', named_struct("
                        "'bucket', named_struct('name', 'jpc-landing'), "
                        "'object', named_struct('key', x.k, 'size', x.sz)"
                        ")))"
                    ).alias("Records")
                )
            ).alias("body")
        )
    )
    return bodies


def parse_s3_events(bodies: DataFrame) -> DataFrame:
    """The parse stage shared by q_s3_event_parse and q_stream_s3_events:
    explicit-schema from_json → explode ALL Records[] → url_decode. Pure
    codegen expressions, so it is equally valid on a batch frame and a
    streaming one."""
    parsed = bodies.select(
        F.from_json(
            "body",
            "Records array<struct<s3:struct<bucket:struct<name:string>,"
            "object:struct<key:string,size:bigint>>>>",
        ).alias("m")
    )
    return parsed.select(F.explode("m.Records").alias("rec")).select(
        F.col("rec.s3.bucket.name").alias("bucket"),
        F.url_decode(F.col("rec.s3.object.key")).alias("key"),
        F.col("rec.s3.object.size").alias("size_bytes"),
    )


@query(
    "q_convert_parquet_json",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM nation GROUP BY 1, 2, 3
    """,
)
def q_convert_parquet_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's pipeline REVERSED: parquet in → JSON-lines out →
    read back — the export direction (convertor/convertor.go:59-184 only
    goes JSON→parquet) a lake needs for feeding JSON-consuming systems
    (search indexers, webhooks, legacy ETL). Round-trip on nation is
    lossless for the integer/string columns, so the grouped read-back
    must reproduce the source exactly with one copy per key.

    Scale design: both directions are parallel per-partition writers —
    the JSON sink emits one .json part per task, no driver funneling.
    JSON is ~4× parquet on disk and loses types, which is why this
    direction is an EXPORT, not storage; the docstring states it so
    nobody ships it as a lake format. The read-back declares the
    JSON-lines type surface explicitly (bigint/string — exactly what
    inference produces on populated data) instead of inferring: an EMPTY
    export has no records to infer from and an inferred read would fail
    to resolve any column (caught by the r6 empty-fixture sweep).
    Compression (gzip per line-file) would pipeline the same way."""
    base = run_tmp("convert_pj")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    dst = os.path.join(base, "json_out")
    nation.write.mode("overwrite").json(dst)
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).json(dst)
    return back.groupBy(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("int").alias("n_regionkey"),
    ).agg(F.count("*").cast("bigint").alias("n_copies"))


# ---------------------------------------------------------------------------
# dense surrogate-id assignment (compact entity ids without a global sort)
# ---------------------------------------------------------------------------


@query(
    "q_id_dense",
    oracle="""
    WITH active AS (
        SELECT DISTINCT c.c_custkey
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    )
    SELECT c_custkey,
           CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS BIGINT)
               AS dense_id
    FROM active
    """,
)
def q_id_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based surrogate ids for every customer that has ordered —
    the entity-vocabulary compaction step before building embedding
    tables, feature matrices, or graph adjacency (frameworks want ids in
    [0, n), not sparse business keys).

    Scale design: ``ROW_NUMBER() OVER (ORDER BY key)`` funnels all rows
    through ONE task — the textbook global-sort trap. The distributed
    rewrite: order-preserving buckets (key div B), per-bucket
    row_number (shuffle key = bucket, parallel), plus one window over
    the per-bucket COUNT summary (|keys|/B rows) to turn bucket counts
    into cumulative start offsets; id = bucket offset + in-bucket rank
    - 1. Identical to the global sort's output because buckets tile the
    key line in order. Same envelope-summary pattern as q_seq_gaps: B
    is sized so the summary fits one task (4096 here, ~2^20 at 100 TB,
    or recurse once more — each level divides the summary by B)."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    bucket_size = 4096
    active = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey")
        .distinct()
        .withColumn(
            # integer division: float `/` rounds above 2^53 and can
            # misplace a boundary key across buckets
            "b", F.expr(f"c_custkey div {bucket_size}")
        )
    )
    in_bucket = Window.partitionBy("b").orderBy("c_custkey")
    ranked = active.withColumn("rk", F.row_number().over(in_bucket))
    offsets = (
        active.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("n").over(
                    Window.orderBy("b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("b", "offset")
    )
    return ranked.join(offsets, "b").select(
        "c_custkey",
        (F.col("offset") + F.col("rk") - 1).cast("bigint").alias("dense_id"),
    )
