"""Warehouse-analytics and data-maintenance operators (B12, round 3).

Third tier of the extended inventory: the recurring analytics shapes a
production warehouse built on the converted parquet runs daily (cohort
retention, CDC snapshot diffs, incremental rollup maintenance, two-sample
significance tests, corpus-diversity metrics) plus the multi-dimensional
Z-order clustering layout primitive and the Gopher-style repetition filter
an LLM corpus pipeline applies before training. The reference stops at the
single-row JSON→Parquet conversion (convertor/convertor.go:59-184); these
are what the resulting lake needs next.

Determinism ground rules (same as operators/corpus.py): every float that
reaches the driver's value hash is either derived from exact integer/decimal
arithmetic or computed operation-for-operation identically on both engines,
then rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark.exact import fday, fsec, ratio4, sql_ratio4
from json_parquet_convertor_spark.operators.buckets import (
    basket_pairs,
    duck_basket_pairs,
)
from json_parquet_convertor_spark.operators.vectors import finite
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, spread

# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


@query(
    "q_cohort_retention",
    oracle="""
    WITH w AS (
        SELECT DISTINCT user_id,
               date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
        FROM events
    ), c AS (
        SELECT user_id, MIN(wk) AS cohort FROM w GROUP BY 1
    )
    SELECT CAST(floor(epoch(CAST(c.cohort AS TIMESTAMP))) AS BIGINT)
               AS cohort_week,
           CAST(floor((epoch(CAST(w.wk AS TIMESTAMP))
                       - epoch(CAST(c.cohort AS TIMESTAMP))) / 604800)
                AS INT) AS week_offset,
           CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users
    FROM w JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-active week, counted
    in every later week they return — the standard product-analytics
    triangle.

    Scale design: events collapse to DISTINCT (user, week) FIRST, so every
    later stage works on user-weeks (bounded by users × weeks), not raw
    events — at 100 TB that's the difference between shuffling the fact
    table twice and shuffling a fraction of it once. Both the cohort
    aggregation and the join back shuffle on user_id, so AQE reuses one
    exchange layout; the final (cohort, offset) aggregate is tiny."""
    ev = load_table(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        weeks.join(cohort, "user_id")
        .groupBy(
            # unix_timestamp TRUNCATES toward zero, not floor — safe here
            # ONLY because wk/cohort are date_trunc("week") outputs
            # (fraction-free), where truncate == floor; a raw ts input
            # would reintroduce the pre-1970 off-by-one-second divergence
            F.unix_timestamp("cohort").alias("cohort_week"),
            F.floor(
                (F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800
            )
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# CDC snapshot diff
# ---------------------------------------------------------------------------


@query(
    "q_cdc_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 3 = 0
                    THEN CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(12,2))
                         * CAST(0.9 AS DECIMAL(2,1))
                    ELSE CAST(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(12,2))
                              AS DECIMAL(15,3)) END AS price
        FROM orders WHERE o_orderkey % 7 <> 0
    ), new AS (
        SELECT o_orderkey,
               CAST(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(12,2)) AS DECIMAL(15,3))
                   AS price
        FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'insert'
                WHEN new.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           CAST(old.price AS DOUBLE) AS old_price,
           CAST(new.price AS DOUBLE) AS new_price
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.price <> new.price
    """,
)
def q_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full outer join on
    the business key, rows classified insert / delete / update (value
    drift), unchanged rows dropped. The two snapshots are carved
    deterministically from orders (old misses key%7 rows and has key%3
    prices rescaled; new misses key%5 rows), so every change class is
    populated and the oracle reproduces them exactly.

    Price comparison runs in DECIMAL (0.9 rescale included) — exact in both
    engines; doubles appear only in the output projection.

    Scale design: one equi-join shuffle on the key — the canonical merge
    pattern. At 100 TB both snapshots are bucketed on the key so the diff
    is a zero-shuffle sort-merge (q_join_bucketed shows that layout); the
    WHERE drops the unchanged majority before anything downstream."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(12,2)")
    old = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 3 == 0,
            p * F.lit("0.9").cast("decimal(2,1)"),
        )
        .otherwise(p.cast("decimal(15,3)"))
        .alias("price"),
    )
    new = orders.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", p.cast("decimal(15,3)").alias("price")
    )
    j = old.alias("o").join(
        new.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full_outer",
    )
    return j.select(
        F.coalesce("o.o_orderkey", "n.o_orderkey").alias("o_orderkey"),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("o.price").cast("double").alias("old_price"),
        F.col("n.price").cast("double").alias("new_price"),
    ).filter(
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.price") != F.col("n.price"))
    )


# ---------------------------------------------------------------------------
# incremental rollup maintenance (partial-aggregate merge)
# ---------------------------------------------------------------------------

_CUTOFF = "1996-01-01"


@query(
    "q_agg_incremental",
    oracle=f"""
    SELECT CAST(floor(epoch(CAST(date_trunc('month', o_orderdate)
                                 AS TIMESTAMP))) AS BIGINT) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def q_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: the monthly revenue rollup is NOT
    recomputed from scratch — a pre-aggregated "yesterday" state (orders
    before {_CUTOFF}) is merged with the partial aggregate of the new slice
    by summing the mergeable state (count, decimal sum); avg derives at
    the end. The oracle aggregates the whole table directly, so a hash
    match PROVES merge(partial_old, partial_new) == full recompute — the
    algebraic property every incremental view / streaming rollup rests on.

    Scale design: this is map-side combine made explicit. At 100 TB the
    old state is a few thousand rollup rows read back from the rollup
    table, the new slice is one day's partition (partition-pruned scan),
    and the merge shuffles only rollup-key cardinality — not the fact
    table. Decimal sums make the merge order-insensitive to the last bit."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias(
        "month"
    )
    dec_sum = F.sum(F.col("o_totalprice").cast("decimal(18,4)"))

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month).agg(
            F.count("*").alias("n"), dec_sum.alias("s")
        )

    old_state = partial(orders.filter(F.col("o_orderdate") < _CUTOFF))
    new_state = partial(orders.filter(F.col("o_orderdate") >= _CUTOFF))
    merged = (
        old_state.unionByName(new_state)
        .groupBy("month")
        .agg(F.sum("n").alias("n_orders"), F.sum("s").alias("s"))
    )
    return merged.select(
        "month",
        "n_orders",
        F.col("s").cast("double").alias("total_price"),
        (F.col("s").cast("double") / F.col("n_orders")).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# two-sample Welch t-test
# ---------------------------------------------------------------------------


@query(
    "q_stats_ttest",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(value) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,4))
                        * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ), w AS (
        SELECT
            MAX(CASE WHEN event_type = 'click' THEN n END) AS n1,
            MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
            MAX(CASE WHEN event_type = 'click' THEN sx END) AS sx1,
            MAX(CASE WHEN event_type = 'purchase' THEN sx END) AS sx2,
            MAX(CASE WHEN event_type = 'click' THEN sxx END) AS sxx1,
            MAX(CASE WHEN event_type = 'purchase' THEN sxx END) AS sxx2
        FROM s
    )
    SELECT n1, n2,
           ROUND(sx1 / n1 - sx2 / n2, 4) AS mean_diff,
           ROUND((sx1 / n1 - sx2 / n2)
                 / sqrt(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                        + ((sxx2 - sx2 * sx2 / n2) / (n2 - 1)) / n2),
                 4) AS t_stat
    FROM w
    """,
)
def q_stats_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (click vs purchase event values) computed
    from mergeable sufficient statistics: per-group (n, Σx, Σx²) in ONE
    scan, then the t statistic from the closed form. Both engines
    accumulate Σx and Σx² in DECIMAL (exact, order-insensitive) and only
    then enter double arithmetic in an identical operation order, so the
    rounded statistic is bit-identical — the same trick as exact.py.

    Scale design: sufficient statistics ARE the scalable form of every
    moment-based test — a single map-side-combining aggregate per group,
    no second pass for the means, merge-able across partitions/days. The
    pivot to one row handles group-count rows, not data."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    v = F.col("value").cast("decimal(18,4)")
    s = ev.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(v).cast("double").alias("sx"),
        F.sum(v * v).cast("double").alias("sxx"),
    )
    pick = lambda c, t: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = s.agg(
        pick("n", "click").alias("n1"),
        pick("n", "purchase").alias("n2"),
        pick("sx", "click").alias("sx1"),
        pick("sx", "purchase").alias("sx2"),
        pick("sxx", "click").alias("sxx1"),
        pick("sxx", "purchase").alias("sxx2"),
    )
    m1, m2 = F.col("sx1") / F.col("n1"), F.col("sx2") / F.col("n2")
    var1 = (F.col("sxx1") - F.col("sx1") * F.col("sx1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var2 = (F.col("sxx2") - F.col("sx2") * F.col("sx2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    return w.select(
        "n1",
        "n2",
        F.round(m1 - m2, 4).alias("mean_diff"),
        F.round(
            (m1 - m2)
            / F.sqrt(var1 / F.col("n1") + var2 / F.col("n2")),
            4,
        ).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# corpus diversity (Simpson / Gini, exact integer arithmetic)
# ---------------------------------------------------------------------------


@query(
    "q_agg_diversity",
    oracle="""
    WITH c AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           ROUND(1.0 - CAST(SUM(cnt * cnt) AS DOUBLE)
                       / (CAST(SUM(cnt) AS DOUBLE) * SUM(cnt)), 4)
               AS gini_impurity,
           ROUND(CAST(SUM(cnt) AS DOUBLE) * SUM(cnt)
                 / CAST(SUM(cnt * cnt) AS DOUBLE), 4) AS inv_simpson
    FROM c GROUP BY 1
    """,
)
def q_agg_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity metrics per language: source count, Gini impurity
    (1 − Σp²) and inverse Simpson index (effective number of sources,
    1/Σp²) of the source distribution — the balance check run before
    corpus mixing (q_corpus_mix decides the weights; this measures the
    outcome). Deliberately Simpson-based, not Shannon: Σcᵢ² is EXACT
    integer arithmetic, so both engines agree to the bit, whereas ln()
    ulp differences between libm implementations could flip a rounding.

    Scale design: two cascaded aggregations, both map-side combining;
    the first shuffles (lang, source) cardinality, the second lang
    cardinality — metadata-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(F.count("*").alias("cnt"))
    n_docs = F.sum("cnt")
    sum_sq = F.sum(F.col("cnt") * F.col("cnt"))
    return c.groupBy("lang").agg(
        F.count("*").alias("n_sources"),
        n_docs.alias("n_docs"),
        F.round(
            F.lit(1.0)
            - sum_sq.cast("double") / (n_docs.cast("double") * n_docs),
            4,
        ).alias("gini_impurity"),
        F.round(
            n_docs.cast("double") * n_docs / sum_sq.cast("double"), 4
        ).alias("inv_simpson"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering layout
# ---------------------------------------------------------------------------


def _morton_expr(x: str, y: str, bits: int = 16) -> str:
    """Bit-interleave expression text, valid in BOTH Spark SQL and DuckDB
    (only >>, &, <<, | on BIGINT literals/columns — parenthesized so the
    two parsers' precedence tables can't disagree). One engine-shared
    string keeps the query and its oracle definitionally identical."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


_Z_EXPR = _morton_expr("l_partkey", "l_suppkey")


@query(
    "q_sort_zorder",
    oracle=f"""
    WITH z AS (
        SELECT l_partkey, l_suppkey,
               ({_Z_EXPR}) AS zval
        FROM lineitem
    )
    SELECT CAST(zval >> 12 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS part_min,
           CAST(MAX(l_partkey) AS BIGINT) AS part_max,
           CAST(MIN(l_suppkey) AS BIGINT) AS supp_min,
           CAST(MAX(l_suppkey) AS BIGINT) AS supp_max
    FROM z GROUP BY 1
    """,
)
def q_sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering: interleave the bits of two dimension
    keys into one sort key, bucket by its prefix, and report each bucket's
    per-dimension min/max envelope. Buckets = files after an OPTIMIZE
    ZORDER-style rewrite; the narrow envelopes are exactly what makes
    parquet min/max stats prune 2-D predicates on BOTH columns — a plain
    sort on (partkey, suppkey) prunes only the leading one. The interleave
    expression is generated once and shared verbatim with the oracle, and
    it's pure integer bit math — JVM codegen on one side, exact match on
    the other. tests/test_analytics.py asserts the locality property
    (mean bucket envelope ≪ global range on both dimensions).

    Scale design: computing zval is a stateless per-row projection (no
    shuffle); the real layout job then range-partitions by zval —
    repartitionByRange(zval) + sortWithinPartitions — which at 100 TB is
    one shuffle that buys every later 2-D-filtered scan its pruning."""
    li = load_table(spark, sf_dir, "lineitem")
    z = li.select(
        "l_partkey", "l_suppkey", F.expr(_Z_EXPR).alias("zval")
    )
    return z.groupBy(
        F.shiftright("zval", 12).cast("bigint").alias("z_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("l_partkey").alias("part_min"),
        F.max("l_partkey").alias("part_max"),
        F.min("l_suppkey").alias("supp_min"),
        F.max("l_suppkey").alias("supp_max"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filter
# ---------------------------------------------------------------------------


@query(
    "q_text_repetition",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), g AS (
        -- list_zip of two top-level slices, not a lateral generate_series
        -- join (r11, --longtext): the lateral carries the WHOLE token
        -- list into every joined row — O(len²) per doc on a megadoc
        SELECT doc_id, z[1] || ' ' || z[2] AS gram
        FROM (SELECT doc_id,
                     unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS z
              FROM w WHERE len(ws) >= 2)
    ), c AS (
        SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS n
        FROM g GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(n) AS BIGINT) AS top_n,
           ROUND(CAST(MAX(n) AS DOUBLE) / SUM(n), 4) AS top_frac,
           ROUND(CAST(SUM(n) - COUNT(*) AS DOUBLE) / SUM(n), 4) AS dup_frac,
           CAST(CAST(MAX(n) AS DOUBLE) / SUM(n) > 0.2 AS INT) AS repetitive
    FROM c GROUP BY 1
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition scoring (Rae et al. 2021's repetition
    filters, word-bigram form): per document, the fraction of bigram
    occurrences taken by the single most frequent bigram (top_frac) and
    the fraction that are repeats of an earlier occurrence (dup_frac);
    docs with top_frac > 0.2 are flagged. Boilerplate and looping
    generations score high and get culled before training. All ratios are
    integer/integer — bit-identical across engines.

    Scale design: explode → two cascaded combining aggregates, all keyed
    by doc_id (the second groups the first's output, so it reuses the
    same hash partitioning — one shuffle of the gram stream, one of
    per-doc gram counts). Nothing is ever per-corpus: state is bounded
    per document, so the job scales linearly with corpus size. The HOF
    alternative (count duplicates inside the array per row) is O(len²)
    per doc in interpreted expression land — explode keeps it linear and
    in whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    d = spread(docs).select(
        "doc_id", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ws) - 2),"
                " i -> concat(ws[i], ' ', ws[i + 1]))"
            )
        ).alias("gram"),
    )
    c = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
    tot, dist, top = F.sum("n"), F.count("*"), F.max("n")
    return c.groupBy("doc_id").agg(
        tot.alias("n_bigrams"),
        dist.alias("n_distinct"),
        top.alias("top_n"),
        F.round(top.cast("double") / tot, 4).alias("top_frac"),
        F.round((tot - dist).cast("double") / tot, 4).alias("dup_frac"),
        (top.cast("double") / tot > 0.2).cast("int").alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# embedding mean-pooling
# ---------------------------------------------------------------------------


@query(
    "q_embed_pool",
    oracle="""
    WITH e AS (
        SELECT label, i AS pos, embedding[i] AS val
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS t(i)
        WHERE isfinite(embedding[i])
    )
    SELECT label, CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000000)
                         AS BIGINT)) AS DOUBLE)
               / (COUNT(*) * 1000000000.0) AS mean_val
    FROM e GROUP BY 1, 2
    """,
)
def q_embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean-pooled embedding (class centroids — the build step
    for q_sim_ann_ivf-style coarse quantizers and for prototype/nearest-
    centroid classifiers), emitted in exploded (label, pos, mean) form so
    the oracle needs no array reassembly. Each component is quantized by
    TRUNCATION to an integer nano-unit (floor(val·10⁹) — one IEEE
    multiply then floor, no tie-breaking, deterministic in both engines)
    and summed as exact BIGINTs; the single final division is the only
    double op. Truncation, not rounding or a decimal cast: a float is a
    dyadic rational that CAN land exactly on the half-way digit, where
    Spark's decimal cast rounds HALF_UP and DuckDB's rounds half-even —
    the r5 generated-sf0.1 sweep caught exactly one such component
    flipping a pooled mean by 1e-9/n.

    Scale design: posexplode is a stateless row-expander (no shuffle);
    the single aggregation shuffles (label, pos) — labels × dim keys,
    each a scalar accumulator, perfectly balanced however skewed the
    vectors' label distribution is. Pooling a billion 1k-dim vectors is
    one combining agg over 1e12 scalar updates, all map-side-reduced.
    The array form, when needed, is one tiny array_agg over the pooled
    result, never over the data.

    Non-finite components (a NaN/Inf from a bad upstream encoder batch —
    the --extreme axis) are EXCLUDED from the pool per position: one bad
    float must not poison the whole centroid (the BIGINT cast of
    floor(NaN*1e9) also errors outright under ANSI on both engines).
    n_vecs therefore counts finite contributions at that position."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = spread(emb).select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).filter(finite(F.col("val")))
    return e.groupBy(
        "label", (F.col("pos0") + 1).cast("int").alias("pos")
    ).agg(
        F.count("*").alias("n_vecs"),
        (
            F.sum(
                F.floor(F.col("val").cast("double") * 1e9).cast("bigint")
            ).cast("double")
            / (F.count("*") * F.lit(1e9))
        ).alias("mean_val"),
    )


# ---------------------------------------------------------------------------
# join-key skew diagnosis
# ---------------------------------------------------------------------------


@query(
    "q_skew_diagnose",
    oracle="""
    WITH c AS (
        SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders
        GROUP BY 1
    ), s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS r, CAST(COUNT(*) AS BIGINT) AS k
        FROM c
    ), t AS (
        SELECT o_custkey, n FROM c ORDER BY n DESC, o_custkey LIMIT 10
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, o_custkey) AS INT)
               AS rank,
           o_custkey,
           n AS n_orders,
           ROUND(n * 100.0 / r, 4) AS share_pct,
           ROUND(CAST(n * k AS DOUBLE) / r, 4) AS x_mean
    FROM t, s
    """,
)
def q_skew_diagnose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the top-10 heaviest o_custkey values with
    their share of the table and their multiple of the mean key load —
    the diagnostic run BEFORE a big join to decide between plain shuffle,
    AQE skew split, and manual salting (q_join_salted). A key at 100×
    mean is a straggler task; at 10 000× it's an OOM.

    All ratios derive from exact integer counts, so both engines agree
    to the bit.

    Scale design: the per-key count table is orders-of-magnitude smaller
    than the fact table and combines map-side; the top-10 is
    TakeOrderedAndProject (no global sort materialization), and the
    global (rows, keys) pair is a single-row broadcast. Cost is one
    combining aggregate — cheap enough to run as a pre-flight check on
    every scheduled big join."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    s = c.agg(F.sum("n").alias("r"), F.count("*").alias("k"))
    top = c.orderBy(F.desc("n"), "o_custkey").limit(10)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), "o_custkey")
    return (
        top.crossJoin(F.broadcast(s))
        .select(
            F.row_number().over(w).cast("int").alias("rank"),
            "o_custkey",
            F.col("n").alias("n_orders"),
            F.round(F.col("n") * 100.0 / F.col("r"), 4).alias("share_pct"),
            F.round(
                (F.col("n") * F.col("k")).cast("double") / F.col("r"), 4
            ).alias("x_mean"),
        )
    )


# ---------------------------------------------------------------------------
# co-purchase pair mining
# ---------------------------------------------------------------------------


@query(
    "q_pairs_copurchase",
    oracle=f"SELECT part_a, part_b, n_orders FROM {duck_basket_pairs(2)}",
)
def q_pairs_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-occurrence mining (market-basket / co-citation shape):
    parts ordered together in ≥2 orders, each unordered pair once
    (part_a < part_b), via operators/buckets.basket_pairs.

    Scale design: pairs are only ever generated WITHIN one basket (one
    aggregate on the order key, then in-row emission) — cost is
    Σ k²/2 over basket sizes, not |table|². TPC-H baskets are ≤ 7 lines;
    a real pipeline guards unbounded baskets by capping k (sample or
    truncate per basket) before the pair explosion — same hot-key guard
    as q_dedup_ngram_jaccard's stop-shingle df cap. The pair-count
    aggregate combines map-side, and the HAVING floor prunes the long
    tail before anything downstream consumes it."""
    return basket_pairs(load_table(spark, sf_dir, "lineitem"), 2)


# ---------------------------------------------------------------------------
# triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "q_graph_triangles",
    oracle=f"""
    WITH e AS (
        SELECT part_a AS pa, part_b AS pb FROM {duck_basket_pairs(2)}
    )
    SELECT CAST((SELECT COUNT(DISTINCT v) FROM (
               SELECT pa AS v FROM e UNION ALL SELECT pb FROM e
           )) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*)
                 FROM e e1
                 JOIN e e2 ON e2.pa = e1.pb
                 JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
                AS BIGINT) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts bought together
    in ≥2 orders): the clustering-coefficient numerator used for community
    detection and link-spam scoring. Edges are canonically oriented
    (pa < pb), so each triangle a<b<c is found exactly once by joining
    wedge (a,b)+(b,c) against closing edge (a,c) — no /6 correction, no
    double counting.

    Scale design: this is the standard two-equi-join triangle algorithm —
    both joins shuffle on vertex keys, never enumerate non-edges, and the
    canonical orientation bounds each wedge list by the out-degree of its
    lowest-id vertex (at web scale you'd additionally orient by degree —
    same plan, different comparator). The co-purchase edge builder
    already caps basket blow-up via q_pairs_copurchase's reasoning, and
    the ≥2-support filter prunes the edge set before any join.

    Graph-density caveat (SCALING.json's one >4× ratio, 5.07× at 4×
    data): replicating ORDERS densifies the co-purchase graph, so wedge
    and triangle counts grow with edge density, not input rows — the
    work is output-bound, which no plan can beat; the degree-orientation
    above is what keeps the constant factor linear in Σ(wedges)."""
    e = (
        basket_pairs(load_table(spark, sf_dir, "lineitem"), 2)
        .select(F.col("part_a").alias("pa"), F.col("part_b").alias("pb"))
        # the edge set feeds FOUR consumers (vertex count, edge count,
        # e1/e2/e3 of the triangle join); without a cache each consumer
        # re-runs the basket aggregate and pair count — ~4x the query's cost
        # (at cluster scale this is a stage table)
        .cache()
    )
    verts = (
        e.select(F.col("pa").alias("v"))
        .unionAll(e.select(F.col("pb").alias("v")))
        .agg(F.countDistinct("v").alias("n_vertices"))
    )
    edges = e.agg(F.count("*").alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.pa") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return verts.crossJoin(edges).crossJoin(tris)


# ---------------------------------------------------------------------------
# peak concurrency (sweep line)
# ---------------------------------------------------------------------------


@query(
    "q_win_concurrency",
    oracle="""
    WITH iv AS (
        SELECT event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                   + greatest(1, CAST(floor(value) AS BIGINT)) AS e
        FROM events
    ), pts AS (
        SELECT event_type, s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT event_type, e AS t, -1 AS delta FROM iv
    ), run AS (
        SELECT event_type,
               SUM(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS live
        FROM pts
    )
    SELECT event_type,
           CAST(MAX(live) AS BIGINT) AS peak_concurrency,
           CAST(COUNT(*) / 2 AS BIGINT) AS n_intervals
    FROM run GROUP BY 1
    """,
)
def q_win_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type via the sweep line: every interval
    [start, start+duration) contributes +1/−1 points, a running sum over
    the time-ordered points is the number of live intervals, and its max
    is the answer (capacity planning / peak-sessions analytics). Ends
    sort before starts at the same instant (ORDER BY t, delta), which
    encodes the half-open interval convention.

    Scale design: the naive form is one running sum per event_type —
    five partitions, five tasks, however big the data. This
    implementation is the scale-safe two-phase split: points carry a day
    bucket, the running sum is computed WITHIN (type, day) partitions,
    and each day adds the carry-in offset of all prior days (a tiny
    per-day aggregate cumulated over day-count rows). The big window
    state is then bounded by a day's points, the shuffle key is
    (type, day), and the global max is exact because a running sum
    telescopes: in-day prefix + prior-days total."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type",
        fsec("ts").alias("s"),
        (
            fsec("ts")
            + F.greatest(F.lit(1), F.floor("value").cast("bigint"))
        ).alias("e"),
    )
    pts = iv.select(
        "event_type", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        iv.select("event_type", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    day = F.floor(F.col("t") / 86400).alias("day")
    pts = pts.select("event_type", "t", "delta", day)

    from pyspark.sql import Window

    in_day = Window.partitionBy("event_type", "day").orderBy(
        "t", "delta"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    day_tot = (
        pts.groupBy("event_type", "day").agg(F.sum("delta").alias("d_sum"))
    )
    carry_w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = day_tot.select(
        "event_type",
        "day",
        F.coalesce(F.sum("d_sum").over(carry_w), F.lit(0)).alias("carry"),
    )
    run = (
        pts.withColumn("in_day", F.sum("delta").over(in_day))
        .join(carry, ["event_type", "day"])
        .select("event_type", (F.col("in_day") + F.col("carry")).alias("live"))
    )
    return run.groupBy("event_type").agg(
        F.max("live").alias("peak_concurrency"),
        (F.count("*") / 2).cast("bigint").alias("n_intervals"),
    )


@query(
    "q_stats_gini",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
        FROM spend
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS DOUBLE) AS total,
               CAST(SUM(CAST(i AS DOUBLE) * cents) AS DOUBLE) AS weighted
        FROM ranked
    )
    SELECT n AS n_customers,
           round(2.0 * weighted / (n * total)
                 - (CAST(n AS DOUBLE) + 1.0) / n, 6) AS gini
    FROM agg
    """,
)
def q_stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the concentration /
    inequality summary (0 = everyone spends equally, →1 = one whale),
    the one-number skew diagnostic that tells you whether
    q_join_salted's treatment will be needed BEFORE a per-customer
    join. Closed form over the spend-ranked sequence:
    G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n. Spend is exact integer cents and
    the rank is tie-broken by customer key, so both engines build the
    identical weighted sum.

    Scale design: per-customer spend combines map-side; the global
    rank is ONE ordered pass over the customer-level (not order-level)
    table — same honest global-window note as q_stats_ks, with the
    same fix at extreme scale (bin spend into a fixed grid and rank
    bins)."""
    from pyspark.sql.window import Window

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .alias("cents")
        )
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = spend.select(
        "cents", F.row_number().over(w).alias("i")
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("double").alias("total"),
        F.sum(F.col("i").cast("double") * F.col("cents"))
        .cast("double")
        .alias("weighted"),
    )
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(
            2.0 * F.col("weighted") / (n_d * F.col("total"))
            - (n_d + 1.0) / n_d,
            6,
        ).alias("gini"),
    )


@query(
    "q_stats_pareto",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS i,
               SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM spend
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total
        FROM spend
    )
    SELECT CAST(MIN(i) AS BIGINT) AS n_top_customers,
           tot.n AS n_customers,
           round(CAST(MIN(i) AS DOUBLE) * 100.0 / tot.n, 4) AS top_pct
    FROM ranked CROSS JOIN tot
    WHERE CAST(cum AS DOUBLE) / total >= 0.8
    GROUP BY tot.n
    """,
)
def q_stats_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: how many top customers produce 80 % of
    revenue (the 80/20 check) — reported as a count and a share of the
    customer base. Ranked by exact integer cents with a key tiebreak,
    cumulative share crosses 0.8 at ONE deterministic row in both
    engines.

    Scale design: same shape as q_stats_gini — customer-level rollup
    first (map-side combine), then one ordered cumulative pass over the
    reduced table; the totals frame broadcasts. The answer is the
    MIN(rank) past the threshold, which plans as a cheap aggregate, not
    a sort-and-take."""
    from pyspark.sql.window import Window

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .alias("cents")
        )
    )
    w = Window.orderBy(F.desc("cents"), "o_custkey")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = spend.select(
        "cents",
        F.row_number().over(w).alias("i"),
        F.sum("cents").over(wc).alias("cum"),
    )
    tot = spend.agg(
        F.count("*").alias("n"), F.sum("cents").alias("total")
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("cum").cast("double") / F.col("total") >= 0.8)
        .groupBy(F.col("n").alias("n_customers"))
        .agg(
            F.min("i").alias("n_top_customers"),
            F.round(
                F.min("i").cast("double") * 100.0 / F.col("n"), 4
            ).alias("top_pct"),
        )
        .select("n_top_customers", "n_customers", "top_pct")
    )


@query(
    "q_pairs_lift",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM li),
    supp AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS s FROM li GROUP BY 1
    ),
    pairs AS (
        SELECT part_a, part_b, n_orders AS ab FROM {duck_basket_pairs(3)}
    )
    SELECT part_a, part_b, ab,
           {sql_ratio4(("ab",), ("sa.s",))} AS confidence,
           {sql_ratio4(("ab", "n.n_orders"), ("sa.s", "sb.s"))} AS lift
    FROM pairs
    JOIN supp sa ON part_a = sa.l_partkey
    JOIN supp sb ON part_b = sb.l_partkey
    CROSS JOIN n
    """,
)
def q_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics over the co-purchase pairs: confidence
    P(b|a) and lift P(a,b)/(P(a)·P(b)) — the step that turns
    q_pairs_copurchase's raw counts into rankable rules (lift > 1 ⇒
    genuinely bought together, not just both popular). All three
    probabilities reduce to exact integer count ratios, and both engines
    round each ratio from its counts (``exact.ratio4``), so they derive
    identical doubles.

    Scale design: same in-basket pair count as the pair miner (bounded by
    per-order basket size); the per-part support table is joined back
    by SHUFFLE, not broadcast — |parts| grows with the data (1e8+ rows
    at 100 TB would OOM a broadcast build side), and the pair table is
    already hash-partitioned on the part keys so AQE picks the cheap
    side at runtime. Only the 1-row order-count frame is broadcast.
    Supports are computed from the SAME distinct projection the pairs
    use — one scan, no second pass over lineitem."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .cache()
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    supp = li.groupBy("l_partkey").agg(F.count("*").alias("s"))
    # supp/n stay on the full distinct table, which still counts
    # NULL-order rows exactly as the oracle's GROUP BY does
    # the pair's order count, renamed apart from the corpus order count
    pairs = basket_pairs(li, 3).withColumnRenamed("n_orders", "ab")
    sa = supp.select(
        F.col("l_partkey").alias("part_a"), F.col("s").alias("sa")
    )
    sb = supp.select(
        F.col("l_partkey").alias("part_b"), F.col("s").alias("sb")
    )
    return (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "ab",
            ratio4(("ab",), ("sa",)).alias("confidence"),
            ratio4(("ab", "n_orders"), ("sa", "sb")).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# population stability index
# ---------------------------------------------------------------------------


@query(
    "q_stats_psi",
    oracle="""
    WITH b AS (
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bin
        FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    ),
    c AS (
        SELECT bin,
               CAST(SUM(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_base,
               CAST(SUM(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cur
        FROM b GROUP BY 1
    ),
    g AS (
        SELECT bin, n_base, n_cur,
               CAST(n_base + 1 AS DOUBLE)
                   / CAST(SUM(n_base) OVER () + 10 AS DOUBLE) AS p,
               CAST(n_cur + 1 AS DOUBLE)
                   / CAST(SUM(n_cur) OVER () + 10 AS DOUBLE) AS q
        FROM c
    )
    SELECT bin, n_base, n_cur,
           floor((p - q) * ln(p / q) * 1000000 + 0.5) / 1000000
               AS psi_contrib
    FROM g
    """,
)
def q_stats_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index: binned distribution drift of order value
    between a baseline year (1995) and a comparison year (1996) — the
    model-monitoring metric scored before retraining; PSI > 0.2 means the
    feature moved enough to distrust the model. Complements q_stats_ks
    (exact continuous drift) and q_stats_chi2 (independence): PSI is the
    binned, per-bucket-attributable variant dashboards plot.

    Per fixed 50k-wide price bin: p/q are Laplace-smoothed (+1 / +n_bins)
    year shares, so empty bins stay finite; contribution is
    (p - q) * ln(p / q), quantized with the boundary-safe floor expression
    (analytics ground rules) since ln-derived doubles land anywhere.

    Scale design: one scan, one groupBy on the ≤10-value bin key, then a
    10-row window for the totals — the fact table shuffles bounded
    per-bin counts only, never rows. The smoothed shares divide exact
    integer counts, so both engines build identical doubles before ln."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    b = o.filter(yr.isin(1995, 1996)).select(
        yr.cast("int").alias("yr"),
        F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9))
        .cast("int")
        .alias("bin"),
    )
    c = b.groupBy("bin").agg(
        F.sum(F.when(F.col("yr") == 1995, 1).otherwise(0))
        .cast("bigint")
        .alias("n_base"),
        F.sum(F.when(F.col("yr") == 1996, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cur"),
    )
    w = Window.partitionBy()
    p = (F.col("n_base") + 1).cast("double") / (
        F.sum("n_base").over(w) + 10
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.sum("n_cur").over(w) + 10
    ).cast("double")
    g = c.select("bin", "n_base", "n_cur", p.alias("p"), q.alias("q"))
    contrib = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return g.select(
        "bin",
        "n_base",
        "n_cur",
        (F.floor(contrib * 1000000 + 0.5) / 1000000).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# event-type transition matrix (first-order Markov)
# ---------------------------------------------------------------------------


@query(
    "q_seq_markov",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type AS src,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id,
                   event_type ASC NULLS FIRST
               ) AS dst
        FROM events
    ),
    c AS (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM s WHERE dst IS NOT NULL GROUP BY 1, 2
    )
    SELECT src, dst, cnt,
           floor(CAST(cnt AS DOUBLE)
                 / CAST(SUM(cnt) OVER (PARTITION BY src) AS DOUBLE)
                 * 10000 + 0.5) / 10000 AS p
    FROM c
    """,
)
def q_seq_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    P(next event type | current) — the behavioral model behind
    next-action prediction, bot detection (improbable paths), and funnel
    leak localization; q_win_funnel checks ONE fixed path, this scores
    ALL of them.

    Transitions come from a single lead() per user (ts, event_id ordered
    for cross-engine determinism); the conditional denominator is a
    window total over the ≤|types|² count matrix, and the probability is
    a boundary-safe quantized exact-count ratio.

    Scale design: one shuffle on user_id with O(1) lead state per row;
    the count matrix is bounded by |event_types|² (25 cells here), so the
    probability window is driver-trivial. Per-session rather than
    per-user chains = swap the partition key for q_win_sessionize's
    session_id — same plan."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.asc_nulls_first("event_type")
    )
    s = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = s.filter(F.col("dst").isNotNull()).groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    tot = Window.partitionBy("src")
    return c.select(
        "src",
        "dst",
        "cnt",
        (
            F.floor(
                F.col("cnt").cast("double")
                / F.sum("cnt").over(tot).cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# CUSUM change detection
# ---------------------------------------------------------------------------


@query(
    "q_win_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS sum_v
        FROM events GROUP BY 1, 2
    ),
    g AS (
        SELECT event_type, day,
               CAST(sum_v AS DOUBLE) AS sum_v,
               CAST(SUM(sum_v) OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS DOUBLE) AS cum,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS rn,
               CAST(SUM(sum_v) OVER (PARTITION BY event_type) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY event_type) AS mean_v
        FROM daily
    )
    SELECT event_type, day,
           floor(sum_v * 10000 + 0.5) / 10000 AS sum_v,
           floor((cum - rn * mean_v) * 10000 + 0.5) / 10000 AS cusum
    FROM g
    """,
)
def q_win_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point signal: per event type, the running cumulative
    deviation of daily totals from the series mean — flat while the
    process is stable, a sustained ramp after a level shift; the classic
    SPC chart that catches slow drifts a per-day threshold misses.

    Determinism: the cumulative numerator is a DECIMAL window sum of the
    decimal daily totals (exact, order-independent), cast to double only
    at the end; the mean is exact-sum / count; cusum = cum − rn·mean is
    then mirrored operation-for-operation, so no float accumulation
    order can diverge between engines.

    Scale design: the windows run over the DAILY rollup (|types| × |days|
    rows), one shuffle on event_type; cumulative frames are O(1) state.
    The fact table is touched once, in the decimal groupBy."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        fday("ts").alias("day"),
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_v"))
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ord_w = Window.partitionBy("event_type").orderBy("day")
    all_w = Window.partitionBy("event_type")
    g = daily.select(
        "event_type",
        "day",
        F.col("sum_v").cast("double").alias("sum_vd"),
        F.sum("sum_v").over(cum_w).cast("double").alias("cum"),
        F.row_number().over(ord_w).alias("rn"),
        (
            F.sum("sum_v").over(all_w).cast("double")
            / F.count("*").over(all_w)
        ).alias("mean_v"),
    )
    return g.select(
        "event_type",
        "day",
        (F.floor(F.col("sum_vd") * 10000 + 0.5) / 10000).alias("sum_v"),
        (
            F.floor(
                (F.col("cum") - F.col("rn") * F.col("mean_v")) * 10000 + 0.5
            )
            / 10000
        ).alias("cusum"),
    )


# ---------------------------------------------------------------------------
# day-of-week seasonality profile
# ---------------------------------------------------------------------------


@query(
    "q_season_profile",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST((floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) + 4) % 7
                    AS INT) AS dow,
               value
        FROM events
    ),
    d AS (
        SELECT event_type, dow,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(CAST(value AS DECIMAL(18,4))) AS sum_v
        FROM e GROUP BY 1, 2
    )
    SELECT event_type, dow, n_events,
           floor(CAST(sum_v AS DOUBLE) * 10000 + 0.5) / 10000 AS sum_value,
           floor(CAST(n_events AS DOUBLE)
                 / (CAST(SUM(n_events) OVER (PARTITION BY event_type)
                         AS DOUBLE) / 7)
                 * 10000 + 0.5) / 10000 AS seasonality_idx
    FROM d
    """,
)
def q_season_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: per event type, volume and value
    by weekday plus a seasonality index (observed share ÷ uniform share;
    1.0 = no weekly pattern) — the decomposition input capacity planning
    and anomaly baselines start from, and the profile q_time_spine's
    gap-filled series gets compared against.

    The weekday comes from integer epoch-day arithmetic ((day + 4) % 7,
    anchored to 1970-01-01 = Thursday) rather than each engine's
    dayofweek() — SQL engines disagree on week start, modular arithmetic
    doesn't. Index = exact-count ratio, boundary-safe quantized.

    Scale design: one scan → groupBy on the (type, dow) key (≤35 groups),
    decimal-exact value sums; the per-type totals window runs over the
    35-row profile. Nothing after the first groupBy sees fact rows."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        ((fday("ts") + 4) % 7)
        .cast("int")
        .alias("dow"),
        "value",
    )
    d = e.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_v"),
    )
    tot = Window.partitionBy("event_type")
    return d.select(
        "event_type",
        "dow",
        "n_events",
        (F.floor(F.col("sum_v").cast("double") * 10000 + 0.5) / 10000).alias(
            "sum_value"
        ),
        (
            F.floor(
                F.col("n_events").cast("double")
                / (F.sum("n_events").over(tot).cast("double") / 7)
                * 10000
                + 0.5
            )
            / 10000
        ).alias("seasonality_idx"),
    )


# ---------------------------------------------------------------------------
# degree distribution
# ---------------------------------------------------------------------------


@query(
    "q_graph_degree_dist",
    oracle="""
    WITH deg AS (
        SELECT l_suppkey,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS degree
        FROM lineitem GROUP BY 1
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM deg GROUP BY 1
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the supplier–part bipartite graph: how many
    distinct parts each supplier ships, histogrammed — the first question
    asked of any graph (is it power-law? are there super-nodes that will
    skew every downstream join?); the empirical input behind
    q_join_salted's skew thresholds and q_skew_diagnose's hot-key report.

    Scale design: two cascaded aggregations — distinct (supp, part) pairs
    shuffle once on the composite key with map-side dedup absorbing the
    fan-in, then per-supplier counts, then the tiny degree histogram.
    Exactly the double-groupBy shape that survives super-nodes, because
    no per-key state ever exceeds a counter; contrast with collecting
    neighbor lists (q_knn_graph), which is what power-law tails break."""
    li = load_table(spark, sf_dir, "lineitem")
    deg = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").cast("bigint").alias("degree")
    )
    return deg.groupBy("degree").agg(
        F.count("*").cast("bigint").alias("n_suppliers")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


@query(
    "q_rfm_segment",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               CAST(max(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400))
                    AS BIGINT) AS last_day,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT o_custkey, last_day, frequency, monetary,
               CAST(NTILE(5) OVER (ORDER BY last_day, o_custkey) AS INT)
                   AS r_score,
               CAST(NTILE(5) OVER (ORDER BY frequency, o_custkey) AS INT)
                   AS f_score,
               CAST(NTILE(5) OVER (ORDER BY monetary, o_custkey) AS INT)
                   AS m_score
        FROM rfm
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(monetary AS DECIMAL(18,4))) AS DOUBLE)
               AS segment_revenue,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                ELSE 'regular' END AS segment
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
)
def q_rfm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers scored into quintiles on Recency
    (last order day), Frequency (order count), and Monetary (exact-decimal
    lifetime revenue), then rolled into the marketing segments
    (champion / at-risk / new / regular) every CRM campaign targets.

    NTILE(5) with a custkey tiebreak gives identical quintile boundaries
    in both engines (NTILE's front-loaded bucket-size rule is standard);
    monetary stays decimal through the segment rollup so revenue is
    exact. Cross-engine gotcha (caught by the generated-fixture sweep,
    round 5): the day number must be floor(epoch/86400) spelled with an
    explicit floor() — DuckDB's `//` on a DOUBLE is plain division and
    the BIGINT cast then ROUNDS, so intra-day order times drifted the
    recency day +1 for afternoon timestamps; the driver fixture's
    midnight-only dates never exposed it.

    Scale design: the per-customer rollup is the only pass over orders.
    The global NTILEs run over |customers| rows in one sort — fine to
    ~10⁸; past that, replace with percentile-threshold scoring (compute
    the 5 quantile cut points via approx sketch, broadcast, CASE into
    scores) — same output contract, no global sort. The final segment
    aggregate is ≤125 groups."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        fday(F.max("o_orderdate")).alias("last_day"),
        F.count("*").cast("bigint").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("mon_d"),
    )
    scored = rfm.select(
        "o_custkey",
        "mon_d",
        F.ntile(5)
        .over(Window.orderBy("last_day", "o_custkey"))
        .cast("int")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "o_custkey"))
        .cast("int")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("mon_d").cast("double"), "o_custkey"))
        .cast("int")
        .alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion"
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .otherwise("regular")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("mon_d").cast("double").alias("segment_revenue"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            "segment_revenue",
            seg.alias("segment"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (time-to-event with right censoring)
# ---------------------------------------------------------------------------


@query(
    "q_survival_km",
    oracle="""
    WITH dur AS (
        SELECT o.o_orderpriority AS priority,
               CAST(floor(epoch(CAST(l.ship AS TIMESTAMP)) / 86400) AS BIGINT)
                   - CAST(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP))
                                / 86400) AS BIGINT) AS t,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS observed
        FROM orders o
        JOIN (
            SELECT l_orderkey, MAX(l_shipdate) AS ship
            FROM lineitem GROUP BY 1
        ) l ON l.l_orderkey = o.o_orderkey
    ),
    at_t AS (
        SELECT priority, t,
               SUM(observed) AS d,
               SUM(1 - observed) AS c
        FROM dur GROUP BY 1, 2
    ),
    risk AS (
        SELECT priority, t, d, c,
               SUM(d + c) OVER (
                   PARTITION BY priority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS consumed,
               SUM(d + c) OVER (PARTITION BY priority) AS total
        FROM at_t
    ),
    km AS (
        SELECT priority, t, d, c,
               total - consumed + d + c AS n_risk,
               MAX(CASE WHEN d = total - consumed + d + c
                   THEN 1 ELSE 0 END) OVER (
                   PARTITION BY priority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS extinct,
               exp(SUM(CASE WHEN d > 0
                             AND d < total - consumed + d + c
                       THEN ln(1.0 - CAST(d AS DOUBLE)
                                     / (total - consumed + d + c))
                       ELSE 0.0 END) OVER (
                   PARTITION BY priority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )) AS s
        FROM risk
    )
    SELECT priority, t,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_event,
           CAST(c AS BIGINT) AS n_censored,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE floor(s * 10000 + 0.5) / 10000 END AS survival
    FROM km
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator over order fulfillment time:
    duration = days from order date to the order's LAST line shipment,
    an order is an observed event if finished ('F') and right-censored
    otherwise (still open/partial when the snapshot was taken — we know
    it survived AT LEAST this long, not when it finishes). One curve per
    order priority: at each distinct duration t, the at-risk count n_t,
    events d_t, censored c_t, and the product-limit estimate
    S(t) = prod_{t'<=t}(1 - d/n) — the standard censoring-correct way to
    answer "how long until fulfillment/churn/failure" (naive averages
    are biased low because open orders are silently dropped).

    Scale design: durations come from a per-orderkey max-shipdate
    aggregate joined to orders on the key both sides would be bucketed
    by in a real lake (shuffle on an 8-byte key, map-side partial max).
    The curve itself runs over the per-(priority, t) COUNTS — |groups| x
    |distinct days| rows, thousands at any data size — so the window
    cumulative product (as exp-sum-ln, the numerically standard form)
    costs nothing after the first aggregate. n_risk is derived from the
    same running sum (total - consumed + d + c), avoiding a second
    window direction. Doubles: d and n are exact integers; ln/exp and
    the running double sum execute in the same t-order in both engines,
    bit-identical before the 4-dp round; days are floor-epoch per side,
    the repo's cross-engine date-diff convention. When the last at-risk
    subjects all die at once (d = n), S hits exactly 0 — that step is
    excluded from the exp-sum-ln (ln 0 errors in DuckDB, is -inf in
    Spark) and an 'extinct' running flag pins survival to 0.0 from that
    point on, on both engines."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("ship")
    )
    day = fday
    dur = o.join(last_ship, o["o_orderkey"] == last_ship["l_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        (day(F.col("ship")) - day(F.col("o_orderdate"))).alias("t"),
        F.when(F.col("o_orderstatus") == "F", F.lit(1))
        .otherwise(F.lit(0))
        .alias("observed"),
    )
    at_t = dur.groupBy("priority", "t").agg(
        F.sum("observed").alias("d"),
        F.sum(F.lit(1) - F.col("observed")).alias("c"),
    )
    from pyspark.sql import Window

    cum = Window.partitionBy("priority").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    whole = Window.partitionBy("priority")
    risk = at_t.select(
        "priority",
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(cum).alias("consumed"),
        F.sum(F.col("d") + F.col("c")).over(whole).alias("total"),
    )
    n_risk = F.col("total") - F.col("consumed") + F.col("d") + F.col("c")
    km = risk.select(
        "priority",
        "t",
        "d",
        "c",
        n_risk.alias("n_risk"),
        F.max(
            F.when(F.col("d") == n_risk, F.lit(1)).otherwise(F.lit(0))
        )
        .over(cum)
        .alias("extinct"),
        F.exp(
            F.sum(
                F.when(
                    (F.col("d") > 0) & (F.col("d") < n_risk),
                    F.log(
                        F.lit(1.0)
                        - F.col("d").cast("double") / n_risk
                    ),
                ).otherwise(F.lit(0.0))
            ).over(cum)
        ).alias("s"),
    )
    return km.select(
        "priority",
        "t",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_event"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.floor(F.col("s") * 10000 + 0.5) / 10000)
        .alias("survival"),
    )


# ---------------------------------------------------------------------------
# seasonality-adjusted anomaly detection (day-of-week median + MAD)
# ---------------------------------------------------------------------------


@query(
    "q_anomaly_seasonal",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) * 10000 AS BIGINT)
                   AS vc
        FROM events GROUP BY 1, 2
    ),
    d AS (
        SELECT event_type, day, (day + 4) % 7 AS dow, vc FROM daily
    ),
    med AS (
        SELECT event_type, dow, median(vc) AS med
        FROM d GROUP BY 1, 2
    ),
    dev AS (
        SELECT d.event_type, d.day, d.dow, d.vc, m.med,
               abs(CAST(d.vc AS DOUBLE) - m.med) AS dev
        FROM d JOIN med m USING (event_type, dow)
    ),
    mad AS (
        SELECT event_type, dow, median(dev) AS mad
        FROM dev GROUP BY 1, 2
    )
    SELECT v.event_type, v.day, CAST(v.dow AS INT) AS dow,
           round(CAST(v.vc AS DOUBLE) / 10000, 4) AS value,
           round(v.med / 10000, 4) AS dow_median,
           (s.mad > 0 AND v.dev > 3.0 * 1.4826 * s.mad) AS is_anomaly
    FROM dev v JOIN mad s USING (event_type, dow)
    """,
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection: each (event type, day)
    revenue is compared against the MEDIAN of its own day-of-week cohort
    and flagged when it deviates more than 3 robust sigmas
    (1.4826 x MAD) — a Monday is judged against Mondays, so the weekly
    cycle q_season_profile measures never masquerades as an anomaly and
    a raw z-score (q_anomaly_zscore) never flags every weekend.
    Median/MAD instead of mean/stddev keeps one true outlier from
    inflating its own threshold.

    Cross-engine determinism: daily sums go exact-decimal, then scale to
    integer ten-thousandths (the q_anomaly_mad convention) so every
    median is an order statistic (or half-sum) over INTEGERS — identical
    in both engines, immune to float accumulation order. The weekday is
    (epoch_day + 4) % 7, the engine-neutral arithmetic q_season_profile
    established.

    Scale design: the fact scan collapses to |types| x |days| rows
    first; medians run per (type, dow) — 7 bounded cohorts per type
    whose size is |days|/7, i.e. series-length work. Exact median of a
    day-count-sized cohort is cheap; at year scales it stays thousands
    of rows per cohort. Everything joins back on (type, dow) — 35-key
    joins, broadcast-sized tables both sides."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        fday("ts").alias("day"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,4)")) * 10000)
        .cast("bigint")
        .alias("vc")
    )
    d = daily.withColumn("dow", (F.col("day") + 4) % 7)
    med = d.groupBy("event_type", "dow").agg(F.median("vc").alias("med"))
    dev = d.join(med, ["event_type", "dow"]).withColumn(
        "dev", F.abs(F.col("vc").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type", "dow").agg(
        F.median("dev").alias("mad")
    )
    out = dev.join(mad, ["event_type", "dow"])
    r4 = lambda c: F.round(c, 4)  # noqa: E731
    return out.select(
        "event_type",
        "day",
        F.col("dow").cast("int").alias("dow"),
        r4(F.col("vc").cast("double") / 10000).alias("value"),
        r4(F.col("med") / 10000).alias("dow_median"),
        (
            (F.col("mad") > 0)
            & (F.col("dev") > 3.0 * 1.4826 * F.col("mad"))
        ).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# cohort lifetime value (cumulative revenue per acquisition cohort)
# ---------------------------------------------------------------------------


@query(
    "q_cohort_ltv",
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 604800) AS BIGINT)
                   AS wk,
               CAST(value AS DECIMAL(18,4)) AS v
        FROM events WHERE event_type = 'purchase'
    ),
    cohort AS (
        SELECT user_id, MIN(wk) AS c0 FROM p GROUP BY 1
    ),
    cell AS (
        SELECT c.c0 AS cohort_week,
               p.wk - c.c0 AS week_offset,
               SUM(p.v) AS rev
        FROM p JOIN cohort c USING (user_id)
        GROUP BY 1, 2
    ),
    size_ AS (
        SELECT c0 AS cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM cohort GROUP BY 1
    )
    SELECT cell.cohort_week,
           CAST(cell.week_offset AS BIGINT) AS week_offset,
           s.n_users,
           CAST(SUM(cell.rev) OVER (
               PARTITION BY cell.cohort_week ORDER BY cell.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS cum_revenue,
           floor(CAST(SUM(cell.rev) OVER (
               PARTITION BY cell.cohort_week ORDER BY cell.week_offset
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / s.n_users * 10000 + 0.5) / 10000
               AS ltv_per_user
    FROM cell JOIN size_ s USING (cohort_week)
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: users grouped by first-purchase week,
    cumulative cohort revenue and per-user LTV at every week offset —
    the payback-period / LTV-to-CAC table that sits next to
    q_cohort_retention's counts (same triangle, revenue instead of
    presence).

    Scale design: purchases collapse to per-(cohort, offset) DECIMAL
    sums before any window runs, so the cumulative pass works on
    |cohorts| x |weeks| cells, not events — and because the running sum
    accumulates DECIMALS (exact, order-free), the cross-engine result
    is bit-identical before the single divide-by-cohort-size at the
    end. First-purchase cohorting shuffles on user_id once and AQE
    reuses the exchange for the join back (the q_cohort_retention
    layout). Week arithmetic is integer epoch-week on both engines."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.floor(fsec("ts") / 604800).cast("bigint").alias("wk"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    cohort = p.groupBy("user_id").agg(F.min("wk").alias("c0"))
    cell = (
        p.join(cohort, "user_id")
        .groupBy(
            F.col("c0").alias("cohort_week"),
            (F.col("wk") - F.col("c0")).cast("bigint").alias("week_offset"),
        )
        .agg(F.sum("v").alias("rev"))
    )
    size = cohort.groupBy(F.col("c0").alias("cohort_week")).agg(
        F.count(F.lit(1)).alias("n_users")
    )
    cum_w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = cell.join(size, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.sum("rev").over(cum_w).cast("double").alias("cum_revenue"),
    )
    return out.select(
        "cohort_week",
        "week_offset",
        "n_users",
        "cum_revenue",
        (
            F.floor(
                F.col("cum_revenue") / F.col("n_users") * 10000 + 0.5
            )
            / 10000
        ).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# top user journeys (first-N event paths)
# ---------------------------------------------------------------------------


@query(
    "q_seq_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               -- event_type tiebreak (r13, --conflict): conflicting
               -- copies tie (ts, event_id) with drifted types
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id,
                       event_type ASC NULLS FIRST
               ) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths
    GROUP BY 1
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def q_seq_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journeys: each user's first five events concatenated
    into a path string ('signup>click>purchase>...'), counted across
    users — the "what do people actually do first" product-analytics
    view that q_seq_markov's one-step transition matrix cannot show
    (paths are whole trajectories, not memoryless steps).

    Scale design: the row_number + rn<=5 filter runs inside the one
    user-keyed window sort and throws away everything past the fifth
    event BEFORE any aggregation — per-user state is 5 rows no matter
    how active the user. Path assembly is collect_list of (rn, type)
    structs sorted JVM-side (array_sort on the rn field makes the
    unordered collect deterministic), then a transform+concat — no
    Python. The final path count is a classic low-cardinality groupBy
    with map-side partials, and the top-20 is a heap, not a sort."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.asc_nulls_first("event_type")
    )
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 5)
    paths = ranked.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda s: s.event_type,
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pareto frontier (2-D skyline) without a quadratic self-join
# ---------------------------------------------------------------------------


@query(
    "q_skyline_pareto",
    oracle="""
    WITH r AS (
        -- objective-domain guard (r11, --evolve): a part with UNKNOWN
        -- size cannot participate in a (price, size) skyline. Without
        -- the filter the engines diverge structurally: NULL comparisons
        -- make the oracle's NOT EXISTS vacuously TRUE (every NULL-size
        -- row lands on the frontier) while Spark's min-window filter
        -- drops the same rows
        SELECT p_partkey,
               CAST(round(p_retailprice * 100, 0) AS BIGINT) AS price_c,
               CAST(p_size AS BIGINT) AS size
        FROM part
        WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
    )
    SELECT a.p_partkey,
           floor(CAST(a.price_c AS DOUBLE) / 100 * 10000 + 0.5) / 10000
               AS price,
           a.size
    FROM r a
    WHERE NOT EXISTS (
        SELECT 1 FROM r b
        WHERE b.price_c <= a.price_c AND b.size <= a.size
          AND (b.price_c < a.price_c OR b.size < a.size)
    )
    """,
)
def q_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of the part catalog (minimize price AND size):
    every part not strictly dominated by another — the multi-objective
    shortlist behind "cheapest adequate option" recommendations and
    query-optimizer plan pruning. Identical (price, size) twins are
    mutually non-dominating and all stay on the frontier.

    Scale design: the textbook formulation is the quadratic NOT EXISTS
    self-join the ORACLE runs — fine for DuckDB at fixture scale,
    catastrophic at catalog scale. The Spark plan is the O(n log n)
    sweep rewrite: with price scaled to integer cents, one window
    ordered by price_c with RANGE .. 1 PRECEDING yields min(size) over
    all STRICTLY cheaper rows (value-range frame, so equal prices are
    excluded exactly), and a second frame over the same sort keyed by
    equal price yields min(size) among price-ties. A row is dominated
    iff a strictly-cheaper row has size <= its size, or a price-tie has
    size strictly smaller. One sort, O(1) state — the same
    sufficient-statistic-over-a-sweep trick as q_win_concurrency, and
    the two frames share a single exchange. The single unpartitioned
    sort is over the DIMENSION (catalog-sized); for fact-scale skylines
    pre-partition by a coarse price bucket and stitch (each bucket's
    frontier + the running cross-bucket min), same envelope pattern as
    q_seq_gaps."""
    p = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window

    # objective-domain guard (see oracle comment): NULL objectives are
    # excluded on BOTH sides, not dropped implicitly by one engine
    r = p.filter(
        F.col("p_size").isNotNull() & F.col("p_retailprice").isNotNull()
    ).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("bigint")
        .alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    cheaper = (
        Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
    )
    ties = Window.partitionBy("price_c")
    flagged = r.select(
        "p_partkey",
        "price_c",
        "size",
        F.min("size").over(cheaper).alias("min_size_cheaper"),
        F.min("size").over(ties).alias("min_size_tie"),
    )
    skyline = flagged.filter(
        (
            F.col("min_size_cheaper").isNull()
            | (F.col("min_size_cheaper") > F.col("size"))
        )
        & (F.col("min_size_tie") == F.col("size"))
    )
    return skyline.select(
        "p_partkey",
        (
            F.floor(F.col("price_c").cast("double") / 100 * 10000 + 0.5)
            / 10000
        ).alias("price"),
        "size",
    )


# ---------------------------------------------------------------------------
# per-user ML feature matrix (behavioral features incl. trend slope)
# ---------------------------------------------------------------------------


@query(
    "q_user_features",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS v,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    horizon AS (SELECT MAX(day) AS h FROM daily),
    f AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS active_days,
               CAST(SUM(n) AS BIGINT) AS n_events,
               CAST(SUM(v) AS DOUBLE) AS total_value,
               CAST(MAX(h) - MAX(day) AS BIGINT) AS recency_days,
               CAST(MAX(day) - MIN(day) AS BIGINT) AS tenure_days,
               -- DECIMAL(28,4), not (18,4): day numbers from dirty
               -- post-2262 timestamps reach ~1.2e5, and DuckDB's
               -- (18,4)x(18,4) product overflows its int64 storage
               -- (--dates sweep); 28 digits forces the int128 path
               COUNT(*) * SUM(CAST(day AS DECIMAL(28,4)) * v)
                   - SUM(CAST(day AS DECIMAL(28,4))) * SUM(v) AS s_num,
               COUNT(*) * SUM(CAST(day AS DECIMAL(28,4))
                              * CAST(day AS DECIMAL(28,4)))
                   - SUM(CAST(day AS DECIMAL(28,4)))
                     * SUM(CAST(day AS DECIMAL(28,4))) AS s_den
        FROM daily CROSS JOIN horizon
        GROUP BY user_id
    )
    SELECT user_id, active_days, n_events,
           floor(total_value * 10000 + 0.5) / 10000 AS total_value,
           recency_days, tenure_days,
           CASE WHEN s_den > 0
                THEN floor(CAST(s_num AS DOUBLE) / CAST(s_den AS DOUBLE)
                           * 10000 + 0.5) / 10000
                ELSE 0.0 END AS value_slope
    FROM f
    """,
)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral feature matrix — the churn/LTV-model input
    builder: activity (active days, event count), monetary total,
    recency against the corpus horizon, tenure, and a per-user daily
    value TREND (least-squares slope over the user's daily series —
    rising or fading engagement), everything a feature store would
    snapshot per entity. q_rfm_segment buckets three of these into
    quintiles; this emits the raw model-ready vector, slope included.

    Scale design: events collapse to per-(user, day) decimal sums
    first; every feature including the regression slope then comes
    from ONE groupBy over user_id via sufficient statistics — the
    q_stats_linreg closed form with day cast to decimal so Σdv, Σd,
    Σd² are EXACT (order-free) and the single slope division is the
    only double op, performed identically on both engines. The corpus
    horizon is a 1-row broadcast. Two shuffles total (user-day, then
    user), both on the user key — AQE reuses the layout."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id",
        fday("ts").alias("day"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("v"),
        F.count(F.lit(1)).alias("n"),
    )
    horizon = daily.agg(F.max("day").alias("h"))
    # (28,4) matches the oracle: wide enough that day-squared sums from
    # dirty far-future day numbers stay exact on both engines
    d = F.col("day").cast("decimal(28,4)")
    f = (
        daily.crossJoin(F.broadcast(horizon))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("active_days"),
            F.sum("n").cast("bigint").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
            (F.max("h") - F.max("day")).cast("bigint").alias("recency_days"),
            (F.max("day") - F.min("day")).cast("bigint").alias("tenure_days"),
            (
                F.count(F.lit(1)) * F.sum(d * F.col("v"))
                - F.sum(d) * F.sum("v")
            ).alias("s_num"),
            (
                F.count(F.lit(1)) * F.sum(d * d) - F.sum(d) * F.sum(d)
            ).alias("s_den"),
        )
    )
    q4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return f.select(
        "user_id",
        "active_days",
        "n_events",
        q4(F.col("total_value")).alias("total_value"),
        "recency_days",
        "tenure_days",
        F.when(
            F.col("s_den") > 0,
            q4(F.col("s_num").cast("double") / F.col("s_den").cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("value_slope"),
    )


# ---------------------------------------------------------------------------
# open-order backlog aging (snapshot report)
# ---------------------------------------------------------------------------


@query(
    "q_orders_backlog",
    oracle="""
    WITH snap AS (
        SELECT MAX(CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))
                              / 86400) AS BIGINT)) AS today
        FROM orders
    ),
    open_o AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,4)) AS price,
               s.today - CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))
                                    / 86400) AS BIGINT) AS age
        FROM orders CROSS JOIN snap s
        WHERE o_orderstatus IN ('O', 'P')
    )
    SELECT o_orderpriority,
           CASE WHEN age <= 30 THEN '0-30'
                WHEN age <= 60 THEN '31-60'
                WHEN age <= 90 THEN '61-90'
                ELSE '90+' END AS age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(price) AS DOUBLE) AS open_value
    FROM open_o
    GROUP BY 1, 2
    """,
)
def q_orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging: orders still open or partially filled
    ('O'/'P'), bucketed by age at the snapshot date (the newest order
    date in the data — a deterministic stand-in for NOW(), which the
    oracle contract forbids), counted and valued per priority — the
    operations dashboard that tells fulfillment where the oldest money
    is stuck.

    Scale design: the snapshot date is a 1-row broadcast (the
    scale-safe global-constant attach); the status filter pushes to the
    scan; bucketing is integer arithmetic inside the scan stage; the
    rollup keys are 5 priorities x 4 buckets with map-side partials.
    Value sums ride the exact decimal path."""
    o = load_table(spark, sf_dir, "orders")
    day = fday("o_orderdate")
    snap = o.agg(F.max(day).alias("today"))
    open_o = (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .select(
            "o_orderpriority",
            F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
            day.alias("d"),
        )
        .crossJoin(F.broadcast(snap))
        .withColumn("age", F.col("today") - F.col("d"))
    )
    bucket = (
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 60, "31-60")
        .when(F.col("age") <= 90, "61-90")
        .otherwise("90+")
    )
    return open_o.groupBy(
        "o_orderpriority", bucket.alias("age_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("open_value"),
    )


# ---------------------------------------------------------------------------
# step-indexed transition counts (Sankey / funnel-flow input)
# ---------------------------------------------------------------------------


@query(
    "q_seq_transitions",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_type,
               -- event_type tiebreak (r13, --conflict): conflicting
               -- copies tie (ts, event_id) with drifted types
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id,
                       event_type ASC NULLS FIRST
               ) AS rn
        FROM events
    ),
    steps AS (
        SELECT user_id, event_type, rn,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY rn
               ) AS next_type
        FROM ranked WHERE rn <= 6
    )
    SELECT CAST(rn AS INT) AS step,
           event_type AS from_type,
           next_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM steps
    WHERE next_type IS NOT NULL AND rn <= 5
    GROUP BY 1, 2, 3
    """,
)
def q_seq_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-indexed transition counts over each user's first six
    events: how many users moved from type A to type B at step 1, at
    step 2, ... — the Sankey-diagram / funnel-flow input, which is
    strictly richer than q_seq_markov's global transition matrix
    (step-conditioned: 'click→purchase' at step 1 and at step 4 are
    different behaviors) and than q_seq_paths' whole trajectories
    (transitions aggregate across path prefixes).

    Scale design: the rn <= 6 cut happens inside the one user-keyed
    window sort, so per-user state is 6 rows before the lead() (which
    shares the same sort — one exchange total); the transition rollup
    keys are step x |types|^2, a constant grid with map-side
    partials."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        "ts", "event_id", F.asc_nulls_first("event_type")
    )
    ranked = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 6)
    w2 = Window.partitionBy("user_id").orderBy("rn")
    steps = ranked.withColumn(
        "next_type", F.lead("event_type").over(w2)
    )
    return (
        steps.filter(F.col("next_type").isNotNull() & (F.col("rn") <= 5))
        .groupBy(
            F.col("rn").cast("int").alias("step"),
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
