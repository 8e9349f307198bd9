"""Deterministic sampling / splitting / sharding (B12 extension).

The bread-and-butter corpus-management ops of a training-data pipeline:
reproducible train/val/test splits, per-stratum sampling, and balanced
shard assignment. All use the same primitive — a deterministic integer
mix of the stable row id — so the SAME row lands in the SAME split on
every engine, every run, at every scale (the property `rand()`-based
sampling does not have). The mix constant is Knuth's 2654435761, applied
REDUCE-FIRST: (id * MIX) % m == ((id % m) * (MIX % m)) % m, and the
right-hand form keeps every product under ~2^40 for the moduli used here
even when ids are snowflake-scale (~9e15, the --bigid axis) — the naive
left-hand product overflows int64 at any id past ~3.5e9 and hard-errors
under ANSI Spark. DuckDB computes the identical arithmetic, which makes
all three queries fully oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark.exact import (
    ID_MIX,
    fday,
    fsec,
    id_hash,
    sql_id_hash,
)
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, spread

@query(
    "q_sample_split",
    oracle=f"""
    SELECT CASE WHEN {sql_id_hash('doc_id', 100)} < 80 THEN 'train'
                WHEN {sql_id_hash('doc_id', 100)} < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2
    """,
)
def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test split by hashed doc_id, with a
    per-language stratification summary. Because assignment is a pure
    function of the id, adding or re-ordering data never moves an existing
    row between splits — the property that keeps eval sets uncontaminated
    across corpus versions."""
    docs = load_table(spark, sf_dir, "documents")
    b = id_hash("doc_id", 100)
    split = (
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, {sql_id_hash('doc_id', 100)} AS bucket
    FROM documents
    WHERE {sql_id_hash('doc_id', 100)} < 10
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample, uniform within every stratum because the
    hash is independent of lang. One scan, the predicate is a pure
    projection — no shuffle at all; at 100 TB this is how you cut dev
    subsets out of the corpus without a sort or a rand() seed headache."""
    docs = load_table(spark, sf_dir, "documents")
    b = id_hash("doc_id", 100)
    return docs.select("doc_id", "lang", b.alias("bucket")).filter(
        F.col("bucket") < 10
    )


@query(
    "q_corpus_shard",
    oracle=f"""
    SELECT {sql_id_hash('doc_id', 8)} AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents
    GROUP BY 1
    """,
)
def q_corpus_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced 8-way shard assignment for distributed training data
    loading (each trainer rank reads shard = its rank). The mix constant
    decorrelates shard from id ranges so shards stay balanced even when
    ids are assigned sequentially; the summary proves it. At scale this
    becomes ``df.write.partitionBy('shard')`` — one output dir per rank."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(id_hash("doc_id", 8).alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH k AS (
        SELECT doc_id, lang, n_chars,
               pow((CAST({sql_id_hash('doc_id', 1000003)} AS DOUBLE) + 1.0)
                       / 1000004.0,
                   1.0 / CAST(n_chars AS DOUBLE)) AS es_key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight
    FROM k
    ORDER BY es_key DESC, doc_id
    LIMIT 25
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    one-pass trick: give every row the key u^(1/w) (u uniform in (0,1),
    w = its weight — here n_chars, i.e. long documents are proportionally
    more likely to be drawn) and keep the global top-k keys. This is THE
    distributed weighted-reservoir formulation: no sequential reservoir,
    no rejection loop, provably the weighted-without-replacement
    distribution.

    u comes from the repo's deterministic integer mix (never rand(): the
    sample must be reproducible run-to-run and engine-to-engine), mapped
    into (0,1) with a prime modulus so no doc lands exactly on 0 or 1.

    Scale: the key is a row-local projection and top-k compiles to
    TakeOrderedAndProject — per-partition k-heaps then a k-sized merge at
    the driver-side of the exchange, so 100 TB shuffles k rows per
    partition, not the table. Selected ids only are emitted (the float key
    stays internal, so the compare surface is integer-exact).

    Zero-weight rows (empty documents — r8 --extreme sweep) are excluded
    from the draw: ES gives weight-0 rows draw probability 0 by
    definition, and computing their key literally (1/w) divides by zero,
    which ANSI Spark turns into a hard error."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    u = (
        id_hash("doc_id", 1000003).cast("double") + F.lit(1.0)
    ) / F.lit(1000004.0)
    es_key = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("weight"),
            es_key.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(25)
        .drop("es_key")
    )


@query(
    "q_sample_temperature",
    oracle=f"""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
               CAST(SUM(CAST(sqrt(n_docs) AS DECIMAL(18,9))) AS DOUBLE)
                   AS sum_w
        FROM c
    ), d AS (
        SELECT lang, n_docs,
               least(1.0, sqrt(n_docs) / sum_w * (n_total / 2.0) / n_docs)
                   AS frac
        FROM c, t
    )
    SELECT d.lang,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {sql_id_hash('doc_id', 1000003)}
                              < CAST(floor(frac * 1000003) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           ROUND(MIN(frac), 4) AS keep_frac
    FROM documents JOIN d USING (lang)
    GROUP BY 1, 2
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (α = 0.5) corpus resampling — the multilingual
    rebalancing rule from XLM-R / mT5: language ℓ is sampled with
    probability ∝ n_ℓ^α, boosting low-resource languages relative to their
    natural share while the total draw is held at half the corpus. The
    per-language keep fraction follows from the α-scaled distribution;
    membership is the same deterministic id-hash as q_sample_split, so the
    realized sample is reproducible row-for-row across engines and runs.

    Determinism: sqrt is correctly rounded in both engines; the cross-
    language Σ√n runs in DECIMAL (order-insensitive); the remaining double
    arithmetic is written operation-for-operation identically.

    Scale design: the language histogram and keep-fraction table are
    metadata-sized, broadcast to the corpus scan; the sample itself is a
    stateless per-row hash test — zero shuffle beyond the final per-lang
    count, which combines map-side. Changing α or the target size touches
    only the broadcast table, never the corpus pass."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    t = c.agg(
        F.sum("n_docs").alias("n_total"),
        F.sum(F.sqrt("n_docs").cast("decimal(18,9)"))
        .cast("double")
        .alias("sum_w"),
    )
    d = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.sqrt("n_docs")
            / F.col("sum_w")
            * (F.col("n_total") / F.lit(2.0))
            / F.col("n_docs"),
        ).alias("frac"),
    )
    # explicit floor on BOTH sides: Spark's bigint cast truncates but
    # DuckDB's ROUNDS, so a doc whose hash lands exactly on the rounded-up
    # threshold would flip membership (same latent class as the
    # q_rfm_segment day-number fix; frac >= 0 so floor == truncate here)
    kept = (
        id_hash("doc_id", 1000003)
        < F.floor(F.col("frac") * 1000003).cast("bigint")
    ).cast("bigint")
    return (
        docs.join(F.broadcast(d), "lang")
        .groupBy("lang", "n_docs")
        .agg(
            F.sum(kept).alias("n_kept"),
            F.round(F.min("frac"), 4).alias("keep_frac"),
        )
    )


@query(
    "q_sample_balanced",
    oracle="""
    WITH c AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings GROUP BY 1
    ),
    cap AS (SELECT MIN(n) AS cap FROM c),
    ranked AS (
        SELECT label,
               ROW_NUMBER() OVER (
                   PARTITION BY label ORDER BY hash(vec_id), vec_id
               ) AS rn
        FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           (SELECT CAST(cap AS BIGINT) FROM cap) AS cap
    FROM ranked CROSS JOIN cap
    WHERE rn <= cap
    GROUP BY label
    """,
)
def q_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling: every label keeps exactly
    min-class-count rows — the rebalancing step before training a
    classifier on skewed labels (the per-class hard cap, vs
    q_sample_temperature's smooth α-reweighting and
    q_sample_stratified's proportional draw). Rows are chosen by a
    per-label hash ranking, so the selection is uniform-ish,
    deterministic, and reproducible across engines and runs — never
    `ORDER BY rand()`.

    NOTE the oracle twin checks the per-label COUNTS and cap (the
    balance contract); the chosen row sets differ between engines
    because each ranks by its own hash — which rows are kept is
    policy-free by design, which rows are counted is not.

    Scale design: one count aggregate (map-side), a 1-row cap
    broadcast, and one window shuffle on label; at high label skew the
    window partition for the majority class is the hot spot — the
    production variant pre-filters with `rand-free` hash sampling at
    ~cap/n rate before ranking, same plan otherwise."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count("*").alias("n"))
    cap = counts.agg(F.min("n").alias("cap"))
    w = Window.partitionBy("label").orderBy(
        F.xxhash64("vec_id"), "vec_id"
    )
    ranked = emb.select(
        "label", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(cap))
        .filter(F.col("rn") <= F.col("cap"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_kept"),
            F.max("cap").alias("cap"),
        )
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (distributed resampling)
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds (cumulative probabilities for k=0..7);
# identical double literals on both engines make the weight a pure function
# of the deterministic per-(row, replicate) uniform.
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.919698602928606,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)
_BOOT_B = 40
_BOOT_MIX2 = 7919  # replicate-decorrelation prime


def _boot_case_sql(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {arms} ELSE 8 END"


@query(
    "q_sample_bootstrap",
    oracle=f"""
    WITH expanded AS (
        SELECT l_returnflag, b,
               (((l_orderkey * 8 + l_linenumber) % 1000003)
                * {ID_MIX % 1000003}
                + b * {_BOOT_MIX2}) % 1000003 AS h1,
               l_extendedprice
        FROM lineitem CROSS JOIN (
            SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b
        )
    ),
    weighted AS (
        SELECT l_returnflag, b AS rep,
               (h1 * {ID_MIX}) % 1000000 / 1000000.0 AS u,
               l_extendedprice
        FROM expanded
    ),
    -- empty-replicate guard (--bigid): ids congruent mod the hash
    -- modulus (structured snowflake ids collapse residues) leave only 7
    -- distinct u per flag, and a replicate where all 7 draw Poisson
    -- weight 0 has an EMPTY resample — no mean exists, and the naive
    -- division hard-errors under ANSI Spark. Such replicates drop out of
    -- the CI ranking in BOTH engines.
    rep_sums AS (
        SELECT l_returnflag, rep,
               SUM(({_boot_case_sql('u')})
                   * CAST(l_extendedprice AS DECIMAL(18,4))) AS num,
               SUM({_boot_case_sql('u')}) AS den
        FROM weighted GROUP BY 1, 2
    ),
    reps AS (
        SELECT l_returnflag, rep, CAST(num AS DOUBLE) / den AS rep_mean
        FROM rep_sums WHERE den > 0
    ),
    ranked AS (
        SELECT l_returnflag, rep_mean,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag ORDER BY rep_mean, rep
               ) AS rk
        FROM reps
    ),
    point AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   / COUNT(*) AS mean_price
        FROM lineitem GROUP BY 1
    )
    SELECT p.l_returnflag,
           floor(p.mean_price * 10000 + 0.5) / 10000 AS mean_price,
           floor(MAX(CASE WHEN r.rk = 2 THEN r.rep_mean END)
                 * 10000 + 0.5) / 10000 AS ci_lo,
           floor(MAX(CASE WHEN r.rk = {_BOOT_B - 1} THEN r.rep_mean END)
                 * 10000 + 0.5) / 10000 AS ci_hi,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates
    FROM point p JOIN ranked r USING (l_returnflag)
    GROUP BY 1, 2
    """,
)
def q_sample_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean extended price
    per return flag: every (row, replicate) pair draws a deterministic
    Poisson(1) weight (inverse-CDF over a hash uniform), replicate means
    are trimmed at the 2nd / (B-1)th order statistics for a ~95% CI. The
    Poisson bootstrap is THE distributed-resampling construction: unlike
    the classical multinomial bootstrap it needs no global row count and
    no coordination — each row independently decides how many times it
    appears in each replicate, so the whole procedure is embarrassingly
    parallel (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", Google 2012).

    Scale design: the B=40 replicate expansion happens MAP-SIDE (explode
    of a constant 40-element sequence) and collapses immediately into a
    partial aggregate on (flag, replicate) — the shuffle carries
    |flags| x B accumulator rows, not B x data copies. Replicate means
    use the decimal-exact sum path; order statistics replace
    percentile interpolation (rank 2 / rank B-1 of 40), so both engines
    pick identical doubles — no quantile-formula divergence. The hash
    chain is the repo's Knuth-mix convention (production note: swap for
    xxhash64 when ids exceed ~2^31, where the staged-pmod mix keeps
    products inside int64 but loses avalanche quality; likewise, rows
    sharing an id — the synthetic fixture duplicates some (orderkey,
    linenumber) pairs — draw identical weights, which a production id
    column would not)."""
    li = spread(load_table(spark, sf_dir, "lineitem"))
    rid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    expanded = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
        rid.alias("rid"),
    ).select(
        "l_returnflag",
        "l_extendedprice",
        F.col("b"),
        F.pmod(
            F.pmod(F.col("rid"), F.lit(1000003)) * (ID_MIX % 1000003)
            + F.col("b") * _BOOT_MIX2,
            F.lit(1000003),
        ).alias("h1"),
    )
    u = F.pmod(F.col("h1") * ID_MIX, F.lit(1000000)) / 1000000.0
    rep = F.col("b")
    w = F.lit(8)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        w = F.when(u < _POIS_CDF[k], F.lit(k)).otherwise(w)
    reps = (
        expanded.select(
            "l_returnflag",
            rep.alias("rep"),
            w.alias("w"),
            F.col("l_extendedprice").cast("decimal(18,4)").alias("price"),
        )
        .groupBy("l_returnflag", "rep")
        .agg(
            F.sum(F.col("w") * F.col("price")).alias("num"),
            F.sum("w").alias("den"),
        )
        # empty-replicate guard (--bigid; see oracle comment): filter
        # BEFORE dividing — ANSI Spark errors on the 0-denominator row
        # even if a later filter would drop it
        .filter(F.col("den") > 0)
        .select(
            "l_returnflag",
            "rep",
            (F.col("num").cast("double") / F.col("den")).alias("rep_mean"),
        )
    )
    from pyspark.sql.window import Window

    rk_w = Window.partitionBy("l_returnflag").orderBy("rep_mean", "rep")
    ranked = reps.withColumn("rk", F.row_number().over(rk_w))
    point = li.groupBy("l_returnflag").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_price")
    )
    q4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    ci = ranked.groupBy("l_returnflag").agg(
        q4(F.max(F.when(F.col("rk") == 2, F.col("rep_mean")))).alias("ci_lo"),
        q4(
            F.max(F.when(F.col("rk") == _BOOT_B - 1, F.col("rep_mean")))
        ).alias("ci_hi"),
    )
    return point.join(ci, "l_returnflag").select(
        "l_returnflag",
        q4(F.col("mean_price")).alias("mean_price"),
        "ci_lo",
        "ci_hi",
        F.lit(_BOOT_B).cast("bigint").alias("n_replicates"),
    )


# ---------------------------------------------------------------------------
# temporal train/test split with embargo (leakage-safe time-series eval)
# ---------------------------------------------------------------------------


@query(
    "q_sample_temporal_split",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
                   AS day,
               CAST(value AS DECIMAL(18,4)) AS v
        FROM events
    ),
    bounds AS (
        SELECT MIN(day) AS d0, MAX(day) AS d1 FROM e
    ),
    cut AS (
        SELECT d0 + CAST(floor((d1 - d0) * 0.8) AS BIGINT) AS t_cut
        FROM bounds
    )
    SELECT CASE WHEN e.day < c.t_cut - 2 THEN 'train'
                WHEN e.day >= c.t_cut THEN 'test'
                ELSE 'embargo' END AS split,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(e.day) AS BIGINT) AS first_day,
           CAST(MAX(e.day) AS BIGINT) AS last_day,
           CAST(SUM(e.v) AS DOUBLE) AS total_value
    FROM e CROSS JOIN cut c
    GROUP BY 1, 2
    """,
)
def q_sample_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split with an embargo gap: train is
    everything before 80% of the time range MINUS a 2-day embargo,
    test is everything after the cut, and the embargo rows between are
    EXCLUDED from both — the leakage-safe evaluation split for
    anything with temporal autocorrelation (a hash split like
    q_sample_split puts tomorrow in train and today in test, which
    silently inflates every time-series model's eval; the embargo
    additionally keeps labels whose windows straddle the cut out of
    train — the purged split of financial ML, cf. López de Prado's
    combinatorial purged CV).

    Scale design: the cut date derives from a 1-row min/max aggregate
    (broadcast constant attach); split assignment is a pure projection
    — no shuffle, no sort, the same row lands in the same split on
    every engine and at every scale. Summary rollup keys are
    3 splits x |types|."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        fday("ts").alias("day"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    cut = e.agg(
        (
            F.min("day")
            + F.floor((F.max("day") - F.min("day")) * 0.8).cast("bigint")
        ).alias("t_cut")
    )
    split = (
        F.when(F.col("day") < F.col("t_cut") - 2, "train")
        .when(F.col("day") >= F.col("t_cut"), "test")
        .otherwise("embargo")
    )
    return (
        e.crossJoin(F.broadcast(cut))
        .groupBy(split.alias("split"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("day").cast("bigint").alias("first_day"),
            F.max("day").cast("bigint").alias("last_day"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )
