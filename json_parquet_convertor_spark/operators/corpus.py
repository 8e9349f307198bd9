"""Corpus-preparation operators (B12 extension, round 3).

The second tier of training-data-pipeline ops on top of sampling.py and
pipeline.py: sequence packing for LLM pretraining batches, normalized-prefix
deduplication, deterministic per-stratum reservoir sampling, robust
mode/median aggregates, and int8 embedding quantization. Like the rest of
B12 these go beyond the reference's converter surface
(convertor/convertor.go:59-184 only maps one JSON shape to one parquet row)
— they are what the same JSON→Parquet corpus needs next at 100 TB.

Every query here is fully DuckDB-oracled: the only nondeterminism anywhere
would come from hashing or float math, so hashing is md5 (identical hex in
both engines) and float expressions are written operation-for-operation
identically on both sides (IEEE doubles are bit-deterministic given the
same op order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from json_parquet_convertor_spark.exact import fsec, id_hash, sql_id_hash
from json_parquet_convertor_spark.operators.shingles import (
    _DUCK_TOKENIZED,
    canonical_docs,
    duck_shingles,
    shingles,
)
from json_parquet_convertor_spark.operators.terms import duck_tokens, tokens
from json_parquet_convertor_spark.operators.vectors import finite
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, spread

# tokens per packed training sequence
_PACK = 512


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               {sql_id_hash('doc_id', 8)} AS shard,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), o AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS tok_offset
        FROM d
    )
    SELECT doc_id, shard,
           CAST(n_tokens AS INT) AS n_tokens,
           tok_offset,
           CAST(floor(tok_offset / {_PACK}) AS INT) AS first_pack,
           CAST(floor((tok_offset + n_tokens - 1) / {_PACK}) AS INT) AS last_pack,
           CAST(floor((tok_offset + n_tokens - 1) / {_PACK})
                > floor(tok_offset / {_PACK}) AS INT) AS straddles
    FROM o
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in deterministic
    order and chunk the token stream every _PACK tokens, reporting each
    document's byte... token offset and the pack(s) it lands in (documents
    may straddle a pack boundary — standard pretraining behavior).

    Scale design: packing is embarrassingly parallel across shards — the
    hash-mix shard keeps every window partition small and balanced, so the
    only shuffle is one exchange on `shard` and the running sum is a single
    in-partition window. At 100 TB you raise the shard count with the data;
    per-shard order (doc_id) is stable so re-runs and engine changes yield
    byte-identical packs — the property that makes training resumable.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        id_hash("doc_id", 8).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    d = d.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    first_pack = F.floor(F.col("tok_offset") / _PACK).cast("int")
    last_pack = F.floor(
        (F.col("tok_offset") + F.col("n_tokens") - 1) / _PACK
    ).cast("int")
    return d.select(
        "doc_id",
        "shard",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "tok_offset",
        first_pack.alias("first_pack"),
        last_pack.alias("last_pack"),
        (last_pack > first_pack).cast("int").alias("straddles"),
    )


@query(
    "q_text_dedup_prefix",
    oracle="""
    SELECT md5(array_to_string(string_split(text, ' ')[1:16], ' '))
               AS prefix_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def q_text_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-prefix deduplication: documents sharing the same first 16
    tokens collapse to one representative (min doc_id) — the cheap catch for
    templated/boilerplate near-copies that exact-hash dedup misses when only
    the tail differs (the RefinedWeb/CCNet "URL+prefix" trick).

    Scale design: one groupBy on a 32-byte md5 of a bounded prefix — the
    shuffle key is fixed-width no matter how long documents get, and the
    prefix slice means the hash reads at most 16 tokens per doc. Linear,
    one exchange, no self-join.
    """
    docs = load_table(spark, sf_dir, "documents")
    pref = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16)))
    return docs.groupBy(pref.alias("prefix_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )


@query(
    "q_sample_reservoir",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 20
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-stratum uniform sample (k=20 per language):
    rank rows by a hash of their id and keep the k smallest — the
    distributed, re-runnable replacement for reservoir sampling (same
    sample every run, every engine, any partitioning; a true reservoir's
    output depends on encounter order, which a cluster does not have).

    Scale design: md5 order is uniform-random but pure, so this is one
    shuffle on `lang` plus an in-partition top-k; with AQE the rank filter
    collapses to a per-partition TakeOrdered before the exchange when k is
    small relative to partition size.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "lang")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
    )


@query(
    "q_agg_mode_median",
    oracle="""
    WITH v AS (
        SELECT l_returnflag, CAST(trunc(l_quantity) AS INT) AS qty FROM lineitem
    ), c AS (
        SELECT l_returnflag, qty, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM v GROUP BY 1, 2
    ), m AS (
        SELECT l_returnflag, qty AS mode_qty, cnt AS mode_count
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY l_returnflag ORDER BY cnt DESC, qty
            ) AS rn
            FROM c
        )
        WHERE rn = 1
    )
    SELECT v.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           median(CAST(v.qty AS DOUBLE)) AS median_qty,
           m.mode_qty, m.mode_count
    FROM v JOIN m USING (l_returnflag)
    GROUP BY v.l_returnflag, m.mode_qty, m.mode_count
    """,
)
def q_agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust central-tendency aggregates per group: exact median (linear
    interpolation at even counts) and a DETERMINISTIC mode (most frequent
    value, smallest value wins ties — engines' built-in mode() is
    tie-nondeterministic, so it is computed explicitly via count + rank).

    Scale design (r14 optimization, guide §2.3/§1.2): EVERYTHING derives
    from the (group, value) counts table — one scan with map-side partial
    aggregation, so the wide rows never move and no per-group VALUE
    buffer (the old shape ran a second scan branch through Spark's
    sort-based exact median, buffering every qty per group, then joined
    the mode back on). The median is read off the counts' cumulative
    distribution (the q_agg_weighted_median precedent): with m non-NULL
    values, val(k) = smallest qty whose running count reaches k, and
    median = (val(⌊(m+1)/2⌋) + val(⌊(m+2)/2⌋)) / 2 — exactly Spark's
    lower+0.5·(upper−lower) interpolation on the integer-valued qty grid
    (both midpoints of int32 values are exact in double, so the bits
    match F.median and DuckDB's median). The mode falls out of the same
    final aggregate as max(struct(cnt, −qty)) — ties break to the
    smallest qty, and a NULL qty loses every tie because struct
    comparison orders a NULL field lowest: the oracle's ORDER BY cnt
    DESC, qty (NULLS LAST) order. The old row_number sort ran Spark's
    NULLS-FIRST asc on qty, so a NULL qty won its ties and did not match
    the oracle. One scan, two exchanges, zero joins, zero
    windows-over-values (the cumulative window runs over
    value-CARDINALITY rows, not data rows).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("int").alias("qty")
    )
    counts = li.groupBy("l_returnflag", "qty").agg(F.count("*").alias("cnt"))
    cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.asc_nulls_last("qty"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy("l_returnflag")
    c = counts.select(
        "l_returnflag",
        "qty",
        "cnt",
        F.sum("cnt").over(cum).alias("cw"),
        F.sum("cnt").over(whole).alias("tw"),
        F.sum(F.when(F.col("qty").isNull(), F.col("cnt"))).over(whole)
        .alias("nullw"),
    )
    m = F.col("tw") - F.coalesce(F.col("nullw"), F.lit(0))
    k1 = F.floor((m + 1) / 2)
    k2 = F.floor((m + 2) / 2)
    val = lambda k: F.min(  # noqa: E731
        F.when(F.col("qty").isNotNull() & (F.col("cw") >= k), F.col("qty"))
    )
    pick = F.max(
        F.struct(F.col("cnt").alias("c"), (-F.col("qty")).alias("q"))
    )
    return c.groupBy("l_returnflag").agg(
        F.min("tw").cast("bigint").alias("n"),
        ((val(k1) + val(k2)).cast("double") / 2).alias("median_qty"),
        (-pick["q"]).cast("int").alias("mode_qty"),
        pick["c"].alias("mode_count"),
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH t AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), s AS (
        SELECT vec_id, label, e,
               coalesce(list_max(list_transform(
                   list_filter(e, x -> isfinite(x)), x -> abs(x))), 0.0)
                   / 127.0 AS scale
        FROM t
    )
    SELECT vec_id, label,
           CAST(len(e) AS INT) AS dim,
           scale,
           array_to_string(
               list_transform(e, x -> CAST(CAST(
                   CASE WHEN isnan(x) THEN 0
                        WHEN x = 'infinity'::DOUBLE THEN 127
                        WHEN x = '-infinity'::DOUBLE THEN -127
                        WHEN scale = 0 THEN 0
                        ELSE floor(x / scale + 0.5) END
               AS INT) AS VARCHAR)), ',') AS q_csv
    FROM s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale = max|x| / 127, elements rounded to [-127, 127] — the 4× storage
    and bandwidth cut applied before ANN index build or shipping vectors to
    trainers. Emitted as a csv string (the driver canonicalizer cannot hash
    array cells) with the scale kept alongside for dequantization.

    Scale design: a pure per-row projection — zero shuffle, fully
    JVM-codegen'd array expressions (transform/array_max), no Python in the
    data path. The float math (max|x|/127, x/scale + 0.5, floor) is written
    operation-for-operation identically in the DuckDB oracle, so the raw
    double `scale` hash-matches bit-for-bit.

    Non-finite components (the --extreme axis) SATURATE like a real int8
    quantizer's clip stage: NaN -> 0, +Inf -> 127, -Inf -> -127, and the
    scale comes from the max |x| over FINITE components only (an Inf scale
    would zero every finite component; the unguarded INT cast of NaN
    errors outright on both engines). An all-non-finite vector gets
    scale 0.
    """
    _inf = float("inf")
    emb = load_table(spark, sf_dir, "embeddings")
    df = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    df = df.withColumn(
        "scale",
        F.coalesce(
            F.array_max(F.transform(F.filter("e", finite), F.abs)),
            F.lit(0.0),
        )
        / F.lit(127.0),
    )
    q = F.transform(
        "e",
        lambda x: F.when(F.isnan(x), F.lit(0))
        .when(x == F.lit(_inf), F.lit(127))
        .when(x == F.lit(-_inf), F.lit(-127))
        .when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(x / F.col("scale") + F.lit(0.5)))
        .cast("int"),
    )
    return df.select(
        "vec_id",
        "label",
        F.size("e").cast("int").alias("dim"),
        "scale",
        F.array_join(
            F.transform(q, lambda c: c.cast("string")), ","
        ).alias("q_csv"),
    )


@query(
    "q_text_decontaminate",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, md5(g) AS h
        FROM (
            SELECT doc_id, unnest({duck_shingles(5)}) AS g
            FROM {_DUCK_TOKENIZED})
    ),
    bench AS (SELECT DISTINCT h FROM grams WHERE doc_id % 97 = 0),
    train AS (SELECT DISTINCT doc_id, h FROM grams WHERE doc_id % 97 <> 0)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM train t JOIN bench b ON t.h = b.h
    GROUP BY t.doc_id
    """,
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    5-token n-gram with the held-out benchmark set (here: doc_id % 97 = 0,
    standing in for an eval suite) — the overlap filter every serious
    pretraining corpus runs before training so eval numbers stay honest.

    Scale design: the benchmark side is SMALL by construction (an eval
    suite is thousands of docs, the corpus is billions), so its distinct
    gram hashes broadcast and the contamination check is a map-side
    broadcast semi-join against the training gram stream — no shuffle of
    the corpus at all. Grams are md5-hashed (32-byte keys, identical hex in
    both engines) so the join never moves raw text. Broadcast bound:
    |eval grams| ≈ 10^5-10^6 rows × 32 B — tens of MB; an eval suite big
    enough to break that bound should shard into per-benchmark passes (or
    drop the hint → shuffled semi-join, corpus shuffles its gram hashes
    once).

    Ingest guard (--rowdup): n_shared_grams counts DISTINCT contaminated
    grams per document, so at-least-once re-delivered rows (exact copies
    incl. doc_id) dedup before gram extraction — otherwise a duplicated
    training doc reports exactly 2x its true overlap. Mirrors the
    oracle's DISTINCT (doc_id, h) train set."""
    grams = shingles(canonical_docs(spark, sf_dir), k=5, gram=F.md5, name="h")
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("h").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


@query(
    "q_corpus_mix",
    oracle=f"""
    SELECT source,
           CAST(20 + (TRY_CAST(SUBSTR(source, 4) AS INT) * 13) % 75 AS INT)
               AS rate_pct,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {sql_id_hash('doc_id', 100)}
                              < 20 + (TRY_CAST(SUBSTR(source, 4) AS INT) * 13) % 75
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN {sql_id_hash('doc_id', 100)}
                              < 20 + (TRY_CAST(SUBSTR(source, 4) AS INT) * 13) % 75
                         THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM documents
    GROUP BY source
    """,
)
def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: each source gets its own deterministic
    sampling rate (20-94%, derived from the source id — in production this
    is the data-mixture table: upweight books, downweight raw crawl), and
    rows are kept by the same pure doc_id hash used for splits/shards, so
    the mix is reproducible run-to-run and engine-to-engine and composes
    with q_sample_split without correlation (different modulus).

    Scale design: rate lookup and keep-decision are pure row-local
    projections — zero shuffle before the per-source summary aggregate; at
    100 TB this IS the sampling pass that writes the training mix, and it
    streams at scan speed."""
    docs = load_table(spark, sf_dir, "documents")
    # try_cast: a malformed source key (--ctrl plants ' src5 ' with
    # spaces) has no parseable rate — it keeps NOTHING (NULL rate fails
    # the keep-comparison in both engines) instead of crashing the scan
    rate = (
        F.lit(20)
        + (F.expr("try_cast(substring(source, 4, 10) AS INT)") * 13) % 75
    ).cast("int")
    keep = id_hash("doc_id", 100) < rate
    return docs.groupBy("source").agg(
        F.first(rate).alias("rate_pct"),
        F.count("*").alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("kept_chars"),
    )


# chunk geometry: 128-token windows advancing 96 tokens (32-token overlap)
_CHUNK, _STRIDE = 128, 96


@query(
    "q_text_chunk",
    oracle=f"""
    -- per-token regroup, not a start-unnest that CARRIES the token list
    -- (r11, --longtext): unnest sibling projections replicate the whole
    -- 250k-element list per chunk row (quadratic per megadoc), and a
    -- slice inside a lambda copies the bound list per call in DuckDB.
    -- Each token belongs to <= 2 overlapping chunks (stride {_STRIDE},
    -- width {_CHUNK}), so the regroup is exactly linear.
    -- rid keeps the regroup PER PHYSICAL ROW: chunking is a row-local
    -- transform, so --rowdup re-delivered copies (same doc_id, same
    -- text) must each emit their chunks, like the Spark twin — a bare
    -- GROUP BY doc_id would merge the copies into doubled token streams
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS words,
                      row_number() OVER () AS rid
               FROM documents),
    t AS (
        SELECT rid, doc_id, len(words) AS n,
               generate_subscripts(words, 1) - 1 AS p,
               unnest(words) AS w
        FROM d
    ),
    m AS (
        SELECT rid, doc_id, n, p, w, p // {_STRIDE} AS k FROM t
        UNION ALL
        SELECT rid, doc_id, n, p, w, p // {_STRIDE} - 1 FROM t
        WHERE p % {_STRIDE} < {_CHUNK} - {_STRIDE}
          AND p // {_STRIDE} >= 1
    )
    -- unordered list() + per-group list_sort, NOT string_agg ORDER BY
    -- (r11, gen sf1.0): DuckDB buffers an ORDERED aggregate's entire
    -- input without spilling — 106M token rows OOM'd a 100 GB budget —
    -- while hash-aggregated unordered states spill, and the sort then
    -- runs on <= {_CHUNK}-element lists
    SELECT doc_id, CAST(k AS INT) AS chunk_idx,
           CAST(least({_CHUNK}, n - {_STRIDE} * k) AS BIGINT)
               AS n_chunk_tokens,
           md5(array_to_string(
               list_transform(list_sort(list({{'p': p, 'w': w}})),
                              s -> s.w), ' ')) AS chunk_md5
    FROM m GROUP BY rid, doc_id, k, n
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the context-window prep step
    between cleaning and tokenization: every doc becomes overlapping
    128-token chunks on a 96-token stride (32 tokens of overlap so no
    boundary sentence is ever seen only torn in half).

    The whole op is one generate-and-slice projection: ``sequence`` makes
    the start offsets, ``posexplode`` fans them out, ``slice`` +
    ``array_join`` materialize each chunk, md5 signs it (hex-identical in
    DuckDB, and keeps the compare payload fixed-width instead of shipping
    whole chunk texts).

    Scale: zero shuffle and row-local — chunking streams at scan speed and
    output size is input size × ~4/3 (the overlap), so the 100 TB plan is
    scan → explode → write with no exchange anywhere. Fan-out is bounded
    per row (≤ n/96 + 1 chunks), so no task ever ballooons."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # chunk signatures built inside ONE transform over the bound token
    # array (r11, --longtext): the previous start-posexplode carried the
    # whole array as a Generate sibling, which copies the multi-MB
    # UnsafeArray once per CHUNK row (quadratic per megadoc). Spark's
    # slice on a bound array copies only the requested window, so the
    # lambda is O(chunk) per element and the explode fans out 32-char
    # md5 strings instead of megabyte arrays.
    d = docs.select("doc_id", F.split("text", " ").alias("words")).select(
        "doc_id", "words", F.size("words").alias("n")
    )
    chunks = d.select(
        "doc_id",
        "n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n") - 1, F.lit(_STRIDE)),
                lambda st: F.md5(
                    F.array_join(F.slice("words", st + 1, _CHUNK), " ")
                ),
            )
        ).alias("chunk_idx", "chunk_md5"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(
            F.lit(_CHUNK), F.col("n") - F.col("chunk_idx") * _STRIDE
        )
        .cast("bigint")
        .alias("n_chunk_tokens"),
        "chunk_md5",
    )


@query(
    "q_text_lm_score",
    oracle=f"""
    WITH tok AS {duck_tokens("token")},
    tf AS (SELECT token, COUNT(*) AS tfn FROM tok GROUP BY token),
    tot AS (SELECT SUM(tfn) AS totn FROM tf),
    lp AS (
        SELECT token,
               CAST(round(ln(CAST(tfn AS DOUBLE) / CAST(totn AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS lp
        FROM tf CROSS JOIN tot
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(l.lp) AS DOUBLE) / COUNT(*) AS avg_lp
    FROM tok t JOIN lp l ON t.token = l.token
    GROUP BY t.doc_id
    """,
)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: fit a corpus-level unigram LM (one
    aggregation), then score every document by its mean token log-prob —
    the classic cheap perplexity proxy used to rank crawl text before the
    expensive model-based quality filters.

    Cross-engine float discipline: per-token log-probs are rounded to 6 dp
    and cast to DECIMAL(18,6) BEFORE the per-doc sum, so the summation is
    exact and order-independent (registry.py doctrine — a raw double sum
    would drift in the last ulps between engines); avg_lp is then one
    IEEE-exact division, bit-identical with no final rounding needed.

    Scale: the LM table is vocab-sized (millions of rows at 100 TB, a few
    hundred MB) — broadcast to the scorers, so the corpus shuffles ZERO
    bytes: one shared-nothing pass builds tf partials, one map-side
    broadcast join scores. In production the lp table persists as a stage
    table; here both passes run in one plan and Spark reuses the exploded
    token scan via the shuffle files of the tf aggregation. Broadcast
    bound: |vocab| rows ≈ hundreds of MB — if an open vocabulary pushes
    the lp table past a few GB, drop the broadcast hint and this becomes
    a shuffled hash join on token with the same surrounding plan (the
    corpus side then shuffles once; correctness unchanged)."""
    tok = tokens(spread(load_table(spark, sf_dir, "documents")), "token")
    tf = tok.groupBy("token").agg(F.count("*").alias("tfn"))
    tot = tf.agg(F.sum("tfn").alias("totn"))
    lp = tf.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(
            F.log(F.col("tfn").cast("double") / F.col("totn").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lp"),
    )
    return (
        tok.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.sum("lp").cast("double") / F.count("*")).alias("avg_lp"),
        )
    )


@query(
    "q_bpe_merge",
    oracle="""
    WITH words AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2
        GROUP BY 1
    ), chars AS (
        -- bind the char list ONCE per word, pair via list_zip of two
        -- top-level slices (the r11 rule): substring(w, i, 2) under a
        -- lateral i re-seeks from the string start per position —
        -- O(len²) per word, unfinishable on a 64 KiB single-token doc
        SELECT string_split(w, '') AS c, freq FROM words
    ), pairs AS (
        SELECT z[1] || z[2] AS pair, freq
        FROM (SELECT unnest(list_zip(c[1:len(c) - 1], c[2:len(c)])) AS z,
                     freq
              FROM chars)
    ), agg AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
        FROM pairs GROUP BY 1
    )
    SELECT pair, n
    FROM agg
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def q_bpe_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge-selection step (Sennrich et al. 2016): count adjacent
    character pairs across the corpus vocabulary weighted by word
    frequency, and rank the top-20 merge candidates — the inner loop of
    byte-pair-encoding tokenizer training, run here exactly as a
    distributed engine should run it.

    Scale design: the pair counts come from the VOCABULARY (distinct
    words × their frequency), not the raw token stream — the corpus
    collapses to its vocab in one combining aggregate first, so the
    character-pair explosion touches each distinct word once no matter
    how often it occurs. Both aggregations combine map-side; the top-20
    is TakeOrderedAndProject. Real BPE training iterates this step with
    a re-segmented vocab — each iteration is this same job over a
    vocab-sized (not corpus-sized) input."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # bind the char array ONCE, pair via zip_with of two slices (r12,
    # sf1.0 composed sweep): substring(w, i, 2) inside the HOF lambda
    # re-seeks the UTF8 string from the start per position — O(len²) per
    # word, 23 CPU-minutes on ONE task for the --longtext 64 KiB
    # single-token docs; the bound-array shape is O(len) (same class as
    # the r11 split-in-lambda fixes, with substring as the re-evaluated
    # scanner — now also plan-gated)
    pairs = words.withColumn("c", F.split("w", "")).select(
        F.explode(
            F.expr(
                "zip_with(slice(c, 1, size(c) - 1), slice(c, 2, size(c) - 1),"
                " (a, b) -> concat(a, b))"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


@query(
    "q_corpus_pipeline",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5(text) AS h
        FROM documents
    ),
    kept AS (
        SELECT * FROM scored WHERE n_tokens >= 20
    ),
    -- canonical-flag carried on the ROW, not re-derived via a doc_id
    -- join-back: --rowdup re-delivers exact copies INCLUDING doc_id, and
    -- a join back on doc_id matches every copy of the canonical row,
    -- inflating n_kept — exactly one physical row per content hash must
    -- count (the Spark twin's row_number semantics)
    flagged AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY h ORDER BY doc_id
        ) AS rn
        FROM kept
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn = 1 THEN n_tokens
                    ELSE 0 END) AS BIGINT) AS total_tokens
    FROM flagged
    GROUP BY 1
    """,
)
def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-preparation pipeline in ONE declarative plan —
    quality gate → exact dedup (keep lowest doc_id per content hash) →
    per-language corpus accounting. This is the composition story: each
    stage is an operator this repo ships separately (q_text_quality,
    q_dedup_exact, q_text_tokens); stating them as one DataFrame lets
    Catalyst fuse the quality filter into the scan, reuse one shuffle on
    the content hash for the dedup window, and keep the language rollup
    map-side — three pipeline stages, ONE pass over the text, no
    intermediate materialization.

    Scale design: the only wide operations are the hash-partitioned
    dedup window (32-hex-char key — same shape as q_dedup_exact's
    groupBy) and the tiny per-language aggregate. At 100 TB you would
    materialize the deduped stage as the corpus snapshot table and run
    accounting downstream; the plan here is exactly that DAG minus the
    sink. md5 (not sha2) so the oracle twin hashes identical hex."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    kept = docs.filter(F.col("n_tokens") >= 20)
    w = Window.partitionBy("h").orderBy("doc_id")
    flagged = kept.withColumn(
        "is_canonical", (F.row_number().over(w) == 1).cast("int")
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_candidates"),
        F.sum("is_canonical").cast("bigint").alias("n_kept"),
        F.sum(F.col("n_tokens") * F.col("is_canonical"))
        .cast("bigint")
        .alias("total_tokens"),
    )


@query(
    "q_text_dedup_url",
    oracle=r"""
    WITH u AS (
        -- case variance is synthesized ASCII-ONLY (translate, not
        -- upper): full-vs-simple Unicode case mapping disagrees across
        -- engines (JVM upper('ß')='SS', utf8proc='ẞ'), so upper() on an
        -- adversarial source would diverge before dedup even starts
        SELECT doc_id,
               'HTTPS://Crawl-'
                   || translate(source, 'abcdefghijklmnopqrstuvwxyz',
                                        'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
                   || '.Example.COM/' || lang
                   || '/page-' || CAST(doc_id % 40 AS VARCHAR)
                   || '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
                   || '#sec' AS raw_url
        FROM documents
    ),
    canon AS (
        -- two guards mirror Spark's try_parse_url: java.net.URI rejects
        -- any URL with embedded whitespace (--ctrl plants ' src5 '
        -- sources) and NULLs the HOST of any authority carrying
        -- non-ASCII (--unicode plants 'srcß3'-style case-fold traps);
        -- both classes canonicalize to NULL and fall through to content
        -- dedup instead of crashing the scan. Host folding is ASCII-only
        -- (RFC 3986 defines scheme/host case-insensitivity over ASCII;
        -- IDN folding is UTS46/punycode, out of scope) — and the Spark
        -- side's lower() only ever sees ASCII anyway, because URI
        -- already NULLed every non-ASCII host.
        SELECT doc_id,
               CASE WHEN regexp_matches(raw_url, '\s') THEN NULL
                    -- full java.net.URI hostname alphabet (r13,
                    -- --conflict at sf0.1): '~' version markers are
                    -- RFC-unreserved but not hostname-legal, so Spark's
                    -- HOST is NULL and the URL falls through to content
                    -- dedup — subsumes the r12 non-ASCII arm
                    WHEN regexp_matches(
                        regexp_extract(raw_url,
                                       '^([A-Za-z]+)://([^/?#]+)', 2),
                        '[^-A-Za-z0-9.]') THEN NULL
                    ELSE
               lower(regexp_extract(raw_url, '^([A-Za-z]+)://([^/?#]+)', 1))
                   || '://'
                   || lower(regexp_extract(raw_url, '^([A-Za-z]+)://([^/?#]+)', 2))
                   || regexp_extract(raw_url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               END AS canon_url
        FROM u
    )
    SELECT canon_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM canon
    WHERE canon_url IS NOT NULL
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def q_text_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the FIRST dedup pass of any web
    corpus (cheaper than any content hash: most crawl duplicates are the
    same page re-fetched under tracking params / case-varied hosts /
    fragments). Canonical form: scheme and host lowercased, path kept
    verbatim, query string and fragment stripped; duplicate groups keep
    the lowest doc_id as canonical. The raw URL is synthesized
    deterministically from fixture columns (the documents table carries
    no URL), with exactly the noise canonicalization must remove.

    Implementation: parse_url(HOST/PATH) handles the structured parts
    JVM-side; scheme comes from one anchored regexp (parse_url exposes
    no scheme part). All row-local codegen until the single groupBy on
    the canonical URL — the same 1-shuffle shape as q_dedup_exact, and
    at 100 TB the groupBy key is ~60 B instead of a content hash over
    the full text.

    DuckDB has no parse_url, so the oracle states the same
    canonicalization as three anchored regexps — engine-independent
    semantics, twin-checked. Case-fold contract (r12, --unicode traps):
    key normalization over adversarial text folds ASCII-ONLY
    (translate a-z↔A-Z) — never upper()/lower(), whose full-vs-simple
    Unicode mappings ('ß'→'SS' vs 'ẞ', 'İ'→'i̇' vs 'i') disagree across
    engines; and java.net.URI NULLs non-ASCII hosts, mirrored in the
    oracle as an explicit guard so IDN-trap URLs fall through to
    content dedup on both sides."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://Crawl-"),
            # ASCII-only case variance (NOT F.upper): the JVM's full case
            # mapping rewrites 'ß'→'SS' (length-changing) where DuckDB's
            # simple mapping gives 'ẞ' — the synthesized INPUT would
            # differ across engines before canonicalization even runs
            F.translate(
                "source",
                "abcdefghijklmnopqrstuvwxyz",
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            ),
            F.lit(".Example.COM/"),
            F.col("lang"),
            F.lit("/page-"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit("?utm_source=feed&ref="),
            F.col("doc_id").cast("string"),
            F.lit("#sec"),
        ).alias("raw_url"),
    )
    canon = raw.select(
        "doc_id",
        # try_parse_url: a malformed URL (embedded whitespace — --ctrl)
        # yields NULL host, so the whole concat is NULL; such rows can't
        # be deduped BY URL and fall through to content dedup
        F.concat(
            F.lower(F.regexp_extract("raw_url", r"^([A-Za-z]+)://", 1)),
            F.lit("://"),
            F.lower(F.try_parse_url("raw_url", F.lit("HOST"))),
            F.try_parse_url("raw_url", F.lit("PATH")),
        ).alias("canon_url"),
    )
    return (
        canon.filter(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "q_bpe_apply",
    oracle="""
    WITH vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2
        GROUP BY w
    )
    SELECT w, freq,
           CAST(1 AS BIGINT) AS lossless,
           CAST(1 AS BIGINT) AS pieces_valid
    FROM vocab
    ORDER BY freq DESC, w
    LIMIT 20
    """,
)
def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a learned BPE merge table — the tokenizer's INFERENCE half,
    closing the loop with q_bpe_merge's training step. The top-10 merge
    pairs (rank-ordered) are folded into a single-row frame and
    broadcast onto the vocabulary scan (the q_embed_whiten
    fit-broadcast-apply pattern: learned state flows through the plan,
    not the driver); each word is then segmented by the standard greedy
    algorithm — repeatedly merge the highest-priority adjacent pair
    until none applies.

    Driver contract (r12 verdict task 2): the segmentation itself is
    procedural (no SQL twin), so the emitted row is the top-20 frequent
    words — (w, freq) exactly oracle-computable, tie at rank 20 broken
    by w — plus 0/1 invariant flags computed during segmentation:
    ``lossless`` (concat(pieces) == word, the tokenizer's defining
    round-trip property) and ``pieces_valid`` (every piece is a single
    character, a merge-table entry — each greedy step's output IS a
    merge-list string, since all learned merges here are char bigrams —
    or the whole word for the >512-char atomic-cap class). tests re-run
    the same algorithm in plain Python over the collected vocab and
    assert piece-level equality.

    Scale design: segmentation runs over the VOCABULARY (distinct
    words), never the token stream — same collapse q_bpe_merge uses; the
    per-word loop is bounded by word length × merge count and runs
    vectorized-batch-wise in mapInPandas. A production tokenizer applies
    thousands of merges with a priority queue; the dataflow shape (tiny
    broadcast model + vocab-sized map) is identical."""
    return _bpe_segmented(spark, sf_dir).select(
        "w", "freq", "lossless", "pieces_valid"
    )


def _bpe_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed segmentation behind q_bpe_apply, INCLUDING the raw
    pieces column (the promoted driver contract projects it away; the
    plain-Python twin in tests/test_corpus.py asserts piece-level
    equality against this frame)."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        spread(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    # bound-chars zip_with, not substring-in-lambda (r12 — see
    # q_bpe_merge: O(len²) per word on 64 KiB single-token docs)
    pairs = vocab.withColumn("c", F.split("w", "")).select(
        F.explode(
            F.expr(
                "zip_with(slice(c, 1, size(c) - 1), slice(c, 2, size(c) - 1),"
                " (a, b) -> concat(a, b))"
            )
        ).alias("pair"),
        "freq",
    )
    merges = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(10)
        .agg(F.collect_list("pair").alias("merge_list"))
    )

    def segment(it):
        for pdf in it:
            if not len(pdf):
                continue
            merge_rank = {
                p: i for i, p in enumerate(pdf["merge_list"].iloc[0])
            }
            out_w, out_f, out_lossless, out_valid = [], [], [], []
            out_pieces = []
            for w, f in zip(pdf["w"], pdf["freq"]):
                # segmentation cap (r12, --longtext 64 KiB single-token
                # docs): the greedy loop is O(len²) per word — every
                # production tokenizer bounds per-word input the same way
                # (cf. WordPiece max_input_chars_per_word); an over-cap
                # "word" is binary-blob class and stays ATOMIC (one
                # piece). Mirrored in the python twin
                # (tests/test_corpus.py).
                if len(w) > 512:
                    out_w.append(w)
                    out_f.append(int(f))
                    out_pieces.append(w)
                    out_lossless.append(1)
                    out_valid.append(1)  # atomic-cap piece = whole word
                    continue
                pieces = list(w)
                while True:
                    best, best_i = None, -1
                    for i in range(len(pieces) - 1):
                        cand = pieces[i] + pieces[i + 1]
                        r = merge_rank.get(cand)
                        if r is not None and (best is None or r < best):
                            best, best_i = r, i
                    if best is None:
                        break
                    pieces[best_i : best_i + 2] = [
                        pieces[best_i] + pieces[best_i + 1]
                    ]
                out_w.append(w)
                out_f.append(int(f))
                out_pieces.append(" ".join(pieces))
                out_lossless.append(int("".join(pieces) == w))
                out_valid.append(
                    int(
                        all(
                            len(p) == 1 or p in merge_rank
                            for p in pieces
                        )
                    )
                )
            yield pd.DataFrame(
                {
                    "w": out_w,
                    "freq": out_f,
                    "pieces": out_pieces,
                    "lossless": out_lossless,
                    "pieces_valid": out_valid,
                }
            )

    segmented = vocab.crossJoin(F.broadcast(merges)).mapInPandas(
        segment,
        "w string, freq long, pieces string, lossless long, "
        "pieces_valid long",
    )
    return segmented.orderBy(F.desc("freq"), "w").limit(20)


@query(
    "q_corpus_qc",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, lang,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    dup AS (
        SELECT CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
            AS n_exact_dups
        FROM base
    ),
    short AS (
        SELECT CAST(SUM(CASE WHEN n_tokens < 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_short
        FROM base
    )
    SELECT CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(DISTINCT lang) FROM base) AS BIGINT)
               AS n_langs,
           dup.n_exact_dups,
           short.n_short,
           CAST((SELECT SUM(n_tokens) FROM base) AS BIGINT)
               AS total_tokens,
           round((SELECT SUM(n_tokens) FROM base)
                 * 1.0 / (SELECT COUNT(*) FROM base), 4)
               AS avg_tokens
    FROM dup CROSS JOIN short
    """,
)
def q_corpus_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus QC scorecard — the summary a daily ingestion run
    publishes before anything downstream trains: corpus size, language
    coverage, exact-duplicate volume (rows beyond one per content
    hash), short-document count (the q_corpus_pipeline quality gate's
    reject class), and token totals. One number per risk axis; alert
    thresholds live downstream.

    Scale design: ONE scan computes everything — per-doc token counts
    and hashes are row-local projections; the distinct-hash and
    distinct-lang counts ride the same aggregate (Spark plans
    multi-distinct via Expand, still a single pass over the input);
    output is 1 row. This is the query-shape answer to "don't run five
    QC jobs over 100 TB when one Expand pass does it"."""
    base = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ", -1)).cast("bigint").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    return base.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        (F.count("*") - F.countDistinct("h")).alias("n_exact_dups"),
        F.sum((F.col("n_tokens") < 20).cast("bigint")).alias("n_short"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_tokens") * F.lit(1.0) / F.count("*"), 4
        ).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# bigram language model head
# ---------------------------------------------------------------------------


@query(
    "q_text_bigram_lm",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS l FROM documents
    ),
    bi AS (
        -- list_zip of two top-level slices, not a lateral
        -- generate_series join (r11, --longtext): the lateral carries
        -- the WHOLE token list into every joined row — O(len²) per doc,
        -- unfinishable on a 250k-token megadoc; top-level slices are
        -- computed once per document
        SELECT z[1] AS w1, z[2] AS w2
        FROM (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
              FROM toks)
    ),
    c AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bi GROUP BY 1, 2
    ),
    heads AS (
        SELECT w1, CAST(SUM(cnt) AS BIGINT) AS tot
        FROM c GROUP BY 1
        ORDER BY tot DESC, w1 LIMIT 20
    ),
    ranked AS (
        SELECT c.w1, c.w2, c.cnt, h.tot,
               ROW_NUMBER() OVER (
                   PARTITION BY c.w1 ORDER BY c.cnt DESC, c.w2
               ) AS rn
        FROM c JOIN heads h ON c.w1 = h.w1
    )
    SELECT w1, w2, cnt, tot,
           floor(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) * 10000 + 0.5)
               / 10000 AS p_next
    FROM ranked WHERE rn <= 3
    """,
)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model head: for the corpus's 20 most frequent head
    tokens, the top-3 next tokens with their conditional probability
    P(next | head) = cnt(head, next) / cnt(head, *) — the count table
    behind classical LM smoothing, autocomplete, and the
    contamination-fingerprint n-gram statistics; extends q_text_vocab's
    unigram table (pipeline.py:829) one order up.

    Bigrams materialize JVM-side as zip_with over two shifted slices of
    the token array (no Python, no posexplode self-join); the conditional
    denominator is one more groupBy on the head token. The probability
    quantizes with the boundary-safe floor expression since exact
    count ratios (e.g. 1/32) can sit exactly on a rounding boundary.

    Scale design: tokenize + explode is one linear pass; both groupBys
    shuffle on token keys (the classic word-count shape that motivated
    MapReduce — partial aggregation absorbs Zipf skew map-side). The
    20-row head list broadcasts back, so the per-head ranking only ever
    sees the joined sliver. Hot-key guard: the head list is top-k
    (per-partition heaps), never a global sort of the vocabulary."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(F.split("text", " ").alias("l"))
    bi = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.expr("slice(l, 2, greatest(size(l) - 1, 0))"),
                lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c = bi.groupBy("w1", "w2").agg(F.count("*").cast("bigint").alias("cnt"))
    heads = (
        c.groupBy("w1")
        .agg(F.sum("cnt").cast("bigint").alias("tot"))
        .orderBy(F.col("tot").desc(), "w1")
        .limit(20)
    )
    ranked = c.join(F.broadcast(heads), "w1").select(
        "w1",
        "w2",
        "cnt",
        "tot",
        F.row_number()
        .over(
            Window.partitionBy("w1").orderBy(F.col("cnt").desc(), "w2")
        )
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 3).select(
        "w1",
        "w2",
        "cnt",
        "tot",
        (
            F.floor(
                F.col("cnt").cast("double") / F.col("tot").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (association-ranked word pairs)
# ---------------------------------------------------------------------------


@query(
    "q_text_collocations",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS l FROM documents
    ),
    bi AS (
        -- list_zip of two top-level slices, not a lateral
        -- generate_series join (r11, --longtext): the lateral carries
        -- the WHOLE token list into every joined row — O(len²) per doc,
        -- unfinishable on a 250k-token megadoc; top-level slices are
        -- computed once per document
        SELECT z[1] AS w1, z[2] AS w2
        FROM (SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS z
              FROM toks)
    ),
    c AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM bi GROUP BY 1, 2
    ),
    m1 AS (SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM c GROUP BY 1),
    m2 AS (SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM c GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS m FROM c),
    pmi AS (
        SELECT c.w1, c.w2, c.cnt,
               ln((CAST(c.cnt AS DOUBLE) / t.m)
                  / ((CAST(m1.c1 AS DOUBLE) / t.m)
                     * (CAST(m2.c2 AS DOUBLE) / t.m))) AS raw
        FROM c
        JOIN m1 USING (w1)
        JOIN m2 USING (w2)
        CROSS JOIN tot t
        WHERE c.cnt >= 5
    )
    SELECT w1, w2, cnt,
           floor(raw * 10000 + 0.5) / 10000 AS pmi
    FROM pmi
    ORDER BY raw DESC, w1, w2
    LIMIT 50
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by pointwise mutual information: adjacent
    word pairs whose co-occurrence beats the independence baseline,
    PMI = ln(P(w1,w2) / (P1(w1) P2(w2))) with all probabilities taken
    over the bigram population (row/column marginals of the same count
    table — self-consistent, no separate tokenization pass). A min
    count of 5 drops the hapax pairs whose PMI is maximal but
    meaningless. This is the phrase-mining / tokenizer-vocabulary
    primitive (spot "new york"-style units worth fusing) that
    q_text_bigram_lm's conditional table does not rank — association
    strength, not next-token probability.

    Scale design: one tokenize + explode pass into the word-count
    shuffle shape (partial agg absorbs Zipf skew map-side); both
    marginals derive from the bigram table itself (two more groupBys on
    single-token keys) and join back by token key — SHUFFLE joins,
    because at corpus scale the marginal tables are vocabulary-sized
    and must never broadcast (the q_rank_bm25 lesson). The only
    broadcast is the 1-row grand-total. Final ranking is a top-k over
    the cnt>=5 survivors, ordered by the RAW double (identical in both
    engines), with the quantized value only in the output."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    t = docs.select(F.split("text", " ").alias("l"))
    bi = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("l"), 1, F.greatest(F.size("l") - 1, F.lit(0))),
                F.slice(F.col("l"), 2, F.greatest(F.size("l") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    c = c.persist()
    m1 = c.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    m2 = c.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    tot = c.agg(F.sum("cnt").alias("m"))
    raw = F.log(
        (F.col("cnt").cast("double") / F.col("m"))
        / (
            (F.col("c1").cast("double") / F.col("m"))
            * (F.col("c2").cast("double") / F.col("m"))
        )
    )
    out = (
        c.filter(F.col("cnt") >= 5)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "cnt", raw.alias("raw"))
        .orderBy(F.desc("raw"), "w1", "w2")
        .limit(50)
    )
    return out.select(
        "w1",
        "w2",
        "cnt",
        (F.floor(F.col("raw") * 10000 + 0.5) / 10000).alias("pmi"),
    )


# ---------------------------------------------------------------------------
# duplicate-paragraph document filter (Gopher/MassiveText repetition rule)
# ---------------------------------------------------------------------------


@query(
    "q_text_dedup_paragraph",
    oracle="""
    WITH sent AS (
        SELECT doc_id, unnest(string_split(text, '. ')) AS s
        FROM documents
    ),
    norm AS (
        SELECT doc_id, s FROM sent WHERE length(s) >= 10
    ),
    freq AS (
        SELECT s, COUNT(DISTINCT doc_id) AS df FROM norm GROUP BY 1
    ),
    scored AS (
        SELECT n.doc_id,
               COUNT(*) AS n_sents,
               COUNT(*) FILTER (WHERE f.df >= 3) AS n_dup
        FROM norm n JOIN freq f ON n.s = f.s
        GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_dup AS BIGINT) AS n_dup_sents,
           floor(CAST(n_dup AS DOUBLE) / n_sents * 10000 + 0.5) / 10000
               AS dup_share,
           CAST(n_dup AS DOUBLE) / n_sents > 0.3 AS drop_doc
    FROM scored
    """,
)
def q_text_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-paragraph document filter — the Gopher/MassiveText
    repetition rule operating ACROSS documents: split each doc into
    sentence units, count in how many distinct docs each unit appears
    (document frequency), and flag documents whose share of
    widely-duplicated sentences (df >= 3) exceeds 30% — boilerplate
    mirrors, templated spam, and licence-header farms that per-doc
    repetition scores (q_text_repetition, within one doc) cannot see
    and whole-doc dedup (q_dedup_exact/_near) misses because the docs
    differ outside the boilerplate.

    Scale design: the classic two-pass inverted-unit shape — explode
    to (doc, unit), aggregate unit document-frequencies (word-count
    shuffle with map-side partials; the df table is unit-vocabulary
    sized and joins back by unit key as a SHUFFLE join, never a
    broadcast — the q_rank_bm25 lesson), then one groupBy back on
    doc_id. Short units (<10 chars: '', 'Yes') are dropped before
    counting so the df table isn't dominated by stopword fragments —
    the same stop-shingle guard q_dedup_ngram_jaccard documents."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    norm = docs.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("s")
    ).filter(F.length("s") >= 10)
    freq = norm.groupBy("s").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        norm.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.count_if(F.col("df") >= 3).alias("n_dup"),
        )
    )
    share = F.col("n_dup").cast("double") / F.col("n_sents")
    return scored.select(
        "doc_id",
        F.col("n_sents").cast("bigint").alias("n_sents"),
        F.col("n_dup").cast("bigint").alias("n_dup_sents"),
        (F.floor(share * 10000 + 0.5) / 10000).alias("dup_share"),
        (share > 0.3).alias("drop_doc"),
    )


# ---------------------------------------------------------------------------
# supervised-label construction: did-convert-within-horizon per event
# ---------------------------------------------------------------------------


@query(
    "q_label_future_window",
    oracle="""
    WITH ev AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_s
        FROM events
    ),
    merged AS (
        SELECT user_id, ts_s, event_id,
               CASE WHEN event_type = 'purchase' THEN ts_s END AS p_ts,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_click
        FROM ev WHERE event_type IN ('click', 'purchase')
    ),
    scanned AS (
        SELECT user_id, ts_s, event_id, is_click,
               MIN(p_ts) OVER (
                   PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS next_p_ts
        FROM merged
    )
    SELECT event_id AS click_id, user_id,
           next_p_ts IS NOT NULL
               AND next_p_ts - ts_s <= 604800 AS label,
           CASE WHEN next_p_ts IS NOT NULL
                 AND next_p_ts - ts_s <= 604800
                THEN next_p_ts - ts_s END AS secs_to_purchase
    FROM scanned WHERE is_click = 1
    """,
)
def q_label_future_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-label construction: for every click, did the same
    user purchase within the next 7 days (label) and how long it took
    (secs_to_purchase, NULL outside the horizon) — the
    conversion-prediction training-label builder, the other half of
    the dataset q_user_features provides the features for (and the
    future-looking mirror of q_join_point_in_time's no-future-leakage
    feature rule: labels may look forward, features may not).

    Scale design: the naive form is a per-click range join against
    purchases. This is the reverse-as-of rewrite: clicks and purchases
    merge into ONE stream per user, sorted DESCENDING by time, and a
    running MIN over purchase timestamps gives each click its next
    purchase at O(1) state — one shuffle on user_id, no join, no
    pairing blowup (same union-window family as q_join_asof and
    q_join_point_in_time, mirrored in time). A purchase at the same
    instant as the click counts (the tie sorts the purchase after the
    click in the descending scan), matching the >= 0 horizon
    convention."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    merged = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        fsec("ts").alias("ts_s"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            fsec("ts"),
        ).alias("p_ts"),
        (F.col("event_type") == "click").cast("int").alias("is_click"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts_s"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = merged.withColumn("next_p_ts", F.min("p_ts").over(w))
    horizon = F.col("next_p_ts").isNotNull() & (
        F.col("next_p_ts") - F.col("ts_s") <= 604800
    )
    return scanned.filter(F.col("is_click") == 1).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        horizon.alias("label"),
        F.when(horizon, F.col("next_p_ts") - F.col("ts_s")).alias(
            "secs_to_purchase"
        ),
    )


# ---------------------------------------------------------------------------
# hashing-trick feature encoding (fixed-width sparse vectors)
# ---------------------------------------------------------------------------


@query(
    "q_feature_hash",
    oracle="""
    -- row-LOCAL like the Spark twin (list functions, no unnest/GROUP BY
    -- round-trip): the old per-key regroup silently merged --rowdup's
    -- re-delivered copies of an order into one vector with doubled
    -- counts — feature hashing is a per-ROW transform, so a duplicated
    -- input row legitimately emits its (identical) vector twice
    WITH rows_ AS (
        SELECT o_orderkey,
               -- missing-as-token on EVERY categorical: a NULL band
               -- (--nullkey orphan) or NULL priority (--evolve old-schema
               -- part files) hashes as the literal 'null' marker — the
               -- standard hashing-trick treatment of missing values.
               -- Without it the engines diverge structurally: Spark keeps
               -- a NULL bucket element where DuckDB's list_distinct
               -- REMOVES NULLs, so n_buckets disagrees by one.
               list_transform([
                   'status=' || COALESCE(o_orderstatus, 'null'),
                   'prio=' || COALESCE(o_orderpriority, 'null'),
                   'cust_band=' || COALESCE(CAST(o_custkey % 100 AS VARCHAR),
                                            'null')
               ], f -> CAST(md5_number_lower(f) % 16 AS BIGINT)) AS b
        FROM orders
    )
    SELECT o_orderkey,
           CAST(len(list_distinct(b)) AS BIGINT) AS n_buckets,
           array_to_string(
               list_transform(
                   list_sort(list_distinct(b)),
                   x -> CAST(x AS VARCHAR) || ':' ||
                        CAST(len(list_filter(b, y -> y = x)) AS VARCHAR)
               ), ',') AS feature_vec
    FROM rows_
    """,
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature encoding: each order's categorical fields
    (status, priority, and a customer band standing in for the
    high-cardinality id feature hashing exists for) hash into a fixed
    16-bucket index space, emitted as a sorted sparse 'idx:count'
    vector per row — the feature-vectorization that needs NO fitted
    vocabulary (new category values at inference time hash to a valid
    bucket instead of crashing an encoder), the standard trade of
    Weinberger et al.'s feature hashing: bounded dimensionality for
    tolerated collisions (visible here as buckets with count > 1).

    Scale design: ENTIRELY row-local — hashing is the per-row JVM md5
    twin (the q_checksum_table digest convention, shared via
    md5_low64), and the per-row bucket/count assembly is a JVM
    higher-order fold over the in-row bucket array (array_distinct +
    filter-count inside codegen): a pure projection with NO explode,
    NO join and NO shuffle at all; the scan is spread() so the
    hashing CPU uses every slot on single-file fixtures. The vector
    serializes sorted (the registry's array-determinism rule)."""
    from json_parquet_convertor_spark.operators.validation import md5_low64
    from json_parquet_convertor_spark.sources.io import spread

    o = spread(load_table(spark, sf_dir, "orders"))
    bucket = lambda c: (md5_low64(c) % 16).cast("bigint")  # noqa: E731
    # missing-as-token on every categorical (see oracle comment)
    tok = lambda c: F.coalesce(c.cast("string"), F.lit("null"))  # noqa: E731
    buckets = F.array(
        bucket(F.concat(F.lit("status="), tok(F.col("o_orderstatus")))),
        bucket(F.concat(F.lit("prio="), tok(F.col("o_orderpriority")))),
        bucket(
            F.concat(F.lit("cust_band="), tok(F.col("o_custkey") % 100))
        ),
    )
    rows = o.select("o_orderkey", buckets.alias("a"))
    distinct = F.array_sort(F.array_distinct(F.col("a")))
    return rows.select(
        "o_orderkey",
        F.size(distinct).cast("bigint").alias("n_buckets"),
        F.concat_ws(
            ",",
            F.transform(
                distinct,
                lambda x: F.concat_ws(
                    ":",
                    x,
                    F.size(F.filter(F.col("a"), lambda y: y == x)),
                ),
            ),
        ).alias("feature_vec"),
    )


# ---------------------------------------------------------------------------
# leave-one-out target encoding (smoothed categorical encoder)
# ---------------------------------------------------------------------------


@query(
    "q_feature_target_encode",
    oracle="""
    WITH base AS (
        SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
               CAST(l.l_extendedprice AS DECIMAL(18,4)) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    cat AS (
        SELECT p_brand, SUM(y) AS sum_y, COUNT(*) AS n
        FROM base GROUP BY 1
    ),
    g_tot AS (
        SELECT SUM(y) AS g_sum, COUNT(*) AS g_n FROM base
    )
    SELECT b.l_orderkey, b.l_linenumber, b.p_brand,
           floor((CAST(c.sum_y - b.y AS DOUBLE)
                  + 10.0 * (CAST(g.g_sum AS DOUBLE) / g.g_n))
                 / (c.n - 1 + 10)
                 * 10000 + 0.5) / 10000 AS brand_encoding
    FROM base b
    JOIN cat c USING (p_brand)
    CROSS JOIN g_tot g
    """,
)
def q_feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of part brand against
    line revenue: each row's encoding is the mean target of its
    category EXCLUDING ITSELF, shrunk toward the global mean with a
    pseudo-count prior of 10 — (sum_cat − y_i + m·ȳ)/(n_cat − 1 + m).
    The other classic categorical encoder next to q_feature_hash:
    hashing needs no target but wastes signal; target encoding is the
    strongest single feature for high-cardinality categoricals and the
    easiest to LEAK, which is exactly what leave-one-out (own row
    excluded) and the prior (rare categories collapse to the global
    mean instead of memorizing their one row) are for.

    Scale design: one category table (|brands| rows, decimal-exact
    sums) joined back onto the fact stream — at real cardinalities a
    shuffle join on the category key; the global mean is the 1-row
    constant attach. The LOO subtraction is per-row arithmetic on
    exact decimals; the single double division happens identically on
    both engines right before the quantize. Fits q_sample_temporal_
    split: compute the category table on train, apply to test."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    base = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("y"),
    )
    cat = base.groupBy("p_brand").agg(
        F.sum("y").alias("sum_y"), F.count(F.lit(1)).alias("n")
    )
    glob = base.agg(
        F.sum("y").alias("g_sum"), F.count(F.lit(1)).alias("g_n")
    )
    enc = (
        (F.col("sum_y") - F.col("y")).cast("double")
        + 10.0 * (F.col("g_sum").cast("double") / F.col("g_n"))
    ) / (F.col("n") - 1 + 10)
    return (
        base.join(cat, "p_brand")
        .crossJoin(F.broadcast(glob))
        .select(
            "l_orderkey",
            "l_linenumber",
            "p_brand",
            (F.floor(enc * 10000 + 0.5) / 10000).alias("brand_encoding"),
        )
    )


# ---------------------------------------------------------------------------
# Gini-impurity feature screening (split-quality ranking)
# ---------------------------------------------------------------------------


@query(
    "q_feature_gini",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN o_totalprice > 50000.0 THEN 1 ELSE 0 END AS label,
               o_orderstatus, o_orderpriority,
               CAST(o_custkey % 10 AS VARCHAR) AS cust_decade
        FROM orders
    ),
    long AS (
        SELECT 'o_orderstatus' AS feature, o_orderstatus AS v, label
        FROM base
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority, label FROM base
        UNION ALL
        SELECT 'cust_decade', cust_decade, label FROM base
    ),
    cells AS (
        SELECT feature, v,
               COUNT(*) AS n,
               SUM(label) AS pos
        FROM long GROUP BY 1, 2
    ),
    tot AS (SELECT COUNT(*) AS nn FROM base)
    SELECT feature,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           floor(SUM(
               CAST(n AS DOUBLE)
               * (1.0 - (CAST(pos AS DOUBLE) / n) * (CAST(pos AS DOUBLE) / n)
                      - (CAST(n - pos AS DOUBLE) / n)
                        * (CAST(n - pos AS DOUBLE) / n))
           ) / MAX(t.nn) * 10000 + 0.5) / 10000 AS weighted_gini
    FROM cells CROSS JOIN tot t
    GROUP BY 1
    """,
)
def q_feature_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity feature screening: for each candidate categorical
    feature, the weighted Gini impurity of the high-value-order label
    after splitting on that feature (Σ_v (n_v/N)(1 − p_v² − q_v²)) —
    lower = the feature separates the label better, i.e. the
    decision-tree split criterion run as a feature-ranking pass before
    any model training (CART's impurity decrease, log-free unlike
    information gain, hence exactly reproducible cross-engine from
    pure counts).

    Scale design: the three features unpivot into one (feature, value,
    label) stream — a single scan feeding one groupBy whose key space
    is Σ|feature domains| (bounded by vocabulary); the impurity
    formula is then arithmetic over those few rows with the 1-row
    total broadcast. Counts are exact integers; each cell contributes
    one identically-ordered double term."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_totalprice") > 50000.0, 1)
        .otherwise(0)
        .alias("label"),
        "o_orderstatus",
        "o_orderpriority",
        (F.col("o_custkey") % 10).cast("string").alias("cust_decade"),
    )
    long = (
        base.select(
            F.lit("o_orderstatus").alias("feature"),
            F.col("o_orderstatus").alias("v"),
            "label",
        )
        .unionByName(
            base.select(
                F.lit("o_orderpriority").alias("feature"),
                F.col("o_orderpriority").alias("v"),
                "label",
            )
        )
        .unionByName(
            base.select(
                F.lit("cust_decade").alias("feature"),
                F.col("cust_decade").alias("v"),
                "label",
            )
        )
    )
    cells = long.groupBy("feature", "v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("label").alias("pos")
    )
    tot = base.agg(F.count(F.lit(1)).alias("nn"))
    nd = F.col("n").cast("double")
    p = F.col("pos").cast("double") / F.col("n")
    q = (F.col("n") - F.col("pos")).cast("double") / F.col("n")
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("feature")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            (
                F.floor(
                    F.sum(nd * (F.lit(1.0) - p * p - q * q))
                    / F.max("nn")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("weighted_gini"),
        )
    )
