"""Scalar function families (SURVEY.md §2 B8).

One query per family, each exercising >=5 functions as aliased columns with a
DuckDB oracle twin. Everything here is a built-in ``pyspark.sql.functions``
expression — JVM-side, inside whole-stage codegen, no Python in the data path.
``q_fn_json`` generalizes the reference's own domain (JSON field access,
``/root/reference/convertor/convertor.go:137-141``) to column level.

Cross-dialect rules (see exact.py and the q_agg_collect lesson):
- arrays are serialized via array_join / array_to_string before leaving the
  query — the driver's canonicalizer cannot hash list cells;
- float-valued computed columns are rounded to 4 dp on both sides;
- integer-returning functions whose width differs across engines (length,
  floor, size, ...) are cast to a common type on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark.exact import fsec
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table


@query(
    "q_fn_string",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up_name,
           lower(p_type) AS lo_type,
           trim(concat(' ', p_name, ' ')) AS trimmed,
           substring(p_name, 1, 4) AS sub4,
           concat_ws('-', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS INT) AS name_len,
           lpad(p_brand, 12, '*') AS brand_pad,
           replace(p_name, ' ', '_') AS name_snake,
           array_to_string(string_split(p_name, ' '), '|') AS name_words,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/lower/trim/substring/concat_ws/length/lpad/
    replace/split/regexp_extract — all codegen'd JVM expressions."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_type").alias("lo_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.substring("p_name", 1, 4).alias("sub4"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.array_join(F.split("p_name", " "), "|").alias("name_words"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "q_fn_math",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice, 1) AS price_r1,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           round(abs(p_retailprice - 1000), 4) AS price_abs_dev,
           round(pow(p_size, 2), 4) AS size_sq,
           CASE WHEN p_retailprice >= 0
                THEN round(sqrt(p_retailprice), 4) END AS price_sqrt,
           CASE WHEN p_retailprice > 0
                THEN round(ln(p_retailprice), 4) END AS price_ln,
           round(exp(p_size % 5), 4) AS size_exp,
           CAST(((-p_size % 7) + 7) % 7 AS INT) AS size_pmod,
           CAST(sign(p_retailprice - 1000) AS INT) AS price_sign
    FROM part
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/ceil/abs/pow/sqrt/ln/exp/pmod/sign. Floats
    rounded at 4 dp (single-input elementary fns are correctly rounded in
    both engines, so 4 dp is exact); width-divergent ints cast."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r1"),
        F.floor("p_retailprice").alias("price_floor"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.round(F.abs(F.col("p_retailprice") - 1000), 4).alias("price_abs_dev"),
        F.round(F.pow("p_size", F.lit(2)), 4).alias("size_sq"),
        # domain guards, mirrored in the oracle CASEs: a credit-memo
        # (negative) or freebie (0.0) retail price is NULL here — Spark
        # would give NaN/NULL where DuckDB hard-errors (--negative axis)
        F.when(
            F.col("p_retailprice") >= 0, F.round(F.sqrt("p_retailprice"), 4)
        ).alias("price_sqrt"),
        F.when(
            F.col("p_retailprice") > 0, F.round(F.log("p_retailprice"), 4)
        ).alias("price_ln"),
        F.round(F.exp(F.col("p_size") % 5), 4).alias("size_exp"),
        F.pmod(-F.col("p_size"), F.lit(7)).cast("int").alias("size_pmod"),
        F.signum(F.col("p_retailprice") - 1000).cast("int").alias("price_sign"),
    )


@query(
    "q_fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(day(o_orderdate) AS INT) AS o_day,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + 30 AS TIMESTAMP) AS plus30,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-12-31') AS INT)
               AS days_to_eoy,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: year/month/dayofmonth/date_trunc/date_add/datediff/
    last_day/unix_timestamp. Session tz is pinned UTC (sources.io), so
    Spark's tz-aware timestamps and DuckDB's naive ones agree."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp").alias("plus30"),
        F.datediff(
            F.lit("2024-12-31").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_eoy"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp").alias("month_end"),
        fsec("o_orderdate").alias("epoch_s"),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT p_partkey,
           CAST(v AS INT) - 1 AS pos,
           CAST(v AS INT) AS val,
           CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
           list_contains(string_split(p_name, ' '), 'red') AS has_red,
           array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',')
               AS words_distinct,
           array_to_string(string_split(p_name, ' ')[1:2], ',') AS first2,
           array_to_string(list_transform(string_split(p_name, ' '), w -> upper(w)), ',')
               AS words_upper,
           COALESCE(array_to_string(list_filter(string_split(p_name, ' '), w -> length(w) > 4), ','), '')
               AS long_words,
           CAST(list_sum(list_transform(string_split(p_name, ' '), w -> length(w))) AS INT)
               AS total_chars
    FROM part, unnest(generate_series(1, (p_size % 4) + 1)) AS t(v)
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: array(split)/size/array_contains/posexplode/
    array_distinct/slice/sort_array/transform/filter/aggregate (higher-order).
    posexplode runs over sequence(1, n) so the oracle can reconstruct `pos`
    from the value itself (pos = val - 1) — DuckDB lacks WITH ORDINALITY.
    All array-typed outputs leave serialized (driver canonicalizer rule)."""
    p = load_table(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    seq = F.sequence(F.lit(1), (F.col("p_size") % 4) + 1)
    return p.select(
        "p_partkey",
        F.posexplode(seq).alias("pos", "val"),
        F.size(words).alias("n_words"),
        F.array_contains(words, "red").alias("has_red"),
        F.array_join(F.sort_array(F.array_distinct(words)), ",").alias(
            "words_distinct"
        ),
        F.array_join(F.slice(words, 1, 2), ",").alias("first2"),
        F.array_join(F.transform(words, lambda w: F.upper(w)), ",").alias(
            "words_upper"
        ),
        F.array_join(F.filter(words, lambda w: F.length(w) > 4), ",").alias(
            "long_words"
        ),
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).alias(
            "total_chars"
        ),
    )


@query(
    "q_fn_map",
    oracle="""
    SELECT p_partkey, 'brand' AS key, p_brand AS value,
           'brand,type' AS keys_str,
           concat_ws(',', p_brand, p_type) AS vals_str,
           2 AS n_entries,
           p_brand AS brand_val
    FROM part
    UNION ALL
    SELECT p_partkey, 'type', p_type,
           'brand,type',
           concat_ws(',', p_brand, p_type),
           2,
           p_brand
    FROM part
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: create_map/map_keys/map_values/element_at/size/explode(map).
    The oracle reconstructs the exploded key-value rows via UNION ALL over the
    two known keys (DuckDB's map cells aren't hash-comparable anyway)."""
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("type"), F.col("p_type")
    )
    return p.select(
        "p_partkey",
        F.explode(m).alias("key", "value"),
        F.array_join(F.sort_array(F.map_keys(m)), ",").alias("keys_str"),
        F.array_join(F.map_values(m), ",").alias("vals_str"),
        F.size(m).alias("n_entries"),
        F.element_at(m, F.lit("brand")).alias("brand_val"),
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           json_extract_string(props, '$.missing') AS k_missing,
           CASE WHEN props IS NULL THEN NULL
                WHEN json_extract_string(props, '$.k') IS NULL THEN '{}'
                ELSE to_json(struct_pack(k := CAST(
                         json_extract_string(props, '$.k') AS INTEGER)))
           END AS roundtrip
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar family on events.props — the reference's own domain
    (JSON field access, convertor/convertor.go:137-141) generalized to column
    level: get_json_object / from_json(schema) / to_json / missing-path null.
    The oracle mirrors Spark's to_json conventions explicitly: NULL input →
    NULL output, and null struct fields are OMITTED ('{}') where DuckDB's
    to_json would emit "k":null (--nulls sweep find + review follow-up for
    the present-but-null-k case).

    JSON parsing is CPU-heavy per row, so the single-row-group benchmark
    file is spread() across cores first (no-op on split inputs)."""
    from json_parquet_convertor_spark.sources.io import spread

    ev = spread(load_table(spark, sf_dir, "events").select("event_id", "props"))
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("k_missing"),
        F.to_json(parsed).alias("roundtrip"),
    )


@query(
    "q_fn_conditional",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'none') AS seg_co,
           IFNULL(NULLIF(c_mktsegment, 'AUTOMOBILE'), 'auto') AS seg_nvl,
           CASE WHEN NULLIF(c_mktsegment, 'MACHINERY') IS NOT NULL
                THEN 'kept' ELSE 'machine' END AS seg_nvl2,
           NULLIF(c_mktsegment, 'FURNITURE') AS seg_nullif,
           greatest(c_acctbal, 0.0) AS bal_floor0,
           least(c_acctbal, 5000.0) AS bal_cap5k
    FROM customer
    """,
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: coalesce/nvl/nvl2/nullif/greatest/least."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(seg, F.lit("BUILDING")), F.lit("none")).alias("seg_co"),
        F.nvl(F.nullif(seg, F.lit("AUTOMOBILE")), F.lit("auto")).alias("seg_nvl"),
        F.nvl2(
            F.nullif(seg, F.lit("MACHINERY")), F.lit("kept"), F.lit("machine")
        ).alias("seg_nvl2"),
        F.nullif(seg, F.lit("FURNITURE")).alias("seg_nullif"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floor0"),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_cap5k"),
    )


@query(
    "q_fn_struct",
    oracle="""
    WITH t AS (
        SELECT n_nationkey, n_regionkey,
               struct_pack(key := n_nationkey, name := n_name) AS s
        FROM nation
    )
    SELECT n_nationkey,
           (s).name AS s_name,
           CAST((s).key * 2 AS BIGINT) AS s_key2,
           CAST(to_json(s) AS VARCHAR) AS s_json,
           (struct_pack(inner_s := s, rk := n_regionkey)).inner_s.name
               AS nested_name,
           CAST(to_json(struct_pack(inner_s := s, rk := n_regionkey))
                AS VARCHAR) AS nested_json
    FROM t
    """,
)
def q_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct family: struct construction (named fields), field access,
    struct nesting, and to_json serialization — the typed-record toolkit
    that the reference's fixed Go struct (convertor/struct.go:4-28) becomes
    at column level. All codegen'd; to_json emits byte-identical compact
    JSON in both engines for int/string fields."""
    n = load_table(spark, sf_dir, "nation")
    s = F.struct(
        F.col("n_nationkey").alias("key"), F.col("n_name").alias("name")
    )
    nested = F.struct(s.alias("inner_s"), F.col("n_regionkey").alias("rk"))
    return n.select(
        "n_nationkey",
        s.getField("name").alias("s_name"),
        (s.getField("key") * 2).alias("s_key2"),
        F.to_json(s).alias("s_json"),
        nested.getField("inner_s").getField("name").alias("nested_name"),
        F.to_json(nested).alias("nested_json"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
    SELECT event_type,
           CAST(bit_and(user_id) AS BIGINT) AS band,
           CAST(bit_or(user_id) AS BIGINT) AS bor,
           CAST(bit_xor(event_id) AS BIGINT) AS bxor,
           CAST(SUM(CASE WHEN (user_id & 1) = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_odd,
           CAST(SUM(CASE WHEN (event_id & 255) < 16 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_byte,
           CAST(MAX(user_id << 2) AS BIGINT) AS max_shl
    FROM events
    GROUP BY event_type
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: the bit_and/bit_or/bit_xor aggregates plus scalar
    &, << masks — the toolkit behind bitmap indexes, permission masks and
    hash-bucket math. All pure JVM codegen expressions; shifts on BIGINT
    never overflow here (user_id << 2 stays far below 2^62) so the plan is
    ANSI-safe. One shuffle on the 5-value group key, fully map-side
    combined."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("user_id").cast("bigint").alias("band"),
        F.bit_or("user_id").cast("bigint").alias("bor"),
        F.bit_xor("event_id").cast("bigint").alias("bxor"),
        F.sum(
            F.when(F.expr("(user_id & 1) = 1"), 1).otherwise(0)
        ).cast("bigint").alias("n_odd"),
        F.sum(
            F.when(F.expr("(event_id & 255) < 16"), 1).otherwise(0)
        ).cast("bigint").alias("n_low_byte"),
        F.max(F.expr("user_id << 2")).cast("bigint").alias("max_shl"),
    )


@query(
    "q_fn_url",
    oracle=r"""
    -- bad = unparseable: NULL component nulls the whole concat'd URL;
    -- embedded whitespace (--ctrl plants ' src5 ' sources) makes
    -- java.net.URI reject it, which try_parse_url maps to NULL
    WITH d AS (
        SELECT doc_id, lang, source,
               (lang IS NULL OR source IS NULL
                OR regexp_matches(source || lang, '\s')) AS bad
        FROM documents
    )
    SELECT doc_id,
           -- component-level mirror (r12 --unicode, widened r13
           -- --conflict): java.net.URI accepts a server-based authority
           -- only over the hostname alphabet [A-Za-z0-9.-]; anything
           -- else ('srcß4', the drift marker 'src0~v2' — '~' is RFC 3986
           -- unreserved but NOT hostname-legal) demotes the authority to
           -- registry-based and getHost() is NULL while PATH/QUERY/
           -- PROTOCOL still parse — guard host alone, not the whole URL
           CASE WHEN bad OR regexp_matches(source, '[^-A-Za-z0-9.]')
                THEN NULL
                ELSE source || '.example.com' END AS host,
           CASE WHEN bad THEN NULL
                ELSE '/corpus/' || lang || '/' || CAST(doc_id AS VARCHAR)
           END AS path,
           CASE WHEN bad THEN NULL
                ELSE 'v=2&lang=' || lang END AS query_string,
           CASE WHEN bad THEN NULL ELSE lang END AS q_lang,
           CASE WHEN bad THEN NULL
                ELSE 'https' END AS protocol
    FROM d
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL family: parse_url HOST/PATH/QUERY plus per-parameter extraction
    — the crawl-pipeline primitive for domain-level dedup, robots filtering
    and per-site quality weighting. URLs are constructed deterministically
    from the documents table, then round-tripped through Spark's
    try_parse_url (NOT parse_url: a malformed URL — embedded whitespace,
    the --ctrl axis — must yield NULL components, not crash the scan the
    way ANSI parse_url does); the oracle states the expected components
    directly, so any parse drift is a hard mismatch. A NULL component (e.g. missing lang) nulls the
    WHOLE url under Spark's concat, so every parsed field is NULL; the
    oracle mirrors that with explicit CASE guards rather than DuckDB's
    per-expression || propagation (--nulls sweep find). parse_url is
    JVM-side (no Python in the path); at 100 TB the host column feeds a
    groupBy for per-domain stats with an ordinary map-side-combined
    aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/corpus/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?v=2&lang="),
        F.col("lang"),
    )
    return docs.select(
        "doc_id",
        F.try_parse_url(url, F.lit("HOST")).alias("host"),
        F.try_parse_url(url, F.lit("PATH")).alias("path"),
        F.try_parse_url(url, F.lit("QUERY")).alias("query_string"),
        F.try_parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("q_lang"),
        F.try_parse_url(url, F.lit("PROTOCOL")).alias("protocol"),
    )


@query(
    "q_fn_try",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_custkey % 7 = 0 THEN NULL
                ELSE CAST(o_orderkey AS DOUBLE)
                     / CAST(o_custkey % 7 AS DOUBLE) END AS safe_div,
           TRY_CAST(CASE WHEN o_orderkey % 3 = 0
                         THEN CAST(o_orderkey AS VARCHAR)
                         ELSE o_orderpriority END AS BIGINT) AS parsed_key,
           CASE WHEN o_orderkey % 2 = 1 THEN NULL
                ELSE 9223372036854775807 END AS overflow_add,
           string_split(o_orderpriority, '-')[1] AS prio_head,
           string_split(o_orderpriority, '-')[5] AS prio_missing
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe `try_*` family — the error-handling posture that keeps a
    100 TB job alive under Spark 4's default ANSI mode, where a single bad
    row (divide-by-zero, overflow, malformed cast, out-of-range index)
    otherwise kills the stage: `try_divide`, `try_cast`, `try_add`,
    `try_element_at` all return NULL instead of raising, turning data
    errors into filterable rows.

    The oracle states the NULL-on-error semantics explicitly (CASE twins
    for the arithmetic traps, DuckDB TRY_CAST / native out-of-bounds NULL
    for the rest), so both engines pin identical outcomes on every
    poisoned row. All expressions are row-local codegen — no perf cost for
    the safety."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") < 2000
    )
    mixed = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string")
    ).otherwise(F.col("o_orderpriority"))
    prio = F.split("o_orderpriority", "-")
    return orders.select(
        "o_orderkey",
        F.try_divide("o_orderkey", F.col("o_custkey") % 7).alias("safe_div"),
        mixed.try_cast("bigint").alias("parsed_key"),
        F.try_add(
            F.lit(9223372036854775807), F.col("o_orderkey") % 2
        ).alias("overflow_add"),
        F.try_element_at(prio, F.lit(1)).alias("prio_head"),
        F.try_element_at(prio, F.lit(5)).alias("prio_missing"),
    )


@query(
    "q_fn_encode",
    oracle="""
    SELECT n_name,
           base64(encode(n_name)) AS b64,
           upper(hex(encode(n_name))) AS hex_upper,
           sha256(n_name) AS sha_256,
           octet_length(encode(n_name)) = length(n_name) AS ascii_only
    FROM nation
    """,
)
def q_fn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encoding family — base64, hex, SHA-256 — the content-
    addressing toolkit for corpus payloads (stable object keys, cache
    keys, integrity digests). All JVM-side codegen expressions over the
    UTF-8 bytes; DuckDB twins go through `encode()` (varchar→blob) so both
    engines digest identical bytes. hex is upper()'d on both sides because
    the engines disagree on hex-digit case; sha256/base64 agree natively.

    Scale: row-local projections, no shuffle; sha2 is the same primitive
    q_dedup_exact keys its 32-byte shuffle on."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.base64(F.col("n_name").cast("binary")).alias("b64"),
        F.upper(F.hex("n_name")).alias("hex_upper"),
        F.sha2("n_name", 256).alias("sha_256"),
        (
            F.length(F.col("n_name").cast("binary")) == F.length("n_name")
        ).alias("ascii_only"),
    )


@query(
    "q_fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract_string(props, '$.k') AS DOUBLE) / 10.0
               AS k_scaled,
           CAST(json_extract_string(props, '$.absent') AS INTEGER) AS k_absent
    FROM events
    """,
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type (new in Spark 4): `parse_json` once
    into the binary variant encoding, then typed `variant_get` path
    extraction — the schema-on-read answer to q_fn_json's string
    re-parsing (each json_extract re-tokenizes the string; variant_get
    navigates a parsed binary). Missing paths yield NULL, matching the
    oracle's json_extract on an absent key.

    At 100 TB the difference is real: a props column read k times as
    strings costs k parses per row; stored as VARIANT (or parsed once per
    row as here) it costs one parse + k binary lookups, all JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_int"),
        (
            F.try_variant_get(v, "$.k", "double") / F.lit(10.0)
        ).alias("k_scaled"),
        F.try_variant_get(v, "$.absent", "int").alias("k_absent"),
    )


@query(
    "q_fn_collation",
    oracle="""
    SELECT lower(p_brand) AS brand_ci,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types
    FROM (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
                      ELSE lower(p_brand) END AS p_brand, p_type
          FROM part)
    GROUP BY 1
    """,
)
def q_fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (new in Spark 4): the brand key arrives
    with inconsistent casing (mixed producers — the classic dirty-dim
    problem) and is grouped under the UTF8_LCASE collation, so 'BRAND#12'
    and 'brand#12' are THE SAME group without materializing a lower()'d
    copy of the column. The output key is lowercased for the oracle,
    which models the same semantics the portable way.

    At scale collation beats normalize-and-store when the original
    casing must survive for display: the comparator changes, the bytes
    don't — no second column, no rewrite of 100 TB of strings."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_brand")
        )
        .otherwise(F.lower("p_brand"))
        .alias("p_brand"),
        "p_type",
    )
    return (
        dirty.groupBy(
            F.expr("collate(p_brand, 'UTF8_LCASE')").alias("b_ci")
        )
        .agg(
            F.count("*").alias("n_parts"),
            F.countDistinct("p_type").alias("n_types"),
        )
        .select(
            F.lower(F.col("b_ci").cast("string")).alias("brand_ci"),
            "n_parts",
            "n_types",
        )
    )


@query(
    "q_fn_regex",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '[a-z]*ow[a-z]*') AS first_ow_word,
           CAST(len(regexp_extract_all(text, '[a-z]+a[a-z]*')) AS INT)
               AS n_a_words,
           length(regexp_replace(text, '[aeiou]', '', 'g')) AS len_no_vowels,
           CAST(len(regexp_extract_all(text, '[^ ]+')) AS INT) AS n_tokens_re,
           regexp_matches(text, 'spark.*window|window.*spark') AS has_both
    FROM documents
    WHERE doc_id % 10 = 0
    """,
)
def q_fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-expression function family — extract / extract_all /
    count / replace / rlike, the pattern toolkit behind PII scrubbing
    (q_text_scrub_pii), tokenization (q_text_tokens) and log parsing.
    Patterns stay in the character-class + alternation subset that Java's
    regex (Spark) and RE2 (DuckDB) interpret identically — no backrefs,
    no lookaround, no \\d-style classes whose Unicode breadth differs.
    regexp_replace needs DuckDB's 'g' flag to match Spark's
    replace-all default; both engines return '' for a no-match extract.

    Scale: all five are row-local codegen'd JVM expressions — no
    shuffle, no Python; the regexes compile once per task, not per
    row."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    return d.select(
        "doc_id",
        F.regexp_extract("text", "[a-z]*ow[a-z]*", 0).alias("first_ow_word"),
        F.regexp_count("text", F.lit("[a-z]+a[a-z]*")).cast("int").alias(
            "n_a_words"
        ),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias(
            "len_no_vowels"
        ),
        F.regexp_count("text", F.lit("[^ ]+")).cast("int").alias(
            "n_tokens_re"
        ),
        F.col("text").rlike("spark.*window|window.*spark").alias("has_both"),
    )


@query(
    "q_fn_timezone",
    oracle="""
    SELECT event_id,
           CAST(ts AS TIMESTAMP) + INTERVAL 330 MINUTE AS ts_ist,
           CAST(ts AS TIMESTAMP) AS ts_roundtrip,
           CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR AS ts_plus2,
           date_trunc('quarter', CAST(ts AS TIMESTAMP)) AS quarter_start,
           date_trunc('week', CAST(ts AS TIMESTAMP)) AS week_start
    FROM events
    WHERE event_id % 20 = 0
    """,
)
def q_fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone / calendar function family: from_utc_timestamp /
    to_utc_timestamp shifts and coarse date_trunc grains — the display-
    and bucketing layer every multi-region pipeline needs. Zones are
    EXPLICIT FIXED OFFSETS (+05:30 for the IST display column, GMT+02)
    so the oracle can state the shift as plain interval arithmetic.
    Named zones would make the twin depend on both engines' tzdb
    revisions even without DST: Asia/Kolkata was +5:21:10 before 1906,
    so a dirty 1903 timestamp (--dates axis) shifts differently under
    the JVM's full IANA history than under a constant interval — exactly
    the nondeterminism a verified pipeline avoids. The roundtrip column
    proves to_utc_timestamp inverts from_utc_timestamp.

    Scale: row-local codegen expressions; date_trunc stays a
    pushdown-friendly monotone function of ts (range filters on the
    truncated value still prune)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 20 == 0
    )
    ist = F.from_utc_timestamp("ts", "+05:30")
    return ev.select(
        "event_id",
        ist.alias("ts_ist"),
        F.to_utc_timestamp(ist, "+05:30").alias("ts_roundtrip"),
        F.from_utc_timestamp("ts", "GMT+02:00").alias("ts_plus2"),
        F.date_trunc("quarter", "ts").alias("quarter_start"),
        F.date_trunc("week", "ts").alias("week_start"),
    )


@query(
    "q_fn_format",
    oracle="""
    SELECT n_nationkey,
           printf('%s#%03d', n_name, n_nationkey) AS tag,
           lpad(CAST(n_nationkey AS VARCHAR), 5, '0') AS padded_key,
           rpad(n_name, 20, '.') AS padded_name,
           trim('  ' || n_name || '  ') AS trimmed,
           ltrim(n_name, 'AEIOU') AS no_lead_vowels
    FROM nation
    """,
)
def q_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family — printf-style templates, fixed-width
    padding, trim variants — the layer that renders keys, file names,
    and report labels (the reference's output key is exactly such a
    template: `<key>.parquet`, convertor/convertor.go:171).
    format_string maps to DuckDB's printf with identical %s/%03d
    conversions; lpad/rpad/trim/ltrim carry the same names and
    semantics (char-set ltrim included) in both engines.

    Scale: row-local codegen projections, no shuffle; at 100 TB these
    appear inside write-path key construction, where per-row Python
    string formatting would be the classic accidental bottleneck."""
    n = load_table(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.format_string("%s#%03d", "n_name", "n_nationkey").alias("tag"),
        F.lpad(F.col("n_nationkey").cast("string"), 5, "0").alias(
            "padded_key"
        ),
        F.rpad("n_name", 20, ".").alias("padded_name"),
        F.trim(F.concat(F.lit("  "), F.col("n_name"), F.lit("  "))).alias(
            "trimmed"
        ),
        F.ltrim(F.col("n_name"), F.lit("AEIOU")).alias("no_lead_vowels"),
    )
