"""Extended training-data-pipeline operators (beyond SURVEY §2's 71).

The operators a 100 TB LLM-corpus pipeline needs on top of the declared
inventory: more dedup families (SimHash, exact n-gram Jaccard,
embedding-cosine), text analysis (language-ID, quality scoring, token
counting, document fingerprinting), IVF-style ANN, and multimodal binary
column plumbing. Same ground rules as operators/llm.py: built-in JVM
expressions wherever possible, candidates only ever meet inside equi-join
buckets, Python only via Arrow-batched mapInPandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark.operators.buckets import (
    STOP_SHINGLE_DF,
    banded_pairs,
    basket_pairs,
    bucket_lists,
    bucket_members,
    cross_pairs,
    duck_banded_pairs,
    duck_basket_pairs,
    sorted_pairs,
)
from json_parquet_convertor_spark.operators.shingles import (
    _DUCK_SHINGLE_INDEX,
    _DUCK_TOKENIZED,
    canonical_docs,
    duck_shingles,
    shingle_index,
    shingles,
)
from json_parquet_convertor_spark.operators.terms import (
    duck_term_freq,
    duck_tokens,
    term_freq,
    tokens,
)
from json_parquet_convertor_spark.operators.vectors import (
    DUCK_FINITE_VEC,
    SRP_PLANES,
    cosine,
    dot,
    duck_cosine,
    duck_embedding,
    duck_l2,
    embedding,
    finite_vec,
    l2,
    moment_fit,
    srp_bucket,
    srp_bucket_sql,
)
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, spread

# ---------------------------------------------------------------------------
# dedup: SimHash
# ---------------------------------------------------------------------------


def _simhash_chunks(docs: DataFrame) -> DataFrame:
    """(doc_id, ch) SimHash fingerprints as 8×8-bit chunk arrays.

    Chunk bits come from per-bit vote sums over token hashes (+1 if the
    token's hash has the bit set, else -1; term frequency weights the
    vote naturally). The token-hash family is md5 (r13 promotion): bit j
    of a token = bit (j mod 4) of hex nibble ⌊j/4⌋ of md5(token), which
    DuckDB computes identically — making the fingerprints, the banded
    candidate set, and the Hamming distances cross-engine EXACT so
    q_dedup_simhash carries a full value-hash oracle. (The previous
    fingerprint used pandas' fixed-key siphash in a zero-shuffle Arrow
    pass; md5 costs ~2× per token and reduces through one
    64-conditional-sum hash aggregate — map-side combined, so the
    shuffle carries per-DOC partials, never tokens.)"""
    toks = spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    # digest once per token occurrence; the 16 nibbles ride as TWO 32-bit
    # words instead of 16 conv(substring) columns (r13 optimization,
    # guide §2.3 narrower types / §4.1 cheaper per-row work: 2 string
    # parses per token instead of 16). conv parses hex big-endian, so
    # nibble k of the digest sits at bits [4*(7 - k mod 8), +3] of its
    # word — the identical bit j = bit (j%4) of nibble ⌊j/4⌋ extraction,
    # just addressed by shift instead of per-nibble column.
    words = toks.select("doc_id", F.md5("tok").alias("h")).select(
        "doc_id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("w0"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("w1"),
    )

    def _bit(j: int):
        k, b = j // 4, j % 4
        w = F.col("w0") if k < 8 else F.col("w1")
        return F.shiftright(w, 4 * (7 - k % 8) + b).bitwiseAND(F.lit(1))

    # vote sign: v_j = Σ(±1) = 2·(count of set bits) − n, so the aggregate
    # sums the raw 0/1 bit (branch-free codegen) and the sign test below
    # becomes 2b > n — exact integer math, same chunk bits as the ±1 fold
    votes = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        *[F.sum(_bit(j)).alias(f"b{j}") for j in range(64)],
    )

    def chunk(c: int):
        bits = [
            F.when(
                2 * F.col(f"b{8 * c + j}") > F.col("n_toks"), F.lit(1 << j)
            ).otherwise(F.lit(0))
            for j in range(8)
        ]
        return sum(bits[1:], bits[0]).cast("int")

    return votes.select(
        "doc_id", F.array(*[chunk(c) for c in range(8)]).alias("ch")
    )


# the identical token → md5-bit → vote → chunk pipeline as DuckDB SQL
_SH_NIB_COLS = ",\n               ".join(
    f"strpos('0123456789abcdef', substr(h, {k + 1}, 1)) - 1 AS n{k}"
    for k in range(16)
)
_SH_VOTE_COLS = ",\n               ".join(
    f"SUM(CASE WHEN (n{j // 4} >> {j % 4}) & 1 = 1 THEN 1 ELSE -1 END)"
    f" AS v{j}"
    for j in range(64)
)
_SH_CHUNK_LIST = "[" + ", ".join(
    "("
    + " + ".join(
        f"(CASE WHEN v{8 * c + j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    + ")"
    for c in range(8)
) + "]"
_SH_CAND_SQL = duck_banded_pairs(
    "chunks", "doc_id", [f"ch[{c + 1}]" for c in range(8)], ("doc_a", "doc_b")
)


@query(
    "q_dedup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    nib AS (
        SELECT doc_id,
               {_SH_NIB_COLS}
        FROM (SELECT doc_id, md5(tok) AS h FROM toks)
    ),
    votes AS (
        SELECT doc_id,
               {_SH_VOTE_COLS}
        FROM nib GROUP BY doc_id
    ),
    chunks AS (
        SELECT doc_id, {_SH_CHUNK_LIST} AS ch FROM votes
    ),
{_SH_CAND_SQL}
    SELECT doc_a, doc_b, hamming FROM (
        SELECT doc_a, doc_b,
               CAST(list_sum(list_transform(
                   generate_series(1, 8),
                   i -> bit_count(xor(ca[i], cb[i])))) AS BIGINT) AS hamming
        FROM (
            SELECT c.doc_a, c.doc_b, a.ch AS ca, b.ch AS cb
            FROM cand c
            JOIN chunks a ON c.doc_a = a.doc_id
            JOIN chunks b ON c.doc_b = b.doc_id
        )
    )
    WHERE hamming <= 7
    """,
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 64-bit fingerprint = sign of per-bit vote
    sums over token hashes (see :func:`_simhash_chunks`), then banded
    search — fingerprints split into 8×8-bit chunks, pairs meet only inside
    chunk equi-join buckets, final filter keeps Hamming distance <= 7
    (bit_count of XOR per chunk). With 8 chunks and threshold 7 the
    banding is EXACT by pigeonhole: any pair within distance 7 must agree on
    at least one full chunk, so no qualifying pair can be missed
    (tests/test_pipeline.py asserts this against a brute-force
    recomputation over the same fingerprints). Exactness holds WITHIN
    the hot-bucket cap: buckets with > LSH_BUCKET_CAP members are
    a boilerplate clique whose all-pairs emission is quadratic by
    construction — they are excluded from pairwise generation on both
    sides and belong to the clustering/canonical path instead.

    Driver contract (r12 verdict task 2, promoted from rows-only): the
    md5-derived fingerprint bits are engine-portable, so the oracle
    mirrors the complete algorithm — token hashing, vote sums, chunk
    packing, the banded candidate rule, and the Hamming refilter — and
    the driver records a full value-hash row.

    100 TB: the fingerprint pass is linear in tokens with map-side
    combine (per-doc partials shuffle, never tokens); the bucket
    aggregate shuffles (doc_id, 8-bit chunk) only."""
    docs = spread(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    # three consumers: the chunk explode and both per-pair fingerprint
    # join-backs
    fps = _simhash_chunks(docs).cache()

    chunks = fps.select(
        "doc_id",
        F.posexplode("ch").alias("chunk_idx", "chunk"),
    )
    # the lists hold only doc_ids: sorting structs that carry the ch
    # arrays measured slower than joining the fingerprints back per
    # deduped pair (5.93 s vs 5.22 s at sf0.1)
    cand = banded_pairs(
        chunks, ["chunk_idx", "chunk"], "doc_id", ("doc_a", "doc_b")
    )
    fa = fps.select(F.col("doc_id").alias("doc_a"), F.col("ch").alias("ca"))
    fb = fps.select(F.col("doc_id").alias("doc_b"), F.col("ch").alias("cb"))
    # r13 optimization: unrolled codegen twin of the 8-element HOF
    # Hamming fold — ch arrays are construction-fixed 8-int arrays (the
    # F.array(...) above), and integer addition has no -0.0/ordering
    # corner, so Σ bit_count(ca[i]^cb[i]) is exactly the fold
    _ham = F.lit(0)
    for _i in range(8):
        _ham = _ham + F.bit_count(
            F.get("ca", _i).bitwiseXOR(F.get("cb", _i))
        )
    hamming = _ham.cast("bigint")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 7)
        # r14 (guide §2.4): no final orderBy — it existed only to make the
        # output row order deterministic, which nothing consumes (the
        # driver's value-hash is order-insensitive, the oracle has no
        # ORDER BY, tests compare sets); at scale it was a global
        # range-exchange + sort of the whole pair set.
    )


# ---------------------------------------------------------------------------
# dedup: exact n-gram Jaccard (inverted index, fully oracled)
# ---------------------------------------------------------------------------

# Full exact-Jaccard pair SQL — the q_dedup_ngram_jaccard oracle, and the
# edge set q_dedup_cluster's oracle builds its recursive closure on.
_DUCK_JACCARD_PAIRS = f"""{_DUCK_SHINGLE_INDEX}
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS c
        FROM pruned a JOIN pruned b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c / (sa.n + sb.n - c), 4) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE c / (sa.n + sb.n - c) >= 0.3
"""


@query("q_dedup_ngram_jaccard", oracle=_DUCK_JACCARD_PAIRS)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard pairs via an inverted shingle index: pairs form
    only where a shared shingle exists (inside the shingle's bucket), then
    |A∩B| / (|A|+|B|-|A∩B|) >= 0.3. The complement to q_dedup_near: exact
    instead of estimated, still never an all-pairs crossJoin.

    Hot-key guard for scale: shingles appearing in > STOP_SHINGLE_DF docs
    emit no pairs (operators/buckets.py) — the standard stop-shingle
    pruning that keeps bucket occupancy bounded; true near-dup pairs
    share plenty of rare shingles so recall is unaffected.
    Intersection counts are taken on the pruned shingles, identically on
    both sides, hence oracle-stable.

    The index is :func:`shingles.shingle_index`: hashed shingles of the
    canonical text of each doc_id, a SET per document. Without set
    semantics a re-delivered doc (--rowdup) on BOTH pair sides doubles n
    and quadruples c, and the Jaccard denominator n_a + n_b - c hits
    exactly 0 (ANSI DIVIDE_BY_ZERO); the oracle's DISTINCT (doc_id,
    shingle) index states the same set. Sizes stay on the full index, as
    the oracle computes them."""
    sh, sizes = shingle_index(spark, sf_dir)
    pairs = (
        bucket_members(sh, ["sh"], "doc_id", STOP_SHINGLE_DF)
        .select(sorted_pairs("members").alias("p"))
        .groupBy(
            F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b")
        )
        .agg(F.count("*").alias("c"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.3)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE
    pairs_all AS ({_DUCK_JACCARD_PAIRS}),
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs_all
        UNION ALL
        SELECT doc_b, doc_a FROM pairs_all
    ),
    reach(s, d) AS (
        SELECT s, d FROM edges
        UNION
        SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )
    SELECT s AS doc_id, CAST(LEAST(s, MIN(d)) AS BIGINT) AS canon_id
    FROM reach GROUP BY s
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard near-dup pair graph —
    the step that turns pairwise dedup output into actionable groups: every
    document in a component maps to one canonical id (the component's min
    doc_id), and "keep one per canon_id" is then a trivial dedup.

    Spark: iterative min-label propagation. Each round every node takes the
    min of its own label and its neighbors' labels (one equi-join + one
    groupBy-min); converged when the global label sum stops decreasing —
    label sums are strictly decreasing until fixpoint, so the check is a
    cheap scalar agg, not a join. Rounds needed = component diameter; near-
    dup clusters are shallow (a handful of rounds). localCheckpoint after
    each round truncates the lineage so plans stay flat. At 100 TB the same
    loop runs with a parquet stage table per round (or the large-star/
    small-star variant for adversarial diameters); every round is shuffle-
    bounded by the edge count, never all-pairs.

    Oracle: DuckDB recursive-CTE transitive closure + min over reachable —
    exact, feasible because near-dup components are tiny."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .cache()
    )
    labels = edges.select(F.col("src").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("lab")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("lab")).first()[0]
    while True:
        nbr = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("lab").alias("dlab")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlab").alias("nmin"))
        )
        labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("lab"), F.coalesce(F.col("nmin"), F.col("lab"))
                ).alias("lab"),
            )
            .localCheckpoint()
        )
        new_sum = labels.agg(F.sum("lab")).first()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("doc_id", F.col("lab").alias("canon_id"))


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-dup (multi-table SRP LSH)
# ---------------------------------------------------------------------------


# 4 tables × 8 signed-random-projection planes, and the per-table 8-bit
# bucket keys as SQL
_DE_TABLES = [SRP_PLANES[t * 8:t * 8 + 8] for t in range(4)]
_DE_BUCKET_SQL = [srp_bucket_sql(planes) for planes in _DE_TABLES]

_DE_CAND_SQL = duck_banded_pairs(
    "s", "vec_id", [f"b{t}" for t in range(4)], ("vec_a", "vec_b")
)


@query(
    "q_dedup_embed",
    oracle=f"""
    WITH e AS (
        SELECT DISTINCT vec_id, {duck_embedding()} AS e
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    s AS (
        SELECT vec_id, e,
               {_DE_BUCKET_SQL[0]} AS b0,
               {_DE_BUCKET_SQL[1]} AS b1,
               {_DE_BUCKET_SQL[2]} AS b2,
               {_DE_BUCKET_SQL[3]} AS b3
        FROM e
    ),
{_DE_CAND_SQL}
    SELECT vec_a, vec_b, cos_sim FROM (
        SELECT c.vec_a, c.vec_b, {duck_cosine("ea.e", "eb.e")} AS cos_sim
        FROM cand c
        JOIN e ea ON c.vec_a = ea.vec_id
        JOIN e eb ON c.vec_b = eb.vec_id
    )
    WHERE cos_sim >= 0.35
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates with MULTI-TABLE signed-random-
    projection LSH: T=4 independent tables of 8 sign bits each; a pair is a
    candidate if it collides in ANY table (union → distinct), recall
    1-(1-p^8)^4 instead of p^8. Exact cosine >= 0.35 refilters candidates.

    100 TB: T map-only signature passes + one bucket aggregate over all T
    tables (operators/buckets.py) — still no all-pairs anything; the
    distinct of candidate pairs shuffles only id pairs.

    Oracle contract: signs, buckets, the candidate pair set and the 4-dp
    cosines are bit-equal cross-engine (operators/vectors.py), so the
    oracle is a full value-hash twin of the whole algorithm, the
    candidate rule stated on both sides. The signature pass therefore
    computes its 32 dots as HOF expressions instead of the earlier
    Arrow-matmul pandas_udf: BLAS reassociates the sum, which is the one
    step of the pipeline that is NOT bit-portable (a production
    deployment that needs no SQL twin would switch the signature pass
    back to the Arrow matmul; every other stage is unchanged). Set
    semantics on (vec_id, embedding) via the --rowdup ingest guard,
    mirrored by the oracle's SELECT DISTINCT; NULL embeddings carry no
    geometry and are excluded on both sides."""
    emb = spread(
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", embedding("e"))
        .filter(F.col("e").isNotNull())
        .dropDuplicates()
    ).cache()  # read by the bucket join sides + the exact-cosine refilter

    sigs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[srp_bucket("e", planes) for planes in _DE_TABLES])
        ).alias("table_idx", "bucket"),
    )
    # sigs feeds the hot-bucket screen and the list aggregate, so the
    # 32-dot signature pass is cached (tiny rows: id + 2 ints) rather than
    # recomputed. Conflicting re-deliveries that share a vec_id meet in
    # one bucket and give no pair: banded_pairs keeps a < b only.
    cand = banded_pairs(
        sigs.cache(), ["table_idx", "bucket"], "vec_id", ("vec_a", "vec_b")
    )

    # the two self-dots of the exact-cosine refilter depend only on the
    # vector: norm² is computed once per vector (|V| dots, not 2·|pairs|)
    # and the 8-byte scalar rides through the join
    emb_n = emb.select("vec_id", "e", dot("e", "e").alias("n2"))
    ea = emb_n.select(
        F.col("vec_id").alias("vec_a"),
        F.col("e").alias("ea"),
        F.col("n2").alias("n2a"),
    )
    eb = emb_n.select(
        F.col("vec_id").alias("vec_b"),
        F.col("e").alias("eb"),
        F.col("n2").alias("n2b"),
    )
    cos = cosine("ea", "eb", "n2a", "n2b")
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.35)
        # no global sort: see q_dedup_simhash's note (order-insensitive
        # row hash, no ORDER BY in the oracle, set-comparing tests)
    )


# ---------------------------------------------------------------------------
# text analysis: language-ID, quality, tokens, fingerprint
# ---------------------------------------------------------------------------

# q_text_langid's fixed marker-n-gram profiles (' the ' en, ' data ' es,
# ' window ' zh) are the mechanism of n-gram language-ID; the synthetic
# corpus shares one vocabulary across langs, so this demonstrates the
# scoring pipeline, not classifier accuracy.


def _occ_sql(marker: str) -> str:
    return (
        f"CAST((length(text) - length(replace(text, '{marker}', '')))"
        f" / {len(marker)} AS INT)"
    )


@query(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id, lang,
           {_occ_sql(' the ')} AS s_en,
           {_occ_sql(' data ')} AS s_es,
           {_occ_sql(' window ')} AS s_zh,
           CASE WHEN {_occ_sql(' the ')} >= {_occ_sql(' data ')}
                 AND {_occ_sql(' the ')} >= {_occ_sql(' window ')} THEN 'en'
                WHEN {_occ_sql(' data ')} >= {_occ_sql(' window ')} THEN 'es'
                ELSE 'zh' END AS pred_lang
    FROM documents
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language ID: occurrence counts of per-language marker
    n-grams (substring counting via the length/replace identity — pure JVM
    string ops, no regex engine), argmax with a fixed tie order. One linear
    scan; profiles ride along as literals, nothing is broadcast."""
    docs = load_table(spark, sf_dir, "documents")

    def occ(marker: str):
        return (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(marker))))
            / len(marker)
        ).cast("int")

    s_en, s_es, s_zh = occ(" the "), occ(" data "), occ(" window ")
    pred = (
        F.when((s_en >= s_es) & (s_en >= s_zh), "en")
        .when(s_es >= s_zh, "es")
        .otherwise("zh")
    )
    return docs.select(
        "doc_id",
        "lang",
        s_en.alias("s_en"),
        s_es.alias("s_es"),
        s_zh.alias("s_zh"),
        pred.alias("pred_lang"),
    )


@query(
    "q_text_quality",
    oracle="""
    WITH t AS (
        -- BIGINT stats (r11, --longtext): the quality-score numerator
        -- 2000*(4*uniq + 3*(tokens-stop)) + tokens*(60*min(tokens,100)+1)
        -- crosses 2^31 near 220k tokens — a 250k-token megadoc hard-errors
        -- 32-bit arithmetic in BOTH engines
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_actual,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_uniq,
               CAST(len(list_filter(string_split(text, ' '),
                                    w -> w IN ('a', 'the'))) AS BIGINT)
                   AS n_stop
        FROM documents
    )
    SELECT doc_id, n_chars_actual, n_tokens,
           floor((20000 * n_uniq + n_tokens) / (2.0 * n_tokens)) / 10000.0
               AS uniq_ratio,
           floor((20000 * n_stop + n_tokens) / (2.0 * n_tokens)) / 10000.0
               AS stop_ratio,
           floor((2000 * (4 * n_uniq + 3 * (n_tokens - n_stop))
                  + n_tokens * (60 * least(n_tokens, 100) + 1))
                 / (2.0 * n_tokens)) / 10000.0 AS quality_score
    FROM t
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length, type-token (uniqueness) ratio,
    stopword ratio, combined into one bounded score — the cheap
    pre-training filter pass. All higher-order array functions, no UDF.

    The 4-dp quantization is EXACT-integer on both sides:
    round(x, 4) over a chained double expression is 1-ulp fragile (the
    --unicode sweep caught a doc whose score*10⁴ straddled .5 across
    engines), so each ratio is emitted as
    floor((2·10⁴·num + den) / (2·den)) / 10⁴ — half-up rounding of the
    exact rational num/den with integer numerators throughout. The
    cross-engine guarantee is not boundary distance (the quotient CAN
    land exactly on an integer, e.g. power-of-two denominators where the
    division is exact): it is that both engines perform the SAME single
    correctly-rounded IEEE division of identical exactly-representable
    integers, so floor of the identical double agrees bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # LONG stats (see oracle comment): the score numerator overflows
    # int32 near 220k tokens
    n_tokens = F.size(words).cast("long")
    n_uniq = F.size(F.array_distinct(words)).cast("long")
    n_stop = F.size(
        F.filter(words, lambda w: w.isin("a", "the"))
    ).cast("long")

    def q4(num, den):  # exact half-up of the rational num/den at 4 dp
        return F.floor((20000 * num + den) / (2.0 * den)) / 10000.0

    score_num = 2000 * (4 * n_uniq + 3 * (n_tokens - n_stop)) + n_tokens * (
        60 * F.least(n_tokens, F.lit(100)) + 1
    )
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        q4(n_uniq, n_tokens).alias("uniq_ratio"),
        q4(n_stop, n_tokens).alias("stop_ratio"),
        (F.floor(score_num / (2.0 * n_tokens)) / 10000.0).alias(
            "quality_score"
        ),
    )


@query(
    "q_text_tokens",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        w -> CAST(ceil(length(w) / 4.0) AS INT)))
                AS INT) AS subword4_tokens,
           round(length(text) / len(string_split(text, ' ')), 4) AS chars_per_token
    FROM documents
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-ish regex
    lexer ([a-z]+|[0-9]+ runs), and a 4-chars-per-piece subword estimate
    (ceil(len/4) per word — the budget heuristic for context-length
    planning). chars/token is the compression-ratio signal."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    ws_tokens = F.size(words).cast("int")
    re_tokens = F.size(
        F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)
    ).cast("int")
    subword = F.aggregate(
        F.transform(words, lambda w: F.ceil(F.length(w) / 4.0).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("int")
    return docs.select(
        "doc_id",
        ws_tokens.alias("ws_tokens"),
        re_tokens.alias("re_tokens"),
        subword.alias("subword4_tokens"),
        F.round(F.length("text") / F.size(words), 4).alias("chars_per_token"),
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
    WITH h AS (
        -- one fingerprint per DOCUMENT, not per delivery: --rowdup
        -- re-delivers exact copies and --conflict re-delivers DRIFTED
        -- versions of the same doc_id; the canonical text is the MAX
        -- version (deterministic binary compare in both engines, NULLs
        -- skipped by both MAX aggregates) — fingerprinting a merged
        -- shingle union would hash a chimera matching no real version
        SELECT doc_id,
               list_sort(list_distinct(
                   list_transform({duck_shingles()}, s -> md5(s))
               )) AS hs
        FROM {_DUCK_TOKENIZED}
        WHERE len(l) >= 3
    )
    SELECT doc_id,
           md5(array_to_string(hs[1:4], ',')) AS fingerprint,
           hs[1] AS min_hash
    FROM h
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: hash every 3-word shingle
    (the rolling-window k-gram), keep the bottom-4 hashes (a bottom-k
    sketch — stable under small edits, the MOSS/winnowing idea), and
    digest them into one fingerprint. md5 is used as the shingle hash
    because both engines implement it identically, making the whole
    sketch oracle-checkable. Conflicting re-delivered versions of a
    doc_id (r13, --conflict) resolve to the MAX text before shingling —
    one fingerprint per document, of one real version."""
    sh = shingles(canonical_docs(spark, sf_dir)).select(
        "doc_id", F.md5("sh").alias("h")
    )
    return (
        sh.groupBy("doc_id")
        .agg(F.slice(F.sort_array(F.collect_set("h")), 1, 4).alias("bottom"))
        .select(
            "doc_id",
            F.md5(F.concat_ws(",", F.col("bottom"))).alias("fingerprint"),
            F.element_at("bottom", 1).alias("min_hash"),
        )
    )


# ---------------------------------------------------------------------------
# similarity: IVF-style ANN
# ---------------------------------------------------------------------------


@query(
    "q_sim_ann_ivf",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS c_id, {duck_embedding()} AS ce
        FROM embeddings WHERE vec_id < 8
    ),
    assign AS (
        SELECT vec_id, c_id, e FROM (
            SELECT e.vec_id, c.c_id, {duck_embedding("e")} AS e,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {duck_l2(duck_embedding("e"), "c.ce")},
                                c.c_id
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probe AS (SELECT c_id AS pc, e AS pe FROM assign WHERE vec_id = 42)
    SELECT a.vec_id, {duck_cosine("a.e", "p.pe")} AS cos_sim
    FROM assign a CROSS JOIN probe p
    WHERE a.c_id = p.pc AND a.vec_id <> 42
    ORDER BY cos_sim DESC NULLS LAST, a.vec_id
    LIMIT 5
    """,
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer (8 fixed seed vectors as
    centroids) partitions the corpus into cells; a probe searches ONLY its
    own cell (nprobe=1) — the partition-pruning pattern that makes ANN
    sub-linear. Assignment is a broadcast join against the 8-row centroid
    table (a dim join, not all-pairs) + keep-nearest window.

    100 TB: write the corpus partitioned by cell_id; a probe then touches
    one partition (real IVF), and the centroid table comes from a seeded
    MLlib KMeans instead of seed rows. Deterministic here by construction:
    fixed centroid ids, distance ties broken by c_id."""
    from pyspark.sql.window import Window

    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", embedding("e")
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("c_id"), F.col("e").alias("ce")
    )
    w = Window.partitionBy("vec_id").orderBy(l2("e", "ce"), F.col("c_id"))
    assign = (
        emb.crossJoin(F.broadcast(cents))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "c_id", "e")
    )
    probe = assign.filter(F.col("vec_id") == 42).select(
        F.col("c_id").alias("pc"), F.col("e").alias("pe")
    )
    cos = cosine("e", "pe", dot("e", "e"), dot("pe", "pe"))
    return (
        assign.join(
            F.broadcast(probe), (F.col("c_id") == F.col("pc")) & (F.col("vec_id") != 42)
        )
        .select("vec_id", cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc_nulls_last(), "vec_id")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# multimodal: binary columns + decode stub
# ---------------------------------------------------------------------------


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           md5(text) AS checksum,
           CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
           CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: an opaque ``binary`` payload column (here
    synthesized as the utf-8 bytes of text — at 100 TB this is the image/
    audio blob, read straight from parquet BINARY) decoded per-batch in a
    mapInPandas stub. The Spark-side shape is the real thing — binary
    Arrow batches into Python, typed feature rows out, no driver
    involvement, peak memory = one batch.

    The decode itself STUBS the media library (none installed in this
    environment): it UNCONDITIONALLY computes deterministic fake features
    (byte count, md5 checksum, dims derived from length) so the result
    never depends on which libraries happen to be importable on the
    executors. A real deployment swaps ``decode_stub`` for a PIL/ffmpeg
    body with the same signature — the batch shape, schema, and
    partitioning (the parts this query exists to prove) are unchanged."""
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def decode_stub(batches):
        # deterministic fake decode, unconditional: installing a real media
        # lib must never change this query's result (a real deployment
        # replaces this whole function body, e.g. Image.open(io.BytesIO(p)))
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"]]
            n_bytes = [len(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.Series(n_bytes, dtype="int32"),
                    "checksum": [
                        hashlib.md5(p).hexdigest() for p in payloads
                    ],
                    "fake_width": pd.Series(
                        [n % 640 for n in n_bytes], dtype="int32"
                    ),
                    "fake_height": pd.Series(
                        [(n * 7) % 480 for n in n_bytes], dtype="int32"
                    ),
                }
            )

    return docs.mapInPandas(
        decode_stub,
        "doc_id long, n_bytes int, checksum string, fake_width int, fake_height int",
    )


@query(
    "q_multimodal_frames",
    oracle="""
    SELECT doc_id,
           CAST(k AS INT) AS frame_idx,
           CAST(k * 200 AS INT) AS frame_off,
           CAST(least(200, octet_length(encode(text)) - k * 200) AS INT) AS frame_len,
           md5(substring(hex(encode(text)), CAST(k * 400 + 1 AS INT), 400))
               AS frame_sig
    FROM documents,
         unnest(generate_series(
             0, least(3, octet_length(encode(text)) // 200 + 1) - 1)) AS t(k)
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over an opaque media payload: one row in → up to 3
    evenly-spaced frame rows out (index, byte offset, length, content
    signature), the video-preprocessing shape of a multimodal pipeline.
    Decode is stubbed like q_multimodal_decode (payload = utf-8 bytes, a
    frame = a 200-BYTE slice — byte-exact even when the slice splits a
    multibyte character, as real binary frames would) so the whole
    fan-out — including per-frame checksums — is oracle-checkable. The
    signature is md5 over the slice's HEX encoding on both sides:
    DuckDB's md5 is VARCHAR-only and a mid-character byte slice is not
    valid utf-8, so hex is the lingua franca (--unicode sweep find;
    the old char-based oracle silently assumed an ASCII corpus).

    The fan-out happens inside mapInPandas over Arrow batches: no driver
    involvement, no explode of materialized frame arrays — at 100 TB the
    payload bytes stream through the Python worker once."""
    import hashlib

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def sample_frames(batches):
        for pdf in batches:
            ids, idxs, offs, lens, sigs = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = min(3, len(data) // 200 + 1)
                for k in range(n_frames):
                    off = k * 200
                    chunk = data[off : off + 200]
                    ids.append(doc_id)
                    idxs.append(k)
                    offs.append(off)
                    lens.append(len(chunk))
                    # md5 over the slice's hex (uppercase, DuckDB's hex()
                    # convention) — see docstring
                    sigs.append(
                        hashlib.md5(chunk.hex().upper().encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_off": pd.Series(offs, dtype="int32"),
                    "frame_len": pd.Series(lens, dtype="int32"),
                    "frame_sig": pd.Series(sigs, dtype="object"),
                }
            )

    return docs.mapInPandas(
        sample_frames,
        "doc_id long, frame_idx int, frame_off int, frame_len int, frame_sig string",
    )


@query(
    "q_text_vocab",
    oracle=f"""
    SELECT term, freq FROM {duck_term_freq()}
    ORDER BY freq DESC, term
    LIMIT 20
    """,
)
def q_text_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-20 terms by frequency (ties broken by
    term for determinism). The frequency table is the input to stopword
    lists, BPE merges, and df-pruning thresholds; at 100 TB the explode +
    count is one linear shuffle on the term and the top-k is
    TakeOrderedAndProject (per-partition heaps)."""
    return (
        term_freq(spread(load_table(spark, sf_dir, "documents")))
        .orderBy(F.col("freq").desc(), "term")
        .limit(20)
    )


@query(
    "q_text_scrub_pii",
    oracle=r"""
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or 555-01'
                    || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS text
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
               '\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(text, '\d{3}-\d{4}')) AS INT) AS n_phones
    FROM enriched
    """,
)
def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — regex redaction of emails and phone numbers, the
    compliance pass every training corpus goes through before the tokenizer.
    Pure JVM regexp_replace/regexp_extract_all (codegen'd, no Python in the
    data path), linear scan, no shuffle at all. The patterns avoid
    backreferences/lookarounds so Java regex (Spark) and RE2 (DuckDB) agree
    character-for-character. The corpus has no real PII, so deterministic
    synthetic contact strings are appended per doc and then scrubbed —
    the oracle reproduces the same enrichment."""
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\d{3}-\d{4}"
    docs = spread(load_table(spark, sf_dir, "documents"))
    enriched = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    return enriched.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(email_re), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(phone_re), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
    )


@query(
    "q_knn_graph",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, {duck_embedding()} AS v FROM embeddings
    ),
    p AS (SELECT vec_id AS p_id, v AS pv FROM e WHERE vec_id % 25 = 0),
    pairs AS (
        SELECT p.p_id, e.vec_id AS neighbor_id,
               {duck_cosine("e.v", "p.pv")} AS cos_sim
        FROM e CROSS JOIN p
        WHERE e.vec_id <> p.p_id
    ),
    r AS (
        SELECT p_id, neighbor_id, cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY p_id
                   ORDER BY cos_sim DESC NULLS LAST, neighbor_id
               ) AS INT) AS rnk
        FROM pairs
    )
    SELECT p_id, neighbor_id, cos_sim, rnk FROM r WHERE rnk <= 5
    """,
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor graph build (k=5, cosine) for a probe subset —
    the precursor to embedding-space clustering, label propagation, and
    near-dup mining: every probe gets its 5 closest corpus vectors as
    graph edges.

    Shape: the probe set (vec_id % 25 == 0, 1/25 of the corpus, so it
    grows with the corpus) broadcasts and the corpus scans ONCE; per-probe top-k runs as a row_number window partitioned by
    probe, ordered by the 4-dp-rounded cosine with an id tiebreak so rank
    boundaries are engine-independent. Dot/norm math is higher-order
    array functions — JVM-side, inside codegen.

    Scale: broadcast-probe brute force is right only while the probe set
    fits a broadcast (cost = scan × |probes|, embarrassingly parallel, no shuffle
    of the corpus — only the k·|probes| candidate rows move). For
    all-pairs kNN at 100 TB the candidate generator swaps to the LSH
    bucket joins (q_sim_pairs_lsh / q_dedup_embed); this operator is the
    exact refinement those pipelines share."""
    from pyspark.sql.window import Window

    # each self-dot is a function of one side only, so it is computed
    # once per corpus row / probe row BELOW the crossJoin instead of once
    # per (row × probe) pair: |V| + |P| HOF dots instead of 2·|V|·|P|
    emb = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", embedding("v")
    ).select("vec_id", "v", dot("v", "v").alias("n2v"))
    probes = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("p_id"),
        F.col("v").alias("pv"),
        F.col("n2v").alias("n2p"),
    )
    cos = cosine("v", "pv", "n2v", "n2p")
    pairs = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("p_id"))
        .select(
            "p_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("p_id").orderBy(
        F.col("cos_sim").desc_nulls_last(), "neighbor_id"
    )
    return pairs.select(
        "*", F.row_number().over(w).cast("int").alias("rnk")
    ).filter(F.col("rnk") <= 5)


def _pagerank_oracle(iters: int = 5) -> str:
    """Unrolled fixed-iteration PageRank as plain SQL CTE layers (DuckDB's
    recursive CTEs allow only one reference to the working table, which the
    contribute-then-left-join step needs twice — unrolling sidesteps it)."""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f"""
    r{k} AS (
        SELECT nd.v,
               CAST(round(0.15 / nn.n
                          + 0.85 * COALESCE(CAST(c.csum AS DOUBLE), 0.0), 10)
                    AS DECIMAL(20,10)) AS r
        FROM nodes nd CROSS JOIN nn
        LEFT JOIN (
            SELECT e.tgt AS v,
                   SUM(CAST(round(CAST(p.r AS DOUBLE) / d.deg, 12)
                            AS DECIMAL(22,12))) AS csum
            FROM r{k - 1} p
            JOIN edges e ON e.src = p.v
            JOIN deg d ON d.src = e.src
            GROUP BY e.tgt
        ) c ON c.v = nd.v
    )""")
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    nodes AS (SELECT doc_id AS v FROM documents),
    edges AS (
        SELECT src, tgt FROM (
            SELECT doc_id AS src,
                   (doc_id * 3 + 1) % (SELECT n FROM nn) AS tgt
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 7 + 2) % (SELECT n FROM nn)
            FROM documents
            UNION ALL
            SELECT doc_id, (doc_id * 11 + 5) % (SELECT n FROM nn)
            FROM documents
        ) WHERE src <> tgt
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (
        SELECT nd.v, CAST(round(1.0 / nn.n, 10) AS DECIMAL(20,10)) AS r
        FROM nodes nd CROSS JOIN nn
    ),{",".join(steps)}
    SELECT v, CAST(r AS DOUBLE) AS rank FROM r{iters}
    """


@query("q_graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (5 rounds, d=0.85) over a deterministic
    synthetic link graph (each doc links to 3 mixed targets) — the
    canonical ITERATIVE operator family (influence scoring, link-spam
    detection, label propagation all share this join-aggregate-iterate
    loop), which the reference engine cannot express at all.

    Cross-engine exactness for an iterative float algorithm: ranks are
    quantized to DECIMAL(20,10) after every round and per-edge
    contributions to DECIMAL(22,12) BEFORE the per-target sum, so every
    summation is exact/order-independent and the double ops between
    quantizations are single IEEE-exact steps — 5 rounds of drift-free
    agreement with the oracle's unrolled-CTE twin.

    Scale: each round is one equi-join (ranks ⋈ edges on src — at 100 TB
    both sides pre-partitioned by src, so the join is co-located after
    round 1) plus one groupBy(tgt) shuffle; localCheckpoint truncates the
    lineage so the plan stays round-sized instead of growing 5 joins deep.
    The driver-side loop moves NO data — only the 5-round control flow."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("v")
    )
    n = docs.count()
    if n == 0:
        # empty graph: no vertices → no ranks, same (v, rank) schema
        # (r6 empty-fixture sweep; 0.15/n and % n are undefined at n=0)
        return docs.select("v", F.lit(0.0).alias("rank"))
    base, damp = 0.15 / n, 0.85

    edges = (
        docs.select(
            F.col("v").alias("src"),
            F.explode(
                F.array(
                    (F.col("v") * 3 + 1) % n,
                    (F.col("v") * 7 + 2) % n,
                    (F.col("v") * 11 + 5) % n,
                )
            ).alias("tgt"),
        )
        .filter(F.col("src") != F.col("tgt"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = edges.join(deg, "src").localCheckpoint()

    ranks = docs.select(
        "v", F.round(F.lit(1.0 / n), 10).cast("decimal(20,10)").alias("r")
    ).localCheckpoint()
    for _ in range(5):
        contrib = edges_deg.join(
            ranks, edges_deg.src == ranks.v
        ).select(
            "tgt",
            F.round(F.col("r").cast("double") / F.col("deg"), 12)
            .cast("decimal(22,12)")
            .alias("c"),
        )
        sums = contrib.groupBy("tgt").agg(F.sum("c").alias("csum"))
        ranks = (
            docs.join(sums, docs.v == sums.tgt, "left")
            .select(
                "v",
                F.round(
                    F.lit(base)
                    + F.lit(damp)
                    * F.coalesce(F.col("csum").cast("double"), F.lit(0.0)),
                    10,
                )
                .cast("decimal(20,10)")
                .alias("r"),
            )
            .localCheckpoint()
        )
    return ranks.select("v", F.col("r").cast("double").alias("rank"))


_DUCK_CONTAINMENT = f"""{_DUCK_SHINGLE_INDEX}
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM pruned a JOIN pruned b
          ON a.sh = b.sh AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, round(c / sa.n, 4) AS containment
    FROM pairs JOIN sizes sa ON doc_a = sa.doc_id
    WHERE c / sa.n >= 0.5
"""


@query("q_text_containment", oracle=_DUCK_CONTAINMENT)
def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED shingle containment C(A→B) = |A∩B| / |A| — the asymmetric
    companion to Jaccard that catches subset duplication (a doc wholly
    quoted inside a larger one, boilerplate wrappers around identical
    bodies): Jaccard divides by the union, so a small doc inside a big one
    scores low even at 100% overlap, while containment hits 1.0 exactly
    where dedup policy needs to act (keep the superset, drop the subset).

    Same inverted shingle index and stop-shingle pruning as
    q_dedup_ngram_jaccard — candidates only ever meet inside a shingle's
    bucket, intersection counts on pruned shingles, denominators on the
    full sets, identically on both sides. Directed pairs simply keep both
    orientations instead of the a < b half.

    Scale: identical posture to the Jaccard pass (bounded bucket
    occupancy, hash-keyed index); in production both measures come off
    the SAME cached pair-count table in one pass. Same --rowdup ingest
    guard as q_dedup_ngram_jaccard: the index is a SET per doc, so
    re-delivered copies dedup before indexing (containment c/n is
    otherwise inflated asymmetrically around the 0.5 threshold)."""
    sh, sizes = shingle_index(spark, sf_dir)
    # directed variant of q_dedup_ngram_jaccard's emission: each bucket's
    # list emits BOTH orientations in-row (x≠y over the list ≡ the
    # a.doc_id != b.doc_id join), at most df² pairs per bucket
    pairs = (
        bucket_members(sh, ["sh"], "doc_id", STOP_SHINGLE_DF)
        .select(cross_pairs("members", "members").alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .groupBy(
            F.col("p.a").alias("doc_a"),
            F.col("p.b").alias("doc_b"),
        )
        .agg(F.count("*").alias("c"))
    )
    ratio = F.col("c") / F.col("n")
    return (
        pairs.join(sizes, pairs.doc_a == sizes.doc_id)
        .filter(ratio >= 0.5)
        .select("doc_a", "doc_b", F.round(ratio, 4).alias("containment"))
    )


# ---------------------------------------------------------------------------
# PCA over the embedding column
# ---------------------------------------------------------------------------


@query(
    "q_embed_pca",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors
               FROM embeddings WHERE {DUCK_FINITE_VEC})
    SELECT CAST(i AS INT) AS component,
           n.n_vectors,
           CAST(1 AS BIGINT) AS evals_nonincreasing,
           CAST(1 AS BIGINT) AS share_in_range,
           CAST(1 AS BIGINT) AS cum_le_one,
           CAST(1 AS BIGINT) AS eigsum_matches_trace
    FROM n, generate_series(1, 8) t(i)
    WHERE n.n_vectors > 0
    """,
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Principal components of the embedding column — the
    dimensionality / variance-structure probe run before choosing an ANN
    index (q_sim_ann_ivf), a quantizer (q_embed_quantize), or a
    whitening transform: the top-8 eigenvalues of the covariance matrix
    with explained-variance shares.

    Scale design: the classic tall-skinny two-step. Pass 1 is
    embarrassingly parallel — each Arrow batch reduces to
    (n, Σx, ΣxxT) in one numpy matmul, so a billion 64-d rows become
    ~#tasks partial rows of ~33 KB; NO raw vector ever shuffles. Pass 2
    merges the partials and runs numpy `eigh` on the 64×64 covariance —
    a single tiny task (the d×d solve is O(d³) ≪ one batch's matmul).
    At extreme task counts insert one intermediate groupBy(task_id %
    1024) merge level (tree-reduce) — the partial format is
    merge-anywhere, nothing else changes.

    Oracle contract: eigenvalues are
    summation-order-sensitive in the last ulp (no cross-engine twin), so
    the emitted row is the INVARIANT — per component, the exact vector
    count plus 0/1 flags: eigenvalues sorted non-increasing, each
    explained share in [0, 1], cumulative share ≤ 1, and Σλ == trace(cov)
    (the eigensolve's own consistency identity) to 1e-8 relative. The
    flags are RANK-AWARE (generated fixtures' sin-family embeddings are
    near rank-2: trailing eigenvalues are ±1e-18-noise, so range checks
    carry a relative tolerance and a zero-variance corpus passes
    vacuously). Vectors with a non-finite or NULL component are
    EXCLUDED on both sides (operators/vectors.py: one NaN poisons the
    whole eigensolve). The oracle states the
    counts and expects every flag 1; tests re-verify raw eigenvalues
    against a full-data numpy PCA."""
    d = 64
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(embedding("embedding"))
        .filter(finite_vec(F.col("embedding")))
    )

    def eig_top(n_tot, _, cov):
        import numpy as np
        import pandas as pd

        evals = np.linalg.eigh(cov)[0][::-1]  # descending
        total = float(evals.sum())
        trace = float(np.trace(cov))
        top = evals[:8]
        tol = 1e-8 * max(1.0, abs(total))
        noninc = np.ones(8, dtype="int64")
        noninc[1:] = (np.diff(top) <= tol).astype("int64")
        if total > tol:
            shares = top / total
            cum = np.cumsum(top) / total
            in_range = (
                (shares >= -1e-9) & (shares <= 1.0 + 1e-9)
            ).astype("int64")
            cum_ok = (cum <= 1.0 + 1e-9).astype("int64")
        else:  # zero-variance corpus: shares undefined, vacuously ok
            in_range = np.ones(8, dtype="int64")
            cum_ok = np.ones(8, dtype="int64")
        trace_ok = int(abs(total - trace) <= 1e-8 * max(1.0, abs(trace)))
        yield pd.DataFrame(
            {
                "component": np.arange(1, 9, dtype="int32"),
                "n_vectors": np.full(8, n_tot, dtype="int64"),
                "evals_nonincreasing": noninc,
                "share_in_range": in_range,
                "cum_le_one": cum_ok,
                "eigsum_matches_trace": np.full(8, trace_ok, dtype="int64"),
            }
        )

    return moment_fit(
        emb,
        d,
        eig_top,
        "component int, n_vectors long, evals_nonincreasing long, "
        "share_in_range long, cum_le_one long, eigsum_matches_trace long",
    )


@query(
    "q_embed_whiten",
    oracle=f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(1 AS BIGINT) AS whiten_identity_ok
    FROM embeddings
    WHERE {DUCK_FINITE_VEC}
    GROUP BY label
    """,
)
def q_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening as a distributed FIT → APPLY pipeline: fit the
    d×d whitening transform W = Λ^{-1/2}Uᵀ from the same one-pass moment
    partials as q_embed_pca, then apply it to every vector — the
    preprocessing step before cosine-LSH or k-means when feature scales
    are wildly uneven (whitened data has identity covariance, asserted
    in tests).

    Oracle contract: the whitened norms are
    eigensolver-derived (no cross-engine twin), so the emitted row is
    the INVARIANT — per-label exact counts plus a 0/1 flag asserting the
    GLOBAL mean squared whitened norm equals Σᵢ λᵢ/max(λᵢ, ε), the exact
    trace identity of whitening over the empirical covariance. The
    identity is RANK-AWARE by construction (an ε-floored zero eigenvalue
    contributes ~0, so near-rank-2 generated fixtures pass with
    effective-rank ≈ 2, not d); tolerance 1e-3 relative absorbs the
    ε-amplified eigensolve noise. Vectors with a non-finite or NULL
    component are EXCLUDED on both sides (operators/vectors.py). The oracle
    states per-label counts and expects the flag to be 1.

    Scale design: the fit stage reduces to one 33 KB matrix row; APPLY
    broadcasts that single-row frame onto the embedding scan (a 1-row
    crossJoin — no driver collect, no closure capture, so the same plan
    re-fits correctly when the data changes) and transforms each Arrow
    batch with one numpy matmul. This fit-broadcast-apply shape is the
    general pattern for any learned preprocessing (scalers, projection
    matrices, codebooks) — model state flows through the plan, never
    through the driver."""
    d = 64
    df = (
        load_table(spark, sf_dir, "embeddings")
        .select("label", embedding("embedding"))
        .filter(finite_vec(F.col("embedding")))
    )

    def fit(_, mu, cov):
        import numpy as np
        import pandas as pd

        evals, evecs = np.linalg.eigh(cov)
        # RELATIVE eigenvalue floor (rcond-style): an absolute 1e-12
        # floor amplifies covariance float noise by λmax·ulp/ε ≈ 5e-3
        # PER floored direction — 60 floored
        # directions on the rank-2 fixtures put ~0.3 of noise into the
        # trace identity. ε = 1e-9·λmax bounds the amplification at
        # ~1e-7 per direction regardless of data scale (and is the
        # standard pinv/rcond practice); full-rank corpora never notice.
        eps = max(1e-12, 1e-9 * float(np.abs(evals).max(initial=0.0)))
        evals_f = np.maximum(evals, eps)
        w = (evecs / np.sqrt(evals_f)).T  # Λ^{-1/2} Uᵀ
        # the trace identity the contract flag checks: global mean ||z||²
        # must equal Σ λ/max(λ, ε) (≈ effective rank for floored dims)
        expected = float((evals / evals_f).sum())
        yield pd.DataFrame(
            {
                "mu": [mu.tolist()],
                "w": [w.ravel().tolist()],
                "expected_msq": [expected],
            }
        )

    wrow = moment_fit(
        df.select("embedding"),
        d,
        fit,
        "mu array<double>, w array<double>, expected_msq double",
    ).cache()  # read by the apply stage AND the final flag join

    def apply_w(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            mu = np.asarray(pdf["mu"].iloc[0])
            w = np.asarray(pdf["w"].iloc[0]).reshape(d, d)
            m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            z = (m - mu) @ w.T
            sq = (z * z).sum(axis=1)
            # label is NULLABLE (--evolve: old-schema part files miss
            # it entirely) — ship it as pandas nullable Int64 (bare int32
            # astype crashes on NaN) and keep the NULL group like a Spark
            # GROUP BY would (dropna would silently drop those vectors)
            out = pd.DataFrame(
                {"label": pdf["label"].astype("Int64"), "sq": sq}
            )
            g = out.groupby("label", as_index=False, dropna=False).agg(
                n=("sq", "size"), sum_sq=("sq", "sum")
            )
            yield g

    partial = df.crossJoin(F.broadcast(wrow)).mapInPandas(
        apply_w, "label int, n long, sum_sq double"
    )
    grouped = partial.groupBy("label").agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.sum("sum_sq").alias("__ssq"),
    )
    # one GLOBAL flag (same value on every row): mean ||z||² over ALL
    # vectors vs the fit stage's trace-identity expectation
    # tolerance is RANK-AWARE (seen on the --tz fixture): on near-rank-2
    # generated embeddings the ε-floor amplifies eigensolve/assembly
    # noise by 1/ε in each floored direction (~0.25% of the trace
    # observed at sf0.01) — 1% relative + 1e-3·d absolute keeps the flag
    # meaningful (a broken transform is off by O(1) per direction) while
    # absorbing the amplified float noise on degenerate fixtures
    flag = (
        grouped.agg(
            F.sum("n_vectors").alias("__n"), F.sum("__ssq").alias("__s")
        )
        .crossJoin(F.broadcast(wrow.select("expected_msq")))
        .select(
            (
                F.abs(F.col("__s") / F.col("__n") - F.col("expected_msq"))
                <= 0.01 * F.greatest(F.lit(1.0), F.col("expected_msq"))
                + 1e-3 * d
            )
            .cast("bigint")
            .alias("whiten_identity_ok")
        )
    )
    return grouped.crossJoin(F.broadcast(flag)).select(
        "label", "n_vectors", "whiten_identity_ok"
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


@query(
    "q_dedup_incremental",
    oracle=f"""{_DUCK_SHINGLE_INDEX}
    pairs AS (
        SELECT b.doc_id AS new_doc, c.doc_id AS corpus_doc,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM pruned b JOIN pruned c ON b.sh = c.sh
        WHERE b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT new_doc, corpus_doc,
               i / (sb.n + sc.n - i) AS jac
        FROM pairs
        JOIN sizes sb ON new_doc = sb.doc_id
        JOIN sizes sc ON corpus_doc = sc.doc_id
        WHERE i / (sb.n + sc.n - i) >= 0.3
    )
    SELECT new_doc, corpus_doc, round(jac, 4) AS jaccard
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY new_doc ORDER BY jac DESC, corpus_doc
        ) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — screen an incoming BATCH against the existing
    CORPUS (docs are split by id here; in production the corpus side is
    yesterday's snapshot table). This is the join direction a running
    pipeline actually executes daily: candidates form only across the
    batch→corpus boundary, so cost is |batch|-proportional — the corpus
    is never self-joined again, which is the entire economics of
    incremental ingestion at 100 TB (re-running q_dedup_ngram_jaccard on
    corpus+batch would redo the full quadratic-ish work every day).

    Same inverted index + stop-shingle prune as the full pass; each new
    doc reports its best corpus match (highest exact Jaccard ≥ 0.3,
    lowest doc_id tie-break) — the keep/drop/canonical decision input.

    At scale the corpus side's (doc, shingle-hash) index is a persisted
    stage table partitioned by hash — the batch probes it like a fact
    probing a dimension; only new docs' shingles shuffle. Same --rowdup
    ingest guard as q_dedup_ngram_jaccard: a re-delivered batch doc must
    screen identically to its first delivery, so copies dedup before
    indexing (set semantics, mirroring the oracle's DISTINCT index)."""
    from pyspark.sql.window import Window

    sh, sizes = shingle_index(spark, sf_dir)
    # one bucket aggregate collects each shingle's batch members and
    # corpus members as two lists (the when() conditions are the batch and
    # corpus filters), and batch×corpus pairs are emitted in-row
    doc = F.col("doc_id")
    pairs = (
        bucket_lists(
            sh,
            ["sh"],
            STOP_SHINGLE_DF,
            {"bs": F.when(doc % 5 == 0, doc), "cs": F.when(doc % 5 != 0, doc)},
            sort=False,
        )
        .select(cross_pairs("bs", "cs").alias("p"))
        .groupBy(
            F.col("p.a").alias("new_doc"),
            F.col("p.b").alias("corpus_doc"),
        )
        .agg(F.count("*").alias("i"))
    )
    sb = sizes.select(F.col("doc_id").alias("new_doc"), F.col("n").alias("nb"))
    sc = sizes.select(
        F.col("doc_id").alias("corpus_doc"), F.col("n").alias("nc")
    )
    jac = F.col("i") / (F.col("nb") + F.col("nc") - F.col("i"))
    scored = (
        pairs.join(sb, "new_doc")
        .join(sc, "corpus_doc")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= 0.3)
    )
    w = Window.partitionBy("new_doc").orderBy(
        F.desc("jac"), "corpus_doc"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_doc", "corpus_doc", F.round("jac", 4).alias("jaccard"))
    )


@query(
    "q_multimodal_dedup",
    oracle="""
    WITH ingested AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
    )
    SELECT md5(text) AS payload_md5,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           CAST((COUNT(*) - 1) * MIN(octet_length(encode(text))) AS BIGINT)
               AS wasted_bytes
    FROM ingested
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload dedup — the storage-reclamation pass for multimodal
    corpora: identical blobs (images fetched twice, re-encoded copies of
    the same upload) are found by a content digest computed DIRECTLY on
    the binary column, never by materializing the payload anywhere
    wider. Reports each duplicate group's canonical row and the bytes
    reclaimable by keeping one copy (payload here is the utf-8 text
    bytes, the same synthesized blob as q_multimodal_decode; at 100 TB
    it is the parquet BINARY image/audio column).

    Scale design: the only thing that ever shuffles is (md5, doc_id,
    byte-length) — 48-odd bytes per blob regardless of blob size; the
    digest runs JVM-side in the scan's codegen stage. This is the
    multimodal twin of q_dedup_exact, which keys on text sha2; dedup on
    digest-of-payload is also the idempotency key a multimodal ingest
    sink dedups on (reference A6's one-object-one-file naming,
    convertor/convertor.go:171, upgraded to content addressing)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    # simulate the at-least-once re-ingest that creates blob duplicates
    # (the reference's SQS redelivery, convertor/convertor.go:48): every
    # 7th payload arrives a second time under a new row id
    redelivered = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "payload"
    )
    ingested = docs.unionByName(redelivered)
    keyed = ingested.select(
        "doc_id",
        F.md5("payload").alias("payload_md5"),
        F.length("payload").alias("n_bytes"),
    )
    return (
        keyed.groupBy("payload_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("canonical_doc"),
            ((F.count("*") - 1) * F.min("n_bytes"))
            .cast("bigint")
            .alias("wasted_bytes"),
        )
        .filter(F.col("n_copies") > 1)
    )


@query(
    "q_text_entropy",
    oracle=f"""
    WITH tok AS {duck_tokens("t")},
    tf AS (
        SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    dl AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           dl.n AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           round(CAST(SUM(CAST(
               -(CAST(c AS DOUBLE) / dl.n) * ln(CAST(c AS DOUBLE) / dl.n)
               AS DECIMAL(18,12))) AS DOUBLE), 4) AS entropy
    FROM tf JOIN dl USING (doc_id)
    GROUP BY tf.doc_id, dl.n
    """,
)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy (nats) — the
    information-density quality signal that separates natural text from
    boilerplate and keyboard-mash: low entropy ⇒ few tokens dominate
    (repetition, templates — complementing q_text_repetition's n-gram
    view), suspiciously high ⇒ random noise. Each term
    −p·ln p quantizes to DECIMAL(18,12) BEFORE the per-doc sum (the
    q_text_tfidf discipline), so accumulation order cannot move the
    4-dp result across engines.

    Scale design: token counts combine map-side; one shuffle on doc_id
    serves the tf groupBy, and the doc-length join is co-partitioned on
    the same key — no second wide exchange. State per doc is its
    distinct-token count."""
    tok = tokens(spread(load_table(spark, sf_dir, "documents")), "t")
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    dl = tf.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = (-p * F.log(p)).cast("decimal(18,12)")
    return (
        tf.join(dl, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_tokens"))
        .agg(
            F.count("*").alias("n_distinct"),
            F.round(F.sum(term).cast("double"), 4).alias("entropy"),
        )
        .select("doc_id", "n_tokens", "n_distinct", "entropy")
    )


@query(
    "q_embed_kmeans",
    oracle=f"""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors
               FROM embeddings WHERE {DUCK_FINITE_VEC})
    SELECT CAST(i AS INT) AS centroid_id,
           n.n_vectors,
           CAST(1 AS BIGINT) AS inertia_monotone,
           CAST(1 AS BIGINT) AS assignment_complete
    FROM n, generate_series(0, 7) t(i)
    WHERE i < LEAST(8, n.n_vectors)
    """,
)
def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means over the embedding column (k=8, 3 Lloyd iterations,
    deterministic init = the vectors with the 8 lowest vec_ids) — the
    clustering that feeds IVF index building (q_sim_ann_ivf's centroid
    table is exactly this job's output), corpus domain discovery, and
    diversity-balanced sampling.

    Scale design: classic Spark k-means dataflow. Per iteration, each
    Arrow batch computes assignments against the broadcast centroids
    and reduces LOCALLY to (centroid, count, vector-sum) partials — so
    an iteration shuffles k×d doubles per batch, never vectors. The
    8×64-double model (4 KB) is the ONLY thing the driver ever holds —
    collecting bounded MODEL state between iterations is the sanctioned
    exception to this repo's no-collect rule (convergence scalars in
    q_graph_pagerank are the same pattern); the corpus itself never
    leaves executors. Ties in assignment break to the lowest centroid
    id.

    Oracle contract: cluster sizes sit on float
    distance-comparison boundaries (no cross-engine twin), so the
    emitted row is the INVARIANT — one row per centroid with the exact
    corpus size plus 0/1 flags: total inertia non-increasing across the
    Lloyd iterations (the algorithm's defining guarantee, up to 1e-9
    relative float slack) and every vector assigned to exactly one
    cluster. Vectors with a non-finite or NULL component are EXCLUDED
    on both sides (operators/vectors.py: NaN distances poison inertia
    and assignment). The oracle states k = min(8, n) rows over the finite
    corpus and expects both flags 1; raw sizes/inertia stay
    numpy-re-verified in tests."""
    model = _kmeans_model(spark, sf_dir)
    if model is None:
        # empty corpus: no centroids to fit — same output schema, 0 rows
        # (r6 empty-fixture sweep; np.vstack([]) raises). The oracle's
        # WHERE n_vectors > 0 mirrors the 0-row shape.
        emb = load_table(spark, sf_dir, "embeddings")
        return emb.select(
            F.lit(0).alias("centroid_id"),
            F.lit(0).cast("long").alias("n_vectors"),
            F.lit(0).cast("long").alias("inertia_monotone"),
            F.lit(0).cast("long").alias("assignment_complete"),
        )
    inertias = model["inertias"]
    monotone = all(
        b <= a * (1.0 + 1e-9) + 1e-9
        for a, b in zip(inertias, inertias[1:])
    )
    n_assigned = sum(model["sizes"].values())
    return spark.range(model["k"]).select(
        F.col("id").cast("int").alias("centroid_id"),
        F.lit(model["n_vectors"]).cast("long").alias("n_vectors"),
        F.lit(int(monotone)).cast("long").alias("inertia_monotone"),
        F.lit(int(n_assigned == model["n_vectors"]))
        .cast("long")
        .alias("assignment_complete"),
    )


def _kmeans_model(spark: SparkSession, sf_dir: str) -> dict | None:
    """The distributed Lloyd fit behind q_embed_kmeans: returns the
    bounded model state — final centroids, per-centroid sizes and
    inertia, per-iteration total inertia — or None on an empty corpus.
    Shared with tests/test_pipeline.py's numpy-reference twin, which
    re-verifies sizes and inertia exactly (the promoted driver contract
    emits only the invariant flags)."""
    import numpy as np

    d, k, iters = 64, 8, 3
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", embedding("embedding"))
        .filter(finite_vec(F.col("embedding")))
    )
    seeds = [
        np.asarray(r["embedding"], dtype="float64")
        for r in emb.orderBy("vec_id").limit(k).collect()
    ]
    if not seeds:
        return None
    k = min(k, len(seeds))  # degenerate corpora: never more seeds than rows
    init = np.vstack(seeds)

    def make_assign(cent):
        c = cent.copy()

        def assign(it):
            import pandas as pd

            for pdf in it:
                if not len(pdf):
                    continue
                m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
                # ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 ; argmin ties →
                # lowest centroid id (np.argmin's first-hit rule)
                d2 = (
                    (m * m).sum(axis=1)[:, None]
                    - 2.0 * (m @ c.T)
                    + (c * c).sum(axis=1)[None, :]
                )
                a = d2.argmin(axis=1)
                rows = []
                for ci in range(k):
                    sel = m[a == ci]
                    if len(sel):
                        rows.append(
                            (
                                ci,
                                len(sel),
                                sel.sum(axis=0).tolist(),
                                float(d2[a == ci, ci].sum()),
                            )
                        )
                yield pd.DataFrame(
                    rows, columns=["c", "n", "s", "inertia"]
                )

        return assign

    cent = init
    inertias = []  # bounded MODEL state: one scalar per iteration
    for _ in range(iters):
        parts = emb.mapInPandas(
            make_assign(cent),
            "c int, n long, s array<double>, inertia double",
        )
        rows = (
            parts.groupBy("c")
            .agg(
                F.sum("n").alias("n"),
                F.sum("inertia").alias("inr"),
                *[
                    F.sum(F.element_at("s", i + 1)).alias(f"s{i}")
                    for i in range(d)
                ],
            )
            .collect()
        )
        inertias.append(float(sum((r["inr"] or 0.0) for r in rows)))
        new = cent.copy()  # empty clusters keep their centroid
        for r in rows:
            new[r["c"]] = (
                np.array([r[f"s{i}"] for i in range(d)]) / r["n"]
            )
        cent = new

    final_rows = (
        emb.mapInPandas(
            make_assign(cent),
            "c int, n long, s array<double>, inertia double",
        )
        .groupBy("c")
        .agg(F.sum("n").alias("n"), F.sum("inertia").alias("inr"))
        .collect()
    )
    inertias.append(float(sum((r["inr"] or 0.0) for r in final_rows)))
    return {
        "k": k,
        "d": d,
        "centroids": cent,
        "sizes": {r["c"]: int(r["n"]) for r in final_rows},
        "cluster_inertia": {r["c"]: float(r["inr"]) for r in final_rows},
        "inertias": inertias,
        "n_vectors": emb.count(),
    }


# ---------------------------------------------------------------------------
# Zipf's-law fit over the vocabulary
# ---------------------------------------------------------------------------


@query(
    "q_text_zipf",
    oracle=f"""
    WITH v AS (
        SELECT term, freq FROM {duck_term_freq()}
        ORDER BY freq DESC, term LIMIT 100
    ),
    r AS (
        SELECT ln(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term)
                       AS DOUBLE)) AS x,
               ln(CAST(freq AS DOUBLE)) AS y
        FROM v
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 10000 + 0.5) / 10000 AS zipf_slope,
           floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                 / n * 10000 + 0.5) / 10000 AS intercept
    FROM s
    """,
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: least-squares slope of ln(frequency) vs ln(rank)
    over the top-100 vocabulary — natural corpora sit near −1; a flat
    slope screams templated/synthetic text and a steep one a stuck
    generator, so this single number is a cheap corpus-health gate
    (q_text_vocab shows the head, this scores its SHAPE).

    The regression reuses q_stats_linreg's sufficient-statistics shape on
    the 100-point (ln rank, ln freq) series; ranks and frequencies are
    exact integers, ln and the closed-form slope are mirrored
    operation-for-operation before quantization.

    Scale design: the word count is the only corpus-scale stage (linear
    shuffle on the term key, Zipf skew absorbed map-side); the top-100
    head comes off per-partition heaps, and everything after runs on 100
    rows. The window-based rank over the head list is the sanctioned
    bounded-data pattern (cf. q_rank_rrf)."""
    from pyspark.sql import Window

    v = (
        term_freq(spread(load_table(spark, sf_dir, "documents")))
        .orderBy(F.col("freq").desc(), "term")
        .limit(100)
    )
    r = v.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "term"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    return s.select(
        n.cast("bigint").alias("n_terms"),
        (F.floor(slope * 10000 + 0.5) / 10000).alias("zipf_slope"),
        (F.floor(intercept * 10000 + 0.5) / 10000).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# hapax legomena / vocabulary richness
# ---------------------------------------------------------------------------


@query(
    "q_text_hapax",
    oracle=f"""
    WITH v AS {duck_term_freq()}
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           floor(CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 10000 + 0.5) / 10000
               AS hapax_ratio,
           floor(CAST(COUNT(*) AS DOUBLE)
                 / sqrt(CAST(SUM(freq) AS DOUBLE)) * 10000 + 0.5) / 10000
               AS guiraud_r
    FROM v
    """,
)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness scorecard: hapax-legomena ratio (share of the
    vocabulary appearing exactly once) and Guiraud's R (vocab / √tokens)
    — the lexical-diversity signals that catch both degenerate repetition
    (ratio collapses, cf. q_text_repetition per-doc) and token-salad spam
    (ratio inflates) at CORPUS level; pairs with q_text_zipf as the
    tail-shape twin of the head-shape check.

    Everything is exact integer counting until the two final mirrored
    ratios; one row out.

    Scale design: one word-count shuffle on the term key (map-side
    partials absorb Zipf skew), then a 1-row rollup of the frequency
    table. The frequency table is the same stage q_text_vocab /
    q_text_zipf build — in a real pipeline it's computed once and these
    scorecards are free."""
    v = term_freq(spread(load_table(spark, sf_dir, "documents")))
    return v.agg(
        F.count("*").cast("bigint").alias("vocab_size"),
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        (
            F.floor(
                F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*").cast("double")
                * 10000
                + 0.5
            )
            / 10000
        ).alias("hapax_ratio"),
        (
            F.floor(
                F.count("*").cast("double")
                / F.sqrt(F.sum("freq").cast("double"))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("guiraud_r"),
    )


# ---------------------------------------------------------------------------
# entity resolution: block -> match -> cluster -> golden record
# ---------------------------------------------------------------------------


@query(
    "q_er_pipeline",
    oracle="""
    WITH RECURSIVE
    rec AS (
        SELECT p_partkey AS k, p_name AS name, p_retailprice AS price,
               string_split(p_name, ' ')[-1] AS blk
        FROM part
    ),
    -- closure over the DISTINCT-NAME node space (one node per name
    -- carrying its min row key), like the engine: same-name rows are
    -- distance-0 linked by definition, so row-level and name-level
    -- components coincide and the row-level reach set (quadratic in
    -- rows-per-name — 6M+ tuples at gen sf1.0) never materializes
    nm AS (
        SELECT blk, name, MIN(k) AS nk FROM rec GROUP BY 1, 2
    ),
    -- the closure is BLOCK-LOCAL (r13, --conflict): node identity is
    -- (blk, nk), not nk alone — conflicting re-delivered copies give the
    -- v2/v3 name nodes of one source row the same min partkey in
    -- different blocks, and a bare-nk reach would bridge components the
    -- per-block clustering (correctly) keeps apart
    pairs AS (
        SELECT a.blk AS blk, a.nk AS ka, b.nk AS kb
        FROM nm a JOIN nm b
          ON a.blk = b.blk AND a.nk < b.nk
         AND levenshtein(a.name, b.name) <= 2
    ),
    edges AS (
        SELECT blk, ka AS s, kb AS d FROM pairs
        UNION ALL
        SELECT blk, kb, ka FROM pairs
    ),
    reach(blk, s, d) AS (
        SELECT blk, s, d FROM edges
        UNION
        SELECT r.blk, r.s, e.d FROM reach r
        JOIN edges e ON r.blk = e.blk AND r.d = e.s
    ),
    canon AS (
        SELECT n.blk, n.name,
               coalesce(LEAST(n.nk, (SELECT MIN(d) FROM reach
                                     WHERE s = n.nk AND blk = n.blk)),
                        n.nk) AS entity_id
        FROM nm n
    )
    SELECT c.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           -- sentinel struct-min, not min_by (r13, --conflict): version
           -- copies TIE the min row key with drifted names; the name
           -- rides the compared struct as its own tiebreak (chr(1)
           -- sentinel for NULL names — both engines then compare
           -- non-NULL fields only; see q_join_point_in_time)
           NULLIF((min(struct_pack(
               k := r.k, nm := COALESCE(r.name, chr(1))))).nm, chr(1))
               AS canonical_name,
           floor((MAX(CAST(CAST(r.price AS VARCHAR) AS DECIMAL(12,2)))
                  - MIN(CAST(CAST(r.price AS VARCHAR) AS DECIMAL(12,2))))
                 * 10000 + 0.5) / 10000 AS price_spread
    FROM rec r JOIN canon c ON c.blk = r.blk AND c.name = r.name
    GROUP BY 1
    """,
)
def q_er_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part dimension — the
    classic MDM / record-linkage composite: (1) BLOCK on a cheap key
    (the name's last word) so candidate pairs are generated only inside
    blocks, (2) MATCH candidates with edit distance <= 2 on the full
    name, (3) CLUSTER matches into entities via connected components —
    and because blocking GUARANTEES no edge crosses a block, global CC
    equals per-block CC, so the clustering is ONE cogrouped
    applyInPandas pass (exact union-find inside each Arrow block
    group) instead of the iterative min-label rounds q_dedup_cluster
    needs for unconfined edge sets — note the
    fixture exercises true transitivity: 'cold X'~'old X'~'red X'~
    'new X' chain into one entity via adjacent links of distance
    1/2/2, even though cold-vs-new alone is distance 4, far past the
    pairwise threshold — and (4) emit
    one GOLDEN RECORD per entity: canonical id/name from the lowest
    surviving key and the retail-price spread across its duplicates —
    exactly the dedupe-then-survivorship pass a product catalog fed by
    the reference's blind converter would need.

    Scale design: matching runs over the DISTINCT-NAME space (rows
    with equal names are edit-distance-0 linked by definition, so each
    name is one node carrying its min row key) — the quadratic step is
    |distinct names per block|^2, bounded by VOCABULARY, independent
    of row count. Levenshtein runs JVM-side on those name pairs only.
    Clustering is one shuffle on blk + per-block union-find (linear in
    block edges, alpha(n) amortized) — no driver-side iteration;
    per-block state is bounded by the name vocabulary. The resolved
    name→entity map is dictionary-sized and BROADCASTS back onto the
    row stream, so the catalog itself is touched exactly twice (name
    rollup, final golden-record groupBy). DuckDB twins the clustering
    with a recursive CTE over the same distinct-name node space —
    same fixpoint, declarative form (the r6 gen-sf1.0 sweep showed a
    row-level closure materializes millions of reach tuples at 2.5k
    rows per name; the name-space CTE is the oracle's equivalent of
    the engine's vocabulary bound)."""
    p = load_table(spark, sf_dir, "part")
    rec = p.select(
        F.col("p_partkey").alias("k"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"),
        F.element_at(F.split("p_name", " "), -1).alias("blk"),
    )
    # resolve the DISTINCT-NAME space, not the row space: rows sharing a
    # name are linked by definition (edit distance 0), so each name
    # collapses to one node carrying its minimum row key — pair
    # generation is then |distinct names per block|^2, independent of
    # row count (the duplication factor that made row-level pairing
    # quadratic in data size)
    nm = rec.groupBy("blk", "name").agg(F.min("k").alias("nk"))
    a, b = nm.alias("a"), nm.alias("b")
    pairs = (
        a.join(b, F.col("a.blk") == F.col("b.blk"))
        .filter(F.col("a.nk") < F.col("b.nk"))
        .filter(
            F.levenshtein(F.col("a.name"), F.col("b.name")) <= 2
        )
        .select(
            F.col("a.blk").alias("blk"),
            F.col("a.nk").alias("ka"),
            F.col("b.nk").alias("kb"),
        )
    )
    import pandas as pd

    # blocking guarantees edges never cross blocks, so global CC ==
    # per-block CC: one cogrouped pass, exact union-find per block
    def block_cc(key, nodes, prs):
        parent = {int(k): int(k) for k in nodes["nk"]}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for ka, kb in zip(prs["ka"], prs["kb"]):
            ra, rb = find(int(ka)), find(int(kb))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        ks = list(parent)
        return pd.DataFrame(
            {"blk": pd.Series([key[0]] * len(ks), dtype="object"),
             "nk": pd.Series(ks, dtype="int64"),
             "lab": pd.Series([find(k) for k in ks], dtype="int64")}
        )

    labels = nm.select("blk", "nk").groupBy("blk").cogroup(
        pairs.groupBy("blk")
    ).applyInPandas(block_cc, "blk string, nk long, lab long")
    # join on (blk, nk), not nk alone (r13, --conflict): conflicting
    # re-delivered copies give the v2/v3 name nodes of ONE source row the
    # same min partkey in DIFFERENT blocks, so a bare-nk join fans every
    # such row out once per version block. The final entity_id group-by
    # still merges those versions into one entity — deliberately: they
    # are versions of the same real-world record, and the oracle's
    # nk-keyed closure states the same merge.
    name_entity = nm.join(labels, ["blk", "nk"]).select("blk", "name", "lab")
    joined = rec.join(F.broadcast(name_entity), ["blk", "name"])
    return joined.groupBy(F.col("lab").alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_records"),
        # sentinel struct-min (r13, --conflict): see oracle comment
        F.when(
            F.min(
                F.struct(
                    F.col("k"),
                    F.coalesce(F.col("name"), F.lit("\x01")).alias("nm"),
                )
            )["nm"]
            == "\x01",
            F.lit(None).cast("string"),
        )
        .otherwise(
            F.min(
                F.struct(
                    F.col("k"),
                    F.coalesce(F.col("name"), F.lit("\x01")).alias("nm"),
                )
            )["nm"]
        )
        .alias("canonical_name"),
        (
            F.floor(
                (
                    F.max(F.col("price").cast("decimal(12,2)"))
                    - F.min(F.col("price").cast("decimal(12,2)"))
                )
                * 10000
                + 0.5
            )
            / 10000
        ).alias("price_spread"),
    )


# ---------------------------------------------------------------------------
# BFS shortest-path levels (level-synchronous frontier expansion)
# ---------------------------------------------------------------------------


@query(
    "q_graph_bfs",
    oracle=f"""
    WITH RECURSIVE
    pairs AS {duck_basket_pairs(2)},
    edges AS (
        SELECT part_a AS src, part_b AS dst FROM pairs
        UNION ALL
        SELECT part_b, part_a FROM pairs
    ),
    reach(node, lvl) AS (
        SELECT CAST(0 AS BIGINT), 0
        UNION
        SELECT e.dst, r.lvl + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.lvl < 3
    )
    SELECT node AS p_partkey, CAST(MIN(lvl) AS INT) AS level
    FROM reach GROUP BY 1
    """,
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest-path levels from a seed product over the
    co-purchase graph (edges = part pairs bought together in >= 2
    orders): every part within 3 hops of part 0 with its hop distance —
    the "related products" / blast-radius expansion that completes the
    graph family (q_graph_pagerank ranks, q_dedup_cluster components,
    q_graph_triangles clusters, q_graph_degree_dist profiles; this one
    MEASURES DISTANCE).

    Scale design: level-synchronous frontier BFS — each round joins the
    CURRENT FRONTIER (never the visited set) against the edge list, so
    round cost tracks frontier-adjacent edges; visited nodes are
    anti-joined out before the next round and the frontier is
    localCheckpoint'ed (flat lineage, the q_dedup_cluster discipline).
    Rounds = hop limit (3), a fixed constant — unlike the
    converge-until-stable components loop. Edge build is the bounded
    in-basket pair count (q_pairs_copurchase's economics) with a
    min-support filter that keeps the graph sparse. DuckDB twins it
    with a recursive CTE capped at the same depth."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = basket_pairs(li, 2)
    a, b = F.col("part_a"), F.col("part_b")
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionAll(pairs.select(b.alias("src"), a.alias("dst")))
        .persist()
    )
    visited = (
        li.sparkSession.createDataFrame([(0, 0)], "node long, level int")
        .localCheckpoint()
    )
    frontier = visited
    for lvl in range(1, 4):
        nxt = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint()
        )
        # nxt is already materialized; visited stays a cheap union
        # lineage over the checkpointed frontiers (re-checkpointing the
        # growing union would re-materialize all prior levels each round)
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(
        F.col("node").alias("p_partkey"), F.col("level").cast("int")
    )
