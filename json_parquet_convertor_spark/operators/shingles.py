"""Shingle sets: how a document becomes the set of its k-word shingles.

The word-run dedup and text-overlap queries (MinHash, the inverted
shingle index, fingerprints, decontamination) all start here, and so do
their DuckDB oracles. A shingle is k consecutive space-split tokens
joined by one space; a document's shingle set is distinct.

- Canonical text: a conflicting re-delivery (``--conflict``) carries the
  same doc_id with a drifted text, so a doc_id-keyed index resolves
  versions first. ``max(text)`` is the deterministic winner in both
  engines (binary compare, NULLs skipped by both MAX aggregates), and it
  also collapses exact re-delivered copies (``--rowdup``), so the index
  is a set per document.
- Bound token array (``--longtext``): the split is bound as a real
  column BEFORE the higher-order lambda indexes it. Neither Spark codegen
  nor DuckDB eliminates common subexpressions inside lambdas, so an
  inline split under ``transform()`` re-splits the document once per
  element: O(len²) per row, over 700x on a 60k-word doc, and a 1.4 MB
  megadoc never finishes. Catalyst's CollapseProject keeps the two
  projections apart because the array is referenced more than once
  (tests/test_plans.py pins that no split() sits inside a lambda). The
  DuckDB twin indexes elements only: a list slice inside a lambda copies
  the whole bound list per element (120 s for one 60k-word doc).
- A document with fewer than k tokens has no shingle; the ``size >= k``
  guard also keeps ``element_at`` inside the array, which ANSI mode
  enforces.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from json_parquet_convertor_spark.operators.buckets import STOP_SHINGLE_DF
from json_parquet_convertor_spark.sources.io import load_table, spread


def canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, text)``: the ``max(text)`` version of each doc_id."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("doc_id")
        .agg(F.max("text").alias("text"))
    )


def shingles(
    docs: DataFrame,
    k: int = 3,
    gram: Callable[[Column], Column] = lambda c: c,
    name: str = "sh",
) -> DataFrame:
    """``(doc_id, name)``: the distinct ``gram(shingle)`` values of each
    ``docs`` row holding at least ``k`` tokens."""
    w = F.col("__w")

    def at(i: Column) -> Column:
        words = [F.element_at(w, i + j if j else i) for j in range(k)]
        return gram(F.concat_ws(" ", *words))

    return (
        spread(docs)
        .select("doc_id", F.split("text", " ").alias("__w"))
        .filter(F.size(w) >= k)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.transform(F.sequence(F.lit(1), F.size(w) - (k - 1)), at)
                )
            ).alias(name),
        )
    )


def shingle_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The inverted-index input of the exact-overlap queries: the cached
    ``(doc_id, sh)`` set of xxhash64 3-shingle hashes of the canonical
    documents, and ``(doc_id, n)``, its size per document.

    The index carries 64-bit hashes, not the ~20-char shingle strings:
    a smaller cache, cheaper shuffles and join compares. The oracles keep
    string shingles; counts diverge only on a 64-bit hash collision
    (~2^-64 per shingle pair). The cache (a parquet stage table at 100 TB)
    feeds both the sizes and the bucket aggregate."""
    sh = shingles(canonical_docs(spark, sf_dir), gram=F.xxhash64).cache()
    return sh, sh.groupBy("doc_id").agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

_DUCK_CANON_DOCS = (
    "(SELECT doc_id, max(text) AS text FROM documents GROUP BY doc_id)"
)

#: the canonical documents with the bound token list ``l``
_DUCK_TOKENIZED = (
    f"(SELECT doc_id, string_split(text, ' ') AS l FROM {_DUCK_CANON_DOCS})"
)


def duck_shingles(k: int = 3) -> str:
    """The k-shingle list over a bound token list ``l``, for rows with
    ``len(l) >= k`` (duplicates kept)."""
    words = " || ' ' || ".join(
        ["l[i]"] + [f"l[i + {j}]" for j in range(1, k)]
    )
    return f"""list_transform(
            generate_series(1, len(l) - {k - 1}),
            i -> {words})"""


#: the oracle side of :func:`shingle_index` plus the stop-shingle prune:
#: ``sh`` (doc_id, shingle) set, ``rare`` shingles in at most
#: STOP_SHINGLE_DF documents, ``pruned`` index rows on rare shingles, and
#: ``sizes`` on the full set. Splice sites continue the WITH list.
_DUCK_SHINGLE_INDEX = f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, unnest({duck_shingles()}) AS sh
        FROM {_DUCK_TOKENIZED}
        WHERE len(l) >= 3
    ),
    rare AS (
        SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh)
        WHERE df <= {STOP_SHINGLE_DF}
    ),
    pruned AS (SELECT doc_id, sh.sh FROM sh JOIN rare USING (sh)),
    sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),"""
