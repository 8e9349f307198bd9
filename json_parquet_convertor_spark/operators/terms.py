"""Term statistics: how a document becomes terms, and the corpus counts
built on them.

The text-statistics queries (tf-idf, keywords, BM25, entropy, the
unigram LM, the vocabulary, Zipf and hapax scorecards, heavy hitters)
all start here, and so do their DuckDB oracles. A term is one element of
``split(text, ' ')``: a NULL text has none, and an empty text has the
one term ``''`` in both engines. Each rule is stated once per engine,
the DuckDB twin below its Spark half; callers decide whether to
``spread()`` the documents first.

- Split once (``--longtext``): a query that needs a document's length
  next to its terms binds the split as a column BEFORE the explode.
  Spark's Generate and DuckDB's unnest both re-evaluate their SIBLING
  projections per output row, so an inline ``size(split(text))`` next
  to ``explode(split(text))`` re-splits the document once per term:
  O(len²) per document (a jstack showed the straggler task pinned in
  ``UTF8String.split`` under ``generate_doConsume``).
- Document frequency counts distinct non-NULL doc_ids. A count of tf
  rows is wrong twice over: a doc_id carrying two texts of different
  token counts (a conflicting re-delivery, ``--conflict``) has one
  ``(doc_id, term, doc_len)`` row per text, and a NULL doc_id is no
  document. A term seen only under NULL doc_ids has df 0; callers divide
  by df with ``F.try_divide``, which gives NULL as DuckDB's division by
  zero does, where ANSI ``/`` raises ``DIVIDE_BY_ZERO``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _split() -> Column:
    return F.split("text", " ")


def tokens(docs: DataFrame, name: str = "term") -> DataFrame:
    """``(doc_id, name)``: one row per term of each ``docs`` row."""
    return docs.select("doc_id", F.explode(_split()).alias(name))


def doc_terms(docs: DataFrame) -> DataFrame:
    """``(doc_id, doc_len, term)``: :func:`tokens` with the term count of
    the row's text, the split bound once."""
    return docs.select("doc_id", _split().alias("__w")).select(
        "doc_id", F.size("__w").alias("doc_len"), F.explode("__w").alias("term")
    )


def term_freq(docs: DataFrame, name: str = "term") -> DataFrame:
    """``(name, freq BIGINT)``: how often each term occurs in ``docs``."""
    return tokens(docs, name).groupBy(name).agg(F.count("*").alias("freq"))


def doc_freq(tf: DataFrame) -> DataFrame:
    """``(term, df BIGINT)``: the distinct non-NULL doc_ids of each term of
    ``tf``, any frame with ``doc_id`` and ``term`` columns."""
    return tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def duck_tokens(name: str = "term") -> str:
    """Twin of :func:`tokens`, a subquery over ``documents``."""
    return (
        f"(SELECT doc_id, unnest(string_split(text, ' ')) AS {name}"
        " FROM documents)"
    )


def duck_term_freq(name: str = "term") -> str:
    """Twin of :func:`term_freq`, a subquery over ``documents``."""
    return (
        f"(SELECT {name}, CAST(COUNT(*) AS BIGINT) AS freq"
        f" FROM {duck_tokens(name)} GROUP BY {name})"
    )


#: twin of :func:`doc_terms`: the body of a ``terms`` CTE over ``documents``
DUCK_DOC_TERMS = """SELECT doc_id, len(l) AS doc_len, unnest(l) AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)"""

#: twin of :func:`doc_freq`: the body of a ``df`` CTE over a ``terms`` CTE
DUCK_DOC_FREQ = """SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM terms GROUP BY term"""
