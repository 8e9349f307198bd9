"""Each term-statistic rule in operators/terms.py against its DuckDB twin.

The text-statistics oracles splice the DuckDB halves of these rules, so
the two engines must agree on every corner the rules state, not only on
the corners the fixtures happen to populate. Both halves run here over
one hand-built ``documents`` table and must return the same rows.
"""

from __future__ import annotations

from collections import Counter

import duckdb
import pyarrow as pa
import pytest

from json_parquet_convertor_spark.operators.terms import (
    DUCK_DOC_FREQ,
    DUCK_DOC_TERMS,
    doc_freq,
    doc_terms,
    duck_term_freq,
    duck_tokens,
    term_freq,
    tokens,
)

#: (doc_id, text)
DOCS = [
    (1, "a b a"),
    (1, "a b"),  # a drifted re-delivery: one document, two token counts
    (2, "b c c"),
    (None, "d e"),  # a NULL doc_id is no document: d and e have df 0
    (None, "a"),
    (3, ""),  # an empty text is the one term ''
    (4, None),  # a NULL text has no term
    (5, "  x y "),  # leading, doubled and trailing spaces give '' terms
]

#: term -> distinct non-NULL doc_ids
DF = {"a": 1, "b": 2, "c": 1, "d": 0, "e": 0, "": 2, "x": 1, "y": 1}


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.register(
        "documents",
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in DOCS], pa.int64()),
                "text": pa.array([r[1] for r in DOCS], pa.string()),
            }
        ),
    )
    yield c
    c.close()


def _spark(df, cols):
    return Counter(tuple(r[c] for c in cols) for r in df.collect())


def _duck(con, sql, cols):
    rel = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})")
    return Counter(tuple(r) for r in rel.fetchall())


def test_tokens_match_their_duckdb_twin(docs, con):
    cols = ["doc_id", "tok"]
    got = _spark(tokens(docs, "tok"), cols)
    assert got == _duck(con, duck_tokens("tok"), cols)
    assert sum(got.values()) == 17
    assert got[(5, "")] == 3


def test_doc_terms_match_their_duckdb_twin(docs, con):
    cols = ["doc_id", "doc_len", "term"]
    got = _spark(doc_terms(docs), cols)
    assert got == _duck(con, DUCK_DOC_TERMS, cols)
    assert got[(1, 3, "a")] == 2 and got[(1, 2, "a")] == 1
    assert got[(3, 1, "")] == 1 and got[(5, 5, "")] == 3


def test_term_freq_matches_its_duckdb_twin(docs, con):
    cols = ["term", "freq"]
    got = _spark(term_freq(docs), cols)
    assert got == _duck(con, duck_term_freq(), cols)
    assert dict(got) == {
        ("a", 4): 1, ("b", 3): 1, ("c", 2): 1, ("d", 1): 1, ("e", 1): 1,
        ("", 4): 1, ("x", 1): 1, ("y", 1): 1,
    }


def test_doc_freq_matches_its_duckdb_twin(docs, con):
    cols = ["term", "df"]
    got = _spark(doc_freq(doc_terms(docs)), cols)
    duck = _duck(
        con, f"WITH terms AS ({DUCK_DOC_TERMS}) {DUCK_DOC_FREQ}", cols
    )
    assert got == duck
    assert dict(got) == {(t, n): 1 for t, n in DF.items()}
