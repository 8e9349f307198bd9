"""The MinHash rule of q_dedup_near, pinned three ways, and the query
against its oracle on hand-built corners.

A pure-Python reference (md5 of each 3-word shingle, its first 8 hex
digits as an integer mod P, ``(a·x + b) mod P``, per-function minimum)
must equal both the Spark signature helper and its DuckDB twin. The
documents hold the corners no generated fixture combines: a NULL doc_id,
a re-delivered doc_id whose text drifted, documents of fewer than 3
tokens, a bucket over LSH_BUCKET_CAP, and a pair that collides in two
bands.
"""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from json_parquet_convertor_spark import registry
from json_parquet_convertor_spark.operators.buckets import LSH_BUCKET_CAP
from json_parquet_convertor_spark.operators.llm import (
    _DUCK_MINHASH_SIGS,
    _MH_AB,
    _MH_B,
    _MH_K,
    _MH_P,
    _MH_R,
    _minhash_signatures,
)
from tests.oracle_utils import compare_query

registry.load_all()

_A = [f"w{i}" for i in range(40)]
_C = [f"c{i}" for i in range(30)]
_HOT = " ".join(f"h{i}" for i in range(20))

#: (doc_id, text)
DOCS = [
    (1, " ".join(_A)),
    (2, " ".join(_A[:2] + ["zz"] + _A[3:])),  # meets 1 in two bands
    (None, " ".join(_A)),  # a NULL doc_id in 1's buckets pairs with nothing
    (3, " ".join(_C)),
    (3, " ".join(_C[:10] + ["yy"] + _C[11:])),  # re-delivered, drifted
    (4, " ".join(_C)),
    (5, "too short"),  # fewer than 3 tokens: no signature
    (6, "x"),
] + [
    # one text LSH_BUCKET_CAP + 1 times: every band bucket is over the cap
    (100 + i, _HOT)
    for i in range(LSH_BUCKET_CAP + 1)
]


def _reference_signatures(rows) -> dict:
    """doc_id -> signature, from the documented rule alone."""
    shingles: dict = {}
    for doc_id, text in rows:
        w = text.split(" ")
        if len(w) >= 3:
            shingles.setdefault(doc_id, set()).update(
                " ".join(w[i:i + 3]) for i in range(len(w) - 2)
            )
    sigs = {}
    for doc_id, sh in shingles.items():
        xs = [
            int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % _MH_P
            for s in sh
        ]
        sigs[doc_id] = [
            min((a * x + b) % _MH_P for x in xs) for a, b in _MH_AB
        ]
    return sigs


def _bands(sig) -> list:
    return [tuple(sig[b * _MH_R:(b + 1) * _MH_R]) for b in range(_MH_B)]


@pytest.fixture()
def docs_dir(tmp_path):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in DOCS], pa.int64()),
                "text": [t for _, t in DOCS],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    return str(tmp_path)


@pytest.fixture()
def con(docs_dir):
    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{docs_dir}/documents.parquet')"
    )
    yield c
    c.close()


def test_minhash_signatures_equal_the_reference_in_both_engines(spark, con):
    ref = _reference_signatures(DOCS)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    got = {
        r.doc_id: list(r.sig) for r in _minhash_signatures(docs).collect()
    }
    duck = {
        doc_id: list(sig)
        for doc_id, sig in con.execute(
            f"{_DUCK_MINHASH_SIGS} SELECT doc_id, sig FROM sig"
        ).fetchall()
    }
    assert got == duck == ref
    # the drifted re-delivery contributes its own shingles
    assert ref[3] != ref[4]


def test_dedup_near_matches_its_oracle_on_hand_built_rows(
    spark, con, docs_dir
):
    ref = _reference_signatures(DOCS)
    assert sum(
        x == y for x, y in zip(_bands(ref[1]), _bands(ref[2]))
    ) == 2
    rows = registry.QUERIES["q_dedup_near"](spark, docs_dir).collect()
    assert sorted((r.doc_a, r.doc_b) for r in rows) == [(1, 2), (3, 4)]
    for r in rows:
        same = sum(x == y for x, y in zip(ref[r.doc_a], ref[r.doc_b]))
        assert r.est_jaccard == same / _MH_K
    ok, detail = compare_query(
        spark, con, registry.QUERIES["q_dedup_near"],
        registry.ORACLES["q_dedup_near"], docs_dir,
    )
    assert ok, detail
