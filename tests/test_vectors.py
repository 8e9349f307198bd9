"""Each vector rule in operators/vectors.py against its DuckDB twin.

The similarity and embedding oracles splice the DuckDB halves of these
rules, so the two engines must agree on every corner the rules state, not
only on the corners the fixtures happen to populate. Both halves run here
over one hand-built table and must return the same rows, bit for bit.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from json_parquet_convertor_spark.operators.vectors import (
    DUCK_FINITE_VEC,
    SRP_PLANES,
    cosine,
    dot,
    duck_cosine,
    duck_dot,
    duck_embedding,
    duck_l2,
    embedding,
    finite,
    finite_vec,
    l2,
    moment_fit,
    srp_bucket,
    srp_bucket_sql,
)

D = 64
NAN, INF = float("nan"), float("inf")


def _pairs():
    """(id, a, b): random 64-d pairs, then the corners the rules state."""
    rng = np.random.default_rng(7)
    rows = [
        (i, rng.standard_normal(D).tolist(), rng.standard_normal(D).tolist())
        for i in range(40)
    ]
    base = rng.standard_normal(D).tolist()

    def planted(pos, v):
        x = list(base)
        x[pos] = v
        return x

    rows += [
        (100, planted(3, NAN), base),
        (101, planted(0, INF), base),
        (102, planted(63, -INF), base),
        (103, planted(5, INF), planted(5, INF)),
        (104, None, base),
        (105, base, None),
        (106, [0.0] * D, base),  # a zero vector: its cosine is NULL
        (107, [0.0] * D, [0.0] * D),
    ]
    return rows


PAIRS = _pairs()

#: (vec_id, embedding) for the read and the finite guard, NULL
#: components included: only the guard takes them
VECS = [
    (0, [1.0, -2.5, 3.0]),
    (1, [1.0, NAN, 3.0]),
    (2, [INF, 0.0, 1.0]),
    (3, [0.0, -INF, 1.0]),
    (4, [1.0, None, 2.0]),
    (5, [NAN, None, 2.0]),
    (6, None),
    (7, []),
    (8, [0.1, 1e30, -1e-30]),
]


def _canon(v):
    """repr() round-trips a double, so equal reprs are equal bits."""
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return repr(v) if isinstance(v, float) else v


def _rows(rows):
    return sorted(tuple(_canon(v) for v in r) for r in rows)


def _spark(df):
    return _rows(df.collect())


def _duck(con, sql):
    return _rows(con.execute(sql).fetchall())


@pytest.fixture()
def pairs(spark):
    schema = "id int, a array<double>, b array<double>"
    return spark.createDataFrame(PAIRS, schema)


@pytest.fixture()
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id int, embedding array<float>")


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.register(
        "pairs",
        pa.table(
            {
                "id": pa.array([r[0] for r in PAIRS], pa.int32()),
                "a": pa.array([r[1] for r in PAIRS], pa.list_(pa.float64())),
                "b": pa.array([r[2] for r in PAIRS], pa.list_(pa.float64())),
            }
        ),
    )
    c.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([r[0] for r in VECS], pa.int32()),
                "embedding": pa.array(
                    [r[1] for r in VECS], pa.list_(pa.float32())
                ),
            }
        ),
    )
    yield c
    c.close()


def test_read_matches_its_duckdb_twin(vecs, con):
    got = _spark(vecs.select("vec_id", embedding("e")))
    sql = f"SELECT vec_id, {duck_embedding()} FROM embeddings"
    assert got == _duck(con, sql)
    assert dict(got)[8] == [repr(float(np.float32(v))) for v in VECS[8][1]]


def test_dot_and_l2_match_their_duckdb_twins(pairs, con):
    got = _spark(pairs.select("id", dot("a", "b"), l2("a", "b")))
    duck = _duck(
        con, f"SELECT id, {duck_dot('a', 'b')}, {duck_l2('a', 'b')} FROM pairs"
    )
    assert got == duck
    rows = {r[0]: r[1:] for r in got}
    assert rows[100] == ("nan", "nan") and rows[101] == ("inf", "inf")
    assert rows[104] == (None, None) and rows[107] == ("0.0", "0.0")


def test_cosine_matches_its_duckdb_twin(pairs, con):
    cos = cosine("a", "b", dot("a", "a"), dot("b", "b"))
    got = _spark(pairs.select("id", cos))
    assert got == _duck(con, f"SELECT id, {duck_cosine('a', 'b')} FROM pairs")
    rows = dict(got)
    # zero vectors: NULL in both engines, not an ANSI DIVIDE_BY_ZERO
    assert rows[106] is None and rows[107] is None
    # a non-finite vector: no cosine, so NULL sorts it below every number
    assert all(rows[i] is None for i in (100, 101, 102, 103, 104, 105))
    assert all(-1.0 <= float(rows[i]) <= 1.0 for i in range(40))


def test_finite_vec_matches_its_duckdb_twin(vecs, con):
    read = vecs.select("vec_id", embedding("embedding"))
    got = _spark(read.filter(finite_vec("embedding")).select("vec_id"))
    sql = f"SELECT vec_id FROM embeddings WHERE {DUCK_FINITE_VEC}"
    assert got == _duck(con, sql)
    assert got == [(0,), (7,), (8,)]


def test_finite_matches_duckdb_isfinite(vecs, con):
    x = F.col("x").cast("double")
    got = _spark(
        vecs.select("vec_id", F.posexplode("embedding").alias("i", "x"))
        .select("vec_id", "i", finite(x))
    )
    duck = _duck(
        con,
        "SELECT vec_id, i - 1, isfinite(CAST(embedding[i] AS DOUBLE))"
        " FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)",
    )
    assert got == duck
    assert sum(1 for r in got if r[2] is None) == 2
    assert sum(1 for r in got if r[2] is False) == 4


def test_srp_bucket_matches_its_duckdb_twin(pairs, con):
    planes = SRP_PLANES[:8]
    got = _spark(pairs.select("id", srp_bucket("a", planes)))
    sql = (
        f"SELECT id, {srp_bucket_sql(planes)}"
        " FROM (SELECT id, a AS e FROM pairs)"
    )
    assert got == _duck(con, sql)
    a = {r[0]: np.array(r[1]) for r in PAIRS[:40]}
    for i, bucket in got[:40]:
        bits = (planes @ a[i] >= 0).astype(int)
        assert bucket == sum(int(b) << k for k, b in enumerate(bits))


def test_moment_fit_merges_partials_in_one_task(spark):
    rng = np.random.default_rng(11)
    m = rng.standard_normal((200, 4)) * [1.0, 2.0, 0.5, 3.0] + [0, 1, -2, 5]
    df = spark.createDataFrame(
        [(r.tolist(),) for r in m], "embedding array<double>"
    ).repartition(5)

    def emit(n, mean, cov):
        import pandas as pd

        yield pd.DataFrame(
            {"n": [n], "mean": [mean.tolist()], "cov": [cov.ravel().tolist()]}
        )

    schema = "n long, mean array<double>, cov array<double>"
    (row,) = moment_fit(df, 4, emit, schema).collect()
    assert row["n"] == 200
    np.testing.assert_allclose(row["mean"], m.mean(axis=0), rtol=1e-12)
    np.testing.assert_allclose(
        np.reshape(row["cov"], (4, 4)),
        np.cov(m, rowvar=False, bias=True),
        rtol=1e-9,
        atol=1e-12,
    )
    assert moment_fit(df.limit(0), 4, emit, schema).collect() == []
