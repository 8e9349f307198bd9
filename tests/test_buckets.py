"""Each bucket-pair rule in operators/buckets.py against its DuckDB twin.

The dedup and basket oracles splice the DuckDB halves of these rules, so
the two engines must agree on every corner the rule states, not only on
the corners the fixtures happen to populate. Both halves run here over
one hand-built table and must return the same pair set, which is also
pinned literally.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from json_parquet_convertor_spark.operators.buckets import (
    LSH_BUCKET_CAP,
    banded_pairs,
    basket_pairs,
    duck_banded_pairs,
    duck_basket_pairs,
    scored_banded_pairs,
)

#: (id, k0, k1, k2): one member row with its key in each of three bands
BANDED_ROWS = [
    (1, "a", "b", "x1"),
    (2, "a", "b", "x2"),  # meets 1 in bands 0 and 1: one pair
    (3, "a", "c3", "x3"),
    (4, "hot", "d", "x4"),  # in the over-cap bucket, and meets 5 in band 1
    (5, "e5", "d", "x5"),
    (6, None, "f6", "x6"),  # NULL keys: one bucket, as GROUP BY makes it
    (7, None, "f7", "x7"),
    (8, "g", "g8a", "x8a"),  # a repeated id: no (8, 8) pair
    (8, "g", "g8b", "x8b"),
    (9, "g", "g9", "x9"),
    (None, "n", "nn", "xn"),  # a NULL member pairs with nothing
    (10, "n", "n10", "x10"),
    (11, "n", "n11", "x11"),
    (12, "z", "z12", "x12"),  # one key value in two bands: no pair
    (13, "z13", "z", "x13"),
    (14, "w14", "w14", "w"),
    (15, "w15", "w15", "w"),
    (16, "s16", "s16", "x16"),
    (17, "s17", "s17", "x17"),
    (18, "s18", "s18", "x18"),
] + [
    # fills the "hot" bucket to LSH_BUCKET_CAP + 1 members with id 4
    (1000 + i, "hot", f"u{i}", f"v{i}")
    for i in range(LSH_BUCKET_CAP)
]

BANDED_PAIRS = {
    (1, 2), (1, 3), (2, 3), (4, 5), (6, 7), (8, 9), (10, 11), (14, 15),
}

#: (l_orderkey, l_partkey)
BASKET_ROWS = [
    (1, 10), (1, 20), (1, 30),
    (2, 10), (2, 10), (2, 20),  # a duplicate line counts once
    (3, 10), (3, 20), (3, 30), (3, None),  # a NULL part pairs with nothing
    (4, 30), (4, 40),  # (30, 40) is in one order only
    (None, 10), (None, 20), (None, 20), (None, 30),  # NULL orders join nothing
]

BASKET_PAIRS = {(10, 20, 3), (10, 30, 2), (20, 30, 2)}


@pytest.fixture()
def con():
    c = duckdb.connect()
    yield c
    c.close()


def test_banded_pairs_match_their_duckdb_twin(spark, con):
    members = spark.createDataFrame(
        BANDED_ROWS, "id long, k0 string, k1 string, k2 string"
    )
    keyed = members.select(
        "id", F.posexplode(F.array("k0", "k1", "k2")).alias("band", "key")
    )
    got = {
        (r.a, r.b)
        for r in banded_pairs(keyed, ["band", "key"], "id", ("a", "b"))
        .collect()
    }

    con.register(
        "m",
        pa.table(
            list(zip(*BANDED_ROWS)), names=["id", "k0", "k1", "k2"]
        ),
    )
    cand = duck_banded_pairs("m", "id", ["k0", "k1", "k2"], ("a", "b"))
    rows = con.execute(f"WITH {cand} SELECT a, b FROM cand").fetchall()

    assert len(rows) == len(set(rows))
    assert set(rows) == got == BANDED_PAIRS


def test_scored_banded_pairs_score_the_banded_pair_set(spark):
    """The payload-carrying variant finds the same pairs; the score sees
    both members' payloads (here the band-2 keys, equal only for 14 and
    15) and the floor filters before the distinct."""
    members = spark.createDataFrame(
        BANDED_ROWS, "id long, k0 string, k1 string, k2 string"
    )
    keyed = members.select(
        "id",
        "k2",
        F.posexplode(F.array("k0", "k1", "k2")).alias("band", "key"),
    )

    def pairs(floor):
        return {
            tuple(r)
            for r in scored_banded_pairs(
                keyed, ["band", "key"], "id", "k2", ("a", "b", "s"),
                lambda x, y: (x == y).cast("double"), floor,
            ).collect()
        }

    scored = pairs(0.0)
    assert {(a, b) for a, b, _ in scored} == BANDED_PAIRS
    assert len(scored) == len(BANDED_PAIRS)
    assert pairs(0.5) == {(14, 15, 1.0)}


def test_basket_pairs_match_their_duckdb_twin(spark, con):
    li = spark.createDataFrame(BASKET_ROWS, "l_orderkey long, l_partkey long")
    got = {tuple(r) for r in basket_pairs(li, 2).collect()}

    con.register(
        "lineitem",
        pa.table(list(zip(*BASKET_ROWS)), names=["l_orderkey", "l_partkey"]),
    )
    rows = con.execute(
        f"SELECT part_a, part_b, n_orders FROM {duck_basket_pairs(2)}"
    ).fetchall()

    assert set(rows) == got == BASKET_PAIRS
