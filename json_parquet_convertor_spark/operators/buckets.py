"""Bucket-pair candidate generation for the LSH dedup and pair-mining queries.

Near-duplicate search (MinHash bands, SimHash chunks, hyperplane tables,
the inverted shingle index) and basket mining share one algorithm: rows
meet only inside a bucket key, never in an all-pairs crossJoin. This
module states each rule once per engine: the Spark builders first, their
DuckDB twins (the oracle side) after them.

- One aggregate on the bucket key collapses each bucket to its sorted
  member list, and pairs are emitted in-row: ``i < j`` over the sorted
  list is exactly the ``a.m < b.m`` bucket self-join that the DuckDB twin
  spells out. ``collect_list`` skips NULL members as the ``<`` predicate
  does. That costs one exchange on the bucket key, where a bucket
  self-join plus a pair distinct costs 4-5 per query.
- Over-dense buckets are excluded from pair emission on both sides: the
  oracles keep ``HAVING COUNT(*) <= cap``, and the Spark side filters on
  the same row count, which counts NULL members too. A boilerplate clique
  (the ``--hotkey`` axis: half the corpus near-identical) lands in one
  bucket and makes emission itself quadratic; the clique belongs to the
  clustering path (``q_dedup_cluster``), not all-pairs emission. The cap
  bounds in-row emission at ``cap² / 2`` pairs per bucket.
- Over-cap buckets are screened out before the list aggregate
  (:func:`_screen_hot_buckets`): a collect buffer cannot spill mid-group,
  so filtering after the list is built would still materialize the
  clique's full member array in one task.
- A NULL bucket key is one bucket, as GROUP BY makes it: the Spark screen
  matches it null-safely and the DuckDB twin joins on ``IS NOT DISTINCT
  FROM``.
- A query that scores each pair from a per-member payload can carry it
  in the list (:func:`scored_banded_pairs`): the member becomes
  ``struct(member, payload)``, pairs are scored in-row and filtered
  before the pair distinct, and nothing joins back. MinHash carries its
  16-long signature that way. SimHash and embedding dedup stay id-only
  (:func:`banded_pairs` plus payload join-backs): at sf0.1 sorting lists
  of structs carrying SimHash's 8-int fingerprints measured slower than
  the join-backs (5.93 s vs 5.22 s), and an embedding payload is 64
  doubles per member per table.
- Baskets (:func:`basket_pairs`) have no cap: TPC-H orders hold at most 7
  lines. A pipeline with unbounded baskets caps k before the explode,
  the same guard as the stop-shingle cap.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Members allowed in one LSH bucket (MinHash band, SimHash chunk,
#: hyperplane table); larger buckets are boilerplate cliques.
LSH_BUCKET_CAP = 200

#: Document frequency above which a shingle is a stop shingle and leaves
#: the inverted index's pair emission (sizes still count it). True
#: near-duplicates share plenty of rare shingles, so recall holds.
STOP_SHINGLE_DF = 100


def _screen_hot_buckets(
    keyed: DataFrame, key_cols: list[str], cap: int
) -> DataFrame:
    """Drop every row of a bucket holding more than ``cap`` rows.

    A COUNT aggregate (fixed-size buffers, map-side partials: a hot key's
    rows reduce to one partial per map task) finds the over-cap keys, a
    set that only boilerplate cliques enter, and a broadcast LEFT ANTI
    join drops their rows map-side, so the hot bucket's members never
    shuffle into the list aggregate. Null-safe equality keeps a NULL-keyed
    over-cap bucket covered (a plain ``=`` anti join would pass NULL keys
    through to the collect)."""
    over = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__occ"))
        .filter(F.col("__occ") > cap)
        .select(
            *[F.col(c).alias(f"__hot{i}") for i, c in enumerate(key_cols)]
        )
    )
    cond = None
    for i, c in enumerate(key_cols):
        eq = keyed[c].eqNullSafe(F.col(f"__hot{i}"))
        cond = eq if cond is None else cond & eq
    return keyed.join(F.broadcast(over), cond, "left_anti")


def bucket_lists(
    keyed: DataFrame,
    key_cols: list[str],
    cap: int,
    lists: dict[str, Column],
    sort: bool = True,
) -> DataFrame:
    """One row per bucket of at most ``cap`` rows: the key columns plus,
    for each ``lists`` entry, the ``collect_list`` of that member
    expression (NULLs skipped), sorted when ``sort`` is set. Over-cap
    buckets are screened out first; the ``cnt <= cap`` filter that
    mirrors the oracle is then a no-op kept as the stated rule."""
    def collect(c: Column) -> Column:
        return F.array_sort(F.collect_list(c)) if sort else F.collect_list(c)

    return (
        _screen_hot_buckets(keyed, key_cols, cap)
        .groupBy(*key_cols)
        .agg(
            *[collect(c).alias(name) for name, c in lists.items()],
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") <= cap)
        .drop("cnt")
    )


def bucket_members(
    keyed: DataFrame, key_cols: list[str], member: str, cap: int
) -> DataFrame:
    """The key columns plus ``members``, the sorted non-NULL ``member``
    values of each bucket of at most ``cap`` rows."""
    return bucket_lists(keyed, key_cols, cap, {"members": F.col(member)})


def banded_pairs(
    keyed: DataFrame, key_cols: list[str], member: str, names: tuple[str, str]
) -> DataFrame:
    """The distinct member pairs ``names[0] < names[1]`` that share a
    bucket (``key_cols``: band index and band key) of at most
    LSH_BUCKET_CAP rows. A pair colliding in several bands comes out
    once, and a member repeated in one bucket gives no self pair."""
    a, b = names
    return (
        bucket_members(keyed, key_cols, member, LSH_BUCKET_CAP)
        .select(sorted_pairs("members").alias("p"))
        .filter(F.col("p.a") < F.col("p.b"))
        .select(F.col("p.a").alias(a), F.col("p.b").alias(b))
        .distinct()
    )


def scored_banded_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    member: str,
    payload: str,
    names: tuple[str, str, str],
    score: Callable[[Column, Column], Column],
    floor: float,
) -> DataFrame:
    """The distinct ``(names[0], names[1], names[2])`` rows of member
    pairs ``names[0] < names[1]`` that share a bucket (``key_cols``) of at
    most LSH_BUCKET_CAP rows and whose ``score`` of the two ``payload``
    values is at least ``floor``: :func:`banded_pairs`' pair set, scored.

    Each member rides in its bucket list with its payload, so the score
    is computed in-row, before the distinct, with no join back. The list
    entry is NULL for a NULL member: ``collect_list`` skips it while the
    cap still counts its row. Lists are not sorted; each pair is oriented
    by member, so ``score`` must be symmetric."""
    a, b, s = names
    m = F.col(member)
    entry = F.when(
        m.isNotNull(), F.struct(m.alias("m"), F.col(payload).alias("v"))
    )
    x, y = F.col("p.a.m"), F.col("p.b.m")
    return (
        bucket_lists(
            keyed, key_cols, LSH_BUCKET_CAP, {"members": entry}, sort=False
        )
        .select(sorted_pairs("members").alias("p"))
        .filter(x != y)
        .select(
            F.least(x, y).alias(a),
            F.greatest(x, y).alias(b),
            score(F.col("p.a.v"), F.col("p.b.v")).alias(s),
        )
        .filter(F.col(s) >= floor)
        .distinct()
    )


def sorted_pairs(arr: str) -> Column:
    """Explode array column ``arr`` into one ``struct(a, b)`` per element
    pair with ``a`` before ``b``: on a sorted list, every ``a < b`` pair
    (and ``a == b`` pairs of repeated members)."""
    return F.explode(
        F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + F.lit(2), F.size(arr)),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )


def cross_pairs(xs: str, ys: str) -> Column:
    """Explode array columns ``xs`` and ``ys`` into one ``struct(a, b)``
    per element of their cross product, ``a`` from ``xs``."""
    return F.explode(
        F.flatten(
            F.transform(
                xs,
                lambda x: F.transform(
                    ys, lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        )
    )


def basket_pairs(li: DataFrame, min_orders: int) -> DataFrame:
    """``(part_a, part_b, n_orders)``: part pairs ``part_a < part_b`` that
    share at least ``min_orders`` orders of lineitem frame ``li``.

    Each order collapses to its sorted distinct part set (``collect_set``
    combines map-side, one exchange on the order key) and pairs come out
    in-row, then one exchange counts them: the ``l_orderkey`` self-join's
    pair set, since ``collect_set`` drops NULL parts as ``<`` does and
    NULL order keys, which join to nothing, are filtered out."""
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    return (
        baskets.select(sorted_pairs("ps").alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= min_orders)
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------


def duck_banded_pairs(
    rel: str, member: str, keys: list[str], names: tuple[str, str]
) -> str:
    """The oracle side of :func:`banded_pairs` over relation ``rel``, one
    row per member with one key expression per band (``keys``): an
    ``occ{i}`` CTE of the band's keys held by at most LSH_BUCKET_CAP rows,
    then ``cand``, the UNION of the per-band self-joins on ``<``. Splice
    sites continue the WITH list and join payload back by member."""
    a, b = names
    occ = ",\n".join(
        f"""    occ{i} AS (
        SELECT {k} AS k FROM {rel} GROUP BY 1
        HAVING COUNT(*) <= {LSH_BUCKET_CAP}
    )"""
        for i, k in enumerate(keys)
    )
    cand = "\n        UNION\n".join(
        f"""        SELECT x.{member} AS {a}, y.{member} AS {b}
        FROM {rel} x JOIN {rel} y
          ON x.{k} IS NOT DISTINCT FROM y.{k} AND x.{member} < y.{member}
        JOIN occ{i} ON x.{k} IS NOT DISTINCT FROM occ{i}.k"""
        for i, k in enumerate(keys)
    )
    return f"{occ},\n    cand AS (\n{cand}\n    )"


def duck_basket_pairs(min_orders: int) -> str:
    """The oracle side of :func:`basket_pairs`, as a parenthesized
    ``(part_a, part_b, n_orders)`` subquery: the ``l_orderkey`` self-join
    of the distinct (order, part) lines."""
    return f"""(
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {min_orders}
    )"""
