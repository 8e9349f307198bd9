"""Vector rules: how an embedding is read, compared, guarded, bucketed and
fitted.

The similarity-search and embedding queries (cosine top-k, the SRP LSH
pairs, embedding dedup, IVF ANN, the kNN graph, the multimodal norm, PCA,
whitening, k-means, pooling and quantization) build on these rules, and so
do their DuckDB oracles. Each rule is stated once per engine, the DuckDB
twin beside its Spark half.

- Read: ``embedding`` widens to ``array<double>`` (``DOUBLE[]``) before
  any math, so both engines fold the same doubles.
- Dot, cosine, L2: a sequential in-order fold of correctly rounded IEEE
  ops on both sides (the HOF ``aggregate`` over ``zip_with`` against
  ``list_inner_product`` / ``list_distance``), so the results are
  bit-equal across engines. NaN and ±Inf components propagate, and a
  NULL vector gives NULL. A NULL component or two lengths that differ
  are outside the contract: DuckDB raises on both.
- Cosine is rounded to 4 dp and divides once with ``F.try_divide``: a
  zero vector's cosine is NULL, as DuckDB's division by zero gives, where
  ANSI ``/`` raises ``DIVIDE_BY_ZERO``. A pair with a non-finite vector
  has no cosine either: its fold is always NaN (``Inf·0``, ``Inf/Inf``),
  and both engines map a NaN cosine to NULL, so it sorts with the NULLs
  instead of above every number. Callers that carry each vector's norm²
  pass it in, so a self-dot is computed once per vector, not once per
  pair.
- Finite guard: a component is finite unless NaN or ±Inf; a NULL
  component or vector is not (the filter drops it in both engines). A
  vector with a non-finite component has no geometry: the moment and
  centroid queries exclude it on both sides.
- SRP bucket: bit ``i`` is set where the dot with hyperplane ``i`` is
  >= 0. The hyperplanes are bound as literal doubles in both engines
  (``repr`` round-trips them), so signs and buckets are bit-equal and the
  SRP queries carry a full value-hash oracle.
- Moment fit: each Arrow batch reduces to ``(n, Σx, ΣxxT)``, and one
  task merges the partials into the mean and the covariance. The
  eigensolve downstream has no DuckDB twin; its queries emit invariants.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_parquet_convertor_spark.sources.io import spread

_INF = float("inf")


def embedding(name: str = "e") -> Column:
    """The ``embedding`` column as ``array<double>``, named ``name``."""
    return F.col("embedding").cast("array<double>").alias(name)


def duck_embedding(rel: str = "") -> str:
    """Twin of :func:`embedding`, of relation ``rel`` if one is given."""
    return f"CAST({rel + '.' if rel else ''}embedding AS DOUBLE[])"


def dot(a, b) -> Column:
    """Dot product of two array columns, folded in order. The vectors
    must have equal lengths and no NULL component: DuckDB's twin raises
    on either."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def duck_dot(a: str, b: str) -> str:
    """Twin of :func:`dot`."""
    return f"list_inner_product({a}, {b})"


def cosine(a, b, n2a, n2b) -> Column:
    """4-dp cosine of array columns ``a`` and ``b``, whose norm² are
    ``n2a`` and ``n2b``; NULL where either vector is zero or not finite."""
    c = F.try_divide(dot(a, b), F.sqrt(n2a) * F.sqrt(n2b))
    return F.round(F.nanvl(c, F.lit(None).cast("double")), 4)


def duck_cosine(a: str, b: str) -> str:
    """Twin of :func:`cosine`, the norms computed in place. DuckDB, like
    Spark, compares NaN equal to NaN, so ``nullif`` drops it."""
    return (
        f"round(nullif({duck_dot(a, b)}"
        f" / (sqrt({duck_dot(a, a)}) * sqrt({duck_dot(b, b)})),"
        " 'NaN'::DOUBLE), 4)"
    )


def l2(a, b) -> Column:
    """Euclidean distance of two array columns, under :func:`dot`'s
    contract."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def duck_l2(a: str, b: str) -> str:
    """Twin of :func:`l2`."""
    return f"list_distance({a}, {b})"


def finite(x: Column) -> Column:
    """True where the double ``x`` is neither NaN nor ±Inf."""
    return ~F.isnan(x) & (x > F.lit(-_INF)) & (x < F.lit(_INF))


def finite_vec(col) -> Column:
    """True where every component of array column ``col`` is finite."""
    return F.forall(col, finite)


#: twin of :func:`finite_vec` as a filter on ``embedding``: NULL lambda
#: results are spelled out, where Spark's ``forall`` yields NULL
DUCK_FINITE_VEC = (
    f"embedding IS NOT NULL AND len(list_filter({duck_embedding()}, "
    "x -> NOT isfinite(x) OR x IS NULL)) = 0"
)


#: Deterministic Gaussian hyperplanes (fixed seed 42), one per row, for
#: 64-dim embeddings: q_sim_pairs_lsh reads rows 0-5, q_dedup_embed's
#: table t rows 8t to 8t+7.
SRP_PLANES = np.random.default_rng(42).standard_normal((32, 64))


def srp_bucket(col: str, planes) -> Column:
    """BIGINT bucket key of array column ``col``: bit i is set where its
    dot with ``planes[i]`` is >= 0."""
    bits = [
        F.when(
            dot(col, F.array(*[F.lit(float(v)) for v in p])) >= 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0))
        for i, p in enumerate(planes)
    ]
    return sum(bits[1:], bits[0]).cast("bigint")


def _plane_sql(plane) -> str:
    """One hyperplane as a DuckDB DOUBLE[] literal."""
    return "[" + ", ".join(repr(float(v)) for v in plane) + "]"


def srp_bucket_sql(planes) -> str:
    """Twin of :func:`srp_bucket` over the DuckDB column ``e``."""
    return "\n             + ".join(
        f"(CASE WHEN {duck_dot('e', _plane_sql(p))} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def moment_partials(emb: DataFrame) -> DataFrame:
    """``(n, s, g)``: per-Arrow-batch ``(n, Σx, ΣxxT)`` of the
    ``array<double>`` column ``embedding`` of ``emb``, ``g`` row-major. One
    numpy matmul per batch, ~(8 + 8d + 8d²) bytes out per batch; no raw
    vector shuffles, and the partials merge in any order."""

    def partials(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [m.shape[0]],
                    "s": [m.sum(axis=0).tolist()],
                    "g": [(m.T @ m).ravel().tolist()],
                }
            )

    return spread(emb).mapInPandas(
        partials, "n long, s array<double>, g array<double>"
    )


def moment_fit(emb: DataFrame, d: int, emit, schema: str) -> DataFrame:
    """Merge the :func:`moment_partials` of ``emb`` in one task into
    ``(n, mean, covariance)`` and return the rows of ``emit(n, mean, cov)``,
    a generator of pandas frames of ``schema``; no rows when ``emb`` holds
    no vector. The merge is a closure, so the workers unpickle it by value
    and need not import this package."""

    def merge(it):
        n, s, g = 0, np.zeros(d), np.zeros((d, d))
        for pdf in it:
            for _, row in pdf.iterrows():
                n += int(row["n"])
                s += np.asarray(row["s"])
                g += np.asarray(row["g"]).reshape(d, d)
        if n == 0:
            return
        mean = s / n
        yield from emit(n, mean, g / n - np.outer(mean, mean))

    return moment_partials(emb).repartition(1).mapInPandas(merge, schema)
