"""Invariant tests for the extended pipeline operators (dedup family).

The dedup methods are independent estimators of the same ground truth, so
they cross-validate each other: strong exact-Jaccard near-dups must be
found by the MinHash-LSH screen; embedding near-dup pairs must genuinely
have the cosine they claim; exact dedup must be idempotent.
"""

from __future__ import annotations

import pytest

from json_parquet_convertor_spark import registry

registry.load_all()


def _pairs(df, a="doc_a", b="doc_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_exact_dedup_idempotent(spark, sf_dir):
    out1 = registry.QUERIES["q_dedup_exact"](spark, sf_dir)
    n1 = out1.count()
    # dedup of the deduped text column changes nothing
    n2 = out1.dropDuplicates(["text"]).count()
    assert n1 == n2


def test_minhash_finds_strong_near_dups(spark, sf_dir):
    """Every pair with exact n-gram Jaccard >= 0.7 must be surfaced by the
    MinHash-LSH screen (est_jaccard >= 0.5 output). Deterministic: fixed
    hash seeds, fixed data."""
    exact = registry.QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir)
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in exact.filter("jaccard >= 0.7").collect()
    }
    screened = _pairs(registry.QUERIES["q_dedup_near"](spark, sf_dir))
    missed = strong - screened
    assert not missed, f"MinHash screen missed strong near-dups: {missed}"


def test_simhash_banding_is_exact(spark, sf_dir):
    """The 8x8-bit banded search must return EXACTLY the pairs within
    Hamming distance 7 — guaranteed by pigeonhole (a pair differing in <= 7
    bits agrees on >= 1 of the 8 chunks). Verified against a brute-force
    O(n^2) recomputation over the collected fingerprints (test-only; the
    query itself never does all-pairs)."""
    from json_parquet_convertor_spark.operators.pipeline import (
        _simhash_chunks,
    )
    from json_parquet_convertor_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fps = {
        r["doc_id"]: list(r["ch"]) for r in _simhash_chunks(docs).collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(
            bin(x ^ y).count("1") for x, y in zip(fps[a], fps[b])
        ) <= 7
    }
    banded = _pairs(registry.QUERIES["q_dedup_simhash"](spark, sf_dir))
    assert banded == brute


def test_simhash_overlaps_strong_near_dups(spark, sf_dir):
    """SimHash (TF-cosine) and exact n-gram Jaccard are different
    similarity measures, but on real near-duplicates they must mostly
    agree: >= 70% of strong Jaccard pairs within simhash's reach."""
    exact = registry.QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir)
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in exact.filter("jaccard >= 0.7").collect()
    }
    if not strong:
        pytest.skip("no strong near-dups at this scale factor")
    sim = _pairs(registry.QUERIES["q_dedup_simhash"](spark, sf_dir))
    recall = len(strong & sim) / len(strong)
    assert recall >= 0.7, f"simhash recall on strong near-dups: {recall:.2f}"


def test_embed_pairs_cosine_verified(spark, sf_dir):
    """q_dedup_embed's output claims cos >= 0.35 — recompute independently
    with numpy on the collected vectors."""
    import numpy as np

    pairs = registry.QUERIES["q_dedup_embed"](spark, sf_dir).collect()
    if not pairs:
        pytest.skip("no embed near-dup pairs at this scale factor")
    from json_parquet_convertor_spark.sources.io import load_table

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    for r in pairs:
        a, b = emb[r["vec_a"]], emb[r["vec_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert cos >= 0.35 - 1e-9
        assert abs(round(cos, 4) - r["cos_sim"]) < 1e-9


def test_dedup_cluster_labels_are_consistent(spark, sf_dir):
    """Component labeling invariants: every pair's endpoints share one
    canonical id; each canon_id is a member that maps to itself; labels
    never exceed the member's own id (canon = component min)."""
    labels = {
        r["doc_id"]: r["canon_id"]
        for r in registry.QUERIES["q_dedup_cluster"](spark, sf_dir).collect()
    }
    assert labels, "no near-dup clusters at this scale factor"
    for doc, canon in labels.items():
        assert canon <= doc
        assert labels[canon] == canon  # canonical doc maps to itself
    for a, b in _pairs(
        registry.QUERIES["q_dedup_ngram_jaccard"](spark, sf_dir), "doc_a", "doc_b"
    ):
        assert labels[a] == labels[b], (a, b)


def test_embed_pca_matches_numpy(spark, sf_dir):
    """The distributed (n, Σx, ΣxxT) reduction must produce the same top
    eigenvalues as a full-data numpy PCA — verifies the partial-merge
    algebra and the covariance assembly, not the eigensolver. The
    promoted r13 driver contract emits only invariant flags, so the twin
    merges the moment partials itself for the raw-eigenvalue compare and
    asserts the emitted flags on top."""
    import numpy as np

    from json_parquet_convertor_spark.operators.vectors import moment_partials
    from json_parquet_convertor_spark.sources.io import load_table

    out = registry.QUERIES["q_embed_pca"](spark, sf_dir).collect()
    rows = sorted(out, key=lambda r: r["component"])
    assert [r["component"] for r in rows] == list(range(1, 9))

    m = np.vstack(
        [
            np.asarray(r["embedding"], dtype="float64")
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    for r in rows:
        assert r["n_vectors"] == len(m), r
        assert r["evals_nonincreasing"] == 1, r
        assert r["share_in_range"] == 1, r
        assert r["cum_le_one"] == 1, r
        assert r["eigsum_matches_trace"] == 1, r

    # raw-eigenvalue check: merge the distributed partials by hand and
    # compare against the full-data numpy covariance eigensolve
    d = 64
    n_tot, s_tot, g_tot = 0, np.zeros(d), np.zeros((d, d))
    for p in moment_partials(
        load_table(spark, sf_dir, "embeddings").select("embedding")
    ).collect():
        n_tot += int(p["n"])
        s_tot += np.asarray(p["s"])
        g_tot += np.asarray(p["g"]).reshape(d, d)
    assert n_tot == len(m)
    mean = s_tot / n_tot
    cov_dist = g_tot / n_tot - np.outer(mean, mean)
    evals_dist = np.linalg.eigh(cov_dist)[0][::-1]
    cov = np.cov(m, rowvar=False, bias=True)
    evals = np.linalg.eigh(cov)[0][::-1]
    np.testing.assert_allclose(evals_dist[:8], evals[:8], rtol=1e-5, atol=1e-6)


def test_whitened_covariance_is_identity(spark, sf_dir):
    """q_embed_whiten's fit stage must produce a transform under which the
    data's covariance is the identity — verified by applying the same
    fit math locally and checking Cov(z) ≈ I, plus the query's own
    mean-squared-norm ≈ d invariant."""
    import numpy as np

    from json_parquet_convertor_spark.sources.io import load_table

    rows = registry.QUERIES["q_embed_whiten"](spark, sf_dir).collect()
    m = np.vstack(
        [
            np.asarray(r["embedding"], dtype="float64")
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ]
    )
    d = m.shape[1]
    mu = m.mean(axis=0)
    cov = np.cov(m, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    # mirror the engine's RELATIVE eigenvalue floor (rcond-style, r13)
    eps = max(1e-12, 1e-9 * float(np.abs(evals).max(initial=0.0)))
    w = (evecs / np.sqrt(np.maximum(evals, eps))).T
    z = (m - mu) @ w.T
    # whitening gives IDENTITY covariance only in the non-degenerate
    # directions: an eigenvalue at ~0 (rank-deficient data — the r12 10x
    # generated probe's sin-family embeddings are near rank-2) is clamped
    # by the fit, so its direction keeps ~0 variance instead of 1. Assert
    # I on the whitened subspace; ~0 elsewhere.
    live = evals > evals.max() * 1e-9
    zcov = np.cov(z, rowvar=False, bias=True)
    np.testing.assert_allclose(
        zcov[np.ix_(live, live)], np.eye(int(live.sum())), atol=1e-8
    )
    # degenerate directions: float32-storage noise amplified by the
    # clamp's 1e6 scale can reach ~2e-3 — assert they stay far below the
    # unit variance of a whitened direction, not at literal zero
    assert float(np.abs(zcov[~live][:, ~live]).max(initial=0.0)) < 0.05
    # global mean squared norm = trace of the whitened covariance = the
    # EFFECTIVE rank (d exactly when full-rank)
    expected = float(np.trace(zcov))
    global_msn = float((z * z).sum(axis=1).mean())
    assert abs(global_msn - expected) < 1e-6
    assert expected > 0.5
    # the promoted r13 driver contract: per-label exact counts plus the
    # trace-identity flag — re-derive the label counts independently
    from collections import Counter

    labels = Counter(
        r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("label")
        .collect()
    )
    assert {r["label"]: r["n_vectors"] for r in rows} == dict(labels)
    for r in rows:
        assert r["whiten_identity_ok"] == 1, r


def test_incremental_dedup_agrees_with_full_pass(spark, sf_dir):
    """Every best-match the incremental screen reports must appear in the
    full-corpus exact-Jaccard pass with the identical score (the
    incremental pass is a restriction of the full pass to cross-boundary
    pairs, not a different estimator)."""
    full = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"])): r[
            "jaccard"
        ]
        for r in registry.QUERIES["q_dedup_ngram_jaccard"](
            spark, sf_dir
        ).collect()
    }
    inc = registry.QUERIES["q_dedup_incremental"](spark, sf_dir).collect()
    assert inc, "no incremental matches at this scale factor"
    for r in inc:
        key = (
            min(r["new_doc"], r["corpus_doc"]),
            max(r["new_doc"], r["corpus_doc"]),
        )
        assert key in full, key
        assert abs(full[key] - r["jaccard"]) < 1e-9, (key, r)
        assert r["new_doc"] % 5 == 0 and r["corpus_doc"] % 5 != 0


def test_kmeans_matches_numpy_reference(spark, sf_dir):
    """q_embed_kmeans's distributed Lloyd iterations must reproduce a
    from-scratch numpy k-means with the same deterministic init (lowest
    vec_ids), iteration count, and lowest-id tie-break — member counts
    exactly, per-cluster inertia to float tolerance. The promoted r13
    driver contract emits only invariant flags, so the twin pulls the raw
    model via _kmeans_model and asserts the emitted flags on top."""
    import numpy as np

    from json_parquet_convertor_spark.operators.pipeline import _kmeans_model
    from json_parquet_convertor_spark.sources.io import load_table

    emitted = registry.QUERIES["q_embed_kmeans"](spark, sf_dir).collect()
    model = _kmeans_model(spark, sf_dir)
    assert model is not None
    assert len(emitted) == model["k"]
    for r in emitted:
        assert r["n_vectors"] == model["n_vectors"], r
        assert r["inertia_monotone"] == 1, r
        assert r["assignment_complete"] == 1, r
    out = {
        ci: (
            model["sizes"].get(ci, 0),
            model["cluster_inertia"].get(ci, 0.0),
        )
        for ci in range(model["k"])
    }
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    m = np.vstack([np.asarray(r["embedding"], dtype="float64") for r in rows])
    k, iters = 8, 3
    cent = m[:k].copy()
    for _ in range(iters):
        d2 = (
            (m * m).sum(axis=1)[:, None]
            - 2.0 * (m @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        a = d2.argmin(axis=1)
        for ci in range(k):
            sel = m[a == ci]
            if len(sel):
                cent[ci] = sel.mean(axis=0)
    d2 = (
        (m * m).sum(axis=1)[:, None]
        - 2.0 * (m @ cent.T)
        + (cent * cent).sum(axis=1)[None, :]
    )
    a = d2.argmin(axis=1)
    for ci in range(k):
        sel = d2[a == ci, ci]
        assert out[ci][0] == len(sel), (ci, out[ci][0], len(sel))
        if len(sel):
            # per-cluster total inertia (the model dict carries sums)
            assert abs(out[ci][1] - float(sel.sum())) <= 1e-6 * max(
                1.0, float(sel.sum())
            ), ci


def test_multimodal_decode_independent_of_media_libs(spark, sf_dir):
    """The decode stub must be environment-independent: installing a real
    media library (PIL etc.) on the executors must not change — or break —
    the query (round-4 VERDICT flagged the old import-gated branch that
    raised NotImplementedError when PIL WAS importable). Guarded two ways:
    the UDF source no longer references PIL at all, and the fake features
    match a local recomputation byte-for-byte."""
    import hashlib
    import inspect

    from json_parquet_convertor_spark.operators import pipeline as mod

    src = inspect.getsource(mod.q_multimodal_decode)
    assert "PIL" not in src.replace("PIL/ffmpeg", "")  # docstring mention ok
    assert "NotImplementedError" not in src

    out = {
        r.doc_id: (r.n_bytes, r.checksum, r.fake_width, r.fake_height)
        for r in registry.QUERIES["q_multimodal_decode"](
            spark, sf_dir
        ).collect()
    }
    docs = (
        registry.QUERIES["q_scan_parquet"].__globals__["load_table"](
            spark, sf_dir, "documents"
        )
        .select("doc_id", "text")
        .collect()
    )
    assert len(out) == len(docs) > 0
    for r in docs:
        b = r.text.encode("utf-8")
        assert out[r.doc_id] == (
            len(b),
            hashlib.md5(b).hexdigest(),
            len(b) % 640,
            (len(b) * 7) % 480,
        )


def test_sim_pairs_lsh_cosines_buckets_and_order_verified(spark, sf_dir):
    """q_sim_pairs_lsh's invariant twin (r12: the one rows-only query
    without one). LSH recall is probabilistic by design, so the twin pins
    what IS deterministic: every returned pair's cos_sim equals a numpy
    recomputation on the raw vectors, both members really hash to the
    same SRP bucket under the fixed seeded hyperplanes, the pair key is
    canonical (vec_a < vec_b), and the emission is the top-50 by
    (cos_sim DESC, vec_a, vec_b) over what the buckets admitted."""
    import numpy as np

    from json_parquet_convertor_spark.operators.llm import _LSH_BITS
    from json_parquet_convertor_spark.operators.vectors import SRP_PLANES
    from json_parquet_convertor_spark.sources.io import load_table

    rows = registry.QUERIES["q_sim_pairs_lsh"](spark, sf_dir).collect()
    if not rows:
        pytest.skip("no co-bucketed pairs at this scale factor")
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    planes = SRP_PLANES[:_LSH_BITS]

    def bucket(v):
        bits = (planes @ v >= 0).astype(int)
        return int(sum(b << i for i, b in enumerate(bits)))

    seen = set()
    for r in rows:
        assert r["vec_a"] < r["vec_b"]
        assert (r["vec_a"], r["vec_b"]) not in seen
        seen.add((r["vec_a"], r["vec_b"]))
        a, b = emb[r["vec_a"]], emb[r["vec_b"]]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(round(cos, 4) - r["cos_sim"]) < 1e-9
        assert bucket(a) == bucket(b)
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_bucket_pairs_match_brute_force(spark):
    """operators/buckets on a hand-built frame: a bucket one row over the
    cap, a NULL-keyed over-cap bucket, NULL members (which count towards
    the cap but never pair), and one member in several buckets. The
    emitted pairs equal brute-force i<j pairs over the sorted non-NULL
    members of every bucket of at most ``cap`` rows, and the screen drops
    exactly the over-cap buckets' rows, NULL key included."""
    from collections import Counter, defaultdict

    from json_parquet_convertor_spark.operators.buckets import (
        _screen_hot_buckets,
        bucket_members,
        sorted_pairs,
    )

    cap = 4
    rows = (
        [(1, 0, m) for m in range(cap + 1)]
        + [(None, 0, m) for m in range(10, 12 + cap)]
        + [(2, 0, 7), (2, 0, None), (2, 0, 3)]
        + [(3, 0, 7), (3, 0, 1)]
        + [(None, 1, 8), (None, 1, 7)]
        + [(4, 0, 9), (4, 0, 2), (4, 0, None), (4, 0, None)]
        + [(5, 0, 9), (5, 0, 2), (5, 0, 4), (5, 0, None), (5, 0, None)]
    )
    keyed = spark.createDataFrame(rows, "k1 int, k2 int, m long")
    got = Counter(
        (r.p.a, r.p.b)
        for r in bucket_members(keyed, ["k1", "k2"], "m", cap)
        .select(sorted_pairs("members").alias("p"))
        .collect()
    )
    buckets = defaultdict(list)
    for k1, k2, m in rows:
        buckets[(k1, k2)].append(m)
    small = {k for k, ms in buckets.items() if len(ms) <= cap}
    want = Counter()
    for k in small:
        ms = sorted(m for m in buckets[k] if m is not None)
        want.update(
            (ms[i], ms[j])
            for i in range(len(ms))
            for j in range(i + 1, len(ms))
        )
    assert got == want and (7, 8) in got and (3, 7) in got
    screened = _screen_hot_buckets(keyed, ["k1", "k2"], cap).collect()
    assert {(r.k1, r.k2) for r in screened} == small
