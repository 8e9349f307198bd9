"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real implementations live in ``json_parquet_convertor_spark/``; this
module only adapts the package registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from json_parquet_convertor_spark import registry, verify_order  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 shape, SURVEY.md §2 q_agg_groupby) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return registry.QUERIES["q_agg_groupby"](spark, "/root/testdata/sf0.001")


# Verification priority: the driver walks this dict in order under a budget
# (round 2 checked exactly the first 50 registry entries), so queries that
# have never received a driver CORRECTNESS row come first, then queries whose
# implementation changed after their last driver check, then the rest
# (stalest driver check first, cheapest first within a tier).
#
# The order is COMPUTED AT IMPORT TIME from the CORRECTNESS_r*.json /
# BENCH_FULL*.json artifacts in the repo root (see verify_order.py) — round 7
# showed a hand-rotated static list silently wastes a driver sampling round
# when the rotation is skipped.  The only human-maintained input is the
# changed block below: queries whose implementation or oracle changed this
# round after their last driver check, so the driver re-confirms them.
_CHANGED_THIS_ROUND: list[str] = [
    # The conversions now read back under the written schema (no inference
    # job) and the per-file write lost its repartition:
    "q_convert_json_parquet",
    # The stateful streams' shard count is capped at defaultParallelism
    # (same rows; fewer state-store shards on hosts with under 8 slots):
    "q_stream_watermark",
    "q_stream_stateful",
    "q_stream_enrich",
    "q_stream_join",
    "q_stream_foreachbatch",
    "q_stream_s3_events",
    "q_stream_quality_gate",
    # collect_set rewrite of the pair distinct, never driver-checked on the
    # rewritten implementation:
    "q_join_array_membership",
    # The MinHash family is integer (a·x + b) mod (2^31 - 1) over one md5
    # digest per shingle, and the pairs are scored inside the bucket lists
    # (rows change by design; the oracle changed in lockstep):
    "q_dedup_near",
    # The source and reader classes pickle by value (same rows):
    "q_source_custom",
    # Candidate generation moved onto operators/buckets (same plans; the
    # NULL-member guards folded into collect_list's own NULL skip):
    "q_dedup_simhash",
    "q_dedup_ngram_jaccard",
    "q_dedup_embed",
    "q_text_containment",
    "q_dedup_incremental",
    "q_graph_bfs",
    "q_pairs_copurchase",
    "q_graph_triangles",
    "q_pairs_lift",
    # df is a distinct document count again:
    "q_text_keywords",
    # Shingles come from operators/shingles.py and the SRP bucket keys from
    # one builder (q_dedup_near's shingle sequence is now 1-based; the
    # rest have the same plans):
    "q_text_fingerprint",
    "q_text_decontaminate",
    "q_dedup_cluster",
    "q_sim_pairs_lsh",
    # The round-trip copy is keyed by fixture on disk:
    "q_scan_jsonlines",
    # The write-once layouts go through sources.io.materialize, keyed on
    # the fixture's table stamps (the replay streams above do too):
    "q_join_prune_dynamic",
    "q_scan_pruned",
    "q_scan_merge_schema",
    # The id hash comes from one Spark/DuckDB pair in exact.py (the inline
    # copies are gone; the hash is an INT on both sides everywhere):
    "q_sample_weighted",
    "q_sample_temperature",
    "q_pack_sequences",
    "q_corpus_mix",
    # Term streams, term counts and document frequency come from
    # operators/terms.py (tfidf's df is now a distinct document count;
    # q_text_keywords is listed above):
    "q_text_tfidf",
    "q_rank_bm25",
    "q_text_entropy",
    "q_text_lm_score",
    "q_text_vocab",
    "q_text_zipf",
    "q_text_hapax",
    "q_agg_freq_items",
    # The salt is exact.id_hash, an INT:
    "q_join_salted",
    # The vector rules come from operators/vectors.py (a zero vector's
    # cosine is NULL; q_dedup_embed and q_sim_pairs_lsh are listed above):
    "q_sim_cosine_topk",
    "q_sim_ann_ivf",
    "q_knn_graph",
    "q_multimodal_join",
    "q_embed_pca",
    "q_embed_whiten",
    "q_embed_kmeans",
    "q_embed_pool",
    "q_embed_quantize",
]

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))

_VERIFY_PRIORITY = verify_order.compute_verify_order(
    list(registry.QUERIES), _REPO_ROOT, changed=_CHANGED_THIS_ROUND
)


def _ordered(mapping: dict) -> dict:
    """Reorder ``mapping`` by verification priority (unknown keys keep their
    registration order at the end, so new operators are never dropped)."""
    rank = {k: i for i, k in enumerate(_VERIFY_PRIORITY)}
    keys = sorted(mapping, key=lambda k: rank.get(k, len(rank)))
    return {k: mapping[k] for k in keys}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return _ordered(registry.ORACLES)
