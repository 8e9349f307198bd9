"""Regression pin for the round-5 adversarial-fixture findings.

Six full 286-query sweeps on generated data (scripts/gen_fixtures.py:
new seed/skew/NDVs, fractional-second timestamps, --nulls, --unicode,
tiny scale, alternate timezones/parallelism) exposed 11 oracle pairs whose
Spark/DuckDB agreement silently depended on the driver fixtures' shape:
day-number flooring, NULL sort placement, min_by-vs-arg_min NULL handling,
concat-vs-|| propagation, to_json null-field emission, character-vs-byte
slicing, and 1-ulp round(x, 4) boundaries.

This module regenerates a TINY (sf0.001) nulls+unicode fixture set in tmp
and re-runs the DuckDB differential for exactly those historically-affected
queries, so none of the fixes can silently regress in CI without waiting
for the next manual sweep. Full-registry generated sweeps remain the
out-of-band job: JPC_SF_DIR=<gen dir> python scripts/drive_entry.py.
"""

from __future__ import annotations

import os
import sys

import pytest

from json_parquet_convertor_spark import registry

registry.load_all()

# every query a generated-fixture sweep has ever caught, plus its family
# neighbors that share the fixed idiom
AFFECTED = [
    "q_rfm_segment",          # floor(epoch/86400) vs //-on-double rounding
    "q_fn_date",              # floor(epoch) vs rounding BIGINT cast
    "q_sample_temperature",   # floored hash threshold
    "q_sort_multi",           # pinned NULLS FIRST on ASC key
    "q_win_distribution",     # pinned NULLS FIRST in window order
    "q_stats_auc",            # NULL observations excluded from ranks
    "q_stats_ks",
    "q_stats_mannwhitney",
    "q_agg_ohlc",             # NULL ticks excluded (min_by vs arg_min)
    "q_fn_json",              # to_json null-field emission guard
    "q_fn_url",               # whole-URL NULL propagation mirror
    "q_multimodal_frames",    # byte-exact hex-based frame signatures
    "q_text_quality",         # exact integer-rational 4-dp quantization
    # truncation-not-decimal-cast component quantization; the tie component
    # that exposed it lives at a vec_id only present at sf>=0.1, so this
    # tiny-sf run pins the formula's cross-engine equivalence, not the tie
    "q_embed_pool",
    # r6 NULL-l_quantity sweep: the pandas UDAF must mask NaN like SQL SUM
    # skips NULLs, not propagate it; r7 verdict #2: the two sums mask
    # INDEPENDENTLY (--nulls now NULLs l_extendedprice on its own salt, so
    # the price-NULL/qty-present rows this differential needs exist here)
    "q_udaf_pandas",
    # r8 price-NULL sweep: NULL price/qty rows excluded — a NULL price
    # GROUP sorts NULLS-FIRST into Spark's cumulative window, NULLS-LAST
    # into DuckDB's, shifting the weighted median
    "q_agg_weighted_median",
    # r6: NULL quantities route to the quarantine sink (null-closed rule)
    "q_stream_quality_gate",
    # r6 gen-sf1.0 sweep: sum_charge's scale-6 decimal numerator crosses
    # 2^53 and DuckDB's direct decimal→double double-rounds; the oracle
    # routes through VARCHAR. This tiny-sf run pins the routed oracle's
    # equivalence; the 2^53 crossing itself only reproduces at sf1.0
    "q_agg_groupby",
    # r6 gen-sf1.0 sweep, same 2^53 class at scale 8 ((18,4) x (5,4)):
    # the shared view SELECT routes its final cast through STRING
    "q_sql_view",
    # r11 gen-sf1.0 composed sweep, same 2^53 class at scale 6
    # ((18,4) x (4,2) weighted sum): oracle cast routed through VARCHAR;
    # this tiny-sf run pins the routed oracle's equivalence — the 2^53
    # crossing itself only reproduces at sf1.0 volumes
    "q_join_salted",
    # r6 gen-sf1.0 oracle-feasibility rewrites (engine plans unchanged):
    # name-space closure, bucketed packed argmax, union-merge nearest,
    # native ASOF version lookup — pin the rewritten oracles' equivalence
    "q_er_pipeline",
    "q_join_asof",
    "q_join_nearest",
    "q_join_point_in_time",
    # r12 --unicode case-fold traps ('srcß3' sources; ß/ﬁ/İ vocabulary):
    # JVM FULL case mapping (upper('ß')='SS', length-changing) vs
    # DuckDB's SIMPLE 1:1 mapping ('ẞ') diverges at any upper()/lower()
    # over adversarial text, and java.net.URI NULLs a non-ASCII HOST
    # where a regexp oracle extracts it. Contract: key normalization
    # folds ASCII-only (translate a-z↔A-Z, both engines); the oracle
    # mirrors URI's non-ASCII-host rejection component-locally. q_fn_url
    # (already pinned above) caught the host-NULL half; this query
    # caught both halves (upper(source) synthesis + lower(host) fold).
    "q_text_dedup_url",
]


@pytest.fixture(scope="module")
def gen_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_gnarly")
    build(spark, dst, 0.001, nulls=True, unicode_text=True)
    return dst


@pytest.fixture(scope="module")
def gen_duck(gen_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(gen_dir, f"{t}.parquet")
        if os.path.isdir(p):  # Spark-written table = dir of part files
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", AFFECTED)
def test_affected_queries_match_on_adversarial_fixtures(
    spark, gen_duck, gen_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, gen_duck, registry.QUERIES[name], registry.ORACLES[name],
        gen_dir,
    )
    assert ok, f"{name}: {detail}"


# r6 --dupes sweep: tie-DENSE value pools (48 distinct event instants,
# tiny price/date pools, exact-dup docs/vectors) caught two oracle pairs
# whose agreement silently required value uniqueness: q_agg_ohlc (DuckDB
# arg_min/arg_max compares DECIMAL(38,0) keys approximately — now a
# HUGEINT key) and q_stream_session (the gap-and-island rewrite's two
# window passes ordered tied timestamps independently — now a total
# (ts, event_id) order). The other two are the tie-sensitive argmax
# joins, pinned here under tie density as regression insurance.
TIE_SENSITIVE = [
    "q_agg_ohlc",
    "q_stream_session",
    "q_join_asof",
    "q_join_nearest",
]


@pytest.fixture(scope="module")
def dupes_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_dupes")
    build(spark, dst, 0.001, dupes=True)
    return dst


@pytest.fixture(scope="module")
def dupes_duck(dupes_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dupes_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", TIE_SENSITIVE)
def test_tie_sensitive_queries_match_on_dupes_fixture(
    spark, dupes_duck, dupes_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, dupes_duck, registry.QUERIES[name], registry.ORACLES[name],
        dupes_dir,
    )
    assert ok, f"{name}: {detail}"


# r8 --extreme sweep: IEEE edge values and degenerate keys (NaN/±Inf
# embedding components, zero-length / 1-token / 4000-word documents, a
# single-user events table) caught five queries. The embedding trio now
# defines non-finite semantics explicitly (pool-exclude / saturating int8
# clip / NULL norm+first_dim); weighted sampling excludes zero-weight rows
# (1/w divides by zero under ANSI); the sorted-sink file count was
# NDV-dependent (range partitioner skips empty partitions) and is now an
# engine-side bounded-count invariant. Pinned here under the same fixture
# shape as regression insurance.
EXTREME_SENSITIVE = [
    "q_embed_pool",
    "q_embed_quantize",
    "q_multimodal_join",
    "q_sample_weighted",
    "q_sink_sorted",
]


@pytest.fixture(scope="module")
def extreme_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_extreme")
    build(spark, dst, 0.001, extreme=True)
    return dst


@pytest.fixture(scope="module")
def extreme_duck(extreme_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(extreme_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", EXTREME_SENSITIVE)
def test_extreme_sensitive_queries_match_on_extreme_fixture(
    spark, extreme_duck, extreme_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, extreme_duck, registry.QUERIES[name], registry.ORACLES[name],
        extreme_dir,
    )
    assert ok, f"{name}: {detail}"


# The round-9 temporal-edge sweep (gen_fixtures.py --dates: 1902 negative
# epochs with ms fractions, the last fractional hour before epoch 0,
# instants straddling the pandas ns ceiling 2262-04-11, 2300-2304 ms-vs-s
# dirt, DST-window 2024 events) caught nine queries in four classes:
# (1) Spark unix_timestamp() TRUNCATES toward zero where the oracles'
#     floor(epoch(ts)) floors — every emitted/differenced epoch second and
#     every day/bar bucket diverged on pre-1970 fractional instants; all
#     such sites now use exact.fsec (decimal-exact floor of unix_micros).
# (2) HUGEINT-packed (ts, event_id) oracle keys decoded with DuckDB's
#     truncating // and sign-following % — garbage event_ids for negative
#     packs; the packs now shift epochs positive by 1e17 us (guarded).
# (3) span-proportional work: q_time_interpolate's global-bounds spine
#     went to 21M rows / an O(n^2) window task from two dirty timestamps
#     (now gap-capped per-user, O(obs x cap)); q_user_features' day
#     decimals overflowed DuckDB's int64 (18,4) storage (now (28,4)).
# (4) unbounded lateness: q_stream_join's watermark drops a 1902 click in
#     file-order-dependent fashion no batch oracle reproduces — its replay
#     window is now explicitly bounded on both ends, both sides;
#     q_fn_timezone's named zone (Asia/Kolkata, +5:21:10 before 1906)
#     shifted 1903 rows by the JVM's tzdb where the oracle states a fixed
#     interval — the query now uses explicit fixed offsets.
DATES_SENSITIVE = [
    "q_fn_date",
    "q_fn_timezone",
    "q_checksum_table",
    "q_scd2_history",
    "q_win_frame_range",
    "q_win_sessionize",
    "q_win_time_range",
    "q_user_features",
    "q_stream_join",
    "q_time_interpolate",
    "q_join_nearest",
    "q_join_asof",
    "q_composite_q7",
]


@pytest.fixture(scope="module")
def dates_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_dates")
    build(spark, dst, 0.001, dates=True)
    return dst


@pytest.fixture(scope="module")
def dates_duck(dates_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dates_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", DATES_SENSITIVE)
def test_dates_sensitive_queries_match_on_dates_fixture(
    spark, dates_duck, dates_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, dates_duck, registry.QUERIES[name], registry.ORACLES[name],
        dates_dir,
    )
    assert ok, f"{name}: {detail}"


def test_dates_fixture_has_the_edge_shapes(dates_duck, dates_dir):
    """The axis is only worth pinning if the shapes are actually present:
    negative fractional epochs, pre-epoch-0 fractional instants, past-ns-
    ceiling instants, and far-future dirt must each exist."""
    n_neg, n_last_hour, n_past_ns, n_future = dates_duck.execute(
        """
        SELECT (SELECT count(*) FROM events
                WHERE ts < TIMESTAMP '1970-01-01'
                  AND extract(ms FROM ts) <> 0),
               (SELECT count(*) FROM events
                WHERE ts >= TIMESTAMP '1969-12-31 23:00:00'
                  AND ts < TIMESTAMP '1970-01-01'),
               (SELECT count(*) FROM events
                WHERE ts > TIMESTAMP '2262-04-12'),
               (SELECT count(*) FROM events
                WHERE ts >= TIMESTAMP '2300-01-01')
        """
    ).fetchone()
    assert n_neg > 0 and n_last_hour > 0 and n_past_ns > 0 and n_future > 0


def test_dates_fixture_ms_quantized_in_double_danger_zone(dates_duck):
    """Every generated timestamp past 2242 carries at most MILLISECOND
    fractions.

    This is the contract exact.fsec's ORACLE twin depends on: DuckDB's
    floor(epoch(ts)) goes through DOUBLE, whose ulp reaches 1 µs around
    epoch ~9e9 s (year ~2255) and ~2.3 µs by 2300 — a .999999-second
    instant there could round onto the next second before floor. With
    fractions quantized to ≥1000 µs off the boundary, the nearest
    representable double is always on the correct side. Sub-ms fractions
    are fine in the 1995-2031 base band (ulp ~2.4e-7 s, three orders of
    magnitude inside the 1 µs minimum distance). If a future axis needs
    sub-ms fractions past 2242, switch the oracle twins to the
    integer-exact epoch_us form documented in exact.fsec's docstring —
    this test is the tripwire."""
    n_sub_ms = dates_duck.execute(
        """
        SELECT (SELECT count(*) FROM events
                WHERE ts >= TIMESTAMP '2242-01-01'
                  AND epoch_us(CAST(ts AS TIMESTAMP)) % 1000 <> 0)
             + (SELECT count(*) FROM orders
                WHERE o_orderdate >= TIMESTAMP '2242-01-01'
                  AND epoch_us(CAST(o_orderdate AS TIMESTAMP)) % 1000 <> 0)
             + (SELECT count(*) FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '2242-01-01'
                  AND epoch_us(CAST(l_shipdate AS TIMESTAMP)) % 1000 <> 0)
        """
    ).fetchone()[0]
    assert n_sub_ms == 0, (
        f"{n_sub_ms} sub-millisecond timestamps in the double danger zone"
    )


# The round-9 sign-edge sweep (gen_fixtures.py --negative: ~1/59 of each
# measure column negated — returns, credit memos, chargebacks — and ~1/101
# exactly 0.0) caught three queries, all the same class: positivity-domain
# math where Spark quietly yields NULL/NaN and DuckDB hard-ERRORS, so the
# oracle didn't even produce a comparable result. q_fn_math's sqrt/ln and
# q_udf_pandas' sqrt+ln feature now carry mirrored domain guards (NULL
# outside the domain; DuckDB CASE is lazily evaluated, so the guard also
# protects the oracle); q_stats_benford reads the first significant digit
# of the MAGNITUDE (abs before floor — '-' is not a digit) and drops
# |x| < 1 rows, which have no leading significant digit.
NEGATIVE_SENSITIVE = [
    "q_fn_math",
    "q_udf_pandas",
    "q_stats_benford",
]


@pytest.fixture(scope="module")
def negative_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_negative")
    build(spark, dst, 0.001, negative=True)
    return dst


@pytest.fixture(scope="module")
def negative_duck(negative_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(negative_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", NEGATIVE_SENSITIVE)
def test_negative_sensitive_queries_match_on_negative_fixture(
    spark, negative_duck, negative_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, negative_duck, registry.QUERIES[name], registry.ORACLES[name],
        negative_dir,
    )
    assert ok, f"{name}: {detail}"


# Round-9 COMPOSED-axes catch: q_win_rolling_median diverged only when
# --nulls and --dates combine (a dirty singleton 1902 day whose only event
# has a NULL value makes a NULL daily sum) — Spark's collect_list DROPS
# NULLs while DuckDB's list() keeps them, shifting the rolling window's
# length and middle. The oracle now list_filters NULLs and both sides
# define the all-NULL-window median as NULL. Pinned on a tiny combined
# fixture, because no single axis reproduces it.
@pytest.fixture(scope="module")
def combo_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_combo")
    build(spark, dst, 0.001, nulls=True, dates=True, negative=True)
    return dst


def test_rolling_median_matches_on_composed_axes(spark, combo_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES
    from tests.oracle_utils import compare_query

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(combo_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        ok, detail = compare_query(
            spark,
            con,
            registry.QUERIES["q_win_rolling_median"],
            registry.ORACLES["q_win_rolling_median"],
            combo_dir,
        )
        assert ok, detail
    finally:
        con.close()


# Round-10 COMPOSED-sf0.1 catches. Both corners only populate organically
# at the composed sf0.1 sweep (the sf0.01 composition passed pre-fix), so
# they are pinned on a hand-crafted micro events table instead:
# (1) q_win_drawdown — a series whose running peak is ZERO (an opening
#     all-zero/negative day, --negative x --hotkey at sf0.1) is
#     DIVIDE_BY_ZERO under ANSI Spark and Inf under DuckDB; the pct now
#     carries a mirrored peak > 0 domain guard (NULL otherwise). Without
#     the guard this test CRASHES, so it is a deterministic pin.
# (2) q_interval_merge — ~200-row (s, e) tie groups (--dupes instants x
#     --extreme single user at sf0.1) sequenced independently by the flag
#     pass and the sum pass split an island nondeterministically; both
#     passes now order by the TOTAL key (s, e, event_id) in both engines
#     (the r6 gap-and-island class). The micro table carries a 20-row tie
#     group; agreement is asserted, and the total-order text is the
#     conscious-edit tripwire.
@pytest.fixture(scope="module")
def micro_skew_dir(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    dst = str(tmp_path_factory.mktemp("genfix") / "micro_skew")
    rows = []
    # drawdown: event_type 'view', user 0 — day 0 sums to -5 (peak -5),
    # day 1 sums to 0.0 (peak exactly ZERO: the ANSI divide trigger),
    # day 2 sums to +10 (pct defined again)
    rows.append((1, "2024-01-01 10:00:00", 0, "view", -5.0))
    rows.append((2, "2024-01-02 10:00:00", 0, "view", 5.0))
    rows.append((3, "2024-01-02 11:00:00", 0, "view", -5.0))
    rows.append((4, "2024-01-03 10:00:00", 0, "view", 10.0))
    # interval merge: a 20-row exact (s, e) tie group at one instant,
    # then a disjoint later span — island boundaries must sit at tie-group
    # starts identically in both engines
    for i in range(20):
        rows.append((100 + i, "2024-02-01 00:00:00", 7, "click", 30.0))
    for i in range(20):
        rows.append((200 + i, "2024-02-01 00:10:00", 7, "click", 30.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, "
        "event_type string, value double"
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit(None).cast("string").alias("props"),
    )
    df.coalesce(1).write.parquet(os.path.join(dst, "events.parquet"))
    return dst


@pytest.mark.parametrize("name", ["q_win_drawdown", "q_interval_merge"])
def test_composed_skew_catches_on_micro_fixture(spark, micro_skew_dir, name):
    import duckdb

    from tests.oracle_utils import compare_query

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{os.path.join(micro_skew_dir, 'events.parquet', '*.parquet')}')"
        )
        ok, detail = compare_query(
            spark, con, registry.QUERIES[name], registry.ORACLES[name],
            micro_skew_dir,
        )
        assert ok, f"{name}: {detail}"
    finally:
        con.close()


def test_drawdown_zero_peak_is_null_not_error(spark, micro_skew_dir):
    """The exact r10 corner: peak == 0 rows exist and produce NULL pct
    (not DIVIDE_BY_ZERO, not Inf)."""
    rows = {
        r["day"]: r["drawdown_pct"]
        for r in registry.QUERIES["q_win_drawdown"](
            spark, micro_skew_dir
        ).collect()
        if r["event_type"] == "view"
    }
    days = sorted(rows)
    assert rows[days[0]] is None  # peak -5
    assert rows[days[1]] is None  # peak exactly 0
    assert rows[days[2]] == 0.0  # peak 10, at the peak


def test_interval_merge_passes_share_a_total_order():
    """Conscious-edit tripwire for the r10 tie-group fix: both oracle
    window passes must order by the total (s, e, event_id) key."""
    assert (
        registry.ORACLES["q_interval_merge"].count(
            "ORDER BY s, e, event_id"
        )
        == 2
    )


def test_negative_fixture_has_the_edge_shapes(negative_duck, negative_dir):
    """Negative and exact-zero values must actually be present in every
    warped measure column."""
    rows = negative_duck.execute(
        """
        SELECT (SELECT count(*) FROM part WHERE p_retailprice < 0),
               (SELECT count(*) FROM part WHERE p_retailprice = 0.0),
               (SELECT count(*) FROM orders WHERE o_totalprice < 0),
               (SELECT count(*) FROM lineitem WHERE l_quantity < 0),
               (SELECT count(*) FROM lineitem WHERE l_extendedprice < 0),
               (SELECT count(*) FROM events WHERE value < 0),
               (SELECT count(*) FROM events WHERE value = 0.0),
               -- r12: exact IEEE -0.0 (the signed-zero twin that caught
               -- q_stream_join's binary stream-state key) must be
               -- deterministically present, not an sf0.1+ accident
               (SELECT count(*) FROM events WHERE value = 0 AND signbit(value)),
               (SELECT count(*) FROM lineitem
                WHERE l_quantity = 0 AND signbit(l_quantity))
        """
    ).fetchone()
    assert all(n > 0 for n in rows), rows


def test_extreme_fixture_has_the_edge_shapes(extreme_duck, extreme_dir):
    """The axis is only worth pinning if the shapes are actually present."""
    n_empty, n_one, n_users, n_nonfinite = (
        extreme_duck.execute(
            """
        SELECT (SELECT count(*) FROM documents WHERE text = ''),
               (SELECT count(*) FROM documents
                WHERE text <> '' AND NOT contains(text, ' ')),
               (SELECT count(DISTINCT user_id) FROM events),
               (SELECT count(*) FROM embeddings
                WHERE len(list_filter(embedding,
                                      x -> NOT isfinite(x))) > 0)
        """
        ).fetchone()
    )
    assert n_empty > 0 and n_one > 0 and n_nonfinite > 0
    assert n_users == 1


# ---------------------------------------------------------------------------
# packed-key guards (r7 verdict #3, widened r10 --bigid): the
# asof/nearest/ohlc oracles pack (ts, event_id) into one HUGEINT. The r10
# field width is 1e19 — larger than ANY representable BIGINT id, so the
# only remaining pack-breaker is a NEGATIVE id, and that must ERROR
# loudly — for ohlc both engines pack exactly and would otherwise AGREE
# on silently-wrong ts-major ordering.
# ---------------------------------------------------------------------------

_PACKED = ["q_join_asof", "q_join_nearest", "q_agg_ohlc"]


def _mini_events_con(bad_id):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        CREATE VIEW events AS
        SELECT * FROM (VALUES
            (1::BIGINT, 7::BIGINT, TIMESTAMP '2024-01-02 03:04:05.000001',
             'click', 1.5::DOUBLE),
            ({bad_id}::BIGINT, 7::BIGINT,
             TIMESTAMP '2024-01-02 03:04:05.000002', 'click', 2.5::DOUBLE),
            (2::BIGINT, 7::BIGINT, TIMESTAMP '2024-01-03 00:00:00',
             'purchase', 3.5::DOUBLE)
        ) t(event_id, user_id, ts, event_type, value)
        """
    )
    con.execute(
        "CREATE VIEW orders AS SELECT 1::BIGINT AS o_orderkey, "
        "7::BIGINT AS o_custkey"
    )
    return con


@pytest.mark.parametrize("name", _PACKED)
def test_packed_key_oracle_guard_fires_on_negative_id(name):
    import duckdb

    con = _mini_events_con(bad_id=-1)  # the one remaining pack-breaker
    try:
        with pytest.raises(duckdb.Error, match="breaks the pack"):
            con.execute(registry.ORACLES[name]).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("name", _PACKED)
def test_packed_key_oracle_green_at_max_bigint_id(name):
    """r10 --bigid: the 1e19 field holds EVERY nonnegative BIGINT id —
    including int64 max — without bleeding into the µs field."""
    con = _mini_events_con(bad_id=2**63 - 1)
    try:
        con.execute(registry.ORACLES[name]).fetchall()
    finally:
        con.close()


def _epoch_events_con(ts_literal):
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"""
        CREATE VIEW events AS
        SELECT * FROM (VALUES
            (1::BIGINT, 7::BIGINT, TIMESTAMP '{ts_literal}',
             'click', 1.5::DOUBLE),
            (2::BIGINT, 7::BIGINT, TIMESTAMP '2024-01-03 00:00:00',
             'purchase', 3.5::DOUBLE)
        ) t(event_id, user_id, ts, event_type, value)
        """
    )
    con.execute(
        "CREATE VIEW orders AS SELECT 1::BIGINT AS o_orderkey, "
        "7::BIGINT AS o_custkey"
    )
    return con


@pytest.mark.parametrize("name", ["q_join_asof", "q_join_nearest"])
def test_packed_key_oracle_decodes_negative_epochs(name):
    """The asof/nearest oracle packs SHIFT the epoch positive before
    multiplying: DuckDB's // truncates toward zero, so a pre-1970 click
    would otherwise decode to a negative garbage event_id (--dates sweep
    catch). A 1902 click must decode back to event_id 1 exactly."""
    con = _epoch_events_con("1902-06-15 12:00:00.25")
    try:
        rows = con.execute(registry.ORACLES[name]).fetchall()
        assert rows, name
        # every decoded click/event id must be the real one (1), and every
        # decoded delta/ts must be finite and sane — the truncation bug
        # produced ids like -9999992091
        for r in rows:
            assert all(
                not (isinstance(v, int) and v < 0) for v in r
            ), (name, r)
    finally:
        con.close()


@pytest.mark.parametrize("name", ["q_join_asof", "q_join_nearest"])
def test_packed_key_oracle_guard_fires_past_epoch_budget(name):
    """A timestamp outside the ±1e17-us pack shift budget (year 5139+)
    must ERROR loudly, not decode wrong."""
    import duckdb

    con = _epoch_events_con("9999-01-01 00:00:00")
    try:
        with pytest.raises(duckdb.Error, match="outside pack shift"):
            con.execute(registry.ORACLES[name]).fetchall()
    finally:
        con.close()


def test_udaf_pandas_price_null_keeps_qty_in_denominator(spark, tmp_path):
    """r7 verdict #2 pin: SUM(price*qty)/SUM(qty) keeps a price-NULL row's
    quantity in the DENOMINATOR (only the product sum skips it). The r6
    either-NULL mask returned 10.0 for group A below; SQL says 4.0."""
    rows = [
        ("A", 10.0, 2.0),   # counts in both sums
        ("A", None, 3.0),   # price NULL: skipped by numerator ONLY
        ("A", 20.0, None),  # qty NULL: skipped by both sums
        ("B", None, 5.0),   # numerator SUM over zero rows -> NULL result
        ("C", None, None),  # denominator SUM over zero rows -> NULL result
        ("C", 7.0, None),
    ]
    df = spark.createDataFrame(
        rows,
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    sf_dir = str(tmp_path)
    df.coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")

    out = registry.QUERIES["q_udaf_pandas"](spark, sf_dir).collect()
    got = {r["l_returnflag"]: r["weighted_avg_price"] for r in out}
    assert got["A"] == pytest.approx(20.0 / 5.0)  # NOT 20.0/2.0
    assert got["B"] is None
    assert got["C"] is None

    # and the DuckDB oracle agrees on the same parquet
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet/*.parquet')"
        )
        oracle = {
            row[0]: row[1]
            for row in con.execute(registry.ORACLES["q_udaf_pandas"]).fetchall()
        }
    finally:
        con.close()
    assert oracle["A"] == pytest.approx(got["A"])
    assert oracle["B"] is None and oracle["C"] is None


# r10 --bigid sweep: snowflake-scale sparse 64-bit ids (affine warp
# id*1000003 + 9.1e15, every key past 2^53) caught 14 queries in three
# classes: (1) the Knuth-mix id*2654435761 products overflowed int64 and
# hard-errored under ANSI Spark (now reduce-first: ((id%m)*(MIX%m))%m,
# provably identical output); (2) the asof/nearest/ohlc packed-key
# oracles' own r9 guards fired — ids no longer fit a 1e10/1e12 pack
# field (now 1e19, wider than any representable BIGINT id, guard kept
# for negative ids); (3) the residue COLLAPSE of the warp (every id
# congruent mod 1000003 — the multiplier is deliberately the repo's own
# hash modulus, the structure real snowflake id spaces have) starved
# the bootstrap's hash-uniforms down to 7 distinct values, producing a
# zero-total-weight replicate whose mean divided by zero (now: empty
# replicates drop out of the CI ranking in both engines).
BIGID_SENSITIVE = [
    "q_sample_split",
    "q_sample_stratified",
    "q_sample_temperature",
    "q_sample_weighted",
    "q_sample_bootstrap",
    "q_corpus_mix",
    "q_corpus_shard",
    "q_pack_sequences",
    "q_eval_calibration",
    "q_rank_mrr",
    "q_join_salted",
    "q_agg_ohlc",
    "q_join_asof",
    "q_join_nearest",
]


@pytest.fixture(scope="module")
def bigid_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_bigid")
    build(spark, dst, 0.001, bigid=True)
    return dst


@pytest.fixture(scope="module")
def bigid_duck(bigid_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(bigid_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", BIGID_SENSITIVE)
def test_bigid_sensitive_queries_match_on_bigid_fixture(
    spark, bigid_duck, bigid_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, bigid_duck, registry.QUERIES[name], registry.ORACLES[name],
        bigid_dir,
    )
    assert ok, f"{name}: {detail}"


def test_bigid_fixture_has_the_edge_shapes(bigid_duck):
    """The warp's two load-bearing properties: every id clears 2^53 (so
    any silent int64->float64 hop corrupts visibly), and every id is
    congruent to ONE residue mod 1000003 (so hash-mix uniforms collapse
    — the degeneracy that exposed the bootstrap division)."""
    lo, hi = bigid_duck.execute(
        "SELECT MIN(o_orderkey), MAX(o_orderkey) FROM orders"
    ).fetchone()
    assert lo > 2**53
    assert hi < 2**63 - 1
    n_res = bigid_duck.execute(
        "SELECT COUNT(DISTINCT doc_id % 1000003) FROM documents"
    ).fetchone()[0]
    assert n_res == 1
    # FK integrity survives the warp: every lineitem joins an order
    orphans = bigid_duck.execute(
        "SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o "
        "ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL"
    ).fetchone()[0]
    assert orphans == 0


def test_reduce_first_mix_identity():
    """The overflow fix is the congruence (id*MIX)%m == ((id%m)*(MIX%m))%m
    — outputs on every pre-bigid fixture are provably unchanged. Pin the
    identity over the moduli the repo uses, at both small and snowflake
    ids (the left side computed in Python's unbounded ints)."""
    mix = 2654435761
    for m in (8, 100, 1000000, 1000003):
        for i in (0, 1, 7, 9973, 3_500_000_000, 2**53 + 17,
                  9_100_000_088_000_264, 2**63 - 1):
            assert (i * mix) % m == ((i % m) * (mix % m)) % m
            # the reduced product itself stays far inside int64
            assert (i % m) * (mix % m) < 2**63


# r10 --ctrl sweep: byte-level text dirt (whitespace-only docs, CRLF,
# NUL bytes, zero-width/bidi marks, ' src5 ' group keys, ''-not-NULL
# lang) caught three queries: ANSI parse_url hard-errors on a URL with
# embedded whitespace (q_fn_url / q_text_dedup_url — now try_parse_url
# with a mirrored whitespace guard in the oracle; malformed URLs yield
# NULL components / fall through to content dedup), and q_corpus_mix's
# ANSI cast of the source suffix met 'c5 ' (now try_cast: an unparseable
# source has NULL rate and keeps nothing, in both engines).
CTRL_SENSITIVE = [
    "q_fn_url",
    "q_text_dedup_url",
    "q_corpus_mix",
]


@pytest.fixture(scope="module")
def ctrl_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_ctrl")
    build(spark, dst, 0.001, ctrl=True)
    return dst


@pytest.fixture(scope="module")
def ctrl_duck(ctrl_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(ctrl_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", CTRL_SENSITIVE)
def test_ctrl_sensitive_queries_match_on_ctrl_fixture(
    spark, ctrl_duck, ctrl_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, ctrl_duck, registry.QUERIES[name], registry.ORACLES[name],
        ctrl_dir,
    )
    assert ok, f"{name}: {detail}"


def test_ctrl_fixture_has_the_edge_shapes(ctrl_duck):
    """Each dirt class must actually be present, or the pins above prove
    nothing: whitespace-only text, embedded NUL, CRLF, untrimmed group
    keys, and empty-string (not NULL) lang."""
    n = lambda sql: ctrl_duck.execute(sql).fetchone()[0]  # noqa: E731
    assert n("SELECT COUNT(*) FROM documents "
             "WHERE text <> '' AND trim(text, ' ' || chr(9)) = ''") > 0
    assert n("SELECT COUNT(*) FROM documents "
             "WHERE contains(text, chr(0))") > 0
    assert n("SELECT COUNT(*) FROM documents "
             "WHERE contains(text, chr(13) || chr(10))") > 0
    assert n("SELECT COUNT(*) FROM documents WHERE source = ' src5 '") > 0
    assert n("SELECT COUNT(*) FROM documents WHERE lang = ''") > 0


def test_unicode_fixture_has_casefold_traps(gen_duck):
    """r12: the --unicode axis must plant case-fold traps in BOTH the
    text vocabulary and the source group key, and the divergence premise
    must hold in this environment — DuckDB/utf8proc folds SIMPLE (1:1,
    upper('ß')='ẞ') where the JVM/Python folds FULL ('SS',
    length-changing). If either side of the premise ever changes (DuckDB
    adopting full mapping would make the mirrored guards over-strict),
    this trips before a sweep mis-attributes the divergence."""
    n = lambda sql: gen_duck.execute(sql).fetchone()[0]  # noqa: E731
    assert n("SELECT COUNT(*) FROM documents WHERE source LIKE 'srcß%'") > 0
    assert n("SELECT COUNT(*) FROM documents WHERE source LIKE 'srcﬁ%'") > 0
    assert n("SELECT COUNT(*) FROM documents WHERE source LIKE 'srcİ%'") > 0
    assert n("SELECT COUNT(*) FROM documents "
             "WHERE text LIKE '%straße%' OR text LIKE '%ﬁnance%'") > 0
    assert gen_duck.execute("SELECT upper('ß')").fetchone()[0] != "SS"
    assert "ß".upper() == "SS"  # the JVM agrees with Python here
    # the q_fn_string/q_fn_collation upper/lower DEMOS keep plain
    # upper()/lower() under a documented input assumption: the part
    # vocabulary columns they fold are pure ASCII on every axis — pin it
    # so a future axis that dirties part strings trips here first
    for col in ("p_name", "p_type", "p_brand"):
        assert n(
            "SELECT COUNT(*) FROM part "
            f"WHERE regexp_matches({col}, '[^\\x00-\\x7f]')"
        ) == 0


def test_nul_sentinel_absent_from_orders_priority(ctrl_duck, duck):
    """q_join_point_in_time / q_agg_modern encode SQL NULL as chr(1) inside
    max_by/min_by so the extreme row stays visible, then NULLIF it back
    (operators/joins.py, operators/aggregates.py). That round-trip is only
    lossless while no GENUINE o_orderpriority value is the bare control
    byte — an undocumented producer-side assumption (r11 ADVICE). Pin it on
    the dirtiest text fixture (--ctrl injects control bytes, deliberately
    only into documents.text/lang/source) AND the driver fixture, so any
    future axis that dirties orders strings trips this before it can
    silently decode a real value to NULL."""
    q = "SELECT COUNT(*) FROM orders WHERE contains(o_orderpriority, chr(1))"
    assert ctrl_duck.execute(q).fetchone()[0] == 0
    assert duck.execute(q).fetchone()[0] == 0


# r10 --nullkey sweep: NULL FOREIGN KEYS (orphan rows — anonymous events,
# GDPR-deleted customers, unresolved part/supplier refs) caught six
# queries, all in the predicted class: Spark plan and SQL oracle
# expressing "per key" through constructs with DIFFERENT NULL semantics.
# A window PARTITION BY groups NULLs into a real partition while an
# equi-join matches nothing (q_join_asof carried events onto NULL-custkey
# orders; q_join_point_in_time carried dimension state onto NULL-custkey
# facts — both now drop NULL keys from the LOOKUP side so the NULL
# partition carries nothing, exactly left-join semantics);
# q_win_moving_distinct excludes orphans on both sides (a trailing
# per-user window over anonymous rows lumps different people into one
# pseudo-user); q_pivot's bare na.fill(0) rewrote the NULL group KEY to
# 0, merging orphans into real user 0 (now fills only the pivot cells);
# q_feature_hash's NULL band vanished from DuckDB's string_agg but
# emitted a bare count term under Spark's concat_ws (now hashes the
# literal 'null' missing-token on both sides); q_udf_cogroup's pandas
# merge MATCHES NaN keys where SQL FULL OUTER never does, then crashed
# casting NaN to int64 (now splits orphans out unmatched, one row per
# side, and ships the key as nullable Int64).
NULLKEY_SENSITIVE = [
    "q_join_asof",
    "q_join_point_in_time",
    "q_win_moving_distinct",
    "q_pivot",
    "q_feature_hash",
    "q_udf_cogroup",
]


@pytest.fixture(scope="module")
def nullkey_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_nullkey")
    build(spark, dst, 0.001, nullkey_on=True)
    return dst


@pytest.fixture(scope="module")
def nullkey_duck(nullkey_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(nullkey_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", NULLKEY_SENSITIVE)
def test_nullkey_sensitive_queries_match_on_nullkey_fixture(
    spark, nullkey_duck, nullkey_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, nullkey_duck, registry.QUERIES[name], registry.ORACLES[name],
        nullkey_dir,
    )
    assert ok, f"{name}: {detail}"


def test_nullkey_fixture_has_the_edge_shapes(nullkey_duck):
    """Orphan FKs must actually be present on every warped column, and
    PRIMARY ids must stay unique and non-NULL (identity is an upstream
    contract — only references go dark)."""
    n = lambda sql: nullkey_duck.execute(sql).fetchone()[0]  # noqa: E731
    assert n("SELECT COUNT(*) FROM events WHERE user_id IS NULL") > 0
    assert n("SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL") > 0
    assert n("SELECT COUNT(*) FROM lineitem WHERE l_partkey IS NULL") > 0
    assert n("SELECT COUNT(*) FROM lineitem WHERE l_suppkey IS NULL") > 0
    assert n("SELECT COUNT(*) FROM events WHERE event_id IS NULL") == 0
    assert n(
        "SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events"
    ) == 0


# r10 composed-axes sweep (all ten axes on one sf0.01 fixture) drew six
# catches the single-axis sweeps could not populate. Four were ONE
# harness hole, fixed in tests/oracle_utils.py: BOTH fetch paths
# (DuckDB fetchdf and Spark toPandas) convert a NULLABLE integer column
# to float64, which CORRUPTS snowflake-scale ids past 2^53 (odd ids in
# [2^53, 2^54) are unrepresentable as doubles — the value changes, not
# its formatting; needs --bigid x --nullkey composed). Both paths now
# restore integer columns as exact Python ints. The other two were
# engine fixes: q_join_asof_tolerance carried NULL-partition events onto
# orphan orders (the same class the single-axis sweep caught in
# q_join_asof — but here raw sf0.01 orderkeys put every order in the
# first 4.2 h of the month, BEFORE the first orphan event; only
# --bigid's huge keys spread order timestamps across the event month),
# and q_win_rank_delta's rank tiebreak on a now-nullable custkey met
# --dupes' revenue ties (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS
# LAST — pinned NULLS LAST on both sides).
COMPOSED_R10_SENSITIVE = [
    "q_join_asof_tolerance",
    "q_win_rank_delta",
    # exercises the exact-int fetch path end-to-end (nullable bigid FKs
    # straight off the scan)
    "q_scan_parquet",
]


@pytest.fixture(scope="module")
def combo_bnk_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_bigid_nullkey_dupes")
    build(spark, dst, 0.001, bigid=True, nullkey_on=True, dupes=True)
    return dst


@pytest.fixture(scope="module")
def combo_bnk_duck(combo_bnk_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(combo_bnk_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", COMPOSED_R10_SENSITIVE)
def test_composed_r10_catches_on_bigid_nullkey_dupes(
    spark, combo_bnk_duck, combo_bnk_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, combo_bnk_duck, registry.QUERIES[name],
        registry.ORACLES[name], combo_bnk_dir,
    )
    assert ok, f"{name}: {detail}"


def test_harness_keeps_nullable_bigids_exact(spark):
    """The oracle_utils fetch paths must ship a NULLABLE int64 column
    past 2^53 bit-exactly: an ODD id in [2^53, 2^54) is unrepresentable
    as float64, so the old fetchdf/toPandas float coercion changed its
    VALUE. Run the same (id, NULL) pair through both engines and the
    full compare machinery."""
    import duckdb

    from tests.oracle_utils import compare_query

    odd_big = 2**53 + 1  # unrepresentable as a double (rounds to 2^53)
    con = duckdb.connect()
    sql = (
        f"SELECT * FROM (VALUES (CAST({odd_big} AS BIGINT)), "
        "(CAST(NULL AS BIGINT))) t(k)"
    )

    def q(spark_, _sf):
        return spark_.sql(
            f"SELECT * FROM VALUES (CAST({odd_big} AS BIGINT)), "
            "(CAST(NULL AS BIGINT)) AS t(k)"
        )

    ok, detail = compare_query(spark, con, q, sql, "")
    con.close()
    assert ok, detail


# r11 --rowdup sweep: AT-LEAST-ONCE DUPLICATE ROWS (exact copies
# INCLUDING primary ids — the integrity violation the reference's own
# delete-after-write ack loop produces on a crash between write and ack,
# convertor/convertor.go:156-164) caught ELEVEN queries in two classes.
# [1] Set-vs-bag shingle/gram indexes: the oracles built DISTINCT
# (doc_id, shingle) indexes while Spark's explode kept one copy per
# physical row — a doc duplicated on both pair sides doubles n and
# quadruples c, so the Jaccard denominator n_a + n_b - c hits exactly 0
# (ANSI DIVIDE_BY_ZERO in q_dedup_ngram_jaccard / q_dedup_cluster /
# q_dedup_incremental) and containment/decontamination counts double.
# Fixed with a full-row dropDuplicates ingest guard before indexing
# (q_text_decontaminate too); q_text_fingerprint's oracle now dedups its
# source (one fingerprint per DOCUMENT, like the Spark groupBy).
# [2] Per-key regroup vs per-row/per-pair semantics: q_corpus_pipeline's
# oracle re-derived the canonical flag via a doc_id JOIN-BACK that
# matches every copy (now carries rn on the row); q_feature_hash's
# oracle regrouped by o_orderkey, merging copies into doubled vectors
# (now row-local list functions like the Spark twin); q_win_moving_
# distinct's oracle grouped by (user, event_id), merging copies whose
# trailing frames differ (now grouped by rn as well); q_join_asof's
# payload join-back matched every copy of the winning event (now
# DISTINCT); q_join_interval_overlap emits one row per overlapping PAIR
# (oracle now DISTINCT, matching Spark's dropDuplicates).
ROWDUP_SENSITIVE = [
    # chunking is row-local: re-delivered copies each emit their chunks
    # (the oracle regroups per PHYSICAL ROW via row_number, r11b)
    "q_text_chunk",
    "q_dedup_ngram_jaccard",
    "q_dedup_cluster",
    "q_dedup_incremental",
    "q_text_containment",
    "q_text_decontaminate",
    "q_text_fingerprint",
    "q_corpus_pipeline",
    "q_feature_hash",
    "q_win_moving_distinct",
    "q_join_asof",
    "q_join_interval_overlap",
]


@pytest.fixture(scope="module")
def rowdup_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    # 0.003, not 0.001: the ~1/29 full-row-hash dup rule deterministically
    # duplicates ZERO of the 50 sf0.001 documents — the doc-keyed pins
    # would not exercise their fix. At sf0.003, 6 doc_ids (and hundreds of
    # event/order ids) are duplicated.
    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.003_rowdup")
    build(spark, dst, 0.003, rowdup=True)
    return dst


@pytest.fixture(scope="module")
def rowdup_duck(rowdup_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(rowdup_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", ROWDUP_SENSITIVE)
def test_rowdup_sensitive_queries_match_on_rowdup_fixture(
    spark, rowdup_duck, rowdup_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, rowdup_duck, registry.QUERIES[name], registry.ORACLES[name],
        rowdup_dir,
    )
    assert ok, f"{name}: {detail}"


def test_rowdup_fixture_has_duplicate_primary_ids(rowdup_duck):
    """Re-delivered rows must actually be present — EXACT full-row copies
    with duplicated PRIMARY ids (the violation --dupes never produces:
    there, values collapse but ids stay unique)."""
    n = lambda sql: rowdup_duck.execute(sql).fetchone()[0]  # noqa: E731
    assert n(
        "SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM events"
    ) > 0
    assert n(
        "SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders"
    ) > 0
    assert n(
        "SELECT COUNT(*) - COUNT(DISTINCT doc_id) FROM documents"
    ) > 0
    # copies are byte-identical: every duplicated doc_id has exactly one
    # distinct text
    assert n(
        "SELECT COUNT(*) FROM (SELECT doc_id FROM documents GROUP BY doc_id"
        " HAVING COUNT(DISTINCT text) > 1)"
    ) == 0


# r11 --manyfiles sweep: fragmented file LAYOUT (same content; ~180-280
# tiny part files per table, one straggler with 64 KiB row groups, two
# 0-row schema-only files) drew ZERO catches at sf0.01 — the
# listing/scheduling/schema-merge posture held. Pinned here as
# regression insurance on the file-count-sensitive family, plus the
# layout-shape assertions that keep the axis honest.
MANYFILES_SENSITIVE = [
    "q_scan_parquet",
    "q_scan_metadata",
    "q_scan_pruned",
    "q_sink_compacted",
    "q_join_prune_dynamic",
]


@pytest.fixture(scope="module")
def manyfiles_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_manyfiles")
    build(spark, dst, 0.001, manyfiles=True)
    return dst


@pytest.fixture(scope="module")
def manyfiles_duck(manyfiles_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(manyfiles_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", MANYFILES_SENSITIVE)
def test_manyfiles_sensitive_queries_match_on_fragmented_layout(
    spark, manyfiles_duck, manyfiles_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, manyfiles_duck, registry.QUERIES[name],
        registry.ORACLES[name], manyfiles_dir,
    )
    assert ok, f"{name}: {detail}"


def test_manyfiles_fixture_has_the_layout_shapes(manyfiles_dir):
    """The fragmentation must actually be present: many part files for
    the big tables, at least two 0-row files per table, and a size
    spread (tiny fragments next to the coarse straggler)."""
    import glob

    import pyarrow.parquet as pq

    for t in ("lineitem", "orders", "events"):
        files = glob.glob(os.path.join(manyfiles_dir, f"{t}.parquet",
                                       "*.parquet"))
        assert len(files) >= 20, f"{t}: only {len(files)} part files"
        zero = sum(
            1 for f in files if pq.ParquetFile(f).metadata.num_rows == 0
        )
        assert zero >= 2, f"{t}: only {zero} empty part files"
        sizes = sorted(os.path.getsize(f) for f in files)
        assert sizes[-1] > 4 * sizes[0], f"{t}: no size spread"


# r11 --longtext sweep: per-row text VOLUME skew (250k-word megadocs,
# 30k-repeat spam docs, a 64 KiB single token) caught a whole CLASS of
# quadratic-per-document shapes rather than value divergences. [1] HOF
# lambdas defeat subexpression elimination in BOTH engines: an inline
# split(text) under transform() re-splits the document once per ELEMENT
# (Spark codegen AND DuckDB list_transform) — every shingle/gram builder
# now binds the token array as a column/subquery first. [2] Generate/
# unnest SIBLING projections re-evaluate per OUTPUT row: size(split)
# next to explode(split) (Spark, jstack-proven) and len(string_split)
# next to unnest(string_split) (DuckDB) re-split per term — bind once
# below the explode. [3] A DuckDB list SLICE inside a lambda copies the
# bound list per element (l[i:i+4] measured 120 s on ONE 60k-word doc) —
# element indexing only. [4] A lateral generate_series join carries the
# whole token list into every joined row (bigram/collocation oracles) —
# list_zip of two top-level slices instead. The plan gate in
# tests/test_plans.py pins [1]/[2] Spark-side for the whole registry.
LONGTEXT_SENSITIVE = [
    "q_text_chunk",
    "q_dedup_ngram_jaccard",
    "q_text_containment",
    "q_text_fingerprint",
    "q_text_decontaminate",
    "q_text_bigram_lm",
    "q_text_collocations",
    "q_text_keywords",
    "q_text_tfidf",
]


@pytest.fixture(scope="module")
def longtext_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    # sf0.003 -> 150 docs: every longtext class populates (60k-word docs
    # at ids 41/144, the 250k megadoc at 89, spam at 57, the 64 KiB
    # single token at 131) while pytest wall time stays bounded
    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.003_longtext")
    build(spark, dst, 0.003, longtext=True)
    return dst


@pytest.fixture(scope="module")
def longtext_duck(longtext_dir):
    import duckdb

    from tests.oracle_utils import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, longtext_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", LONGTEXT_SENSITIVE)
def test_longtext_sensitive_queries_match_on_megadoc_fixture(
    spark, longtext_duck, longtext_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, longtext_duck, registry.QUERIES[name],
        registry.ORACLES[name], longtext_dir,
    )
    assert ok, f"{name}: {detail}"


def test_longtext_fixture_has_the_volume_shapes(longtext_duck):
    """The outliers must actually be present: a >1M-char megadoc, a spam
    doc with one distinct token at huge multiplicity, and a single
    whitespace-free 64 KiB token."""
    n = lambda sql: longtext_duck.execute(sql).fetchone()[0]  # noqa: E731
    assert n("SELECT max(n_chars) FROM documents") > 1_000_000
    assert n(
        "SELECT COUNT(*) FROM (SELECT doc_id FROM documents "
        "WHERE len(string_split(text, ' ')) >= 30000 "
        "AND len(list_distinct(string_split(text, ' '))) = 1)"
    ) >= 1
    assert n(
        "SELECT COUNT(*) FROM documents "
        "WHERE length(text) >= 65536 AND NOT contains(text, ' ')"
    ) >= 1


# r11 --evolve sweep: SCHEMA DRIFT across part files (old files missing a
# late-added column, new files carrying an unknown one with reversed
# column order) caught FIVE queries — all NULL-semantics divergences on
# columns NO other axis nulls. q_agg_modern / q_join_point_in_time:
# DuckDB arg_max SKIPS NULL values where Spark max_by returns the value
# at the true extreme key (sentinel chr(1) coalesce; point-in-time also
# needed the sentinel so a NULL-state version stays a version BOUNDARY
# in the ignorenulls carry). q_feature_hash: Spark kept a NULL bucket
# element where DuckDB list_distinct REMOVES NULLs (missing-as-token on
# every categorical now). q_skyline_pareto: NULL objectives made the
# oracle's NOT EXISTS vacuously true (frontier of 513 instead of 4) —
# mirrored domain guard. q_embed_whiten: bare astype(int32) crashed on
# NULL labels (nullable Int64 + dropna=False NULL group).
EVOLVE_SENSITIVE = [
    "q_agg_modern",
    "q_join_point_in_time",
    "q_feature_hash",
    "q_skyline_pareto",
]


@pytest.fixture(scope="module")
def evolve_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_evolve")
    build(spark, dst, 0.001, evolve=True)
    return dst


@pytest.fixture(scope="module")
def evolve_duck(evolve_dir):
    import duckdb

    from tests.oracle_utils import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, evolve_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", EVOLVE_SENSITIVE)
def test_evolve_sensitive_queries_match_on_drifted_schema(
    spark, evolve_duck, evolve_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, evolve_duck, registry.QUERIES[name], registry.ORACLES[name],
        evolve_dir,
    )
    assert ok, f"{name}: {detail}"


def test_evolve_whiten_handles_null_label_groups(spark, evolve_dir):
    """rows-only twin: NULL labels form their own group (GROUP BY
    semantics), never crash the pandas int cast, never silently drop."""
    out = registry.QUERIES["q_embed_whiten"](spark, evolve_dir)
    rows = out.collect()
    assert len(rows) >= 2


def test_evolve_load_table_reads_under_the_catalog_contract(
    spark, evolve_dir
):
    """The reader contract (reference A4 generalized): missing-in-file
    reads as NULL, unknown producer columns are dropped, per-file column
    order is irrelevant — and the DuckDB harness view agrees exactly."""
    import duckdb

    from json_parquet_convertor_spark.sources.io import (
        EXPECTED_COLUMNS,
        load_table,
    )
    from tests.oracle_utils import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, evolve_dir)
    for t, dropped in [("lineitem", "l_tax"), ("orders", "o_orderpriority"),
                       ("documents", "source"), ("embeddings", "label")]:
        df = load_table(spark, evolve_dir, t)
        assert df.columns == list(EXPECTED_COLUMNS[t]), t
        from pyspark.sql import functions as F

        srow = df.agg(
            F.count("*").alias("n"), F.count(dropped).alias("nn")
        ).collect()[0]
        dn, dnn = con.execute(
            f'SELECT count(*), count("{dropped}") FROM {t}'
        ).fetchone()
        assert (srow.n, srow.nn) == (dn, dnn), t
        assert srow.nn < srow.n, f"{t}: drift slice did not populate"
    con.close()


def test_evolve_fixture_has_the_drift_shapes(evolve_dir):
    """Part files must actually disagree: at least one file missing the
    late-added column, at least one carrying the unknown extra with
    reversed column order."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(evolve_dir, "lineitem.parquet",
                                   "*.parquet"))
    schemas = [tuple(pq.ParquetFile(f).schema_arrow.names) for f in files]
    assert any("l_tax" not in s for s in schemas), "no old-schema file"
    assert any("l_comment" in s for s in schemas), "no new-schema file"
    new = next(s for s in schemas if "l_comment" in s)
    assert new[0] == "l_comment" and new[-1] == "l_orderkey", (
        "new-schema file should be column-order-reversed"
    )


def test_evolve_narrow_type_drift_widens_on_both_engines(
    spark, evolve_dir, evolve_duck
):
    """r12 --evolve narrow mode: OLD-generation customer/part files store
    c_acctbal / p_retailprice as FLOAT32. Spark's mergeSchema refuses the
    float/double merge, so load_table must route through the footer-union
    widened read; the oracle's typed probe must route DuckDB through
    union_by_name. Both engines then see the identical widened doubles."""
    import glob

    import pyarrow.parquet as pq

    from json_parquet_convertor_spark.sources.io import load_table

    # the physical drift is actually on disk
    types = set()
    for f in glob.glob(os.path.join(evolve_dir, "customer.parquet",
                                    "*.parquet")):
        sch = pq.ParquetFile(f).schema_arrow
        if "c_acctbal" in sch.names:
            types.add(str(sch.field("c_acctbal").type))
    assert types == {"float", "double"}, types

    for t, col in [("customer", "c_acctbal"), ("part", "p_retailprice")]:
        df = load_table(spark, evolve_dir, t)
        assert dict(df.dtypes)[col] == "double", (t, df.dtypes)
        from pyspark.sql import functions as F

        srow = df.agg(
            F.count("*").alias("n"),
            F.sum(col).alias("s"),
        ).collect()[0]
        dn, dsum = evolve_duck.execute(
            f'SELECT count(*), sum("{col}") FROM {t}'
        ).fetchone()
        assert srow.n == dn, t
        assert abs(srow.s - dsum) < 1e-9, (t, srow.s, dsum)


def test_type_only_drift_fails_loud_then_widens(spark, tmp_path):
    """Type-ONLY drift (column names equal in every file — invisible to
    the one-footer hot path): the default read must fail LOUDLY at scan,
    never silently narrow; JPC_SCHEMA_POLICY=widen must recover it; and
    the oracle harness's typed probe must route DuckDB through
    union_by_name so both engines agree on the widened values."""
    import shutil

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from json_parquet_convertor_spark.sources.io import load_table
    from tests.oracle_utils import register_duck_views

    sf = str(tmp_path / "sf_typedrift")
    shutil.copytree("/root/testdata/sf0.001", sf)
    # supplier becomes a directory: the original file + an ancient slice
    # whose s_acctbal is float32 and s_nationkey int64 (names identical)
    orig = os.path.join(sf, "supplier.parquet")
    tmp = os.path.join(sf, "_supplier_orig")
    os.rename(orig, tmp)
    os.makedirs(orig)
    shutil.move(tmp, os.path.join(orig, "part-0.parquet"))
    base = pq.read_table(os.path.join(orig, "part-0.parquet"))
    ancient = pa.table({
        "s_suppkey": pa.array([990001, 990002], pa.int64()),
        "s_name": pa.array(["Supplier#ancient1", "Supplier#ancient2"]),
        "s_nationkey": pa.array([3, 7], pa.int64()),
        "s_acctbal": pa.array([1234.56, -42.125], pa.float32()),
    }).select(base.schema.names)
    pq.write_table(ancient, os.path.join(orig, "part-1.parquet"))

    # strict default: Spark 4's reader natively WIDENS where the elected
    # footer is the wider type (float file read under the original's
    # double schema succeeds), but the NARROWING direction — the ancient
    # file's int64 s_nationkey under the elected int32 — fails loudly at
    # scan, never silently truncates
    with pytest.raises(
        Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"
    ):
        load_table(spark, sf, "supplier").groupBy().sum(
            "s_nationkey"
        ).collect()

    os.environ["JPC_SCHEMA_POLICY"] = "widen"
    try:
        df = load_table(spark, sf, "supplier")
        assert dict(df.dtypes)["s_acctbal"] == "double"
        assert dict(df.dtypes)["s_nationkey"] == "bigint"
        from pyspark.sql import functions as F

        srow = df.agg(
            F.count("*").alias("n"), F.sum("s_acctbal").alias("s")
        ).collect()[0]
    finally:
        del os.environ["JPC_SCHEMA_POLICY"]

    con = duckdb.connect()
    try:
        register_duck_views(con, sf)
        dn, dsum = con.execute(
            "SELECT count(*), sum(s_acctbal) FROM supplier"
        ).fetchone()
        assert srow.n == dn == 2 + con.execute(
            "SELECT count(*) FROM read_parquet(?)",
            [os.path.join(orig, "part-0.parquet")],
        ).fetchone()[0]
        assert abs(srow.s - dsum) < 1e-9
    finally:
        con.close()


# r12 --filedirt: corrupt/partial/foreign FILES as a layout axis (judge
# r12 task 3). The dirt adds zero readable rows and the codec rewrite
# keeps its rows, so the quarantine read of the dirty layout must equal
# the clean build EXACTLY — which also proves the hidden-file trap
# (_committed_dup.parquet, a valid parquet duplicate) was ignored by the
# listing rule and not silently double-counted.
@pytest.fixture(scope="module")
def filedirt_dirs(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    root = tmp_path_factory.mktemp("genfix")
    clean, dirty = str(root / "sf0.001"), str(root / "sf0.001_filedirt")
    # dates=True on BOTH builds (r12 sf1.0 catch): the injector's gzip
    # rewrite must preserve --dates instants past the int64-ns ceiling
    # (2262+) byte-for-byte — pyarrow's default ns read WRAPPED them to
    # 1677, forging same-primary-id rows with different payloads; the
    # recover-equals-clean comparison below only proves the contract if
    # the dangerous instants are actually in the rewritten file
    build(spark, clean, 0.001, dates=True)
    build(spark, dirty, 0.001, dates=True, filedirt=True)
    return clean, dirty


def test_filedirt_strict_default_fails_loudly(spark, filedirt_dirs):
    """A truncated footer / zero-byte part / stray JSON under the strict
    default must kill the read loudly — never silently drop data."""
    from json_parquet_convertor_spark.sources.io import load_table

    _clean, dirty = filedirt_dirs
    assert os.environ.get("JPC_FILE_POLICY") is None
    with pytest.raises(Exception, match="Parquet|PARQUET|parquet"):
        load_table(spark, dirty, "orders").count()


def test_filedirt_quarantine_recovers_clean_content(spark, filedirt_dirs):
    """JPC_FILE_POLICY=quarantine: every table reads exactly the clean
    build's content on BOTH engines (Spark load_table and the DuckDB
    harness views), the quarantined files are reported, and the
    mixed-codec rewrite's rows are present (codec is transparent)."""
    import warnings

    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES, load_table
    from tests.oracle_utils import register_duck_views

    clean, dirty = filedirt_dirs
    clean_counts = {
        t: load_table(spark, clean, t).count() for t in TABLES
    }
    os.environ["JPC_FILE_POLICY"] = "quarantine"
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            dirty_counts = {
                t: load_table(spark, dirty, t).count() for t in TABLES
            }
        assert dirty_counts == clean_counts
        msgs = [str(w.message) for w in caught]
        assert any("quarantined" in m for m in msgs), msgs
        assert any("zero-dirt" in m and "empty" in m for m in msgs), msgs
        assert any("trunc-dirt" in m and "corrupt" in m for m in msgs), msgs
        assert any("stray-notes.json" in m for m in msgs), msgs

        con = duckdb.connect()
        try:
            register_duck_views(con, dirty)
            for t in TABLES:
                n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                assert n == clean_counts[t], t
        finally:
            con.close()
    finally:
        del os.environ["JPC_FILE_POLICY"]


def test_filedirt_quarantine_differential_matches(spark, filedirt_dirs):
    """End-to-end: a few representative oracle pairs agree on the dirty
    layout under quarantine (scan, aggregate, join, text)."""
    import duckdb

    from tests.oracle_utils import compare_query, register_duck_views

    _clean, dirty = filedirt_dirs
    os.environ["JPC_FILE_POLICY"] = "quarantine"
    try:
        con = duckdb.connect()
        try:
            register_duck_views(con, dirty)
            for name in ["q_agg_groupby", "q_join_broadcast",
                         "q_text_stats", "q_filter_simple"]:
                ok, detail = compare_query(
                    spark, con, registry.QUERIES[name],
                    registry.ORACLES[name], dirty,
                )
                assert ok, f"{name}: {detail}"
        finally:
            con.close()
    finally:
        del os.environ["JPC_FILE_POLICY"]


def test_mixed_codec_reads_transparently_under_strict_default(
    spark, tmp_path
):
    """Codec is per-column-chunk metadata, not a schema property: a
    directory mixing snappy and gzip part files must read fine under the
    STRICT default on both engines (recover, not quarantine)."""
    import shutil

    import duckdb
    import pyarrow.parquet as pq

    from json_parquet_convertor_spark.sources.io import load_table

    sf = str(tmp_path / "sf_codec")
    os.makedirs(sf)
    src = "/root/testdata/sf0.001/orders.parquet"
    d = os.path.join(sf, "orders.parquet")
    os.makedirs(d)
    shutil.copyfile(src, os.path.join(d, "part-0.parquet"))
    pq.write_table(
        pq.read_table(src), os.path.join(d, "part-1.parquet"),
        compression="gzip",
    )
    n = load_table(spark, sf, "orders").count()
    dn = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{d}/*.parquet')"
    ).fetchone()[0]
    base = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{src}')"
    ).fetchone()[0]
    assert n == dn == 2 * base


# r13 --tz: session-timezone + timestamp-FLAVOR traps (judge r12 task 5).
# Three timestamp generations in ONE events directory — Spark's INT96
# default, the naive producer's INT64 µs TIMESTAMP_NTZ, one µs
# UTC-ADJUSTED rewrite — all denoting the SAME instants (naive == UTC
# wall clock), plus value bands inside the America/New_York fall-back
# window and ±90 s of NY/UTC midnights. The contract: both engines read
# identical instants whatever footer they elect, and every day/window
# bucket is computed in pinned UTC, never the session default.
@pytest.fixture(scope="module")
def tz_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.001_dates_tz")
    # dates=True composes the 1902/2262/2304 instants with the flavor
    # drift: the UTC-adjusted rewrite must carry them losslessly (the
    # r12 INT96-ns-wrap class) and the NTZ cast must hold year 2304
    build(spark, dst, 0.001, dates=True, tz_on=True)
    return dst


def test_tz_fixture_carries_three_timestamp_flavors(tz_dir):
    """Fixture shape: the events directory holds INT96 (arrow: ns,
    no tz), µs NTZ, and µs UTC-adjusted part files simultaneously."""
    import glob

    import pyarrow.parquet as pq

    found = {
        str(pq.read_schema(f).field("ts").type)
        for f in glob.glob(os.path.join(tz_dir, "events.parquet", "part-*.parquet"))
    }
    assert {"timestamp[ns]", "timestamp[us]", "timestamp[us, tz=UTC]"} <= found, found


def test_tz_mixed_flavors_read_identical_instants(spark, tz_dir):
    """Cross-engine content identity on the mixed-flavor directory: the
    (event_id, epoch-microsecond) multiset must agree exactly between
    Spark's load_table (pinned-UTC session) and the DuckDB harness view
    (pinned-UTC connection, TIMESTAMPTZ promotion via union_by_name)."""
    import duckdb

    from pyspark.sql import functions as F

    from json_parquet_convertor_spark.sources.io import load_table
    from tests.oracle_utils import register_duck_views

    sp = sorted(
        (r["event_id"], r["us"])
        for r in load_table(spark, tz_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    con = duckdb.connect()
    try:
        register_duck_views(con, tz_dir)
        du = sorted(
            (int(a), int(b))
            for a, b in con.execute(
                "SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) FROM events"
            ).fetchall()
        )
    finally:
        con.close()
    assert sp == du
    # the traps actually populate: fall-back window + NY-midnight band
    fb = [1 for _, us in sp if 1730608200_000000 <= us <= 1730615400_000000]
    nym = [1 for _, us in sp if abs(us - 1705294800_000000) <= 91_000000]
    assert fb and nym, (len(fb), len(nym))


def test_tz_differential_matches_on_ts_heavy_queries(spark, tz_dir):
    """End-to-end parity on the mixed-flavor fixture for queries whose
    semantics live in timestamp bucketing/windowing."""
    import duckdb

    from tests.oracle_utils import compare_query, register_duck_views

    con = duckdb.connect()
    try:
        register_duck_views(con, tz_dir)
        for name in [
            "q_stream_tumbling",
            "q_agg_time_rollup",
            "q_win_time_range",
            "q_stream_watermark",
            "q_fn_date",
        ]:
            ok, detail = compare_query(
                spark, con, registry.QUERIES[name],
                registry.ORACLES[name], tz_dir,
            )
            assert ok, f"{name}: {detail}"
    finally:
        con.close()


def test_tz_widen_policy_unifies_timestamp_flavors(spark, tz_dir):
    """JPC_SCHEMA_POLICY=widen must survive the tz-flavor mix: the
    pa.unify_schemas tz-aware/naive refusal falls back to µs-UTC
    coercion (sources/io.py read_widened) and reads the same instants
    as the default path."""
    from pyspark.sql import functions as F

    from json_parquet_convertor_spark.sources.io import load_table

    base = sorted(
        (r["event_id"], r["us"])
        for r in load_table(spark, tz_dir, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .collect()
    )
    os.environ["JPC_SCHEMA_POLICY"] = "widen"
    try:
        wide = sorted(
            (r["event_id"], r["us"])
            for r in load_table(spark, tz_dir, "events")
            .select("event_id", F.unix_micros("ts").alias("us"))
            .collect()
        )
    finally:
        del os.environ["JPC_SCHEMA_POLICY"]
    assert wide == base


# ---------------------------------------------------------------------------
# r13 --conflict sweep: CONFLICTING RE-DELIVERY (same primary id, drifted
# payload — the non-idempotent at-least-once race --rowdup's byte-identical
# copies can never surface) caught TWENTY-FOUR queries in four classes.
# [1] double→DECIMAL(p,2) midpoints: the +0.125 drift makes 2-dp money
# columns 3-dp, and Spark's string-roundtrip HALF_UP cast splits from
# DuckDB's binary-double scaling whenever the bits sit below the exact
# midpoint — oracle casts at scale ≤ 2 route through VARCHAR (exact.py).
# [2] Window/argmax picks over a no-longer-unique sort key: every window
# ordered by (ts, event_id) / (o_orderdate, o_orderkey) gained the sorted
# payload column as a NULLS-FIRST-pinned tiebreak; argmax picks became
# lexicographic struct extremes carrying the payload.
# [3] Per-key dedup/canonicalization: q_stream_dedup picks the least
# payload via row_number (struct-MAX would NOT mirror: DuckDB sorts NULL
# struct fields greatest, Spark smallest); the doc-index family resolves
# doc_id versions to max(text) before indexing (_DUCK_CANON_DOCS).
# [4] Identity collisions: q_er_pipeline's label join and oracle closure
# are block-local — version nodes of one source row share its min
# partkey across blocks; q_fn_url's host guard widened to the
# java.net.URI hostname alphabet ('~' is unreserved but not
# hostname-legal); q_join_salted's oracle mirrors inner-join semantics.
CONFLICT_SENSITIVE = [
    "q_agg_groupby",
    "q_cdc_diff",
    "q_dedup_incremental",
    "q_dedup_ngram_jaccard",
    "q_dedup_cluster",
    "q_er_pipeline",
    "q_fn_url",
    "q_join_asof",
    "q_join_multiway",
    "q_join_point_in_time",
    "q_join_salted",
    "q_rank_mrr",
    "q_scd2_history",
    "q_seq_markov",
    "q_seq_paths",
    "q_seq_transitions",
    "q_stream_dedup",
    "q_text_containment",
    "q_text_decontaminate",
    "q_text_fingerprint",
    "q_win_analytic",
    "q_win_ewma",
    "q_win_frame_rows",
    "q_win_moving_distinct",
    "q_win_pattern",
]


@pytest.fixture(scope="module")
def conflict_dir(spark, tmp_path_factory):
    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
        ),
    )
    from gen_fixtures import build

    # 0.003 like the rowdup fixture: the ~1/37 band needs enough rows to
    # deterministically hit documents (≥1 conflicted doc_id); the rarer
    # 1/211 v3 band is asserted on the bigger events/lineitem tables only
    dst = str(tmp_path_factory.mktemp("genfix") / "sf0.003_conflict")
    build(spark, dst, 0.003, conflict=True)
    return dst


@pytest.fixture(scope="module")
def conflict_duck(conflict_dir):
    import duckdb

    from json_parquet_convertor_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(conflict_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", CONFLICT_SENSITIVE)
def test_conflict_sensitive_queries_match_on_conflict_fixture(
    spark, conflict_duck, conflict_dir, name
):
    from tests.oracle_utils import compare_query

    ok, detail = compare_query(
        spark, conflict_duck, registry.QUERIES[name], registry.ORACLES[name],
        conflict_dir,
    )
    assert ok, f"{name}: {detail}"


def test_conflict_fixture_has_conflicting_versions(conflict_duck):
    """The axis's shape contract: same primary id with a DIFFERENT
    payload (the violation --rowdup never produces — its copies are
    byte-identical), keys and temporal columns IDENTICAL across
    versions, and a v3 band on the bigger tables."""
    n = lambda sql: conflict_duck.execute(sql).fetchone()[0]  # noqa: E731
    # conflicting (not just duplicated) ids on events, orders, documents
    assert n(
        "SELECT COUNT(*) FROM (SELECT event_id FROM events GROUP BY 1"
        " HAVING COUNT(DISTINCT event_type) > 1)"
    ) > 0
    assert n(
        "SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1"
        " HAVING COUNT(DISTINCT o_totalprice) > 1)"
    ) > 0
    assert n(
        "SELECT COUNT(*) FROM (SELECT doc_id FROM documents GROUP BY 1"
        " HAVING COUNT(DISTINCT text) > 1)"
    ) > 0
    # three versions somewhere on events (the 1/211 band)
    assert n(
        "SELECT COUNT(*) FROM (SELECT event_id FROM events GROUP BY 1"
        " HAVING COUNT(DISTINCT event_type) >= 3)"
    ) > 0
    # temporal and key columns identical across versions: the ambiguity
    # must not be resolvable by any (key, time) sort
    assert n(
        "SELECT COUNT(*) FROM (SELECT event_id FROM events GROUP BY 1"
        " HAVING COUNT(DISTINCT ts) > 1 OR COUNT(DISTINCT user_id) > 1)"
    ) == 0
    assert n(
        "SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY 1"
        " HAVING COUNT(DISTINCT o_orderdate) > 1"
        " OR COUNT(DISTINCT o_custkey) > 1)"
    ) == 0
    # drift is marked: v2 strings carry the suffix
    assert n(
        "SELECT COUNT(*) FROM orders WHERE o_orderstatus LIKE '%~v2'"
    ) > 0


def test_uri_host_rejects_version_marker(spark):
    """The behavior both URL oracles mirror (q_fn_url, q_text_dedup_url):
    java.net.URI demotes an authority containing any char outside
    [A-Za-z0-9.-] to registry-based, so HOST extraction is NULL — '~' is
    RFC 3986 unreserved but not hostname-legal. Only the sf0.1 composed
    fixture populates a >1-doc dedup group on a drifted host, so the JVM
    rule is pinned directly here."""
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(
            F.try_parse_url(
                F.lit("https://crawl-src0~v2.example.com/a/b?q=1"),
                F.lit("HOST"),
            ).alias("h"),
            F.try_parse_url(
                F.lit("https://crawl-src0~v2.example.com/a/b?q=1"),
                F.lit("PATH"),
            ).alias("p"),
            F.try_parse_url(
                F.lit("https://crawl-src0.example.com/a/b?q=1"),
                F.lit("HOST"),
            ).alias("ok"),
        )
        .first()
    )
    assert row["h"] is None          # component-local NULL
    assert row["p"] == "/a/b"        # path still parses
    assert row["ok"] == "crawl-src0.example.com"


_TERM_DOCS = [
    (1, "alpha beta gamma"),
    (1, "alpha beta"),
    (2, "beta delta delta"),
    (3, "alpha epsilon"),
]

#: the queries built on operators/terms.py
_TERM_QUERIES = [
    "q_text_tfidf",
    "q_text_keywords",
    "q_rank_bm25",
    "q_text_entropy",
    "q_text_lm_score",
    "q_text_vocab",
    "q_text_zipf",
    "q_text_hapax",
    "q_agg_freq_items",
]


@pytest.mark.parametrize(
    "rows",
    [
        _TERM_DOCS,
        _TERM_DOCS + [(None, "zzqx yyqw zzqx")],
        _TERM_DOCS + [(None, "alpha beta")],
    ],
    ids=["conflict", "null_doc_id", "null_shared"],
)
def test_term_queries_match_oracles(spark, tmp_path, rows):
    """The term-statistics queries against their oracles when one doc_id
    carries two texts of different token counts (a conflicting
    re-delivery) and when a NULL doc_id carries text. tf then holds two
    rows per shared (doc_id, term), one per doc_len, while df is
    COUNT(DISTINCT doc_id) in the oracles. A NULL doc_id whose terms no
    other document carries gives those terms df 0: the oracles score them
    NULL, and the engine must not raise DIVIDE_BY_ZERO. A NULL doc_id
    sharing its terms adds to tf but not to df."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_utils import compare_query

    n = len(rows)
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": [r[1] for r in rows],
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    path = str(tmp_path / "documents.parquet")
    pq.write_table(table, path)
    con = duckdb.connect()
    failed = {}
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
        )
        for name in _TERM_QUERIES:
            ok, detail = compare_query(
                spark, con, registry.QUERIES[name], registry.ORACLES[name],
                str(tmp_path),
            )
            if not ok:
                failed[name] = detail
    finally:
        con.close()
    assert not failed, failed
