"""Streaming operators (SURVEY.md §2 B9) — the reference's core identity.

The reference IS a streaming job: SQS-notified JSON files converted to
parquet with at-least-once ack (``/root/reference/convertor/convertor.go:
79-104`` poll loop, ``:157-164`` ack, ``:59-75`` worker pool). Here that
generalizes to Structured Streaming: file-source micro-batches replace the
SQS poll, checkpoint + the parquet sink's ``_spark_metadata`` commit log
replace the visibility-timeout lease and upgrade at-least-once to
exactly-once per sink file.

Correctness strategy (SURVEY §5): the four windowed/dedup queries run in
BATCH mode against the ``events`` table so DuckDB can oracle them — the
window semantics (tumbling/sliding/session/dedup) are identical in a stream,
which ``tests/test_streaming.py`` asserts via readStream+Trigger.AvailableNow
(stream ≡ batch). ``q_stream_convert`` and ``q_stream_watermark`` ARE real
readStream executions (rows-only oracle — DuckDB cannot run a stream).

Cross-engine note: window bounds leave as epoch-second BIGINTs, not
timestamps — DuckDB's epoch-reconstruction returns TIMESTAMPTZ which
hash-compares differently from Spark's naive timestamps.

Scale posture: all window aggregations are single-shuffle hash aggregates
keyed on (window, key); state size in a real stream is bounded by the
watermark horizon, and the file source parallelizes by input split exactly
like the batch scan. ``maxFilesPerTrigger`` is the back-pressure knob
(replacing the reference's bounded channel, convertor.go:60).
"""

from __future__ import annotations

import json
import os
import sys
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_parquet_convertor_spark import convert
from json_parquet_convertor_spark.exact import dsum
from json_parquet_convertor_spark.registry import query
from json_parquet_convertor_spark.sources.io import load_table, materialize, run_tmp


def _win_epoch(col: str) -> F.Column:
    """Window-bound timestamp → epoch seconds (truncating, matches oracle
    floor(epoch(...)))."""
    return F.col(col).cast("long")


@query(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT) AS win_start,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 + 600 AS BIGINT) AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window count/sum per event_type. Epoch-aligned
    windows — identical bucketing in batch and stream mode."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            _win_epoch("w.start").alias("win_start"),
            _win_epoch("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_sliding",
    oracle="""
    WITH e AS (
        SELECT value, floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 AS s1
        FROM events
    ),
    expanded AS (
        SELECT value, s1 AS win_start FROM e
        UNION ALL
        SELECT value, s1 - 300 AS win_start FROM e
    )
    SELECT CAST(win_start AS BIGINT) AS win_start,
           CAST(win_start + 600 AS BIGINT) AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (10 min wide, 5 min slide) — every event lands in
    exactly 2 windows; the oracle expands that membership explicitly via
    UNION ALL of the two epoch-aligned starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            _win_epoch("w.start").alias("win_start"),
            _win_epoch("w.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "q_stream_session",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events
    ),
    -- both window passes order by (ts, event_id) — a TOTAL order. With
    -- ORDER BY ts alone, tied timestamps (--dupes sweep) are sequenced
    -- arbitrarily and INDEPENDENTLY in the two passes; when the orders
    -- disagree, the running SUM can pass tie-group rows before reaching
    -- the row that carries the group's new_s=1 flag, splitting one
    -- session's rows across two islands nondeterministically
    flags AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_s,
               event_id
        FROM e
    ),
    sess AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS sid
        FROM flags
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(MAX(ts) + INTERVAL 30 MINUTE)) AS BIGINT) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 30-minute inactivity gap.
    Spark: native session_window (merging state store windows in a stream).
    Oracle: the classic gap-and-island rewrite — lag + cumulative new-session
    flags. Session end = last event + gap, matching session_window's bound."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            _win_epoch("w.start").alias("session_start"),
            _win_epoch("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "q_stream_dedup",
    oracle="""
    WITH amplified AS (
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
        UNION ALL
        SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_id % 10 = 0
    )
    SELECT event_id, user_id, event_type, ts, value FROM amplified
    -- least-payload-wins (r13, --conflict): see the docstring contract.
    -- NULLS FIRST on every payload column = Spark's ASC default; a
    -- struct-MAX pick would NOT mirror (DuckDB sorts a NULL struct
    -- field greatest, Spark smallest — probed r13).
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY event_id
        ORDER BY user_id ASC NULLS FIRST, event_type ASC NULLS FIRST,
                 ts ASC NULLS FIRST, value ASC NULLS FIRST
    ) = 1
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup by event_id after simulating the reference's at-least-once
    redelivery (convertor.go:48 — a message re-appears after the visibility
    timeout; every 10th event is re-delivered here). Batch dropDuplicates is
    deterministic because redelivered rows are bit-identical; the streaming
    twin (dropDuplicates within a watermark, bounded state) is exercised in
    tests/test_streaming.py.

    Winner contract (r13, --conflict): copies of a primary id need NOT be
    identical — a record updated at the source between deliveries arrives
    with the same id and a drifted payload (the non-idempotent
    at-least-once race). An arbitrary dropDuplicates keep is then
    engine-nondeterministic, so the dedup picks the lexicographically
    LEAST payload (user_id, event_type, ts, value; NULLS FIRST —
    Spark's ASC default, pinned in the oracle). With a real version /
    ingest-sequence column the same window would order by it instead —
    the shape is last-writer-wins with a total version order. (The r12
    sf1.0 INT96-wrap forgery was a different thing — a fixture BUG this
    differential rightly flagged; --conflict makes the legal-update case
    part of the contract.)"""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    redelivered = ev.filter(F.col("event_id") % 10 == 0)
    w = Window.partitionBy("event_id").orderBy(
        F.asc_nulls_first("user_id"),
        F.asc_nulls_first("event_type"),
        F.asc_nulls_first("ts"),
        F.asc_nulls_first("value"),
    )
    return (
        ev.unionByName(redelivered)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# real readStream executions (rows-only: DuckDB cannot run a stream)
# ---------------------------------------------------------------------------

# Stateful streaming cost is dominated by per-shard state-store overhead
# (load + snapshot + commit per micro-batch per shard), and the shard count
# is fixed at the FIRST batch from spark.sql.shuffle.partitions. The count
# is min(n, defaultParallelism): a few thousand window/user keys need
# nowhere near 32 shards (at sf0.1, 8 shards ran the watermark stream 4-7x
# faster than 32), and more shards than task slots run in several waves
# per micro-batch, each shard paying its fixed cost. On 4 vCPUs with Spark
# in local[3], capping 8 shards at 3 cut q_stream_watermark from 1.47 s to
# 1.03 s per call (median of 12 runs; 20 tasks to 10); hosts with 8 or more
# slots keep 8. On a real cluster you size this to state volume (keys x
# bytes / executor memory); the batch queries are unaffected (the conf is
# restored).
_STREAM_STATE_PARTITIONS = 8


@contextmanager
def _stream_shuffle(spark: SparkSession, n: int = _STREAM_STATE_PARTITIONS):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    n = min(n, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _drain_to_memory(
    spark: SparkSession, frame: DataFrame, mode: str
) -> DataFrame:
    """Run streaming ``frame`` to its end (``availableNow``) into a memory
    sink under :func:`_stream_shuffle` and return the sink's rows.

    The sink registers a temp view in the caller's session; the returned
    frame is resolved from it first and the view is dropped, so repeated
    calls leave no views (or their driver-held rows) behind."""
    sink = f"jpc_mem_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle(spark):
        q = (
            frame.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = spark.table(sink)
    spark.catalog.dropTempView(sink)
    return out


def _replay_source(
    spark: SparkSession, sf_dir: str, name: str, build, nfiles: int = 4
) -> str:
    """Write ``build()`` once as a parquet dir usable as a stream source
    (the fixture stores TIMESTAMP(NANOS), which the file source can't read
    directly). The copy follows the one freshness rule for everything
    derived from a fixture (``sources.io.materialize``): it is rewritten
    only when a table stamp under ``sf_dir`` changes, so bench reps and
    verify sweeps pay the write once and a rewritten fixture never replays
    old rows. ``nfiles=1`` pins a SINGLE source file — one data
    micro-batch under AvailableNow, so watermark-vs-arrival-order effects
    cannot occur (q_stream_watermark's promoted oracle depends on that
    determinism)."""
    return materialize(
        os.path.join("replay", name),
        sf_dir,
        lambda d: build().coalesce(nfiles).write.mode("overwrite").parquet(d),
    )


# The stream's sink read-back is fully determined by the embedded reference
# samples (convert.SAMPLE_PERSONS — sample_json/person{2,3,4}.json), so the
# oracle can state the expected rows — built FROM the same dict, so editing
# a sample can never silently diverge the two engines.
_CONVERT_EXPECTED_VALUES = ",\n           ".join(
    "('%s', '%s', '%s', CAST(%d AS TINYINT))"
    % (d["ID"], d["name"], d["nationality"], d["age"])
    for d in (
        json.loads(body) for body in sorted(convert.SAMPLE_PERSONS.values())
    )
)


@query(
    "q_stream_convert",
    oracle=f"""
    SELECT id, name, nationality, age
    FROM (VALUES
           {_CONVERT_EXPECTED_VALUES}
    ) AS t(id, name, nationality, age)
    ORDER BY id
    """,
)
def q_stream_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference end-to-end as a stream (A1→A6→A7): watch a directory of
    JSON person files → schema-enforced parse → rename/zero-fill/tinyint
    cast → parquet sink with checkpoint, Trigger.AvailableNow.

    The checkpoint + ``_spark_metadata`` commit log is the exactly-once
    upgrade of the reference's delete-after-write SQS ack. maxFilesPerTrigger
    (=2 here) is the back-pressure bound, standing in for the reference's
    ≤10-message poll batches (convertor.go:52).

    Oracled (r10): the sink read-back is deterministic — the three embedded
    reference sample persons, schema-enforced and zero-filled — so the
    DuckDB twin states those rows inline (the q_s3_event_parse pattern),
    generated from the SAME ``convert.SAMPLE_PERSONS`` source of truth."""
    base = run_tmp("stream_convert")
    src = convert.write_sample_json(os.path.join(base, "json"))
    out = os.path.join(base, "parquet")
    ckpt = os.path.join(base, "ckpt")

    stream = (
        spark.readStream.schema(convert.PERSON_JSON_SCHEMA)
        .option("multiLine", "true")
        .option("maxFilesPerTrigger", "2")
        .json(src)
    )
    converted = convert.person_to_parquet_df(stream)
    q = (
        converted.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out).orderBy("id")


@query(
    "q_stream_watermark",
    oracle="""
    WITH b AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events
        WHERE epoch(CAST(ts AS TIMESTAMP)) >= 1704067200
          AND epoch(CAST(ts AS TIMESTAMP)) < 1704240000
    ),
    wm AS (
        SELECT epoch_ms(max(ts)) - 600000 AS wm_ms FROM b
    ),
    w AS (
        SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
               event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM b GROUP BY 1, 2
    )
    SELECT w.win_start, w.event_type, w.n_events
    FROM w, wm
    WHERE (w.win_start + 600) * 1000 <= wm.wm_ms
    """,
)
def q_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling via watermark on a real stream: events replayed
    through a file source, 10-minute watermark, tumbling count,
    APPEND-mode memory sink — only FINALIZED windows (window end at or
    below the final watermark = max event time − 10 min) ever emit; the
    still-open tail windows stay in state and are discarded with the
    query. The watermark bounds the aggregation state exactly as at
    100 TB (windows older than the watermark are finalized and dropped
    from the store); the late-DROP behavior is asserted separately in
    tests/test_streaming.py with a crafted two-batch out-of-order replay.

    Driver contract (r12 verdict task 2, promoted from rows-only): the
    replay is bounded on BOTH ends in epoch seconds (2024-01-01 to
    2024-01-03 UTC — dirty pre-1970/2304 instants from adversarial
    fixtures drop deterministically BEFORE the stream) and written as a
    SINGLE source file, so AvailableNow processes exactly one data
    micro-batch — nothing is ever late relative to an earlier batch's
    watermark, and the emitted set is exactly the closed-form the DuckDB
    oracle states: tumbling counts for windows with
    (win_end)·1000 ≤ epoch_ms(max ts) − 600000 (Spark tracks event-time
    watermarks in milliseconds)."""
    ev = (
        load_table(spark, sf_dir, "events")
        # bounded replay window, both ends, stated in epoch seconds so
        # no engine-local timestamp-literal parsing is involved
        .filter(
            (F.col("ts") >= F.timestamp_seconds(F.lit(1704067200)))
            & (F.col("ts") < F.timestamp_seconds(F.lit(1704240000)))
        )
        .select("ts", "event_type", "value")
    )
    src = _replay_source(spark, sf_dir, "watermark1f", lambda: ev, nfiles=1)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            _win_epoch("w.start").alias("win_start"),
            "event_type",
            "n_events",
        )
    )
    return _drain_to_memory(spark, agg, "append")


@query(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(floor(epoch(MAX(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running profile (event count + last-seen timestamp) held in
    explicit keyed state — the arbitrary-state API that covers operators the
    built-in windowed aggs can't express (per-entity accumulators, custom
    session logic, online feature stores).

    The state store scales horizontally: state is partitioned by the group
    key exactly like a shuffle, each executor holds only its keys' state,
    and checkpointing makes it fault-tolerant. Here the replay is a single
    AvailableNow batch over one file, so the final emission per user equals
    the batch aggregate and the query is DuckDB-oracleable.

    The event time crosses the Arrow boundary as epoch MICROS (unix_micros,
    JVM-side), never as a raw timestamp: pyarrow casts timestamp[us] to
    datetime64[ns] on the way into pandas, so one dirty instant past
    2262-04-11 (the ms-vs-s corruption class) would crash the worker.
    Longs are also cheaper to ship, and Python floor-division reproduces
    the oracle's floor(epoch(ts)) exactly — including NEGATIVE pre-1970
    epochs, where int(ts.timestamp()) would truncate toward zero and an
    all-populated ``last = 0`` seed would silently win max()."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    src = _replay_source(spark, sf_dir, "stateful", lambda: ev)

    def track(key, pdf_iter, state: GroupState):
        count, last_us = state.get if state.exists else (0, None)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            count += len(pdf)
            batch_last = int(pdf["ts_us"].max())
            last_us = batch_last if last_us is None else max(last_us, batch_last)
        state.update((count, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [count],
                # floor division: -0.7s epochs floor to -1, matching
                # the oracle's floor(epoch(ts)) for pre-1970 instants
                "last_seen": [None if last_us is None else last_us // 1_000_000],
            }
        )

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id long, n_events long, last_seen long",
        stateStructType="count long, last long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_to_memory(spark, out, "update")


@query(
    "q_stream_enrich",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT event_type,
               CAST(length(event_type) AS BIGINT) AS weight
        FROM events
    )
    SELECT e.event_type, d.weight,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4)) * d.weight) AS DOUBLE)
               AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY 1, 2
    """,
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — THE feature-pipeline shape: an
    unbounded event stream joined per-micro-batch against a bounded
    dimension (user profile, price list), then aggregated. The static side
    broadcasts — no stream-side shuffle for the join, and the dimension is
    re-resolvable per batch (a slowly-changing dim picks up updates).

    Real readStream execution (AvailableNow over the memoized replay copy);
    the dim is derived deterministically from the data (weight =
    length(event_type)) so DuckDB can oracle the stream's final output."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    src = _replay_source(spark, sf_dir, "enrich", lambda: ev)

    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.length("event_type").cast("long").alias("weight"),
        )
    )
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = (
        stream.join(F.broadcast(dim), "event_type")
        .groupBy("event_type", "weight")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)") * F.col("weight"))
            .cast("double")
            .alias("weighted_value"),
        )
    )
    return _drain_to_memory(spark, agg, "complete")


@query(
    "q_stream_join",
    oracle="""
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
        WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01'
          AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-05'
    ),
    -- DISTINCT on each side = the engine's streaming dropDuplicates
    -- ingest guard (r12): pair multiplicity under at-least-once
    -- re-delivery and instant-collapse is multiplicative (n_c × n_p per
    -- (user, instant) — the sf1.0 composed fixture's single-user
    -- 48-instant events make the bag-pair set ~1e10 rows in BOTH
    -- engines); the distinct attribution-pair set is the well-defined,
    -- scale-bounded contract
    -- DuckDB DISTINCT already collapses -0.0 with +0.0 (value
    -- equality), matching the engine's explicit signed-zero
    -- canonicalization before its streaming dedup state
    c AS (SELECT DISTINCT user_id, ts AS click_ts
          FROM e WHERE event_type = 'click'),
    p AS (SELECT DISTINCT user_id, ts AS buy_ts, value
          FROM e WHERE event_type = 'purchase')
    SELECT c.user_id,
           CAST(floor(epoch(click_ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(buy_ts)) AS BIGINT) AS buy_epoch,
           value
    FROM c JOIN p ON c.user_id = p.user_id
       AND buy_ts >= click_ts
       AND buy_ts < click_ts + INTERVAL 30 MINUTE
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — click→purchase attribution within 30
    minutes per user, both sides unbounded. THE hard streaming primitive:
    each side must buffer rows until the other side's watermark passes the
    interval bound, so the join condition's time range IS the state-size
    contract (state = 30 minutes of both streams, per key, regardless of
    total data volume).

    Real readStream on both sides (same replay source, filtered per side),
    watermarks on both, append mode. AvailableNow drains everything, so the
    emitted matches equal the batch interval join and DuckDB can oracle a
    stream-stream join exactly.

    Output contract (r12): the DISTINCT attribution pair set — each side
    passes a streaming dropDuplicates on its output-identity columns
    first (state watermark-bounded), because bag-pair multiplicity is
    n_clicks × n_buys per (user, instant): quadratic under duplicate
    delivery or instant collapse, in any engine."""
    # four days of events gives thousands of attribution matches; replaying
    # the full month only inflates the per-invocation state warm-up (the
    # interval-join state contract is time-bounded, not volume-bounded).
    # The window is bounded on BOTH ends: an arbitrarily-late dirty event
    # (a 1902 timestamp — the --dates axis) would be dropped by the
    # watermark mid-stream in file-order-dependent fashion, which no batch
    # oracle can reproduce; a replay job defines its input window
    # explicitly, so the drop happens deterministically BEFORE the stream.
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-05").cast("timestamp"))
        )
        .select("user_id", "event_type", "ts", "value")
    )
    src = _replay_source(spark, sf_dir, "join", lambda: ev)

    def side(event_type: str):
        return (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts", "10 minutes")
        )

    # streaming dropDuplicates ingest guard on each side (r12, sf1.0
    # composed sweep): the emitted contract is the DISTINCT attribution
    # pair set. Bag pairs are multiplicative — n_clicks × n_buys per
    # (user, instant) — so at-least-once re-delivery (--rowdup) and
    # instant/user collapse (--dupes × --extreme: one user, 48 distinct
    # instants, 1.3M events in the window) make the bag output ~1e10
    # rows in ANY engine. Dedup keyed on the OUTPUT identity columns,
    # pushed to the inputs where the watermark bounds the dedup state —
    # the join then emits distinct pairs by construction.
    # r14 (guide §2.3 narrower state, VERDICT item 7): project each side
    # to its OUTPUT columns BEFORE the streaming dropDuplicates — the
    # dedup state store and its exchange then carry exactly the dedup
    # key instead of the full event row (clicks dropped event_type AND
    # value after dedup anyway; buys dropped event_type). Same dedup
    # keys, same emitted columns — only the state row narrows.
    clicks = (
        side("click")
        .select("user_id", "ts")
        .dropDuplicates(["user_id", "ts"])
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
        )
    )
    buys = (
        side("purchase")
        # signed-zero canonicalization BEFORE streaming state (r12 sf0.1
        # fifteen-axes catch): batch grouping normalizes -0.0 == +0.0
        # (NormalizeFloatingNumbers) and DuckDB DISTINCT collapses them,
        # but streaming dropDuplicates keys its state store on the raw
        # binary row, where the two zeros differ by a sign bit — a
        # -0.0-valued purchase survives dedup as a SECOND state entry
        # next to its +0.0 twin and the join emits the attribution pair
        # twice. Any float that becomes a stream-state key must be
        # bit-canonicalized first.
        .select(
            "user_id",
            "ts",
            F.when(F.col("value") == 0, F.lit(0.0))
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .dropDuplicates(["user_id", "ts", "value"])
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("buy_ts"),
            "value",
        )
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") < F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("c_user").alias("user_id"),
        F.col("click_ts").cast("long").alias("click_epoch"),
        F.col("buy_ts").cast("long").alias("buy_epoch"),
        "value",
    )
    raw = _drain_to_memory(spark, joined, "append")
    # Idempotent sink (r12): exactly-once for an at-least-once stream is
    # always in-flight dedup PLUS an idempotent sink keyed on output
    # identity (a Delta/Iceberg MERGE in production; a keyed distinct on
    # the memory table here). Two escape classes it closes: [1] a copy
    # re-delivered later than the watermark delay (at-least-once makes no
    # lateness promise) re-enters after its dedup state expired; [2] any
    # residual binary-unequal-but-value-equal state keys (the signed-zero
    # class above — this batch-side dedup normalizes floats where the
    # stream-state key does not). The streaming dedup still does the
    # load-bearing work: it bounds in-flight pair multiplicity so the
    # sink dedups near-distinct rows, not the n_c × n_p bag.
    #
    # Observability (r12 ADVICE): the sink dedup must not SILENTLY absorb
    # a genuine duplicate-emission regression in the streaming path — only
    # the two documented escape classes are expected to hit it, and on the
    # driver fixtures neither populates, so any non-zero removal in a
    # sweep is a signal worth seeing. Count before/after and print to
    # stderr whenever rows were removed (always-on: the memory table is
    # micro-batch sized, the two counts are cheap, and a silent guard is
    # exactly what the advice flags).
    deduped = raw.dropDuplicates(
        ["user_id", "click_epoch", "buy_epoch", "value"]
    )
    n_raw, n_dedup = raw.count(), deduped.count()
    if n_raw != n_dedup:
        print(
            f"[q_stream_join] sink dedup removed {n_raw - n_dedup} "
            f"duplicate pair(s) ({n_raw} -> {n_dedup}); expected only for "
            "post-watermark re-delivery or binary-unequal state keys — "
            "investigate if neither axis is active",
            file=sys.stderr,
        )
    return deduped


@query(
    "q_stream_foreachbatch",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: the escape hatch that applies arbitrary BATCH
    logic to every micro-batch — the pattern behind streaming upserts into
    engines without a native streaming sink (JDBC, key-value stores,
    non-transactional object layouts).

    Exactly-once here comes from idempotence, not transactions: each batch
    writes its partial per-user aggregate to ``out/batch_id=N`` with
    overwrite, so a replayed batch (restart after crash, before the
    checkpoint commit) rewrites the SAME bytes instead of appending dupes
    (asserted by the restart test in tests/test_streaming.py). The final
    read-back re-aggregates the partials — sum-of-sums in exact DECIMAL, so
    the result equals the one-shot batch aggregate the oracle runs.

    Scale posture: the streaming query itself is STATELESS (aggregation
    happens inside foreachBatch on each bounded batch), so there is no
    state store at all — per-batch cost is a plain hash aggregate, and
    unbounded key cardinality cannot accumulate in memory across batches;
    the partial-sums directory plays the role of the external store."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = _replay_source(spark, sf_dir, "fbatch", lambda: ev)

    base = run_tmp("stream_fbatch")
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")

    def _fb(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("value_dec"),
            )
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={batch_id}")
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(_fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
    )


@query(
    "q_stream_s3_events",
    oracle="""
    SELECT 'jpc-landing' AS bucket,
           'incoming/' || event_type || '/' || CAST(event_id AS VARCHAR)
               || ' raw.json' AS key,
           CAST(floor(value * 100) AS BIGINT) AS size_bytes
    FROM events
    """,
)
def q_stream_s3_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's poll loop end-to-end as a stream (A1+A2): a
    readStream of queued S3 event-notification bodies parsed into work
    items with the SAME stateless parse stage as q_s3_event_parse
    (from_json → explode ALL Records[] → url_decode), micro-batched with
    back-pressure (maxFilesPerTrigger, the bounded-channel analogue of
    ``convertor/convertor.go:60``).

    Because the parse is stateless, the streaming plan needs no state
    store and no watermark: each micro-batch maps bodies → work items at
    scan speed, append-mode. That is exactly the reference's worker-pool
    economics (one message in, N work items out, no cross-message state)
    with Spark's scheduler replacing the hand-rolled pool — and a
    restart resumes from the checkpoint instead of relying on SQS
    redelivery."""
    from json_parquet_convertor_spark.operators.relational import (
        parse_s3_events,
        s3_notification_bodies,
    )

    src = _replay_source(
        spark, sf_dir, "s3events",
        lambda: s3_notification_bodies(spark, sf_dir),
    )
    stream = (
        spark.readStream.schema("body string")
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    return _drain_to_memory(spark, parse_s3_events(stream), "append")


# ---------------------------------------------------------------------------
# streaming quality gate (dead-letter routing per micro-batch)
# ---------------------------------------------------------------------------


@query(
    "q_stream_quality_gate",
    oracle="""
    SELECT CASE WHEN l_quantity <= 45 THEN 'good'
                ELSE 'quarantine' END AS sink,
           l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quality gate with dead-letter routing — the ingestion
    pattern the reference lacks entirely (convertor.go:135-154 writes
    whatever parses): each micro-batch splits on a business rule
    (quantity <= 45; oversize orders go to review) and lands in TWO
    parquet sinks — the clean table and the quarantine dead-letter
    dir — via foreachBatch, the only streaming construct that can
    fan one batch out to multiple writers. The returned frame audits
    both sinks by reading them BACK (counts by sink and return flag),
    so the check covers the round trip, not the in-memory split.

    Scale posture: the rule evaluates inside the stream's scan stage
    (no shuffle before the split); each sink write lands that batch's
    partitions under ``<sink>/batch_id=N``. Exactly-once: both sinks
    use the batchId-keyed idempotent overwrite of q_stream_foreachbatch
    (batch.py:517) — a replayed batch (restart after crash, before the
    checkpoint commit) rewrites the SAME ``batch_id=N`` directory
    instead of appending dupes. The read-back supplies the expected
    schema explicitly so an all-good run (empty quarantine sink, no
    part files to infer from) still audits cleanly."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    src = _replay_source(spark, sf_dir, "qgate", lambda: li)
    base = run_tmp("stream_qgate")
    good_dir = os.path.join(base, "good")
    quar_dir = os.path.join(base, "quarantine")
    ckpt = os.path.join(base, "ckpt")
    # null-closed routing: a NULL quantity makes `l_quantity <= 45` NULL,
    # which a bare filter would drop from BOTH sinks — the dead-letter
    # contract is that every row lands in exactly one, so the rule
    # coalesces to False and NULLs fall into quarantine (as the oracle's
    # CASE ... ELSE 'quarantine' already does)
    good_rule = F.coalesce(F.col("l_quantity") <= 45, F.lit(False))

    def route(batch, batch_id):
        # batchId-keyed overwrite = idempotent under redelivery: a retried
        # batch rewrites its own batch_id=N dir in BOTH sinks, never appends
        batch.filter(good_rule).write.mode("overwrite").parquet(
            f"{good_dir}/batch_id={batch_id}"
        )
        batch.filter(~good_rule).write.mode("overwrite").parquet(
            f"{quar_dir}/batch_id={batch_id}"
        )

    stream = spark.readStream.schema(li.schema).parquet(src)
    with _stream_shuffle(spark):
        q = (
            stream.writeStream.foreachBatch(route)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # explicit schema: an all-good (or all-bad) run leaves one sink with
    # batch_id=N dirs but zero part files, where inference would fail;
    # the user schema excludes batch_id so the partition column is dropped
    good = spark.read.schema(li.schema).parquet(good_dir).withColumn(
        "sink", F.lit("good")
    )
    quar = spark.read.schema(li.schema).parquet(quar_dir).withColumn(
        "sink", F.lit("quarantine")
    )
    return (
        good.unionByName(quar)
        .groupBy("sink", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
        )
    )
