"""B9 streaming harness tests (SURVEY.md §5 strategy 4).

The oracled B9 queries run in batch mode for the DuckDB gate; these tests
replay the same data through a REAL readStream (file source,
Trigger.AvailableNow) and assert:

1. stream ≡ batch for the tumbling window aggregation;
2. the watermark actually drops late data (two-micro-batch out-of-order
   replay with maxFilesPerTrigger=1);
3. streaming dropDuplicates dedups a redelivered event within the watermark.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F


def _stream_events_dir(spark, sf_dir, tmp_path) -> str:
    """Materialize events (micros timestamps) as a parquet dir a file source
    can watch."""
    from json_parquet_convertor_spark.sources.io import load_table

    src = str(tmp_path / "events_src")
    load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).write.mode("overwrite").parquet(src)
    return src


def _run_windowed_stream(spark, src, window_args):
    schema = spark.read.parquet(src).schema
    sink = f"jpc_t_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .groupBy(F.window("ts", *window_args).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            F.col("w.end").cast("long").alias("win_end"),
            "event_type",
            "n_events",
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {tuple(r) for r in spark.table(sink).collect()}


@pytest.mark.parametrize("window_args", [("10 minutes",), ("10 minutes", "5 minutes")])
def test_stream_equals_batch_windows(spark, sf_dir, tmp_path, window_args):
    """Tumbling and sliding window aggregations must produce identical
    results replayed through a real readStream and computed in batch."""
    from json_parquet_convertor_spark.sources.io import load_table

    batch = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", *window_args).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").cast("long").alias("win_start"),
            F.col("w.end").cast("long").alias("win_end"),
            "event_type",
            "n_events",
        )
        .collect()
    }
    src = _stream_events_dir(spark, sf_dir, tmp_path)
    streamed = _run_windowed_stream(spark, src, window_args)
    assert streamed == batch


def _write_single_parquet(df, target_file: str) -> None:
    """Write df as exactly one parquet FILE (file sources watch flat files)."""
    tmp = target_file + ".dir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".parquet")
    )
    shutil.move(os.path.join(tmp, part), target_file)
    shutil.rmtree(tmp)


def test_watermark_drops_late_data(spark, tmp_path):
    src = tmp_path / "wm_src"
    src.mkdir()

    def ts_df(*stamps):
        return spark.createDataFrame(
            [(s, 1) for s in stamps], ["ts_s", "v"]
        ).select(F.col("ts_s").cast("timestamp").alias("ts"), "v")

    # batch 1: an event in the 09:00 window, plus one at 11:00 that moves the
    # watermark to 10:50 (effective from the NEXT batch — watermark
    # propagation lags one micro-batch)
    _write_single_parquet(
        ts_df("2024-01-01 09:05:00", "2024-01-01 11:00:00"), str(src / "a.parquet")
    )
    # batch 2: on-time event; the 10:50 watermark takes effect, finalizing
    # and emitting the 09:00 window with count 1
    _write_single_parquet(ts_df("2024-01-01 11:01:00"), str(src / "b.parquet"))
    # batch 3: a LATE event for the long-closed 09:00 window — must be dropped
    _write_single_parquet(ts_df("2024-01-01 09:01:00"), str(src / "c.parquet"))
    for i, name in enumerate(["a.parquet", "b.parquet", "c.parquet"]):
        os.utime(src / name, (1_000_000 * (i + 1),) * 2)

    sink = f"jpc_wm_t_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("long").alias("win_start"), "n")
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["win_start"]: r["n"] for r in spark.table(sink).collect()}

    win_0900 = 1704099600  # 2024-01-01 09:00:00 UTC
    # the 09:00 window was finalized with only the on-time event; the late
    # one was dropped by the watermark (batch mode would count 2)
    assert rows.get(win_0900) == 1, rows
    # and the dropped event did not resurrect the window as a second row
    assert len([r for r in rows if r == win_0900]) == 1


def test_stream_convert_checkpoint_restart_is_exactly_once(spark, tmp_path):
    """The reference acks an SQS message only after the parquet write
    (convertor/convertor.go:48,157-164): a crash between write and ack
    redelivers the message after the visibility timeout and the file is
    converted AGAIN — at-least-once. The Structured Streaming upgrade:
    the checkpoint + sink commit log make a restart skip everything already
    committed, even though the same input files are still sitting in the
    source directory (the redelivery analogue), and a rewrite of an
    already-seen path is not reprocessed either. Restarting must add zero
    rows; only a genuinely new file adds exactly its own rows."""
    import json as _json

    from json_parquet_convertor_spark import convert

    src = str(tmp_path / "json_in")
    out = str(tmp_path / "parquet_out")
    ckpt = str(tmp_path / "ckpt")

    def person(pid, age):
        return _json.dumps(
            {"ID": pid, "name": f"p{pid}", "nationality": "XX", "age": age}, indent=1
        )

    def run_once():
        stream = (
            spark.readStream.schema(convert.PERSON_JSON_SCHEMA)
            .option("multiLine", "true")
            .json(src)
        )
        q = (
            convert.person_to_parquet_df(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["id"] for r in spark.read.parquet(out).collect())

    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(person("1", 30))
    with open(os.path.join(src, "b.json"), "w") as f:
        f.write(person("2", 40))
    assert run_once() == ["1", "2"]

    # restart 1: same inputs still present (= un-acked redelivery) — and one
    # of them rewritten in place with identical content; nothing reprocessed
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write(person("1", 30))
    assert run_once() == ["1", "2"]

    # restart 2: one genuinely new file — exactly its rows are appended
    with open(os.path.join(src, "c.json"), "w") as f:
        f.write(person("3", 50))
    assert run_once() == ["1", "2", "3"]


def test_stream_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dd_src"
    src.mkdir()

    def ev_df(rows):
        return spark.createDataFrame(rows, ["event_id", "ts_s"]).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        )

    _write_single_parquet(
        ev_df([(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:01:00")]),
        str(src / "a.parquet"),
    )
    # redelivery of event 1 (the reference's at-least-once retry) in a later
    # micro-batch, still inside the watermark horizon
    _write_single_parquet(
        ev_df([(1, "2024-01-01 10:00:00"), (3, "2024-01-01 10:02:00")]),
        str(src / "b.parquet"),
    )
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    sink = f"jpc_dd_t_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "30 minutes")
        .dropDuplicates(["event_id"])
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ids = sorted(r["event_id"] for r in spark.table(sink).collect())
    assert ids == [1, 2, 3], ids


def test_streaming_dedup_state_does_not_normalize_signed_zero(spark, tmp_path):
    """The r12 sf0.1 fifteen-axes catch's PREMISE, pinned directly: batch
    grouping normalizes -0.0 == +0.0 (NormalizeFloatingNumbers) and DuckDB
    DISTINCT collapses them, but streaming dropDuplicates keys its state
    store on the raw binary row, where the two zeros differ by a sign bit
    — both survive as separate state entries. If a future Spark version
    normalizes stream-state keys too, this trips and q_stream_join's
    explicit signed-zero canonicalization can be retired."""
    src = tmp_path / "nz_src"
    src.mkdir()
    df = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 0.0), (1, "2024-01-01 10:00:00", -0.0)],
        ["user_id", "ts_s", "value"],
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        F.col("value").cast("double"),
    )
    _write_single_parquet(df, str(src / "a.parquet"))

    sink = f"jpc_nz_t_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["user_id", "ts", "value"])
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_stream = spark.table(sink).count()
    # batch dedup on the same rows normalizes to ONE survivor
    n_batch = df.dropDuplicates(["user_id", "ts", "value"]).count()
    assert n_batch == 1
    assert n_stream == 2, (
        "streaming dedup state now normalizes signed zeros — drop the "
        "explicit canonicalization in q_stream_join"
    )


def test_stream_join_is_exactly_once_under_signed_zero_twin(spark, tmp_path):
    """r12 sf0.1 fifteen-axes catch, end-to-end: a purchase re-delivered
    with value -0.0 next to its +0.0 twin (--negative zeros × --rowdup
    re-delivery) survived the streaming dedup as a second state entry and
    q_stream_join emitted its attribution pair TWICE where the batch
    oracle's DISTINCT emitted it once. The query now canonicalizes the
    sign bit before state and dedups the sink on output identity; drive
    the real query over a micro events table carrying the twin and assert
    the pair emits exactly once."""
    from json_parquet_convertor_spark.registry import QUERIES, load_all

    load_all()
    sf_dir = str(tmp_path / "sf_micro")
    os.makedirs(sf_dir)
    ev = spark.createDataFrame(
        [
            (1, "2024-01-02 10:00:00", 7, "click", 0.0, "{}"),
            (2, "2024-01-02 10:05:00", 7, "purchase", 0.0, "{}"),
            (3, "2024-01-02 10:05:00", 7, "purchase", -0.0, "{}"),
            (4, "2024-01-02 11:00:00", 8, "click", 1.0, "{}"),
        ],
        ["event_id", "ts_s", "user_id", "event_type", "value", "props"],
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id",
        "event_type", F.col("value").cast("double"), "props",
    )
    ev.coalesce(1).write.parquet(os.path.join(sf_dir, "events.parquet"))
    out = [tuple(r) for r in QUERIES["q_stream_join"](spark, sf_dir).collect()]
    pair = (7, 1704189600, 1704189900, 0.0)
    assert out.count(pair) == 1, out


def test_foreachbatch_partials_are_idempotent_on_replay(spark, tmp_path):
    """q_stream_foreachbatch's exactly-once claim rests on overwrite-by-
    batchId idempotence: a batch replayed after a crash-before-commit must
    rewrite its partials, not append duplicates; a checkpointed restart
    must process nothing; new source files add exactly their rows."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_src(ids, fname):
        spark.createDataFrame(
            [(i, float(i)) for i in ids], "user_id bigint, value double"
        ).coalesce(1).write.mode("append").parquet(src)
        # parquet file names are uuid'd; fname is just for readability

    def _fb(batch_df, batch_id):
        (
            batch_df.groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("value_dec"),
            )
            .write.mode("overwrite")
            .parquet(f"{out}/batch_id={batch_id}")
        )

    def run_once():
        q = (
            spark.readStream.schema("user_id bigint, value double")
            .parquet(src)
            .writeStream.foreachBatch(_fb)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["user_id"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("user_id")
            .agg(F.sum("n_events").alias("n"))
            .collect()
        }

    write_src([1, 1, 2], "a")
    first = run_once()
    assert first == {1: 2, 2: 1}

    # crash-replay analogue: re-run the foreachBatch body for batch 0 with
    # the same input — overwrite semantics must leave the totals unchanged
    _fb(spark.read.parquet(src), 0)
    assert {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.sum("n_events").alias("n"))
        .collect()
    } == first

    # checkpointed restart with unchanged source: processes nothing
    assert run_once() == first

    # genuinely new data: exactly its rows are added
    write_src([2, 3], "b")
    assert run_once() == {1: 2, 2: 2, 3: 1}


def test_sink_commit_log_hides_uncommitted_files(spark, tmp_path):
    """Sink-level at-least-once→exactly-once proof (reference parity:
    convertor/convertor.go:156-164 acks AFTER the S3 put, so a crash
    between put and ack leaves an orphan object AND redelivers the
    message). The Structured Streaming parquet sink writes a
    ``_spark_metadata`` commit log; a batch reader of the sink directory
    trusts ONLY files listed there — so a data file written by a crashed
    task (present on disk, never committed) must be invisible, with no
    compensating delete needed."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "user_id bigint, value double"
    ).coalesce(1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema("user_id bigint, value double")
        .parquet(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))
    committed = sorted(
        r["user_id"] for r in spark.read.parquet(out).collect()
    )
    assert committed == [1, 2]

    # crashed-task orphan: a well-formed parquet file lands in the sink dir
    # but no commit covers it — the metadata-aware reader must not see it
    orphan_rows = spark.createDataFrame(
        [(99, 990.0)], "user_id bigint, value double"
    )
    orphan_dir = str(tmp_path / "orphan")
    orphan_rows.coalesce(1).write.mode("overwrite").parquet(orphan_dir)
    part = next(
        f for f in os.listdir(orphan_dir) if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(orphan_dir, part),
        os.path.join(out, "part-99999-orphan.snappy.parquet"),
    )
    after = sorted(r["user_id"] for r in spark.read.parquet(out).collect())
    assert after == [1, 2], (
        "uncommitted sink file leaked into reads: %s" % after
    )


def test_redelivered_message_new_file_is_deduped_across_restart(
    spark, tmp_path
):
    """True SQS redelivery is a NEW receive of the SAME message (new file
    in stream terms, same message id) — the file-source checkpoint alone
    cannot dedup it because the path differs. The engine's answer is a
    keyed dropDuplicates stage whose state store persists in the
    checkpoint: the redelivered copy arriving in a LATER run must add
    nothing, while a genuinely new message still flows. (Bounded id-space
    state here; production pairs dropDuplicates with a watermark as in
    q_stream_dedup so state ages out.)"""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def deliver(msg_id, body, fname):
        spark.createDataFrame(
            [(msg_id, body)], "msg_id string, body string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / ("stage_" + fname))
        )
        part = next(
            f
            for f in os.listdir(str(tmp_path / ("stage_" + fname)))
            if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(str(tmp_path / ("stage_" + fname)), part),
            os.path.join(src, fname + ".parquet"),
        )

    def run_once():
        q = (
            spark.readStream.schema("msg_id string, body string")
            .parquet(src)
            .dropDuplicates(["msg_id"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            r["msg_id"] for r in spark.read.parquet(out).collect()
        )

    deliver("m1", "hello", "d1")
    deliver("m2", "world", "d2")
    assert run_once() == ["m1", "m2"]

    # redelivery: same message id, same body, NEW file, next run — the
    # checkpointed dedup state must swallow it
    deliver("m1", "hello", "d1_redelivered")
    assert run_once() == ["m1", "m2"]

    # and a genuinely new message still lands exactly once
    deliver("m3", "!", "d3")
    assert run_once() == ["m1", "m2", "m3"]


def test_processing_time_trigger_runs_continuously_then_stops(
    spark, tmp_path
):
    """Continuous-trigger smoke: every other streaming test drains with
    Trigger.AvailableNow (right for oracling, but it terminates by
    construction). The reference runs FOREVER (convertor.go:74 `for {}`);
    this proves the equivalent long-running mode — processingTime trigger,
    maxFilesPerTrigger back-pressure — executes >= 2 non-empty micro-batches
    against a pre-populated source and then stops cleanly on demand."""
    import time

    src = str(tmp_path / "pt_src")
    os.makedirs(src)
    rows_per_file, n_files = 5, 3
    for i in range(n_files):
        spark.range(i * rows_per_file, (i + 1) * rows_per_file).withColumn(
            "v", F.col("id") * 2
        ).coalesce(1).write.parquet(f"{src}/f{i}", mode="overwrite")
        for f in os.listdir(f"{src}/f{i}"):
            if f.endswith(".parquet"):
                shutil.move(f"{src}/f{i}/{f}", f"{src}/file_{i}.parquet")
        shutil.rmtree(f"{src}/f{i}")

    sink = f"jpc_pt_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema("id long, v long")
        .option("maxFilesPerTrigger", "1")  # forces one file per batch
        .parquet(src)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 90
        total = rows_per_file * n_files
        while time.time() < deadline:
            if spark.table(sink).count() >= total:
                break
            time.sleep(0.5)
        assert spark.table(sink).count() == total
        nonempty = [
            p for p in q.recentProgress if p["numInputRows"] > 0
        ]
        assert len(nonempty) >= 2, [
            p["numInputRows"] for p in q.recentProgress
        ]
    finally:
        q.stop()
    q.awaitTermination(60)
    assert not q.isActive
    assert q.exception() is None


def test_quality_gate_routing_is_idempotent_on_replay(spark, tmp_path):
    """q_stream_quality_gate's dead-letter fan-out must stay exactly-once
    under redelivery (r4 ADVICE: the old mode('append') demo would have
    doubled BOTH sinks on a replayed batch). Mirrors the foreachBatch
    replay proof: re-running the routing body for an already-committed
    batchId must leave both sinks byte-identical, and an all-good batch
    must leave the quarantine sink readable (explicit-schema read-back)."""
    src = str(tmp_path / "src")
    good_dir = str(tmp_path / "good")
    quar_dir = str(tmp_path / "quar")
    ckpt = str(tmp_path / "ckpt")
    schema = "l_orderkey bigint, l_quantity double"

    spark.createDataFrame(
        [(1, 10.0), (2, 50.0), (3, 20.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    good_rule = F.col("l_quantity") <= 45

    def route(batch, batch_id):
        batch.filter(good_rule).write.mode("overwrite").parquet(
            f"{good_dir}/batch_id={batch_id}"
        )
        batch.filter(~good_rule).write.mode("overwrite").parquet(
            f"{quar_dir}/batch_id={batch_id}"
        )

    def counts():
        return (
            spark.read.schema(schema).parquet(good_dir).count(),
            spark.read.schema(schema).parquet(quar_dir).count(),
        )

    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert counts() == (2, 1)

    # crash-replay analogue: redeliver batch 0 -> same bytes, no dupes
    route(spark.read.parquet(src), 0)
    assert counts() == (2, 1)

    # all-good second batch: quarantine's batch_id=1 dir has NO part
    # files; the explicit-schema read-back must still work
    spark.createDataFrame([(4, 5.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .writeStream.foreachBatch(route)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert counts() == (3, 1)


def test_quality_gate_null_quantity_routes_to_quarantine(spark, tmp_path):
    """Dead-letter contract: EVERY row lands in exactly one sink. A NULL
    l_quantity makes `l_quantity <= 45` evaluate to NULL, so a bare
    filter pair (rule / ~rule) drops the row from BOTH sinks (r5 ADVICE).
    Drive the REGISTERED operator on a fixture containing a NULL-quantity
    row and assert it surfaces in the quarantine sink — matching the
    oracle's CASE ... ELSE 'quarantine' — with total row accounting
    intact."""
    fix = tmp_path / "fix"
    fix.mkdir()
    spark.createDataFrame(
        [
            (1, 10.0, "N"),
            (2, 50.0, "N"),
            (3, None, "R"),  # the row a null-open rule would lose
            (4, 45.0, "A"),
        ],
        "l_orderkey bigint, l_quantity double, l_returnflag string",
    ).coalesce(1).write.parquet(str(fix / "lineitem.parquet"))

    from json_parquet_convertor_spark import registry

    registry.load_all()
    out = registry.QUERIES["q_stream_quality_gate"](spark, str(fix))
    rows = {
        (r["sink"], r["l_returnflag"]): (r["n_rows"], r["total_qty"])
        for r in out.collect()
    }
    assert rows[("quarantine", "R")] == (1, None)  # NULL row routed, kept
    assert rows[("quarantine", "N")] == (1, 50)
    assert rows[("good", "N")] == (1, 10)
    assert rows[("good", "A")] == (1, 45)
    assert sum(n for n, _ in rows.values()) == 4  # nothing dropped


def test_stream_shuffle_caps_state_shards_at_task_slots(spark):
    """More state-store shards than task slots would run every micro-batch
    in several waves; the shard count is capped at defaultParallelism and
    the caller's shuffle-partition setting is restored on exit."""
    from json_parquet_convertor_spark.streaming.batch import _stream_shuffle

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    slots = spark.sparkContext.defaultParallelism
    with _stream_shuffle(spark, 64):
        assert int(spark.conf.get(key)) == min(64, slots)
    assert spark.conf.get(key) == before
    with _stream_shuffle(spark, 1):
        assert int(spark.conf.get(key)) == 1
    assert spark.conf.get(key) == before


@pytest.mark.parametrize(
    "name",
    [
        "q_stream_watermark",
        "q_stream_stateful",
        "q_stream_enrich",
        "q_stream_join",
        "q_stream_s3_events",
    ],
)
def test_memory_sink_streams_leave_no_views(spark, sf_dir, name):
    """A memory sink registers a temp view holding its rows on the driver;
    repeated calls must not pile those views up in the caller's session,
    and the returned frame must still read after its view is gone."""
    from json_parquet_convertor_spark import registry

    def views():
        return sorted(t.name for t in spark.catalog.listTables())

    before = views()
    first = registry.QUERIES[name](spark, sf_dir).count()
    second = registry.QUERIES[name](spark, sf_dir).count()
    assert views() == before
    assert first == second
    # the test fixture has no click→purchase pair for q_stream_join
    assert first > 0 or name == "q_stream_join"
