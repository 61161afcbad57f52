"""Structured Streaming: batch/stream parity + stateful sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_gpu_spark.queries import QUERIES
from hadoop_gpu_spark.streaming import events_stream, sessionize_stateful, windowed_counts


def test_windowed_counts_matches_batch(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    agg = windowed_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("wc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["hour"], r["event_type"]): (r["cnt"], round(r["sum_value"], 2))
        for r in spark.table("wc_stream").collect()
    }
    batch = {
        (r["hour"], r["event_type"]): (r["cnt"], round(r["sum_value"], 2))
        for r in QUERIES["q_events_hourly"](spark, sf_dir).collect()
    }
    assert got == batch


def test_sessionize_stateful_runs(spark, sf_dir):
    stream = events_stream(spark, sf_dir)
    sess = sessionize_stateful(stream, gap_minutes=30)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        # the default (no timeout) must let the availableNow drain end
        assert q.awaitTermination(120) is True
    finally:
        q.stop()
    out = spark.table("sess_stream").toPandas()
    # availableNow drains one batch; only sessions closed by a >gap jump
    # inside the batch are emitted — check shape + invariants, not totals.
    if len(out):
        assert (out["session_end"] >= out["session_start"]).all()
        assert (out["n_events"] >= 1).all()


def test_sliding_window_avg_runs(spark, sf_dir):
    from hadoop_gpu_spark.streaming import events_stream, sliding_window_avg

    agg = sliding_window_avg(events_stream(spark, sf_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.table("slide_stream").toPandas()
    assert len(out) > 0
    # each event contributes to window/slide = 2 overlapping windows →
    # slide rows ≈ 2x the hourly distinct (hour, type) combos, minus edges
    assert out["avg_value"].notna().all()


def test_stream_query_reinvocable(spark, sf_dir):
    # The driver may invoke a gate query more than once per session; the
    # streaming-backed entry must tolerate repeated starts of its sink.
    from hadoop_gpu_spark.queries import QUERIES

    a = QUERIES["q_stream_hourly"](spark, sf_dir).count()
    b = QUERIES["q_stream_hourly"](spark, sf_dir).count()
    assert a == b > 0


def test_foreach_batch_partitioned_sink(spark, sf_dir, tmp_path):
    # Streaming MultipleOutputs analog: foreachBatch routing each
    # micro-batch into a lang-partitioned parquet table... for events,
    # partition by event_type.
    import os

    from hadoop_gpu_spark.streaming import events_stream

    out_dir = str(tmp_path / "by_type")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").partitionBy("event_type").parquet(out_dir)

    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    dirs = {d for d in os.listdir(out_dir) if d.startswith("event_type=")}
    assert len(dirs) == 5  # signup/click/error/view/purchase
    back = spark.read.parquet(out_dir)
    from hadoop_gpu_spark.tables import load_table
    assert back.count() == load_table(spark, "events", sf_dir).count()


def test_exact_dedup_stream(spark, sf_dir):
    from hadoop_gpu_spark.streaming import events_stream, exact_dedup_stream
    from hadoop_gpu_spark.tables import load_table

    dedup = exact_dedup_stream(events_stream(spark, sf_dir), text_col="props")
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream").count()
    distinct_props = (
        load_table(spark, "events", sf_dir).select("props").distinct().count()
    )
    assert got == distinct_props


def test_sessionize_processing_time_timeout_flushes(spark, tmp_path):
    # The PRODUCTION timeout path (ProcessingTimeTimeout), deterministically:
    # availableNow can't terminate with timeouts registered (Spark 4.1 loops
    # 'cleaning up state' batches forever — see sessionize_stateful's note),
    # but a processing-time trigger keeps running empty batches while
    # timeouts are pending, so a short timeout + a bounded poll is
    # deterministic in OUTCOME: every session, including each user's last
    # open one, must eventually be emitted exactly once.
    import time
    import uuid

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.streaming import sessionize_stateful

    t0 = 1_600_000_000  # seconds
    rows = [
        # user 1: two events 10 min apart (one session), then a 2 h gap
        # (second session) -> first closes in-batch, second by timeout
        (1, t0), (1, t0 + 600), (1, t0 + 7200),
        # user 2: a single event -> only the timeout can flush it
        (2, t0 + 42),
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, "user_id long, epoch long").select(
        "user_id", F.timestamp_seconds("epoch").alias("ts")
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    sess = sessionize_stateful(stream, gap_minutes=30, use_timeout=True, timeout_ms=200)
    name = f"sessionize_timeout_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        expect = {
            (1, t0, t0 + 600, 2),
            (1, t0 + 7200, t0 + 7200, 1),
            (2, t0 + 42, t0 + 42, 1),
        }
        deadline = time.time() + 120
        got = set()
        while time.time() < deadline:
            got = {
                (r["user_id"], int(r["session_start"].timestamp()),
                 int(r["session_end"].timestamp()), r["n_events"])
                for r in spark.table(name).collect()
            }
            if len(got) >= len(expect):
                break
            time.sleep(0.5)
        assert got == expect, got
    finally:
        q.stop()


def test_stream_parquet_sink_exactly_once_across_restart(spark, sf_dir, tmp_path):
    # The durable-sink story the memory-sink gates don't cover: parquet
    # sink + checkpointLocation. An availableNow drain writes the backlog
    # once; RESTARTING the same query against the same checkpoint must not
    # duplicate rows (source offsets + sink commit log = exactly-once for
    # file sinks — Spark's FileOutputCommitter streaming analog).
    from hadoop_gpu_spark.tables import load_table

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            events_stream(spark, sf_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    drain()  # restart from the same checkpoint: backlog already committed
    n2 = spark.read.parquet(out).count()
    n_batch = load_table(spark, "events", sf_dir).count()
    assert n1 == n_batch
    assert n2 == n_batch  # no duplicates after restart


def test_windowed_counts_multi_batch_watermark(spark, sf_dir, tmp_path):
    # The single-file gates drain everything in ONE micro-batch, where the
    # watermark never drops anything. Split the events by day into
    # separate files, stream with maxFilesPerTrigger=1 (one micro-batch
    # per file), and (a) in time order the result equals the batch
    # aggregate exactly; (b) with a late file arriving after the watermark
    # advanced past it, its contribution is dropped.
    import glob

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.streaming import windowed_counts
    from hadoop_gpu_spark.tables import load_table, normalize_event_ts

    ev = load_table(spark, "events", sf_dir)
    days = [r["d"] for r in ev.select(F.dayofmonth("ts").alias("d")).distinct().collect()]
    in_order = sorted(days)

    def write_day_files(day_order, root):
        for i, d in enumerate(day_order):
            (ev.filter(F.dayofmonth("ts") == d)
               .coalesce(1)
               .write.parquet(f"{root}/batch={i:03d}"))
        return [f for f in sorted(glob.glob(f"{root}/*/*.parquet"))]

    def drain(root, name):
        raw_schema = spark.read.parquet(f"{root}/batch=000").schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", False)
            .parquet(f"{root}/*")
        )
        agg = windowed_counts(normalize_event_ts(stream), window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")  # append mode: rows emit when watermark passes
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)

    # (a) time-ordered files: nothing is late; every finalized window row
    # matches the batch aggregate for those windows
    root_a = str(tmp_path / "ordered")
    write_day_files(in_order, root_a)
    got = drain(root_a, "wm_ordered").select("hour", "event_type", "cnt")
    batch = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("batch_cnt"))
    )
    j = got.join(batch, ["hour", "event_type"], "left").filter(
        (F.col("cnt") != F.col("batch_cnt")) | F.col("batch_cnt").isNull()
    )
    assert got.count() > 0
    assert j.count() == 0  # every emitted window agrees with batch

    # (b) one early day delivered LAST: the watermark has advanced past
    # it, so its windows must be absent (append mode emits only finalized
    # windows; the late file's rows are dropped/never finalized)
    if len(in_order) >= 3:
        late_order = in_order[1:] + [in_order[0]]
        root_b = str(tmp_path / "late")
        write_day_files(late_order, root_b)
        got_late = drain(root_b, "wm_late")
        first_day_windows = got_late.filter(F.dayofmonth("hour") == in_order[0]).count()
        assert first_day_windows == 0, "late file's windows should be dropped"


def test_exact_dedup_stream_state_spans_micro_batches(spark, tmp_path):
    # dropDuplicates state must dedupe ACROSS micro-batches: the same
    # payload delivered again in a later file (inside the watermark
    # horizon) is dropped. Single-file drains can't show this.
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from hadoop_gpu_spark.streaming import exact_dedup_stream

    root = str(tmp_path / "src")
    base = datetime(2024, 1, 1)
    rows1 = [(1, base + timedelta(minutes=i), "doc-%d" % i) for i in range(5)]
    # batch 2: 3 repeats of batch-1 payloads + 2 new, minutes later
    rows2 = [(2, base + timedelta(minutes=30 + i), "doc-%d" % i) for i in range(3)] + [
        (2, base + timedelta(minutes=40 + i), "new-%d" % i) for i in range(2)
    ]
    for i, rows in enumerate([rows1, rows2]):
        spark.createDataFrame(rows, "batch long, ts timestamp, props string").coalesce(
            1
        ).write.parquet(f"{root}/b={i}")

    schema = spark.read.parquet(f"{root}/b=0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{root}/*")
    )
    dedup = exact_dedup_stream(stream, text_col="props", watermark="2 hours")
    q = (
        dedup.writeStream.format("memory")
        .queryName("dedup_xbatch")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_xbatch")
    # 5 originals + 2 new survive; the 3 cross-batch repeats are dropped
    assert got.count() == 7
    assert got.filter(F.col("props").startswith("new-")).count() == 2
    # every surviving repeat payload is the batch-1 copy
    assert got.filter((F.col("batch") == 2) & ~F.col("props").startswith("new-")).count() == 0


def test_dedup_state_recovers_across_restart(spark, tmp_path):
    # State-store recovery, the layer the file-source restart test above
    # does not exercise: a watermarked dropDuplicates drain commits its
    # hash state to the checkpoint; a RESTART with NEW files whose
    # payloads overlap the first batch must recover that state and emit
    # only the genuinely-new payloads. This is the cross-batch streaming
    # dedup contract (q_stream_dedup's operator) surviving a stop/start.
    import datetime

    from hadoop_gpu_spark.streaming import exact_dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    ts = datetime.datetime(2026, 1, 1, 12, 0, 0)

    def write_batch(fname, payloads):
        spark.createDataFrame(
            [(ts, p) for p in payloads], "ts timestamp, text string"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / fname))

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp, text string")
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src) + "/*")
        )
        q = (
            exact_dedup_stream(stream, text_col="text", watermark="90 days")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1", ["p1", "p2", "p3", "p3"])
    drain()
    got1 = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert got1 == ["p1", "p2", "p3"]  # in-batch dupe collapsed

    # overlap p2/p3 + two new payloads, then restart from the checkpoint
    write_batch("b2", ["p2", "p3", "p4", "p5"])
    drain()
    got2 = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert got2 == ["p1", "p2", "p3", "p4", "p5"], got2  # state recovered
