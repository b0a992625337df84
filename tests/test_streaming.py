"""Streaming operator harness tests (SURVEY.md §5.1 analog).

Each test drains a file-stream over the sf0.001 fixtures with an
availableNow trigger into a memory sink, then compares the emitted rows
against the batch equivalent of the same computation — the Spark analog
of Flink's OneInputStreamOperatorTestHarness assertions.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from flink_1_16_0_src_spark import tables
from flink_1_16_0_src_spark.streaming import dedup, joins, sources, windows

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def _final_watermark(events_batch, delay="10 minutes"):
    """Watermark after the availableNow drain: max(ts) - delay. Append
    mode only emits windows whose end <= this — mirror that in the
    batch expectation."""
    return (
        events_batch.select((F.max("ts") - F.expr(f"INTERVAL {delay}")).alias("wm"))
        .collect()[0]["wm"]
    )


def _closed(exp_df, wm):
    return exp_df.where(F.col("window_end") <= F.lit(wm))


@pytest.fixture(scope="module")
def events_batch(spark):
    return tables.load(spark, SF_DIR, "events")


def test_stream_tumble_agg_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = windows.tumble_agg(
        sdf, "ts", "1 hour", ["event_type"], F.count("*").alias("cnt"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    got = sources.run_to_memory(out, "t_tumble", "append")
    exp = _closed(
        windows.tumble_agg(
            events_batch, "ts", "1 hour", ["event_type"], F.count("*").alias("cnt"),
            F.round(F.sum("value"), 4).alias("total"),
        ),
        _final_watermark(events_batch),
    )
    cols = ["window_start", "window_end", "event_type", "cnt", "total"]
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)
    assert len(_sorted_rows(got, *cols)) > 0


def test_stream_hop_agg_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = windows.hop_agg(sdf, "ts", "30 minutes", "1 hour", [], F.count("*").alias("cnt"))
    got = sources.run_to_memory(out, "t_hop", "append")
    exp = _closed(
        windows.hop_agg(events_batch, "ts", "30 minutes", "1 hour", [], F.count("*").alias("cnt")),
        _final_watermark(events_batch),
    )
    cols = ["window_start", "window_end", "cnt"]
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)


def test_stream_session_agg_matches_batch_session_window(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = windows.session_agg(sdf, "ts", "5 minutes", ["user_id"], F.count("*").alias("cnt"))
    got = sources.run_to_memory(out, "t_session", "append")
    exp = _closed(
        windows.session_agg(events_batch, "ts", "5 minutes", ["user_id"], F.count("*").alias("cnt")),
        _final_watermark(events_batch),
    )
    cols = ["window_start", "window_end", "user_id", "cnt"]
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)


def test_stream_cumulate_agg_matches_batch(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = windows.cumulate_agg(sdf, "ts", "1 hour", "4 hours", [], F.count("*").alias("cnt"))
    got = sources.run_to_memory(out, "t_cumulate", "update")
    exp = windows.cumulate_agg(events_batch, "ts", "1 hour", "4 hours", [], F.count("*").alias("cnt"))
    cols = ["window_start", "window_end", "cnt"]
    # update mode with a single availableNow batch emits each group once
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)


def test_stream_dedup_keep_first(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = dedup.dedup_keep_first(sdf.select("user_id", "event_type", "ts"), ["user_id", "event_type"])
    got = sources.run_to_memory(out, "t_dedup", "append")
    # one row per (user_id, event_type) pair
    exp_keys = _sorted_rows(
        events_batch.select("user_id", "event_type").distinct(), "user_id", "event_type"
    )
    assert _sorted_rows(got.select("user_id", "event_type"), "user_id", "event_type") == exp_keys


def test_single_file_stream_dir_stable_across_processes(tmp_path):
    """The symlink directory that exposes a single-file table to the
    file-stream source has the same name in every process, whatever its
    str-hash salt — a fresh process resuming a checkpoint must read the
    same source path."""
    f = tmp_path / "events.parquet"
    f.write_bytes(b"")
    code = (
        "import sys\n"
        "from flink_1_16_0_src_spark.streaming.sources import single_file_stream_dir\n"
        "print(single_file_stream_dir(sys.argv[1], 'events'))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = set()
    for seed in ("1", "2"):
        env = {**os.environ, "PYTHONHASHSEED": seed, "TMPDIR": str(tmp_path), "PYTHONPATH": root}
        res = subprocess.run(
            [sys.executable, "-c", code, str(f)], env=env, cwd=root,
            capture_output=True, text=True, check=True, timeout=120,
        )
        dirs.add(res.stdout.strip())
    assert len(dirs) == 1
    (d,) = dirs
    assert os.path.realpath(os.path.join(d, "events.parquet")) == os.path.realpath(f)


def test_stream_window_dedup(spark, events_batch):
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = dedup.window_dedup_keep_first(sdf, "ts", "1 hour", ["user_id"])
    got = sources.run_to_memory(out, "t_wdedup", "append")
    exp_cnt = (
        events_batch.withColumn("__w", F.window("ts", "1 hour"))
        .select("__w", "user_id").distinct().count()
    )
    assert got.count() == exp_cnt


def test_stream_window_join_matches_batch(spark, events_batch):
    l = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    r = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    lf = l.where(F.col("event_type") == "click").select("ts", "user_id", F.col("value").alias("lv"))
    rf = r.where(F.col("event_type") == "error").select(
        F.col("ts").alias("rts"), F.col("user_id").alias("ruid"), F.col("value").alias("rv")
    )
    out = joins.window_join(lf, rf, ("ts", "rts"), "1 hour", ("user_id", "ruid")).select(
        "user_id", "lv", "rv"
    )
    got = sources.run_to_memory(out, "t_wjoin", "append")

    bl = events_batch.where(F.col("event_type") == "click").select(
        "ts", "user_id", F.col("value").alias("lv")
    )
    br = events_batch.where(F.col("event_type") == "error").select(
        F.col("ts").alias("rts"), F.col("user_id").alias("ruid"), F.col("value").alias("rv")
    )
    exp = joins.window_join(bl, br, ("ts", "rts"), "1 hour", ("user_id", "ruid")).select(
        "user_id", "lv", "rv"
    )
    cols = ["user_id", "lv", "rv"]
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)
    assert got.count() > 0


def test_stream_interval_join_matches_batch(spark, events_batch):
    l = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    r = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    lf = l.where(F.col("event_type") == "purchase").select("ts", "user_id", F.col("value").alias("lv"))
    rf = r.where(F.col("event_type") == "click").select(
        F.col("ts").alias("rts"), F.col("user_id").alias("ruid"), F.col("value").alias("rv")
    )
    out = joins.interval_join(
        lf, rf, ("user_id", "ruid"), ("ts", "rts"), "5 minutes", "5 minutes"
    ).select("user_id", "lv", "rv")
    got = sources.run_to_memory(out, "t_ijoin", "append")

    bl = events_batch.where(F.col("event_type") == "purchase").select(
        "ts", "user_id", F.col("value").alias("lv")
    )
    br = events_batch.where(F.col("event_type") == "click").select(
        F.col("ts").alias("rts"), F.col("user_id").alias("ruid"), F.col("value").alias("rv")
    )
    exp = joins.interval_join(
        bl, br, ("user_id", "ruid"), ("ts", "rts"), "5 minutes", "5 minutes"
    ).select("user_id", "lv", "rv")
    cols = ["user_id", "lv", "rv"]
    assert _sorted_rows(got, *cols) == _sorted_rows(exp, *cols)


def test_stream_union(spark, events_batch):
    a = sources.stream_table(spark, SF_DIR, "events").where(F.col("event_type") == "click")
    b = sources.stream_table(spark, SF_DIR, "events").where(F.col("event_type") == "error")
    got = sources.run_to_memory(a.union(b).select("event_id"), "t_union", "append")
    exp = events_batch.where(F.col("event_type").isin("click", "error")).count()
    assert got.count() == exp


def test_update_mode_early_fire_trigger_analog(spark, events_batch, tmp_path):
    """ContinuousEventTimeTrigger analog (table.exec.emit.early-fire):
    update-mode window agg emits INTERMEDIATE per-window results each
    micro-batch; the last emission per window equals the batch answer.
    Firing granularity is the micro-batch, not a per-window interval —
    the remaining delta is the documented gap."""
    d = str(tmp_path / "ef_events")
    events_batch.select("event_id", "ts", "event_type", "value").repartition(3).write.parquet(d)
    sdf = (
        spark.readStream.schema("event_id bigint, ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    out = windows.tumble_agg(
        sdf.withWatermark("ts", "400 days"),  # > data span: no late drops, pure early-fire
        "ts", "1 day", ["event_type"], F.count("*").alias("cnt"),
    )
    q = (
        out.writeStream.format("memory").queryName("ef_tumble")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM ef_tumble")
    # intermediate emissions: at least one (window,type) emitted more than once
    dupes = (
        emitted.groupBy("window_start", "event_type").count().where(F.col("count") > 1)
    )
    assert dupes.count() > 0
    # last (max-cnt) emission per key == batch truth
    last = (
        emitted.groupBy("window_start", "event_type").agg(F.max("cnt").alias("cnt"))
    )
    exp = (
        events_batch.groupBy(
            F.date_trunc("day", "ts").alias("window_start"), "event_type"
        ).agg(F.count("*").alias("cnt"))
    )
    got = {(r.window_start, r.event_type): r.cnt for r in last.collect()}
    want = {(r.window_start, r.event_type): r.cnt for r in exp.collect()}
    assert got == want


def test_checkpoint_restart_recovers_keyed_state(spark, tmp_path):
    """Exactly-once resume (SURVEY §2.9 checkpointing row — Flink's
    checkpoint/restore is delegated to Structured Streaming's
    checkpoint): a count-window query is stopped after consuming 3 rows
    (1 fired window of 2, 1 row left in keyed state), new data arrives,
    and a SECOND query started from the SAME checkpoint fires the
    window that pairs the recovered leftover row with the new row.
    Without state recovery the second window could not fire."""
    from flink_1_16_0_src_spark.streaming.late import streaming_count_window

    src = str(tmp_path / "ckpt_src")
    ckpt = str(tmp_path / "ckpt_dir")

    def write(rows):
        spark.createDataFrame(rows, "k string, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src)

    sink = str(tmp_path / "ckpt_sink")

    def run():
        sdf = spark.readStream.schema("k string, v long").parquet(src)
        out = streaming_count_window(
            sdf, ["k"], 2,
            lambda w: {"total": int(w["v"].sum())},
            "k string, total long",
        )
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()
        return {tuple(r) for r in spark.read.parquet(sink).collect()}

    write([("k1", 1), ("k1", 2), ("k1", 10)])
    first = run()
    assert first == {("k1", 3)}  # one full window; v=10 held in state

    write([("k1", 20)])
    second = run()
    # the recovered leftover (10) pairs with the new row (20); the
    # first window is NOT re-emitted (offsets recovered too)
    assert second == {("k1", 3), ("k1", 30)}
