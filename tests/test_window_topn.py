"""Streaming window Top-N (``streaming.windows.window_topn``): edge inputs
against a batch ``row_number()`` reference, restart from a checkpoint,
and the shape of the keyed-state plan.

Each scripted drain writes one parquet file per micro-batch (increasing
mtimes, ``maxFilesPerTrigger=1``) under a 1-minute watermark; the
reference ranks the on-time rows with a batch window function and keeps
the windows the final watermark has closed.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.streaming import sources, windows

SF_DIR = "/root/testdata/sf0.001"
SCHEMA = "eid bigint, ts timestamp, k string, v double"
_ARROW = pa.schema([
    ("eid", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")),
    ("k", pa.string()), ("v", pa.float64()),
])
WM_DELAY = dt.timedelta(minutes=1)


def _t(hh: int, mm: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, hh, mm, tzinfo=dt.timezone.utc)


def _write_files(src: str, files: list[list[tuple]], first: int = 0) -> None:
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files, start=first):
        path = os.path.join(src, f"f{i:02d}.parquet")
        pq.write_table(pa.Table.from_pylist([dict(zip(_ARROW.names, r)) for r in rows], _ARROW), path)
        os.utime(path, (1_000_000 * (i + 1), 1_000_000 * (i + 1)))


def _stream(spark, src: str, delay: str = "1 minute"):
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", delay)
    )


def _rows(df) -> list[tuple]:
    cols = ["window_start", "window_end", "k", "rank_num", "v", "eid"]
    return sorted(
        (tuple(r) for r in df.select(*[c for c in cols if c in df.columns]).collect()),
        key=repr,
    )


def _reference(spark, rows, keys, k, descending, slide, final_wm):
    """Batch ROW_NUMBER per (window, keys), ordered by v then eid in the
    rank direction with Spark's default NULL placement; rows with a NULL
    ts belong to no window."""
    df = spark.createDataFrame(rows, SCHEMA).where(F.col("ts").isNotNull())
    w = F.window("ts", "1 hour", slide) if slide else F.window("ts", "1 hour")
    df = df.select("*", w.alias("w"))
    order = (
        [F.col("v").desc_nulls_last(), F.col("eid").desc()]
        if descending else [F.col("v").asc_nulls_first(), F.col("eid").asc()]
    )
    rn = F.row_number().over(Window.partitionBy("w", *keys).orderBy(*order))
    return (
        df.select(
            F.col("w.start").alias("window_start"), F.col("w.end").alias("window_end"),
            *keys, rn.alias("rank_num"), "v", "eid",
        )
        .where((F.col("rank_num") <= k) & (F.col("window_end") <= F.lit(final_wm)))
    )


# each case: files (one micro-batch each), keys, k, descending, slide and
# the eids that arrive after the watermark closed their window
_A = [(1, _t(10, 0), "a", 5.0), (2, _t(10, 10), "a", 7.0), (3, _t(10, 20), "a", 6.0)]
CASES = {
    "null_key": dict(
        files=[
            _A + [(4, _t(10, 5), None, 9.0), (5, _t(10, 15), None, 8.0),
                  (6, _t(10, 25), None, 1.0)],
            [(7, _t(10, 40), None, 8.5), (8, _t(11, 30), "a", 2.0),
             (9, _t(12, 30), None, 0.5)],
        ],
        keys=["k"], k=2, descending=True, slide=None, late=[],
    ),
    "null_order_desc": dict(
        files=[
            [(1, _t(10, 0), "a", None), (2, _t(10, 10), "a", 3.0),
             (3, _t(10, 20), "b", None), (4, _t(10, 30), "b", None)],
            [(5, _t(10, 40), "a", None), (6, _t(10, 50), "b", 4.0),
             (7, _t(11, 30), "a", 1.0), (8, _t(12, 30), "a", None)],
        ],
        keys=["k"], k=3, descending=True, slide=None, late=[],
    ),
    "null_order_asc": dict(
        files=[
            [(1, _t(10, 0), "a", None), (2, _t(10, 10), "a", 3.0),
             (3, _t(10, 20), "b", None), (4, _t(10, 30), "b", None)],
            [(5, _t(10, 40), "a", None), (6, _t(10, 50), "b", 4.0),
             (7, _t(11, 30), "a", 1.0), (8, _t(12, 30), "a", None)],
        ],
        keys=["k"], k=2, descending=False, slide=None, late=[],
    ),
    "no_keys": dict(
        files=[
            _A + [(4, _t(10, 5), "b", 9.0), (5, _t(11, 15), "b", 8.0)],
            [(6, _t(11, 40), "c", 8.5), (7, _t(12, 10), "a", 2.0),
             (8, _t(13, 30), "b", 0.5)],
        ],
        keys=[], k=2, descending=True, slide=None, late=[],
    ),
    "hop_keys": dict(
        files=[
            _A + [(4, _t(10, 35), "b", 9.0), (5, _t(10, 45), "a", 8.0)],
            [(6, _t(11, 5), "a", 8.5), (7, _t(11, 20), "b", 2.0),
             (8, _t(12, 50), "a", 0.5)],
        ],
        keys=["k"], k=2, descending=True, slide="30 minutes", late=[],
    ),
    # batch 1 ends at wm 11:04, closing 10:00 for every key; key a's
    # batch 2 holds a late 10:00 row (eid 5, the best value) next to
    # rows of its open 11:00 window
    "late_and_open_rows": dict(
        files=[
            _A + [(4, _t(11, 5), "a", 1.0), (9, _t(10, 30), "b", 4.0)],
            [(5, _t(10, 30), "a", 99.0), (6, _t(11, 10), "a", 2.0),
             (10, _t(11, 50), "a", 3.0), (7, _t(12, 30), "a", 0.5)],
        ],
        keys=["k"], k=2, descending=True, slide=None, late=[5],
    ),
    # a NULL ts holds the top value: it belongs to no window
    "null_ts": dict(
        files=[
            _A + [(4, None, "a", 100.0)],
            [(5, _t(11, 10), "a", 2.0), (6, None, "a", 99.0), (7, _t(12, 30), "a", 0.5)],
        ],
        keys=["k"], k=2, descending=True, slide=None, late=[],
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_window_topn_edge_inputs(spark, tmp_path, case):
    c = CASES[case]
    src = str(tmp_path / "src")
    _write_files(src, c["files"])
    out = windows.window_topn(
        _stream(spark, src), "ts", "1 hour", c["keys"], "v", c["k"], ["eid"],
        descending=c["descending"], slide=c["slide"],
    )
    got = _rows(sources.run_to_memory(out, f"wtn_edge_{case}", "append"))

    rows = [r for f in c["files"] for r in f]
    final_wm = max(r[1] for r in rows if r[1] is not None) - WM_DELAY
    on_time = [r for r in rows if r[0] not in c["late"]]
    exp = _rows(_reference(spark, on_time, c["keys"], c["k"], c["descending"],
                           c["slide"], final_wm))
    assert got == exp and len(exp) > 0


def test_window_topn_restart_resumes(spark, tmp_path):
    """A drain stopped after the first file and resumed from its
    checkpoint after the second file arrives emits the rows of the
    uninterrupted drain. At the stop, key a holds two open windows and
    key b one, so the resumed query must restore every window of a
    key's state."""
    files = [
        [(1, _t(10, 10), "a", 5.0), (2, _t(10, 50), "a", 7.0),
         (3, _t(11, 20), "a", 6.0), (4, _t(11, 40), "b", 1.0),
         (5, _t(11, 30), "a", 2.0)],
        [(6, _t(11, 50), "a", 9.0), (7, _t(10, 55), "a", 8.0),
         (8, _t(13, 0), "b", 3.0), (9, _t(14, 0), "a", 0.5)],
    ]

    def drain(src, ckpt):
        out = windows.window_topn(
            _stream(spark, src, "90 minutes"), "ts", "1 hour", ["k"], "v", 2, ["eid"]
        )
        rows: list = []
        q = (
            out.writeStream.foreachBatch(lambda df, _id: rows.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    whole = str(tmp_path / "whole")
    _write_files(whole, files)
    want = drain(whole, str(tmp_path / "ck_whole"))

    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ck")
    _write_files(src, files[:1])
    first = drain(src, ckpt)
    _write_files(src, files[1:], first=1)
    resumed = drain(src, ckpt)
    # the 10:00 and 11:00 windows of key a span the restart
    assert sorted(first + resumed, key=repr) == sorted(want, key=repr)
    assert {(r.k, r.window_start.hour) for r in want} == {("a", 10), ("a", 11), ("b", 11)}


@pytest.mark.parametrize("keys", [["event_type"], []])
def test_window_topn_plan_keys_on_partition_keys(spark, keys):
    """One Python state operator, grouped on the partition keys only (or
    on the window start when there are none): a key's open windows share
    one state row and one Python call per micro-batch."""
    sdf = sources.stream_table(spark, SF_DIR, "events", watermark=("ts", "10 minutes"))
    out = windows.window_topn(sdf, "ts", "1 hour", keys, "value", 2, ["event_id"])

    def nodes(plan):
        yield plan
        children = plan.children()
        for i in range(children.size()):
            yield from nodes(children.apply(i))

    ops = [
        n for n in nodes(out._jdf.queryExecution().analyzed())
        if n.nodeName() == "FlatMapGroupsInPandasWithState"
    ]
    assert len(ops) == 1
    grouping = ops[0].groupingAttributes()
    names = [grouping.apply(i).name() for i in range(grouping.size())]
    assert names == (keys or ["__ws_us"])


def test_topk_merge_ranks_each_window_group():
    """The grouped merge keeps at most k rows per window start, each
    window ranked on its own with the ungrouped NULL placement and
    payload tie-break."""
    import pandas as pd

    buf = pd.DataFrame({
        "ws": [2, 1, 2, 1, 2, 1, 2],
        "v": [5.0, None, 9.0, 3.0, None, 3.0, 9.0],
        "eid": [1, 2, 3, 4, 5, 6, 7],
    })
    desc = windows._topk_merge(buf, ["v", "eid"], 2, True, group="ws")
    assert list(zip(desc["ws"], desc["eid"])) == [(1, 6), (1, 4), (2, 7), (2, 3)]
    asc = windows._topk_merge(buf, ["v", "eid"], 2, False, group="ws")
    assert list(zip(asc["ws"], asc["eid"])) == [(1, 2), (1, 4), (2, 5), (2, 1)]
    for g in (1, 2):
        alone = windows._topk_merge(buf[buf["ws"] == g], ["v", "eid"], 2, True)
        assert list(alone["eid"]) == list(desc[desc["ws"] == g]["eid"])
