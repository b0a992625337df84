"""Streaming window TVF aggregations.

Reference parity (SURVEY.md §2.3):
- StreamExecWindowAggregate.java:86 + SlicingWindowOperator.java:101
  (TUMBLE/HOP/CUMULATE TVF agg) → ``groupBy(F.window(...))`` with
  watermark; CUMULATE via the shared slice-explode helper
  (operators/windows.py) since Spark has no builtin.
- SessionWindowAssigner.java:36 → ``F.session_window`` (builtin,
  merging sessions supported in streaming).
- Late rows are dropped once the watermark passes window_end — same
  visible semantics as Flink SQL windows (which also drop late rows,
  SURVEY.md §2.9 "Late data handling").

Scale: one shuffle on (window, keys); partial aggregation happens
map-side automatically; state per open window only, freed by the
watermark — the same bounded-state story as Flink's sliced windows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.operators.windows import cumulate as _cumulate_slices


def tumble_agg(
    sdf: DataFrame, ts: str, size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """GROUP BY TUMBLE(ts, size) [, keys] — append-mode capable."""
    return (
        sdf.groupBy(F.window(ts, size).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def hop_agg(
    sdf: DataFrame, ts: str, slide: str, size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    return (
        sdf.groupBy(F.window(ts, size, slide).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def session_agg(
    sdf: DataFrame, ts: str, gap: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """GROUP BY SESSION(ts, gap) — merging session windows, builtin."""
    return (
        sdf.groupBy(F.session_window(ts, gap).alias("__w"), *keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def _topk_merge(
    merged, buf_cols: list[str], k: int, descending: bool, group: str | None = None
):
    """Rank-bounded buffer merge (TopNBuffer.checkSortKeyInBufferRange,
    WindowRankProcessor.java:191-197 parity): sort by the order column
    THEN the payload columns — the same total order as comparing the
    whole (order, payload...) tuple, so ties are deterministic — and
    keep only the first k rows. NULL order values sort LAST under
    DESC (SQL/Flink default; ADVICE r10 #3) and FIRST under ASC
    (Spark's ORDER BY default). ``group`` names a leading column (the
    window start) that ranks each of its values separately: k rows per
    group, the groups in ascending order."""
    lead = [group] if group else []
    ranked = merged.sort_values(
        by=[*lead, *buf_cols],
        ascending=[True] * len(lead) + [not descending] * len(buf_cols),
        na_position="last" if descending else "first",
        kind="mergesort",
    )
    return ranked.groupby(group, sort=False).head(k) if group else ranked.head(k)


def window_topn(
    sdf: DataFrame,
    ts: str,
    size: str,
    keys: list[str],
    order_col: str,
    k: int,
    payload: list[str],
    descending: bool = True,
    slide: str | None = None,
) -> DataFrame:
    """Streaming window Top-N (StreamExecWindowRank.java:77) with
    RANK-BOUNDED state, laid out like the reference's
    WindowRankProcessor: keyed on the partition ``keys``, with each open
    window's TopNBuffer a namespace of the key's state
    (WindowRankProcessor.java:191-197,
    TopNBuffer.checkSortKeyInBufferRange). A key's state holds the at
    most k buffered rows of every open window — one array per buffered
    column plus the window start in BIGINT microseconds — so each
    micro-batch costs one Python call per key, not one per (window,
    key). With ``keys=[]`` the operator keys on the window start, which
    keeps one group (and one task's worth of parallelism) per window.

    Per call: rows of windows already closed by the pre-batch watermark
    (window_end <= watermark) drop, the same late-row semantics as the
    native windowed aggregate; the stored buffers merge with the batch
    and rank per window (``_topk_merge``); windows the watermark has
    closed emit ranked, in append mode; the open ones stay, with an
    event-time timer at the earliest open window_end so a key without
    further data still emits. Rows with a NULL ``ts`` belong to no
    window and are filtered out before the state operator. NULL order
    values rank LAST under DESC and FIRST under ASC; ties break on the
    payload columns.

    Window assignment is explicit column math (start = floor to the
    size/slide grid in microseconds); ``slide`` makes the windows
    HOPPING — a row ranks in every covering window, exploded from a
    BIGINT sequence of starts (bounded by ceil(size/slide) per row).

    Scale: one shuffle on the partition keys; state at most k rows per
    open window of a key, freed as the watermark closes the windows.
    Parallelism is bounded by the number of distinct keys."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from flink_1_16_0_src_spark.streaming.keyed import _batch, _encode

    size_us = int(pd.Timedelta(size).total_seconds() * 1_000_000)
    slide_us = (
        int(pd.Timedelta(slide).total_seconds() * 1_000_000)
        if slide else size_us
    )
    tsu = F.unix_micros(F.col(ts))
    if slide is None:
        ws = tsu - (tsu % F.lit(size_us))
    else:
        # covering starts: multiples of slide in (ts - size, ts]
        last_start = tsu - (tsu % F.lit(slide_us))
        d = tsu - F.lit(size_us)
        first_start = (d - (d % F.lit(slide_us))) + F.lit(slide_us)
        ws = F.explode(F.sequence(first_start, last_start, F.lit(slide_us)))
    buf_cols = [order_col] + [c for c in payload if c != order_col]
    # ts stays in the projection: the event-time timer needs the
    # watermarked column below the state operator
    assigned = sdf.where(F.col(ts).isNotNull()).select(
        *dict.fromkeys(keys + buf_cols + [ts]), ws.alias("__ws_us")
    )

    by_name = {f.name: f for f in sdf.schema.fields}
    # order_col may double as a payload column — include it exactly ONCE
    # (a duplicate field name in the StructType breaks
    # applyInPandasWithState output resolution; ADVICE r11 #4)
    out_schema = StructType(
        [StructField("window_start", TimestampType()),
         StructField("window_end", TimestampType())]
        + [by_name[c] for c in keys]
        + [StructField("rank_num", IntegerType())]
        + [by_name[c] for c in buf_cols]
    )
    state_types = [LongType()] + [by_name[c].dataType for c in buf_cols]
    state_cols = ["__ws_us", *buf_cols]
    state_schema = StructType(
        [StructField(c, ArrayType(t)) for c, t in zip(state_cols, state_types)]
    )
    out_names = out_schema.fieldNames()

    def fn(key, pdfs, state):
        # NB: nothing is yielded for a key without closed windows; an
        # empty frame per group costs an Arrow round trip and appends
        # the same output
        wm_us = state.getCurrentWatermarkMs() * 1000
        parts = []
        if state.exists:
            parts.append(pd.DataFrame(dict(zip(state_cols, map(list, state.get)))))
        rows = None if state.hasTimedOut else _batch(pdfs)
        if rows is not None:
            parts.append(rows.loc[rows["__ws_us"] + size_us > wm_us, state_cols])
        parts = [p for p in parts if len(p)]
        if not parts:
            return
        merged = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        top = _topk_merge(merged, buf_cols, k, descending, group="__ws_us")
        closed = top["__ws_us"] + size_us <= wm_us
        keep = top[~closed]
        if len(keep):
            state.update(
                tuple(_encode(keep[c], t) for c, t in zip(state_cols, state_types))
            )
            # fire when the watermark reaches the earliest open
            # window_end (timeout fires strictly after the set
            # timestamp); never arm in the past
            first_end_ms = (int(keep["__ws_us"].min()) + size_us) // 1000
            state.setTimeoutTimestamp(max(first_end_ms - 1, wm_us // 1000 + 1))
        elif state.exists:
            state.remove()
        if closed.any():
            out = top[closed]
            start = pd.to_datetime(out["__ws_us"], unit="us", utc=True)
            yield out.assign(
                window_start=start,
                window_end=start + pd.Timedelta(microseconds=size_us),
                rank_num=out.groupby("__ws_us", sort=False).cumcount() + 1,
                **dict(zip(keys, key)),
            )[out_names]

    return assigned.groupBy(*(keys or ["__ws_us"])).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def cumulate_agg(
    sdf: DataFrame, ts: str, step: str, max_size: str, keys: list[str], *aggs: Column
) -> DataFrame:
    """CUMULATE TVF agg: slice-explode each row into its expanding
    windows, then aggregate per (window_start, window_end, keys).

    Streaming caveat: the group key is a derived timestamp rather than a
    ``window()`` struct, so Spark cannot prove append-closure — run in
    update/complete mode (or drain with availableNow). Row fan-out is
    bounded by max_size/step.
    """
    sliced = _cumulate_slices(sdf, ts, step, max_size)
    return sliced.groupBy("window_start", "window_end", *keys).agg(*aggs)
