"""Custom stateful streaming operators — the Flink-only semantics Spark
has no builtin for (SURVEY.md §2 "custom" rows), on
``applyInPandasWithState`` (per-key managed state + Arrow batches, the
Spark analog of Flink's keyed ValueState). How a key's state is stored
lives in keyed.py: Top-N, keep-last dedup and changelog normalize keep
one array per carried column (``keyed.array_state_operator``); the
as-of join keeps one JSON document per key
(``keyed.json_state_operator``). Each operator here is a pure step
function over one key's rows.

Reference parity:
- streaming Top-N: StreamExecRank.java:83, AppendOnlyTopNFunction.java
  → :func:`streaming_topn` (state = current top-k rows per key). It
  ranks with ``windows._topk_merge``, the kernel ``window_topn`` uses:
  order column, then payload columns; NULL order values LAST under
  DESC and FIRST under ASC (Spark's default null ordering).
- keep-last deduplicate: StreamExecDeduplicate.java:85,
  ProcTimeDeduplicateKeepLastRowFunction.java:32 → :func:`keep_last_dedup`.
  Keep-FIRST deduplicate does not use ``applyInPandasWithState``: Spark
  has exact JVM state operators for it, so :func:`keep_first_dedup` is
  re-exported from dedup.py, where every keep-first form lives.
- streaming OVER: StreamExecOverAggregate.java:91 →
  :func:`streaming_over_multi` (UNBOUNDED, ROWS n and RANGE interval
  PRECEDING; the SQL lowering's operator). :func:`streaming_over_unbounded`
  (ProcTimeUnboundedPrecedingFunction.java) and
  :func:`streaming_over_bounded` (RowTime{Rows,Range}BoundedPrecedingFunction)
  are that operator with COUNT/SUM/AVG/MIN/MAX on one column.
- changelog normalize: StreamExecChangelogNormalize.java:74 →
  :func:`changelog_normalize` (emits explicit ``__rowkind`` +I/-U/+U/-D
  — Spark has no retraction rows, so the changelog is a visible column,
  SURVEY.md §7.3 risk 1).
- upsert sink materialization: SinkUpsertMaterializer.java:62 →
  :func:`foreach_batch_upsert` (keyed MERGE per micro-batch).
- temporal/as-of join: StreamExecTemporalJoin.java:77,
  TemporalRowTimeJoinOperator.java → :func:`streaming_asof_join`
  (union-tag both sides, per-key sorted version store).

Scale: every op keys its state (state size = O(k) / O(1) / O(versions)
per key, never O(stream)); Arrow moves batches, no per-row Python; the
shuffle is the single groupBy on the key — the same asymptotics as the
reference's keyed-state operators.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flink_1_16_0_src_spark.streaming.dedup import keep_first_dedup  # noqa: F401
from flink_1_16_0_src_spark.streaming.keyed import (  # noqa: F401
    _carry_cols,
    _py,
    array_state_operator,
    json_state_operator,
)
from flink_1_16_0_src_spark.streaming.windows import _topk_merge


def streaming_topn(
    sdf: DataFrame,
    partition_keys: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    ttl_ms: int | None = None,
) -> DataFrame:
    """Continuous per-key top-k (AppendOnly strategy): state holds the
    current top-k rows; every batch emits the refreshed top-k with
    ``rank_num``. Run in update output mode. Rows rank by ``order_col``
    and then by the other carried columns, the same total order and
    NULL placement as ``window_topn`` (windows._topk_merge): a NULL
    order value ranks LAST under DESC and FIRST under ASC, Spark's
    default null ordering. ``ttl_ms`` expires a key's state lazily on
    next access after the idle period (keyed.array_state_operator). At
    100 TB cap total state via watermark-scoped operators where
    possible."""
    carry = _carry_cols(sdf, partition_keys)
    by = [order_col] + [c for c in carry if c != order_col]

    def step(prev, rows):
        merged = rows if prev is None else pd.concat([prev, rows], ignore_index=True)
        top = _topk_merge(merged, by, k, descending)
        return top.assign(rank_num=range(1, len(top) + 1)), top

    return array_state_operator(
        sdf, partition_keys, step, [StructField("rank_num", IntegerType())], ttl_ms=ttl_ms
    )


def keep_last_dedup(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, ttl_ms: int | None = None
) -> DataFrame:
    """Last row per key wins (emits the refreshed last row each batch —
    update semantics). ``order_col`` breaks intra-batch order by that
    column (rowtime dedup); None keeps arrival order (proctime).
    ``ttl_ms`` expires state lazily on next access (StateTtlConfig
    OnReadAndWrite semantics — see streaming_topn note). State is the
    last row, one array per carried column."""

    def step(prev, rows):
        last = rows.sort_values(order_col, kind="stable") if order_col else rows
        last = last.iloc[[-1]]
        if prev is not None and order_col and not (
            last[order_col].iloc[0] >= prev[order_col].iloc[0]
        ):
            last = prev
        return last, last

    return array_state_operator(sdf, keys, step, ttl_ms=ttl_ms)


def _over_aggs(value_col: str, prefix: str) -> list[tuple[str, str, str]]:
    names = (("COUNT", "cnt"), ("SUM", "sum"), ("AVG", "avg"), ("MIN", "min"), ("MAX", "max"))
    return [(fn, value_col, f"{prefix}_{alias}") for fn, alias in names]


def streaming_over_unbounded(
    sdf: DataFrame, keys: list[str], order_col: str, value_col: str
) -> DataFrame:
    """Per-key running aggregates over UNBOUNDED PRECEDING (every input
    row is emitted once, extended with running cnt/sum/avg/min/max of
    ``value_col``). Rows are processed in ``order_col`` order within a
    batch and in arrival order across batches (same visible semantics
    as Flink's proctime OVER; rowtime OVER exactness requires ordered
    input). Runs as :func:`streaming_over_multi`."""
    return streaming_over_multi(sdf, keys, order_col, _over_aggs(value_col, "running"))


def streaming_over_bounded(
    sdf: DataFrame,
    keys: list[str],
    order_col: str,
    value_col: str,
    rows: int | None = None,
    range_interval: str | None = None,
) -> DataFrame:
    """Per-key OVER with a BOUNDED preceding frame — the reference's
    RowTimeRowsBoundedPrecedingFunction (``rows=n`` → ROWS BETWEEN n-1
    PRECEDING AND CURRENT ROW) and RowTimeRangeBoundedPrecedingFunction
    (``range_interval='10 minutes'`` → RANGE BETWEEN interval PRECEDING
    AND CURRENT ROW), with bounded cnt/sum/avg/min/max of
    ``value_col``. Runs as :func:`streaming_over_multi`, whose state
    carries only the tail that can still enter a future row's frame."""
    assert (rows is None) != (range_interval is None), "pass exactly one frame bound"
    return streaming_over_multi(
        sdf, keys, order_col, _over_aggs(value_col, "bounded"),
        rows=rows, range_interval=range_interval,
    )


def changelog_normalize(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, delete_col: str | None = None
) -> DataFrame:
    """Collapse an upsert stream into an explicit changelog: first value
    per key → ``+I``; change → ``-U`` (old) then ``+U`` (new); a row
    with ``delete_col`` true → ``-D``, which also drops the key's state,
    so the key's next row is a ``+I`` again. The ``__rowkind`` column is
    the Spark-visible stand-in for Flink's RowKind byte
    (flink-core/.../types/RowKind.java:31-52). State is the last row,
    one array per carried column."""
    carry = [c for c in _carry_cols(sdf, keys) if c != delete_col]
    # the order column sequences updates but is NOT part of the value —
    # two versions differing only in order_col are the same row
    cmp_idx = [i for i, c in enumerate(carry) if c != order_col]

    def step(prev, rows):
        last = next(prev.itertuples(index=False, name=None)) if prev is not None else None
        cmp = lambda t: tuple(t[i] for i in cmp_idx)  # noqa: E731
        out_rows = []
        p = rows.sort_values(order_col, kind="stable") if order_col else rows
        for d in p.to_dict("records"):
            vals = tuple(d[c] for c in carry)
            if delete_col and d.get(delete_col):
                if last is not None:
                    out_rows.append(last + ("-D",))
                    last = None
                continue
            if last is None:
                out_rows.append(vals + ("+I",))
            elif cmp(vals) != cmp(last):
                out_rows.append(last + ("-U",))
                out_rows.append(vals + ("+U",))
            last = vals
        out = pd.DataFrame(out_rows, columns=carry + ["__rowkind"])
        return out, None if last is None else pd.DataFrame([last], columns=carry)

    return array_state_operator(
        sdf, keys, step, [StructField("__rowkind", StringType())], "append",
        uncarried=(delete_col,),
    )


def streaming_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_vals: list[str],
) -> DataFrame:
    """FOR SYSTEM_TIME AS OF: each left row joins the latest right
    version with ``right_ts <= left_ts``. Both streams are tagged,
    unioned, and keyed; the JSON state document keeps the right side's
    versions as two lists, epoch seconds and payload JSON, sorted by
    time (versions are few per key). Left rows that precede every
    version emit null payload columns.

    Timestamp payload columns are carried as unix MICROS through the
    JSON state (to_json's ISO text keeps only milliseconds) and
    restored on the way out, so event-time values round-trip exactly;
    the ``__ts`` ordering column likewise compares in micros on both
    sides (TemporalRowTimeJoinOperator.java orders raw epoch longs)."""
    import bisect

    from pyspark.sql.types import TimestampType

    lcols = [c for c in left.columns if c != key]
    l_conv = [c for c in lcols if isinstance(left.schema[c].dataType, TimestampType)]
    r_conv = [
        c for c in right_vals if isinstance(right.schema[c].dataType, TimestampType)
    ]

    def micros(df: DataFrame, col: str):
        if isinstance(df.schema[col].dataType, TimestampType):
            return F.unix_micros(F.col(col))
        return F.col(col)

    def tag(df: DataFrame, side: int, ts_col: str, cols: list[str]) -> DataFrame:
        return df.select(
            F.col(key).alias("__k"),
            F.lit(side).alias("__side"),
            micros(df, ts_col).alias("__ts"),
            F.to_json(F.struct(*[micros(df, c).alias(c) for c in cols])).alias("__payload"),
        )

    both = tag(left, 0, left_ts, lcols).unionByName(tag(right, 1, right_ts, right_vals))

    def _long_if_conv(f):
        if f.name in l_conv or f.name in r_conv:
            return StructField(f.name, LongType())
        return f

    left_fields = [_long_if_conv(f) for f in left.schema.fields if f.name != key]
    right_fields = [
        _long_if_conv(f) for f in right.schema.fields if f.name in right_vals
    ]
    key_field = [f for f in left.schema.fields if f.name == key]
    out_schema = StructType(key_field + left_fields + right_fields)

    def epoch(v) -> float:
        # canonical rows carry a non-micros timestamp as its str() form
        return float(v) if isinstance(v, (int, float)) else pd.Timestamp(v).timestamp()

    def step(k, rows, doc):
        ts, payloads = doc or ([], [])
        lrows = []
        for d in rows:
            if d["__side"] == 1:
                ts.append(epoch(d["__ts"]))
                payloads.append(d["__payload"])
            else:
                lrows.append((epoch(d["__ts"]), d["__payload"]))
        order = sorted(range(len(ts)), key=lambda i: ts[i])
        ts = [ts[i] for i in order]
        payloads = [payloads[i] for i in order]
        out = []
        for t, lp in sorted(lrows):
            i = bisect.bisect_right(ts, t) - 1
            rrec = json.loads(payloads[i]) if i >= 0 else {c: None for c in right_vals}
            out.append({key: k[0], **json.loads(lp), **rrec})
        return out, [ts, payloads]

    res = json_state_operator(both, ["__k"], step, out_schema)
    for c in l_conv + r_conv:
        res = res.withColumn(c, F.timestamp_micros(F.col(c)))
    return res


def foreach_batch_upsert(
    target_path: str, keys: list[str], order_col: str, delete_col: str | None = None
):
    """SinkUpsertMaterializer parity: returns a foreachBatch function
    that MERGEs each micro-batch into a keyed parquet table — last write
    (by ``order_col``) per key wins. ``delete_col`` (a boolean column,
    e.g. ``__rowkind = '-D'`` from a CDC decode) makes this a full
    changelog materializer: a key whose LATEST image is a delete is
    removed from the table (the MERGE ... WHEN MATCHED AND op='d' THEN
    DELETE branch). On a transactional table format this is a real
    MERGE INTO; plain parquet does read-union-rewrite, which is correct
    but O(table) per batch — fine for sinks that are periodically
    compacted dimension tables, documented limitation otherwise."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import shutil

        from pyspark.sql.window import Window

        spark = batch_df.sparkSession
        w = F.row_number().over(Window.partitionBy(*keys).orderBy(F.col(order_col).desc()))
        if os.path.exists(target_path):
            existing = spark.read.parquet(target_path)
            merged = existing.unionByName(batch_df.select(existing.columns))
        else:
            merged = batch_df
        result = merged.withColumn("__rn", w).where(F.col("__rn") == 1).drop("__rn")
        if delete_col is not None:
            result = result.where(~F.coalesce(F.col(delete_col), F.lit(False)))
        tmp = target_path + ".tmp"
        result.write.mode("overwrite").parquet(tmp)
        if os.path.exists(target_path):
            shutil.rmtree(target_path)
        os.rename(tmp, target_path)

    return apply


def keyed_inactivity_timer(
    sdf: DataFrame,
    keys: list[str],
    ts_col: str,
    timeout: str,
) -> DataFrame:
    """Per-key EVENT-TIME TIMERS — KeyedProcessFunction parity
    (DS/api/functions/KeyedProcessFunction.java:52 +
    SimpleTimerService.registerEventTimeTimer): every event re-arms the
    key's timer at last_seen + ``timeout``; when the watermark passes
    the armed time with no newer event, the timer FIRES and emits one
    alert row (key, last_seen, n_events) and clears the key's state —
    the inactivity-detection pattern from the reference's
    ProcessFunction docs. Input must carry ``withWatermark`` on
    ``ts_col`` (the harness's stream_table(watermark=...) does).

    Spark mapping: ``GroupStateTimeout.EventTimeTimeout`` — the timer
    callback is the ``state.hasTimedOut`` branch; watermark granularity
    is the micro-batch boundary (documented skew, SURVEY §7.3 risk 3).
    Scale: state is (last_seen, count) per key — O(1); one shuffle on
    the key columns."""
    try:
        timeout_ms = pd.Timedelta(timeout) // pd.Timedelta(milliseconds=1)
    except (TypeError, ValueError):
        timeout_ms = None
    if not isinstance(timeout_ms, int) or timeout_ms <= 0:
        raise ValueError(f"unsupported timeout literal: {timeout!r}")

    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("last_seen", next(f.dataType for f in sdf.schema.fields if f.name == ts_col)),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("last_ms", LongType()), StructField("n", LongType())]
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            last_ms, n = state.get
            state.remove()
            out = pd.DataFrame(
                [tuple(key) + (pd.Timestamp(last_ms, unit="ms"), n)],
                columns=[f.name for f in out_schema.fields],
            )
            yield out
            return
        last_ms, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            ts_ms = (
                pd.to_datetime(pdf[ts_col]).astype("datetime64[ns]").astype("int64") // 1_000_000
            )
            mx = int(ts_ms.max())
            last_ms = mx if last_ms is None else max(last_ms, mx)
            n += len(pdf)
        if last_ms is not None:
            state.update((int(last_ms), int(n)))
            # a timer armed at-or-before the watermark would be rejected;
            # clamp to wm+1 so it fires on the next batch (same behavior
            # as Flink registering an already-elapsed event-time timer)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(last_ms + timeout_ms, wm + 1))
        # non-firing groups yield NOTHING — an empty frame per group per
        # batch pays one Arrow round-trip per key (windows.window_topn
        # r13 lesson), and append mode emits the same either way

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def changelog_group_aggregate(
    sdf: DataFrame,
    keys: list[str],
    cents_col: str,
    rowkind_col: str = "__rowkind",
) -> DataFrame:
    """RETRACT-MODE group aggregate — the reference's update-stream
    aggregation (AggregateFunction.retract(),
    flink-table/flink-table-common/.../functions/AggregateFunction.java;
    StreamExecGroupAggregate wires retract() when the input produces
    UPDATE_BEFORE): consumes a ``__rowkind``-stamped changelog; +I/+U
    ACCUMULATE the row, -U/-D RETRACT it, so an updated entity never
    double-counts (the r2-ADVICE motivation for emitting -U from CDC
    decodes). State per key = (row_count, sum) — O(1); emits the
    refreshed aggregate per touched key each batch (update mode).

    ``cents_col`` must be an integer-scaled measure (e.g. value*100 as
    BIGINT): retraction arithmetic must cancel EXACTLY, and float
    add/subtract orders don't — the same determinism rule as the
    decimal k-means means."""
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("alive_cnt", LongType()),
            StructField("sum_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("s", LongType())]
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cnt, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            for d in pdf.to_dict("records"):
                sign = -1 if d[rowkind_col] in ("-U", "-D") else 1
                cnt += sign
                v = d[cents_col]
                # NULL measure: row counts as alive, contributes 0 to the
                # sum (SQL aggregate null semantics) — and its retraction
                # symmetrically contributes 0
                if v is not None and not (isinstance(v, float) and v != v):
                    s += sign * int(v)
        state.update((int(cnt), int(s)))
        out = pd.DataFrame([tuple(key) + (cnt, s)], columns=[f.name for f in out_schema.fields])
        yield out

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


_ROLLING = {"COUNT": "count", "SUM": "sum", "AVG": "mean", "MIN": "min", "MAX": "max"}


def streaming_over_multi(
    sdf: DataFrame,
    keys: list[str],
    order_col: str,
    aggs: list[tuple[str, str | None, str]],
    rows: int | None = None,
    range_interval: str | None = None,
) -> DataFrame:
    """Generic per-key streaming OVER — the multi-aggregate form the
    SQL lowering needs (Flink's StreamExecOverAggregate plans ONE over
    window per node but lets its aggregates target DIFFERENT columns:
    ``SUM(a) OVER w, MAX(b) OVER w`` is one exec node). ``aggs`` is
    ``[(fn, col | None, out_alias[, offset]), ...]`` with fn in
    COUNT/SUM/AVG/MIN/MAX (col None = COUNT(*)) plus — UNBOUNDED frame
    only — the offset/value aggregates LAG/LEAD/FIRST_VALUE/LAST_VALUE
    (LeadLagAggFunction.java / FirstValueAggFunction.java, planned by
    the same StreamExecOverAggregate.java:91 node): LAG(c, n) is the
    value n rows earlier in the per-key event-time order (NULL before
    n rows exist — SQL default), LEAD is offset-0 only (a positive
    offset needs future rows; the reference's append-mode runtime
    emits each row on arrival, so it cannot either), FIRST_VALUE /
    LAST_VALUE skip NULLs like the reference's agg functions. At most
    one frame of ``rows`` (ROWS n total) / ``range_interval`` (RANGE
    preceding, inclusive edge) / neither (UNBOUNDED PRECEDING). The
    aggregates skip NULL values, as in SQL: a frame without values
    has COUNT 0 and NULL SUM/AVG/MIN/MAX. ``streaming_over_unbounded``
    and ``streaming_over_bounded`` are this operator with the five
    aggregates on one column.

    State: UNBOUNDED keeps per-column running accumulators
    (cnt/sum/min/max/first/last arrays indexed by referenced column)
    plus the last max-LAG-offset values per column; bounded frames
    keep the tail rows that can still enter a future frame,
    JSON-encoded as [ts, v1..vk]. Aggregation itself is vectorized
    pandas (cum*/rolling/shift) — per-batch, not per-row Python."""
    assert rows is None or range_interval is None, "pass at most one frame"
    aggs = [tuple(a) + (None,) * (4 - len(a)) for a in aggs]
    offset_fns = {"LAG", "LEAD", "FIRST_VALUE", "LAST_VALUE"}
    if (rows is not None or range_interval is not None) and any(
        fn in offset_fns for fn, _c, _al, _off in aggs
    ):
        raise ValueError(
            "LAG/LEAD/FIRST_VALUE/LAST_VALUE stream on the UNBOUNDED "
            "frame only (the offset is the navigation, not the frame)"
        )
    for fn, c, _al, off in aggs:
        # A missing LEAD offset means 1 (SQL / LeadLagAggFunction.java
        # default), NOT 0 — only an explicit LEAD(col, 0) may pass.
        if fn == "LEAD" and (1 if off is None else off) != 0:
            raise ValueError(
                "streaming LEAD needs future rows — append-mode OVER "
                "emits each row on arrival (the reference's streaming "
                "runtime cannot see ahead either); use LAG or a "
                "MATCH_RECOGNIZE NEXT pattern"
            )
        if fn in offset_fns and c is None:
            raise ValueError(f"{fn} requires a column argument")
    lag_depth = max(
        [off or 1 for fn, _c, _al, off in aggs if fn == "LAG"], default=0
    )
    val_cols = sorted({c for _fn, c, _al, _off in aggs if c is not None})
    carry = _carry_cols(sdf, keys)
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_type = {"COUNT": LongType()}
    out_schema = StructType(
        key_fields
        + [f for f in sdf.schema.fields if f.name in carry]
        + [
            StructField(al, out_type.get(fn, DoubleType()))
            for fn, _c, al, _off in aggs
        ]
    )
    bounded = rows is not None or range_interval is not None
    if bounded:
        state_schema = StructType([StructField("tail", ArrayType(StringType()))])
    else:
        state_schema = StructType(
            [
                StructField("rows_seen", LongType()),
                StructField("cnt", ArrayType(LongType())),
                StructField("sum", ArrayType(DoubleType())),
                StructField("min", ArrayType(DoubleType())),
                StructField("max", ArrayType(DoubleType())),
                # offset/value aggregate state: first/last non-null per
                # column, plus the last lag_depth values per column
                # (JSON rows [v1..vk]) for LAG
                StructField("first", ArrayType(DoubleType())),
                StructField("last", ArrayType(DoubleType())),
                StructField("lag_tail", ArrayType(StringType())),
            ]
        )
    delta = pd.Timedelta(range_interval) if range_interval else None

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        if bounded:
            tail = [json.loads(s) for s in state.get[0]] if state.exists else []
            for pdf in pdfs:
                if not len(pdf):
                    continue
                p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
                ncarry = len(tail)
                t = pd.concat(
                    [
                        pd.Series(pd.to_datetime([r[0] for r in tail])),
                        pd.to_datetime(p[order_col]),
                    ],
                    ignore_index=True,
                )
                vals = {
                    c: pd.concat(
                        [
                            pd.Series([r[1 + i] for r in tail], dtype=float),
                            p[c].astype(float),
                        ],
                        ignore_index=True,
                    )
                    for i, c in enumerate(val_cols)
                }
                # a late row (batch time < tail max) makes the concat
                # non-monotonic — time-based rolling would raise and ROWS
                # frames would mis-order; sort tail+batch JOINTLY (stable:
                # earlier-arrived rows precede on ties) and map results
                # back to batch positions. The reference reorders the same
                # way via MapState + event-time timers; rows older than
                # the retained tail horizon see a truncated frame (state
                # already cleaned, matching its watermark cleanup).
                order = np.argsort(t.to_numpy(), kind="stable")
                batch_pos = np.arange(ncarry, len(order))
                if not np.array_equal(order, np.arange(len(order))):
                    inv = np.empty(len(order), dtype=np.int64)
                    inv[order] = np.arange(len(order))
                    batch_pos = inv[ncarry:]
                    t = t.iloc[order].reset_index(drop=True)
                    vals = {
                        c: v.iloc[order].reset_index(drop=True)
                        for c, v in vals.items()
                    }
                ones = pd.Series(1.0, index=range(len(t)))

                def roll(series):
                    if rows is not None:
                        return series.rolling(rows, min_periods=1)
                    # closed="both": Flink's RANGE x PRECEDING frame is
                    # [cur - x, cur] INCLUSIVE on both ends
                    # (RowTimeRangeBoundedPrecedingFunction retracts rows
                    # strictly older than cur - x; SQL RANGE is inclusive)
                    # — pandas' default right-closed window would drop the
                    # row sitting exactly x before the current one
                    return pd.DataFrame(
                        {"v": series.values}, index=pd.DatetimeIndex(t)
                    )["v"].rolling(delta, min_periods=1, closed="both")

                for fn_name, c, al, _off in aggs:
                    r = roll(ones if c is None else vals[c])
                    out = getattr(r, _ROLLING[fn_name])().to_numpy()[batch_pos]
                    p[al] = out.astype("int64") if fn_name == "COUNT" else out
                for kc, kv in zip(keys, key):
                    p[kc] = kv
                yield p[[f.name for f in out_schema.fields]]
                if rows is not None:
                    keep = min(len(t), rows - 1)
                else:
                    cutoff = t.iloc[-1] - delta
                    keep = int((t >= cutoff).sum())
                tail = [
                    [str(t.iloc[i])] + [float(vals[c].iloc[i]) for c in val_cols]
                    for i in range(len(t) - keep, len(t))
                ]
            state.update(([json.dumps(r) for r in tail],))
            return
        # UNBOUNDED PRECEDING: running accumulators per referenced col
        k = len(val_cols)
        if state.exists:
            rows_seen, *accs, lag_json = state.get
            cnt, s_, mn, mx, first, last = map(list, accs)
            lag_tails = dict(zip(val_cols, map(json.loads, lag_json)))
        else:
            rows_seen, lag_tails = 0, {c: [] for c in val_cols}
            cnt, s_ = [0] * k, [0.0] * k
            mn, mx, first, last = ([None] * k for _ in range(4))
        for pdf in pdfs:
            if not len(pdf):
                continue
            p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
            run = {}
            lag_map = {}
            for i, c in enumerate(val_cols):
                v = p[c].astype(float)
                rc = v.notna().cumsum() + cnt[i]
                acc = v.fillna(0).cumsum() + s_[i]
                # NULLs are skipped: a NULL row reports the running
                # MIN/MAX so far, and SUM is NULL until a value arrives
                rs = acc.where(rc > 0)
                rmn, rmx = v.cummin().ffill(), v.cummax().ffill()
                if mn[i] is not None:
                    rmn, rmx = np.fmin(rmn, mn[i]), np.fmax(rmx, mx[i])
                # FIRST_VALUE / LAST_VALUE navigation (NULLs skipped —
                # FirstValueAggFunction / LastValueAggFunction parity)
                if first[i] is not None:
                    fv = pd.Series(first[i], index=v.index)
                else:
                    fv = pd.Series(np.nan, index=v.index)
                    fvi = v.first_valid_index()
                    if fvi is not None:
                        fv.iloc[int(fvi):] = float(v.iloc[int(fvi)])
                        first[i] = float(v.iloc[int(fvi)])
                lv = v.ffill()
                if last[i] is not None:
                    lv = lv.fillna(last[i])
                if len(lv) and not pd.isna(lv.iloc[-1]):
                    last[i] = float(lv.iloc[-1])
                if lag_depth:
                    prev = lag_tails.get(c, [])
                    s2 = pd.concat(
                        [pd.Series(prev, dtype=float), v], ignore_index=True
                    )
                    lag_map[c] = (s2, len(prev))
                    lag_tails[c] = [
                        None if pd.isna(x) else float(x)
                        for x in s2.iloc[max(0, len(s2) - lag_depth):]
                    ]
                run[c] = {
                    "COUNT": rc, "SUM": rs, "AVG": rs / rc, "MIN": rmn,
                    "MAX": rmx, "FIRST_VALUE": fv, "LAST_VALUE": lv,
                }
                cnt[i], s_[i] = int(rc.iloc[-1]), float(acc.iloc[-1])
                mn[i], mx[i] = float(rmn.iloc[-1]), float(rmx.iloc[-1])
            star = pd.Series(range(1, len(p) + 1)) + rows_seen
            rows_seen += len(p)
            for fn_name, c, al, off in aggs:
                if c is None:
                    p[al] = star.astype("int64")
                elif fn_name == "LAG":
                    s2, npfx = lag_map[c]
                    p[al] = s2.shift(off or 1).to_numpy()[npfx:]
                elif fn_name == "LEAD":  # offset 0 = current row value
                    p[al] = p[c].astype(float).to_numpy()
                else:
                    p[al] = run[c][fn_name].to_numpy()
            for kc, kv in zip(keys, key):
                p[kc] = kv
            yield p[[f.name for f in out_schema.fields]]
        state.update((
            rows_seen, cnt, s_, mn, mx, first, last,
            [json.dumps(lag_tails.get(c, [])) for c in val_cols],
        ))

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
