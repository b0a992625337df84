"""Custom stateful streaming operators — the Flink-only semantics Spark
has no builtin for (SURVEY.md §2 "custom" rows), on
``applyInPandasWithState`` (per-key managed state + Arrow batches, the
Spark analog of Flink's keyed ValueState).

Reference parity:
- streaming Top-N: StreamExecRank.java:83, AppendOnlyTopNFunction.java
  → :func:`streaming_topn` (state = current top-k rows per key).
- keep-last deduplicate: StreamExecDeduplicate.java:85,
  ProcTimeDeduplicateKeepLastRowFunction.java:32 → :func:`keep_last_dedup`.
  Keep-FIRST deduplicate does not use ``applyInPandasWithState``: Spark
  has exact JVM state operators for it, so :func:`keep_first_dedup` is
  re-exported from dedup.py, where every keep-first form lives.
- streaming OVER (unbounded preceding): StreamExecOverAggregate.java:91,
  ProcTimeUnboundedPrecedingFunction.java → :func:`streaming_over_unbounded`.
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

_SCALARS = ("bigint", "int", "smallint", "tinyint", "double", "float", "string", "boolean")


def _py(v):
    """Normalize numpy/pandas scalars to Python natives — the JVM-side
    state pickler rejects numpy dtypes."""
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    if hasattr(v, "item"):
        return v.item()
    return v


def _carry_cols(sdf: DataFrame, keys: list[str]) -> list[str]:
    """The non-key columns a Python keyed-state operator carries. The
    array-encoded state holds the types in ``_SCALARS`` plus timestamps
    and decimals; any other column (array, map, struct, date, ...)
    raises instead of vanishing from the output."""
    cols, bad = [], []
    for name, dtype in sdf.dtypes:
        if name in keys:
            continue
        base = dtype.split("(")[0]
        if base in _SCALARS or base.startswith("timestamp") or base.startswith("decimal"):
            cols.append(name)
        else:
            bad.append(f"{name} {dtype}")
    if bad:
        raise ValueError(
            "keyed-state operator cannot carry these columns: " + ", ".join(bad)
        )
    return cols


def _array_state_schema(sdf: DataFrame, cols: list[str]) -> StructType:
    by_name = {f.name: f for f in sdf.schema.fields}
    return StructType([StructField(c, ArrayType(by_name[c].dataType)) for c in cols])


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
    ``rank_num``. Run in update output mode. ``ttl_ms`` expires a
    key's state on next access after the idle period — the same
    visibility semantics as Flink's default StateTtlConfig
    (OnReadAndWrite cleanup, flink-core/.../state/StateTtlConfig.java).
    NB: Spark's ProcessingTimeTimeout (eager background eviction)
    crashes Python workers in this build, so expiry is lazy-on-access;
    at 100 TB cap total state via watermark-scoped operators where
    possible."""
    carry = _carry_cols(sdf, partition_keys)
    key_fields = [f for f in sdf.schema.fields if f.name in partition_keys]
    out_schema = StructType(
        key_fields
        + [f for f in sdf.schema.fields if f.name in carry]
        + [StructField("rank_num", IntegerType())]
    )
    base_schema = _array_state_schema(sdf, carry)
    state_schema = StructType(list(base_schema.fields) + [StructField("__updated", DoubleType())])
    oi = carry.index(order_col)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        import time as _time

        now = _time.time()
        fresh = state.exists and (
            ttl_ms is None or (now - state.get[-1]) * 1000.0 <= ttl_ms
        )
        cols = [list(x) for x in state.get[:-1]] if fresh else [[] for _ in carry]
        rows = list(zip(*cols)) if cols and cols[0] else []
        for pdf in pdfs:
            rows.extend(tuple(t) for t in pdf[carry].itertuples(index=False))
        rows.sort(key=lambda r: r[oi], reverse=descending)
        rows = rows[:k]
        state.update(
            tuple([_py(r[i]) for r in rows] for i in range(len(carry))) + (now,)
        )
        out = pd.DataFrame(rows, columns=carry)
        for kc, kv in zip(partition_keys, key):
            out[kc] = kv
        out["rank_num"] = range(1, len(rows) + 1)
        yield out[[f.name for f in out_schema.fields]]

    return sdf.groupBy(*partition_keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def keep_last_dedup(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, ttl_ms: int | None = None
) -> DataFrame:
    """Last row per key wins (emits the refreshed last row each batch —
    update semantics). ``order_col`` breaks intra-batch order by that
    column (rowtime dedup); None keeps arrival order (proctime).
    ``ttl_ms`` expires state lazily on next access (StateTtlConfig
    OnReadAndWrite semantics — see streaming_topn note)."""
    carry = _carry_cols(sdf, keys)
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(key_fields + [f for f in sdf.schema.fields if f.name in carry])
    base_schema = _array_state_schema(sdf, carry)
    state_schema = StructType(list(base_schema.fields) + [StructField("__updated", DoubleType())])

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        import time as _time

        now = _time.time()
        fresh = state.exists and (
            ttl_ms is None or (now - state.get[-1]) * 1000.0 <= ttl_ms
        )
        last = tuple(v[0] for v in state.get[:-1]) if fresh else None
        for pdf in pdfs:
            if len(pdf):
                p = pdf.sort_values(order_col, kind="stable") if order_col else pdf
                # per-column extraction: row-wise p[carry].iloc[-1] upcasts
                # mixed numeric dtypes to float64, and a float written into
                # an ArrayType(LongType) state column silently becomes NULL
                cand = tuple(_py(p[c].iloc[-1]) for c in carry)
                if last is None or order_col is None or cand[carry.index(order_col)] >= last[
                    carry.index(order_col)
                ]:
                    last = cand
        if last is not None:
            state.update(tuple([_py(v)] for v in last) + (now,))
            out = pd.DataFrame([last], columns=carry)
            for kc, kv in zip(keys, key):
                out[kc] = kv
            yield out[[f.name for f in out_schema.fields]]

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_over_unbounded(
    sdf: DataFrame, keys: list[str], order_col: str, value_col: str
) -> DataFrame:
    """Per-key running aggregates over UNBOUNDED PRECEDING (every input
    row is emitted once, extended with running cnt/sum/avg/min/max).
    Rows are processed in ``order_col`` order within a batch and in
    arrival order across batches (same visible semantics as Flink's
    proctime OVER; rowtime OVER exactness requires ordered input)."""
    carry = _carry_cols(sdf, keys)
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [f for f in sdf.schema.fields if f.name in carry]
        + [
            StructField("running_cnt", LongType()),
            StructField("running_sum", DoubleType()),
            StructField("running_avg", DoubleType()),
            StructField("running_min", DoubleType()),
            StructField("running_max", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cnt", LongType()),
            StructField("sum", DoubleType()),
            StructField("min", DoubleType()),
            StructField("max", DoubleType()),
        ]
    )

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        cnt, s, mn, mx = state.get if state.exists else (0, 0.0, None, None)
        for pdf in pdfs:
            if not len(pdf):
                continue
            p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
            v = p[value_col].astype(float)
            p["running_cnt"] = v.notna().cumsum() + cnt
            p["running_sum"] = v.fillna(0).cumsum() + s
            p["running_avg"] = p["running_sum"] / p["running_cnt"]
            run_min = v.cummin() if mn is None else v.cummin().combine(mn, min)
            run_max = v.cummax() if mx is None else v.cummax().combine(mx, max)
            p["running_min"], p["running_max"] = run_min, run_max
            cnt, s = int(p["running_cnt"].iloc[-1]), float(p["running_sum"].iloc[-1])
            mn, mx = float(run_min.iloc[-1]), float(run_max.iloc[-1])
            for kc, kv in zip(keys, key):
                p[kc] = kv
            yield p[[f.name for f in out_schema.fields]]
        state.update((cnt, s, mn, mx))

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


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
    AND CURRENT ROW). State carries only the tail that can still enter
    a future row's frame (last n rows / rows within the interval of the
    newest timestamp) — bounded, exactly like the reference's cleanup
    timers. Aggregation itself is pandas rolling (vectorized)."""
    assert (rows is None) != (range_interval is None), "pass exactly one frame bound"
    carry = _carry_cols(sdf, keys)
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [f for f in sdf.schema.fields if f.name in carry]
        + [
            StructField("bounded_cnt", LongType()),
            StructField("bounded_sum", DoubleType()),
            StructField("bounded_avg", DoubleType()),
            StructField("bounded_min", DoubleType()),
            StructField("bounded_max", DoubleType()),
        ]
    )
    from pyspark.sql.types import ArrayType, StringType

    state_schema = StructType(
        [
            StructField("tail_v", ArrayType(DoubleType())),
            StructField("tail_t", ArrayType(StringType())),
        ]
    )
    delta = pd.Timedelta(range_interval) if range_interval else None

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        tail_v, tail_t = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        for pdf in pdfs:
            if not len(pdf):
                continue
            p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
            ncarry = len(tail_v)
            v = pd.concat(
                [pd.Series(tail_v, dtype=float), p[value_col].astype(float)],
                ignore_index=True,
            )
            t = pd.concat(
                [pd.Series(pd.to_datetime(tail_t)), pd.to_datetime(p[order_col])],
                ignore_index=True,
            )
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
                v = v.iloc[order].reset_index(drop=True)
                t = t.iloc[order].reset_index(drop=True)
            if rows is not None:
                r = v.rolling(rows, min_periods=1)
            else:
                # closed="both": Flink's RANGE x PRECEDING frame is
                # [cur - x, cur] INCLUSIVE on both ends
                # (RowTimeRangeBoundedPrecedingFunction retracts rows
                # strictly older than cur - x; SQL RANGE is inclusive)
                # — pandas' default right-closed window would drop the
                # row sitting exactly x before the current one
                r = pd.DataFrame({"v": v.values}, index=pd.DatetimeIndex(t))["v"].rolling(
                    delta, min_periods=1, closed="both"
                )
            agg = {
                "bounded_cnt": r.count().astype("int64"),
                "bounded_sum": r.sum(),
                "bounded_avg": r.mean(),
                "bounded_min": r.min(),
                "bounded_max": r.max(),
            }
            for name, series in agg.items():
                p[name] = series.to_numpy()[batch_pos]
            for kc, kv in zip(keys, key):
                p[kc] = kv
            yield p[[f.name for f in out_schema.fields]]
            # retain only the tail a future frame can reference
            if rows is not None:
                keep = min(len(v), rows - 1)
            else:
                cutoff = t.iloc[-1] - delta
                keep = int((t >= cutoff).sum())
            tail_v = [float(x) for x in v.iloc[len(v) - keep :]] if keep else []
            tail_t = [str(x) for x in t.iloc[len(t) - keep :]] if keep else []
        state.update((tail_v, tail_t))

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def changelog_normalize(
    sdf: DataFrame, keys: list[str], order_col: str | None = None, delete_col: str | None = None
) -> DataFrame:
    """Collapse an upsert stream into an explicit changelog: first value
    per key → ``+I``; change → ``-U`` (old) then ``+U`` (new); a row
    with ``delete_col`` true → ``-D``. The ``__rowkind`` column is the
    Spark-visible stand-in for Flink's RowKind byte
    (flink-core/.../types/RowKind.java:31-52)."""
    carry = [c for c in _carry_cols(sdf, keys) if c != delete_col]
    # the order column sequences updates but is NOT part of the value —
    # two versions differing only in order_col are the same row
    cmp_idx = [i for i, c in enumerate(carry) if c != order_col]
    key_fields = [f for f in sdf.schema.fields if f.name in keys]
    out_schema = StructType(
        key_fields
        + [f for f in sdf.schema.fields if f.name in carry]
        + [StructField("__rowkind", StringType())]
    )
    state_schema = _array_state_schema(sdf, carry)

    def fn(key, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        last = tuple(v[0] for v in state.get) if state.exists else None
        cmp = lambda t: tuple(t[i] for i in cmp_idx)  # noqa: E731
        out_rows = []
        for pdf in pdfs:
            p = pdf.sort_values(order_col, kind="stable") if order_col else pdf
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
        if last is not None:
            state.update(tuple([_py(v)] for v in last))
        out = pd.DataFrame(out_rows, columns=carry + ["__rowkind"])
        for kc, kv in zip(keys, key):
            out[kc] = kv
        yield out[[f.name for f in out_schema.fields]] if len(out) else pd.DataFrame(
            columns=[f.name for f in out_schema.fields]
        )

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
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
    unioned, and keyed; state keeps the right side's (ts, payload)
    versions sorted (payload JSON-encoded — versions are few per key).
    Left rows that precede every version emit null payload columns.

    Timestamp payload columns are carried as unix MICROS through the
    JSON state (to_json's ISO text keeps only milliseconds) and
    restored on the way out, so event-time values round-trip exactly;
    the ``__ts`` ordering column likewise compares in micros on both
    sides (TemporalRowTimeJoinOperator.java orders raw epoch longs)."""
    from pyspark.sql.types import LongType, TimestampType

    lcols = [c for c in left.columns if c != key]
    l_conv = [c for c in lcols if isinstance(left.schema[c].dataType, TimestampType)]
    r_conv = [
        c for c in right_vals if isinstance(right.schema[c].dataType, TimestampType)
    ]

    def _ts_expr(df: DataFrame, col: str):
        if isinstance(df.schema[col].dataType, TimestampType):
            return F.unix_micros(F.col(col))
        return F.col(col)

    def _payload_cols(cols, conv):
        return [
            (F.unix_micros(F.col(c)).alias(c) if c in conv else F.col(c))
            for c in cols
        ]

    tagged_l = left.select(
        F.col(key).alias("__k"),
        F.lit(0).alias("__side"),
        _ts_expr(left, left_ts).alias("__ts"),
        F.to_json(F.struct(*_payload_cols(lcols, l_conv))).alias("__payload"),
    )
    tagged_r = right.select(
        F.col(key).alias("__k"),
        F.lit(1).alias("__side"),
        _ts_expr(right, right_ts).alias("__ts"),
        F.to_json(F.struct(*_payload_cols(right_vals, r_conv))).alias("__payload"),
    )
    both = tagged_l.unionByName(tagged_r)

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
    state_schema = StructType(
        [StructField("ts", ArrayType(DoubleType())), StructField("payload", ArrayType(StringType()))]
    )

    def fn(k, pdfs: Iterable[pd.DataFrame], state) -> Iterable[pd.DataFrame]:
        ts, payloads = ([list(x) for x in state.get] if state.exists else ([], []))
        lrows = []
        for pdf in pdfs:
            # NOT itertuples: it mangles the __-prefixed column names
            for d in pdf.to_dict("records"):
                epoch = d["__ts"].timestamp() if hasattr(d["__ts"], "timestamp") else float(d["__ts"])
                if d["__side"] == 1:
                    ts.append(epoch)
                    payloads.append(d["__payload"])
                else:
                    lrows.append((epoch, d["__payload"]))
        order = sorted(range(len(ts)), key=lambda i: ts[i])
        ts = [ts[i] for i in order]
        payloads = [payloads[i] for i in order]
        state.update((ts, payloads))

        import bisect

        out = []
        for epoch, lp in sorted(lrows):
            i = bisect.bisect_right(ts, epoch) - 1
            lrec = json.loads(lp)
            rrec = json.loads(payloads[i]) if i >= 0 else {c: None for c in right_vals}
            out.append({key: k[0], **lrec, **rrec})
        cols = [f.name for f in out_schema.fields]
        df = pd.DataFrame(out, columns=cols)
        for f in left_fields:
            if "timestamp" in f.dataType.simpleString():
                df[f.name] = pd.to_datetime(df[f.name])
        yield df

    res = both.groupBy("__k").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
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
    import re as _re

    m = _re.match(r"(\d+)\s*(ms|milliseconds?|s|seconds?|m|minutes?|h|hours?)$", timeout.strip())
    if not m:
        raise ValueError(f"unsupported timeout literal: {timeout!r}")
    u = m.group(2)
    if u in ("ms",) or u.startswith("milli"):
        unit_ms = 1
    else:
        unit_ms = {"s": 1000, "m": 60000, "h": 3600000}[u[0]]
    timeout_ms = int(m.group(1)) * unit_ms

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
    preceding, inclusive edge) / neither (UNBOUNDED PRECEDING).

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
    from pyspark.sql.types import ArrayType, StringType

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
                # joint tail+batch sort for late rows — see
                # streaming_over_bounded (same MapState-reorder parity)
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
                    # inclusive preceding edge — see streaming_over_bounded
                    return pd.DataFrame(
                        {"v": series.values}, index=pd.DatetimeIndex(t)
                    )["v"].rolling(delta, min_periods=1, closed="both")

                for fn_name, c, al, _off in aggs:
                    s = ones if c is None else vals[c]
                    r = roll(s)
                    if fn_name == "COUNT":
                        out = r.count().astype("int64")
                    elif fn_name == "SUM":
                        out = r.sum()
                    elif fn_name == "AVG":
                        out = r.mean()
                    elif fn_name == "MIN":
                        out = r.min()
                    else:
                        out = r.max()
                    p[al] = out.to_numpy()[batch_pos]
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
            rows_seen, cnt, s_, mn, mx, first, last, lag_json = state.get
            cnt, s_, mn, mx = list(cnt), list(s_), list(mn), list(mx)
            first, last = list(first), list(last)
            lag_tails = {
                c: json.loads(lag_json[i]) for i, c in enumerate(val_cols)
            } if lag_json else {c: [] for c in val_cols}
        else:
            rows_seen = 0
            cnt, s_ = [0] * k, [0.0] * k
            mn, mx = [None] * k, [None] * k
            first, last = [None] * k, [None] * k
            lag_tails = {c: [] for c in val_cols}
        for pdf in pdfs:
            if not len(pdf):
                continue
            p = pdf.sort_values(order_col, kind="stable").reset_index(drop=True)
            run = {}
            lag_map = {}
            for i, c in enumerate(val_cols):
                v = p[c].astype(float)
                rc = v.notna().cumsum() + cnt[i]
                rs = v.fillna(0).cumsum() + s_[i]
                rmn = v.cummin() if mn[i] is None else v.cummin().combine(mn[i], min)
                rmx = v.cummax() if mx[i] is None else v.cummax().combine(mx[i], max)
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
                run[c] = (rc, rs, rmn, rmx, fv, lv)
                cnt[i], s_[i] = int(rc.iloc[-1]), float(rs.iloc[-1])
                mn[i], mx[i] = float(rmn.iloc[-1]), float(rmx.iloc[-1])
            star = pd.Series(range(1, len(p) + 1)) + rows_seen
            rows_seen += len(p)
            for fn_name, c, al, off in aggs:
                if c is None:
                    p[al] = star.astype("int64")
                    continue
                rc, rs, rmn, rmx, fv, lv = run[c]
                if fn_name == "COUNT":
                    p[al] = rc.astype("int64")
                elif fn_name == "SUM":
                    p[al] = rs
                elif fn_name == "AVG":
                    p[al] = rs / rc
                elif fn_name == "MIN":
                    p[al] = rmn
                elif fn_name == "MAX":
                    p[al] = rmx
                elif fn_name == "LAG":
                    s2, npfx = lag_map[c]
                    p[al] = s2.shift(off or 1).to_numpy()[npfx:]
                elif fn_name == "LEAD":  # offset 0 = current row value
                    p[al] = p[c].astype(float).to_numpy()
                elif fn_name == "FIRST_VALUE":
                    p[al] = fv.to_numpy()
                else:  # LAST_VALUE
                    p[al] = lv.to_numpy()
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
