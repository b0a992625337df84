"""Streaming deduplication.

Reference parity (SURVEY.md §2.6). Every keep-FIRST form lives here and
runs on Spark's JVM state operators — no Python keyed state:
- StreamExecDeduplicate.java:85 keep-first per key, proctime
  (DeduplicateKeepFirstRowFunction) → ``dropDuplicates`` (state kept
  forever): :func:`dedup_keep_first` with ``within_watermark=False``.
- the same with state freed by the watermark →
  ``dropDuplicatesWithinWatermark`` (the production form at
  100 TB/day: state is bounded by the watermark horizon, like Flink's
  dedup state TTL): :func:`dedup_keep_first`.
- keep-first per key, rowtime (RowTimeDeduplicateFunction: the
  minimum-order row wins and a later, smaller order supersedes it) →
  a ``min_by`` streaming aggregate plus ``dropDuplicates`` on
  (keys, order): :func:`keep_first_dedup`.
- keep-LAST-row per key emits updates on every arrival → stateful.py
  (keep_last_dedup) since it needs update semantics.
- window dedup (StreamExecWindowDeduplicate.java:69) → dedupe on
  (window, keys): state dropped at window close.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.streaming.keyed import json_state_operator


def dedup_keep_first(sdf: DataFrame, keys: list[str], within_watermark: bool = True) -> DataFrame:
    """First row per key wins; later duplicates are dropped.
    ``within_watermark=True`` bounds state by the watermark horizon
    (requires ``withWatermark`` upstream)."""
    if within_watermark:
        return sdf.dropDuplicatesWithinWatermark(keys)
    return sdf.dropDuplicates(keys)


def keep_first_dedup(
    sdf: DataFrame, keys: list[str], order_col: str | None = None
) -> DataFrame:
    """First row per key wins (DeduplicateKeepFirstRowFunction /
    RowTimeDeduplicateFunction parity). Output: the keys, then every
    other column in input order. Run in update output mode.

    ``order_col=None`` is proctime arrival order: once a key has state,
    later rows emit nothing. With ``order_col`` the minimum-order row
    wins; a later batch whose minimum is strictly smaller supersedes it
    and re-emits, while a larger or repeated minimum emits nothing. A
    NULL order loses to any non-NULL one (a key whose rows all have a
    NULL order still keeps a row). Ties on ``order_col`` break
    arbitrarily.

    The rowtime form is two JVM state operators: a ``min_by``
    aggregate keyed on ``keys`` holds the current first row, and in
    update mode re-emits it for every key touched by a batch; the
    ``dropDuplicates`` on (keys, order) after it passes only a new
    minimum. State is one row per key plus one per emitted minimum."""
    key_cols = [c for c in sdf.columns if c in keys]
    rest = [c for c in sdf.columns if c not in keys]
    if order_col is None:
        return dedup_keep_first(sdf, keys, within_watermark=False).select(*key_cols, *rest)
    order = F.col(order_col)
    first = F.min_by(F.struct(*rest), F.struct(order.isNull(), order))
    return (
        sdf.groupBy(*key_cols)
        .agg(first.alias("__first"))
        .select(*key_cols, *[F.col("__first").getField(c).alias(c) for c in rest])
        .dropDuplicates([*key_cols, order_col])
    )


def window_dedup_keep_first(sdf: DataFrame, ts: str, size: str, keys: list[str]) -> DataFrame:
    """First row per key within each tumbling window; state freed when
    the watermark passes the window. The raw ``ts`` column is replaced
    by window_start/window_end — streams allow only ONE event-time
    column, and the window struct inherits it from ``ts``."""
    return (
        sdf.withColumn("__w", F.window(ts, size))
        .drop(ts)  # the window struct is now the sole event-time column
        .dropDuplicates(["__w", *keys])
        .withColumn("window_start", F.col("__w.start"))
        .withColumn("window_end", F.col("__w.end"))
        .drop("__w")
    )


def temporal_sort(
    sdf: DataFrame, ts: str, delay: str, keys: list[str]
) -> DataFrame:
    """Event-time-ordered emission (StreamExecTemporalSort.java:64 /
    RowTimeSortOperator.java): rows are buffered per key and released
    in timestamp order only once the carried bounded-out-of-orderness
    watermark (max seen ts − ``delay``, advancing monotonically across
    micro-batches) passes them — late-but-within-delay rows are
    re-ordered into place, exactly what the reference's operator uses
    its event-time timers for.

    Row order is guaranteed within each emitted per-key batch (Spark
    gives no cross-partition ordering downstream — same restriction the
    reference has across parallel subtasks). State = the not-yet-final
    tail per key, bounded by ``delay``: the JSON state document holds
    those rows and the carried clock (max seen ts)."""
    delay_td = pd.Timedelta(delay)

    def step(key, rows, doc):
        buf, clock = doc or ([], None)
        clock = pd.Timestamp(clock) if clock else None
        for d in rows:
            t = pd.Timestamp(d[ts])
            clock = t if clock is None else max(clock, t)
        out, keep = [], []
        wm = clock - delay_td if clock is not None else None
        for d in buf + rows:
            (out if wm is not None and pd.Timestamp(d[ts]) <= wm else keep).append(d)
        out.sort(key=lambda d: pd.Timestamp(d[ts]))
        return out, [keep, clock.isoformat() if clock else None]

    return json_state_operator(sdf, keys, step, sdf.schema)
