"""Stream-stream joins.

Reference parity (SURVEY.md §2.4):
- Interval join (StreamExecIntervalJoin.java:82,
  TimeIntervalJoin.java) → builtin stream-stream join with a time-range
  predicate; both sides watermarked so buffered state is purged once
  the watermark passes the bound.
- Window join (StreamExecWindowJoin.java:69, WindowJoinOperator.java:66)
  → equi-join on the tumbling-window struct + keys; state dropped at
  window end.
- Unbounded stream-stream join with update output
  (StreamingJoinOperator.java:36) → ``unbounded_join``: dual per-key
  row buffers in one JSON state document per key
  (keyed.json_state_operator), ``__rowkind`` changelog
  output (+I pairs; left-outer retracts null padding with -D on the
  numMatches 0→1 transition), optional event-time TTL with
  expire-on-access semantics.

Scale: both joins shuffle on (key [, window]); interval-join state is
O(rows within the time bound per key) — identical asymptotics to
Flink's dual keyed state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: tuple[str, str],
    time_cols: tuple[str, str],
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """``l.ts BETWEEN r.ts - lower AND r.ts + upper`` join. Both inputs
    must carry watermarks for state cleanup (append mode)."""
    lk, rk = key
    lt, rt = time_cols
    cond = (
        (left[lk] == right[rk])
        & (left[lt] >= right[rt] - F.expr(f"INTERVAL {lower}"))
        & (left[lt] <= right[rt] + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(right, cond, how)


def window_join(
    left: DataFrame,
    right: DataFrame,
    ts: tuple[str, str],
    size: str,
    keys: tuple[str, str],
    how: str = "inner",
) -> DataFrame:
    """Join rows that share the same tumbling window AND key."""
    lt, rt = ts
    lk, rk = keys
    lw = left.withColumn("window", F.window(lt, size))
    rw = right.withColumn("window", F.window(rt, size))
    cond = (lw["window"] == rw["window"]) & (lw[lk] == rw[rk])
    return lw.join(rw, cond, how)


def unbounded_join(
    left: DataFrame,
    right: DataFrame,
    key: tuple[str, str],
    how: str = "inner",
    ttl: tuple[str, str, str] | None = None,
) -> DataFrame:
    """Unbounded stream-stream equi-join with update output — the
    reference's StreamingJoinOperator.java:36 (dual keyed state, emits
    changelog rows as either side arrives; no time bound).

    Spark has no two-input keyed operator, so both sides are tagged and
    unioned (the same connect() reduction datastream.ConnectedStreams
    uses) and a single keyed-state operator keeps the dual per-key row
    buffers Flink keeps in its left/right state views, plus each stored
    row's match counter, in one JSON document per key.

    Output is a changelog with an explicit ``__rowkind`` column (Spark
    has no retraction rows — SURVEY.md §7.3 risk 1):
    - inner: every new pairing emits ``+I`` (an append-only changelog —
      matches can only accumulate);
    - left_outer: an unmatched left row emits ``+I`` null-padded; when
      its first match arrives the null-padded row is retracted with
      ``-D`` and the real pairings emitted ``+I`` — exactly the
      OuterJoinRecordStateView numMatches 0→1 transition. Right-outer =
      call with sides swapped; full_outer pads and retracts on BOTH
      sides (dual numMatches counters).
    - left_semi / left_anti (StreamingSemiAntiJoinOperator.java:34):
      left rows only. Semi emits ``+I`` when EXISTS first becomes true;
      anti emits ``+I`` while NOT EXISTS holds and retracts with ``-D``
      on the first match.

    ``ttl=(left_ts, right_ts, interval)`` bounds state like Flink's
    table.exec.state.ttl (SURVEY.md §7.3 risk 2): stored rows whose
    event time is older than ``max seen ts − interval`` are evicted
    lazily per key. Without it state grows with the stream — same
    caveat the reference documents.

    Column names of the two sides must be disjoint (rename before
    joining; Flink SQL forces the same via aliases).
    """
    import json

    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    from flink_1_16_0_src_spark.streaming.keyed import json_state_operator

    assert how in ("inner", "left_outer", "full_outer", "left_semi", "left_anti"), (
        f"unsupported how={how!r}"
    )
    pairs = how in ("inner", "left_outer", "full_outer")  # semi/anti emit left rows only
    lk, rk = key
    lcols = left.columns
    rcols = right.columns
    clash = (set(lcols) & set(rcols)) - set()
    assert not clash, f"column names must be disjoint, clash: {sorted(clash)}"

    out_fields = list(left.schema.fields) + (
        [StructField(f.name, f.dataType, True) for f in right.schema.fields]
        if pairs
        else []
    )
    output_schema = StructType(out_fields + [StructField("__rowkind", StringType())])

    tagged = left.select(
        F.col(lk).cast("string").alias("__key"),
        F.lit(1).alias("__side"),
        F.to_json(F.struct(*lcols)).alias("__payload"),
    ).unionByName(
        right.select(
            F.col(rk).cast("string").alias("__key"),
            F.lit(2).alias("__side"),
            F.to_json(F.struct(*rcols)).alias("__payload"),
        )
    )

    ttl_expr = ttl
    lts, rts, interval = ttl if ttl else (None, None, None)
    delta = pd.Timedelta(interval) if interval else None

    # state document: the stored rows of each side + per-row match counters
    def step(pkey, rows, doc):
        lbuf, rbuf, lmatches, rmatches = doc or ([], [], [], [])
        out = []

        def emit(lrow, rrow, kind):
            rec = {c: None for c in (lcols + rcols if pairs else lcols)}
            if lrow is not None:
                rec.update(lrow)
            if rrow is not None:
                rec.update(rrow)
            rec["__rowkind"] = kind
            out.append(rec)

        max_ts = None

        def fresh(stored: dict, ts_col: str | None) -> bool:
            # expire-on-access (StateTtlConfig NeverReturnExpired): a
            # stored row older than the event clock − ttl never matches,
            # even before the end-of-batch sweep evicts it
            if delta is None or ts_col is None or max_ts is None:
                return True
            t = stored.get(ts_col)
            return t is None or pd.Timestamp(t) >= max_ts - delta

        def tick(row: dict, ts_col: str | None):
            nonlocal max_ts
            if ttl_expr and ts_col and row.get(ts_col) is not None:
                ts = pd.Timestamp(row[ts_col])
                max_ts = ts if max_ts is None else max(max_ts, ts)

        for t in rows:
            row = json.loads(t["__payload"])
            if t["__side"] == 1:
                tick(row, lts)
                n = 0
                for j, rrow in enumerate(rbuf):
                    if fresh(rrow, rts):
                        if how == "full_outer" and rmatches[j] == 0:
                            emit(None, rrow, "-D")  # retract right padding
                        if pairs:
                            emit(row, rrow, "+I")
                        rmatches[j] += 1
                        n += 1
                if n == 0 and how in ("left_outer", "full_outer"):
                    emit(row, None, "+I")
                elif n > 0 and how == "left_semi":
                    emit(row, None, "+I")  # EXISTS satisfied on arrival
                elif n == 0 and how == "left_anti":
                    emit(row, None, "+I")  # NOT EXISTS holds (for now)
                lbuf.append(row)
                lmatches.append(n)
            else:
                tick(row, rts)
                n = 0
                for i, lrow in enumerate(lbuf):
                    if not fresh(lrow, lts):
                        continue
                    if lmatches[i] == 0:
                        # numMatches 0→1 transition
                        if how in ("left_outer", "full_outer"):
                            emit(lrow, None, "-D")  # retract null padding
                        elif how == "left_semi":
                            emit(lrow, None, "+I")  # EXISTS newly true
                        elif how == "left_anti":
                            emit(lrow, None, "-D")  # NOT EXISTS now false
                    if pairs:
                        emit(lrow, row, "+I")
                    lmatches[i] += 1
                    n += 1
                if n == 0 and how == "full_outer":
                    emit(None, row, "+I")  # unmatched right padded
                rbuf.append(row)
                rmatches.append(n)
        if ttl_expr and max_ts is not None:
            keep = [
                i for i, r in enumerate(lbuf)
                if r.get(lts) is None or pd.Timestamp(r[lts]) >= max_ts - delta
            ]
            lbuf = [lbuf[i] for i in keep]
            lmatches = [lmatches[i] for i in keep]
            rkeep = [
                j for j, r in enumerate(rbuf)
                if r.get(rts) is None or pd.Timestamp(r[rts]) >= max_ts - delta
            ]
            rbuf = [rbuf[j] for j in rkeep]
            rmatches = [rmatches[j] for j in rkeep]
        return out, [lbuf, rbuf, lmatches, rmatches]

    return json_state_operator(tagged, ["__key"], step, output_schema)
