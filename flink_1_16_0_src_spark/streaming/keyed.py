"""Python keyed state: the one module that knows how a per-key state is
stored, restored and turned back into output rows.

The Python stateful operators run on ``applyInPandasWithState``, the
Spark analog of the keyed ValueState every Flink keyed operator sits on
(State Management in Apache Flink, VLDB'17). Each operator keeps only a
pure step function over one key's rows; the state encoding, row
canonicalisation, key re-attachment, timestamp restoration and the
Spark call live here, in two shapes:

- :func:`json_state_operator`: one JSON document per key, for the
  row-buffer operators (count and delta windows, the trigger runner,
  temporal sort, the unbounded and as-of joins, both CEP matchers);
- :func:`array_state_operator`: one array per carried column, which
  keeps the Spark types of whole stored rows (streaming Top-N,
  keep-last dedup, changelog normalize).

Both yield nothing for a key whose step emits no rows: an empty frame
per group costs one Arrow round trip per key and appends the same
output.
"""

from __future__ import annotations

import json
import time
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegralType,
    StringType,
    StructField,
    StructType,
)

_SCALARS = ("bigint", "int", "smallint", "tinyint", "double", "float", "string", "boolean")
_JSON_STATE = StructType([StructField("doc", StringType())])


def _py(v):
    """Normalize numpy/pandas scalars to Python natives — the JVM-side
    state pickler rejects numpy dtypes."""
    if hasattr(v, "to_pydatetime"):
        return v.to_pydatetime()
    if hasattr(v, "item"):
        return v.item()
    return v


def _canon_rows(records: list[dict]) -> list[dict]:
    """Canonicalize rows through the SAME json.dumps/loads round-trip
    the state restore applies, so a row's column types never depend on
    which micro-batch it arrived in (a fresh-batch row kept
    pd.Timestamp/bytes where a state-restored one carried their str()
    forms — a user predicate or measure reading such a column saw
    different types for the same logical row)."""
    return json.loads(json.dumps(records, default=str))


def _batch(pdfs) -> pd.DataFrame | None:
    """One key's rows of this micro-batch as one frame (None if empty)."""
    frames = [p for p in pdfs if len(p)]
    if len(frames) > 1:
        return pd.concat(frames, ignore_index=True)
    return frames[0] if frames else None


def json_state_operator(
    sdf: DataFrame,
    keys: list[str],
    step: Callable,
    output_schema: StructType,
    sort_by: str | list[str] | None = None,
    none_for_nan: bool = False,
) -> DataFrame:
    """Run ``step(key, rows, doc) -> (out_rows, doc)`` per key in append
    mode. ``rows`` are the key's batch rows as canonical dicts
    (:func:`_canon_rows`), ``doc`` the decoded state document (None for
    a key without state), ``out_rows`` dicts keyed by output column;
    timestamp columns may hold str or Timestamp values. ``sort_by``
    stable-sorts the batch rows before canonicalisation (on the native
    values, not their JSON forms). ``none_for_nan`` keeps None (not
    NaN) in the output, for union frames whose rows leave the other
    side's columns empty."""
    cols = output_schema.fieldNames()
    ts_cols = [f.name for f in output_schema.fields if "timestamp" in f.dataType.simpleString()]

    def fn(key, pdfs, state):
        doc = json.loads(state.get[0]) if state.exists else None
        pdf = _batch(pdfs)
        if pdf is not None and sort_by is not None:
            pdf = pdf.sort_values(sort_by, kind="stable")
        rows = _canon_rows(pdf.to_dict("records")) if pdf is not None else []
        out, doc = step(key, rows, doc)
        state.update((json.dumps(doc, default=str),))
        if out:
            res = pd.DataFrame(out, columns=cols)
            if none_for_nan:
                res = res.astype(object).where(res.notna(), None)
            for c in ts_cols:
                res[c] = pd.to_datetime(res[c])
            yield res

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, output_schema, _JSON_STATE, "append", GroupStateTimeout.NoTimeout
    )


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


def _encode(values: pd.Series, dtype) -> list:
    """One state array: NULL/NaN → None, integral columns as int (a
    float written into an ArrayType(LongType) state column silently
    becomes NULL), everything else as a Python native."""
    as_int = isinstance(dtype, IntegralType)
    return [None if pd.isna(v) else int(v) if as_int else _py(v) for v in values]


def array_state_operator(
    sdf: DataFrame,
    keys: list[str],
    step: Callable,
    extra_fields: list[StructField] = (),
    output_mode: str = "update",
    ttl_ms: int | None = None,
    uncarried: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``step(prev, rows) -> (out, keep)`` per key with the key's
    state held as one array per carried column. ``prev`` is the stored
    frame of carried columns (None for a new or expired key), ``rows``
    the key's batch rows without the key columns, ``out`` the frame to
    emit (carried columns plus ``extra_fields``; the key columns are
    attached here) and ``keep`` the frame to store (None drops the
    key's state). The carried columns are the non-key columns minus
    ``uncarried``.

    Output columns: the keys, the carried columns (both in input
    order), then ``extra_fields``. ``ttl_ms`` expires a key's state on
    its next access after that much idle wall-clock time — the
    visibility of Flink's default StateTtlConfig (OnReadAndWrite
    cleanup, flink-core/.../state/StateTtlConfig.java). Spark's
    ProcessingTimeTimeout (eager background eviction) crashes Python
    workers in this build, so expiry is lazy-on-access."""
    carry = [c for c in _carry_cols(sdf, keys) if c not in uncarried]
    by_name = {f.name: f for f in sdf.schema.fields}
    out_schema = StructType(
        [f for f in sdf.schema.fields if f.name in keys]
        + [by_name[c] for c in carry]
        + list(extra_fields)
    )
    state_schema = StructType(
        [StructField(c, ArrayType(by_name[c].dataType)) for c in carry]
        + [StructField("__updated", DoubleType())]
    )
    names = out_schema.fieldNames()

    def fn(key, pdfs, state):
        now = time.time()
        prev = None
        if state.exists and (ttl_ms is None or (now - state.get[-1]) * 1000.0 <= ttl_ms):
            prev = pd.DataFrame({c: list(a) for c, a in zip(carry, state.get[:-1])})
        rows = _batch(pdfs)
        if rows is None:
            return
        out, keep = step(prev, rows.drop(columns=keys))
        if keep is not None:
            state.update(
                tuple(_encode(keep[c], by_name[c].dataType) for c in carry) + (now,)
            )
        elif state.exists:
            state.remove()
        if len(out):
            yield out.assign(**dict(zip(keys, key)))[names]

    return sdf.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, state_schema, output_mode, GroupStateTimeout.NoTimeout
    )
