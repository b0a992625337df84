"""Run a workload's operations in a closed loop and check every result.

One client issues the operations back to back on one SparkSession. An
operation is timed from the call to its builder to holding the full
result in the driver as an Arrow table (``DataFrame.toArrow``); drains
materialise inside ``run_to_memory``, so their collect reads the memory
table. The first pass warms the session and is gated against the DuckDB
oracle; every later result must hash to the gated one.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

from flink_1_16_0_src_spark.oracle import canonicalize, compare_frames
from workloads import Op, remove_sinks


@dataclass
class Sample:
    op: Op
    traced: bool
    build_s: float = 0.0
    collect_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of this (driver) Python process
    result: pa.Table | None = None
    error: str | None = None
    batches: list[dict] = field(default_factory=list)  # streaming progress dicts
    catalyst_ms: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.collect_s


def iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every micro-batch's progress of the streaming queries the
    current operation starts. Events arrive on another thread, after the
    query may already have returned, so ``take`` waits for each
    started query's termination event."""

    def __init__(self):
        self._lock = threading.Condition()
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.runId))
            self._lock.notify_all()

    def take(self, timeout: float = 30.0) -> list[dict]:
        """Wait until every started query has terminated, then return and
        forget their progress events."""
        with self._lock:
            self._lock.wait_for(lambda: self._started <= self._terminated, timeout)
            out = sorted(self._progress, key=lambda p: (p["timestamp"], p["batchId"]))
            self._started, self._terminated, self._progress = set(), set(), []
        return out


class OracleGate:
    """Compares results with DuckDB over the same parquet inputs, then
    holds each checked result and its hash for the later repetitions.

    DuckDB's answer depends only on the table content, which the seed
    does not change, so it is kept under ``cache_dir`` keyed by the
    content fingerprint and the oracle SQL: later runs in the same
    checkout skip the slow oracles (the MinHash one takes ~9 s)."""

    def __init__(self, root: str, cache_dir: str, fingerprint: str):
        self.con = duckdb.connect()
        for entry in sorted(os.listdir(root)):
            if entry.endswith(".parquet"):
                path = os.path.join(root, entry, "*.parquet")
                self.con.execute(
                    f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self.cache_dir, self.fingerprint = cache_dir, fingerprint
        self.checked: dict[str, tuple[str, object]] = {}

    def expected(self, sql: str):
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            return pq.read_table(path).to_pandas()
        table = self.con.execute(sql).arrow()
        os.makedirs(self.cache_dir, exist_ok=True)
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
        return table.to_pandas()

    @staticmethod
    def digest(canon) -> str:
        return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()

    def check(self, s: Sample) -> list[str]:
        """Oracle check of a first result; returns the mismatches."""
        if s.error:
            return [s.error]
        got = s.result.to_pandas()
        problems = compare_frames(got, self.expected(s.op.oracle))
        if not problems:
            self.checked[s.op.name] = (self.digest(canonicalize(got)), got)
        return problems

    def same_as_checked(self, s: Sample) -> list[str]:
        """A repeated result must hash to the checked one; on a hash miss
        the oracle's float tolerance decides (sums may merge in another
        order)."""
        if s.error:
            return [s.error]
        if s.op.name not in self.checked:
            return ["no oracle-checked result to compare with"]
        digest, checked = self.checked[s.op.name]
        got = s.result.to_pandas()
        if self.digest(canonicalize(got)) == digest:
            return []
        return compare_frames(got, checked)


# temp views operations leave behind: memory sinks, DDL tables and the
# statement-set batch views. The fixture-table views are re-registered by
# every query anyway; dropping them makes the next queries slower.
LEFTOVER_VIEWS = ("drain_", "sq_", "__sset")


def drop_leftovers(spark: SparkSession, root: str) -> None:
    """Drop the memory-sink tables and temp views an operation created,
    release its caches and delete its file sinks, so later repetitions
    do not pay for leftovers."""
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(LEFTOVER_VIEWS):
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    remove_sinks(root)


class Runner:
    def __init__(self, spark: SparkSession, root: str, tracer, listener: ProgressListener):
        self.spark, self.root = spark, root
        self.tracer, self.listener = tracer, listener

    def run(self, op: Op, traced: bool = False) -> Sample:
        s = Sample(op, traced)
        tr = self.tracer
        tr.begin_op(op.name, traced)
        c0, t0 = time.process_time(), time.perf_counter()
        try:
            with tr.span("build", "driver"):
                df = op.build(self.spark, self.root)
            t1 = time.perf_counter()
            with tr.span("collect", "driver"):
                s.result = df.toArrow()
            t2 = time.perf_counter()
            s.build_s, s.collect_s = t1 - t0, t2 - t1
        except Exception:  # noqa: BLE001 — an operation failure is a result
            s.error = traceback.format_exc(limit=3)
            print(f"[perfbench] {op.name} raised:\n{s.error}", file=sys.stderr)
        s.cpu_s = time.process_time() - c0
        tr.end_op()
        if traced and not s.error:
            s.catalyst_ms = tr.catalyst_phases(df)
        s.batches = self.listener.take()
        drop_leftovers(self.spark, self.root)
        return s
