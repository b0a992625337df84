"""Traced runs: spans around the calls into each layer, Spark's event log
and the streaming listener, folded into per-layer metrics.

Spans are recorded only while ``Tracer.active`` is set, and only from
this directory's files: outside-in wrappers around the library's public
functions (``install_wrappers``), the harness's build and collect spans,
micro-batches from the listener's progress timestamps, Catalyst phases
from the collected frame's ``QueryPlanningTracker`` and jobs from the
event log. Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame

from harness import Sample, iso_epoch

MB = 1024 * 1024
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"

# wall-time layers whose self time is reported; "op" is what no span covers
LAYERS = ("driver", "tables", "session", "catalyst", "jobs", "stream", "exec")


class Tracer:
    """Spans of the traced operations; ``op`` numbers the traced operations
    in the order they ran."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = -1

    def begin_op(self, name: str, traced: bool) -> None:
        self.active = traced
        if traced:
            self._op += 1
            self._open(name, "op")

    def end_op(self) -> None:
        if self.active:
            self._close()
        self.active = False

    def _open(self, name: str, layer: str) -> None:
        s = {"op": self._op, "name": name, "layer": layer, "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)

    def _close(self) -> None:
        self._stack.pop()["end"] = time.time()

    @contextmanager
    def _span(self, name: str, layer: str):
        self._open(name, layer)
        try:
            yield
        finally:
            self._close()

    def span(self, name: str, layer: str):
        return self._span(name, layer) if self.active else nullcontext()

    def catalyst_phases(self, df: DataFrame) -> dict[str, float]:
        """Analysis, optimization and planning of the collected frame,
        recorded as spans at the tracker's own timestamps."""
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                p = phases.apply(phase)
                out[phase] = float(p.durationMs())
                self.spans.append({
                    "op": self._op, "name": f"catalyst.{phase}", "layer": "catalyst",
                    "start": p.startTimeMs() / 1000, "end": p.endTimeMs() / 1000,
                })
        return out


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the library's public entry points of each layer so that, while
    tracing, every call opens a span. Functions imported by name into other
    modules are replaced there too."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from flink_1_16_0_src_spark import session, tables
    from flink_1_16_0_src_spark.streaming import sources

    def wrap(fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return traced

    for mod, attr, name, layer in (
        (tables, "load", "tables.load", "tables"),
        (sources, "run_to_memory", "stream.drain", "stream"),
    ):
        orig = getattr(mod, attr)
        new = wrap(orig, name, layer)
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith("flink_1_16_0_src_spark") \
                    and getattr(m, attr, None) is orig:
                setattr(m, attr, new)
    for cls, attr, name, layer in (
        (session.TableEnvironment, "execute_sql", "session.sql", "session"),
        (session.TableEnvironment, "stream_query", "session.sql", "session"),
        (session.TableEnvironment, "create_streaming_view", "session.sql", "session"),
        (session.StreamStatementSet, "execute", "session.set_execute", "session"),
        (ClassicDataFrame, "localCheckpoint", "barrier", "jobs"),
        (ClassicDataFrame, "checkpoint", "barrier", "jobs"),
        (ClassicDataFrame, "persist", "barrier", "jobs"),
        (ClassicDataFrame, "cache", "barrier", "jobs"),
    ):
        setattr(cls, attr, wrap(getattr(cls, attr), name, layer))


# ---------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of the application's event log, each with its task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    submitted: set[int] = set()
    for fname in os.listdir(log_dir):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"start": ev["Submission Time"] / 1000, "end": None,
                                 "stages": ev["Stage IDs"], "t": defaultdict(float)}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    _add_task(jobs[stage_job[ev["Stage ID"]]]["t"], ev)
    for j in jobs.values():
        j["skipped"] = sum(sid not in submitted for sid in j["stages"])
    return [j for j in jobs.values() if j["end"] is not None]


def _add_task(t: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    t["tasks"] += 1
    t["run_s"] += m.get("Executor Run Time", 0) / 1000
    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    t["gc_s"] += m.get("JVM GC Time", 0) / 1000
    t["scan_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000
    t["shuffle_write_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    t["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in ev["Task Info"].get("Accumulables", []):
        if acc.get("Name") in (PY_RUN, PY_START, PY_SENT, PY_RETURNED):
            t[acc["Name"]] += float(acc.get("Update", 0) or 0)


# ------------------------------------------------------------------- folding
def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def _nest(spans: list[dict]) -> None:
    """Give every span a parent: the deepest earlier-opened span of the
    same operation whose interval holds its start."""
    by_op = defaultdict(list)
    for i, s in enumerate(spans):
        s["id"] = i
        by_op[s["op"]].append(s)
    for group in by_op.values():
        group.sort(key=lambda s: (s["start"], -(s["end"] - s["start"])))
        for i, s in enumerate(group):
            s["parent"] = None
            for c in reversed(group[:i]):
                if c["start"] <= s["start"] and s["end"] <= c["end"] + 1e-3:
                    s["parent"] = c["id"]
                    break


def _self_times(spans: list[dict]) -> dict[str, float]:
    kids = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = _union([(max(lo, c["start"]), min(hi, c["end"])) for c in kids[s["id"]]
                          if c["start"] < hi and c["end"] > lo])
        out[s["layer"]] += max(0.0, (hi - lo) - covered)
    return out


def _batch_spans(s: Sample, op_index: int) -> list[dict]:
    return [{
        "op": op_index, "name": f"stream.batch{p['batchId']}", "layer": "stream",
        "start": iso_epoch(p["timestamp"]),
        "end": iso_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000,
    } for p in s.batches]


def layer_metrics(samples: list[Sample], tracer: Tracer, jobs: list[dict],
                  disk_bytes: dict[str, int], cores: int) -> tuple[dict, list[dict]]:
    """Per-layer metrics over the traced samples (per operation means unless
    the name says otherwise) and the full span list."""
    traced = [s for s in samples if s.traced and not s.error]
    op_ids = sorted({sp["op"] for sp in tracer.spans if sp["layer"] == "op"})
    traced_all = [s for s in samples if s.traced]
    spans = list(tracer.spans)
    for op_index, s in zip(op_ids, traced_all):
        spans += _batch_spans(s, op_index)
    # a job belongs to the operation running when it was submitted
    roots = [sp for sp in spans if sp["layer"] == "op"]
    for j in jobs:
        for r in roots:
            if r["start"] <= j["start"] <= r["end"]:
                spans.append({"op": r["op"], "name": "job", "layer": "exec",
                              "start": j["start"], "end": j["end"], "job": j})
                break
    _nest(spans)
    by_id = {sp["id"]: sp for sp in spans}
    for sp in spans:
        if sp["name"] == "job":
            # jobs run while building the frame, outside any drain, are
            # barriers and driver actions; the rest execute a result
            p = by_id.get(sp["parent"])
            chain = []
            while p is not None:
                chain.append(p["name"])
                p = by_id.get(p.get("parent"))
            if "build" in chain and not any(
                    c in ("stream.drain", "session.set_execute")
                    or c.startswith("stream.batch") for c in chain):
                sp["layer"] = "jobs"

    n = max(1, len(traced))
    wall = sum(s.wall_s for s in traced) or 1e-9
    tot = defaultdict(float)
    for sp in spans:
        if sp["name"] == "job" and sp["op"] in op_ids:
            j = sp["job"]
            tot["jobs"] += 1
            tot["stages"] += len(j["stages"])
            tot["skipped"] += j["skipped"]
            for k, v in j["t"].items():
                tot[k] += v
            if sp["layer"] == "jobs":
                tot["barrier_jobs_s"] += j["end"] - j["start"]
    count = defaultdict(float)
    dur = defaultdict(float)
    for sp in spans:
        if sp["layer"] in ("tables", "session", "jobs") and sp["name"] != "job":
            count[sp["name"]] += 1
            parent = by_id.get(sp["parent"])
            if parent is None or parent["name"] != sp["name"]:  # outermost only
                dur[sp["name"]] += sp["end"] - sp["start"]
    selfs = _self_times(spans)
    batches = [p for s in traced for p in s.batches]
    drains = [s for s in traced if s.op.drain]
    state = [op for p in batches for op in p.get("stateOperators", [])]
    input_rows = sum(p.get("numInputRows", 0) for p in batches)
    scanned_disk = sum(disk_bytes[t] for s in traced for t in s.op.tables)

    def med(xs):
        xs = sorted(xs)
        return xs[len(xs) // 2] if xs else 0.0

    def dms(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    m = {
        "driver.build_s": sum(s.build_s for s in traced) / n,
        "driver.collect_s": sum(s.collect_s for s in traced) / n,
        "driver.cpu_s": sum(s.cpu_s for s in traced) / n,
        "tables.load_calls": count["tables.load"] / n,
        "tables.load_s": dur["tables.load"] / n,
        "session.sql_calls": count["session.sql"] / n,
        "session.sql_s": dur["session.sql"] / n,
        "session.set_execute_s": dur["session.set_execute"] / n,
        "catalyst.analysis_ms": sum(s.catalyst_ms.get("analysis", 0) for s in traced) / n,
        "catalyst.optimization_ms":
            sum(s.catalyst_ms.get("optimization", 0) for s in traced) / n,
        "catalyst.planning_ms": sum(s.catalyst_ms.get("planning", 0) for s in traced) / n,
        "jobs.count": tot["jobs"] / n,
        "jobs.stages": tot["stages"] / n,
        "jobs.stages_skipped": tot["skipped"] / n,
        "jobs.tasks": tot["tasks"] / n,
        "jobs.barriers": count["barrier"] / n,
        "jobs.barrier_s": tot["barrier_jobs_s"] / n,
        "exec.task_s": tot["run_s"] / n,
        "exec.cpu_s": tot["cpu_s"] / n,
        "exec.gc_s": tot["gc_s"] / n,
        "exec.core_busy_ratio": tot["run_s"] / (wall * cores),
        "exec.scan_mb": tot["scan_b"] / MB / n,
        "exec.scan_ratio": tot["scan_b"] / scanned_disk if scanned_disk else 0.0,
        "exec.shuffle_write_mb": tot["shuffle_write_b"] / MB / n,
        "exec.shuffle_read_mb": tot["shuffle_read_b"] / MB / n,
        "exec.spill_mb": tot["spill_b"] / MB / n,
        "exec.fetch_wait_s": tot["fetch_wait_s"] / n,
        "python.run_s": tot[PY_RUN] / 1000 / n,
        "python.start_s": tot[PY_START] / 1000 / n,
        "python.sent_mb": tot[PY_SENT] / MB / n,
        "python.returned_mb": tot[PY_RETURNED] / MB / n,
        "stream.batches": len(batches) / max(1, len(drains)),
        "stream.rows_per_batch": input_rows / max(1, len(batches)),
        "stream.plan_ms": med([dms(p, "queryPlanning") for p in batches]),
        "stream.add_batch_ms": med([dms(p, "addBatch") for p in batches]),
        "stream.offsets_ms": med([dms(p, "latestOffset", "getBatch", "walCommit")
                                  for p in batches]),
        "stream.commit_ms": med([dms(p, "commitOffsets") for p in batches]),
        "state.commit_ms": med([sum(o.get("commitTimeMs", 0)
                                    for o in p.get("stateOperators", [])) for p in batches]),
        "state.rows_total": max([o.get("numRowsTotal", 0) for o in state], default=0),
        "state.memory_mb": max([o.get("memoryUsedBytes", 0) for o in state], default=0) / MB,
        "state.rows_updated": sum(o.get("numRowsUpdated", 0) for o in state) / n,
        "state.late_drop_ratio":
            sum(o.get("numRowsDroppedByWatermark", 0) for o in state) / max(1, input_rows),
    }
    for layer in LAYERS:
        m[f"self.{layer}_s"] = selfs[layer] / n
    m["unattributed_ratio"] = selfs["op"] / wall
    # overhead: per operation, mean traced over mean untraced wall
    ratios = []
    for op in {s.op.name: s.op for s in samples}.values():
        walls = [[s.wall_s for s in samples if s.op is op and not s.error and s.traced is t]
                 for t in (True, False)]
        if all(walls):
            ratios.append(sum(walls[0]) / len(walls[0]) / (sum(walls[1]) / len(walls[1])))
    m["trace.overhead_ratio"] = sum(ratios) / len(ratios) - 1.0 if ratios else 0.0
    return m, spans
