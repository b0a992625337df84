#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 28 --trace 0

Generates the workload's inputs from the seed, starts one local Spark
session on every core, runs the workload's operations once to warm up
(gated against the DuckDB oracle), then round(seconds / pass_s) whole
passes, ``pass_s`` being the workload's nominal pass wall, so every run
takes the same number of samples. The last line of stdout is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run traces every other operation,
so it also reports the tracing overhead, and writes its spans to
``.perfbench/traces/<workload>-seed<seed>.json``.

Exits non-zero, without a result, when the library is not importable
or the session cannot start. Everything is read and written inside the
checkout; the run's scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

T0 = time.perf_counter()
REPO = Path(__file__).resolve().parent.parent
WORK = REPO / ".perfbench"
DRIVER_MEM = "4g"  # well below the RAM of a 4-core, 15 GB box
WORKLOADS = ("tpch_batch", "stream_replay", "doc_curation")

E2E_UNITS = {
    "setup_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
    "events_per_s": "rows/s",
    "batch_p50_ms": "ms",
    "batch_p90_ms": "ms",
    "ok_ratio": "ratio",
}


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "rows" if "rows" in name else "count"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1,
                   help="table sizes as a TPC-H scale factor (default 0.1)")
    return p.parse_args(argv)


def pin_environment(run_dir: Path, trace: bool) -> None:
    """Everything the Spark launch reads: cores, heap, worker import path,
    scratch directories inside the run directory, and the event log."""
    for d in ("tmp", "local", "warehouse", "eventlog"):
        (run_dir / d).mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # Python workers import the library from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=str(run_dir / "local"),
        TMPDIR=str(run_dir / "tmp"),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(run_dir / "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this one
    started (JVM, Python daemon and workers) to exit."""
    import procmem
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while (left := procmem.descendants()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def pct(xs: list[float], q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def e2e_metrics(samples, rows: dict[str, int]) -> dict[str, float]:
    """Timing metrics of one set of samples (linear-interpolated percentiles)."""
    ok = [s for s in samples if not s.error]
    wall = [s.wall_s for s in ok]
    total = sum(wall) or float("nan")
    batches = [p["durationMs"].get("triggerExecution", 0) for s in ok for p in s.batches]
    # without drains, each query runs as one bounded batch: its collect
    units = batches or [s.collect_s * 1000 for s in ok]
    source_rows = sum(
        sum(p.get("numInputRows", 0) for p in s.batches) if s.op.drain
        else sum(rows[t] for t in s.op.tables)
        for s in ok
    )
    return {
        "query_p50_s": pct(wall, 50),
        "query_p90_s": pct(wall, 90),
        "queries_per_s": len(ok) / total,
        "events_per_s": source_rows / total,
        "batch_p50_ms": pct(units, 50),
        "batch_p90_ms": pct(units, 90),
    }


def run_workload(args: argparse.Namespace, run_dir: Path) -> dict:
    import gen
    import procmem
    import trace
    from harness import OracleGate, ProgressListener, Runner
    from workloads import REPLAY, workloads

    from flink_1_16_0_src_spark.session import get_spark

    def phase(name: str) -> None:
        print(f"[perfbench] {time.perf_counter() - T0:7.2f} s  {name}", file=sys.stderr)

    root = str(run_dir / "inputs")
    tables = gen.make_tables(args.scale)
    stats = gen.write_inputs(tables, root, args.seed, REPLAY.get(args.workload))
    print("[perfbench] inputs: " + ", ".join(
        f"{t} {s['rows']} rows {s['bytes']} B" for t, s in stats.items()), file=sys.stderr)
    rows = {t: s["rows"] for t, s in stats.items()}
    phase("inputs written")

    tracer = trace.Tracer()
    with procmem.RssSampler() as mem:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        try:
            listener = ProgressListener()
            spark.streams.addListener(listener)
            wl = workloads()[args.workload]  # imports the query registry
            if args.trace:
                trace.install_wrappers(tracer)
            runner = Runner(spark, root, tracer, listener)
            warm = [runner.run(op) for op in wl.ops]
            setup_s = time.perf_counter() - t0
            phase("set up")

            content = f"{gen.fingerprint(tables)} replay={REPLAY.get(args.workload)}"
            gate = OracleGate(root, str(WORK / "oracle"), content)
            failed = 0
            for s in warm:
                problems = gate.check(s)
                failed += bool(problems)
                for p in problems:
                    print(f"[perfbench] ORACLE MISMATCH {s.op.name}: {p}", file=sys.stderr)

            phase("oracle gate")
            timed = []
            passes = max(1 + args.trace, int(args.seconds / wl.pass_s + 0.5))
            for i in range(passes):
                # a traced run traces every other operation, alternating
                # between passes, so that both halves see warm and warmer code
                timed += [runner.run(op, bool(args.trace) and (i + j) % 2 == 1)
                          for j, op in enumerate(wl.ops)]
            phase(f"{passes} timed passes")
            for op in wl.ops:
                walls = [s.wall_s for s in timed if s.op is op and not s.error]
                first = next(s.wall_s for s in warm if s.op is op)
                print(f"[perfbench] {op.name}: first {first:.3f} s, timed "
                      + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
            for s in timed:
                problems = gate.same_as_checked(s)
                failed += bool(problems)
                for p in problems:
                    print(f"[perfbench] RESULT CHANGED {s.op.name}: {p}", file=sys.stderr)
            mem.sample()
            print(f"[perfbench] peak RSS: JVM {mem.jvm_peak_mb:.0f} MB, Python workers "
                  f"{mem.python_peak_mb:.0f} MB, together {mem.peak_mb:.0f} MB", file=sys.stderr)
        finally:
            stop_session(spark)
            phase("session stopped")

    attempted = len(warm) + len(timed)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not args.trace:
        m = e2e_metrics(timed, rows)
        m.update(setup_s=setup_s, ok_ratio=(attempted - failed) / attempted)
        result["metrics"] = {k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items()}
        return result

    plain = [s for s in timed if not s.traced]
    traced = [s for s in timed if s.traced]
    jobs = trace.read_event_log(str(run_dir / "eventlog"))
    m, spans = trace.layer_metrics(
        timed, tracer, jobs, {t: s["bytes"] for t, s in stats.items()},
        len(os.sched_getaffinity(0)))
    m["mem.peak_rss_mb"] = mem.peak_mb
    m["mem.jvm_peak_mb"] = mem.jvm_peak_mb
    m["mem.python_peak_mb"] = mem.python_peak_mb
    e2e_plain, e2e_traced = e2e_metrics(plain, rows), e2e_metrics(traced, rows)
    out = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed, "layers": m,
        "overhead": {k: e2e_traced[k] - e2e_plain[k] for k in e2e_plain},
        "untraced": e2e_plain, "traced": e2e_traced, "spans": spans,
    }, default=float))
    print(f"[perfbench] spans written to {out}", file=sys.stderr)
    result["metrics"] = {k: {"value": float(v), "unit": layer_unit(k)}
                         for k, v in sorted(m.items())}
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(REPO))
    if importlib.util.find_spec("flink_1_16_0_src_spark") is None:
        print("perfbench: flink_1_16_0_src_spark is not in this checkout", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        pin_environment(run_dir, bool(args.trace))
        result = run_workload(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
