"""The benchmark's workloads: which operations run, on which inputs.

An operation builds a DataFrame through the library's public functions
and is checked against a DuckDB oracle SQL over the same parquet files.
Registered queries use their own builder and oracle. The stream_replay
drains are written here against ``streaming.sources``,
``streaming.windows`` and ``session.TableEnvironment`` with
``maxFilesPerTrigger=1``; each reuses the oracle of the registered
query that computes the same result.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_1_16_0_src_spark.registry import all_queries
from flink_1_16_0_src_spark.session import TableEnvironment
from flink_1_16_0_src_spark.streaming import sources as ssrc
from flink_1_16_0_src_spark.streaming import windows as swin

# stream_replay replays the first REPLAY_DAYS days of events, cut into
# REPLAY_FILES ts-ordered files: one micro-batch per file, plus the
# no-data batch that lets the final watermark close the last windows.
# A batch costs 0.5-2 s whatever its size, so the file count sets a
# drain's wall; two files keep a run of the three drains near a minute.
REPLAY_DAYS = 5
REPLAY_FILES = 2
REPLAY = {"stream_replay": (REPLAY_DAYS, REPLAY_FILES)}  # gen.write_inputs(replay=)

_seq = itertools.count()


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[SparkSession, str], DataFrame]  # (spark, input root)
    oracle: str  # DuckDB SQL over views named after the tables
    tables: tuple[str, ...]  # tables scanned; their rows are the op's input rows
    drain: bool = False  # runs a streaming query inside build


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    # nominal wall of one pass on a 4-core box: a run makes
    # round(seconds / pass_s) whole passes, the same count on every run
    pass_s: float


def _registered(name: str, tables: tuple[str, ...], drain: bool = False) -> Op:
    spec = all_queries()[name]
    return Op(name, spec.fn, spec.oracle, tables, drain)


def _replay_stream(spark: SparkSession, root: str) -> DataFrame:
    return ssrc.stream_table(
        spark, root, "events", watermark=("ts", "10 minutes"), max_files_per_trigger=1
    )


def tumble_drain(spark: SparkSession, root: str) -> DataFrame:
    """JVM-state TUMBLE(1 hour) count/sum per event_type."""
    out = swin.tumble_agg(
        _replay_stream(spark, root), "ts", "1 hour", ["event_type"],
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"),
    )
    drained = ssrc.run_to_memory(out, f"drain_pb_tumble_{next(_seq)}", "append")
    return drained.select("window_start", "window_end", "event_type", "n", "sum_value")


def window_topn_drain(spark: SparkSession, root: str) -> DataFrame:
    """Python-state window Top-2 by value per (1-hour window, event_type)."""
    out = swin.window_topn(
        _replay_stream(spark, root), "ts", "1 hour", ["event_type"], "value", 2,
        ["user_id", "event_id"],
    )
    drained = ssrc.run_to_memory(out, f"drain_pb_topn_{next(_seq)}", "append")
    return drained.select(
        "window_start", "window_end", "event_type", "user_id", "event_id",
        F.round("value", 2).alias("value"), F.col("rank_num").alias("rn"),
    )


def statement_set_drain(spark: SparkSession, root: str) -> DataFrame:
    """SQL text: a DDL source with a watermark, two parquet file sinks,
    one streaming statement set drained one file per micro-batch; the
    result joins both sinks back."""
    t = TableEnvironment(spark)
    k = next(_seq)
    t.execute_sql(
        f"CREATE TABLE sq_pb_ev_{k} (event_id BIGINT, ts TIMESTAMP(3),"
        f" user_id BIGINT, event_type STRING, value DOUBLE,"
        f" WATERMARK FOR ts AS ts - INTERVAL '10' MINUTE)"
        f" WITH ('connector'='filesystem',"
        f"'path'='{os.path.join(root, 'events.parquet')}','format'='parquet')"
    )
    sinks = tempfile.mkdtemp(prefix="sset_sinks_", dir=root)
    for s in ("clicks", "purch"):
        t.execute_sql(
            f"CREATE TABLE sq_pb_{s}_{k} WITH ('connector'='filesystem',"
            f"'path'='{os.path.join(sinks, s)}','format'='parquet')"
        )
    (
        t.create_stream_statement_set()
        .add_insert_sql(
            f"INSERT INTO sq_pb_clicks_{k} SELECT event_id, user_id "
            f"FROM sq_pb_ev_{k} WHERE event_type = 'click'"
        )
        .add_insert_sql(
            f"INSERT INTO sq_pb_purch_{k} SELECT user_id, window_start, window_end, "
            f"COUNT(*) AS n_purchases, ROUND(SUM(value), 2) AS purchase_total "
            f"FROM TABLE(TUMBLE(TABLE sq_pb_ev_{k}, DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
            f"WHERE event_type = 'purchase' GROUP BY user_id, window_start, window_end"
        )
        .execute(max_files_per_trigger=1)
    )
    clicks = (
        spark.read.parquet(os.path.join(sinks, "clicks"))
        .groupBy("user_id").agg(F.count("*").alias("n_clicks"))
    )
    purch = spark.read.parquet(os.path.join(sinks, "purch"))
    return clicks.join(purch, "user_id").select(
        "user_id", "n_clicks", "window_start", "window_end", "n_purchases",
        F.round("purchase_total", 2).alias("purchase_total"),
    )


def remove_sinks(root: str) -> None:
    for d in os.listdir(root):
        if d.startswith("sset_sinks_"):
            shutil.rmtree(os.path.join(root, d))


def workloads() -> dict[str, Workload]:
    oracle = {n: s.oracle for n, s in all_queries().items()}
    stream = (
        Op("tumble_drain", tumble_drain, oracle["stream_tumble_drain"],
           ("events",), drain=True),
        Op("window_topn_drain", window_topn_drain,
           oracle["stream_sql_window_topn_drain"], ("events",), drain=True),
        Op("statement_set_drain", statement_set_drain,
           oracle["stream_sql_statement_set_drain"], ("events",), drain=True),
    )
    return {
        "tpch_batch": Workload("tpch_batch", (
            _registered("agg_q1_pricing_summary", ("lineitem",)),
            _registered("join_multiway_q5",
                        ("region", "nation", "customer", "orders", "lineitem", "supplier")),
            _registered("tpch_q9_product_profit",
                        ("part", "lineitem", "supplier", "orders", "nation")),
            _registered("tpch_q21_suppliers_waiting",
                        ("supplier", "lineitem", "orders", "nation")),
            _registered("tpcds_q67_rollup_rank", ("lineitem", "part")),
        ), pass_s=6.0),
        "stream_replay": Workload("stream_replay", stream, pass_s=10.0),
        "doc_curation": Workload("doc_curation", (
            _registered("dedup_minhash_lsh", ("documents",)),
            _registered("pipeline_e2e_curation", ("documents",)),
            _registered("dedup_substring_spans", ("documents",)),
            _registered("text_tfidf_topk", ("documents",)),
            _registered("stream_doc_dedup_drain", ("documents",), drain=True),
        ), pass_s=12.0),
    }
