"""Seeded input generator for the benchmark.

The table *content* is fixed: it is drawn from ``CONTENT_SEED`` with the
schemas and value distributions of the repository's fixture tables
(FIXTURES.md), at ``scale`` (0.1 gives the sf0.1 row counts). The run
seed only decides the physical layout: the row order of every table and
how it is cut into part files. So every seed must give the same query
results, and a result that changes with the seed is a program defect.

``events`` has two layouts. The batch layout is permuted and cut like
every other table. The replay layout (``replay=(days, files)``) keeps the
first ``days`` days and cuts them into ``files`` contiguous ts ranges,
shuffling rows only inside each file; file modification times increase
with ts, so a file stream with ``maxFilesPerTrigger=1`` reads them in ts
order and a 10-minute watermark never drops a row.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

CONTENT_SEED = 42
PARTS = 4  # part files per table with at least SMALL_TABLE rows
SMALL_TABLE = 1000

_ADJ = ["large", "hot", "blue", "red", "new", "small", "cold", "old"]
_NOUN = ["ring", "bolt", "plate", "rod", "anvil", "gear", "widget", "gizmo"]
_PTYPE = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_SEGMENT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPE = ["signup", "click", "error", "view", "purchase"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANG = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _between_days(rng, n: int, lo: str, hi: str) -> pa.Array:
    day = 86_400_000_000
    d0, d1 = _us(lo) // day, _us(hi) // day
    return _ts(rng.integers(d0, d1 + 1, n) * day)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _docs(rng, n: int) -> list[str]:
    """Random token documents plus the three kinds of duplication the
    curation pipelines look for: token-shuffled copies (same token bag),
    copies with a suffix edit (MinHash near-dups and shared 8-grams) and
    a few exact copies."""
    lengths = rng.integers(10, 101, n)
    words = np.array(_VOCAB)
    docs = [words[rng.integers(0, len(_VOCAB), k)].tolist() for k in lengths]
    kind = rng.random(n)
    for i in range(1, n):
        src = docs[int(rng.integers(0, i))]
        if kind[i] < 0.05:
            docs[i] = list(rng.permutation(src))
        elif kind[i] < 0.10:
            docs[i] = src[: max(8, len(src) - 3)] + ["dup"]
        elif kind[i] < 0.102:
            docs[i] = list(src)
    return [" ".join(d) for d in docs]


def make_tables(scale: float = 0.1) -> dict[str, pa.Table]:
    """The fixed table content at ``scale`` (row counts of TPC-H sf=scale)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(150_000 * scale), max(25, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(20_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENT)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPE)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _between_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _between_days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    t0, span = _us("2024-01-01"), 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": np.array(_EVENT_TYPE)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    text = _docs(rng, n_doc)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": text,
        "lang": np.array(_LANG)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.6 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def fingerprint(tables: dict[str, pa.Table]) -> str:
    """Digest of the table content (independent of the run seed)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as writer:
            writer.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue())
    return h.hexdigest()


def _write_parts(table: pa.Table, out_dir: str, cuts: list[np.ndarray]) -> None:
    os.makedirs(out_dir)
    for i, idx in enumerate(cuts):
        pq.write_table(table.take(idx), os.path.join(out_dir, f"part-{i:05d}.parquet"))


def write_inputs(
    tables: dict[str, pa.Table],
    root: str,
    seed: int,
    replay: tuple[int, int] | None = None,
) -> dict[str, dict]:
    """Write every table as ``root/<name>.parquet/part-*.parquet`` in the
    seed's row order. ``replay=(days, files)`` writes only the first
    ``days`` days of events, in the replay layout of ``files`` files.
    Returns ``{name: {"rows", "bytes", "files"}}``."""
    rng = np.random.default_rng(seed)
    stats = {}
    for name, table in tables.items():
        out = os.path.join(root, f"{name}.parquet")
        if name == "events" and replay:
            days, n_files = replay
            end = _ts(np.array([_us("2024-01-01") + days * 86_400_000_000]))[0]
            table = table.filter(pa.compute.less(table["ts"], end))
            ranges = np.array_split(np.arange(table.num_rows), n_files)
            _write_parts(table, out, [rng.permutation(r) for r in ranges])
            # the file source orders files by modification time
            base = int(os.stat(out).st_mtime) - n_files
            for i, f in enumerate(sorted(os.listdir(out))):
                os.utime(os.path.join(out, f), (base + i, base + i))
        else:
            parts = PARTS if table.num_rows >= SMALL_TABLE else 1
            _write_parts(table, out, np.array_split(rng.permutation(table.num_rows), parts))
        files = [os.path.join(out, f) for f in os.listdir(out)]
        stats[name] = {
            "rows": table.num_rows,
            "bytes": sum(os.path.getsize(f) for f in files),
            "files": len(files),
        }
    return stats
