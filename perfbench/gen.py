"""Seeded input generator for the benchmark.

Every table's *values* come from one fixed recipe (``VALUE_SEED``), shaped
like the engine's test tables (TPC-H-ish star schema plus events,
documents and embeddings; FIXTURES.md section B).  The run's ``--seed``
decides only the *layout*: the row order of every table, where each table
is cut into part files, and how the ingest corpora are cut into
micro-batch files.  So two seeds give the same row counts, the same
planted duplicates and the same query answers, but different files.

Tables land as ``<dir>/<name>.parquet/part-NN.parquet`` directories, which
both the engine's ``read_table`` and DuckDB (through a glob) read.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_WORDS = (
    "a the data spark query table row column key value join hash merge "
    "sort scan filter group agg window stream batch order customer part "
    "line big small fast slow vector"
).split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Row counts of one generated corpus."""

    customer: int
    supplier: int
    part: int
    orders: int
    lineitem: int
    events: int
    users: int
    documents: int
    embeddings: int


def sizes_for(sf: float) -> Sizes:
    """Row counts of the engine's test tables at scale factor ``sf``."""
    return Sizes(
        customer=int(150_000 * sf),
        supplier=max(10, int(10_000 * sf)),
        part=int(200_000 * sf),
        orders=int(1_500_000 * sf),
        lineitem=int(6_000_000 * sf),
        events=int(1_000_000 * sf),
        users=max(150, int(15_000 * sf)),
        documents=max(500, int(50_000 * sf)),
        embeddings=max(500, int(20_000 * sf)),
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _timestamps(rng, start, days, n):
    return start + (rng.uniform(0, days * 86_400e6, n)).astype("timedelta64[us]")


def _docs_text(rng, n):
    """Texts of 10..100 words from a 30-word vocabulary; every 20th doc
    is a planted near-duplicate (another doc's text plus " dup") and
    every 250th an exact duplicate of its predecessor."""
    lens = rng.integers(10, 101, n)
    picks = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(_WORDS[j] for j in picks[pos:pos + k]))
        pos += k
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in range(250, n, 250):
        texts[i] = texts[i - 1]
    return texts


def build_values(s: Sizes) -> dict[str, pa.Table]:
    """Every table's values: a pure function of ``s`` and ``VALUE_SEED``."""
    rng = np.random.default_rng(VALUE_SEED)
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
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": np.arange(s.customer, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
        "c_nationkey": rng.integers(0, 25, s.customer).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10_000, s.customer),
        "c_mktsegment": segs[rng.integers(0, 5, s.customer)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s.supplier, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
        "s_nationkey": rng.integers(0, 25, s.supplier).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10_000, s.supplier),
    })
    adj = np.array(["red", "blue", "small", "hot", "old", "new"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "anvil"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": np.arange(s.part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, s.part)], " "),
                              noun[rng.integers(0, 6, s.part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.part).astype(str)),
        "p_type": ptype[rng.integers(0, 6, s.part)],
        "p_size": rng.integers(1, 51, s.part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(s.part) % 20_000) * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odays = rng.integers(0, 2404, s.orders).astype("timedelta64[D]")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": rng.integers(0, s.customer, s.orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
        "o_totalprice": _money(rng, 1000, 500_000, s.orders),
        "o_orderdate": _EPOCH_1995 + odays.astype("timedelta64[us]"),
        "o_orderpriority": prio[rng.integers(0, 5, s.orders)],
    })
    n = s.lineitem
    ldays = rng.integers(1, 2499, n).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, s.part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, s.supplier, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _EPOCH_1995 + ldays.astype("timedelta64[us]"),
    })
    n = s.events
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.sort(_timestamps(rng, _EPOCH_2024, 30, n)),
        "user_id": rng.integers(0, s.users, n).astype(np.int64),
        "event_type": etypes[rng.integers(0, 5, n)],
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    texts = _docs_text(rng, s.documents)
    t["documents"] = pa.table({
        "doc_id": np.arange(s.documents, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, s.documents, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(s.documents)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, s.embeddings)
    centers = rng.normal(0, 0.02, (10, 64))
    vecs = rng.normal(0, 0.125, (s.embeddings, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def _cuts(rng, n: int, parts: int) -> list[int]:
    """``parts - 1`` seeded cut points; every part keeps at least a
    quarter of its even share, so scan parallelism barely moves."""
    if n < parts * 4:
        return []
    even = n / parts
    return [int(even * (i + rng.uniform(-0.35, 0.35))) for i in range(1, parts)]


def _layout_rng(seed: int, name: str) -> np.random.Generator:
    """The layout stream of one table or corpus under ``seed``."""
    return np.random.default_rng([seed, *name.encode()])


def write_tables(values: dict[str, pa.Table], out: str, seed: int,
                 parts: int = 4) -> dict[str, dict]:
    """Write every table shuffled and cut by ``seed``; returns per-table
    rows, bytes and file count."""
    info = {}
    for name, tbl in values.items():
        rng = _layout_rng(seed, name)
        tbl = tbl.take(rng.permutation(len(tbl)))
        d = os.path.join(out, f"{name}.parquet")
        os.makedirs(d)
        bounds = [0, *_cuts(rng, len(tbl), parts if len(tbl) > 1000 else 1), len(tbl)]
        for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
            pq.write_table(tbl.slice(a, b - a), os.path.join(d, f"part-{i:02d}.parquet"))
        info[name] = {
            "rows": len(tbl),
            "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)),
            "files": len(bounds) - 1,
        }
    return info


def _jsonl_rows(name: str, tbl: pa.Table) -> list[str]:
    """One JSON line per row, with the fields the stream readers of
    ``streaming.windows`` declare."""
    if name == "documents":
        cols = tbl.select(["doc_id", "text", "source"]).to_pydict()
        return [json.dumps({"doc_id": a, "text": b, "source": c})
                for a, b, c in zip(cols["doc_id"], cols["text"], cols["source"])]
    cols = tbl.to_pydict()
    return [json.dumps({
        "event_id": e, "ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"), "user_id": u,
        "event_type": et, "value": v, "props": p,
    }) for e, ts, u, et, v, p in zip(cols["event_id"], cols["ts"], cols["user_id"],
                                     cols["event_type"], cols["value"], cols["props"])]


def write_batches(values: dict[str, pa.Table], out: str, seed: int,
                  n_batches: int, rows: dict[str, int]) -> dict[str, dict]:
    """Micro-batch JSON-lines files for the ingest streams: the first
    ``rows[name]`` rows of each corpus, shuffled and cut into
    ``n_batches`` files by ``seed``.  The file names sort in cut order,
    which is the order the file source picks them up in."""
    info = {}
    for name, n in rows.items():
        rng = _layout_rng(seed, "stream_" + name)
        tbl = values[name].slice(0, n)
        tbl = tbl.take(rng.permutation(len(tbl)))
        lines = _jsonl_rows(name, tbl)
        d = os.path.join(out, f"{name}_stream")
        os.makedirs(d)
        bounds = [0, *_cuts(rng, len(lines), n_batches), len(lines)]
        for i, (a, b) in enumerate(zip(bounds, bounds[1:])):
            with open(os.path.join(d, f"batch-{i:03d}.json"), "w") as f:
                f.write("\n".join(lines[a:b]) + "\n")
        info[name + "_stream"] = {"rows": len(lines), "files": len(bounds) - 1,
                                  "bytes": sum(os.path.getsize(os.path.join(d, f))
                                               for f in os.listdir(d))}
    return info


def generate(root: str, workload: str, seed: int, sizes: Sizes,
             stream_batches: int = 0, stream_rows: dict[str, int] | None = None) -> tuple[str, dict]:
    """Build ``<root>/<workload>_s<seed>`` afresh and return (path,
    manifest).  The seed and workload are in the basename because the
    engine keys working paths (label CSVs, index dirs) on it."""
    out = os.path.join(root, f"{workload}_s{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.perf_counter()
    values = build_values(sizes)
    tables = write_tables(values, out, seed)
    if stream_batches:
        tables.update(write_batches(values, out, seed, stream_batches, stream_rows or {}))
    return out, {"sizes": asdict(sizes), "tables": tables, "gen_s": time.perf_counter() - t0}
