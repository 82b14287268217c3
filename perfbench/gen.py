"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(workload, seed, GEN_VERSION)``:
the same triple gives byte-identical parquet, a different seed gives
different rows. Value domains mirror the TPC-H-ish test tables the
declared queries were written against (2-decimal money, 25 nations,
5 segments, 64 part names, 30-word documents with 5 % near-duplicates,
unit-norm 64-d float embeddings), so every query's oracle discipline
holds on the generated data.

Generated tables are cached under ``<cache_root>/<workload>-s<seed>-v<N>``
together with the DuckDB oracle answers for the workload's queries, so
a repeated seed pays neither the generation nor the oracle again.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import pickle
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump whenever generated values change, so stale caches are ignored.
GEN_VERSION = 1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")
ALL_TABLES = STAR_TABLES + ("documents", "embeddings")

_EPOCH = dt.datetime(1970, 1, 1)


def rng(workload: str, seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible stream per (workload, seed, purpose)."""
    digest = hashlib.sha256(f"{workload}:{seed}:{GEN_VERSION}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(start: dt.datetime, offsets: np.ndarray) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    return pa.array(base + offsets.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def star_schema(r: np.random.Generator, lineitem_rows: int) -> dict[str, pa.Table]:
    n_l = lineitem_rows
    n_o = max(n_l // 4, 100)
    n_c = max(n_l // 40, 100)
    n_s = max(n_l // 600, 100)
    n_p = max(n_l // 30, 200)
    n_e = max(n_l // 6, 1000)
    n_u = max(n_e // 67, 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": r.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_c),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_c)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": r.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_s),
    })
    pk = np.arange(n_p, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_p)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_p)],
        "p_size": r.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    order_day = r.integers(0, 2404, n_o)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        # as in TPC-H, every third customer never orders
        "o_custkey": (r.integers(0, n_c * 2 // 3, n_o) // 2 * 3 + 1 + r.integers(0, 2, n_o)).astype(np.int64) % n_c,
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_o)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(dt.datetime(1995, 1, 1), order_day),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_o)],
    })
    l_order = r.integers(0, n_o, n_l).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": r.integers(0, n_p, n_l).astype(np.int64),
        "l_suppkey": r.integers(0, n_s, n_l).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n_l),
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_l)],
        "l_shipdate": _days(dt.datetime(1995, 1, 1), order_day[l_order] + r.integers(1, 96, n_l)),
    })
    gaps = r.exponential(30 * 86_400_000_000 / n_e, n_e)
    ts = (int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000) + np.cumsum(gaps)).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_u, n_e).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_e)],
        "value": np.round(r.exponential(60.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_e)],
    })
    return t


def documents(r: np.random.Generator, n_docs: int) -> pa.Table:
    """Bag-of-words documents; 5 % are near-duplicates (another
    document's text plus one extra token), so dedup kernels find real
    pairs at any corpus size."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), n)]) for n in r.integers(10, 100, n_docs)]
    dup = np.flatnonzero(r.random(n_docs) < 0.05)
    for i in dup:
        src = int(r.integers(0, n_docs))
        if src != i:
            texts[i] = texts[src] + " dup"
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def embeddings(r: np.random.Generator, n_vec: int, dims: int = 64) -> pa.Table:
    v = r.standard_normal((n_vec, dims))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_vec).astype(np.int32),
    })


def write_table(table: pa.Table, root: str, name: str, n_files: int) -> None:
    """``<root>/<name>.parquet/part-NNNNN.parquet``: a directory of
    ``n_files`` contiguous slices, so scans fan out over several tasks."""
    out = os.path.join(root, f"{name}.parquet")
    os.makedirs(out, exist_ok=True)
    n_files = max(1, min(n_files, table.num_rows))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))


def table_glob(data_dir: str, name: str) -> str:
    return os.path.join(data_dir, f"{name}.parquet", "*.parquet")


def input_stats(data_dir: str, tables=ALL_TABLES) -> dict[str, dict[str, int]]:
    """Rows, bytes and files per table, from the parquet footers."""
    out = {}
    for t in tables:
        d = os.path.join(data_dir, f"{t}.parquet")
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        out[t] = {
            "rows": sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(os.path.join(d, f)) for f in files),
            "files": len(files),
        }
    return out


def _oracle_answers(data_dir: str, oracles: dict[str, str]) -> dict[str, dict]:
    import duckdb

    from tests.oracle_harness import _BANNED_DUCK_TYPES, _norm

    con = duckdb.connect()
    try:
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_glob(data_dir, t)}')")
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rel = con.sql(sql)
            bad_types = [
                f"oracle output column {c!r} is {t}"
                for c, t in zip(rel.columns, rel.types)
                if any(b in str(t) for b in _BANNED_DUCK_TYPES)
            ]
            out[name] = {
                "cols": [cols[i] for i in order],
                "rows": sorted(tuple(_norm(r[i]) for i in order) for r in rows),
                "type_problems": bad_types,
            }
        return out
    finally:
        con.close()


def prepare(cache_root: str, workload: str, seed: int, spec: dict, oracles: dict[str, str]) -> tuple[str, dict]:
    """Generate (or reuse) the workload's tables for ``seed``; returns
    ``(data_dir, info)`` where ``info`` holds the input stats, the
    oracle answers and the generation time. ``spec`` gives
    ``lineitem_rows``, ``documents``, ``embeddings`` and ``files``."""
    key = f"{workload}-s{seed}-v{GEN_VERSION}"
    data_dir = os.path.join(cache_root, key)
    meta_path = os.path.join(data_dir, "meta.pkl")
    if os.path.exists(meta_path):
        with open(meta_path, "rb") as fh:
            meta = pickle.load(fh)  # written by this module, below
        if meta.get("spec") == spec and set(oracles) <= set(meta["oracle"]):
            meta["cached"] = True
            return data_dir, meta
    shutil.rmtree(data_dir, ignore_errors=True)
    tmp = data_dir + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    tables = star_schema(rng(workload, seed, "star"), spec["lineitem_rows"])
    tables["documents"] = documents(rng(workload, seed, "documents"), spec["documents"])
    tables["embeddings"] = embeddings(rng(workload, seed, "embeddings"), spec["embeddings"])
    for name, table in tables.items():
        write_table(table, tmp, name, spec["files"] if table.num_rows >= 1000 else 1)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    answers = _oracle_answers(tmp, oracles)
    oracle_s = time.perf_counter() - t0
    meta = {
        "spec": spec,
        "stats": input_stats(tmp),
        "oracle": answers,
        "gen_s": gen_s,
        "oracle_s": oracle_s,
    }
    with open(os.path.join(tmp, "meta.pkl"), "wb") as fh:
        pickle.dump(meta, fh)
    os.replace(tmp, data_dir)
    meta["cached"] = False
    return data_dir, meta


# ---------------------------------------------------------------------------
# etl_ingest: JSON-lines micro-batches with updates and contract violations
# ---------------------------------------------------------------------------

COUNTRIES = ["DE", "ES", "FR", "IN", "JP", "US"]
#: Which contract each injected violation breaks (see workloads.ETL_CHECKS).
VIOLATION_KINDS = ("negative_amount", "unknown_country", "zero_qty")
ETL_SCHEMA = "id long, name string, country string, amount double, qty long, batch long"


def etl_batch(seed: int, i: int, new_rows: int, update_share: float, violation_share: float):
    """Batch ``i`` as a list of dicts: ``new_rows`` fresh keys plus
    ``update_share`` of that many updates to keys created by earlier
    batches (unique within the batch). Returns ``(records,
    violating_ids)``; every violating row breaks exactly one check."""
    r = rng("etl_ingest", seed, f"batch{i}")
    ids = np.arange(i * new_rows, (i + 1) * new_rows, dtype=np.int64)
    if i > 0:
        n_upd = int(round(new_rows * update_share))
        ids = np.concatenate([ids, r.choice(i * new_rows, n_upd, replace=False).astype(np.int64)])
    n = len(ids)
    amount = _money(r, 0.0, 9999.99, n)
    country = np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), n)].astype(object)
    qty = r.integers(1, 101, n)
    names = [f"user{int(k)}_{int(v)}" for k, v in zip(ids, r.integers(0, 1000, n))]
    bad = r.choice(n, int(round(n * violation_share)), replace=False)
    kinds = r.integers(0, len(VIOLATION_KINDS), len(bad))
    for j, k in zip(bad, kinds):
        if k == 0:
            amount[j] = -amount[j] - 1.0
        elif k == 1:
            country[j] = "ZZ"
        else:
            qty[j] = 0
    records = [
        {"id": int(ids[j]), "name": names[j], "country": country[j],
         "amount": float(amount[j]), "qty": int(qty[j]), "batch": i}
        for j in range(n)
    ]
    return records, {int(ids[j]) for j in bad}


def write_jsonl(records: list[dict], path: str) -> int:
    """Write atomically (temp file + rename) so a file-stream source
    never lists a half-written batch. Returns the bytes written."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as fh:
        for rec in records:
            fh.write(json.dumps(rec))
            fh.write("\n")
    os.replace(tmp, path)
    return os.path.getsize(path)
