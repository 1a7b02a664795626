"""Benchmark inputs, generated deterministically and cached in the checkout.

Tables: the ten engine tables (``sources.catalog.TABLES``) at a given scale
factor, shaped like the TPC-H-style fixtures described in FIXTURES.md
(same schemas, row counts, key domains and value ranges). They are built
from a fixed data seed, so every workload seed reads the same tables and no
run pays for table generation; the workload seed picks the query order and
the processor items instead. Each table is then mirrored into the
production directory-per-table layout by
``scripts.fixture_layout.ensure_multifile``, and the DuckDB oracle result
of every benchmarked query is computed once and cached beside the tables.

Everything lands under ``perfbench/.cache`` (git-ignored); a stamp keyed
on this file's source and on each oracle's SQL text makes rebuilding a
no-op until either changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
DATA_SEED = 42

# Rows per unit scale factor (sf0.1 gives lineitem 600k, orders 150k, ...).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
MIN_ROWS = 200
WORDS = (
    "a the data spark stream batch query table row column key value hash sort "
    "join group agg filter scan window order line part vector customer merge "
    "fast slow big small index shard cache plan task stage job node flush sink"
).split()
EMBED_DIM = 64
EMBED_LABELS = 10


def _rows(name: str, sf: float) -> int:
    return max(MIN_ROWS, int(round(ROWS_PER_SF[name] * sf)))


def _ts(rng, n: int, start: str, days: int, unit_us: int) -> np.ndarray:
    """``n`` timestamps in [start, start+days), quantized to ``unit_us``."""
    base = np.datetime64(start, "us").astype(np.int64)
    off = rng.integers(0, days * 86_400_000_000 // unit_us, n) * unit_us
    return (base + off).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def generate_tables(sf: float) -> dict:
    """Return {table: pyarrow.Table} for scale factor ``sf``."""
    import pyarrow as pa

    rng = np.random.default_rng(DATA_SEED)
    n = {t: _rows(t, sf) for t in ROWS_PER_SF}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def table(cols: dict, types: dict) -> pa.Table:
        return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})

    out = {}
    out["region"] = table(
        {"r_regionkey": np.arange(5),
         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s},
    )
    out["nation"] = table(
        {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    nc = n["customer"]
    out["customer"] = table(
        {"c_custkey": np.arange(nc), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
         "c_nationkey": rng.integers(0, 25, nc), "c_acctbal": _money(rng, -1000, 10000, nc),
         "c_mktsegment": rng.choice(
             ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s},
    )
    ns = n["supplier"]
    out["supplier"] = table(
        {"s_suppkey": np.arange(ns), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
         "s_nationkey": rng.integers(0, 25, ns), "s_acctbal": _money(rng, -1000, 10000, ns)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in ("large", "hot", "blue", "small", "red", "cold", "old", "new")
             for b in ("ring", "bolt", "nut", "gear", "pipe", "beam", "disk", "cog")]
    out["part"] = table(
        {"p_partkey": np.arange(npart), "p_name": rng.choice(names, npart),
         "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
         "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], npart),
         "p_size": rng.integers(1, 51, npart),
         "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64},
    )
    no = n["orders"]
    out["orders"] = table(
        {"o_orderkey": np.arange(no), "o_custkey": rng.integers(0, nc, no),
         "o_orderstatus": rng.choice(["O", "F", "P"], no),
         "o_totalprice": _money(rng, 1000, 500000, no),
         "o_orderdate": _ts(rng, no, "1995-01-01", 2404, 86_400_000_000),
         "o_orderpriority": rng.choice(
             ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64,
         "o_orderdate": pa.timestamp("us"), "o_orderpriority": s},
    )
    nl = n["lineitem"]
    out["lineitem"] = table(
        {"l_orderkey": rng.integers(0, no, nl), "l_partkey": rng.integers(0, npart, nl),
         "l_suppkey": rng.integers(0, ns, nl), "l_linenumber": rng.integers(1, 8, nl),
         "l_quantity": rng.integers(1, 51, nl).astype(float),
         "l_extendedprice": _money(rng, 900, 105000, nl),
         "l_discount": rng.integers(0, 11, nl) / 100.0,
         "l_tax": rng.integers(0, 9, nl) / 100.0,
         "l_returnflag": rng.choice(["A", "N", "R"], nl),
         "l_linestatus": rng.choice(["O", "F"], nl),
         "l_shipdate": _ts(rng, nl, "1995-01-02", 2498, 86_400_000_000)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": pa.timestamp("us")},
    )
    ne = n["events"]
    users = max(50, ne // 66)
    out["events"] = table(
        {"event_id": np.arange(ne), "ts": _ts(rng, ne, "2024-01-01", 30, 1),
         "user_id": rng.integers(0, users, ne),
         "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
         "value": _money(rng, 0, 500, ne),
         "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]},
        {"event_id": i64, "ts": pa.timestamp("us"), "user_id": i64, "event_type": s,
         "value": f64, "props": s},
    )
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.03:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    out["documents"] = table(
        {"doc_id": np.arange(nd), "text": texts,
         "lang": rng.choice(["en", "de", "fr", "es", "zh"], nd),
         "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
         "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    nv = n["embeddings"]
    labels = rng.integers(0, EMBED_LABELS, nv)
    centers = rng.normal(0.0, 0.1, (EMBED_LABELS, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (nv, EMBED_DIM))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), type=i64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=i32),
    })
    return out


def _digest(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
    return h.hexdigest()[:16]


def _read_json(path: str):
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def ensure_tables(sf: float) -> str:
    """Build (once) the sf tables and their multi-file mirror; return the
    mirror directory that queries and oracles read."""
    import pyarrow.parquet as pq
    from scripts.fixture_layout import ensure_multifile

    with open(os.path.abspath(__file__)) as fh:
        stamp = {"generator": _digest(fh.read()), "sf": sf, "seed": DATA_SEED}
    src = os.path.join(CACHE, f"pb-sf{sf:g}")
    if _read_json(os.path.join(src, "_stamp.json")) != stamp:
        tmp = src + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, tbl in generate_tables(sf).items():
            pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "_stamp.json"), "w") as fh:
            json.dump(stamp, fh)
        shutil.rmtree(src, ignore_errors=True)
        os.rename(tmp, src)
    return ensure_multifile(src)


def ensure_oracles(sf_dir: str, specs: dict) -> str:
    """Cache ``{query: DuckDB oracle result}`` as parquet under the data
    dir; each file is rebuilt only when its oracle SQL text changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from tests.oracle import duckdb_run

    out = os.path.join(CACHE, "oracle-" + os.path.basename(sf_dir.rstrip("/")))
    os.makedirs(out, exist_ok=True)
    stamps_path = os.path.join(out, "_stamps.json")
    stamps = _read_json(stamps_path) or {}
    for name, spec in specs.items():
        want = _digest(spec.oracle, sf_dir)
        path = os.path.join(out, f"{name}.parquet")
        if stamps.get(name) == want and os.path.exists(path):
            continue
        pdf = duckdb_run(spec.oracle, sf_dir)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path + ".tmp")
        os.replace(path + ".tmp", path)
        stamps[name] = want
        with open(stamps_path, "w") as fh:
            json.dump(stamps, fh)
    return out


def read_oracle(oracle_dir: str, name: str):
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(oracle_dir, f"{name}.parquet")).to_pandas()


def processor_items(seed: int, n: int) -> tuple[int, np.ndarray]:
    """Seeded item payloads for the processor workloads: item ``i`` has id
    ``base + i`` (so delivery can be checked exactly) and value ``v[i]``."""
    rng = np.random.default_rng(seed)
    base = int(rng.integers(1, 1 << 40))
    return base, rng.random(n)

