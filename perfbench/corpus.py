"""Deterministic benchmark corpora.

``sf0.1`` is a synthetic star schema plus the ``events``, ``documents``
and ``embeddings`` tables, with the schemas and value domains listed in
FIXTURES.md (one parquet file per table). ``x10`` replicates its fact
tables ten times with shifted keys, the same way ``tools_make_bigsf.py``
does, and writes each fact table as a directory of parquet files.

Both are generated from a fixed seed, so every checkout builds the same
bytes. A ``manifest.json`` written last records each corpus's content
fingerprint; a corpus is reused only when its files still hash to it.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS_SEED = 42
REPLICAS = 10
KEY_SHIFT = 10_000_000_000

# row counts per unit of scale factor (TPC-H style)
ROWS_PER_SF = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
FACT_KEYS = {
    "lineitem": ["l_orderkey"], "orders": ["o_orderkey"],
    "events": ["event_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "old", "small", "new", "red", "large", "hot", "cold"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _days(rng, n, start, end):
    """Midnight timestamps uniformly drawn from [start, end]."""
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def generate_tables(sf: float, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": i32([k % 5 for k in range(25)]),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": i64(np.arange(c)),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(s)),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
    out["part"] = pa.table({
        "p_partkey": i64(np.arange(p)),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _choice(rng, _PTYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": _choice(rng, ["O", "P", "F"], o),
        "o_totalprice": _money(rng, o, 1000.0, 500000.0),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], li),
        "l_linestatus": _choice(rng, ["O", "F"], li),
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    out["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": i64(rng.integers(0, max(1, c // 10), e)),
        "event_type": _choice(rng, _EVENT_TYPES, e),
        "value": np.round(rng.gamma(2.0, 30.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, d: int) -> pa.Table:
    texts = []
    for k in range(d):
        words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
        texts.append(" ".join(_VOCAB[w] for w in words))
    # ~5% near-duplicates (one marker token appended) and a few exact
    # duplicates, so the dedup operators have clusters to find
    for k in range(20, d, 20):
        src = int(rng.integers(0, k))
        texts[k] = texts[src] + " dup" if k % 400 else texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, d, p=_LANG_P),
        "source": [f"src{k % 20}" for k in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, m: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, m)
    vecs = centers[label] + rng.normal(0.0, 1.5, (m, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _replicate(table: pa.Table, name: str, i: int) -> pa.Table:
    for k in FACT_KEYS[name]:
        col = pc.add(table[k], pa.scalar(i * KEY_SHIFT, pa.int64()))
        table = table.set_column(table.schema.get_field_index(k), k, col)
    if name == "documents" and i > 0:
        text = pc.binary_join_element_wise(table["text"], f"r{i}", " ")
        table = table.set_column(table.schema.get_field_index("text"), "text", text)
    return table


def fingerprint(path: str) -> dict:
    """File count, byte total and a content hash of every file under
    ``path`` except the manifest."""
    h = hashlib.blake2b(digest_size=16)
    files = nbytes = 0
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for fn in sorted(names):
            if fn == "manifest.json":
                continue
            full = os.path.join(root, fn)
            h.update(os.path.relpath(full, path).encode() + b"\0")
            with open(full, "rb") as f:
                while chunk := f.read(1 << 20):
                    h.update(chunk)
            files += 1
            nbytes += os.path.getsize(full)
    return {"files": files, "bytes": nbytes, "fingerprint": h.hexdigest()}


def _build(kind: str, path: str, base: str | None) -> None:
    os.makedirs(path)
    if kind == "sf0.1":
        for name, table in generate_tables(0.1).items():
            _write(table, os.path.join(path, f"{name}.parquet"))
        return
    for name in DIMS:
        shutil.copy(os.path.join(base, f"{name}.parquet"),
                    os.path.join(path, f"{name}.parquet"))
    for name in FACT_KEYS:
        table = pq.read_table(os.path.join(base, f"{name}.parquet"))
        out = os.path.join(path, f"{name}.parquet")
        os.makedirs(out)
        for i in range(REPLICAS):
            _write(_replicate(table, name, i),
                   os.path.join(out, f"part-{i:05d}.parquet"))


def ensure(kind: str, cache_dir: str) -> dict:
    """Return the manifest of corpus ``kind`` ("sf0.1" or "x10") under
    ``cache_dir``, (re)building it when it is missing or its files no
    longer match the recorded fingerprint."""
    path = os.path.join(cache_dir, kind)
    mpath = os.path.join(path, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if fingerprint(path) == manifest["content"]:
            return dict(manifest, path=path)
    base = ensure("sf0.1", cache_dir)["path"] if kind == "x10" else None
    shutil.rmtree(path, ignore_errors=True)
    t0 = time.perf_counter()
    _build(kind, path, base)
    manifest = {
        "kind": kind, "seed": CORPUS_SEED,
        "build_s": round(time.perf_counter() - t0, 3),
        "content": fingerprint(path),
    }
    with open(mpath, "w") as f:
        json.dump(manifest, f, indent=1)
    return dict(manifest, path=path)
