"""Expected result fingerprints from the DuckDB oracles.

Run as its own process (never inside the timed one):

    python3 perfbench/oracles.py --corpus DIR --corpus-fp FP --program FP --cache FILE \
        --work DIR q1 q2 ...

For each query it executes ``registry.all_oracles()[q]`` over DuckDB
views of the corpus tables and keeps ``{"fingerprint", "rows",
"sql_sha", "oracle_s"}`` in the cache FILE. A cached entry is reused
while the corpus fingerprint and the oracle SQL are unchanged; the
cache also records the program's source fingerprint it was checked
against. DuckDB's memory is capped, and it spills to ``--work``: an
uncapped DuckDB beside a Spark driver heap can get the host's OOM
killer involved.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402

MEMORY_LIMIT = "2GB"
THREADS = 2


def sql_sha(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


def connect(corpus_dir: str, work_dir: str):
    import duckdb

    from starrocks_spark.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    con.execute(f"SET threads={THREADS}")
    con.execute(f"SET temp_directory='{work_dir}'")
    for t in TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        # fact tables of the x10 corpus are directories of part files
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--corpus-fp", required=True)
    ap.add_argument("--program", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()
    from starrocks_spark import registry

    oracles = registry.all_oracles()
    cache = {"corpus": args.corpus_fp, "queries": {}}
    if os.path.exists(args.cache):
        with open(args.cache) as f:
            old = json.load(f)
        if old.get("corpus") == args.corpus_fp:
            cache = old
    cache["program"] = args.program
    todo = [q for q in args.queries
            if cache["queries"].get(q, {}).get("sql_sha") != sql_sha(oracles[q])]
    os.makedirs(args.work, exist_ok=True)
    con = connect(args.corpus, args.work) if todo else None
    for name in todo:
        t0 = time.perf_counter()
        rel = con.execute(oracles[name])
        cols = [c[0] for c in rel.description]
        rows = rel.fetchall()
        cache["queries"][name] = {
            "fingerprint": metrics.result_fingerprint(cols, rows),
            "rows": len(rows),
            "sql_sha": sql_sha(oracles[name]),
            "oracle_s": round(time.perf_counter() - t0, 3),
        }
    with open(args.cache + ".tmp", "w") as f:
        json.dump(cache, f, indent=1)
    os.replace(args.cache + ".tmp", args.cache)


if __name__ == "__main__":
    main()
