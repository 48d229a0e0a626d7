"""Order-insensitive canonical form of a query result, and the DuckDB
oracle of the corpus queries.

A result is hashed as its sorted canonical rows, each row a tuple of cell
tokens in column-name order.  Cell tokens keep the value class (an integer
and a float never collide) and the full shortest round-trip repr of floats.
"""

from __future__ import annotations

import hashlib
import json
import os


def cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "\\N" if v != v else repr(v)
    if isinstance(v, str):
        return v
    return f"{type(v).__name__}:{v!r}"


def rows_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of ``rows`` under ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return len(lines), h.hexdigest()


CORPUS_QUERIES = ("knn_graph", "minhash_lsh_pairs", "winnow_pairs")


def corpus_oracle(sf_dir: str) -> dict[str, list]:
    """``{query: [rows, hash]}`` of DuckDB ``oracle_sql()`` over ``sf_dir``,
    computed once per input directory and cached beside it."""
    cache = os.path.join(sf_dir, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q in CORPUS_QUERIES:
            cur = con.execute(sql[q])
            cols = [d[0] for d in cur.description]
            out[q] = list(rows_hash(cols, cur.fetchall()))
    finally:
        con.close()
    tmp = cache + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache)
    return out
