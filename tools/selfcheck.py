"""Local replica of the driver's correctness gate: run every
``queries()[name]`` on Spark and the matching ``oracle_sql()[name]`` on
DuckDB at sf0.01, compare row count, column names, and an order-insensitive
value hash.

Usage: PYTHONPATH=. python tools/selfcheck.py [sf_dir] [--partitions N]

``--partitions`` varies spark.sql.shuffle.partitions — float aggregation
order depends on partitioning, so a query that hash-matches at one setting
but not another has a representation-stability bug (the col_stats class of
failure); sweep 3/8/32 before trusting a float-producing query.

STRICTNESS CONTRACT (round 3 — the local gate must be at least as strict as
the graded one; two round-2 "41/41" claims shipped while the driver scored
39/41 because the old norm_cell was weaker in exactly two ways):

1. dtype-faithful cells: results go through pandas (``toPandas()`` /
   ``cur.df()``) like the driver's canonicalizer; an int64 0 and a float64
   0.0 hash DIFFERENTLY (DuckDB SUM(int) -> HUGEINT -> pandas float64 is the
   col_stats failure class).  Floats use full shortest-roundtrip repr, never
   a fixed-decimal format.
2. pandas ``sort_values`` over every output column, exactly like the driver —
   a list/array/dict-valued column raises TypeError here and is reported as
   a FAIL (the image_stats failure class), instead of being handled natively.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def cell_repr(v) -> str:
    """Dtype-faithful cell token: int and float representations never
    collide; floats keep full precision (engines must agree bit-for-bit,
    which ROUND(x, n) on identical input doubles guarantees)."""
    if v is None:
        return "\\N"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f:
            return "\\N"  # pandas surfaces SQL NULL as NaN in float columns
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return f"bool:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, bytes):
        return f"bytes:{v.hex()}"
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    if isinstance(v, str):
        return v
    if isinstance(v, (list, tuple, dict, set, np.ndarray)):
        # the driver canonicalizer cannot sort/hash these — sort_values
        # should already have raised; belt-and-braces reject here too
        raise TypeError(f"unhashable gate cell type {type(v).__name__}")
    return f"{type(v).__name__}:{v}"


def canon_lines(df: pd.DataFrame) -> list[str]:
    """Sorted canonical row tokens — mirrors the driver: columns sorted by
    name, then sort_values over ALL columns (raises on unsortable cells)."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return sorted(
        "|".join(cell_repr(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


GRADED_WINDOW = 50  # the driver grades only the first 50 queries() entries


def report_gate_window(qs: dict, oracles: dict) -> None:
    """Gate-window alignment guard (round-3 failure mode: queries silently
    landed past the first-50 cutoff and never received a CORRECTNESS row).
    Prints graded-window membership and cross-checks it against the latest
    CORRECTNESS_r*.json so a driver/local window mismatch is caught BEFORE
    submission, not in the next round's verdict."""
    import glob
    import json

    names = list(qs)
    graded, tail = names[:GRADED_WINDOW], names[GRADED_WINDOW:]
    print(f"gate window: {len(graded)} graded, {len(tail)} tail "
          f"(driver grades first {GRADED_WINDOW})")
    no_oracle = [n for n in graded if n not in oracles]
    if no_oracle:
        print(f"  WARNING graded-window queries with NO oracle (rows-only "
              f"driver check): {no_oracle}")
    latest = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    if latest:
        with open(latest[-1]) as fh:
            prev = set(json.load(fh))
        newly_graded = [n for n in graded if n not in prev]
        dropped = [n for n in prev if n not in graded]
        print(f"  vs {os.path.basename(latest[-1])}: "
              f"+{len(newly_graded)} rotated in {newly_graded or ''} "
              f"-{len(dropped)} rotated out {dropped or ''}")


def main(sf_dir: str, partitions: int = 8, only: set[str] | None = None) -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("valor-selfcheck")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    report_gate_window(qs, oracles)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {str(exc).splitlines()[0][:160]}")
            failures += 1
            continue
        problems = []
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols {sorted(spdf.columns)} != {sorted(opdf.columns)}"
            )
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        ss = oo = None
        if not problems:
            try:
                ss = canon_lines(spdf)
            except TypeError as exc:
                problems.append(f"spark output not canonicalizer-safe: {exc}")
            try:
                oo = canon_lines(opdf)
            except TypeError as exc:
                problems.append(f"oracle output not canonicalizer-safe: {exc}")
        if not problems and ss is not None and oo is not None:
            hs, ho = value_hash(ss), value_hash(oo)
            if hs != ho:
                problems.append(f"hash {hs} != {ho}")
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            if ss and oo:
                only_s = [x for x in ss if x not in set(oo)][:3]
                only_o = [x for x in oo if x not in set(ss)][:3]
                print(f"      spark-only: {only_s}")
                print(f"      duck-only : {only_o}")
        else:
            print(f"OK    {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    parts_list = [8]
    only = None
    if "--partitions" in args:
        i = args.index("--partitions")
        parts_list = [int(p) for p in args[i + 1].split(",")]
        del args[i : i + 2]
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        del args[i : i + 2]
    sf = args[0] if args else "/root/testdata/sf0.01"
    rc = 0
    for parts in parts_list:
        if len(parts_list) > 1:
            print(f"=== shuffle.partitions={parts} ===")
        rc = rc or main(sf, partitions=parts, only=only)
    raise SystemExit(rc)
