"""The one writer of the gate fixtures: every table is declared as a
Spark DDL string plus a list of row tuples, and ``fixture`` turns them
into parquet that Spark and the DuckDB oracle both read.

Files are named ``<stem>[_<name>]_<tag>.parquet``, where the tag is a hash
of the builder's key (a fixture version and the constants its rows derive
from).  A builder runs only when one of its files is missing; a stale
``.fixtures/`` is refreshed by changing the key or the stem's salt, never
by comparing contents.

The DDL is mapped to Arrow here, with pyarrow alone: the builders run in
tests and in ``oracle_sql()``, where no Spark session is guaranteed.
"""

from __future__ import annotations

import functools
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

_ARROW_TYPES = {
    "string": pa.string(),
    "binary": pa.binary(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "array<double>": pa.list_(pa.float64()),
}


def _arrow_table(ddl: str, rows: list[tuple]) -> pa.Table:
    """``rows`` as an Arrow table with the schema of ``ddl``
    (``"name type, ..."``); no rows gives an empty table of that schema."""
    fields = [f.split() for f in ddl.split(",")]
    cols = list(zip(*rows, strict=True)) if rows else [()] * len(fields)
    arrays = {}
    for (name, ddl_type), col in zip(fields, cols, strict=True):
        if ddl_type not in _ARROW_TYPES:
            raise ValueError(f"fixture DDL type {ddl_type!r} has no Arrow mapping")
        arrays[name] = pa.array(col, _ARROW_TYPES[ddl_type])
    return pa.table(arrays)


def fixture(stem: str, key: tuple, *names: str):
    """Make a fixture builder ``build(fixture_dir)`` from a function that
    returns the tables: ``{name: (ddl, rows)}`` for the given ``names``, or
    one ``(ddl, rows)`` when there are none.  The builder returns the paths
    (``{name: path}``, or the one path) and computes and writes the tables
    only when a file is missing."""
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:8]

    def wrap(tables):
        @functools.wraps(tables)
        def build(fixture_dir: str):
            paths = {
                n: os.path.join(
                    fixture_dir, "_".join(filter(None, (stem, n, tag))) + ".parquet"
                )
                for n in names or ("",)
            }
            if not all(os.path.exists(p) for p in paths.values()):
                os.makedirs(fixture_dir, exist_ok=True)
                out = tables(fixture_dir)
                for n, (ddl, rows) in out.items() if names else [("", out)]:
                    pq.write_table(_arrow_table(ddl, rows), paths[n])
            return paths if names else paths[""]

        return build

    return wrap
