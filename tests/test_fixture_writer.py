"""The gate-fixture writer's own contract, on tables no builder writes:
an empty table keeps its declared schema, every DDL type in use maps to
Arrow, and a type without a mapping raises instead of guessing."""

import os
import re

import pyarrow.parquet as pq
import pytest

from valor_spark.sources.fixture_writer import fixture

DDL = (
    "s string, b binary, i int, l bigint, d double, f boolean, "
    "v array<double>"
)


def test_empty_and_full_tables_keep_the_declared_schema(tmp_path):
    row = ("x", b"\x00", 1, 2**40, 0.5, True, [1.0, 2.5])

    @fixture("probe", ("k", 1), "empty", "full")
    def build(fixture_dir):
        return {"empty": (DDL, []), "full": (DDL, [row])}

    paths = build(str(tmp_path))
    for name, path in paths.items():
        assert re.fullmatch(rf"probe_{name}_[0-9a-f]{{8}}\.parquet", os.path.basename(path))
    empty, full = (pq.read_table(p) for p in paths.values())
    assert empty.num_rows == 0
    assert empty.schema == full.schema
    assert full.schema.to_string() == (
        "s: string\nb: binary\ni: int32\nl: int64\nd: double\nf: bool\n"
        "v: list<element: double>\n  child 0, element: double"
    )
    assert full.to_pylist() == [dict(zip("sbildfv", row))]


def test_unknown_ddl_type_raises(tmp_path):
    @fixture("probe", ("k", 2))
    def build(fixture_dir):
        return "t timestamp", [(None,)]

    with pytest.raises(ValueError, match="timestamp"):
        build(str(tmp_path))
