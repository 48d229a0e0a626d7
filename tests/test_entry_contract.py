"""Driver-contract regression net: every queries() entry runs, has a
matching oracle (or is deliberately rows-only), and entry() smokes."""

import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_every_query_has_oracle():
    qs, oracles = E.queries(), E.oracle_sql()
    missing = set(qs) - set(oracles)
    assert not missing, f"rows-only queries (should be deliberate): {missing}"
    dangling = set(oracles) - set(qs)
    assert not dangling


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.columns == ["o_orderkey", "rule", "error"]


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_query_runs_and_is_nonempty_schema(spark, name, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    df = E.queries()[name](spark, SF)
    assert df.columns, name
    # runs without error; row count >= 0 (some are legitimately small)
    assert df.count() >= 0
    # a streaming query's checkpoint dir is per-call scratch: none may leak
    assert not list(tmp_path.glob("gate_*")), name
