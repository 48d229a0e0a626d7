"""DuckDB oracle parity for the similarity queries at sf0.01: the same
row-count + order-insensitive value-hash check as ``tools/selfcheck.py``,
run on the shared test session."""

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
import selfcheck  # noqa: E402

E = selfcheck.entrymod
SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF}/embeddings.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    ["knn_graph", "embedding_near_dup", "cosine_topk", "cosine_topk_lsh",
     "cosine_topk_ivf", "lsh_buckets"],
)
def test_similarity_query_matches_oracle(spark, duck, name):
    got = selfcheck.canon_lines(E.queries()[name](spark, SF).toPandas())
    want = selfcheck.canon_lines(duck.execute(E.oracle_sql()[name]).df())
    assert len(got) == len(want)
    assert selfcheck.value_hash(got) == selfcheck.value_hash(want)
