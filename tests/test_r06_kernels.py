"""Focused equivalence tests for the round-6 vectorized kernels: each one
re-states the operator's old Column-expression form inline and asserts the
kernel reproduces it exactly (the optimization contract — same rows, same
bits — independent of the oracle gate)."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from reference_fingerprints import (
    kgram_hashes_t,
    list_column_tokens,
    simhash,
    token_hash,
    token_hashes_np,
    winnow_t,
)
from valor_spark.operators.dedup import (
    _simhash_arrow,
    _token_hashes_offsets,
    simhash_table,
    tokens,
)
from valor_spark.operators.text import _winnow_arrow


CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "the quick brown fox jumps over the lazy dog again and again"),
    (4, "short"),
    (5, ""),
    (6, None),
    (7, "héllo wörld müst stay éxact héllo wörld müst stay éxact more"),
    (8, "a b a b a b a b a b a b"),
]


def test_token_hashes_offsets_matches_string_fold():
    col = pa.array(
        [["the", "quick", "fox"], ["héllo", "wörld", "x"], None, [],
         ["mixed", "ascïi", "run"]],
        type=pa.list_(pa.string()),
    )
    flat, lens0, starts0 = list_column_tokens(col)
    hs0 = token_hashes_np(flat)
    hs1, lens1, starts1 = _token_hashes_offsets(col)
    assert (hs0 == hs1).all()
    assert (lens0 == lens1).all() and (starts0 == starts1).all()


def test_token_hashes_offsets_non_ascii_vectorized_fold(spark):
    """The vectorized non-ASCII fallback must reproduce Spark's own
    split('')/ascii fold for CJK, combining-mark, and non-BMP tokens — the
    fold is per codepoint, so an emoji folds as ONE unit."""
    toks = [
        "漢字テスト", "русский", "mixé", "🚀rocket", "a🚀b", "🚀",
        "éclair", "plain", "ümlaut-ö", "ḟancy\U0001F600end",
    ]
    col = pa.array([toks], type=pa.list_(pa.string()))
    hs, _, _ = _token_hashes_offsets(col)
    want = [
        r["h"]
        for r in spark.createDataFrame([(t,) for t in toks], "tok string")
        .select(token_hash(F.col("tok")).alias("h"))
        .collect()
    ]
    assert list(hs) == want


def test_token_hashes_offsets_empty():
    col = pa.array([], type=pa.list_(pa.string()))
    hs, lens, starts = _token_hashes_offsets(col)
    assert len(hs) == 0 and len(lens) == 0 and list(starts) == [0]


def test_simhash_table_matches_column_fold(spark):
    """The SimHash kernel against the Column fold on non-ASCII (CJK,
    combining marks, non-BMP), empty, whitespace-only and NULL texts."""
    rows = CORPUS + [
        (9, "漢字 テスト 漢字 🚀rocket a🚀b"),
        (10, "   "),
        (11, "ḟancy\U0001F600end mixé ümlaut-ö 🚀"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    want = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", simhash(F.col("text")).alias("h")).collect()
    }
    got = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    assert got == want
    # an empty token set sets every bit (0 >= 0); a NULL text stays NULL
    assert got[5] == got[10] == (1 << 32) - 1 and got[6] is None
    # one batch that ends in rows without tokens, whatever batches Spark cuts
    toks = {
        r["doc_id"]: r["t"]
        for r in df.select("doc_id", F.array_distinct(tokens(F.col("text"))).alias("t")).collect()
    }
    ids = [1, 7, 5, 6]
    batch = pa.record_batch(
        [pa.array(ids, pa.int32()), pa.array([toks[i] for i in ids], pa.list_(pa.string()))],
        names=["doc_id", "__toks"],
    )
    (out,) = _simhash_arrow(32, "doc_id")([batch])
    assert out.column("sh").to_pylist() == [want[i] for i in ids]


def test_winnow_kernel_matches_column_chain(spark):
    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    base = df.select(
        F.col("doc_id").alias("doc"), tokens(F.col("text")).alias("__toks")
    )
    old = (
        base.select("doc", kgram_hashes_t(F.col("__toks"), 4).alias("__kh"))
        .select("doc", F.explode(winnow_t(F.col("__kh"), 4)).alias("fp_hex"))
    )
    old_rows = {(r["doc"], r["fp_hex"]) for r in old.collect()}
    new = base.mapInArrow(_winnow_arrow(4, 4, "doc", "fps"), "doc int, fp long")
    new_rows = {
        (r["doc"], "%016x" % (r["fp"] & 0xFFFFFFFFFFFFFFFF))
        for r in new.collect()
    }
    assert old_rows == new_rows


def test_winnow_profile_kernel_matches_column_chain(spark):
    from valor_spark.operators.text import winnow_profile

    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    base = df.select(F.col("doc_id"), tokens(F.col("text")).alias("__toks"))
    oldp = (
        base.select("doc_id", kgram_hashes_t(F.col("__toks"), 4).alias("__kh"))
        .select(
            "doc_id",
            F.size(F.col("__kh")).alias("n_kgrams"),
            winnow_t(F.col("__kh"), 4).alias("__fp"),
        )
        .select(
            "doc_id",
            "n_kgrams",
            F.size("__fp").alias("n_fp"),
            F.when(F.size("__fp") == 0, F.lit(None).cast("string")).otherwise(
                F.substring(F.md5(F.concat_ws(",", F.col("__fp"))), 1, 16)
            ).alias("fp_digest"),
        )
    )
    assert sorted(map(tuple, oldp.collect())) == sorted(
        map(tuple, winnow_profile(df).collect())
    )


def test_knn_bucket_kernel_matches_oracle(spark, tmp_path):
    """knn_graph against the DuckDB oracle on a corpus whose 4-plane
    buckets leave some vectors with <= k bucket-mates — the case that once
    leaked (i, i, -inf) self-pairs.  No zero vector: DuckDB's
    list_cosine_similarity is not 0.0 on one."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    rng = np.random.default_rng(7)
    vecs = rng.normal(0, 1, (150, 16)).astype(np.float32)
    path = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(150), pa.int64()),
            "embedding": pa.array(vecs.tolist(), pa.list_(pa.float32())),
        }),
        path,
    )
    got = sorted(map(tuple, E.queries()["knn_graph"](spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    want = sorted(con.execute(E.oracle_sql()["knn_graph"]).fetchall())
    assert all(src != nbr for src, nbr, _, _ in got)
    assert got == want


def test_spread_width_caps_and_floors(spark):
    from valor_spark.utils import spread_width

    tiny = spark.range(10).selectExpr("id", "cast(id as string) s")
    assert spread_width(tiny) >= 1
    assert spread_width(tiny) <= spark.sparkContext.defaultParallelism * 2


@pytest.mark.parametrize("n", [2, 5])
def test_contamination_kernel_matches_shingle_chain(spark, n):
    from valor_spark.operators.text import shingles_t

    df = spark.createDataFrame(CORPUS, "doc_id int, text string")
    old = (
        df.select(F.col("doc_id").alias("t"), tokens(F.col("text")).alias("__toks"))
        .select("t", F.explode(shingles_t(F.col("__toks"), n)).alias("sh"))
        .select("t", F.substring(F.md5("sh"), 1, 16).alias("h"))
    )
    o = {(r["t"], r["h"]) for r in old.collect()}
    new = (
        df.select(F.col("doc_id").alias("t"), tokens(F.col("text")).alias("__toks"))
        .mapInArrow(_winnow_arrow(n, 1, "t", "fps"), "t int, fp long")
    )
    nw = {(r["t"], "%016x" % (r["fp"] & 0xFFFFFFFFFFFFFFFF)) for r in new.collect()}
    assert o == nw
