"""Generator determinism + whole-table constraints against the Python oracle."""

import pytest
from pyspark.sql import functions as F

from valor_spark.operators import constraints as C
from valor_spark.sources import synthetic as S

from oracle_clips import expected_clips, ref_present

N = 2200
MAX_SAMPLES = 256


@pytest.fixture(scope="module")
def clips_df(spark):
    return S.clips(spark, n=N, n_shards=8, max_samples=MAX_SAMPLES).cache()


@pytest.fixture(scope="module")
def ref_df(spark):
    return S.clips_ref(spark, n=N, n_shards=8, max_samples=MAX_SAMPLES).cache()


@pytest.fixture(scope="module")
def oracle():
    return expected_clips(N, MAX_SAMPLES)


def test_schema_and_counts(clips_df, oracle):
    assert clips_df.count() == N
    cols = dict(clips_df.dtypes)
    assert cols["clip_id"] == "string"
    assert cols["bytes"] == "binary"
    assert cols["sr_hz"] == "int"
    assert cols["dur_ms"] == "int"
    assert cols["codec"] == "string"
    assert cols["transcript"] == "string"


def test_columns_match_oracle(clips_df, oracle):
    rows = {r["id"]: r for r in clips_df.collect()}
    for spec in oracle:
        r = rows[spec.i]
        assert r["clip_id"] == spec.clip_id, spec
        assert r["sr_hz"] == spec.sr_hz, spec
        assert r["dur_ms"] == spec.dur_ms, spec
        assert r["codec"] == spec.codec, spec
        assert r["transcript"] == spec.transcript, spec


def test_determinism_across_partitionings(spark, clips_df):
    """Same content regardless of parallelism/partitioning (seeded per-row)."""
    again = S.clips(spark, n=N, n_shards=8, max_samples=MAX_SAMPLES).repartition(13)
    a = clips_df.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    b = again.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_duplicates_are_exact_copies(clips_df, oracle):
    dups = [s for s in oracle if s.is_dup]
    assert dups, "fixture must contain planted duplicates"
    rows = {r["id"]: r for r in clips_df.collect()}
    for spec in dups:
        dup, orig = rows[spec.i], rows[spec.g]
        for c in ("clip_id", "sr_hz", "dur_ms", "codec", "transcript", "bytes"):
            assert dup[c] == orig[c]


def test_uniqueness_violations(clips_df, oracle):
    got = {
        (r["clip_id"], r["error"])
        for r in C.uniqueness_violations(clips_df, "clip_id").collect()
    }
    # expected: every clip_id appearing >1 time, each occurrence emits a row
    from collections import Counter

    counts = Counter(s.clip_id for s in oracle)
    expected = set()
    for s in oracle:
        if counts[s.clip_id] > 1:
            expected.add((s.clip_id, f"DuplicateKey:n={counts[s.clip_id]}"))
    assert got == expected
    n_rows = C.uniqueness_violations(clips_df, "clip_id").count()
    assert n_rows == sum(1 for s in oracle if counts[s.clip_id] > 1)


def test_salted_equals_plain(clips_df):
    plain = C.duplicate_keys(clips_df, "clip_id", salted=False)
    salted = C.duplicate_keys(clips_df, "clip_id", salted=True, n_salts=8)
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_referential_violations(clips_df, ref_df, oracle):
    vio = C.referential_violations(clips_df, ref_df, "clip_id")
    got_orphans = {
        r["clip_id"]
        for r in vio.filter(F.col("error").startswith("Orphan")).collect()
    }
    got_dangling = {
        r["clip_id"]
        for r in vio.filter(F.col("error").startswith("Dangling")).collect()
    }
    ref_ids = {s.clip_id for s in oracle if ref_present(s)}
    expected_orphans = {s.clip_id for s in oracle if s.clip_id not in ref_ids}
    assert got_orphans == expected_orphans
    assert got_dangling == {f"ref_only_{k}" for k in range(S.DANGLING_REF_COUNT)}


def test_column_stats(clips_df, oracle):
    stats = {r["column"]: r for r in C.column_stats(
        clips_df.select("clip_id", "sr_hz", "dur_ms", "transcript")
    ).collect()}
    assert stats["clip_id"]["count"] == N
    assert stats["clip_id"]["nulls"] == 0
    durs = [s.dur_ms for s in oracle]
    assert stats["dur_ms"]["min"] == min(durs)
    assert stats["dur_ms"]["max"] == max(durs)
    assert abs(stats["dur_ms"]["mean"] - sum(durs) / N) < 1e-6
    # approx_count_distinct within 10% of truth
    true_distinct = len({s.clip_id for s in oracle})
    assert abs(stats["clip_id"]["approx_distinct"] - true_distinct) / true_distinct < 0.1


def test_column_stats_string_ranges(clips_df):
    """String columns report their lexicographic range in min_str/max_str
    (the double min/max slots stay NULL for them, and vice versa)."""
    stats = {r["column"]: r for r in C.column_stats(
        clips_df.select("clip_id", "dur_ms")
    ).collect()}
    s = stats["clip_id"]
    assert s["min"] is None and s["max"] is None
    assert s["min_str"] is not None and s["min_str"] <= s["max_str"]
    d = stats["dur_ms"]
    assert d["min_str"] is None and d["max_str"] is None
    assert d["min"] is not None


def test_column_stats_quoted_names_match_pandas(spark):
    """Column names that need quoting in SQL (a dot, a backtick, a quote)
    give the same stats as pandas over the same rows."""
    import pandas as pd

    rows = [(1.5, "b", 3), (None, "a`'", 7), (-2.0, None, 7), (4.0, "zz", None)]
    pdf = pd.DataFrame(rows, columns=["a.b", "x`y", "it's"])
    df = spark.createDataFrame(rows, "`a.b` double, `x``y` string, `it's` int")
    stats = {r["column"]: r.asDict() for r in C.column_stats(df).collect()}
    assert list(stats) == ["a.b", "x`y", "it's"]
    for c in pdf.columns:
        s, col = stats[c], pdf[c].dropna()
        assert s["count"] == len(pdf)
        assert s["nulls"] == pdf[c].isna().sum()
        assert s["approx_distinct"] == col.nunique()
    for c in ("a.b", "it's"):
        s, col = stats[c], pdf[c].dropna()
        assert (s["min"], s["max"]) == (col.min(), col.max())
        assert s["mean"] == pytest.approx(col.mean())
        assert s["stddev"] == pytest.approx(col.std())
        assert s["min_str"] is None and s["max_str"] is None
    s, col = stats["x`y"], pdf["x`y"].dropna()
    assert (s["min_str"], s["max_str"]) == (col.min(), col.max())
    assert s["min"] is None and s["mean"] is None
