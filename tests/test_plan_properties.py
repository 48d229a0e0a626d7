"""Plan-property regression net: the physical-plan characteristics the
100 TB design depends on (see BENCH/PLANS.md) asserted against the actual
executed plans, so a refactor that silently introduces a shuffle or breaks
column pruning fails CI."""

import pytest
from pyspark.sql import functions as F

import valor_spark as V
from valor_spark.operators.constraints import duplicate_keys, uniqueness_violations
from valor_spark.plans.engine import validate
from valor_spark.sources import synthetic as S

EA = V.EArray()


@pytest.fixture(scope="module")
def clips_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("planclips"))
    S.clips(spark, n=300, n_shards=4, max_samples=32).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_row_rules_have_no_shuffle_and_no_python(clips_parquet):
    rules = {
        "sr": V.adapt(V.field("sr_hz"), V.fail_if(["Bad"], lambda c: c <= 0, EA)),
        "dur": V.adapt(V.field("dur_ms"), V.fail_if(["Bad"], lambda c: c <= 0, EA)),
    }
    res = validate(clips_parquet.drop("bytes"), rules, key_cols=["clip_id"])
    p = plan_of(res.annotated)
    assert "Exchange" not in p
    assert "Python" not in p and "Arrow" not in p
    # (WholeStageCodegen spans only appear in the AQE-finalized plan string;
    # the no-shuffle/no-Python assertions are the load-bearing properties)


def test_uniqueness_scan_prunes_to_key(clips_parquet):
    p = plan_of(duplicate_keys(clips_parquet, "clip_id"))
    assert "ReadSchema: struct<clip_id:string>" in p  # bytes never read
    assert "partial_count" in p  # map-side combine absorbs hot-key skew


def test_duplicate_tagging_broadcasts(clips_parquet):
    p = plan_of(uniqueness_violations(clips_parquet, "clip_id"))
    assert "BroadcastHashJoin" in p  # big side streams, never shuffles


def test_top_bigrams_is_distributed_topk(spark):
    """top-k must compile to TakeOrderedAndProject (per-partition partial
    top-k), never a global one-task Window sort over all distinct bigrams."""
    from valor_spark.operators.text import top_bigrams

    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(10)], "doc_id bigint, text string"
    )
    p = plan_of(top_bigrams(df, k=3))
    assert "TakeOrderedAndProject" in p


def test_cosine_topk_ivf_no_global_sort_or_cartesian(spark):
    """IVF centroid sampling must be a distributed partial top-k; centroid
    assignment must be a broadcast of ONE folded row (no per-corpus-row
    cartesian expansion, no unpartitioned window, no driver collect)."""
    from valor_spark.operators.similarity import cosine_topk_ivf
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, float(i % 3)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    out = cosine_topk_ivf(emb, emb.filter(F.col("vec_id") < 2), k=2,
                          n_centroids=4, n_probe=2)
    p = plan_of(out)
    assert "TakeOrderedAndProject" in p  # md5 centroid sample
    assert "CartesianProduct" not in p   # one-row crossJoin broadcasts
    assert _unpartitioned_windows(p) == []


def _unpartitioned_windows(plan: str) -> list[str]:
    """windowspecdefinition(...) whose FIRST argument is a sort spec (has
    ASC/DESC) — i.e. no partition columns: a single-task global sort."""
    import re

    bad = []
    for m in re.finditer(r"windowspecdefinition\(([^)]*)", plan):
        first_arg = m.group(1).split(",")[0]
        if " ASC" in first_arg or " DESC" in first_arg:
            bad.append(m.group(0)[:120])
    return bad


# queries whose unpartitioned windows provably run on a BOUNDED input:
# name -> why the bound holds (checked where mechanically possible)
_BOUNDED_WINDOW_OK = {
    "top_bigrams": "window sits above a TakeOrderedAndProject limit(k)",
    "tfidf_topk": "window sits above a TakeOrderedAndProject limit(k)",
}


# gate queries that EXECUTE a full StreamingQuery just to build their
# result frame — their returned DataFrames are locally-created (collected
# micro-batch output) and carry no window info, so sweeping them buys
# nothing and costs minutes of wall per query
_STREAMING_GATE_QUERIES = {
    "stream_validate", "stream_drift", "stream_audio_profile",
    "stream_near_dup", "stream_windowed_counts",
}


def test_driver_queries_have_no_unpartitioned_windows(spark):
    """Sweep every driver-gate query plan: any Window without partition keys
    funnels the whole input through ONE task — a scale-killer at 100x —
    unless its input is provably bounded (post-aggregation bins/top-k).
    Most queries are only planned.  The drift queries (drift_all,
    psi_event_types, ks_value_drift, chi2_drift) run their histogram scans
    and finish on the driver, so what is swept for them is the plan of
    their small local result frame.  Streaming gate queries, which would
    run real StreamingQueries to produce a plan-less local frame, are
    skipped."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    for name, fn in entry.queries().items():
        if name in _STREAMING_GATE_QUERIES:
            continue
        df = fn(spark, sf)
        bad = _unpartitioned_windows(plan_of(df))
        if name in _BOUNDED_WINDOW_OK:
            if name in ("top_bigrams", "tfidf_topk"):
                assert "TakeOrderedAndProject" in plan_of(df), (
                    f"{name}: bounded-window claim broken"
                )
            continue
        assert not bad, f"{name}: unpartitioned window(s): {bad}"


def test_resume_fingerprint_scan_never_reads_payload(clips_parquet):
    """The checkpoint-resume decision must stay a metadata-column scan:
    reading bytes (even length(bytes)) to decide whether to skip a shard
    costs a full payload pass — at 100 TB that defeats the resume."""
    from valor_spark.plans.pipeline import shard_fingerprint_frame

    p = plan_of(shard_fingerprint_frame(clips_parquet))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "bytes" not in read_schema, read_schema
    assert "partial_bit_xor" in p or "bit_xor" in p  # map-side combine


def test_row_rule_scan_prunes_unused_columns(clips_parquet):
    # a rule reading only sr_hz must not drag bytes through the scan
    rules = {"sr": V.adapt(V.field("sr_hz"), V.fail_if(["Bad"], lambda c: c <= 0, EA))}
    res = validate(
        clips_parquet.select("clip_id", "sr_hz", "bytes"),
        rules,
        key_cols=["clip_id"],
    )
    # barrier=False: the default violations() path materializes the slim
    # violating-rows frame through a localCheckpoint, which replaces the
    # upstream plan with an RDD scan — the pruning property lives in the
    # lazy plan underneath it
    vio = res.violations(barrier=False)
    p = plan_of(vio)
    assert "bytes" not in p.split("ReadSchema:")[1].splitlines()[0]


def test_stratified_sample_is_shuffle_free(spark):
    from valor_spark.operators import sampling as SP

    docs = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    p = plan_of(SP.stratified_sample(docs, "grp", {"0": 0.5, "1": 1.0}, "id"))
    assert "Exchange" not in p
    assert "Python" not in p


def test_sample_k_per_group_uses_window_group_limit(spark):
    from valor_spark.operators import sampling as SP

    docs = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("grp")
    )
    p = plan_of(SP.sample_k_per_group(docs, "grp", 5, "id"))
    # map-side per-group top-k pruning before the single shuffle
    assert "WindowGroupLimit" in p
    assert p.count("Exchange hashpartitioning") <= 2  # pre+post-limit pair


def test_asof_join_has_no_join_node(spark):
    import datetime as dt

    from valor_spark.operators.temporal import asof_join

    l = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 1), "x")], "k bigint, ts timestamp, pay string"
    )
    r = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 0), 1.0)], "k bigint, ts timestamp, v double"
    )
    p = plan_of(asof_join(l, r, on="k"))
    # the union+window formulation must never plan a join (pair explosion)
    assert "Join" not in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_interval_join_is_equi_on_slot(spark):
    import datetime as dt

    from valor_spark.operators.temporal import interval_join

    pts = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 5))], "pid bigint, ts timestamp"
    )
    ivs = spark.createDataFrame(
        [(9, dt.datetime(2024, 1, 1, 0), dt.datetime(2024, 1, 1, 23))],
        "iid bigint, lo timestamp, hi timestamp",
    )
    p = plan_of(interval_join(pts, ivs))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "HashJoin" in p or "SortMergeJoin" in p


def test_audio_profile_no_shuffle_pruned_scan(spark, tmp_path_factory):
    from valor_spark.operators.audio import audio_profile

    path = str(tmp_path_factory.mktemp("profclips"))
    S.clips(spark, n=100, n_shards=2, max_samples=32).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    p = plan_of(audio_profile(df))
    assert "Exchange" not in p
    assert "ReadSchema: struct<clip_id:string,bytes:binary,codec:string>" in p
