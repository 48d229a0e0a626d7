"""Streaming validation: file-source micro-batches through foreachBatch must
produce byte-identical violations to the batch path."""

import time

import pytest
from pyspark.sql import functions as F

from valor_spark import EArray, adapt, fail_if, field
from valor_spark.plans.engine import validate
from valor_spark.streaming.validate_stream import (
    attach_rules,
    validate_stream,
    windowed_violation_counts,
)

EA = EArray()


def _rules():
    return {
        "amount_pos": adapt(field("amount"), fail_if(["AmountNegative"], lambda a: a < 0, EA)),
        "name_nonempty": adapt(field("name"), fail_if(["NameEmpty"], lambda s: s == "", EA)),
    }


@pytest.fixture(scope="module")
def source_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_src"))
    rows = [(i, f"u{i}" if i % 7 else "", (i % 5) - 1) for i in range(200)]
    spark.createDataFrame(rows, "id int, name string, amount int").coalesce(2).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_stream_matches_batch(spark, source_dir, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("stream_ckpt"))
    batch_df = spark.read.parquet(source_dir)
    batch_vio = {
        tuple(r)
        for r in validate(batch_df, _rules(), key_cols=["id"]).violations().collect()
    }

    collected = []

    def on_batch(valid_df, vio_df, batch_id):
        collected.extend(tuple(r) for r in vio_df.collect())

    stream = spark.readStream.schema("id int, name string, amount int").parquet(source_dir)
    q = validate_stream(
        stream, _rules(), key_cols=["id"], on_batch=on_batch,
        checkpoint_dir=ckpt, trigger_once=True,
    )
    q.awaitTermination(120)
    assert set(collected) == batch_vio
    assert len(batch_vio) > 0


def test_attach_rules_is_narrow(spark, source_dir):
    df = spark.read.parquet(source_dir)
    out = attach_rules(df, _rules())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle: single narrow select


def test_windowed_counts(spark, tmp_path_factory):
    rows = [(i, f"2024-01-01 00:{i % 10:02d}:00", -1 if i % 4 == 0 else 1) for i in range(40)]
    df = spark.createDataFrame(rows, "id int, ts string, amount int").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path_factory.mktemp("wsrc"))
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("id int, ts timestamp, amount int").parquet(src)
    rules = {"amount_pos": adapt(field("amount"), fail_if(["Neg"], lambda a: a < 0, EA))}
    agg = windowed_violation_counts(stream, rules, "ts", window="5 minutes", watermark="10 minutes")
    out_dir = str(tmp_path_factory.mktemp("wout"))
    ckpt = str(tmp_path_factory.mktemp("wckpt"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wcounts")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from wcounts").collect()
    # append mode only emits windows closed by the watermark; with
    # availableNow + bounded input the final watermark closes all but the
    # last window -> at least one emitted window with correct arithmetic
    for r in got:
        assert r["invalid_rows"] <= r["rows"]
        assert r["violations"] == r["invalid_rows"]  # one rule, one error each


def test_streaming_duplicate_detection_across_batches(spark, tmp_path_factory):
    """applyInPandasWithState keeps per-key counts across micro-batches:
    a clip_id first seen in batch 1 and again in batch 2 must be flagged."""
    from valor_spark.streaming.validate_stream import streaming_duplicate_clips

    src = str(tmp_path_factory.mktemp("dupsrc"))
    ckpt = str(tmp_path_factory.mktemp("dupckpt"))
    # two files -> maxFilesPerTrigger=1 -> two micro-batches
    spark.createDataFrame(
        [("a",), ("b",), ("b",)], "clip_id string"
    ).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame(
        [("a",), ("c",)], "clip_id string"
    ).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("clip_id string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/f*")
    )
    q = (
        streaming_duplicate_clips(stream)
        .writeStream.format("memory")
        .queryName("dups")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["clip_id"], r["n_seen"], r["error"])
        for r in spark.sql("select * from dups").collect()
    }
    # 'b' duplicated within one batch; 'a' duplicated ACROSS batches
    assert ("b", 2, "DuplicateKey:n=2") in rows
    assert ("a", 2, "DuplicateKey:n=2") in rows
    assert not any(r[0] == "c" for r in rows)


def test_streaming_duplicates_emit_one_row_per_occurrence(spark, tmp_path_factory):
    """Per-duplicate accounting (matching the batch engine): a key appearing
    3x in one batch emits TWO violation rows (n_seen 2 and 3), not one."""
    from valor_spark.streaming.validate_stream import streaming_duplicate_clips

    src = str(tmp_path_factory.mktemp("dupsrc3"))
    ckpt = str(tmp_path_factory.mktemp("dupckpt3"))
    spark.createDataFrame(
        [("k",), ("k",), ("k",), ("solo",)], "clip_id string"
    ).coalesce(1).write.parquet(f"{src}/f1")
    q = (
        streaming_duplicate_clips(
            spark.readStream.schema("clip_id string").parquet(f"{src}/f*")
        )
        .writeStream.format("memory")
        .queryName("dups3")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["clip_id"], r["n_seen"], r["error"])
        for r in spark.sql("select * from dups3").collect()
    )
    assert rows == [
        ("k", 2, "DuplicateKey:n=2"),
        ("k", 3, "DuplicateKey:n=3"),
    ]


def test_streaming_uniqueness_state_ttl_evicts(spark, tmp_path_factory):
    """State-TTL: a key idle past the TTL is evicted (bounded state store),
    so its next occurrence counts as first-seen — no violation.  Timeout
    callbacks fire on triggers where the key has no data, hence the middle
    batch with an unrelated key."""
    from valor_spark.streaming.validate_stream import streaming_duplicate_clips

    src = str(tmp_path_factory.mktemp("ttlsrc"))
    ckpt = str(tmp_path_factory.mktemp("ttlckpt"))
    # three files -> maxFilesPerTrigger=1 -> three micro-batches:
    # b1: 'a' (state created, TTL armed); b2: 'x' only -> 'a' idle past
    # 1ms TTL -> evicted; b3: 'a' again -> fresh, NOT a duplicate
    spark.createDataFrame([("a",)], "clip_id string").coalesce(1).write.parquet(f"{src}/f1")
    time.sleep(0.05)
    spark.createDataFrame([("x",)], "clip_id string").coalesce(1).write.parquet(f"{src}/f2")
    time.sleep(0.05)
    spark.createDataFrame([("a",)], "clip_id string").coalesce(1).write.parquet(f"{src}/f3")

    stream = (
        spark.readStream.schema("clip_id string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(f"{src}/f*")
    )
    # drain_query, NOT trigger(availableNow) or processAllAvailable: with a
    # finite TTL the engine schedules no-data batches forever to service
    # pending ProcessingTimeTimeouts, so BOTH hang (Spark 4.1, measured) —
    # the old awaitTermination(120) here was silently burning the full
    # 120 s and leaking a running query.
    from valor_spark.streaming.validate_stream import drain_query

    q = (
        streaming_duplicate_clips(stream, ttl_ms=1)
        .writeStream.format("memory")
        .queryName("ttldups")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    drain_query(q, expected_input_rows=3)
    rows = spark.sql("select * from ttldups").collect()
    # with eviction between b1 and b3, 'a' never reaches n=2
    assert rows == [], [tuple(r) for r in rows]

    # control: same input WITHOUT ttl keeps state -> 'a' flagged at n=2
    ckpt2 = str(tmp_path_factory.mktemp("ttlckpt2"))
    # ttl=None => NoTimeout => no no-data batches are ever scheduled, so
    # settle_batches must be 0 (there is no "one more batch" to wait for)
    q2 = (
        streaming_duplicate_clips(stream)
        .writeStream.format("memory")
        .queryName("ttldups_ctl")
        .outputMode("append")
        .option("checkpointLocation", ckpt2)
        .start()
    )
    drain_query(q2, expected_input_rows=3, settle_batches=0)
    ctl = {
        (r["clip_id"], r["n_seen"]) for r in spark.sql("select * from ttldups_ctl").collect()
    }
    assert ("a", 2) in ctl


def test_profile_stream_batch_parity(spark, tmp_path_factory):
    import numpy as np

    from valor_spark.operators.audio import audio_profile, audio_quality_rules
    from valor_spark.plans.engine import validate
    from valor_spark.streaming.validate_stream import profile_stream

    loud = np.full(64, 32767, dtype="<i2").tobytes()
    quiet = np.zeros(64, dtype="<i2").tobytes()
    ok = (np.sin(np.arange(64)) * 20000).astype("<i2").tobytes()
    src = str(tmp_path_factory.mktemp("psrc"))
    # two files -> maxFilesPerTrigger=1 -> two micro-batches
    spark.createDataFrame(
        [("a", loud, "pcm_s16le"), ("b", ok, "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(
        [("c", quiet, "pcm_s16le"), ("d", b"\x01", "pcm_s16le")],
        "clip_id string, bytes binary, codec string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("clip_id string, bytes binary, codec string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    profs: list = []
    vios: list = []

    def on_batch(prof_df, vio_df, batch_id):
        profs.extend(prof_df.collect())
        vios.extend(vio_df.collect())

    ckpt = str(tmp_path_factory.mktemp("pckpt"))
    q = profile_stream(stream, on_batch, ckpt, trigger_once=True)
    q.awaitTermination(120)

    batch_df = spark.read.parquet(src)
    want_prof = sorted(
        tuple(r) for r in audio_profile(batch_df).collect()
    )
    assert sorted(tuple(r) for r in profs) == want_prof
    want_vio = sorted(
        (r["clip_id"], r["rule"])
        for r in validate(
            audio_profile(batch_df), audio_quality_rules(), key_cols=["clip_id"]
        ).violations().collect()
    )
    assert sorted((r["clip_id"], r["rule"]) for r in vios) == want_vio
    # the planted cases actually fire
    fired = {(r["clip_id"], r["rule"]) for r in vios}
    assert ("a", "audio_clipping") in fired
    assert ("c", "audio_silence") in fired and ("c", "audio_zero_signal") in fired
    assert ("d", "audio_decode") in fired


def test_drift_stream_matches_batch_psi(spark, tmp_path_factory):
    from valor_spark.operators.drift import baseline_from, drift_report
    from valor_spark.streaming.validate_stream import drift_report_stream

    src = str(tmp_path_factory.mktemp("dsrc"))
    # two files with deliberately different category mixes
    spark.createDataFrame(
        [(i, i % 3) for i in range(90)], "id int, cat int"
    ).coalesce(1).write.parquet(src + "/a")
    spark.createDataFrame(
        [(100 + i, i % 5) for i in range(90)], "id int, cat int"
    ).coalesce(1).write.parquet(src + "/b")
    import glob as _g
    import shutil

    flat = str(tmp_path_factory.mktemp("dsrc_flat"))
    for j, f in enumerate(sorted(_g.glob(src + "/*/part-*.parquet"))):
        shutil.copyfile(f, f"{flat}/f{j}.parquet")

    baseline = baseline_from(
        spark.read.parquet(f"{flat}/f0.parquet"),
        numeric_cols={}, categorical_cols=["cat"],
    )
    categorical = {"cat": {}}
    got: dict[int, float] = {}

    def on_batch(results, batch_df, batch_id):
        key = batch_df.agg(F.min("id")).collect()[0][0]
        (psi,) = results
        got[key] = psi.value

    stream = (
        spark.readStream.schema("id int, cat int")
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    ckpt = str(tmp_path_factory.mktemp("dckpt"))
    q = drift_report_stream(
        stream, baseline, on_batch, ckpt, categorical=categorical,
        trigger_once=True,
    )
    assert q.awaitTermination(120)

    # stream execution, batch truth: each micro-batch's PSI equals the
    # batch operator on the same file; the baseline batch scores 0.0
    for fname, key in (("f0", 0), ("f1", 100)):
        (want,) = drift_report(
            spark.read.parquet(f"{flat}/{fname}.parquet"), baseline,
            categorical=categorical,
        )
        assert got[key] == want.value
    assert got[0] == 0.0
    assert got[100] > 0.1


def test_streaming_near_dup_matches_batch_winnow_pairs(spark, tmp_path_factory):
    from valor_spark.operators.text import winnow_pairs
    from valor_spark.streaming.validate_stream import streaming_near_dup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, f"{shared} with one tail here"),            # file 1
        (2, "totally unrelated words in this document body text"),
        (1, f"prefix words then {shared} afterwards"),  # file 2: cross-batch dup of 0
        (3, f"another copy {shared} trailing words"),   # file 2: dups 0 AND 1
    ]
    flat = str(tmp_path_factory.mktemp("nd_src"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    for fname, ids in (("f1.parquet", (0, 2)), ("f2.parquet", (1, 3))):
        sel = [r for r in rows if r[0] in ids]
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in sel], pa.int64()),
                      "text": pa.array([r[1] for r in sel], pa.string())}),
            f"{flat}/{fname}",
        )

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    hits: list = []
    ckpt = str(tmp_path_factory.mktemp("nd_ckpt"))
    # default (finite TTL) => ProcessingTimeTimeout => availableNow and
    # processAllAvailable both hang; drain by progress instead
    from valor_spark.streaming.validate_stream import drain_query

    q = (
        streaming_near_dup(stream)
        .writeStream.foreachBatch(lambda b, _i: hits.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )
    drain_query(q, expected_input_rows=4)

    from collections import Counter

    got = Counter((r["doc_a"], r["doc_b"]) for r in hits)
    batch = spark.createDataFrame(rows, "doc_id bigint, text string")
    want = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_pairs(batch, min_shared=1, max_fp_freq=50).collect()
    }
    assert dict(got) == want
    # the cross-batch pair (0,1) specifically must exist — the stateful
    # operator's reason to exist
    assert (0, 1) in got


def test_streaming_near_dup_ttl_evicts(spark, tmp_path_factory):
    """State-TTL on the near-dup operator: a fingerprint idle past the TTL
    is evicted, so a later holder of the same fingerprint emits NO
    cross-batch pair (same protocol as the uniqueness TTL test: middle
    batch with an unrelated doc lets the timeout fire)."""
    from valor_spark.streaming.validate_stream import streaming_near_dup

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    flat = str(tmp_path_factory.mktemp("ndttl_src"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    batches = [
        ("f1.parquet", [(0, f"{shared} first arrival")]),
        ("f2.parquet", [(9, "totally unrelated filler words go here now")]),
        ("f3.parquet", [(1, f"{shared} second arrival")]),
    ]
    for fname, sel in batches:
        pq.write_table(
            pa.table({"doc_id": pa.array([r[0] for r in sel], pa.int64()),
                      "text": pa.array([r[1] for r in sel], pa.string())}),
            f"{flat}/{fname}",
        )
        time.sleep(0.05)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(flat)
    )
    hits: list = []
    ckpt = str(tmp_path_factory.mktemp("ndttl_ckpt"))
    from valor_spark.streaming.validate_stream import drain_query

    q = (
        streaming_near_dup(stream, ttl_ms=1)
        .writeStream.foreachBatch(lambda b, _i: hits.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )
    drain_query(q, expected_input_rows=3)
    # doc 0's fingerprints were evicted before doc 1 arrived
    assert hits == [], [tuple(r) for r in hits]


def test_streaming_near_dup_hot_fp_within_batch_cap(spark, tmp_path_factory):
    """One hot (boilerplate) fingerprint arriving with N docs in a SINGLE
    micro-batch must emit at most O(cap^2) pairs — among the first
    ``max_docs_per_fp`` holders only — never O(N^2) (the unbounded
    within-batch fan-out bug)."""
    from valor_spark.streaming.validate_stream import streaming_near_dup

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    flat = str(tmp_path_factory.mktemp("ndhot_src"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 8
    pq.write_table(
        pa.table({"doc_id": pa.array(list(range(n)), pa.int64()),
                  "text": pa.array([boiler] * n, pa.string())}),
        f"{flat}/f1.parquet",
    )
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(flat)
    hits: list = []
    ckpt = str(tmp_path_factory.mktemp("ndhot_ckpt"))
    from valor_spark.streaming.validate_stream import drain_query

    q = (
        streaming_near_dup(stream, max_docs_per_fp=3)
        .writeStream.foreachBatch(lambda b, _i: hits.extend(b.collect()))
        .option("checkpointLocation", ckpt)
        .start()
    )
    drain_query(q, expected_input_rows=8)
    pairs = {(r["doc_a"], r["doc_b"]) for r in hits}
    # only the first 3 holders (docs 0,1,2) pair up: C(3,2)=3 pairs,
    # not C(8,2)=28
    assert pairs == {(0, 1), (0, 2), (1, 2)}, pairs
