"""Edge hardening: empty inputs, null-heavy columns, degenerate shapes."""

import pytest
from pyspark.sql import functions as F

from valor_spark import EArray, adapt, checkN, con, fail_if, field, make
from valor_spark.operators import constraints as C
from valor_spark.operators import drift as D
from valor_spark.plans.engine import validate
from valor_spark.plans.pipeline import run_pipeline

EA = EArray()

CLIPS_SCHEMA = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
    "transcript string, shard int"
)


def test_validate_empty_dataframe(spark):
    df = spark.createDataFrame([], "id int, v int")
    res = validate(
        df, {"r": adapt(field("v"), fail_if(["neg"], lambda v: v < 0, EA))},
        key_cols=["id"],
    )
    assert res.valid().count() == 0
    assert res.violations().count() == 0


def test_pipeline_empty_clips(spark):
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    rep = run_pipeline(spark, df, None)
    assert rep.rows == 0
    assert rep.violations.count() == 0
    assert rep.shard_verdicts.count() == 0


def test_pipeline_empty_clips_checkpointed(spark, tmp_path):
    """Empty input into a checkpoint dir: no shard to run or read, and the
    resume serves the committed (empty) constraints run."""
    df = spark.createDataFrame([], CLIPS_SCHEMA)
    for skipped in ([], [-1]):
        rep = run_pipeline(spark, df, None, checkpoint_dir=str(tmp_path))
        assert rep.skipped == {"row_rules": [], "constraints": skipped}
        assert rep.violations.count() == 0
        assert rep.shard_verdicts.count() == 0
        rep.release()


def test_all_null_column_rules(spark):
    df = spark.createDataFrame(
        [("a", None), ("b", None)], "clip_id string, dur_ms int"
    )
    # make-based null check fires; plain predicate treats null as pass
    rules = {
        "null_check": adapt(
            field("dur_ms"),
            make(lambda c: F.when(c.isNull(), EA.lit(["IsNull"])), EA),
        ),
        "pred_rule": adapt(field("dur_ms"), fail_if(["neg"], lambda c: c < 0, EA)),
    }
    res = validate(df, rules, key_cols=["clip_id"])
    got = {(r["clip_id"], r["rule"]) for r in res.violations().collect()}
    assert got == {("a", "null_check"), ("b", "null_check")}


def test_duplicate_keys_on_empty(spark):
    df = spark.createDataFrame([], "clip_id string")
    assert C.duplicate_keys(df, "clip_id").count() == 0


def test_drift_on_empty_observation(spark):
    base = spark.createDataFrame(
        [("x", 0.0, 10.0, 1.0)],
        "column_name string, bin_lo double, bin_hi double, expected_share double",
    )
    obs = spark.createDataFrame([], "x double")
    (r,) = D.drift_report(obs, base, numeric={"x": dict(lo=0.0, hi=100.0, nbins=10)})
    # empty observation: statistic defined (all mass difference), no crash
    assert r.metric == "ks" and r.value == 1.0


def test_checkN_deeply_nested(spark):
    # array<array<int>>: checkN of checkN
    inner = fail_if(["neg"], lambda x: x < 0, EA)
    outer = checkN(lambda a: a, checkN(lambda x: x, inner))
    df = spark.createDataFrame(
        [([[1, -2], [3]],), ([[1], []],)],
        "a array<array<int>>",
    )
    rows = df.select(outer(F.col("a")).alias("r")).collect()
    assert rows[0].r.wrong is True
    # outer payload: [Just [Nothing, Just ["neg"]], Nothing]
    outer_err = rows[0].r.err
    assert outer_err[0][0] is None
    assert list(outer_err[0][1]) == ["neg"]
    assert outer_err[1] is None
    assert rows[1].r.wrong is False and rows[1].r.err is None


def test_unicode_and_weird_strings(spark):
    df = spark.createDataFrame(
        [("ü", "żółć 🎧 transcript"), ("", None)],
        "clip_id string, transcript string",
    )
    rules = {
        "t": adapt(
            field("transcript"),
            make(lambda c: F.when(c.isNull() | (c == ""), EA.lit(["Empty"])), EA),
        )
    }
    res = validate(df, rules, key_cols=["clip_id"])
    got = {r["clip_id"] for r in res.violations().collect()}
    assert got == {""}
