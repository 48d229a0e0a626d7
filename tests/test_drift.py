"""KS / PSI / chi-square drift: statistics vs hand-computed numpy, the one
histogram scan, the NULL semantics, and end-to-end baseline-vs-shifted
detection on the synthetic clips table.  Every frame-level check goes
through the one mechanism: ``baseline_from`` + ``drift_report``."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from valor_spark.operators import drift as D
from valor_spark.sources import synthetic as S


def test_ks_statistic_hand_check():
    obs = {0: 10, 1: 30, 2: 60}
    base = {0: 30, 1: 30, 2: 40}
    # cum p = .1,.4,1.0 ; cum q = .3,.6,1.0 -> sup diff = .2
    assert abs(D.ks_statistic(obs, base) - 0.2) < 1e-12


def test_ks_statistic_identical_is_zero():
    h = {0: 5, 3: 7}
    assert D.ks_statistic(h, h) == 0.0


def test_psi_statistic_hand_check():
    obs = {"a": 50, "b": 50}
    base = {"a": 0.9, "b": 0.1}
    p = np.array([0.5, 0.5])
    q = np.array([0.9, 0.1])
    want = float(np.sum((p - q) * np.log(p / q)))
    assert abs(D.psi_statistic(obs, base) - want) < 1e-12


def test_psi_handles_missing_categories():
    v = D.psi_statistic({"a": 100}, {"b": 1.0})
    assert v > 1.0  # disjoint supports -> large PSI, no div-by-zero/NaN
    assert np.isfinite(v)


def test_histograms_clamp_and_count(spark):
    df = spark.createDataFrame([(x,) for x in [-5.0, 0.0, 9.9, 10.0, 99.0]], "v double")
    hist = D.histograms(df, {"v": dict(lo=0.0, hi=100.0, nbins=10)}, {})
    h = {int(r["key"]): r["cnt"] for r in hist.collect()}
    # -5 clamps to bin 0; 0 and 9.9 -> bin 0; 10.0 -> bin 1; 99 -> bin 9
    assert h == {0: 3, 1: 1, 9: 1}


_DUR = {"dur_ms": dict(lo=0.0, hi=1001.0, nbins=20)}
_SR = {"sr_hz": dict(threshold=0.2)}


def test_end_to_end_no_drift(spark):
    clips = S.clips(spark, n=1500, n_shards=4, with_audio=False)
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    baseline = D.baseline_from(
        ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
    ).cache()
    ks, psi = D.drift_report(ok, baseline, numeric=_DUR, categorical=_SR)
    assert ks.passed and ks.value < 1e-9
    assert psi.passed and psi.value < 1e-9


def test_end_to_end_detects_shift(spark):
    clips = S.clips(spark, n=1500, n_shards=4, with_audio=False)
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    baseline = D.baseline_from(
        ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
    ).cache()
    shifted = ok.withColumn("dur_ms", F.col("dur_ms") + 400)
    (ks,) = D.drift_report(shifted, baseline, numeric=_DUR)
    assert not ks.passed and ks.value > 0.3
    skewed = ok.withColumn(
        "sr_hz", F.when(F.col("sr_hz") == 8000, 16000).otherwise(F.col("sr_hz"))
    )
    (psi,) = D.drift_report(skewed, baseline, categorical=_SR)
    assert not psi.passed


def test_drift_report_single_scan_matches_per_metric(spark):
    """drift_report (one scan for all metrics, each column restricted by
    its own ``pred``) must agree with one report per metric over the
    pre-filtered frame to float precision."""
    clips = S.clips(spark, n=1500, n_shards=4, with_audio=False)
    ok = clips.filter((F.col("dur_ms") > 0) & (F.col("sr_hz") > 0))
    baseline = D.baseline_from(
        ok, numeric_cols={"dur_ms": (0.0, 1001.0, 20)}, categorical_cols=["sr_hz"]
    ).cache()
    (want_ks,) = D.drift_report(
        clips.filter(F.col("dur_ms") > 0), baseline, numeric=_DUR
    )
    (want_psi,) = D.drift_report(
        clips.filter(F.col("sr_hz") > 0), baseline, categorical=_SR
    )
    got = {
        (r.column, r.metric): r
        for r in D.drift_report(
            clips,
            baseline,
            numeric={"dur_ms": dict(lo=0.0, hi=1001.0, nbins=20, threshold=0.1,
                                    pred=F.col("dur_ms") > 0)},
            categorical={"sr_hz": dict(threshold=0.2, pred=F.col("sr_hz") > 0)},
        )
    }
    assert abs(got[("dur_ms", "ks")].value - want_ks.value) < 1e-12
    assert abs(got[("sr_hz", "psi")].value - want_psi.value) < 1e-12
    assert got[("dur_ms", "ks")].passed and got[("sr_hz", "psi")].passed


def test_drift_report_chi2_same_scan(spark):
    """metrics=("psi","chi2") derives BOTH statistics from the one exploded
    -key histogram: chi2 equals the hand-computed value, dof is realized
    union-categories - 1, and the default threshold is the scale-free
    Wilson-Hilferty critical value."""
    from valor_spark.operators.drift import chi2_critical

    obs = spark.createDataFrame([("a",)] * 30 + [("b",)] * 10, "k string")
    base = spark.createDataFrame([("a",)] * 20 + [("b",)] * 20, "k string")
    baseline = D.baseline_from(base, numeric_cols={}, categorical_cols=["k"])
    rep = {
        r.metric: r
        for r in D.drift_report(
            obs, baseline, categorical={"k": dict(metrics=("psi", "chi2"))}
        )
    }
    # expected counts: a 20, b 20; chi2 = (30-20)^2/20 + (10-20)^2/20 = 10.0
    assert abs(rep["chi2"].value - 10.0) < 1e-9
    assert rep["chi2"].dof == 1
    assert abs(rep["chi2"].threshold - chi2_critical(1)) < 1e-12
    assert not rep["chi2"].passed  # chi2=10.0 > 3.84 critical
    assert "psi" in rep and rep["psi"].dof is None
    # chi2_threshold override beats the critical-value default
    loose = D.drift_report(
        obs, baseline,
        categorical={"k": dict(metrics=("chi2",), chi2_threshold=100.0)},
    )[0]
    assert loose.passed and loose.threshold == 100.0
    # Wilson-Hilferty sanity against table values (95%): dof=1 -> 3.841,
    # dof=10 -> 18.307 (approximation good to ~1%)
    assert abs(chi2_critical(1) - 3.841) < 0.1
    assert abs(chi2_critical(10) - 18.307) < 0.1


def test_drift_report_column_names_with_colons(spark):
    """Histogram keys are structs, not delimited strings: a column name
    containing ':' works in drift_report and baseline_from alike."""
    rows = [(i % 50, ["a:1", "b"][i // 50 % 2]) for i in range(200)]
    df = spark.createDataFrame(rows, "`dur:ms` int, `sr:hz` string")
    baseline = D.baseline_from(
        df, numeric_cols={"dur:ms": (0.0, 50.0, 10)}, categorical_cols=["sr:hz"]
    )
    rep = D.drift_report(
        df.filter(F.col("dur:ms") < 25),
        baseline,
        numeric={"dur:ms": dict(lo=0.0, hi=50.0, nbins=10)},
        categorical={"sr:hz": dict(metrics=("psi", "chi2"))},
    )
    got = {(r.column, r.metric): r for r in rep}
    assert set(got) == {("dur:ms", "ks"), ("sr:hz", "psi"), ("sr:hz", "chi2")}
    # the lower half of the value range: cumulative shares differ by 0.5
    assert abs(got[("dur:ms", "ks")].value - 0.5) < 1e-12
    assert got[("sr:hz", "psi")].value < 1e-9


def test_drift_report_stream_matches_batch(spark, tmp_path):
    """drift_report_stream: the full KS+PSI+chi2 one-scan report per micro
    -batch equals the batch drift_report on the same rows."""
    from valor_spark.streaming.validate_stream import drift_report_stream

    src = spark.createDataFrame(
        [(i, float(i % 7) * 100.0, ["a", "b", "c"][i % 3]) for i in range(300)],
        "id bigint, v double, k string",
    )
    base = spark.createDataFrame(
        [(i, float(i % 5) * 100.0, ["a", "b"][i % 2]) for i in range(200)],
        "id bigint, v double, k string",
    )
    baseline = D.baseline_from(
        base, numeric_cols={"v": (0.0, 700.0, 7)}, categorical_cols=["k"]
    ).cache()
    numeric = {"v": dict(lo=0.0, hi=700.0, nbins=7, threshold=0.05)}
    categorical = {"k": dict(metrics=("psi", "chi2"))}
    want = {
        (r.column, r.metric): round(r.value, 9)
        for r in D.drift_report(src, baseline, numeric=numeric,
                                categorical=categorical)
    }
    src_dir = str(tmp_path / "src")
    src.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema("id bigint, v double, k string").parquet(src_dir)
    got: dict = {}

    def on_batch(results, batch_df, batch_id):
        for r in results:
            got[(r.column, r.metric)] = round(r.value, 9)

    q = drift_report_stream(
        stream, baseline, on_batch, str(tmp_path / "ckpt"),
        numeric=numeric, categorical=categorical, trigger_once=True,
    )
    assert q.awaitTermination(120)
    assert got == want and ("k", "chi2") in want


def test_psi_string_categorical_baseline(spark):
    """A genuinely string-typed category (e.g. codec) in the baseline: the
    baseline carries it in the `category` column (the legacy numeric bin_lo
    encoding remains a fallback) — previously str(int(bin_lo)) raised."""
    rows = [(i, ["wav", "pcm_s16le", "flac"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "id int, codec string")
    baseline = D.baseline_from(df, numeric_cols={}, categorical_cols=["codec"])
    codec = {"codec": dict(threshold=0.01)}
    (same,) = D.drift_report(df, baseline, categorical=codec)
    assert same.value < 1e-9 and same.passed
    skewed = df.filter(F.col("codec") != "flac")
    (drifted,) = D.drift_report(skewed, baseline, categorical=codec)
    # observed 1/2, 1/2, 0 (clamped to EPS) against 1/3 each
    p = np.array([0.5, 0.5, D.EPS])
    q = np.full(3, 1 / 3)
    want = float(np.sum((p - q) * np.log(p / q)))
    assert drifted.metric == "psi" and abs(drifted.value - want) < 1e-9
    assert drifted.value > 0.1 and not drifted.passed


def test_chi2_hand_computed(spark):
    obs = spark.createDataFrame([("a",)] * 30 + [("b",)] * 10, "k string")
    base = spark.createDataFrame([("a",)] * 20 + [("b",)] * 20, "k string")
    chi2 = {"k": dict(metrics=("chi2",))}

    def score(o, b):
        baseline = D.baseline_from(b, numeric_cols={}, categorical_cols=["k"])
        (r,) = D.drift_report(o, baseline, categorical=chi2)
        return r

    r = score(obs, base)
    # expected counts: a 20, b 20; chi2 = (30-20)^2/20 + (10-20)^2/20 = 10.0
    assert r.value == 10.0 and r.dof == 1

    # identical distributions -> 0; category missing from base -> finite
    assert score(obs, obs).value == 0.0
    novel = spark.createDataFrame([("zzz",)] * 5, "k string")
    assert score(novel, base).value > 1e6  # epsilon-share expected count


def test_null_is_neither_category_nor_bin(spark, tmp_path):
    """A NULL value enters no histogram: a frame with NULL categories and
    NULL numeric values, scored against itself, reads psi 0, chi2 0 with
    dof = distinct non-NULL categories - 1, and KS 0 — through
    drift_report and through drift_report_stream alike.  Dropping the
    NULL rows moves no share either."""
    from valor_spark.streaming.validate_stream import drift_report_stream

    ddl = "id int, k string, v double"
    rows = [(1, "a", 1.0), (2, "b", None), (3, None, 7.0),
            (4, "a", 12.0), (5, "c", None), (6, None, 19.0)]
    df = spark.createDataFrame(rows, ddl)
    numeric = {"v": dict(lo=0.0, hi=20.0, nbins=4)}
    categorical = {"k": dict(metrics=("psi", "chi2"))}
    baseline = D.baseline_from(
        df, numeric_cols={"v": (0.0, 20.0, 4)}, categorical_cols=["k"]
    )
    assert baseline.filter(F.col("category").isNull()
                           & (F.col("column_name") == "k")).count() == 0

    def readings(results):
        return {(r.metric, r.value, r.dof) for r in results}

    want = {("ks", 0.0, None), ("psi", 0.0, None), ("chi2", 0.0, 2)}
    assert readings(D.drift_report(df, baseline, numeric=numeric,
                                   categorical=categorical)) == want
    no_null_k = df.filter(F.col("k").isNotNull())
    no_null_v = df.filter(F.col("v").isNotNull())
    assert readings(D.drift_report(no_null_k, baseline, categorical=categorical)) \
        == {("psi", 0.0, None), ("chi2", 0.0, 2)}
    assert readings(D.drift_report(no_null_v, baseline, numeric=numeric)) \
        == {("ks", 0.0, None)}

    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    got: list = []
    q = drift_report_stream(
        spark.readStream.schema(ddl).parquet(src), baseline,
        lambda results, _batch, _id: got.append(readings(results)),
        str(tmp_path / "ckpt"), numeric=numeric, categorical=categorical,
        trigger_once=True,
    )
    assert q.awaitTermination(120)
    assert got == [want]


def test_corr_stats_matches_numpy_and_is_partition_stable(spark):
    import numpy as np

    from valor_spark.operators.constraints import corr_stats

    rng = np.random.default_rng(7)
    xs = rng.integers(1, 50, 400).astype(float)
    ys = 3.0 * xs + rng.normal(0, 10, 400).round(3)
    rows = [("g1", float(x), float(y)) for x, y in zip(xs, ys)]
    rows += [("flat", 5.0, float(i)) for i in range(10)]   # zero x-variance
    rows += [("tiny", 1.0, 2.0)]                           # n < 2
    df = spark.createDataFrame(rows, "grp string, x double, y double")

    want = round(float(np.corrcoef(xs, ys)[0, 1]), 6)
    for parts in (2, 16):
        got = {
            r["grp"]: (r["n"], r["corr"])
            for r in corr_stats(
                df.repartition(parts), "x", "y", "grp"
            ).collect()
        }
        assert abs(got["g1"][1] - want) <= 1e-6, got["g1"]
        assert got["flat"][1] is None
        assert got["tiny"] == (1, None)
