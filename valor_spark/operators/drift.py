"""Distribution-drift checks: binned KS, PSI and chi-square (north_rule).

No scipy in the environment — the statistics are hand-rolled: the heavy part
(histogramming 10^12 rows) is ONE DataFrame aggregation, :func:`histograms`,
that serves every column's histogram from a single scan; the finish
(cumulative sums over a few dozen bins) is driver-side numpy, one function
per statistic (:func:`ks_statistic`, :func:`psi_statistic`,
:func:`chi2_statistic`), which is O(bins) and scale-free.

* KS (used on ``dur_ms``): sup |ECDF_obs - ECDF_baseline| over shared bins.
* PSI (used on ``sr_hz``): sum((p-q) * ln(p/q)) with epsilon clamping.
* chi-square: observed counts against baseline shares, epsilon clamping.

The baseline is a tiny histogram table ``(column_name, bin_lo, bin_hi,
expected_share[, category])`` (FIXTURES.md §3) — yesterday's distribution;
:func:`baseline_from` builds it from a reference frame through the same
:func:`histograms` scan, and :func:`drift_report` scores a frame against it.
Comparing two frames is those two calls composed.

NULL semantics: a NULL value is neither a category nor a bin.  It enters no
histogram, on either side, so it neither adds a category (or a degree of
freedom) nor moves any share.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

EPS = 1e-9


def _bin_expr(col: str, lo: float, hi: float, nbins: int):
    """Uniform-bin index Column: floor((x - lo)/width) clamped to
    [0, nbins-1] — the ONE definition of a numeric bin."""
    width = (hi - lo) / nbins
    b = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width))
    return F.greatest(F.lit(0), F.least(F.lit(nbins - 1), b)).cast("int")


def _cat_key(r) -> str:
    """Categorical-baseline key for a row: a string ``category`` column when
    the baseline carries one (genuinely string-typed categories like codec),
    else the legacy numeric encoding where ``bin_lo`` holds the category
    value (sr_hz-style integer categories)."""
    try:
        c = r["category"]
    except (KeyError, ValueError):
        c = None
    if c is not None:
        return str(c)
    return str(int(r["bin_lo"]))


def _baseline_bins(base_rows, col: str, lo: float, hi: float, nbins: int) -> dict:
    """Map a baseline table's (bin_lo, expected_share) rows for ``col`` to
    {bin_index: share}.  round, not floor: bin_lo = lo + k*width accumulates
    fp error and floor would misassign a bin edge to k-1."""
    width = (hi - lo) / nbins
    base: dict = {}
    for r in base_rows:
        if r["column_name"] != col:
            continue
        b = int(min(nbins - 1, max(0, round((r["bin_lo"] - lo) / width))))
        base[b] = base.get(b, 0.0) + r["expected_share"]
    return base


def histograms(df: DataFrame, numeric: dict, categorical: dict) -> DataFrame:
    """Every requested histogram from ONE scan of ``df``: ``(kind, col, key,
    cnt)`` rows, kind ``"n"`` (key = uniform-bin index) or ``"c"`` (key =
    the category value), both keys as strings.

    ``numeric``: {col: {lo, hi, nbins, pred?}}; ``categorical``: {col:
    {pred?}}.  Values outside [lo, hi) clamp to the edge bins.  Each row
    projects one struct key per column (NULL when the value is NULL or
    ``pred`` fails), explodes, and a single count aggregate with map-side
    combine feeds all parts — at 100 TB the scan IS the cost, so one pass
    replaces one scan per histogram.  Struct keys, not delimited strings:
    column names and category values may contain any character."""

    def key(kind: str, col: str, spec: dict, value):
        cond = F.col(col).isNotNull()
        if spec.get("pred") is not None:
            cond = cond & spec["pred"]
        return F.when(
            cond,
            F.struct(
                F.lit(kind).alias("kind"),
                F.lit(col).alias("col"),
                value.cast("string").alias("key"),
            ),
        )

    keys = [
        key("n", col, spec, _bin_expr(col, spec["lo"], spec["hi"], spec["nbins"]))
        for col, spec in numeric.items()
    ] + [key("c", col, spec, F.col(col)) for col, spec in categorical.items()]
    return (
        df.select(F.explode(F.array(*keys)).alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(*(F.col(f"k.{f}").alias(f) for f in ("kind", "col", "key")))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _shares(counts: dict, keys: list) -> np.ndarray:
    total = float(sum(counts.values())) or 1.0
    return np.array([counts.get(k, 0) / total for k in keys])


def ks_statistic(obs: dict, base: dict) -> float:
    """sup-difference of cumulative shares over the union of (ordered) bins."""
    keys = sorted(set(obs) | set(base))
    p = _shares(obs, keys)
    q = _shares(base, keys)
    return float(np.max(np.abs(np.cumsum(p) - np.cumsum(q)))) if keys else 0.0


def psi_statistic(obs: dict, base: dict) -> float:
    """Population Stability Index with epsilon-clamped shares."""
    keys = sorted(set(obs) | set(base))
    p = np.clip(_shares(obs, keys), EPS, None)
    q = np.clip(_shares(base, keys), EPS, None)
    return float(np.sum((p - q) * np.log(p / q)))


def chi2_statistic(obs: dict, base_shares: dict) -> tuple[float, int]:
    """Pearson chi-square of observed COUNTS against baseline SHARES ->
    ``(chi2, dof)``.  Expected counts = clamped baseline share x observed
    total (same epsilon policy as :func:`psi_statistic`, so categories
    absent from the baseline draw a finite-but-huge penalty);
    dof = union categories - 1."""
    keys = sorted(set(obs) | set(base_shares))
    n_o = np.array([obs.get(k, 0) for k in keys], dtype=np.float64)
    tot = float(n_o.sum()) or 1.0
    q = np.clip(np.array([base_shares.get(k, 0.0) for k in keys]), EPS, None)
    exp = q * tot
    return float(np.sum((n_o - exp) ** 2 / exp)), max(0, len(keys) - 1)


def chi2_critical(dof: int, z: float = 1.6448536269514722) -> float:
    """Wilson-Hilferty approximation of the chi-square quantile at the
    normal deviate ``z`` (default: 95th percentile).  Gives drift checks a
    SCALE-FREE default pass bar: unlike PSI, the chi2 statistic grows with
    row count under fixed drift, so a fixed threshold that passes at 1M
    rows fails at 100 TB — the critical value depends only on dof."""
    if dof <= 0:
        return 0.0
    h = 2.0 / (9.0 * dof)
    return dof * (1.0 - h + z * np.sqrt(h)) ** 3


@dataclass
class DriftResult:
    column: str
    metric: str  # 'ks' | 'psi' | 'chi2'
    value: float
    threshold: float
    dof: int | None = None  # chi2 only

    @property
    def passed(self) -> bool:
        return self.value <= self.threshold


def drift_report(
    df: DataFrame,
    baseline: DataFrame,
    numeric: dict | None = None,
    categorical: dict | None = None,
) -> list[DriftResult]:
    """ALL drift metrics from ONE scan of ``df``.

    ``numeric``: {col: {lo, hi, nbins, threshold, pred?}} -> KS;
    ``categorical``: {col: {threshold, pred?, metrics?, chi2_threshold?}} —
    ``metrics`` (default ``("psi",)``, may include ``"chi2"``) selects which
    statistics to derive from that column's ONE histogram; chi-square's
    threshold defaults to the Wilson-Hilferty 95% critical value for the
    realized dof (scale-free — see :func:`chi2_critical`), overridable via
    ``chi2_threshold``.  Every histogram comes from the one scan of
    :func:`histograms`; ``pred`` optionally restricts which rows enter
    that column's histogram (e.g. only positive durations)."""
    numeric = numeric or {}
    categorical = categorical or {}
    obs: dict[tuple, dict] = {}
    for r in histograms(df, numeric, categorical).collect():
        obs.setdefault((r["kind"], r["col"]), {})[r["key"]] = r["cnt"]

    base_rows = baseline.collect()
    results = []
    for col, spec in numeric.items():
        base = _baseline_bins(base_rows, col, spec["lo"], spec["hi"], spec["nbins"])
        # string keys sort lexicographically; KS needs NUMERIC bin order
        o = {int(k): v for k, v in obs.get(("n", col), {}).items()}
        results.append(
            DriftResult(col, "ks", ks_statistic(o, base), spec.get("threshold", 0.1))
        )
    for col, spec in categorical.items():
        base = {
            _cat_key(r): r["expected_share"]
            for r in base_rows
            if r["column_name"] == col
        }
        o = obs.get(("c", col), {})
        metrics = spec.get("metrics", ("psi",))
        if "psi" in metrics:
            results.append(
                DriftResult(
                    col, "psi", psi_statistic(o, base), spec.get("threshold", 0.2)
                )
            )
        if "chi2" in metrics:
            chi2, dof = chi2_statistic(o, base)
            thr = spec.get("chi2_threshold")
            results.append(
                DriftResult(
                    col, "chi2", chi2,
                    chi2_critical(dof) if thr is None else thr, dof=dof,
                )
            )
    return results


def baseline_from(
    df: DataFrame,
    numeric_cols: dict,
    categorical_cols: list[str],
) -> DataFrame:
    """Build a baseline_dist table from a (clean/previous) DataFrame.

    ``numeric_cols``: {col: (lo, hi, nbins)}.  Output schema extends
    FIXTURES.md §3 with a ``category`` string column: (column_name, bin_lo,
    bin_hi, expected_share, category) — categorical rows carry the category
    VALUE as a string there (so string-typed categories like codec work;
    the legacy numeric bin_lo encoding remains a read fallback), numeric
    rows carry NULL."""
    # ONE scan for every histogram (row order is arbitrary; every consumer
    # builds dicts or joins)
    hist = histograms(
        df,
        {c: dict(lo=lo, hi=hi, nbins=nb) for c, (lo, hi, nb) in numeric_cols.items()},
        {c: {} for c in categorical_cols},
    )
    total = F.sum("cnt").over(Window.partitionBy("kind", "col"))

    def per_col(expr_for):
        out = F.lit(None).cast("double")
        for col, (lo, hi, nbins) in numeric_cols.items():
            out = F.when(F.col("col") == col, expr_for(lo, hi, nbins)).otherwise(out)
        return out

    b = F.col("key").cast("int")
    bin_lo_n = per_col(lambda lo, hi, nb: F.lit(lo) + b * F.lit((hi - lo) / nb))
    bin_hi_n = per_col(
        lambda lo, hi, nb: F.lit(lo) + (b + 1) * F.lit((hi - lo) / nb)
    )
    is_num = F.col("kind") == "n"
    return hist.select(
        F.col("col").alias("column_name"),
        # try_cast: ANSI mode throws on non-numeric categories; the legacy
        # numeric bin_lo slot is NULL for those (readers use `category`)
        F.when(is_num, bin_lo_n).otherwise(F.col("key").try_cast("double")).alias("bin_lo"),
        F.when(is_num, bin_hi_n).otherwise(F.col("key").try_cast("double")).alias("bin_hi"),
        (F.col("cnt") / total).alias("expected_share"),
        F.when(is_num, F.lit(None).cast("string")).otherwise(F.col("key")).alias("category"),
    )
