"""Whole-table constraints: schema gate, column stats, uniqueness, referential.

These are the engine-level checks mandated by the north_rule (BASELINE.json)
— the reference library validates one value at a time and has no table-level
constructs; its "effectful" checks (membership against a State,
/root/reference/lib/Data/Valor.hs:543-558) are the semantic ancestor: a
constraint here is a staged aggregation/join whose outcome feeds verdicts.

Every constraint returns *violation rows* shaped like the row-rule
violations ``(clip_id, shard?, rule, path, error)`` so the verdict assembly
is uniform.

Scale notes:

* uniqueness uses a two-phase SALTED aggregation — a 10^12-row table with a
  hot duplicate key (planted ``clip_hotkey``) would otherwise funnel one
  reducer; phase 1 groups on (key, salt) with map-side partial aggregation,
  phase 2 groups the (at most ``n_salts`` per key) partials;
* referential integrity is two left-anti joins; at production scale both
  sides shuffle on clip_id — bucketing both tables by clip_id removes it;
* column stats are ONE full-scan ``agg`` computing every statistic for every
  column simultaneously (count/nulls/min/max/avg/stddev/approx_distinct);
  never one job per column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from valor_spark.utils import sql_ident, sql_str

VIOLATION_SCHEMA = "clip_id string, shard int, rule string, path string, error string"


def global_violations(spark, rows: Sequence[tuple[str, str, str]]) -> DataFrame:
    """Table-level violation rows from driver-side ``(rule, path, error)``
    triples, with NULL ``clip_id`` and ``shard``.  Built in the JVM as one
    ``inline`` over literals: ``createDataFrame`` would plan a Python-RDD
    scan, whose collect costs a Python worker."""
    structs = ", ".join(
        "named_struct('clip_id', CAST(NULL AS STRING), 'shard', CAST(NULL AS INT), "
        f"'rule', {sql_str(rule)}, 'path', {sql_str(path)}, 'error', {sql_str(error)})"
        for rule, path, error in rows
    )
    return spark.range(1).selectExpr(f"inline(array({structs}))")


# ---------------------------------------------------------------------------
# schema gate
# ---------------------------------------------------------------------------

def schema_violations(df: DataFrame, expected: T.StructType) -> list[str]:
    """Driver-side comparison of df.schema against the declared contract.

    Returns a list of human-readable violations (missing/extra/mistyped
    columns).  Nullability is advisory (parquet round-trips relax it), so
    only names and types are enforced."""
    got = {f.name: f.dataType for f in df.schema.fields}
    want = {f.name: f.dataType for f in expected.fields}
    out = []
    for name, dt in want.items():
        if name not in got:
            out.append(f"missing_column:{name}")
        elif got[name].simpleString() != dt.simpleString():
            out.append(
                f"type_mismatch:{name}:{got[name].simpleString()}!={dt.simpleString()}"
            )
    for name in got:
        if name not in want:
            out.append(f"unexpected_column:{name}")
    return out


# ---------------------------------------------------------------------------
# column stats (one pass)
# ---------------------------------------------------------------------------

def column_stats(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """One full-scan aggregation producing a tall stats table:
    (column, count, nulls, approx_distinct, min, max, mean, stddev,
    min_str, max_str).

    min/max/mean/stddev are populated for numeric columns; string columns
    get their LEXICOGRAPHIC range in min_str/max_str (a separate pair —
    they cannot share the double min/max slots).

    Built as SQL text: one ``selectExpr`` of aggregates (aliased by
    position, ``a<k>``) and one ``selectExpr`` inlining a struct per
    column — two driver calls whatever the column count, and lazy (no
    Spark job until the result is used)."""
    cols = list(columns) if columns else df.columns
    types = {f.name: f.dataType for f in df.schema.fields}
    aggs = ["count(1)"]

    def agg(expr: str) -> str:
        """Add an aggregate; return its positional alias."""
        aggs.append(expr)
        return f"a{len(aggs) - 1}"

    null_d, null_s = "CAST(NULL AS DOUBLE)", "CAST(NULL AS STRING)"
    entries = []
    for c in cols:
        q = sql_ident(c)
        num = isinstance(types.get(c), T.NumericType)
        txt = isinstance(types.get(c), T.StringType)
        stats = {
            "count": "a0",
            "nulls": agg(f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END)"),
            "approx_distinct": agg(f"approx_count_distinct({q})"),
            "min": agg(f"CAST(min({q}) AS DOUBLE)") if num else null_d,
            "max": agg(f"CAST(max({q}) AS DOUBLE)") if num else null_d,
            "mean": agg(f"avg({q})") if num else null_d,
            "stddev": agg(f"stddev({q})") if num else null_d,
            "min_str": agg(f"min({q})") if txt else null_s,
            "max_str": agg(f"max({q})") if txt else null_s,
        }
        entries.append(
            f"named_struct('column', {sql_str(c)}"
            + "".join(f", '{k}', {v}" for k, v in stats.items())
            + ")"
        )
    wide = df.selectExpr(*[f"{a} AS a{k}" for k, a in enumerate(aggs)])
    return wide.selectExpr(f"inline(array({', '.join(entries)}))")


# ---------------------------------------------------------------------------
# uniqueness (salted two-phase)
# ---------------------------------------------------------------------------

def duplicate_keys(df: DataFrame, key: str, salted: bool = False, n_salts: int = 16) -> DataFrame:
    """Keys appearing more than once: ``(key, n)`` with n > 1.

    Skew note: for COUNT (an algebraic aggregate) Spark's hash aggregation
    performs map-side partial aggregation, so even the planted hot key
    (``clip_hotkey``, ~1% of all rows) contributes at most one partial row
    per map partition to the shuffle — a plain ``groupBy(key)`` does NOT
    bottleneck and is one shuffle cheaper than salting.  The explicit
    two-phase salted path (``salted=True``) exists for the general pattern —
    required when the per-key state doesn't collapse map-side (collect_list
    of duplicate examples, exact count_distinct of a second column, ...) —
    and is exercised by tests/bench to evidence the north_rule skew story."""
    if not salted:
        return (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1)
        )
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    phase1 = (
        df.select(F.col(key), salt.alias("__salt"))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return (
        phase1.groupBy(key)
        .agg(F.sum("__c").alias("n"))
        .filter(F.col("n") > 1)
    )


def uniqueness_violations(
    df: DataFrame,
    key: str = "clip_id",
    salted: bool = False,
    n_salts: int = 16,
    join_hint: str = "broadcast",
) -> DataFrame:
    """Violation rows for every row whose key is duplicated.

    ``join_hint='broadcast'`` (default): the duplicate-key set is broadcast
    back and joined to tag offending rows — the big table never shuffles.
    Correct when duplicates are RARE.  At 10^12 rows even a 0.1% duplicate
    rate yields ~10^9 keys — far past broadcast limits — so pass
    ``join_hint='auto'`` to let AQE pick the strategy from the measured
    size (it still broadcasts small dup sets at runtime)."""
    dups = duplicate_keys(df, key, salted=salted, n_salts=n_salts)
    if join_hint == "broadcast":
        dups = F.broadcast(dups)
    shard = F.col("shard").cast("int") if "shard" in df.columns else F.lit(None).cast("int")
    return (
        df.join(dups, on=key, how="inner")
        .select(
            F.col(key).alias("clip_id"),
            shard.alias("shard"),
            F.lit("uniqueness").alias("rule"),
            F.lit(f".{key}").alias("path"),
            F.concat(F.lit("DuplicateKey:n="), F.col("n").cast("string")).alias("error"),
        )
    )


# ---------------------------------------------------------------------------
# referential integrity (both directions)
# ---------------------------------------------------------------------------

def referential_violations(
    clips: DataFrame, clips_ref: DataFrame, key: str = "clip_id"
) -> DataFrame:
    """Left-anti joins both ways: clips with no reference row (orphans) and
    reference rows with no clip (dangling)."""
    shard = F.col("shard").cast("int") if "shard" in clips.columns else F.lit(None).cast("int")
    orphans = (
        clips.join(clips_ref.select(key), on=key, how="left_anti")
        .select(
            F.col(key).alias("clip_id"),
            shard.alias("shard"),
            F.lit("referential").alias("rule"),
            F.lit(f".{key}").alias("path"),
            F.lit("OrphanClip:no_reference_row").alias("error"),
        )
    )
    dangling = (
        clips_ref.join(clips.select(key), on=key, how="left_anti")
        .select(
            F.col(key).alias("clip_id"),
            F.lit(None).cast("int").alias("shard"),
            F.lit("referential").alias("rule"),
            F.lit(f".{key}").alias("path"),
            F.lit("DanglingReference:no_clip_row").alias("error"),
        )
    )
    return orphans.unionByName(dangling)


def corr_stats(
    df: DataFrame, x_col: str, y_col: str, group_col: str, round_to: int = 6
) -> DataFrame:
    """Per-group Pearson correlation with REPRESENTATION-STABLE arithmetic
    (the column_stats discipline): the five moment sums accumulate as
    EXACT decimals (order-independent under any partitioning), then
    ``r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))`` is ONE
    double expression over those exact inputs — identical on every engine
    and at every parallelism.  Built-in ``F.corr`` accumulates floats in
    partition order and is NOT hash-stable; this is.  Returns
    ``(group, n, corr)`` with NULL corr for degenerate (zero-variance or
    n<2) groups.

    INPUT DOMAIN CONTRACT: values are cast to ``decimal(18,6)`` — inputs
    are rounded to 6 decimal places before the moments accumulate, and
    ``|x| >= 1e12`` overflows the cast (Spark 4 ANSI raises at runtime,
    loudly, never silently).  decimal(18,6) is the widest input type whose
    PRODUCT ``x*y`` (precision 37, scale 12) still fits Spark's 38-digit
    decimal exactly; widening the input (e.g. to 28,6) would silently
    round the products and break the order-independence this operator
    exists for.  For wider-domain data, pre-scale the columns (r is
    scale-invariant)."""
    x = F.col(x_col).cast("decimal(18,6)")
    y = F.col(y_col).cast("decimal(18,6)")
    g = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * y).alias("sxy"),
            F.sum(x * x).alias("sxx"),
            F.sum(y * y).alias("syy"),
        )
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return g.select(
        group_col,
        F.col("n").cast("bigint").alias("n"),
        F.when(
            (F.col("n") >= 2) & (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), round_to),
        ).alias("corr"),
    )
