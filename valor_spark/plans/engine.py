"""The validation engine: ``validateP``/``validateM`` over DataFrames.

Reference semantics: ``validateP`` (/root/reference/lib/Data/Valor.hs:403-404)
runs a validator purely and folds the result to ``Either (Valid i) e``;
``validateM`` (Valor.hs:422-423) runs it inside a user monad whose only use in
the reference is reader-style lookups against a "database"
(Valor.hs:543-558, 589-599).  Our engine:

* the ``Either`` split  -> two DataFrames (``valid`` rows / ``violations``);
* the error value ``e`` -> a verdict struct column per named rule, flattened
  to violation rows ``(keys..., rule, path, error)``;
* the effect monad      -> *context stages* that join/broadcast reference
  DataFrames (or whole-table aggregates) into context columns **before** the
  vectorized row rules run.  Effects are hoisted to a pre-pass; observable
  behavior matches the reference because its monads are commutative readers.

Scale notes (100 TB design):

* Row rules are pure Column expressions evaluated in ONE ``select`` — a
  single narrow stage, no shuffle, whole-stage codegen, and each named
  rule's verdict is materialized once (avoids Catalyst re-deriving shared
  sub-rules for wrongness vs payload).
* Context stages prefer ``F.broadcast`` for small reference tables and
  left-semi/anti joins otherwise; whole-table aggregates are computed once
  per run and broadcast back as one-row literals.
* The violations DataFrame is produced by ONE explode over a per-row
  violation array — not a union of per-rule scans.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from valor_spark.functions.errtypes import (
    ERR,
    WRONG,
    EArray,
    EArrayOf,
    EMapOf,
    ENullable,
    ERecord,
    EString,
    ErrType,
)
from valor_spark.functions.rules import Rule

VERDICT_PREFIX = "__valor_"


# ---------------------------------------------------------------------------
# violation flattening: verdict struct -> array<struct<path:string, error:string>>
# ---------------------------------------------------------------------------

def _flatten_err(etype: ErrType, err: Column, path: Column) -> Column:
    """Recursively flatten an error payload to ``array<struct<path, error>>``.

    Mirrors the nested ``Maybe`` / record / per-element error shapes of the
    tutorial (Valor.hs:619-671): records contribute ``.field`` path segments,
    checkN elements contribute ``[i]`` segments, NULL (=Nothing) contributes
    no violations.
    """
    entry_t = "array<struct<path:string,error:string>>"
    if isinstance(etype, EString):
        return F.array(
            F.struct(path.alias("path"), err.cast("string").alias("error"))
        ).cast(entry_t)
    if isinstance(etype, EArray):
        return F.transform(
            err,
            lambda e: F.struct(path.alias("path"), e.cast("string").alias("error")),
        ).cast(entry_t)
    if isinstance(etype, ENullable):
        return F.when(err.isNull(), F.array().cast(entry_t)).otherwise(
            _flatten_err(etype.inner, err, path)
        )
    if isinstance(etype, ERecord):
        parts = [
            _flatten_err(
                ft,
                err.getField(fname),
                F.concat(path, F.lit(f".{fname}")),
            )
            for fname, ft in etype.fields.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = F.concat(out, p)
        return out
    if isinstance(etype, EArrayOf):
        nested = F.transform(
            err,
            lambda e, i: _flatten_err(
                etype.inner, e, F.concat(path, F.lit("["), i.cast("string"), F.lit("]"))
            ),
        )
        return F.flatten(nested).cast(entry_t)
    if isinstance(etype, EMapOf):
        # per-entry map payloads (checkN_map): keys become [key] path segments
        nested = F.transform(
            F.map_entries(err),
            lambda kv: _flatten_err(
                etype.inner,
                kv.getField("value"),
                F.concat(path, F.lit("["), kv.getField("key").cast("string"), F.lit("]")),
            ),
        )
        return F.flatten(nested).cast(entry_t)
    raise TypeError(f"cannot flatten payload type {etype}")


def violations_array(rule_name: str, etype: ErrType, verdict: Column) -> Column:
    """``array<struct<rule,path,error>>`` for one named rule's verdict."""
    flat = _flatten_err(etype, verdict.getField(ERR), F.lit(""))
    entries = F.transform(
        flat,
        lambda e: F.struct(
            F.lit(rule_name).alias("rule"),
            e.getField("path").alias("path"),
            e.getField("error").alias("error"),
        ),
    )
    empty = F.array().cast("array<struct<rule:string,path:string,error:string>>")
    return F.when(verdict.getField(WRONG), entries).otherwise(empty)


# ---------------------------------------------------------------------------
# context stages (the hoisted effect monad)
# ---------------------------------------------------------------------------

class ContextStage:
    """Adds context columns to the input before row rules run (§1.4 of
    SURVEY.md).  Subclasses must not drop or rename existing columns."""

    #: names of columns this stage adds (dropped from all outputs)
    adds: Sequence[str] = ()

    def apply(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError


@dataclass
class Membership(ContextStage):
    """Broadcast-join membership flag: ``col`` value present in ``ref``.

    The tutorial's reader-monad checks ("team taken" Valor.hs:548-553,
    "country allowed" Valor.hs:593-598) are exactly this: a lookup against a
    reference set.  Small side is broadcast — no shuffle of the fact table.
    """

    context_col: str
    key: str  # column in the input DataFrame
    ref: DataFrame  # reference table
    ref_key: str  # column in the reference table
    broadcast: bool = True

    def __post_init__(self) -> None:
        self.adds = (self.context_col,)

    def apply(self, df: DataFrame) -> DataFrame:
        lookup = self.ref.select(
            F.col(self.ref_key).alias(self.key)
        ).distinct().withColumn(self.context_col, F.lit(True))
        if self.broadcast:
            lookup = F.broadcast(lookup)
        joined = df.join(lookup, on=self.key, how="left")
        return joined.withColumn(
            self.context_col, F.coalesce(F.col(self.context_col), F.lit(False))
        )


@dataclass
class LiteralContext(ContextStage):
    """Attach driver-computed scalars (e.g. whole-table stats thresholds) as
    literal columns — one-row context broadcast for free via constant folding."""

    values: Mapping[str, object] = dc_field(default_factory=dict)

    def __post_init__(self) -> None:
        self.adds = tuple(self.values)

    def apply(self, df: DataFrame) -> DataFrame:
        for name, v in self.values.items():
            df = df.withColumn(name, F.lit(v))
        return df


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------

@dataclass
class ValidationResult:
    """The DataFrame-shaped ``Either (Valid i) e``."""

    annotated: DataFrame  # input + one verdict struct column per rule
    input_cols: list[str]
    rule_names: list[str]
    key_cols: list[str]
    shard_col: str | None

    @property
    def _wrong_any(self) -> Column:
        out = F.lit(False)
        for n in self.rule_names:
            out = out | F.col(VERDICT_PREFIX + n).getField(WRONG)
        return out

    def valid(self) -> DataFrame:
        """Rows that passed every rule, original columns only (``Valid i`` /
        ``unValid``, Internal.hs:14-21)."""
        return self.annotated.filter(~self._wrong_any).select(*self.input_cols)

    def invalid(self) -> DataFrame:
        return self.annotated.filter(self._wrong_any).select(*self.input_cols)

    def violations(self, barrier: bool = True) -> DataFrame:
        """Exploded violation rows: ``keys... , shard?, rule, path, error``.
        One pass: per-row concat of per-rule violation arrays, then a single
        explode — no per-rule unions/scans.

        ``barrier`` (default on): materialize the slim
        ``(keys, violation-array)`` frame — VIOLATING rows only — through a
        lazy ``localCheckpoint`` before the explode.  Without it the
        optimizer inlines the whole verdict/feature expression chain into
        the Generate's generator, which evaluates interpreted per row
        (measured 4.7s -> 0.7s on the 50k-doc quality gate at sf1.0).  The
        materialized frame is proportional to the violation count, the same
        order as any violations sink; pass ``barrier=False`` to keep the
        plan fully lazy (cluster caveat: localCheckpoint data does not
        survive executor loss — same trade the CC operators document)."""
        keep = list(self.key_cols)
        if self.shard_col and self.shard_col not in keep:
            keep.append(self.shard_col)
        arr = F.col("__violations")
        slim = self.annotated.filter(self._wrong_any).select(
            *keep, arr.alias("__v_arr")
        )
        if barrier:
            slim = slim.localCheckpoint(eager=False)
        return (
            slim.select(*keep, F.explode(F.col("__v_arr")).alias("v"))
            .select(
                *keep,
                F.col("v.rule").alias("rule"),
                F.col("v.path").alias("path"),
                F.col("v.error").alias("error"),
            )
        )


def sample_violations(violations: DataFrame, per_rule: int = 10) -> DataFrame:
    """Deterministic top-K violation examples per rule — the triage view for
    a run with millions of violations.

    Two-phase top-K: phase 1 keeps K rows per (rule, input partition), so a
    hot rule with millions of violations never funnels them all through ONE
    reducer; phase 2 ranks the <= K * n_partitions survivors per rule.  The
    final result is the global top-K by the ordering columns — invariant to
    the physical partitioning, so the output stays deterministic."""
    from pyspark.sql.window import Window

    order_cols = [c for c in violations.columns if c != "rule"]
    w1 = Window.partitionBy("rule", F.spark_partition_id()).orderBy(*order_cols)
    local_top = (
        violations.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= per_rule)
        .drop("__r")
    )
    w2 = Window.partitionBy("rule").orderBy(*order_cols)
    return (
        local_top.withColumn("example_rank", F.row_number().over(w2))
        .filter(F.col("example_rank") <= per_rule)
    )


def validate(
    df: DataFrame,
    rules: Mapping[str, Rule],
    key_cols: Sequence[str] | None = None,
    shard_col: str | None = None,
    contexts: Sequence[ContextStage] = (),
) -> ValidationResult:
    """Run named row rules over ``df`` (each rule sees the full row struct).

    ``validateP`` when ``contexts`` is empty; ``validateM`` otherwise — the
    context stages are the hoisted effect monad (joins / aggregates that
    materialize lookup columns the rules then read).
    """
    if not rules:
        raise ValueError("validate() needs at least one rule")
    input_cols = list(df.columns)
    keys = list(key_cols) if key_cols else input_cols[:1]

    ctx = df
    for stage in contexts:
        ctx = stage.apply(ctx)

    # one select: every named rule's verdict materialized exactly once
    row = F.struct(*[F.col(c) for c in ctx.columns])
    verdicts = [rules[n](row).alias(VERDICT_PREFIX + n) for n in rules]
    annotated = ctx.select(*input_cols, *verdicts)

    # second select: assemble the per-row violation array from the verdicts
    vio_arrays = [
        violations_array(n, rules[n].etype, F.col(VERDICT_PREFIX + n)) for n in rules
    ]
    vio = vio_arrays[0]
    for a in vio_arrays[1:]:
        vio = F.concat(vio, a)
    annotated = annotated.withColumn("__violations", vio)

    return ValidationResult(
        annotated=annotated,
        input_cols=input_cols,
        rule_names=list(rules),
        key_cols=keys,
        shard_col=shard_col,
    )
