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
  DataFrames into context columns **before** the vectorized row rules run.  Effects are hoisted to a pre-pass; observable
  behavior matches the reference because its monads are commutative readers.

Scale notes (100 TB design):

* Row rules are pure Column expressions evaluated in ONE ``select`` — a
  single narrow stage, no shuffle, whole-stage codegen, and each named
  rule's verdict is materialized once (avoids Catalyst re-deriving shared
  sub-rules for wrongness vs payload).
* Context stages prefer ``F.broadcast`` for small reference tables and
  left-semi/anti joins otherwise.
* The violations DataFrame is produced by ONE explode over a per-row
  violation array — not a union of per-rule scans.
"""

from __future__ import annotations

from dataclasses import dataclass
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
from valor_spark.utils import sql_ident, sql_str

VERDICT_PREFIX = "__valor_"


# ---------------------------------------------------------------------------
# violation flattening: verdict structs -> array<struct<rule, path, error>>,
# generated as ONE SQL expression (one py4j call, parsed in the JVM) instead
# of a Column tree whose every node and HOF lambda is a driver round trip
# ---------------------------------------------------------------------------

_EMPTY = "CAST(array() AS array<struct<rule:string,path:string,error:string>>)"


def _flatten_sql(
    etype: ErrType, err: str, path: list[str], rule: str, depth: int = 0
) -> str:
    """SQL flattening an error payload to ``array<struct<rule, path,
    error>>``.

    Mirrors the nested ``Maybe`` / record / per-element error shapes of the
    tutorial (Valor.hs:619-671): records contribute ``.field`` path segments,
    checkN elements contribute ``[i]`` segments, map entries ``[key]``
    segments, NULL (=Nothing) contributes no violations.  ``path`` holds SQL
    string expressions concatenated into the path; lambda variables carry
    ``depth`` so nested transforms never shadow each other."""

    def entry(error: str) -> str:
        p = f"concat({', '.join(path)})" if path else "''"
        return f"named_struct('rule', {rule}, 'path', {p}, 'error', CAST({error} AS STRING))"

    v, i = f"__v{depth}", f"__i{depth}"
    if isinstance(etype, EString):
        return f"array({entry(err)})"
    if isinstance(etype, EArray):
        return f"transform({err}, {v} -> {entry(v)})"
    if isinstance(etype, ENullable):
        inner = _flatten_sql(etype.inner, err, path, rule, depth)
        return f"CASE WHEN {err} IS NULL THEN {_EMPTY} ELSE {inner} END"
    if isinstance(etype, ERecord):
        parts = [
            _flatten_sql(ft, f"{err}.{sql_ident(f)}", path + [sql_str(f".{f}")], rule, depth)
            for f, ft in etype.fields.items()
        ]
        return f"concat({', '.join(parts)})"
    if isinstance(etype, EArrayOf):
        inner = _flatten_sql(
            etype.inner, v, path + ["'['", f"CAST({i} AS STRING)", "']'"], rule, depth + 1
        )
        return f"flatten(transform({err}, ({v}, {i}) -> {inner}))"
    if isinstance(etype, EMapOf):
        inner = _flatten_sql(
            etype.inner, f"{v}.value", path + ["'['", f"CAST({v}.key AS STRING)", "']'"],
            rule, depth + 1,
        )
        return f"flatten(transform(map_entries({err}), {v} -> {inner}))"
    raise TypeError(f"cannot flatten payload type {etype}")


def violations_sql(rules: Mapping[str, Rule]) -> str:
    """The per-row violation array over every named rule's verdict column:
    ``concat(CASE WHEN <verdict>.wrong THEN <flattened err> ELSE [] END,
    ...)``."""
    parts = []
    for n, rule in rules.items():
        verdict = sql_ident(VERDICT_PREFIX + n)
        flat = _flatten_sql(rule.etype, f"{verdict}.{ERR}", [], sql_str(n))
        parts.append(f"CASE WHEN {verdict}.{WRONG} THEN {flat} ELSE {_EMPTY} END")
    return f"concat({', '.join(parts)})"


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
        return F.expr(
            " OR ".join(f"{sql_ident(VERDICT_PREFIX + n)}.{WRONG}" for n in self.rule_names)
        )

    def valid(self) -> DataFrame:
        """Rows that passed every rule, original columns only (``Valid i`` /
        ``unValid``, Internal.hs:14-21)."""
        return self.annotated.filter(~self._wrong_any).select(*self.input_cols)

    def invalid(self) -> DataFrame:
        return self.annotated.filter(self._wrong_any).select(*self.input_cols)

    def violations(self, barrier: bool = True) -> DataFrame:
        """Exploded violation rows: ``keys... , shard?, rule, path, error``.
        One pass: per-row concat of per-rule violation arrays, then a single
        ``inline`` (explode into columns) — no per-rule unions/scans.

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
        slim = self.annotated.filter(self._wrong_any).select(
            *keep, F.expr("__violations AS __v_arr")
        )
        if barrier:
            slim = slim.localCheckpoint(eager=False)
        return slim.select(*keep, F.expr("inline(__v_arr)"))


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
    row = F.expr(f"struct({', '.join(sql_ident(c) for c in ctx.columns)})")
    verdicts = [rules[n](row).alias(VERDICT_PREFIX + n) for n in rules]
    annotated = ctx.select(*input_cols, *verdicts)

    # second select: assemble the per-row violation array from the verdicts
    annotated = annotated.withColumn("__violations", F.expr(violations_sql(rules)))

    return ValidationResult(
        annotated=annotated,
        input_cols=input_cols,
        rule_names=list(rules),
        key_cols=keys,
        shard_col=shard_col,
    )
