"""The rule algebra: Valor's 22-combinator surface as Column-expression builders.

Every combinator here re-expresses the semantics of the reference
(``/root/reference/lib/Data/Valor.hs`` exports, lines 13-63; internal algebra
``/root/reference/int/Data/Valor/Internal.hs:103-208``) as a *vectorized*
Spark ``Column`` transformation.  A :class:`Rule` is the engine's ``Valor i m
e``: a function from an input Column to a ``struct<wrong:boolean, err:E>``
Column.  No per-row Python anywhere — rules compile to Catalyst expression
trees and run inside whole-stage codegen.

The ``Wrong e`` truth tables (Internal.hs:36-46) this module reproduces:

====================  =================  ================  =========  =============
a x b                 con / <>           app / <*>         alt        acc
====================  =================  ================  =========  =============
Inert a x Inert b     Inert (a <> b)     Inert (a b)       Inert a    Inert a
Inert a x Wrong b     Wrong (a <> b)     Wrong (a b)       Inert a    Inert a
Wrong a x Inert b     Wrong (a <> b)     Wrong (a b)       Inert b    Inert b
Wrong a x Wrong b     Wrong (a <> b)     Wrong (a b)       Wrong b    Wrong (a <> b)
====================  =================  ================  =========  =============

Product rule sets are data: :func:`gates` builds one from a table of
``(when_sql, error_sql)`` gates, each a :func:`make` over one SQL-text leaf
(one ``F.expr``, where a hand-built leaf is a tree of Column nodes, each a
py4j round trip on the driver), folded per rule by :func:`conN`.  The text
stays on the rule (``Rule.sql``) for resume keys to hash.

Monadic combinators (``failIfM``/``passIfM``/``make`` with effects): the
reference runs effects value-at-a-time inside ``m`` (Valor.hs:422-423); our
engine hoists effects to DataFrame pre-passes (joins / aggregations) that
materialize *context columns*, after which the same pure combinators apply.
See ``valor_spark.plans.engine``.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from .errtypes import (
    ERR,
    WRONG,
    EArray,
    EArrayOf,
    EMapOf,
    ENullable,
    ERecord,
    ErrType,
    strings,
)

Predicate = Callable[[Column], Column]
Selector = Callable[[Column], Column]


def mk(wrong_col: Column, err_col: Column, etype: ErrType) -> Column:
    """Assemble a verdict struct; casts align types across when/otherwise branches."""
    return F.struct(
        wrong_col.cast("boolean").alias(WRONG), etype.cast(err_col).alias(ERR)
    )


class Rule:
    """``Valor i m e``: input Column -> ``struct<wrong:boolean, err:E>`` Column.

    Operators: ``a & b`` = :func:`con`, ``a | b`` = :func:`alt`,
    ``a ^ b`` = :func:`acc` (cf. Valor.hs:75-97).
    """

    #: the ``(when_sql, error_sql)`` text of a rule built by :func:`gates`
    #: (what a resume key hashes); None for a rule built from Columns
    sql: tuple[tuple[str, str], ...] | None = None

    def __init__(self, fn: Callable[[Column], Column], etype: ErrType):
        self.fn = fn
        self.etype = etype

    def __call__(self, col: Column) -> Column:
        return self.fn(col)

    def __and__(self, other: "Rule") -> "Rule":
        return con(self, other)

    def __or__(self, other: "Rule") -> "Rule":
        return alt(self, other)

    def __xor__(self, other: "Rule") -> "Rule":
        return acc(self, other)


# ---------------------------------------------------------------------------
# primitive constructors
# ---------------------------------------------------------------------------

def pass_(etype: ErrType | None = None) -> Rule:
    """Always succeeds: ``Inert mempty`` (Valor.hs:113-114, Internal.hs:121-122)."""
    et = etype or strings()
    return Rule(lambda col: mk(F.lit(False), et.neutral(), et), et)


def fail_(err: Any, etype: ErrType | None = None) -> Rule:
    """Always fails with ``err`` (Valor.hs:145-146)."""
    et = etype or strings()
    return Rule(lambda col: mk(F.lit(True), et.lit(err), et), et)


def fail_col(err_col_fn: Callable[[Column], Column], etype: ErrType | None = None) -> Rule:
    """Always fails, with an error computed from the input (engine extension —
    lets violation messages carry the offending value)."""
    et = etype or strings()
    return Rule(lambda col: mk(F.lit(True), err_col_fn(col), et), et)


def inert(err: Any, etype: ErrType | None = None) -> Rule:
    """``pure e`` — always Inert carrying a (possibly non-neutral) payload
    (Internal.hs:137 ``pure = Inert``)."""
    et = etype or strings()
    return Rule(lambda col: mk(F.lit(False), et.lit(err), et), et)


def test(fail_rule: Rule, pass_rule: Rule, pred: Predicate) -> Rule:
    """Predicate selects a validator: False -> ``fail_rule``, True ->
    ``pass_rule`` (Valor.hs:183-189).  A NULL predicate behaves as False
    (engine choice; Haskell Bool has no null)."""
    _assert_compatible(fail_rule, pass_rule)
    et = pass_rule.etype

    def fn(col: Column) -> Column:
        p = pred(col)
        return F.when(p, pass_rule(col)).otherwise(fail_rule(col))

    return Rule(fn, et)


def fail_if(err: Any, pred: Predicate, etype: ErrType | None = None) -> Rule:
    """Fail with ``err`` when predicate is True (Valor.hs:159-166)."""
    et = etype or strings()
    return test(pass_(et), fail_(err, et), pred)


def pass_if(err: Any, pred: Predicate, etype: ErrType | None = None) -> Rule:
    """Fail with ``err`` when predicate is False (Valor.hs:127-134)."""
    et = etype or strings()
    return test(fail_(err, et), pass_(et), pred)


def make(err_fn: Callable[[Column], Column], etype: ErrType | None = None) -> Rule:
    """From a nullable error expression: NULL -> pass, value -> fail with it
    (Valor.hs:205-206)."""
    et = etype or strings()

    def fn(col: Column) -> Column:
        e = err_fn(col)
        return F.when(e.isNull(), mk(F.lit(False), et.neutral(), et)).otherwise(
            mk(F.lit(True), e, et)
        )

    return Rule(fn, et)


def gates(table: Mapping[str, Sequence[tuple[str, str]]]) -> dict[str, Rule]:
    """A rule set from a table of SQL-text gates, ``{rule_name:
    [(when_sql, error_sql), ...]}``.  Each gate is a :func:`make` whose leaf
    is ``CASE WHEN <when_sql> THEN array(<error_sql>) END`` (a NULL
    condition leaves it inert), and a rule is the :func:`conN` of its gates.

    The leaves name the frame's top-level columns rather than a focused
    input: ``validate`` evaluates every rule in one select over the frame.
    Each rule keeps its gate text as :attr:`Rule.sql`."""
    ea = EArray()

    def gate(when: str, error: str) -> Rule:
        return make(lambda _row: F.expr(f"CASE WHEN {when} THEN array({error}) END"), ea)

    out = {}
    for name, pairs in table.items():
        out[name] = conN(*[gate(w, e) for w, e in pairs])
        out[name].sql = tuple(pairs)
    return out


# ---------------------------------------------------------------------------
# binary combinators (the truth tables)
# ---------------------------------------------------------------------------

def _assert_compatible(a: Rule, b: Rule) -> None:
    if a.etype.dtype != b.etype.dtype:
        raise TypeError(
            f"incompatible rule payload types: {a.etype} vs {b.etype}"
        )


def con(a: Rule, b: Rule) -> Rule:
    """``<>``: combine payloads unconditionally, OR the wrongness
    (Internal.hs:112-116 — note payloads combine even across Inert operands)."""
    _assert_compatible(a, b)
    et = a.etype

    def fn(col: Column) -> Column:
        ra, rb = a(col), b(col)
        return mk(
            ra.getField(WRONG) | rb.getField(WRONG),
            et.combine(ra.getField(ERR), rb.getField(ERR)),
            et,
        )

    return Rule(fn, et)


def conN(*rules: Rule) -> Rule:
    """``mconcat`` — left fold of :func:`con` (tutorial idiom, Valor.hs:544-553)."""
    assert rules, "conN needs at least one rule"
    out = rules[0]
    for r in rules[1:]:
        out = con(out, r)
    return out


def alt(a: Rule, b: Rule) -> Rule:
    """First Inert wins; both Wrong -> last error only (Internal.hs:165-169)."""
    _assert_compatible(a, b)

    def fn(col: Column) -> Column:
        ra, rb = a(col), b(col)
        return F.when(~ra.getField(WRONG), ra).otherwise(rb)

    return Rule(fn, a.etype)


def acc(a: Rule, b: Rule) -> Rule:
    """Like :func:`alt` but both-Wrong concatenates errors, a-first
    (Internal.hs:175-178)."""
    _assert_compatible(a, b)
    et = a.etype

    def fn(col: Column) -> Column:
        ra, rb = a(col), b(col)
        return (
            F.when(~ra.getField(WRONG), ra)
            .when(~rb.getField(WRONG), rb)
            .otherwise(
                mk(F.lit(True), et.combine(ra.getField(ERR), rb.getField(ERR)), et)
            )
        )

    return Rule(fn, et)


def peek(fail_rule: Rule, pass_rule: Rule, test_rule: Rule) -> Rule:
    """Run ``test_rule``; Inert -> ``pass_rule``, Wrong -> ``fail_rule``;
    the test's own error is discarded (Valor.hs:232-233)."""
    _assert_compatible(fail_rule, pass_rule)

    def fn(col: Column) -> Column:
        rt = test_rule(col)
        return F.when(~rt.getField(WRONG), pass_rule(col)).otherwise(fail_rule(col))

    return Rule(fn, pass_rule.etype)


def poke(fail_rule: Rule, pass_rule: Rule, test_rule: Rule) -> Rule:
    """Like :func:`peek`, but if test AND fail-validator both fail the errors
    are ``test <> fail`` (test error FIRST); if the fail-validator passes the
    result is Inert with its payload (Valor.hs:258-267)."""
    _assert_compatible(fail_rule, pass_rule)
    if test_rule.etype.dtype != fail_rule.etype.dtype:
        raise TypeError("poke requires test/fail/pass rules to share a payload type")
    et = pass_rule.etype

    def fn(col: Column) -> Column:
        rt = test_rule(col)
        rf = fail_rule(col)
        return F.when(~rt.getField(WRONG), pass_rule(col)).otherwise(
            F.when(~rf.getField(WRONG), rf).otherwise(
                mk(
                    F.lit(True),
                    et.combine(rt.getField(ERR), rf.getField(ERR)),
                    et,
                )
            )
        )

    return Rule(fn, et)


def nerf(rule: Rule) -> Rule:
    """Force Inert, keeping the payload (Valor.hs:287-288)."""
    return Rule(lambda col: mk(F.lit(False), rule(col).getField(ERR), rule.etype), rule.etype)


def peer(rule: Rule) -> Rule:
    """Wrong e -> Wrong (Just e); Inert -> Inert Nothing (Valor.hs:313-314).
    Payload becomes nullable."""
    et = ENullable(rule.etype)

    def fn(col: Column) -> Column:
        r = rule(col)
        return F.when(
            r.getField(WRONG), mk(F.lit(True), r.getField(ERR), et)
        ).otherwise(mk(F.lit(False), F.lit(None).cast(et.dtype), et))

    return Rule(fn, et)


def adapt(selector: Selector, rule: Rule) -> Rule:
    """Contramap the input — field selection / newtype unwrap (Valor.hs:336-337).
    ``selector`` maps the outer input Column to the sub-Column the rule reads,
    e.g. ``lambda row: row.getField('captain').getField('age')``."""
    return Rule(lambda col: rule(selector(col)), rule.etype)


def field(*path: str) -> Selector:
    """Selector for a (nested) struct field path — the common ``adapt`` case."""

    def sel(col: Column) -> Column:
        out = col
        for p in path:
            out = out.getField(p)
        return out

    return sel


def check1(selector: Selector | str, rule: Rule) -> Rule:
    """``peer . adapt`` — per-field slot of an error record (Valor.hs:361-362)."""
    if isinstance(selector, str):
        selector = field(selector)
    return peer(adapt(selector, rule))


def record(fields: Mapping[str, Rule]) -> Rule:
    """The Applicative error-record builder: ``ErrRec <$> r1 <*> r2 <*> ...``
    (Valor.hs:636-642; ``<*>`` table Internal.hs:136-143).  Wrongness is the
    OR of the children; the payload is a struct of the children's payloads."""
    et = ERecord({n: r.etype for n, r in fields.items()})

    def fn(col: Column) -> Column:
        results = {n: r(col) for n, r in fields.items()}
        wrongness = None
        for r in results.values():
            w = r.getField(WRONG)
            wrongness = w if wrongness is None else (wrongness | w)
        payload = F.struct(
            *[r.getField(ERR).alias(n) for n, r in results.items()]
        )
        return mk(wrongness if wrongness is not None else F.lit(False), payload, et)

    return Rule(fn, et)


def checkN(selector: Selector | str, rule: Rule) -> Rule:
    """Validate each element of an array column (Valor.hs:390-395).

    All elements pass -> ``Inert Nothing``; otherwise ``Wrong (Just [Maybe e
    per element])`` with positions preserved (NULL = that element passed).
    A NULL input array validates as pass (engine choice — Haskell lists are
    never null)."""
    if isinstance(selector, str):
        selector = field(selector)
    elem_peer = peer(rule)
    et = ENullable(EArrayOf(elem_peer.etype))

    def fn(col: Column) -> Column:
        arr = selector(col)
        elems = F.transform(arr, lambda x: elem_peer(x))
        all_ok = F.forall(elems, lambda e: ~e.getField(WRONG))
        payload = F.transform(elems, lambda e: e.getField(ERR))
        return F.when(
            arr.isNull() | all_ok, mk(F.lit(False), F.lit(None).cast(et.dtype), et)
        ).otherwise(mk(F.lit(True), payload, et))

    return Rule(fn, et)


def checkN_map(selector: Selector | str, rule: Rule) -> Rule:
    """``checkN`` over a MAP column — the reference's ``checkN`` is
    ``Traversable t`` (Valor.hs:390-395) and Haskell ``Map k`` traverses its
    VALUES with keys preserved, so the per-element ``[Maybe e]`` becomes a
    per-entry ``Map k (Maybe e)``.

    All entries pass -> ``Inert Nothing``; otherwise ``Wrong (Just {k ->
    Maybe e})`` with every key present (NULL value = that entry passed).
    A NULL input map validates as pass (same engine choice as checkN)."""
    if isinstance(selector, str):
        selector = field(selector)
    elem_peer = peer(rule)
    et = ENullable(EMapOf(elem_peer.etype))

    def fn(col: Column) -> Column:
        m = selector(col)
        verdicts = F.transform_values(m, lambda k, v: elem_peer(v))
        all_ok = F.forall(F.map_values(verdicts), lambda e: ~e.getField(WRONG))
        payload = F.transform_values(verdicts, lambda k, e: e.getField(ERR))
        return F.when(
            m.isNull() | all_ok, mk(F.lit(False), F.lit(None).cast(et.dtype), et)
        ).otherwise(mk(F.lit(True), payload, et))

    return Rule(fn, et)


Continuation = "Rule | Callable[[Column], Rule]"


def _apply_cont(cont, err_col: Column, col: Column) -> Column:
    """A continuation is a Rule, or a function from the error-payload Column
    to a Rule (mirrors Haskell's ``e -> Valor i m e``)."""
    r = cont(err_col) if callable(cont) and not isinstance(cont, Rule) else cont
    return r(col)


def bind(
    rule: Rule,
    branches: Sequence[tuple[Callable[[Column], Column], Any]],
    default: Any,
    etype: ErrType | None = None,
) -> Rule:
    """Restricted Monad ``>>=`` (Internal.hs:90-95): the error payload of
    ``rule`` selects a follow-up from a *static* set; the result keeps the
    follow-up's payload but is tainted Wrong if ``rule`` was Wrong
    (Internal.hs:95 ``pure . Wrong . valW``).

    ``branches`` is ``[(payload_predicate, continuation), ...]`` evaluated in
    order against ``rule``'s payload; ``default`` handles no-match.  A
    continuation is a :class:`Rule` or a function ``err_payload_col -> Rule``
    (the Haskell ``e -> Valor``).  The reference's fully-general bind
    (arbitrary payload -> validator Haskell function) is not stageable in
    Catalyst; its test suite exercises bind only through Monad laws with
    ``fail``/``pure`` continuations (tst/Data/Valor/InternalSpec.hs:147-173),
    which this form covers."""
    et = etype or (default.etype if isinstance(default, Rule) else rule.etype)

    def fn(col: Column) -> Column:
        r1 = rule(col)
        e1 = r1.getField(ERR)
        chosen = _apply_cont(default, e1, col)
        for pred, nxt in reversed(list(branches)):
            chosen = F.when(pred(e1), _apply_cont(nxt, e1, col)).otherwise(chosen)
        return mk(
            r1.getField(WRONG) | chosen.getField(WRONG), chosen.getField(ERR), et
        )

    return Rule(fn, et)


def bind_k(
    rule: Rule,
    k: Callable[[Column], Rule],
    etype: ErrType | None = None,
) -> Rule:
    """Monad ``>>=`` (Internal.hs:90-95) in its general form: ``k`` receives
    the error payload of ``rule`` as a *Column* and returns the follow-up
    Rule — the direct analogue of Haskell's ``e -> Valor i m e``.  Because a
    Column is a symbolic per-row expression, ``k`` may branch on the payload
    (``F.when``), transform it, or feed it into any rule constructor, and the
    staged plan evaluates the continuation per row exactly as the reference
    does per value.  The reference semantics are preserved verbatim: the
    continuation runs on the payload whether ``rule`` was Inert or Wrong, and
    a Wrong input taints the continuation's result Wrong while keeping the
    continuation's payload (Internal.hs:95 ``pure . Wrong . valW``).

    The only residual restriction vs. Haskell is that ``k`` must build its
    Rule from Column expressions (no unbounded per-value recursion, no
    per-row effects) — the same staging constraint every rule in this engine
    lives under, not a bind-specific loss.  :func:`bind` remains as the
    branch-table convenience form; ``bind(rule, branches, default)`` is
    expressible as ``bind_k`` with a ``F.when`` chain in ``k``.
    """
    et = etype or rule.etype

    def fn(col: Column) -> Column:
        r1 = rule(col)
        nxt = k(r1.getField(ERR))(col)
        return mk(
            r1.getField(WRONG) | nxt.getField(WRONG), nxt.getField(ERR), et
        )

    return Rule(fn, et)


def inert_col(err_col_fn: Callable[[Column], Column], etype: ErrType | None = None) -> Rule:
    """``pure`` with a computed payload: always Inert, carrying an error value
    built from the input column (Internal.hs:137 ``pure = Inert``; the
    payload-column counterpart of :func:`inert`, as :func:`fail_col` is of
    :func:`fail_`).  Useful as a ``bind_k`` continuation for the Monad
    right-identity ``m >>= pure``."""
    et = etype or strings()
    return Rule(lambda col: mk(F.lit(False), err_col_fn(col), et), et)


# ---------------------------------------------------------------------------
# Wrong-value helpers (int/Data/Valor/Internal.hs:128-208 parity)
# ---------------------------------------------------------------------------

def val_w(verdict: Column) -> Column:
    """``valW`` (Internal.hs:184-186): extract the payload regardless of tag."""
    return verdict.getField(ERR)


def is_inert(verdict: Column) -> Column:
    """``isInert`` (Internal.hs:199-201)."""
    return ~verdict.getField(WRONG)


def is_wrong(verdict: Column) -> Column:
    """``isWrong`` (Internal.hs:206-208)."""
    return verdict.getField(WRONG)


def wrong_case(verdict: Column, on_wrong, on_inert) -> Column:
    """``wrong`` (Internal.hs:192-194): case analysis on the tag; each branch
    receives the payload Column."""
    e = verdict.getField(ERR)
    return F.when(verdict.getField(WRONG), on_wrong(e)).otherwise(on_inert(e))


def fmap_err(rule: Rule, fn: Callable[[Column], Column], etype: ErrType | None = None) -> Rule:
    """Functor ``fmap`` over the payload (Internal.hs:128-130): transform the
    error value, keeping the tag.  ``etype`` names the output payload type
    when ``fn`` changes it (defaults to the input's)."""
    et = etype or rule.etype

    def f(col: Column) -> Column:
        r = rule(col)
        return mk(r.getField(WRONG), fn(r.getField(ERR)), et)

    return Rule(f, et)
