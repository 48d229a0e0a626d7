"""valor_spark — a from-scratch PySpark-native validation engine.

Re-expresses the validator-combinator semantics of the reference library
``mastarija/valor`` (Haskell, ``/root/reference``) as a composable DataFrame
rule algebra, plus whole-table constraints (column stats, uniqueness,
referential integrity, distribution drift), Arrow-vectorized audio payload
checks, per-partition verdicts, and checkpoint/resume — designed for
1000-executor clusters even though it is tested on ``local[*]``.
"""

from valor_spark.functions.errtypes import (
    EArray,
    EArrayOf,
    EMapOf,
    ENullable,
    ERecord,
    EString,
    ErrType,
    strings,
)
from valor_spark.functions.rules import (
    Rule,
    acc,
    adapt,
    alt,
    bind,
    bind_k,
    check1,
    checkN,
    checkN_map,
    con,
    conN,
    fail_,
    fail_col,
    fail_if,
    field,
    fmap_err,
    gates,
    inert,
    inert_col,
    is_inert,
    is_wrong,
    make,
    mk,
    nerf,
    pass_,
    pass_if,
    peek,
    peer,
    poke,
    record,
    test,
    val_w,
    wrong_case,
)

__all__ = [
    "EArray", "EArrayOf", "EMapOf", "ENullable", "ERecord", "EString", "ErrType",
    "strings",
    "Rule", "acc", "adapt", "alt", "bind", "bind_k", "check1", "checkN",
    "checkN_map", "con", "conN",
    "fail_", "fail_col", "fail_if", "field", "fmap_err", "gates", "inert",
    "inert_col",
    "is_inert",
    "is_wrong", "make", "mk", "nerf", "pass_", "pass_if", "peek", "peer",
    "poke", "record", "test", "val_w", "wrong_case",
]

__version__ = "0.1.0"
