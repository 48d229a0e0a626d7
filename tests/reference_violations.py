"""Reference violation flattening: the Column-builder form of the
engine's violation array, kept as the oracle for the SQL text that
``valor_spark.plans.engine.violations_sql`` generates.

``reference_violations(res, rules)`` explodes the same verdicts through
these builders, so a test can compare it with ``res.violations()`` row
for row.
"""

from __future__ import annotations

import dataclasses

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
from valor_spark.plans.engine import VERDICT_PREFIX, ValidationResult
from valor_spark.utils import sql_ident


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


def reference_violations(res: ValidationResult, rules: dict) -> DataFrame:
    """``res.violations()`` with ``__violations`` rebuilt by
    :func:`violations_array` from the same verdict columns."""
    arrays = [
        violations_array(n, rules[n].etype, F.col(sql_ident(VERDICT_PREFIX + n)))
        for n in rules
    ]
    vio = arrays[0]
    for a in arrays[1:]:
        vio = F.concat(vio, a)
    ref = dataclasses.replace(
        res, annotated=res.annotated.withColumn("__violations", vio)
    )
    return ref.violations()
