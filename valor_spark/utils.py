"""Deployment helpers, and quoting for expressions built as SQL text."""

from __future__ import annotations

import numbers
import os
import zipfile


def sql_ident(name: str) -> str:
    """A column or field name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """A Python string as a SQL string literal (Spark's default backslash
    escapes)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_lit(value) -> str:
    """A Python threshold as a typed SQL literal, so a comparison keeps the
    type ``F.lit`` would give it: an integer as an integer literal, a
    float as a double (``30.0D``), a ``str`` via :func:`sql_str`, and a
    list or tuple as the parenthesized body of an ``IN`` list."""
    if isinstance(value, (list, tuple)):
        return "(" + ", ".join(sql_lit(v) for v in value) + ")"
    if isinstance(value, str):
        return sql_str(value)
    if isinstance(value, numbers.Integral):
        return str(int(value))
    if isinstance(value, numbers.Real):
        return f"{float(value)!r}D"
    raise TypeError(f"no SQL literal for {value!r}")


#: spread_width's tuning: bytes and rows per spread partition, the
#: narrowest spread, and the byte estimate below which an exact row count
#: refines the width
SPREAD_PART_BYTES = 128 << 10
SPREAD_PART_ROWS = 4000
SPREAD_FLOOR = 1
SPREAD_COUNT_BELOW_BYTES = 256 << 20


def spread_width(df) -> int:
    """Scale-adaptive width for the round-robin spread in front of a
    CPU-heavy per-row pass (fingerprint kernels, tokenize chains).

    A constant ``2 x defaultParallelism`` spread is right for big inputs
    but pure overhead for tiny ones: a 64-way spread of a 220-doc frame
    costs ~0.7 s of empty-task scheduling at local[32] (measured, round 6),
    and the width also becomes the map side of every downstream exchange.
    Width = Spark's own plan-estimated ``sizeInBytes`` (file bytes x filter
    selectivity — a driver-side lookup, no job) divided by
    ``SPREAD_PART_BYTES``, clamped to ``[SPREAD_FLOOR, 2 x
    defaultParallelism]`` — so a 100 TB input still saturates the cluster
    while a gate-sized frame runs in a handful of tasks.

    Spark's default filter selectivity badly over-estimates highly
    selective gate filters (``doc_id < 200`` on a 50k-row table estimates
    43%, actual 0.4% — measured 2.9 s vs 0.7 s for the downstream
    fingerprint chain).  So when the byte estimate is small
    (``SPREAD_COUNT_BELOW_BYTES``, bounding the probe at a ~256 MB
    column-pruned scan) the width is refined by an exact row count; above
    the threshold the count could itself be a full scan, so the byte
    estimate stands."""
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism * 2
    try:
        est = int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:  # estimation is best-effort; fall back to full width
        return cap
    w_bytes = max(
        SPREAD_FLOOR, min(cap, (est + SPREAD_PART_BYTES - 1) // SPREAD_PART_BYTES)
    )
    if w_bytes > SPREAD_FLOOR and est <= SPREAD_COUNT_BELOW_BYTES:
        try:
            n = df.count()
        except Exception:
            return w_bytes
        w_rows = max(SPREAD_FLOOR, (n + SPREAD_PART_ROWS - 1) // SPREAD_PART_ROWS)
        return min(w_bytes, w_rows)
    return w_bytes


def build_pyfiles_zip(out_path: str = "/tmp/valor_spark.zip") -> str:
    """Zip the ``valor_spark`` package for ``spark-submit --py-files``.

    Workers unpickle mapInPandas/mapInArrow closures by importing the module
    they live in, so the package must be importable on every executor —
    this zip is the cluster mechanism (local mode inherits the driver's
    PYTHONPATH instead)."""
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_root)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_root):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, repo_root))
    return out_path
