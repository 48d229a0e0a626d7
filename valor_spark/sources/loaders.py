"""Source seam: where the clips table comes from.

At production scale the input is an Iceberg table of 10^12 audio clip +
transcript pairs (north_rule); in this sandbox the same pipeline runs on the
deterministic synthetic generator or on parquet.  ``load_clips`` is the one
seam — everything downstream takes a DataFrame and never cares which.

Scale notes: the Iceberg path gets partition pruning / column pruning /
predicate pushdown from Catalyst for free because the whole pipeline is
declarative; callers should pass ``columns`` so audio ``bytes`` (the wide
column) is only scanned by the stages that need it.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def load_clips(
    spark: SparkSession,
    source: str,
    columns: Sequence[str] | None = None,
    **options,
) -> DataFrame:
    """Load the clips table.

    ``source`` forms:
      * ``synthetic:N``        — deterministic generator with N rows
      * ``parquet:/path``      — parquet directory
      * ``iceberg:db.table``   — Iceberg catalog table (production path;
        requires an Iceberg-enabled Spark session)
    """
    kind, _, rest = source.partition(":")
    if kind == "synthetic":
        from valor_spark.sources.synthetic import clips

        df = clips(spark, n=int(rest), **options)
    elif kind == "parquet":
        # forward reader options (mergeSchema, ...) — silently dropping them
        # would read the wrong schema while the caller believes they applied
        df = spark.read.options(**options).parquet(rest)
    elif kind == "iceberg":
        # snapshot-id / as-of-timestamp etc. ride through to the Iceberg source
        df = spark.read.format("iceberg").options(**options).load(rest)
    else:
        raise ValueError(f"unknown clips source: {source!r}")
    if columns:
        df = df.select(*columns)
    return df
