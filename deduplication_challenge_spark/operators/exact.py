"""Exact deduplication: the full-row perfect-duplicate probe.

A hash-groupBy on the row's columns, entirely JVM-side (hash aggregate
inside whole-stage codegen) — no UDF, one shuffle.  The pipeline has no
separate exact-text pass: byte-identical docs have identical signatures,
so LSH + verify already cluster them (plans/pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def perfect_duplicate_count(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Full-row perfect-duplicate probe: number of rows that are exact
    duplicates of an earlier identical row, i.e. sum(group_size - 1) over
    full-row groups.

    Spark-first restatement of the reference's count_perfect_duplicates
    (/root/reference/src/helper.py:113-132), which sorts rows and counts
    prev.equals(row) — equivalent to groupBy(all columns) and summing the
    per-group excess.  One hash shuffle, map-side partial agg, no sort.

    cols: columns that define "the row" (defaults to all columns — pass a
    subset to exclude surrogate ids).
    """
    keys = cols if cols is not None else df.columns
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("n_perfect_duplicates"))
    )

