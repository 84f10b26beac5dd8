"""SERIAL-equivalent surrogate key generation (SURVEY.md §1.2, §7.3).

Postgres SERIAL assigns dense keys by insertion order; Spark has no
native equivalent. ``add_surrogate_key`` gives dense, deterministic
keys — ``row_number()`` over an explicit canonical ordering, plus an
offset of the current max key for incremental loads. It uses a
single-partition window, which is ONLY safe for small outputs (dim
tables — distinct values of a few string columns — are small by
construction at any SF). This is the reference-parity path (dim/fact
keys, gold DDL SERIAL columns, dags/SQL/Gold/DDL_gold.sql:5-67).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def add_surrogate_key(
    df: DataFrame,
    key_col: str,
    order_by: Sequence[str],
    start_at: int = 1,
) -> DataFrame:
    """Dense deterministic keys: row_number over canonical ordering.

    ``start_at`` supports SERIAL-style continuation across incremental
    loads (pass 1 + current max key).
    """
    w = Window.orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return df.withColumn(
        key_col, (F.row_number().over(w) + F.lit(start_at - 1)).cast("long")
    )
