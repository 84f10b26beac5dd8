"""Data-layout operators: Z-order (Morton) clustering for multi-
dimensional data skipping.

At 100 TB the scan cost of a selective query is decided by LAYOUT,
not compute: parquet row-group pruning works off per-file min/max
stats, so a table range-partitioned + sorted on a SINGLE column
prunes perfectly on that column and not at all on any other. Z-order
interleaves the bits of several columns into one sort key, so every
co-located file covers a small HYPERCUBE of the key space — each
dimension's min/max span per file shrinks to ~2^(-b/d) of its domain
and point/range predicates on ANY of the interleaved dimensions
prune most files. This is the standard lakehouse technique (public:
Morton 1966; Delta/Iceberg `OPTIMIZE ZORDER BY`); Spark expresses it
as ``repartitionByRange(z) + sortWithinPartitions(z)`` before write.

The Morton key is pure JVM-side bit arithmetic (shift/and/or), no
UDF, so it runs inside whole-stage codegen and the identical
expression tree is generated for the DuckDB oracle.

No reference-repo counterpart (the reference materializes single-key
Postgres tables: `dags/SQL/DWH/create_dwh_tables.sql`); this is part
of the beyond-reference scale layer.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table


def zorder_key(cols: list[Column], bits: int = 8) -> Column:
    """Morton-interleave the low ``bits`` bits of each column into one
    BIGINT sort key (bit i of column j lands at position
    ``i * len(cols) + j``). Callers bucket-quantize first (e.g.
    ``col % 2**bits`` or a width_bucket) — the key is only as good as
    the quantization. Disjoint bit positions ⇒ the OR is a plain sum,
    which Catalyst folds into codegen arithmetic."""
    n = len(cols)
    if bits * n > 63:
        # JVM shiftleft wraps the shift amount mod 64 — positions ≥64
        # would silently alias onto low bits and scramble the Morton
        # order (layout "succeeds" but prunes nothing).
        raise ValueError(
            f"bits({bits}) * len(cols)({n}) must be <= 63 to fit "
            "one long z-value; lower bits or split the key set"
        )
    terms = [
        F.shiftleft(F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)), i * n + j)
        for i in range(bits)
        for j, c in enumerate(cols)
    ]
    return reduce(lambda a, b: a + b, terms)


def _sql_zorder(exprs: list[str], bits: int = 8) -> str:
    """The identical Morton expression for the DuckDB oracle."""
    n = len(exprs)
    terms = [
        f"((({e} >> {i}) & 1) << {i * n + j})"
        for i in range(bits)
        for j, e in enumerate(exprs)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_repartition(
    df: DataFrame, cols: list[Column], n_files: int, bits: int = 8
) -> DataFrame:
    """Cluster ``df`` for writing: range-partition on the Morton key
    (one shuffle — the same shuffle a single-column sort would pay)
    and sort within partitions so parquet row-group stats are tight.
    Each output file then covers a hypercube of the quantized key
    space instead of a slab."""
    z = zorder_key(cols, bits).alias("_z")
    return (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


_Z_BITS, _Z_BUCKETS_SHIFT = 8, 12  # 16-bit key → 16 files (z >> 12)


def _zorder_report_oracle_sql() -> str:
    z = _sql_zorder(["(l_partkey % 256)", "(l_suppkey % 256)"], _Z_BITS)
    return f"""
    WITH keyed AS (
      SELECT (l_partkey % 256) AS x, (l_suppkey % 256) AS y,
             {z} AS zval
      FROM lineitem
    ), zfiles AS (
      SELECT 'zorder' AS layout, zval >> {_Z_BUCKETS_SHIFT} AS file_id,
             COUNT(*) AS n_rows,
             MAX(x) - MIN(x) + 1 AS x_span,
             MAX(y) - MIN(y) + 1 AS y_span
      FROM keyed GROUP BY 2
    ), lfiles AS (
      SELECT 'linear' AS layout, x >> 4 AS file_id,
             COUNT(*) AS n_rows,
             MAX(x) - MIN(x) + 1 AS x_span,
             MAX(y) - MIN(y) + 1 AS y_span
      FROM keyed GROUP BY 2
    )
    SELECT layout, CAST(file_id AS BIGINT) AS file_id, n_rows,
           CAST(x_span AS BIGINT) AS x_span, CAST(y_span AS BIGINT) AS y_span
    FROM (SELECT * FROM zfiles UNION ALL SELECT * FROM lfiles)
    ORDER BY layout, file_id
    """


@query(
    "zorder_layout_report",
    _zorder_report_oracle_sql(),
    doc="Z-order vs linear layout, quantified: quantize "
    "(l_partkey, l_suppkey) to 8 bits each, Morton-interleave into a "
    "16-bit key, and 'file' rows by the key's top 4 bits (16 files, "
    "exactly what repartitionByRange(16, z) would co-locate). Per "
    "file, report each dimension's min-max SPAN — the quantity "
    "parquet row-group pruning keys off. Z-order bounds BOTH spans "
    "at ~1/4 of the domain per file, while the single-column linear "
    "layout gives a perfect x-span and a full-domain y-span — the "
    "measured case for Morton clustering at 100 TB. Pure codegen bit "
    "arithmetic, one aggregate per layout over one scan.",
)
def q_zorder_layout_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
    ).select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], _Z_BITS).alias("zval")
    )
    span = [
        F.count(F.lit(1)).alias("n_rows"),
        (F.max("x") - F.min("x") + 1).cast("long").alias("x_span"),
        (F.max("y") - F.min("y") + 1).cast("long").alias("y_span"),
    ]
    zfiles = (
        keyed.groupBy(
            F.shiftright("zval", _Z_BUCKETS_SHIFT).cast("long").alias("file_id")
        )
        .agg(*span)
        .select(F.lit("zorder").alias("layout"), "file_id", "n_rows", "x_span", "y_span")
    )
    lfiles = (
        keyed.groupBy(F.shiftright("x", 4).cast("long").alias("file_id"))
        .agg(*span)
        .select(F.lit("linear").alias("layout"), "file_id", "n_rows", "x_span", "y_span")
    )
    return zfiles.unionByName(lfiles).orderBy("layout", "file_id")
