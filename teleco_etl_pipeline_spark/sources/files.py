"""File-boundary sources & sinks: CSV/Excel ingest with header
normalization, per-file lineage, quarantine export (SURVEY.md §2.1).

Reference behaviors reproduced:
- directory glob + per-file ingest unit (dags/DataWarehouse.py:583)
- header normalization + rename map (:616-621)
- Excel read for corrected files (dags/Reprocessing.py:59) via the
  pandas bridge (files are small by contract)
- quarantine report sinks with error_details (:640-644)

Scale note: ``read_csv_dir`` reads the whole directory as ONE
distributed scan with ``input_file_name()`` lineage — at 100 TB the
per-file pandas loop of the reference becomes the bottleneck; a
single Spark scan with file-name lineage keeps per-file idempotency
*and* full parallelism.
"""

from __future__ import annotations

import glob
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.functions.scalars import normalize_columns


def list_ingest_files(staging_dir: str, pattern: str = "*.csv") -> list[str]:
    return sorted(glob.glob(os.path.join(staging_dir, pattern)))


def md5_file(path: str, chunk: int = 8192) -> str:
    """File checksum for change detection (DataWarehouse.py:67-73)."""
    h = hashlib.md5()
    with open(path, "rb") as f:
        while True:
            b = f.read(chunk)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def read_csv(spark: SparkSession, path: str) -> DataFrame:
    """Header-normalized CSV read (S2 + P1)."""
    reader = spark.read.option("header", True).option("mode", "PERMISSIVE")
    return normalize_columns(reader.csv(path))


def read_csv_dir(spark: SparkSession, staging_dir: str) -> DataFrame:
    """Distributed directory scan with per-file lineage (S1)."""
    df = spark.read.option("header", True).csv(os.path.join(staging_dir, "*.csv"))
    return normalize_columns(df).withColumn(
        "source_file", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )


def read_excel(spark: SparkSession, path: str) -> DataFrame:
    """Excel ingest via the pandas bridge (S3) — corrected-data files
    are small by contract (they carry manual fixes)."""
    import pandas as pd

    pdf = pd.read_excel(path)
    pdf.columns = [str(c) for c in pdf.columns]
    return normalize_columns(spark.createDataFrame(pdf.astype(str).where(pdf.notna())))


def write_quarantine_report(bad: DataFrame, out_path: str) -> int:
    """Quarantine/reject side-channel export (S8): every rejected row
    with its error_details column, as one CSV on disk. The toPandas
    here is on an already-filtered small frame, never the main
    table."""
    pdf = bad.toPandas()
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pdf.to_csv(out_path, index=False)
    return len(pdf)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """CSV sink (S7); single_file=True coalesces for export parity
    with the reference's one-file-per-window contract."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def archive_file(path: str, archive_dir: str, suffix: str) -> str:
    """File archive/move with timestamp suffix (S13)."""
    import shutil

    os.makedirs(archive_dir, exist_ok=True)
    base, ext = os.path.splitext(os.path.basename(path))
    dest = os.path.join(archive_dir, f"{base}_archived_{suffix}{ext}")
    shutil.move(path, dest)
    return dest


# --- JSONL corpus I/O (LLM-pipeline interchange format) ------------


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    lenient: bool = True,
) -> DataFrame:
    """JSON-Lines corpus source — the de-facto interchange format for
    LLM training data (one JSON object per line, splittable, so a
    100 TB directory of .jsonl/.jsonl.gz shards scans fully parallel;
    gzip shards parallelize across FILES, not within one, so shard
    small at write time).

    ``schema`` should be passed in production: schema inference runs
    an extra full scan of the data before the real read. ``lenient``
    keeps malformed lines instead of dropping them, surfacing the
    raw text in ``_corrupt_record`` so the quarantine path (S8) can
    route them — the same annotate-don't-drop contract as the CSV
    ingest rules.
    """
    reader = spark.read
    if schema is not None:
        if lenient and "_corrupt_record" not in [f.name for f in schema.fields]:
            from pyspark.sql.types import StringType, StructField

            schema = schema.add(StructField("_corrupt_record", StringType()))
        reader = reader.schema(schema)
    mode = "PERMISSIVE" if lenient else "FAILFAST"
    return reader.option("mode", mode).option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    shards: int | None = None,
) -> None:
    """JSONL corpus sink. ``shards`` repartitions before write so the
    output file count (and thus downstream read parallelism for gzip,
    which is not splittable) is an explicit choice, not an accident
    of the upstream plan's partitioning."""
    out = df.repartition(shards) if shards else df
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)
