"""End-to-end warehouse driver (SURVEY.md §3.1: the
Data_Warehouse_Full_Pipeline DAG as a plain Python orchestration of
lazy DataFrame stages with value-check gates).

Stages (mirrors dags/DataWarehouse.py:879 task order):
  ingest CSVs → staging (validate/quarantine/dedup)
  → bronze upsert, its DQ gate run on the merged rows before the swap
  → silver, derived from bronze (``medallion.derive_silver``: load,
    then clean with the circuit breaker)
  → gold, derived from silver (``medallion.derive_gold``: dims, fact,
    then the gold DQ gate)
  → archive + metadata bookkeeping

Returns a run-report dict (C7/C8 analogue) with per-stage counts.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import medallion
from teleco_etl_pipeline_spark.sources import files as fsrc
from teleco_etl_pipeline_spark.sources.state import FileRegistry


def run_warehouse(
    spark: SparkSession,
    warehouse_root: str,
    staging_dir: str,
    run_id: str | None = None,
    run_date: str | None = None,
    archive: bool = True,
) -> dict:
    """One full daily run. Idempotent: re-running with the same input
    files is a no-op (file checksum skip + keyed upserts + NOT-EXISTS
    fact guard)."""
    wh = Warehouse(spark, warehouse_root)
    registry = FileRegistry(wh)
    run_id = run_id or dt.datetime.now().strftime("run_%Y%m%d_%H%M%S")
    report: dict = {"run_id": run_id, "files": []}

    # --- file registration + checksum skip (C5) ---
    processing: list[dict] = []
    for path in fsrc.list_ingest_files(staging_dir):
        name = os.path.basename(path)
        checksum = fsrc.md5_file(path)
        if registry.should_skip(name, checksum):
            report["files"].append({"file": name, "status": "SKIPPED"})
            continue
        processing.append(
            {
                "file_name": name,
                "file_path": path,
                "file_size_bytes": os.path.getsize(path),
                "status": "PROCESSING",
                "run_id": run_id,
                "checksum_md5": checksum,
            }
        )

    if not processing:
        report["status"] = "SKIPPED_NO_NEW_DATA"  # C4 skip semantics
        return report

    # Every registry write rewrites the whole document, so each state
    # transition is one write covering all of the run's files.
    names = [r["file_name"] for r in processing]

    def transition(status: str, error: str | None = None) -> None:
        registry.upsert(
            [{"file_name": n, "status": status, "error_message": error} for n in names]
        )

    registry.upsert(processing)
    try:
        raw = (
            fsrc.read_csv_dir(spark, staging_dir)
            .filter(F.col("source_file").isin(names))
            .drop("source_file")
        )
        report["staging"] = medallion.load_staging(wh, raw)
        report["bronze"] = medallion.bronze_upsert(wh)  # C2 gate inside
        report.update(medallion.derive_silver(wh))
        report.update(medallion.derive_gold(wh, run_date))
    except Exception as e:  # noqa: BLE001
        transition("FAILED", str(e)[:500])
        raise

    # --- archive + final metadata (S13, M7) ---
    transition("SUCCESS")
    if archive:
        suffix = dt.datetime.now().strftime("%Y%m%d_%H%M%S")
        archive_dir = os.path.join(staging_dir, "archive")
        for r in processing:
            fsrc.archive_file(r["file_path"], archive_dir, suffix)
        transition("ARCHIVED")
    final = "ARCHIVED" if archive else "SUCCESS"
    report["files"] += [{"file": n, "status": final} for n in names]
    report["status"] = "SUCCESS"
    return report
