"""Pipeline state stores: file-metadata registry and watermarks
(SURVEY.md §2.8 M2/M7, §2.10 St1, §2.12 C5/C6).

Both are tiny Parquet tables mutated by the keyed merge the data
tables use (``operators.upsert.merge_upsert``, which
``Warehouse.upsert_into`` wraps). Each merge rewrites the whole
table, so callers write one batch per state transition. The state
machine semantics of the reference
(PENDING→PROCESSING→SUCCESS/FAILED→ARCHIVED; watermark advances only
after sink success) live in the callers (plans/pipeline.py,
plans/extract.py).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import META_SCHEMA, WATERMARK_SCHEMA, Warehouse
from teleco_etl_pipeline_spark.operators.upsert import merge_upsert

STATUSES = ("PENDING", "PROCESSING", "SUCCESS", "FAILED", "ARCHIVED")


class FileRegistry:
    """pipeline_file_metadata (DataWarehouse.py:36-50,75-147) on Parquet.

    File-level idempotency: a file whose (name, md5) is already
    SUCCESS/ARCHIVED is skipped by the ingest stage — the reference's
    cheap change-data-capture trick, kept verbatim because Spark has
    no native per-file checksum skip.
    """

    TABLE = "pipeline_file_metadata"

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.spark = wh.spark

    def upsert(self, rows: list[dict]) -> None:
        """M2/M7: one keyed merge on file_name for a batch of files.
        Only the fields a row carries are updated; the rest (e.g. the
        checksum on a status change) keep their stored value. The one
        exception is ``error_message``: only a FAILED file keeps one, so
        a retry that succeeds clears it."""
        assert all(r.get("status") in STATUSES for r in rows)
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        rows = [{"created_at": now, **r, "processed_at": now} for r in rows]
        src = self.spark.createDataFrame(
            [tuple(r.get(f.name) for f in META_SCHEMA.fields) for r in rows],
            META_SCHEMA,
        )
        if self.wh.exists("meta", self.TABLE):
            src = merge_upsert(
                self.wh.read("meta", self.TABLE),
                src,
                keys=["file_name"],
                update_cols=[
                    "file_path",
                    "file_size_bytes",
                    "row_count",
                    "status",
                    "error_message",
                    "processed_at",
                    "run_id",
                    "checksum_md5",
                ],
            )
        # The merge keeps the stored value wherever the source is NULL.
        failed_only = F.when(F.col("status") == "FAILED", F.col("error_message"))
        self.wh.overwrite_safe(
            src.withColumn("error_message", failed_only), "meta", self.TABLE
        )

    def status_of(self, file_name: str) -> tuple[str, str] | None:
        if not self.wh.exists("meta", self.TABLE):
            return None
        rows = (
            self.wh.read("meta", self.TABLE)
            .filter(F.col("file_name") == file_name)
            .select("status", "checksum_md5")
            .collect()
        )
        return (rows[0][0], rows[0][1]) if rows else None

    def should_skip(self, file_name: str, checksum: str) -> bool:
        """C5: skip files already successfully processed, unchanged."""
        cur = self.status_of(file_name)
        return cur is not None and cur[0] in ("SUCCESS", "ARCHIVED") and cur[1] == checksum


class WatermarkStore:
    """Scalar watermarks with advance-only-on-success contract (St1,
    churn_export_dag_cloude.py:389-393,568)."""

    TABLE = "watermarks"
    DEFAULT = "1970-01-01 00:00:00"

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.spark = wh.spark

    def get(self, name: str) -> str:
        if not self.wh.exists("meta", self.TABLE):
            return self.DEFAULT
        rows = (
            self.wh.read("meta", self.TABLE)
            .filter(F.col("name") == name)
            .select("value")
            .collect()
        )
        return rows[0][0] if rows else self.DEFAULT

    def advance(self, name: str, value: str) -> None:
        """Called ONLY after the sink write succeeded."""
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        src = self.spark.createDataFrame([(name, value, now)], WATERMARK_SCHEMA)
        self.wh.upsert_into(src, "meta", self.TABLE, keys=["name"])
