"""Pipeline state stores: file-metadata registry and watermarks
(SURVEY.md §2.8 M2/M7, §2.10 St1, §2.12 C5/C6).

Both are small JSON documents under the warehouse's ``meta/``
directory, read and written on the driver with no Spark job, as the
reference keeps its state on the driver (psycopg2 row lookups,
DataWarehouse.py:75-147, and an Airflow Variable). Every write
replaces its whole document atomically (``_store``). The state
machine semantics of the reference
(PENDING→PROCESSING→SUCCESS/FAILED→ARCHIVED; watermark advances only
after sink success) live in the callers (plans/pipeline.py,
plans/extract.py).
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from teleco_etl_pipeline_spark.catalog import META_SCHEMA, Warehouse

STATUSES = ("PENDING", "PROCESSING", "SUCCESS", "FAILED", "ARCHIVED")
_TIMESTAMPS = ("processed_at", "created_at")


def _load(path: str) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


def _store(path: str, doc: dict) -> None:
    """Replace ``path`` with ``doc``. The new document is written and
    synced beside the old one, then renamed over it, so after a crash
    one of the two survives whole, never a torn mix."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _now() -> str:
    return datetime.now(timezone.utc).replace(tzinfo=None).isoformat(sep=" ")


class FileRegistry:
    """pipeline_file_metadata (DataWarehouse.py:36-50,75-147) as
    ``meta/pipeline_file_metadata.json``, read once per instance into
    ``files``: file name → record holding every ``META_SCHEMA`` field
    (``None`` when unknown, timestamps as ISO strings).

    File-level idempotency: a file whose (name, md5) is already
    SUCCESS/ARCHIVED is skipped by the ingest stage — the reference's
    cheap change-data-capture trick, kept verbatim because Spark has
    no native per-file checksum skip.
    """

    DOC = "pipeline_file_metadata.json"

    def __init__(self, wh: Warehouse):
        self.wh = wh
        self.path = wh.path("meta", self.DOC)
        self.files: dict[str, dict] = _load(self.path)

    def upsert(self, rows: list[dict]) -> None:
        """M2/M7: a keyed merge on file_name for a batch of files, stored
        with one write. A row's non-None fields overwrite the stored
        ones; the rest (e.g. the checksum on a status change) keep their
        stored value. The one exception is ``error_message``: only a
        FAILED file keeps one, so a retry that succeeds clears it."""
        assert all(r.get("status") in STATUSES for r in rows)
        now = _now()
        for r in rows:
            rec = self.files.setdefault(
                r["file_name"], {**dict.fromkeys(META_SCHEMA.names), "created_at": now}
            )
            rec.update({k: v for k, v in r.items() if v is not None}, processed_at=now)
            if rec["status"] != "FAILED":
                rec["error_message"] = None
        _store(self.path, self.files)

    def should_skip(self, file_name: str, checksum: str) -> bool:
        """C5: skip files already successfully processed, unchanged."""
        rec = self.files.get(file_name) or {}
        done = rec.get("status") in ("SUCCESS", "ARCHIVED")
        return done and rec.get("checksum_md5") == checksum

    def frame(self) -> DataFrame:
        """The records as a ``META_SCHEMA`` DataFrame, for Spark-side
        checks."""
        rows = [
            {**r, **{f: r[f] and datetime.fromisoformat(r[f]) for f in _TIMESTAMPS}}
            for r in self.files.values()
        ]
        return self.wh.spark.createDataFrame(rows, META_SCHEMA)


class WatermarkStore:
    """Scalar watermarks with advance-only-on-success contract (St1,
    churn_export_dag_cloude.py:389-393,568), kept in
    ``meta/watermarks.json`` as ``{name: {"value", "updated_at"}}``."""

    DOC = "watermarks.json"
    DEFAULT = "1970-01-01 00:00:00"

    def __init__(self, wh: Warehouse):
        self.path = wh.path("meta", self.DOC)

    def get(self, name: str) -> str:
        return _load(self.path).get(name, {"value": self.DEFAULT})["value"]

    def advance(self, name: str, value: str) -> None:
        """Called ONLY after the sink write succeeded."""
        doc = _load(self.path)
        doc[name] = {"value": value, "updated_at": _now()}
        _store(self.path, doc)
