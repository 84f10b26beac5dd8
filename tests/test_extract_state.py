"""Watermark-extraction contract (St1) + file registry / state store
tests."""

from __future__ import annotations

import datetime as dt
import os

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans.extract import (
    WATERMARK_NAME,
    run_incremental_export,
)
from teleco_etl_pipeline_spark.sources.state import FileRegistry, WatermarkStore


def _oltp(spark):
    ts = dt.datetime
    users = spark.createDataFrame(
        [
            ("u1", "Male", "Cairo", "active", ts(2026, 1, 1), ts(2026, 1, 1)),
            ("u2", "Female", "Giza", "blocked", ts(2026, 1, 5), ts(2026, 2, 1)),
            ("u3", None, None, "active", ts(2026, 3, 1), ts(2026, 3, 2)),
        ],
        ["id", "gender", "region", "status", "createdAt", "updatedAt"],
    )
    pers = spark.createDataFrame(
        [
            ("u1", "Yes", True, True, False, True, False, False, False, False, True,
             True, "DSL", "Electronic check", "One year", 42.5),
        ],
        ["userId", "partner", "dependents", "phoneService", "multipleLines",
         "onlineSecurity", "onlineBackup", "deviceProtection", "techSupport",
         "streamingTV", "streamingMovies", "paperlessBilling", "internetService",
         "paymentMethod", "contractType", "monthlyCharges"],
    )
    billing = spark.createDataFrame(
        [("u1", 10.0), ("u1", 32.5), ("u2", 5.0)], ["userId", "amount"]
    )
    return users, pers, billing


def test_incremental_export_contract(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    users, pers, billing = _oltp(spark)
    out_dir = str(tmp_path / "exports")

    # window 1: captures u1,u2 changes up to 2026-02-15
    r1 = run_incremental_export(wh, users, pers, billing, "2026-02-15 00:00:00", out_dir)
    assert r1.status == "EXPORTED"
    assert r1.rows == 2 and r1.new_rows >= 1
    assert WatermarkStore(wh).get(WATERMARK_NAME) == "2026-02-15 00:00:00"

    # window 2: only u3 (created 2026-03) — half-open: u1/u2 NOT re-exported
    r2 = run_incremental_export(wh, users, pers, billing, "2026-03-15 00:00:00", out_dir)
    assert r2.status == "EXPORTED" and r2.rows == 1

    # window 3: empty ⇒ skip AND watermark does not advance
    r3 = run_incremental_export(wh, users, pers, billing, "2026-04-01 00:00:00", out_dir)
    assert r3.status == "SKIPPED_NO_DATA"
    assert WatermarkStore(wh).get(WATERMARK_NAME) == "2026-03-15 00:00:00"


def test_export_projection_semantics(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    users, pers, billing = _oltp(spark)
    from teleco_etl_pipeline_spark.plans.extract import build_incremental_query

    df = build_incremental_query(
        users, pers, billing, "1970-01-01 00:00:00", "2026-12-31 00:00:00"
    )
    rows = {r["customer_id"]: r for r in df.collect()}
    assert rows["u2"]["churn_label"] == "Yes" and rows["u2"]["churn_value"] == 1
    assert rows["u1"]["total_charges"] == 42.5  # correlated billing sum
    assert rows["u2"]["total_charges"] == 5.0
    assert rows["u3"]["gender"] == "Unknown"  # COALESCE default
    assert rows["u1"]["contract"] == "One year"
    assert rows["u3"]["contract"] == "Month-to-month"  # default


def test_file_registry_checksum_skip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    reg = FileRegistry(wh)
    reg.upsert(
        [
            {
                "file_name": "f1.csv",
                "status": "SUCCESS",
                "checksum_md5": "abc",
                "row_count": 5,
            }
        ]
    )
    assert reg.should_skip("f1.csv", "abc")
    assert not reg.should_skip("f1.csv", "CHANGED")
    assert not reg.should_skip("new.csv", "abc")

    reg.upsert([{"file_name": "f1.csv", "status": "ARCHIVED"}])
    assert reg.files["f1.csv"]["status"] == "ARCHIVED"
    # checksum survived the status update (column-subset merge)
    assert reg.should_skip("f1.csv", "abc")
    # a fresh registry reads what the first one wrote
    assert FileRegistry(wh).files == reg.files
    assert FileRegistry(wh).should_skip("f1.csv", "abc")


def test_file_registry_survives_interrupted_swap(spark, tmp_path):
    """A crash inside a registry write can leave a torn '<doc>.tmp'
    beside the document. It must be ignored: the archived file is
    still skipped, and the next upsert keeps both names and leaves no
    '.tmp' behind."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    FileRegistry(wh).upsert(
        [{"file_name": "a.csv", "status": "ARCHIVED", "checksum_md5": "abc"}]
    )
    tmp = FileRegistry(wh).path + ".tmp"
    with open(tmp, "w") as f:
        f.write('{"a.csv": {"status": "PROC')  # simulate the crash window

    reg = FileRegistry(wh)
    assert reg.should_skip("a.csv", "abc")
    reg.upsert([{"file_name": "b.csv", "status": "PROCESSING", "checksum_md5": "def"}])
    assert sorted(FileRegistry(wh).files) == ["a.csv", "b.csv"]
    assert not os.path.exists(tmp)
    assert reg.should_skip("a.csv", "abc")
