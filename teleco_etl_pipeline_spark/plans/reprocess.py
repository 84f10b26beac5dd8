"""Correction/reprocessing loop (SURVEY.md §3 St2/St3, M3 —
reference dags/Reprocessing.py).

Corrected files land in a fixed_data/ directory; each is re-validated
with the FULL domain rule set (gender/contract/payment/internet,
Reprocessing.py:41-44,74-109), and rejects are exported with
error_details (:130-137). Valid rows go into bronze via
delete-then-insert (M3, :113-126); silver and gold are then re-derived
by the daily run's own stages (``medallion.derive_silver`` /
``derive_gold``). The reference upserts silver only (:113-126), which
its next full silver refresh from bronze undoes; writing bronze keeps
the fix (PARITY.md S12/M3).
"""

from __future__ import annotations

import os

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.operators.upsert import delete_then_insert
from teleco_etl_pipeline_spark.plans import medallion, quality
from teleco_etl_pipeline_spark.sources import files as fsrc


def reprocess_fixed_file(
    wh: Warehouse,
    path: str,
    quarantine_dir: str | None = None,
    refresh_gold: bool = True,
    run_date: str | None = None,
) -> dict:
    """One corrected file through the fix loop."""
    spark = wh.spark
    fixed = (
        fsrc.read_excel(spark, path)
        if path.endswith((".xlsx", ".xls"))
        else fsrc.read_csv(spark, path)
    )

    # Full validation incl. domain membership (Reprocessing.py:74-109)
    rules = quality.churn_rules(fixed, check_domains=True)
    good, bad = quality.split_good_bad(fixed, rules)
    total, rejected, _ = quality.error_rate(fixed, rules)
    report = {"file": os.path.basename(path), "input": total, "rejected": rejected}
    if report["rejected"] and quarantine_dir:
        out = os.path.join(
            quarantine_dir, f"rejected_{os.path.basename(path)}.csv"
        )
        fsrc.write_quarantine_report(bad, out)
        report["reject_report"] = out

    if report["input"] == report["rejected"]:
        report["status"] = "ALL_REJECTED"
        return report

    # M3: delete-then-insert keyed on customer_id into bronze, the
    # system of record, so the next daily run's silver keeps the fix.
    # No bronze gate: ``good`` passed churn_rules(check_domains=True),
    # which covers every rule of run_layer_checks, and the file's
    # duplicate keys were rejected, so no key can repeat.
    fixes = medallion._bronze_projection(good)
    bronze = wh.read("bronze", "churn_raw")
    wh.overwrite_safe(
        delete_then_insert(bronze, fixes, ["customer_id"]), "bronze", "churn_raw"
    )
    report["upserted"] = report["input"] - report["rejected"]
    medallion.derive_silver(wh)

    if refresh_gold:
        # The fact build adds only customers without a fact row, so the
        # fixed customers' rows go first. A customer new to bronze has
        # no dim_customer key and no fact row yet.
        if wh.exists("gold", "fact_customer_churn"):
            fixed_keys = wh.read("gold", "dim_customer").join(
                fixes.select("customer_id"), "customer_id", "left_semi"
            ).select("customer_key")
            fact = wh.read("gold", "fact_customer_churn")
            wh.overwrite_safe(
                fact.join(fixed_keys, "customer_key", "left_anti"),
                "gold",
                "fact_customer_churn",
            )
        report["gold_fact_rows"] = medallion.derive_gold(wh, run_date)["gold_fact_rows"]
    report["status"] = "SUCCESS"
    return report


def watch_and_reprocess(
    wh: Warehouse, fixed_dir: str, archive: bool = True, **kw
) -> list[dict]:
    """The file-arrival sensor (St2): process every file currently in
    fixed_dir, the batch form of the reference's sensor DAG."""
    import datetime as dt

    reports = []
    for path in sorted(
        fsrc.list_ingest_files(fixed_dir, "*.csv")
        + fsrc.list_ingest_files(fixed_dir, "*.xlsx")
    ):
        rep = reprocess_fixed_file(wh, path, **kw)
        if archive and rep.get("status") == "SUCCESS":
            suffix = dt.datetime.now().strftime("%Y%m%d_%H%M%S")
            fsrc.archive_file(path, os.path.join(fixed_dir, "archive"), suffix)
        reports.append(rep)
    return reports
