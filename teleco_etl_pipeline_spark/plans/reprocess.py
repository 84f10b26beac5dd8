"""Correction/reprocessing loop (SURVEY.md §3 St2/St3, M3 —
reference dags/Reprocessing.py).

A sensor pass re-validates each corrected file in fixed_data/ with
the FULL domain rule set (Reprocessing.py:41-44,74-109) and exports
its rejects with error_details (:130-137). The valid rows of every
file go into bronze via delete-then-insert (M3, :113-126) in one
write; silver and gold are then re-derived once by the daily stages
(``medallion.derive_silver`` / ``derive_gold``), as the reference
rebuilds gold once per batch (:194-198). The reference upserts silver
only, which its next full refresh undoes; writing bronze keeps the
fix (PARITY.md S12/M3/St3).
"""

from __future__ import annotations

import datetime as dt
import functools
import os

from pyspark.sql import DataFrame

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.operators.upsert import delete_then_insert
from teleco_etl_pipeline_spark.plans import medallion, quality
from teleco_etl_pipeline_spark.sources import files as fsrc


def reprocess_fixed_file(
    wh: Warehouse, path: str, quarantine_dir: str
) -> tuple[dict, DataFrame | None]:
    """Validate one corrected file and export its rejects; writes no
    table. Returns the file's report and its good rows in bronze
    shape, a lazy frame over the file (``None`` when every row was
    rejected)."""
    fixed = (
        fsrc.read_excel(wh.spark, path)
        if path.endswith((".xlsx", ".xls"))
        else fsrc.read_csv(wh.spark, path)
    )

    # Full validation incl. domain membership (Reprocessing.py:74-109)
    rules = quality.churn_rules(fixed, check_domains=True)
    good, bad = quality.split_good_bad(fixed, rules)
    total, rejected, _ = quality.error_rate(fixed, rules)
    name = os.path.basename(path)
    report = {"file": name, "input": total, "rejected": rejected}
    if rejected:
        out = os.path.join(quarantine_dir, f"rejected_{name}.csv")
        fsrc.write_quarantine_report(bad, out)
        report["reject_report"] = out

    if total == rejected:
        report["status"] = "ALL_REJECTED"
        return report, None
    report.update(upserted=total - rejected, status="SUCCESS")
    return report, medallion._bronze_projection(good)


def watch_and_reprocess(
    wh: Warehouse,
    fixed_dir: str,
    quarantine_dir: str,
    refresh_gold: bool = True,
    run_date: str | None = None,
) -> list[dict]:
    """The file-arrival sensor (St2), one pass over every file now in
    fixed_dir: validate each file, write bronze, silver and (with
    ``refresh_gold``) gold once, then archive the SUCCESS files. The
    good frames read their files lazily, and a failed pass leaves every
    file for the next one, which delete-then-insert makes safe."""
    paths = sorted(
        fsrc.list_ingest_files(fixed_dir, "*.csv")
        + fsrc.list_ingest_files(fixed_dir, "*.xlsx")
    )
    checked = [reprocess_fixed_file(wh, path, quarantine_dir) for path in paths]
    reports = [report for report, _ in checked]
    fixes = {path: good for path, (_, good) in zip(paths, checked) if good is not None}
    if not fixes:
        return reports

    # M3 keyed on customer_id into bronze, the system of record, in
    # file-name order, so a key in two files keeps the later file's
    # row. No bronze gate: every row passed churn_rules(
    # check_domains=True), which covers every rule of run_layer_checks,
    # and a file's duplicate keys were rejected, so no key can repeat.
    bronze = wh.read("bronze", "churn_raw")
    for good in fixes.values():
        bronze = delete_then_insert(bronze, good, ["customer_id"])
    wh.overwrite_safe(bronze, "bronze", "churn_raw")
    medallion.derive_silver(wh)

    if refresh_gold:
        # The fact build adds only customers without a fact row, so the
        # fixed customers' rows go first. A customer new to bronze has
        # no dim_customer key and no fact row yet.
        if wh.exists("gold", "fact_customer_churn"):
            keys = functools.reduce(
                DataFrame.union, [good.select("customer_id") for good in fixes.values()]
            )
            fixed_keys = wh.read("gold", "dim_customer").join(
                keys, "customer_id", "left_semi"
            ).select("customer_key")
            fact = wh.read("gold", "fact_customer_churn")
            fact = fact.join(fixed_keys, "customer_key", "left_anti")
            wh.overwrite_safe(fact, "gold", "fact_customer_churn")
        fact_rows = medallion.derive_gold(wh, run_date)["gold_fact_rows"]
        for report in reports:
            if report["status"] == "SUCCESS":
                report["gold_fact_rows"] = fact_rows

    suffix = dt.datetime.now().strftime("%Y%m%d_%H%M%S")
    for path in fixes:
        fsrc.archive_file(path, os.path.join(fixed_dir, "archive"), suffix)
    return reports
