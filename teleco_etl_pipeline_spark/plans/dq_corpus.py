"""The full 40-check DQ corpus ported from the reference
(dags/SQL/DWH_Quality_Checks.sql:1-326), organized by layer exactly
like the source: §1 metadata, §2 staging, §3 bronze, §4 silver,
§5 gold dims, §6 fact, §7 cross-layer consistency.

Each check is a named DataFrame builder over the Warehouse; checks
with an implicit golden expectation (0 rows / 0 count / silver ≤
bronze) carry an ``expect`` callable so ``run_corpus`` can both
report and assert. Profiling checks (distributions, ranges) have no
expectation — they return data for the run report.

All checks are single-pass aggregates or broadcast anti-joins — the
whole corpus over a 100 TB warehouse is a handful of scans, not 40.
Pure row counts scan nothing: they are summed from the tables'
Parquet footers (``Warehouse.row_count``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.sources.state import FileRegistry


@dataclass(frozen=True)
class Check:
    section: str
    name: str
    build: Callable[[Warehouse], DataFrame]
    # expectation over the collected rows; None = profile-only
    expect: Callable[[list], bool] | None = None
    ref: str = ""  # file:line into the reference corpus


def _cnt_if(cond) -> F.Column:
    return F.count(F.when(cond, F.lit(1)))


def _nulls_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in cols:
        if c in df.columns:
            aggs.append(_cnt_if(F.col(c).isNull()).alias(f"null_{c}"))
    return df.agg(*aggs)


def _dup_keys(df: DataFrame, key: str) -> DataFrame:
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") > 1)
    )


def _zero_rows(rows: list) -> bool:
    return len(rows) == 0


def _scalar_zero(rows: list) -> bool:
    return rows[0][0] == 0


def _all_null_counts_zero(rows: list) -> bool:
    r = rows[0].asDict()
    return all(v == 0 for k, v in r.items() if k.startswith("null_"))


def all_checks() -> list[Check]:
    C = Check
    checks: list[Check] = [
        # ---- §1 metadata (ref :8-33) ----
        C("metadata", "file_status_report",
          lambda wh: FileRegistry(wh).frame().select(
              "file_name", "status", "row_count", "file_size_bytes",
              "processed_at", "run_id",
              F.when(F.col("error_message").isNotNull(), "Has Error")
              .otherwise("Clean").alias("error_flag"),
          ).orderBy(F.desc("processed_at")),
          ref="DWH_Quality_Checks.sql:12-22"),
        C("metadata", "files_by_status",
          lambda wh: FileRegistry(wh).frame()
          .groupBy("status").agg(F.count(F.lit(1)).alias("file_count")),
          ref=":25-27"),
        C("metadata", "files_needing_reprocess",
          lambda wh: FileRegistry(wh).frame()
          .filter(F.col("status").isin("FAILED", "PROCESSING"))
          .select("file_name", "status", "error_message", "processed_at"),
          expect=_zero_rows, ref=":30-33"),
        # ---- §2 staging (ref :36-75) ----
        C("staging", "total_rows",
          lambda wh: wh.read("staging", "staging_churn")
          .agg(F.count(F.lit(1)).alias("total_rows")), ref=":41"),
        C("staging", "null_profile",
          lambda wh: _nulls_profile(
              wh.read("staging", "staging_churn"),
              ["customer_id", "gender", "churn_label",
               "monthly_charges_amount", "contract"]),
          expect=_all_null_counts_zero, ref=":44-51"),
        C("staging", "negative_values",
          lambda wh: wh.read("staging", "staging_churn").agg(
              _cnt_if(
                  (F.col("tenure_in_months").try_cast("double") < 0)
                  | (F.col("monthly_charges_amount").try_cast("double") < 0)
                  | (F.col("total_charges").try_cast("double") < 0)
              ).alias("negative_values")),
          expect=_scalar_zero, ref=":55-59"),
        C("staging", "duplicate_customer_ids",
          lambda wh: _dup_keys(wh.read("staging", "staging_churn"), "customer_id"),
          expect=_zero_rows, ref=":62-64"),
        C("staging", "gender_distribution",
          lambda wh: wh.read("staging", "staging_churn")
          .groupBy("gender").agg(F.count(F.lit(1)).alias("cnt")), ref=":67-71"),
        C("staging", "churn_label_distribution",
          lambda wh: wh.read("staging", "staging_churn")
          .groupBy("churn_label").agg(F.count(F.lit(1)).alias("cnt")), ref=":74-75"),
        # ---- §3 bronze (ref :78-127) ----
        C("bronze", "total_rows",
          lambda wh: wh.read("bronze", "churn_raw")
          .agg(F.count(F.lit(1)).alias("total_rows")), ref=":83"),
        C("bronze", "null_profile",
          lambda wh: _nulls_profile(
              wh.read("bronze", "churn_raw"),
              ["customer_id", "churn_label", "gender", "country"]),
          expect=_all_null_counts_zero, ref=":86-92"),
        C("bronze", "duplicate_customer_ids",
          lambda wh: _dup_keys(wh.read("bronze", "churn_raw"), "customer_id"),
          expect=_zero_rows, ref=":95-98"),
        C("bronze", "negative_values",
          lambda wh: wh.read("bronze", "churn_raw").agg(
              _cnt_if(
                  (F.col("tenure_in_months") < 0)
                  | (F.col("monthly_charges_amount") < 0)
                  | (F.col("total_charges") < 0)
              ).alias("invalid_numeric_rows")),
          expect=_scalar_zero, ref=":101-105"),
        C("bronze", "numeric_ranges",
          lambda wh: wh.read("bronze", "churn_raw").agg(
              F.min("tenure_in_months").alias("min_tenure"),
              F.max("tenure_in_months").alias("max_tenure"),
              F.min("monthly_charges_amount").alias("min_monthly"),
              F.max("monthly_charges_amount").alias("max_monthly"),
              F.min("total_charges").alias("min_total"),
              F.max("total_charges").alias("max_total")),
          ref=":108-117"),
        C("bronze", "churn_score_out_of_range",
          lambda wh: wh.read("bronze", "churn_raw").agg(
              _cnt_if(
                  (F.col("churn_score").try_cast("double") < 0)
                  | (F.col("churn_score").try_cast("double") > 100)
              ).alias("invalid_churn_score")),
          expect=_scalar_zero, ref=":120-122"),
        C("bronze", "churn_label_distribution",
          lambda wh: wh.read("bronze", "churn_raw")
          .groupBy("churn_label").agg(F.count(F.lit(1)).alias("cnt")), ref=":125-127"),
        # ---- §4 silver (ref :130-181) ----
        C("silver", "total_rows",
          lambda wh: wh.read("silver", "churn_raw")
          .agg(F.count(F.lit(1)).alias("total_rows")), ref=":135"),
        C("silver", "null_profile",
          lambda wh: _nulls_profile(
              wh.read("silver", "churn_raw"),
              ["customer_id", "gender", "churn_label", "monthly_charges_amount",
               "tenure_in_months", "contract", "payment_method"]),
          expect=_all_null_counts_zero, ref=":138-147"),
        C("silver", "negative_values",
          lambda wh: wh.read("silver", "churn_raw").agg(
              _cnt_if(
                  (F.col("tenure_in_months") < 0)
                  | (F.col("monthly_charges_amount") < 0)
                  | (F.col("total_charges") < 0)
              ).alias("invalid_rows")),
          expect=_scalar_zero, ref=":150-154"),
        C("silver", "gender_domain",
          lambda wh: wh.read("silver", "churn_raw")
          .groupBy("gender").agg(F.count(F.lit(1)).alias("cnt")),
          expect=lambda rows: all(
              r["gender"] in ("Male", "Female") for r in rows
          ), ref=":157-159"),
        C("silver", "duplicate_customer_ids",
          lambda wh: _dup_keys(wh.read("silver", "churn_raw"), "customer_id"),
          expect=_zero_rows, ref=":162-165"),
        C("silver", "numeric_ranges",
          lambda wh: wh.read("silver", "churn_raw").agg(
              F.min("tenure_in_months").alias("min_tenure"),
              F.max("tenure_in_months").alias("max_tenure"),
              F.min("monthly_charges_amount").alias("min_monthly"),
              F.max("monthly_charges_amount").alias("max_monthly")),
          ref=":168-175"),
        C("silver", "silver_le_bronze",
          lambda wh: wh.read("bronze", "churn_raw")
          .agg(F.count(F.lit(1)).alias("bronze_count"))
          .crossJoin(
              wh.read("silver", "churn_raw")
              .agg(F.count(F.lit(1)).alias("silver_count")))
          .select("bronze_count", "silver_count",
                  (F.col("bronze_count") - F.col("silver_count")).alias("rows_cleaned")),
          expect=lambda rows: rows[0]["silver_count"] <= rows[0]["bronze_count"],
          ref=":178-181"),
        # ---- §5 gold dims (ref :184-237) ----
        C("gold_dims", "dim_row_counts",
          lambda wh: _dim_counts(wh), ref=":189-199"),
        C("gold_dims", "dim_customer_nulls",
          lambda wh: _nulls_profile(
              wh.read("gold", "dim_customer"), ["customer_id", "gender", "city"]),
          expect=_all_null_counts_zero, ref=":202-207"),
        C("gold_dims", "dim_customer_dup_ids",
          lambda wh: _dup_keys(wh.read("gold", "dim_customer"), "customer_id"),
          expect=_zero_rows, ref=":210-213"),
        C("gold_dims", "dim_contract_values",
          lambda wh: wh.read("gold", "dim_contract")
          .groupBy("contract_type").agg(F.count(F.lit(1)).alias("cnt")), ref=":216-218"),
        C("gold_dims", "dim_payment_values",
          lambda wh: wh.read("gold", "dim_payment_method")
          .groupBy("payment_method").agg(F.count(F.lit(1)).alias("cnt")), ref=":221-223"),
        C("gold_dims", "dim_reason_has_na_default",
          lambda wh: wh.read("gold", "dim_churn_reason")
          .groupBy("churn_reason").agg(F.count(F.lit(1)).alias("cnt"))
          .orderBy(F.desc("cnt")), ref=":226-229"),
        C("gold_dims", "dim_services_nulls",
          lambda wh: _nulls_profile(
              wh.read("gold", "dim_services"),
              ["phone_service", "internet_service", "streaming_tv"]),
          ref=":232-237"),
        # ---- §6 fact (ref :240-296) ----
        C("fact", "main_dq_check",
          lambda wh: wh.read("gold", "fact_customer_churn").agg(
              _cnt_if(
                  F.col("customer_key").isNull()
                  | F.col("contract_key").isNull()
                  | F.col("service_key").isNull()
                  | (F.col("monthly_charges") < 0)
                  | (F.col("total_charges") < 0)
                  | (F.col("churn_score") < 0)
                  | (F.col("churn_score") > 100)
              ).alias("invalid_fact_rows")),
          expect=_scalar_zero, ref=":245-253"),
        C("fact", "orphan_customers",
          lambda wh: _orphans(wh, "dim_customer", "customer_key"),
          expect=_scalar_zero, ref=":256-259"),
        C("fact", "orphan_contracts",
          lambda wh: _orphans(wh, "dim_contract", "contract_key"),
          expect=_scalar_zero, ref=":262-265"),
        C("fact", "orphan_services",
          lambda wh: _orphans(wh, "dim_services", "service_key"),
          expect=_scalar_zero, ref=":268-271"),
        C("fact", "numeric_ranges",
          lambda wh: wh.read("gold", "fact_customer_churn").agg(
              F.min("tenure_months").alias("min_tenure"),
              F.max("tenure_months").alias("max_tenure"),
              F.min("monthly_charges").alias("min_monthly"),
              F.max("monthly_charges").alias("max_monthly"),
              F.min("total_charges").alias("min_total"),
              F.max("total_charges").alias("max_total"),
              F.min("churn_score").alias("min_score"),
              F.max("churn_score").alias("max_score"),
              F.min("cltv").alias("min_cltv"),
              F.max("cltv").alias("max_cltv")),
          ref=":274-285"),
        C("fact", "churn_flag_distribution",
          lambda wh: wh.read("gold", "fact_customer_churn")
          .groupBy("churn_flag").agg(F.count(F.lit(1)).alias("cnt")), ref=":288-290"),
        C("fact", "duplicate_customer_keys",
          lambda wh: _dup_keys(wh.read("gold", "fact_customer_churn"), "customer_key"),
          expect=_zero_rows, ref=":293-296"),
        # ---- §7 consistency (ref :299-325) ----
        C("consistency", "unique_customers_per_layer",
          lambda wh: _layer_customers(wh),
          expect=lambda rows: (
              rows[0]["silver_unique_customers"] <= rows[0]["bronze_unique_customers"]
              and rows[0]["gold_fact_rows"] <= rows[0]["gold_dim_customers"]
          ), ref=":302-307"),
        C("consistency", "silver_customers_missing_from_fact",
          lambda wh: _missing_from_fact(wh),
          expect=_zero_rows, ref=":310-315"),
        C("consistency", "layer_row_summary",
          lambda wh: _layer_summary(wh), ref=":318-325"),
    ]
    return checks


def _footer_counts(wh: Warehouse, label_col: str, tables) -> DataFrame:
    """``(label, row_count)`` per ``(label, layer, table)``, counted
    from footers (``Warehouse.row_count``). A VALUES list collects
    without a Spark job, where a frame built by ``createDataFrame``
    runs one; both columns are non-null, as a ``count`` is."""
    values = ", ".join(
        f"('{label}', {wh.row_count(layer, table)}L)" for label, layer, table in tables
    )
    return wh.spark.sql(f"SELECT * FROM VALUES {values} AS t({label_col}, row_count)")


def _dim_counts(wh: Warehouse) -> DataFrame:
    return _footer_counts(wh, "table_name", [
        (t, "gold", t)
        for t in ("dim_customer", "dim_contract", "dim_payment_method",
                  "dim_services", "dim_churn_reason", "fact_customer_churn")
    ])


def _orphans(wh: Warehouse, dim: str, key: str) -> DataFrame:
    fact = wh.read("gold", "fact_customer_churn").filter(F.col(key).isNotNull())
    d = wh.read("gold", dim).select(key)
    return fact.join(F.broadcast(d), key, "left_anti").agg(
        F.count(F.lit(1)).alias(f"orphan_{dim}")
    )


def _layer_customers(wh: Warehouse) -> DataFrame:
    return (
        wh.read("bronze", "churn_raw")
        .agg(F.countDistinct("customer_id").alias("bronze_unique_customers"))
        .crossJoin(
            wh.read("silver", "churn_raw")
            .agg(F.countDistinct("customer_id").alias("silver_unique_customers")))
        .crossJoin(
            wh.read("gold", "dim_customer")
            .agg(F.countDistinct("customer_id").alias("gold_dim_customers")))
        .withColumn(
            "gold_fact_rows",
            F.lit(wh.row_count("gold", "fact_customer_churn")).cast("long"))
    )


def _missing_from_fact(wh: Warehouse) -> DataFrame:
    s = wh.read("silver", "churn_raw").select("customer_id")
    c = wh.read("gold", "dim_customer").select("customer_id", "customer_key")
    f = wh.read("gold", "fact_customer_churn").select("customer_key")
    return (
        s.join(F.broadcast(c), "customer_id", "left")
        .join(F.broadcast(f), "customer_key", "left_anti")
        .select("customer_id")
    )


def _layer_summary(wh: Warehouse) -> DataFrame:
    return _footer_counts(wh, "layer", [
        ("Staging", "staging", "staging_churn"),
        ("Bronze", "bronze", "churn_raw"),
        ("Silver", "silver", "churn_raw"),
        ("Gold Fact", "gold", "fact_customer_churn"),
    ])


def run_corpus(wh: Warehouse, sections: list[str] | None = None) -> dict:
    """Run every applicable check; returns
    {check: {"rows": [...], "passed": bool|None}}. Checks over absent
    tables are skipped (e.g. before the first gold build)."""
    results: dict = {}
    for chk in all_checks():
        if sections and chk.section not in sections:
            continue
        key = f"{chk.section}.{chk.name}"
        try:
            rows = chk.build(wh).collect()
        except Exception as e:  # table missing etc.
            results[key] = {"rows": None, "passed": None, "skipped": str(e)[:120]}
            continue
        passed = chk.expect(rows) if chk.expect else None
        results[key] = {"rows": [r.asDict() for r in rows], "passed": passed}
    return results


def assert_corpus(wh: Warehouse, sections: list[str] | None = None) -> dict:
    """Gate mode: every check with an expectation must pass."""
    results = run_corpus(wh, sections)
    failing = {
        k: v for k, v in results.items() if v["passed"] is False
    }
    if failing:
        raise AssertionError(f"DQ corpus failures: {sorted(failing)}")
    return results
