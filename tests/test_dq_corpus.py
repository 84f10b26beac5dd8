"""The ported 40-check DQ corpus must fully pass after a clean
pipeline run, and catch seeded violations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans import dq_corpus
from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse
from tests.conftest import write_ingest_csv


@pytest.fixture(scope="module")
def built_wh(tmp_path_factory):
    from teleco_etl_pipeline_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    tmp = tmp_path_factory.mktemp("dq")
    landing = tmp / "landing"
    landing.mkdir()
    write_ingest_csv(str(landing / "churn.csv"))
    run_warehouse(spark, str(tmp / "wh"), str(landing), run_date="2026-08-13")
    return Warehouse(spark, str(tmp / "wh"))


def test_corpus_green_after_clean_run(built_wh):
    results = dq_corpus.assert_corpus(built_wh)
    # every section ran
    sections = {k.split(".")[0] for k in results}
    assert sections == {
        "metadata", "staging", "bronze", "silver", "gold_dims", "fact", "consistency"
    }
    # gated checks actually evaluated (not all skipped)
    gated = [v for v in results.values() if v["passed"] is not None]
    assert len(gated) >= 15
    assert all(v["passed"] for v in gated)
    # profile checks returned data
    assert results["fact.churn_flag_distribution"]["rows"]
    assert results["consistency.layer_row_summary"]["rows"][1]["layer"] == "Bronze"
    # §1 reads the file registry: one archived file, no error, none pending
    assert results["metadata.files_by_status"]["rows"] == [
        {"status": "ARCHIVED", "file_count": 1}
    ]
    (status_row,) = results["metadata.file_status_report"]["rows"]
    assert status_row["error_flag"] == "Clean"
    assert results["metadata.files_needing_reprocess"] == {"rows": [], "passed": True}


def test_corpus_catches_violation(built_wh):
    # seed a duplicate fact row → duplicate_customer_keys + fact dup check fail
    wh = built_wh
    fact = wh.read("gold", "fact_customer_churn")
    corrupted = fact.unionByName(fact.limit(1))
    wh.overwrite_safe(corrupted, "gold", "fact_customer_churn")
    try:
        with pytest.raises(AssertionError, match="duplicate_customer_keys"):
            dq_corpus.assert_corpus(wh, sections=["fact"])
    finally:
        wh.overwrite_safe(
            wh.read("gold", "fact_customer_churn").dropDuplicates(["customer_key"]),
            "gold",
            "fact_customer_churn",
        )


def test_row_count_checks_read_footers(built_wh):
    """The pure row-count checks give the rows and column types a Spark
    count gives, and start no Spark job: they sum footer row counts."""
    from pyspark.sql import types as T

    wh = built_wh
    sc = wh.spark.sparkContext
    checks = {c.name: c for c in dq_corpus.all_checks()}
    gold = ("dim_customer", "dim_contract", "dim_payment_method",
            "dim_services", "dim_churn_reason", "fact_customer_churn")
    cases = {
        "dim_row_counts": ("table_name", [(t, "gold", t) for t in gold]),
        "layer_row_summary": ("layer", [
            ("Staging", "staging", "staging_churn"),
            ("Bronze", "bronze", "churn_raw"),
            ("Silver", "silver", "churn_raw"),
            ("Gold Fact", "gold", "fact_customer_churn"),
        ]),
    }
    for name, (label_col, tables) in cases.items():
        sc.setLocalProperty("spark.jobGroup.id", name)
        try:
            df = checks[name].build(wh)
            rows = [r.asDict() for r in df.collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(name) == [], name
        assert rows == [
            {label_col: label, "row_count": wh.read(layer, table).count()}
            for label, layer, table in tables
        ]
        assert df.schema == T.StructType([
            T.StructField(label_col, T.StringType(), False),
            T.StructField("row_count", T.LongType(), False),
        ])
    layers = checks["unique_customers_per_layer"].build(wh)
    assert layers.schema["gold_fact_rows"] == T.StructField(
        "gold_fact_rows", T.LongType(), False
    )
    fact_rows = wh.read("gold", "fact_customer_churn").count()
    assert layers.collect()[0]["gold_fact_rows"] == fact_rows
