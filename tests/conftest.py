"""Shared fixtures: one SparkSession per test session + synthetic
churn ingest files exercising every DQ rule (FIXTURES.md §5)."""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from teleco_etl_pipeline_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


def load_entry():
    """The `__spark_entry__` module, loaded from its file."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("__spark_entry__", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="session")
def catalog_plans(spark, sf_dir):
    """Every ``__spark_entry__.queries()`` plan, built once per
    session: name -> (columns, executed-plan string, build error).
    Only these strings are kept, not the live DataFrames."""
    plans = {}
    for name, fn in load_entry().queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            plans[name] = (df.columns, plan, None)
        except Exception as e:  # noqa: BLE001
            plans[name] = ([], "", f"{type(e).__name__}: {e}")
    return plans


# 10 clean IBM-Telco-shaped rows + 1 of each dirty case.
CSV_HEADER = (
    "Customer ID,Gender,Senior Citizen,Partner,Dependents,Country,State,City,"
    "Zip Code,Lat Long,Latitude,Longitude,Phone Service,Multiple Lines,"
    "Internet Service,Online Security,Online Backup,Device Protection,"
    "Tech Support,Streaming TV,Streaming Movies,Paperless Billing,"
    "Payment Method,Contract,Tenure Months,Monthly Charges,Total Charges,"
    "Churn Label,Churn Value,Churn Score,CLTV,Churn Reason"
)


def _row(
    cid: str,
    gender: str = "Male",
    tenure: str = "12",
    monthly: str = "53.85",
    total: str = "646.2",
    contract: str = "Month-to-month",
    churn: str = "No",
    churn_value: str = "0",
    score: str = "86",
    cltv: str = "3239",
    reason: str = "",
    internet: str = "DSL",
    payment: str = "Electronic check",
    services: tuple[str, ...] | None = None,
) -> str:
    """One ingest row; ``services`` overrides the nine service columns
    (an empty string reads as NULL)."""
    if services is None:
        services = ("Yes", "No", internet, "Yes", "No", "No", "No", "No", "No")
    return (
        f"{cid},{gender},No,Yes,No,United States,California,Los Angeles,"
        f"90003,\"33.96,-118.27\",33.964131,-118.272783,"
        f"{','.join(services)},Yes,"
        f"{payment},{contract},{tenure},{monthly},{total},"
        f"{churn},{churn_value},{score},{cltv},{reason}"
    )


def write_ingest_csv(path: str, include_dirty: bool = True) -> dict:
    """Returns expected counts: {clean, dirty}."""
    rows = [_row(f"1000-CLEAN{i}", churn="Yes" if i % 3 == 0 else "No",
                 churn_value="1" if i % 3 == 0 else "0",
                 reason="Competitor made better offer" if i % 3 == 0 else "")
            for i in range(10)]
    dirty = []
    if include_dirty:
        dirty = [
            _row(""),  # missing id
            _row("2000-NEGTEN", tenure="-5"),  # negative tenure
            _row("2001-BADTEN", tenure="abc"),  # non-numeric tenure
            _row("2002-NEGCHG", monthly="-10.5"),  # negative charges
            _row("2003-BADGEN", gender="Alien"),  # invalid gender
            _row("2004-DUP"),  # duplicate pair (both flagged)
            _row("2004-DUP", tenure="13"),
        ]
    with open(path, "w") as f:
        f.write(CSV_HEADER + "\n")
        f.write("\n".join(rows + dirty) + "\n")
    return {"clean": len(rows), "dirty": len(dirty)}
