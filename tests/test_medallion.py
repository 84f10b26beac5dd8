"""End-to-end medallion pipeline tests over synthetic churn files:
quarantine split, bronze upsert subset, silver defaults, gold star
schema, idempotency, reprocessing, and the quality gates."""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from teleco_etl_pipeline_spark.catalog import _BUSINESS_FIELDS, SERVICE_COLS, Warehouse
from teleco_etl_pipeline_spark.plans import medallion, quality
from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse
from teleco_etl_pipeline_spark.plans.reprocess import watch_and_reprocess
from teleco_etl_pipeline_spark.sources.files import md5_file
from teleco_etl_pipeline_spark.sources.state import FileRegistry
from tests.conftest import CSV_HEADER, _row, write_ingest_csv


@pytest.fixture()
def staged(tmp_path, spark):
    staging_dir = tmp_path / "landing"
    staging_dir.mkdir()
    counts = write_ingest_csv(str(staging_dir / "churn_day1.csv"))
    wh_root = str(tmp_path / "warehouse")
    return spark, str(staging_dir), wh_root, counts


def test_full_pipeline_run(staged):
    spark, staging_dir, wh_root, counts = staged
    report = run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")
    assert report["status"] == "SUCCESS"
    # 6 dirty rows rejected (missing id, neg tenure, bad tenure, neg
    # charges, bad gender, dup pair counts as 2)
    assert report["staging"]["rejected"] == counts["dirty"]
    assert report["staging"]["staged"] == counts["clean"]
    assert report["bronze"] == {"inserted": 10, "updated": 0, "existing": 0}
    assert report["silver_rows"] == 10
    assert report["gold_fact_rows"] == 10

    wh = Warehouse(spark, wh_root)
    fact = wh.read("gold", "fact_customer_churn")
    # every fact row resolves all dim keys (incl. null-safe services)
    assert fact.filter(F.col("service_key").isNull()).count() == 0
    assert fact.filter(F.col("contract_key").isNull()).count() == 0
    # churn flag derivation
    assert fact.filter(F.col("churn_flag") == "1").count() == 4  # i%3==0 of 10
    # contract normalization reached the dim
    dim_ct = wh.read("gold", "dim_contract")
    assert dim_ct.filter(F.col("contract_type") == "Month-to-Month").count() == 1
    # file archived + metadata terminal
    assert report["files"][0]["status"] == "ARCHIVED"
    assert os.path.exists(os.path.join(staging_dir, "archive"))
    # bronze is typed as the catalog's business fields plus audit columns
    bronze = wh.read("bronze", "churn_raw").schema
    assert [(f.name, f.dataType) for f in bronze.fields] == [
        *_BUSINESS_FIELDS,
        ("created_at", T.TimestampType()),
        ("updated_at", T.TimestampType()),
        ("record_type", T.StringType()),
    ]


def test_pipeline_idempotent_rerun(staged):
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13", archive=False)
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "idempotent_rerun")
    try:
        report2 = run_warehouse(
            spark, wh_root, staging_dir, run_date="2026-08-14", archive=False
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # same files, same checksums → skipped entirely (C5), decided on
    # the driver without a single Spark job
    assert report2["status"] == "SKIPPED_NO_NEW_DATA"
    assert sc.statusTracker().getJobIdsForGroup("idempotent_rerun") == []

    wh = Warehouse(spark, wh_root)
    assert wh.read("gold", "fact_customer_churn").count() == 10
    assert (
        wh.read("gold", "fact_customer_churn")
        .groupBy("customer_key")
        .count()
        .filter("count > 1")
        .count()
        == 0
    )


def test_bronze_upsert_column_subset(staged, tmp_path):
    """Day-2 file updates tenure for one customer; country must keep
    its old value (not in the ON CONFLICT subset) while tenure
    updates."""
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")

    day2 = os.path.join(staging_dir, "churn_day2.csv")
    with open(day2, "w") as f:
        f.write(CSV_HEADER + "\n")
        row = _row("1000-CLEAN0", tenure="99").replace("United States", "Canada")
        f.write(row + "\n")
    report = run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-14")
    # anti-dedup M6 drops rows already in bronze… but only identical
    # keys; CLEAN0 exists → dropped from staging, so bronze unchanged
    assert report["staging"]["dup_vs_bronze"] == 1

    wh = Warehouse(spark, wh_root)
    row = wh.read("bronze", "churn_raw").filter(
        F.col("customer_id") == "1000-CLEAN0"
    ).collect()[0]
    assert row["tenure_in_months"] == 12  # unchanged: dedup preceded upsert
    assert row["country"] == "United States"


def _stage(wh, rows):
    """Write CSV rows straight into the staging table (no M6 dedup)."""
    import io

    import pandas as pd

    from teleco_etl_pipeline_spark.functions.scalars import normalize_columns

    pdf = pd.read_csv(io.StringIO("\n".join([CSV_HEADER] + rows)), dtype=str)
    df = normalize_columns(wh.spark.createDataFrame(pdf.where(pdf.notna())))
    wh.write(df, "staging", "staging_churn")


def test_bronze_direct_upsert_updates_subset(spark, tmp_path):
    """Drive bronze_upsert directly (no M6 dedup) to verify the ON
    CONFLICT column subset."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _stage(wh, [_row("A-1", tenure="10"), _row("A-2")])
    medallion.bronze_upsert(wh)
    _stage(wh, [_row("A-1", tenure="99").replace("United States", "Canada")])
    stats = medallion.bronze_upsert(wh)
    assert stats == {"inserted": 0, "updated": 1, "existing": 1}

    row = wh.read("bronze", "churn_raw").filter(F.col("customer_id") == "A-1").collect()[0]
    assert row["tenure_in_months"] == 99  # updated (in subset)
    assert row["country"] == "United States"  # kept (NOT in subset)
    assert row["record_type"] == "updated"
    keep = wh.read("bronze", "churn_raw").filter(F.col("customer_id") == "A-2").collect()[0]
    assert keep["record_type"] == "upserted"


def test_bronze_upsert_survives_interrupted_swap(spark, tmp_path):
    """A crash between safe_overwrite's two renames leaves bronze only
    at its '.old' backup. The next upsert must merge into the restored
    table, not recreate bronze from the new rows alone."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    _stage(wh, [_row("c1"), _row("c2")])
    medallion.bronze_upsert(wh)
    path = wh.path("bronze", "churn_raw")
    os.rename(path, path + ".old")  # simulate the crash window

    _stage(wh, [_row("c3")])
    stats = medallion.bronze_upsert(wh)
    assert stats == {"inserted": 1, "updated": 0, "existing": 2}
    ids = sorted(r["customer_id"] for r in wh.read("bronze", "churn_raw").collect())
    assert ids == ["c1", "c2", "c3"]
    assert not os.path.exists(path + ".old")


def test_silver_defaults_and_gold_scrub(staged):
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")
    wh = Warehouse(spark, wh_root)
    silver = wh.read("silver", "churn_raw")
    # churn_reason NULL → 'n/a' (silver SQL :75)
    assert silver.filter(F.col("churn_reason").isNull()).count() == 0
    assert silver.filter(F.col("churn_reason") == "n/a").count() == 6

    fact = wh.read("gold", "fact_customer_churn")
    # churn_score '86' scrubbed to decimal; cltv int
    r = fact.select(F.min("churn_score"), F.max("cltv")).collect()[0]
    assert float(r[0]) == 86.0 and r[1] == 3239


def test_circuit_breaker_trips(spark, tmp_path):
    rows = [_row(f"OK-{i}") for i in range(5)] + [
        _row(f"BAD-{i}", tenure="-1") for i in range(5)
    ]
    import io

    import pandas as pd

    pdf = pd.read_csv(io.StringIO("\n".join([CSV_HEADER] + rows)), dtype=str)
    from teleco_etl_pipeline_spark.functions.scalars import normalize_columns

    df = normalize_columns(spark.createDataFrame(pdf.where(pdf.notna())))
    rules = quality.churn_rules(df)
    with pytest.raises(quality.CircuitBreakerTripped):
        quality.check_circuit_breaker(df, rules)  # 50% > 10%


def test_reprocess_fixed_file(staged, tmp_path):
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")
    wh = Warehouse(spark, wh_root)

    fixed_dir = tmp_path / "fixed_data"
    fixed_dir.mkdir()
    fix_path = str(fixed_dir / "churn_99_fixed.csv")
    with open(fix_path, "w") as f:
        f.write(CSV_HEADER + "\n")
        f.write(_row("1000-CLEAN1", tenure="77", churn="Yes", churn_value="1") + "\n")
        f.write(_row("2003-BADGEN", gender="Martian") + "\n")  # still invalid

    [report] = watch_and_reprocess(
        wh, str(fixed_dir), quarantine_dir=str(tmp_path / "q"), run_date="2026-08-14"
    )
    assert report["status"] == "SUCCESS"
    assert (report["input"], report["rejected"], report["upserted"]) == (2, 1, 1)

    silver = wh.read("silver", "churn_raw")
    assert silver.filter(F.col("customer_id") == "1000-CLEAN1").collect()[0][
        "tenure_in_months"
    ] == 77
    # gold fact rebuilt for the fixed customer
    fact = wh.read("gold", "fact_customer_churn")
    dim_c = wh.read("gold", "dim_customer")
    k = dim_c.filter(F.col("customer_id") == "1000-CLEAN1").collect()[0]["customer_key"]
    assert fact.filter(F.col("customer_key") == k).collect()[0]["tenure_months"] == 77


def test_fix_survives_next_run(staged, tmp_path, monkeypatch):
    """The fix loop, driven through its file sensor: a correction to a
    loaded customer and to a rejected one reaches bronze, silver and
    gold, and a next daily run over an unrelated file keeps it. A key
    in two files keeps the later file's row, and the pass writes each
    table once (the fact twice: the fixed rows' delete, then the
    build). Silver stays the clean projection of bronze, one row per
    fact row and dim_customer row."""
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")
    wh = Warehouse(spark, wh_root)

    fixed_dir = tmp_path / "fixed_data"
    fixed_dir.mkdir()
    _write_csv(
        fixed_dir / "churn_99_fixed.csv",
        [_row("1000-CLEAN1", tenure="77"), _row("2000-NEGTEN", tenure="5")],
    )
    _write_csv(  # still outside the contract domain: rejected whole
        fixed_dir / "churn_98_rejected.csv", [_row("2003-BADGEN", contract="Three year")]
    )
    _write_csv(fixed_dir / "churn_99_fixed_2.csv", [_row("1000-CLEAN1", tenure="88")])
    writes = []

    def recorded(write):
        def call(self, df, layer, table, *args, **kwargs):
            writes.append((layer, table))
            return write(self, df, layer, table, *args, **kwargs)

        return call

    with monkeypatch.context() as m:
        for name in ("write", "overwrite_safe", "write_zordered"):
            m.setattr(Warehouse, name, recorded(getattr(Warehouse, name)))
        reports = watch_and_reprocess(
            wh, str(fixed_dir), quarantine_dir=str(tmp_path / "q"), run_date="2026-08-14"
        )
    assert [(r["file"], r["status"], r.get("upserted")) for r in reports] == [
        ("churn_98_rejected.csv", "ALL_REJECTED", None),
        ("churn_99_fixed.csv", "SUCCESS", 2),
        ("churn_99_fixed_2.csv", "SUCCESS", 1),
    ]
    dims = ("dim_contract", "dim_payment_method", "dim_churn_reason", "dim_customer",
            "dim_services")
    assert Counter(writes) == {
        ("bronze", "churn_raw"): 1,
        ("silver", "churn_raw"): 1,
        ("gold", "fact_customer_churn"): 2,
        **{("gold", dim): 1 for dim in dims},
    }
    archived = sorted(os.listdir(fixed_dir / "archive"))
    assert [re.sub(r"\d{8}_\d{6}", "TS", a) for a in archived] == [
        "churn_99_fixed_2_archived_TS.csv", "churn_99_fixed_archived_TS.csv"
    ]
    assert sorted(os.listdir(fixed_dir)) == ["archive", "churn_98_rejected.csv"]

    def assert_fix_everywhere(n):
        fixed = {"1000-CLEAN1": 88, "2000-NEGTEN": 5}
        bronze = wh.read("bronze", "churn_raw")
        silver = wh.read("silver", "churn_raw")
        dim_c = wh.read("gold", "dim_customer")
        fact = wh.read("gold", "fact_customer_churn").join(dim_c, "customer_key")
        for df, col in ((bronze, "tenure_in_months"), (silver, "tenure_in_months"),
                        (fact, "tenure_months")):
            got = df.filter(F.col("customer_id").isin(*fixed)).collect()
            assert {r["customer_id"]: r[col] for r in got} == fixed
        got = silver.filter(F.col("customer_id").isin(*fixed)).collect()
        assert [r["churn_reason"] for r in got] == ["n/a", "n/a"]

        projection = bronze.select(
            *[F.coalesce(c, F.lit("n/a")).alias(c) if c == "churn_reason" else c
              for c in medallion.BUSINESS_COLS]
        )
        clean, _ = quality.split_good_bad(
            projection, quality.churn_rules(projection, check_domains=False)
        )
        assert sorted(map(tuple, silver.collect())) == sorted(map(tuple, clean.collect()))
        assert (silver.count(), fact.count(), dim_c.count()) == (n, n, n)

    assert_fix_everywhere(11)
    _write_csv(os.path.join(staging_dir, "churn_day2.csv"), [_row("3000-NEW")])
    report = run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-15")
    assert report["status"] == "SUCCESS" and report["staging"]["staged"] == 1
    assert_fix_everywhere(12)


def test_gold_quality_gate_catches_orphans(staged):
    """Pins the gold gate's dict and error text: orphans are fact rows
    whose customer_key is missing from dim_customer, a NULL key
    included."""
    spark, staging_dir, wh_root, _ = staged
    run_warehouse(spark, wh_root, staging_dir, run_date="2026-08-13")
    wh = Warehouse(spark, wh_root)
    assert medallion.gold_quality_gate(wh) == {
        "orphan_customer_keys": 0,
        "negative_tenure": 0,
        "negative_charges": 0,
    }
    dim = wh.read("gold", "dim_customer")
    wh.overwrite_safe(dim.filter(F.col("customer_key") <= 2), "gold", "dim_customer")
    fact = wh.read("gold", "fact_customer_churn")
    one = fact.filter(F.col("customer_key") == 1)
    key_type = fact.schema["customer_key"].dataType
    tenure_type = fact.schema["tenure_months"].dataType
    bad = one.withColumn("customer_key", F.lit(None).cast(key_type)).unionByName(
        one.withColumn("tenure_months", F.lit(-3).cast(tenure_type))
    )
    wh.overwrite_safe(fact.unionByName(bad), "gold", "fact_customer_churn")
    # 8 fact rows lost their dim row, plus the NULL-key row
    expected = "gold DQ gate failed: {'orphan_customer_keys': 9, 'negative_tenure': 1}"
    with pytest.raises(AssertionError, match=re.escape(expected) + "$"):
        medallion.gold_quality_gate(wh)


def _layer_frame(spark):
    """2 NULL keys, one key three times, one twice, one negative
    tenure and one negative charge."""
    rows = (
        [(None, 1, 10.0)] * 2
        + [("T", 1, 10.0)] * 3
        + [("D", 1, 10.0)] * 2
        + [("U1", -1, 10.0), ("U2", 1, -5.0), ("U3", 1, 10.0)]
    )
    return spark.createDataFrame(
        rows, "customer_id string, tenure_in_months int, monthly_charges_amount double"
    )


def test_run_layer_checks_counts_keys_not_rows(spark):
    """Duplicates count keys, not rows; the repeated NULL key is one
    duplicate key. The dict order is the order the error prints."""
    df = _layer_frame(spark)
    expected = {
        "null_key": 2,
        "negative_tenure": 1,
        "negative_charges": 1,
        "duplicate_keys": 3,
    }
    got = quality.run_layer_checks(df)
    assert list(got.items()) == list(expected.items())
    with pytest.raises(AssertionError, match=re.escape(f"DQ checks failed: {expected}") + "$"):
        quality.assert_checks_pass(df)
    clean = df.filter(F.col("customer_id") == "U3")
    assert quality.assert_checks_pass(clean) == dict.fromkeys(expected, 0)


def test_error_rate_without_rules(spark):
    df = _layer_frame(spark)
    assert quality.error_rate(df, []) == (10, 0, 0.0)
    assert quality.error_rate(df.limit(0), []) == (0, 0, 0.0)


def _write_csv(path, rows):
    with open(path, "w") as f:
        f.write(CSV_HEADER + "\n" + "\n".join(rows) + "\n")


def _meta(wh):
    return FileRegistry(wh).files


def test_failed_run_marks_files_failed_and_retries(spark, tmp_path, monkeypatch):
    """The failure path: rows that trip the bronze DQ gate halt the
    run before bronze changes, on the create path and on the merge
    path. Every file of the run ends FAILED with the error text and
    keeps its checksum; a later run retries them (FAILED is never
    skipped) and archives them once the data is fixed, with no repair
    of bronze in between; archiving clears every file's error text.

    Staging applies the same rules as the gate, so the test removes
    the staging Negative Tenure rule to let the bad rows reach the
    gate, as a staging rule gap would."""
    landing = tmp_path / "landing"
    landing.mkdir()
    wh_root = str(tmp_path / "wh")
    wh = Warehouse(spark, wh_root)
    staging_rules = quality.churn_rules

    def write_day(names, bad_tenure):
        for name in names:
            prefix = name[4].upper()
            _write_csv(
                landing / name, [_row(f"{prefix}-1", tenure=bad_tenure), _row(f"{prefix}-2")]
            )
        return {n: md5_file(str(landing / n)) for n in names}

    def bronze_rows():
        if not wh.exists("bronze", "churn_raw"):
            return None
        return sorted(map(tuple, wh.read("bronze", "churn_raw").collect()))

    def fail_then_retry(names, run):
        before = bronze_rows()
        checksums = write_day(names, "-5")
        monkeypatch.setattr(
            quality,
            "churn_rules",
            lambda df, **kw: [
                r for r in staging_rules(df, **kw) if r.reason != "Negative Tenure"
            ],
        )
        with pytest.raises(AssertionError, match="negative_tenure"):
            run_warehouse(spark, wh_root, str(landing), run_id=f"run_{run}")
        monkeypatch.undo()
        assert bronze_rows() == before

        meta = _meta(wh)
        for name in names:
            r = meta[name]
            assert r["status"] == "FAILED"
            assert "DQ checks failed" in r["error_message"]
            assert "negative_tenure" in r["error_message"]
            assert r["checksum_md5"] == checksums[name]
            assert r["file_size_bytes"] == os.path.getsize(landing / name)
            assert r["run_id"] == f"run_{run}"

        checksums = write_day(names, "7")
        report = run_warehouse(
            spark, wh_root, str(landing), run_id=f"run_{run + 1}", run_date="2026-08-14"
        )
        assert report["status"] == "SUCCESS"
        assert report["files"] == [{"file": n, "status": "ARCHIVED"} for n in names]
        assert report["staging"]["staged"] == 4
        meta = _meta(wh)
        for name in names:
            assert (meta[name]["status"], meta[name]["checksum_md5"], meta[name]["run_id"]) == (
                "ARCHIVED",
                checksums[name],
                f"run_{run + 1}",
            )
        assert all(r["error_message"] is None for r in meta.values())
        return report

    # Create path: no bronze yet, and none after the failed run.
    assert fail_then_retry(["day_a.csv", "day_b.csv"], 1)["gold_fact_rows"] == 4
    # Merge path, over the bronze the retry above created.
    assert fail_then_retry(["day_c.csv", "day_d.csv"], 3)["gold_fact_rows"] == 8


def test_dim_keys_dense_stable_and_null_safe(spark, tmp_path):
    """Pins the gold dims' surrogate keys over two runs: dense 1..n,
    new values numbered from the current max in value order, run 1's
    keys unchanged by run 2, one dim_services row for all-NULL
    services, and no new rows from a re-run over the same silver."""
    landing = tmp_path / "landing"
    landing.mkdir()
    wh_root = str(tmp_path / "wh")
    no_services = ("",) * 9

    _write_csv(
        landing / "day1.csv",
        [
            _row("C-03", contract="Two year", payment="Mailed check",
                 internet="Fiber optic"),
            _row("C-01", churn="Yes", churn_value="1",
                 reason="Competitor made better offer"),
            _row("C-02", contract="One year", services=no_services),
        ],
    )
    report = run_warehouse(
        spark, wh_root, str(landing), run_date="2026-08-13", archive=False
    )
    wh = Warehouse(spark, wh_root)
    dim_specs = [
        ("dim_contract", "contract_key", ["contract_type"]),
        ("dim_payment_method", "payment_method_key", ["payment_method"]),
        ("dim_churn_reason", "churn_reason_key", ["churn_reason"]),
        ("dim_customer", "customer_key", ["customer_id"]),
        ("dim_services", "service_key", SERVICE_COLS),
    ]

    def assert_report_counts_on_disk(report):
        """Every stage reports the rows its write left on disk."""
        rows = lambda layer, table: wh.read(layer, table).count()  # noqa: E731
        assert report["gold_dims"] == {t: rows("gold", t) for t, _, _ in dim_specs}
        assert report["gold_fact_rows"] == rows("gold", "fact_customer_churn")
        assert report["silver_rows"] == rows("silver", "churn_raw")
        assert report["staging"]["staged"] == rows("staging", "staging_churn")

    def dims():
        out = {}
        for table, key, cols in dim_specs:
            rows = wh.read("gold", table).collect()
            out[table] = {
                r[key]: (r[cols[0]] if len(cols) == 1 else tuple(r[c] for c in cols))
                for r in rows
            }
            assert len(out[table]) == len(rows)  # keys unique
            assert sorted(out[table]) == list(range(1, len(rows) + 1))  # dense
        return out

    assert_report_counts_on_disk(report)
    run1 = dims()
    assert run1["dim_contract"] == {
        1: "Month-to-Month", 2: "One year", 3: "Two year"
    }
    assert run1["dim_payment_method"] == {1: "Electronic check", 2: "Mailed check"}
    assert run1["dim_churn_reason"] == {1: "Competitor made better offer", 2: "n/a"}
    assert run1["dim_customer"] == {1: "C-01", 2: "C-02", 3: "C-03"}
    assert len(run1["dim_services"]) == 3

    _write_csv(
        landing / "day2.csv",
        [
            _row("C-00", churn="Yes", churn_value="1", internet="No",
                 payment="Bank transfer (automatic)",
                 reason="Attitude of support person"),
            _row("C-01", churn="Yes", churn_value="1",
                 reason="Competitor made better offer"),
            _row("C-04", contract="Two year", payment="Credit card (automatic)",
                 services=no_services),
        ],
    )
    report = run_warehouse(
        spark, wh_root, str(landing), run_date="2026-08-14", archive=False
    )
    assert report["staging"]["dup_vs_bronze"] == 1  # C-01
    assert_report_counts_on_disk(report)
    run2 = dims()
    for table, mapping in run1.items():
        assert {k: run2[table][k] for k in mapping} == mapping, table
    assert run2["dim_contract"] == run1["dim_contract"]
    assert run2["dim_payment_method"] == {
        **run1["dim_payment_method"],
        3: "Bank transfer (automatic)",
        4: "Credit card (automatic)",
    }
    assert run2["dim_churn_reason"] == {
        **run1["dim_churn_reason"], 3: "Attitude of support person"
    }
    assert run2["dim_customer"] == {**run1["dim_customer"], 4: "C-00", 5: "C-04"}
    assert len(run2["dim_services"]) == 4
    assert list(run2["dim_services"].values()).count((None,) * 9) == 1
    fact = wh.read("gold", "fact_customer_churn")
    assert fact.count() == 5
    assert fact.filter(F.col("service_key").isNull()).count() == 0

    # A byte-identical re-run is skipped whole, and rebuilding the dims
    # over the unchanged silver adds no row.
    again = run_warehouse(
        spark, wh_root, str(landing), run_date="2026-08-15", archive=False
    )
    assert again["status"] == "SKIPPED_NO_NEW_DATA"
    medallion.build_dims(wh)
    assert dims() == run2
