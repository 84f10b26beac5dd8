"""Medallion pipeline stages: staging → bronze → silver → gold
(SURVEY.md §3.1, reference dags/DataWarehouse.py + SQL layer scripts).

Every stage is a pure DataFrame program over Parquet layer tables:

- **staging**: distributed CSV scan + header normalization + DQ
  split/quarantine + anti-dedup vs bronze (M6).
- **bronze**: keyed upsert (M1) with the reference's exact
  column-subset-on-conflict semantics
  (dags/SQL/Bronze/insert_data_into_bronze.sql:60-77).
- **silver**: full-refresh typed projection with churn_reason
  defaulting (dags/SQL/Silver/insert_data_into_silver.sql:6-76).
- **gold**: 5 idempotent dims (DISTINCT + anti-join + dense surrogate
  keys) and the fact build with normalized-expression joins, the
  9-key null-safe services join, regex-scrub casts, and the
  NOT-EXISTS idempotency guard
  (dags/SQL/Gold/create_load_data_gold.sql:10-145).

Scale posture: dims are broadcast (small by construction — distinct
values of ≤9 string columns); the fact build is one shuffle of
silver on customer_id; bronze upsert shuffles on the business key —
at 100 TB, bucket bronze+staging by customer_id to make it
shuffle-free, and partition the fact by run_date for pruning. Every
table's file count follows its input bytes, one file per 128 MB
(``catalog.file_count``), whatever the core count or the last stage's
partitioning: a day of a few MB lands as one file per table.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import (
    _BUSINESS_FIELDS,
    SERVICE_COLS,
    STAGING_SCHEMA,
    Warehouse,
)
from teleco_etl_pipeline_spark.functions.scalars import safe_int, scrub_numeric
from teleco_etl_pipeline_spark.operators.keys import add_surrogate_key
from teleco_etl_pipeline_spark.operators.upsert import (
    anti_dedup,
    merge_upsert,
    null_safe_eq,
)
from teleco_etl_pipeline_spark.plans import quality

BUSINESS_COLS = [f.name for f in STAGING_SCHEMA.fields]

# ON CONFLICT DO UPDATE column subset — exact parity with
# insert_data_into_bronze.sql:62-77 (country, lat/long doubles,
# service columns, paperless_billing, payment_method, churn_score,
# cltv, churn_reason, created_at keep the OLD value on conflict).
BRONZE_UPDATE_COLS = [
    "gender",
    "senior_citizen",
    "partner",
    "dependents",
    "state",
    "city",
    "zip_code",
    "lat_long",
    "contract",
    "tenure_in_months",
    "monthly_charges_amount",
    "total_charges",
    "churn_label",
    "churn_value",
    "updated_at",
]


# ---------------------------------------------------------------------------
# Staging
# ---------------------------------------------------------------------------


def load_staging(wh: Warehouse, raw: DataFrame) -> dict[str, int]:
    """Validate + split + quarantine + write staging (truncate-load).

    ``raw`` is the normalized CSV scan (sources.files.read_csv_dir).
    Bad rows go to the quarantine layer with error_details; good rows
    overwrite staging. If bronze exists, rows whose customer_id is
    already present are dropped (M6 dedup-before-insert,
    DataWarehouse.py:655-673).
    """
    present = [c for c in BUSINESS_COLS if c in raw.columns]
    raw = raw.select(*present, *[c for c in raw.columns if c not in BUSINESS_COLS])
    rules = quality.churn_rules(raw)
    # Cache the annotated frame: every downstream action (stats agg,
    # quarantine write, staging write) would otherwise re-run the CSV
    # scan + rule evaluation — round 1 paid that scan four times.
    annotated = quality.annotate(raw, rules).cache()
    good = annotated.filter(F.col("error_details").isNull()).drop("error_details")
    bad = annotated.filter(F.col("error_details").isNotNull())

    stats = quality.count_rows(
        annotated,
        [
            quality.Rule("input", F.lit(True)),
            quality.Rule("rejected", F.col("error_details").isNotNull()),
        ],
    )
    if stats["rejected"]:
        wh.write(bad, "quarantine", "staging_rejects", mode="append")

    if wh.exists("bronze", "churn_raw"):
        bronze = wh.read("bronze", "churn_raw")
        good = anti_dedup(good, bronze, keys=["customer_id"])

    stats["staged"] = wh.write(good, "staging", "staging_churn")  # S12 truncate-load
    stats["dup_vs_bronze"] = stats["input"] - stats["rejected"] - stats["staged"]
    annotated.unpersist()
    return stats


# ---------------------------------------------------------------------------
# Bronze
# ---------------------------------------------------------------------------


def _bronze_projection(staging: DataFrame) -> DataFrame:
    """Typed projection staging→bronze shape (P5/P8/P9 + audit cols):
    each column try-cast to its catalog type, except a safe zip cast
    and lat_long recomputed from its components (bronze SQL :31),
    plus current timestamps."""
    special = {
        "zip_code": safe_int("zip_code"),
        "lat_long": F.concat_ws(
            ",", F.col("latitude").cast("string"), F.col("longitude").cast("string")
        ),
    }
    cols = [special.get(c, F.col(c).try_cast(t)).alias(c) for c, t in _BUSINESS_FIELDS]
    now = F.current_timestamp()
    return staging.select(
        *cols,
        now.alias("created_at"),
        now.alias("updated_at"),
        F.lit("upserted").alias("record_type"),
    )


def bronze_upsert(wh: Warehouse) -> dict[str, int]:
    """M1: INSERT … ON CONFLICT (customer_id) DO UPDATE subset.

    The C2 gate (``quality.assert_checks_pass``) runs on the rows
    about to become bronze, before they are written, so a failed gate
    leaves bronze as it was."""
    src = _bronze_projection(wh.read("staging", "staging_churn"))
    if not wh.exists("bronze", "churn_raw"):
        quality.assert_checks_pass(src)
        inserted = wh.write(src, "bronze", "churn_raw")
        return {"inserted": inserted, "updated": 0, "existing": 0}

    target = wh.read("bronze", "churn_raw")
    merged = merge_upsert(
        target,
        src,
        keys=["customer_id"],
        update_cols=BRONZE_UPDATE_COLS,
        record_type_col="_merge_action",
    )
    # record_type bookkeeping: inserts keep the projection's
    # 'upserted'; conflicts become 'updated'; untouched rows keep
    # their previous value (already held in record_type since it is
    # NOT in the update subset).
    merged = merged.withColumn(
        "record_type",
        F.when(F.col("_merge_action") == "updated", F.lit("updated")).otherwise(
            F.col("record_type")
        ),
    )
    merged = merged.drop("_merge_action")
    quality.assert_checks_pass(merged)
    # The gate proved the merged keys unique and non-null, so each
    # staged row updated one bronze row or was inserted, and the
    # counts follow from the table sizes: written = before + inserted.
    before = wh.row_count("bronze", "churn_raw")
    staged = wh.row_count("staging", "staging_churn")
    inserted = wh.overwrite_safe(merged, "bronze", "churn_raw") - before
    updated = staged - inserted
    return {"inserted": inserted, "updated": updated, "existing": before - updated}


# ---------------------------------------------------------------------------
# Silver
# ---------------------------------------------------------------------------


def silver_load(wh: Warehouse) -> int:
    """Full-refresh projection bronze→silver (S12 + P2/P4)."""
    bronze = wh.read("bronze", "churn_raw")
    cols = []
    for c in BUSINESS_COLS:
        if c == "churn_reason":
            cols.append(F.coalesce(F.col(c), F.lit("n/a")).alias(c))
        else:
            cols.append(F.col(c))
    return wh.write(bronze.select(*cols), "silver", "churn_raw")


def silver_clean(wh: Warehouse) -> dict[str, int]:
    """DQ sweep over silver: quarantine bad rows (M4 predicate
    delete), halt on >10% error rate (C3)."""
    silver = wh.read("silver", "churn_raw")
    rules = quality.churn_rules(silver, check_domains=False)
    total, bad_cnt, pct = quality.check_circuit_breaker(silver, rules)
    if bad_cnt:
        good, bad = quality.split_good_bad(silver, rules)
        wh.write(bad, "quarantine", "silver_rejects", mode="append")
        wh.overwrite_safe(good, "silver", "churn_raw")
    return {"total": total, "removed": bad_cnt, "error_rate_pct": round(pct, 4)}


def derive_silver(wh: Warehouse) -> dict:
    """Silver re-derived from bronze: the full-refresh load, then the
    DQ sweep. The daily run and the fix loop both take this path."""
    return {"silver_rows": silver_load(wh), "silver_clean": silver_clean(wh)}


# ---------------------------------------------------------------------------
# Gold
# ---------------------------------------------------------------------------

def _norm_contract():
    return F.replace(
        F.col("contract"), F.lit("Month-to-month"), F.lit("Month-to-Month")
    )


def _idempotent_dim(
    wh: Warehouse,
    table: str,
    key_col: str,
    values: DataFrame,
    match_cols: list[str],
) -> int:
    """DISTINCT + NOT EXISTS + dense surrogate keys continuing from
    the current max (A8 + J7 + SERIAL semantics); keys are dense
    1..n, so the current max is the dim's row count. The anti-join on
    ``match_cols`` is null-safe (J4), so a NULL-valued row forms its
    own dim row once; new keys follow ``match_cols`` order. Returns
    the dim's row count."""
    fresh = values.distinct()
    max_key = 0
    existing = wh.read("gold", table) if wh.exists("gold", table) else None
    if existing is not None:
        max_key = wh.row_count("gold", table)
        fresh = fresh.alias("__n").join(
            existing.alias("__e"), null_safe_eq("__n", "__e", match_cols), "left_anti"
        )
    dim = add_surrogate_key(
        fresh, key_col, order_by=match_cols, start_at=max_key + 1
    ).select(key_col, *values.columns)
    if existing is not None:
        dim = existing.unionByName(dim)
    return wh.overwrite_safe(dim, "gold", table)


def build_dims(wh: Warehouse) -> dict[str, int]:
    s = wh.read("silver", "churn_raw")
    contract = s.filter(F.col("contract").isNotNull()).select(
        _norm_contract().alias("contract_type")
    )
    payment = s.filter(F.col("payment_method").isNotNull()).select("payment_method")
    reason = s.select(
        F.coalesce(F.col("churn_reason"), F.lit("n/a")).alias("churn_reason")
    )
    customer = s.select(
        "customer_id",
        "gender",
        F.when(F.col("senior_citizen").isin("1", "Yes", "True"), "1")
        .otherwise("0")
        .alias("senior_citizen"),
        "partner",
        "dependents",
        "city",
        "state",
    )
    services = s.select(*SERVICE_COLS)
    return {
        "dim_contract": _idempotent_dim(
            wh, "dim_contract", "contract_key", contract, ["contract_type"]
        ),
        "dim_payment_method": _idempotent_dim(
            wh, "dim_payment_method", "payment_method_key", payment, ["payment_method"]
        ),
        "dim_churn_reason": _idempotent_dim(
            wh, "dim_churn_reason", "churn_reason_key", reason, ["churn_reason"]
        ),
        # NOT EXISTS is on customer_id alone (gold SQL :59-61)
        "dim_customer": _idempotent_dim(
            wh, "dim_customer", "customer_key", customer, ["customer_id"]
        ),
        "dim_services": _idempotent_dim(
            wh, "dim_services", "service_key", services, SERVICE_COLS
        ),
    }


def build_fact(wh: Warehouse, run_date: str | None = None) -> int:
    """Fact build (gold SQL :94-145): star joins + scrub casts +
    NOT-EXISTS guard on customer_key.

    The gold fact is written Z-order-clustered on
    (customer_key-bucket, cltv-bucket) (``Warehouse.write_zordered``):
    downstream gold consumers filter by customer ranges (quality gate,
    upserts) AND by value bands (the ML label/feature scans), and
    Morton clustering bounds the per-file min/max span of BOTH —
    single-column layout prunes one or the other. The file count
    follows the input bytes (``catalog.file_count``): a fact under
    128 MB is one sorted file, and the layout starts to prune once
    the fact spans several files."""
    run_date = run_date or dt.date.today().isoformat()
    s = wh.read("silver", "churn_raw").alias("s")
    c = F.broadcast(wh.read("gold", "dim_customer")).alias("c")
    ct = F.broadcast(wh.read("gold", "dim_contract")).alias("ct")
    pm = F.broadcast(wh.read("gold", "dim_payment_method")).alias("pm")
    cr = F.broadcast(wh.read("gold", "dim_churn_reason")).alias("cr")
    sv = F.broadcast(wh.read("gold", "dim_services")).alias("sv")

    fact = (
        s.join(c, F.col("c.customer_id") == F.col("s.customer_id"))
        .join(ct, F.col("ct.contract_type") == _norm_contract(), "left")
        .join(pm, F.col("pm.payment_method") == F.col("s.payment_method"), "left")
        .join(
            cr,
            F.trim(F.upper(F.col("cr.churn_reason")))
            == F.trim(F.upper(F.coalesce(F.col("s.churn_reason"), F.lit("n/a")))),
            "left",
        )
        .join(sv, null_safe_eq("sv", "s", SERVICE_COLS), "left")
        .select(
            F.col("c.customer_key"),
            F.col("ct.contract_key"),
            F.col("pm.payment_method_key"),
            F.col("cr.churn_reason_key"),
            F.col("sv.service_key"),
            scrub_numeric(F.col("s.tenure_in_months"), "int").alias("tenure_months"),
            F.col("s.monthly_charges_amount")
            .try_cast("decimal(10,2)")
            .alias("monthly_charges"),
            F.col("s.total_charges").try_cast("decimal(12,2)").alias("total_charges"),
            F.when(
                F.col("s.churn_label").isin("1", "1.0", "Yes", "Y", "True", "true"),
                "1",
            )
            .otherwise("0")
            .alias("churn_flag"),
            scrub_numeric(F.col("s.cltv"), "int").alias("cltv"),
            scrub_numeric(F.col("s.churn_score"), "decimal(5,2)").alias("churn_score"),
            F.lit(run_date).cast("date").alias("run_date"),
        )
    )

    if wh.exists("gold", "fact_customer_churn"):
        existing = wh.read("gold", "fact_customer_churn")
        fact = fact.join(
            existing.select("customer_key"), on=["customer_key"], how="left_anti"
        )
        merged = existing.unionByName(fact)
    else:
        merged = fact
    return wh.write_zordered(
        merged,
        "gold",
        "fact_customer_churn",
        [
            F.pmod(F.col("customer_key"), F.lit(256)).cast("long"),
            F.pmod(F.coalesce(F.col("cltv"), F.lit(0)), F.lit(256)).cast("long"),
        ],
    )


def gold_quality_gate(wh: Warehouse) -> dict[str, int]:
    """dq_gold_fact_check (DataWarehouse.py:841-863): orphan keys,
    negative measures — all must be 0. One aggregate over the fact
    left-joined to the dim's keys: an orphan has no dim side."""
    dim_keys = (
        wh.read("gold", "dim_customer")
        .select("customer_key", F.lit(True).alias("_in_dim"))
        .distinct()
    )
    fact = wh.read("gold", "fact_customer_churn").join(dim_keys, "customer_key", "left")
    checks = quality.count_rows(
        fact,
        [
            quality.Rule("orphan_customer_keys", F.col("_in_dim").isNull()),
            quality.Rule("negative_tenure", F.col("tenure_months") < 0),
            quality.Rule("negative_charges", F.col("monthly_charges") < 0),
        ],
    )
    failing = {k: v for k, v in checks.items() if v != 0}
    if failing:
        raise AssertionError(f"gold DQ gate failed: {failing}")
    return checks


def derive_gold(wh: Warehouse, run_date: str | None) -> dict:
    """Gold re-derived from silver: the dims, the fact, then the gold
    DQ gate. The daily run and the fix loop both take this path."""
    return {
        "gold_dims": build_dims(wh),
        "gold_fact_rows": build_fact(wh, run_date),
        "gold_gate": gold_quality_gate(wh),
    }
