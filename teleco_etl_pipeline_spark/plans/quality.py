"""Data-quality engine: rule predicates + reason tagging, good/bad
split, error-rate circuit breaker, and the ported DQ-check corpus
(SURVEY.md §2.2 P10-P12, §2.4 A10, §2.12 C2/C3, §5.3).

Every rule is a (predicate, reason) pair evaluated in ONE pass over
the frame — the annotated split is two filters on the same scan, and
every count a gate needs comes from one ``count_rows`` aggregate, not
one query per count (reference does bad/total in two queries,
DataWarehouse.py:455-463).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.functions.scalars import error_details
from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table

# Valid domains (dags/Reprocessing.py:41-44).
VALID_GENDERS = ("Male", "Female")
VALID_CONTRACTS = ("Month-to-month", "Month-to-Month", "One year", "Two year")
VALID_INTERNET = ("DSL", "Fiber optic", "No")
VALID_PAYMENT = (
    "Electronic check",
    "Mailed check",
    "Bank transfer (automatic)",
    "Credit card (automatic)",
)

ERROR_RATE_THRESHOLD = 10.0  # percent (DataWarehouse.py:465)


@dataclass(frozen=True)
class Rule:
    reason: str
    predicate: Column


def churn_rules(df: DataFrame, check_domains: bool = False) -> list[Rule]:
    """The ingest-time rule set (DataWarehouse.py:443-450 +
    Reprocessing.py:74-103 when ``check_domains``).

    Missing columns skip their rule (schema-drift tolerance,
    DataWarehouse.py:628-631).
    """
    cols = set(df.columns)
    rules: list[Rule] = []

    def has(*need: str) -> bool:
        return all(n in cols for n in need)

    if has("customer_id"):
        rules.append(
            Rule(
                "Missing Customer ID",
                F.col("customer_id").isNull()
                | (F.trim(F.col("customer_id").cast("string")) == ""),
            )
        )
        # In-file duplicate marking, keep=False semantics: BOTH copies
        # are flagged (DataWarehouse.py:449, see SURVEY §7.4.6). Null
        # IDs are excluded from dup counting (pandas dropna before
        # duplicated()).
        w = Window.partitionBy("customer_id")
        rules.append(
            Rule(
                "Duplicate Customer ID",
                F.col("customer_id").isNotNull()
                & (F.count(F.lit(1)).over(w) > 1),
            )
        )
    if has("tenure_in_months"):
        # try_cast: the Non-numeric rule below RELIES on garbage→NULL,
        # which a plain cast turns into CAST_INVALID_INPUT under ANSI.
        t = F.col("tenure_in_months").try_cast("double")
        rules.append(Rule("Negative Tenure", t < 0))
        rules.append(
            Rule(
                "Non-numeric Tenure",
                F.col("tenure_in_months").isNotNull() & t.isNull(),
            )
        )
    if has("monthly_charges_amount"):
        m = F.col("monthly_charges_amount").try_cast("double")
        rules.append(Rule("Negative Monthly Charges", m < 0))
    if has("gender"):
        g = F.initcap(F.trim(F.col("gender").cast("string")))
        rules.append(
            Rule("Invalid Gender", F.col("gender").isNotNull() & ~g.isin(*VALID_GENDERS))
        )
    if check_domains:
        if has("contract"):
            rules.append(
                Rule(
                    "Invalid Contract",
                    F.col("contract").isNotNull()
                    & ~F.col("contract").isin(*VALID_CONTRACTS),
                )
            )
        if has("payment_method"):
            rules.append(
                Rule(
                    "Invalid Payment Method",
                    F.col("payment_method").isNotNull()
                    & ~F.col("payment_method").isin(*VALID_PAYMENT),
                )
            )
        if has("internet_service"):
            rules.append(
                Rule(
                    "Invalid Internet Service",
                    F.col("internet_service").isNotNull()
                    & ~F.col("internet_service").isin(*VALID_INTERNET),
                )
            )
    return rules


def annotate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """P11: add error_details (NULL for clean rows)."""
    return df.withColumn(
        "error_details",
        error_details([(r.predicate, r.reason) for r in rules]),
    )


def split_good_bad(df: DataFrame, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
    """One scan, two outputs: (good rows without the annotation
    column, bad rows with error_details)."""
    annotated = annotate(df, rules)
    good = annotated.filter(F.col("error_details").isNull()).drop("error_details")
    bad = annotated.filter(F.col("error_details").isNotNull())
    return good, bad


def count_rows(df: DataFrame, rules: list[Rule]) -> dict[str, int]:
    """Rows matching each rule, counted by ONE aggregate query:
    {reason: count}, in rule order. Rules may hold window expressions
    (duplicate marking), which cannot nest inside an aggregate, so
    the flags are projected first and counted after."""
    if not rules:
        return {}
    flags = df.select(
        *[F.when(r.predicate, F.lit(1)).alias(f"_{i}") for i, r in enumerate(rules)]
    )
    row = flags.agg(*[F.count(c) for c in flags.columns]).collect()[0]
    return {r.reason: row[i] for i, r in enumerate(rules)}


def error_rate(df: DataFrame, rules: list[Rule]) -> tuple[int, int, float]:
    """A10/C3 in a single aggregate pass: (total, bad, pct)."""
    bad_pred = F.lit(False)
    for r in rules:
        bad_pred = bad_pred | r.predicate
    n = count_rows(df, [Rule("total", F.lit(True)), Rule("bad", bad_pred)])
    total, bad = n["total"], n["bad"]
    pct = (100.0 * bad / total) if total else 0.0
    return total, bad, pct


class CircuitBreakerTripped(RuntimeError):
    """C3: raised when bad-row rate exceeds the threshold — halts the
    pipeline like the reference's raise (DataWarehouse.py:468-482)."""


def check_circuit_breaker(df: DataFrame, rules: list[Rule]) -> tuple[int, int, float]:
    total, bad, pct = error_rate(df, rules)
    if pct > ERROR_RATE_THRESHOLD:
        raise CircuitBreakerTripped(
            f"error rate {pct:.2f}% exceeds threshold {ERROR_RATE_THRESHOLD}% "
            f"({bad}/{total} rows)"
        )
    return total, bad, pct


# ---------------------------------------------------------------------------
# DQ-check corpus (DWH_Quality_Checks.sql ported; §5.3)
# ---------------------------------------------------------------------------


def run_layer_checks(df: DataFrame) -> dict[str, int]:
    """The invariant battery the reference runs per layer: null keys,
    duplicate keys, negative numerics, in one aggregate query. All
    values expected 0 after a clean stage (SQLValueCheckOperator
    pass_value=0 semantics, DataWarehouse.py:808-818).
    ``duplicate_keys`` counts keys, not rows: one row per repeated
    key (a repeated NULL key included) carries the flag."""
    cols = set(df.columns)
    key = "customer_id"
    rules: list[Rule] = []
    if key in cols:
        rules.append(Rule("null_key", F.col(key).isNull()))
    if "tenure_in_months" in cols:
        rules.append(
            Rule("negative_tenure", F.col("tenure_in_months").try_cast("double") < 0)
        )
    if "monthly_charges_amount" in cols:
        rules.append(
            Rule(
                "negative_charges",
                F.col("monthly_charges_amount").try_cast("double") < 0,
            )
        )
    if key in cols:
        w = Window.partitionBy(key)
        rules.append(
            Rule(
                "duplicate_keys",
                (F.count(F.lit(1)).over(w) > 1)
                & (F.row_number().over(w.orderBy(key)) == 1),
            )
        )
    return count_rows(df, rules)


def assert_checks_pass(df: DataFrame) -> dict[str, int]:
    """C2: value-check gate — every check must be 0."""
    results = run_layer_checks(df)
    failing = {k: v for k, v in results.items() if v != 0}
    if failing:
        raise AssertionError(f"DQ checks failed: {failing}")
    return results


@query(
    "order_line_reconciliation",
    """
    WITH j AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100 + 1e-9) AS BIGINT) AS oc,
             COALESCE(SUM(CAST(ROUND(l.l_extendedprice
                   * (1 - l.l_discount) * (1 + l.l_tax) * 100
                   + 1e-9) AS BIGINT)), 0) AS lc,
             COUNT(l.l_orderkey) AS n_lines
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    banded AS (
      SELECT CASE
               WHEN n_lines = 0 THEN '4_no_lines'
               WHEN oc = lc THEN '0_exact'
               WHEN ABS(oc - lc) * 1000 <= oc THEN '1_within_0.1pct'
               WHEN ABS(oc - lc) * 100 <= oc THEN '2_within_1pct'
               ELSE '3_over_1pct'
             END AS band,
             ABS(oc - lc) AS adiff,
             oc
      FROM j
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(adiff) AS BIGINT) AS max_abs_diff_cents,
           ROUND(SUM(CAST(FLOOR(CAST(adiff AS DOUBLE)
                                / CAST(oc AS DOUBLE) * 1e9)
                          AS HUGEINT)) / 1e9
                 / COUNT(*) + 1e-9, 6) AS mean_rel_diff
    FROM banded GROUP BY band ORDER BY band
    """,
    doc="Fact-to-detail reconciliation report (the classic "
    "header/detail consistency check — TPC-H defines o_totalprice "
    "as the line-level sum(extprice*(1-disc)*(1+tax))): per order, "
    "the header total vs the recomputed line sum in EXACT integer "
    "cents, bucketed into exact / 0.1% / 1% / worse relative-error "
    "bands plus a no-lines orphan band — the DQ family's "
    "aggregate-consistency screen that the existence/range checks "
    "(DWH_Quality_Checks.sql) cannot express (on this synthetic "
    "corpus the header totals are NOT line-derived, which is "
    "exactly the finding such a report exists to surface). One "
    "fact join + order-grain reduce; band edges are exact integer "
    "cross-multiplications (|diff|*1000 <= total, no float "
    "thresholds), per-order rounding carries the shared 1e-9 "
    "half-tie nudge on both engines, and the mean relative error "
    "folds from 1e-9-quantized integers.",
)
def q_order_line_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_amt = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 100
        + F.lit(1e-9),
        0,
    ).cast("long")
    j = (
        orders.join(li, li["l_orderkey"] == orders["o_orderkey"], "left")
        .groupBy(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100 + F.lit(1e-9), 0)
            .cast("long")
            .alias("oc"),
        )
        .agg(
            F.coalesce(F.sum(line_amt), F.lit(0)).alias("lc"),
            F.count("l_orderkey").alias("n_lines"),
        )
    )
    adiff = F.abs(F.col("oc") - F.col("lc"))
    band = (
        F.when(F.col("n_lines") == 0, "4_no_lines")
        .when(F.col("oc") == F.col("lc"), "0_exact")
        .when(adiff * 1000 <= F.col("oc"), "1_within_0.1pct")
        .when(adiff * 100 <= F.col("oc"), "2_within_1pct")
        .otherwise("3_over_1pct")
    )
    return (
        j.select(band.alias("band"), adiff.alias("adiff"), "oc")
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.max("adiff").cast("long").alias("max_abs_diff_cents"),
            F.round(
                F.sum(
                    F.floor(
                        F.col("adiff").cast("double")
                        / F.col("oc").cast("double")
                        * F.lit(1e9)
                    ).cast("decimal(38,0)")
                )
                / F.lit(1e9)
                / F.count(F.lit(1))
                + F.lit(1e-9),
                6,
            ).alias("mean_rel_diff"),
        )
        .orderBy("band")
    )
