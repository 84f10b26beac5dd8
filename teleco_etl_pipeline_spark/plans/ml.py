"""Churn ML: training + batch inference on the gold star schema
(SURVEY.md §2.11 ML1-ML10 — reference dags/ml_churn_pipeline.py and
dags/scripts/train_churn_model.py re-expressed with pyspark.ml).

Reference → Spark mapping:
- LabelEncoder per categorical   → StringIndexer(handleInvalid=keep)
  (unknown-category→-1 at inference, ml_churn_pipeline.py:281-292)
- median/mode imputation         → Imputer(strategy=median) + mode fill
- StandardScaler                 → pyspark.ml StandardScaler
- RandomForest(n=100, seed=42)   → RandomForestClassifier(numTrees=100)
- chunked inference (10k rows)   → one distributed transform (S5 note)
- dated artifacts, latest-wins   → versioned save dirs + lexicographic max
- idempotent daily predictions   → per-day overwrite of the
  predictions table keyed on model_run_date (M5)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table

CATEGORICAL = ["contract_type", "payment_method", "churn_reason"]
NUMERIC = ["tenure_months", "monthly_charges", "total_charges", "cltv", "churn_score"]
MIN_TRAINING_ROWS = 10  # train_churn_model.py:64-67


def build_training_frame(wh: Warehouse) -> DataFrame:
    """Star-join extract (J2/J3 over gold) + label derivation (ML1) +
    'n/a'→NULL scrub (ML5)."""
    fact = wh.read("gold", "fact_customer_churn").alias("f")
    ct = F.broadcast(wh.read("gold", "dim_contract")).alias("ct")
    pm = F.broadcast(wh.read("gold", "dim_payment_method")).alias("pm")
    cr = F.broadcast(wh.read("gold", "dim_churn_reason")).alias("cr")
    df = (
        fact.join(ct, F.col("f.contract_key") == F.col("ct.contract_key"), "left")
        .join(pm, F.col("f.payment_method_key") == F.col("pm.payment_method_key"), "left")
        .join(cr, F.col("f.churn_reason_key") == F.col("cr.churn_reason_key"), "left")
        .select(
            F.col("f.customer_key"),
            *[F.col(c).try_cast("double").alias(c) for c in NUMERIC],
            F.replace(F.coalesce(F.col("ct.contract_type"), F.lit("unknown")), F.lit("n/a"), F.lit("unknown")).alias("contract_type"),
            F.coalesce(F.col("pm.payment_method"), F.lit("unknown")).alias("payment_method"),
            F.coalesce(F.col("cr.churn_reason"), F.lit("unknown")).alias("churn_reason"),
            F.col("f.churn_flag").try_cast("int").alias("label"),
        )
        .filter(F.col("tenure_months").isNotNull() & F.col("monthly_charges").isNotNull())
        .filter(F.col("label").isin(0, 1))
    )
    return df


def build_pipeline(algo: str = "rf"):
    """Imputer + StringIndexers + assembler + scaler + classifier."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier, RandomForestClassifier
    from pyspark.ml.feature import Imputer, StandardScaler, StringIndexer, VectorAssembler

    stages = [
        Imputer(
            inputCols=NUMERIC,
            outputCols=[f"{c}_imp" for c in NUMERIC],
            strategy="median",
        )
    ]
    for c in CATEGORICAL:
        stages.append(
            StringIndexer(
                inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep"
            )
        )
    stages.append(
        VectorAssembler(
            inputCols=[f"{c}_imp" for c in NUMERIC]
            + [f"{c}_idx" for c in CATEGORICAL],
            outputCol="features_raw",
        )
    )
    stages.append(
        StandardScaler(inputCol="features_raw", outputCol="features")
    )
    if algo == "gbt":
        clf = GBTClassifier(
            maxIter=20, maxDepth=4, stepSize=0.1, seed=42, labelCol="label"
        )
    else:
        clf = RandomForestClassifier(numTrees=100, seed=42, labelCol="label")
    stages.append(clf)
    return Pipeline(stages=stages)


def train(wh: Warehouse, models_dir: str, version: str, algo: str = "rf") -> dict:
    """ML6-ML8: fit + versioned artifact save."""
    df = build_training_frame(wh)
    n = df.count()
    if n < MIN_TRAINING_ROWS:
        raise ValueError(f"not enough training rows: {n} < {MIN_TRAINING_ROWS}")
    model = build_pipeline(algo).fit(df)
    path = os.path.join(models_dir, f"churn_model_{version}")
    model.write().overwrite().save(path)
    # Score through the RELOADED artifact, not the in-memory fit: the
    # fitted classifier keeps a training summary whose SparkSession
    # reference java-serializes into every transform closure, and the
    # session stops being java-serializable the moment any
    # DataFrame.observe() has initialized its ObservationManager
    # (NotSerializableException, order-dependent across a shared
    # session). Loading drops the summary — and evaluating the saved
    # artifact also proves the exact round-trip inference depends on.
    from pyspark.ml import PipelineModel

    preds = PipelineModel.load(path).transform(df)
    auc = _auc(preds)
    return {"rows": n, "model_path": path, "train_auc": round(auc, 4)}


def _auc(preds: DataFrame) -> float:
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    return BinaryClassificationEvaluator(labelCol="label").evaluate(preds)


def latest_model_path(models_dir: str) -> str:
    """ML8 latest-wins artifact resolution (lexicographic max of
    dated names, ml_churn_pipeline.py:78-92)."""
    cands = sorted(
        d for d in os.listdir(models_dir) if d.startswith("churn_model_")
    )
    if not cands:
        raise FileNotFoundError(f"no model artifacts under {models_dir}")
    return os.path.join(models_dir, cands[-1])


def run_batch_inference(
    wh: Warehouse, models_dir: str, model_run_date: str
) -> int:
    """ML9 + M5: one distributed transform over the current gold
    frame, idempotent per-day write (delete-day-then-append becomes a
    keyed overwrite on model_run_date)."""
    from pyspark.ml import PipelineModel
    from pyspark.ml.functions import vector_to_array

    model = PipelineModel.load(latest_model_path(models_dir))
    df = build_training_frame(wh)
    # The day's rows are counted while the write runs: no exchange lies
    # between ``preds`` and the write's final stage (catalog.
    # _write_counted's condition), so the observation counts each once.
    scored = Observation()
    preds = model.transform(df).select(
        F.col("customer_key"),
        F.col("prediction").cast("smallint").alias("churn_prediction"),
        F.round(
            F.element_at(vector_to_array("probability"), 2), 4
        ).cast("decimal(5,4)").alias("churn_probability"),
        F.lit(model_run_date).cast("date").alias("model_run_date"),
    ).observe(scored, F.count(F.lit(1)).alias("rows"))
    if wh.exists("gold", "churn_predictions"):
        existing = wh.read("gold", "churn_predictions").filter(
            F.col("model_run_date") != F.lit(model_run_date).cast("date")
        )
        merged = existing.unionByName(preds)
    else:
        merged = preds
    wh.overwrite_safe(merged, "gold", "churn_predictions")
    return scored.get["rows"]


# ---------------------------------------------------------------------------
# Inference-contract query (oracle-backed)
# ---------------------------------------------------------------------------

# Deterministic "StringIndexer": fixed category→index mapping, the
# closed-form analogue of the fitted LabelEncoder (unknown → -1,
# ml_churn_pipeline.py:281-292).
_SEGMENT_INDEX = {
    "AUTOMOBILE": 0,
    "BUILDING": 1,
    "FURNITURE": 2,
    "HOUSEHOLD": 3,
    "MACHINERY": 4,
}


@query(
    "ml_inference_contract",
    """
    SELECT c_custkey AS customer_key,
           CAST(ROUND(1.0 / (1.0 + exp(-(
                 c_acctbal / 5000.0
                 - 0.1 * (CASE c_mktsegment
                            WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
                            WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
                            WHEN 'MACHINERY' THEN 4 ELSE -1 END)
                 + 0.02 * c_nationkey - 0.3))) + 1e-9, 4) AS DOUBLE)
             AS churn_probability,
           CAST((1.0 / (1.0 + exp(-(
                 c_acctbal / 5000.0
                 - 0.1 * (CASE c_mktsegment
                            WHEN 'AUTOMOBILE' THEN 0 WHEN 'BUILDING' THEN 1
                            WHEN 'FURNITURE' THEN 2 WHEN 'HOUSEHOLD' THEN 3
                            WHEN 'MACHINERY' THEN 4 ELSE -1 END)
                 + 0.02 * c_nationkey - 0.3))) >= 0.5) AS INTEGER)
             AS churn_prediction,
           '2026-08-13' AS model_run_date
    FROM customer
    """,
    doc="ML9 inference contract, oracle-checked: feature assembly "
    "(numeric scaling + deterministic category indexing) → linear "
    "model → sigmoid probability rounded to 4dp → {0,1} prediction → "
    "run-date stamp — the exact output contract of "
    "run_batch_inference (reference ml_churn_pipeline.py:311-317). "
    "The learned-model path (GBT/RF) is pytest-covered; this twin "
    "replaces the opaque fitted weights with fixed ones so the "
    "inference PLUMBING has a cross-engine correctness row.",
)
def q_ml_inference_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    seg = F.lit(-1)
    for name, idx in _SEGMENT_INDEX.items():
        seg = F.when(F.col("c_mktsegment") == name, idx).otherwise(seg)
    z = (
        F.col("c_acctbal") / F.lit(5000.0)
        - F.lit(0.1) * seg
        + F.lit(0.02) * F.col("c_nationkey")
        - F.lit(0.3)
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return c.select(
        F.col("c_custkey").alias("customer_key"),
        F.round(prob + 1e-9, 4).alias("churn_probability"),
        (prob >= 0.5).cast("int").alias("churn_prediction"),
        F.lit("2026-08-13").alias("model_run_date"),
    )
