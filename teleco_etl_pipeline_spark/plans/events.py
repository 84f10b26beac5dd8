"""Event-time analytics over the ``events`` stream table.

The reference is batch-only (SURVEY.md §2.10: no tumbling/sliding/
session windows exist in it — `dags/Reprocessing.py:160-185` is a
file sensor, `dags/churn_export_dag_cloude.py:369-371` a watermark
range). These queries are the beyond-reference streaming-shaped
family a training-data pipeline needs, expressed so the SAME plan
runs batch today and under Structured Streaming with
``withWatermark`` tomorrow:

- tumbling windows  → integer bucket arithmetic on the event time
  (groupBy bucket == ``F.window`` semantics, but the bucket key is a
  pushable/pruneable long, which also makes it the natural partition
  column at 100 TB)
- hopping windows   → explode each row into the ``window/slide``
  buckets that cover it (the standard Spark rewrite; row growth is
  the overlap factor, here 2×)
- session windows   → lag-gap + running-sum window functions (the
  batch equivalent of ``F.session_window`` streaming state); one shuffle
  on user_id serves both the window and the final groupBy because
  hash-partitioning on a key subset satisfies the agg's required
  clustering.

``events.ts`` arrives as parquet timestamp[us] → Spark
TIMESTAMP_NTZ (normalized in sources/tables.py). Window math
projects it to epoch micros once (``functions.epoch_us``, UTC
session — identical to DuckDB ``epoch_us``) and then stays pure long
arithmetic: JVM-codegen'd, no timezone traps. ``div`` (integer
division) keeps bucket edges exact — no double rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.functions import epoch_us
from teleco_etl_pipeline_spark.plans.registry import query
from teleco_etl_pipeline_spark.sources.tables import load_table

HALF_HOUR_US = 1_800 * 1_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap

# epoch-us of ts as a SQL fragment for integer-div bucket arithmetic
# (NTZ interval arithmetic — session-timezone-independent, see
# functions.epoch_us)
_TS_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"


@query(
    "events_tumbling_hourly",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time window per event_type (streaming "
    "St-family). Groups on date_trunc of the NTZ event time (pure "
    "wall-clock truncation, session-timezone-independent) and "
    "projects the epoch-seconds bucket AFTER the agg, so the per-row "
    "hot loop is one date_trunc instead of timestampdiff+div+mul — "
    "measured ~25% faster at sf0.1 (the r4 watch-list item). At "
    "scale the bucket doubles as the partition/pruning column.",
)
def q_events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = F.date_trunc("hour", F.col("ts")).alias("_w")
    return (
        ev.groupBy(win, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
        )
        # post-agg projection: runs once per GROUP (~thousands), not
        # once per row; NTZ interval arithmetic, no timezone traps.
        .select(
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', _w)"
            ).alias("window_start_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_hopping_counts",
    """
    SELECT win_start_s, COUNT(*) AS n_events
    FROM (
        SELECT (epoch_us(ts) // 1800000000) * 1800 AS win_start_s FROM events
        UNION ALL
        SELECT (epoch_us(ts) // 1800000000) * 1800 - 1800 FROM events
    )
    GROUP BY win_start_s
    """,
    doc="Hopping window (1 h window, 30 min slide) via explode into "
    "the 2 covering buckets — the canonical Spark rewrite of sliding "
    "windows; row growth == overlap factor, then a plain partial-agg "
    "shuffle.",
)
def q_events_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = F.expr(f"{_TS_US} div {HALF_HOUR_US}") * 1800
    covering = F.array(base, base - 1800)
    return (
        ev.select(F.explode(covering).alias("win_start_s"))
        .groupBy("win_start_s")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "events_sessionize",
    """
    WITH marked AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
        SELECT user_id, ts_us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) AS session_end_us,
           COUNT(*)   AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization (30 min inactivity), the batch "
    "equivalent of F.session_window: lag-gap mark + running sum. "
    "ONE shuffle on user_id serves the two window functions AND the "
    "final groupBy (hash(user_id) satisfies the (user_id, seq) "
    "clustering requirement).",
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Project epoch micros ONCE before the window: window expressions
    # aren't common-subexpression-eliminated, so the inline form paid
    # the timestampdiff per reference (lag input + gap + outputs) —
    # pre-projection measured ~15% faster at sf0.1 (r4 watch-list).
    # Ordering by ts_us ≡ ordering by ts (monotone projection).
    pre = ev.select("user_id", epoch_us("ts").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    seq = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        pre.select("user_id", "ts_us", seq.alias("session_seq"))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "events_json_props",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY prop_k
    """,
    doc="Semi-structured extraction: JSON property pulled JVM-side "
    "with get_json_object (no Python), then grouped. The extract is "
    "inside whole-stage codegen; props stays a pruned single column "
    "at the scan.",
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_cast: JSON-extracted strings are attacker-controlled shape;
    # a non-numeric $.k must become NULL, not an ANSI cast error.
    prop_k = F.get_json_object("props", "$.k").try_cast("int").alias("prop_k")
    return ev.groupBy(prop_k).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "events_funnel",
    """
    WITH first_click AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_click_us
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), converted AS (
      SELECT DISTINCT c.user_id
      FROM first_click c
      JOIN events p
        ON p.user_id = c.user_id
       AND p.event_type = 'purchase'
       AND epoch_us(p.ts) >= c.first_click_us
    )
    SELECT (SELECT COUNT(*) FROM first_click) AS n_click_users,
           (SELECT COUNT(*) FROM converted) AS n_converted,
           ROUND(100.0 * (SELECT COUNT(*) FROM converted)
                 / (SELECT COUNT(*) FROM first_click) + 1e-9, 4)
           AS conv_rate_pct
    """,
    doc="Ordered two-step funnel (click → later purchase by the same "
    "user): per-user first-click reduction, then a LEFT-SEMI join "
    "with the time condition as a residual predicate on the user_id "
    "hash join — never a theta join. Scalar subqueries assemble the "
    "one-row report, so no driver-side arithmetic and no nested-loop "
    "join nodes.",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(epoch_us("ts")).alias("first_click_us"))
        # Materialize ONCE (r14, guide §2.4): the n_click scalar
        # subquery and the converted-side join each carried their own
        # copy of this user-grain aggregate (three independent events
        # scans in plans/r14/events_funnel_before.txt, no reuse).
        .localCheckpoint(eager=True)
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch_us("ts").alias("p_us")
    )
    converted = first_click.join(
        purchases,
        (first_click["user_id"] == purchases["user_id"])
        & (purchases["p_us"] >= first_click["first_click_us"]),
        "left_semi",
    )
    n_click = first_click.agg(F.count(F.lit(1)).alias("n")).scalar()
    n_conv = converted.agg(F.count(F.lit(1)).alias("n")).scalar()
    return spark.range(1).select(
        n_click.alias("n_click_users"),
        n_conv.alias("n_converted"),
        F.round(100.0 * n_conv / n_click + F.lit(1e-9), 4).alias("conv_rate_pct"),
    )


WEEK_US = 7 * 86_400 * 1_000_000


@query(
    "events_cohort_retention",
    """
    WITH wk AS (
      SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS wk FROM events
    ), firsts AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(w.wk - f.cohort_week AS INT) AS weeks_since,
           COUNT(*) AS n_active
    FROM wk w JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention: users bucketed by first-active "
    "epoch-week, counted in every later week they return. The "
    "(user, week) grid is deduplicated BEFORE the cohort join, so "
    "the join and the final agg see at most users×weeks rows, never "
    "raw events; week buckets are exact integer division on epoch "
    "micros (NTZ — timezone-independent, pushdown-friendly).",
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.expr(f"({_TS_US}) div {WEEK_US}").alias("wk")
    ).distinct()
    firsts = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        wk.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).cast("int").alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


DAY_US = 86_400 * 1_000_000


@query(
    "events_daily_anomaly",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day_bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    ), stats AS (
      SELECT day_bucket, n_events,
             AVG(n_events) OVER () AS mu,
             STDDEV_SAMP(n_events) OVER () AS sigma
      FROM daily
    )
    SELECT day_bucket, n_events,
           ROUND((n_events - mu) / sigma + 1e-9, 4) AS z,
           ROUND((n_events - mu) / sigma + 1e-9, 4) >= 2.0
             OR ROUND((n_events - mu) / sigma + 1e-9, 4) <= -2.0 AS is_anomaly
    FROM stats
    ORDER BY day_bucket
    """,
    doc="Statistical DQ monitoring: daily event volumes z-scored "
    "against the corpus mean/stddev, |z| ≥ 2 flagged — the volume-"
    "anomaly alarm every ingest pipeline needs next to its rule "
    "checks (plans/dq_corpus.py). One partial-agg shuffle produces "
    "the day-bucket counts; mean/stddev are a window over THAT tiny "
    "aggregate (days, not events); the anomaly test compares on the "
    "rounded z so the flag is cross-engine exact.",
)
def q_events_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(f"({_TS_US}) div {DAY_US}").alias("day_bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy()
    z = F.round(
        (F.col("n_events") - F.avg("n_events").over(w))
        / F.stddev_samp("n_events").over(w)
        + 1e-9,
        4,
    )
    return (
        daily.select(
            "day_bucket",
            "n_events",
            z.alias("z"),
            ((z >= 2.0) | (z <= -2.0)).alias("is_anomaly"),
        )
        .orderBy("day_bucket")
    )


@query(
    "events_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS cur_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT cur_type, next_type, COUNT(*) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY cur_type, next_type
    )
    SELECT cur_type, next_type, cnt,
           ROUND(CAST(cnt AS DOUBLE)
                 / SUM(cnt) OVER (PARTITION BY cur_type) + 1e-9, 4) AS prob
    FROM pairs
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next|cur) from a LEAD window ordered by (event "
    "time, event_id — deterministic under timestamp ties) and one "
    "pair aggregation; row-normalization is a window over the "
    "|types|² aggregate, never the event stream. The behavioral-"
    "sequence profile (what follows a click?) that complements the "
    "token-level bigram LM on the text side.",
)
def q_events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts"), F.col("event_id"))
    seq = ev.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    pairs = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return pairs.select(
        "cur_type",
        "next_type",
        "cnt",
        F.round(
            F.col("cnt").cast("double")
            / F.sum("cnt").over(Window.partitionBy("cur_type"))
            + 1e-9,
            4,
        ).alias("prob"),
    )


@query(
    "events_user_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), runs AS (
      SELECT user_id,
             d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS anchor
      FROM days
    ), streaks AS (
      SELECT user_id, anchor, COUNT(*) AS len FROM runs GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           COUNT(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    """,
    doc="Gaps-and-islands: longest run of consecutive active DAYS per "
    "user via the classic date-minus-row_number anchor (consecutive "
    "days share one anchor). ONE shuffle on user_id serves the "
    "window AND both aggregations — hash(user_id) satisfies the "
    "(user_id, anchor) clustering, and the day-grid is distinct'd "
    "first so everything downstream of the scan is user×days sized, "
    "never event-sized. NTZ date truncation — timezone-independent.",
)
def q_events_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = days.select(
        "user_id", F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor")
    )
    streaks = runs.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").alias("active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").alias("longest_streak"),
    )


# Half-life decay constant: ln(2)/30 days. Spark gets the exact
# DoubleType literal (F.lit of the Python float); the oracle gets a
# STRING→DOUBLE cast of the same repr — DuckDB's bare decimal-literal
# parse is NOT correctly rounded (can land 1 ulp off; see
# operators/similarity.py:_sql_f), while its strtod is.
_DECAY_LAMBDA = 0.023104906018664842


@query(
    "events_decay_score",
    f"""
    WITH ref AS (SELECT MAX(epoch_us(ts)) AS ref_us FROM events)
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * EXP(-('{_DECAY_LAMBDA!r}'::DOUBLE)
                 * ((SELECT ref_us FROM ref) - epoch_us(ts)) / 86400000000.0)
                 + 1e-9, 4) AS DECIMAL(18,4))) AS DOUBLE) AS decay_score
    FROM events
    GROUP BY user_id
    """,
    doc="Exponentially time-decayed engagement score per user "
    "(30-day half-life against the corpus as-of frontier) — the "
    "recency-weighted feature every churn model wants, computed in "
    "one partial-agg shuffle. The frontier is a scalar subquery "
    "(DataFrame.scalar() — no join node, no driver collect); each "
    "term is rounded then DECIMAL-accumulated so the sum is exact "
    "under any partitioning; exp() is the only libm call and gets "
    "the +1e-9 nudge before rounding (cross-engine ulp guard).",
)
def q_events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", epoch_us("ts").alias("ts_us")
    )
    ref_us = ev.agg(F.max("ts_us").alias("m")).scalar()
    age_days = (ref_us - F.col("ts_us")) / F.lit(86400000000.0)
    term = F.round(
        F.col("value") * F.exp(F.lit(-_DECAY_LAMBDA) * age_days) + F.lit(1e-9),
        4,
    ).cast("decimal(18,4)")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(term).cast("double").alias("decay_score"),
    )


@query(
    "events_type_quantiles",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(MEDIAN(value) + 1e-9, 4) AS median_value,
           ROUND(QUANTILE_CONT(value, 0.9) + 1e-9, 4) AS p90_value
    FROM events
    GROUP BY event_type
    """,
    doc="Exact per-group median / p90 via interpolating percentile "
    "(sort-based agg). Grouped twin of the global quantile_profile; "
    "the approx_quantile_profile KLL sketch remains the registered "
    "100 TB path. Both engines define quantile_cont identically "
    "(linear interpolation at p·(n-1)), so values match to the ulp.",
)
def q_events_type_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.median("value") + F.lit(1e-9), 4).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)) + F.lit(1e-9), 4).alias(
            "p90_value"
        ),
    )


@query(
    "events_seq_examples",
    """
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             LAG(event_type, 3) OVER w AS l3,
             LAG(event_type, 2) OVER w AS l2,
             LAG(event_type, 1) OVER w AS l1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT user_id, event_id,
           l3 || '|' || l2 || '|' || l1 AS context,
           event_type AS target
    FROM seq WHERE l3 IS NOT NULL
    """,
    doc="Next-event-prediction training examples: per-user sequences "
    "become (3-event context, target) pairs — the event-stream "
    "analogue of next-token dataset construction. Three LAG taps "
    "over ONE window sort (deterministic under timestamp ties via "
    "event_id) instead of a self-join per offset; rows without a "
    "full context are dropped, as a sequence packer would.",
)
def q_events_seq_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_us("ts"), F.col("event_id"))
    seq = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("target"),
        F.lag("event_type", 3).over(w).alias("l3"),
        F.lag("event_type", 2).over(w).alias("l2"),
        F.lag("event_type", 1).over(w).alias("l1"),
    )
    return seq.filter(F.col("l3").isNotNull()).select(
        "user_id",
        "event_id",
        F.concat_ws("|", "l3", "l2", "l1").alias("context"),
        "target",
    )


@query(
    "events_variant_shred",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_band,
           COUNT(*) AS n_events,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY k_band
    """,
    doc="Semi-structured VARIANT path (Spark 4): props is parsed "
    "ONCE into the binary-encoded VARIANT type and probed with typed "
    "try_variant_get — unlike get_json_object (events_json_props), "
    "repeated probes don't re-parse the string, which is the right "
    "trade at 100 TB when many properties are extracted from one "
    "payload. try_* semantics: malformed payloads become NULL, not "
    "job failures, matching the quarantine philosophy of the DQ "
    "layer.",
)
def q_events_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    shredded = ev.select(F.try_parse_json("props").alias("v")).select(
        F.try_variant_get("v", "$.k", "bigint").alias("k")
    )
    return shredded.groupBy((F.col("k") % 10).alias("k_band")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


HOUR_US_LIT = 3_600_000_000


@query(
    "events_trailing_hour_count",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS n_trailing_hour
    FROM events
    """,
    doc="Event-time RANGE frame: per event, how many same-user "
    "events landed in the trailing hour — the rate-limit / burst "
    "feature. RANGE (value-based) semantics differ from ROWS: the "
    "frame is [ts-1h, ts] INCLUDING simultaneous peers, identical "
    "in both engines; epoch-micros long ordering keeps the frame "
    "arithmetic exact. One shuffle on user_id; in streaming mode "
    "the same feature is the watermarked sliding count.",
)
def q_events_trailing_hour_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-HOUR_US_LIT, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_trailing_hour"),
    )


@query(
    "events_ohlc_hourly",
    """
    SELECT user_id,
           epoch_us(ts) // 3600000000 AS hour_bucket,
           ROUND(arg_min(value, printf('%018d-%010d', epoch_us(ts), event_id))
                 + 1e-9, 4) AS open,
           ROUND(MAX(value) + 1e-9, 4) AS high,
           ROUND(MIN(value) + 1e-9, 4) AS low,
           ROUND(arg_max(value, printf('%018d-%010d', epoch_us(ts), event_id))
                 + 1e-9, 4) AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, hour_bucket
    """,
    doc="Time-series downsampling to OHLC bars (open/high/low/close "
    "per user-hour) — the standard resample for metric streams. "
    "open/close are ONE aggregation pass via min_by/max_by keyed on "
    "a zero-padded (event-time, event_id) string (lexicographic == "
    "numeric order, deterministic under timestamp ties, and scalar "
    "so DuckDB's arg_min accepts it — its key can't be a struct) — "
    "no ROW_NUMBER window, no second shuffle; at scale the hour "
    "bucket doubles as the partition column and bars re-aggregate "
    "to coarser bars associatively (first/last compose like "
    "min/max); Spark-only callers can swap the string key for a "
    "struct to skip the formatting cost.",
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "value",
        "event_id",
        epoch_us("ts").alias("ts_us"),
    )
    order_key = F.format_string("%018d-%010d", F.col("ts_us"), F.col("event_id"))
    r4 = lambda c: F.round(c + F.lit(1e-9), 4)  # noqa: E731
    return ev.groupBy(
        "user_id", F.expr("ts_us div 3600000000").alias("hour_bucket")
    ).agg(
        r4(F.min_by("value", order_key)).alias("open"),
        r4(F.max("value")).alias("high"),
        r4(F.min("value")).alias("low"),
        r4(F.max_by("value", order_key)).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_daily_anomaly_mad",
    """
    WITH daily AS (
      SELECT epoch_us(ts) // 86400000000 AS day_bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    ), med AS (SELECT MEDIAN(n_events) AS m FROM daily),
    mad AS (
      SELECT MEDIAN(ABS(n_events - (SELECT m FROM med))) AS d FROM daily
    )
    SELECT day_bucket, n_events,
           ROUND(0.6745 * (n_events - (SELECT m FROM med))
                 / (SELECT d FROM mad) + 1e-9, 4) AS robust_z,
           ABS(ROUND(0.6745 * (n_events - (SELECT m FROM med))
                 / (SELECT d FROM mad) + 1e-9, 4)) >= 3.5 AS is_anomaly
    FROM daily
    ORDER BY day_bucket
    """,
    doc="Robust (median/MAD) twin of events_daily_anomaly: the "
    "Iglewicz-Hoaglin modified z-score 0.6745·(x−med)/MAD with the "
    "3.5 cutoff — unlike the mean/stddev z, a single huge outlier "
    "day cannot mask itself by inflating the spread. Both medians "
    "are scalar subqueries over the tiny day-level aggregate (days, "
    "not events); the flag compares on the rounded score so "
    "membership is cross-engine exact.",
)
def q_events_daily_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(f"({_TS_US}) div {DAY_US}").alias("day_bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    # Materialize ONCE (r14, guide §2.4): the med and mad subqueries
    # and the main projection each carried their own copy of the
    # events scan + day aggregate (distinct subquery instances are
    # result-reused per subquery, but the THREE different plans each
    # re-scan events). Day-grain, tiny.
    daily = daily.localCheckpoint(eager=True)
    # med/mad as scalar subqueries: the plan prints one subquery
    # instance per reference, which LOOKS like repeated execution —
    # measured, it is not (the runtime reuses each subquery's result;
    # same job count and wall time as an explicit broadcast-1-row-join
    # rewrite). The scalar form also keeps the plan free of
    # BroadcastNestedLoopJoin nodes (a 1-row crossJoin plans as NLJ
    # and trips the catalog-wide no-NLJ sweep in test_plan_quality).
    med = daily.agg(F.median("n_events").alias("m")).scalar()
    mad = daily.agg(
        F.median(F.abs(F.col("n_events") - med)).alias("d")
    ).scalar()
    rz = F.round(
        F.lit(0.6745) * (F.col("n_events") - med) / mad + F.lit(1e-9), 4
    )
    return daily.select(
        "day_bucket",
        "n_events",
        rz.alias("robust_z"),
        (F.abs(rz) >= 3.5).alias("is_anomaly"),
    ).orderBy("day_bucket")


@query(
    "events_active_users_7d",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM du)
    SELECT strftime(days.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT du.user_id) AS active_7d
    FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
    GROUP BY days.d
    ORDER BY day
    """,
    doc="Exact trailing-7-day distinct active users per day via "
    "operators.temporal.trailing_distinct_count (dedup to (user, "
    "day), explode each pair onto the ≤7 report days it contributes "
    "to, count distinct per day — the shape RANGE-frame windows "
    "cannot express; see that docstring for the 100 TB argument; "
    "property-tested against a brute-force Python reference in "
    "tests/test_properties.py).",
)
def q_events_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.temporal import (
        trailing_distinct_count,
    )

    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id")
    return (
        trailing_distinct_count(du, "day", "user_id", 7, out_col="active_7d")
        .select(
            # DATE fetches as midnight Timestamp through the oracle's
            # pandas bridge — project the string form (house rule).
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "active_7d",
        )
        .orderBy("day")
    )


@query(
    "events_attribution_first_last",
    """
    WITH seq AS (
      SELECT user_id, event_type, value,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS UNBOUNDED PRECEDING) AS first_touch,
             LAST_VALUE(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    ), credits AS (
      SELECT first_touch AS touch_type,
             CAST(value AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)) AS credit
      FROM seq WHERE event_type = 'purchase' AND first_touch IS NOT NULL
      UNION ALL
      SELECT last_touch AS touch_type,
             CAST(value AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(2,1)) AS credit
      FROM seq WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    )
    SELECT touch_type,
           COUNT(*) AS n_credits,
           ROUND(CAST(SUM(credit) AS DOUBLE), 2) AS attributed_revenue
    FROM credits GROUP BY touch_type ORDER BY touch_type
    """,
    doc="Position-based revenue attribution (first-touch / last-touch "
    "50-50): one window shuffle per user computes, for every "
    "purchase, the user's first non-purchase touch ever and the last "
    "touch strictly before the purchase (IGNORE NULLS running "
    "first/last — LINEAR, never the purchase×touches range join), "
    "then each purchase credits half its value to each position and "
    "the report aggregates per touch type. Credits are DECIMAL-exact "
    "so partial-aggregation order cannot move the totals. NTZ epoch "
    "ordering with event_id tiebreak — deterministic and "
    "timezone-independent.",
)
def q_events_attribution_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    order = [epoch_us("ts"), F.col("event_id")]
    w_all = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "event_type",
        "value",
        F.first(touch, ignorenulls=True).over(w_all).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w_prev).alias("last_touch"),
    ).filter(F.col("event_type") == "purchase")
    half = F.col("value").cast("decimal(18,2)") * F.lit("0.5").cast(
        "decimal(2,1)"
    )
    firsts = seq.filter(F.col("first_touch").isNotNull()).select(
        F.col("first_touch").alias("touch_type"), half.alias("credit")
    )
    lasts = seq.filter(F.col("last_touch").isNotNull()).select(
        F.col("last_touch").alias("touch_type"), half.alias("credit")
    )
    return (
        firsts.unionAll(lasts)
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.round(F.sum("credit").cast("double"), 2).alias(
                "attributed_revenue"
            ),
        )
        .orderBy("touch_type")
    )


@query(
    "user_survival_curve",
    """
    WITH lt AS (
      SELECT user_id,
             (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 86400000000 AS t_days,
             ((SELECT MAX(epoch_us(ts)) FROM events) - MAX(epoch_us(ts)))
               < 43200000000 AS censored
      FROM events GROUP BY user_id
    ), cells AS (
      SELECT t_days,
             COUNT(*) FILTER (WHERE NOT censored) AS d,
             COUNT(*) AS total_at_t
      FROM lt GROUP BY t_days
    ), risk AS (
      SELECT t_days, d,
             SUM(total_at_t) OVER (ORDER BY t_days DESC
                                   ROWS UNBOUNDED PRECEDING) AS n_risk
      FROM cells
    )
    SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS n_churned,
           CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_days ASC ROWS UNBOUNDED PRECEDING) = 1
                THEN 0.0
                ELSE list_reduce(
                       list(CASE WHEN d < n_risk
                                 THEN CAST(n_risk - d AS DOUBLE)
                                      / CAST(n_risk AS DOUBLE)
                                 ELSE 1.0 END)
                         OVER (ORDER BY t_days ASC ROWS UNBOUNDED PRECEDING),
                       (a, b) -> a * b)
           END AS survival
    FROM risk
    WHERE d > 0
    ORDER BY t_days
    """,
    doc="Kaplan-Meier survival curve of user activity lifetime (the "
    "churn statistic the reference's ML label approximates): per-user "
    "lifetime in days with right-censoring for users still active "
    "within 12 h of the corpus frontier (tuned to the harness events "
    "table's density — max last-activity gap is ~2.4 days), then the "
    "product-limit estimator as an EXACT ORDERED PRODUCT: each "
    "factor (n_risk−d)/n_risk is one correctly-rounded IEEE division "
    "of exact integers, and the prefix product is a left fold over "
    "the t_days-sorted factor list (Spark aggregate over a sorted "
    "collect_list ↔ DuckDB list_reduce over an ordered window list) "
    "— the identical multiply sequence in both engines, hence "
    "bit-identical doubles with no rounding. The previous "
    "exp(Σ ln(1−d/n)) form was libm-dependent (ln/exp are not "
    "correctly rounded) and flipped a 4-dp ROUND at a boundary in "
    "the round-6 driver environment. At-risk counts are a suffix sum "
    "over the tiny per-day aggregate; everything after the per-user "
    "shuffle runs on days-scale rows, and the collected factor list "
    "is days-scale (bounded) by construction.",
)
def q_user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    us = epoch_us("ts")
    frontier = ev.agg(F.max(us).alias("_frontier")).scalar()
    lt = ev.groupBy("user_id").agg(
        ((F.max(us) - F.min(us)) / F.lit(86_400_000_000)).cast("long").alias(
            "t_days"
        ),
        F.max(us).alias("_last"),
    ).select(
        "t_days",
        ((frontier - F.col("_last")) < F.lit(43_200_000_000)).alias("censored"),
    )
    cells = lt.groupBy("t_days").agg(
        F.sum(F.when(~F.col("censored"), 1).otherwise(0)).alias("d"),
        F.count(F.lit(1)).alias("total_at_t"),
    )
    w_desc = (
        Window.orderBy(F.desc("t_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = cells.select(
        "t_days", "d", F.sum("total_at_t").over(w_desc).alias("n_risk")
    )
    w_asc = (
        Window.orderBy(F.asc("t_days"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Terminal-cell guard (d == n_risk ⇒ the KM product hits an exact
    # zero factor): exclude the zero factor from the fold and pin
    # survival to 0.0 from that cell on, identically in both engines.
    hit_zero = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_asc)
    # Exact ordered product: each factor is ONE correctly-rounded
    # IEEE division of exact integers; the fold multiplies them in
    # t_days order (array_sort on (t_days, f) structs pins the order
    # independent of collect_list's frame traversal), so the result
    # double is bit-identical to the oracle's list_reduce. The list
    # is days-scale — bounded by the calendar, not the data.
    factor = F.when(
        F.col("d") < F.col("n_risk"),
        (F.col("n_risk") - F.col("d")).cast("double")
        / F.col("n_risk").cast("double"),
    ).otherwise(F.lit(1.0))
    flist = F.collect_list(F.struct(F.col("t_days"), factor.alias("f"))).over(
        w_asc
    )
    prod = F.aggregate(
        F.transform(F.array_sort(flist), lambda s: s["f"]),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    surv = F.when(hit_zero == 1, F.lit(0.0)).otherwise(prod)
    return (
        risk.select(
            "t_days",
            "n_risk",
            F.col("d").alias("n_churned"),
            surv.alias("survival"),
        )
        .filter(F.col("n_churned") > 0)
        .orderBy("t_days")
    )


@query(
    "events_cohort_ltv",
    """
    WITH rev AS (
      SELECT user_id, epoch_us(ts) // 604800000000 AS wk,
             SUM(CAST(value AS DECIMAL(18,2)))
               FILTER (WHERE event_type = 'purchase') AS wk_rev
      FROM events GROUP BY 1, 2
    ), firsts AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM rev GROUP BY user_id
    ), cells AS (
      SELECT f.cohort_week,
             CAST(r.wk - f.cohort_week AS INT) AS weeks_since,
             SUM(COALESCE(r.wk_rev, 0)) AS rev
      FROM rev r JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    )
    SELECT cohort_week, weeks_since,
           ROUND(CAST(rev AS DOUBLE), 2) AS cohort_revenue,
           ROUND(CAST(SUM(rev) OVER (PARTITION BY cohort_week
                                     ORDER BY weeks_since
                                     ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
             AS cumulative_ltv
    FROM cells
    ORDER BY cohort_week, weeks_since
    """,
    doc="Cohort lifetime value: purchase revenue per (first-active "
    "cohort week × weeks-since), with the running cumulative LTV "
    "curve per cohort. Revenue reduces to the (user, week) grain "
    "FIRST (DECIMAL-exact), so the cohort join and both aggregations "
    "run on users×weeks rows, never raw events; the cumulative curve "
    "is an ordered prefix sum over the tiny cohort×age aggregate — "
    "deterministic cross-engine. The companion of "
    "events_cohort_retention (counts → dollars).",
)
def q_events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    rev = ev.groupBy(
        "user_id", F.expr(f"({_TS_US}) div {WEEK_US}").alias("wk")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,2)"),
            )
        ).alias("wk_rev")
    )
    firsts = rev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    cells = (
        rev.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).cast("int").alias("weeks_since"),
        )
        .agg(F.sum(F.coalesce(F.col("wk_rev"), F.lit(0))).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("weeks_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_week",
        "weeks_since",
        F.round(F.col("rev").cast("double"), 2).alias("cohort_revenue"),
        F.round(F.sum("rev").over(w).cast("double"), 2).alias("cumulative_ltv"),
    ).orderBy("cohort_week", "weeks_since")


# --- sequence-pattern matching (MATCH_RECOGNIZE emulation) ------------------

_SEQ_CODES = [
    ("click", "c"),
    ("error", "e"),
    ("purchase", "p"),
    ("signup", "s"),
    ("view", "v"),
]
_SEQ_PATTERNS = [
    # (label, RE2/Java-common regex over the per-user code string)
    ("signup_then_purchase", "s.*p"),
    ("clean_conversion", "s[^e]*p"),
    ("error_then_recovered", "e.*p"),
    ("view_only", "^v+$"),
]


def _seq_case_sql() -> str:
    whens = " ".join(
        f"WHEN event_type = '{t}' THEN '{c}'" for t, c in _SEQ_CODES
    )
    return f"CASE {whens} ELSE '?' END"


@query(
    "event_sequence_patterns",
    f"""
    WITH seq AS (
      SELECT user_id,
             string_agg({_seq_case_sql()}, '' ORDER BY ts, event_id) AS s
      FROM events GROUP BY user_id
    ),
    f AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_users,
        {", ".join(
            f"CAST(SUM(CASE WHEN regexp_matches(s, '{rx}') THEN 1 ELSE 0 END) AS BIGINT) AS m{i}"
            for i, (_lbl, rx) in enumerate(_SEQ_PATTERNS)
        )}
      FROM seq
    )
    {" UNION ALL ".join(
        f"SELECT '{lbl}' AS pattern, '{rx}' AS regex, m{i} AS n_users_matching, n_users FROM f"
        for i, (lbl, rx) in enumerate(_SEQ_PATTERNS)
    )}
    ORDER BY pattern
    """,
    doc="MATCH_RECOGNIZE-style sequence-pattern analytics: each "
    "user's event history becomes a 1-char-per-event code string in "
    "total (ts, event_id) order, and funnel/journey classes are "
    "plain regexes over it — ordered conversion (s.*p), "
    "error-free conversion (s[^e]*p — a NOT-BETWEEN constraint no "
    "join formulation expresses cheaply), error recovery, "
    "bounce (^v+$). One groupBy(user) shuffle builds every "
    "sequence; patterns are RE2/Java-common (no lookaround). The "
    "per-user string is bounded by history length — at 100 TB, cap "
    "with a trailing window or sessionize first (events_sessionize) "
    "so state stays bounded.",
)
def q_event_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    code = None
    for t, c in _SEQ_CODES:
        code = (
            F.when(F.col("event_type") == t, F.lit(c))
            if code is None
            else code.when(F.col("event_type") == t, F.lit(c))
        )
    code = code.otherwise(F.lit("?"))
    seq = (
        ev.select("user_id", F.struct("ts", "event_id", code.alias("code")).alias("x"))
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("x")), lambda s: s["code"]),
                "",
            ).alias("s")
        )
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_users")] + [
        F.sum(F.col("s").rlike(rx).cast("long")).cast("long").alias(f"m{i}")
        for i, (_lbl, rx) in enumerate(_SEQ_PATTERNS)
    ]
    f = seq.agg(*aggs)
    stack = ", ".join(
        f"'{lbl}', '{rx.replace(chr(39), chr(39)*2)}', m{i}"
        for i, (lbl, rx) in enumerate(_SEQ_PATTERNS)
    )
    return f.selectExpr(
        "n_users",
        f"stack({len(_SEQ_PATTERNS)}, {stack}) AS (pattern, regex, n_users_matching)",
    ).select("pattern", "regex", "n_users_matching", "n_users").orderBy("pattern")


# --- funnel conversion-latency quantiles -------------------------------------


@query(
    "funnel_latency_quantiles",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      FROM events GROUP BY user_id
    ),
    conv AS (
      -- epoch-microsecond difference // 1e6, NOT DATE_DIFF('second'):
      -- the testdata timestamps carry sub-second parts, and
      -- DATE_DIFF counts boundary CROSSINGS while the engine side
      -- truncates the DIFFERENCE — off-by-one on any pair whose
      -- fractional parts straddle a second boundary.
      SELECT (epoch_us(t_buy) - epoch_us(t_click)) // 1000000 AS lat_s
      FROM firsts
      WHERE t_click IS NOT NULL AND t_buy IS NOT NULL AND t_buy >= t_click
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(lat_s, 0.50) + 1e-9, 1) AS p50_s,
           ROUND(quantile_cont(lat_s, 0.90) + 1e-9, 1) AS p90_s,
           ROUND(quantile_cont(lat_s, 0.99) + 1e-9, 1) AS p99_s,
           CAST(MAX(lat_s) AS BIGINT) AS max_s
    FROM conv
    """,
    doc="Conversion-latency quantiles: first click -> first purchase "
    "per user, exact interpolated p50/p90/p99 of the lag. "
    "events_funnel reports WHO converts; this reports HOW FAST — "
    "the product/SLA follow-up. One event-table aggregate to "
    "(user, first-click, first-buy) — the MIN(CASE) conditional-"
    "aggregate idiom keeps it a single scan, no per-step self-joins "
    "— then a percentile over the converted-users frame (users, not "
    "events). Latencies are exact integer seconds (epoch-micros "
    "div), so the interpolated quantile arithmetic is "
    "engine-identical under the shared ROUND guard.",
)
def q_funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.functions import epoch_us

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("t_click"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_buy"),
    )
    conv = firsts.filter(
        F.col("t_click").isNotNull()
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") >= F.col("t_click"))
    ).select(
        # integer `div`, not float /-then-cast: a correctly-rounded
        # double quotient can round UP across an integer before the
        # truncating cast when the exact quotient sits within half an
        # ulp below it — floor division has no such edge.
        (
            (epoch_us(F.col("t_buy")) - epoch_us(F.col("t_click")))
            .cast("long")
            .alias("__us")
        ),
    ).select(F.expr("__us div 1000000").alias("lat_s"))
    # Quantiles via the bounded-memory exact-percentile machinery
    # (operators.quantiles, the r11 repo-wide sweep): the previous
    # ungrouped F.percentile buffered every converted user's latency
    # in ONE final-agg task — user-scale, so still unbounded at
    # 100x. The percentiles come back as driver literals; count/max
    # stay one ordinary parallel aggregate.
    from teleco_etl_pipeline_spark.operators.quantiles import (
        exact_percentiles,
        half_up,
    )

    p50, p90, p99 = exact_percentiles(conv, "lat_s", [0.50, 0.90, 0.99])
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.max("lat_s").cast("long").alias("max_s"),
    ).select(
        "n_converted",
        F.lit(half_up(p50 + 1e-9, 1)).alias("p50_s"),
        F.lit(half_up(p90 + 1e-9, 1)).alias("p90_s"),
        F.lit(half_up(p99 + 1e-9, 1)).alias("p99_s"),
        "max_s",
    )


@query(
    "events_markov_stationary",
    """
    WITH seq AS (
      SELECT event_type AS cur_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    ), pairs AS (
      SELECT cur_type, next_type, COUNT(*) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY cur_type, next_type
    ), outs AS (
      SELECT cur_type, CAST(SUM(cnt) AS BIGINT) AS n_a FROM pairs GROUP BY 1
    ), w AS (
      SELECT p.cur_type, p.next_type,
             CAST(p.cnt * 1000000 AS BIGINT) // o.n_a AS w
      FROM pairs p JOIN outs o USING (cur_type)
    ), x0 AS (
      SELECT cur_type AS state,
             CAST(1000000000000 // (SELECT COUNT(*) FROM outs) AS BIGINT)
               AS units
      FROM outs
    ), it1 AS (
      SELECT w.next_type AS state,
             CAST(SUM((x.units * w.w) // 1000000) AS BIGINT) AS units
      FROM w JOIN x0 x ON x.state = w.cur_type GROUP BY 1
    ), it2 AS (
      SELECT w.next_type AS state,
             CAST(SUM((x.units * w.w) // 1000000) AS BIGINT) AS units
      FROM w JOIN it1 x ON x.state = w.cur_type GROUP BY 1
    ), it3 AS (
      SELECT w.next_type AS state,
             CAST(SUM((x.units * w.w) // 1000000) AS BIGINT) AS units
      FROM w JOIN it2 x ON x.state = w.cur_type GROUP BY 1
    )
    SELECT state AS event_type, units AS stationary_units
    FROM it3 ORDER BY event_type
    """,
    doc="Stationary distribution of the user-behavior Markov chain "
    "(3 unrolled power-iteration steps from uniform, the PageRank "
    "integer-units discipline): transition weights are row-"
    "stochastic micro-units w_ab = cnt·1e6 div out_a, state mass "
    "x'_b = Σ_a (x_a·w_ab) div 1e6 with per-edge floor — every "
    "intermediate is int64, engine-identical by construction "
    "(envelope: x ≤ 1e12, w ≤ 1e6 → products ≤ 1e18 < 2^63). The "
    "event stream is touched ONCE (the LEAD window + pair reduce); "
    "all iterations run on the |types|² weight matrix, checkpointed "
    "so supersteps never re-scan the stream — the long-run visit "
    "profile that calibrates session-mix forecasts.",
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    win = Window.partitionBy("user_id").orderBy(
        epoch_us("ts"), F.col("event_id")
    )
    seq = ev.select(
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(win).alias("next_type"),
    )
    # The ONE stream pass: pair counts are checkpointed, so outs / w /
    # x0 / k all derive from the materialized |types|²-row frame and
    # the LEAD window never re-executes (outs.count() and the final
    # action both scan this RDD, not the events lineage).
    pairs = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    outs = pairs.groupBy("cur_type").agg(
        F.sum("cnt").cast("long").alias("n_a")
    )
    # |types|²-row weight matrix, materialized once: iterations scan
    # these rows, never the events lineage (materialized-superstep
    # rule). outs is |types| rows → broadcast by AQE on its own.
    w = (
        pairs.join(outs, "cur_type")
        .select(
            "cur_type",
            "next_type",
            F.expr("CAST(cnt * 1000000 AS BIGINT) div n_a").alias("w"),
        )
        .localCheckpoint(eager=True)
    )
    k = outs.count()
    if k == 0:
        # no transitions (fewer than 2 events for every user): the
        # oracle's CTE chain degrades to an empty result — match it
        # instead of dividing by zero.
        return pairs.select(
            F.col("cur_type").alias("event_type"),
            F.col("cnt").alias("stationary_units"),
        ).limit(0)
    x = outs.select(
        F.col("cur_type").alias("state"),
        F.lit(1000000000000 // k).cast("long").alias("units"),
    )
    for _ in range(3):
        x = (
            w.join(x, w["cur_type"] == x["state"])
            .select(
                F.col("next_type"),
                F.expr("(units * w) div 1000000").alias("m"),
            )
            .groupBy(F.col("next_type").alias("state"))
            .agg(F.sum("m").cast("long").alias("units"))
        )
    return x.select(
        F.col("state").alias("event_type"),
        F.col("units").alias("stationary_units"),
    ).orderBy("event_type")


@query(
    "events_markov_perplexity",
    """
    WITH seq AS (
      SELECT user_id,
             CASE WHEN CAST(concat('0x',
                    substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 1000000 < 500000
                  THEN 'A' ELSE 'B' END AS variant,
             event_type AS cur_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts), event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT variant, cur_type, next_type, COUNT(*) AS cnt
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    states AS (SELECT DISTINCT cur_type AS st FROM pairs),
    v AS (SELECT COUNT(*) AS n_states FROM states),
    grid AS (
      SELECT a.st AS cur_type, b.st AS next_type FROM states a, states b
    ),
    train AS (
      SELECT g.cur_type, g.next_type,
             COALESCE(p.cnt, 0) + 1 AS c1
      FROM grid g
      LEFT JOIN (SELECT * FROM pairs WHERE variant = 'A') p
        ON p.cur_type = g.cur_type AND p.next_type = g.next_type
    ),
    rows_ AS (
      SELECT cur_type, SUM(c1) AS r FROM train GROUP BY cur_type
    ),
    model AS (
      SELECT t.cur_type, t.next_type,
             CAST(FLOOR(-LN(CAST(t.c1 AS DOUBLE) / CAST(r.r AS DOUBLE))
                        * 1e12) AS HUGEINT) AS nll_q
      FROM train t JOIN rows_ r ON r.cur_type = t.cur_type
    ),
    test AS (
      SELECT cur_type, next_type, cnt
      FROM pairs WHERE variant = 'B'
    ),
    ce AS (
      SELECT SUM(CAST(t.cnt AS HUGEINT) * m.nll_q) AS nll_sum,
             SUM(t.cnt) AS n_trans
      FROM test t
      JOIN model m
        ON m.cur_type = t.cur_type AND m.next_type = t.next_type
    )
    SELECT CAST((SELECT n_states FROM v) AS BIGINT) AS n_states,
           CAST(n_trans AS BIGINT) AS n_test_transitions,
           ROUND(CAST(nll_sum AS DOUBLE) / 1e12
                 / CAST(n_trans AS DOUBLE) + 1e-9, 6) AS cross_entropy,
           ROUND(EXP(CAST(nll_sum AS DOUBLE) / 1e12
                     / CAST(n_trans AS DOUBLE)) + 1e-9, 4) AS perplexity
    FROM ce
    """,
    doc="First-order Markov sequence-model evaluation: train an "
    "add-one-smoothed event-transition model on the A-variant "
    "users' sequences and score the held-out B users' transitions "
    "by cross-entropy and perplexity — the sequence twin of "
    "doc_perplexity_buckets' unigram LM (does user behavior "
    "generalize across the experiment split, and how predictable is "
    "the next event?). The model is a CONSTANT |states|^2 grid "
    "(~25 cells however large the fact table): per-cell -ln p "
    "computes ONCE on that grid and floor-quantizes to 1e-12 "
    "integers (the only libm, at model grain, not data grain), so "
    "the test-side fold is an exact integer weighted sum — engine "
    "summation order can never perturb it. One LEAD window per user "
    "sequence (the transition-matrix shape), two bounded reduces.",
)
def q_events_markov_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_us("ts"), F.col("event_id")
    )
    seq = ev.select(
        F.when(hash_bucket("user_id") < 500000, F.lit("A"))
        .otherwise(F.lit("B"))
        .alias("variant"),
        F.col("event_type").alias("cur_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )
    pairs = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy("variant", "cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    states = pairs.select(F.col("cur_type").alias("st")).distinct()
    n_states = states.agg(F.count(F.lit(1)).alias("n")).scalar()
    grid = states.select(F.col("st").alias("cur_type")).crossJoin(
        states.select(F.col("st").alias("next_type"))
    )
    train = grid.join(
        pairs.filter(F.col("variant") == "A").select(
            "cur_type", "next_type", "cnt"
        ),
        ["cur_type", "next_type"],
        "left",
    ).select(
        "cur_type",
        "next_type",
        (F.coalesce(F.col("cnt"), F.lit(0)) + 1).alias("c1"),
    )
    rows_ = train.groupBy("cur_type").agg(F.sum("c1").alias("r"))
    model = train.join(rows_, "cur_type").select(
        "cur_type",
        "next_type",
        F.floor(
            -F.log(F.col("c1").cast("double") / F.col("r").cast("double"))
            * F.lit(1e12)
        )
        .cast("decimal(38,0)")
        .alias("nll_q"),
    )
    test = pairs.filter(F.col("variant") == "B").select(
        "cur_type", "next_type", "cnt"
    )
    ce = test.join(model, ["cur_type", "next_type"]).agg(
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("nll_q")).alias(
            "nll_sum"
        ),
        F.sum("cnt").alias("n_trans"),
    )
    ced = F.col("nll_sum").cast("double") / F.lit(1e12) / F.col(
        "n_trans"
    ).cast("double")
    return ce.select(
        n_states.cast("long").alias("n_states"),
        F.col("n_trans").cast("long").alias("n_test_transitions"),
        F.round(ced + F.lit(1e-9), 6).alias("cross_entropy"),
        F.round(F.exp(ced) + F.lit(1e-9), 4).alias("perplexity"),
    )
