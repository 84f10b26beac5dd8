"""SparkSession factory tuned for the engine.

Scale posture: these settings are chosen for correctness on local[N]
test runs while remaining the *right defaults* on a large cluster:

- AQE on (runtime coalescing of shuffle partitions, skew-join
  splitting, dynamic broadcast-join demotion/promotion) so the same
  declarative plans survive a 1000× scale-up without re-tuning.
- ``spark.sql.shuffle.partitions`` is only a pre-AQE upper bound; AQE
  coalesces small post-shuffle partitions, so a value sized for the
  cluster (cores × 2–4) is safe at any SF.
- Arrow enabled for the few pandas bridges (Excel reports, ML
  fallbacks) — never in the relational hot path.
- The driver JVM's tier-4 (C2) JIT thresholds are 10x HotSpot's JDK 17
  defaults (``DRIVER_JIT_OPTIONS``). A cold daily run spent more CPU
  in the JIT compiler threads than in its tasks: over ``perfbench``
  ``bulk_load``'s timed steps (seed 1, 4 vCPU, per-thread CPU from
  /proc) the C2 threads used 68.0 s and C1 12.5 s against 23.6 s of
  executor tasks, compiling Catalyst planning, Janino codegen and
  per-job scheduling code that runs only a few thousand times. With
  the raised thresholds that code stays at C1 while per-row loops
  still reach C2: C2 23.0 s, C1 10.8 s, tasks 24.6 s, and
  ``bulk_load`` ``cpu_s`` median 141.6 -> 97.9 s over 10 seeds. A
  long query session stays inside its own run-to-run spread: the sf0.1
  10-query ``bench.time_query`` subset's sum of medians read 38.5-46.0 s
  before, median 43.6 s after. C1 alone (``-XX:TieredStopAtLevel=1``)
  cut ``bulk_load`` further (``cpu_s`` 67.0 and 70.2 s on two seeds)
  but slowed that session, where per-row loops dominate, to 73.4 s
  (``minhash_lsh_pairs`` 6.8-8.9 -> 23.2 s, ``pricing_summary``
  2.1-3.0 -> 6.1 s).
  In ``local[N]`` the driver JVM is every executor; on a cluster
  only the planning driver gets the flags and executors keep their
  defaults.
- Parquet is written with zstd, not Spark's default snappy. The same
  ``perfbench`` ``bulk_load`` warehouse, re-written by Spark, stored
  1,210,394 bytes with snappy and 893,737 (-26 %) with zstd at the same
  file counts; with one file per table, 944,312 and 665,434 (-45 %).
  Every byte a daily run writes is read back by the next stage, the
  DQ corpus, inference and the next day's run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# HotSpot's four tier-4 (C2) compile thresholds at 10x their JDK 17
# defaults (5000/600/15000/40000, ``java -XX:+PrintFlagsFinal``); the
# measured reason is in the module docstring.
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000"
    " -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000"
    " -XX:Tier4BackEdgeThreshold=400000"
)


def get_spark(
    app_name: str = "teleco-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` so tests and
    bench share one code path; on a real cluster pass ``None`` and set
    the master via spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    parts = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: the backbone of scale-portability ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing (pre-AQE bound) ---
        .config("spark.sql.shuffle.partitions", str(parts))
        # --- Joins: allow shuffled-hash when its size conditions are
        #     met instead of always sort-merging (no sort on either
        #     side; the standard batch-ETL baseline), and let AQE
        #     rewrite a planned sort-merge to shuffled-hash at
        #     runtime when every post-shuffle partition is under
        #     64 MB (default 0 = never). Join RESULTS are identical
        #     either way; measured r13 on the 25-query join slice:
        #     41.2 s -> 33.9 s sum-of-medians (fk_integrity_report
        #     3.98 -> 2.31 s, market_share 2.41 -> 1.85 s). Build
        #     sides stay bounded: the planner's own size conditions
        #     gate the static choice, the 64 MB threshold gates the
        #     AQE rewrite. ---
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # --- Broadcast: dims in the star schema are tiny; let
        #     Catalyst broadcast them (10 MB default is fine, raise a
        #     bit for the 9-column services dim at high SF) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for the pandas bridges only ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- Parquet: vectorized reader on, sane split size so a
        #     100 TB scan parallelizes without tiny-task overhead ---
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- zstd: about a quarter fewer stored bytes than snappy on
        #     the warehouse tables (module docstring) ---
        .config("spark.sql.parquet.compression.codec", "zstd")
        # --- ANSI off: we rely on NULL-on-bad-cast semantics (the
        #     reference's NULLIF/regex-scrub casts) ---
        .config("spark.sql.ansi.enabled", "false")
        # Quiet timezone semantics: store/compare in UTC everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # spark.cleaner.periodicGC.interval stays at Spark's 30min
        # default: in r13 a 45s interval put stop-the-world pauses into
        # measured work (bench sum of medians 257 s -> 397 s). bench.py
        # runs one untimed System.gc() per query instead.
        # --- Driver heap: in local mode the driver JVM IS every
        #     executor; Spark's 1g default is laptop-sized and a
        #     long bench/parity session (hundreds of queries of
        #     accumulated broadcasts + block-manager state on 32
        #     threads) eventually fails a broadcast build against it
        #     (r11: trade_graph_ppr at bench query ~170). 16g on the
        #     128 GiB box; only effective at session creation, and
        #     extra_conf (scaling harnesses pass 32-48g) overrides. ---
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # --- JIT: C2 only for hot loops (module docstring). Like the
        #     heap, only effective at JVM launch. ---
        .config("spark.driver.extraJavaOptions", DRIVER_JIT_OPTIONS)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
