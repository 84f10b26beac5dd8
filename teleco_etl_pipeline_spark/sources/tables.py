"""Parquet table loading for the harness star schema.

The driver supplies deterministic TPC-H-ish parquet tables (see
TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings. Loading is a plain
``spark.read.parquet`` with full predicate-pushdown / column-pruning
support. The first load of a path runs one Spark job to infer the
schema from a footer: these files are pandas-written, so their footers
hold only ``ARROW:schema``/``pandas`` metadata and no Spark schema for
``Warehouse.read``'s footer shortcut (``catalog.py``) to take. The
inferred schema is kept per path, keyed on the first data file's
name, size and mtime and on the ``nanosAsLong`` setting, and later
loads pass it to ``spark.read.schema``: no job.

Scale note: at 100 TB these reads become multi-thousand-file scans;
``spark.sql.files.maxPartitionBytes`` (set in session.py) controls
split granularity and filters/projections are pushed to the parquet
reader by Catalyst — keep all downstream code declarative so that
keeps working.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_ts_is_nanos(path):
        # A timestamp[ns] footer throws PARQUET_TYPE_ILLEGAL unless
        # Spark is told to surface it as an int64 nanosecond epoch —
        # set BEFORE the read so the LongType normalization branch is
        # actually reachable for that vintage.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, path)
    if name == "events":
        df = _normalize_event_time(df)
    return df


# Spark's inferred schema per (path, first data file's name, size and
# mtime, nanosAsLong): a rewritten file or a flipped setting is
# inferred again.
_INFERRED: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred by the
    first read of the path passed to later ones (no inference job)."""
    first = _first_data_file(path)
    if first is None:
        return spark.read.parquet(path)
    st = os.stat(first)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong")
    key = (path, first, st.st_size, st.st_mtime_ns, nanos)
    schema = _INFERRED.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _INFERRED[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _first_data_file(path: str) -> str | None:
    """The file whose footer Spark's inference reads: ``path`` itself,
    or the first in name order of a directory's files not prefixed
    ``_`` or ``.``; ``None`` when there is none."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    parts = sorted(f for f in os.listdir(path) if not f.startswith(("_", ".")))
    return os.path.join(path, parts[0]) if parts else None


def _events_ts_is_nanos(path: str) -> bool:
    """Footer sniff: does ``ts`` carry parquet timestamp[ns]? One
    driver-side metadata read (no data pages) — negligible even when
    the table is a 100 TB directory, since only one footer is read."""
    try:
        import pyarrow.parquet as pq

        first = _first_data_file(path)
        if first is None:
            return False
        return str(pq.read_schema(first).field("ts").type) == "timestamp[ns]"
    except Exception:  # noqa: BLE001 — unreadable footer ⇒ let Spark decide
        return False


# NTZ epoch anchor: interval arithmetic on TIMESTAMP_NTZ never
# consults spark.sql.session.timeZone, unlike LTZ↔NTZ casts which
# render wall-clock through it (the engine must assume NOTHING about
# the harness session's timezone — see functions.epoch_us).
_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Guarantee ``events.ts`` is TIMESTAMP_NTZ (UTC wall clock)
    regardless of datagen vintage.

    Current harness data ships ``ts`` as parquet timestamp[us] (no
    tz), which Spark reads natively as TIMESTAMP_NTZ — the fast path
    is a no-op, so range filters on ``ts`` still reach the parquet
    reader as PushedFilters. Older generators wrote timestamp[ns],
    surfaced as an int64 nanosecond epoch via ``nanosAsLong`` (set in
    :func:`load_table`). Both fallbacks convert via exact MICROSECOND
    interval arithmetic against the NTZ epoch — session-timezone-
    independent by construction, where a bare ``cast('timestamp_ntz')``
    would render wall clock through ``spark.sql.session.timeZone``
    and silently shift event times under a non-UTC harness session.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    dt = df.schema["ts"].dataType
    if isinstance(dt, TimestampNTZType):
        return df
    if isinstance(dt, LongType):  # legacy int64 epoch-nanos
        return df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts div 1000, {_NTZ_EPOCH})")
        )
    if isinstance(dt, TimestampType):  # LTZ instant → UTC wall clock
        return df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, unix_micros(ts), {_NTZ_EPOCH})")
        )
    raise TypeError(f"events.ts has unsupported type {dt}")


def ensure_min_splits(df: DataFrame, key_col: str) -> DataFrame:
    """Small-file cliff guard (r10): a compact parquet file splits
    into fewer input partitions than cores (byte-based split sizing),
    confining any CPU-bound downstream projection/explode to 1-2 of
    32 threads — measured as the exact_dedup x5.9 sf1 grower. When
    the scan under-splits, repartition on the key BEFORE the hot
    work; when the source already has >= 1 split per core (every
    realistic big-data layout) this is a NO-OP, so no extra raw-data
    shuffle is ever paid at scale. One shared definition so the five
    former copies of this invariant cannot drift."""
    from pyspark.sql import functions as F

    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par, F.col(key_col))
    return df
