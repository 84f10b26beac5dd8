"""Layer catalog: the business column list, the staging and
metadata schemas, and path management and IO for Parquet layers.

The reference keeps four Postgres schemas (public/staging, bronze,
silver, gold) plus pipeline metadata (dags/DataWarehouse.py:37,
dags/SQL/Bronze/DDL_BronzeTable.sql, dags/SQL/Silver/DDL_Silver_
Table.sql, dags/SQL/Gold/DDL_gold.sql). Here each layer is a
directory of Parquet tables. ``Warehouse.write`` applies no schema:
each table keeps the schema of the frame that wrote it, and
``Warehouse.read`` takes that schema from a data file's footer instead
of running a Spark job to infer it.

Every ``Warehouse`` write sizes its files by one rule,
``max(1, ceil(input bytes / TARGET_FILE_BYTES))`` (``file_count``),
where the input bytes are the sizes of the files the frame's plan reads
(``_input_bytes``, worked out on the driver). A table's file count
thus follows its data, not the core count or the partitioning its
last stage happened to have. The session writes Parquet with zstd
(``session.get_spark``).

Pipeline metadata is no table: ``sources/state.py`` keeps it as JSON
documents under ``meta/``, and ``META_SCHEMA`` is the file
registry's shape when Spark reads it (``FileRegistry.frame``).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from teleco_etl_pipeline_spark.operators.upsert import (
    heal_interrupted_swap,
    safe_overwrite,
)

# ---------------------------------------------------------------------------
# Business columns (variant-A ingest shape, FIXTURES.md §1; bronze DDL
# dags/SQL/Bronze/DDL_BronzeTable.sql:8-46)
# ---------------------------------------------------------------------------

SERVICE_COLS = [
    "phone_service",
    "multiple_lines",
    "internet_service",
    "online_security",
    "online_backup",
    "device_protection",
    "tech_support",
    "streaming_tv",
    "streaming_movies",
]

_BUSINESS_FIELDS: list[tuple[str, T.DataType]] = [
    ("customer_id", T.StringType()),
    ("gender", T.StringType()),
    ("senior_citizen", T.StringType()),
    ("partner", T.StringType()),
    ("dependents", T.StringType()),
    ("country", T.StringType()),
    ("state", T.StringType()),
    ("city", T.StringType()),
    ("zip_code", T.IntegerType()),
    ("lat_long", T.StringType()),
    ("latitude", T.DoubleType()),
    ("longitude", T.DoubleType()),
    *[(c, T.StringType()) for c in SERVICE_COLS],
    ("paperless_billing", T.StringType()),
    ("payment_method", T.StringType()),
    ("contract", T.StringType()),
    ("tenure_in_months", T.IntegerType()),
    ("monthly_charges_amount", T.DoubleType()),
    ("total_charges", T.DoubleType()),
    ("churn_label", T.StringType()),
    ("churn_value", T.IntegerType()),
    ("churn_score", T.StringType()),  # may hold 'n/a' — scrubbed in gold
    ("cltv", T.StringType()),  # may hold 'n/a'
    ("churn_reason", T.StringType()),
]

# Staging reads everything as string (schema-on-read tolerance,
# DataWarehouse.py:615 pandas inference ~ permissive).
STAGING_SCHEMA = T.StructType(
    [T.StructField(n, T.StringType(), True) for n, _ in _BUSINESS_FIELDS]
)

META_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("file_path", T.StringType(), True),
        T.StructField("file_size_bytes", T.LongType(), True),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("error_message", T.StringType(), True),
        T.StructField("processed_at", T.TimestampType(), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("run_id", T.StringType(), True),
        T.StructField("checksum_md5", T.StringType(), True),
    ]
)


def _write_counted(df: DataFrame, write) -> int:
    """Run ``write(df)`` and return the rows it wrote, counted by an
    observation on ``df`` during the write job itself (no second
    query). ``df`` must be the frame the write's final stage consumes,
    with every exchange below it: Spark applies accumulator updates
    exactly once only from result stages, and a job that re-runs a
    shuffle's child (a range sampler) would count rows twice."""
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")))
    return obs.get["rows"]


# Output file size the sizing rule aims at; ``maintenance.compact``,
# ``cluster_by`` and ``zorder_by`` use it too.
TARGET_FILE_BYTES = 128 * 1024 * 1024


def file_count(nbytes: int, target_file_bytes: int | None = None) -> int:
    """Files to write for ``nbytes`` of data:
    ``max(1, ceil(nbytes / target_file_bytes))``, the target defaulting
    to ``TARGET_FILE_BYTES``."""
    target = TARGET_FILE_BYTES if target_file_bytes is None else target_file_bytes
    return max(1, -(-nbytes // target))


def _input_bytes(df: DataFrame) -> int:
    """Bytes of the files ``df``'s plan reads, from the sizes its file
    indexes listed when the frame was built: no Spark job. Each index
    counts once, however often the plan reads it.

    The walk is over the analyzed plan, so it sees through a cache: in
    the optimized plan a ``.cache()``d sub-plan is an
    ``InMemoryRelation``, and ``DataFrame.inputFiles()`` finds no file
    behind it."""
    sizes = {}
    leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() != "LogicalRelation":
            continue
        rel = leaf.relation()
        if rel.getClass().getSimpleName() == "HadoopFsRelation":
            index = rel.location()
            sizes[index.rootPaths().mkString(",")] = index.sizeInBytes()
    return sum(sizes.values())


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _data_files(path: str) -> list[str]:
    """The data files directly in a table directory, in path order:
    the names Spark does not skip (no ``_`` or ``.`` prefix)."""
    return sorted(
        e.path
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )


def _stored_schema(path: str) -> T.StructType | None:
    """The Spark schema stored in the footer of the table's first data
    file in path order, or ``None`` when that footer has none (a file
    not written by Spark) or the table has no data file.

    The file is the one Spark's own inference reads when
    ``mergeSchema`` is off and no summary file exists (``Warehouse``
    writes none): ``_``/``.``-prefixed names are skipped, the first of
    the rest in path order decides. Only files directly in ``path``
    count, so a partitioned directory falls back to inference, and a
    missing one to Spark's own not-found error. Spark makes a user
    schema nullable as it does an inferred one, so the two read the
    same."""
    if not os.path.isdir(path):
        return None
    files = _data_files(path)
    if not files:
        return None
    meta = pq.read_metadata(files[0]).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        return None
    return T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def _sized(df: DataFrame) -> DataFrame:
    """``df`` narrowed to ``file_count`` of its input bytes partitions
    (``coalesce``: no shuffle, and never more partitions than ``df``
    has)."""
    return df.coalesce(file_count(_input_bytes(df)))


@dataclass
class Warehouse:
    """Path layout + table IO for one warehouse root directory.

    Every layer table is a plain Parquet directory, read and written
    only through these methods. There is no transaction log, so
    in-place semantics are emulated: keyed merges run as relational
    plans (operators/upsert.py) and every rewrite goes through
    ``safe_overwrite``'s temp-and-swap. Reads and existence checks
    first heal a swap that a crash interrupted, so a table that
    survives only as its ``.old`` backup is never mistaken for a
    missing one. Correct for a single writer; no isolation against
    concurrent writers.
    """

    spark: SparkSession
    root: str

    def path(self, layer: str, table: str) -> str:
        return os.path.join(self.root, layer, table)

    def exists(self, layer: str, table: str) -> bool:
        path = self.path(layer, table)
        heal_interrupted_swap(path)
        return os.path.exists(path)

    def read(self, layer: str, table: str) -> DataFrame:
        """The table, read with the schema its footer stores (no Spark
        job); inferred by Spark when the footer carries none."""
        path = self.path(layer, table)
        heal_interrupted_swap(path)
        schema = _stored_schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def row_count(self, layer: str, table: str) -> int:
        """The table's rows, summed from its data files' footers (no
        Spark job). A missing table raises ``FileNotFoundError``."""
        path = self.path(layer, table)
        heal_interrupted_swap(path)
        return sum(pq.read_metadata(f).num_rows for f in _data_files(path))

    def write(self, df: DataFrame, layer: str, table: str, mode: str = "overwrite") -> int:
        """Write ``df`` to a table in ``file_count`` of its input bytes
        files; returns the rows this call wrote."""
        path = self.path(layer, table)
        return _write_counted(_sized(df), lambda d: d.write.mode(mode).parquet(path))

    def overwrite_safe(self, df: DataFrame, layer: str, table: str) -> int:
        """Overwrite a table that ``df`` may lazily read from, sized like
        :meth:`write`; returns the rows written."""
        path = self.path(layer, table)
        return _write_counted(_sized(df), lambda d: safe_overwrite(d, path))

    def write_zordered(
        self,
        df: DataFrame,
        layer: str,
        table: str,
        zcols: list,
        bits: int = 8,
    ) -> int:
        """Overwrite a layer table Z-order-clustered on ``zcols`` —
        the multi-dimensional data-skipping layout
        (``operators/layout.py``): range-partition + sort on the
        Morton key so every output file covers a small hypercube of
        the quantized key space and parquet min/max stats prune
        selective predicates on ANY clustered dimension.

        ``zcols`` are ALREADY-QUANTIZED integer Column expressions
        (e.g. ``pmod(customer_key, 256)``) — the
        :func:`operators.layout.zorder_key` contract. The range
        exchange makes ``file_count`` of the input bytes files, so a
        table smaller than ``TARGET_FILE_BYTES`` is one sorted file and
        the layout prunes only once there are files to skip (the
        clustering shuffle is the same single exchange a plain sorted
        write would pay). Atomic like :meth:`overwrite_safe`, and
        returns the rows written."""
        from teleco_etl_pipeline_spark.operators.layout import (
            zorder_repartition,
        )

        # Counted above the range exchange, not on ``df``: its sampler
        # job re-runs everything below it.
        clustered = zorder_repartition(df, zcols, file_count(_input_bytes(df)), bits)
        path = self.path(layer, table)
        return _write_counted(clustered, lambda d: safe_overwrite(d, path))
