"""Query registry: name → (spark builder, optional DuckDB oracle SQL).

Every operator family from SURVEY.md §2 registers at least one query
here; ``__spark_entry__.py`` exposes the registry to the driver's
correctness harness. A query with ``oracle=None`` is non-SQL-
expressible (driver records a weaker rows-only check).

Contract (see __spark_entry__.py docstring): the Spark result and the
oracle result must agree on row count, schema (column names) and
order-insensitive value hash — so every computed column is aliased
identically on both sides, double aggregates are rounded on both
sides (FP summation order differs between engines), and timestamps
are projected as epoch integers or dates.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# The data dir that fitted or path-bound oracles bake into their SQL at
# import. The correctness harness checks sf=0.01 only; set the variable
# before importing to check another SF.
ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None, doc: str = ""):
    """Decorator registering a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = Query(name=name, build=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that populate the registry.
    from teleco_etl_pipeline_spark.plans import analytics  # noqa: F401
    from teleco_etl_pipeline_spark.plans import corpus  # noqa: F401
    from teleco_etl_pipeline_spark.plans import drift  # noqa: F401
    from teleco_etl_pipeline_spark.plans import events  # noqa: F401
    from teleco_etl_pipeline_spark.plans import ml  # noqa: F401
    from teleco_etl_pipeline_spark.plans import quality  # noqa: F401
    from teleco_etl_pipeline_spark.plans import relational  # noqa: F401
    from teleco_etl_pipeline_spark.plans import stats  # noqa: F401
    from teleco_etl_pipeline_spark.plans import tpch_extra  # noqa: F401
    from teleco_etl_pipeline_spark.operators import bpe  # noqa: F401
    from teleco_etl_pipeline_spark.operators import cdc  # noqa: F401
    from teleco_etl_pipeline_spark.operators import dedup  # noqa: F401
    from teleco_etl_pipeline_spark.operators import freq  # noqa: F401
    from teleco_etl_pipeline_spark.operators import graph  # noqa: F401
    from teleco_etl_pipeline_spark.operators import layout  # noqa: F401
    from teleco_etl_pipeline_spark.operators import maintenance  # noqa: F401
    from teleco_etl_pipeline_spark.operators import multimodal  # noqa: F401
    from teleco_etl_pipeline_spark.operators import temporal  # noqa: F401
    from teleco_etl_pipeline_spark.operators import profile  # noqa: F401
    from teleco_etl_pipeline_spark.operators import sampling  # noqa: F401
    from teleco_etl_pipeline_spark.operators import scd  # noqa: F401
    from teleco_etl_pipeline_spark.operators import similarity  # noqa: F401
    from teleco_etl_pipeline_spark.operators import skew  # noqa: F401
    from teleco_etl_pipeline_spark.operators import sketch  # noqa: F401
    from teleco_etl_pipeline_spark.operators import text  # noqa: F401

    return dict(_REGISTRY)
