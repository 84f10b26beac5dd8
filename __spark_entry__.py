"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual query catalog lives in
``teleco_etl_pipeline_spark/plans/registry.py`` (populated by
``plans/relational.py`` and ``operators/{dedup,similarity,text}.py``);
this module adapts it to the driver's interface, ordering it by the
committed CORRECTNESS_r*.json history.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from teleco_etl_pipeline_spark.plans.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    qs = all_queries()
    return qs["pricing_summary"].build(spark, "/root/testdata/sf0.001")


def driver_vintages() -> dict[str, int]:
    """name -> newest round with a green three-way driver row, from
    the CORRECTNESS_r*.json files beside this module (none: {})."""
    vintage: dict[str, int] = {}
    for f in glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        with open(f) as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                # rows-only sketches record hash_match: null
                and row.get("hash_match") in (True, None)
            )
            if ok:
                vintage[name] = max(vintage.get(name, 0), rnd)
    return vintage


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, ordered stalest driver evidence first:
    oracle-backed queries by newest green driver round (never = 0),
    ties in registration order, rows-only sketches last."""
    # The driver records only the first 50 of this order each round.
    vintage = driver_vintages()
    ordered = sorted(
        all_queries().values(),
        key=lambda q: (q.oracle is None, vintage.get(q.name, 0)),
    )
    return {q.name: q.build for q in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (omitted for non-SQL-
    expressible sketch ops → driver records a rows-only check).

    Exactly TWO queries are rows-only, both BY DESIGN, and each has
    an exact oracle-backed twin that value-checks the same shape:

    - ``approx_distinct_users`` (HLL sketch — approx_count_distinct
      has no deterministic SQL equivalent) ⇄ exact twin
      ``count_distinct`` (same grouping, exact COUNT(DISTINCT)).
    - ``approx_quantile_profile`` (KLL/t-digest sketch percentiles)
      ⇄ exact twin ``quantile_profile`` (same groups/percentiles,
      exact interpolated `percentile`).

    Tolerance tests (tests/test_analytics_extra.py) additionally pin
    each sketch against its exact twin, so the rows-only driver rows
    are shape smoke-checks on top of value-checked twins, not
    unverified operators."""
    return {
        name: q.oracle for name, q in all_queries().items() if q.oracle is not None
    }
