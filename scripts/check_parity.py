"""Local stand-in for the driver's correctness harness.

Runs every registered query on Spark and (when an oracle exists) the
oracle SQL on DuckDB against the same parquet tables, then compares
row count, column names, and an order-insensitive multiset of values
(columns sorted by name). Doubles are compared by EXACT IEEE-754
bit pattern (struct.pack('>d').hex()) — the round-6 lesson: the
driver value-hashes exact values, and a round(v, 9) tolerance here
let last-ulp cross-engine divergences ship red. The round-8 lesson:
type class IS value — the oracle side is fetched via ``fetchdf``
exactly like the driver, so a DuckDB HUGEINT/DECIMAL output column
widens to float64 and MUST mismatch Spark's int64 (the r5-r7 red
class: uncast integer SUMs). No integral-double→int folding; the
only canonicalization is NaN → "NaN" and numpy scalar → Python
scalar (which preserves int-vs-float class).

Usage: python scripts/check_parity.py [--json OUT] [sf_dir] [query ...]
"""

from __future__ import annotations

import argparse
import decimal
import json
import math
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np

from teleco_etl_pipeline_spark.session import get_spark
from teleco_etl_pipeline_spark.sources.tables import TABLE_NAMES


def _canon(v):
    if v is None:
        return None
    if isinstance(v, np.generic):
        # numpy scalar (fetchdf/itertuples side) → Python scalar;
        # np.int64→int, np.float64→float, np.bool_→bool — class is
        # preserved, so an int-vs-float divergence still mismatches.
        v = v.item()
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        # Spark DECIMAL collects as Decimal; leave it as Decimal so a
        # float64-widened DuckDB DECIMAL on the other side MISMATCHES
        # (the driver hashes the fetched representations — type class
        # is part of the value; the oracle-type lint in
        # tests/test_oracle_types.py forbids DECIMAL outputs anyway).
        return ("decimal", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # EXACT bits, no integral-double→int fold: fetchdf widens
        # DuckDB HUGEINT (uncast integer SUM) to float64, and the
        # driver hashes 6.0 != 6 — folding hid that for 3 rounds.
        return struct.pack(">d", v).hex()
    return v


def _multiset(rows, cols_order):
    out = []
    for r in rows:
        out.append(tuple(_canon(r[i]) for i in cols_order))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--json", metavar="OUT", help="also write the per-query records to OUT")
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.001")
    parser.add_argument("query", nargs="*", help="check only these queries")
    args = parser.parse_args()
    json_out, sf_dir, only = args.json, args.sf_dir, set(args.query)
    # Data-fitted and path-bound oracles bake this dir in when the
    # registry is imported, so it must be the dir under check.
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    records: dict[str, dict] = {}
    spark = get_spark(app_name="parity-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # The driver's harness runs a vanilla Spark 4 session where ANSI
    # mode defaults ON — mimic it so this sweep catches any cast that
    # relies on the engine session's ansi=false.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    failures = []
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            sdf = q.build(spark, sf_dir)
            spark_cols = list(sdf.columns)
            spark_rows = [list(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            records[name] = {"status": "spark_error", "err": str(e)[:500]}
            print(f"✗ {name}: spark error: {e}")
            continue
        if q.oracle is None:
            records[name] = {"status": "rows_only", "spark_rows": len(spark_rows)}
            print(f"• {name}: rows-only ({len(spark_rows)} rows) — no oracle")
            continue
        try:
            odf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"ORACLE ERROR: {e}"))
            records[name] = {"status": "oracle_error", "err": str(e)[:500]}
            print(f"✗ {name}: oracle error: {e}")
            continue
        oracle_cols = list(odf.columns)
        if sorted(spark_cols) != sorted(oracle_cols):
            failures.append((name, f"schema: spark={spark_cols} oracle={oracle_cols}"))
            records[name] = {"status": "schema_mismatch"}
            print(f"✗ {name}: schema mismatch spark={spark_cols} oracle={oracle_cols}")
            continue
        if len(spark_rows) != len(odf):
            failures.append((name, f"rows: spark={len(spark_rows)} oracle={len(odf)}"))
            records[name] = {
                "status": "rowcount_mismatch",
                "spark_rows": len(spark_rows),
                "oracle_rows": len(odf),
            }
            print(f"✗ {name}: row count spark={len(spark_rows)} oracle={len(odf)}")
            continue
        order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
        s_ms = _multiset(spark_rows, order)
        o_rows = odf[[spark_cols[i] for i in order]].itertuples(index=False, name=None)
        o_ms = sorted(
            (tuple(_canon(v) for v in r) for r in o_rows),
            key=lambda t: tuple(str(x) for x in t),
        )
        if s_ms != o_ms:
            diff = next(
                (i, a, b) for i, (a, b) in enumerate(zip(s_ms, o_ms)) if a != b
            )
            failures.append((name, f"values differ, first diff: {diff}"))
            records[name] = {"status": "value_mismatch", "rows": len(s_ms)}
            print(f"✗ {name}: VALUES differ ({len(s_ms)} rows); first diff {diff}")
            continue
        records[name] = {"status": "match", "rows": len(s_ms)}
        print(f"✓ {name}: {len(s_ms)} rows match")

    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "tool": "scripts/check_parity.py",
                    "results": records,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
    print(f"\n{len(failures)} failures" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
