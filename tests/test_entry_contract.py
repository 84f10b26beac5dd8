"""Driver-contract smoke tests: entry/queries/oracle_sql shape."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import sys

from tests.conftest import load_entry


def test_entry_returns_rows(spark):
    mod = load_entry()
    df = mod.entry(spark)
    assert df.count() > 0


def test_queries_and_oracles_consistent(spark, sf_dir):
    mod = load_entry()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert len(qs) >= 30
    assert set(oracles) <= set(qs)
    # every oracle-less query is one of the declared sketch ops
    # The only queries without oracles are the two true sketches
    # (HLL / KLL): their outputs are estimator-internal and not
    # reproducible in DuckDB; both have exact oracle-backed twins.
    assert set(qs) - set(oracles) == {
        "approx_distinct_users",
        "approx_quantile_profile",
    }


def test_every_query_builds_valid_plan(catalog_plans):
    failed = [f"{n}: {err}" for n, (_, _, err) in catalog_plans.items() if err]
    assert not failed, failed
    for name, (columns, plan, _) in catalog_plans.items():
        assert columns and plan, name


def _load_bench():
    """The `bench` module, loaded from its file."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    spec = importlib.util.spec_from_file_location("bench", path)
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_bench_queries_all_registered():
    """bench.py must never KeyError at driver time (the round-3
    failure mode was a bench crash): every headline name resolves in
    the registry."""
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    bench = _load_bench()
    missing = [n for n in bench.BENCH_QUERIES if n not in all_queries()]
    assert not missing, missing
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES)


def test_time_query_runs_cold(spark, sf_dir):
    """Every timed run starts cold: part_basket_lift persists its
    incidence frame in build(), and time_query clears the cache after
    each run, so nothing stays resident for the next run or query."""
    times = _load_bench().time_query(spark, "part_basket_lift", sf_dir, runs=2)
    assert len(times) == 2 and 0 < times[0] <= times[1]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_session_jvm_runs_raised_c2_thresholds(spark):
    """get_spark launches the driver JVM with the tier-4 (C2) JIT
    thresholds at 10x their defaults, and bench artifacts name them."""
    args = _load_bench().jvm_args(spark)
    assert {
        "-XX:Tier4InvocationThreshold=50000",
        "-XX:Tier4MinInvocationThreshold=6000",
        "-XX:Tier4CompileThreshold=150000",
        "-XX:Tier4BackEdgeThreshold=400000",
    } <= set(args)
    assert all(a.startswith("-X") for a in args)


def _entry_beside(tmp_path, monkeypatch, history):
    """`__spark_entry__` copied into tmp_path next to the given
    {file name: rows} CORRECTNESS history, loaded from there."""
    repo = os.path.dirname(os.path.dirname(__file__))
    shutil.copy(os.path.join(repo, "__spark_entry__.py"), tmp_path)
    for fname, rows in history.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", tmp_path / "__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_record_order_computed_from_history(tmp_path, monkeypatch):
    """queries() puts never-recorded oracle-backed queries first, then
    the oldest newest-green round, ties in registration order, and the
    rows-only sketches last, sorted the same way; a red row is no
    evidence."""
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    reg = all_queries()
    ob = [n for n, q in reg.items() if q.oracle is not None]
    rows_only = [n for n, q in reg.items() if q.oracle is None]
    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    red = dict(green, hash_match=False)
    sketch = dict(green, hash_match=None)
    mod = _entry_beside(
        tmp_path,
        monkeypatch,
        {
            "CORRECTNESS_r3.json": {
                ob[0]: green,
                ob[5]: green,
                ob[7]: green,
                ob[9]: red,
                rows_only[0]: sketch,
            },
            "CORRECTNESS_r10.json": {ob[5]: green, ob[2]: green},
        },
    )
    assert mod.driver_vintages() == {
        ob[0]: 3,
        ob[7]: 3,
        ob[5]: 10,
        ob[2]: 10,
        rows_only[0]: 3,
    }
    recorded = {ob[0], ob[2], ob[5], ob[7]}
    expected = (
        [n for n in ob if n not in recorded]
        + [ob[0], ob[7], ob[2], ob[5]]
        + rows_only[1:]
        + rows_only[:1]
    )
    order = mod.queries()
    assert list(order) == expected
    assert all(order[n] is reg[n].build for n in reg)


def test_record_window_leads_with_stalest_committed_evidence():
    """On the committed history, the 50 queries the driver records
    first exclude every query green in the newest round and include
    every oracle-backed query never recorded green."""
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    mod = load_entry()
    vintage = mod.driver_vintages()
    newest = {n for n, r in vintage.items() if r == max(vintage.values())}
    never = {
        n for n, q in all_queries().items() if q.oracle is not None and n not in vintage
    }
    window = set(list(mod.queries())[:50])
    assert newest
    assert not window & newest
    assert never <= window
