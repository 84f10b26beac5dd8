"""Driver-contract smoke tests: entry/queries/oracle_sql shape."""

from __future__ import annotations

import importlib.util
import os

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


def test_record_window_is_exact_and_disjoint():
    """The 50-slot recording window must stay exactly 50 (the driver
    records the first 50 of queries() order), disjoint from the
    past-window list, with no typo'd names in either."""
    from teleco_etl_pipeline_spark.plans.registry import all_queries

    mod = load_entry()
    order, last = mod._RECORD_ORDER, mod._RECORD_LAST
    reg = set(all_queries())
    assert len(order) == 50 and len(set(order)) == 50
    assert not set(order) & set(last)
    assert set(order) <= reg and set(last) <= reg
    # queries() must lead with exactly the window
    assert list(mod.queries())[:50] == order
