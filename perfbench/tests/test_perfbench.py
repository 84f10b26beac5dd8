"""The benchmark's own tests: generator determinism, the expected counts
at a tiny size, the event-log parser on one tiny query, and the CPU
accounting of ``cpu_s``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import churngen  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import Ops, _check_report  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    return {
        n: hashlib.md5(open(os.path.join(d, n), "rb").read()).hexdigest()
        for n in sorted(os.listdir(d))
    }


def test_generator_is_deterministic(tmp_path):
    a = churngen.write_delivery(str(tmp_path / "a"), 7, 3, 400, 0, existing=[1, 2])
    b = churngen.write_delivery(str(tmp_path / "b"), 7, 3, 400, 0, existing=[1, 2])
    c = churngen.write_delivery(str(tmp_path / "c"), 8, 3, 400, 0, existing=[1, 2])
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    fa = churngen.write_fixes(str(tmp_path / "fa"), 3, a["fixable_keys"][:6])
    fb = churngen.write_fixes(str(tmp_path / "fb"), 3, a["fixable_keys"][:6])
    assert fa == fb
    assert _digest(str(tmp_path / "fa")) == _digest(str(tmp_path / "fb"))


def test_expected_counts_add_up(tmp_path):
    exp = churngen.write_delivery(str(tmp_path), 1, 2, 1000, 0, existing=[5, 6, 7])
    # 2,000 rows at 18 defects per mille, dup pairs counting twice.
    assert exp["input"] == 2000
    assert exp["rejected"] == 36 + 4
    assert exp["dup_vs_bronze"] == 3
    assert exp["staged"] == 2000 - 40 - 3
    lines = sum(
        len(open(os.path.join(tmp_path, n)).read().splitlines()) - 1
        for n in os.listdir(tmp_path)
    )
    assert lines == 2000


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from teleco_etl_pipeline_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    s = get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(log_dir),
            "spark.eventLog.compress": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s, str(log_dir)
    s.stop()


def test_run_report_matches_generator(spark, tmp_path):
    from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse

    s, _ = spark
    wh = str(tmp_path / "wh")
    seed = churngen.write_delivery(str(tmp_path / "seed"), 1, 1, 300, 0)
    ops = Ops()
    rep = run_warehouse(s, wh, str(tmp_path / "seed"), run_date="2026-01-01")
    _check_report(ops, "seed", rep, seed, 0, 0)
    day = churngen.write_delivery(
        str(tmp_path / "day"), 2, 2, 150, seed["next_key"], existing=list(range(100))
    )
    rep = run_warehouse(s, wh, str(tmp_path / "day"), run_date="2026-01-02")
    _check_report(ops, "day", rep, day, seed["staged"], seed["staged"])
    assert ops.failed == 0, ops.failures
    assert ops.attempted == 12


def test_eventlog_folds_one_tiny_query(spark):
    s, log_dir = spark
    tracer = Tracer(s)
    with tracer.span("step.tiny"):
        with tracer.span("agg"):
            s.range(0, 1000, 1, 2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    s.sparkContext.setJobDescription(None)
    # Spark flushes the log at each job end; wait until the listener
    # bus has delivered it.
    s.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    folded = eventlog.fold(log_dir)
    tiny = eventlog.total(folded, lambda d: d == "step.tiny/agg")
    assert tiny["jobs"] >= 1
    assert tiny["tasks"] >= 2
    assert tiny["executor_run_ms"] >= 0
    assert [sp["name"] for sp in tracer.spans] == ["step.tiny", "agg"]
    assert tracer.self_times()[0] <= tracer.spans[0]["end"] - tracer.spans[0]["start"]


def test_tree_cpu_counts_reaped_children():
    before = run._tree_cpu_s(os.getpid())
    subprocess.run(
        [sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True
    )
    assert run._tree_cpu_s(os.getpid()) - before >= 0.1
