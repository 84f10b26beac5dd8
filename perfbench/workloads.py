"""The two workloads. Each drives the engine only through its public
functions and checks every output; a step that raises or fails its
check counts as a failed op.

Every timed step runs inside a top-level ``step.<name>`` span; checks,
input generation and re-delivery happen between steps, untimed.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from churngen import clean_rows, write_delivery, write_fixes
from spans import dir_bytes

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_DATE = "2026-01-01"
DAY = "2026-01-02"

# Input sizes. bulk_load: one file. incremental_day: a seed warehouse
# plus a day of small files, half of whose clean rows carry keys
# already in bronze.
BULK_ROWS = 8_000
SEED_ROWS = 4_000
DAY_FILES = 3
DAY_ROWS_PER_FILE = 200
FIXED_ROWS = 8
NOOP_REPEATS = 3
# The DQ corpus's checks on gold and across layers. The staging, bronze
# and silver sections repeat the run's own gates and would add ~8 s to
# a run that must stay near a minute (see README.md, "Not covered").
DQ_SECTIONS = ["gold_dims", "fact", "consistency"]
# The seed warehouse and its model are the same for every --seed: they
# are built once per checkout, untimed, and reused by every run.
SEED_CACHE = os.path.join(HERE, ".cache", f"seed-{SEED_ROWS}")


class Ops:
    """Attempted and failed op counts, with the reasons of failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail=None) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:500])
        return ok

    def run(self, name: str, fn):
        """Call ``fn``; an exception counts as one failed op."""
        try:
            return fn()
        except Exception as e:  # noqa: BLE001
            self.check(name, False, repr(e))
            return None


def _check_report(ops, name, rep, exp, bronze_before, fact_before):
    """A run report against the generator's expected counts. Silver is
    a full refresh of bronze; the fact only gains the new customers."""
    if rep is None:
        return
    keys = ("input", "rejected", "staged", "dup_vs_bronze")
    want = {k: exp[k] for k in keys}
    got = {k: (rep.get("staging") or {}).get(k) for k in keys}
    ops.check(f"{name}.staging", got == want, (got, want))
    bronze = {"inserted": exp["staged"], "updated": 0, "existing": bronze_before}
    ops.check(f"{name}.bronze", rep.get("bronze") == bronze, rep.get("bronze"))
    silver = bronze_before + exp["staged"]
    ops.check(f"{name}.silver", rep.get("silver_rows") == silver, rep.get("silver_rows"))
    ops.check(
        f"{name}.silver_clean",
        (rep.get("silver_clean") or {}).get("removed") == 0,
        rep.get("silver_clean"),
    )
    fact = fact_before + exp["staged"]
    ops.check(
        f"{name}.fact_rows", rep.get("gold_fact_rows") == fact,
        (rep.get("gold_fact_rows"), fact),
    )
    gate = rep.get("gold_gate") or {}
    ops.check(
        f"{name}.gold_gate",
        bool(gate) and not any(gate.values()) and rep.get("status") == "SUCCESS",
        (gate, rep.get("status")),
    )


def _seed_cache(ctx) -> dict:
    """The checkout's cache, built by the first run that needs it: the
    seed warehouse (``SEED_ROWS`` rows through ``run_warehouse``) and
    the model ``ml.train`` fits on it. Returns the seed's expected
    counts."""
    from teleco_etl_pipeline_spark.catalog import Warehouse
    from teleco_etl_pipeline_spark.plans import ml
    from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse

    meta = os.path.join(SEED_CACHE, "seed.json")
    if not os.path.exists(meta):
        tmp = f"{SEED_CACHE}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        seed_in = os.path.join(ctx.work, "seed_in")
        exp = write_delivery(seed_in, 0, 1, SEED_ROWS, 0)
        exp.pop("fixable_keys")
        rep = run_warehouse(ctx.spark, os.path.join(tmp, "wh"), seed_in, run_date=RUN_DATE)
        ops = Ops()
        _check_report(ops, "seed.run", rep, exp, 0, 0)
        if ops.failed:
            raise RuntimeError(f"seed warehouse: {ops.failures}")
        wh = Warehouse(ctx.spark, os.path.join(tmp, "wh"))
        trained = ml.train(wh, os.path.join(tmp, "models"), "v1")
        if trained["rows"] != exp["staged"]:
            raise RuntimeError(f"seed model: {trained['rows']} rows, want {exp['staged']}")
        with open(os.path.join(tmp, "seed.json"), "w") as f:
            json.dump(exp, f)
        shutil.rmtree(seed_in)
        os.replace(tmp, SEED_CACHE)
    with open(meta) as f:
        return json.load(f)


class BulkLoad:
    """A fresh warehouse from one large CSV, then the batch inference
    (with the cached model) and the DQ corpus on it."""

    name = "bulk_load"

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "bulk")
        self.in_dir = os.path.join(self.root, "in")
        self.wh_root = os.path.join(self.root, "wh")

    def setup(self) -> None:
        _seed_cache(self.ctx)
        self.exp = write_delivery(self.in_dir, self.ctx.seed, 1, BULK_ROWS, 0)

    def run(self) -> dict:
        from teleco_etl_pipeline_spark.catalog import Warehouse
        from teleco_etl_pipeline_spark.plans import dq_corpus, ml
        from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse

        ctx, ops, exp = self.ctx, self.ctx.ops, self.exp
        out = {"csv_bytes": exp["csv_bytes"]}
        rep = ctx.step(out, "warehouse_run", lambda: run_warehouse(
            ctx.spark, self.wh_root, self.in_dir, run_date=RUN_DATE
        ))
        _check_report(ops, "bulk.run", rep, exp, 0, 0)
        out["stored_bytes_per_input_byte"] = dir_bytes(self.wh_root) / exp["csv_bytes"]

        wh = Warehouse(ctx.spark, self.wh_root)
        fact = exp["staged"]
        scored = ctx.step(out, "inference", lambda: ml.run_batch_inference(
            wh, os.path.join(SEED_CACHE, "models"), RUN_DATE
        ))
        if scored is not None:
            ops.check("bulk.inference_rows", scored == fact, (scored, fact))
        results = ctx.step(out, "dq_corpus", lambda: dq_corpus.run_corpus(wh, DQ_SECTIONS))
        if results is not None:
            bad = sorted(
                k for k, v in results.items() if v["passed"] is False or "skipped" in v
            )
            ops.check("bulk.dq_corpus", bool(results) and not bad, bad)
        return out


class IncrementalDay:
    """Setup copies the cached seed warehouse, untimed. The timed day:
    many small files, their byte-identical re-delivery (``NOOP_REPEATS``
    no-op re-runs), and the correction loop on two fixed files (one
    still invalid)."""

    name = "incremental_day"

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "incremental")
        self.wh_root = os.path.join(self.root, "wh")
        self.day_dir = os.path.join(self.root, "day")

    def setup(self) -> None:
        from teleco_etl_pipeline_spark.catalog import Warehouse

        ctx = self.ctx
        seed = _seed_cache(ctx)
        shutil.copytree(os.path.join(SEED_CACHE, "wh"), self.wh_root)
        self.wh = Warehouse(ctx.spark, self.wh_root)
        # Bronze keys are the seed's clean keys, numbered from 0.
        self.bronze = seed["staged"]
        rng = random.Random(ctx.seed)
        existing = rng.sample(
            range(self.bronze), clean_rows(DAY_FILES * DAY_ROWS_PER_FILE) // 2
        )
        self.deliver = lambda: write_delivery(
            self.day_dir, ctx.seed, DAY_FILES, DAY_ROWS_PER_FILE,
            seed["next_key"], existing=existing, prefix="day",
        )
        self.exp = self.deliver()
        self.csv_bytes = seed["csv_bytes"] + self.exp["csv_bytes"]

    def run(self) -> dict:
        from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse

        ctx, exp = self.ctx, self.exp
        out = {"csv_bytes": exp["csv_bytes"]}
        # The fact holds one row per bronze customer (checked each run).
        n = self.bronze
        rep = ctx.step(out, "warehouse_run", lambda: run_warehouse(
            ctx.spark, self.wh_root, self.day_dir, run_date=DAY
        ))
        _check_report(ctx.ops, "day.run", rep, exp, n, n)
        self.bronze += exp["staged"]
        out["stored_bytes_per_input_byte"] = dir_bytes(self.wh_root) / self.csv_bytes
        self._noop_rerun(out)
        self._reprocess(out, exp["fixable_keys"])
        return out

    def _noop_rerun(self, out) -> None:
        from teleco_etl_pipeline_spark.plans.pipeline import run_warehouse

        ctx, ops = self.ctx, self.ctx.ops
        self.deliver()
        for _ in range(NOOP_REPEATS):
            rerun = ctx.step(out, "noop_rerun", lambda: run_warehouse(
                ctx.spark, self.wh_root, self.day_dir, run_date=DAY
            ))
            if rerun is not None:
                ops.check(
                    "day.noop_rerun", rerun.get("status") == "SKIPPED_NO_NEW_DATA",
                    rerun.get("status"),
                )
        fact = self.wh.read("gold", "fact_customer_churn").count()
        ops.check("day.noop_rerun_fact_rows", fact == self.bronze, (fact, self.bronze))

    def _reprocess(self, out, fixable_keys) -> None:
        """Gold is not re-derived here: the warehouse run already times
        the dims and fact build the refresh would repeat."""
        from teleco_etl_pipeline_spark.plans import reprocess

        ctx, ops = self.ctx, self.ctx.ops
        fixed_dir = os.path.join(self.root, "fixed")
        expected = write_fixes(fixed_dir, ctx.seed, fixable_keys[:FIXED_ROWS])
        reports = ctx.step(out, "reprocess", lambda: reprocess.watch_and_reprocess(
            self.wh, fixed_dir, quarantine_dir=os.path.join(self.root, "rejects"),
            refresh_gold=False,
        ))
        if reports is not None:
            got = [
                {k: r.get(k) for k in ("file", "input", "rejected", "upserted", "status")}
                for r in reports
            ]
            ops.check("day.reprocess", got == expected, (got, expected))
            silver = self.wh.read("silver", "churn_raw").count()
            want = self.bronze + expected[0]["upserted"]
            ops.check("day.reprocess_silver_rows", silver == want, (silver, want))


WORKLOADS = {w.name: w for w in (BulkLoad, IncrementalDay)}
