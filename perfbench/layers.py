"""Per-layer metrics of a traced run, named by engine module.

Every value covers the timed part of the run: the spans under a
top-level ``step.*`` span and the Spark jobs whose description path
starts with ``step.``. A layer the workload does not reach reads 0.
"""

from __future__ import annotations

import statistics

import eventlog

STAGES = (
    "load_staging",
    "bronze_upsert",
    "silver_load",
    "silver_clean",
    "build_dims",
    "build_fact",
    "gold_quality_gate",
)
# (metric, report stage, report key or None for an integer report)
STAGE_ROWS = (
    ("medallion.staging_rows_in", "load_staging", "input"),
    ("medallion.staging_rejected", "load_staging", "rejected"),
    ("medallion.staging_rows_out", "load_staging", "staged"),
    ("medallion.bronze_rows_inserted", "bronze_upsert", "inserted"),
    ("medallion.silver_rows_out", "silver_load", None),
    ("medallion.silver_clean_rejected", "silver_clean", "removed"),
    ("medallion.fact_rows_out", "build_fact", None),
)
SPARK = (
    ("spark.jobs", "count", "jobs"),
    ("spark.stages", "count", "stages"),
    ("spark.tasks", "count", "tasks"),
    ("spark.executor_run_ms", "ms", "executor_run_ms"),
    ("spark.executor_cpu_ms", "ms", "executor_cpu_ms"),
    ("spark.jvm_gc_ms", "ms", "jvm_gc_ms"),
    ("spark.shuffle_read_bytes", "B", "shuffle_read_bytes"),
    ("spark.shuffle_write_bytes", "B", "shuffle_write_bytes"),
    ("spark.spill_bytes", "B", "spill_bytes"),
)

UNITS: dict[str, str] = {
    "state.registry_upsert_calls": "count",
    "state.registry_upsert_s": "s",
    "state.registry_skip_calls": "count",
    "state.registry_skip_s": "s",
    "state.registry_upsert_share": "ratio",
    "files.md5_calls": "count",
    "files.md5_s": "s",
    "files.csv_bytes": "B",
    **{f"medallion.{s}_s": "s" for s in STAGES},
    **{f"medallion.{s}_jobs": "count" for s in STAGES},
    **{m: "count" for m, _, _ in STAGE_ROWS},
    "quality.bronze_gate_s": "s",
    "quality.bronze_gate_jobs": "count",
    "catalog.write_calls": "count",
    "catalog.write_s": "s",
    "catalog.bytes_written": "B",
    "catalog.write_amplification": "ratio",
    "layout.zorder_write_s": "s",
    "reprocess.validate_s": "s",
    "reprocess.silver_swap_s": "s",
    "ml.inference_rows": "count",
    "dq.checks": "count",
    "dq.jobs": "count",
    **{m: unit for m, unit, _ in SPARK},
    "spark.cpu_share": "ratio",
    "trace.run_s": "s",
    "trace.cpu_s": "s",
    "trace.instrument_s": "s",
    "trace.step_coverage": "ratio",
    "trace.layer_coverage": "ratio",
    "host.control_ms": "ms",
    "host.steal_share": "ratio",
}


def per_layer(tracer, eventlog_dir, out, run_s, cpu_s, loop_s, box) -> dict:
    spans = tracer.spans
    timed = [
        (i, s) for i, s in enumerate(spans) if tracer.path_of(i).startswith("step.")
    ]

    def named(name):
        return [s for _, s in timed if s["name"] == name]

    def secs(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def reports(name):
        # A call that raised has no report; the workload counted it.
        return [s["attrs"]["report"] for s in named(name) if "report" in s["attrs"]]

    folded = eventlog.fold(eventlog_dir)

    def jobs(name):
        return eventlog.total(
            folded, lambda d: d.startswith("step.") and name in d.split("/")
        )["jobs"]

    m = {
        "state.registry_upsert_calls": len(named("state.registry_upsert")),
        "state.registry_upsert_s": secs("state.registry_upsert"),
        "state.registry_skip_calls": len(named("state.registry_skip")),
        "state.registry_skip_s": secs("state.registry_skip"),
        "files.md5_calls": len(named("files.md5")),
        "files.md5_s": secs("files.md5"),
    }
    warehouse_s = sum(out["wall"]["warehouse_run"])
    m["state.registry_upsert_share"] = (
        m["state.registry_upsert_s"] / warehouse_s if warehouse_s else 0.0
    )
    csv_bytes = out["csv_bytes"]
    m["files.csv_bytes"] = csv_bytes
    for st in STAGES:
        m[f"medallion.{st}_s"] = secs(f"medallion.{st}")
        m[f"medallion.{st}_jobs"] = jobs(f"medallion.{st}")
    for metric, st, key in STAGE_ROWS:
        vals = [r if key is None else r[key] for r in reports(f"medallion.{st}")]
        m[metric] = sum(vals)
    m["quality.bronze_gate_s"] = secs("quality.bronze_gate")
    m["quality.bronze_gate_jobs"] = jobs("quality.bronze_gate")

    writes = named("catalog.write") + named("layout.zorder_write")
    m["catalog.write_calls"] = len(writes)
    m["catalog.write_s"] = sum(s["end"] - s["start"] for s in writes)
    written = sum(s["attrs"].get("bytes", 0) for s in writes)
    m["catalog.bytes_written"] = written
    m["catalog.write_amplification"] = written / csv_bytes if csv_bytes else 0.0
    m["layout.zorder_write_s"] = secs("layout.zorder_write")

    # A file's validation is everything before its silver swap; a file
    # rejected whole is validation only.
    validate = swap = 0.0
    for idx, s in timed:
        if s["name"] != "reprocess.file":
            continue
        swaps = [
            c for c in spans
            if c["parent"] == idx and c["attrs"].get("table") == "silver.churn_raw"
        ]
        if swaps:
            validate += swaps[0]["start"] - s["start"]
            swap += swaps[0]["end"] - swaps[0]["start"]
        else:
            validate += s["end"] - s["start"]
    m["reprocess.validate_s"] = validate
    m["reprocess.silver_swap_s"] = swap

    m["ml.inference_rows"] = sum(reports("ml.run_batch_inference"))
    m["dq.checks"] = sum(s["attrs"].get("checks", 0) for s in named("dq.run_corpus"))
    m["dq.jobs"] = jobs("dq.run_corpus")

    sp = eventlog.total(folded, lambda d: d.startswith("step."))
    for metric, _, key in SPARK:
        m[metric] = sp[key]
    m["spark.cpu_share"] = (
        sp["executor_cpu_ms"] / sp["executor_run_ms"] if sp["executor_run_ms"] else 0.0
    )

    selfs = tracer.self_times()
    steps = [(i, s) for i, s in timed if s["parent"] is None]
    step_s = sum(s["end"] - s["start"] for _, s in steps)
    covered = step_s - sum(selfs[i] for i, _ in steps)
    m["trace.run_s"] = run_s
    m["trace.cpu_s"] = cpu_s
    m["trace.instrument_s"] = tracer.instrument_s
    m["trace.step_coverage"] = step_s / loop_s if loop_s else 0.0
    m["trace.layer_coverage"] = covered / step_s if step_s else 0.0
    m["host.control_ms"] = 1000 * statistics.median(
        [box["host_control_s_before"], box["host_control_s_mid"]]
    )
    m["host.steal_share"] = box["loop_steal_share"]
    return {k: m[k] for k in UNITS}
