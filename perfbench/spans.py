"""Spans around the calls into each engine layer.

A span records its name, start, end and parent. Spans stay in memory
and are written out when the run ends. While a span is open, Spark
jobs submitted from this thread carry the span path (``a/b/c``) as
their ``spark.job.description``, so the event log can be folded per
span (``eventlog.fold``).

The layer wrappers are installed only in traced runs, from these
files, by replacing the public functions the workloads reach. Every
engine call site looks the function up through its module or class,
so a replaced attribute is seen by the pipeline, the reprocess loop
and the workloads alike.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # Time spent in the tracer's own bookkeeping (directory walks,
        # description updates), so the run can report its overhead.
        self.instrument_s = 0.0

    def _path(self) -> str:
        return "/".join(self.spans[i]["name"] for i in self._stack)

    def _describe(self) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(self._path() or None)

    @contextmanager
    def span(self, name: str, **attrs):
        t = time.perf_counter()
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": t,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self._describe()
        self.instrument_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            t = time.perf_counter()
            self._describe()
            self.instrument_s += time.perf_counter() - t

    def path_of(self, idx: int) -> str:
        names = []
        while idx is not None:
            names.append(self.spans[idx]["name"])
            idx = self.spans[idx]["parent"]
        return "/".join(reversed(names))

    def self_times(self) -> list[float]:
        """Duration minus the part covered by child spans (children of
        one span run one after another, so their durations add)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [
            {
                "name": s["name"],
                "path": self.path_of(i),
                "parent": s["parent"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(selfs[i], 6),
                "attrs": s["attrs"],
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
    return total


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None, before=None):
    """Replace ``owner.attr`` with a spanned call. ``before(rec, args,
    kwargs)`` and ``after(rec, args, kwargs, result)`` may attach
    attributes to the span around the call; their time counts as
    instrumentation."""
    orig = getattr(owner, attr)

    def hook(fn, *a):
        t = time.perf_counter()
        fn(*a)
        tracer.instrument_s += time.perf_counter() - t

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as rec:
            if before is not None:
                hook(before, rec, args, kwargs)
            result = orig(*args, **kwargs)
            if after is not None:
                hook(after, rec, args, kwargs, result)
            return result

    setattr(owner, attr, wrapper)


def install(tracer: Tracer) -> None:
    """Wrap the public functions of every layer the workloads reach."""
    from teleco_etl_pipeline_spark.catalog import Warehouse
    from teleco_etl_pipeline_spark.plans import dq_corpus, medallion, ml, quality, reprocess
    from teleco_etl_pipeline_spark.sources import files
    from teleco_etl_pipeline_spark.sources.state import FileRegistry

    _wrap(tracer, FileRegistry, "upsert", "state.registry_upsert")
    _wrap(tracer, FileRegistry, "should_skip", "state.registry_skip")
    _wrap(tracer, files, "md5_file", "files.md5")

    def keep_report(rec, args, kwargs, result):
        rec["attrs"]["report"] = result

    for stage in (
        "load_staging",
        "bronze_upsert",
        "silver_load",
        "silver_clean",
        "build_dims",
        "build_fact",
        "gold_quality_gate",
    ):
        _wrap(tracer, medallion, stage, f"medallion.{stage}", keep_report)
    _wrap(tracer, quality, "assert_checks_pass", "quality.bronze_gate")

    # Warehouse methods take (self, df, layer, table, ...). An append
    # adds files to a table whose earlier bytes were already counted.
    def size_before(rec, args, kwargs):
        mode = args[4] if len(args) > 4 else kwargs.get("mode")
        rec["attrs"]["table"] = f"{args[2]}.{args[3]}"
        rec["attrs"]["bytes"] = (
            -dir_bytes(args[0].path(args[2], args[3])) if mode == "append" else 0
        )

    def size_after(rec, args, kwargs, result):
        rec["attrs"]["bytes"] += dir_bytes(args[0].path(args[2], args[3]))

    for attr in ("write", "overwrite_safe"):
        _wrap(tracer, Warehouse, attr, "catalog.write", size_after, size_before)
    _wrap(
        tracer, Warehouse, "write_zordered", "layout.zorder_write",
        size_after, size_before,
    )

    _wrap(tracer, reprocess, "reprocess_fixed_file", "reprocess.file")
    _wrap(tracer, ml, "run_batch_inference", "ml.run_batch_inference", keep_report)

    def count_checks(rec, args, kwargs, result):
        rec["attrs"]["checks"] = len(result)

    _wrap(tracer, dq_corpus, "run_corpus", "dq.run_corpus", count_checks)
