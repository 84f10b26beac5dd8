"""Forced-distributed scaling rows (r14; r13 verdict ask #2).

The sized gates (the driver twins' `graph.DRIVER_MAX_EDGES`, the
superstep broadcast gates) all FIRE at every committed SF, so the
bench/scaling artifacts stopped exercising the distributed
fallbacks — the exact paths that run at 100 TB. This harness measures
them directly, in ONE process so every comparison is same-box
interleaved:

- mode ``forced_dist``: driver-peel gates forced off (monkeypatch, the
  equality-test trick) → the distributed peel/CC loops run. (The r14
  session ALSO measured per-round broadcast-hint variants of these
  loops through this harness plus ABBA probes, and REJECTED them —
  wash-to-loss at every reachable scale; see OPTIMIZATION_r14.md.)
- mode ``forced_dist_shuffled``: forces ``graph._fits_broadcast`` to
  False → for the superstep queries, the shuffled-join fallback that a
  >2M-node graph would take — the growth curve for the true 100 TB
  shape.
- mode ``default``: gates at their shipped values (driver paths) — the
  reference row.

Every (query, mode) is timed at sf0.01 THEN sf0.1 back-to-back
(median-of-3 + min, noop sink, untimed gc between runs), so the
growth ratio divides two numbers from the same box minutes apart; a
box-control row (default-path pagerank at sf0.01, best-of-3) runs at
START and END and is recorded per artifact (r13 verdict ask #8).

Usage: python scripts/bench_forced_distributed.py [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from teleco_etl_pipeline_spark.operators import graph
from teleco_etl_pipeline_spark.plans.registry import all_queries
from teleco_etl_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.01"
SF_BIG = "/root/testdata/sf0.1"

# Queries whose SHIPPED default is a sized driver path; forcing the
# gate off exercises their distributed loops.
PEELS = [
    "part_ktruss_peel",
    "supplier_kcore_peel",
    "supplier_triangle_count",
    "supplier_clustering_coefficient",
    "part_rich_club",
    "neardup_clusters",
    "neardup_keep_best",
]
# Queries whose shipped default already IS distributed, with a
# broadcast-gated superstep join; forcing _fits_broadcast False takes
# the shuffled fallback a >2M-node graph would take.
SUPERSTEPS = [
    "trade_graph_pagerank",
    "trade_graph_ppr",
    "trade_graph_hits",
    "part_lpa_communities",
    "trade_graph_bfs_levels",
]

_REAL_FITS = graph._fits_broadcast
_REAL_GATE = graph.DRIVER_MAX_EDGES


def set_mode(mode: str) -> None:
    graph._fits_broadcast = _REAL_FITS
    graph.DRIVER_MAX_EDGES = _REAL_GATE
    if mode in ("forced_dist", "forced_dist_shuffled"):
        graph.DRIVER_MAX_EDGES = -1
    if mode == "forced_dist_shuffled":
        graph._fits_broadcast = lambda n_rows, row_bytes: False


def main() -> int:
    out_path = None
    args = sys.argv[1:]
    if args and args[0] == "--json":
        if len(args) < 2:
            print("usage: bench_forced_distributed.py [--json OUT]", file=sys.stderr)
            return 2
        out_path = args[1]
    try:
        return _bench(out_path)
    finally:
        set_mode("default")


def _bench(out_path: str | None) -> int:
    spark = get_spark(app_name="forced-distributed-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    registry["distinct_values"].build(spark, SF_BIG).count()

    def timeq(name: str, sfd: str, n: int = 3) -> tuple[float, float]:
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            registry[name].build(spark, sfd).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            spark._jvm.System.gc()
        runs.sort()
        return round(runs[len(runs) // 2], 3), round(runs[0], 3)

    def control() -> dict:
        set_mode("default")
        _, best = timeq("trade_graph_pagerank", SF_SMALL, 3)
        return {
            "query": "trade_graph_pagerank",
            "sf_dir": SF_SMALL,
            "sec_best_of_3": best,
            "reference_sec": 1.15,
            "host_factor": round(best / 1.15, 2),
        }

    ctl_start = control()
    rows: dict[str, dict] = {}
    for name in PEELS + SUPERSTEPS:
        modes = (
            ["default", "forced_dist"]
            if name in PEELS
            else ["default", "forced_dist_shuffled"]
        )
        rows[name] = {}
        for mode in modes:
            set_mode(mode)
            med_s, min_s = timeq(name, SF_SMALL)
            med_b, min_b = timeq(name, SF_BIG)
            rows[name][mode] = {
                "sf0.01_med": med_s,
                "sf0.01_min": min_s,
                "sf0.1_med": med_b,
                "sf0.1_min": min_b,
                "growth_10x": round(med_b / med_s, 2) if med_s else None,
            }
    set_mode("default")
    ctl_end = control()
    doc = {
        "metric": "forced_distributed_scaling",
        "protocol": "median_of_3 per (query, mode, sf); same-process interleaved",
        "box_control_start": ctl_start,
        "box_control_end": ctl_end,
        "rows": rows,
    }
    line = json.dumps(doc)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(json.dumps(doc, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
