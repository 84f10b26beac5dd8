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

Every (query, mode) is timed at sf0.01 THEN sf0.1 back-to-back with
``bench.time_query`` (median-of-3 + min, cold runs), so the growth
ratio divides two numbers from the same box minutes apart; the
``bench.box_control`` row (default-path pagerank) runs at START and
END and is recorded per artifact (r13 verdict ask #8).

Usage: python scripts/bench_forced_distributed.py [--json OUT]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from teleco_etl_pipeline_spark.operators import graph

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
    json_out = bench.json_out_arg()
    spark = bench.start_session("forced-distributed-scaling", SF_BIG)
    ctl_start = bench.box_control(spark)
    rows: dict[str, dict] = {}
    try:
        for name in PEELS + SUPERSTEPS:
            forced = "forced_dist" if name in PEELS else "forced_dist_shuffled"
            rows[name] = {}
            for mode in ("default", forced):
                set_mode(mode)
                med_s, min_s = bench.med_min(bench.time_query(spark, name, SF_SMALL))
                med_b, min_b = bench.med_min(bench.time_query(spark, name, SF_BIG))
                rows[name][mode] = {
                    "sf0.01_med": med_s,
                    "sf0.01_min": min_s,
                    "sf0.1_med": med_b,
                    "sf0.1_min": min_b,
                    "growth_10x": round(med_b / med_s, 2) if med_s else None,
                }
    finally:
        set_mode("default")
    ctl_end = bench.box_control(spark)
    bench.emit(
        {
            "metric": "forced_distributed_scaling",
            "protocol": "median_of_3 per (query, mode, sf); same-process interleaved",
            "box_control_start": ctl_start,
            "box_control_end": ctl_end,
            "rows": rows,
        },
        json_out,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
