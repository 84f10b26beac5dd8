"""Third measured decade: time the round-10 SIZED-DEFAULT queries at
sf10 (100x sf0.1, generated by gen_scaledata.py stacking its own
sf1 output) and report growth vs their SCALING_r10 sf1 points.

Why a SUBSET and not the full harness: the full harness includes the
declared quadratic/output-bound curves (fixed-config ANN twins,
unguarded pair enumeration, PPJoin's dense-universe case) whose sf10
cost is their sf1 cost x20-70 — hours of wall-clock measuring growth
that is already declared and measured at sf1. This script measures
the queries whose CONTRACT is "flat per decade": the corpus-sized
ANN defaults, the volume-scaled graph cut, the stored-artifact serve
paths, the cliff-guarded dedup, and linear references — i.e. the
plans a user would actually run at 100 TB. Three decades of data
(sf0.01 -> sf0.1 -> sf1 -> sf10, a 1000x range) with these staying
near-flat is the strongest scale evidence a 32-core box can produce.

Note (r11): the sized-plane oracle cap was lifted 16 -> 20
(similarity._SIZED_PMAX; the oracle now bakes 20 plane literals per
table), so sf10's 200k vectors run UNCAPPED — the r10 note about the
total-coverage kNN engaging the 16-plane cap (rule wanted 17) no
longer applies; the cap next engages at ~8M vectors, far past every
committed SF.

Protocol: ``bench.time_query``, the timing core every query bench
shares (see bench.py's docstring): each query is timed 3 times (the
three stored-artifact serve rows 5 times, see STORED_RUNS), with the
Spark cache cleared and a driver GC after EVERY run, and the JSON
records per-query median, min, max and all runs, so the run band
lives in the artifact itself (r11 verdict item 6). Each ``STORED``
row is built once, untimed, before its timed runs at each SF: the
build fits the artifact (``artifacts.fit_once``, once per process and
SF), so the runs time the serve path alone and ``artifact_fit_sec``
reports the fit. Median, not min:
sf10 on this box includes genuine device I/O every run, so min would
systematically pick the least-I/O-contended outlier. When the sf1
dir exists, the sf1 baseline is re-measured inline under the same
cold protocol, so the growth column does not divide a cold sf10 by
the warm best-of-2 sf1 of SCALING_r10.json (only a fallback). The
box-control row runs at START and END. r10's
SCALING_r10_sf10.json was warm best-of-2 with one cache clear per
query; later rounds cleared the cache per run but ran no GC between
runs.

Usage: python scripts/bench_scale_sf10.py [--json OUT]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

SF10 = os.environ.get(
    "SPARK_GRAFT_SF10_DIR", os.path.join(bench.REPO, ".scaledata", "sf10")
)
BASELINE = os.path.join(bench.REPO, "SCALING_r10.json")

# Artifact-serve rows get median-of-5 (r11 verdict ask #7): the r11
# bpe_encode_stored band was 27.9/28.7/138.9 s — a x5 I/O outlier
# inside a median-of-3 leaves the median one bad run from flipping;
# two extra runs make the median robust to a single outlier pair.
STORED = {"bpe_encode_stored", "embedding_ivf_topk_stored", "incremental_index_dedup"}
STORED_RUNS = 5

QUERIES = [
    # linear references
    "pricing_summary",
    "exact_dedup",
    "upsert_merge",
    "events_sessionize",
    "hll_sketch_estimate",
    # sized ANN defaults (the r10 registered plans)
    "embedding_lsh_pairs",
    "embedding_lsh_multiprobe",
    "embedding_knn_classify",
    "embedding_knn_classify_total",
    "minhash_lsh_pairs",
    # volume-scaled graph cut + supersteps
    "part_lpa_communities",
    "part_link_prediction",
    "part_link_prediction_ra",
    "trade_graph_pagerank",
    # stored-artifact serve paths (fit once, reported separately).
    # bpe_encode_stored's sf10 growth (×7.1 median-of-5 in r12) is
    # DECLARED work-linear, the doc_char_entropy class (r12 verdict
    # watch #5 adjudication): the serve path broadcasts the k-row
    # merge table and re-encodes EVERY document — work grows exactly
    # ×10 per decade, and at FIXED cores a work-linear plan
    # asymptotes to ×10/decade wall-clock (the sf0.1→sf1 step still
    # absorbs into idle cores, ×2-3; the sf1→sf10 step saturates
    # them). ×7.1 sits under that asymptote; no superlinear stage —
    # the merge join is a broadcast of k rows and the explode width
    # is per-document bounded. On a real cluster cores grow with
    # data and the per-decade ratio returns to ~1.
    "bpe_encode_stored",
    "embedding_ivf_topk_stored",
    # late-r10 additions: stored-signature incremental dedup + the
    # three real-codec multimodal execute paths (per-row Python
    # bounded by payload size, Arrow-batched)
    "incremental_index_dedup",
    "multimodal_resize_exec",
    "multimodal_audio_decimate",
    "multimodal_video_probe",
    # r11 additions: CUPED readout (two-shuffle reduce), personalized
    # PageRank (sparse-frontier supersteps), symmetric-int8 SQ8 scan
    "events_cuped_readout",
    "trade_graph_ppr",
    "embedding_sq8_topk",
    # r11 second-session additions — all contract-flat per decade:
    # two partial-agg reduces (hot key folds after the first)
    "events_key_skew_report",
    # one global NTILE sort + 10-row algebra
    "model_lift_gains",
    # broadcast-anchor corpus scan (Q fixed at 5)
    "embedding_hard_negatives",
    # char explode + alphabet-bounded reduce
    "doc_char_entropy",
    # one stream pass + |types|^2-matrix supersteps
    "events_markov_stationary",
    # vocabulary-sized graph + integer PR supersteps
    "doc_textrank_keywords",
    # (key, day)-grid gaps-and-islands calendar completeness
    "orders_calendar_gap_report",
    # one (user,type) LAG window burst screen
    "events_burst_report",
    # one (type, hour) reduce dispersion index
    "events_arrival_dispersion",
    # 3 sliced corpus scans + bounded top-k windows (Q=5 anchors)
    "embedding_matryoshka_recall",
    # user reduce + TakeOrdered top-(k+1) heap + 101-row fold
    "events_powerlaw_tail_fit",
    # degree reduce + two node-keyed joins + 1-row moment fold
    "trade_graph_assortativity",
    # r12 additions — all contract-flat per decade:
    # domain-bounded cell-pair fold (550 cells at any volume)
    "lineitem_kendall_tau",
    # bounded-memory median + one fact reduce + 2k-cell chi2
    "orders_mood_median",
    # two map-side-combined fact passes + 5-row driver fold
    "priority_brownforsythe",
    # user-grain reduce + 1-row fold
    "events_variant_ztest",
    # one map-side scan + 1-row count fold
    "doc_gopher_rules",
    # token explode + 256-bucket model + broadcast re-join
    "doc_dsir_importance",
    # broadcast Q<<N anchor scan, quantized-exact threshold
    "embedding_query_range_search",
    # value-grain histogram + 5-row folds, zero windows
    "segment_theil_spend",
    # r13 additions: the cluster/survivor dedup pipeline joined the
    # flat-contract set when its pair stage switched to the
    # FREQUENCY-GUARDED generator (r12 verdict weak #1) — pre-guard
    # it was the declared ×16.4 curve excluded by this harness's
    # subset rule
    "neardup_clusters",
    "neardup_keep_best",
    # sized-bucket equi-join range search (flat contract: occupancy
    # held constant by the sizing rule)
    "embedding_query_range_search_bucketed",
    # value-histogram ranks + bounded folds (contract-flat)
    "orders_kruskal_wallis",
    "daily_revenue_mann_kendall",
    "cvm_priority_totalprice",
    "supplier_clustering_coefficient",
    "orders_jonckheere_terpstra",
    "orders_welch_ttest",
    "part_rich_club",
]


def _fit_stored(spark, name: str, sf_dir: str) -> None:
    """Build a ``STORED`` row once, untimed, so its artifact fit does
    not land in the first timed run."""
    if name in STORED:
        bench.all_queries()[name].build(spark, sf_dir)


def main() -> None:
    json_out = bench.json_out_arg()
    if not os.path.isdir(SF10):
        raise SystemExit(f"sf10 dir missing: {SF10} (run gen_scaledata.py)")
    sf1 = {}
    if os.path.exists(BASELINE):
        sf1 = {
            k: v.get("sec_sf1")
            for k, v in json.load(open(BASELINE))["queries"].items()
        }
    spark = bench.start_session(
        "bench-sf10",
        SF10,
        {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")},
    )
    ctl_start = bench.box_control(spark)
    results: dict[str, dict] = {}
    for name in QUERIES:
        n_runs = STORED_RUNS if name in STORED else 3
        _fit_stored(spark, name, SF10)
        times = bench.time_query(spark, name, SF10, n_runs)
        med, best = bench.med_min(times)
        row: dict = {
            "sec_sf10": med,
            "sec_sf10_min": best,
            "sec_sf10_max": round(times[-1], 3),
            "runs_sf10": [round(t, 3) for t in times],
        }
        base = sf1.get(name)
        if os.path.isdir(bench.SF1_DIR):
            _fit_stored(spark, name, bench.SF1_DIR)
            base = bench.med_min(bench.time_query(spark, name, bench.SF1_DIR, n_runs))[0]
        if base:
            row["sec_sf1"] = base
            row["growth_10x_sf10"] = round(med / base, 2)
        results[name] = row
        print(name, row, flush=True)
    from teleco_etl_pipeline_spark.operators.artifacts import fit_seconds

    bench.emit(
        {
            "metric": "scaling_10x_growth_sf10",
            "sf10_dir": SF10,
            "protocol": (
                f"median_of_3 (stored-artifact serve rows median_of_{STORED_RUNS}),"
                " per-run band recorded; cold runs"
            ),
            "box_control_start": ctl_start,
            "box_control_end": bench.box_control(spark),
            "queries": results,
            "artifact_fit_sec": fit_seconds(),
        },
        json_out,
    )

if __name__ == "__main__":
    main()
