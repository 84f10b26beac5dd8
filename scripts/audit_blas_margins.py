"""Margin audit for the CPU-dispatch-dependent decision points left
in the catalog (PARITY.md "Cross-engine float-determinism audit").

The round-6 driver incident proved that numpy's BLAS kernels dispatch
on CPU microarchitecture: the same numpy version on a different
machine accumulates a dot product in a different order and returns a
different last-ulp float64. Every such path that feeds a DECISION
(a sign test, an argmin, a threshold, a 4-dp rounding) was either
converted to exact integer arithmetic (the kNN/PCA/chi2 family) or
is audited HERE: because the driver's correctness dataset is FIXED
(sf0.01), each decision's distance to its boundary is a measurable
constant. A margin orders of magnitude above the worst cross-build
perturbation (~dim·eps·max|term| ≈ 1e-13 for these 64-d unit-ish
vectors; libm ln/exp/log10 disagree by ≤ a few ulp ≈ 1e-15 relative)
proves the decision CANNOT flip in any environment — a stronger
statement than a per-round probability.

Usage: python scripts/audit_blas_margins.py [--json OUT] [sf_dir]

Decisions audited (mirroring the exact plan-time constants of the
registered queries):
- sign-LSH bucket bits (embedding_lsh_pairs / _multiprobe / recall):
  min |v·plane| over every (vector, plane) in every plane set.
- IVF coarse argmin (embedding_ivf_topk / ivf_balance_report /
  embedding_semantic_dedup / corpus_semantic_prune / ivfpq): min gap
  between best and second-best centroid score.
- IVF probe-set cutoff: centroid-similarity gap at the n_probe edge.
- PQ per-subspace argmin (embedding_pq_topk / ivfpq): same gap per
  subspace codebook.
- PQ ADC approximate scores: the LUT sums are CR-identical literal
  arithmetic in both engines, so the only residual is the ROUND
  implementations disagreeing at a boundary — min distance of
  adc+1e-9 to a 4-dp half boundary over every vector.

(The previous rounds' SemDeDup-pair and all-pairs-cosine rounding
decisions are GONE from this audit: round 7 converted every emitted
or thresholded embedding cosine to the quantized-exact key, which is
bit-identical cross-engine with no rounding — nothing left to
measure.)
- libm-rounded report columns (priority_woe_iv, benford_first_digit,
  events_decay_score): min distance of value+1e-9 to a 4-dp
  half-rounding boundary.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NOISE_BOUND = 1e-12  # generous: BLAS reorder ~1e-13, libm ulp ~1e-15


def _half_margin(vals: np.ndarray, decimals: int = 4) -> float:
    """Distance to the nearest half-away rounding boundary of
    round(x, decimals) — boundaries sit at (k+0.5)/10^d of |x|."""
    s = 10.0**decimals
    frac = np.abs(vals) * s % 1.0
    return float(np.min(np.abs(frac - 0.5))) / s


def _argmin_gap(scores: np.ndarray) -> float:
    """Min over rows of (2nd smallest - smallest)."""
    part = np.partition(scores, 1, axis=1)
    return float(np.min(part[:, 1] - part[:, 0]))


def main() -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--json", metavar="OUT", help="also write the margins to OUT")
    parser.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    args = parser.parse_args()
    json_out, sf_dir = args.json, args.sf_dir

    from teleco_etl_pipeline_spark.operators.similarity import (
        _LSH_DIM,
        _LSH_PLANES,
        _LSH_TABLES,
        _PQ_K,
        _PQ_M,
        _ivf_fit_replica,
        _lloyd_fit,
        _replica_sample,
        hyperplanes,
    )

    ids, vecs, sample = _replica_sample(sf_dir, 4096)
    out: dict[str, dict] = {}

    def record(name: str, margin: float, n: int) -> None:
        out[name] = {
            "min_margin": margin,
            "n_decisions": n,
            "noise_bound": NOISE_BOUND,
            "safe": margin > NOISE_BOUND,
        }
        flag = "OK " if margin > NOISE_BOUND else "RISK"
        print(f"{flag} {name}: min margin {margin:.3e} over {n} decisions")

    # 1. sign-LSH bucket bits (single table + the 3 multiprobe tables)
    plane_sets = {"lsh_planes_seed42": hyperplanes(_LSH_DIM, _LSH_PLANES, 42)}
    for t in range(_LSH_TABLES):
        plane_sets[f"lsh_multiprobe_t{t}"] = hyperplanes(
            _LSH_DIM, _LSH_PLANES, 42 + 1000 * t
        )
    for name, planes in plane_sets.items():
        dots = vecs @ planes.T
        record(f"sign_bit/{name}", float(np.min(np.abs(dots))), dots.size)

    # 2. IVF coarse argmin — n_centroids=8 seed=42 is the constant
    # shared by embedding_ivf_topk, ivf_balance_report, semantic
    # dedup/prune and the IVFADC coarse stage.
    _, _, cents = _ivf_fit_replica(sf_dir, 8, 42, 4096, 10)
    cents_sq = (cents**2).sum(axis=1)
    scores = cents_sq[None, :] - 2.0 * (vecs @ cents.T)
    record("ivf_argmin/k8_seed42", _argmin_gap(scores), len(vecs))

    # 3. IVF probe cutoff (n_probe=4 of 8, query vec_id=0)
    q = vecs[np.nonzero(ids == 0)[0][0]]
    sims = (cents @ q) / (
        np.linalg.norm(cents, axis=1) * np.linalg.norm(q) + 1e-12
    )
    ranked = np.sort(sims)[::-1]
    record("ivf_probe_cutoff/k8_probe4", float(ranked[3] - ranked[4]), 1)

    # 4. PQ per-subspace argmin (m=4, k=16, seeds 42..45)
    dsub = vecs.shape[1] // _PQ_M
    worst = np.inf
    for j in range(_PQ_M):
        cb = _lloyd_fit(sample[:, j * dsub : (j + 1) * dsub], _PQ_K, 42 + j, 10)
        cb_sq = (cb**2).sum(axis=1)
        s = cb_sq[None, :] - 2.0 * (vecs[:, j * dsub : (j + 1) * dsub] @ cb.T)
        worst = min(worst, _argmin_gap(s))
    record("pq_argmin/m4_k16", float(worst), len(vecs) * _PQ_M)

    # 5. PQ ADC rounded approximate scores (inputs CR-identical in
    # both engines; the boundary is the only divergence channel).
    q0 = vecs[np.nonzero(ids == 0)[0][0]]
    qnorm = float(np.linalg.norm(q0))
    adc = np.zeros(len(vecs))
    nsq = np.zeros(len(vecs))
    for j in range(_PQ_M):
        cb = _lloyd_fit(sample[:, j * dsub : (j + 1) * dsub], _PQ_K, 42 + j, 10)
        cb_sq = (cb**2).sum(axis=1)
        s = cb_sq[None, :] - 2.0 * (vecs[:, j * dsub : (j + 1) * dsub] @ cb.T)
        code = s.argmin(axis=1)
        adc += (cb @ q0[j * dsub : (j + 1) * dsub])[code]
        nsq += cb_sq[code]
    adc_score = adc / (qnorm * np.sqrt(nsq) + 1e-12) + 1e-9
    record("pq_adc_round4/m4_k16", _half_margin(adc_score), len(vecs))

    # 6. libm-rounded report columns
    import duckdb

    con = duckdb.connect()
    for name in ("orders", "events"):
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    # priority_woe_iv raw woe / iv terms
    cells = con.execute(
        """
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_pos
        FROM orders GROUP BY o_orderpriority
        """
    ).fetchnumpy()
    n, npos = cells["n"].astype(float), cells["n_pos"].astype(float)
    pos_t, neg_t = npos.sum(), (n - npos).sum()
    ps = (npos + 0.5) / (pos_t + 0.5)
    ns = (n - npos + 0.5) / (neg_t + 0.5)
    woe = np.log(ps / ns)
    record(
        "libm_round4/priority_woe_iv",
        min(_half_margin(woe + 1e-9), _half_margin((ps - ns) * woe + 1e-9)),
        2 * len(n),
    )
    # benford obs/exp/chi2 terms
    dig = con.execute(
        """
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit,
               COUNT(*) AS n
        FROM orders GROUP BY 1
        """
    ).fetchnumpy()
    total = dig["n"].sum()
    d = dig["digit"].astype(float)
    cnt = dig["n"].astype(float)
    exp = np.log10(1.0 + 1.0 / d)
    chi2 = (cnt - total * exp) ** 2 / (total * exp)
    record(
        "libm_round4/benford_first_digit",
        min(
            _half_margin(cnt / total + 1e-9),
            _half_margin(exp + 1e-9),
            _half_margin(chi2 + 1e-9),
        ),
        3 * len(d),
    )
    # events_decay_score per-term rounding (the only per-ROW libm round)
    ev = con.execute(
        "SELECT value, epoch_us(ts) AS us FROM events"
    ).fetchnumpy()
    ref = ev["us"].max()
    lam = 0.023104906018664842
    term = ev["value"] * np.exp(-lam * (ref - ev["us"]) / 86400000000.0) + 1e-9
    record("libm_round4/events_decay_score_terms", _half_margin(term), len(term))
    con.close()

    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": out}, f, indent=1, sort_keys=True)
            f.write("\n")
    risky = [k for k, v in out.items() if not v["safe"]]
    print(f"\n{len(risky)} risky decisions" if risky else "\nALL SAFE")
    return 1 if risky else 0


if __name__ == "__main__":
    raise SystemExit(main())
