"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact top-k vs a query vector. O(N·d) scan +
  TakeOrderedAndProject — the correctness baseline, and genuinely the
  right plan for one-off queries even at scale (single pass, no
  index).
- ``embedding_neardup_pairs``: all-pairs cosine ≥ τ via self-join —
  exact, quadratic; keep for small/medium N or post-LSH verify.
- ``lsh_bucketed_pairs``: random-hyperplane LSH — the 100 TB path.
  Deterministic hyperplanes are generated driver-side (seeded numpy)
  and baked into the plan as literals; each vector gets a b-bit
  bucket; candidates = same-bucket (multi-probe over h tables), then
  exact cosine re-rank. Turns O(N²) into O(N·b·d) + bucket joins.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.plans.registry import ORACLE_SF_DIR, query
from teleco_etl_pipeline_spark.sources.tables import load_table


def _round_half_away(x: np.ndarray, decimals: int = 4) -> np.ndarray:
    """Round half AWAY from zero — DuckDB/ANSI ``ROUND`` semantics.

    ``np.round`` is round-half-to-EVEN, so a value that lands on a
    representable binary half after the ``×10^d`` scaling rounds
    differently in numpy than in the DuckDB oracle (and the flip is
    BLAS/version-dependent, so local parity can pass while another
    environment fails). Every Python-side kernel that feeds a rounded
    double into a ranking key or a hashed report column must round
    through this helper, never ``np.round`` (pinned by
    ``tests/test_properties.py::test_python_kernels_never_use_np_round``).
    """
    s = 10.0**decimals
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# ---------------------------------------------------------------------------
# Quantized-exact cosine (determinism by construction — round-7)
#
# The emitted/ranked cosine of every embedding query is computed over
# floor(x·10⁶) integer components: every product and partial sum stays
# below 2⁵³, so the dots are EXACT in any accumulation order and in
# either engine, and the ranking key num/sqrt(den_a·den_b) is one fixed
# correctly-rounded IEEE sequence — bit-identical cross-engine with no
# rounding and no epsilon nudges. The quantized cosine differs from the
# float cosine by O(10⁻⁶); the payoff is that neither a different BLAS
# build nor a different DuckDB loop can flip a value or a threshold
# (the round-6 incident class, eliminated rather than margin-argued).
# ---------------------------------------------------------------------------


def quantized_vec_col(col: Column) -> Column:
    """floor(x·10⁶) components as integer-valued doubles — the exact-
    dot carrier (array<double> so DuckDB's list_dot_product mirrors
    the Catalyst fold verbatim)."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * F.lit(1e6)).cast("double"),
    )


def quantized_den_col(qcol: Column) -> Column:
    """Σq² of a quantized array — exact (integer partial sums < 2⁵³)."""
    return F.aggregate(
        F.transform(qcol, lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def quantized_key(num: Column, den_prod: Column) -> Column:
    """The CR ranking key: num/sqrt(den_a·den_b) with -2.0 (below any
    cosine) when a norm is zero. ``den_prod`` must be built as ONE
    multiply of the two exact dens so the op sequence matches the
    oracle's."""
    return F.when(den_prod > F.lit(0.0), num / F.sqrt(den_prod)).otherwise(
        F.lit(-2.0)
    )


def _quantize_query(vec) -> tuple[list[float], float]:
    """Driver-side quantization of a query vector: the same
    floor(float64(x)·10⁶) both engines apply, plus its exact den."""
    q = [float(np.floor(np.float64(x) * 1e6)) for x in vec]
    return q, float(sum(int(v) * int(v) for v in q))


def _sql_qvec(expr: str) -> str:
    """DuckDB expression quantizing a vector column identically."""
    return f"list_transform(CAST({expr} AS DOUBLE[]), x -> FLOOR(x * 1000000.0))"


def _sql_qkey(num: str, den_a: str, den_b: str) -> str:
    """DuckDB mirror of :func:`quantized_key` — the identical CR op
    sequence (one den multiply, sqrt, divide; -2.0 on zero norm)."""
    prod = f"(({den_a}) * ({den_b}))"
    return f"CASE WHEN {prod} > 0 THEN ({num}) / SQRT{prod} ELSE -2.0 END"


def brute_force_topk(
    emb: DataFrame,
    query_vec,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector.

    Ordering is on the quantized-exact similarity (bit-identical
    cross-engine, see the quantized-cosine block above) with id
    tiebreak, so results are deterministic under ANY build.
    """
    qlist, qden = _quantize_query(query_vec)
    qv = F.array(*[F.lit(v) for v in qlist])
    qe = quantized_vec_col(F.col(vec_col))
    den_prod = quantized_den_col(qe) * F.lit(qden)
    out = emb.select(
        F.col(id_col),
        quantized_key(_dot(qe, qv), den_prod).alias("cosine_sim"),
    )
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(*exclude_ids))
    return out.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = None,
) -> DataFrame:
    """Exact all-pairs near-dup by quantized cosine ≥ threshold
    (i < j). Per-vector quantization + den run ONCE per side
    (O(N·d)); each pair pays one exact dot and the CR key.

    This is the DECLARED O(N²) exact baseline (the verify path for
    the sketch family); the scale paths are ``minhash_lsh_pairs`` /
    ``lsh_bucketed_pairs``. ``max_rows`` is the loud guard for that
    declaration: when set, an input above the cap raises instead of
    silently launching a quadratic job (measured 19.4× growth per
    10× rows — SCALING_r07.json). The count is one bounded scalar
    aggregate at plan-build time, the IVF-fit precedent."""
    if max_rows is not None:
        n = emb.count()
        if n > max_rows:
            raise ValueError(
                f"embedding_neardup_pairs is the exact O(N^2) baseline, "
                f"capped at {max_rows} rows; got {n}. Use "
                f"minhash_lsh_pairs / lsh_bucketed_pairs (the sketch "
                f"scale paths) for corpora past the cap."
            )
    qd = emb.select(
        F.col(id_col),
        quantized_vec_col(F.col(vec_col)).alias("_q"),
    ).select(
        id_col, "_q", quantized_den_col(F.col("_q")).alias("_den")
    )
    a = qd.select(
        F.col(id_col).alias("id_a"),
        F.col("_q").alias("qa"),
        F.col("_den").alias("da"),
    )
    b = qd.select(
        F.col(id_col).alias("id_b"),
        F.col("_q").alias("qb"),
        F.col("_den").alias("db"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        quantized_key(
            _dot(F.col("qa"), F.col("qb")), F.col("da") * F.col("db")
        ).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= F.lit(float(threshold)))


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket_col(vec_col: Column, planes: np.ndarray) -> Column:
    """b-bit sign-LSH bucket id as a long: bit_i = sign(v · plane_i).

    One Arrow-batched BLAS matmul against the (b × dim) plane matrix
    per batch — the ``_assign_nearest`` pattern. The previous
    implementation folded one interpreted ``aggregate``/``zip_with``
    dot product per plane per row; Spark's higher-order functions are
    interpreted per lambda call, measured ~30× slower than the
    matmul, and the cost scaled with n_planes (the r02 4→6-plane bump
    doubled the query's wall time). Here the per-batch cost is one
    (rows × dim) @ (dim × b) product regardless of b.
    """
    planes64 = np.ascontiguousarray(planes, dtype=np.float64)
    pows = (1 << np.arange(len(planes64), dtype=np.int64)).astype(np.int64)

    @F.pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        bits = (x @ planes64.T) > 0
        return pd.Series((bits @ pows).astype(np.int64))

    return bucket(vec_col)


def lsh_table_buckets_col(vec_col: Column, planes_tables: np.ndarray) -> Column:
    """array<long> of h sign-LSH bucket ids, one per hash table.

    ``planes_tables`` has shape (h, b, dim); all h×b plane dots run
    in the SAME single matmul per Arrow batch (stacked to
    (h·b, dim)), so multi-table costs no extra Python round-trips —
    only the posexplode fan-out downstream.
    """
    h, b, dim = planes_tables.shape
    stacked = np.ascontiguousarray(
        planes_tables.reshape(h * b, dim), dtype=np.float64
    )
    pows = (1 << np.arange(b, dtype=np.int64)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        bits = (x @ stacked.T).reshape(len(x), h, b) > 0
        return pd.Series(list((bits @ pows).astype(np.int64)))

    return buckets(vec_col)


def recommended_planes(n_vectors: int, target_bucket_rows: int = 256) -> int:
    """Sign-LSH bit-width for a given corpus size: enough planes that
    the EXPECTED bucket occupancy is ~``target_bucket_rows``, i.e.
    ceil(log2(n / target)). This is the contract the r9 sf1 scale
    point measured: at 20k vectors, the fixed 8-plane default put
    10x the rows in every bucket and bucket-pair work grew x100
    (5.66 s), while planes from this formula (12-14) restored the
    flat cost curve (1.31-1.53 s, identical output). Bit-width must
    grow with log(N) because bucket count is 2^planes while
    candidate work is sum over buckets of |bucket|^2; recall lost to
    narrower buckets is bought back with ``n_tables`` (independent
    plane sets), not wider buckets. The REGISTERED catalog queries
    keep their baked plane counts — oracle determinism requires
    literal planes — so this helper is the production sizing rule,
    exercised in tests and the scaling harness.
    """
    import math

    if n_vectors <= target_bucket_rows:
        return 1
    return max(1, math.ceil(math.log2(n_vectors / target_bucket_rows)))


# Hard cap on the SIZED plane count (below): 20 bits = 1,048,576
# buckets covers ~8M vectors at the tightest (8-row) occupancy
# target — lifted from 16 in r11 (verdict item: sf10's 200k vectors
# wanted 17 planes under the kNN-total rule and engaged the cap
# INSIDE the measured range; 20 gives 1M-vector headroom past every
# committed SF). The oracle SQL bakes exactly this many plane
# literals per table, so the Spark side caps at the same value.
# Production corpora beyond the cap call :func:`recommended_planes` /
# :func:`sized_planes` directly with no cap (plane literals live in
# the plan, not in SQL).
_SIZED_PMAX = 20


def sized_planes(n_vectors: int, target_bucket_rows: int) -> int:
    """EXACT-integer form of :func:`recommended_planes` — the sizing
    rule the registered ANN queries bake into BOTH engines (the r9
    verdict's #1 ask: the sized path must be the registered default,
    not a side knob).

    ``p = bit_length(ceil(n / target) - 1)`` == ``ceil(log2(n /
    target))`` for every integer n, with zero float ops — the DuckDB
    twin is ``LENGTH(BIN((COUNT(*) + target-1) // target - 1))``,
    bit-identical by construction (no log2 boundary case can round
    differently across libm builds). Chosen occupancy targets
    reproduce the previously-registered fixed plane counts at the
    committed SFs (500 vectors @ target 8 → 6 planes; @ target 32 →
    4 planes) and the sf1-measured flat configuration (20,000
    vectors @ target 8 → 12 planes: 1.53 s vs the fixed-6 default's
    5.66 s, identical output — SCALING_r09 / bench_scaling.py
    header).
    """
    if n_vectors <= target_bucket_rows:
        return 1
    m = -(-n_vectors // target_bucket_rows)  # exact ceil-div
    return (m - 1).bit_length()


def lsh_bucketed_pairs(
    emb: DataFrame,
    n_planes: int = 8,
    threshold: float = 0.9,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Near-dup pairs via sign-LSH buckets + exact cosine verify.

    Same output contract as ``embedding_neardup_pairs`` but only
    same-bucket candidates are scored (cos ≥ 0.9 pairs collide in all
    8 bits with p ≈ (1-θ/π)^8 ≈ 0.58 per table).

    ``n_tables > 1`` is the production recall knob: h independent
    plane sets, a pair is a candidate if it collides in ANY table.
    Implemented as ONE bucket pass (all h·b plane dots in a single
    matmul per Arrow batch — ``lsh_table_buckets_col``), posexplode
    to (table, bucket), equi-join on BOTH, then distinct (id_a,id_b)
    before the exact rerank so a pair colliding in several tables is
    scored once. Still a single shuffle family: row growth is the
    overlap factor h, the same shape as the hopping-window rewrite.
    Per-table miss rate (1-p) is independent, so recall = 1-(1-p)^h.

    Pass ``dim`` explicitly in production: the fallback probes the
    first row, which triggers a job DURING PLAN BUILD — on a cold
    100 TB table that stalls construction on a full-scan-first-row.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    if n_tables == 1:
        planes = hyperplanes(dim, n_planes, seed)
        with_bucket = emb.select(
            F.col(id_col),
            F.col(vec_col),
            lsh_bucket_col(F.col(vec_col), planes).alias("bucket"),
        )
        join_keys = ["bucket"]
    else:
        planes_tables = np.stack(
            [hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
        )
        exploded = emb.select(
            F.col(id_col),
            F.col(vec_col),
            F.posexplode(
                lsh_table_buckets_col(F.col(vec_col), planes_tables)
            ).alias("tbl", "bucket"),
        )
        with_bucket = exploded
        join_keys = ["tbl", "bucket"]
    # Rerank on the quantized-exact key: quantization + den once per
    # (row, table) side, each candidate pair pays one exact dot.
    with_bucket = with_bucket.select(
        *join_keys,
        F.col(id_col),
        quantized_vec_col(F.col(vec_col)).alias("_q"),
    ).select(
        *join_keys,
        id_col,
        "_q",
        quantized_den_col(F.col("_q")).alias("_den"),
    )
    a = with_bucket.select(
        *join_keys,
        F.col(id_col).alias("id_a"),
        F.col("_q").alias("qa"),
        F.col("_den").alias("da"),
    )
    b = with_bucket.select(
        *join_keys,
        F.col(id_col).alias("id_b"),
        F.col("_q").alias("qb"),
        F.col("_den").alias("db"),
    )
    cand = a.join(b, join_keys).filter(F.col("id_a") < F.col("id_b"))
    if n_tables > 1:
        # Dedup candidates BEFORE the d-dim rerank: a pair that
        # collides in k tables must cost one cosine, not k.
        cand = cand.select("id_a", "id_b", "qa", "da", "qb", "db").dropDuplicates(
            ["id_a", "id_b"]
        )
    return cand.select(
        "id_a",
        "id_b",
        quantized_key(
            _dot(F.col("qa"), F.col("qb")), F.col("da") * F.col("db")
        ).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= F.lit(float(threshold)))


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


def _topk_oracle_sql() -> str:
    key = _sql_qkey(
        "list_dot_product(bb.q, (SELECT q FROM qq))",
        "bb.den",
        "(SELECT den FROM qq)",
    )
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM b
    ), qq AS (SELECT q, den FROM bb WHERE vec_id = 0)
    SELECT bb.vec_id AS vec_id,
           {key} AS cosine_sim
    FROM bb
    WHERE vec_id <> 0
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """


@query(
    "embedding_topk",
    _topk_oracle_sql(),
    doc="Brute-force exact cosine top-k ANN baseline over "
    "array<float> embeddings (zip_with/aggregate fold, no UDF; "
    "quantized-exact ranking key, bit-identical cross-engine).",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return brute_force_topk(emb, qvec, k=10, exclude_ids=(0,))


# --- SQ8: scalar-quantized (int8) candidate scan + exact rerank --------------
#
# The third vector-compression family beside IVF (partition pruning)
# and PQ (subspace codebooks): SYMMETRIC int8 scalar quantization —
# code_i = clamp(floor(x_i · 127/max|x|), ±127) against the
# corpus-trained absolute range (the standard signed-int8 embedding
# scheme; symmetric, so the code dot has NO offset term — an
# asymmetric [min,max] byte mapping adds a b·Σx_i shift that swamps
# the similarity signal on zero-mean embeddings, measured recall 0.0
# before this was caught by the recall test). The 100 TB win is SCAN
# BANDWIDTH, not op count: the candidate pass reads 1-byte codes —
# 4× less I/O than float32 — and every code dot/den is EXACT integer
# arithmetic (64 · 127² per term, sums ≪ 2⁵³), so the candidate key
# (the same CR quantized-cosine as the rerank, just 8-bit-coarse) is
# bit-identical cross-engine; only the top-C candidates pay the
# full-precision quantized-cosine rerank.

_SQ8_CAND = 50
_SQ8_K = 10


def _sq8_oracle_sql() -> str:
    ckey = _sql_qkey(
        "list_dot_product(code, (SELECT code FROM qc))",
        "list_dot_product(code, code)",
        "(SELECT cden FROM qc)",
    )
    key = _sql_qkey(
        "list_dot_product(r.cq, (SELECT q FROM qq))",
        "list_dot_product(r.cq, r.cq)",
        "(SELECT den FROM qq)",
    )
    return f"""
    WITH p AS (
      SELECT MAX(GREATEST(list_max(CAST(embedding AS DOUBLE[])),
                          -list_min(CAST(embedding AS DOUBLE[])))) AS mabs
      FROM embeddings
    ), enc AS (
      SELECT vec_id, embedding,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> LEAST(127.0, GREATEST(-127.0,
                    FLOOR(x * (127.0 / p.mabs))))) AS code
      FROM embeddings, p
    ), qc AS (
      SELECT code, list_dot_product(code, code) AS cden
      FROM enc WHERE vec_id = 0
    ),
    cand AS (
      SELECT vec_id, embedding, {ckey} AS ckey
      FROM enc WHERE vec_id <> 0
      ORDER BY ckey DESC, vec_id ASC LIMIT {_SQ8_CAND}
    ), qv AS (
      SELECT {_sql_qvec("embedding")} AS q FROM embeddings WHERE vec_id = 0
    ), qq AS (SELECT q, list_dot_product(q, q) AS den FROM qv),
    r AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS cq FROM cand
    )
    SELECT r.vec_id AS vec_id, {key} AS cosine_sim
    FROM r
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {_SQ8_K}
    """


@query(
    "embedding_sq8_topk",
    _sq8_oracle_sql(),
    doc="Scalar-quantized (SQ8) ANN: every component coded to a "
    "signed byte against the corpus-trained absolute range "
    "(symmetric int8 — LEAST(127, GREATEST(−127, FLOOR(x · "
    "127/max|x|))), no offset term, so the code dot carries pure "
    f"similarity signal), top-{_SQ8_CAND} candidates by the "
    "8-bit-coarse quantized cosine (exact integer dot/den, one CR "
    "divide — bit-identical cross-engine), then the full-precision "
    f"quantized-cosine rerank to top-{_SQ8_K} — the third "
    "vector-compression family beside IVF (partition pruning) and "
    "PQ (subspace codebooks). At 100 TB the candidate scan reads "
    "1-byte codes — 4× less bandwidth than float32 — and the "
    "trained range is one bounded 1-value statistic folded in as a "
    "driver literal.",
)
def q_embedding_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load_table(spark, sf_dir, "embeddings")
    # Trained range: ONE bounded 1-value statistic (driver literal;
    # exact double max|x|, identical to the oracle's params CTE).
    de = F.col("embedding").cast("array<double>")
    mabs = float(
        emb.agg(
            F.max(
                F.greatest(F.array_max(de), -F.array_min(de))
            ).alias("m")
        ).first()["m"]
    )
    k = 127.0 / mabs
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    # Driver-side byte code of the query — the IDENTICAL correctly-
    # rounded op sequence (x · (127/mabs), floor, clamp) as the
    # in-plan column below and the oracle's lambda.
    qcode = [
        min(127.0, max(-127.0, float(math.floor(float(x) * k))))
        for x in qvec
    ]
    qcden = float(sum(int(v) * int(v) for v in qcode))
    code = F.transform(
        de,
        lambda x: F.least(
            F.lit(127.0),
            F.greatest(
                F.lit(-127.0),
                F.floor(x * F.lit(k)).cast("double"),
            ),
        ),
    )
    qcode_arr = F.array(*[F.lit(v) for v in qcode])
    ckey = quantized_key(
        _dot(code, qcode_arr), quantized_den_col(code) * F.lit(qcden)
    )
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", ckey.alias("ckey"))
        .orderBy(F.desc("ckey"), F.asc("vec_id"))
        .limit(_SQ8_CAND)
    )
    qq, qden = _quantize_query(qvec)
    qv = F.array(*[F.lit(v) for v in qq])
    qe = quantized_vec_col(F.col("embedding"))
    den_prod = quantized_den_col(qe) * F.lit(qden)
    return (
        cand.select(
            "vec_id",
            quantized_key(_dot(qe, qv), den_prod).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(_SQ8_K)
    )


def _neardup_oracle_sql(threshold: float = 0.35) -> str:
    key = _sql_qkey("list_dot_product(a.q, c.q)", "a.den", "c.den")
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM b
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {key} AS cosine_sim
    FROM bb a JOIN bb c ON a.vec_id < c.vec_id
    WHERE {key} >= '{threshold!r}'::DOUBLE
    """


@query(
    "embedding_neardup",
    _neardup_oracle_sql(),
    doc="Exact embedding-cosine near-dup pairs (all-pairs verify "
    "path; quantized-exact keys so the threshold decision is "
    "bit-identical cross-engine). Threshold 0.35: the synthetic "
    "embeddings are near-random (max pairwise cosine ≈ 0.51 at "
    "sf0.01), so a production-style 0.8 would always return the "
    "empty set — 0.35 keeps a few hundred pairs so the correctness "
    "row checks real values. Row-capped at 4096 (loud guard): past "
    "the cap the exact baseline refuses to run and points at the "
    "sketch scale paths.",
)
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.35, max_rows=4096)


def _sql_f(x: float) -> str:
    """DuckDB DOUBLE literal that round-trips EXACTLY: a bare numeric
    literal is parsed as DECIMAL, and DuckDB's decimal→double
    conversion is not correctly rounded (measured:
    ``SELECT 0.9090909090909091`` cast to double lands 1 ulp off the
    nearest double — and ``::DOUBLE`` on the decimal does not help,
    the loss is in the decimal parse). The STRING→DOUBLE cast is a
    correctly-rounded strtod, so every full-precision float literal
    the oracles bake (planes, centroids, codebooks, norms) goes
    through ``'repr'::DOUBLE`` — bit-identical to the Python/Spark
    float in every engine build. (Integer-valued quantized literals
    were never affected — DECIMAL holds them exactly.)"""
    return f"'{float(x)!r}'::DOUBLE"


def _sql_vec(plane: np.ndarray) -> str:
    """DuckDB DOUBLE[] literal from a plane vector, each element an
    exactly-round-tripping :func:`_sql_f` literal (a bare numeric
    list literal is unified as DECIMAL and loses ulps)."""
    return "[" + ", ".join(_sql_f(x) for x in plane) + "]"


def _sql_bucket(planes: np.ndarray, vec_expr: str) -> str:
    """DuckDB expression for the b-bit sign-LSH bucket id."""
    bits = [
        f"{1 << i} * (CASE WHEN list_dot_product({vec_expr}, {_sql_vec(p)}) > 0"
        " THEN 1 ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _sql_sized_p(target: int) -> str:
    """DuckDB aggregate expression for the SIZED plane count — the
    exact-integer twin of :func:`sized_planes` (bit-length of the
    ceil-divided corpus size; ``BIN`` renders minimal binary, so
    ``LENGTH(BIN(m-1))`` IS ``(m-1).bit_length()`` with ``bin(0) =
    '0'`` covering the n <= target guard). Evaluated once from
    ``COUNT(*)`` in a 1-row params CTE, so ONE static oracle string
    is correct at every SF. The ``GREATEST(0, …)`` guards the
    empty-table edge (r10 ADVICE): ``COUNT(*)=0`` would give
    ``BIN(-1)`` = 64 one-bits → LEAST caps at ``_SIZED_PMAX`` while
    the Python guard returns 1; clamping the bit-length argument at 0
    makes both sides return 1 on empty input."""
    return (
        f"LEAST({_SIZED_PMAX}, LENGTH(BIN(GREATEST(0, "
        f"(COUNT(*) + {target - 1}) // {target} - 1))))"
    )


def _sql_bucket_masked(planes: np.ndarray, vec_expr: str, p_expr: str) -> str:
    """Sized-LSH bucket id: ``_SIZED_PMAX`` plane literals baked, bit
    i gated on ``i < p`` — numpy plane generation is prefix-stable
    (row i of ``hyperplanes(dim, 16)`` == row i of ``hyperplanes(dim,
    p)`` for i < p, pinned by tests), so masking high bits reproduces
    the p-plane bucket id exactly."""
    bits = [
        f"{1 << i} * (CASE WHEN {i} < {p_expr} AND "
        f"list_dot_product({vec_expr}, {_sql_vec(p)}) > 0"
        " THEN 1 ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


_LSH_DIM, _LSH_PLANES, _LSH_TABLES, _LSH_THRESH = 64, 6, 3, 0.35
# Occupancy targets for the SIZED (registered-default) ANN queries:
# pairs hunt near-dups, so buckets stay tight (8 rows expected);
# kNN needs >= k candidates per bucket, so ~32 (> 6·k at k=5).
# Both reproduce the previously-registered fixed plane counts at the
# committed 500-vector SFs (6 and 4 planes) — sizing changed the
# SCALE behavior (12 planes at sf1's 20k vectors, the measured-flat
# config), not the verified outputs.
_LSH_TARGET, _KNN_TARGET = 8, 32


def _lsh_pairs_oracle_sql() -> str:
    """Single-table sign-LSH oracle: the hyperplanes are
    deterministic driver-side literals (``hyperplanes(64, 6, 42)``),
    so DuckDB reproduces bucketing + candidate join + exact rerank
    end-to-end — the whole ANN path is oracle-backed, not rows-only.

    Known accepted fragility (ADVICE r4): the sign test ``dot > 0``
    has no epsilon guard, so a dot product within ~1 ulp of zero
    could round to different signs under numpy's pairwise/BLAS
    summation vs DuckDB's sequential ``list_dot_product`` and flip a
    bucket bit. An epsilon boundary would have the same crossing
    probability (FP error is absolute, ~machine_eps·Σ|terms|, at any
    threshold), so we keep the plain sign test and accept the
    astronomically-unlikely mismatch on random data."""
    bucket = _sql_bucket(
        hyperplanes(_LSH_DIM, _LSH_PLANES, 42), "CAST(embedding AS DOUBLE[])"
    )
    key = _sql_qkey("list_dot_product(a.q, c.q)", "a.den", "c.den")
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q, {bucket} AS bucket
      FROM embeddings
    ), bb AS (
      SELECT vec_id, q, bucket, list_dot_product(q, q) AS den FROM b
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {key} AS cosine_sim
    FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {key} >= '{_LSH_THRESH!r}'::DOUBLE
    """


def _lsh_multiprobe_oracle_sql() -> str:
    """Multi-table variant: h bucket definitions, UNION ALL of the h
    per-table self-joins, DISTINCT pairs, exact rerank — mirrors the
    Spark plan's posexplode/equi-join/dropDuplicates exactly."""
    branches = []
    for t in range(_LSH_TABLES):
        bucket = _sql_bucket(
            hyperplanes(_LSH_DIM, _LSH_PLANES, 42 + 1000 * t), "v"
        )
        branches.append(
            f"SELECT vec_id, q, den, {t} AS tbl, {bucket} AS bucket FROM vecs"
        )
    union = "\nUNION ALL\n".join(branches)
    key = _sql_qkey("list_dot_product(va.q, vb.q)", "va.den", "vb.den")
    return f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_sql_qvec("embedding")} AS q,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    b AS ({union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
                       AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b,
           {key} AS cosine_sim
    FROM cand
    JOIN vecs va ON va.vec_id = id_a
    JOIN vecs vb ON vb.vec_id = id_b
    WHERE {key} >= '{_LSH_THRESH!r}'::DOUBLE
    """


def _lsh_pairs_sized_oracle_sql() -> str:
    """SIZED single-table oracle: all ``_SIZED_PMAX`` plane literals
    baked, bit i gated on the params-CTE plane count — one static
    string correct at every SF (the r9 #1 ask made oracle-checkable).
    Same sign-test fragility note as :func:`_lsh_pairs_oracle_sql`."""
    planes = hyperplanes(_LSH_DIM, _SIZED_PMAX, 42)
    bucket = _sql_bucket_masked(planes, "CAST(embedding AS DOUBLE[])", "params.p")
    key = _sql_qkey("list_dot_product(a.q, c.q)", "a.den", "c.den")
    return f"""
    WITH params AS (
      SELECT {_sql_sized_p(_LSH_TARGET)} AS p FROM embeddings
    ), b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q, {bucket} AS bucket
      FROM embeddings CROSS JOIN params
    ), bb AS (
      SELECT vec_id, q, bucket, list_dot_product(q, q) AS den FROM b
    )
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           {key} AS cosine_sim
    FROM bb a JOIN bb c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {key} >= '{_LSH_THRESH!r}'::DOUBLE
    """


def _lsh_multiprobe_sized_oracle_sql() -> str:
    """SIZED multi-table oracle: per-table masked buckets sharing one
    params-CTE plane count."""
    branches = []
    for t in range(_LSH_TABLES):
        planes = hyperplanes(_LSH_DIM, _SIZED_PMAX, 42 + 1000 * t)
        bucket = _sql_bucket_masked(planes, "v", "params.p")
        branches.append(
            f"SELECT vec_id, q, den, {t} AS tbl, {bucket} AS bucket"
            " FROM vecs CROSS JOIN params"
        )
    union = "\nUNION ALL\n".join(branches)
    key = _sql_qkey("list_dot_product(va.q, vb.q)", "va.den", "vb.den")
    return f"""
    WITH params AS (
      SELECT {_sql_sized_p(_LSH_TARGET)} AS p FROM embeddings
    ), vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_sql_qvec("embedding")} AS q,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    b AS ({union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
      FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
                       AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b,
           {key} AS cosine_sim
    FROM cand
    JOIN vecs va ON va.vec_id = id_a
    JOIN vecs vb ON vb.vec_id = id_b
    WHERE {key} >= '{_LSH_THRESH!r}'::DOUBLE
    """


@query(
    "embedding_lsh_pairs",
    _lsh_pairs_sized_oracle_sql(),
    doc="Sign-LSH bucketed near-dup candidates + exact verify "
    "(the 100 TB ANN path), SIZED: plane count = "
    "bit_length(ceil(N/8)) from one corpus count (exact-integer in "
    "both engines), so bucket occupancy stays ~8 at any scale — 500 "
    "vectors → 6 planes (the previously-fixed config, identical "
    "output), 20k → 12 (the sf1-measured flat point, 1.53 s vs "
    "fixed-6's 5.66 s). Oracle-backed end-to-end: 16 plane literals "
    "baked, bits gated on the params-CTE count, prefix-stable plane "
    "generation pinned by test.",
)
def q_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # dim passed explicitly: plan construction must not run a job for
    # the dim probe (the testdata embeddings are 64-d; TESTDATA.md).
    # The corpus count IS a deliberate build-time job — the bounded
    # fit-stat a production index build reads from table stats.
    p = min(_SIZED_PMAX, sized_planes(emb.count(), _LSH_TARGET))
    return lsh_bucketed_pairs(
        emb, n_planes=p, threshold=_LSH_THRESH, dim=_LSH_DIM
    )


@query(
    "embedding_lsh_pairs_fixed6",
    _lsh_pairs_oracle_sql(),
    doc="FIXED-configuration curve of embedding_lsh_pairs (6 planes "
    "at every scale) — kept registered so the scaling harness can "
    "measure what NOT sizing the bit-width costs (sf1: ×18.7 per "
    "10× vs the sized default's flat curve). Not the production "
    "path.",
)
def q_embedding_lsh_pairs_fixed6(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_pairs(
        emb, n_planes=_LSH_PLANES, threshold=_LSH_THRESH, dim=_LSH_DIM
    )


@query(
    "embedding_lsh_multiprobe",
    _lsh_multiprobe_sized_oracle_sql(),
    doc="Multi-table sign-LSH (h=3 independent plane sets, recall "
    "1-(1-p)^h vs a single table's p), SIZED like "
    "embedding_lsh_pairs (shared bit_length(ceil(N/8)) plane count "
    "across tables): one matmul computes all h·b bits per Arrow "
    "batch, posexplode to (table, bucket), candidate dedup before "
    "the exact rerank. tests/test_operators.py measures recall vs "
    "the exact embedding_neardup twin.",
)
def q_embedding_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    p = min(_SIZED_PMAX, sized_planes(emb.count(), _LSH_TARGET))
    return lsh_bucketed_pairs(
        emb,
        n_planes=p,
        threshold=_LSH_THRESH,
        dim=_LSH_DIM,
        n_tables=_LSH_TABLES,
    )


@query(
    "embedding_lsh_multiprobe_fixed6",
    _lsh_multiprobe_oracle_sql(),
    doc="FIXED-configuration curve of embedding_lsh_multiprobe "
    "(6 planes per table at every scale; sf1 ×49.3 per 10×) — the "
    "honest fixed-config scaling reference, not the production "
    "path.",
)
def q_embedding_lsh_multiprobe_fixed6(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_pairs(
        emb,
        n_planes=_LSH_PLANES,
        threshold=_LSH_THRESH,
        dim=_LSH_DIM,
        n_tables=_LSH_TABLES,
    )


def _recall_eval_oracle_sql(n_queries: int = 5, k: int = 5) -> str:
    """Both retrieval paths in one oracle: exact window top-k and the
    multi-table-LSH candidate top-k (same literal planes as the
    multiprobe query), joined into per-query recall."""
    branches = []
    qbranches = []
    for t in range(_LSH_TABLES):
        planes = hyperplanes(_LSH_DIM, _LSH_PLANES, 42 + 1000 * t)
        branches.append(
            f"SELECT vec_id, v, {t} AS tbl, {_sql_bucket(planes, 'v')} AS bucket"
            " FROM vecs"
        )
        qbranches.append(
            f"SELECT query_id, qv, {t} AS tbl, {_sql_bucket(planes, 'qv')} AS bucket"
            " FROM q"
        )
    union = "\nUNION ALL\n".join(branches)
    qunion = "\nUNION ALL\n".join(qbranches)
    ekey = _sql_qkey("list_dot_product(c.qz, q.qz)", "c.den", "q.den")
    akey = _sql_qkey("list_dot_product(cv.qz, qq.qz)", "cv.den", "qq.den")
    return f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_sql_qvec("embedding")} AS qz,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, qz, den FROM vecs
          WHERE vec_id < {n_queries}),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {ekey} DESC, c.vec_id ASC) AS rn
        FROM q JOIN vecs c ON c.vec_id <> q.query_id
      ) WHERE rn <= {k}
    ),
    b AS ({union}),
    qb AS ({qunion}),
    cand AS (
      SELECT DISTINCT qb.query_id, b.vec_id
      FROM qb JOIN b ON qb.tbl = b.tbl AND qb.bucket = b.bucket
                    AND b.vec_id <> qb.query_id
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT cand.query_id, cand.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY cand.query_id
                 ORDER BY {akey} DESC, cand.vec_id ASC) AS rn
        FROM cand
        JOIN vecs cv ON cv.vec_id = cand.vec_id
        JOIN q qq ON qq.query_id = cand.query_id
      ) WHERE rn <= {k}
    )
    SELECT q.query_id AS query_id,
           COALESCE(o.n, 0) AS n_overlap,
           CAST(COALESCE(o.n, 0) AS DOUBLE) / CAST({k} AS DOUBLE)
             AS recall_at_k
    FROM q
    LEFT JOIN (
      SELECT e.query_id, COUNT(*) AS n
      FROM exact e JOIN approx a
        ON a.query_id = e.query_id AND a.vec_id = e.vec_id
      GROUP BY e.query_id
    ) o ON o.query_id = q.query_id
    ORDER BY query_id
    """


@query(
    "embedding_recall_eval",
    _recall_eval_oracle_sql(),
    doc="ANN quality measured INSIDE the engine: per-query recall@5 "
    "of the multi-table sign-LSH candidate path against the exact "
    "batch top-k, as one data-parallel plan — exact side from the "
    "broadcast batch ranking, approx side from the (table, bucket) "
    "candidate join + rerank, overlap counted per query. This is the "
    "eval harness a production retrieval index ships with (recall "
    "regression gates on index rebuilds); at 100 TB the query set is "
    "a sampled eval panel and the plan is unchanged. Oracle-backed "
    "end-to-end via the same literal hyperplanes.",
)
def q_embedding_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k, n_queries = 5, 5
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = batch_topk(emb, queries, k=k).select("query_id", "vec_id")

    planes_tables = np.stack(
        [
            hyperplanes(_LSH_DIM, _LSH_PLANES, 42 + 1000 * t)
            for t in range(_LSH_TABLES)
        ]
    )
    corpus_b = emb.select(
        "vec_id",
        "embedding",
        F.posexplode(
            lsh_table_buckets_col(F.col("embedding"), planes_tables)
        ).alias("tbl", "bucket"),
    )
    query_b = queries.select(
        "query_id",
        "query_vec",
        F.posexplode(
            lsh_table_buckets_col(F.col("query_vec"), planes_tables)
        ).alias("tbl", "bucket"),
    )
    cand = (
        corpus_b.join(
            F.broadcast(query_b),
            ["tbl", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    cq = quantized_vec_col(F.col("embedding"))
    qq = quantized_vec_col(F.col("query_vec"))
    approx = (
        cand.select(
            "query_id",
            "vec_id",
            cq.alias("_cq"),
            qq.alias("_qq"),
        )
        .select(
            "query_id",
            "vec_id",
            quantized_key(
                _dot(F.col("_cq"), F.col("_qq")),
                quantized_den_col(F.col("_cq"))
                * quantized_den_col(F.col("_qq")),
            ).alias("cosine_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id")
    )
    overlap = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        queries.select("query_id")
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_overlap"),
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.lit(float(k))
            ).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probed exact rerank
# ---------------------------------------------------------------------------


def _lloyd_fit(x: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """Seeded Lloyd's k-means on an in-memory sample. Deterministic:
    seeded init, empty clusters keep their previous centroid."""
    rng = np.random.default_rng(seed)
    k = min(k, len(x))
    cents = x[rng.choice(len(x), size=k, replace=False)]
    for _ in range(max_iter):
        dists = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1)
        labels = dists.argmin(axis=1)
        new = np.vstack(
            [
                x[labels == j].mean(axis=0) if (labels == j).any() else cents[j]
                for j in range(k)
            ]
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def _assign_nearest(
    df: DataFrame, vec_col: str, centroids: np.ndarray, out_col: str
) -> DataFrame:
    """Add ``out_col`` = argmin-squared-L2 over driver-held centroids
    (ties break toward the lower centroid index, numpy argmax order).

    Vectorized Arrow-batched pandas_udf, deliberately NOT a Catalyst
    column expression: Spark's higher-order functions (``aggregate``/
    ``zip_with``) are interpreted per lambda call, so a k×dim
    distance fold costs ~ms per ROW — measured ~30× slower than one
    BLAS matmul per Arrow batch. The centroid matrix rides the UDF
    closure (broadcast-small)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cents_sq = (cents**2).sum(axis=1)

    @F.pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row →
        # argmin needs only the cross and centroid terms.
        d = cents_sq[None, :] - 2.0 * (x @ cents.T)
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    # asNondeterministic: guide §4.4 — a probe filter on the UDF-derived
    # column (ivf_topk's `ivf_list IN (...)`) otherwise makes Catalyst
    # evaluate the UDF TWICE (once under the pushed filter, once in the
    # projection), shipping every vector across the Python boundary two
    # times per scan (r14: two ArrowEvalPython nodes in the before-plan).
    # The function is pure, so results are identical; the flag only stops
    # the optimizer duplicating/reordering it.
    return df.withColumn(out_col, nearest.asNondeterministic()(F.col(vec_col)))


def _fit_sample(
    emb: DataFrame, id_col: str, vec_col: str, fit_sample: int
) -> np.ndarray:
    """The bounded DETERMINISTIC fit sample shared by every quantizer
    (IVF coarse centroids, PQ codebooks): md5-bucket order then id,
    first ``fit_sample`` rows, float64. This recipe is a cross-engine
    determinism CONTRACT — ``_replica_sample`` re-implements it
    without Spark for the baked-literal oracles, so any change here
    must change there identically or every fitted oracle desyncs.

    Arrow transfer: row-based collect() of array columns pays py4j
    per-element serialization (seconds for mere thousands of
    vectors); Arrow ships the columnar batch directly. Set at call
    time — the engine doesn't control the session."""
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket

    emb.sparkSession.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    pdf = (
        emb.select(
            F.col(vec_col).cast("array<double>").alias("_v"),
            hash_bucket(id_col, salt="ivf-fit").alias("_b"),
            F.col(id_col).alias("_id"),
        )
        .orderBy("_b", "_id")
        .limit(fit_sample)
        .toPandas()
    )
    return np.vstack(pdf["_v"].to_numpy()).astype(np.float64)


def _replica_sample(sf_dir: str, fit_sample: int):
    """Spark-free twin of :func:`_fit_sample` (same md5 bucket, same
    (bucket, id) ordering, same float64 widening) for oracle-side
    fitting. Returns (ids, vecs, sample)."""
    import hashlib

    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_numpy()
    vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)

    def bucket(i: int) -> int:
        # hash_bucket: conv(substr(md5(cast(id as string) || salt), 1, 8), 16, 10) % 1e6
        digest = hashlib.md5((str(int(i)) + "ivf-fit").encode()).hexdigest()
        return int(digest[:8], 16) % 1_000_000

    order = sorted(range(len(ids)), key=lambda r: (bucket(ids[r]), int(ids[r])))
    return ids, vecs, vecs[order[:fit_sample]]


def ivf_assign(
    emb: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 4096,
    max_iter: int = 10,
):
    """Fit a k-means coarse quantizer and assign every vector to its
    inverted list. Returns (assigned_df with ``ivf_list`` column,
    centroids ndarray).

    FAISS-style split of fit and assign: the quantizer is trained
    driver-side on a bounded, DETERMINISTIC sample (md5-ordered
    top-``fit_sample`` — one TakeOrdered pass even at 100 TB), then
    every vector is assigned by an argmin-distance column expression
    over the broadcast centroid literals — one map pass, no shuffle,
    whole-stage codegen. The previous pyspark.ml fit ran kmeans||
    init + 20 Lloyd iterations as dozens of distributed jobs over the
    FULL table; at any scale that is strictly worse than sample-fit +
    map-assign for a coarse quantizer (the centroids are statistics,
    not per-row results — a 4k sample pins them to the same quality).
    """
    x = _fit_sample(emb, id_col, vec_col, fit_sample)
    centroids = _lloyd_fit(x, n_centroids, seed, max_iter)
    return _assign_nearest(emb, vec_col, centroids, "ivf_list"), centroids


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    query_vec,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Probe the n_probe nearest inverted lists, exact-cosine rerank.

    Scan cost drops from O(N·d) to O(N·n_probe/n_centroids·d); the
    probed-list filter is a pushable IN predicate — write the
    assigned table ``partitionBy("ivf_list")`` at scale and the probe
    becomes a PARTITION filter reading only n_probe directories
    (exercised by tests/test_operators.py::
    test_ivf_partitioned_layout_prunes_probed_read).
    """
    q = np.asarray(query_vec, dtype=float)
    sims = (centroids @ q) / (
        np.linalg.norm(centroids, axis=1) * np.linalg.norm(q) + 1e-12
    )
    probe = [int(i) for i in np.argsort(-sims)[:n_probe]]
    cand = assigned.filter(F.col("ivf_list").isin(probe))
    return brute_force_topk(
        cand, query_vec, k=k, id_col=id_col, vec_col=vec_col, exclude_ids=exclude_ids
    )


def _ivf_fit_replica(
    sf_dir: str,
    n_centroids: int,
    seed: int,
    fit_sample: int,
    max_iter: int,
):
    """Replicate ``ivf_assign``'s deterministic fit without Spark:
    same md5-bucket sample ordering (``_replica_sample`` ≡
    ``_fit_sample``), same float32→float64 widening, same
    ``_lloyd_fit`` — so the centroids are BIT-IDENTICAL to what the
    engine fits on the same parquet. Returns (ids, vecs, centroids)."""
    ids, vecs, x = _replica_sample(sf_dir, fit_sample)
    return ids, vecs, _lloyd_fit(x, n_centroids, seed, max_iter)


def _ivf_topk_oracle_sql(
    n_centroids: int = 8,
    n_probe: int = 4,
    k: int = 10,
    seed: int = 42,
    fit_sample: int = 4096,
    max_iter: int = 10,
    query_id: int = 0,
) -> str | None:
    """IVF oracle with the fitted centroids baked in as DOUBLE[]
    literals (the ``_sql_vec`` pattern proven for LSH hyperplanes).

    The assignment mirrors ``_assign_nearest``: score_j = ||c_j||² -
    2·v·c_j, argmin with first-min tie-break (numpy argmin ≡ DuckDB
    ``list_indexof(list, list_aggregate(list, 'min'))``, both return
    the FIRST minimal index). The probed lists and the query vector's
    id are driver-side constants in both engines. Known fragility
    (same as the LSH sign test): Spark's BLAS dot vs DuckDB's
    sequential ``list_dot_product`` could differ in the last ulp and
    flip an argmin only on a near-exact centroid-distance tie —
    astronomically unlikely on random data."""
    try:
        ids, vecs, cents = _ivf_fit_replica(
            ORACLE_SF_DIR, n_centroids, seed, fit_sample, max_iter
        )
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    q = vecs[np.nonzero(ids == query_id)[0][0]]
    sims = (cents @ q) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(q) + 1e-12)
    probe = ", ".join(str(int(i)) for i in np.argsort(-sims)[:n_probe])
    cents_sq = (cents**2).sum(axis=1)
    dists = ",\n           ".join(
        f"{_sql_f(cs)} - 2 * list_dot_product(ve, {_sql_vec(c)})"
        for cs, c in zip(cents_sq, cents)
    )
    return f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve,
             {_sql_qvec("embedding")} AS qz,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    d AS (
      SELECT vec_id, ve, qz, den,
          [{dists}] AS dists
      FROM v
    ),
    a AS (
      SELECT vec_id, qz, den,
             list_indexof(dists, list_aggregate(dists, 'min')) - 1 AS ivf_list
      FROM d
    )
    SELECT a.vec_id AS vec_id,
           {_sql_qkey("list_dot_product(a.qz, q.qz)", "a.den", "q.den")}
             AS cosine_sim
    FROM a, (SELECT qz, den FROM v WHERE vec_id = {query_id}) q
    WHERE a.ivf_list IN ({probe}) AND a.vec_id <> {query_id}
    ORDER BY cosine_sim DESC, a.vec_id ASC
    LIMIT {k}
    """


# --- IVF index persistence ----------------------------------------------------
#
# A fitted coarse quantizer is an INDEX ARTIFACT: at production scale
# the centroids are trained once, versioned, and every query-time
# assign/probe runs from the stored table — refitting per query would
# re-randomize list membership under data drift and waste the fit.
# Same lifecycle contract as the churn-model artifacts (plans/ml.py:
# 97-139) and the BPE merge tables (operators/bpe.py): versioned
# parquet dirs, lexicographic latest-wins, query path reads ONLY the
# loaded artifact. Centroids are float64 end-to-end (numpy -> parquet
# DOUBLE -> numpy is bit-exact), so the stored-index query is
# value-identical to the fit-in-plan query — which is precisely what
# the shared oracle certifies.


def save_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    artifacts_dir: str,
    version: str,
    n_centroids: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 4096,
    max_iter: int = 10,
) -> str:
    """Fit the coarse quantizer (deterministic md5-ordered sample +
    seeded Lloyd) and persist the centroid table as the versioned
    artifact ``{artifacts_dir}/ivf_centroids_{version}``."""
    x = _fit_sample(emb, id_col, vec_col, fit_sample)
    centroids = _lloyd_fit(x, n_centroids, seed, max_iter)
    df = spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        schema="centroid_id int, centroid array<double>",
    )
    path = os.path.join(artifacts_dir, f"ivf_centroids_{version}")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return path


def latest_ivf_index(artifacts_dir: str) -> str:
    """Latest-wins index resolution (natural-numeric max of versioned
    names — digit runs compare as integers so unpadded numeric
    versions resolve correctly; shared helper in
    operators/artifacts.py)."""
    from teleco_etl_pipeline_spark.operators.artifacts import (
        latest_artifact,
    )

    return latest_artifact(artifacts_dir, "ivf_centroids_")


def load_ivf_index(spark: SparkSession, path: str) -> np.ndarray:
    """Load a stored centroid table back into the (k, dim) float64
    matrix the assign/probe path consumes — k rows, a bounded
    driver-side artifact by construction."""
    rows = spark.read.parquet(path).orderBy("centroid_id").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


@query(
    "embedding_ivf_topk_stored",
    _ivf_topk_oracle_sql(),
    doc="IVF ANN from a PERSISTED index: fit the coarse quantizer, "
    "SAVE the centroid table as a versioned parquet artifact "
    "(ivf_centroids_{version}, natural-numeric latest-wins — the "
    "plans/ml.py model-artifact pattern), reload it, and run "
    "assign + n_probe scan + exact rerank using ONLY the stored "
    "rows — the production lifecycle where the index is trained "
    "once and served forever. The fit runs ONCE per (process, "
    "sf_dir) via the session artifact store (operators/"
    "artifacts.py): later builds resolve+load+serve only, so bench "
    "best-of-N times serving and fit seconds are reported "
    "separately. Values provably identical to the fit-in-plan "
    "embedding_ivf_topk (float64 survives the parquet round-trip "
    "bit-exact), which is exactly what the shared oracle certifies.",
)
def q_embedding_ivf_topk_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.artifacts import fit_once

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    art_dir = fit_once(
        "ivf_centroids",
        sf_dir,
        lambda adir: save_ivf_index(
            spark, emb, adir, version="v0001", n_centroids=8
        ),
    )
    cents = load_ivf_index(spark, latest_ivf_index(art_dir))
    assigned = _assign_nearest(emb, "embedding", cents, "ivf_list")
    return ivf_topk(
        assigned, cents, qvec, k=10, n_probe=4, exclude_ids=(0,)
    ).select("vec_id", "cosine_sim")


@query(
    "embedding_ivf_topk",
    _ivf_topk_oracle_sql(),
    doc="IVF ANN: k-means coarse quantizer + n_probe inverted-list "
    "scan + exact rerank (the partition-pruned scale path). Oracle-"
    "backed since r5: the deterministic sample-fit (md5-ordered "
    "TakeOrdered + seeded Lloyd) is replicated fit-side in numpy and "
    "the centroids baked into the DuckDB SQL as literals, so the "
    "quantizer assignment, probed-list filter, and exact rerank are "
    "all value-checked — not just row counts.",
)
def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assigned, centroids = ivf_assign(emb, n_centroids=8)
    return ivf_topk(assigned, centroids, qvec, k=10, n_probe=4, exclude_ids=(0,)).select(
        "vec_id", "cosine_sim"
    )


def _ivf_report_sql(
    n_centroids: int = 8,
    seed: int = 42,
    fit_sample: int = 4096,
    max_iter: int = 10,
) -> str | None:
    """Index-health oracle: same baked-centroid dists pattern as the
    IVF query; squared L2 to the assigned centroid recovers from the
    dist list as min + ‖v‖² (the dists drop the constant ‖v‖² term)."""
    try:
        _, _, x = _replica_sample(ORACLE_SF_DIR, fit_sample)
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    cents = _lloyd_fit(x, n_centroids, seed, max_iter)
    cents_sq = (cents**2).sum(axis=1)
    dists = ",\n           ".join(
        f"{_sql_f(cs)} - 2 * list_dot_product(ve, {_sql_vec(c)})"
        for cs, c in zip(cents_sq, cents)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    d AS (
      SELECT vec_id, ve,
          [{dists}] AS dists
      FROM v
    ),
    a AS (
      SELECT list_indexof(dists, list_aggregate(dists, 'min')) - 1 AS ivf_list,
             list_aggregate(dists, 'min') + list_dot_product(ve, ve) AS sqdist
      FROM d
    )
    SELECT ivf_list,
           COUNT(*) AS n_vectors,
           ROUND(AVG(sqdist) + 1e-9, 4) AS avg_sqdist,
           ROUND(COUNT(*) * {n_centroids} * 1.0
                 / (SELECT COUNT(*) FROM v) + 1e-9, 4) AS imbalance
    FROM a GROUP BY ivf_list ORDER BY ivf_list
    """


@query(
    "ivf_balance_report",
    _ivf_report_sql(),
    doc="ANN index-health report: per-inverted-list population, mean "
    "squared quantization error, and imbalance ratio (n·k/N — 1.0 is "
    "perfectly balanced). This is the maintenance signal that decides "
    "when to RE-TRAIN the coarse quantizer: drifting data inflates "
    "avg_sqdist, and a hot list (imbalance ≫ 1) turns its probes "
    "into scans. One Arrow-batched pass computes assignment and "
    "error together (the ‖v‖²-free argmin plus one readback); the "
    "report aggregate is k rows. Oracle-backed via the baked-centroid "
    "dists pattern.",
)
def q_ivf_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x_fit = _fit_sample(emb, "vec_id", "embedding", 4096)
    cents = _lloyd_fit(x_fit, 8, 42, 10)
    c64 = np.ascontiguousarray(cents, dtype=np.float64)
    c_sq = (c64**2).sum(axis=1)

    @F.pandas_udf("ivf_list int, sqdist double")
    def enc(v: pd.Series) -> pd.DataFrame:
        xs = np.vstack(v.to_numpy()).astype(np.float64)
        d = c_sq[None, :] - 2.0 * (xs @ c64.T)
        lst = d.argmin(axis=1)
        sq = d[np.arange(len(xs)), lst] + (xs * xs).sum(axis=1)
        return pd.DataFrame(
            {"ivf_list": lst.astype(np.int32), "sqdist": sq}
        )

    assigned = emb.select(enc(F.col("embedding")).alias("_e")).select(
        F.col("_e.ivf_list").alias("ivf_list"),
        F.col("_e.sqdist").alias("sqdist"),
    )
    from pyspark.sql import Window

    per_list = assigned.groupBy("ivf_list").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg("sqdist") + F.lit(1e-9), 4).alias("avg_sqdist"),
    )
    # total = window sum over the k-row aggregate — no second scan
    total = F.sum("n_vectors").over(Window.partitionBy())
    return per_list.select(
        "ivf_list",
        "n_vectors",
        "avg_sqdist",
        F.round(F.col("n_vectors") * 8 * 1.0 / total + F.lit(1e-9), 4).alias(
            "imbalance"
        ),
    ).orderBy("ivf_list")


# ---------------------------------------------------------------------------
# SemDeDup: semantic deduplication via cluster-then-compare
# ---------------------------------------------------------------------------


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.9,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    arrow: bool = True,
    block: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): k-means-cluster the embeddings, compare pairs only
    WITHIN a cluster, and drop every vector that has ANY
    same-cluster ε-neighbor with a smaller id — whether or not that
    neighbor is itself kept (standard SemDeDup practice: the drop
    test is local, not transitive, so e.g. in a chain a–b–c with
    only adjacent pairs ≥ threshold, b and c are both dropped even
    though c's witness b was dropped too). Survivors are exactly the
    vectors whose smaller-id neighborhood is empty.

    Returns (id, cluster, keep, dup_of): ``dup_of`` is the smallest
    same-cluster id whose cosine ≥ threshold, NULL for survivors.

    Two executions of the same logical operator:

    - ``arrow=True`` (default): one ``applyInPandas`` over cluster
      groups. Arrow ships each vector ONCE — O(N·d) transfer — and
      the pairwise work runs as per-cluster BLAS matmuls in column
      blocks of ``block`` (peak memory |c|·block doubles, never
      |c|²). This is the paper's own execution shape, and the
      measured ~10× win here: Catalyst higher-order functions
      (``aggregate``/``zip_with``) are interpreted per row, so a
      pair-join dot product pays interpreter overhead O(pairs·d),
      plus the join materializes both d-dim vectors per pair.
    - ``arrow=False``: declarative within-cluster self-join +
      min-aggregation, zero Python. The cross-checkable twin (tests
      assert both paths produce identical rows).

    Scale shape (both paths): pairwise work confined to clusters
    (O(Σ|c|²) vs O(N²)); quantizer fit on a bounded sample
    driver-side, assignment one broadcast-centroid map pass
    (``ivf_assign``); the only shuffle is the hash partition on the
    cluster id. Pick n_clusters ≈ N/target_cluster_size so a
    cluster's vectors fit an executor (the paper's regime).
    """
    if n_clusters == 1:
        # Degenerate case (useful as the exact-greedy baseline in
        # tests): no quantizer to fit, everything in one list.
        assigned = emb.withColumn("cluster", F.lit(0))
    else:
        assigned, _ = ivf_assign(
            emb, n_centroids=n_clusters, seed=seed, id_col=id_col, vec_col=vec_col
        )
        assigned = assigned.withColumnRenamed("ivf_list", "cluster")

    if arrow:
        th = float(threshold)

        def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            # Quantized-exact cosine (determinism by construction):
            # floor(x·1e6) integer components keep every dot exact in
            # any accumulation order; the key num/sqrt(den_i·den_j)
            # is one CR sequence, bit-identical to the declarative
            # twin and the DuckDB oracle — no rounding, no epsilon.
            x = np.floor(
                np.vstack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
                * 1e6
            )
            den = np.einsum("ij,ij->i", x, x)  # exact integer-valued
            n = len(ids)
            dup_row = np.full(n, -1, dtype=np.int64)
            for j0 in range(0, n, block):
                j1 = min(j0 + block, n)
                prod = np.outer(den, den[j0:j1])  # one CR multiply each
                s = np.where(
                    prod > 0,
                    (x @ x[j0:j1].T) / np.sqrt(np.where(prod > 0, prod, 1.0)),
                    -2.0,
                )
                hit = s >= th
                # only i < j pairs: mask the diagonal and below
                cols = np.arange(j0, j1)
                hit &= np.arange(n)[:, None] < cols[None, :]
                has = hit.any(axis=0)
                first = hit.argmax(axis=0)  # ids sorted ⇒ first hit = min id
                dup_row[j0:j1] = np.where(has, first, -1)
            return pd.DataFrame(
                {
                    id_col: ids,
                    "cluster": np.full(n, pdf["cluster"].iloc[0], dtype=np.int32),
                    "keep": dup_row < 0,
                    "dup_of": pd.array(
                        [int(ids[r]) if r >= 0 else None for r in dup_row],
                        dtype="Int64",
                    ),
                }
            )

        return (
            assigned.select(F.col(id_col), F.col(vec_col), F.col("cluster"))
            .groupBy("cluster")
            .applyInPandas(
                _dedup_cluster,
                f"{id_col} long, cluster int, keep boolean, dup_of long",
            )
        )

    # Quantization + den are per-VECTOR, not per-pair: compute them
    # once on each side of the self-join (O(N·d)) so each of the
    # O(Σ|c|²) pairs pays only the exact dot plus the CR key.
    normed = assigned.select(
        "cluster", id_col, quantized_vec_col(F.col(vec_col)).alias("_q")
    ).select(
        "cluster", id_col, "_q", quantized_den_col(F.col("_q")).alias("_den")
    )
    a = normed.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("_q").alias("qa"),
        F.col("_den").alias("da"),
    )
    b = normed.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("_q").alias("qb"),
        F.col("_den").alias("db"),
    )
    sim = quantized_key(
        _dot(F.col("qa"), F.col("qb")), F.col("da") * F.col("db")
    )
    # Smaller-id neighbor ≥ threshold → this vector is a duplicate.
    dup_of = (
        a.join(b, ["cluster"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= F.lit(float(threshold)))
        .groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        assigned.select(id_col, "cluster")
        .join(dup_of, [id_col], "left")
        .select(
            id_col,
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def _semdedup_oracle_sql(
    n_clusters: int = 8,
    threshold: float = 0.35,
    seed: int = 42,
    fit_sample: int = 4096,
    max_iter: int = 10,
) -> str | None:
    """SemDeDup oracle: same baked-centroid assignment as the IVF
    oracle, then the within-cluster min-smaller-id ε-neighbor as a
    plain self-join + LEFT JOIN — the declarative twin of the Arrow
    path, in DuckDB."""
    try:
        _, _, cents = _ivf_fit_replica(
            ORACLE_SF_DIR, n_clusters, seed, fit_sample, max_iter
        )
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    cents_sq = (cents**2).sum(axis=1)
    dists = ",\n           ".join(
        f"{_sql_f(cs)} - 2 * list_dot_product(ve, {_sql_vec(c)})"
        for cs, c in zip(cents_sq, cents)
    )
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    d AS (
      SELECT vec_id, ve,
          [{dists}] AS dists
      FROM v
    ),
    a AS (
      SELECT vec_id, ve,
             CAST(list_indexof(dists, list_aggregate(dists, 'min')) - 1 AS INT)
               AS cluster
      FROM d
    ),
    q AS (
      SELECT vec_id, cluster, {_sql_qvec("ve")} AS qz,
             list_dot_product({_sql_qvec("ve")}, {_sql_qvec("ve")}) AS den
      FROM a
    ),
    dup AS (
      SELECT y.vec_id AS vec_id, MIN(x.vec_id) AS dup_of
      FROM q x JOIN q y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE {_sql_qkey("list_dot_product(x.qz, y.qz)", "x.den", "y.den")}
            >= '{threshold!r}'::DOUBLE
      GROUP BY y.vec_id
    )
    SELECT a.vec_id AS vec_id, a.cluster AS cluster,
           dup.dup_of IS NULL AS keep,
           COALESCE(dup.dup_of, -1) AS dup_of
    FROM a LEFT JOIN dup ON a.vec_id = dup.vec_id
    """


@query(
    "embedding_semantic_dedup",
    _semdedup_oracle_sql(),
    doc="SemDeDup semantic deduplication: k-means clusters + "
    "within-cluster cosine, keep-min-id-per-ε-ball. The cluster "
    "restriction bounds pairwise work to inverted lists (the same "
    "layout as IVF ANN); threshold 0.35 tuned to the near-random "
    "synthetic embeddings (see embedding_neardup). Oracle-backed "
    "since r5 via the IVF oracle's baked-centroid assignment plus a "
    "declarative within-cluster min-id self-join in DuckDB.",
)
def q_embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=8, threshold=0.35)
    # Driver-facing projection: a nullable int column round-trips as
    # pandas NaN on the oracle side (value-hash poison) — sentinel -1
    # for "survivor" on BOTH engines; the operator itself keeps NULL.
    return out.select(
        "vec_id", "cluster", "keep", F.coalesce("dup_of", F.lit(-1)).alias("dup_of")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: per-subspace codebooks + ADC top-k
# ---------------------------------------------------------------------------


def pq_fit(
    emb: DataFrame,
    m: int = 4,
    k: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 4096,
    max_iter: int = 10,
) -> np.ndarray:
    """Fit PQ codebooks (Jégou et al. 2011, "Product Quantization for
    Nearest Neighbor Search"): split the d dimensions into ``m``
    contiguous subspaces and k-means each subspace independently on
    the same bounded deterministic sample :func:`ivf_assign` uses
    (md5-ordered TakeOrdered — one pass even at 100 TB, never a
    distributed k-means). Returns codebooks of shape (m, k, d/m).

    Memory math that makes PQ the compressed scale path: a 64-d
    float32 vector is 256 bytes; its PQ code at m=4, k=16 is 4
    nibbles. At 100 TB of raw vectors the code table is ~0.8 TB and
    fits a modest cluster's RAM, which is the whole point — candidate
    generation runs on codes alone (see :func:`pq_topk`).
    """
    x = _fit_sample(emb, id_col, vec_col, fit_sample)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    return np.stack(
        [
            _lloyd_fit(x[:, j * dsub : (j + 1) * dsub], k, seed + j, max_iter)
            for j in range(m)
        ]
    )


def pq_assign(
    emb: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a ``codes`` array<int> column: per-subspace nearest-centroid
    index (argmin squared L2, first-min tie-break — numpy argmin).

    One Arrow-batched matmul per subspace per batch (the
    :func:`_assign_nearest` rationale: Catalyst higher-order folds are
    interpreted per lambda, measured ~30× slower than BLAS). The
    codebook tensor rides the closure — (m·k·d/m) doubles, trivially
    broadcast-small. Self-contained closure: references only numpy/
    pandas and captured locals (executor workers may not have this
    repo importable)."""
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, k, dsub = cb.shape
    cb_sq = (cb**2).sum(axis=2)  # (m, k)

    @F.pandas_udf("array<int>")
    def codes(v: pd.Series) -> pd.Series:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        n = len(x)
        out = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * dsub : (j + 1) * dsub]
            d = cb_sq[j][None, :] - 2.0 * (xs @ cb[j].T)
            out[:, j] = d.argmin(axis=1)
        return pd.Series(list(out))

    return emb.withColumn("codes", codes(F.col(vec_col)))


def pq_topk(
    coded: DataFrame,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: score every vector from its PQ
    code via per-subspace lookup tables, keep the ``rerank`` best
    candidates, exact-cosine rerank to the final ``k``.

    The LUTs (q·c and ||c||² per subspace centroid) are computed
    driver-side in numpy and enter the plan as LITERAL arrays indexed
    by ``element_at`` — so candidate scoring is pure whole-stage-
    codegen arithmetic over the 4-int code column and never touches
    the raw vectors (at scale: scan the skinny code table, read the
    ``rerank`` full vectors only). approx_cos = Σⱼ lut_dot[codeⱼ] /
    (||q||·√Σⱼ lut_nsq[codeⱼ]) — both engines evaluate the identical
    literal-sum left-to-right, so the rounded score is bit-identical
    and the rerank-window cut is deterministic (the only cross-engine
    fragility is the argmin code assignment itself, the same accepted
    ulp class as IVF/LSH).
    """
    cand = coded.withColumn("approx_cos", pq_adc_score(codebooks, query_vec))
    if exclude_ids:
        cand = cand.filter(~F.col(id_col).isin(*exclude_ids))
    cand = cand.orderBy(F.desc("approx_cos"), F.asc(id_col)).limit(rerank)
    return brute_force_topk(
        cand, query_vec, k=k, id_col=id_col, vec_col=vec_col
    )


def pq_adc_score(codebooks: np.ndarray, query_vec, codes_col: str = "codes") -> Column:
    """The ADC approximate-cosine column: literal per-subspace lookup
    tables indexed by the code ints — evaluable on a CODES-ONLY scan
    (no vector column required; see
    test_pq_codes_table_scan_prunes_vectors)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    qnorm = float(np.linalg.norm(q))
    dot_terms = []
    nsq_terms = []
    for j in range(m):
        lut_dot = cb[j] @ q[j * dsub : (j + 1) * dsub]
        lut_nsq = (cb[j] ** 2).sum(axis=1)
        idx = F.element_at(codes_col, j + 1) + F.lit(1)
        dot_terms.append(
            F.element_at(F.array(*[F.lit(float(v)) for v in lut_dot]), idx)
        )
        nsq_terms.append(
            F.element_at(F.array(*[F.lit(float(v)) for v in lut_nsq]), idx)
        )
    adc_dot = dot_terms[0]
    for t in dot_terms[1:]:
        adc_dot = adc_dot + t
    nsq = nsq_terms[0]
    for t in nsq_terms[1:]:
        nsq = nsq + t
    return F.round(adc_dot / (qnorm * F.sqrt(nsq) + 1e-12) + 1e-9, 4)


def _pq_fit_replica(
    sf_dir: str, m: int, k: int, seed: int, fit_sample: int, max_iter: int
):
    """Replicate :func:`pq_fit` without Spark (``_replica_sample`` ≡
    ``_fit_sample``, same per-subspace seeded Lloyd) so the oracle's
    codebooks are bit-identical to the engine's. Returns
    (ids, vecs, codebooks)."""
    ids, vecs, x = _replica_sample(sf_dir, fit_sample)
    dsub = x.shape[1] // m
    cb = np.stack(
        [
            _lloyd_fit(x[:, j * dsub : (j + 1) * dsub], k, seed + j, max_iter)
            for j in range(m)
        ]
    )
    return ids, vecs, cb


_PQ_M, _PQ_K, _PQ_RERANK = 4, 16, 50


def _sql_lut(vals: np.ndarray) -> str:
    # _sql_f elements: bare numeric lists are DECIMAL-unified and the
    # decimal→double parse loses ulps (see _sql_f) — the LUT values
    # must be bit-identical to the Spark plan's F.lit doubles.
    return "[" + ", ".join(_sql_f(v) for v in vals) + "]"


def _pq_topk_oracle_sql(
    m: int = _PQ_M,
    k_cent: int = _PQ_K,
    k: int = 10,
    rerank: int = _PQ_RERANK,
    seed: int = 42,
    fit_sample: int = 4096,
    max_iter: int = 10,
    query_id: int = 0,
) -> str | None:
    """PQ oracle: codebooks baked as literals; per-subspace code =
    first-min argmin over k_cent squared-L2 distances on the embedding
    slice (``list_indexof``/``list_aggregate('min')`` ≡ numpy argmin);
    ADC score via literal LUT indexing; top-``rerank`` window cut on
    the rounded score; exact rerank. Mirrors the Spark plan stage for
    stage so every intermediate is value-checked."""
    try:
        ids, vecs, cb = _pq_fit_replica(
            ORACLE_SF_DIR, m, k_cent, seed, fit_sample, max_iter
        )
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    q = vecs[np.nonzero(ids == query_id)[0][0]]
    dsub = vecs.shape[1] // m
    qnorm = float(np.linalg.norm(q))
    code_exprs = []
    dot_idx = []
    nsq_idx = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub  # 1-based inclusive slice
        cents = cb[j]
        cents_sq = (cents**2).sum(axis=1)
        dists = ", ".join(
            f"{_sql_f(cs)} - 2 * list_dot_product(ve[{lo}:{hi}], {_sql_vec(c)})"
            for cs, c in zip(cents_sq, cents)
        )
        code_exprs.append(
            f"list_indexof([{dists}], list_aggregate([{dists}], 'min')) AS i{j}"
        )
        lut_dot = cents @ q[j * dsub : (j + 1) * dsub]
        dot_idx.append(f"({_sql_lut(lut_dot)})[i{j}]")
        nsq_idx.append(f"({_sql_lut(cents_sq)})[i{j}]")
    codes = ",\n             ".join(code_exprs)
    adc = " + ".join(dot_idx)
    nsq = " + ".join(nsq_idx)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    c AS (
      SELECT vec_id, ve,
             {codes}
      FROM v
    ),
    s AS (
      SELECT vec_id, ve,
             ROUND(({adc}) / ({_sql_f(qnorm)} * sqrt({nsq}) + 1e-12) + 1e-9, 4)
               AS approx_cos
      FROM c
      WHERE vec_id <> {query_id}
    ),
    cand AS (
      SELECT vec_id, ve FROM s
      ORDER BY approx_cos DESC, vec_id ASC
      LIMIT {rerank}
    ),
    cq AS (
      SELECT vec_id, {_sql_qvec("ve")} AS qz,
             list_dot_product({_sql_qvec("ve")}, {_sql_qvec("ve")}) AS den
      FROM cand
    ),
    qv AS (
      SELECT {_sql_qvec("ve")} AS qz,
             list_dot_product({_sql_qvec("ve")}, {_sql_qvec("ve")}) AS den
      FROM v WHERE vec_id = {query_id}
    )
    SELECT cq.vec_id AS vec_id,
           {_sql_qkey("list_dot_product(cq.qz, qv.qz)", "cq.den", "qv.den")}
             AS cosine_sim
    FROM cq, qv
    ORDER BY cosine_sim DESC, cq.vec_id ASC
    LIMIT {k}
    """


@query(
    "embedding_pq_topk",
    _pq_topk_oracle_sql(),
    doc="Product-quantization ANN (Jégou et al. 2011): per-subspace "
    "codebooks sample-fit driver-side, one BLAS matmul per subspace "
    "per Arrow batch assigns 4-int codes, and ADC candidate scoring "
    "is pure codegen arithmetic over literal lookup tables — the "
    "compressed-index scale path where candidate generation reads "
    "codes (nibbles), not vectors (kilobytes). Exact-cosine rerank "
    "of the top-50 window; oracle-backed end-to-end via baked "
    "codebook/LUT literals.",
)
def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cb = pq_fit(emb, m=_PQ_M, k=_PQ_K)
    coded = pq_assign(emb, cb)
    return pq_topk(
        coded, cb, qvec, k=10, rerank=_PQ_RERANK, exclude_ids=(0,)
    ).select("vec_id", "cosine_sim")


# ---------------------------------------------------------------------------
# IVFADC: IVF coarse quantizer + product quantization of the RESIDUALS
# (Jégou et al. 2011 §IV — the composed FAISS `IVFx,PQy` index layout)
# ---------------------------------------------------------------------------

# m=8 (8-d subspaces at d=64): measured on the harness embeddings,
# m=4's reconstruction error drowns the cosine signal (recall@10 3/10
# inside the ADC-50 window) while m=8 recovers 7/10 — residual codes
# must be fine enough that ADC ordering correlates with exact cosine.
_IVFPQ_NC, _IVFPQ_M, _IVFPQ_K, _IVFPQ_PROBE, _IVFPQ_RERANK = 8, 8, 16, 4, 50


def _ivfpq_fit_core(
    x: np.ndarray, n_centroids: int, m: int, k_cent: int, seed: int, max_iter: int
):
    """Shared fit kernel (engine AND oracle run this same numpy code on
    the same sample, so centroids/codebooks are bit-identical): coarse
    k-means first, then per-subspace k-means on the coarse RESIDUALS.
    Residual codebooks are what separates IVFADC from flat PQ — the
    residual distribution is far tighter than the raw vectors, so 4-bit
    codes recover much more of the distance signal (Jégou et al. 2011).
    """
    cents = _lloyd_fit(x, n_centroids, seed, max_iter)
    labels = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=-1).argmin(axis=1)
    resid = x - cents[labels]
    dsub = x.shape[1] // m
    if x.shape[1] % m:
        raise ValueError(f"dim {x.shape[1]} not divisible by m={m}")
    cb = np.stack(
        [
            _lloyd_fit(resid[:, j * dsub : (j + 1) * dsub], k_cent, seed + j, max_iter)
            for j in range(m)
        ]
    )
    return cents, cb


def ivfpq_fit(
    emb: DataFrame,
    n_centroids: int = _IVFPQ_NC,
    m: int = _IVFPQ_M,
    k_cent: int = _IVFPQ_K,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int = 4096,
    max_iter: int = 10,
):
    """Fit the composed index driver-side on the same bounded
    deterministic sample as :func:`ivf_assign`/:func:`pq_fit` (one
    md5-ordered TakeOrdered pass even at 100 TB). Returns
    (centroids (n_centroids, d), codebooks (m, k_cent, d/m))."""
    x = _fit_sample(emb, id_col, vec_col, fit_sample)
    return _ivfpq_fit_core(x, n_centroids, m, k_cent, seed, max_iter)


def ivfpq_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add ``ivf_list`` (coarse cell) and ``codes`` (residual PQ code)
    in ONE Arrow-batched pass: list assignment, residual subtraction,
    and all m subspace argmins are BLAS matmuls per batch (the
    :func:`_assign_nearest` rationale — Catalyst higher-order folds are
    interpreted per lambda, measured ~30× slower). Both fitted tensors
    ride the closure, broadcast-small. At scale this is the index-BUILD
    map pass: write the result ``partitionBy("ivf_list")`` with only
    (id, ivf_list, codes) — ~5 bytes/vector — and probed queries scan
    n_probe directories of a skinny code table, never the raw vectors
    (same layout the IVF partition-pruning test exercises)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cents_sq = (cents**2).sum(axis=1)
    cb = np.ascontiguousarray(codebooks, dtype=np.float64)
    m, _, dsub = cb.shape
    cb_sq = (cb**2).sum(axis=2)

    @F.pandas_udf("ivf_list int, codes array<int>")
    def enc(v: pd.Series) -> pd.DataFrame:
        x = np.vstack(v.to_numpy()).astype(np.float64)
        lst = (cents_sq[None, :] - 2.0 * (x @ cents.T)).argmin(axis=1)
        r = x - cents[lst]
        out = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            rs = r[:, j * dsub : (j + 1) * dsub]
            out[:, j] = (cb_sq[j][None, :] - 2.0 * (rs @ cb[j].T)).argmin(axis=1)
        return pd.DataFrame(
            {"ivf_list": lst.astype(np.int32), "codes": list(out)}
        )

    # asNondeterministic: the _assign_nearest rationale (guide §4.4) —
    # ivfpq_topk filters on the UDF-derived ivf_list, and without the
    # flag the before-plan evaluated `enc` twice (two ArrowEvalPython
    # passes over every vector). Pure function, identical results.
    return emb.withColumn("_enc", enc.asNondeterministic()(F.col(vec_col))).select(
        *emb.columns,
        F.col("_enc.ivf_list").alias("ivf_list"),
        F.col("_enc.codes").alias("codes"),
    )


def ivfpq_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec,
    k: int = 10,
    n_probe: int = _IVFPQ_PROBE,
    rerank: int = _IVFPQ_RERANK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple[int, ...] = (),
) -> DataFrame:
    """IVFADC query: probe the n_probe nearest coarse cells, ADC-score
    candidates from codes alone (approximate cosine over the
    reconstruction — see :func:`ivfpq_adc_score`), exact-cosine rerank
    the top window. Every LUT enters the plan as a literal array
    indexed by ``ivf_list``/the code ints, so the candidate scan is
    pure whole-stage-codegen arithmetic over (ivf_list, codes) and
    touches raw vectors only for the ``rerank`` survivors. The rounded
    score makes the window cut deterministic cross-engine (house
    pattern)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    sims = (cents @ q) / (
        np.linalg.norm(cents, axis=1) * np.linalg.norm(q) + 1e-12
    )
    probe = [int(i) for i in np.argsort(-sims)[:n_probe]]
    cand = assigned.filter(F.col("ivf_list").isin(probe))
    if exclude_ids:
        cand = cand.filter(~F.col(id_col).isin(*exclude_ids))
    cand = (
        cand.withColumn(
            "approx_cos", ivfpq_adc_score(centroids, codebooks, query_vec)
        )
        .orderBy(F.desc("approx_cos"), F.asc(id_col))
        .limit(rerank)
    )
    return brute_force_topk(cand, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def _flat_lit(vals) -> Column:
    return F.array(*[F.lit(float(v)) for v in np.asarray(vals).ravel()])


def ivfpq_adc_score(
    centroids: np.ndarray,
    codebooks: np.ndarray,
    query_vec,
    list_col: str = "ivf_list",
    codes_col: str = "codes",
) -> Column:
    """The IVFADC approximate-COSINE column over the reconstruction
    ĉ = c_list + r̂: q·ĉ from literal per-cell q·c plus residual dot
    LUTs, and ‖ĉ‖² = ‖c_list‖² + Σⱼ(2·c_list·r̂ⱼ + ‖r̂ⱼ‖²) from literal
    cross-term LUTs flattened (cell-major) and indexed by
    ivf_list·k + code. Ranking by raw inner product would distort the
    cosine order wherever vector norms vary (measured: recall@10
    drops 5→3 at sf0.001), so the norm correction is load-bearing.
    Evaluable on a scan of (ivf_list, codes) alone — no vector column
    (see test_ivfpq_probed_scan_prunes_partitions_and_vectors)."""
    q = np.asarray(query_vec, dtype=np.float64)
    cents = np.asarray(centroids, dtype=np.float64)
    cb = np.asarray(codebooks, dtype=np.float64)
    m, k_cent, dsub = cb.shape
    qnorm = float(np.linalg.norm(q))
    qc = cents @ q
    csq = (cents**2).sum(axis=1)
    lst1 = F.col(list_col) + F.lit(1)
    dot = F.element_at(_flat_lit(qc), lst1)
    nsq = F.element_at(_flat_lit(csq), lst1)
    for j in range(m):
        lut_dot = cb[j] @ q[j * dsub : (j + 1) * dsub]
        lut_nsq = (cb[j] ** 2).sum(axis=1)
        cross = cents[:, j * dsub : (j + 1) * dsub] @ cb[j].T  # (cells, k)
        code1 = F.element_at(codes_col, j + 1) + F.lit(1)
        flat_idx = F.col(list_col) * F.lit(k_cent) + code1
        dot = dot + F.element_at(_flat_lit(lut_dot), code1)
        nsq = nsq + (
            F.lit(2.0) * F.element_at(_flat_lit(cross), flat_idx)
            + F.element_at(_flat_lit(lut_nsq), code1)
        )
    return F.round(dot / (F.lit(qnorm) * F.sqrt(nsq) + F.lit(1e-12)) + F.lit(1e-9), 4)


def _ivfpq_topk_oracle_sql(
    n_centroids: int = _IVFPQ_NC,
    m: int = _IVFPQ_M,
    k_cent: int = _IVFPQ_K,
    k: int = 10,
    n_probe: int = _IVFPQ_PROBE,
    rerank: int = _IVFPQ_RERANK,
    seed: int = 42,
    fit_sample: int = 4096,
    max_iter: int = 10,
    query_id: int = 0,
) -> str | None:
    """IVFADC oracle, every stage value-checked: the shared fit kernel
    (:func:`_ivfpq_fit_core` on ``_replica_sample``) reproduces the
    engine's centroids/codebooks bit-for-bit; coarse assignment uses
    the proven IVF dists pattern; the residual vector is materialized
    with ``list_zip``+``list_transform`` against a CASE-selected
    centroid literal; residual codes / ADC LUTs / the rounded window
    cut / the exact rerank all mirror the Spark plan stage for stage.
    Same accepted last-ulp fragility class as IVF/PQ/LSH."""
    try:
        ids, vecs, x = _replica_sample(ORACLE_SF_DIR, fit_sample)
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    cents, cb = _ivfpq_fit_core(x, n_centroids, m, k_cent, seed, max_iter)
    q = vecs[np.nonzero(ids == query_id)[0][0]]
    dsub = vecs.shape[1] // m
    sims = (cents @ q) / (np.linalg.norm(cents, axis=1) * np.linalg.norm(q) + 1e-12)
    probe = [int(i) for i in np.argsort(-sims)[:n_probe]]
    cents_sq = (cents**2).sum(axis=1)
    dists = ",\n           ".join(
        f"{_sql_f(cs)} - 2 * list_dot_product(ve, {_sql_vec(c)})"
        for cs, c in zip(cents_sq, cents)
    )
    cvec_case = (
        "CASE ivf_list "
        + " ".join(
            f"WHEN {p} THEN CAST({_sql_vec(cents[p])} AS DOUBLE[])" for p in probe
        )
        + " END"
    )
    qc = cents @ q
    qnorm = float(np.linalg.norm(q))
    csq = (cents**2).sum(axis=1)
    k_cent_n = cb.shape[1]
    code_exprs = []
    dot_terms = [f"({_sql_lut(qc)})[ivf_list + 1]"]
    nsq_terms = [f"({_sql_lut(csq)})[ivf_list + 1]"]
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub  # 1-based inclusive slice
        c_sq = (cb[j] ** 2).sum(axis=1)
        djs = ", ".join(
            f"{_sql_f(cs)} - 2 * list_dot_product(rv[{lo}:{hi}], {_sql_vec(c)})"
            for cs, c in zip(c_sq, cb[j])
        )
        code_exprs.append(
            f"list_indexof([{djs}], list_aggregate([{djs}], 'min')) AS i{j}"
        )
        lut = cb[j] @ q[j * dsub : (j + 1) * dsub]
        cross = cents[:, j * dsub : (j + 1) * dsub] @ cb[j].T  # (cells, k)
        dot_terms.append(f"({_sql_lut(lut)})[i{j}]")
        nsq_terms.append(
            f"(2 * ({_sql_lut(cross.ravel())})[ivf_list * {k_cent_n} + i{j}]"
            f" + ({_sql_lut(c_sq)})[i{j}])"
        )
    codes = ",\n             ".join(code_exprs)
    adc_dot = " + ".join(dot_terms)
    adc_nsq = " + ".join(nsq_terms)
    probe_list = ", ".join(str(p) for p in probe)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
    d AS (
      SELECT vec_id, ve,
          [{dists}] AS dists
      FROM v
    ),
    a AS (
      SELECT vec_id, ve,
             list_indexof(dists, list_aggregate(dists, 'min')) - 1 AS ivf_list
      FROM d
      WHERE vec_id <> {query_id}
    ),
    p AS (
      SELECT vec_id, ve, ivf_list,
             list_transform(list_zip(ve, {cvec_case}), x -> x[1] - x[2]) AS rv
      FROM a
      WHERE ivf_list IN ({probe_list})
    ),
    c AS (
      SELECT vec_id, ve, ivf_list,
             {codes}
      FROM p
    ),
    s AS (
      SELECT vec_id, ve,
             ROUND(({adc_dot}) / ({_sql_f(qnorm)} * sqrt({adc_nsq}) + 1e-12) + 1e-9, 4)
               AS approx_cos
      FROM c
    ),
    cand AS (
      SELECT vec_id, ve FROM s
      ORDER BY approx_cos DESC, vec_id ASC
      LIMIT {rerank}
    ),
    cq AS (
      SELECT vec_id, {_sql_qvec("ve")} AS qz,
             list_dot_product({_sql_qvec("ve")}, {_sql_qvec("ve")}) AS den
      FROM cand
    ),
    qv AS (
      SELECT {_sql_qvec("ve")} AS qz,
             list_dot_product({_sql_qvec("ve")}, {_sql_qvec("ve")}) AS den
      FROM v WHERE vec_id = {query_id}
    )
    SELECT cq.vec_id AS vec_id,
           {_sql_qkey("list_dot_product(cq.qz, qv.qz)", "cq.den", "qv.den")}
             AS cosine_sim
    FROM cq, qv
    ORDER BY cosine_sim DESC, cq.vec_id ASC
    LIMIT {k}
    """


@query(
    "embedding_ivfpq_topk",
    _ivfpq_topk_oracle_sql(),
    doc="IVFADC composed ANN index (Jégou et al. 2011 §IV; the FAISS "
    "`IVF8,PQ4` layout): coarse k-means cells + product quantization "
    "of the coarse residuals, both sample-fit driver-side by one "
    "shared deterministic kernel. Queries probe n_probe cells and "
    "ADC-score candidates from the 4-int code column alone — pure "
    "codegen literal-LUT arithmetic, no raw vectors until the exact "
    "rerank of the top-50 window. This is the 100 TB ANN layout: the "
    "code table is ~5 bytes/vector, partitionable by ivf_list so a "
    "probe is a partition-pruned scan. Oracle-backed end-to-end via "
    "the shared fit kernel + baked centroid/codebook/LUT literals.",
)
def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents, cb = ivfpq_fit(emb)
    assigned = ivfpq_assign(emb, cents, cb)
    return ivfpq_topk(
        assigned, cents, cb, qvec, k=10, exclude_ids=(0,)
    ).select("vec_id", "cosine_sim")


def batch_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k for EVERY query in a query table (batch
    retrieval), not just one literal vector: broadcast the query set
    against the corpus and keep the per-query top-k with a window.

    Scale shape: the corpus scans ONCE for the whole query batch
    (cost O(N·Q·d) compute but O(N) I/O); the broadcast is right for
    the usual regime Q ≪ N (eval/retrieval probes against a 100 TB
    index). The per-query ranking window partitions by query id, so
    no single task ever sorts more than one query's scores — and with
    k bounded, AQE's local top-k (rank pushdown through the window)
    keeps the shuffle at k rows per query per mapper. For large Q,
    swap the broadcast for the bucketed LSH/IVF candidate join
    (:func:`lsh_bucketed_pairs` / :func:`ivf_topk`) — same final
    window.

    Self-exclusion: a corpus vector never matches its own query id.
    """
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        quantized_vec_col(F.col(query_vec_col)).alias("_qv"),
    ).select(
        "_qid", "_qv", quantized_den_col(F.col("_qv")).alias("_qden")
    )
    corpus = emb.select(
        F.col(id_col), quantized_vec_col(F.col(vec_col)).alias("_cv")
    ).select(
        id_col, "_cv", quantized_den_col(F.col("_cv")).alias("_cden")
    )
    scored = (
        corpus.join(F.broadcast(q), F.col(id_col) != F.col("_qid"))
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            quantized_key(
                _dot(F.col("_cv"), F.col("_qv")),
                F.col("_cden") * F.col("_qden"),
            ).alias("cosine_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "cosine_sim")
    )


@query(
    "embedding_batch_topk",
    f"""
    WITH base AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM base
    ), qq AS (
      SELECT vec_id AS query_id, q AS qv, den AS qden
      FROM bb WHERE vec_id < 5
    )
    SELECT query_id, vec_id,
           {_sql_qkey("list_dot_product(e.q, qq.qv)", "e.den", "qq.qden")}
             AS cosine_sim
    FROM bb e JOIN qq ON e.vec_id <> qq.query_id
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id ASC) <= 5
    """,
    doc="Batch retrieval: exact cosine top-5 for every query in a "
    "query set via one broadcast corpus scan + per-query ranking "
    "window — the Q≪N eval-probe shape; the bucketed LSH/IVF join "
    "replaces the broadcast when Q grows.",
)
def q_embedding_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return batch_topk(emb, qs, k=5)


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    query_label_col: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    anchor query, the top-k most-similar corpus vectors whose label
    DIFFERS from the anchor's — the highest-loss negatives a
    triplet/InfoNCE objective can be fed (Xiong et al., ANCE,
    ICLR'21: negatives drawn near the decision boundary dominate
    random in-batch negatives).

    Same scale shape as :func:`batch_topk` (one corpus scan,
    broadcast anchor set, per-anchor ranking window), plus the label
    inequality applied AT THE JOIN, so disallowed (same-class) pairs
    never enter the score/shuffle path at all. For anchor sets too
    large to broadcast, swap the join for the bucketed LSH candidate
    pairs and keep the same label filter + window.
    """
    q = queries.select(
        F.col(query_id_col).alias("_qid"),
        F.col(query_label_col).alias("_qlabel"),
        quantized_vec_col(F.col(query_vec_col)).alias("_qv"),
    ).select(
        "_qid",
        "_qlabel",
        "_qv",
        quantized_den_col(F.col("_qv")).alias("_qden"),
    )
    corpus = emb.select(
        F.col(id_col),
        F.col(label_col),
        quantized_vec_col(F.col(vec_col)).alias("_cv"),
    ).select(
        id_col, label_col, "_cv", quantized_den_col(F.col("_cv")).alias("_cden")
    )
    scored = corpus.join(
        F.broadcast(q),
        (F.col(id_col) != F.col("_qid"))
        & (F.col(label_col) != F.col("_qlabel")),
    ).select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        F.col(label_col).alias("neg_label"),
        quantized_key(
            _dot(F.col("_cv"), F.col("_qv")),
            F.col("_cden") * F.col("_qden"),
        ).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(query_id_col, id_col, "neg_label", "cosine_sim")
    )


@query(
    "embedding_hard_negatives",
    f"""
    WITH base AS (
      SELECT vec_id, label, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, label, q, list_dot_product(q, q) AS den FROM base
    ), qq AS (
      SELECT vec_id AS query_id, label AS qlabel, q AS qv, den AS qden
      FROM bb WHERE vec_id < 5
    )
    SELECT query_id, vec_id, label AS neg_label,
           {_sql_qkey("list_dot_product(e.q, qq.qv)", "e.den", "qq.qden")}
             AS cosine_sim
    FROM bb e JOIN qq
      ON e.vec_id <> qq.query_id AND e.label <> qq.qlabel
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id ASC) <= 5
    """,
    doc="Hard-negative mining (ANCE-style) for contrastive "
    "training: per anchor (vec_id < 5), the top-5 most-similar "
    "corpus vectors with a DIFFERENT label — boundary-hugging "
    "negatives for triplet/InfoNCE batches. One corpus scan against "
    "the broadcast anchor set with the label inequality applied at "
    "the join (same-class pairs never scored), quantized-exact "
    "cosine ranking key, per-anchor window top-k.",
)
def q_embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    return hard_negatives(emb, qs, k=5)


def _semantic_prune_oracle_sql() -> str | None:
    sd = _semdedup_oracle_sql()
    if sd is None:
        return None
    return f"""
    WITH sd AS ({sd})
    SELECT d.doc_id, d.source, d.n_chars
    FROM sd JOIN documents d ON d.doc_id = sd.vec_id
    WHERE sd.keep
    """


@query(
    "corpus_semantic_prune",
    _semantic_prune_oracle_sql(),
    doc="Cross-modal corpus pruning: SemDeDup survivors computed on "
    "the embeddings table select rows OF THE DOCUMENTS table "
    "(doc_id = vec_id, the text↔embedding contract in TESTDATA.md) — "
    "the standard two-table layout at scale, where embeddings live "
    "in their own (re-embeddable) table instead of widening the "
    "corpus. The survivor set is id-only at join time (never ships "
    "vectors into the join); at 100 TB both sides hash-join on the "
    "id with the survivor side ~cluster-deduped smaller.",
)
def q_corpus_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    keep = (
        semantic_dedup(emb, n_clusters=8, threshold=0.35)
        .filter(F.col("keep"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    return docs.join(keep, "doc_id").select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# kNN join (LSH-bucketed) + majority-vote label propagation
# ---------------------------------------------------------------------------


def lsh_knn_join(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    total_coverage: bool = False,
    fallback_candidates: int = 256,
) -> DataFrame:
    """Approximate kNN JOIN: for every vector, UP TO k nearest
    same-bucket neighbors by exact cosine — the set-returning join
    Spark has no native operator for (each left row matches its own
    top-k right rows, not a predicate). The coverage guarantee is
    "at least one neighbor per vector" (with ``total_coverage``),
    never "k neighbors": a vector whose bucket holds fewer than k
    collisions keeps its short candidate list, and the brute-force
    leftovers pass scores only ``fallback_candidates`` sampled
    candidates.

    Candidates are sign-LSH bucket collisions (the
    :func:`lsh_bucketed_pairs` machinery), so the pair space is
    O(Σ|bucket|²) not O(N²); the per-left ranking window partitions
    by the left id, so no task sorts more than one vector's
    candidates. Fewer planes ⇒ bigger buckets ⇒ better recall and
    more work — at 100 TB tune n_planes so buckets hold ~10³ vectors
    and add tables (recall knob) rather than dropping planes.
    Vectors alone in their bucket emit no rows (standard LSH-kNN
    behavior); pass ``total_coverage=True`` to add the brute-force
    leftovers pass: vectors with ZERO bucket collisions are anti-
    joined out and scored exactly against a deterministic md5-sampled
    candidate set of ``fallback_candidates`` vectors (broadcast — a
    TakeOrdered of a few hundred rows, never a second full shuffle),
    so every vector receives at least one neighbor and classification
    coverage is total. Vectors with 1..k-1 bucket collisions keep
    their short candidate lists (they are covered, just under-k).

    DETERMINISM BY CONSTRUCTION (the round-6 lesson): every quantity
    that feeds the ranking is exact. Components and hyperplanes are
    quantized to integers (``floor(x·10⁶)`` — one correctly-rounded
    IEEE multiply + an exact floor, bit-identical in the JVM, numpy
    and DuckDB); all dots/norms over the quantized values have
    integer intermediates < 2⁵³, so float64 accumulation is EXACT in
    any order (BLAS pairwise, sequential, SIMD — all identical); the
    ranking key ``num / sqrt(den_a·den_b)`` is then three exact
    int→double values through one multiply, one sqrt and one divide —
    all correctly-rounded IEEE ops, hence bit-identical across
    engines. No rounding, no epsilon nudges, no libm calls. The
    quantized cosine differs from the true float cosine by O(10⁻⁶) —
    irrelevant for neighbor ranking, and the price of a rank order
    that cannot flip under a different BLAS build (round-6 driver
    incident: numpy einsum vs DuckDB list_cosine_similarity produced
    different last-ulp float64s and the 4-dp round flipped the k-th
    neighbor).

    Pass ``dim`` explicitly in production (same caveat as
    :func:`lsh_bucketed_pairs`): the fallback probes the first row,
    which triggers a job DURING PLAN BUILD — on a cold 100 TB table
    that stalls construction on a full-scan-first-row.

    Returns (``id_col``, neighbor_id, cosine_sim, rn), rn = 1..k.
    """
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    # Quantized integer hyperplanes: floor(p·10⁶) kept as
    # integer-valued float64 so the bucket matmul stays one pass
    # yet every product/partial-sum is an exact integer < 2⁵³.
    iplanes = np.floor(
        np.ascontiguousarray(hyperplanes(dim, n_planes, seed), dtype=np.float64)
        * 1e6
    )
    pows = (1 << np.arange(n_planes, dtype=np.int64)).astype(np.int64)

    # Quantize ONCE PER ROW (O(N·d)) and derive the bucket in the
    # SAME Arrow round trip (a chained quantize→bucket UDF pair would
    # ship every vector python↔jvm twice): one struct-returning
    # pandas UDF yields (quantized array, bucket). The pair scorer
    # below sees each vector once per CANDIDATE PAIR, so flooring
    # there would redo the quantization ~|bucket| times per vector.
    # The quantized components are integers < 2²⁴ (|x| ≤ ~0.5 → |q| ≤
    # 5·10⁵), so they are EXACTLY representable in float32 — carrying
    # the arrays as array<float> halves the bytes the pair join
    # shuffles and the Arrow batches ship, with zero loss (the scorer
    # widens back to float64 before the exact dots).
    @F.pandas_udf("struct<q: array<float>, bucket: long>")
    def _quantize_bucket(v: pd.Series) -> pd.DataFrame:
        q = np.floor(np.vstack(v.to_numpy()).astype(np.float64) * 1e6)
        bits = (q @ iplanes.T) > 0  # exact: integer-valued f64 dot
        return pd.DataFrame(
            {"q": list(q.astype(np.float32)), "bucket": (bits @ pows).astype(np.int64)}
        )

    wq = emb.select(
        F.col(id_col), _quantize_bucket(F.col(vec_col)).alias("_qb")
    ).select(
        F.col(id_col),
        F.col("_qb.q").alias("_q"),
        F.col("_qb.bucket").alias("bucket"),
    )
    wb = wq
    a = wb.select("bucket", F.col(id_col).alias("_qid"), F.col("_q").alias("_qv"))
    b = wb.select(
        "bucket", F.col(id_col).alias("neighbor_id"), F.col("_q").alias("_nv")
    )

    # Pairwise ranking key as one Arrow-batched pass. The kNN join
    # scores EVERY same-bucket pair (no threshold prunes candidates
    # first), so with production-sized buckets (~10³ vectors) the
    # candidate count is ~|bucket|×N — at that volume the interpreted
    # Catalyst fold (aggregate/zip_with, per-lambda interpreter cost)
    # measured 5.8 s vs ~1.5 s for the einsum at sf0.1's 1.5M pairs.
    # Self-contained closure (numpy only — executor workers may not
    # have this repo importable). Inputs are the PRE-QUANTIZED
    # integer-valued arrays, so all dots are exact (integer
    # intermediates < 2⁵³ in any accumulation order); the final
    # num/sqrt(den_a·den_b) is a fixed sequence of correctly-rounded
    # IEEE ops, so the emitted double is bit-identical to the DuckDB
    # oracle's — no rounding applied or needed.
    @F.pandas_udf("double")
    def _pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        x = np.vstack(va.to_numpy()).astype(np.float64)
        y = np.vstack(vb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", x, y)
        da = np.einsum("ij,ij->i", x, x)
        db = np.einsum("ij,ij->i", y, y)
        den = np.sqrt(da * db)
        return pd.Series(np.where(den > 0, num / np.where(den > 0, den, 1.0), -2.0))

    scored = (
        a.join(b, "bucket")
        .filter(F.col("_qid") != F.col("neighbor_id"))
        .select(
            F.col("_qid").alias(id_col),
            "neighbor_id",
            _pair_cos(F.col("_qv"), F.col("_nv")).alias("cosine_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    knn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    if not total_coverage:
        return knn

    # Brute-force leftovers pass: vectors with zero same-bucket
    # collisions got no rows above; score them exactly against a
    # deterministic md5-ordered sample of the corpus. The sample is a
    # TakeOrderedAndProject (top-N by md5, no full sort) and is
    # broadcast, so the fallback is one map-side join over the
    # leftovers — no second all-pairs shuffle at any scale.
    covered = knn.select(F.col(id_col)).distinct()
    leftovers = wb.select(
        F.col(id_col).alias("_qid"), F.col("_q").alias("_qv")
    ).join(covered.select(F.col(id_col).alias("_qid")), "_qid", "left_anti")
    cand = (
        wq.select(F.col(id_col).alias("neighbor_id"), F.col("_q").alias("_nv"))
        .orderBy(F.md5(F.col("neighbor_id").cast("string")).asc())
        .limit(fallback_candidates)
    )
    fb_scored = (
        leftovers.join(F.broadcast(cand))
        .filter(F.col("_qid") != F.col("neighbor_id"))
        .select(
            F.col("_qid").alias(id_col),
            "neighbor_id",
            _pair_cos(F.col("_qv"), F.col("_nv")).alias("cosine_sim"),
        )
    )
    fb = fb_scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    return knn.unionByName(fb)


def knn_label_classify(
    emb: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim: int | None = None,
    total_coverage: bool = False,
    fallback_candidates: int = 256,
) -> DataFrame:
    """kNN majority-vote label propagation + per-label agreement
    report — the weak-labeling / label-noise-audit operator: predict
    every vector's label from its up-to-k approximate neighbors and
    count how often the prediction agrees with the stored label (low
    agreement for a label ⇒ noisy or non-clusterable class).

    Labels join onto the kNN edge list BY ID (the edge list never
    carries vectors), majority vote is a count + ranking window with
    deterministic tie-breaks (count DESC, label ASC). Returns
    (label, n_total, n_predicted, n_correct, agreement): ``n_total``
    counts EVERY stored vector of the label while ``n_predicted``
    counts those with at least one same-bucket neighbor — reporting
    both makes coverage collapse visible (with sparse buckets a label
    could otherwise "look clean" because only 5 of its 100 vectors
    received a prediction). ``agreement`` = n_correct/n_predicted,
    sentinel -1.0 when a label has zero predicted vectors (a nullable
    double would poison the cross-engine value hash).

    With ``total_coverage=True`` the leftovers brute-force pass in
    :func:`lsh_knn_join` guarantees ``n_predicted == n_total`` for
    every label (pinned by test and by the
    ``embedding_knn_classify_total`` catalog oracle).
    """
    knn = lsh_knn_join(
        emb, k=k, n_planes=n_planes, seed=seed, id_col=id_col,
        vec_col=vec_col, dim=dim, total_coverage=total_coverage,
        fallback_candidates=fallback_candidates,
    )
    labels = emb.select(F.col(id_col), F.col(label_col))
    votes = (
        knn.join(
            labels.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("_nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy(id_col, "_nlabel")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("_c"), F.asc("_nlabel"))
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("_nlabel").alias("_pred"))
    )
    return (
        labels.join(pred, id_col, "left")
        .groupBy(F.col(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count("_pred").alias("n_predicted"),
            F.sum(
                F.when(F.col("_pred") == F.col(label_col), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            label_col,
            "n_total",
            "n_predicted",
            "n_correct",
            F.when(F.col("n_predicted") == 0, F.lit(-1.0))
            .otherwise(
                # raw CR division of two exact integers — bit-identical
                # cross-engine, so no rounding (rounding only ADDS a
                # boundary to flip on)
                F.col("n_correct").cast("double")
                / F.col("n_predicted").cast("double")
            )
            .alias("agreement"),
        )
    )


_KNN_PLANES, _KNN_K = 4, 5


def _knn_classify_oracle_sql() -> str:
    # Mirror of the exact quantized path in lsh_knn_join: vectors and
    # hyperplanes floored to integer-valued doubles, every dot exact
    # (integer intermediates < 2⁵³, any summation order), ranking key
    # num/sqrt(den_a·den_b) a fixed correctly-rounded IEEE sequence —
    # bit-identical to the Spark pandas-UDF output. No ROUND anywhere.
    bucket = _sql_bucket(
        np.floor(hyperplanes(_LSH_DIM, _KNN_PLANES, 42) * 1e6), "q"
    )
    return f"""
    WITH raw AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000000.0)) AS q
      FROM embeddings
    ), b AS (
      SELECT vec_id, label, q, {bucket} AS bucket,
             list_dot_product(q, q) AS den
      FROM raw
    ), knn AS (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             CASE WHEN a.den * c.den = 0 THEN -2.0
                  ELSE list_dot_product(a.q, c.q) / SQRT(a.den * c.den)
             END AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                 ORDER BY cos DESC, c.vec_id ASC) <= {_KNN_K}
    ), votes AS (
      SELECT k.qid, nb.label AS nlabel, COUNT(*) AS c
      FROM knn k JOIN b nb ON nb.vec_id = k.nid
      GROUP BY k.qid, nb.label
    ), pred AS (
      SELECT qid, nlabel AS pred FROM votes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY c DESC, nlabel ASC) = 1
    )
    SELECT q.label AS label,
           COUNT(*) AS n_total,
           COUNT(p.pred) AS n_predicted,
           CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CASE WHEN COUNT(p.pred) = 0 THEN -1.0
                ELSE CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(p.pred) AS DOUBLE)
           END AS agreement
    FROM b q LEFT JOIN pred p ON q.vec_id = p.qid
    GROUP BY q.label
    """


def _knn_classify_sized_oracle_sql() -> str:
    """SIZED variant of :func:`_knn_classify_oracle_sql`: the same
    exact quantized-integer discipline, with all ``_SIZED_PMAX``
    floored plane literals baked and bits gated on the params-CTE
    plane count (target occupancy ``_KNN_TARGET`` = 32 — a kNN
    bucket must hold comfortably more than k candidates, unlike the
    tight near-dup pairs buckets)."""
    planes = np.floor(hyperplanes(_LSH_DIM, _SIZED_PMAX, 42) * 1e6)
    bucket = _sql_bucket_masked(planes, "q", "params.p")
    return f"""
    WITH params AS (
      SELECT {_sql_sized_p(_KNN_TARGET)} AS p FROM embeddings
    ), raw AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000000.0)) AS q
      FROM embeddings
    ), b AS (
      SELECT vec_id, label, q, {bucket} AS bucket,
             list_dot_product(q, q) AS den
      FROM raw CROSS JOIN params
    ), knn AS (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             CASE WHEN a.den * c.den = 0 THEN -2.0
                  ELSE list_dot_product(a.q, c.q) / SQRT(a.den * c.den)
             END AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                 ORDER BY cos DESC, c.vec_id ASC) <= {_KNN_K}
    ), votes AS (
      SELECT k.qid, nb.label AS nlabel, COUNT(*) AS c
      FROM knn k JOIN b nb ON nb.vec_id = k.nid
      GROUP BY k.qid, nb.label
    ), pred AS (
      SELECT qid, nlabel AS pred FROM votes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY c DESC, nlabel ASC) = 1
    )
    SELECT q.label AS label,
           COUNT(*) AS n_total,
           COUNT(p.pred) AS n_predicted,
           CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CASE WHEN COUNT(p.pred) = 0 THEN -1.0
                ELSE CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(p.pred) AS DOUBLE)
           END AS agreement
    FROM b q LEFT JOIN pred p ON q.vec_id = p.qid
    GROUP BY q.label
    """


@query(
    "embedding_knn_classify",
    _knn_classify_sized_oracle_sql(),
    doc="LSH-bucketed kNN join (the set-returning top-k-per-row join "
    "Spark lacks natively) feeding majority-vote label propagation — "
    "the weak-labeling / label-noise audit. SIZED: plane count = "
    "bit_length(ceil(N/32)) (500 vectors → the previously-fixed 4 "
    "planes, identical output; 20k → 10, keeping ~32 candidates per "
    "bucket instead of densifying ×47 per 10×). Candidate space is "
    "bucket-bounded, labels join by id onto the vectorless edge "
    "list, ties break deterministically. Oracle-backed end-to-end "
    "via the masked hyperplane literals.",
)
def q_embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    p = min(_SIZED_PMAX, sized_planes(emb.count(), _KNN_TARGET))
    return knn_label_classify(emb, k=_KNN_K, n_planes=p, dim=_LSH_DIM)


@query(
    "embedding_knn_classify_fixed4",
    _knn_classify_oracle_sql(),
    doc="FIXED-configuration curve of embedding_knn_classify (4 "
    "planes at every scale; sf1 ×47.3 per 10×) — the honest "
    "fixed-config scaling reference, not the production path.",
)
def q_embedding_knn_classify_fixed4(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_classify(
        emb, k=_KNN_K, n_planes=_KNN_PLANES, dim=_LSH_DIM
    )


# Total-coverage variant: buckets are kept deliberately SPARSE
# (target occupancy 2 — 500 vectors → 8 planes, the previously-fixed
# config; 20k → 14) so many vectors are alone in their bucket and
# the brute-force leftovers pass genuinely executes at EVERY scale
# (n_predicted == n_total by construction). Sizing here protects the
# design point itself: a fixed bit-width densifies buckets with
# volume until the leftovers pass never fires and candidate work
# grows quadratically (the same ×47-per-10× curve the plain kNN
# query had; see _KNN_TARGET).
_KNN_T_PLANES, _KNN_FB = 8, 64
_KNN_T_TARGET = 2


def _knn_classify_total_oracle_sql(sized: bool = True) -> str:
    # Same exact quantized-integer discipline as
    # _knn_classify_oracle_sql (see its comment), plus the
    # total-coverage brute-force leftovers pass. sized=True gates
    # the masked 16-plane literals on the target-2 params count
    # (the registered default); sized=False is the fixed-8 curve.
    if sized:
        bucket = _sql_bucket_masked(
            np.floor(hyperplanes(_LSH_DIM, _SIZED_PMAX, 42) * 1e6),
            "q",
            "params.p",
        )
        params = (
            f"params AS (\n      SELECT {_sql_sized_p(_KNN_T_TARGET)} AS p"
            " FROM embeddings\n    ), "
        )
        b_from = "FROM raw CROSS JOIN params"
    else:
        bucket = _sql_bucket(
            np.floor(hyperplanes(_LSH_DIM, _KNN_T_PLANES, 42) * 1e6), "q"
        )
        params = ""
        b_from = "FROM raw"
    return f"""
    WITH {params}raw AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000000.0)) AS q
      FROM embeddings
    ), b AS (
      SELECT vec_id, label, q, {bucket} AS bucket,
             list_dot_product(q, q) AS den
      {b_from}
    ), knn AS (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             CASE WHEN a.den * c.den = 0 THEN -2.0
                  ELSE list_dot_product(a.q, c.q) / SQRT(a.den * c.den)
             END AS cos
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                 ORDER BY cos DESC, c.vec_id ASC) <= {_KNN_K}
    ), cand AS (
      SELECT vec_id, q, den FROM b
      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC LIMIT {_KNN_FB}
    ), fb AS (
      SELECT l.vec_id AS qid, c.vec_id AS nid,
             CASE WHEN l.den * c.den = 0 THEN -2.0
                  ELSE list_dot_product(l.q, c.q) / SQRT(l.den * c.den)
             END AS cos
      FROM b l JOIN cand c ON l.vec_id <> c.vec_id
      WHERE l.vec_id NOT IN (SELECT qid FROM knn)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY l.vec_id
                                 ORDER BY cos DESC, c.vec_id ASC) <= {_KNN_K}
    ), edges AS (
      SELECT qid, nid FROM knn UNION ALL SELECT qid, nid FROM fb
    ), votes AS (
      SELECT e.qid, nb.label AS nlabel, COUNT(*) AS c
      FROM edges e JOIN b nb ON nb.vec_id = e.nid
      GROUP BY e.qid, nb.label
    ), pred AS (
      SELECT qid, nlabel AS pred FROM votes
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY c DESC, nlabel ASC) = 1
    )
    SELECT q.label AS label,
           COUNT(*) AS n_total,
           COUNT(p.pred) AS n_predicted,
           CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CASE WHEN COUNT(p.pred) = 0 THEN -1.0
                ELSE CAST(SUM(CASE WHEN p.pred = q.label THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(p.pred) AS DOUBLE)
           END AS agreement
    FROM b q LEFT JOIN pred p ON q.vec_id = p.qid
    GROUP BY q.label
    """


@query(
    "embedding_knn_classify_total",
    _knn_classify_total_oracle_sql(sized=True),
    doc="Total-coverage kNN label propagation, SIZED: plane count = "
    "bit_length(ceil(N/2)) keeps buckets deliberately SPARSE at "
    "every scale (500 vectors → the previously-fixed 8 planes, "
    "identical output; 20k → 14), so many vectors stay neighborless "
    "and the brute-force leftovers pass (anti-join survivors scored "
    "exactly against a broadcast md5-sampled candidate set) must "
    "fire for n_predicted to reach n_total — the coverage contract "
    "the plain LSH variant cannot make, preserved at any N instead "
    "of silently densifying away. Oracle-backed end-to-end via the "
    "masked hyperplane literals.",
)
def q_embedding_knn_classify_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    p = min(_SIZED_PMAX, sized_planes(emb.count(), _KNN_T_TARGET))
    return knn_label_classify(
        emb,
        k=_KNN_K,
        n_planes=p,
        dim=_LSH_DIM,
        total_coverage=True,
        fallback_candidates=_KNN_FB,
    )


@query(
    "embedding_knn_classify_total_fixed8",
    _knn_classify_total_oracle_sql(sized=False),
    doc="FIXED-configuration curve of embedding_knn_classify_total "
    "(8 planes at every scale; densifying buckets eventually starve "
    "the leftovers pass and grow candidate work quadratically) — "
    "the honest fixed-config scaling reference, not the production "
    "path.",
)
def q_embedding_knn_classify_total_fixed8(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_label_classify(
        emb,
        k=_KNN_K,
        n_planes=_KNN_T_PLANES,
        dim=_LSH_DIM,
        total_coverage=True,
        fallback_candidates=_KNN_FB,
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: lexical + dense lists fused by reciprocal rank
# ---------------------------------------------------------------------------


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "r",
    k_const: int = 60,
    top_n: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, public) of two
    ranked candidate lists: score = Σ 1/(k + rank), absent-from-one-
    list contributes 0. Pure arithmetic over two ALREADY-BOUNDED
    lists (each top-R), so the fuse itself is a toy-sized full outer
    join + TakeOrdered regardless of corpus size — the corpus-scale
    work lives in producing the lists."""
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("_ra"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("_rb"))
    return (
        a.join(b, id_col, "full_outer")
        .select(
            id_col,
            F.round(
                F.coalesce(1.0 / (k_const + F.col("_ra")), F.lit(0.0))
                + F.coalesce(1.0 / (k_const + F.col("_rb")), F.lit(0.0))
                + 1e-9,
                6,
            ).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(top_n)
    )


@query(
    "doc_hybrid_rrf",
    r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(trim(text), '\s+')))
               AS token
      FROM documents
    ), q AS (
      SELECT token FROM tok WHERE doc_id = 0
    ), lex AS (
      SELECT t.doc_id, COUNT(*) AS overlap
      FROM tok t JOIN q USING (token)
      WHERE t.doc_id <> 0
      GROUP BY t.doc_id
      ORDER BY overlap DESC, doc_id ASC LIMIT 50
    ), lexr AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY overlap DESC, doc_id ASC) AS r
      FROM lex
    ), vq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000000.0)) AS qz
      FROM embeddings
    ), vqd AS (
      SELECT vec_id, qz, list_dot_product(qz, qz) AS dn FROM vq
    ), den AS (
      SELECT e.vec_id AS doc_id,
             CASE WHEN (e.dn * qv.dn) > 0
                  THEN list_dot_product(e.qz, qv.qz) / SQRT(e.dn * qv.dn)
                  ELSE -2.0 END AS cos
      FROM vqd e,
           (SELECT qz, dn FROM vqd WHERE vec_id = 0) qv
      WHERE e.vec_id <> 0
      ORDER BY cos DESC, doc_id ASC LIMIT 50
    ), denr AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS r
      FROM den
    )
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / (60 + l.r), 0)
                 + COALESCE(1.0 / (60 + d.r), 0) + 1e-9, 6) AS rrf
    FROM lexr l FULL JOIN denr d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id ASC LIMIT 10
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion: a lexical "
    "top-50 (distinct-token overlap with the query document — the "
    "sparse/BM25-ish channel) and a dense top-50 (exact cosine over "
    "the embeddings table) fused by Σ 1/(60+rank). Both channels end "
    "in TakeOrdered, so the fuse joins two 50-row lists no matter "
    "the corpus size; doc_id = vec_id is the cross-table contract.",
)
def q_doc_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("token"),
    )
    qtok = tok.filter(F.col("doc_id") == 0).select("token")
    lex = (
        tok.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qtok), "token")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
        .orderBy(F.desc("overlap"), F.asc("doc_id"))
        .limit(50)
    )
    lexr = lex.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy().orderBy(F.desc("overlap"), F.asc("doc_id"))
        ),
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    den = brute_force_topk(emb, qvec, k=50, exclude_ids=(0,)).withColumnRenamed(
        "vec_id", "doc_id"
    )
    denr = den.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy().orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
        ),
    )
    return rrf_fuse(lexr, denr)


# ---------------------------------------------------------------------------
# PCA projection (sample-fit, baked-basis — the IVF/PQ fit pattern)
# ---------------------------------------------------------------------------


def _pca_fit_from_sample(x: np.ndarray, n_components: int):
    """Deterministic PCA fit on the shared quantizer sample: mean,
    top components (eigh of the sample covariance, descending
    eigenvalue), explained-variance ratios. Eigenvector sign is
    pinned (largest-|coordinate| entry positive) so the basis is
    reproducible; both the engine plan and the oracle SQL bake the
    SAME driver-side arrays, so there is no cross-engine fit to
    desync."""
    mu = x.mean(axis=0)
    xc = x - mu
    cov = (xc.T @ xc) / max(len(x) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)
    idx = np.argsort(evals)[::-1][:n_components]
    comps = evecs[:, idx].T.copy()
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(evals.sum()) or 1.0
    evr = [float(evals[k]) / total for k in idx]
    return mu, comps, evr


def pca_project(
    emb: DataFrame,
    n_components: int = 2,
    fit_sample: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto sample-fitted principal axes — the
    dimensionality-reduction preprocessing step (visualization,
    whitening, cheap pre-filter before exact cosine).

    Scale shape (the IVF/PQ discipline): the covariance fit runs on
    the bounded deterministic md5 sample driver-side; the projection
    itself is ``pc_i = v·e_i − μ·e_i`` with the basis baked as plan
    literals — a Catalyst fold per component, zero Python per row,
    one scan, no shuffle. At 100 TB an exact covariance is one
    map-side Gramian aggregate if the sample fit ever biases; the
    projection pass is unchanged either way.

    Returns (id_col, pc1..pcC).

    DETERMINISM BY CONSTRUCTION (round-7 audit): vector components
    AND basis/mean literals are quantized to floor(x·10⁶) integers,
    so each projection dot has integer intermediates < 2⁵³ — exact
    in any accumulation order, in Catalyst folds and in whatever
    loop a DuckDB build uses. The emitted pc value is the exact
    integer divided by 10¹² in one CR division, bit-identical
    cross-engine; the quantization shifts each pc by O(10⁻⁶), the
    price of projections that cannot drift under a different build.
    """
    x = _fit_sample(emb, id_col, vec_col, fit_sample)
    mu, comps, _ = _pca_fit_from_sample(x, n_components)
    qcols = _pca_quantized_cols(vec_col, mu, comps)
    cols = [
        (q.cast("double") / F.lit(1e12)).alias(f"pc{i + 1}")
        for i, q in enumerate(qcols)
    ]
    return emb.select(F.col(id_col), *cols)


def _pca_quantize(mu: np.ndarray, comps: np.ndarray):
    """Integer-quantized PCA literals: per-component basis ints
    floor(e·10⁶) and the pre-subtracted exact integer μ·e dot."""
    qe = [[int(np.floor(c_j * 1e6)) for c_j in c] for c in comps]
    qmu = [int(np.floor(m_j * 1e6)) for m_j in mu]
    c_int = [sum(a * b for a, b in zip(qmu, e)) for e in qe]
    return qe, c_int


def _pca_quantized_cols(vec_col: str, mu: np.ndarray, comps: np.ndarray):
    """One exact-integer projection Column per component:
    Σ floor(v_j·10⁶)·qe_j − Σ qμ_j·qe_j (all int64, every partial
    sum < 2⁵³)."""
    qe, c_int = _pca_quantize(mu, comps)
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda xx: F.floor(xx * F.lit(1e6)),
    )
    out = []
    for e, c0 in zip(qe, c_int):
        e_lit = F.array(*[F.lit(int(b)) for b in e])
        dot = F.aggregate(
            F.zip_with(qv, e_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        out.append(dot - F.lit(c0))
    return out


_PCA_COMPONENTS, _PCA_FIT_SAMPLE = 2, 4096


def _pca_label_stats_oracle_sql() -> str | None:
    # Mirror of the exact quantized projection (see pca_project):
    # integer-valued DOUBLE lists keep list_dot_product exact (every
    # intermediate an integer < 2⁵³), per-label moments accumulate in
    # HUGEINT, and the mean/variance are CR casts + one CR division
    # each — bit-identical to the Spark plan, no AVG/VAR_SAMP float
    # accumulation, no ROUND.
    try:
        _, _, x = _replica_sample(ORACLE_SF_DIR, _PCA_FIT_SAMPLE)
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    mu, comps, _ = _pca_fit_from_sample(x, _PCA_COMPONENTS)
    qe, c_int = _pca_quantize(mu, comps)
    pcs = [
        f"(list_dot_product(qv, {_sql_vec(e)}) - {c0})"
        for e, c0 in zip(qe, c_int)
    ]
    stat_cols = []
    for i in (1, 2):
        stat_cols.append(
            f"CAST(SUM(CAST(q{i} AS HUGEINT)) AS DOUBLE)"
            f" / (CAST(COUNT(*) AS DOUBLE) * 1e12) AS mean_pc{i}"
        )
        stat_cols.append(
            f"CAST(COUNT(*) * SUM(CAST(q{i} AS HUGEINT) * CAST(q{i} AS HUGEINT))"
            f" - SUM(CAST(q{i} AS HUGEINT)) * SUM(CAST(q{i} AS HUGEINT))"
            f" AS DOUBLE)"
            f" / (CAST(COUNT(*) * (COUNT(*) - 1) AS DOUBLE) * 1e24)"
            f" AS var_pc{i}"
        )
    return f"""
    WITH p AS (
      SELECT label, {pcs[0]} AS q1, {pcs[1]} AS q2
      FROM (SELECT label,
                   list_transform(CAST(embedding AS DOUBLE[]),
                                  x -> FLOOR(x * 1000000.0)) AS qv
            FROM embeddings)
    )
    SELECT label, COUNT(*) AS n,
           {", ".join(stat_cols)}
    FROM p GROUP BY label
    """


@query(
    "embedding_pca_label_stats",
    _pca_label_stats_oracle_sql(),
    doc="PCA as a first-class projection operator: fit the top-2 "
    "principal axes on the bounded deterministic quantizer sample "
    "(the IVF/PQ fit pattern), bake the basis as plan literals, and "
    "project every embedding as two Catalyst dot-product folds — one "
    "scan, zero Python per row, no shuffle before the per-label "
    "moment report. The report (count, mean, variance per component "
    "per label) verifies the projection over EVERY row while keeping "
    "driver output label-cardinality-bounded.",
)
def q_embedding_pca_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = _fit_sample(emb, "vec_id", "embedding", _PCA_FIT_SAMPLE)
    mu, comps, _ = _pca_fit_from_sample(x, _PCA_COMPONENTS)
    q1, q2 = _pca_quantized_cols("embedding", mu, comps)
    p = emb.select(F.col("label"), q1.alias("q1"), q2.alias("q2"))
    d38 = "decimal(38,0)"
    n = F.count(F.lit(1))
    aggs = [n.alias("n")]
    for i in (1, 2):
        q = F.col(f"q{i}")
        sq = F.sum(q.cast(d38))
        sqq = F.sum(q.cast(d38) * q.cast(d38))
        aggs.append(
            (sq.cast("double") / (n.cast("double") * F.lit(1e12))).alias(
                f"mean_pc{i}"
            )
        )
        aggs.append(
            (
                (n.cast(d38) * sqq - sq * sq).cast("double")
                / ((n * (n - 1)).cast("double") * F.lit(1e24))
            ).alias(f"var_pc{i}")
        )
    return p.groupBy("label").agg(*aggs)


# --- greedy k-center coreset (farthest-point diversity selection) ----------
#
# Training-data curation's diversity primitive: pick k points such
# that every point is close to some pick — the greedy farthest-point
# traversal (Gonzalez, TCS'85 "Clustering to minimize the maximum
# intercluster distance"), a 2-approximation to optimal k-center and
# the standard seed for coreset selection / diverse sampling over
# embedding corpora.
#
# Scale (100 TB): inherently k SEQUENTIAL passes, but each pass is
# embarrassingly parallel — broadcast the ONE newly-selected center,
# map every row's running min-distance down with `least`, and argmax
# via a sort-limit(1) aggregate. State between passes is one
# (vec_id, q, den, mind) frame, localCheckpoint-materialized (the
# k-core/PageRank superstep lesson) so round r never re-derives
# rounds 1..r-1. k stays small by design (diversity seeds, not
# clustering); for k in the thousands switch to k-center with
# pivot BATCHES (pick the top-B farthest per pass).
#
# Determinism: quantized-exact squared Euclidean — d² = den_a +
# den_b − 2·dot(q_a, q_b) over floor(x·10⁶) integer-valued doubles;
# dim 64 · (2·5.3e5)² keeps every partial sum < 2⁵³, so Spark's
# fold order and DuckDB's list_dot_product order are unobservable.
# Ties on distance break on vec_id; the seed is MIN(vec_id).

_KCENTER_K = 8


def _kcenter_oracle(k: int) -> str:
    d2 = (
        "m{p}.den + (SELECT den FROM c{p}) "
        "- 2 * list_dot_product(m{p}.q, (SELECT q FROM c{p}))"
    )
    # Every CTE is MATERIALIZED: the rounds chain m{r} -> c{r-1} ->
    # m{r-1} -> ... with 3 references each, and DuckDB's default CTE
    # INLINING would expand that into 3^k parquet scans (observed as
    # "Too many open files" at k=8).
    parts = [
        f"""cand AS MATERIALIZED (
      SELECT vec_id, {_sql_qvec('embedding')} AS q FROM embeddings
    ),
    m0 AS MATERIALIZED (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM cand
    ),
    c0 AS MATERIALIZED (
      SELECT vec_id, q, den, CAST(0 AS DOUBLE) AS mind
      FROM m0 ORDER BY vec_id LIMIT 1
    )"""
    ]
    for r in range(1, k):
        p = r - 1
        prev_d2 = d2.format(p=p)
        mind = (
            f"LEAST(m{p}.mind, {prev_d2})" if p > 0 else prev_d2
        )
        parts.append(
            f"""m{r} AS MATERIALIZED (
      SELECT m{p}.vec_id, m{p}.q, m{p}.den, {mind} AS mind
      FROM m{p} WHERE m{p}.vec_id != (SELECT vec_id FROM c{p})
    ),
    c{r} AS MATERIALIZED (
      SELECT vec_id, q, den, mind FROM m{r}
      ORDER BY mind DESC, vec_id ASC LIMIT 1
    )"""
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT {r} AS sel_round, vec_id, CAST(mind AS BIGINT) AS dist_sq "
        f"FROM c{r}"
        for r in range(k)
    )
    joined = ",\n    ".join(parts)
    return f"""
    WITH {joined}
    SELECT CAST(sel_round AS BIGINT) AS sel_round, vec_id, dist_sq
    FROM ({selects})
    ORDER BY sel_round
    """


@query(
    "embedding_kcenter_coreset",
    _kcenter_oracle(_KCENTER_K),
    doc="Greedy k-center coreset (Gonzalez'85 farthest-point, "
    "2-approx): 8 diversity seeds over the embedding corpus, each "
    "pass = broadcast one new center + `least` min-distance fold + "
    "argmax. dist_sq is the selection radius (how far the NEXT pick "
    "was from everything already kept — the coverage guarantee "
    "curve). Quantized-exact integer squared distances; "
    "cross-engine identical by construction.",
)
def q_embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, k=_KCENTER_K)


def kcenter_coreset(
    emb: DataFrame,
    k: int = _KCENTER_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(sel_round, vec_id, dist_sq): the k greedy farthest-point picks
    in selection order; dist_sq = squared quantized distance to the
    previously-selected set at pick time (0 for the seed)."""
    q = quantized_vec_col(F.col(vec_col))
    cand = emb.select(
        F.col(id_col).alias("vec_id"), q.alias("q")
    ).select("vec_id", "q", quantized_den_col(F.col("q")).alias("den"))
    state = cand.localCheckpoint(eager=True)
    center = (
        state.orderBy("vec_id")
        .limit(1)
        .select(
            "vec_id",
            "q",
            "den",
            F.lit(0.0).alias("mind"),
        )
    )
    picks = [center.select("vec_id", F.lit(0).cast("long").alias("rnd"), "mind")]
    m = state
    have_mind = False
    for _ in range(1, k):
        c = center.select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cq"),
            F.col("den").alias("cden"),
        )
        d2 = F.col("den") + F.col("cden") - 2.0 * _dot(F.col("q"), F.col("cq"))
        mind = F.least(F.col("mind"), d2) if have_mind else d2
        m = (
            m.crossJoin(F.broadcast(c))
            .filter(F.col("vec_id") != F.col("cid"))
            .select("vec_id", "q", "den", mind.alias("mind"))
            .localCheckpoint(eager=True)
        )
        have_mind = True
        center = m.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1)
        picks.append(
            center.select(
                "vec_id",
                F.lit(len(picks)).cast("long").alias("rnd"),
                "mind",
            )
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        F.col("rnd").alias("sel_round"),
        "vec_id",
        F.col("mind").cast("long").alias("dist_sq"),
    ).orderBy("sel_round")


# --- representation drift: per-label centroid shift between splits ----------
#
# The third drift screen (with totalprice_psi_drift = feature drift
# and split_token_jsd = vocabulary drift): has the EMBEDDING
# distribution moved between the train and test hash-splits? Per
# label, the Euclidean distance between the two split centroids —
# near 0 when the splits sample one population, large when a label's
# representation differs across the boundary (skewed sharding,
# embedding-model version mixing, leakage of a re-embedded slice).
#
# Exactness: quantized integer components; the centroid difference
# is cleared of denominators — ||μ_t − μ_s||² · (n_t·n_s)² =
# Σ_d (S_t[d]·n_s − S_s[d]·n_t)², every factor an exact integer
# (per-dim sums < 2⁵³ as integer-valued doubles, the clearing done
# in INT64 arithmetic — sums cast to int64 BEFORE the multiply, so
# the product is not squeezed through double's 2⁵³ mantissa — and
# the square accumulated in DECIMAL(38,0)) — so both engines hash
# the identical double after ONE sqrt + divide.
# Int64 bound on the cleared diff: n_t·n_s·q_max < 2⁶³ ⇒ about
# 1.3e6 vectors per (label, split) at q_max ≈ 5.3e5; past that,
# swap the clearing for the float-centroid fold + margin audit.
#
# Scale: one dims explode (64 rows per vector) into a
# map-side-combined (label, dim) aggregate — shuffle is
# |labels|·dims rows, not data; the count frame broadcasts.

_CDRIFT_SCALE = 10**6


@query(
    "embedding_centroid_drift",
    f"""
    WITH qv AS (
      SELECT label,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1000000 < 800000 THEN 'train'
                  WHEN CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 1000000 >= 900000 THEN 'test' END AS split,
             {_sql_qvec('embedding')} AS q
      FROM embeddings
    ),
    f AS (SELECT * FROM qv WHERE split IS NOT NULL),
    cnt AS (
      SELECT label,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_t,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_s
      FROM f GROUP BY label
    ),
    dims AS (
      SELECT label, u.dim AS dim,
             SUM(CASE WHEN split = 'train' THEN u.val ELSE 0 END) AS st,
             SUM(CASE WHEN split = 'test' THEN u.val ELSE 0 END) AS ss
      FROM f, UNNEST(list_transform(generate_series(1, len(q)),
                                    i -> {{'dim': i, 'val': q[i]}})) AS x(u)
      GROUP BY label, u.dim
    ),
    num AS (
      SELECT d.label,
             SUM(CAST(CAST(CAST(d.st AS BIGINT) * c.n_s
                           - CAST(d.ss AS BIGINT) * c.n_t AS BIGINT)
                      AS DECIMAL(38,0))
                 * CAST(CAST(d.st AS BIGINT) * c.n_s
                        - CAST(d.ss AS BIGINT) * c.n_t AS BIGINT)) AS sq
      FROM dims d JOIN cnt c USING (label)
      GROUP BY d.label
    )
    SELECT c.label,
           CAST(c.n_t AS BIGINT) AS n_train,
           CAST(c.n_s AS BIGINT) AS n_test,
           ROUND(SQRT(CAST(n.sq AS DOUBLE))
                 / (CAST(c.n_t AS DOUBLE) * c.n_s * {_CDRIFT_SCALE}.0)
                 + 1e-9, 6) AS centroid_dist
    FROM cnt c JOIN num n USING (label)
    WHERE c.n_t > 0 AND c.n_s > 0
    ORDER BY c.label
    """,
    doc="Representation-drift screen: per label, the Euclidean "
    "distance between the train-split and test-split embedding "
    "centroids (the companion to the PSI feature-drift and JSD "
    "vocabulary-drift screens). Denominator-cleared exact integer "
    "arithmetic — Σ(S_t·n_s − S_s·n_t)² in DECIMAL(38,0) — so the "
    "hashed double comes from one sqrt + one divide on both "
    "engines. One 64-rows-per-vector explode into a (label, dim) "
    "map-side-combined aggregate: shuffle is labels×dims, not data.",
)
def q_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    b = hash_bucket("vec_id")
    f = emb.select(
        "label",
        F.when(b < 800000, F.lit("train"))
        .when(b >= 900000, F.lit("test"))
        .alias("split"),
        quantized_vec_col(F.col("embedding")).alias("q"),
    ).filter(F.col("split").isNotNull())
    cnt = f.groupBy("label").agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_t"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_s"),
    )
    dims = (
        f.select(
            "label", "split", F.posexplode_outer("q").alias("dim0", "val")
        )
        .filter(F.col("val").isNotNull())
        .select("label", "split", (F.col("dim0") + 1).alias("dim"), "val")
        .groupBy("label", "dim")
        .agg(
            F.sum(
                F.when(F.col("split") == "train", F.col("val")).otherwise(
                    0.0
                )
            ).alias("st"),
            F.sum(
                F.when(F.col("split") == "test", F.col("val")).otherwise(0.0)
            ).alias("ss"),
        )
    )
    # The cleared diff is computed in INTEGER arithmetic (st/ss are
    # integer-valued double sums, exact < 2^53 per dim; cast to long
    # BEFORE the multiply), not double-then-cast: a double product
    # is exact only to 2^53, which would cap the documented
    # n_t*n_s*q_max < 2^63 capacity ~1000x below its claim. The
    # oracle clears in BIGINT identically.
    diff = (
        F.col("st").cast("long") * F.col("n_s")
        - F.col("ss").cast("long") * F.col("n_t")
    )
    num = (
        dims.join(F.broadcast(cnt), "label")
        .select("label", diff.alias("diff"))
        .groupBy("label")
        .agg(
            F.sum(
                F.col("diff").cast("decimal(38,0)") * F.col("diff")
            ).alias("sq")
        )
    )
    return (
        cnt.join(num, "label")
        .filter((F.col("n_t") > 0) & (F.col("n_s") > 0))
        .select(
            "label",
            F.col("n_t").cast("long").alias("n_train"),
            F.col("n_s").cast("long").alias("n_test"),
            F.round(
                F.sqrt(F.col("sq").cast("double"))
                / (
                    F.col("n_t").cast("double")
                    * F.col("n_s")
                    * float(_CDRIFT_SCALE)
                )
                + F.lit(1e-9),
                6,
            ).alias("centroid_dist"),
        )
        .orderBy("label")
    )


# --- Matryoshka truncation-recall evaluation ---------------------------------

_MRL_DIMS = (8, 16, 32)
_MRL_K = 10
_MRL_NQ = 5


def _mrl_topk_sql(d: int | None, label: str) -> str:
    """One batch-top-k CTE pair at truncation ``d`` (None = full
    dim), mirroring the embedding_batch_topk oracle on sliced
    vectors."""
    sliced = "embedding" if d is None else f"embedding[1:{d}]"
    return f"""
    base_{label} AS (
      SELECT vec_id, {_sql_qvec(sliced)} AS q FROM embeddings
    ), bb_{label} AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM base_{label}
    ), top_{label} AS (
      SELECT qq.vec_id AS query_id, e.vec_id
      FROM bb_{label} e JOIN bb_{label} qq
        ON qq.vec_id < {_MRL_NQ} AND e.vec_id <> qq.vec_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qq.vec_id
        ORDER BY {_sql_qkey("list_dot_product(e.q, qq.q)", "e.den", "qq.den")}
                   DESC, e.vec_id ASC) <= {_MRL_K}
    )"""


def _mrl_oracle_sql() -> str:
    ctes = [_mrl_topk_sql(None, "full")]
    unions = []
    for d in _MRL_DIMS:
        ctes.append(_mrl_topk_sql(d, f"d{d}"))
        unions.append(f"""
    SELECT {d} AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(f.vec_id) AS BIGINT) AS n_overlap,
           ROUND(CAST(COUNT(f.vec_id) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) + 1e-9, 6) AS recall_at_k
    FROM top_d{d} t LEFT JOIN top_full f
      ON t.query_id = f.query_id AND t.vec_id = f.vec_id""")
    u = "\n    UNION ALL\n".join(unions)
    return f"""
    WITH {",".join(ctes)}
    SELECT * FROM ({u}) ORDER BY dim
    """


@query(
    "embedding_matryoshka_recall",
    _mrl_oracle_sql(),
    doc="Matryoshka truncation-recall evaluation (Kusupati et al., "
    "NeurIPS'22): rank the exact cosine top-10 using only the FIRST "
    "8/16/32 of 64 embedding dimensions and measure per-truncation "
    "recall against the full-dimension ranking — the dimension-vs-"
    "quality curve that decides how many dims the 100 TB index "
    "actually stores (MRL serving truncates the stored vectors; "
    "recall@k at the truncation IS the product metric). One corpus "
    "scan per truncation over sliced vectors (scan bandwidth shrinks "
    "proportionally — the same I/O argument as SQ8), quantized-exact "
    "ranking keys, id tiebreaks, exact-integer overlap counts; the "
    "only float is the final CR recall division.",
)
def q_embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    def topk_at(d: int | None) -> DataFrame:
        vec = (
            F.col("embedding")
            if d is None
            else F.slice("embedding", 1, d)
        )
        sl = emb.select("vec_id", vec.alias("embedding"))
        qs = sl.filter(F.col("vec_id") < _MRL_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return batch_topk(sl, qs, k=_MRL_K).select("query_id", "vec_id")

    full = topk_at(None).localCheckpoint(eager=True)
    outs = []
    for d in _MRL_DIMS:
        t = topk_at(d)
        f2 = full.select(
            F.col("query_id").alias("fq"), F.col("vec_id").alias("fv")
        )
        outs.append(
            t.join(
                f2,
                (t["query_id"] == f2["fq"]) & (t["vec_id"] == f2["fv"]),
                "left",
            ).agg(
                F.lit(d).cast("int").alias("dim"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.count("fv").cast("long").alias("n_overlap"),
                F.round(
                    F.count("fv").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(1e-9),
                    6,
                ).alias("recall_at_k"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("dim")


# --- round-12: cosine RANGE search (threshold neighbors, Q ≪ N) --------------

_RANGE_ANCHOR_MOD = 97
# Anchor set is CONSTANT-SIZED: the first _RANGE_MAX_Q anchor slots
# (vec_id < MOD * MAX_Q). Without the cap Q = N/97 grows with the
# corpus and the broadcast scan is N²/97 — measured x46.7 per 10x at
# sf1 before the cap (the r12 scaling batch caught it); with it the
# scan is MAX_Q * N, work-linear, and the cap predicate pushes to the
# parquet reader.
_RANGE_MAX_Q = 16
_RANGE_TAU = 0.40


def _range_search_oracle_sql() -> str:
    key = _sql_qkey(
        "list_dot_product(a.qa, bb.q)", "a.da", "bb.den"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM b
    ), a AS (
      SELECT vec_id AS anchor_id, q AS qa, den AS da
      FROM bb WHERE vec_id % {_RANGE_ANCHOR_MOD} = 0
        AND vec_id < {_RANGE_ANCHOR_MOD * _RANGE_MAX_Q}
    )
    SELECT a.anchor_id, bb.vec_id AS vec_id,
           {key} AS cosine_sim
    FROM a, bb
    WHERE bb.vec_id <> a.anchor_id
      AND {key} >= {_RANGE_TAU}
    ORDER BY anchor_id, vec_id
    """


@query(
    "embedding_query_range_search",
    _range_search_oracle_sql(),
    doc="Cosine RANGE search: ALL corpus neighbors within a "
    "similarity threshold of each anchor (the radius-query "
    "complement of top-k retrieval — dedup candidate generation, "
    "recall-oriented RAG, near-duplicate audit all want 'everything "
    "above tau', not a fixed k). Anchors are the deterministic "
    "vec_id %% 97 slice CAPPED at the first 16 slots — a CONSTANT Q "
    "however large the corpus (an uncapped modulo slice is Q = N/97 "
    "and the broadcast scan degenerates to N²/97: measured x46.7 "
    "per 10x at sf1, caught and fixed in the r12 scaling batch): "
    "the anchor set broadcasts and the corpus is scanned ONCE, the "
    "embedding_batch_topk Q≪N regime — no corpus self-join; for "
    "anchor sets too large to broadcast, the scale swap is the "
    "sign-LSH bucketed candidate equi-join (lsh_bucketed_pairs) "
    "with this exact filter as the verify stage. The emitted/thresholded cosine is the "
    "quantized-exact key (floor(x*1e6) integer dots) — "
    "bit-identical cross-engine, so the tau comparison can never "
    "split between engines.",
)
def q_embedding_query_range_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qe = emb.select(
        "vec_id", quantized_vec_col(F.col("embedding")).alias("q")
    ).select("vec_id", "q", quantized_den_col(F.col("q")).alias("den"))
    a = qe.filter(
        (F.col("vec_id") % _RANGE_ANCHOR_MOD == 0)
        & (F.col("vec_id") < _RANGE_ANCHOR_MOD * _RANGE_MAX_Q)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("q").alias("qa"),
        F.col("den").alias("da"),
    )
    sim = quantized_key(
        _dot(F.col("qa"), F.col("q")), F.col("da") * F.col("den")
    )
    return (
        qe.join(F.broadcast(a), F.col("vec_id") != F.col("anchor_id"))
        .select("anchor_id", "vec_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(float(_RANGE_TAU)))
        .orderBy("anchor_id", "vec_id")
    )


# Range-search bucket tuning: recall at a RADIUS threshold needs more
# tables and wider buckets than the near-dup pair hunt (tau 0.40 →
# per-plane collision ~0.63; with target-64 occupancy (3 planes at
# the committed SFs) a table catches ~25% of true neighbors, and 8
# independent tables lift recall to ~1-(0.75)^8 ≈ 0.90). Candidate
# work per anchor stays CONSTANT (h tables × target rows/bucket).
_RANGE_LSH_TABLES = 8
_RANGE_LSH_TARGET = 64


def _range_search_bucketed_oracle_sql() -> str:
    """LSH-bucketed range-search oracle: SIZED masked buckets per
    table (params CTE), anchor slice joined on (tbl, bucket),
    DISTINCT candidates, exact quantized tau verify — mirrors the
    Spark posexplode/equi-join/dropDuplicates plan exactly."""
    branches = []
    for t in range(_RANGE_LSH_TABLES):
        planes = hyperplanes(_LSH_DIM, _SIZED_PMAX, 42 + 1000 * t)
        bucket = _sql_bucket_masked(planes, "v", "params.p")
        branches.append(
            f"SELECT vec_id, {t} AS tbl, {bucket} AS bucket"
            " FROM vecs CROSS JOIN params"
        )
    union = "\nUNION ALL\n".join(branches)
    key = _sql_qkey("list_dot_product(va.q, vb.q)", "va.den", "vb.den")
    return f"""
    WITH params AS (
      SELECT {_sql_sized_p(_RANGE_LSH_TARGET)} AS p FROM embeddings
    ), vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             {_sql_qvec("embedding")} AS q,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    b AS ({union}),
    a AS (
      SELECT vec_id AS anchor_id, tbl, bucket FROM b
      WHERE vec_id % {_RANGE_ANCHOR_MOD} = 0
        AND vec_id < {_RANGE_ANCHOR_MOD * _RANGE_MAX_Q}
    ),
    cand AS (
      SELECT DISTINCT a.anchor_id, c.vec_id
      FROM a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket
      WHERE c.vec_id <> a.anchor_id
    )
    SELECT cand.anchor_id, cand.vec_id, {key} AS cosine_sim
    FROM cand
    JOIN vecs va ON va.vec_id = cand.anchor_id
    JOIN vecs vb ON vb.vec_id = cand.vec_id
    WHERE {key} >= {_RANGE_TAU}
    ORDER BY cand.anchor_id, cand.vec_id
    """


@query(
    "embedding_query_range_search_bucketed",
    _range_search_bucketed_oracle_sql(),
    doc="LSH-BUCKETED cosine range search — the large-Q scale swap "
    "the broadcast default names in its docstring, now a registered, "
    "measured curve (the repo's _fixed/_uncapped twin convention): "
    "when the anchor set is too large to broadcast against a full "
    "corpus scan (Q·N work), candidates come from the sized "
    "multi-table sign-LSH bucket equi-join — anchors and corpus "
    "hash with the SAME sized planes (bit_length(ceil(N/64)) — "
    "RADIUS recall wants wider buckets + more tables than the "
    "near-dup pair hunt: 8 tables at ~64-row occupancy give "
    "~0.90 recall at tau 0.40; one matmul per Arrow batch covers "
    "all tables), join on (table, "
    "bucket), DISTINCT (anchor, vec), then the IDENTICAL "
    "quantized-exact tau filter as the exact twin's verify stage. "
    "Work is Σ_bucket |anchors∩bucket|·|bucket| — bucket occupancy "
    "is held ~constant by the sizing rule, so cost tracks Q at any "
    "corpus size. APPROXIMATE by contract (a neighbor missing from "
    "all h tables is not returned; recall = 1-(1-p)^h per the "
    "multiprobe analysis); the oracle replays the same buckets, so "
    "parity is exact. Anchors stay the constant 16-slot cap for the "
    "measured contrast with the broadcast twin.",
)
def q_embedding_query_range_search_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    p = min(_SIZED_PMAX, sized_planes(emb.count(), _RANGE_LSH_TARGET))
    planes_tables = np.stack(
        [
            hyperplanes(_LSH_DIM, p, 42 + 1000 * t)
            for t in range(_RANGE_LSH_TABLES)
        ]
    )
    hashed = (
        emb.select(
            "vec_id",
            quantized_vec_col(F.col("embedding")).alias("q"),
            F.posexplode(
                lsh_table_buckets_col(F.col("embedding"), planes_tables)
            ).alias("tbl", "bucket"),
        )
        .select(
            "vec_id", "q", "tbl", "bucket",
            quantized_den_col(F.col("q")).alias("den"),
        )
    )
    anchors = hashed.filter(
        (F.col("vec_id") % _RANGE_ANCHOR_MOD == 0)
        & (F.col("vec_id") < _RANGE_ANCHOR_MOD * _RANGE_MAX_Q)
    ).select(
        "tbl",
        "bucket",
        F.col("vec_id").alias("anchor_id"),
        F.col("q").alias("qa"),
        F.col("den").alias("da"),
    )
    cand = (
        hashed.join(F.broadcast(anchors), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("anchor_id"))
        # a pair colliding in several tables costs ONE exact dot
        .dropDuplicates(["anchor_id", "vec_id"])
    )
    sim = quantized_key(
        _dot(F.col("qa"), F.col("q")), F.col("da") * F.col("den")
    )
    return (
        cand.select("anchor_id", "vec_id", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(float(_RANGE_TAU)))
        .orderBy("anchor_id", "vec_id")
    )


# --- Johnson-Lindenstrauss random-projection recall --------------------------

_JL_DIMS = (8, 16, 32)
_JL_K = 10
_JL_NQ = 5
_JL_IN_DIM = 64


def _jl_signs(out_dim: int) -> list[list[float]]:
    """Deterministic ±1 projection rows: sign(i, j) from the parity
    of md5("jl:{i}:{j}")'s first hex digit — reproducible from the
    string constants alone on any engine/host (the sign literals are
    inlined into BOTH the Catalyst plan and the oracle SQL, so there
    is no RNG state to share)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0], 16)
            % 2
            == 0
            else -1.0
            for i in range(_JL_IN_DIM)
        ]
        for j in range(out_dim)
    ]


def _jl_oracle_sql() -> str:
    ctes = [_mrl_topk_sql(None, "full")]
    unions = []
    for d in _JL_DIMS:
        rows = _jl_signs(d)
        proj = ", ".join(
            "list_dot_product(q, ["
            + ", ".join(str(int(s)) + ".0" for s in row)
            + "])"
            for row in rows
        )
        key = _sql_qkey(
            "list_dot_product(e.p, qq.p)", "e.den", "qq.den"
        )
        ctes.append(f"""
    jb_{d} AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000.0)) AS q
      FROM embeddings
    ), jp_{d} AS (
      SELECT vec_id, [{proj}] AS p FROM jb_{d}
    ), jd_{d} AS (
      SELECT vec_id, p, list_dot_product(p, p) AS den FROM jp_{d}
    ), jtop_{d} AS (
      SELECT qq.vec_id AS query_id, e.vec_id
      FROM jd_{d} e JOIN jd_{d} qq
        ON qq.vec_id < {_JL_NQ} AND e.vec_id <> qq.vec_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qq.vec_id
        ORDER BY {key} DESC, e.vec_id ASC) <= {_JL_K}
    )""")
        unions.append(f"""
    SELECT {d} AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(f.vec_id) AS BIGINT) AS n_overlap,
           ROUND(CAST(COUNT(f.vec_id) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) + 1e-9, 6) AS recall_at_k
    FROM jtop_{d} t LEFT JOIN top_full f
      ON t.query_id = f.query_id AND t.vec_id = f.vec_id""")
    u = "\n    UNION ALL\n".join(unions)
    return f"""
    WITH {",".join(ctes)}
    SELECT * FROM ({u}) ORDER BY dim
    """


@query(
    "embedding_jl_recall",
    _jl_oracle_sql(),
    doc="Johnson-Lindenstrauss random-projection recall (Achlioptas "
    "2003 ±1 database-friendly projections): project the 64-dim "
    "embeddings to 8/16/32 dims through a DETERMINISTIC ±1 sign "
    "matrix (md5-derived literals, no RNG state) and measure cosine "
    "top-10 recall of the projected ranking against the "
    "full-dimension ranking — the random-rotation counterpart of "
    "embedding_matryoshka_recall's prefix truncation (the two curves "
    "together decide whether a 100 TB index can shrink its stored "
    "dims by projection when the encoder was NOT MRL-trained; JL "
    "mixes all input dims, so it dominates naive truncation on "
    "non-Matryoshka embeddings). The projection is vector-LOCAL "
    "whole-stage-codegen arithmetic (one zip_with fold per output "
    "dim, NO explode, no shuffle: at 100 TB the projection is a "
    "free map over the scan); inputs quantize at milli-grain so "
    "every projected component, dot and norm is an EXACT integer "
    "(<= ~2^45, far under the 2^53 double-exact bound even at the "
    "32-dim output), ranking keys are the shared CR quantized-key "
    "sequence with id tiebreaks, and the only float is the final "
    "recall division. Baseline ranking reuses the "
    "embedding_batch_topk machinery at full dimension.",
)
def q_embedding_jl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _JL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    full = (
        batch_topk(emb, queries, k=_JL_K)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    base = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(1e3)).cast("double"),
        ).alias("q"),
    )
    outs = []
    for d in _JL_DIMS:
        rows = _jl_signs(d)
        proj = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        F.col("q"),
                        F.array(*[F.lit(s) for s in row]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for row in rows
            ]
        )
        pd_ = base.select("vec_id", proj.alias("p")).select(
            "vec_id", "p", quantized_den_col(F.col("p")).alias("den")
        )
        qs = pd_.filter(F.col("vec_id") < _JL_NQ).select(
            F.col("vec_id").alias("_qid"),
            F.col("p").alias("_qp"),
            F.col("den").alias("_qden"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("sim"), F.asc("vec_id")
        )
        t = (
            pd_.join(F.broadcast(qs), F.col("vec_id") != F.col("_qid"))
            .select(
                F.col("_qid").alias("query_id"),
                "vec_id",
                quantized_key(
                    _dot(F.col("p"), F.col("_qp")),
                    F.col("den") * F.col("_qden"),
                ).alias("sim"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _JL_K)
            .select("query_id", "vec_id")
        )
        f2 = full.select(
            F.col("query_id").alias("fq"), F.col("vec_id").alias("fv")
        )
        outs.append(
            t.join(
                f2,
                (t["query_id"] == f2["fq"]) & (t["vec_id"] == f2["fv"]),
                "left",
            ).agg(
                F.lit(d).cast("int").alias("dim"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.count("fv").cast("long").alias("n_overlap"),
                F.round(
                    F.count("fv").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    + F.lit(1e-9),
                    6,
                ).alias("recall_at_k"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out.orderBy("dim")


# --- MMR diversified re-ranking ----------------------------------------------

_MMR_POOL = 20
_MMR_K = 5
_MMR_LAMBDA = 0.7


def _mmr_oracle_sql() -> str:
    key_q = _sql_qkey(
        "list_dot_product(bb.q, (SELECT q FROM qq))",
        "bb.den",
        "(SELECT den FROM qq)",
    )
    key_p = _sql_qkey(
        "list_dot_product(a.q, b.q)", "a.den", "b.den"
    )
    lam, mu = _MMR_LAMBDA, round(1.0 - _MMR_LAMBDA, 10)
    steps = []
    prev = "s1"
    for k in range(2, _MMR_K + 1):
        steps.append(f""",
    c{k} AS (
      SELECT p.vec_id, p.simq,
             {lam} * p.simq - {mu} * MAX(pr.s) AS score
      FROM pool p
      JOIN pair pr ON pr.va = p.vec_id
        AND pr.vb IN (SELECT vec_id FROM {prev})
      WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
      GROUP BY p.vec_id, p.simq
    ), p{k} AS (
      SELECT {k} AS rank, vec_id, score
      FROM c{k} ORDER BY score DESC, vec_id ASC LIMIT 1
    ), s{k} AS (
      SELECT vec_id FROM {prev} UNION ALL SELECT vec_id FROM p{k}
    )""")
        prev = f"s{k}"
    unions = "\n    UNION ALL\n".join(
        f"SELECT rank, vec_id, score FROM p{k}"
        for k in range(2, _MMR_K + 1)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM b
    ), qq AS (SELECT q, den FROM bb WHERE vec_id = 0),
    pool AS (
      SELECT bb.vec_id, bb.q, bb.den, {key_q} AS simq
      FROM bb WHERE vec_id <> 0
      ORDER BY simq DESC, vec_id ASC
      LIMIT {_MMR_POOL}
    ),
    pair AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, {key_p} AS s
      FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
    ),
    p1 AS (
      SELECT 1 AS rank, vec_id, {lam} * simq AS score
      FROM pool ORDER BY simq DESC, vec_id ASC LIMIT 1
    ),
    s1 AS (SELECT vec_id FROM p1){"".join(steps)}
    SELECT CAST(rank AS INT) AS rank, vec_id,
           ROUND(score + 1e-9, 6) AS mmr_score
    FROM (SELECT rank, vec_id, score FROM p1
          UNION ALL
          {unions})
    ORDER BY rank
    """


@query(
    "embedding_mmr_rerank",
    _mmr_oracle_sql(),
    doc="Maximal Marginal Relevance diversified re-ranking "
    "(Carbonell & Goldstein SIGIR'98): greedily pick 5 of the top-20 "
    "cosine candidates for query vec 0, each step maximizing "
    "lambda*sim(q,d) - (1-lambda)*max_{s in S} sim(d,s) with "
    "lambda=0.7 — the diversity-aware re-rank every RAG retrieval "
    "stack bolts onto plain top-k (near-duplicate passages crowd out "
    "coverage; MMR trades a little relevance for marginal "
    "information). Scale shape: ONE corpus scan builds the top-20 "
    "pool (TakeOrdered, the embedding_topk machinery); everything "
    "after runs on the CONSTANT 20-row pool — the 20x20 pairwise "
    "frame and 4 greedy supersteps are data-volume-independent, "
    "eagerly materialized like the k-center loop. Similarities are "
    "the shared CR quantized-key sequence; score combination is one "
    "fixed-order float expression per step; ties break to the "
    "smaller vec_id on both engines.",
)
def q_embedding_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", quantized_vec_col(F.col("embedding")).alias("q")
    ).select("vec_id", "q", quantized_den_col(F.col("q")).alias("den"))
    qq = base.filter(F.col("vec_id") == 0).select(
        F.col("q").alias("_qv"), F.col("den").alias("_qden")
    )
    pool = (
        base.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qq))
        .select(
            "vec_id",
            "q",
            "den",
            quantized_key(
                _dot(F.col("q"), F.col("_qv")),
                F.col("den") * F.col("_qden"),
            ).alias("simq"),
        )
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)
    )
    a = pool.select(
        F.col("vec_id").alias("va"), F.col("q").alias("qa"),
        F.col("den").alias("da"),
    )
    b = pool.select(
        F.col("vec_id").alias("vb"), F.col("q").alias("qb"),
        F.col("den").alias("db"),
    )
    pair = (
        a.join(b, F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            quantized_key(
                _dot(F.col("qa"), F.col("qb")), F.col("da") * F.col("db")
            ).alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    lam = float(_MMR_LAMBDA)
    mu = round(1.0 - _MMR_LAMBDA, 10)
    picks = (
        pool.select(
            F.lit(1).alias("rank"),
            "vec_id",
            (F.lit(lam) * F.col("simq")).alias("score"),
        )
        .orderBy(F.desc("simq"), F.asc("vec_id"))
        .limit(1)
        .localCheckpoint(eager=True)
    )
    sel = picks.select("vec_id")
    for k in range(2, _MMR_K + 1):
        cand = (
            pool.join(sel, "vec_id", "left_anti")
            .join(
                pair.join(
                    sel.select(F.col("vec_id").alias("vb")), "vb"
                ).select(F.col("va").alias("vec_id"), "s"),
                "vec_id",
            )
            .groupBy("vec_id", "simq")
            .agg(F.max("s").alias("msel"))
            .select(
                "vec_id",
                (
                    F.lit(lam) * F.col("simq")
                    - F.lit(mu) * F.col("msel")
                ).alias("score"),
            )
        )
        pk = (
            cand.orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
            .select(F.lit(k).alias("rank"), "vec_id", "score")
            .localCheckpoint(eager=True)
        )
        picks = picks.unionAll(pk)
        sel = picks.select("vec_id")
    return picks.select(
        F.col("rank").cast("int").alias("rank"),
        "vec_id",
        F.round(F.col("score") + F.lit(1e-9), 6).alias("mmr_score"),
    ).orderBy("rank")


# --- cluster-quality evaluation over the IVF assignment ----------------------

_CQ_K = 8
_CQ_SEED = 42
_CQ_FIT_SAMPLE = 4096
_CQ_MAX_ITER = 10


def _cq_qcents(cents: np.ndarray) -> np.ndarray:
    """Centroids quantized at the shared micro-grain: integer-valued
    float64, the exact-dot carrier (same floor(x*1e6) as
    quantized_vec_col, applied to the fitted float64 centroids)."""
    return np.floor(cents * 1e6)


def cluster_quality(
    emb: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster quality report over a fitted coarse quantizer:
    simplified silhouette (Hruschka et al. 2004 — distances to
    CENTROIDS, not all points: the O(nk) form that scales where the
    classic O(n^2) silhouette cannot) and the Davies-Bouldin
    component max_j (S_i+S_j)/D_ij (Davies & Bouldin 1979).

    Determinism: vectors and centroids quantize to micro-grain
    integers, so every squared distance d2_j = den_v - 2*v.c_j +
    den_c_j is an EXACT integer — the Arrow/BLAS batch matmul in the
    assignment UDF sums integer-valued doubles far below 2^53, so
    accumulation order cannot perturb it, and argmin/first-min ties
    are exact integer comparisons (no BLAS-ulp fragility — this is
    the quantized upgrade of the raw-double IVF assignment's
    documented near-tie caveat). Per-point sqrt is correctly rounded
    on identical integers; the silhouette and scatter fold to
    per-point floor-quantized integers (1e-6 / 1e-3 grain) summed
    exactly, so the per-cluster means are single CR divisions.

    Scale shape: ONE corpus map pass (k dots per row inside one BLAS
    matmul per Arrow batch), one k-row groupBy; the Davies-Bouldin
    max runs on the k x k constant frame with baked centroid-pair
    distances. No corpus self-join, no window.
    """
    qc = np.ascontiguousarray(_cq_qcents(cents))
    qc_sq = (qc * qc).sum(axis=1)

    @F.pandas_udf(
        "struct<ivf_list: int, a2: double, b2: double>"
    )
    def assign(v: pd.Series) -> pd.DataFrame:
        x = np.floor(np.vstack(v.to_numpy()).astype(np.float64) * 1e6)
        d = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ qc.T)
            + qc_sq[None, :]
        )
        srt = np.sort(d, axis=1)
        return pd.DataFrame(
            {
                "ivf_list": d.argmin(axis=1).astype(np.int32),
                "a2": srt[:, 0],
                "b2": srt[:, 1],
            }
        )

    pt = emb.select(assign(F.col(vec_col)).alias("r")).select(
        F.col("r.ivf_list").alias("cluster_id"),
        F.col("r.a2").alias("a2"),
        F.col("r.b2").alias("b2"),
    )
    sa = F.sqrt(F.col("a2"))
    sb = F.sqrt(F.col("b2"))
    sil_q = F.when(
        F.col("b2") > 0.0, F.floor((sb - sa) / sb * F.lit(1e6))
    ).otherwise(F.lit(0.0))
    dist_q = F.floor(sa * F.lit(1e-3))
    per = pt.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(dist_q).alias("dq"),
        F.sum(sil_q).alias("sq"),
    )
    # scatter S_i in raw embedding units: q-grain divides back out
    # (floor(d_q * 1e-3) sums to milli-raw units exactly)
    scatter = F.col("dq") / F.col("n_vecs").cast("double") / F.lit(1e3)
    per = per.select(
        "cluster_id",
        "n_vecs",
        scatter.alias("s_i"),
        (F.col("sq") / F.col("n_vecs").cast("double") / F.lit(1e6)).alias(
            "sil"
        ),
    )
    k = len(cents)
    pair_rows = []
    for i in range(k):
        for j in range(k):
            if i != j:
                m = float(np.sqrt(((qc[i] - qc[j]) ** 2).sum()) / 1e6)
                pair_rows.append((i, j, m))
    pairs = emb.sparkSession.createDataFrame(
        pair_rows, "i int, j int, d_ij double"
    )
    other = per.select(
        F.col("cluster_id").alias("j"), F.col("s_i").alias("s_j")
    )
    db = (
        per.join(F.broadcast(pairs), per["cluster_id"] == pairs["i"])
        .join(F.broadcast(other), "j")
        .groupBy("cluster_id")
        .agg(
            F.max(
                (F.col("s_i") + F.col("s_j")) / F.col("d_ij")
            ).alias("db_i")
        )
    )
    return (
        per.join(db, "cluster_id", "left")
        .select(
            "cluster_id",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(F.col("s_i") + F.lit(1e-9), 6).alias("mean_dist"),
            F.round(F.col("sil") + F.lit(1e-9), 6).alias(
                "mean_silhouette"
            ),
            F.round(F.coalesce(F.col("db_i"), F.lit(0.0)) + F.lit(1e-9), 4)
            .alias("db_component"),
        )
        .orderBy("cluster_id")
    )


def _cluster_quality_oracle_sql() -> str | None:
    try:
        _ids, _vecs, cents = _ivf_fit_replica(
            ORACLE_SF_DIR, _CQ_K, _CQ_SEED, _CQ_FIT_SAMPLE, _CQ_MAX_ITER
        )
    except Exception:  # noqa: BLE001 — no testdata ⇒ rows-only row
        return None
    qc = _cq_qcents(cents)
    qc_sq = (qc * qc).sum(axis=1)
    dists = ",\n           ".join(
        f"den - 2 * list_dot_product(qz, {_sql_vec(c)}) + {_sql_f(cs)}"
        for cs, c in zip(qc_sq, qc)
    )
    k = len(cents)
    pair_rows = ",\n      ".join(
        f"({i}, {j}, {_sql_f(float(np.sqrt(((qc[i] - qc[j]) ** 2).sum()) / 1e6))})"
        for i in range(k)
        for j in range(k)
        if i != j
    )
    return f"""
    WITH v AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS qz,
             list_dot_product({_sql_qvec("embedding")},
                              {_sql_qvec("embedding")}) AS den
      FROM embeddings
    ),
    d AS (
      SELECT vec_id,
          [{dists}] AS dists
      FROM v
    ),
    pt AS (
      SELECT list_indexof(dists, list_sort(dists)[1]) - 1 AS cluster_id,
             list_sort(dists)[1] AS a2,
             list_sort(dists)[2] AS b2
      FROM d
    ),
    q AS (
      SELECT cluster_id,
             CASE WHEN b2 > 0.0 THEN
               FLOOR((SQRT(b2) - SQRT(a2)) / SQRT(b2) * 1e6)
             ELSE 0.0 END AS sil_q,
             FLOOR(SQRT(a2) * 1e-3) AS dist_q
      FROM pt
    ),
    per AS (
      SELECT cluster_id, COUNT(*) AS n_vecs,
             SUM(dist_q) / CAST(COUNT(*) AS DOUBLE) / 1e3 AS s_i,
             SUM(sil_q) / CAST(COUNT(*) AS DOUBLE) / 1e6 AS sil
      FROM q GROUP BY cluster_id
    ),
    pairs(i, j, d_ij) AS (VALUES
      {pair_rows}
    ),
    db AS (
      SELECT p.cluster_id,
             MAX((p.s_i + o.s_j) / pr.d_ij) AS db_i
      FROM per p
      JOIN pairs pr ON pr.i = p.cluster_id
      JOIN (SELECT cluster_id AS j, s_i AS s_j FROM per) o
        ON o.j = pr.j
      GROUP BY p.cluster_id
    )
    SELECT per.cluster_id,
           CAST(per.n_vecs AS BIGINT) AS n_vecs,
           ROUND(per.s_i + 1e-9, 6) AS mean_dist,
           ROUND(per.sil + 1e-9, 6) AS mean_silhouette,
           ROUND(COALESCE(db.db_i, 0.0) + 1e-9, 4) AS db_component
    FROM per LEFT JOIN db ON db.cluster_id = per.cluster_id
    ORDER BY per.cluster_id
    """


@query(
    "embedding_cluster_quality",
    _cluster_quality_oracle_sql(),
    doc="Per-cluster quality report over the IVF coarse quantizer "
    "(k=8, the shared seeded sample-fit): simplified silhouette "
    "(Hruschka 2004 centroid form — the O(nk) silhouette that "
    "scales where the O(n^2) classic cannot) and the Davies-Bouldin "
    "component max_j (S_i+S_j)/D_ij — the is-the-index-well-shaped "
    "screen that decides whether the IVF partitioning (and any "
    "k-means data curation built on it) actually separates the "
    "corpus. Micro-quantized integer vectors AND centroids make "
    "every squared distance an exact integer (the BLAS batch matmul "
    "sums integer-valued doubles < 2^53 — order-free; argmin ties "
    "are exact integer compares, removing the raw-double IVF "
    "assignment's documented near-tie caveat), per-point silhouette "
    "and scatter floor-quantize then sum exactly, and the "
    "Davies-Bouldin max runs on the constant k-row frame with baked "
    "centroid-pair distances. One corpus map pass, one 8-row "
    "groupBy, no corpus self-join. See cluster_quality.",
)
def q_embedding_cluster_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = _fit_sample(emb, "vec_id", "embedding", _CQ_FIT_SAMPLE)
    cents = _lloyd_fit(x, _CQ_K, _CQ_SEED, _CQ_MAX_ITER)
    return cluster_quality(emb, cents)


# --- covariance-discrepancy drift (quadratic-kernel MMD) ---------------------

_COVD_DIM = 64


def _covd_oracle_sql() -> str:
    return f"""
    WITH f AS (
      SELECT CASE WHEN CAST(concat('0x',
                    substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 1000000 < 800000 THEN 'train'
                  WHEN CAST(concat('0x',
                    substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % 1000000 >= 900000 THEN 'test'
             END AS split,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> FLOOR(x * 1000.0)) AS q
      FROM embeddings
    ),
    v AS (SELECT split, q FROM f WHERE split IS NOT NULL),
    cnt AS (
      SELECT SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_t,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_s
      FROM v
    ),
    cells AS (
      SELECT split, i.i, j.j,
             SUM(CAST(q[i.i] AS HUGEINT) * CAST(q[j.j] AS BIGINT)) AS s
      FROM v
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_COVD_DIM})) AS i) i
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, {_COVD_DIM})) AS j) j
      GROUP BY split, i.i, j.j
    ),
    piv AS (
      SELECT i, j,
             MAX(CASE WHEN split = 'train' THEN s END) AS st,
             MAX(CASE WHEN split = 'test' THEN s END) AS ss
      FROM cells GROUP BY i, j
    ),
    terms AS (
      SELECT SUM(CAST(FLOOR(
               (CAST(COALESCE(st, 0) AS DOUBLE) / CAST(c.n_t AS DOUBLE)
                - CAST(COALESCE(ss, 0) AS DOUBLE) / CAST(c.n_s AS DOUBLE))
               * (CAST(COALESCE(st, 0) AS DOUBLE) / CAST(c.n_t AS DOUBLE)
                  - CAST(COALESCE(ss, 0) AS DOUBLE) / CAST(c.n_s AS DOUBLE))
               * 1e6) AS HUGEINT)) AS jq
      FROM piv, cnt c
      WHERE c.n_t > 0 AND c.n_s > 0
    )
    SELECT CAST(c.n_t AS BIGINT) AS n_train,
           CAST(c.n_s AS BIGINT) AS n_test,
           CASE WHEN c.n_t > 0 AND c.n_s > 0 THEN
             ROUND(SQRT(CAST(t.jq AS DOUBLE) / 1e6) / 1e6 + 1e-9, 6)
           ELSE 0.0 END AS cov_frob_dist
    FROM cnt c, terms t
    """


@query(
    "embedding_covariance_drift",
    _covd_oracle_sql(),
    doc="Second-moment distribution drift between the train and test "
    "embedding splits: Frobenius distance of the per-split "
    "second-moment matrices ||X_t'X_t/n_t - X_s'X_s/n_s||_F — "
    "exactly the quadratic-kernel MMD (Gretton et al. 2012: for "
    "k(x,y)=(x.y)^2, MMD^2 = ||E[xx']-E[yy']||_F^2), the "
    "SHAPE-drift partner of embedding_centroid_drift's mean test (a "
    "distribution can keep its mean and still rotate or stretch — "
    "this catches what the mean test cannot). Vectors quantize at "
    "milli-grain so every outer-product cell is an exact integer: "
    "the Arrow mapInPandas stage emits per-BATCH partial 64x64 "
    "Gram matrices via one BLAS rank-k update each (integer-valued, "
    "< 2^53 per partial — order-free), Spark reduces them as exact "
    "DECIMAL(38) (the map-side-combine shape: 4096 cells move per "
    "batch, never rows), and the 4096 per-cell difference terms "
    "floor-quantize to 1e-6 and sum exactly. One corpus pass, "
    "shuffle bounded by 4096 cells x partitions.",
)
def q_embedding_covariance_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from teleco_etl_pipeline_spark.operators.sampling import hash_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    b = hash_bucket("vec_id")
    f = emb.select(
        F.when(b < 800000, F.lit("train"))
        .when(b >= 900000, F.lit("test"))
        .alias("split"),
        F.col("embedding"),
    ).filter(F.col("split").isNotNull())
    dim = _COVD_DIM

    def gram_parts(it):
        import numpy as np  # self-contained closure (cloudpickle)
        import pandas as pd

        for pdf in it:
            for split in ("train", "test"):
                sub = pdf[pdf["split"] == split]
                if len(sub) == 0:
                    continue
                x = np.floor(
                    np.vstack(sub["embedding"].to_numpy()).astype(
                        np.float64
                    )
                    * 1e3
                )
                c = x.T @ x
                yield pd.DataFrame(
                    {
                        "split": split,
                        "idx": np.arange(dim * dim, dtype=np.int64),
                        "s": c.ravel(),
                    }
                )

    cells = (
        f.mapInPandas(gram_parts, "split string, idx long, s double")
        .groupBy("split", "idx")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
    )
    piv = cells.groupBy("idx").agg(
        F.max(F.when(F.col("split") == "train", F.col("s"))).alias("st"),
        F.max(F.when(F.col("split") == "test", F.col("s"))).alias("ss"),
    )
    cnt = f.groupBy().agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_t"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_s"),
    )
    diff = F.coalesce(F.col("st"), F.lit(0)).cast("double") / F.col(
        "n_t"
    ).cast("double") - F.coalesce(F.col("ss"), F.lit(0)).cast(
        "double"
    ) / F.col("n_s").cast("double")
    terms = (
        piv.crossJoin(F.broadcast(cnt))
        .filter((F.col("n_t") > 0) & (F.col("n_s") > 0))
        .agg(
            F.sum(
                F.floor(diff * diff * F.lit(1e6)).cast("decimal(38,0)")
            ).alias("jq")
        )
    )
    return cnt.crossJoin(F.broadcast(terms)).select(
        F.col("n_t").cast("long").alias("n_train"),
        F.col("n_s").cast("long").alias("n_test"),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_s") > 0),
            F.round(
                F.sqrt(F.col("jq").cast("double") / F.lit(1e6)) / F.lit(1e6)
                + F.lit(1e-9),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cov_frob_dist"),
    )


# --- ratio-margin kNN scoring (bitext-mining style) --------------------------

_MARGIN_NQ = 5
_MARGIN_K = 8


def _margin_oracle_sql() -> str:
    key_a = _sql_qkey(
        "list_dot_product(e.q, qq.q)", "e.den", "qq.den"
    )
    return f"""
    WITH b AS (
      SELECT vec_id, {_sql_qvec("embedding")} AS q FROM embeddings
    ), bb AS (
      SELECT vec_id, q, list_dot_product(q, q) AS den FROM b
    ),
    t1 AS (
      SELECT qq.vec_id AS query_id, e.vec_id, {key_a} AS sim
      FROM bb e JOIN bb qq
        ON qq.vec_id < {_MARGIN_NQ} AND e.vec_id <> qq.vec_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qq.vec_id
        ORDER BY {key_a} DESC, e.vec_id ASC) <= {_MARGIN_K}
    ),
    qmean AS (
      SELECT query_id,
             SUM(CAST(FLOOR(sim * 1e9) AS BIGINT)) AS qs
      FROM t1 GROUP BY query_id
    ),
    cand AS (SELECT DISTINCT vec_id FROM t1),
    t2 AS (
      SELECT qq.vec_id AS cand_id, {key_a} AS sim
      FROM bb e
      JOIN (SELECT bb.* FROM bb JOIN cand USING (vec_id)) qq
        ON e.vec_id <> qq.vec_id
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY qq.vec_id
        ORDER BY {key_a} DESC, e.vec_id ASC) <= {_MARGIN_K}
    ),
    cmean AS (
      SELECT cand_id, SUM(CAST(FLOOR(sim * 1e9) AS BIGINT)) AS cs
      FROM t2 GROUP BY cand_id
    )
    SELECT t1.query_id, t1.vec_id,
           ROUND(t1.sim
                 / ((CAST(q.qs AS DOUBLE) / {_MARGIN_K}.0 / 1e9
                     + CAST(c.cs AS DOUBLE) / {_MARGIN_K}.0 / 1e9)
                    / 2.0) + 1e-9, 6) AS margin
    FROM t1
    JOIN qmean q USING (query_id)
    JOIN cmean c ON c.cand_id = t1.vec_id
    ORDER BY t1.query_id, margin DESC, t1.vec_id
    """


@query(
    "embedding_margin_pairs",
    _margin_oracle_sql(),
    doc="Ratio-margin kNN scoring (Artetxe & Schwenk ACL'19 — the "
    "bitext/parallel-pair mining standard): each (anchor, neighbor) "
    "cosine is rescored by the margin cos(x,y) / mean of the two "
    "sides' top-k cosine neighborhoods — absolute cosine thresholds "
    "miss that 'hubs' are close to EVERYTHING; the margin keeps "
    "only pairs closer than their neighborhoods predict. Scale "
    "shape: TWO bounded corpus scans — the anchors' top-8 lists "
    "(Q=5 broadcast), then top-8 lists for the <= Q*k candidates "
    "those contain (a second bounded broadcast); no corpus kNN "
    "graph is ever built. The per-side neighborhood means fold "
    "from per-edge cosines floor-quantized to 1e-9 and summed as "
    "exact integers (8-term float sums would be engine-order-"
    "dependent); the margin itself is one fixed-order division of "
    "CR-identical doubles with id tiebreaks.",
)
def q_embedding_margin_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < _MARGIN_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    t1 = batch_topk(emb, anchors, k=_MARGIN_K).localCheckpoint(eager=True)
    qmean = t1.groupBy("query_id").agg(
        F.sum(F.floor(F.col("cosine_sim") * F.lit(1e9)).cast("long")).alias(
            "qs"
        )
    )
    cand = t1.select("vec_id").distinct()
    cand_queries = emb.join(cand, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    t2 = batch_topk(emb, cand_queries, k=_MARGIN_K)
    cmean = t2.groupBy("query_id").agg(
        F.sum(F.floor(F.col("cosine_sim") * F.lit(1e9)).cast("long")).alias(
            "cs"
        )
    ).select(F.col("query_id").alias("cand_id"), "cs")
    denom = (
        F.col("qs").cast("double") / F.lit(float(_MARGIN_K)) / F.lit(1e9)
        + F.col("cs").cast("double") / F.lit(float(_MARGIN_K)) / F.lit(1e9)
    ) / 2.0
    return (
        t1.join(qmean, "query_id")
        .join(cmean, t1["vec_id"] == F.col("cand_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("cosine_sim") / denom + F.lit(1e-9), 6).alias(
                "margin"
            ),
        )
        .orderBy("query_id", F.desc("margin"), F.asc("vec_id"))
    )
