"""Unit tests for engine operators (keys, upsert, dedup, similarity,
text) over in-memory frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from teleco_etl_pipeline_spark.operators.keys import add_surrogate_key
from teleco_etl_pipeline_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    lsh_bucketed_pairs,
)
from teleco_etl_pipeline_spark.operators.upsert import (
    anti_dedup,
    delete_then_insert,
    merge_upsert,
)


def test_surrogate_keys_dense_and_deterministic(spark):
    df = spark.createDataFrame([("b",), ("a",), ("c",)], ["v"])
    out = {r["v"]: r["k"] for r in add_surrogate_key(df, "k", ["v"]).collect()}
    assert out == {"a": 1, "b": 2, "c": 3}
    out2 = {r["v"]: r["k"] for r in add_surrogate_key(df, "k", ["v"], start_at=10).collect()}
    assert out2 == {"a": 10, "b": 11, "c": 12}


def test_merge_upsert_column_subset(spark):
    target = spark.createDataFrame(
        [(1, "old_u", "old_k"), (2, "keep_u", "keep_k")], ["id", "upd", "kept"]
    )
    source = spark.createDataFrame(
        [(1, "new_u", "new_k"), (3, "ins_u", "ins_k")], ["id", "upd", "kept"]
    )
    out = {
        r["id"]: r
        for r in merge_upsert(
            target, source, keys=["id"], update_cols=["upd"], record_type_col="rt"
        ).collect()
    }
    assert len(out) == 3
    assert out[1]["upd"] == "new_u" and out[1]["kept"] == "old_k"  # subset!
    assert out[1]["rt"] == "updated"
    assert out[2]["upd"] == "keep_u" and out[2]["rt"] == "existing"
    assert out[3]["upd"] == "ins_u" and out[3]["kept"] == "ins_k"
    assert out[3]["rt"] == "new"


def test_merge_upsert_idempotent(spark):
    t = spark.createDataFrame([(1, "a")], ["id", "v"])
    s = spark.createDataFrame([(1, "a")], ["id", "v"])
    once = merge_upsert(t, s, keys=["id"])
    twice = merge_upsert(once, s, keys=["id"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_merge_upsert_null_keyed_match(spark):
    # eqNullSafe means a NULL-keyed target row MATCHES a NULL-keyed
    # source row: column-subset semantics must hold for it too
    # (round-1 detected matches via keys[0] IS NOT NULL, which
    # classified this pair as an insert and leaked source 'kept').
    target = spark.createDataFrame(
        [(None, "old_u", "old_k"), (1, "u1", "k1")],
        "id int, upd string, kept string",
    )
    source = spark.createDataFrame(
        [(None, "new_u", "new_k")], "id int, upd string, kept string"
    )
    out = {
        r["id"]: r
        for r in merge_upsert(
            target, source, keys=["id"], update_cols=["upd"], record_type_col="rt"
        ).collect()
    }
    assert out[None]["upd"] == "new_u"
    assert out[None]["kept"] == "old_k"  # kept from target, not source
    assert out[None]["rt"] == "updated"
    assert out[1]["rt"] == "existing"


def test_safe_overwrite_self_heals(spark, tmp_path):
    from teleco_etl_pipeline_spark.operators.upsert import safe_overwrite

    path = str(tmp_path / "tbl")
    backup = path + ".old"
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    safe_overwrite(df, path)

    # Crash window A: died after moving live→backup, before tmp→live.
    import os
    import shutil

    os.rename(path, backup)
    assert not os.path.exists(path)
    df2 = spark.createDataFrame([(2, "b")], ["id", "v"])
    safe_overwrite(df2, path)  # must restore backup, then overwrite
    assert not os.path.exists(backup)
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {2}

    # Crash window B: died after the swap, leaving a stale backup.
    shutil.copytree(path, backup)
    safe_overwrite(df, path)  # must discard the stale backup
    assert not os.path.exists(backup)
    assert {r["id"] for r in spark.read.parquet(path).collect()} == {1}


def test_delete_then_insert(spark):
    t = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    fixes = spark.createDataFrame([(2, "B!"), (3, "c")], ["id", "v"])
    out = {r["id"]: r["v"] for r in delete_then_insert(t, fixes, ["id"]).collect()}
    assert out == {1: "a", 2: "B!", 3: "c"}


def test_anti_dedup(spark):
    staging = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    target = spark.createDataFrame([(2,)], ["id"])
    assert sorted(r["id"] for r in anti_dedup(staging, target, ["id"]).collect()) == [1, 3]


def test_exact_dedup_groups(spark):
    docs = spark.createDataFrame(
        [(1, "hello  world"), (2, "Hello World"), (3, "different")],
        ["doc_id", "text"],
    )
    out = {r["keeper_doc_id"]: r["copies"] for r in exact_dedup_groups(docs).collect()}
    # normalization folds case+whitespace → docs 1,2 same group
    assert out == {1: 2, 3: 1}


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    return spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("today", "tomorrow")),  # near-dup of 1
            (3, "completely unrelated text about spark engines and parquet files here"),
        ],
        ["doc_id", "text"],
    )


def test_ngram_jaccard_finds_neardup(spark):
    pairs = ngram_jaccard_pairs(_near_dup_docs(spark), n=3, threshold=0.3).collect()
    assert [(p["doc_id_a"], p["doc_id_b"]) for p in pairs] == [(1, 2)]
    assert 0.5 < pairs[0]["jaccard"] < 1.0


def test_minhash_lsh_finds_neardup(spark):
    pairs = minhash_lsh_pairs(
        _near_dup_docs(spark), n=3, num_hashes=32, bands=8, threshold=0.3
    ).collect()
    assert (1, 2) in [(p["doc_id_a"], p["doc_id_b"]) for p in pairs]


def test_simhash_finds_neardup(spark):
    # bands=32 >= max_hamming+1=17: the pigeonhole recall bound holds.
    pairs = simhash_neardup_pairs(_near_dup_docs(spark), max_hamming=16, bands=32)
    got = [(p["doc_id_a"], p["doc_id_b"]) for p in pairs.collect()]
    assert (1, 2) in got
    assert (1, 3) not in got


def test_simhash_rejects_unsound_banding(spark):
    # 4 bands can only guarantee recall for Hamming <= 3; asking for
    # 16 must be an error, not silently-partial results (round-1 bug).
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bands"):
        simhash_neardup_pairs(_near_dup_docs(spark), max_hamming=16, bands=4)


def test_jaccard_guard_uses_consistent_universe(spark):
    # 'a b c' appears in all 4 docs (df=4) and is dropped by the
    # guard (max freq 3). Post-filter doc1={'b c d','c d e'},
    # doc2={'b c d','c d f'} -> jaccard 1/3. The round-1 bug divided
    # the post-filter intersection by PRE-filter sizes (1/5 = 0.2).
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f"), (3, "a b c x y"), (4, "a b c z w")],
        ["doc_id", "text"],
    )
    pairs = {
        (p["doc_id_a"], p["doc_id_b"]): p["jaccard"]
        for p in ngram_jaccard_pairs(
            docs, n=3, threshold=0.3, max_shingle_freq=3
        ).collect()
    }
    assert pairs == {(1, 2): 0.3333}


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_brute_force_topk(spark):
    out = brute_force_topk(_vectors(spark), [1.0, 0.0, 0.0, 0.0], k=2, exclude_ids=(0,)).collect()
    assert [r["vec_id"] for r in out] == [1, 2]
    assert out[0]["cosine_sim"] > 0.99


def test_embedding_neardup_and_lsh_agree(spark):
    exact = embedding_neardup_pairs(_vectors(spark), threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in exact] == [(0, 1)]
    lsh = lsh_bucketed_pairs(_vectors(spark), n_planes=4, threshold=0.9).collect()
    # LSH candidates are a subset of exact pairs after verification
    assert set((r["id_a"], r["id_b"]) for r in lsh) <= {(0, 1)}


def test_lsh_multiprobe_recall_dominates_single_table(spark):
    """h independent tables must strictly widen the candidate net:
    table 0 reuses the single-table planes (seed 42), so single-table
    pairs are a subset; every emitted pair is exact-verified, so both
    are subsets of the exact twin. Measured recall at sf0.001 tracks
    the sign-LSH collision model 1-(1-p)^h (p ≈ 0.054/table at
    cos=0.35, 6 bits): single ≈ 0.07, 3-table ≈ 0.17."""
    from teleco_etl_pipeline_spark.operators.similarity import (
        embedding_neardup_pairs,
        lsh_bucketed_pairs,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kw = dict(n_planes=6, threshold=0.35, dim=64)
    pairs = lambda df: {(r["id_a"], r["id_b"]) for r in df.collect()}  # noqa: E731
    exact = pairs(embedding_neardup_pairs(emb, threshold=0.35))
    single = pairs(lsh_bucketed_pairs(emb, **kw))
    multi = pairs(lsh_bucketed_pairs(emb, n_tables=3, **kw))
    assert single <= multi <= exact
    recall_single = len(single) / len(exact)
    recall_multi = len(multi) / len(exact)
    assert recall_multi > recall_single
    assert recall_multi >= 0.12  # model predicts ~0.15; generous floor


def test_lineage_annotations_no_python_udfs(catalog_plans):
    """Guard: the relational+text catalog must stay UDF-free (plans
    show no BatchEvalPython / PythonUDF nodes)."""
    for name, (_, plan, err) in catalog_plans.items():
        assert err is None, f"{name}: {err}"
        assert "BatchEvalPython" not in plan, f"{name} uses a Python UDF"


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF with 4/8 probes must recover most of the exact top-10."""
    from teleco_etl_pipeline_spark.operators.similarity import ivf_assign, ivf_topk
    from teleco_etl_pipeline_spark.sources.tables import load_table
    from teleco_etl_pipeline_spark.operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()}
    assigned, centroids = ivf_assign(emb, n_centroids=8)
    approx = {r["vec_id"] for r in ivf_topk(assigned, centroids, qvec, k=10, n_probe=4, exclude_ids=(0,)).collect()}
    assert len(exact & approx) >= 5  # recall@10 ≥ 0.5 with half the lists probed


def test_salted_join_matches_plain_join(spark, sf_dir):
    from teleco_etl_pipeline_spark.operators.skew import hot_keys, salted_join
    from teleco_etl_pipeline_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_suppkey", "s_suppkey"
    ).select("s_suppkey", "l_quantity")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    plain = li.join(sup, "s_suppkey").groupBy("s_nationkey").count()
    salted = (
        salted_join(li, sup, on=["s_suppkey"], n_salt=4)
        .groupBy("s_nationkey")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # anti-join semantics survive salting (no per-salt false positives)
    missing = spark.createDataFrame([(-1, 0.0)], ["s_suppkey", "l_quantity"])
    anti = salted_join(li.union(missing), sup, on=["s_suppkey"], how="left_anti", n_salt=4)
    assert anti.count() == 1

    top = hot_keys(li, ["s_suppkey"], top_n=3).collect()
    assert len(top) == 3 and top[0]["n_rows"] >= top[-1]["n_rows"]


def test_key_skew_report_exact_on_hand_frame(spark, sf_dir):
    """HHI/top1 arithmetic pinned on a hand frame (group a: counts
    3+1 → top1 3/4, hhi (9+1)/16; group b uniform → hhi = 1/n_keys),
    then invariants on the real events table."""
    from teleco_etl_pipeline_spark.operators.skew import key_skew_report
    from teleco_etl_pipeline_spark.sources.tables import load_table

    rows = spark.createDataFrame(
        [("a", 1)] * 3 + [("a", 2)] + [("b", 1), ("b", 2)],
        ["g", "k"],
    )
    out = {r["g"]: r for r in key_skew_report(rows, "g", "k").collect()}
    a, b = out["a"], out["b"]
    assert (a.n_rows, a.n_keys, a.max_key_rows) == (4, 2, 3)
    assert abs(a.top1_share - 0.75) < 1e-6
    assert abs(a.hhi - 0.625) < 1e-6
    assert abs(b.hhi - 0.5) < 1e-6 and abs(b.top1_share - 0.5) < 1e-6

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    for r in key_skew_report(ev, "event_type", "user_id").collect():
        assert r.n_keys <= r.n_rows
        assert r.max_key_rows * r.n_keys >= r.n_rows  # max ≥ mean
        assert 1.0 / r.n_keys - 1e-6 <= r.hhi <= 1.0
        assert r.top1_share <= 1.0 and r.top1_share >= 1.0 / r.n_keys - 1e-6


def test_model_lift_gains_invariants(spark, sf_dir):
    """Gains-table invariants: 10 deciles, counts sum to the
    customer count, cum_capture is nondecreasing and ends at 1.0,
    and the n-weighted mean of lift is 1 (lift is pos_rate over the
    base rate, so Σ n·lift = Σ n_pos · totN / totPos)."""
    from teleco_etl_pipeline_spark.plans.registry import all_queries
    from teleco_etl_pipeline_spark.sources.tables import load_table

    rows = all_queries()["model_lift_gains"].build(spark, sf_dir).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert sum(r.n for r in rows) == n_cust
    caps = [r.cum_capture for r in rows]
    assert all(b >= a - 1e-9 for a, b in zip(caps, caps[1:]))
    assert abs(caps[-1] - 1.0) < 1e-6
    tot = sum(r.n for r in rows)
    wmean_lift = sum(r.n * r.lift for r in rows) / tot
    assert abs(wmean_lift - 1.0) < 1e-3


def test_hard_negatives_label_exclusion_and_rank(spark, sf_dir):
    """Every mined negative has a label differing from its anchor's,
    exactly k rows per anchor, and each anchor's best negative is no
    more similar than its unconstrained batch_topk best."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.similarity import (
        batch_topk,
        hard_negatives,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    negs = hard_negatives(emb, qs, k=5).collect()
    anchor_label = {
        r["vec_id"]: r["label"]
        for r in emb.filter(F.col("vec_id") < 5).collect()
    }
    per_anchor: dict[int, int] = {}
    for r in negs:
        assert r.neg_label != anchor_label[r.query_id]
        per_anchor[r.query_id] = per_anchor.get(r.query_id, 0) + 1
    assert per_anchor == {i: 5 for i in range(5)}
    best_any = {
        r["query_id"]: r["cosine_sim"]
        for r in batch_topk(emb, qs.drop("query_label"), k=1).collect()
    }
    best_neg: dict[int, float] = {}
    for r in negs:
        best_neg[r.query_id] = max(
            best_neg.get(r.query_id, -2.0), r.cosine_sim
        )
    for qid, sim in best_neg.items():
        assert sim <= best_any[qid] + 1e-12


def test_salted_join_rejects_right_outer(spark):
    import pytest as _pytest
    from teleco_etl_pipeline_spark.operators.skew import salted_join

    df = spark.range(2)
    with _pytest.raises(ValueError):
        salted_join(df, df, on=["id"], how="full")


def test_asof_join_inclusive_and_strict(spark):
    from teleco_etl_pipeline_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], ["k", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 6, 60.0)], ["k", "ts", "v"]
    )
    inc = {
        r["tag"]: r["v"]
        for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
    }
    # ts=10 sees the ts=10 right row (inclusive); ts=20 the latest (15);
    # k=2 ts=5 has no right row at or before it.
    assert inc == {"a": 100.0, "b": 150.0, "c": None}
    strict = {
        r["tag"]: r["v"]
        for r in asof_join(left, right, ["k"], "ts", ["v"], strict=True).collect()
    }
    assert strict == {"a": None, "b": 150.0, "c": None}


def test_banded_range_join_equals_range_predicate(spark):
    from teleco_etl_pipeline_spark.operators.temporal import banded_range_join

    fact = spark.createDataFrame(
        [(0, 3.0), (1, 9.99), (2, 10.0), (3, 25.5), (4, 99.0)], ["id", "x"]
    )
    bands = spark.range(3).select(
        F.col("id").alias("band_id"), (F.col("id") * 10).alias("lo")
    )
    got = {
        (r["id"], r["band_id"])
        for r in banded_range_join(fact, bands, "x", width=10.0).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 1), (3, 2)}  # 99.0 has no band


def test_neardup_clusters_transitive_closure(spark):
    from teleco_etl_pipeline_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    # Chain 1~2, 2~3 (1 and 3 never paired directly) + pair 4~5 + singleton 6.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["doc_id_a", "doc_id_b"]
    )
    out = {r["doc_id"]: r for r in neardup_clusters(pairs, docs).collect()}
    assert {d: out[d]["cluster_id"] for d in out} == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    assert {d: out[d]["cluster_size"] for d in out} == {1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 6: 1}
    assert [d for d in out if out[d]["is_keeper"] == 1] == [1, 4, 6]


def test_neardup_clusters_long_chain_converges_in_log_rounds(spark, monkeypatch):
    import pytest

    from teleco_etl_pipeline_spark.operators import graph
    from teleco_etl_pipeline_spark.operators.dedup import neardup_clusters

    # Force the superstep loop: 39 edges would otherwise take the
    # driver union-find, which converges by construction.
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    n = 40  # diameter 39 — plain propagation would need 39 rounds;
    # pointer jumping must close it within 8 (2^8 >> 40).
    docs = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_id_a", "doc_id_b"]
    )
    out = neardup_clusters(pairs, docs, max_iter=8).collect()
    assert all(r["cluster_id"] == 0 and r["cluster_size"] == n for r in out)
    # ...and the bound has teeth: 3 rounds cannot close a 39-hop chain.
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_clusters(pairs, docs, max_iter=3)


def test_chunk_documents_spans_and_content(spark):
    from teleco_etl_pipeline_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame([(1, words), (2, "a b")], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(docs, chunk_tokens=4, overlap=1).collect(),
        key=lambda r: (r["doc_id"], r["chunk_id"]),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, stride 3 -> starts 0,3,6; chunk at 6 reaches
    # token 9, so the windows cover every token with no extra chunk.
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[1]] == [
        (0, 4), (3, 4), (6, 4)
    ]
    # Consecutive chunks overlap by exactly `overlap` tokens, and the
    # last chunk ends exactly at the token count (full coverage).
    assert all(
        b["start_token"] == a["start_token"] + a["n_chunk_tokens"] - 1
        for a, b in zip(by_doc[1], by_doc[1][1:])
    )
    last = by_doc[1][-1]
    assert last["start_token"] + last["n_chunk_tokens"] == 10
    # doc 2 is shorter than one chunk -> single unpadded chunk.
    assert [(r["start_token"], r["n_chunk_tokens"]) for r in by_doc[2]] == [(0, 2)]

    import hashlib

    expect = hashlib.md5("w0 w1 w2 w3".encode()).hexdigest()
    assert by_doc[1][0]["chunk_md5"] == expect


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest

    from teleco_etl_pipeline_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_neardup_clusters_raises_on_nonconvergence(spark, monkeypatch):
    import pytest

    from teleco_etl_pipeline_spark.operators import dedup, graph

    # Force the superstep path (the driver union-find always
    # converges); the loud nonconvergence guard is loop behavior.
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], ["doc_id_a", "doc_id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.neardup_clusters(chain, docs, max_iter=2)


def test_day_partition_overwrite_and_pruned_read(spark, tmp_path):
    """M5 semantics + the 100 TB read lever: dynamic partition
    overwrite must replace ONLY the touched day, and a day-filtered
    read must prune at the PARTITION level (PartitionFilters on the
    scan), never scan-then-filter."""
    from teleco_etl_pipeline_spark.operators.upsert import (
        overwrite_day_partition,
    )

    path = str(tmp_path / "by_day")
    d1 = spark.createDataFrame(
        [("2024-01-01", 1, "a"), ("2024-01-02", 2, "b")], ["day", "id", "v"]
    )
    overwrite_day_partition(d1, path, "day")
    # Rewrite day 2 only — day 1 must survive untouched (idempotent
    # per-day reprocessing, the reference's daily correction loop).
    fix = spark.createDataFrame([("2024-01-02", 2, "B!")], ["day", "id", "v"])
    overwrite_day_partition(fix, path, "day")
    out = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert out == {1: "a", 2: "B!"}

    scan = (
        spark.read.parquet(path)
        .filter(F.col("day") == "2024-01-02")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(day" in scan
    # the day predicate must appear as a partition filter, not a
    # pushed data filter (the column isn't in the data files at all)
    assert "(day" in scan.split("PartitionFilters:")[1].splitlines()[0]


def test_repetition_stats_crafted_docs(spark):
    from teleco_etl_pipeline_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            # 4 identical words: every word duplicated; bigram "x x"
            # appears 3x (6 chars of 4 total word chars > 1 → capped
            # by nothing: fraction 6/4 = 1.5); trigram "x x x" 2x.
            (1, "x x x x"),
            # all-distinct words: no repetition anywhere
            (2, "alpha beta gamma delta"),
            # looped phrase: "spam ham spam ham spam ham"
            (3, "spam ham spam ham spam ham"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}

    r1 = rows[1]
    assert r1["n_words"] == 4
    assert r1["dup_word_frac"] == 1.0
    # top bigram "x x": 3 occurrences × 3 chars each ("x x" minus the
    # space = 2 chars) = 6 over 4 word chars
    assert r1["top_bigram_char_frac"] == 1.5
    assert r1["repetition_flag"]

    r2 = rows[2]
    assert r2["dup_word_frac"] == 0.0
    assert r2["dup_trigram_char_frac"] == 0.0
    assert not r2["repetition_flag"]

    r3 = rows[3]
    # every word appears 3x
    assert r3["dup_word_frac"] == 1.0
    # trigrams: "spam ham spam" ×2 (13 chars − 2 spaces = 11) and
    # "ham spam ham" ×2 (12 − 2 = 10) → dup chars 2*11 + 2*10 = 42
    # over word chars 3*4 + 3*3 = 21
    assert r3["dup_trigram_char_frac"] == round(42 / 21 + 1e-9, 4)
    assert r3["repetition_flag"]


def test_repetition_stats_short_doc_no_junk_grams(spark):
    from teleco_etl_pipeline_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two words")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # 1-word doc: no bigrams/trigrams may be fabricated by the
    # descending-sequence trap (sequence(0, size-n) with size < n)
    assert rows[1]["top_bigram_char_frac"] == 0.0
    assert rows[1]["dup_trigram_char_frac"] == 0.0
    assert rows[2]["dup_trigram_char_frac"] == 0.0
    assert not rows[1]["repetition_flag"]


def test_wordshape_filter_thresholds(spark):
    from teleco_etl_pipeline_spark.plans.registry import all_queries
    import os
    import tempfile

    # Build a tiny documents.parquet so the registered query runs on
    # crafted data: one doc passing all gates, one too short, one
    # with non-alphabetic words.
    with tempfile.TemporaryDirectory() as d:
        docs = spark.createDataFrame(
            [
                (1, " ".join(["word"] * 60)),        # keep
                (2, "short doc"),                     # too few words
                (3, " ".join(["123"] * 60)),          # non-alpha
            ],
            ["doc_id", "text"],
        )
        docs.write.parquet(os.path.join(d, "documents.parquet"))
        out = all_queries()["doc_wordshape_filter"].build(spark, d)
        rows = {r["doc_id"]: r for r in out.collect()}
        assert rows[1]["keep"]
        assert not rows[2]["keep"]
        assert rows[3]["alpha_word_frac"] == 0.0 and not rows[3]["keep"]


def test_semantic_dedup_single_cluster_matches_exact_greedy(spark):
    from teleco_etl_pipeline_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),    # dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.01, 0.999, 0.0, 0.0]),  # dup of 2
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # One cluster → must equal exact greedy dedup over all pairs.
    out = {r["vec_id"]: r for r in semantic_dedup(emb, n_clusters=1, threshold=0.9).collect()}
    exact_pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_neardup_pairs(emb, threshold=0.9).collect()
    }
    removed_exact = {b for (_, b) in exact_pairs}
    assert {v for v, r in out.items() if not r["keep"]} == removed_exact
    for v, r in out.items():
        if not r["keep"]:
            assert (r["dup_of"], v) in exact_pairs
            assert r["dup_of"] < v


def test_semantic_dedup_clustered_subset_of_exact(spark, sf_dir):
    """Clustered removals must be a subset of exact greedy removals
    (clustering can only MISS cross-cluster pairs, never invent
    duplicates — the verify step is exact cosine)."""
    from teleco_etl_pipeline_spark.operators.similarity import semantic_dedup
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_clusters=8, threshold=0.35)
    removed = {r["vec_id"] for r in out.filter("NOT keep").collect()}
    exact = embedding_neardup_pairs(emb, threshold=0.35)
    removed_exact = {r["id_b"] for r in exact.collect()}
    assert removed <= removed_exact
    assert len(removed) > 0  # threshold tuned so the path is exercised


@pytest.mark.parametrize("family", ["xxhash64", "md5"])
def test_minhash_incremental_equals_full_restriction(spark, family):
    """Incremental (new batch vs persisted index) must equal the full
    recompute restricted to pairs touching the batch — signatures are
    deterministic (either hash family), so there is no drift."""
    from teleco_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely unrelated text about spark engines and parquet files here"
    corpus_docs = spark.createDataFrame(
        [(1, base), (3, other)], ["doc_id", "text"]
    )
    new_docs = spark.createDataFrame(
        [
            (10, base.replace("today", "tomorrow")),   # near-dup of corpus 1
            (11, other.replace("here", "now")),         # near-dup of corpus 3
            (12, other.replace("here", "soon")),        # near-dup of 11 (new-new)
        ],
        ["doc_id", "text"],
    )
    # bands=16 (2 rows/band): recall high enough that every
    # crafted near-dup pair collides in some band
    params = dict(n=3, num_hashes=32, bands=16, threshold=0.25, hash_family=family)

    corpus_sigs = minhash_signatures(
        corpus_docs, n=3, num_hashes=32, hash_family=family
    )
    inc = minhash_lsh_pairs_incremental(new_docs, corpus_sigs, **params).collect()
    got = {
        (r["doc_id_new"], r["doc_id_other"], r["pair_kind"]): r["est_jaccard"]
        for r in inc
    }

    full = minhash_lsh_pairs(
        corpus_docs.unionByName(new_docs), **params
    ).collect()
    # restrict full-recompute pairs to those touching the new batch,
    # reoriented to the incremental contract (new id first)
    new_ids = {10, 11, 12}
    expect = {}
    for r in full:
        a, b = r["doc_id_a"], r["doc_id_b"]
        if a in new_ids and b in new_ids:
            expect[(min(a, b), max(a, b), "new")] = r["est_jaccard"]
        elif b in new_ids:
            expect[(b, a, "corpus")] = r["est_jaccard"]
        elif a in new_ids:
            expect[(a, b, "corpus")] = r["est_jaccard"]
    assert got == expect
    assert (10, 1, "corpus") in got      # cross-index near-dup found
    assert (11, 12, "new") in got        # in-batch near-dup found

    # the broadcast-off path is the same relation
    inc2 = minhash_lsh_pairs_incremental(
        new_docs, corpus_sigs, broadcast_new=False, **params
    ).collect()
    assert {
        (r["doc_id_new"], r["doc_id_other"], r["pair_kind"]): r["est_jaccard"]
        for r in inc2
    } == got


def test_minhash_incremental_index_round_trips_parquet(spark, tmp_path):
    """The index contract: signatures persisted to parquet and read
    back score identically (the daily-ingest loop's storage path)."""
    from teleco_etl_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus_docs = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    new_docs = spark.createDataFrame(
        [(2, base.replace("today", "tomorrow"))], ["doc_id", "text"]
    )
    idx_path = str(tmp_path / "minhash_index")
    minhash_signatures(corpus_docs, n=3, num_hashes=32).write.parquet(idx_path)
    sigs = spark.read.parquet(idx_path)
    out = minhash_lsh_pairs_incremental(
        new_docs, sigs, n=3, num_hashes=32, bands=8, threshold=0.25
    ).collect()
    assert [(r["doc_id_new"], r["doc_id_other"]) for r in out] == [(2, 1)]


def test_semantic_dedup_arrow_matches_declarative(spark, sf_dir):
    """The applyInPandas/BLAS execution and the declarative self-join
    execution are the SAME logical operator — identical output rows,
    including dup_of attribution (block smaller than the cluster size
    so the blocked matmul path is exercised across block boundaries)."""
    from teleco_etl_pipeline_spark.operators.similarity import semantic_dedup
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    fast = semantic_dedup(emb, n_clusters=8, threshold=0.35, arrow=True, block=64)
    slow = semantic_dedup(emb, n_clusters=8, threshold=0.35, arrow=False)
    to_rows = lambda df: sorted(  # noqa: E731
        (r["vec_id"], r["cluster"], r["keep"], r["dup_of"]) for r in df.collect()
    )
    assert to_rows(fast) == to_rows(slow)


def test_ivf_partitioned_layout_prunes_probed_read(spark, sf_dir, tmp_path):
    """The 100 TB IVF claim exercised, not just stated: writing the
    assigned table partitionBy("ivf_list") must make the probed-list
    IN-filter a PARTITION filter on the read (only n_probe of the
    n_centroids list directories scanned), and the pruned read must
    return exactly the same top-k as the in-memory probed scan."""
    import numpy as np

    from teleco_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    assigned, centroids = ivf_assign(emb, n_centroids=8)
    path = str(tmp_path / "ivf_lists")
    assigned.write.partitionBy("ivf_list").parquet(path)

    sims = (centroids @ np.asarray(qvec)) / (
        np.linalg.norm(centroids, axis=1) * np.linalg.norm(qvec) + 1e-12
    )
    probe = [int(i) for i in np.argsort(-sims)[:4]]

    stored = spark.read.parquet(path)
    pruned = stored.filter(F.col("ivf_list").isin(probe))
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in scan
    # the probed-list predicate must prune at the partition level —
    # ivf_list is a directory key, not a data column in the files
    assert "ivf_list" in scan.split("PartitionFilters:")[1].splitlines()[0]

    on_disk = brute_force_topk(pruned, qvec, k=10, exclude_ids=(0,)).collect()
    in_mem = ivf_topk(
        assigned, centroids, qvec, k=10, n_probe=4, exclude_ids=(0,)
    ).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in on_disk] == [
        (r["vec_id"], r["cosine_sim"]) for r in in_mem
    ]


def test_frequent_ngram_scrub_crafted_docs(spark):
    from teleco_etl_pipeline_spark.operators.dedup import frequent_ngram_scrub

    # "x y z" appears in 5 docs → frequent at min_freq=5; everything
    # else is unique. Doc 99 is pure boilerplate → scrubbed to empty.
    docs = spark.createDataFrame(
        [(i, f"u{i} x y z v{i}") for i in range(4)]
        + [(99, "x y z"), (100, "totally unique words here")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in frequent_ngram_scrub(docs, n=3, min_freq=5).collect()
    }
    assert out[0]["scrubbed_text"] == "u0 v0"
    assert out[0]["n_removed"] == 3
    assert out[99]["scrubbed_text"] == ""
    assert out[99]["n_removed"] == 3
    assert out[100]["scrubbed_text"] == "totally unique words here"
    assert out[100]["n_removed"] == 0
    # Every input doc comes back exactly once.
    assert sorted(out) == [0, 1, 2, 3, 99, 100]


def test_frequent_ngram_scrub_overlapping_spans(spark):
    from teleco_etl_pipeline_spark.operators.dedup import frequent_ngram_scrub

    # Two overlapping frequent trigrams ("a b c" and "b c d") cover
    # positions 1-4 jointly — overlap must not double-remove.
    docs = spark.createDataFrame(
        [(i, "a b c d") for i in range(5)] + [(9, "tail a b c d keep")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in frequent_ngram_scrub(docs, n=3, min_freq=5).collect()
    }
    assert out[0]["scrubbed_text"] == ""
    assert out[0]["n_removed"] == 4
    # Doc 9 contributes "a b c" and "b c d" too (6 occurrences each
    # corpus-wide); its unique flanks survive.
    assert out[9]["scrubbed_text"] == "tail keep"
    assert out[9]["n_removed"] == 4


def test_pq_topk_recall_and_exact_rerank_property(spark, sf_dir):
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        pq_assign,
        pq_fit,
        pq_topk,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cb = pq_fit(emb, m=4, k=16)
    assert cb.shape == (4, 16, 16)
    coded = pq_assign(emb, cb)
    exact = [
        r["vec_id"] for r in brute_force_topk(emb, qv, k=10, exclude_ids=(0,)).collect()
    ]
    got = {
        r["vec_id"]: r["cosine_sim"]
        for r in pq_topk(coded, cb, qv, k=10, rerank=50, exclude_ids=(0,)).collect()
    }
    # ADC with a 50-wide rerank window recovers a meaningful share of
    # the true top-10 even on near-random vectors (measured 0.6).
    assert len(set(got) & set(exact)) >= 4
    # Rerank is EXACT: any returned similarity equals the brute-force
    # value for that id (the ADC approximation never leaks through).
    exact_sims = {
        r["vec_id"]: r["cosine_sim"]
        for r in brute_force_topk(emb, qv, k=500, exclude_ids=(0,)).collect()
    }
    assert all(exact_sims[i] == s for i, s in got.items())
    # A rerank window covering the whole corpus degrades to exact
    # brute force — ADC ordering can hide nothing past the window.
    full = [
        r["vec_id"]
        for r in pq_topk(coded, cb, qv, k=10, rerank=500, exclude_ids=(0,)).collect()
    ]
    assert full == exact


def test_batch_topk_agrees_with_single_query_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.similarity import (
        batch_topk,
        brute_force_topk,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch = batch_topk(emb, qs, k=5)
    for qid in range(3):
        qv = emb.filter(F.col("vec_id") == qid).select("embedding").first()[0]
        single = [
            (r["vec_id"], r["cosine_sim"])
            for r in brute_force_topk(emb, qv, k=5, exclude_ids=(qid,)).collect()
        ]
        got = [
            (r["vec_id"], r["cosine_sim"])
            for r in batch.filter(F.col("query_id") == qid)
            .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
            .collect()
        ]
        assert got == single


def test_pq_codes_table_scan_prunes_vectors(spark, sf_dir, tmp_path):
    """The 100 TB PQ claim, exercised: candidate generation over a
    persisted codes table must read ONLY (vec_id, codes) — the
    embedding column stays un-scanned (ReadSchema pruning)."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.similarity import (
        pq_adc_score,
        pq_assign,
        pq_fit,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cb = pq_fit(emb, m=4, k=16)
    path = str(tmp_path / "pq_codes")
    pq_assign(emb, cb).write.parquet(path)

    coded = spark.read.parquet(path)
    cand = (
        coded.select("vec_id", pq_adc_score(cb, qv).alias("approx_cos"))
        .orderBy(F.desc("approx_cos"), F.asc("vec_id"))
        .limit(50)
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "embedding" not in scan[0], scan[0]
    assert "codes" in scan[0], scan[0]
    # and the candidate set is identical to scoring the full table
    full = (
        pq_assign(emb, cb)
        .select("vec_id", pq_adc_score(cb, qv).alias("approx_cos"))
        .orderBy(F.desc("approx_cos"), F.asc("vec_id"))
        .limit(50)
    )
    assert [r["vec_id"] for r in cand.collect()] == [
        r["vec_id"] for r in full.collect()
    ]


def test_ivfpq_topk_recall_vs_brute_force(spark, sf_dir):
    """IVFADC (coarse cells + residual-PQ ADC + exact rerank) must
    recover most of the exact top-10 with half the cells probed — the
    same bound the plain-IVF twin meets, since the rerank window is
    wide enough to absorb ADC approximation error at this SF."""
    from teleco_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_assign,
        ivfpq_fit,
        ivfpq_topk,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    exact = {
        r["vec_id"]
        for r in brute_force_topk(emb, qvec, k=10, exclude_ids=(0,)).collect()
    }
    cents, cb = ivfpq_fit(emb)
    assigned = ivfpq_assign(emb, cents, cb)
    approx = {
        r["vec_id"]
        for r in ivfpq_topk(
            assigned, cents, cb, qvec, k=10, exclude_ids=(0,)
        ).collect()
    }
    assert len(exact & approx) >= 5


def test_ivfpq_assign_matches_numpy_replica(spark, sf_dir):
    """The Arrow-batched encode pass (cell + residual codes in one
    UDF) must agree with a straight-line numpy replay on the same
    fitted tensors — guards the residual subtraction and the
    per-subspace argmin formula against drift."""
    import numpy as np

    from teleco_etl_pipeline_spark.operators.similarity import (
        ivfpq_assign,
        ivfpq_fit,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents, cb = ivfpq_fit(emb)
    m, k_cent, dsub = cb.shape
    got = {
        r["vec_id"]: (r["ivf_list"], tuple(r["codes"]))
        for r in ivfpq_assign(emb, cents, cb)
        .select("vec_id", "ivf_list", "codes")
        .collect()
    }
    rows = emb.select("vec_id", "embedding").collect()
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        lst = int(((x[None, :] - cents) ** 2).sum(axis=1).argmin())
        resid = x - cents[lst]
        codes = tuple(
            int(
                ((resid[j * dsub : (j + 1) * dsub][None, :] - cb[j]) ** 2)
                .sum(axis=1)
                .argmin()
            )
            for j in range(m)
        )
        assert got[r["vec_id"]] == (lst, codes), r["vec_id"]


def test_ivfpq_probed_scan_prunes_partitions_and_vectors(spark, sf_dir, tmp_path):
    """The 100 TB IVFADC claim, exercised end-to-end on a persisted
    index: write (vec_id, ivf_list, codes) partitioned by ivf_list,
    then a probed ADC scan must (a) read only the probed partition
    directories (PartitionFilters, no full-index scan) and (b) never
    touch a vector column (ReadSchema is the skinny code table)."""
    from teleco_etl_pipeline_spark.operators.similarity import (
        ivfpq_adc_score,
        ivfpq_assign,
        ivfpq_fit,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cents, cb = ivfpq_fit(emb)
    path = str(tmp_path / "ivfpq_index")
    ivfpq_assign(emb, cents, cb).select(
        "vec_id", "ivf_list", "codes"
    ).write.partitionBy("ivf_list").parquet(path)

    index = spark.read.parquet(path)
    probe = [0, 1]
    cand = (
        index.filter(F.col("ivf_list").isin(probe))
        .select("vec_id", ivfpq_adc_score(cents, cb, qv).alias("approx_dot"))
        .orderBy(F.desc("approx_dot"), F.asc("vec_id"))
        .limit(50)
    )
    plan = cand._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and "ivf_list" in scans[0], plan
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "embedding" not in read[0], read
    # the pruned scan really is partition-pruned: only the probed
    # directories' rows flow into the candidate set
    expected = {
        r["vec_id"]
        for r in index.collect()
        if r["ivf_list"] in probe
    }
    assert {r["vec_id"] for r in cand.collect()} <= expected


def test_lsh_knn_join_degrades_to_exact_with_zero_planes(spark, sf_dir):
    """0 planes = one global bucket = the exact kNN join. Pinned
    against an independent numpy re-implementation of the SAME
    quantized-integer cosine (floor(x·1e6) components, exact integer
    dots, num/sqrt(den_a·den_b)) with the same (key DESC, id ASC)
    tie-break — the determinism-by-construction contract."""
    import numpy as np
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.similarity import lsh_knn_join
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    knn = lsh_knn_join(emb, k=3, n_planes=0, dim=64)
    got = {
        (r["vec_id"], r["neighbor_id"], r["rn"], r["cosine_sim"])
        for r in knn.collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    q = np.floor(
        np.vstack([r["embedding"] for r in rows]).astype(np.float64) * 1e6
    )
    den = np.einsum("ij,ij->i", q, q)
    want = set()
    for i in range(len(ids)):
        keys = []
        for j in range(len(ids)):
            if i == j:
                continue
            d = np.sqrt(den[i] * den[j])
            c = float(np.dot(q[i], q[j]) / d) if d > 0 else -2.0
            keys.append((c, ids[j]))
        keys.sort(key=lambda t: (-t[0], t[1]))
        for rn, (c, nid) in enumerate(keys[:3], start=1):
            want.add((int(ids[i]), int(nid), rn, c))
    assert got == want


def test_knn_label_classify_separable_clusters(spark):
    from teleco_etl_pipeline_spark.operators.similarity import knn_label_classify

    # Two tight, well-separated clusters: kNN voting must agree with
    # the stored labels everywhere.
    rows = []
    for i in range(6):
        rows.append((i, [10.0 + 0.01 * i, 0.0, 0.0, 0.0], 0))
    for i in range(6):
        rows.append((100 + i, [0.0, 0.0, 10.0 + 0.01 * i, 0.0], 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["label"]: r
        for r in knn_label_classify(emb, k=3, n_planes=0, dim=4).collect()
    }
    assert out[0]["n_total"] == 6 and out[0]["n_predicted"] == 6
    assert out[0]["n_correct"] == 6
    assert out[1]["n_total"] == 6 and out[1]["agreement"] == 1.0


def test_knn_label_classify_reports_coverage_collapse(spark):
    from teleco_etl_pipeline_spark.operators.similarity import knn_label_classify

    # Label 1's single vector is orthogonal to everything and (with
    # one plane) hashes to its own bucket — zero neighbors, zero
    # predictions. The report must show n_total=1 / n_predicted=0 /
    # sentinel agreement instead of silently dropping the label.
    rows = [(i, [10.0 + i, 1.0], 0) for i in range(4)] + [(9, [-5.0, 50.0], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r["label"]: r
        for r in knn_label_classify(emb, k=2, n_planes=1, dim=2).collect()
    }
    assert out[1]["n_total"] == 1
    assert out[1]["n_predicted"] == 0
    assert out[1]["agreement"] == -1.0
    assert out[0]["n_predicted"] == out[0]["n_total"] == 4


def test_knn_total_coverage_fallback_predicts_every_vector(spark):
    """total_coverage=True: the brute-force leftovers pass fills in
    every vector the sparse buckets left neighborless — coverage
    must be total AND the fallback must genuinely fire (the plain
    LSH variant on the same data has n_predicted < n_total)."""
    from teleco_etl_pipeline_spark.operators.similarity import knn_label_classify

    # Same shape as the collapse test: one orthogonal singleton.
    rows = [(i, [10.0 + i, 1.0], 0) for i in range(4)] + [(9, [-5.0, 50.0], 1)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    plain = {
        r["label"]: r
        for r in knn_label_classify(emb, k=2, n_planes=1, dim=2).collect()
    }
    assert plain[1]["n_predicted"] < plain[1]["n_total"]  # fallback needed
    total = {
        r["label"]: r
        for r in knn_label_classify(
            emb, k=2, n_planes=1, dim=2, total_coverage=True
        ).collect()
    }
    for lab in (0, 1):
        assert total[lab]["n_predicted"] == total[lab]["n_total"]
        assert total[lab]["agreement"] != -1.0


def test_knn_total_coverage_on_harness_embeddings(spark, sf_dir):
    """On real harness data with sparse 8-plane buckets, the catalog's
    total-coverage query predicts every vector of every label."""
    from teleco_etl_pipeline_spark.operators.similarity import knn_label_classify
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = knn_label_classify(
        emb, k=5, n_planes=8, dim=64, total_coverage=True, fallback_candidates=64
    ).collect()
    assert out, "expected at least one label"
    for r in out:
        assert r["n_predicted"] == r["n_total"], r


def test_rrf_fuse_rewards_presence_in_both_lists(spark):
    from teleco_etl_pipeline_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, r int"
    )
    b = spark.createDataFrame(
        [(3, 1), (4, 2)], "doc_id long, r int"
    )
    out = {r["doc_id"]: r["rrf"] for r in rrf_fuse(a, b, top_n=10).collect()}
    # doc 3 (rank 3 + rank 1) beats doc 1 (rank 1 only).
    assert out[3] == round(1 / 63 + 1 / 61 + 1e-9, 6)
    assert out[1] == round(1 / 61 + 1e-9, 6)
    assert out[3] > out[1] > out[2]
    # same rank in either list scores the same (channel-symmetric)
    assert out[2] == out[4]
    assert set(out) == {1, 2, 3, 4}


def test_aqe_splits_skewed_join_partition(spark, tmp_path):
    """The 100 TB skew story has two layers: deterministic salting
    (operators/skew.py) for joins we control, and AQE's runtime skew
    split for everything else. This pins the second layer: with a
    hot key dominating one partition, AQE must mark the sort-merge
    join skewed (skew=true) and split the oversized partition."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # left: one hot key with 50k rows, 9 keys with 100 each
        left = spark.range(0, 50_000).select(
            F.lit(0).alias("k"), F.col("id").alias("a")
        ).unionAll(
            spark.range(0, 900).select(
                (F.col("id") % 9 + 1).alias("k"), F.col("id").alias("a")
            )
        )
        right = spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("b")
        )
        joined = left.join(right, "k")
        # Execute THIS frame (count() would spawn a separate
        # QueryExecution and leave joined's adaptive plan non-final).
        assert len(joined.collect()) == 50_900
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_asof_nearest_join_picks_closer_side(spark):
    from teleco_etl_pipeline_spark.operators.temporal import asof_nearest_join

    left = spark.createDataFrame(
        [(1, 10, 100, "a"), (1, 26, 101, "b"), (2, 5, 102, "c")],
        ["k", "ts_us", "eid", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 7, 200, 7.0), (1, 30, 201, 30.0)], ["k", "ts_us", "eid", "v"]
    )
    out = {
        r["tag"]: (r["nearest_v"], r["nearest_delta_us"])
        for r in asof_nearest_join(
            left, right, ["k"], "ts_us", "v", "eid"
        ).collect()
    }
    # a: back=7 (d=3) vs fwd=30 (d=20) → back; b: back=7 (d=19) vs
    # fwd=30 (d=4) → fwd; c: key 2 has no right rows → sentinels.
    assert out == {"a": (7.0, 3), "b": (30.0, 4), "c": (-1.0, -1)}


def test_asof_nearest_join_tie_prefers_backward(spark):
    from teleco_etl_pipeline_spark.operators.temporal import asof_nearest_join

    left = spark.createDataFrame([(1, 10, 100, "x")], ["k", "ts_us", "eid", "tag"])
    right = spark.createDataFrame(
        [(1, 8, 200, 8.0), (1, 12, 201, 12.0)], ["k", "ts_us", "eid", "v"]
    )
    (row,) = asof_nearest_join(left, right, ["k"], "ts_us", "v", "eid").collect()
    assert (row["nearest_v"], row["nearest_delta_us"]) == (8.0, 2)


def test_asof_nearest_join_single_shuffle(spark):
    """The union + two-frame formulation must shuffle once on the key,
    not once per frame or per side."""
    from teleco_etl_pipeline_spark.operators.temporal import asof_nearest_join

    left = spark.range(10).selectExpr(
        "id % 3 AS k", "id * 5 AS ts_us", "id AS eid", "'t' AS tag"
    )
    right = spark.range(10).selectExpr(
        "id % 3 AS k", "id * 7 AS ts_us", "id + 100 AS eid", "CAST(id AS DOUBLE) AS v"
    )
    plan = asof_nearest_join(
        left, right, ["k"], "ts_us", "v", "eid"
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_mergeable_agg_update_equals_full_recompute(spark):
    from teleco_etl_pipeline_spark.operators.upsert import mergeable_agg_update

    spec = {"n": "count", "total": "sum", "lo": "min", "hi": "max"}

    b1 = spark.createDataFrame([(1, 10.0), (1, 20.0), (2, 5.0)], ["k", "v"])
    b2 = spark.createDataFrame([(1, 30.0), (3, 7.0)], ["k", "v"])
    b3 = spark.createDataFrame([(2, 1.0), (3, 2.0), (3, 9.0)], ["k", "v"])

    def prep(b):
        return b.select(
            "k", F.col("v").alias("n"), F.col("v").alias("total"),
            F.col("v").alias("lo"), F.col("v").alias("hi"),
        )

    summary = None
    for b in (b1, b2, b3):
        summary = mergeable_agg_update(summary, prep(b), ["k"], spec)

    full = mergeable_agg_update(
        None, prep(b1.unionByName(b2).unionByName(b3)), ["k"], spec
    )

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    assert canon(summary) == canon(full)
    row = {r["k"]: r for r in summary.collect()}
    assert row[3]["n"] == 3 and row[3]["total"] == 18.0
    assert row[3]["lo"] == 2.0 and row[3]["hi"] == 9.0


def test_shingles_short_and_empty_docs_yield_no_spans(spark):
    """Regression: sequence(0, size-n) counts DOWN for short arrays
    ([0,-1]) and the i=-1 slice crashed at runtime; short docs must
    instead contribute zero shingles (the oracle's len(toks)>=n)."""
    from teleco_etl_pipeline_spark.operators.text import shingles, tokens

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", shingles(tokens("text"), 3).alias("sh")
        ).collect()
    }
    assert rows[1] == [] and rows[2] == [] and rows[3] == []
    assert rows[4] == ["one two three", "two three four"]


def test_zorder_rejects_overflowing_bit_budget(spark, tmp_path):
    import pytest as _pytest

    from teleco_etl_pipeline_spark.operators.maintenance import zorder_by

    p = str(tmp_path / "ztbl")
    spark.range(10).selectExpr(*[f"id AS c{i}" for i in range(7)]).write.parquet(p)
    with _pytest.raises(ValueError, match="<= 63"):
        zorder_by(spark, p, [f"c{i}" for i in range(7)], bits=10)


def test_trailing_distinct_empty_and_single_day(spark):
    import datetime

    from teleco_etl_pipeline_spark.operators.temporal import (
        trailing_distinct_count,
    )

    empty = spark.createDataFrame([], "d date, user_id int")
    assert trailing_distinct_count(empty, "d", "user_id", 7).count() == 0
    one = spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 1), 2)],
        "d date, user_id int",
    )
    rows = trailing_distinct_count(one, "d", "user_id", 7).collect()
    assert len(rows) == 1 and rows[0]["n_distinct"] == 2


def test_token_budget_mix_boundary_doc_admitted(spark):
    """A budget smaller than the first doc still admits that doc whole
    (cum - own < B with cum==own); the second doc is cut."""
    from pyspark.sql import functions as F

    from teleco_etl_pipeline_spark.operators.sampling import token_budget_mix

    docs = spark.createDataFrame(
        [(1, "s", "a b c d e"), (2, "s", "f g h")],
        "doc_id long, source string, text string",
    )
    kept = token_budget_mix(docs, budget=1)
    rows = kept.collect()
    assert len(rows) == 1  # exactly the first-in-hash-order doc
    # Caller columns survive (ADVICE r5: the admitted-doc SET is the
    # operator's product, not just its aggregate).
    assert set(kept.columns) == {"doc_id", "source", "text", "__toks", "__cum"}
    assert rows[0]["doc_id"] in (1, 2) and rows[0]["text"]
    assert kept.agg(F.sum("__toks")).first()[0] in (5, 3)


def test_ivfpq_fit_tiny_table_caps_centroids(spark):
    """Fewer vectors than coarse cells: _lloyd_fit caps k at the
    sample size and the whole encode/query path still works."""
    import numpy as np

    from teleco_etl_pipeline_spark.operators.similarity import (
        ivfpq_assign,
        ivfpq_fit,
        ivfpq_topk,
    )

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, cb = ivfpq_fit(emb)
    assert cents.shape[0] <= 5
    assigned = ivfpq_assign(emb, cents, cb)
    got = ivfpq_topk(assigned, cents, cb, rows[0][1], k=3, exclude_ids=(0,))
    assert 0 < got.count() <= 3


def test_basket_selfjoin_cap_and_aqe_skew(spark, tmp_path):
    """part_basket_lift's two skew layers (VERDICT r5 stretch):
    (1) the STRUCTURAL basket-size cap — a pathological 150-part
    order is excluded before pairing, since its B² fan-out is
    intrinsic and no runtime split can shrink it; (2) below the cap,
    AQE's runtime skew-join split absorbs residual imbalance on the
    within-order self-join shape (skew=true in the final plan)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from teleco_etl_pipeline_spark.plans.registry import all_queries

    # --- layer 1: the cap, through the registered query -------------
    # Orders 2..10 each hold parts {1,2}; hot order 1 holds {1,2} plus
    # 148 filler parts (basket 150 > cap 100). With the cap, the
    # (1,2) pair counts 9 co-occurrences, not 10.
    rows = [(o, p) for o in range(2, 11) for p in (1, 2)]
    rows += [(1, p) for p in [1, 2] + list(range(100, 248))]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[0] for r in rows], type=pa.int64()),
                "l_partkey": pa.array([r[1] for r in rows], type=pa.int64()),
            }
        ),
        os.path.join(str(tmp_path), "lineitem.parquet"),
    )
    out = all_queries()["part_basket_lift"].build(spark, str(tmp_path)).collect()
    assert len(out) == 1 and (out[0]["part_a"], out[0]["part_b"]) == (1, 2)
    assert out[0]["n_ab"] == 9  # hot order excluded by the cap

    # --- layer 2: AQE skew split on the self-join shape -------------
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # One hot-but-under-cap order (1200 parts) + many small ones:
        # the same a⋈b on l_orderkey that basket pairing runs.
        io = spark.range(0, 1200).select(
            F.lit(0).alias("l_orderkey"), F.col("id").alias("l_partkey")
        ).unionAll(
            spark.range(0, 900).select(
                (F.col("id") % 300 + 1).alias("l_orderkey"),
                F.col("id").alias("l_partkey"),
            )
        )
        a = io.select("l_orderkey", F.col("l_partkey").alias("part_a"))
        b = io.select("l_orderkey", F.col("l_partkey").alias("part_b"))
        pairs = (
            a.join(b, "l_orderkey")
            .filter(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
        )
        assert pairs.count() > 0  # separate QueryExecution, warms nothing
        pairs.collect()
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_zorder_key_matches_python_morton(spark):
    from teleco_etl_pipeline_spark.operators.layout import zorder_key

    def morton(x, y, bits=8):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    rows = [(x, y) for x in (0, 1, 5, 127, 200, 255) for y in (0, 3, 64, 255)]
    df = spark.createDataFrame(rows, "x int, y int").select(
        "x", "y", zorder_key([F.col("x"), F.col("y")]).alias("z")
    )
    for r in df.collect():
        assert r["z"] == morton(r["x"], r["y"]), (r["x"], r["y"])


def test_zorder_files_bound_both_dimension_spans(spark, tmp_path):
    """The data-skipping property the report quantifies: a 16-file
    Z-order layout of a 256x256 key space gives every file a <=64
    span in BOTH dimensions, while the single-column linear layout
    leaves the other dimension unbounded (full-range span). Dense
    synthetic keys — the harness sf0.001 suppkey domain is [0,9],
    too narrow to exhibit the contrast."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from teleco_etl_pipeline_spark.plans.registry import all_queries

    n = 65536
    pq.write_table(
        pa.table(
            {
                "l_partkey": pa.array([i % 256 for i in range(n)], type=pa.int64()),
                "l_suppkey": pa.array([i // 256 for i in range(n)], type=pa.int64()),
            }
        ),
        os.path.join(str(tmp_path), "lineitem.parquet"),
    )
    rows = (
        all_queries()["zorder_layout_report"].build(spark, str(tmp_path)).collect()
    )
    z = [r for r in rows if r["layout"] == "zorder"]
    lin = [r for r in rows if r["layout"] == "linear"]
    assert z and lin
    assert all(r["x_span"] <= 64 and r["y_span"] <= 64 for r in z)
    assert all(r["x_span"] <= 16 for r in lin)
    assert max(r["y_span"] for r in lin) > 64  # unpruned second dim


def test_zorder_repartition_tightens_rowgroup_stats(spark, tmp_path):
    """zorder_repartition + parquet write: each output file's min/max
    must cover a hypercube (<=64 span per dim for 16 files), the
    stats row-group pruning keys off."""
    import pyarrow.parquet as pq

    from teleco_etl_pipeline_spark.operators.layout import zorder_repartition

    df = spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    out = str(tmp_path / "z")
    zorder_repartition(df, [F.col("x"), F.col("y")], n_files=16).write.parquet(out)
    import glob

    spans = []
    for f in glob.glob(out + "/*.parquet"):
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans.append((max(xs) - min(xs), max(ys) - min(ys)))
    assert spans
    # range partitioning is sample-based so allow one straddling file
    ok = [s for s in spans if s[0] <= 127 and s[1] <= 127]
    assert len(ok) >= len(spans) - 2, spans


def test_warehouse_write_zordered_clusters_table(spark, tmp_path, monkeypatch):
    """Warehouse.write_zordered — the engine write path wired to the
    layout operator: the written layer table must (a) round-trip all
    rows, (b) have per-file min/max spans bounded on BOTH clustered
    dimensions (the row-group-pruning contract a single-column sort
    cannot give), and (c) stay atomic (success marker present). The
    rows come from files and the target file size is 1/16 of them, so
    the table has files whose spans can be checked."""
    import glob
    import os

    import pyarrow.parquet as pq

    from teleco_etl_pipeline_spark import catalog
    from teleco_etl_pipeline_spark.catalog import Warehouse

    src = str(tmp_path / "src")
    spark.range(0, 65536).select(
        (F.col("id") % 256).alias("x"),
        (F.col("id") / 256).cast("long").alias("y"),
        F.col("id").alias("v"),
    ).write.parquet(src)
    nbytes = sum(os.path.getsize(f) for f in glob.glob(src + "/*.parquet"))
    monkeypatch.setattr(catalog, "TARGET_FILE_BYTES", nbytes // 16 + 1)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.read.parquet(src)
    wh.write_zordered(df, "gold", "zfact", [F.col("x"), F.col("y")])
    path = wh.path("gold", "zfact")
    back = wh.read("gold", "zfact")
    assert back.count() == 65536
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    spans = []
    for f in glob.glob(path + "/*.parquet"):
        t = pq.read_table(f, columns=["x", "y"])
        if t.num_rows == 0:
            continue
        xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
        spans.append((max(xs) - min(xs), max(ys) - min(ys)))
    assert len(spans) >= 2
    ok = [s for s in spans if s[0] <= 127 and s[1] <= 127]
    assert len(ok) >= len(spans) - 2, spans
    # the helper column must not leak into the table schema
    assert set(back.columns) == {"x", "y", "v"}


def test_parquet_zonemap_prunes_clustered_table(spark, tmp_path):
    """Zone-map manifest over a key-clustered multi-file table: the
    footer-only manifest must (a) cover every row exactly once per
    column, (b) prune to a strict subset for a selective range, and
    (c) be SAFE — every row actually matching the predicate lives in
    a row group the pruner kept."""
    from teleco_etl_pipeline_spark.operators.maintenance import (
        cluster_by,
        parquet_zonemap,
        zonemap_prune,
    )

    path = str(tmp_path / "t")
    spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).write.parquet(path)
    cluster_by(spark, path, ["k"], target_file_bytes=16 * 1024, min_files=8)
    zm = parquet_zonemap(spark, path, ["k"]).cache()
    rows = zm.collect()
    assert sum(r["n_rows"] for r in rows) == 20_000
    assert len({r["file_name"] for r in rows}) >= 8
    kept = zonemap_prune(zm, "k", 5_000, 5_999).collect()
    assert kept and len(kept) < len(rows)  # real pruning happened
    # safety: matching rows only live in kept (file, row_group) pairs
    kept_files = {r["file_name"] for r in kept}
    import glob

    import pyarrow.parquet as pq

    for f in glob.glob(path + "/*.parquet"):
        t = pq.read_table(f, columns=["k"])
        hits = [x for x in t.column("k").to_pylist() if 5_000 <= x <= 5_999]
        if hits:
            assert f.rsplit("/", 1)[-1] in kept_files
    zm.unpersist()


def test_read_pruned_equals_full_filter(spark, tmp_path):
    """Manifest-driven read must return EXACTLY the rows of the
    equivalent full-table filter — pruning is a pure optimization —
    including the empty-range case (no file kept)."""
    from teleco_etl_pipeline_spark.operators.maintenance import (
        cluster_by,
        read_pruned,
    )

    path = str(tmp_path / "t")
    spark.range(0, 20_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    ).write.parquet(path)
    cluster_by(spark, path, ["k"], target_file_bytes=16 * 1024, min_files=8)
    full = {
        (r["k"], r["v"])
        for r in spark.read.parquet(path)
        .filter((F.col("k") >= 7_000) & (F.col("k") <= 7_499))
        .collect()
    }
    pruned = {
        (r["k"], r["v"])
        for r in read_pruned(spark, path, "k", 7_000, 7_499).collect()
    }
    assert pruned == full and len(full) == 500
    assert read_pruned(spark, path, "k", 10**9, 2 * 10**9).count() == 0


def test_prefix_jaccard_equals_naive_all_pairs(spark, sf_dir):
    """Prefix filtering is a lossless candidate generator: on harness
    docs the emitted pair set must EQUAL the naive share-any-token
    all-pairs verify at the same threshold (exactness is the whole
    point vs MinHash/SimHash)."""
    from teleco_etl_pipeline_spark.operators.dedup import prefix_jaccard_pairs
    from teleco_etl_pipeline_spark.operators.text import tokens
    from teleco_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(200)
    t = 0.7
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in prefix_jaccard_pairs(docs, threshold=t).collect()
    }
    # naive: exact jaccard over all pairs sharing any token
    tok = docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens("text"))).alias("tk")
    ).filter(F.col("tk") != "")
    sized = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = tok.select(F.col("doc_id").alias("id_a"), "tk")
    b = tok.select(F.col("doc_id").alias("id_b"), "tk")
    inter = (
        a.join(b, "tk")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sized.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("na"))
    sb = sized.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("nb"))
    jac = F.round(
        F.col("c").cast("double") / (F.col("na") + F.col("nb") - F.col("c"))
        + F.lit(1e-9),
        4,
    )
    naive = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= t)
        .collect()
    }
    assert naive, "expected near-dup pairs in the harness corpus"
    assert got == naive


def test_prefix_band_histogram_equals_expanded_pairs(spark, sf_dir):
    """Clique collapse + arithmetic expansion must reproduce the
    exact band counts of materializing every qualifying pair."""
    import math

    from teleco_etl_pipeline_spark.operators.dedup import (
        prefix_jaccard_band_histogram,
        prefix_jaccard_pairs,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(300)
    got = {
        r["jaccard_band"]: r["n_pairs"]
        for r in prefix_jaccard_band_histogram(docs, 9, 10).collect()
    }
    expect: dict[float, int] = {}
    for r in prefix_jaccard_pairs(docs, threshold=0.9).collect():
        band = round(math.floor(r["jaccard"] * 50) / 50 + 1e-9, 2)
        expect[band] = expect.get(band, 0) + 1
    assert got == expect and sum(got.values()) > 0


def test_df_cap_ladder_matches_sql():
    """The volume-scaled PPJoin hub cap must be the IDENTICAL exact
    integer on the Spark (Python) and oracle (DuckDB CASE) sides at
    every rung boundary — any divergence silently changes which
    tokens are hubs on exactly one engine."""
    import duckdb

    from teleco_etl_pipeline_spark.operators.dedup import (
        _DF_CAP_RUNGS,
        _df_cap,
        _sql_df_cap,
    )

    probes = {1, 2, 100}
    for bound, _cap in _DF_CAP_RUNGS:
        probes.update({bound - 1, bound, bound + 1})
    con = duckdb.connect()
    for n in sorted(probes):
        got_sql = con.execute(
            f"SELECT {_sql_df_cap(str(n))} AS c"
        ).fetchone()[0]
        assert got_sql == _df_cap(n), f"ladder diverges at n={n}"
    assert _df_cap(1) == 64
    assert _df_cap(16384) == 64 and _df_cap(16385) == 128
    assert _df_cap(10**15) == _DF_CAP_RUNGS[-1][1]


def test_prefix_hub_guard_drops_hub_only_pairs(spark):
    """df_cap semantics: a qualifying pair whose every shared PREFIX
    token is a hub (df > cap) is out of contract; a pair holding one
    rare prefix token still surfaces; capped output ⊆ uncapped."""
    from teleco_etl_pipeline_spark.operators.dedup import (
        _prefix_jaccard_pairs_from_sets,
    )

    rows = []
    # A=1, B=2: identical 10-token sets whose RAREST token h still
    # occurs in 4 sets (hub at cap 3).
    hub_set = ["h"] + [f"t{i}" for i in range(9)]
    rows.append((1, sorted(hub_set)))
    rows.append((2, sorted(hub_set)))
    # C=3, D=4: identical sets whose rarest token q occurs ONLY here
    # (df=2 <= cap) — the guarded join must keep this pair.
    rare_set = ["q"] + [f"u{i}" for i in range(9)]
    rows.append((3, sorted(rare_set)))
    rows.append((4, sorted(rare_set)))
    # Fillers push every t/u/h token's df above the cap; singleton
    # sets, ids >= 100.
    fid = 100
    for tok in [f"t{i}" for i in range(9)] + [f"u{i}" for i in range(9)]:
        for _ in range(4):
            rows.append((fid, [tok]))
            fid += 1
    for _ in range(2):
        rows.append((fid, ["h"]))
        fid += 1
    sets = spark.createDataFrame(rows, "doc_id int, toks array<string>")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in _prefix_jaccard_pairs_from_sets(sets, 9, 10).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in _prefix_jaccard_pairs_from_sets(
            sets, 9, 10, df_cap=3
        ).collect()
    }
    assert (1, 2) in uncapped and (3, 4) in uncapped
    assert (1, 2) not in capped, "hub-only pair must be guarded out"
    assert (3, 4) in capped, "rare-prefix pair must survive the guard"
    assert capped <= uncapped


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """The 100 TB star-join contract: when the fact table is
    partition-laid-out on the join key and the dim filter is NOT
    statically pushable (non-partition column), Spark must inject a
    dynamic-partition-pruning subquery so the fact scan reads only
    the dim-selected partitions at runtime."""
    fact_path = str(tmp_path / "fact")
    dim_path = str(tmp_path / "dim")
    spark.range(0, 20_000).select(
        (F.col("id") % 10).alias("p"), F.col("id").alias("v")
    ).write.partitionBy("p").parquet(fact_path)
    spark.range(0, 10).select(
        F.col("id").alias("p"), (F.col("id") % 5).alias("flag")
    ).write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("flag") == 0)  # p ∈ {0,5}
    joined = fact.join(dim, "p")
    assert joined.count() == 4_000
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_zonemap_update_reads_only_new_files(spark, tmp_path):
    """Incremental manifest maintenance: appending files adds ONLY
    their rows (existing rows survive byte-identical), and files
    removed from the table drop out of the refreshed manifest."""
    from teleco_etl_pipeline_spark.operators.maintenance import (
        parquet_zonemap,
        zonemap_update,
    )

    path = str(tmp_path / "t")

    def store(df, v):
        # the manifest is an INDEX table: persist + reread (a lazy
        # manifest would re-read deleted files' footers from lineage);
        # versioned paths, since the previous manifest feeds the next
        mpath = str(tmp_path / f"manifest_v{v}")
        df.write.parquet(mpath)
        return spark.read.parquet(mpath)

    spark.range(0, 1000).select(F.col("id").alias("k")).repartition(
        2
    ).write.parquet(path)
    m0 = store(parquet_zonemap(spark, path, ["k"]), 0)
    rows0 = {(r["file_name"], r["row_group"]): r for r in m0.collect()}
    # append two more files
    spark.range(5000, 6000).select(F.col("id").alias("k")).repartition(
        2
    ).write.mode("append").parquet(path)
    m1 = store(zonemap_update(spark, m0, path, ["k"]), 1)
    rows1 = {(r["file_name"], r["row_group"]): r for r in m1.collect()}
    assert set(rows0) < set(rows1)
    for key, r in rows0.items():
        assert rows1[key] == r  # old rows unchanged
    new_rows = [r for key, r in rows1.items() if key not in rows0]
    assert new_rows and all(r["min_val"] >= 5000 for r in new_rows)
    # full rebuild agrees with the incremental result
    full = {
        (r["file_name"], r["row_group"]): r
        for r in parquet_zonemap(spark, path, ["k"]).collect()
    }
    assert full == rows1
    # deletion: drop one file from disk, refresh — its rows vanish
    import glob
    import os

    victim = sorted(glob.glob(path + "/*.parquet"))[0]
    os.remove(victim)
    vname = victim.rsplit("/", 1)[-1]
    m2 = zonemap_update(spark, m1, path, ["k"])
    assert vname not in {r["file_name"] for r in m2.collect()}


def test_ivf_index_artifact_roundtrip_and_stored_query(spark, sf_dir):
    # Index persistence: save -> latest-wins resolve -> load must
    # reproduce the fitted centroids bit-exactly (float64 survives
    # the parquet round trip), and the stored-index query must equal
    # the fit-in-plan query row for row.
    import numpy as np

    from teleco_etl_pipeline_spark.operators.similarity import (
        _fit_sample,
        _lloyd_fit,
        latest_ivf_index,
        load_ivf_index,
        q_embedding_ivf_topk,
        q_embedding_ivf_topk_stored,
        save_ivf_index,
    )
    from teleco_etl_pipeline_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    art = "/tmp/__ivf_art"
    import shutil

    shutil.rmtree(art, ignore_errors=True)
    import os as _os

    _os.makedirs(art)
    save_ivf_index(spark, emb, art, version="20240101", n_centroids=8)
    save_ivf_index(spark, emb, art, version="20240202", n_centroids=8)
    path = latest_ivf_index(art)
    assert path.endswith("ivf_centroids_20240202")
    loaded = load_ivf_index(spark, path)
    refit = _lloyd_fit(_fit_sample(emb, "vec_id", "embedding", 4096), 8, 42, 10)
    assert loaded.shape == refit.shape
    assert np.array_equal(loaded, refit)  # bit-exact round trip
    stored = [tuple(r) for r in q_embedding_ivf_topk_stored(spark, sf_dir).collect()]
    inplan = [tuple(r) for r in q_embedding_ivf_topk(spark, sf_dir).collect()]
    assert stored == inplan


def test_neardup_cc_driver_matches_superstep_loop(spark, monkeypatch):
    """The sized driver union-find (r13 optimization) must produce the
    EXACT frame the superstep min-label loop produces — chain (tests
    transitivity), clique, pair, and singleton shapes."""
    from teleco_etl_pipeline_spark.operators import dedup, graph

    docs = spark.createDataFrame([(i,) for i in range(1, 12)], ["doc_id"])
    pairs = spark.createDataFrame(
        # chain 1-2-3-4, clique 5-6-7, pair 8-9; 10, 11 singletons
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7), (8, 9)],
        ["doc_id_a", "doc_id_b"],
    )
    driver = sorted(
        tuple(r) for r in dedup.neardup_clusters(pairs, docs).collect()
    )
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    loop = sorted(
        tuple(r) for r in dedup.neardup_clusters(pairs, docs).collect()
    )
    assert driver == loop
    assert {t[0]: t[1] for t in driver} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 8, 9: 8, 10: 10, 11: 11
    }


def test_ktruss_driver_matches_superstep_loop(spark, monkeypatch, tmp_path):
    """The sized driver peel (r13) must produce the exact trajectory
    the distributed oriented-wedge rounds produce on the same data."""
    from teleco_etl_pipeline_spark.operators import graph

    sf_dir = "/root/testdata/sf0.001"
    driver = [
        tuple(r) for r in graph.q_part_ktruss_peel(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    loop = [
        tuple(r) for r in graph.q_part_ktruss_peel(spark, sf_dir).collect()
    ]
    assert driver == loop and len(driver) == 3


def test_kcore_driver_matches_superstep_loop(spark, monkeypatch):
    """The sized driver k-core peel (r13) must produce the exact
    trajectory the distributed rounds produce on the same data."""
    from teleco_etl_pipeline_spark.operators import graph

    sf_dir = "/root/testdata/sf0.001"
    driver = [
        tuple(r) for r in graph.q_supplier_kcore_peel(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    loop = [
        tuple(r) for r in graph.q_supplier_kcore_peel(spark, sf_dir).collect()
    ]
    assert driver == loop and len(driver) == 3


def test_triangle_driver_matches_distributed(spark, monkeypatch):
    """The sized driver triangle counter (r14) must produce the exact
    top-k the distributed corner enumeration produces."""
    from teleco_etl_pipeline_spark.operators import graph

    sf_dir = "/root/testdata/sf0.001"
    driver = [
        tuple(r)
        for r in graph.q_supplier_triangle_count(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    dist = [
        tuple(r)
        for r in graph.q_supplier_triangle_count(spark, sf_dir).collect()
    ]
    assert driver == dist and driver


def test_clustering_driver_matches_distributed(spark, monkeypatch):
    """The sized driver clustering twin (r14) must emit bit-identical
    rows (including the rounded double coefficient)."""
    from teleco_etl_pipeline_spark.operators import graph

    sf_dir = "/root/testdata/sf0.001"
    driver = [
        tuple(r)
        for r in graph.q_supplier_clustering_coefficient(
            spark, sf_dir
        ).collect()
    ]
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    dist = [
        tuple(r)
        for r in graph.q_supplier_clustering_coefficient(
            spark, sf_dir
        ).collect()
    ]
    assert driver == dist and driver


def test_richclub_driver_matches_distributed(spark, monkeypatch):
    """The sized driver phi(k) twin (r14) must emit bit-identical rows
    (including the rounded double phi)."""
    from teleco_etl_pipeline_spark.operators import graph

    sf_dir = "/root/testdata/sf0.001"
    driver = [
        tuple(r) for r in graph.q_part_rich_club(spark, sf_dir).collect()
    ]
    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", -1)
    dist = [
        tuple(r) for r in graph.q_part_rich_club(spark, sf_dir).collect()
    ]
    assert driver == dist and len(driver) == 5


def test_driver_edges_bounded_collect(spark, monkeypatch):
    """The one driver-twin gate: int pairs up to the cap, None past it
    or for non-integral ids."""
    from teleco_etl_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "DRIVER_MAX_EDGES", 3)
    three = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "u int, v int")
    assert sorted(graph.driver_edges(three)) == [(1, 2), (2, 3), (3, 4)]
    four = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    assert graph.driver_edges(four) is None
    strs = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert graph.driver_edges(strs, "src", "dst") is None


def test_driver_triangle_stats_regimes_agree():
    """The dense-matmul and set-intersection regimes of
    _driver_triangle_stats are the same exact function."""
    from teleco_etl_pipeline_spark.operators.graph import (
        _driver_triangle_stats,
    )

    # K4 plus a pendant and a disjoint triangle
    es = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5),
          (10, 11), (10, 12), (11, 12)]
    deg_d, tri_d = _driver_triangle_stats(es)
    assert tri_d == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 10: 1, 11: 1, 12: 1}
    assert deg_d[4] == 4 and deg_d[5] == 1
    # force the sparse regime by shrinking the dense cutoff
    import numpy as np  # noqa: F401
    from teleco_etl_pipeline_spark.operators import graph as g

    adj = {}
    for u, v in es:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    tri_sparse = {
        n: sum(len(adj[n] & adj[x]) for x in adj[n]) // 2 for n in adj
    }
    assert tri_sparse == tri_d


def test_neardup_driver_gate_requires_integral_ids(spark):
    """Non-integer id frames must fall through to the (type-generic)
    superstep loop instead of crashing the int() union-find, and the
    driver path must preserve the input id type (r13 ADVICE)."""
    from teleco_etl_pipeline_spark.operators import dedup

    docs = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)],
                                 ["doc_id"])
    pairs = spark.createDataFrame([("a", "b"), ("b", "c")],
                                  ["doc_id_a", "doc_id_b"])
    out = {r["doc_id"]: r["cluster_id"]
           for r in dedup.neardup_clusters(pairs, docs).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "d": "d"}
    # integral ids of a narrower type keep that type on the driver path
    docs_i = spark.createDataFrame([(1,), (2,), (3,)], "doc_id int")
    pairs_i = spark.createDataFrame([(1, 2)], "doc_id_a int, doc_id_b int")
    rep = dedup.neardup_clusters(pairs_i, docs_i)
    assert dict(rep.dtypes)["cluster_id"] == "int"


def test_ivf_assignment_udf_not_duplicated(spark):
    """guide §4.4: the probe filter on the UDF-derived ivf_list must
    not double-evaluate the assignment UDF — exactly one
    ArrowEvalPython per pass in the physical plan."""
    from teleco_etl_pipeline_spark.operators.similarity import (
        q_embedding_ivf_topk,
        q_embedding_ivfpq_topk,
    )

    sf_dir = "/root/testdata/sf0.001"
    for q in (q_embedding_ivf_topk, q_embedding_ivfpq_topk):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1, q.__name__
