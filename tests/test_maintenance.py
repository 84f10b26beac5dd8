"""Table-maintenance operators: small-file compaction + range
clustering (layout for row-group data skipping)."""

from __future__ import annotations

import glob
import os

from teleco_etl_pipeline_spark.operators.maintenance import (
    cluster_by,
    compact,
    table_bytes,
)


def _parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def test_compact_reduces_file_count_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(10_000).withColumnRenamed("id", "k")
    df.repartition(64).write.parquet(path)
    assert len(_parquet_files(path)) == 64
    before = sorted(r["k"] for r in spark.read.parquet(path).collect())

    n = compact(spark, path, target_file_bytes=1 << 40)  # everything fits one
    files = _parquet_files(path)
    assert n == 1 and len(files) == 1
    assert sorted(r["k"] for r in spark.read.parquet(path).collect()) == before

    # idempotent: recompacting an already-compact table is a no-op shape
    assert compact(spark, path, target_file_bytes=1 << 40) == 1
    assert len(_parquet_files(path)) == 1


def test_compact_sizes_by_target_bytes(spark, tmp_path):
    path = str(tmp_path / "sized")
    spark.range(50_000).write.parquet(path)
    nbytes = table_bytes(spark, path)
    target = max(1, nbytes // 4)
    n = compact(spark, path, target_file_bytes=target)
    assert n == -(-nbytes // target)
    assert len(_parquet_files(path)) == n


def test_cluster_by_produces_disjoint_file_ranges(spark, tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "clustered")
    # round-robin repartition → every file initially spans the full
    # key range (no file-level pruning possible before clustering)
    spark.range(20_000).withColumnRenamed("id", "k").repartition(8).write.parquet(path)

    nbytes = table_bytes(spark, path)
    cluster_by(spark, path, keys=["k"], target_file_bytes=max(1, nbytes // 4))
    files = _parquet_files(path)
    assert len(files) >= 4

    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # contiguous, non-overlapping key ranges across files → any
    # engine's min/max pruning can skip all but one file per point
    # lookup
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2

    got = sorted(r["k"] for r in spark.read.parquet(path).collect())
    assert got == list(range(20_000))


def test_zorder_narrows_row_group_ranges_on_both_keys(spark, tmp_path):
    """Z-order vs single-key clustering: after zorder_by(x, y), the
    per-row-group min/max span must shrink well below the full domain
    for BOTH keys; cluster_by(x) leaves y at (nearly) full range in
    every file — the reason multi-filter tables need Morton layout."""
    import pyarrow.parquet as pq

    from teleco_etl_pipeline_spark.operators import maintenance

    n = 40_000
    df = spark.range(n).selectExpr(
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 4), 16, 10) AS LONG)"
        " % 1000 AS x",
        "CAST(conv(substring(md5(CAST(id + 7 AS STRING)), 1, 4), 16, 10) AS LONG)"
        " % 1000 AS y",
        "id AS payload",
    )

    def spans(path, col_idx):
        out = []
        import os

        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                out.append(st.max - st.min)
        return out

    zpath = str(tmp_path / "ztbl")
    df.write.parquet(zpath)
    maintenance.zorder_by(spark, zpath, ["x", "y"], bits=4, target_file_bytes=6_000)
    cpath = str(tmp_path / "ctbl")
    df.write.parquet(cpath)
    maintenance.cluster_by(spark, cpath, ["x"], target_file_bytes=6_000)

    cols = {
        f.name: i
        for i, f in enumerate(
            pq.ParquetFile(
                next(
                    str(p) for p in (tmp_path / "ztbl").iterdir()
                    if p.name.endswith(".parquet")
                )
            ).schema_arrow
        )
    }
    z_x, z_y = spans(zpath, cols["x"]), spans(zpath, cols["y"])
    c_y = spans(cpath, cols["y"])
    import statistics

    # both dimensions selective under z-order (< 40% of the domain)
    assert statistics.median(z_x) < 400, statistics.median(z_x)
    assert statistics.median(z_y) < 400, statistics.median(z_y)
    # single-key layout: the unsorted dimension stays ~full-range
    assert statistics.median(c_y) > 900, statistics.median(c_y)
    # rows preserved
    assert spark.read.parquet(zpath).count() == n


def test_read_pruned_reads_fewer_files_same_rows(spark, tmp_path):
    """The manifest-driven scan must (a) return exactly the rows a
    plain filtered read returns, and (b) hand Spark strictly fewer
    FILES when the table is clustered so most files' [min,max] miss
    the probe range — the files-read contract behind
    lineitem_pruned_window (round-8 stretch ask)."""
    from teleco_etl_pipeline_spark.operators.maintenance import read_pruned

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10_000).selectExpr("id AS k", "id % 7 AS v")
    # range-partitioned by k => 8 files with disjoint k ranges
    df.repartitionByRange(8, "k").write.parquet(path)
    assert len(_parquet_files(path)) == 8

    full = spark.read.parquet(path).filter("k >= 2000 AND k <= 2500")
    pruned = read_pruned(spark, path, "k", 2000, 2500)

    assert sorted(r.k for r in pruned.collect()) == sorted(
        r.k for r in full.collect()
    )
    assert len(set(pruned.inputFiles())) < len(_parquet_files(path))
    assert len(set(pruned.inputFiles())) >= 1


def test_read_pruned_single_file_table(spark, sf_dir):
    """Single-FILE tables (the testdata shape) must resolve paths
    correctly — regression for the os.path.join(path, name) bug."""
    from teleco_etl_pipeline_spark.operators.maintenance import read_pruned

    path = f"{sf_dir}/lineitem.parquet"
    got = read_pruned(spark, path, "l_orderkey", 1000, 2000).count()
    want = (
        spark.read.parquet(path)
        .filter("l_orderkey >= 1000 AND l_orderkey <= 2000")
        .count()
    )
    assert got == want and got > 0
