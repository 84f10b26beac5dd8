"""Warehouse storage on plain Parquet: keyed upsert, predicate
delete, swap healing, and the file-format features
(JSONL, schema evolution, hidden metadata) the layers rely on."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from teleco_etl_pipeline_spark import catalog
from teleco_etl_pipeline_spark.catalog import Warehouse
from teleco_etl_pipeline_spark.operators.upsert import delete_where, merge_upsert


def test_warehouse_routes_through_format(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    wh.write(df, "bronze", "t")
    assert os.path.isdir(wh.path("bronze", "t"))
    assert wh.read("bronze", "t").count() == 5


def _data_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def _jobs_in_group(spark, group, fn):
    """``fn()``'s result and the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_warehouse_writes_return_rows_written(spark, tmp_path, monkeypatch):
    """Each write returns the rows that call wrote, counted by its own
    job; the count must survive the z-order range sampler, whose job
    re-runs everything below the range exchange."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    on_disk = lambda table: wh.read("gold", table).count()  # noqa: E731

    def ids(lo, hi):
        return spark.range(lo, hi, numPartitions=8).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )

    assert wh.write(ids(0, 1000), "gold", "t") == 1000 == on_disk("t")
    assert wh.write(ids(1000, 1030), "gold", "t", mode="append") == 30
    assert on_disk("t") == 1030
    # Replaces the table it reads: drops the 143 + 5 rows with v == 0.
    kept = wh.read("gold", "t").filter(F.col("v") != 0)
    assert wh.overwrite_safe(kept, "gold", "t") == 882 == on_disk("t")

    # A file-backed frame and a small target: several files, so the
    # range exchange samples.
    src = str(tmp_path / "src")
    ids(0, 1000).write.parquet(src)
    monkeypatch.setattr(catalog, "TARGET_FILE_BYTES", 1024)
    zcols = [F.pmod(F.col("k"), F.lit(256)).cast("long"), F.col("v")]
    assert wh.write_zordered(spark.read.parquet(src), "gold", "z", zcols) == 1000
    assert on_disk("z") == 1000
    assert len(_data_files(wh.path("gold", "z"))) > 1

    assert wh.write(ids(0, 1000).limit(0), "gold", "empty") == 0 == on_disk("empty")


def test_warehouse_read_takes_the_footer_schema(spark, tmp_path):
    """``Warehouse.read`` passes the schema Spark stored in a footer,
    and it is the schema Spark's inference would give, for every kind
    of write; a read starts no Spark job."""
    wh = Warehouse(spark, str(tmp_path))

    def frame(lo, hi, wide=False):
        cols = [
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 > 0, F.col("id").cast("string")).alias("s"),
            F.lit(1.5).alias("x"),
            F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("ts"),
        ]
        if wide:
            cols.append(F.array(F.col("id")).alias("extra"))
        return spark.range(lo, hi, numPartitions=4).select(*cols)

    wh.write(frame(0, 100), "gold", "t")
    wh.write(frame(100, 120, wide=True), "gold", "t", mode="append")
    wh.overwrite_safe(frame(0, 50), "gold", "safe")
    wh.write_zordered(frame(0, 100), "gold", "z", [F.pmod("k", F.lit(16))])
    wh.write(frame(0, 10).limit(0), "gold", "empty")

    for table in ("t", "safe", "z", "empty"):
        got, jobs = _jobs_in_group(
            spark, f"read_{table}", lambda: wh.read("gold", table).schema
        )
        assert jobs == [], table
        assert got == spark.read.parquet(wh.path("gold", table)).schema, table


def test_warehouse_writes_one_zstd_file_per_small_table(spark, tmp_path):
    """A table far under ``TARGET_FILE_BYTES`` is one data file, whatever
    the partitioning of the frame that wrote it, and its column chunks
    are zstd-compressed."""
    src = str(tmp_path / "src")
    spark.range(1000, numPartitions=8).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).write.parquet(src)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    raw = spark.read.parquet(src)
    assert raw.rdd.getNumPartitions() > 1

    wh.write(raw, "bronze", "t")
    wh.overwrite_safe(wh.read("bronze", "t").filter(F.col("v") > 0), "bronze", "t")
    wh.write(raw.repartition(8, "v"), "silver", "t")
    wh.write_zordered(raw, "gold", "z", [F.pmod("k", F.lit(16))])
    for layer in ("bronze", "silver", "gold"):
        for table in os.listdir(os.path.join(wh.root, layer)):
            files = _data_files(wh.path(layer, table))
            assert len(files) == 1, (layer, table, files)
            meta = pq.read_metadata(files[0])
            assert meta.row_group(0).column(0).compression == "ZSTD"


def test_warehouse_sizes_files_from_input_bytes_through_a_cache(
    spark, tmp_path, monkeypatch
):
    """With a small target, a file-backed frame and a frame derived
    from a ``.cache()``d one both write ``ceil(bytes / target)`` files.
    ``DataFrame.inputFiles()`` finds no file behind the cache, so the
    second write needs the analyzed plan; the sizing starts no job."""
    src = str(tmp_path / "src")
    spark.range(20_000, numPartitions=8).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("s")
    ).write.parquet(src)
    nbytes = sum(os.path.getsize(f) for f in _data_files(src))
    target = nbytes // 3 + 1
    monkeypatch.setattr(catalog, "TARGET_FILE_BYTES", target)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    raw = spark.read.parquet(src)
    annotated = raw.withColumn("odd", F.col("k") % 2 == 1).cache()
    derived = annotated.filter(F.col("k") >= 0)
    assert derived.inputFiles() == []
    got, jobs = _jobs_in_group(spark, "sizing", lambda: catalog._input_bytes(derived))
    assert (got, jobs) == (nbytes, [])

    assert wh.write(raw, "staging", "plain") == 20_000
    assert wh.write(derived, "staging", "cached") == 20_000
    annotated.unpersist()
    for table in ("plain", "cached"):
        assert len(_data_files(wh.path("staging", table))) == -(-nbytes // target) == 3


def test_warehouse_read_infers_without_a_spark_footer(spark, tmp_path):
    """A data file whose footer carries no Spark schema (written by
    pyarrow) falls back to Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path))
    os.makedirs(wh.path("bronze", "arrow"))
    table = pa.table({"k": pa.array([1, 2, 3], pa.int64()), "v": ["a", None, "c"]})
    pq.write_table(table, os.path.join(wh.path("bronze", "arrow"), "part-0.parquet"))
    df = wh.read("bronze", "arrow")
    assert df.schema == spark.read.parquet(wh.path("bronze", "arrow")).schema
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3]


def test_load_table_infers_a_path_once(spark, tmp_path):
    """A second ``load_table`` of a pandas-written file starts no Spark
    job and reads the schema Spark infers; a rewritten file is inferred
    again."""
    import pyarrow as pa

    from teleco_etl_pipeline_spark.sources.tables import load_table

    path = os.path.join(tmp_path, "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_comment": ["a", None]}), path)
    first = load_table(spark, str(tmp_path), "orders")
    again, jobs = _jobs_in_group(
        spark, "load_again", lambda: load_table(spark, str(tmp_path), "orders").schema
    )
    assert jobs == []
    assert first.schema == again == spark.read.parquet(path).schema

    pq.write_table(pa.table({"o_orderkey": [3], "o_total": [1.5]}), path)
    os.utime(path, ns=(1, 1))
    rewritten = load_table(spark, str(tmp_path), "orders")
    assert rewritten.schema == spark.read.parquet(path).schema
    assert rewritten.columns == ["o_orderkey", "o_total"]


def test_parquet_delete_where_in_place(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(10).select(F.col("id").alias("k"))
    wh.write(df, "bronze", "t")
    wh.overwrite_safe(
        delete_where(wh.read("bronze", "t"), F.col("k") >= 7), "bronze", "t"
    )
    assert wh.read("bronze", "t").count() == 7


def test_parquet_delete_where_keeps_null_predicate_rows(spark):
    """SQL DELETE semantics: rows where the predicate is NULL are
    KEPT, not silently dropped by the ~predicate filter."""
    df = spark.createDataFrame(
        [(1, 150.0), (2, 50.0), (3, None)], ["id", "score"]
    )
    left = {r["id"] for r in delete_where(df, F.col("score") > 100.0).collect()}
    assert left == {2, 3}  # NULL-score row survives


def test_parquet_upsert_heals_interrupted_swap(spark, tmp_path):
    """If a previous safe_overwrite crashed between its two renames
    (table only at path+'.old'), the next read must restore the table,
    so the merge over it keeps the pre-crash rows."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write(spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), "bronze", "t")
    path = wh.path("bronze", "t")
    os.rename(path, path + ".old")  # simulate the crash window
    src = spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"])
    wh.overwrite_safe(merge_upsert(wh.read("bronze", "t"), src, keys=["id"]), "bronze", "t")
    out = {r["id"]: r["v"] for r in wh.read("bronze", "t").collect()}
    assert out == {1: "a", 2: "B", 3: "c"}  # pre-crash row 1 survives
    assert not os.path.exists(path + ".old")


def test_jsonl_round_trip_and_corrupt_record_quarantine(spark, tmp_path):
    import json
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from teleco_etl_pipeline_spark.sources.files import read_jsonl, write_jsonl

    docs = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "bonjour", "fr")],
        ["doc_id", "text", "lang"],
    )
    out = str(tmp_path / "corpus")
    write_jsonl(docs, out, compression=None, shards=2)
    back = read_jsonl(spark, out)
    assert sorted((r["doc_id"], r["text"], r["lang"]) for r in back.collect()) == [
        (1, "hello world", "en"),
        (2, "bonjour", "fr"),
    ]

    # Malformed line: lenient read surfaces it via _corrupt_record
    # instead of silently dropping the row.
    bad_dir = str(tmp_path / "bad")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "part-0.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 3, "text": "ok", "lang": "en"}) + "\n")
        f.write("{not json at all\n")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    rows = read_jsonl(spark, bad_dir, schema=schema).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 3
    assert len(bad) == 1 and bad[0]["_corrupt_record"].startswith("{not json")

    # gzip shard write: file count honors the explicit shard choice
    gz = str(tmp_path / "gz")
    write_jsonl(docs, gz, compression="gzip", shards=1)
    parts = [p for p in os.listdir(gz) if p.startswith("part-")]
    assert len(parts) == 1 and parts[0].endswith(".gz")
    assert back.schema["doc_id"].dataType == LongType()


def test_parquet_schema_evolution_merge_on_read(spark, tmp_path):
    """Additive schema evolution: a landing feed that grows a column
    mid-stream must stay readable as one table — old files surface
    NULL for the new column under mergeSchema, and the narrow read
    path (explicit schema) keeps working for consumers pinned to v1.
    At 100 TB mergeSchema's footer sweep is driver-side per file, so
    production tables pin the superset schema explicitly instead —
    both paths asserted here."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1col"]).write.parquet(p)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v1col", "v2col"]
    ).write.mode("append").parquet(p)

    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"id", "v1col", "v2col"}
    rows = {r["id"]: r["v2col"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}

    pinned = spark.read.schema("id long, v1col string, v2col double").parquet(p)
    assert {r["id"]: r["v2col"] for r in pinned.collect()} == rows
    v1_view = spark.read.schema("id long, v1col string").parquet(p)
    assert v1_view.count() == 2 and v1_view.columns == ["id", "v1col"]


def test_hidden_metadata_columns_give_row_lineage(spark, tmp_path):
    """Row-level lineage without storing it: the parquet reader's
    hidden _metadata struct surfaces source file identity per row —
    what the medallion layer's source_file column captures for CSV
    ingests, for free on columnar tables."""
    p = str(tmp_path / "lineage")
    spark.createDataFrame([(1,)], ["id"]).write.parquet(p)
    spark.createDataFrame([(2,)], ["id"]).write.mode("append").parquet(p)
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(p)
        .select(
            "id",
            F.col("_metadata.file_name").alias("f"),
            F.col("_metadata.file_size").alias("sz"),
        )
        .collect()
    )
    assert len(rows) == 2 and all(r["f"].endswith(".parquet") for r in rows)
    assert all(r["sz"] > 0 for r in rows)
    # two appends → two distinct physical files
    assert len({r["f"] for r in rows}) == 2
