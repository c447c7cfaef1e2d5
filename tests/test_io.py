"""Source/sink round-trip tests (SURVEY.md §2.1 S2, S5, S6): data written
must read back identically, hive-partitioned layouts must actually prune,
and the CSV path must honor explicit schemas — none of which round 1
exercised.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from yellowrush_spark_ml_pipeline_spark.functions.partitioning import (
    ensure_scan_parallelism,
)
from yellowrush_spark_ml_pipeline_spark.plans.explain import explain_str
from yellowrush_spark_ml_pipeline_spark.sources import load_table
from yellowrush_spark_ml_pipeline_spark.sources.readers import read_csv, read_parquet
from yellowrush_spark_ml_pipeline_spark.sources.writers import (
    write_parquet,
    write_partitioned_parquet,
)


def _as_sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(*key).collect()]


def test_parquet_roundtrip(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders")
    path = str(tmp_path / "orders_rt")
    write_parquet(orders, path)
    back = read_parquet(spark, path)
    assert back.schema == orders.schema
    key = ["o_orderkey"]
    assert _as_sorted_rows(back, key) == _as_sorted_rows(orders, key)


def test_target_file_size_bounds_file_count(spark, tmp_path):
    """target_file_mb must control output file count from the plan
    estimate: a frame estimated ~64 MB at an 8 MB target lands in several
    files; the same frame with no target inherits upstream partitioning."""
    df = spark.range(0, 2_000_000, 1, 4).select(
        F.col("id"), (F.col("id") % 97).alias("k"), F.rand(42).alias("v")
    )
    sized = str(tmp_path / "sized")
    write_parquet(df, sized, target_file_mb=8)
    import pathlib

    n_sized = len(list(pathlib.Path(sized).glob("*.parquet")))
    assert n_sized >= 2, "an 8 MB target on a multi-MB frame must split files"
    back = read_parquet(spark, sized)
    assert back.count() == 2_000_000


def test_partitioned_roundtrip_and_pruning(spark, sf_small, tmp_path):
    orders = load_table(spark, sf_small, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned_parquet(orders, path, "order_year")

    back = read_parquet(spark, path)
    assert sorted(back.columns) == sorted(orders.columns)
    key = ["o_orderkey"]
    got = [
        tuple(r)
        for r in back.select(*orders.columns).orderBy(*key).collect()
    ]
    want = _as_sorted_rows(orders, key)
    assert got == want

    # one hive directory per year, single file per partition (the
    # repartition-before-partitionBy contract: no small-files explosion)
    import pathlib

    part_dirs = [p for p in pathlib.Path(path).iterdir() if p.name.startswith("order_year=")]
    years = orders.select("order_year").distinct().count()
    assert len(part_dirs) == years
    for p in part_dirs:
        assert len(list(p.glob("*.parquet"))) == 1, p

    # partition pruning: a filter on the partition column must cut the scan
    pruned = back.filter(F.col("order_year") == 1995)
    plan = explain_str(pruned)
    assert "PartitionFilters: [" in plan and "order_year" in plan.split("PartitionFilters:")[1][:200], plan


def test_bucketed_tables_join_without_shuffle(spark, sf_small):
    """Co-located join contract: two tables bucketed on the same key with
    the same bucket count must join with ZERO shuffle exchanges — the
    scan's bucket layout satisfies the join's distribution requirement."""
    import re

    from yellowrush_spark_ml_pipeline_spark.sources import write_bucketed_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    try:
        write_bucketed_table(li, "li_bkt", "l_orderkey", 8, sort_cols="l_orderkey")
        write_bucketed_table(orders, "ord_bkt", "l_orderkey", 8, sort_cols="l_orderkey")
        joined = (
            spark.table("li_bkt")
            .hint("merge")  # force the shuffle-sensitive path, not BHJ
            .join(spark.table("ord_bkt").hint("merge"), "l_orderkey")
        )
        plan = explain_str(joined)
        shuffles = len(re.findall(r"\(\d+\) Exchange", plan))
        assert shuffles == 0, plan
        assert "SortMergeJoin" in plan
        # and the result is the plain join's result
        n = joined.count()
        want = li.join(orders, "l_orderkey").count()
        assert n == want > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_taxi_schema_prunes_columns_at_scan(spark, tmp_path):
    """S3 (nyc_taxi_final.py:306-318): an explicit subset schema on a wide
    parquet file acts as projection pushdown — the scan's ReadSchema must
    carry only TAXI_SCHEMA's 8 columns, not the file's full width."""
    import datetime as dt

    from yellowrush_spark_ml_pipeline_spark.schemas import TAXI_SCHEMA

    t0 = dt.datetime(2024, 1, 1, 8, 0)
    wide_rows = [
        (
            1, t0, t0 + dt.timedelta(minutes=15), 1.0, 3.5, "N", 140, 230,
            1, 18.0, 2.5, 0.5, 3.0, 0.0, 1.0, 25.0, 2.5, 0.0, 5.5,
        )
    ]
    wide_cols = [
        "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
        "passenger_count", "trip_distance", "store_and_fwd_flag",
        "PULocationID", "DOLocationID", "payment_type", "fare_amount",
        "congestion_surcharge", "mta_tax", "tip_amount", "tolls_amount",
        "improvement_surcharge", "total_amount", "extra_2", "airport_fee",
        "extra",
    ]
    path = str(tmp_path / "taxi_wide")
    wide = spark.createDataFrame(wide_rows, wide_cols).withColumn(
        "PULocationID", F.col("PULocationID").cast("int")
    ).withColumn("DOLocationID", F.col("DOLocationID").cast("int"))
    wide.coalesce(1).write.parquet(path)

    df = read_parquet(spark, path, TAXI_SCHEMA)
    assert df.schema == TAXI_SCHEMA
    plan = explain_str(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "trip_distance" in read_schema and "fare_amount" not in read_schema
    row = df.first()
    assert row.trip_distance == 3.5 and row.PULocationID == 140


def test_csv_roundtrip_with_explicit_schema(spark, tmp_path):
    """S2 (nyc_taxi_final.py:187): schema'd CSV read — no inference scan,
    types from the declared StructType."""
    schema = StructType(
        [
            StructField("station", StringType()),
            StructField("tmin", DoubleType()),
            StructField("prcp", DoubleType()),
            StructField("snow", IntegerType()),
        ]
    )
    src = tmp_path / "weather.csv"
    src.write_text("GHCND:USW1,12.5,0.3,0\nGHCND:USW2,-3.25,1.75,4\nGHCND:USW3,7.0,0.0,1\n")
    df = read_csv(spark, str(src), schema)
    assert df.schema == schema
    rows = df.orderBy("station").collect()
    assert rows[0].tmin == 12.5 and rows[1].snow == 4
    assert df.count() == 3


def test_upsert_partitions_rewrites_only_touched(spark, sf_small, tmp_path):
    """Dynamic partition overwrite: re-landing one year's (modified) slice
    must replace exactly that partition and leave the rest byte-identical
    — the incremental-backfill contract."""
    from yellowrush_spark_ml_pipeline_spark.sources import (
        read_parquet,
        upsert_partitions,
        write_partitioned_parquet,
    )

    orders = load_table(spark, sf_small, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_upsert")
    write_partitioned_parquet(orders, path, "order_year")
    before = read_parquet(spark, path)
    years = [r.order_year for r in before.select("order_year").distinct().collect()]
    target = min(years)
    # materialize pre-upsert facts NOW (the upsert replaces files under
    # this frame's cached listing)
    before_count = before.count()
    key = sorted(c for c in before.columns if c != "order_year")
    untouched_b = sorted(
        map(repr, before.filter(F.col("order_year") != target).select(*key).collect())
    )

    patch = (
        orders.filter(F.col("order_year") == target)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    upsert_partitions(patch, path, "order_year")

    after = read_parquet(spark, path)
    assert after.count() == before_count
    # untouched partitions identical
    untouched_a = sorted(
        map(repr, after.filter(F.col("order_year") != target).select(*key).collect())
    )
    assert untouched_a == untouched_b
    # touched partition carries the patch
    doubled = after.filter(F.col("order_year") == target).agg(
        F.sum("o_totalprice").alias("s")
    ).first()["s"]
    orig = orders.filter(F.col("order_year") == target).agg(
        F.sum("o_totalprice").alias("s")
    ).first()["s"]
    assert abs(doubled - 2 * orig) < 1e-6


def test_jsonl_roundtrip_with_explicit_schema(spark, sf_small, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.sources.readers import read_jsonl
    from yellowrush_spark_ml_pipeline_spark.sources.writers import write_jsonl

    docs = load_table(spark, sf_small, "documents")
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, docs.schema)
    assert back.schema == docs.schema
    a = sorted(map(repr, docs.select("doc_id", "text", "lang").collect()))
    b = sorted(map(repr, back.select("doc_id", "text", "lang").collect()))
    assert a == b


def test_jsonl_permissive_quarantines_corrupt_lines(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from yellowrush_spark_ml_pipeline_spark.sources.readers import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1, "t": "ok"}\n{broken\n{"id": 3, "t": "also ok"}\n')
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("t", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    out = read_jsonl(spark, str(p), schema).cache()
    assert out.count() == 3
    assert out.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    assert out.filter(F.col("id").isNotNull()).count() == 2
    out.unpersist()


def test_orc_roundtrip_and_pushdown(spark, sf_small, tmp_path):
    from yellowrush_spark_ml_pipeline_spark.sources.readers import read_orc
    from yellowrush_spark_ml_pipeline_spark.sources.writers import write_orc

    orders = load_table(spark, sf_small, "orders")
    path = str(tmp_path / "orders_orc")
    write_orc(orders, path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    a = orders.agg(F.sum("o_totalprice").alias("s")).first()["s"]
    b = back.agg(F.sum("o_totalprice").alias("s")).first()["s"]
    assert abs(a - b) < 1e-6
    # filter + projection reach the ORC scan
    plan = (
        back.filter(F.col("o_custkey") == 7)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "o_custkey" in plan.split("PushedFilters")[1][:120]


def test_bloom_filter_write_adds_filters_preserving_data(spark, sf_small, tmp_path):
    """Bloom-filter sink contract: same data written with blooms on the
    key column carries the filter bytes in the footer region (pyarrow
    here doesn't expose bloom offsets, so presence is asserted as a
    deterministic size delta vs a bloom-free write of the identical
    single-partition layout), point lookups still answer exactly, and a
    sorted-within-partition layout tightens min/max page stats."""
    import glob
    import os

    from yellowrush_spark_ml_pipeline_spark.sources import load_table
    from yellowrush_spark_ml_pipeline_spark.sources.writers import (
        write_parquet_with_bloom,
    )

    docs = load_table(spark, sf_small, "documents").coalesce(1)
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    docs.write.mode("overwrite").parquet(plain)
    write_parquet_with_bloom(
        docs, bloomed, "doc_id", ndv=10_000, sort_within_partitions="doc_id"
    )

    size = lambda d: sum(  # noqa: E731
        os.path.getsize(p) for p in glob.glob(f"{d}/*.parquet")
    )
    # ndv=10k bloom ≈ several KB minimum; identical data otherwise
    assert size(bloomed) > size(plain) + 2048

    back = spark.read.parquet(bloomed)
    assert back.count() == docs.count()
    probe = docs.select("doc_id").limit(3).collect()
    for r in probe:
        assert back.filter(F.col("doc_id") == r.doc_id).count() == 1
    # sorted layout: row-group min/max on doc_id must cover exactly the
    # sorted range (first file's min == global min)
    import pyarrow.parquet as pq

    f = sorted(glob.glob(f"{bloomed}/*.parquet"))[0]
    md = pq.ParquetFile(f).metadata
    idx = md.schema.names.index("doc_id")
    stats = md.row_group(0).column(idx).statistics
    assert stats.min == docs.agg(F.min("doc_id")).first()[0]


def test_compact_parquet_reduces_file_count_preserving_data(spark, sf_small, tmp_path):
    """Compaction contract: a deliberately fragmented dataset (32 tiny
    files) rewrites to the byte-computed file count with identical
    contents; sizing comes from on-disk bytes, not row counts."""
    import glob

    from yellowrush_spark_ml_pipeline_spark.sources import compact_parquet, load_table

    events = load_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    src = str(tmp_path / "fragmented")
    events.repartition(32).write.mode("overwrite").parquet(src)
    n_src = len(glob.glob(f"{src}/*.parquet"))
    assert n_src == 32

    dest = str(tmp_path / "compacted")
    total = sum(
        __import__("os").path.getsize(p) for p in glob.glob(f"{src}/*.parquet")
    )
    # target slightly above half the data -> exactly 2 output files
    n_out = compact_parquet(spark, src, dest, target_file_bytes=total // 2 + 1)
    assert n_out == 2
    assert len(glob.glob(f"{dest}/*.parquet")) == 2
    back = spark.read.parquet(dest)
    assert back.count() == events.count()
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, events.collect()))
    assert a == b


def test_scan_parallelism_reprobes_after_split_size_change(spark, tmp_path):
    """The partition-count memo is keyed on the confs that size the scan:
    a smaller ``maxPartitionBytes`` splits the same one-row-group file into
    many tasks, so the floor must re-probe instead of reusing the count of
    one task and adding a needless repartition."""
    import pathlib

    path = str(tmp_path / "one_row_group")
    spark.range(4000).select(
        "id", F.sha2(F.col("id").cast("string"), 256).alias("s")
    ).coalesce(1).write.parquet(path)
    target = spark.sparkContext.defaultParallelism
    size = sum(f.stat().st_size for f in pathlib.Path(path).glob("*.parquet"))

    floored = ensure_scan_parallelism(spark.read.parquet(path))
    assert floored.rdd.getNumPartitions() == target  # one task → repartitioned

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(size // (2 * target)))
    try:
        split = spark.read.parquet(path)
        assert split.rdd.getNumPartitions() >= 2 * target
        assert ensure_scan_parallelism(split) is split
    finally:
        spark.conf.set(key, old)
