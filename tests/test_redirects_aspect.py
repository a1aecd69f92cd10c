"""Unit invariants for pipeline.multimodal.aspect_bucket_batches (values
are oracle-checked via aspect_bucket; these pin the algorithmic
properties)."""

from pyspark.sql import functions as F

from distributed_web_crawler_spark.pipeline.multimodal import (
    aspect_bucket_batches)


def test_aspect_buckets_are_exact_integer_ladder(spark):
    rows = [("i1", 20, 10),   # r=2.0      -> wide2
            ("i2", 19, 10),   # r=1.9      -> wide
            ("i3", 4, 3),     # r=4/3      -> wide  (3w >= 4h boundary)
            ("i4", 13, 10),   # r=1.3      -> square
            ("i5", 3, 4),     # r=3/4      -> tall  (4w > 3h false)
            ("i6", 6, 11),    # r=0.545..  -> tall
            ("i7", 5, 10),    # r=0.5      -> tall2 (2w > h false)
            ("i8", 10, 10)]   # r=1        -> square
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    got = {r["image_id"]: r["bucket"]
           for r in aspect_bucket_batches(df, batch_size=1, n_shards=1)
           .collect()}
    assert got == {"i1": "wide2", "i2": "wide", "i3": "wide",
                   "i4": "square", "i5": "tall", "i6": "tall",
                   "i7": "tall2", "i8": "square"}


def test_drop_last_leaves_only_full_batches(spark):
    # 10 square images, batch_size 4, single shard -> 2 full batches,
    # the 2-image tail dropped
    rows = [(f"img-{i:02d}", 10, 10) for i in range(10)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    out = aspect_bucket_batches(df, batch_size=4, n_shards=1)
    sizes = (out.groupBy("bucket", "shard", "batch_id")
             .agg(F.count(F.lit(1)).alias("n")).collect())
    assert len(sizes) == 2
    assert all(r["n"] == 4 for r in sizes)
    kept = {r["image_id"] for r in out.collect()}
    assert kept == {f"img-{i:02d}" for i in range(8)}  # id-ordered layout


def test_batches_deterministic_across_shuffles(spark):
    rows = [(f"im{i:03d}", 8 + i % 9, 8 + (i * 7) % 9) for i in range(64)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    a = sorted(map(tuple, aspect_bucket_batches(df, 4, 4).collect()))
    b = sorted(map(tuple,
                   aspect_bucket_batches(df.repartition(13), 4, 4)
                   .collect()))
    assert a == b
