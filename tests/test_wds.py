"""WebDataset tar shard export: round-trip + index-vs-ground-truth."""

import hashlib
import os

from pyspark.sql import functions as F

from distributed_web_crawler_spark.config import SynthWebConfig
from distributed_web_crawler_spark.crawl.synthweb import (
    SYNTH_IMAGE_SCHEMA, images_for_keys,
)
from distributed_web_crawler_spark.sources.wds import (
    export_wds_shards, parse_wds, wds_member_index,
)


def _images(spark, n=40):
    keys = spark.range(n).select(F.col("id").alias("doc_id"))
    return keys.mapInPandas(images_for_keys(SynthWebConfig(), dup_mod=24),
                            SYNTH_IMAGE_SCHEMA)


def test_wds_export_roundtrip_and_index(spark, tmp_path):
    """Export tar shards, re-ingest with parse_wds, and check the
    relational member index (wds_member_index) describes the files
    EXACTLY — offsets from the tar reader itself, not shared math."""
    images = _images(spark).cache()
    out = str(tmp_path / "wds")
    receipts = export_wds_shards(images, out, n_shards=4).collect()
    assert sorted(r.shard for r in receipts) == sorted(
        {r.shard for r in receipts})  # one receipt (= one file) per shard
    assert sum(r.n_members for r in receipts) == 2 * images.count()
    for r in receipts:
        assert os.path.getsize(r.path) == r.tar_bytes
        assert r.tar_bytes % 10240 == 0  # tarfile end-of-archive blocking

    parsed = parse_wds(spark, out)
    index = wds_member_index(images, n_shards=4)
    joined = (parsed.alias("p").join(
        index.alias("i"), ["shard", "member_name"], "full_outer")
        .select("shard", "member_name",
                F.col("p.data_offset").alias("got_off"),
                F.col("i.data_offset").alias("want_off"),
                F.col("p.size_bytes").alias("got_sz"),
                F.col("i.size_bytes").alias("want_sz"),
                F.sha2("p.data", 256).alias("got_sha"),
                F.col("i.member_sha256").alias("want_sha"))).collect()
    assert len(joined) == 2 * images.count()
    for r in joined:
        assert r.got_off == r.want_off, r.member_name
        assert r.got_sz == r.want_sz, r.member_name
        assert r.got_sha == r.want_sha, r.member_name


def test_wds_payload_and_caption_survive(spark, tmp_path):
    images = _images(spark, n=16).cache()
    out = str(tmp_path / "wds")
    export_wds_shards(images, out, n_shards=2).collect()
    parsed = {r.member_name: bytes(r.data)
              for r in parse_wds(spark, out).collect()}
    for row in images.collect():
        assert parsed[f"{row.image_id}.{row.fmt}"] == bytes(row.bytes)
        assert parsed[f"{row.image_id}.txt"].decode() == row.caption
        # WebDataset sample adjacency: payload member precedes caption
        assert f"{row.image_id}.{row.fmt}" < f"{row.image_id}.txt"


def test_wds_export_is_deterministic(spark, tmp_path):
    """Same table → byte-identical archives (fixed mtime/uid/mode), so a
    re-export after a task retry or a full re-run is content-identical."""
    images = _images(spark, n=12).cache()
    sums = []
    for d in ("a", "b"):
        out = str(tmp_path / d)
        export_wds_shards(images, out, n_shards=2).collect()
        sums.append({p: hashlib.sha256(
            open(os.path.join(out, p), "rb").read()).hexdigest()
            for p in sorted(os.listdir(out))})
    assert sums[0] == sums[1]


def test_wds_index_is_jvm_only(spark):
    """The index never decodes payloads or calls Python: its physical
    plan must be free of Arrow/Python evaluation nodes."""
    plan = wds_member_index(_images(spark, n=8))._jdf.queryExecution() \
        .executedPlan().toString()
    after_scan = plan.split("MapInPandas")[0]  # above the synth source
    assert "ArrowEvalPython" not in after_scan
    assert "BatchEvalPython" not in after_scan




def test_wds_reexport_rewrites_only_shards_that_changed(spark, tmp_path):
    """Content-addressed shards: dropping images changes exactly the
    shards that held them; every other shard is byte-identical across
    the two exports, so a re-export after an incremental crawl may skip
    it."""
    dropped = ("img-00000022", "img-00000023")
    old_imgs = _images(spark, n=24).cache()
    new_imgs = old_imgs.where(~F.col("image_id").isin(*dropped)).cache()
    touched = {r.shard for r in wds_member_index(old_imgs, n_shards=4)
               .where(F.col("member_name").startswith(dropped[0])
                      | F.col("member_name").startswith(dropped[1]))
               .collect()}
    assert touched

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    export_wds_shards(old_imgs, a, n_shards=4).collect()
    export_wds_shards(new_imgs, b, n_shards=4).collect()
    for s in range(4):
        fa = open(os.path.join(a, f"shard-{s:05d}.tar"), "rb").read()
        fb = open(os.path.join(b, f"shard-{s:05d}.tar"), "rb").read()
        assert (fa != fb) == (s in touched), f"shard {s}"
