"""Image metadata-envelope scrub (the manifest's scrub_meta rung)."""


def test_image_meta_envelope_roundtrip_and_scrub(spark):
    """wrap → split is the identity on both sides; image_meta_scrub
    strips the envelope byte-exactly (decode(scrubbed) == original
    pixels), passes clean payloads through untouched, and is
    idempotent."""
    import numpy as np

    from distributed_web_crawler_spark.crawl.synthweb import (
        decode_image, encode_image, split_meta, wrap_with_meta,
    )
    from distributed_web_crawler_spark.pipeline.multimodal import (
        image_meta_scrub,
    )

    rng = np.random.default_rng(7)
    pix = rng.integers(0, 256, size=(12, 9), dtype=np.uint8)
    buf = encode_image(pix, "png")
    meta = {"device": "cam-1", "gps": "10.0,20.0", "": "empty-key-ok"}
    wrapped = wrap_with_meta(buf, meta)
    got_meta, inner = split_meta(wrapped)
    assert got_meta == meta and inner == buf
    assert split_meta(buf) == ({}, buf)          # clean pass-through

    rows = [("w", bytearray(wrapped), "png", "cap w"),
            ("c", bytearray(buf), "png", "cap c")]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, fmt string, caption string")
    scrubbed = {r.image_id: bytes(r.bytes)
                for r in image_meta_scrub(df).collect()}
    assert scrubbed["w"] == buf and scrubbed["c"] == buf
    assert np.array_equal(decode_image(scrubbed["w"])[0], pix)
    # idempotent: scrubbing the scrubbed output changes nothing
    df2 = image_meta_scrub(image_meta_scrub(df))
    assert {r.image_id: bytes(r.bytes) for r in df2.collect()} == scrubbed
    # schema preserved: scrub composes anywhere in the ladder
    assert image_meta_scrub(df).schema == df.schema


def test_training_mix_scrub_collapses_meta_divergent_copies(spark):
    """scrub_meta=True in image_training_mix: two copies of the same
    pixels that differ only in embedded metadata hash apart raw (both
    survive the exact tier) but collapse to one once scrubbed — and the
    surviving payloads carry no envelope."""
    from pyspark.sql import functions as F

    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, images_for_keys, split_meta, wrap_with_meta,
    )
    from distributed_web_crawler_spark.pipeline.multimodal import (
        image_training_mix,
    )

    keys = spark.range(24).select(F.col("id").alias("doc_id"))
    base = keys.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=12), SYNTH_IMAGE_SCHEMA)

    def tag(batches):
        for pdf in batches:
            pdf = pdf.copy()
            keys_ = [int(i.rsplit("-", 1)[1]) for i in pdf["image_id"]]
            # second repetition of each pixel group gets a GPS envelope:
            # same pixels, different bytes
            pdf["bytes"] = [
                wrap_with_meta(bytes(b), {"gps": "1.0,2.0"})
                if k >= 12 else bytes(b)
                for b, k in zip(pdf["bytes"], keys_)]
            yield pdf

    imgs = base.mapInPandas(tag, base.schema).cache()
    raw = image_training_mix(imgs, batch_size=1, n_shards=1)
    scrubbed = image_training_mix(imgs, batch_size=1, n_shards=1,
                                  scrub_meta=True)
    n_raw, n_scrubbed = raw.count(), scrubbed.count()
    # raw: envelope-divergent copies of identical pixels... the PSNR
    # variant tier may still catch them (same pixels => phash 0), so
    # assert at the EXACT tier via the report instead
    from distributed_web_crawler_spark.pipeline.multimodal import (
        _mix_stages,
    )
    kept = _mix_stages(imgs, 10, 40.0, 1, 1)["curated"].count()
    uniq_raw = _mix_stages(imgs, 10, 40.0, 1, 1)["payload_unique"].count()
    uniq_scr = _mix_stages(imgs, 10, 40.0, 1, 1,
                           scrub_meta=True)["payload_unique"].count()
    # curation keeps both copies of each passing group (decision depends
    # only on dims/caption, identical across copies); raw hashes keep the
    # envelope-divergent copies apart, scrubbed ones collapse pairwise
    assert kept % 2 == 0 and kept > 0
    assert uniq_raw == kept and uniq_scr == kept // 2
    assert n_scrubbed <= n_raw
    # survivors carry clean payloads under scrub_meta
    surv = _mix_stages(imgs, 10, 40.0, 1, 1,
                       scrub_meta=True)["variant_survivors"]
    for r in surv.select("bytes").collect():
        assert split_meta(bytes(r.bytes))[0] == {}
