"""Training-handoff operators: image near-dup, variant dedup and the
training mix, dedup-group formation, the text-mix rungs, and the
synthetic media codecs."""

from __future__ import annotations

import numpy as np
import pytest

from distributed_web_crawler_spark.pipeline import dedup as pdedup
from distributed_web_crawler_spark.pipeline import multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "the quick brown fox jumps over the lazy dog", "en"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat", "en"),   # near dup of 1
        (4, "completely different text about spark engines here", "en"),
        (5, "der schnelle braune fuchs springt", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_keeps_min_id(docs):
    kept = {r["doc_id"] for r in pdedup.exact_dedup(docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_phash_neardup_detects_duplicate_payloads(spark):
    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, images_for_keys)
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    imgs = ids.mapInPandas(images_for_keys(SynthWebConfig(), dup_mod=4),
                           SYNTH_IMAGE_SCHEMA)
    pairs = multimodal.phash_hamming_neardup(imgs, max_hamming=0).collect()
    got = {(r["img_a"], r["img_b"]) for r in pairs}
    assert {(f"img-{i:08d}", f"img-{i + 4:08d}") for i in range(4)} <= got


def test_psnr_verify_rejects_heavy_requantize(spark):
    """Two-tier near-dup: each pixel group appears as png / ~51 dB jpeg /
    ~29 dB jpeg16. Banding proposes all three pairings (phash within a few
    bits); the pixel tier must VERIFY png↔jpeg (≥40 dB) and REJECT any pair
    touching the jpeg16 requantize — the call a signature-only dedup
    cannot make."""
    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, images_for_keys)
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    imgs = ids.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=4,
                        variant_fmts=("png", "jpeg", "jpeg16")),
        SYNTH_IMAGE_SCHEMA)
    rows = multimodal.psnr_verified_neardup(
        imgs, max_hamming=10, min_psnr=40.0).collect()
    # group g: img-g (png), img-g+4 (jpeg), img-g+8 (jpeg16)
    by_pair = {(r["img_a"], r["img_b"]): r for r in rows}
    for g in range(4):
        png, jpg, j16 = (f"img-{g:08d}", f"img-{g + 4:08d}",
                         f"img-{g + 8:08d}")
        ok = by_pair[(png, jpg)]
        assert ok["verified"] and not ok["exact_pixels"]
        assert ok["psnr_db"] > 40.0
        for pair in ((png, j16), (jpg, j16)):
            if pair in by_pair:  # banding may or may not propose it
                r = by_pair[pair]
                assert not r["verified"]
                assert r["psnr_db"] is not None and r["psnr_db"] < 40.0


def test_image_variant_dedup_keeps_lossless_isolates_requantize(spark):
    """Survivor selection over the variant corpus: each pixel group's
    png/jpeg variants merge into one cluster that keeps the png; the
    jpeg16 requantize never verifies, so it forms its own cluster and is
    kept as its own (degraded) content — not silently merged."""
    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, images_for_keys)
    ids = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    imgs = ids.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=4,
                        variant_fmts=("png", "jpeg", "jpeg16")),
        SYNTH_IMAGE_SCHEMA)
    rows = {r["image_id"]: r for r in multimodal.image_variant_dedup(
        imgs, max_hamming=10, min_psnr=40.0).collect()}
    assert len(rows) == 12
    for g in range(4):
        png, jpg, j16 = (f"img-{g:08d}", f"img-{g + 4:08d}",
                         f"img-{g + 8:08d}")
        assert rows[png]["cluster_id"] == rows[jpg]["cluster_id"] == png
        assert rows[png]["keep"] and not rows[jpg]["keep"]
        # requantize: own cluster, kept as its own representative
        assert rows[j16]["cluster_id"] == j16 and rows[j16]["keep"]


def test_decode_real_image_is_gated(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_real_image(b"\x89PNG")


def test_audio_codec_roundtrip():
    import numpy as np
    pcm = np.arange(-500, 500, dtype=np.int16)
    buf = multimodal.encode_audio(pcm, 8000)
    dec, rate = multimodal.decode_audio(buf)
    assert rate == 8000 and (dec == pcm).all()


def test_video_codec_roundtrip():
    import numpy as np
    frames = (np.arange(3 * 4 * 5, dtype=np.uint8)).reshape(3, 4, 5)
    buf = multimodal.encode_video(frames, 8)
    dec, fps = multimodal.decode_video(buf)
    assert fps == 8 and dec.shape == (3, 4, 5) and (dec == frames).all()


def test_decode_real_audio_video_are_gated():
    with pytest.raises(NotImplementedError):
        multimodal.decode_real_audio(b"RIFF")
    with pytest.raises(NotImplementedError):
        multimodal.decode_real_video(b"\x00\x00\x00 ftyp")


# -- property tests: the synthetic media codecs are lossless round-trips --

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(n=st.integers(0, 4000), rate=st.sampled_from([8000, 44100, 96000]),
       seed=st.integers(0, 2**31))
def test_audio_codec_roundtrip_property(n, rate, seed):
    rng = np.random.default_rng(seed)
    pcm = rng.integers(-32768, 32768, n, dtype=np.int16)
    dec, drate = multimodal.decode_audio(multimodal.encode_audio(pcm, rate))
    assert drate == rate and dec.dtype == np.int16 and (dec == pcm).all()


@settings(max_examples=30, deadline=None)
@given(n=st.integers(1, 12), h=st.integers(1, 24), w=st.integers(1, 24),
       fps=st.sampled_from([1, 8, 30]), seed=st.integers(0, 2**31))
def test_video_codec_roundtrip_property(n, h, w, fps, seed):
    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, (n, h, w), dtype=np.uint8)
    dec, dfps = multimodal.decode_video(multimodal.encode_video(frames, fps))
    assert dfps == fps and dec.shape == (n, h, w) and (dec == frames).all()


# ---------------------------------------------------------------------------
# connected components / cluster assignment
# ---------------------------------------------------------------------------

def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {v for e in edges for v in e}
    return {v: find(v) for v in touched}


def test_connected_components_path_graph_worst_case(spark):
    # a 12-node path is the adversarial case for naive label propagation;
    # large-star/small-star must still converge (O(log² n) rounds)
    edges = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    out = {r["node"]: r["cluster_id"]
           for r in pdedup.connected_components(df).collect()}
    assert out == {i: 0 for i in range(12)}


def test_connected_components_matches_union_find(spark):
    rng = np.random.default_rng(11)
    n = 200
    edges = [(int(a), int(b))
             for a, b in rng.integers(0, n, size=(150, 2)) if a != b]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {r["node"]: r["cluster_id"]
           for r in pdedup.connected_components(df).collect()}
    assert got == _uf_components(n, edges)


def test_assign_clusters_singletons_and_canonicals(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], ["doc_id", "text"])
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 3)], ["doc_a", "doc_b"])
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in pdedup.assign_clusters(docs, pairs).collect()}
    assert rows == {0: (0, True), 1: (0, False), 2: (0, False),
                    3: (3, True), 4: (3, False), 5: (5, True)}


def test_decontaminate_flags_hand_computed(spark):
    train = spark.createDataFrame(
        [(0, "the secret eval answer is forty two ok extra pad"),
         (1, "completely unrelated training text with no overlap here"),
         (2, "prefix words the secret eval answer is forty two")],
        "doc_id long, text string")
    evald = spark.createDataFrame(
        [(100, "the secret eval answer is forty two")],
        "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in pdedup.decontaminate_flags(train, evald, w=7).collect()}
    # doc1 is clean; docs 0 and 2 carry the verbatim 7-token eval window
    assert set(got) == {0, 2}
    # doc0: 10 tokens -> 4 windows, window at pos 1 hits
    assert (got[0]["n_hit_windows"], got[0]["n_windows"]) == (1, 4)
    assert got[0]["hit_fraction"] == 0.25
    # doc2: 9 tokens -> 3 windows, hit at pos 3
    assert (got[2]["n_hit_windows"], got[2]["n_windows"]) == (1, 3)


def test_source_quota_cap_and_determinism(spark):
    from distributed_web_crawler_spark.functions.xxh64 import xxhash64
    from distributed_web_crawler_spark.pipeline import text as ptext
    rows = [(i, f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = ptext.source_quota_sample(df, cap=4).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    for src, members in by_src.items():
        assert len(members) == 4
        assert sorted(r["quota_rank"] for r in members) == [1, 2, 3, 4]
        # the kept set is exactly the 4 lowest (pmod(xxh64), id) keys
        ids = [i for i, s in rows if s == src]
        want = sorted(ids, key=lambda i: (xxhash64(i) % 1_000_000, i))[:4]
        assert sorted(r["doc_id"] for r in members) == sorted(want)
    # partition-invariance: a different input layout keeps the same set
    kept2 = ptext.source_quota_sample(df.repartition(7), cap=4).collect()
    assert {(r["doc_id"], r["quota_rank"]) for r in kept2} == \
           {(r["doc_id"], r["quota_rank"]) for r in kept}


def test_image_training_mix_composes_all_four_stages(spark):
    """The composed flagship equals its stages composed: the manifest
    holds exactly one curation-passing representative per pixel group
    (lossless preferred), never a jpeg16 (curation format gate), never
    the byte-identical png twin (exact tier), and batch ids are dense in
    image_id order per (bucket, shard)."""
    from collections import defaultdict

    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, images_for_keys)
    ids = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    imgs = ids.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=4,
                        variant_fmts=("png", "jpeg", "jpeg16", "png")),
        SYNTH_IMAGE_SCHEMA)
    rows = multimodal.image_training_mix(
        imgs, max_hamming=10, min_psnr=40.0,
        batch_size=1, n_shards=2).collect()
    got = {r["image_id"] for r in rows}
    kept = {r["image_id"] for r in
            multimodal.image_curation(imgs).where("keep").collect()}
    assert got, "manifest must not be empty"
    groups = defaultdict(list)
    for iid in got:
        d = int(iid.split("-")[1])
        assert not (8 <= d < 12), f"jpeg16 {iid} leaked through curation"
        assert d < 8, f"byte-identical twin {iid} survived the exact tier"
        assert iid in kept, f"{iid} failed curation but is in the manifest"
        groups[d % 4].append(d)
    for g, members in groups.items():
        assert len(members) == 1, f"group {g}: {members} both survived"
        png, jpg = f"img-{g:08d}", f"img-{g + 4:08d}"
        if png in kept:  # lossless preferred whenever it is eligible
            assert members == [g], f"group {g} kept {members}, not the png"
    # batch layout: batch_size=1 -> batch_id dense in image_id order
    per_bs = defaultdict(list)
    for r in rows:
        per_bs[(r["bucket"], r["shard"])].append(
            (r["image_id"], r["batch_id"]))
    for key, pairs in per_bs.items():
        pairs.sort()
        assert [b for _, b in pairs] == list(range(len(pairs))), key


def test_thumb_screen_soundness_and_edge_equality(spark):
    """The thumbnail screen tier (psnr_verified_neardup prefilter=
    'thumb') must be a pure prune: (a) thumbnail PSNR upper-bounds the
    full PSNR (the Jensen bound the screen relies on), so (b) the
    verified edge set with the screen on equals the unscreened one,
    over a corpus containing exact dups, light re-encodes (~51 dB,
    must survive the screen), heavy requantizes (~29 dB, screened or
    verify-rejected), and shape mismatches."""
    import numpy as np

    from distributed_web_crawler_spark.config import SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import (
        SYNTH_IMAGE_SCHEMA, decode_image, images_for_keys, psnr)
    ids = spark.createDataFrame([(i,) for i in range(24)], "doc_id long")
    imgs = ids.mapInPandas(
        images_for_keys(SynthWebConfig(), dup_mod=8,
                        variant_fmts=("png", "jpeg", "jpeg16")),
        SYNTH_IMAGE_SCHEMA).cache()

    # (a) the bound, checked directly on decoded pixel pairs
    px = {r["image_id"]: decode_image(bytes(r["bytes"]))[0]
          for r in imgs.collect()}
    checked = 0
    for a in px:
        for b in px:
            if a >= b or px[a].shape != px[b].shape:
                continue
            full = psnr(px[a], px[b])
            ta = multimodal.thumb_block_means(px[a])
            tb = multimodal.thumb_block_means(px[b])
            ys, xs = multimodal._thumb_grid(*px[a].shape)
            cnts = np.outer(np.diff(ys), np.diff(xs)).ravel()
            d = (ta - tb).ravel()
            mse = float((cnts * d * d).sum() / cnts.sum())
            tp = float("inf") if mse == 0.0 else \
                20.0 * np.log10(255.0) - 10.0 * np.log10(mse)
            assert tp >= full - 1e-9, (a, b, tp, full)
            checked += 1
    assert checked > 20

    # (b) identical verified edges, screened vs not
    def edges(prefilter):
        return {(r["img_a"], r["img_b"]) for r in
                multimodal.psnr_verified_neardup(
                    imgs, max_hamming=10, min_psnr=40.0,
                    prefilter=prefilter)
                .where("verified").collect()}

    assert edges("thumb") == edges(None)

    # and the screen genuinely prunes: strictly fewer candidate rows
    # reach the byte tier than banding proposed (jpeg16 pairs die early)
    n_banded = multimodal.phash_hamming_neardup(imgs, 10).count()
    n_screened = multimodal.thumb_screened_pairs(
        imgs, multimodal.phash_hamming_neardup(imgs, 10), 40.0).count()
    assert n_screened < n_banded
    imgs.unpersist()


