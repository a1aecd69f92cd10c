"""Image rungs of the crawl→training handoff.

`Crawler.training_manifest` runs `image_training_mix` over the crawl's
stored images: metadata scrub → curation gates → exact payload dedup →
phash-proposed, PSNR-verified variant dedup → aspect-bucket batches.
Images are opaque `binary` columns + typed metadata, processed by Arrow-
batched UDFs over `mapInPandas`; the crawl's payloads use the
deterministic stand-in codec from crawl/synthweb.py, and a real-world
codec is gated behind an import-try that raises NotImplementedError when
absent. The module also keeps the synthetic audio/video containers
(encode/decode) and their gated real-codec stubs.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..crawl.synthweb import decode_image, psnr

# Whitespace pinned to an EXPLICIT character class so the engine (Java
# regex) and every DuckDB oracle (RE2) tokenize byte-identically: Java's
# \s is [ \t\n\x0B\f\r] while RE2's \s omits \x0B — one vertical tab in
# a caption silently flips its token count between the two engines. Both
# regex dialects parse this class the same way. Keep WS/WS_PLUS in
# lock-step with the SQL literal the caption oracles use (oracles.py).
WS = r"[ \t\n\r\f\x0B]"
WS_PLUS = WS + "+"


def decode_real_image(buf: bytes) -> np.ndarray:
    """Real-codec decode path — STUB in this container (no PIL/libjpeg).
    The engine never calls it on the synthetic corpus; swap it in for the
    stand-in decoder when the cluster image has imaging libs."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real image decode requires PIL/libjpeg, absent in this "
            "container; synthetic corpus uses crawl.synthweb.decode_image"
        ) from e
    import io
    from PIL import Image
    return np.asarray(Image.open(io.BytesIO(buf)).convert("L"))


def phash_hamming_neardup(pages: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate *images* by perceptual-hash Hamming distance — the
    shared banded-bucket proposal tier over the crawl's phash column
    (input_hint schema)."""
    return banded_hamming_pairs(pages.select("image_id", "phash"),
                                "image_id", "phash", "img_a", "img_b",
                                max_hamming)


def gather_pair_payloads(pairs: DataFrame, a_col: str, b_col: str,
                         side_a: DataFrame, side_b: DataFrame,
                         id_col: str, val, out_a: str, out_b: str,
                         carry: tuple = ("hamming",)) -> DataFrame:
    """Assemble per-pair payload columns WITHOUT moving the payload table
    at corpus volume. The naive shape — pairs ⋈ payload ⋈ payload — makes
    the byte-laden corpus a join input twice; Spark then either
    broadcasts it (every executor receives ALL bytes — the measured
    0.53 N→4N bandwidth wall) or shuffles it at corpus volume, twice.
    Here each side of the pair list (ids + carry only, candidate volume)
    joins the payload table separately: the SMALL leg list becomes the
    hash side (AQE broadcast when it fits; a candidate-volume shuffle
    otherwise), so payload rows STREAM through map-side and only the
    GATHERED values — candidate volume, not corpus volume — cross the one
    pair-keyed exchange of the final roll-up.

    ``val`` is a Column over the payload table (e.g. F.col("bytes") or a
    struct of several columns); ``side_a``/``side_b`` may be the same or
    different tables (self-join vs new-vs-history probe).

    The leg list is explicitly ``broadcast()``: the static planner sizes
    a mapInPandas payload source from its (tiny) upstream, so left to
    itself it plans BuildRight over the BYTES — and a statically planned
    BroadcastExchange is not demoted by AQE when the runtime bytes turn
    out huge. Candidate lists that outgrow broadcast (≳10^8 pairs)
    belong on the lakehouse path instead: materialize the pairs and
    storage-partition both sides on the id (Iceberg bucket transform),
    the same regime note as the compaction tables."""
    key_cols = [a_col, b_col, *carry]
    legs = (pairs.select(
        *key_cols,
        F.explode(F.array(
            F.struct(F.lit(0).alias("_role"),
                     F.col(a_col).alias("_gid")),
            F.struct(F.lit(1).alias("_role"),
                     F.col(b_col).alias("_gid")))).alias("_leg"))
        .select(*key_cols, F.col("_leg._role").alias("_role"),
                F.col("_leg._gid").alias("_gid")))
    if side_a is side_b:
        payload = side_a.select(F.col(id_col).alias("_gid"),
                                val.alias("_val"))
        joined = payload.join(F.broadcast(legs), "_gid")
    else:
        payload = (side_a.select(F.lit(0).alias("_role"),
                                 F.col(id_col).alias("_gid"),
                                 val.alias("_val"))
                   .unionByName(side_b.select(
                       F.lit(1).alias("_role"),
                       F.col(id_col).alias("_gid"),
                       val.alias("_val"))))
        joined = payload.join(F.broadcast(legs), ["_gid", "_role"])
    return (joined.groupBy(*key_cols)
            .agg(F.max(F.when(F.col("_role") == 0, F.col("_val")))
                 .alias(out_a),
                 F.max(F.when(F.col("_role") == 1, F.col("_val")))
                 .alias(out_b)))


PSNR_VERIFY_SCHEMA = T.StructType([
    T.StructField("img_a", T.StringType()),
    T.StructField("img_b", T.StringType()),
    T.StructField("hamming", T.IntegerType()),
    T.StructField("same_shape", T.BooleanType()),
    T.StructField("exact_pixels", T.BooleanType()),
    T.StructField("psnr_db", T.DoubleType()),
    T.StructField("verified", T.BooleanType()),
])


def psnr_verified_neardup(images: DataFrame, max_hamming: int = 10,
                          min_psnr: float = 40.0,
                          prefilter: str | None = None) -> DataFrame:
    """Two-tier image near-dup: phash banding PROPOSES, decoded pixels
    VERIFY — the BASELINE.json input_hint per-row invariant ("decoded-pixel
    allclose, PSNR>=40dB for lossy") as a distributed operator. A light
    re-encode (step-2 quantize, ~51 dB) passes; a heavy requantize
    (step-16, ~29 dB) sits within a few phash bits of its source yet FAILS
    the 40 dB bar — the rejection a signature-only dedup cannot make.

    Scale shape: the banded signature join prunes first (candidates ≪
    corpus), and only then do payload bytes move — two image_id-keyed joins
    at CANDIDATE volume (storage-partitioned/bucketed on image_id at 10^10;
    bytes never join before banding prunes). The pixel compare is a
    map-only Arrow batch walk; psnr is rounded at 1e-6 so the verdict is
    engine-exact (the oracle's codec mirror computes the identical
    round()). MSE==0 → exact_pixels (psnr_db NULL); shape mismatch →
    unverifiable (never a dup). Reference analog: the crawler stores raw
    payload bytes keyed by content hash (core/WebCrawler.java:442-456) —
    exact-only; this tier is the lossy-aware extension.

    ``prefilter="thumb"`` inserts the thumbnail screen between banding
    and the byte join (see the screen-tier comment): candidate pairs the
    thumbnail PROVES cannot reach min_psnr (and shape-mismatched pairs)
    are dropped before any payload byte moves, so the verified edge set
    is unchanged but the output no longer carries a verdict row for
    every banded candidate — use the default for candidate-level
    accounting, the screen for edge consumers (variant dedup / the
    training mix).
    ``prefilter="auto"`` runs the two-phase screen_gate (volume +
    sampled-effectiveness probe) and screens only when it pays."""
    if prefilter not in (None, "thumb", "auto"):
        raise ValueError(f"prefilter must be None, 'thumb' or 'auto': "
                         f"{prefilter!r}")
    pairs = phash_hamming_neardup(images, max_hamming)
    use_screen = prefilter == "thumb"
    if prefilter == "auto":
        pairs, use_screen = screen_gate(
            pairs, lambda p: thumb_screened_pairs(images, p, min_psnr),
            min_pairs=20_000)
    if use_screen:
        pairs = thumb_screened_pairs(images, pairs, min_psnr)
    payload = images.select("image_id", "bytes")
    cand = gather_pair_payloads(pairs, "img_a", "img_b", payload, payload,
                                "image_id", F.col("bytes"),
                                "bytes_a", "bytes_b")
    return _psnr_verify_map(cand, min_psnr)


def _psnr_verify_map(cand: DataFrame, min_psnr: float) -> DataFrame:
    """The decode-compare verify tier of psnr_verified_neardup: a
    map-only Arrow batch walk over candidate rows (img_a, img_b, hamming,
    bytes_a, bytes_b) → PSNR_VERIFY_SCHEMA."""

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            same_shape, exact, psnrs, ok = [], [], [], []
            for ba, bb in zip(pdf["bytes_a"], pdf["bytes_b"]):
                pa, _ = decode_image(bytes(ba))
                pb, _ = decode_image(bytes(bb))
                if pa.shape != pb.shape:
                    same_shape.append(False)
                    exact.append(False)
                    psnrs.append(None)
                    ok.append(False)
                    continue
                same_shape.append(True)
                v = psnr(pa, pb)
                if v == float("inf"):
                    exact.append(True)
                    psnrs.append(None)
                    ok.append(True)
                else:
                    exact.append(False)
                    r = round(v, 6)
                    psnrs.append(r)
                    ok.append(r >= min_psnr)
            yield pd.DataFrame({
                "img_a": pdf["img_a"], "img_b": pdf["img_b"],
                "hamming": pdf["hamming"].astype("int32"),
                "same_shape": same_shape, "exact_pixels": exact,
                "psnr_db": pd.array(psnrs, dtype="float64"),
                "verified": ok})

    return cand.mapInPandas(verify, PSNR_VERIFY_SCHEMA)


# -- thumbnail screen tier ---------------------------------------------------
# The PSNR verify tier's cost at scale is BANDWIDTH: full payload bytes
# (15-35 KB) join at candidate volume — on one box this is memory-bandwidth
# bound and measured 0.53 N→4N (BENCH_scaling_mix_session8). The screen
# inserts a middle rung: a t×t block-mean thumbnail (float32, ~1 KB —
# 15-35× lighter than payloads) computed ONCE per image, joined at
# candidate volume instead of the bytes, rejecting pairs that provably
# cannot reach min_psnr. Soundness (no false negatives): with both images
# reduced by the SAME block partition, Jensen gives pixel-weighted
# MSE_thumb = Σ n_b·(mean_b(a-b))² / Σ n_b  ≤  Σ n_b·mean_b((a-b)²) / Σ n_b
# = MSE_full, hence PSNR_thumb ≥ PSNR_full: thumb-PSNR < min_psnr ⇒ the
# full verify fails too. Shape-mismatched pairs (never verified) drop on
# the slim w/h columns without decoding anything.

THUMB_T = 16  # grid side; ≥ the phash grid so the screen out-resolves it

THUMB_SIG_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("thumb", T.BinaryType()),  # float32[ty*tx] block means
])


def _thumb_grid(h: int, w: int, t: int = THUMB_T):
    ty, tx = min(t, h), min(t, w)
    ys = np.linspace(0, h, ty + 1).astype(np.int64)
    xs = np.linspace(0, w, tx + 1).astype(np.int64)
    return ys, xs


def thumb_block_means(px: np.ndarray, t: int = THUMB_T) -> np.ndarray:
    """Pixel-exact t×t (clamped to the image) block means, float64."""
    ys, xs = _thumb_grid(px.shape[0], px.shape[1], t)
    sums = np.add.reduceat(
        np.add.reduceat(px.astype(np.float64), ys[:-1], axis=0),
        xs[:-1], axis=1)
    cnts = np.outer(np.diff(ys), np.diff(xs)).astype(np.float64)
    return sums / cnts


def image_thumb_sigs(images: DataFrame, t: int = THUMB_T) -> DataFrame:
    """One decode per image → (image_id, w, h, float32 thumbnail): the
    screen tier's signature table. At 10^10 this is MATERIALIZED next to
    the phash index (both are per-image signatures) so re-screens never
    re-decode the corpus."""

    def sigs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, thumbs = [], [], [], []
            for iid, buf in zip(pdf["image_id"], pdf["bytes"]):
                px, _ = decode_image(bytes(buf))
                ids.append(iid)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                thumbs.append(
                    thumb_block_means(px, t).astype(np.float32).tobytes())
            yield pd.DataFrame({
                "image_id": ids,
                "w": pd.array(ws, dtype="Int32"),
                "h": pd.array(hs, dtype="Int32"),
                "thumb": thumbs})

    return images.select("image_id", "bytes").mapInPandas(
        sigs, THUMB_SIG_SCHEMA)


def thumb_screened_pairs(images: DataFrame, pairs: DataFrame,
                         min_psnr: float, t: int = THUMB_T,
                         a_col: str = "img_a",
                         b_col: str = "img_b") -> DataFrame:
    """Prune candidate pairs to the thumbnail-plausible subset: keep a
    pair iff shapes match AND its thumbnail PSNR (an upper bound on the
    full PSNR — see tier comment) clears min_psnr. Dropped pairs are
    PROVABLY not verifiable, so `where(verified)` consumers see identical
    results. ~1 KB sigs join at candidate volume; full payloads join only
    for survivors. The 1e-3 dB slack covers float32 sig storage (the
    bound itself is exact in float64).

    Sig computation is RESTRICTED to ids that actually appear in the
    candidate pairs (a semi-join ahead of the decode mapInPandas) —
    Catalyst cannot push a join below a Python map, so without this the
    whole corpus on BOTH sides is decoded even when banding proposed a
    handful of pairs. Screen cost is therefore O(candidate ids + candidate
    pairs), never O(corpus), which is what makes the screen safe to
    leave on by default at any candidate volume. (At 10^10 the sig
    table is materialized next to the phash index and the semi-join
    prunes the index scan instead of the decode.)"""
    # candidate-id lists are broadcast explicitly: the corpus side
    # carries payload bytes, and a statically-planned shuffle join would
    # move them at corpus volume — the exact exchange the screen exists
    # to avoid (candidate ids ≫ broadcast ⇒ the sig table is the
    # materialized index and this restriction prunes its scan instead)
    ids = (pairs.select(F.col(a_col).alias("image_id"))
           .union(pairs.select(F.col(b_col).alias("image_id")))
           .distinct())
    sigs = image_thumb_sigs(
        images.join(F.broadcast(ids), "image_id", "left_semi"), t)
    cand = (
        gather_pair_payloads(pairs, a_col, b_col, sigs, sigs,
                             "image_id", F.struct("w", "h", "thumb"),
                             "_sa", "_sb")
        .select(a_col, b_col, "hamming",
                F.col("_sa.w").alias("w_a"), F.col("_sa.h").alias("h_a"),
                F.col("_sa.thumb").alias("thumb_a"),
                F.col("_sb.w").alias("w_b"), F.col("_sb.h").alias("h_b"),
                F.col("_sb.thumb").alias("thumb_b"))
        # shape mismatch ⇒ never verified: drop on slim columns
        .where((F.col("w_a") == F.col("w_b"))
               & (F.col("h_a") == F.col("h_b"))))

    bar = min_psnr - 1e-3

    def screen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            for i, (ta, tb, w, h) in enumerate(zip(
                    pdf["thumb_a"], pdf["thumb_b"],
                    pdf["w_a"], pdf["h_a"])):
                ma = np.frombuffer(ta, dtype=np.float32).astype(np.float64)
                mb = np.frombuffer(tb, dtype=np.float32).astype(np.float64)
                ys, xs = _thumb_grid(int(h), int(w), t)
                cnts = np.outer(np.diff(ys), np.diff(xs)).ravel()
                d = ma - mb
                mse = float((cnts * d * d).sum() / cnts.sum())
                keep[i] = (mse == 0.0 or
                           20.0 * np.log10(255.0) - 10.0 * np.log10(mse)
                           >= bar)
            out = pdf.loc[keep, [a_col, b_col, "hamming"]]
            yield pd.DataFrame({
                a_col: out[a_col], b_col: out[b_col],
                "hamming": out["hamming"].astype("int32")})

    return cand.mapInPandas(
        screen,
        T.StructType([T.StructField(a_col, T.StringType()),
                      T.StructField(b_col, T.StringType()),
                      T.StructField("hamming", T.IntegerType())]))


# encoding preference when one pixel group survives dedup: keep the
# lossless copy; among lossy copies, the lighter quantizer
VARIANT_FMT_RANK = ("png", "jpeg", "jpeg16")


def image_variant_dedup(images: DataFrame, max_hamming: int = 10,
                        min_psnr: float = 40.0,
                        prefilter: str | None = "auto") -> DataFrame:
    """Variant-aware image dedup end-to-end: psnr_verified_neardup edges
    (phash banding proposes, decoded pixels confirm ≥ min_psnr) →
    connected components → ONE survivor per pixel group, preferring the
    lossless encoding (VARIANT_FMT_RANK order, then min image_id). A heavy
    requantize never verifies, so it is never merged — it survives as its
    own cluster instead of silently replacing (or being replaced by) the
    lossless copy. This is the keep-the-best-copy curation rule a
    text-image training corpus runs after a crawl, and the rejection
    boundary comes from pixels, not signatures.

    Scale shape: everything downstream of the verify tier operates on
    ids + small ints — components iterate over the VERIFIED edge set
    (≪ candidates ≪ corpus), and the survivor pick is one
    cluster_id-keyed min(struct) hash agg joined back at corpus volume
    (broadcast when clusters ≪ corpus; both sides id-keyed otherwise)."""
    from .dedup import assign_clusters

    verified = (psnr_verified_neardup(images, max_hamming, min_psnr,
                                      prefilter=prefilter)
                .where(F.col("verified"))
                .select("img_a", "img_b"))
    clustered = assign_clusters(
        images.select("image_id", "fmt"), verified,
        id_col="image_id", src="img_a", dst="img_b")
    rank = F.coalesce(
        *[F.when(F.col("fmt") == f, F.lit(i))
          for i, f in enumerate(VARIANT_FMT_RANK)],
        F.lit(len(VARIANT_FMT_RANK)))
    ranked = clustered.select(
        "image_id", "fmt", "cluster_id", rank.alias("fmt_rank"))
    winners = (ranked.groupBy("cluster_id")
               .agg(F.min(F.struct("fmt_rank", "image_id"))
                    .getField("image_id").alias("survivor")))
    return (ranked.join(winners, "cluster_id")
            .select("image_id", "cluster_id", "fmt",
                    (F.col("image_id") == F.col("survivor")).alias("keep")))


# ---------------------------------------------------------------------------
# audio / video containers — deterministic synthetic stand-ins (zlib PCM,
# zlib frames) so encode→decode round-trips bit-for-bit; real codecs
# (libsndfile, ffmpeg/PyAV) are gated behind import-tries exactly like
# decode_real_image.
# ---------------------------------------------------------------------------

import struct
import zlib

_AUD_MAGIC = b"sAUD"
_VID_MAGIC = b"sVID"


def encode_audio(samples: np.ndarray, rate: int) -> bytes:
    """int16 PCM mono → synthetic container (magic, rate, n, zlib PCM).
    rate rides as uint32 so standard hi-rate PCM (88.2k/96k/192k) fits."""
    pcm = samples.astype("<i2").tobytes()
    return (_AUD_MAGIC + struct.pack("<II", len(samples), rate)
            + zlib.compress(pcm, 6))


def decode_audio(buf: bytes) -> tuple[np.ndarray, int]:
    if buf[:4] != _AUD_MAGIC:
        raise ValueError("not a synthetic audio payload")
    n, rate = struct.unpack("<II", buf[4:12])
    pcm = np.frombuffer(zlib.decompress(buf[12:]), dtype="<i2")[:n]
    return pcm, rate


def encode_video(frames: np.ndarray, fps: int) -> bytes:
    """uint8 [n, h, w] grayscale frames → synthetic container."""
    n, h, w = frames.shape
    return (_VID_MAGIC + struct.pack("<BHHH", fps, n, w, h)
            + zlib.compress(frames.tobytes(), 6))


def decode_video(buf: bytes) -> tuple[np.ndarray, int]:
    if buf[:4] != _VID_MAGIC:
        raise ValueError("not a synthetic video payload")
    fps, n, w, h = struct.unpack("<BHHH", buf[4:11])
    frames = np.frombuffer(zlib.decompress(buf[11:]),
                           dtype=np.uint8).reshape(n, h, w)
    return frames, fps


def decode_real_audio(buf: bytes) -> tuple[np.ndarray, int]:
    """Real-codec decode path — STUB in this container (no libsndfile)."""
    try:
        import soundfile  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real audio decode requires soundfile/libsndfile, absent in "
            "this container; synthetic corpus uses decode_audio") from e
    import io
    import soundfile as sf
    data, rate = sf.read(io.BytesIO(buf), dtype="int16")
    return data, rate


def decode_real_video(buf: bytes) -> tuple[np.ndarray, int]:
    """Real-codec decode path — STUB in this container (no ffmpeg/PyAV)."""
    try:
        import av  # noqa: F401
    except ImportError as e:
        raise NotImplementedError(
            "real video decode requires PyAV/ffmpeg, absent in this "
            "container; synthetic corpus uses decode_video") from e
    raise NotImplementedError("wire PyAV frame iteration here")


def banded_hamming_pairs(sigs: DataFrame, id_col: str, sig_col: str,
                         a_col: str, b_col: str,
                         max_hamming: int) -> DataFrame:
    """Banded 64-bit Hamming self-join (4 × 16-bit bands): the proposal
    tier of the two-tier image near-dups (and the relational half the
    oracles restate via _hamming_band_join_sql)."""
    bands = sigs.select(
        id_col, sig_col,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_no"),
                     F.shiftright(sig_col, i * 16)
                     .bitwiseAND(F.lit(0xFFFF)).alias("bkt"))
            for i in range(4)])).alias("bb"),
    ).select(id_col, sig_col, "bb.band_no", "bb.bkt").distinct()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band_no") == F.col("b.band_no"))
               & (F.col("a.bkt") == F.col("b.bkt"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias(a_col),
                F.col(f"b.{id_col}").alias(b_col),
                F.bit_count(F.col(f"a.{sig_col}")
                            .bitwiseXOR(F.col(f"b.{sig_col}")))
                .alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming))


def screen_gate(pairs: DataFrame, screen_fn, min_pairs: int,
                probe_pairs: int = 512,
                max_keep_frac: float = 0.8) -> tuple[DataFrame, bool]:
    """AQE-style two-phase runtime gate for the thumbnail screen rung.
    Returns (persisted pairs, engage?).

    Phase 1 (volume): persist + count the banded candidate frame (the
    count is reused by whichever pass runs next); below ``min_pairs``
    the screen's ~6 fixed stages cannot pay for themselves.

    Phase 2 (effectiveness): the Jensen bound's tightness is a RUNTIME
    property — block-mean screens sit ~10·log10(px/block) dB above the
    full PSNR for white quantization residue, so at large payloads with
    uncorrelated residuals the screen proves nothing, while on small
    payloads or codec-correlated residue it kills most of the candidate
    stream. No config constant can know which corpus it is looking at,
    so the gate MEASURES: screen a ``probe_pairs`` sample and engage
    the full screen only if it keeps ≤ ``max_keep_frac`` of the probed
    pairs (measured on this box: a screen keeping ~93% costs ~2× wall;
    one keeping ≤50% repays its stages many times over in unsent
    payload bytes). The probe decodes ≤ 2·probe_pairs items — O(probe),
    never O(corpus). Output is identical either way (screens are
    provably sound), so the gate is pure plan adaptation."""
    pairs = pairs.persist()
    n = pairs.count()
    if n < min_pairs:
        return pairs, False
    probe = pairs.limit(probe_pairs)
    kept = screen_fn(probe).count()
    return pairs, kept <= max_keep_frac * min(n, probe_pairs)


# ---------------------------------------------------------------------------
# curation over the image+caption input table (BASELINE.json input_hint
# shape). Pure Catalyst — the payload `bytes` column is never touched, so
# the scan column-prunes it away.
# ---------------------------------------------------------------------------


# curation rule thresholds (LAION-style pre-training filters)
CURATION_MIN_SIDE = 12
CURATION_MAX_ASPECT_NUM = 2   # greatest(w,h) <= 2 * least(w,h)
CURATION_MIN_CAPTION_TOKENS = 3
CURATION_FMTS = ("png", "jpeg")
CURATION_BUCKET = 8


def image_curation(images: DataFrame) -> DataFrame:
    """Per-image curation decision for a text-image pre-training corpus:
    resolution floor, aspect-ratio cap, caption-richness floor, format
    whitelist — first failing rule wins (fixed order), survivors get
    reason 'ok'. bucket is the short-side resolution bucket the sampler
    groups by. Integer arithmetic only — engine-exact by construction.
    Map-only: no shuffle, no UDF, payload bytes pruned from the scan."""
    short = F.least(F.col("w"), F.col("h"))
    long_ = F.greatest(F.col("w"), F.col("h"))
    cap_toks = F.size(F.split(F.trim(F.col("caption")), WS_PLUS))
    reason = (
        F.when(short < CURATION_MIN_SIDE, F.lit("too_small"))
        .when(long_ > CURATION_MAX_ASPECT_NUM * short, F.lit("bad_aspect"))
        .when(cap_toks < CURATION_MIN_CAPTION_TOKENS,
              F.lit("short_caption"))
        .when(~F.col("fmt").isin(*CURATION_FMTS), F.lit("bad_format"))
        .otherwise(F.lit("ok")))
    return images.select(
        "image_id", "w", "h", "fmt",
        (short - short % CURATION_BUCKET).alias("bucket"),
        reason.alias("reason"),
        (reason == "ok").alias("keep"))


# ---------------------------------------------------------------------------
# Aspect-ratio bucket batching (the SDXL/NovelAI training recipe): group
# images by aspect-ratio class so every batch shares one padded shape,
# then cut fixed-size batches per class. Published recipe: the SDXL
# report (arXiv:2307.01952 §2.3) trains on aspect buckets; dataloaders
# drop the incomplete trailing batch per bucket (drop_last).
# ---------------------------------------------------------------------------

# ratio ladder, classified by EXACT integer cross-multiplication
# (w/h >= a/b  <=>  w*b >= a*h for positive h, b) — no float anywhere,
# so any engine agrees on the bucket. Boundaries at 2, 4/3, 3/4, 1/2.
ASPECT_BUCKETS = ("wide2", "wide", "square", "tall", "tall2")


def aspect_bucket_batches(images: DataFrame, batch_size: int = 4,
                          n_shards: int = 4) -> DataFrame:
    """(image_id, bucket, shard, batch_id): aspect-bucketed batch layout.

    Every image is classed into one of ASPECT_BUCKETS by integer ratio
    thresholds; within each (bucket, shard) images are laid out in
    image_id order and cut into batches of exactly batch_size; the
    incomplete trailing batch per (bucket, shard) is dropped (drop_last),
    mirroring a training dataloader. shard = pmod(xxhash64(image_id),
    n_shards): each dataloader worker packs its own shard independently,
    so the only exchange is ONE hash partition on (bucket, shard) and the
    per-key window never serializes a whole bucket through one task —
    the sharded-window shape of a dataloader's packer. At 100 TB the
    bucket count is fixed (5) but shards scale with the cluster, so
    parallelism is n_buckets x n_shards, and batch ids stay deterministic
    per shard regardless of cluster size.
    """
    w, h = F.col("w"), F.col("h")
    bucket = (
        F.when(w >= 2 * h, F.lit("wide2"))
        .when(3 * w >= 4 * h, F.lit("wide"))
        .when(4 * w > 3 * h, F.lit("square"))
        .when(2 * w > h, F.lit("tall"))
        .otherwise(F.lit("tall2")))
    from pyspark.sql import Window
    shard = F.pmod(F.xxhash64(F.col("image_id")), F.lit(n_shards))
    staged = images.select(
        "image_id", bucket.alias("bucket"),
        shard.cast("int").alias("shard"))
    win = Window.partitionBy("bucket", "shard").orderBy("image_id")
    return (staged
            .withColumn("_rn", F.row_number().over(win))
            .withColumn("batch_id",
                        F.expr(f"CAST((_rn - 1) DIV {batch_size} AS BIGINT)"))
            .withColumn("_n", F.count(F.lit(1)).over(
                Window.partitionBy("bucket", "shard")))
            .where(F.col("batch_id") < F.expr(f"_n DIV {batch_size}"))
            .select("image_id", "bucket", "shard", "batch_id"))


def image_meta_scrub(images: DataFrame, bytes_col: str = "bytes") \
        -> DataFrame:
    """Strip the metadata envelope, preserving every other column and
    the pixel stream byte-for-byte (scrub-then-decode equals
    decode-then-scrub; idempotent on already-clean payloads). Map-only
    Arrow walk — the schema out equals the schema in, so the scrub
    composes anywhere in the curation ladder."""
    from ..crawl.synthweb import split_meta

    cols = images.columns
    schema = images.schema

    def scrub(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf[bytes_col] = [split_meta(bytes(b))[1]
                              for b in pdf[bytes_col]]
            yield pdf

    return images.select(*cols).mapInPandas(scrub, schema)


def image_training_mix(images: DataFrame, max_hamming: int = 10,
                       min_psnr: float = 40.0, batch_size: int = 4,
                       n_shards: int = 4,
                       scrub_meta: bool = False) -> DataFrame:
    """The composed image-side training-set flagship (the image analog of
    pipeline.text's training_mix): curation gates → exact payload dedup →
    PSNR-verified variant collapse → aspect-bucket batch manifest. One
    call takes a raw crawled image+caption table (input_hint schema) to
    the dataloader's (image_id, bucket, shard, batch_id) gather list, the
    full pipeline a text-image pre-training corpus runs after a crawl.

    ``scrub_meta=True`` inserts the metadata-envelope scrub
    (image_meta_scrub) ahead of the exact tier — privacy (EXIF/GPS
    never reaches the training set) and better dedup in one move:
    copies of the same pixels that differ only in embedded metadata
    hash apart raw but collapse to one exact-duplicate group once
    scrubbed. Default off (reference-parity hashes).

    Stage order is the cost ladder: the map-only curation gates and the
    hash-only exact tier shrink the corpus BEFORE the decode-verify
    near-dup tier spends pixels, and batching sees only final survivors.

    Scale shape: curation is map-only; the exact tier shuffles
    (sha2, image_id) pairs — payload bytes never cross an exchange (the
    PSNR tier joins bytes at candidate volume internally); every
    composition join is an id-keyed semi-join; the batch layout is the
    sharded-window shape of aspect_bucket_batches."""
    return _mix_stages(images, max_hamming, min_psnr, batch_size,
                       n_shards, scrub_meta=scrub_meta)["batched"]


def _mix_stages(images: DataFrame, max_hamming: int, min_psnr: float,
                batch_size: int, n_shards: int,
                scrub_meta: bool = False) -> dict[str, DataFrame]:
    """The training-mix cost ladder as named stages; image_training_mix
    returns the final one."""
    if scrub_meta:
        # scrub FIRST so every downstream hash/decode sees clean bytes
        # (map-only, schema-preserving — the ladder shape is unchanged)
        images = image_meta_scrub(images)
    curation = image_curation(images)
    # Every ladder rung is a semi join of the BYTE-LADEN corpus against
    # a slim id list. The id side descends from mapInPandas (no stats),
    # so left alone the planner shuffles the corpus — payload bytes
    # crossing an exchange once PER RUNG (measured 522 MB × rung at
    # 16k images). Broadcast the id list explicitly: bytes then never
    # shuffle, each rung is map-side. At 10^10 the rung id lists exceed
    # broadcast and the lakehouse answer is storage-bucketing both
    # sides on image_id (the gather_pair_payloads regime note).
    kept = images.join(
        F.broadcast(curation.where(F.col("keep")).select("image_id")),
        "image_id", "left_semi")
    payload_winners = (
        kept.select(F.sha2("bytes", 256).alias("payload_fp"), "image_id")
        .groupBy("payload_fp")
        .agg(F.min("image_id").alias("image_id"))
        .select("image_id"))
    uniq = kept.join(F.broadcast(payload_winners), "image_id",
                     "left_semi")
    survivors = (image_variant_dedup(uniq, max_hamming, min_psnr)
                 .where(F.col("keep")).select("image_id"))
    final = images.join(F.broadcast(survivors), "image_id", "left_semi")
    return {
        "curation": curation,
        "curated": kept,
        "payload_unique": uniq,
        "variant_survivors": final,
        "batched": aspect_bucket_batches(final, batch_size, n_shards),
    }


