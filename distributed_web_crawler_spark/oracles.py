"""Golden-model oracle SQL generators for the hash-seeded crawl operators.

DuckDB cannot evaluate Spark's xxhash64, the Arrow codec UDFs or the crawl
loop. Each generator here computes the *hash-dependent inputs* with an
independent pure-Python mirror (functions/xxh64.py, property-tested
against Spark; crawl/synthweb.py's deterministic codec; golden.py's
sequential crawl) and embeds them as literal VALUES, while the
*relational* part of the operator — banding, self-joins, Hamming
distance, PSNR and curation thresholds, connected components, batch
layout — is restated in DuckDB SQL and recomputed independently.

Image content is a pure function of doc_id % dup_mod and the crawl is
a pure function of (seed, config). The generators that list image keys
(wds_index, image_training_mix, aspect_bucket) read the first doc_ids of
``ORACLE_SF_DIR`` (default /root/testdata/sf0.01), the scale the
driver's correctness harness runs oracles at.
"""

from __future__ import annotations

import os

ORACLE_SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                               "/root/testdata/sf0.01")

_cache: dict = {}


def _first_doc_ids(n: int, sf_dir: str = ORACLE_SF_DIR) -> list[int]:
    key = ("doc_ids", sf_dir)
    if key not in _cache:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["doc_id"])
        _cache[key] = sorted(t.column("doc_id").to_pylist())
    return _cache[key][:n]


def _hamming_band_join_sql(sig_cte: str, id_col: str, out_a: str,
                           out_b: str, max_hamming: int) -> str:
    """Banded self-join + bit_count Hamming — the relational half of
    phash near-dup, recomputed by DuckDB from signature VALUES."""
    return f"""
  bands AS (
    SELECT DISTINCT {id_col}, sig, b.band_no,
           (sig >> (b.band_no * 16)) & 65535 AS bkt
    FROM {sig_cte}, (VALUES (0), (1), (2), (3)) b(band_no))
  SELECT {out_a}, {out_b}, hamming FROM (
    SELECT DISTINCT a.{id_col} AS {out_a}, b.{id_col} AS {out_b},
           CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band_no = b.band_no AND a.bkt = b.bkt
         AND a.{id_col} < b.{id_col})
  WHERE hamming <= {max_hamming}"""


# -- image-table oracles (scale-free: content is f(doc_id % dup_mod)) -------

def _image_group(m: int, dup_mod: int):
    """One deterministic image per duplicate-group key, via the same pure
    functions the Arrow fetcher uses (crawl/synthweb.py)."""
    from .config import SynthWebConfig
    from .crawl.synthweb import (
        _byte_stream,
        _dint,
        average_phash,
        decode_image,
        encode_image,
    )

    key = ("img", m, dup_mod)
    if key in _cache:
        return _cache[key]
    cfg = SynthWebConfig()
    ck = f"doc:{m}"
    h = _dint(cfg.seed, "img", ck)
    span = max(1, cfg.max_dim - cfg.min_dim + 1)
    w = cfg.min_dim + (h % span)
    ht = cfg.min_dim + ((h >> 8) % span)
    fmt = "png" if (h >> 16) % 2 == 0 else "jpeg"
    buf = encode_image(_byte_stream(cfg.seed, ck, w * ht).reshape(ht, w), fmt)
    pix, dfmt = decode_image(buf)
    _cache[key] = {"w": pix.shape[1], "h": pix.shape[0], "fmt": dfmt,
                   "pix": pix, "mean": float(pix.mean()),
                   "std": float(pix.std()), "phash": average_phash(pix)}
    return _cache[key]


_IDS_CTE = "ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT {n})"


def _phash_sigs_ctes(n: int, dup_mod: int) -> str:
    """ids/ph/sigs CTE chain: per-image phash signatures from the Python
    codec mirror — shared by the pair and cluster oracles."""
    vals = ",\n    ".join(
        f"({m}, {_image_group(m, dup_mod)['phash']})"
        for m in range(dup_mod))
    return f"""{_IDS_CTE.format(n=n)},
  ph(m, phash) AS (VALUES
    {vals}),
  sigs AS (SELECT printf('img-%08d', ids.doc_id) AS image_id,
                  CAST(ph.phash AS BIGINT) AS sig
           FROM ids JOIN ph ON ids.doc_id % {dup_mod} = ph.m)"""


def phash_neardup_sql(n: int = 128, dup_mod: int = 96,
                      max_hamming: int = 10) -> str:
    return f"""
  WITH {_phash_sigs_ctes(n, dup_mod)},
  {_hamming_band_join_sql('sigs', 'image_id', 'img_a', 'img_b',
                          max_hamming)}
"""


def image_clusters_sql(n: int = 128, dup_mod: int = 96,
                       max_hamming: int = 10) -> str:
    """phash pairs → connected components via recursive reachability —
    the image-side mirror of the neardup_clusters oracle."""
    pair_query = _hamming_band_join_sql('sigs', 'image_id',
                                        'img_a', 'img_b', max_hamming)
    return f"""
  WITH RECURSIVE {_phash_sigs_ctes(n, dup_mod)},
  pairs AS (WITH {pair_query}),
  edges AS (SELECT img_a AS a, img_b AS b FROM pairs
            UNION SELECT img_b, img_a FROM pairs),
  reach(node, comp) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node),
  labels AS (SELECT node, min(comp) AS cluster_id FROM reach
             GROUP BY node)
  SELECT s.image_id,
         coalesce(l.cluster_id, s.image_id) AS cluster_id,
         coalesce(l.cluster_id, s.image_id) = s.image_id AS is_canonical
  FROM sigs s LEFT JOIN labels l ON l.node = s.image_id
"""


def _image_member(m: int, dup_mod: int):
    """Payload/caption member sizes for one duplicate group — the codec
    mirror at the grain the WebDataset member index needs (byte lengths
    only; the round-trip pytest pins content)."""
    key = ("imgmem", m, dup_mod)
    if key in _cache:
        return _cache[key]
    from .config import SynthWebConfig
    from .crawl.synthweb import _byte_stream, _digest, _dint, encode_image

    cfg = SynthWebConfig()
    ck = f"doc:{m}"
    h = _dint(cfg.seed, "img", ck)
    span = max(1, cfg.max_dim - cfg.min_dim + 1)
    w = cfg.min_dim + (h % span)
    ht = cfg.min_dim + ((h >> 8) % span)
    fmt = "png" if (h >> 16) % 2 == 0 else "jpeg"
    buf = encode_image(_byte_stream(cfg.seed, ck, w * ht).reshape(ht, w),
                       fmt)
    caption = f"cap {ck} " + _digest(cfg.seed, "cap", ck).hex()[:16]
    import hashlib
    _cache[key] = {"fmt": fmt, "p": len(buf), "c": len(caption.encode()),
                   "sha": hashlib.sha256(buf).hexdigest(),
                   "csha": hashlib.sha256(caption.encode()).hexdigest(),
                   "buf": buf}
    return _cache[key]


def wds_index_sql(n: int = 64, dup_mod: int = 48, n_shards: int = 4) -> str:
    """Mirror of sources.wds.wds_member_index: shard keys come from the
    XXH64 mirror as VALUES, member sizes from the codec mirror, and the
    tar layout math (512-byte header + block-padded data, running-sum
    offsets in (image_id, member_name) order) is restated relationally."""
    from .functions.xxh64 import xxhash64

    ids = _first_doc_ids(n)
    sh_vals = ", ".join(
        f"({d}, {xxhash64('img-%08d' % d) % n_shards})" for d in ids)
    mem_vals = ",\n    ".join(
        "({m}, '{fmt}', {p}, {c})".format(m=m, **_image_member(m, dup_mod))
        for m in range(dup_mod))
    return f"""
  WITH {_IDS_CTE.format(n=n)},
  sh(doc_id, shard) AS (VALUES {sh_vals}),
  v(m, fmt, psize, csize) AS (VALUES
    {mem_vals}),
  img AS (SELECT printf('img-%08d', ids.doc_id) AS image_id, sh.shard,
                 v.fmt, v.psize, v.csize
          FROM ids JOIN v ON ids.doc_id % {dup_mod} = v.m
                   JOIN sh ON sh.doc_id = ids.doc_id),
  mem AS (
    SELECT shard, image_id, image_id || '.' || fmt AS member_name,
           CAST(psize AS BIGINT) AS size_bytes FROM img
    UNION ALL
    SELECT shard, image_id, image_id || '.txt', CAST(csize AS BIGINT)
    FROM img),
  b AS (SELECT shard, image_id, member_name, size_bytes,
               512 + 512 * ((size_bytes + 511) // 512) AS blocks FROM mem)
  SELECT CAST(shard AS INTEGER) AS shard, member_name,
         CAST(sum(blocks) OVER (PARTITION BY shard
                                ORDER BY image_id, member_name
                                ROWS UNBOUNDED PRECEDING)
              - blocks + 512 AS BIGINT) AS data_offset,
         size_bytes
  FROM b
"""


_PSNR_FMTS = ("png", "jpeg", "jpeg16")


def _image_combo(m: int, fmt: str, dup_mod: int):
    """Stored pixels + phash for one (duplicate-group, encoding) combo —
    the codec mirror at the grain psnr_neardup's verify tier needs (the
    group's SOURCE pixels re-encoded per variant)."""
    from .config import SynthWebConfig
    from .crawl.synthweb import (
        _byte_stream,
        _dint,
        average_phash,
        decode_image,
        encode_image,
    )

    key = ("imgcombo", m, fmt, dup_mod)
    if key in _cache:
        return _cache[key]
    cfg = SynthWebConfig()
    ck = f"doc:{m}"
    h = _dint(cfg.seed, "img", ck)
    span = max(1, cfg.max_dim - cfg.min_dim + 1)
    w = cfg.min_dim + (h % span)
    ht = cfg.min_dim + ((h >> 8) % span)
    src = _byte_stream(cfg.seed, ck, w * ht).reshape(ht, w)
    pix, _ = decode_image(encode_image(src, fmt))
    _cache[key] = {"pix": pix, "phash": average_phash(pix)}
    return _cache[key]


def _psnr_combo_ctes(n: int, dup_mod: int, max_hamming: int,
                     min_psnr: float) -> str:
    """Shared CTE chain for the variant-encoded image corpus
    (variant_fmts = png/jpeg/jpeg16/png): per-combo phash VALUES (ph),
    per-combo-pair pixel verdicts from the codec mirror (pv), the
    image→combo map (imgs), per-image signatures (sigs), and the banded
    Hamming candidate pairs (pairs). Pixel content is
    f(doc_id % dup_mod, fmt) — scale-free, so pv is O(dup_mod²) VALUES
    regardless of n."""
    from .crawl.synthweb import psnr as psnr_py

    variant_fmts = ("png", "jpeg", "jpeg16", "png")
    combos = [(m, fi) for m in range(dup_mod)
              for fi in range(len(_PSNR_FMTS))]

    def cdata(m, fi):
        return _image_combo(m, _PSNR_FMTS[fi], dup_mod)

    sig_vals = ",\n    ".join(
        f"({m}, {fi}, {cdata(m, fi)['phash']})" for m, fi in combos)

    # pair verdicts for every combo pair that could survive banding
    # (hamming <= max_hamming, self-pairs included: two keys can share one
    # combo when variant_fmts repeats an encoding)
    pair_rows = []
    for i, (ma, fa) in enumerate(combos):
        for mb, fb in combos[i:]:
            a, b = cdata(ma, fa), cdata(mb, fb)
            ham = bin((a["phash"] ^ b["phash"]) & ((1 << 64) - 1)).count("1")
            if ham > max_hamming:
                continue
            ca, cb = ma * len(_PSNR_FMTS) + fa, mb * len(_PSNR_FMTS) + fb
            if a["pix"].shape != b["pix"].shape:
                pair_rows.append(f"({ca}, {cb}, FALSE, FALSE, NULL, FALSE)")
                continue
            v = psnr_py(a["pix"], b["pix"])
            if v == float("inf"):
                pair_rows.append(f"({ca}, {cb}, TRUE, TRUE, NULL, TRUE)")
            else:
                r = round(v, 6)
                pair_rows.append(
                    f"({ca}, {cb}, TRUE, FALSE, '{r!r}', {r >= min_psnr})")
    pair_vals = ",\n    ".join(pair_rows)

    fi_case = " ".join(
        f"WHEN {v} THEN {_PSNR_FMTS.index(fmt)}"
        for v, fmt in enumerate(variant_fmts))
    nv = len(variant_fmts)
    return f"""{_IDS_CTE.format(n=n)},
  ph(m, fi, phash) AS (VALUES
    {sig_vals}),
  pv(c_lo, c_hi, same_shape0, exact0, psnr0, verified0) AS (VALUES
    {pair_vals}),
  imgs AS (SELECT printf('img-%08d', doc_id) AS image_id,
                  (doc_id % {dup_mod}) * {len(_PSNR_FMTS)}
                  + (CASE (doc_id // {dup_mod}) % {nv} {fi_case} END)
                  AS cid
           FROM ids),
  sigs AS (SELECT i.image_id, i.cid, CAST(ph.phash AS BIGINT) AS sig
           FROM imgs i
           JOIN ph ON ph.m * {len(_PSNR_FMTS)} + ph.fi = i.cid),
  pairs AS (WITH {_hamming_band_join_sql('sigs', 'image_id',
                                         'img_a', 'img_b', max_hamming)})"""


def psnr_neardup_sql(n: int = 384, dup_mod: int = 96,
                     max_hamming: int = 10, min_psnr: float = 40.0) -> str:
    """Mirror of pipeline.multimodal.psnr_verified_neardup over the
    variant-encoded image table: the banded Hamming join is recomputed
    relationally from per-combo phash VALUES, and the pixel verdict joins
    per-combo-pair psnr VALUES from the codec mirror."""
    return f"""
  WITH {_psnr_combo_ctes(n, dup_mod, max_hamming, min_psnr)}
  SELECT p.img_a, p.img_b, p.hamming,
         pv.same_shape0 AS same_shape, pv.exact0 AS exact_pixels,
         CAST(pv.psnr0 AS DOUBLE) AS psnr_db, pv.verified0 AS verified
  FROM pairs p
  JOIN sigs sa ON sa.image_id = p.img_a
  JOIN sigs sb ON sb.image_id = p.img_b
  JOIN pv ON pv.c_lo = least(sa.cid, sb.cid)
         AND pv.c_hi = greatest(sa.cid, sb.cid)
"""


def image_variant_dedup_sql(n: int = 384, dup_mod: int = 96,
                            max_hamming: int = 10,
                            min_psnr: float = 40.0) -> str:
    """Mirror of pipeline.multimodal.image_variant_dedup: verified pairs
    (psnr_neardup_sql's machinery) → recursive reachability → min-id
    cluster labels → one survivor per cluster by (fmt rank, image_id).
    fmt rank falls straight out of the combo id: cid % 3 indexes
    _PSNR_FMTS, whose order IS the engine's VARIANT_FMT_RANK."""
    nf = len(_PSNR_FMTS)
    fmt_case = " ".join(
        f"WHEN {i} THEN '{f}'" for i, f in enumerate(_PSNR_FMTS))
    return f"""
  WITH RECURSIVE {_psnr_combo_ctes(n, dup_mod, max_hamming, min_psnr)},
  vpairs AS (SELECT p.img_a, p.img_b
             FROM pairs p
             JOIN sigs sa ON sa.image_id = p.img_a
             JOIN sigs sb ON sb.image_id = p.img_b
             JOIN pv ON pv.c_lo = least(sa.cid, sb.cid)
                    AND pv.c_hi = greatest(sa.cid, sb.cid)
             WHERE pv.verified0),
  edges AS (SELECT img_a AS a, img_b AS b FROM vpairs
            UNION SELECT img_b, img_a FROM vpairs),
  reach(node, comp) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node),
  labels AS (SELECT node, min(comp) AS cluster_id FROM reach
             GROUP BY node),
  lab AS (SELECT s.image_id,
                 coalesce(l.cluster_id, s.image_id) AS cluster_id,
                 CASE s.cid % {nf} {fmt_case} END AS fmt,
                 s.cid % {nf} AS fmt_rank
          FROM sigs s LEFT JOIN labels l ON l.node = s.image_id)
  SELECT image_id, cluster_id, fmt,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY fmt_rank, image_id) = 1 AS keep
  FROM lab
"""


def _image_mix_ctes(n: int, dup_mod: int, caption_dup_mod: int,
                    max_hamming: int, min_psnr: float,
                    n_shards: int) -> str:
    """Shared CTE chain for the image training-mix pipeline: curation
    verdicts (with first-failing reason), source dims and shard keys
    from the Python codec / caption / XXH64 mirrors as VALUES; the
    exact-tier winner per byte-identical combo, the PSNR-verified
    reachability + lossless-preferred survivor pick
    (image_variant_dedup_sql's machinery), and the per-(bucket, shard)
    running batch layout over the survivors — ends at ``rn``. Used by
    image_training_mix_sql (final manifest) and image_mix_report_sql
    (per-rung counts)."""
    from .functions.xxh64 import xxhash64
    from .pipeline.multimodal import (
        CURATION_FMTS,
        CURATION_MAX_ASPECT_NUM,
        CURATION_MIN_CAPTION_TOKENS,
        CURATION_MIN_SIDE,
    )

    nf = len(_PSNR_FMTS)
    cur_rows, dim_rows = [], []
    for m in range(dup_mod):
        g = _image_group(m, dup_mod)
        w, h = int(g["w"]), int(g["h"])
        dim_rows.append(f"({m}, {w}, {h})")
        cap_toks = len(_caption_for(m % caption_dup_mod).split())
        short, lng = min(w, h), max(w, h)
        for fi, fmt in enumerate(_PSNR_FMTS):
            if short < CURATION_MIN_SIDE:
                reason = "too_small"
            elif lng > CURATION_MAX_ASPECT_NUM * short:
                reason = "bad_aspect"
            elif cap_toks < CURATION_MIN_CAPTION_TOKENS:
                reason = "short_caption"
            elif fmt not in CURATION_FMTS:
                reason = "bad_format"
            else:
                reason = "ok"
            cur_rows.append(
                f"({m * nf + fi}, {reason == 'ok'}, '{reason}')")
    cur_vals = ",\n    ".join(cur_rows)
    dim_vals = ",\n    ".join(dim_rows)
    ids = _first_doc_ids(n)
    shard_vals = ",\n    ".join(
        f"('img-{int(d):08d}', {xxhash64(f'img-{int(d):08d}') % n_shards})"
        for d in ids)
    return f"""{_psnr_combo_ctes(n, dup_mod, max_hamming, min_psnr)},
  curv(cid, ok, reason) AS (VALUES
    {cur_vals}),
  dims(m, w, h) AS (VALUES
    {dim_vals}),
  shards(image_id, shard) AS (VALUES
    {shard_vals}),
  -- curation gate, then exact tier: one winner per byte-identical combo
  exact_surv AS (
    SELECT s.cid, min(s.image_id) AS image_id
    FROM sigs s JOIN curv ON curv.cid = s.cid AND curv.ok
    GROUP BY s.cid),
  vpairs AS (SELECT p.img_a, p.img_b
             FROM pairs p
             JOIN exact_surv sa ON sa.image_id = p.img_a
             JOIN exact_surv sb ON sb.image_id = p.img_b
             JOIN pv ON pv.c_lo = least(sa.cid, sb.cid)
                    AND pv.c_hi = greatest(sa.cid, sb.cid)
             WHERE pv.verified0),
  edges AS (SELECT img_a AS a, img_b AS b FROM vpairs
            UNION SELECT img_b, img_a FROM vpairs),
  reach(node, comp) AS (
    SELECT a, a FROM edges
    UNION
    SELECT e.b, r.comp FROM reach r JOIN edges e ON e.a = r.node),
  labels AS (SELECT node, min(comp) AS cluster_id FROM reach
             GROUP BY node),
  lab AS (SELECT s.image_id, s.cid,
                 coalesce(l.cluster_id, s.image_id) AS cluster_id,
                 s.cid % {nf} AS fmt_rank
          FROM exact_surv s LEFT JOIN labels l ON l.node = s.image_id),
  survivors AS (
    SELECT image_id, cid FROM (
      SELECT image_id, cid,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY fmt_rank, image_id) AS rk
      FROM lab) WHERE rk = 1),
  classed AS (
    SELECT s.image_id,
           CASE WHEN d.w >= 2 * d.h THEN 'wide2'
                WHEN 3 * d.w >= 4 * d.h THEN 'wide'
                WHEN 4 * d.w > 3 * d.h THEN 'square'
                WHEN 2 * d.w > d.h THEN 'tall'
                ELSE 'tall2' END AS bucket,
           sh.shard
    FROM survivors s
    JOIN dims d ON d.m = s.cid // {nf}
    JOIN shards sh ON sh.image_id = s.image_id),
  rn AS (
    SELECT image_id, bucket, shard,
           row_number() OVER (PARTITION BY bucket, shard
                              ORDER BY image_id) AS r,
           count(*) OVER (PARTITION BY bucket, shard) AS cnt
    FROM classed)"""


def image_training_mix_sql(n: int = 384, dup_mod: int = 96,
                           caption_dup_mod: int = 48,
                           max_hamming: int = 10, min_psnr: float = 40.0,
                           batch_size: int = 4, n_shards: int = 4) -> str:
    """Full-chain mirror of pipeline.multimodal.image_training_mix:
    the shared _image_mix_ctes chain, then the drop_last batch cut."""
    return f"""
  WITH RECURSIVE {_image_mix_ctes(n, dup_mod, caption_dup_mod,
                                  max_hamming, min_psnr, n_shards)}
  SELECT image_id, bucket, CAST(shard AS INTEGER) AS shard,
         CAST((r - 1) // {batch_size} AS BIGINT) AS batch_id
  FROM rn
  WHERE (r - 1) // {batch_size} < cnt // {batch_size}
"""


# -- crawl flagship (scale-free: pure function of seed + config) ------------

def crawl_flagship_sql() -> str:
    """Per-round lineage totals of the 3-round flagship crawl, from the
    golden sequential model (golden.py) — a genuinely independent
    restatement of the engine's BSP loop."""
    from .config import CrawlConfig, SynthWebConfig
    from .crawl.synthweb import seed_urls
    from .golden import golden_crawl

    key = ("crawl_flagship",)
    if key not in _cache:
        synth = SynthWebConfig(n_hosts=8, base_pages_per_host=24)
        cfg = CrawlConfig(host_budget_per_round=4, max_rounds=3)
        g = golden_crawl(seed_urls(synth, 4), cfg, synth, max_rounds=3)
        rows = [(rc["round"], metric, val)
                for rc in g.lineage
                for metric, val in sorted(rc.items()) if metric != "round"]
        _cache[key] = rows
    vals = ",\n    ".join(f"({r}, '{m}', {v})" for r, m, v in _cache[key])
    return f"""
  SELECT CAST(round AS INTEGER) AS round, metric, CAST(value AS BIGINT) AS value
  FROM (VALUES
    {vals}) t(round, metric, value)
"""


def _caption_for(mc: int) -> str:
    """The synthetic caption for caption-group key mc — mirrors
    crawl/synthweb.images_for_keys (pure ASCII, safe as a SQL literal)."""
    from .config import SynthWebConfig
    from .crawl.synthweb import _digest

    cfg = SynthWebConfig()
    ck = f"doc:{mc}"
    return f"cap {ck} " + _digest(cfg.seed, "cap", ck).hex()[:16]


def _image_caption_ctes(n: int, dup_mod: int, caption_dup_mod: int) -> str:
    """ids/v/imgs CTE chain exposing (image_id, w, h, fmt, caption, phash)
    from the codec + caption Python mirrors — the oracle-side restatement
    of queries._images_df(n, dup_mod, caption_dup_mod)."""
    vals = ",\n    ".join(
        "({m}, {w}, {h}, '{fmt}', '{cap}', {phash})".format(
            m=m, w=g["w"], h=g["h"], fmt=g["fmt"],
            cap=_caption_for(m % caption_dup_mod), phash=g["phash"])
        for m, g in ((m, _image_group(m, dup_mod)) for m in range(dup_mod)))
    return f"""{_IDS_CTE.format(n=n)},
  v(m, w, h, fmt, caption, phash) AS (VALUES
    {vals}),
  imgs AS (SELECT printf('img-%08d', ids.doc_id) AS image_id,
                  CAST(v.w AS INTEGER) AS w, CAST(v.h AS INTEGER) AS h,
                  v.fmt, v.caption, CAST(v.phash AS BIGINT) AS phash
           FROM ids JOIN v ON ids.doc_id % {dup_mod} = v.m)"""


def image_curation_sql(n: int = 128, dup_mod: int = 96,
                       caption_dup_mod: int = 48) -> str:
    from .pipeline.multimodal import (
        CURATION_BUCKET,
        CURATION_FMTS,
        CURATION_MAX_ASPECT_NUM,
        CURATION_MIN_CAPTION_TOKENS,
        CURATION_MIN_SIDE,
    )

    fmts = ", ".join(f"'{f}'" for f in CURATION_FMTS)
    return rf"""
  WITH {_image_caption_ctes(n, dup_mod, caption_dup_mod)},
  sized AS (
    SELECT image_id, w, h, fmt,
           least(w, h) AS short, greatest(w, h) AS lng,
           len(string_split_regex(trim(caption), '[ \t\n\r\f\x0B]+')) AS cap_toks
    FROM imgs),
  decided AS (
    SELECT image_id, w, h, fmt,
           (short - (short % {CURATION_BUCKET})) AS bucket,
           CASE
             WHEN short < {CURATION_MIN_SIDE} THEN 'too_small'
             WHEN lng > {CURATION_MAX_ASPECT_NUM} * short THEN 'bad_aspect'
             WHEN cap_toks < {CURATION_MIN_CAPTION_TOKENS}
               THEN 'short_caption'
             WHEN fmt NOT IN ({fmts}) THEN 'bad_format'
             ELSE 'ok'
           END AS reason
    FROM sized)
  SELECT image_id, w, h, fmt, bucket, reason, reason = 'ok' AS keep
  FROM decided
"""


def aspect_bucket_sql(n: int = 128, dup_mod: int = 96,
                      batch_size: int = 4, n_shards: int = 4) -> str:
    """Aspect-bucket batch layout: (w, h) per image from the codec mirror
    and shard from the XXH64 mirror ride as VALUES; the ratio ladder,
    per-(bucket, shard) ordering, batch cuts and drop_last are all
    recomputed independently by DuckDB."""
    from .functions.xxh64 import xxhash64

    ids = _first_doc_ids(n)
    rows = []
    for d in ids:
        g = _image_group(int(d) % dup_mod, dup_mod)
        image_id = f"img-{int(d):08d}"
        rows.append((image_id, g["w"], g["h"],
                     xxhash64(image_id) % n_shards))
    vals = ",\n    ".join(f"('{i}', {w}, {h}, {s})" for i, w, h, s in rows)
    return f"""
  WITH imgs(image_id, w, h, shard) AS (VALUES
    {vals}),
  classed AS (
    SELECT image_id,
           CASE WHEN w >= 2 * h THEN 'wide2'
                WHEN 3 * w >= 4 * h THEN 'wide'
                WHEN 4 * w > 3 * h THEN 'square'
                WHEN 2 * w > h THEN 'tall'
                ELSE 'tall2' END AS bucket,
           shard
    FROM imgs),
  rn AS (
    SELECT image_id, bucket, shard,
           row_number() OVER (PARTITION BY bucket, shard
                              ORDER BY image_id) AS r,
           count(*) OVER (PARTITION BY bucket, shard) AS n
    FROM classed)
  SELECT image_id, bucket, CAST(shard AS INTEGER) AS shard,
         CAST((r - 1) // {batch_size} AS BIGINT) AS batch_id
  FROM rn
  WHERE (r - 1) // {batch_size} < n // {batch_size}
"""
