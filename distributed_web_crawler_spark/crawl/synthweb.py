"""Deterministic synthetic web of image+caption pages.

The reference crawls the real web with Jsoup (reference:
core/WebCrawler.java:324-327) and extracts ``a[href]`` links
(core/WebCrawler.java:339-345). For tests and benchmarks we replace the
network with a *pure function of the URL*: every page's payload, caption,
outlinks and robots rules derive from ``sha256(f"{seed}:{...}")``. That
gives three properties the test strategy needs (SURVEY.md §5):

1. the distributed Arrow fetcher and the sequential golden model agree
   bit-for-bit with zero shared state or I/O;
2. the web is unbounded-scale for free — generating a 10^10-URL frontier is
   the same code as a 10^3 one, no materialized graph needed;
3. host sizes are Zipf-skewed, which exercises the salted skew split
   (SURVEY.md §4 O7).

Image payloads use a deterministic stand-in codec (no PIL/libjpeg in this
container): grayscale pixels packed as ``<magic><w,h><zlib(pixels)>``.
``png`` is lossless; ``jpeg`` quantizes pixels to step 2 before compression
(max abs error 1 → PSNR ≈ 51 dB, satisfying the ≥40 dB lossy invariant in
BASELINE.json input_hint). The Spark-side plumbing — binary column, decode
UDF, PSNR check — is real; only the codec bytes are synthetic.
"""

from __future__ import annotations

import hashlib
import re
import struct
import zlib

import numpy as np

from ..config import SynthWebConfig

_PNG_MAGIC = b"sPNG"
_JPG_MAGIC = b"sJPG"


def _digest(cfg_seed: int, *parts: object) -> bytes:
    key = ":".join(str(p) for p in (cfg_seed, *parts))
    return hashlib.sha256(key.encode()).digest()


def _dint(cfg_seed: int, *parts: object) -> int:
    """Deterministic 64-bit unsigned int from key parts."""
    return int.from_bytes(_digest(cfg_seed, *parts)[:8], "big")


def _byte_stream(cfg_seed: int, key: str, n: int) -> np.ndarray:
    """n deterministic uint8 bytes via counter-mode sha256."""
    out = bytearray()
    counter = 0
    while len(out) < n:
        out.extend(_digest(cfg_seed, "pix", key, counter))
        counter += 1
    return np.frombuffer(bytes(out[:n]), dtype=np.uint8)


# --------------------------------------------------------------------------
# codec (deterministic stand-in; see module docstring)
# --------------------------------------------------------------------------

def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    h, w = pixels.shape
    if fmt == "jpeg":
        stored = (pixels >> 1) << 1  # quantize: lossy, max err 1
        magic = _JPG_MAGIC
    elif fmt == "jpeg16":
        # heavy re-encode (thumbnail/transcode stand-in): step-16 quantize,
        # max err 15 → PSNR ≈ 29 dB — BELOW the input_hint 40 dB bar, so a
        # pixel-verification tier must reject it even though its phash stays
        # within a few bits of the source (measured ≤6 over the corpus).
        stored = (pixels >> 4) << 4
        magic = _JPG_MAGIC
    else:
        stored = pixels
        magic = _PNG_MAGIC
    return magic + struct.pack("<HH", w, h) + zlib.compress(stored.tobytes(), 6)


_META_MAGIC = b"META"


def wrap_with_meta(buf: bytes, meta: dict[str, str]) -> bytes:
    """Attach a metadata envelope to an encoded image — the synthetic
    stand-in for an EXIF/APP1 segment (real EXIF parsing needs the
    env-gated real codec, like decode_real_image). Layout:
    b"META" + u16 n_pairs + n×(u16 klen, u16 vlen, key, value) + inner
    image bytes. Keys/values are UTF-8."""
    out = [_META_MAGIC, struct.pack("<H", len(meta))]
    for k in sorted(meta):   # deterministic byte layout
        kb, vb = k.encode(), meta[k].encode()
        out.append(struct.pack("<HH", len(kb), len(vb)))
        out.append(kb)
        out.append(vb)
    out.append(buf)
    return b"".join(out)


def split_meta(buf: bytes) -> tuple[dict[str, str], bytes]:
    """Inverse of wrap_with_meta; a buffer without the envelope returns
    ({}, buf) unchanged — scrub is idempotent and pass-through-safe."""
    if buf[:4] != _META_MAGIC:
        return {}, buf
    n, = struct.unpack("<H", buf[4:6])
    pos, meta = 6, {}
    for _ in range(n):
        klen, vlen = struct.unpack("<HH", buf[pos:pos + 4])
        pos += 4
        meta[buf[pos:pos + klen].decode()] = \
            buf[pos + klen:pos + klen + vlen].decode()
        pos += klen + vlen
    return meta, buf[pos:]


def decode_image(buf: bytes) -> tuple[np.ndarray, str]:
    if buf[:4] == _META_MAGIC:
        # metadata envelope is transparent to the decoder, the way real
        # codecs skip an EXIF/APP1 segment — pixels decode identically
        # whether or not the envelope was scrubbed
        buf = split_meta(buf)[1]
    magic, rest = buf[:4], buf[4:]
    fmt = "jpeg" if magic == _JPG_MAGIC else "png"
    w, h = struct.unpack("<HH", rest[:4])
    pix = np.frombuffer(zlib.decompress(rest[4:]), dtype=np.uint8).reshape(h, w)
    return pix, fmt


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 20.0 * np.log10(255.0) - 10.0 * np.log10(mse)


def average_phash(pixels: np.ndarray) -> int:
    """64-bit average hash: 8x8 block means thresholded at the global mean,
    packed MSB-first into a signed int64 (input_hint column ``phash``)."""
    h, w = pixels.shape
    ys = np.linspace(0, h, 9).astype(int)
    xs = np.linspace(0, w, 9).astype(int)
    blocks = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        for j in range(8):
            blocks[i, j] = pixels[ys[i]:max(ys[i] + 1, ys[i + 1]),
                                  xs[j]:max(xs[j] + 1, xs[j + 1])].mean()
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


# --------------------------------------------------------------------------
# URL space
# --------------------------------------------------------------------------

def parse_synth_url(url: str, cfg: SynthWebConfig) -> tuple[int, int] | None:
    """Return (host_idx, page_idx) if ``url`` addresses an existing page."""
    prefix = "http://h"
    if not url.startswith(prefix):
        return None
    try:
        rest = url[len(prefix):]
        host_part, _, path = rest.partition("/")
        if not host_part.endswith(".example.com"):
            return None
        host_idx = int(host_part[: -len(".example.com")])
        if not path.startswith("p/"):
            return None
        page_idx = int(path[2:])
    except (ValueError, IndexError):
        return None
    if not (0 <= host_idx < cfg.n_hosts):
        return None
    if not (0 <= page_idx < cfg.n_pages(host_idx)):
        return None
    return host_idx, page_idx


def follow_redirect(url: str, cfg: SynthWebConfig) -> str | None:
    """The synthetic web's redirect layer: /r/N 301s to /p/N on the same
    host (cfg.redirect_every gates whether links in that form are ever
    emitted; the redirect ENDPOINT itself always resolves, like a real
    site whose old URLs keep redirecting after the last link to them is
    gone). Returns the final URL, or None when ``url`` is not a redirect."""
    prefix = "http://"
    if not url.startswith(prefix):
        return None
    rest = url[len(prefix):]
    host_part, _, path = rest.partition("/")
    if not host_part.endswith(".example.com") or not path.startswith("r/"):
        return None
    return f"{prefix}{host_part}/p/{path[2:]}"


def seed_urls(cfg: SynthWebConfig, n_seeds: int = 4) -> list[str]:
    """First page of the n_seeds largest hosts (analog of sample-urls.txt)."""
    return [cfg.url(i, 0) for i in range(min(n_seeds, cfg.n_hosts))]


def seed_pages(cfg: SynthWebConfig, per_host: int) -> list[str]:
    """Wide seed list: the first min(per_host, n_pages) pages of every host.
    Sized so the first crawl round saturates every host's politeness budget
    — the steady-state-throughput benchmark shape."""
    return [cfg.url(i, p)
            for i in range(cfg.n_hosts)
            for p in range(min(per_host, cfg.n_pages(i)))]


def _host_idx_of(host: str) -> int | None:
    """Parse h<idx>.example.com → idx. Reads every digit up to the first
    dot: `host_name` zero-pads to 4 digits but grows past 9999, so a
    fixed [1:5] slice would silently truncate 5+-digit indices and attach
    robots rules / crawl delays to the wrong hosts at n_hosts > 9999."""
    if not host.startswith("h") or not host.endswith(".example.com"):
        return None
    try:
        return int(host[1:host.index(".")])
    except ValueError:
        return None


def robots_disallow_for_host(host: str, cfg: SynthWebConfig,
                             version: int = 0) -> list[str]:
    """Disallow paths for user-agent:* — substring-match semantics exactly as
    the reference's ``isPathDisallowed`` (core/WebCrawler.java:530-532).
    ``version > 0`` models a site editing its robots.txt mid-crawl: hosts
    that have rules swap to cfg.robots_disallow_drifted (the page-content
    analog is page_for_url's version re-keying)."""
    host_idx = _host_idx_of(host)
    if host_idx is None:
        return []
    if cfg.robots_every > 0 and host_idx % cfg.robots_every == 0 and host_idx > 0:
        return list(cfg.robots_disallow_drifted if version
                    else cfg.robots_disallow)
    return []


def robots_allow_for_host(host: str, cfg: SynthWebConfig,
                          version: int = 0) -> list[str]:
    """Allow patterns for user-agent:* — served by the same rule-bearing
    hosts as the disallows (cfg.robots_allow; empty by default). Only
    the rfc9309 matching tier consumes them; version is accepted for
    fetcher symmetry (allows don't drift)."""
    host_idx = _host_idx_of(host)
    if host_idx is None:
        return []
    if (cfg.robots_every > 0 and host_idx % cfg.robots_every == 0
            and host_idx > 0):
        return list(cfg.robots_allow)
    return []


def robots_txt_for_host(host: str, cfg: SynthWebConfig,
                        version: int = 0) -> str:
    """The robots.txt DOCUMENT the synthetic host serves — the textual
    form of the per-host rule model (disallow/allow/crawl-delay/sitemap
    functions above render into it verbatim, so parsing the text with
    '*' selection reproduces those functions exactly). Rule-bearing
    hosts on the cfg.robots_ua_every grid additionally publish a
    UA-specific group (cfg.robots_ua_token) with its own rules — the
    RFC 9309 §2.2.1 exact-token-beats-star case the
    CrawlConfig.robots_ua_groups tier selects. Empty string ⇔ the host
    serves no robots.txt (fetch failure ⇒ allow-all)."""
    host_idx = _host_idx_of(host)
    if host_idx is None:
        return ""
    lines: list[str] = []
    dis = robots_disallow_for_host(host, cfg, version)
    alw = robots_allow_for_host(host, cfg, version)
    delay = robots_crawl_delay_for_host(host, cfg)
    if dis or alw or delay is not None:
        lines.append("User-agent: *")
        lines.extend(f"Disallow: {p}" for p in dis)
        lines.extend(f"Allow: {p}" for p in alw)
        if delay is not None:
            lines.append(f"Crawl-delay: {delay:g}")
        lines.append("")
        if (cfg.robots_ua_every > 0
                and host_idx % cfg.robots_ua_every == 0):
            lines.append(f"User-agent: {cfg.robots_ua_token}")
            lines.extend(f"Disallow: {p}" for p in cfg.robots_ua_disallow)
            lines.extend(f"Allow: {p}" for p in cfg.robots_ua_allow)
            lines.append("")
    for sm in sitemap_urls_for_host(host, cfg):
        lines.append(f"Sitemap: {sm}")
    return "\n".join(lines)


def robots_version_at_round(cfg: SynthWebConfig, round_no: int) -> int:
    """The robots.txt the synthetic web serves at round r:
    version 1 from cfg.robots_drift_round on (0 ⇒ robots never change)."""
    return int(cfg.robots_drift_round > 0
               and round_no >= cfg.robots_drift_round)


def robots_crawl_delay_for_host(host: str,
                                cfg: SynthWebConfig) -> float | None:
    """Crawl-delay advertised by the host's robots.txt (None ⇒ absent).
    Engine semantics: per-host budget override
    min(host_budget_per_round, ceil(round_seconds / delay)) — the batch
    analog of the reference's crawl_state.crawl_delay column
    (schema.cql:19-24, schema-only intent in the reference)."""
    host_idx = _host_idx_of(host)
    if host_idx is None:
        return None
    if (cfg.crawl_delay_every > 0 and host_idx > 0
            and host_idx % cfg.crawl_delay_every == 0):
        return cfg.crawl_delay_secs
    return None


def _publishes_sitemap(host_idx: int, cfg: SynthWebConfig) -> bool:
    return cfg.sitemap_every > 0 and host_idx % cfg.sitemap_every == 0


def _is_index_host(host_idx: int, cfg: SynthWebConfig) -> bool:
    """Every cfg.sitemap_index_every-th sitemap-PUBLISHING host serves a
    two-level layout: robots declares /sitemap_index.xml, whose children
    /sitemap_a.xml + /sitemap_b.xml split the loc list between them."""
    return (_publishes_sitemap(host_idx, cfg)
            and cfg.sitemap_index_every > 0
            and (host_idx // cfg.sitemap_every)
            % cfg.sitemap_index_every == 0)


def sitemap_urls_for_host(host: str, cfg: SynthWebConfig) -> list[str]:
    """`Sitemap:` directives the host's robots.txt advertises (sitemaps.org
    discovery; RFC 9309 §2.3 non-group records). Every cfg.sitemap_every-th
    host publishes one sitemap at /sitemap.xml — or, for index hosts
    (cfg.sitemap_index_every), one INDEX at /sitemap_index.xml."""
    host_idx = _host_idx_of(host)
    if host_idx is None or not _publishes_sitemap(host_idx, cfg):
        return []
    if _is_index_host(host_idx, cfg):
        return [f"http://{host}/sitemap_index.xml"]
    return [f"http://{host}/sitemap.xml"]


def _sitemap_locs(host_idx: int, cfg: SynthWebConfig) -> list[str]:
    """Ground-truth loc list for a host's sitemap, in document order,
    BEFORE spec filtering: even-indexed pages, one out-of-range page
    (valid URL shape, 404s at fetch), a duplicate of the first entry, and
    a cross-host entry (dropped by the same-host rule)."""
    locs = [cfg.url(host_idx, p)
            for p in range(0, cfg.n_pages(host_idx), 2)]
    locs.append(cfg.url(host_idx, cfg.n_pages(host_idx) + 1))  # 404s
    if locs:
        locs.append(locs[0])                                    # duplicate
    other = (host_idx + 1) % cfg.n_hosts
    if other != host_idx:
        locs.append(cfg.url(other, 0))                          # cross-host
    return locs


def _xml_escape(s: str) -> str:
    """Entity-escape as the spec requires for loc values (& FIRST so the
    escape never double-encodes the entities it just wrote). A no-op for
    this web's URLs — written anyway so the served XML is conformant and
    the engine's unescape is exercised on every fetch."""
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                    ('"', "&quot;"), ("'", "&apos;")):
        s = s.replace(ch, ent)
    return s


def sitemap_lastmod_py(loc: str, cfg: SynthWebConfig) -> str | None:
    """The <lastmod> a sitemap entry for ``loc`` carries (None = none):
    a pure function of the loc's page index (cfg.sitemap_lastmod_every),
    so flat and index layouts emit identical values and the engine-side
    recrawl tests can recompute expected verdicts independently."""
    if cfg.sitemap_lastmod_every <= 0:
        return None
    parsed = parse_synth_url(loc, cfg)
    if parsed is None:
        return None
    _, page_idx = parsed
    if page_idx % cfg.sitemap_lastmod_every == 0:
        return "9999-01-01"   # after any round-clock date ⇒ 'modified'
    return "2023-01-01"       # before epoch_ms (2023-11-14) ⇒ 'fresh'


def _urlset_xml(locs: list[str], cfg: SynthWebConfig,
                with_negatives: bool = True) -> str:
    entries = (["<url><lastmod>not-a-date</lastmod></url>"]  # no <loc>
               if with_negatives else [])
    for loc in locs:
        lm = sitemap_lastmod_py(loc, cfg)
        lm_tag = f"<lastmod>{lm}</lastmod>" if lm else ""
        entries.append(f"<url><loc>{_xml_escape(loc)}</loc>{lm_tag}"
                       f"<priority>0.5</priority></url>")
    return ("<?xml version=\"1.0\"?><urlset>"
            + "".join(entries) + "</urlset>")


def sitemap_xml_for_url(url: str, cfg: SynthWebConfig) -> str | None:
    """Serve a sitemap document (pure function of the URL, like pages).
    None ⇔ not a sitemap URL this web publishes (fetch failure). Plain
    sitemap hosts serve /sitemap.xml; index hosts serve /sitemap_index.xml
    (a <sitemapindex> with spec-rule negatives: a loc-less entry, a
    cross-host child, a duplicate) whose children /sitemap_a.xml and
    /sitemap_b.xml split the loc list by position — and do NOT serve
    /sitemap.xml, so discovery genuinely traverses the index level."""
    prefix = "http://"
    if cfg.sitemap_every <= 0 or not url.startswith(prefix):
        return None
    host, _, path = url[len(prefix):].partition("/")
    host_idx = _host_idx_of(host)
    if (host_idx is None or not (0 <= host_idx < cfg.n_hosts)
            or not _publishes_sitemap(host_idx, cfg)):
        return None
    indexed = _is_index_host(host_idx, cfg)
    if path == "sitemap.xml" and not indexed:
        return _urlset_xml(_sitemap_locs(host_idx, cfg), cfg)
    if not indexed:
        return None
    if path == "sitemap_index.xml":
        a = f"{prefix}{host}/sitemap_a.xml"
        b = f"{prefix}{host}/sitemap_b.xml"
        other = f"{prefix}{cfg.host_name((host_idx + 1) % cfg.n_hosts)}" \
                "/sitemap_x.xml"
        entries = [f"<sitemap><loc>{_xml_escape(a)}</loc>"
                   "<lastmod>2024-01-01</lastmod></sitemap>",
                   f"<sitemap><loc>{_xml_escape(b)}</loc></sitemap>",
                   "<sitemap><lastmod>2024-02-02</lastmod></sitemap>",
                   f"<sitemap><loc>{_xml_escape(other)}</loc></sitemap>",
                   f"<sitemap><loc>{_xml_escape(a)}</loc></sitemap>"]
        return ("<?xml version=\"1.0\"?><sitemapindex>"
                + "".join(entries) + "</sitemapindex>")
    if path in ("sitemap_a.xml", "sitemap_b.xml"):
        locs = _sitemap_locs(host_idx, cfg)
        keep = 0 if path == "sitemap_a.xml" else 1
        part = [loc for i, loc in enumerate(locs) if i % 2 == keep]
        return _urlset_xml(part, cfg, with_negatives=(keep == 0))
    return None


def sitemap_entries_py(host: str, cfg: SynthWebConfig) -> list[str]:
    """Golden mirror of operators/sitemap.parse_sitemaps over this web's
    XML: same-host entries with a non-empty <loc>, duplicates collapsed
    first-entry-wins. Pure function — the parity test proves the engine's
    regexp parse against this independently-derived list."""
    host_idx = _host_idx_of(host)
    if (host_idx is None or cfg.sitemap_every <= 0
            or host_idx % cfg.sitemap_every != 0):
        return []
    same = f"http://{host}/"
    out: list[str] = []
    for loc in _sitemap_locs(host_idx, cfg):
        if loc.startswith(same) and loc not in out:
            out.append(loc)
    return out


# --------------------------------------------------------------------------
# section Atom feeds (cfg.feed_every) — the PAGE-grain discovery source:
# a feed URL surfaces only when a page declaring it is actually fetched,
# unlike sitemaps which ride the host-grain robots fetch.
# --------------------------------------------------------------------------


def _publishes_feeds(host_idx: int, cfg: SynthWebConfig) -> bool:
    return cfg.feed_every > 0 and host_idx % cfg.feed_every == 0


def _feeds_for_page(host_idx: int, page_idx: int,
                    cfg: SynthWebConfig) -> list[str]:
    if not _publishes_feeds(host_idx, cfg):
        return []
    s = page_idx % max(1, cfg.feed_sections)
    return [f"http://{cfg.host_name(host_idx)}/feed_{s}.atom"]


def feed_urls_for_page(url: str, cfg: SynthWebConfig) -> list[str]:
    """Feed URLs the page at ``url`` autodiscovers (its <link
    rel="alternate" type="application/atom+xml"> tags). Content
    attribute ⇒ post-redirect, like every other page property."""
    final = follow_redirect(url, cfg)
    if final is not None:
        url = final
    loc = parse_synth_url(url, cfg)
    if loc is None:
        return []
    return _feeds_for_page(*loc, cfg)


def _parse_feed_url(feed_url: str,
                    cfg: SynthWebConfig) -> tuple[int, int] | None:
    prefix = "http://"
    if cfg.feed_every <= 0 or not feed_url.startswith(prefix):
        return None
    host, _, path = feed_url[len(prefix):].partition("/")
    host_idx = _host_idx_of(host)
    if (host_idx is None or not (0 <= host_idx < cfg.n_hosts)
            or not _publishes_feeds(host_idx, cfg)):
        return None
    m = re.fullmatch(r"feed_(\d+)\.atom", path)
    if m is None:
        return None
    s = int(m.group(1))
    if not (0 <= s < max(1, cfg.feed_sections)):
        return None
    return host_idx, s


def feed_version_at_round(cfg: SynthWebConfig, round_no: int) -> int:
    """Which feed content the synthetic web serves during ``round_no``
    (the feed twin of robots_version_at_round): version 1 from
    cfg.feed_drift_round on — each section feed gains its withheld last
    entry, modelling a live feed publishing mid-crawl."""
    return 1 if (cfg.feed_drift_round > 0
                 and round_no >= cfg.feed_drift_round) else 0


def feed_updated_py(loc: str, cfg: SynthWebConfig) -> str:
    """The <updated> an entry for ``loc`` carries — Atom REQUIRES it
    (RFC 4287 §4.1.2), so unlike sitemap lastmod it is always present:
    far-future for every 3rd page index (⇒ recrawl verdict 'modified'
    once stored), past otherwise (⇒ 'fresh'). Pure function of the loc
    so tests recompute expectations independently."""
    parsed = parse_synth_url(loc, cfg)
    if parsed is not None and parsed[1] % 3 == 0:
        return "9999-01-01T00:00:00Z"
    return "2023-01-01T00:00:00Z"


def _feed_entry_locs(host_idx: int, section: int,
                     cfg: SynthWebConfig, version: int = 0) -> list[str]:
    """Ground-truth entry list in document order BEFORE spec filtering:
    the host's pages of this section, one out-of-range page (valid URL
    shape, 404s at fetch), a duplicate of the first entry (same id —
    collapsed first-wins by the parser), and one CROSS-HOST page —
    legal for feeds (no same-host rule, unlike sitemaps; only F3/F4
    gate it)."""
    n = cfg.n_pages(host_idx)
    step = max(1, cfg.feed_sections)
    locs = [cfg.url(host_idx, p) for p in range(section, n, step)]
    # version 0 withholds the last section entry when drift is
    # configured — version 1 (from cfg.feed_drift_round) publishes it,
    # so a TTL re-poll genuinely discovers a NEW page
    if cfg.feed_drift_round > 0 and version == 0 and len(locs) >= 2:
        locs = locs[:-1]
    locs.append(cfg.url(host_idx, n + 2))                   # 404s
    if locs:
        locs.append(locs[0])                                # duplicate id
    other = (host_idx + 1) % cfg.n_hosts
    if other != host_idx:
        locs.append(cfg.url(other, 0))                      # cross-host
    return locs


def feed_xml_for_url(feed_url: str, cfg: SynthWebConfig,
                     version: int = 0) -> str | None:
    """Serve a feed document (pure function of the URL, like pages and
    sitemaps). None ⇔ not a feed this web publishes (fetch failure).
    Entries use the loc as the Atom <id> and <link href>; a leading
    id-less entry is the RFC 4287 negative the parser must drop."""
    parsed = _parse_feed_url(feed_url, cfg)
    if parsed is None:
        return None
    host_idx, s = parsed
    entries = ["<entry><title>no id</title></entry>"]
    for loc in _feed_entry_locs(host_idx, s, cfg, version):
        esc = _xml_escape(loc)
        entries.append(
            f'<entry><id>{esc}</id><link href="{esc}"/>'
            f"<updated>{feed_updated_py(loc, cfg)}</updated></entry>")
    return ('<?xml version="1.0"?><feed>' + "".join(entries) + "</feed>")


def feed_entries_py(feed_url: str, cfg: SynthWebConfig,
                    version: int = 0) -> list[tuple[str, str]]:
    """Golden mirror of operators/html_links.parse_atom_feeds over this
    web's feed XML: (link, updated) per entry with a non-empty <id>,
    duplicate ids collapsed first-in-document-order. Pure function —
    the parity test proves the engine's regexp parse against this
    independently-derived list."""
    parsed = _parse_feed_url(feed_url, cfg)
    if parsed is None:
        return []
    host_idx, s = parsed
    seen: set[str] = set()
    out: list[tuple[str, str]] = []
    for loc in _feed_entry_locs(host_idx, s, cfg, version):
        if loc in seen:
            continue
        seen.add(loc)
        out.append((loc, feed_updated_py(loc, cfg)))
    return out


# --------------------------------------------------------------------------
# page content
# --------------------------------------------------------------------------

def _content_key(host_idx: int, page_idx: int, cfg: SynthWebConfig) -> str:
    """Pages in a duplicate group share one content key → identical bytes,
    caption and outlinks (so content-hash dedup D1 has real work to do)."""
    h = _dint(cfg.seed, "dup", host_idx, page_idx)
    if cfg.duplicate_every > 0 and h % cfg.duplicate_every == 0:
        return f"dupgroup:{h % 3}"
    return f"page:{host_idx}:{page_idx}"


def links_for_content(content_key: str, cfg: SynthWebConfig) -> list[str]:
    """Outlinks derived from the content key (identical content ⇒ identical
    links, as real HTML would). Includes deliberately invalid and
    cross-host links to exercise F8/F3/F4, and — like real HTML — a mix of
    relative href forms (root-relative, dot-relative, scheme-relative) that
    the engine must resolve against the hosting page (X3). Refs are emitted
    RAW; resolution happens downstream per discovering page, so duplicate
    content hosted on two hosts yields host-local absolute links — exactly
    Jsoup's abs:href behavior on mirrored pages."""
    h = _dint(cfg.seed, "deg", content_key)
    degree = 1 + h % cfg.max_out_links
    links: list[str] = []
    for k in range(degree):
        hk = _dint(cfg.seed, "lnk", content_key, k)
        if cfg.invalid_link_every > 0 and hk % cfg.invalid_link_every == 0:
            links.append(["not a url", "ftp://h0000.example.com/p/0",
                          "http://outside.other.org/x"][hk % 3])
            continue
        cross = (hk % 1000) / 1000.0 < cfg.cross_host_fraction
        if cross:
            t_host = hk % cfg.n_hosts
        else:
            t_host = _dint(cfg.seed, "home", content_key) % cfg.n_hosts
        t_page = _dint(cfg.seed, "tp", content_key, k) % (cfg.n_pages(t_host) + 2)
        if cross:  # cross-host refs carry the host: scheme-relative/absolute
            if (hk >> 32) % 2 == 0:
                links.append(f"//{cfg.host_name(t_host)}/p/{t_page}")
            else:
                links.append(cfg.url(t_host, t_page))  # absolute (may 404)
        elif (cfg.redirect_every > 0
              and hk % cfg.redirect_every == 0):
            # redirect-form link: /r/N 301s to /p/N (same host). Emitted
            # root-relative, so resolving it exercises the final-URL
            # base too when the DISCOVERING page was itself a redirect.
            links.append(f"/r/{t_page}")
        else:      # same-host refs: the relative forms real HTML uses
            form = (hk >> 32) % 4
            if form == 0:
                links.append(f"/p/{t_page}")        # root-relative
            elif form == 1:
                links.append(f"../p/{t_page}")      # dot-relative
            elif form == 2:
                links.append(f"./{t_page}")         # same-directory
            else:
                links.append(cfg.url(t_host, t_page))
    # intra-page dedup happens downstream (array_distinct, D3); keep raw here
    return links


def page_for_url(url: str, cfg: SynthWebConfig,
                 version: int = 0) -> dict | None:
    """Fetch one page. None ⇔ fetch failure (bad URL / 404), which the
    reference catches and drops (core/WebCrawler.java:436-439).

    version > 0 models the live web CHANGING under a recrawl: the
    payload streams (pixels, caption, image id — and thus dimensions and
    hashes) re-key on ``ck@v<version>`` while the LINK structure stays on
    the original key, so content mutates without rewriting the graph.
    version=0 is bit-identical to the historical behavior — golden
    parity and every oracle are untouched."""
    final = follow_redirect(url, cfg)
    if final is not None:
        # the redirect target's page, delivered under the REQUESTED url
        # (Jsoup follows redirects transparently and the reference keys
        # PageContent by the request URL, core/WebCrawler.java:324-329);
        # final_url records the post-redirect document location — the
        # base Jsoup's abs:href actually resolves against
        page = page_for_url(final, cfg, version)
        if page is None:
            return None
        return {**page, "url": url, "final_url": final,
                "http_status": 200}
    loc = parse_synth_url(url, cfg)
    if loc is None:
        return None
    host_idx, page_idx = loc
    ck0 = _content_key(host_idx, page_idx, cfg)
    ck = ck0 if not version else f"{ck0}@v{version}"
    h = _dint(cfg.seed, "img", ck)
    span = max(1, cfg.max_dim - cfg.min_dim + 1)
    w = cfg.min_dim + (h % span)
    ht = cfg.min_dim + ((h >> 8) % span)
    fmt = "png" if (h >> 16) % 2 == 0 else "jpeg"
    pixels = _byte_stream(cfg.seed, ck, w * ht).reshape(ht, w)
    buf = encode_image(pixels, fmt)
    caption = f"cap {ck} " + _digest(cfg.seed, "cap", ck).hex()[:16]
    return {
        "url": url,
        "image_id": "img-" + _digest(cfg.seed, "id", ck).hex()[:16],
        "bytes": buf,
        "w": int(w),
        "h": int(ht),
        "fmt": fmt,
        "caption": caption,
        "phash": average_phash(decode_image(buf)[0]),
        "links": links_for_content(ck0, cfg),  # graph keys on the base ck
        "http_status": 200,
        "content_type": f"image/{fmt}",
        "final_url": None,
        # autodiscovered section feeds (cfg.feed_every) — page-grain
        # discovery; keyed on the page location, not the content version
        "feeds": _feeds_for_page(host_idx, page_idx, cfg),
    }


def original_pixels_for_url(url: str, cfg: SynthWebConfig) -> np.ndarray | None:
    """Pre-encoding pixels (the PSNR ground truth for lossy pages)."""
    final = follow_redirect(url, cfg)
    if final is not None:
        url = final
    loc = parse_synth_url(url, cfg)
    if loc is None:
        return None
    ck = _content_key(*loc, cfg)
    h = _dint(cfg.seed, "img", ck)
    span = max(1, cfg.max_dim - cfg.min_dim + 1)
    w = cfg.min_dim + (h % span)
    ht = cfg.min_dim + ((h >> 8) % span)
    return _byte_stream(cfg.seed, ck, w * ht).reshape(ht, w)


SYNTH_IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def images_for_keys(cfg: SynthWebConfig, dup_mod: int = 0,
                    caption_dup_mod: int | None = None,
                    variant_fmts: tuple[str, ...] | None = None):
    """Arrow-batched generator of input_hint image rows — one deterministic
    image+caption per input key (`doc_id` column). Used to materialize the
    BASELINE.json input table at any scale without external data.
    dup_mod > 0 folds keys modulo dup_mod, creating exact-duplicate groups.
    caption_dup_mod (default: follow dup_mod) folds the CAPTION key
    separately — a coarser caption modulus yields caption-duplicate groups
    spanning several distinct payloads, the shape cross-modal dedup needs.
    variant_fmts (with dup_mod) picks the encoding per key REPETITION —
    ``variant_fmts[(key // dup_mod) % len]`` — so one pixel group yields
    lossless/lossy/heavily-requantized encodings of the SAME image: the
    corpus shape a pixel-verification dedup tier (psnr_neardup) needs."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = {k: [] for k in
                    ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for key in pdf["doc_id"]:
                ck = f"doc:{int(key) % dup_mod if dup_mod else int(key)}"
                cap_mod = caption_dup_mod if caption_dup_mod else dup_mod
                ck_cap = f"doc:{int(key) % cap_mod if cap_mod else int(key)}"
                h = _dint(cfg.seed, "img", ck)
                span = max(1, cfg.max_dim - cfg.min_dim + 1)
                w = cfg.min_dim + (h % span)
                ht = cfg.min_dim + ((h >> 8) % span)
                fmt = "png" if (h >> 16) % 2 == 0 else "jpeg"
                if variant_fmts and dup_mod:
                    fmt = variant_fmts[
                        (int(key) // dup_mod) % len(variant_fmts)]
                pixels = _byte_stream(cfg.seed, ck, w * ht).reshape(ht, w)
                buf = encode_image(pixels, fmt)
                rows["image_id"].append(f"img-{int(key):08d}")
                rows["bytes"].append(buf)
                rows["w"].append(w)
                rows["h"].append(ht)
                rows["fmt"].append(fmt)
                rows["caption"].append(
                    f"cap {ck_cap} "
                    + _digest(cfg.seed, "cap", ck_cap).hex()[:16])
                rows["phash"].append(average_phash(decode_image(buf)[0]))
            yield pd.DataFrame({
                "image_id": rows["image_id"], "bytes": rows["bytes"],
                "w": pd.array(rows["w"], dtype="Int32"),
                "h": pd.array(rows["h"], dtype="Int32"),
                "fmt": rows["fmt"], "caption": rows["caption"],
                "phash": pd.array(rows["phash"], dtype="Int64")})

    return gen


def content_hash_py(buf: bytes, caption: str | None) -> str:
    """sha256(bytes || utf8(caption)) hex — must equal Spark's
    ``sha2(concat(bytes, encode(caption,'utf-8')), 256)`` (engine side).
    Reference hashes page HTML the same way (core/WebCrawler.java:442-456).
    Caption-less pages (real-HTTP fetcher) hash the body alone."""
    return hashlib.sha256(buf + (caption or "").encode()).hexdigest()
