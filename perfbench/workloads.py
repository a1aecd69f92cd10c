"""Workload definitions: the synthetic web, crawl config and seed list each
workload builds from ``--seed``, the timed round loop, and the output
checks.

The seed reaches the crawler only through ``SynthWebConfig.seed`` and the
generated seed list (and the URLs the load generator enqueues).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass

from distributed_web_crawler_spark.config import CrawlConfig, SynthWebConfig

WORKLOADS = ("serve_during_crawl", "fetch_heavy")

# Requests per second of the open-loop API generator (both workloads).
# The API's closed-loop capacity on a crawled store of either workload is
# 45-70 req/s with 4 client connections on a 4-core box (each run
# records its own as api_capacity_rps), so 8 req/s keeps the server at a
# sixth to an eighth of capacity: latency shows the crawl's interference
# rather than a queue at saturation, and a 25 s+ run still gets ~200
# samples, twice the 100 a p90 with ten beyond it needs.
API_RATE = 8.0


@dataclass
class Workload:
    name: str
    synth: SynthWebConfig
    cfg: CrawlConfig
    seeds: list[str]
    writes: bool            # generator also POSTs /api/crawler/urls
    golden: bool            # check visit-for-visit against golden_crawl
    min_rounds: int         # a timed crawl runs at least this many rounds
    search_terms: list[str]

    def fingerprint(self) -> str:
        """Digest of everything that fixes the crawl's counts, so counts
        recorded under an older definition are never compared."""
        blob = repr((self.synth, self.cfg, self.seeds)).encode()
        return hashlib.sha1(blob).hexdigest()[:12]

    def make_urls(self, rng: random.Random) -> list[str]:
        """Two valid synthetic page URLs for one enqueue request."""
        out = []
        for _ in range(2):
            h = rng.randrange(self.synth.n_hosts)
            out.append(self.synth.url(h, rng.randrange(self.synth.n_pages(h))))
        return out


def make_workload(name: str, seed: int, cores: int) -> Workload:
    rng = random.Random(seed)
    if name == "serve_during_crawl":
        # the default-preset web of bench.py: 150 Zipf hosts, small
        # payloads, a few hundred fetches per round — per-round fixed
        # cost dominates, and the API reads the store as rounds commit
        synth = SynthWebConfig(seed=seed, n_hosts=150,
                               base_pages_per_host=900, max_out_links=12,
                               cross_host_fraction=0.4)
        cfg = CrawlConfig(max_depth=8, host_budget_per_round=40,
                          max_rounds=1000, url_seen_shards=16,
                          bloom_bits_per_shard=1 << 18,
                          fetch_partitions=max(8, cores))
        # the 64 largest hosts, one seeded page each: the seed moves the
        # pages and links, not the host-size mix a round's work follows
        seeds = [synth.url(h, rng.randrange(synth.n_pages(h)))
                 for h in range(64)]
        # two rounds at least: enqueues land in the pending file while a
        # round runs and are consumed at the next barrier
        writes, golden, min_rounds = True, True, 2
    elif name == "fetch_heavy":
        # ~1.6k fetches per round of 128-256 px image payloads (~30 KB)
        # from a 3.2k-row seed frontier: fetch, encode and the in-worker
        # pages sink carry real bytes, and the 4-per-host budget defers
        # half the polled rows already in round 0. Round 0 leaves a
        # next frontier of ~8.5k rows (its deferred rows plus ~7k new
        # links); the host-fair cap of 6000 evicts ~2.5k of them every
        # round, so eviction is measured too. One round at least, so a
        # run stays near a minute even when the box is slow
        synth = SynthWebConfig(seed=seed, n_hosts=400,
                               base_pages_per_host=20000, max_out_links=12,
                               cross_host_fraction=0.4, min_dim=128,
                               max_dim=256)
        cfg = CrawlConfig(max_depth=12, host_budget_per_round=4,
                          max_rounds=1000, url_seen_shards=16,
                          bloom_bits_per_shard=1 << 20,
                          fetch_partitions=max(16, cores * 4),
                          fetch_rows_per_salt=128, frontier_cap=6000,
                          frontier_cap_mode="hostfair")
        seeds = [synth.url(h, p) for h in range(synth.n_hosts)
                 for p in sorted(rng.sample(range(synth.n_pages(h)), 8))]
        writes, golden, min_rounds = False, False, 1
    else:
        raise ValueError(f"unknown workload {name!r}; "
                         f"expected one of {', '.join(WORKLOADS)}")
    terms = [synth.host_name(h) for h in rng.sample(range(synth.n_hosts), 8)]
    terms += ["/p/1", "/p/2", "example"]
    return Workload(name, synth, cfg, seeds, writes, golden, min_rounds,
                    terms)


# -- the timed crawl -------------------------------------------------------

def timed_crawl(crawler, seconds: float, gen=None, rounds: int | None = None,
                min_rounds: int = 1, on_round=None, after_round=None
                ) -> tuple[list[dict], list[str]]:
    """Run BSP rounds one at a time until ``seconds`` have passed (and at
    least ``min_rounds`` ran), or exactly ``rounds`` rounds when given.

    Writes from ``gen`` are closed before the round expected to be the
    last, so every acknowledged enqueue is consumed by a timed round; if
    the deadline passes with writes still open, one more round drains
    them. ``on_round(r)`` is a context-manager factory wrapped around each
    round (the traced run opens its round span there); ``after_round()``
    runs after each completed round (the traced run steps its untraced
    twin there). Returns per-round records and the errors of rounds that
    raised."""
    import contextlib

    recs: list[dict] = []
    errors: list[str] = []
    t0 = time.perf_counter()
    last = None

    def writes_open() -> bool:
        return gen is not None and gen.writes_open.is_set()

    while True:
        n = len(recs)
        if rounds is not None:
            final = n + 1 >= rounds
        else:
            elapsed = time.perf_counter() - t0
            final = (n + 1 >= min_rounds and last is not None
                     and elapsed + last >= seconds)
        if final and writes_open():
            gen.close_writes()
        r = crawler.store.last_round()
        ctx = on_round(r) if on_round else contextlib.nullcontext()
        try:
            with ctx:
                rs = time.perf_counter()
                crawler.run(max_rounds=r + 1)
                re_ = time.perf_counter()
        except Exception as e:  # a failed round is counted, not fatal
            errors.append(f"round {r}: {e!r}")
            break
        meta = crawler.store.round_meta(r + 1)
        if meta is None or meta.get("round_processed") != r:
            break  # frontier drained: no round ran
        last = re_ - rs
        recs.append({"round": r, "start": rs, "end": re_, "wall": last,
                     "sec": meta["sec"], "counts": meta["counts"],
                     "stage_sec": meta["stage_sec"]})
        if after_round is not None:
            after_round()
        if rounds is not None:
            if len(recs) >= rounds:
                break
            continue
        if time.perf_counter() - t0 >= seconds and len(recs) >= min_rounds:
            if not writes_open():
                break
            gen.close_writes()  # drain round for late writes
            rounds = len(recs) + 1
    return recs, errors


# -- checks ----------------------------------------------------------------

def check_conservation(recs: list[dict]) -> list[str]:
    """Every polled row gets exactly one decision: fetched, fetch_failed,
    rejected or deferred; stored pages are a subset of fetched ones."""
    bad = []
    for rec in recs:
        c = rec["counts"]
        parts = sum(c.get(k, 0) for k in ("fetched", "fetch_failed",
                                          "rejected", "deferred"))
        if c.get("polled", 0) != parts:
            bad.append(f"round {rec['round']}: polled {c.get('polled')} "
                       f"!= decided {parts}")
        if c.get("stored", 0) > c.get("fetched", 0):
            bad.append(f"round {rec['round']}: stored > fetched")
    return bad


def _save_book(path: str, book: dict) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(book, fh)
    os.replace(tmp, path)  # a killed run never leaves a torn record


def check_repeat(path: str, key: str, values) -> list[str]:
    """Counts that must repeat exactly for a given seed: the first run
    records them under ``key``; later runs compare their common prefix
    (a faster program may run more rounds in the same time)."""
    book = {}
    if os.path.exists(path):
        with open(path) as fh:
            book = json.load(fh)
    prev = book.get(key)
    if prev is None:
        book[key] = values
        _save_book(path, book)
        return []
    if isinstance(values, list):
        n = min(len(prev), len(values))
        if prev[:n] != values[:n]:
            return [f"{key}: {values[:n]} != recorded {prev[:n]}"]
        if len(values) > len(prev):
            book[key] = values
            _save_book(path, book)
        return []
    return [] if prev == values else [f"{key}: {values} != recorded {prev}"]


def _duck():
    import duckdb

    return duckdb.connect()


def sample_content(root: str, wl: Workload, n: int = 12) -> list[str]:
    """Recompute a sample of fetched pages from the synthetic web and
    compare their stored content hashes."""
    from distributed_web_crawler_spark.crawl.synthweb import (
        content_hash_py,
        page_for_url,
    )

    glob = os.path.join(root, "tables", "pages", "*", "*", "*.parquet")
    con = _duck()
    try:
        rows = con.sql(
            f"SELECT url, content_hash FROM read_parquet('{glob}') "
            f"WHERE fetched ORDER BY hash(url) LIMIT {n}").fetchall()
    finally:
        con.close()
    bad = []
    if not rows:
        return ["no fetched pages to sample"]
    for url, h in rows:
        page = page_for_url(url, wl.synth)
        want = None if page is None else content_hash_py(page["bytes"],
                                                         page["caption"])
        if want != h:
            bad.append(f"content hash mismatch for {url}")
    return bad


def injected_by_round(root: str) -> dict[int, list[str]]:
    import pyarrow.parquet as pq

    base = os.path.join(root, "tables", "inject")
    out: dict[int, list[str]] = {}
    if not os.path.isdir(base):
        return out
    for d in sorted(os.listdir(base)):
        if d.startswith("round="):
            r = int(d.split("=", 1)[1])
            out[r] = pq.read_table(os.path.join(base, d),
                                   columns=["url"]).column("url").to_pylist()
    return out


def check_golden(crawler, wl: Workload, recs: list[dict]) -> list[str]:
    """Visit sequence, stored-URL set and per-round lineage counts equal
    the sequential golden model's, with the same injections."""
    from distributed_web_crawler_spark.golden import golden_crawl

    root = crawler.store.root
    inj = injected_by_round(root)
    g = golden_crawl(wl.seeds, wl.cfg, wl.synth, max_rounds=len(recs),
                     injections=inj)
    bad = []
    visits = crawler.visit_sequence()
    if visits != g.visits:
        bad.append(f"visit sequence differs from golden "
                   f"({len(visits)} vs {len(g.visits)} visits)")
    if crawler.url_seen_set() != g.stored_urls:
        bad.append("stored URL set differs from golden")
    for rec, gl in zip(recs, g.lineage):
        want = {k: v for k, v in gl.items() if k != "round"}
        got = {k: v for k, v in rec["counts"].items() if v}
        if got != want:
            bad.append(f"round {rec['round']} lineage {got} != golden {want}")
    if len(g.lineage) != len(recs):
        bad.append(f"golden ran {len(g.lineage)} rounds, engine {len(recs)}")
    return bad


def url_seen_probe(root: str, cfg: CrawlConfig, urls) -> list[bool]:
    """Probe the URL-seen bloom the last committed round left in the
    store, with the engine's hashing mirrored in Python (``xxh64``):
    shard = pmod(xxhash64(url), shards), h1 = xxhash64(url), h2 =
    xxhash64(url, 1). A bloom has no false negatives, so False means the
    engine never added the URL to its URL-seen state."""
    import numpy as np
    import pyarrow.parquet as pq

    from distributed_web_crawler_spark.functions import bloom
    from distributed_web_crawler_spark.functions.xxh64 import xxhash64
    from distributed_web_crawler_spark.tables.snapshot_store import (
        SnapshotStore,
    )

    if cfg.url_seen_backend != "bloom":
        raise ValueError("url_seen_probe reads bloom filters only")
    store = SnapshotStore(root)
    tbl = pq.read_table(store.round_dir("bloom", store.last_round()),
                        columns=["shard", "filter_bytes"])
    filters = dict(zip(tbl.column("shard").to_pylist(),
                       tbl.column("filter_bytes").to_pylist()))
    out = []
    for url in urls:
        h1, h2 = xxhash64(url), xxhash64(url, ("i32", 1))
        f = filters.get(h1 % cfg.url_seen_shards)
        out.append(f is not None and bool(bloom.probe(
            f, np.array([h1], dtype=np.int64),
            np.array([h2], dtype=np.int64), cfg.bloom_bits_per_shard,
            cfg.bloom_num_hashes)[0]))
    return out


def check_enqueues(root: str, cfg: CrawlConfig, acked: list[str]
                   ) -> list[str]:
    """Every acknowledged enqueue was consumed by a round (staged in an
    inject batch), is in the URL-seen state the crawl committed (its
    bloom: a URL staged but then dropped is not), and nothing is left
    pending."""
    bad = []
    consumed = set()
    for urls in injected_by_round(root).values():
        consumed.update(urls)
    missing = [u for u in acked if u not in consumed]
    if missing:
        bad.append(f"{len(missing)} acknowledged enqueues never consumed, "
                   f"e.g. {missing[0]}")
    unseen = [u for u, ok in zip(acked, url_seen_probe(root, cfg, acked))
              if not ok]
    if unseen:
        bad.append(f"{len(unseen)} acknowledged enqueues not in the "
                   f"URL-seen state, e.g. {unseen[0]}")
    if os.path.exists(os.path.join(root, "_control", "pending_urls.jsonl")):
        bad.append("pending enqueue file left unconsumed")
    return bad


def outlinks_of_stored(root: str) -> int:
    """Total outlinks of the stored pages (the candidate pool the URL-seen
    filter screens), read from the committed store."""
    pages = os.path.join(root, "tables", "pages", "*", "*", "*.parquet")
    stored = os.path.join(root, "tables", "stored", "*", "*.parquet")
    con = _duck()
    try:
        return con.sql(
            f"SELECT coalesce(sum(len(p.links)), 0) FROM read_parquet("
            f"'{pages}', hive_partitioning=0) p SEMI JOIN read_parquet("
            f"'{stored}', hive_partitioning=0) s ON p.url = s.url "
            f"WHERE p.fetched").fetchone()[0]
    finally:
        con.close()
