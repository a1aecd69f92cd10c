"""Crawl driver: the BSP round loop with snapshot checkpoints.

Replaces the reference's crawlLoop + Kafka offset commit
(core/WebCrawler.java:99-133, queue/KafkaUrlQueue.java:105-112). Each round
is one Spark job DAG; the round barrier is the snapshot commit marker. A
killed job resumes at the last committed marker and reproduces the identical
visit sequence because every value in the system derives from (round, url) —
never wall-clock (SURVEY.md §7.2 hard part (d)).

Commit protocol (tables/snapshot_store.py):
  marker m  ⇔  frontier/round=m durable ∧ all rounds < m fully processed.
  bootstrap commits marker 0 (seed frontier + seed bloom);
  processing round r stages pages/lineage/robots @ round=r, frontier/bloom
  @ round=r+1, then commits marker r+1.

State read by round r (all committed):
  seen_urls   = distinct url over frontier rounds 0..r   (D4 ground truth:
                a URL is "seen" once it has ever been enqueued)
  seen_hashes = pages.content_hash over rounds 0..r-1    (D1)
  robots      = robots rounds 0..r-1                     (F6 cache)
  blooms      = bloom/round=r (full merged state)

Every ``compact_every_rounds`` rounds the three histories are rewritten as
single hash-bucketed snapshot tables (url_seen / hash_seen /
robots_compact), so a steady-state round's state read is one snapshot
directory plus a ≤K-round tail instead of the full O(rounds) union — the
parquet stand-in for Iceberg table maintenance + bucket-transform layout
(see _compact_state).
"""

from __future__ import annotations

import dataclasses
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig, SynthWebConfig
from ..operators.dedup import build_bloom_shards, filter_unseen_urls
from ..operators.extract import make_synth_fetcher, write_empty_payload
from ..tables.snapshot_store import SnapshotStore
from .round import FRONTIER_COLS, RoundState, build_fetch, finish_round

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parent_url", T.StringType()),
    T.StructField("discovered_at_ms", T.LongType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("retry_count", T.IntegerType()),
    T.StructField("scheduled_for_ms", T.LongType()),
    T.StructField("round", T.IntegerType()),
])

# conditional-refetch verdict rows (Crawler.revalidate): the
# pipeline.recrawl.REVALIDATE_SCHEMA columns plus host and the media
# columns a changed page needs to rewrite the input_hint-shaped store
REVAL_PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("fetched", T.BooleanType()),
    T.StructField("not_modified", T.BooleanType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("etag", T.StringType()),
    T.StructField("last_modified", T.StringType()),
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    # the store's D2 hash convention (sha256(bytes || utf8(caption)),
    # synthweb.content_hash_py) computed in-worker for changed rows
    T.StructField("content_hash", T.StringType()),
])


def _adapt_reval_fetcher(fetcher):
    """Normalize ANY conditional fetcher to REVAL_PAGE_SCHEMA, so both
    the synthetic fetcher (full 16 columns) and the real HTTP one
    (crawl.httpfetch.make_http_revalidating_fetcher, the slim 8-column
    REVALIDATE_SCHEMA) plug into Crawler.revalidate unchanged: host is
    joined back from the input batch, missing media columns become
    nulls, and a missing content_hash is computed in-worker under the
    store's D2 convention (caption-less bodies hash alone, matching the
    real-HTTP crawl path)."""
    import pandas as pd

    cols = [f.name for f in REVAL_PAGE_SCHEMA]

    def run(batches):
        from ..crawl.synthweb import content_hash_py

        for pdf in batches:
            for out in fetcher(iter([pdf])):
                out = out.copy()
                if "host" not in out.columns:
                    out = out.merge(pdf[["url", "host"]], on="url",
                                    how="left")
                if "content_hash" not in out.columns:
                    caps = (out["caption"] if "caption" in out.columns
                            else pd.Series([None] * len(out),
                                           index=out.index))
                    out["content_hash"] = [
                        None if b is None else content_hash_py(
                            bytes(b), c if isinstance(c, str) else None)
                        for b, c in zip(out["bytes"], caps)]
                for c in cols:
                    if c not in out.columns:
                        out[c] = None
                yield out[cols]

    return run


def seeds_frontier(spark: SparkSession, seeds: list[str],
                   cfg: CrawlConfig, round_no: int = 0) -> DataFrame:
    """S5: seed injection — CrawlRequest(url, depth=0, parent=null,
    priority=1), reference core/WebCrawler.java:88-97. Built through a
    pandas frame so the py4j transfer is one Arrow batch, not 10^5
    pickled rows (nullable Int64 columns require the Arrow path — enabled
    in session.py and tools/spark_submit_crawl.sh). ``round_no`` > 0 is
    the mid-crawl injection path (Crawler.inject)."""
    import pandas as pd

    ts = cfg.round_ts_ms(round_no)
    urls = list(dict.fromkeys(seeds))  # order-preserving URL dedup
    if spark.conf.get("spark.sql.execution.arrow.pyspark.enabled",
                      "false").lower() != "true":
        rows = [(u, urlparse(u).hostname, 0, None, ts, 1, 0, None,
                 round_no)
                for u in urls]
        return spark.createDataFrame(rows, FRONTIER_SCHEMA)
    pdf = pd.DataFrame({
        "url": urls,
        "host": [urlparse(u).hostname for u in urls],
        "depth": pd.array([0] * len(urls), dtype="Int32"),
        "parent_url": pd.array([None] * len(urls), dtype="string"),
        "discovered_at_ms": pd.array([ts] * len(urls), dtype="Int64"),
        "priority": pd.array([1] * len(urls), dtype="Int32"),
        "retry_count": pd.array([0] * len(urls), dtype="Int32"),
        "scheduled_for_ms": pd.array([None] * len(urls), dtype="Int64"),
        "round": pd.array([round_no] * len(urls), dtype="Int32"),
    })
    return spark.createDataFrame(pdf, FRONTIER_SCHEMA)


def _utc_date(ts_ms: int) -> str:
    """X6: ISO date partition key from the round clock (the reference's S3
    key prefix, storage/HybridStorageService.java:38)."""
    from datetime import datetime, timezone

    return datetime.fromtimestamp(ts_ms / 1000,
                                  tz=timezone.utc).strftime("%Y-%m-%d")


def pages_view(pages: DataFrame) -> DataFrame:
    """Public `pages` schema (FIXTURES.md §A2): adds the reference's
    headers/metadata maps (core/WebCrawler.java:406-408) and a real
    timestamp column; drops nothing (column pruning handles projection)."""
    return (
        pages
        .withColumn("fetch_time", F.timestamp_millis(F.col("fetch_time_ms")))
        .withColumn("headers", F.create_map(
            F.lit("Content-Type"), F.col("content_type")))
        .withColumn("metadata", F.create_map(
            F.lit("depth"), F.col("depth").cast("string")))
    )


# -- lifecycle control ------------------------------------------------------
# The reference exposes POST /api/crawler/start|stop and GET /status on a
# live crawler (controller/CrawlerController.java:30-80). The Spark analog
# is file-based so it works across processes with no server: a STOP file
# requests a graceful stop (the loop finishes the in-flight round, commits
# it, and exits), and status is derived purely from the commit markers +
# a per-round heartbeat — readable while another process crawls, no
# SparkSession needed.

def _control_dir(root: str, create: bool = False) -> str:
    path = os.path.join(root, "_control")
    if create:
        os.makedirs(path, exist_ok=True)
    return path


def _stop_path(root: str) -> str:
    return os.path.join(_control_dir(root), "STOP")


def request_stop(root: str) -> str:
    """Ask a (possibly remote-process) crawl on this store to stop at its
    next round barrier. Atomic write; idempotent. Returns the path."""
    d = _control_dir(root, create=True)
    tmp = os.path.join(d, ".STOP.tmp")
    with open(tmp, "w") as fh:
        json.dump({"requested_at": time.time(), "pid": os.getpid()}, fh)
    final = _stop_path(root)
    os.replace(tmp, final)
    return final


def stop_requested(root: str) -> bool:
    return os.path.exists(_stop_path(root))


def clear_stop(root: str) -> bool:
    """Remove a pending stop request (also done automatically when a
    running loop honors it — stop is one-shot, so a later run() resumes)."""
    try:
        os.remove(_stop_path(root))
        return True
    except FileNotFoundError:
        return False


def _pending_urls_path(root: str) -> str:
    return os.path.join(_control_dir(root), "pending_urls.jsonl")


def enqueue_urls(root: str, urls: list[str]) -> int:
    """Cross-process anytime-enqueue — the POST /api/crawler/urls analog
    (reference controller/CrawlerController.java:82-134 →
    KafkaUrlQueue.enqueue): append URLs to the store's pending file with
    a single O_APPEND write (atomic for one writer call; concurrent
    writers interleave whole records, never bytes). No SparkSession
    needed — the crawl loop consumes the file at its next round barrier
    and stages the batch through the normal durable inject path.
    Returns the number of URLs appended."""
    d = _control_dir(root, create=True)
    buf = "".join(json.dumps({"url": u, "ts": time.time()}) + "\n"
                  for u in urls)
    fd = os.open(_pending_urls_path(root),
                 os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.write(fd, buf.encode())
    finally:
        os.close(fd)
    return len(urls)


def _take_pending_urls(root: str) -> tuple[list[str], list[str]]:
    """Claim the pending-URLs file (and any consuming-* leftovers from a
    crashed claim) for this process: atomic rename, so appends racing
    with the claim land in a fresh pending file for the next barrier.
    Returns (urls in arrival order, claimed file paths). Caller must
    stage the batch DURABLY (Crawler.inject) before removing the files —
    a crash in between re-consumes the same claim idempotently (inject
    rows dedup on url at round consumption)."""
    d = _control_dir(root)
    if not os.path.isdir(d):
        return [], []
    taken = [os.path.join(d, n) for n in sorted(os.listdir(d))
             if n.startswith("consuming-")]
    p = _pending_urls_path(root)
    if os.path.exists(p):
        tgt = os.path.join(d, f"consuming-{os.getpid()}-{time.time_ns()}")
        os.replace(p, tgt)
        taken.append(tgt)
    urls: list[str] = []
    for path in taken:
        try:
            fh = open(path)
        except FileNotFoundError:
            # another run() staged and removed this claim after listdir
            continue
        with fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    u = json.loads(line).get("url")
                except ValueError:
                    continue
                if isinstance(u, str) and u:
                    urls.append(u)
    return list(dict.fromkeys(urls)), taken


def _write_heartbeat(root: str, round_no: int) -> None:
    d = _control_dir(root, create=True)
    tmp = os.path.join(d, ".heartbeat.tmp")
    with open(tmp, "w") as fh:
        json.dump({"pid": os.getpid(), "round": round_no,
                   "ts": time.time()}, fh)
    os.replace(tmp, os.path.join(d, "heartbeat.json"))


def round_marks(root: str) -> list[int]:
    """Committed crawl-round marker numbers, ascending — a read-only
    listing (a store that does not exist yet has none)."""
    try:
        names = os.listdir(os.path.join(root, "_commits"))
    except FileNotFoundError:
        return []
    return sorted(int(n[len("round-"):-len(".json")]) for n in names
                  if n.startswith("round-") and n.endswith(".json"))


def _marker_path(root: str, mark: int) -> str:
    return os.path.join(root, "_commits", f"round-{mark}.json")


def marker_stamp(root: str, mark: int) -> tuple[int, int] | None:
    """Identity of one committed round marker file (inode, mtime). A
    reader that caches what it derived from the marker log checks that the
    marker it stopped at is still the same file before it reads only the
    newer ones: a store replaced under it fails the check and is re-read
    from scratch."""
    try:
        st = os.stat(_marker_path(root, mark))
    except FileNotFoundError:
        return None
    return st.st_ino, st.st_mtime_ns


class CrawlStatus:
    """Live status of a crawl store — the GET /status analog. Pure
    filesystem reads (commit markers + heartbeat), so it is safe and
    cheap to call from another process while a crawl runs.

    The marker fold (per-metric totals over every committed round, the
    last round's meta) is kept between calls: ``read()`` parses only the
    markers it has not folded yet, so a long-lived reader (the HTTP API)
    pays per new round, not per round of the crawl. A marker log that no
    longer extends the folded one (store replaced) is folded afresh. The
    heartbeat and the STOP file are read on every call."""

    def __init__(self, root: str):
        self.root = root
        self._lock = threading.Lock()
        self._marks: list[int] = []
        self._stamp: tuple[int, int] | None = None
        self._totals: dict[str, int] = {}
        self._last_meta: dict | None = None

    def _fold(self) -> tuple[list[int], dict[str, int], dict | None]:
        with self._lock:
            marks = round_marks(self.root)
            n = len(self._marks)
            if (marks[:n] != self._marks
                    or (n and marker_stamp(self.root, marks[n - 1])
                        != self._stamp)):
                self._marks, self._totals, self._last_meta = [], {}, None
                n = 0
            for m in marks[n:]:
                try:
                    with open(_marker_path(self.root, m)) as fh:
                        meta = json.load(fh)
                except FileNotFoundError:
                    meta = {}
                for k, v in (meta.get("counts") or {}).items():
                    self._totals[k] = self._totals.get(k, 0) + v
                if meta.get("counts") is not None:
                    self._last_meta = meta
            if marks[n:]:
                self._stamp = marker_stamp(self.root, marks[-1])
            self._marks = marks
            return marks, dict(self._totals), self._last_meta

    def read(self) -> dict:
        """Last committed marker, per-metric totals summed over all
        committed rounds, the last round's counts/stage timings, heartbeat
        (pid/round/age of the in-flight process, if any), and whether a
        stop has been requested."""
        rounds, totals, last_meta = self._fold()
        hb = None
        hb_path = os.path.join(_control_dir(self.root), "heartbeat.json")
        if os.path.exists(hb_path):
            with open(hb_path) as fh:
                hb = json.load(fh)
            hb["age_sec"] = round(time.time() - hb["ts"], 1)
        return {
            "store": self.root,
            "last_committed_marker": rounds[-1] if rounds else None,
            "rounds_processed": max(0, len(rounds) - 1),
            "totals": totals,
            "last_round": None if last_meta is None else {
                "round": last_meta.get("round_processed"),
                "counts": last_meta.get("counts"),
                "stage_sec": last_meta.get("stage_sec"),
                "sec": last_meta.get("sec"),
            },
            "heartbeat": hb,
            "stop_requested": stop_requested(self.root),
        }


def crawl_status(root: str) -> dict:
    """One-shot status of a crawl store (``tools/run_crawl.py --status``):
    a fresh CrawlStatus fold over every committed marker."""
    return CrawlStatus(root).read()


class Crawler:
    def __init__(self, spark: SparkSession, cfg: CrawlConfig,
                 synth_cfg: SynthWebConfig, root: str, fetcher=None,
                 robots_fetcher=None, store=None, sitemap_fetcher=None,
                 feed_fetcher=None):
        self.spark = spark
        self.cfg = cfg
        self.synth_cfg = synth_cfg
        # any tables.catalog.RoundCatalog implementation; the parquet
        # SnapshotStore is the default (and the only one this container
        # can run — see catalog.py for the Iceberg mapping)
        self.store = store if store is not None else SnapshotStore(root)
        if fetcher is None and synth_cfg is None:
            raise ValueError(
                "Crawler needs either a synth_cfg (synthetic web) or an "
                "injected fetcher (e.g. httpfetch.make_http_fetcher)")
        self.fetcher = fetcher or make_synth_fetcher(synth_cfg)
        # Robots must match the page fetcher: with no synthetic web at all
        # (synth_cfg=None ⇒ the injected fetcher is a real one), synthetic
        # robots would raise inside robots_disallow_for_host and — worse —
        # silently evaluate allow-all for real hosts, so default to the
        # real-HTTP robots fetcher. When synth_cfg IS provided, an
        # injected fetcher is presumed a synthetic wrapper (tests /
        # instrumentation) and keeps the synthetic robots rules that the
        # golden model evaluates; callers pairing a real fetcher with a
        # synthetic web must inject robots_fetcher explicitly.
        if robots_fetcher is None and fetcher is not None and synth_cfg is None:
            from .httpfetch import make_http_robots_fetcher
            robots_fetcher = make_http_robots_fetcher(
                user_agent=(cfg.robots_user_agent if cfg.robots_ua_groups
                            else None))
        self.robots_fetcher = robots_fetcher
        # same pairing rule for the sitemap-document fetcher: a real-web
        # crawl (no synth_cfg) defaults to real HTTP; a synthetic web
        # defaults to the synthetic fetcher inside build_fetch
        if (sitemap_fetcher is None and cfg.sitemap_discovery
                and synth_cfg is None):
            from .httpfetch import make_http_sitemap_fetcher
            sitemap_fetcher = make_http_sitemap_fetcher()
        self.sitemap_fetcher = sitemap_fetcher
        # feed-document fetcher (cfg.feed_discovery): real web ⇒ real
        # HTTP (the sitemap rule); a synthetic web builds its fetcher
        # PER ROUND (_feed_fetcher_for) so feed drift serves the right
        # content version at each round
        if (cfg.feed_discovery and feed_fetcher is None
                and synth_cfg is None):
            from .httpfetch import make_http_feed_fetcher
            feed_fetcher = make_http_feed_fetcher()
        self.feed_fetcher = feed_fetcher

    # -- lifecycle -----------------------------------------------------------

    def bootstrap(self, seeds: list[str]) -> None:
        if self.store.last_round() is not None:
            return  # already bootstrapped; resume via run()
        frontier0 = seeds_frontier(self.spark, seeds, self.cfg)
        self.store.stage_write("frontier", frontier0, 0)
        blooms0 = build_bloom_shards(frontier0.select("url"), self.cfg)
        self.store.stage_write("bloom", blooms0, 0)
        self.store.commit_round(0, {"stage": "bootstrap", "seeds": len(seeds)})

    def inject(self, seeds: list[str]) -> int:
        """Mid-crawl URL injection — the reference's anytime-enqueue
        endpoint (POST /api/crawler/urls, controller/CrawlerController
        .java:91-134 → KafkaUrlQueue.enqueue): stage seed rows for the
        NEXT round to run. Consumed by that round's execution: deduped
        against the full URL-seen state via the same bloom-front +
        exact re-check as discovered children, unioned into the polled
        frontier, and inserted into the seen filters before link
        discovery — so later rounds (and that round's own children) can
        never re-enqueue an injected URL. Durable once this returns
        (parquet append under tables/inject/round=<r>); a round killed
        after injection re-consumes the identical staged batch on
        resume, preserving golden parity. Returns the target round."""
        last = self.store.last_round()
        if last is None:
            raise RuntimeError("bootstrap(seeds) first")
        r = last
        df = seeds_frontier(self.spark, seeds, self.cfg, round_no=r)
        df.write.mode("append").parquet(self.store.round_dir("inject", r))
        return r

    def inject_frontier(self, frontier: DataFrame) -> int:
        """Wire-format injection: stage pre-built FRONTIER_SCHEMA rows
        (e.g. ``sources.kafka_bridge.frontier_from_json`` of a
        CrawlRequest topic — the reference's Kafka frontier,
        queue/KafkaUrlQueue.java:47-56) for the next round, preserving
        the wire's depth / parent_url / priority / retry_count /
        timestamps instead of re-seeding at depth 0. Rows are
        re-stamped to the target round; duplicate URLs within the
        batch collapse to the deterministic min-metadata row (the
        order-preserving-first analog of inject()'s batch dedup).
        Everything downstream — URL-seen dedup, gates (a wire record
        past max_depth is REJECTED, exactly as the reference's consumer
        would drop it), politeness — is the normal round path."""
        last = self.store.last_round()
        if last is None:
            raise RuntimeError("bootstrap(seeds) first")
        r = last
        meta = [f.name for f in FRONTIER_SCHEMA.fields
                if f.name not in ("url", "round")]
        df = (frontier
              .groupBy("url")
              .agg(F.min(F.struct(*meta)).alias("_m"))
              .select("url", *[F.col(f"_m.{c}").alias(c) for c in meta],
                      F.lit(r).cast("int").alias("round"))
              .select(*[F.col(f.name).cast(f.dataType)
                        for f in FRONTIER_SCHEMA.fields]))
        df.write.mode("append").parquet(self.store.round_dir("inject", r))
        return r

    def _frontier_empty(self, r: int) -> bool:
        """True iff frontier round r has no rows. Derived from the previous
        round's committed counts (discovered + deferred) when available —
        avoids a per-round Spark job just to test emptiness. A staged
        injection batch revives an otherwise-drained frontier."""
        if self.store.exists("inject", r):
            return False
        meta = self.store.round_meta(r)
        if meta is not None:
            if "seeds" in meta:
                return meta["seeds"] == 0
            counts = meta.get("counts")
            if counts is not None:
                return (counts.get("discovered", 0)
                        + counts.get("deferred", 0)) == 0
        frontier = self.store.read(self.spark, "frontier", [r])
        return frontier is None or frontier.limit(1).count() == 0

    def _latest_compact(self, name: str, r: int) -> int | None:
        """Newest committed compaction snapshot of ``name`` at round ≤ r.
        A compact dir is valid iff its round marker committed — a crash
        between the staged compact write and the marker leaves an orphan
        that is invisible here and overwritten on re-run."""
        for c in reversed(self.store.committed_rounds()):
            if c <= r and self.store.exists(name, c):
                return c
        return None

    def _feed_fetcher_for(self, r: int):
        """The round's feed-document fetcher: an injected/HTTP fetcher
        verbatim, else the synthetic fetcher at the round's drift
        version (synthweb.feed_version_at_round — the robots-drift
        pattern)."""
        if not self.cfg.feed_discovery:
            return None
        if self.feed_fetcher is not None:
            return self.feed_fetcher
        from ..operators.feeds import make_synth_feed_fetcher
        from .synthweb import feed_version_at_round
        return make_synth_feed_fetcher(
            self.synth_cfg, feed_version_at_round(self.synth_cfg, r))

    def _state_for(self, r: int) -> RoundState:
        """Accumulated state for round r. Each history table reads its
        newest compacted snapshot (ONE hash-bucketed directory) plus the
        ≤ compact_every_rounds uncompacted tail rounds — without this,
        steady-state rounds union and re-list the FULL crawl history
        (O(rounds) directories, with deferred URLs duplicated across
        frontier rounds) on every round. Stores without compaction
        snapshots (older layouts, compact_every_rounds=0) fall back to
        the full round union."""
        def hist(compact_name: str, compact_cols: list[str] | None,
                 tail_name: str, tail_lo_of, tail_hi: int, project=None):
            proj = project or (lambda df: df.select(*compact_cols))
            c = self._latest_compact(compact_name, r)
            if c is None:
                return self.store.read(self.spark, tail_name,
                                       list(range(tail_hi)))
            base = proj(self.store.read(self.spark, compact_name, [c]))
            tail = self.store.read(self.spark, tail_name,
                                   list(range(tail_lo_of(c), tail_hi)))
            return base if tail is None else base.unionByName(proj(tail))

        # url_seen@c covers frontier rounds 0..c → tail = c+1..r
        seen_urls = hist("url_seen", ["url"], "frontier",
                         lambda c: c + 1, r + 1)
        # mid-crawl injections are enqueued state too (D4: seen ⇔ ever
        # enqueued). inject@k was folded into round k's frontier in
        # memory, never into a frontier dir, so the history union must
        # read the inject dirs: compact@c covers inject rounds ≤ c-1
        # (the snapshot was built from round c-1's post-injection
        # state), leaving the c..r-1 tail; round r's own staged batch
        # is deliberately EXCLUDED — run() dedups then folds it.
        c = self._latest_compact("url_seen", r)
        inj = self.store.read(self.spark, "inject",
                              list(range(0 if c is None else c, r)))
        if inj is not None:
            seen_urls = (seen_urls.select("url")
                         .unionByName(inj.select("url")))
        # hash_seen@c covers stored rounds 0..c-1 → tail = c..r-1
        seen_hashes = hist("hash_seen", ["content_hash"], "stored",
                           lambda c: c, r)
        # robots_compact@c covers robots rounds 0..c-1 → tail = c..r-1
        # (with_robots_cols backfills crawl_delay on pre-crawl-delay stores)
        from ..operators.robots import with_robots_cols
        robots = hist("robots_compact", None, "robots", lambda c: c, r,
                      project=with_robots_cols)
        return RoundState(
            robots=robots,
            seen_hashes=None if seen_hashes is None
            else seen_hashes.select("content_hash"),
            seen_urls=seen_urls.select("url"),
            blooms=self.store.read(self.spark, "bloom", [r]),
            # feeds_compact@c covers feeds rounds 0..c-1 → tail = c..r-1
            feeds=hist("feeds_compact", ["feed_url", "fetched_round"],
                       "feeds", lambda c: c, r),
        )

    def _compact_state(self, r: int, state: RoundState) -> None:
        """Rewrite the accumulated seen-state as single snapshots at round
        r+1 (staged; valid once marker r+1 commits):

          url_seen@r+1   = distinct url over frontier rounds 0..r+1
          hash_seen@r+1  = distinct content_hash over stored rounds 0..r
          robots_compact@r+1 = host rules over robots rounds 0..r

        url/hash snapshots are hash-bucketed (pmod(xxhash64(key), P),
        one file per bucket) — the layout an Iceberg bucket-transform
        table would maintain, so the exact re-check join's history side
        swaps to a storage-partitioned join when real Iceberg is
        available. Amortized cost O(|history| / K) per round; without it
        the per-round state read itself is O(|history|) directories.
        Builds on the frames _state_for already assembled for this round
        (compact ∪ tail), extended by this round's staged writes."""
        nxt = r + 1
        P = self.cfg.seen_state_buckets

        def bucketed(df, key):
            return (df.distinct()
                    .withColumn("bucket",
                                F.pmod(F.xxhash64(key), F.lit(P)).cast("int"))
                    .repartition(P, "bucket"))

        urls = state.seen_urls
        f_next = self.store.read(self.spark, "frontier", [nxt])
        if f_next is not None:
            urls = urls.unionByName(f_next.select("url"))
        hashes = self.store.read(self.spark, "stored", [r]).select("content_hash")
        if state.seen_hashes is not None:
            hashes = state.seen_hashes.unionByName(hashes)
        with ThreadPoolExecutor(max_workers=3) as ex:
            fu = ex.submit(self.store.stage_write, "url_seen",
                           bucketed(urls, "url"), nxt, ["bucket"])
            fh = ex.submit(self.store.stage_write, "hash_seen",
                           bucketed(hashes, "content_hash"), nxt, ["bucket"])
            from ..operators.robots import ROBOTS_COLS, with_robots_cols
            robots = with_robots_cols(
                self.store.read(self.spark, "robots", [r]))
            if state.robots is not None:
                robots = with_robots_cols(state.robots).unionByName(robots)
            # latest-fetch-wins per host: robots TTL refetches
            # (cfg.robots_ttl_rounds) re-record a host; compaction keeps
            # one row so the snapshot stays host-grain-bounded
            robots = (robots.groupBy("host")
                      .agg(F.max_by(
                          F.struct(*[c for c in ROBOTS_COLS
                                     if c != "host"]),
                          F.coalesce(F.col("fetched_round"), F.lit(-1)))
                          .alias("w"))
                      .select("host", *[f"w.{c}" for c in ROBOTS_COLS
                                        if c != "host"]))
            fr = ex.submit(self.store.stage_write, "robots_compact",
                           robots, nxt)
            # feeds state (cfg.feed_discovery): latest attempt per feed
            # — the only fact the TTL freshness check consumes; covers
            # feeds rounds 0..r (incl. this round's staged delta)
            feeds = state.feeds
            f_now = self.store.read(self.spark, "feeds", [r])
            if f_now is not None:
                cols = ["feed_url", "fetched_round"]
                f_now = f_now.select(*cols)
                feeds = (f_now if feeds is None
                         else feeds.select(*cols).unionByName(f_now))
            ff = None
            if feeds is not None:
                feeds = (feeds.groupBy("feed_url")
                         .agg(F.max("fetched_round")
                              .alias("fetched_round")))
                ff = ex.submit(self.store.stage_write, "feeds_compact",
                               feeds, nxt)
            fu.result(), fh.result(), fr.result()
            if ff is not None:
                ff.result()

    def _adaptive_overrides(self, r: int):
        """AIMD politeness feedback (cfg.adaptive_budget): hosts whose
        PREVIOUS round had a >10% fetch-failure rate get their budget
        halved this round (tightening only; recovery is automatic — a
        healthy round emits no row, so the host returns to the base /
        Crawl-delay budget next round). Derives from the committed
        round-(r-1) pages table — a slim (host, fetched) column-pruned
        scan — so the signal is identical on resume. Mirrored by
        golden.golden_crawl for visit-sequence parity."""
        if not self.cfg.adaptive_budget or r < 1:
            return None
        prev_root = self.store.round_dir("pages", r - 1)
        if not os.path.isdir(prev_root):
            return None
        prev = self.spark.read.parquet(prev_root)
        half = max(1, self.cfg.host_budget_per_round // 2)
        agg = (prev.groupBy("host")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(F.col("fetched"), 0).otherwise(1))
                    .alias("fails")))
        return (agg.where(F.col("fails") * 10 > F.col("n"))
                .select("host", F.lit(half).alias("next_budget")))

    def run(self, max_rounds: int | None = None) -> dict:
        """Process rounds from the last committed marker until the frontier
        drains or max_rounds is reached. Returns throughput stats."""
        max_rounds = max_rounds if max_rounds is not None else self.cfg.max_rounds
        r = self.store.last_round()
        if r is None:
            raise RuntimeError("bootstrap(seeds) first")
        t0 = time.time()
        totals = {"fetched": 0, "stored": 0, "rounds": 0}
        per_round = []
        stopped = False
        root = getattr(self.store, "root", None)
        while r < max_rounds:
            # graceful stop (request_stop / tools/run_crawl.py --stop): the
            # check sits AT the round barrier, so a stop requested while
            # round r-1 was in flight lets it finish and commit — the store
            # is then byte-identical to an uninterrupted run's prefix and
            # a later run() resumes seamlessly. The request is consumed
            # (one-shot), mirroring the reference's stop→start toggle.
            if root is not None and stop_requested(root):
                clear_stop(root)
                stopped = True
                break
            if root is not None:
                _write_heartbeat(root, r)
                # anytime-enqueue handshake (enqueue_urls / the HTTP
                # API's POST /api/crawler/urls): claim the pending file
                # atomically, stage the batch through the DURABLE inject
                # path, then drop the claim — a crash between stage and
                # drop re-consumes the identical batch (inject rows
                # dedup on url), so no URL is lost or double-crawled.
                # Another run() process may have scavenged and removed
                # the same consuming-* claim already.
                pend_urls, claimed = _take_pending_urls(root)
                if pend_urls:
                    self.inject(pend_urls)
                for path in claimed:
                    Path(path).unlink(missing_ok=True)
            frontier = self.store.read(self.spark, "frontier", [r])
            if frontier is None:
                if not self.store.exists("inject", r):
                    break
                # injection revived a drained crawl: poll injected only
                frontier = self.spark.createDataFrame([], FRONTIER_SCHEMA)
            elif self._frontier_empty(r):
                break
            rt0 = time.time()
            stage_sec: dict[str, float] = {}

            def _timed(name, fn, _s=stage_sec):
                t = time.time()
                out = fn()
                _s[name] = round(time.time() - t, 2)
                return out

            state = _timed("state", lambda: self._state_for(r))
            # mid-crawl injection (inject()): dedup the staged batch
            # against the full URL-seen state with the SAME bloom-front
            # + exact re-check path as discovered children, then fold
            # the survivors into this round's frontier AND seen state
            # (bloom + exact side) so within-round rediscovery by a
            # child link cannot re-enqueue them. Idempotent across a
            # crash: the staged batch is immutable and the dedup is
            # deterministic, so a re-run consumes it identically.
            inj_n = 0
            inj_cached = []
            pending = self.store.read(self.spark, "inject", [r])
            if pending is not None:
                injected = filter_unseen_urls(
                    pending.dropDuplicates(["url"]), state.seen_urls,
                    state.blooms, self.cfg).persist()
                inj_cached.append(injected)
                inj_n = injected.count()
                if inj_n:
                    frontier = frontier.unionByName(injected)
                    seen_plus = (injected.select("url") if
                                 state.seen_urls is None else
                                 state.seen_urls.select("url").unionByName(
                                     injected.select("url")))
                    blooms_plus = (None if state.blooms is None else
                                   build_bloom_shards(
                                       injected.select("url"), self.cfg,
                                       existing=state.blooms))
                    state = dataclasses.replace(
                        state, seen_urls=seen_plus, blooms=blooms_plus)
            # phase A: fetch → pages shards in ONE pass, written by the
            # Arrow workers themselves — payload bytes never cross the
            # Python→JVM boundary, never shuffle, never hit the cache. The
            # JVM sinks only the slim fetch result.
            # Physical layout: pages/round=r/fetch_date=YYYY-MM-DD/ — the
            # same date partitioning the reference uses for its blob keys
            # (storage/HybridStorageService.java:37-39), so time-range
            # reads over a long crawl prune at the directory level (the
            # round clock fixes one date per round).
            pages_root = self.store.round_dir("pages", r, create=True)
            fetch_date = _utc_date(self.cfg.round_ts_ms(r))
            pages_dir = os.path.join(pages_root, f"fetch_date={fetch_date}")
            os.makedirs(pages_dir, exist_ok=True)
            plan = _timed("plan", lambda: build_fetch(
                self.spark, frontier, state,
                self.cfg, self.fetcher, self.synth_cfg, r, pages_dir,
                robots_fetcher=self.robots_fetcher,
                overrides=self._adaptive_overrides(r),
                sitemap_fetcher=self.sitemap_fetcher))
            # the action: workers sink their shard and return a receipt row
            receipts = _timed("fetch_write", lambda: plan.fetched.collect())
            if not any(f.endswith(".parquet")
                       for f in os.listdir(pages_dir)):
                write_empty_payload(pages_dir)
            # phase B: column-pruned scans of the worker-written shards
            # (ReadSchema never includes `bytes` — see PLANS.md).
            raw = self.spark.read.parquet(pages_root)
            res = finish_round(self.spark, raw, plan, state, self.cfg, r,
                               fetched_hint=sum(row["n_fetched"]
                                                for row in receipts),
                               feed_fetcher=self._feed_fetcher_for(r))
            # Sinks are ordered so every persisted intermediate (stored
            # winners, probed new_urls) materializes exactly once — inside
            # the frontier-write job, the round's one big phase-B action —
            # and later sinks run as concurrent cache-only Spark jobs, so
            # no stage computes twice and the serialized tail is a single
            # wave of small jobs.
            next_frontier, evicted = res.next_frontier, 0
            if self.cfg.frontier_cap:
                next_frontier, evicted = _timed(
                    "evict", lambda: self._evict_frontier(res.next_frontier))
            with ThreadPoolExecutor(max_workers=2) as ex:
                f1 = ex.submit(_timed, "frontier", lambda: self.store
                               .stage_write("frontier", next_frontier,
                                            r + 1))
                f2 = ex.submit(_timed, "robots", lambda: self.store
                               .stage_write("robots", plan.robots_new, r))
                f1.result(), f2.result()
            with ThreadPoolExecutor(max_workers=4) as ex:
                f1 = ex.submit(_timed, "stored", lambda: self.store
                               .stage_write("stored", res.stored, r))
                # URL-bloom delta: only genuinely-new URLs — deferred rows
                # were inserted when they first entered a frontier, so
                # re-inserting all of next_frontier wasted the deferred
                # share of the build
                f2 = ex.submit(_timed, "bloom", lambda: self.store
                               .stage_write("bloom", build_bloom_shards(
                                   res.new_urls.select("url"), self.cfg,
                                   existing=state.blooms), r + 1))
                # lineage is tiny (≤ shards × metrics rows): one collect
                # feeds both the lineage table and the round counts
                f3 = ex.submit(_timed, "lineage",
                               lambda: res.lineage.collect())
                # parsed sitemap entries (host-grain metadata for
                # lastmod recrawl planning) — derives from the persisted
                # doc tables, so this is a cache-only job like the rest
                f5 = (ex.submit(_timed, "sitemap", lambda: self.store
                                .stage_write("sitemap",
                                             plan.sitemap_entries
                                             .withColumn("fetched_round",
                                                         F.lit(r)), r))
                      if plan.sitemap_entries is not None else None)
                # feed tier state (cfg.feed_discovery): the attempted-
                # feed delta + parsed entry metadata — cache-only jobs
                # off the persisted feed docs, same crash rule as sitemap
                f6 = (ex.submit(_timed, "feeds", lambda: (
                    self.store.stage_write(
                        "feeds", res.feeds_new
                        .withColumn("fetched_round", F.lit(r)), r),
                    self.store.stage_write(
                        "feed_entries", res.feed_entries
                        .withColumn("fetched_round", F.lit(r)), r)))
                      if res.feeds_new is not None else None)
                f1.result(), f2.result()
                if f5 is not None:
                    f5.result()
                if f6 is not None:
                    f6.result()
                lineage_rows = f3.result()
            self.store.stage_write(
                "lineage",
                self.spark.createDataFrame(lineage_rows, res.lineage.schema),
                r)
            if (self.cfg.compact_every_rounds
                    and (r + 1) % self.cfg.compact_every_rounds == 0):
                _timed("compact", lambda: self._compact_state(r, state))
            counts: dict[str, int] = {}
            for row in lineage_rows:
                counts[row["metric"]] = (counts.get(row["metric"], 0)
                                         + row["value"])
            if inj_n:
                counts["injected"] = inj_n
            if evicted:
                counts["evicted"] = evicted
            self.store.commit_round(r + 1, {"round_processed": r,
                                            "counts": counts,
                                            "stage_sec": stage_sec,
                                            "sec": time.time() - rt0})
            for df in (*plan.cached, *res.cached, *inj_cached):
                df.unpersist()
            per_round.append({"round": r, **counts})
            totals["fetched"] += counts.get("fetched", 0)
            totals["stored"] += counts.get("stored", 0)
            totals["rounds"] += 1
            r += 1
        wall = time.time() - t0
        return {**totals, "wall_sec": wall,
                "urls_per_sec": totals["fetched"] / wall if wall > 0 else 0.0,
                "stopped": stopped,
                "per_round": per_round}

    def status(self) -> dict:
        """GET /status analog over this crawler's store (crawl_status)."""
        root = getattr(self.store, "root", None)
        if root is None:
            raise ValueError("status() needs a filesystem-rooted store")
        return crawl_status(root)

    def request_stop(self) -> str:
        """Ask the loop (this or another process) to stop at the next
        round barrier."""
        root = getattr(self.store, "root", None)
        if root is None:
            raise ValueError("request_stop() needs a filesystem-rooted store")
        return request_stop(root)

    def expire_state(self) -> dict[str, int]:
        """Iceberg ExpireSnapshots EXECUTED for the engine's derived
        state: delete directories fully absorbed by newer compaction
        snapshots or superseded filter generations, so a long crawl's
        disk footprint stays O(corpus + tail) instead of O(corpus ×
        rounds). Never touches RESULT surfaces (pages / stored /
        lineage / inject≥c / revalidations) or anything a resume reads;
        commit markers stay — they are the log.

        With committed head h and latest compaction generation c:
        - older compaction generations of url_seen / hash_seen /
          robots_compact (resume reads only the latest ≤ h);
        - bloom dirs at rounds < h (resume reads @h only);
        - every hash_bloom dir: a content-hash filter table that older
          stores wrote each round and nothing reads any more;
        - frontier dirs ≤ min(c, h-1) (url_seen@c absorbs rounds 0..c;
          round h is the live frontier) — at 10^10 scale these carry
          full frontier snapshots and dominate derived-state bytes;
        - robots dirs < c (robots_compact@c covers fetches 0..c-1).
        Inject dirs are kept: they are the injection audit record and
        tiny by construction.
        Returns per-table deleted-dir counts. Idempotent; crash-safe
        (operates only on committed, already-absorbed rounds — a crash
        mid-expiry leaves a subset deleted, which the next call or any
        read tolerates since absorbed dirs are never consulted)."""
        h = self.store.last_round()
        counts: dict[str, int] = {}
        if h is None:
            return counts

        def drop(name: str, rounds) -> None:
            n = sum(self.store.delete_round(name, r) for r in rounds)
            if n:
                counts[name] = n

        for name in ("url_seen", "hash_seen", "robots_compact",
                     "feeds_compact"):
            gens = [g for g in self.store.rounds_present(name) if g <= h]
            if len(gens) > 1:
                drop(name, gens[:-1])
        c = self._latest_compact("url_seen", h)
        drop("bloom", [r for r in self.store.rounds_present("bloom")
                       if r < h])
        drop("hash_bloom", self.store.rounds_present("hash_bloom"))
        if c is not None:
            drop("frontier",
                 [r for r in self.store.rounds_present("frontier")
                  if r <= min(c, h - 1)])
            drop("robots",
                 [r for r in self.store.rounds_present("robots")
                  if r < c])
        cf = self._latest_compact("feeds_compact", h)
        if cf is not None:
            # feeds_compact@cf covers feeds rounds 0..cf-1
            drop("feeds", [r for r in self.store.rounds_present("feeds")
                           if r < cf])
        return counts

    def _evict_frontier(self, nf: DataFrame) -> tuple[DataFrame, int]:
        """Frontier eviction (cfg.frontier_cap): keep exactly the cap
        smallest rows under the canonical (priority, host, url) total
        order. Distributed selection via priority strata — priorities
        are a small integer domain (≤ priority_inlink_cap values), so
        one tiny per-priority count aggregate (collected: ≤ cap_p rows)
        finds the boundary stratum by prefix sum; whole strata below it
        keep without any sort, and only the BOUNDARY stratum runs a
        top-K (TakeOrderedAndProject at test scale; at a 10^9-row
        boundary stratum the same prefix-sum trick recurses on a salted
        sub-key). Equal by construction to a global
        orderBy(priority, host, url).limit(cap) — the golden model
        mirrors it as exactly that sort-and-slice."""
        counts = sorted(
            (row["priority"], row["n"]) for row in
            nf.groupBy("priority").agg(F.count("*").alias("n")).collect())
        total = sum(n for _, n in counts)
        cap = self.cfg.frontier_cap
        if total <= cap:
            return nf, 0
        if self.cfg.frontier_cap_mode == "hostfair":
            return self._evict_hostfair(nf, total, cap)
        kept = 0
        for p_star, n in counts:
            if kept + n > cap:
                room = cap - kept
                break
            kept += n
        keep = nf.where(F.col("priority") < p_star)
        if room:
            keep = keep.unionByName(
                nf.where(F.col("priority") == p_star)
                .orderBy("host", "url").limit(room))
        return keep, total - cap

    def _evict_hostfair(self, nf: DataFrame, total: int,
                        cap: int) -> tuple[DataFrame, int]:
        """Host-fair eviction (frontier_cap_mode="hostfair"): waterfilled
        per-host quota closing the F5 × eviction interaction — the
        canonical (priority, host, url) order lets one Zipf-head host
        fill the whole cap and starve every lexicographically-later
        host's politeness budget; here every pending host keeps its
        FIRST min(size_h, R*) rows under the same (priority, url) order
        F5 fetches in, with R* = max rank whose coverage
        Σ_h min(size_h, R) fits the cap, and the remainder fills from
        the single boundary rank R*+1 in canonical order (coverage
        strictly steps past the cap there, so one rank always
        suffices). Survivors are exactly the rows politeness would fetch
        soonest per host; global priority yields to host fairness
        ACROSS hosts by design (within a host it still orders).

        Scale shape: the rank window is one exchange on host — the
        partitioning politeness already uses; R* derives from a
        host-size HISTOGRAM (groupBy(host).count() → groupBy(n).count(),
        distinct sizes ≪ hosts) collected to the driver; only the
        boundary rank runs a top-K. Golden-mirrored verbatim."""
        from pyspark.sql import Window

        hist = sorted(
            (row["sz"], row["n_hosts"]) for row in
            nf.groupBy("host").agg(F.count("*").alias("sz"))
            .groupBy("sz").agg(F.count("*").alias("n_hosts")).collect())

        def coverage(r: int) -> int:
            return sum(min(sz, r) * n for sz, n in hist)

        lo, hi = 0, max(sz for sz, _ in hist)
        while lo < hi:  # largest R with coverage(R) <= cap
            mid = (lo + hi + 1) // 2
            if coverage(mid) <= cap:
                lo = mid
            else:
                hi = mid - 1
        r_star = lo
        room = cap - coverage(r_star)
        w = Window.partitionBy("host").orderBy("priority", "url")
        ranked = nf.withColumn("_rk", F.row_number().over(w))
        keep = ranked.where(F.col("_rk") <= r_star)
        if room:
            keep = keep.unionByName(
                ranked.where(F.col("_rk") == r_star + 1)
                .orderBy("priority", "host", "url").limit(room))
        return keep.drop("_rk"), total - cap

    # -- results -------------------------------------------------------------

    def _rounds_upto(self, as_of_round: int | None) -> int:
        """Exclusive upper bound of processed-round reads: the committed
        head, or an Iceberg-style time-travel point — snapshots are
        immutable, so `as_of_round=k` reproduces exactly what pages()
        returned when marker k was the head, forever."""
        last = self.store.last_round() or 0
        if as_of_round is None:
            return last
        if not 0 <= as_of_round <= last:
            raise ValueError(
                f"as_of_round={as_of_round} outside committed range "
                f"0..{last}")
        return as_of_round

    def pages(self, as_of_round: int | None = None) -> DataFrame | None:
        """Canonical stored-pages view: raw fetches ⋉ stored winners.
        Payload bytes only materialize for consumers that select them —
        every slim query stays on pruned columns. ``as_of_round=k``
        time-travels to the state as of commit marker k."""
        upto = self._rounds_upto(as_of_round)
        raw = self.store.read(self.spark, "pages", list(range(upto)))
        stored = self.store.read(self.spark, "stored", list(range(upto)))
        if raw is None or stored is None:
            return None
        return pages_view(
            raw.join(stored.select("url"), "url", "left_semi"))

    def stored_slim(self, as_of_round: int | None = None
                    ) -> DataFrame | None:
        upto = self._rounds_upto(as_of_round)
        return self.store.read(self.spark, "stored", list(range(upto)))

    def lineage(self, as_of_round: int | None = None) -> DataFrame | None:
        upto = self._rounds_upto(as_of_round)
        return self.store.read(self.spark, "lineage", list(range(upto)))

    def visit_sequence(self) -> list[tuple[int, str, str]]:
        """Canonical (round, host, url) visit order — the parity target vs
        the golden model (north_rule 'crawl ordering')."""
        stored = self.stored_slim()
        if stored is None:
            return []
        rows = (stored.select("round", "priority", "host", "url")
                .orderBy("round", "priority", "host", "url").collect())
        return [(row["round"], row["host"], row["url"]) for row in rows]

    def url_seen_set(self) -> set[str]:
        stored = self.stored_slim()
        return set() if stored is None else {
            row["url"] for row in stored.select("url").distinct().collect()}

    def register_views(self, prefix: str = "crawl_") -> list[str]:
        """Expose every committed result surface as Spark SQL temp views
        (`<prefix>pages`, `<prefix>stored`, `<prefix>lineage`, and when
        committed `<prefix>revalidations` / `<prefix>refreshed_pages` /
        `<prefix>sitemap`)
        so `spark.sql(...)` works directly over the store — the engine's
        query-API analog of the reference's REST read endpoints
        (controller/CrawlerController.java). Views are lazy plans over
        committed snapshots: re-register after new commits to advance."""
        surfaces = {
            "pages": self.pages(),
            "stored": self.stored_slim(),
            "lineage": self.lineage(),
            "revalidations": self.revalidations(),
            "refreshed_pages": (self.refreshed_pages()
                                if self.pages() is not None else None),
            # committed sitemap entries (discovery tier) — present only
            # when cfg.sitemap_discovery ever ran against this store
            "sitemap": self.store.read(self.spark, "sitemap"),
            # committed feed entries (feed discovery tier) — present only
            # when cfg.feed_discovery ever ran against this store
            "feed_entries": self.store.read(self.spark, "feed_entries"),
        }
        names = []
        for name, df in surfaces.items():
            if df is not None:
                df.createOrReplaceTempView(f"{prefix}{name}")
                names.append(f"{prefix}{name}")
        return names

    # -- revalidation (conditional-GET recrawl epochs) -------------------------

    def _reval_epochs(self) -> list[int]:
        return self.store.committed_marks("reval")

    def _latest_reval_compact(self, name: str) -> int | None:
        """Newest committed epoch whose ``name`` compaction snapshot
        exists (valid iff its reval marker committed — a crash between
        the staged compact write and the marker leaves an orphan that is
        invisible and overwritten on re-run, the _latest_compact rule)."""
        for c in reversed(self._reval_epochs()):
            if self.store.exists(name, c):
                return c
        return None

    def _reval_read(self, tail_name: str, compact_name: str
                    ) -> DataFrame | None:
        """One epoch table as (newest compaction snapshot ∪ tail epochs)
        — without this, steady-state daily epochs make every view read
        O(epochs) directories, the same scale tail the crawl's seen
        state had before _compact_state. Compact rows keep their
        original reval_epoch, so downstream latest-wins windows work
        unchanged."""
        epochs = self._reval_epochs()
        if not epochs:
            return None
        c = self._latest_reval_compact(compact_name)
        if c is None:
            return self.store.read(self.spark, tail_name, epochs)
        base = self.store.read(self.spark, compact_name, [c])
        tail = self.store.read(self.spark, tail_name,
                               [e for e in epochs if e > c])
        return base if tail is None else base.unionByName(tail)

    def revalidations(self) -> DataFrame | None:
        """All committed revalidation verdicts (url, verdict, http_status,
        content_hash, etag, reval_epoch) — the full-fidelity analytic
        surface (compaction never deletes epoch dirs; the STATE paths
        below read compact+tail instead of this)."""
        return self.store.read(self.spark, "reval", self._reval_epochs())

    def _reval_stats(self, extra: DataFrame | None = None
                     ) -> DataFrame | None:
        """Per-URL sufficient statistics of the epoch history — the O(1)
        state read: newest reval_compact snapshot (url, n_obs,
        n_changes, content_hash, etag, reval_epoch) merged with an
        aggregate over the ≤K uncompacted tail epochs (⊕ ``extra``, a
        staged epoch's merged frame during compaction). n_obs/n_changes
        count non-failed verdicts (the Cho observation rule);
        content_hash/etag are the LATEST epoch's (failed rows carry the
        stored values, so latest-over-all is correct)."""
        epochs = self._reval_epochs()
        if not epochs and extra is None:
            return None
        c = self._latest_reval_compact("reval_compact")
        tail = self.store.read(
            self.spark, "reval",
            [e for e in epochs if c is None or e > c])
        if extra is not None:
            tail = extra if tail is None else tail.unionByName(extra)

        def agg_rows(df):
            ok = (F.col("verdict") != "failed").cast("int")
            latest = F.max(F.struct("reval_epoch", "content_hash",
                                    "etag")).alias("_l")
            return (df.groupBy("url")
                    .agg(F.sum(ok).alias("n_obs"),
                         F.sum(F.when(F.col("verdict") == "changed", 1)
                               .otherwise(0)).alias("n_changes"),
                         latest)
                    .select("url", "n_obs", "n_changes",
                            F.col("_l.content_hash").alias("content_hash"),
                            F.col("_l.etag").alias("etag"),
                            F.col("_l.reval_epoch").alias("reval_epoch")))

        t = None if tail is None else agg_rows(tail)
        base = (None if c is None else
                self.store.read(self.spark, "reval_compact", [c]))
        if base is None:
            return t
        if t is None:
            return base
        b = base.select(*[F.col(col).alias(f"_b_{col}")
                          for col in base.columns])
        j = t.join(b, t["url"] == b["_b_url"], "full_outer")
        tail_wins = F.col("reval_epoch").isNotNull()
        return j.select(
            F.coalesce(F.col("url"), F.col("_b_url")).alias("url"),
            (F.coalesce(F.col("n_obs"), F.lit(0))
             + F.coalesce(F.col("_b_n_obs"), F.lit(0))).alias("n_obs"),
            (F.coalesce(F.col("n_changes"), F.lit(0))
             + F.coalesce(F.col("_b_n_changes"), F.lit(0)))
            .alias("n_changes"),
            F.when(tail_wins, F.col("content_hash"))
            .otherwise(F.col("_b_content_hash")).alias("content_hash"),
            F.when(tail_wins, F.col("etag"))
            .otherwise(F.col("_b_etag")).alias("etag"),
            F.greatest(F.col("reval_epoch"), F.col("_b_reval_epoch"))
            .alias("reval_epoch"))

    def _current_hashes(self) -> DataFrame:
        """(url, host, content_hash, etag) with the LATEST committed
        state per URL: the newest reval epoch's post-merge values win
        over the original crawl's — so epoch k+1 validates against what
        epoch k refreshed, not against stale history. Before any epoch,
        etag is the strong-ETag convention derived from the content hash
        (a real server's etag replaces it after the first epoch)."""
        slim = self.stored_slim()
        if slim is None:
            raise RuntimeError("nothing stored yet — run() first")
        base = slim.dropDuplicates(["url"]).select("url", "host",
                                                   "content_hash")
        stats = self._reval_stats()
        if stats is not None:
            latest = stats.select("url", F.col("content_hash").alias("_h"),
                                  F.col("etag").alias("_e"))
            base = (base.join(latest, "url", "left")
                    .select("url", "host",
                            F.coalesce(F.col("_h"), F.col("content_hash"))
                            .alias("content_hash"), F.col("_e")))
        else:
            base = base.withColumn("_e", F.lit(None).cast("string"))
        return base.select(
            "url", "host", "content_hash",
            F.coalesce(F.col("_e"),
                       F.concat(F.lit('"'),
                                F.substring("content_hash", 1, 16),
                                F.lit('"'))).alias("etag"))

    def sitemap_recrawl_picks(self) -> DataFrame | None:
        """sitemaps.org recrawl planning over the engine's OWN store: the
        latest committed sitemap generation per URL (the `sitemap` table
        the discovery tier persists each round) joined against the stored
        pages' last fetch date, verdicts per
        pipeline.recrawl.sitemap_recrawl_candidates — 'new' (listed,
        never stored), 'modified' (lastmod after last fetch), 'fresh'.
        Feed ``.where("fetch_needed")`` into ``revalidate(urls=...)``:
        its semi-join against the stored corpus keeps the 'modified'
        rows and drops 'new' ones (those are frontier candidates, not
        revalidation targets). None ⇔ no sitemap table committed
        (cfg.sitemap_discovery was never on).

        Scale shape: the sitemap table accumulates one generation per
        (host robots-generation) — host-grain cadence, entry-grain rows;
        the latest-wins collapse is one (url)-keyed max-struct aggregate
        and last_fetch one aggregate over the slim stored table, then
        sitemap_recrawl_candidates' single url-keyed join. last_fetch
        derives from the deterministic round clock (round → date), so no
        payload column is touched."""
        from ..pipeline.recrawl import sitemap_recrawl_candidates

        sm = self.store.read(self.spark, "sitemap")
        if sm is None:
            return None
        stored = self.stored_slim()
        if stored is None:
            raise RuntimeError("nothing stored yet — run() first")
        latest = (sm.groupBy("url")
                  .agg(F.max(F.struct("fetched_round", "host", "lastmod",
                                      "sitemap_priority")).alias("_l"))
                  .select("url", F.col("_l.host").alias("host"),
                          F.col("_l.lastmod").alias("lastmod"),
                          F.col("_l.sitemap_priority").alias("priority")))
        step = self.cfg.round_seconds * 1000
        last_fetch = (stored.groupBy("url")
                      .agg(F.max("round").alias("_r"))
                      .select("url", F.to_date(F.timestamp_millis(
                          F.lit(self.cfg.epoch_ms)
                          + F.col("_r").cast("long") * F.lit(step)))
                          .alias("last_fetch")))
        return sitemap_recrawl_candidates(latest, last_fetch)

    def feed_recrawl_picks(self) -> DataFrame | None:
        """Feed-driven recrawl planning over the engine's OWN store —
        the feed analog of sitemap_recrawl_picks, through the SAME
        verdict operator: the latest committed feed_entries generation
        per URL (max struct over (fetched_round, updated, feed_url) —
        deterministic when several feeds list one URL) joined against
        the stored pages' round-clock fetch dates; entry `updated`
        plays the lastmod role. Feed `.where("fetch_needed")` into
        ``revalidate(urls=...)`` exactly like the sitemap picks. None ⇔
        no feed_entries table committed (cfg.feed_discovery never on).

        Scale shape: feed_entries accumulates one generation per
        (feed, first-declaring round) at entry grain; ONE url-keyed
        max-struct collapse + one aggregate on the slim stored table +
        the single url-keyed verdict join."""
        from ..pipeline.recrawl import sitemap_recrawl_candidates

        fe = self.store.read(self.spark, "feed_entries")
        if fe is None:
            return None
        stored = self.stored_slim()
        if stored is None:
            raise RuntimeError("nothing stored yet — run() first")
        latest = (fe.groupBy("url")
                  .agg(F.max(F.struct("fetched_round", "updated", "feed_url",
                                      "host")).alias("_l"))
                  .select("url", F.col("_l.host").alias("host"),
                          F.col("_l.updated").alias("lastmod"),
                          F.lit(None).cast("double").alias("priority")))
        step = self.cfg.round_seconds * 1000
        last_fetch = (stored.groupBy("url")
                      .agg(F.max("round").alias("_r"))
                      .select("url", F.to_date(F.timestamp_millis(
                          F.lit(self.cfg.epoch_ms)
                          + F.col("_r").cast("long") * F.lit(step)))
                          .alias("last_fetch")))
        return sitemap_recrawl_candidates(latest, last_fetch)

    def revalidate(self, changed=None, version: int = 1,
                   fetcher=None, urls=None) -> dict:
        """One conditional-refetch epoch over everything stored: the
        recrawl executed INSIDE the engine, against the crawl's own
        store. Candidates validate against their latest known hash
        (crawl or prior epoch); the conditional fetcher answers 304 for
        unchanged content (no payload moves) and a full page row for
        moved content; pipeline.recrawl.revalidate_merge folds verdicts
        into per-URL outcomes. Changed payloads land in
        reval_pages/round=<epoch> (input_hint media columns included)
        and verdicts in reval/round=<epoch>; the epoch commits with its
        own atomic marker namespace ('reval-<k>'), so crawl round
        numbering — and therefore resume, time travel and golden parity
        — is untouched, and a killed epoch re-runs idempotently.

        The reference crawls once and stores (core/WebCrawler.java);
        this is the maintenance loop a production deployment runs next.
        changed/version parameterize the SYNTHETIC web's drift
        (operators.extract.make_synth_conditional_fetcher); a real
        deployment injects an HTTP conditional fetcher instead.

        urls: restrict the epoch to a pick list — a list[str] or a
        DataFrame with a url column, e.g. sitemap_recrawl_picks output —
        via one url-keyed semi-join; everything else (latest-wins
        hashes, views) stays global, so partial epochs compose."""
        from ..pipeline.recrawl import revalidate_merge

        if self.store.last_round() is None:
            raise RuntimeError("bootstrap(seeds) + run() first")
        cand = self._current_hashes()
        if urls is not None:
            pick = (urls if isinstance(urls, DataFrame)
                    else self.spark.createDataFrame(
                        [(u,) for u in urls], "url string"))
            cand = cand.join(pick.select("url").dropDuplicates(["url"]),
                             "url", "left_semi")
        if fetcher is None:
            if self.synth_cfg is None:
                raise ValueError("revalidate() needs a conditional "
                                 "fetcher when no synthetic web is "
                                 "configured")
            from ..operators.extract import make_synth_conditional_fetcher
            fetcher = make_synth_conditional_fetcher(
                self.synth_cfg, changed=changed, version=version)
        k = (self._reval_epochs() or [-1])[-1] + 1
        parts = max(self.spark.sparkContext.defaultParallelism,
                    self.cfg.fetch_partitions or 0)
        verdicts = (cand.repartition(parts, "host")
                    .mapInPandas(_adapt_reval_fetcher(fetcher),
                                 REVAL_PAGE_SCHEMA)
                    .persist())
        merged = (revalidate_merge(cand.select("url", "content_hash",
                                               "etag"),
                                   verdicts, hash_col="content_hash")
                  .withColumn("reval_epoch", F.lit(k)))
        self.store.stage_write("reval", merged, k)
        # payload is staged for GENUINE changes only — a 'refreshed'
        # verdict (200 whose body hashes identical: server ignored or
        # lacked validators) updates validators via the merge but must
        # not duplicate the unchanged corpus into reval_pages
        changed_rows = (verdicts
                        .join(merged.where(F.col("verdict") == "changed")
                              .select("url"), "url", "left_semi")
                        .withColumn("reval_epoch", F.lit(k)))
        self.store.stage_write("reval_pages", changed_rows, k)
        counts = {r["verdict"]: r["n"] for r in
                  (self.store.read(self.spark, "reval", [k])
                   .groupBy("verdict").agg(F.count("*").alias("n"))
                   .collect())}
        # epoch compaction (every compact_every_rounds epochs): rewrite
        # the per-URL sufficient statistics and the latest refresh rows
        # as single snapshots @k, staged BEFORE the marker so a crash
        # leaves an invisible orphan (the _compact_state rule). Without
        # this, steady-state daily epochs make every state read —
        # validators, Cho stats, refreshed payloads — O(epochs) dirs.
        if (self.cfg.compact_every_rounds
                and (k + 1) % self.cfg.compact_every_rounds == 0):
            self.store.stage_write("reval_compact",
                                   self._reval_stats(extra=merged), k)
            from pyspark.sql import Window
            rp_all = self._reval_read("reval_pages", "reval_pages_compact")
            rp_all = (changed_rows if rp_all is None
                      else rp_all.unionByName(changed_rows))
            w = (Window.partitionBy("url")
                 .orderBy(F.col("reval_epoch").desc()))
            self.store.stage_write(
                "reval_pages_compact",
                rp_all.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"), k)
        verdicts.unpersist()
        self.store.commit_mark("reval", k, {"counts": counts})
        return {"epoch": k, **counts}

    def recrawl_intervals(self, interval_days: float = 7.0
                          ) -> DataFrame | None:
        """Cho change-rate estimates learned from the engine's OWN
        revalidation history: every committed epoch contributes one
        observation per URL (changed ⇔ verdict 'changed'; failed
        epochs carry no signal and are excluded). Feeds the next
        revalidation pick list — the closed recrawl loop:
        revalidate → observe → re-estimate → re-plan. Reads the O(1)
        per-URL statistics (compact ⊕ tail), never the full epoch log."""
        stats = self._reval_stats()
        if stats is None:
            return None
        from ..pipeline.recrawl import cho_from_counts
        return cho_from_counts(
            stats.where(F.col("n_obs") > 0)
            .select("url", "n_obs", "n_changes"),
            key_col="url", interval_days=interval_days)

    def refreshed_pages(self) -> DataFrame | None:
        """pages() with every URL's payload replaced by its newest
        committed revalidation refresh (latest epoch wins); crawl
        metadata (depth, parents, rounds) stays from the original
        fetch. `refreshed` + `reval_epoch` mark overridden rows."""
        p = self.pages()
        if p is None:
            return None
        rp = self._reval_read("reval_pages", "reval_pages_compact")
        if rp is None:
            return p.withColumn("refreshed", F.lit(False)) \
                    .withColumn("reval_epoch",
                                F.lit(None).cast("int"))
        from pyspark.sql import Window
        w = Window.partitionBy("url").orderBy(F.col("reval_epoch").desc())
        over = (rp.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .select("url", F.col("reval_epoch").alias("_epoch"),
                        *[F.col(c).alias(f"_{c}") for c in
                          ("image_id", "bytes", "w", "h", "fmt",
                           "caption", "phash", "http_status",
                           "content_type", "content_hash")]))
        j = p.join(over, "url", "left")
        pick = {c: F.coalesce(F.col(f"_{c}"), F.col(c)) for c in
                ("image_id", "bytes", "w", "h", "fmt", "caption",
                 "phash", "http_status", "content_type",
                 "content_hash")}
        keep = [c for c in p.columns if c not in pick]
        return j.select(
            *keep,
            *[pick[c].alias(c) for c in pick],
            F.col("_epoch").isNotNull().alias("refreshed"),
            F.col("_epoch").alias("reval_epoch"))

    def training_manifest(self, max_hamming: int = 10,
                          min_psnr: float = 40.0, batch_size: int = 4,
                          n_shards: int = 4,
                          refreshed: bool = False) -> DataFrame | None:
        """The crawl→training handoff: pipeline.multimodal.
        image_training_mix over the engine's OWN committed store —
        curation gates → exact payload dedup → PSNR-verified variant
        collapse → aspect-bucket batch manifest, straight off pages().
        This closes the BASELINE.json loop in one repo: seed list →
        politeness-budgeted fetch → dedup'd image+caption store →
        dataloader gather list. ``refreshed=True`` reads the
        revalidation-merged view so the manifest reflects each URL's
        newest verified payload.

        Rows are keyed by image_id; a revalidation can refresh two URLs
        to byte-identical payloads (same image_id), so the projection
        de-duplicates on image_id first — safe because every selected
        column is a pure function of the payload content. Returns None
        on an empty store; imports pipeline code lazily so the crawl
        round loop itself never depends on the training side."""
        from ..pipeline.multimodal import image_training_mix

        p = self.refreshed_pages() if refreshed else self.pages()
        if p is None:
            return None
        imgs = (p.select("image_id", "bytes", "w", "h", "fmt",
                         "caption", "phash")
                .dropDuplicates(["image_id"]))
        return image_training_mix(imgs, max_hamming=max_hamming,
                                  min_psnr=min_psnr,
                                  batch_size=batch_size,
                                  n_shards=n_shards)

    def export_training_shards(self, out_dir: str, n_tar_shards: int = 4,
                               refreshed: bool = False,
                               **manifest_kwargs) -> DataFrame | None:
        """Materialize the training corpus as WebDataset tar shards
        (sources/wds.py): the training_manifest's surviving image_ids,
        joined back id-keyed-semi to the store's payload rows (bytes
        move only for survivors), written as content-addressed tar
        shards with the member index published next to them as parquet
        (``<out_dir>/index``) — the layout a dataloader mounts. The
        manifest's (bucket, shard, batch_id) stays the LOADER grouping;
        tar shards are the STORAGE grouping (pmod(xxhash64(image_id))),
        so re-exports after incremental crawls touch only shards whose
        membership changed. Returns the receipt table, or None on an
        empty store."""
        from ..sources.wds import export_wds_shards, wds_member_index

        manifest = self.training_manifest(refreshed=refreshed,
                                          **manifest_kwargs)
        if manifest is None:
            return None
        p = self.refreshed_pages() if refreshed else self.pages()
        imgs = (p.select("image_id", "bytes", "fmt", "caption")
                .dropDuplicates(["image_id"])
                .join(manifest.select("image_id").distinct(),
                      "image_id", "left_semi"))
        imgs = imgs.cache()  # one pass feeds both archive and index
        try:
            receipts = export_wds_shards(
                imgs, out_dir, n_shards=n_tar_shards).localCheckpoint()
            (wds_member_index(imgs, n_shards=n_tar_shards)
             .write.mode("overwrite")
             .parquet(os.path.join(out_dir, "index")))
        finally:
            imgs.unpersist()
        return receipts
