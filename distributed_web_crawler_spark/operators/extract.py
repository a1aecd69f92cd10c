"""Fetch S6 + link extraction E1/E2 + link filters F8.

The reference fetches one page per virtual thread with Jsoup
(core/WebCrawler.java:324-327), extracts ``a[href]`` into a set
(core/WebCrawler.java:339-345), and builds child requests with depth+1
(core/WebCrawler.java:418-426).

Spark shape: the fetch is an Arrow-batched ``mapInPandas`` over the round's
politeness-selected, skew-salted partitions — the batch boundary is where a
production fetcher would run its async HTTP pool (the reference's
virtual-thread fan-out, core/WebCrawler.java:135-165, lives *inside* the
batch here). Tests inject the deterministic synthetic fetcher. Extraction
is ``array_distinct`` (D3) + ``explode`` (the canonical UDTF shape) +
Catalyst-only link filters.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.urls import (
    base_parts,
    combined_allow_pattern,
    combined_exclude_pattern,
    host_of,
    is_http_url,
    resolve_url_with_parts,
)

FETCH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parent_url", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("fetched", T.BooleanType()),
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("links", T.ArrayType(T.StringType())),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    # post-redirect document location (null = served directly): the base
    # X3 resolution must use, per Jsoup abs:href semantics — Jsoup
    # resolves against Document.location(), the FINAL URL after
    # redirects, while the page stays keyed by the request URL
    # (core/WebCrawler.java:324-341)
    T.StructField("final_url", T.StringType()),
    # autodiscovered feed URLs (<link rel="alternate"
    # type="application/rss+xml|atom+xml">) — consumed by the feed
    # discovery tier (cfg.feed_discovery); stores written before this
    # column read it as null (allowMissingColumns, same migration
    # posture as final_url/fetch_date)
    T.StructField("feeds", T.ArrayType(T.StringType())),
])


def make_synth_fetcher(synth_cfg):
    """Deterministic fetcher for tests/bench: page content is a pure
    function of the URL (crawl/synthweb.py), so the fetch stage needs no
    I/O, no joins, and no shared state — it scales linearly with
    partitions. Failure (bad URL / 404) ⇒ fetched=False, which the engine
    drops and counts, mirroring the reference's catch-and-log
    (core/WebCrawler.java:436-439)."""
    from ..crawl.synthweb import page_for_url

    page_cols = ("image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                 "links", "http_status", "content_type", "final_url",
                 "feeds")
    # nullable integer columns must be built as pandas extension arrays —
    # a rows-of-dicts DataFrame with mixed None/int coerces to float64 and
    # silently corrupts 64-bit values (phash) through Arrow
    int_cols = {"w": "Int32", "h": "Int32", "phash": "Int64",
                "http_status": "Int32"}

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages = [page_for_url(u, synth_cfg) for u in pdf["url"]]
            data = {
                "url": pdf["url"].to_numpy(),
                "host": pdf["host"].to_numpy(),
                "depth": pdf["depth"].to_numpy(),
                "parent_url": pdf["parent_url"].to_numpy(),
                "priority": pdf["priority"].to_numpy(),
                "fetched": [p is not None for p in pages],
            }
            for col in page_cols:
                vals = [None if p is None else p[col] for p in pages]
                dtype = int_cols.get(col)
                data[col] = pd.array(vals, dtype=dtype) if dtype else \
                    pd.Series(vals, dtype="object")
            yield pd.DataFrame(data, columns=[f.name for f in FETCH_SCHEMA])

    return fetch


def make_synth_conditional_fetcher(synth_cfg, changed=None,
                                   version: int = 1):
    """Conditional-GET analog over the synthetic web — the twin of
    crawl.httpfetch.make_http_revalidating_fetcher for the deterministic
    fetcher. Input batches carry (url, content_hash): the stored D2
    digest (sha256(bytes || utf8(caption)), synthweb.content_hash_py)
    plays the validator (a strong ETag IS a content digest). The page is
    recomputed at ``version`` for URLs where ``changed(url)`` (else at
    the original version 0 — the unchanged web), hashed in-worker, and an
    equal digest short-circuits to a 304 verdict with no payload; a
    moved digest returns the full new page row (media columns and the
    new D2 hash included, so a refresh round can rewrite the
    input_hint-shaped store). Output: crawl.driver.REVAL_PAGE_SCHEMA."""
    from ..crawl.synthweb import content_hash_py, page_for_url

    int_cols = {"http_status": "Int32", "w": "Int32", "h": "Int32",
                "phash": "Int64"}
    media_cols = ("image_id", "w", "h", "fmt", "caption", "phash")

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..crawl.driver import REVAL_PAGE_SCHEMA

        for pdf in batches:
            rows = {k: [] for k in
                    ("fetched", "not_modified", "http_status", "bytes",
                     "content_type", "etag", "last_modified",
                     *media_cols, "content_hash")}
            for u, h_old in zip(pdf["url"], pdf["content_hash"]):
                page = page_for_url(
                    u, synth_cfg,
                    version=version if changed and changed(u) else 0)
                if page is None:
                    for k in rows:
                        rows[k].append(None)
                    rows["fetched"][-1] = False
                    rows["not_modified"][-1] = False
                    continue
                h_new = content_hash_py(page["bytes"], page["caption"])
                nm = h_new == h_old
                rows["fetched"].append(True)
                rows["not_modified"].append(nm)
                rows["http_status"].append(304 if nm else
                                           page["http_status"])
                rows["etag"].append(f'"{h_new[:16]}"')
                rows["last_modified"].append(None)
                if nm:
                    rows["bytes"].append(None)
                    rows["content_type"].append(None)
                    rows["content_hash"].append(None)
                    for k in media_cols:
                        rows[k].append(None)
                else:
                    rows["bytes"].append(page["bytes"])
                    rows["content_type"].append(page["content_type"])
                    rows["content_hash"].append(h_new)
                    for k in media_cols:
                        rows[k].append(page[k])
            data = {"url": pdf["url"].to_numpy(),
                    "host": pdf["host"].to_numpy()}
            for k, vals in rows.items():
                dtype = int_cols.get(k)
                data[k] = (pd.array(vals, dtype=dtype) if dtype
                           else pd.Series(vals, dtype="object"))
            data["fetched"] = pd.Series(rows["fetched"], dtype="bool")
            data["not_modified"] = pd.Series(rows["not_modified"],
                                             dtype="bool")
            yield pd.DataFrame(
                data, columns=[f.name for f in REVAL_PAGE_SCHEMA])

    return fetch


# Per-task receipt returned to the JVM by the payload-sinking fetch — the
# data itself lives in the worker-written parquet shards.
FETCH_SUMMARY_SCHEMA = T.StructType([
    T.StructField("part_id", T.IntegerType()),
    T.StructField("n_rows", T.LongType()),
    T.StructField("n_fetched", T.LongType()),
])


def _payload_arrow_schema():
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    extra = [T.StructField("content_hash", T.StringType()),
             T.StructField("fetch_time_ms", T.LongType()),
             T.StructField("round", T.IntegerType())]
    return pa.schema([pa.field(f.name, to_arrow_type(f.dataType))
                      for f in list(FETCH_SCHEMA) + extra])


def fetch_pages_sink(selected: DataFrame, fetcher, pages_dir: str,
                     fetch_time_ms: int, round_no: int) -> DataFrame:
    """S6 + S8 fused: fetch AND sink the round's `pages` shards from inside
    the Arrow workers; the JVM receives only a per-task receipt row.

    The 100 TB constraint: payload that crosses the Python→JVM Arrow
    boundary gets copied into JVM rows and re-encoded by the JVM parquet
    writer — measured at ~1/3 of the fetch stage's CPU budget, competing
    with the fetch kernel for the same cores. Here each worker writes its
    partition of the `pages` table directly with a pyarrow ParquetWriter
    (one deterministic file per partition id, so a task retry overwrites
    rather than duplicates; the cluster analog streams payload shards
    straight to object storage — the same blob/metadata split the
    reference makes with S3, storage/HybridStorageService.java:35-44).
    The shard carries EVERYTHING downstream phases need — content hash
    (computed in-worker: synthweb.content_hash_py ≡ JVM
    sha2(concat(bytes, encode(caption,'utf-8')),256)), links, fetch
    round/time — so phase B is a column-pruned scan of these shards and
    payload bytes stay write-once, read-never."""
    from ..crawl.synthweb import content_hash_py

    def wrap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        schema = _payload_arrow_schema()
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else os.getpid()
        attempt = ctx.taskAttemptId() if ctx is not None else 0
        path = os.path.join(pages_dir, f"part-{pid:05d}.parquet")
        # task-commit protocol: write to an attempt-unique dotfile (hidden
        # from parquet readers) and publish with one atomic rename on
        # success — a speculative/zombie attempt of the same partition can
        # never interleave bytes into the published shard, and the last
        # completed attempt wins whole-file. The cluster analog is a
        # conditional PUT to object storage.
        tmp = os.path.join(pages_dir,
                           f".part-{pid:05d}-attempt-{attempt}.tmp")
        writer = None
        n_rows = n_fetched = 0
        try:
            for pdf in fetcher(batches):
                pdf = pdf.assign(
                    content_hash=[
                        content_hash_py(b, c) if ok else None
                        for ok, b, c in zip(pdf["fetched"], pdf["bytes"],
                                            pdf["caption"])],
                    fetch_time_ms=pd.array([fetch_time_ms] * len(pdf),
                                           dtype="Int64"),
                    round=pd.array([round_no] * len(pdf), dtype="Int32"),
                )
                if writer is None:
                    writer = pq.ParquetWriter(tmp, schema,
                                              compression="none")
                writer.write_table(pa.Table.from_pandas(
                    pdf, schema=schema, preserve_index=False))
                n_rows += len(pdf)
                n_fetched += int(pdf["fetched"].sum())
        except BaseException:
            if writer is not None:
                writer.close()
                os.remove(tmp)
            raise
        if writer is not None:
            writer.close()
            os.replace(tmp, path)  # atomic publish
        yield pd.DataFrame({
            "part_id": pd.array([pid], dtype="Int32"),
            "n_rows": pd.array([n_rows], dtype="Int64"),
            "n_fetched": pd.array([n_fetched], dtype="Int64"),
        })

    cols = ["url", "host", "depth", "parent_url", "priority"]
    return selected.select(*cols).mapInPandas(wrap, FETCH_SUMMARY_SCHEMA)


def write_empty_payload(pages_dir: str) -> None:
    """Schema-bearing empty shard so an all-rejected round still yields a
    readable pages directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _payload_arrow_schema()
    pq.write_table(schema.empty_table(),
                   os.path.join(pages_dir, "part-empty.parquet"),
                   compression="none")


def extract_children(stored: DataFrame, cfg: CrawlConfig,
                     round_ts_ms: int) -> DataFrame:
    """E1+E2+F8: stored pages → deduped, validity-filtered child requests.

    Duplicate-content pages never reach this operator — the reference skips
    extraction for duplicates (core/WebCrawler.java:333-345 ordering)."""
    allow_re = combined_allow_pattern(cfg.allowed_domains)
    excl_re = combined_exclude_pattern(cfg.exclude_patterns)

    # X3 resolution base: the POST-REDIRECT document location when the
    # page was served through one (Jsoup's abs:href resolves against
    # Document.location(), the final URL — a relative href on a
    # redirected page belongs to the target's URL space), else the
    # request URL. Stores written before final_url existed read it as
    # null (allowMissingColumns), which coalesces to the old behavior.
    base = (F.coalesce(F.col("final_url"), F.col("url"))
            if "final_url" in stored.columns else F.col("url"))
    # X3 base parts (3 regexes over the base URL) evaluate once per
    # PAGE, below the explode — every href of a page shares them, so the
    # per-link resolver skips the base parsing entirely (measured ~40% of
    # the resolver's per-link cost at max_out_links=12)
    auth, scheme, bdir = base_parts(F.col("_base"))
    children = (
        stored
        .select(F.col("url").alias("parent_url"), "depth", "links",
                base.alias("_base"))
        .withColumns({"_auth": auth, "_scheme": scheme, "_bdir": bdir})
        .select("parent_url", "depth", "_base", "_auth", "_scheme", "_bdir",
                F.explode(F.array_distinct("links")).alias("href"))  # E1+D3
        # X3: relative→absolute against the discovering page (reference
        # resolves via Jsoup abs:href, core/WebCrawler.java:341) — pure
        # Catalyst, stays inside codegen on the per-link hot path
        .withColumn("url", resolve_url_with_parts(
            F.col("_base"), F.col("_auth"), F.col("_scheme"),
            F.col("_bdir"), F.col("href")))
        .drop("href", "_base", "_auth", "_scheme", "_bdir")
        .where(is_http_url(F.col("url")))                           # F8
        .withColumn("host", host_of(F.col("url")))
    )
    if allow_re is not None:
        children = children.where(F.col("host").rlike(allow_re))    # F3 on links
    if excl_re is not None:
        children = children.where(~F.col("url").rlike(excl_re))     # F4 on links
    # E2: child request projection (depth+1, parent, deterministic clock)
    children = children.select(
        "url", "host",
        (F.col("depth") + 1).cast("int").alias("depth"),
        "parent_url",
        F.lit(round_ts_ms).alias("discovered_at_ms"),
        F.lit(1).alias("priority"),                                  # reference hard-codes 1
        F.lit(0).alias("retry_count"),
        F.lit(None).cast("long").alias("scheduled_for_ms"),
    )
    # one URL may be discovered by many parents in the same round; keep one
    # deterministic winner (min depth, then min parent) — reference would
    # enqueue all (D4 gap), north_rule dedups. Hash-aggregate min(struct):
    # struct comparison is lexicographic, so (depth, parent_url) leads and
    # the equal-per-url columns ride along. Map-side partial combine
    # shrinks the shuffle to one row per (partition, url) — the sort-window
    # version shuffled and sorted EVERY exploded link.
    win = F.min(F.struct(
        "depth", "parent_url", "host", "discovered_at_ms", "priority",
        "retry_count", "scheduled_for_ms")).alias("w")
    # inlink-priority tier (cfg.priority_mode="inlink"): the same hash
    # aggregate also counts the child's discovered in-links this round
    # (count(*) rides the map-side partial combine — zero extra
    # exchange), and priority = max(1, cap - n_inlinks) replaces the
    # reference's constant 1 (Cho/Garcia-Molina/Page backlink ordering;
    # see CrawlConfig.priority_mode). Edges are (parent page, distinct
    # raw href) rows post-filter — exactly what the golden model counts.
    agg = children.groupBy("url").agg(win, F.count(F.lit(1)).alias("n_in"))
    if cfg.priority_mode == "inlink":
        priority = F.greatest(
            F.lit(1),
            F.lit(cfg.priority_inlink_cap) - F.col("n_in")).cast("int")
    else:
        priority = F.col("w.priority")
    return agg.select("url", "w.host", "w.depth", "w.parent_url",
                      "w.discovered_at_ms", priority.alias("priority"),
                      "w.retry_count", "w.scheduled_for_ms")
