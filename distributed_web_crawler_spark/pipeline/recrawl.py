"""Recrawl operators the crawl runs.

The reference crawls once and stores pages; a production crawl also
decides what to fetch again. `Crawler` runs these three:

- revalidate_merge folds conditional-GET verdicts (304 / changed /
  refreshed / failed) into the page store for `Crawler.revalidate`;
- cho_from_counts turns the compacted per-URL revalidation history into
  Cho-Garcia-Molina change-rate estimates and next-fetch intervals;
- sitemap_recrawl_candidates gives sitemap and feed entries their
  new / modified / fresh verdicts against the store.

revalidation_fixture synthesizes a deterministic verdict mix from
`documents` for the driver-contract query and its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def cho_from_counts(agg: DataFrame, key_col: str = "doc_id",
                    interval_days: float = 7.0) -> DataFrame:
    """Cho & Garcia-Molina change-rate estimate over PRE-AGGREGATED
    observation counts (key, n_obs, n_changes): lambda_hat =
    -ln((n - X + 0.5) / (n + 0.5)) / interval, next interval = 1/λ
    clamped to [1, 90] days. State is kept as per-key sufficient
    statistics (the crawl driver's compacted revalidation history), so
    the raw observation stream is never replayed."""
    ratio = ((F.col("n_obs") - F.col("n_changes") + 0.5)
             / (F.col("n_obs") + 0.5))
    lam = F.round(-F.log(ratio) / F.lit(interval_days), 6)
    # lambda_hat == 0 (no change ever observed) ⇒ 1/λ = ∞ ⇒ the 90-day
    # clamp; spelled as a guard because ANSI mode (Spark 4 default)
    # raises on the literal division
    inv = F.when(F.col("lambda_hat") > 0,
                 F.lit(1.0) / F.col("lambda_hat")).otherwise(F.lit(90.0))
    nxt = F.round(F.least(F.greatest(inv, F.lit(1.0)), F.lit(90.0)), 6)
    return (agg.select(key_col, "n_obs", "n_changes",
                       lam.alias("lambda_hat"))
            .select(key_col, "n_obs", "n_changes", "lambda_hat",
                    nxt.alias("next_interval_days")))


# conditional-GET verdict rows, as produced by
# crawl.httpfetch.make_http_revalidating_fetcher (one row per candidate)
REVALIDATE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("fetched", T.BooleanType()),
    T.StructField("not_modified", T.BooleanType()),
    T.StructField("http_status", T.IntegerType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("etag", T.StringType()),
    T.StructField("last_modified", T.StringType()),
])

# revalidation-fixture constants (shared with the SQL oracle): the
# deterministic verdict synthesis over doc_id, evaluated in this order
REVAL_FAIL_MOD, REVAL_FAIL_RES = 11, 4   # network failure
REVAL_304_MOD = 3                        # server honors the validator
REVAL_CHANGED_MOD = 5                    # content actually moved


def revalidate_merge(stored: DataFrame, verdicts: DataFrame,
                     hash_col: str | None = None) -> DataFrame:
    """Fold one conditional-GET round back into the page store: per URL,
      'failed'    — request failed; keep the stored copy and validators;
      'unchanged' — 304; zero payload bytes moved, stored copy stands;
      'refreshed' — 200 whose body hashes identical to the stored copy
                    (server ignored or lacked validators — the fetch was
                    wasted bandwidth, but the store needn't rewrite
                    payload, only the validators);
      'changed'   — 200 with new content; new hash + validators win.
    Returns (url, verdict, http_status, content_hash, etag) — the slim
    columns a recrawl scheduler feeds back into its change history;
    payload rewrite rides the same verdict filter.

    Scale shape: ONE url-keyed left join (storage-partitioned over
    url-bucketed stores at 10^10); the
    comparison is a fixed-width sha2 against the STORED hash column, so
    stored page bytes never move — only the round's fetched bodies are
    hashed, map-side, at candidate volume.

    hash_col: column in ``verdicts`` already carrying the new content's
    digest under the store's own convention (e.g. the crawl engine's D2
    sha256(bytes || caption), computed in-worker by the conditional
    fetcher); default derives sha2(bytes) relationally."""
    h_new = (F.col(hash_col) if hash_col
             else F.sha2(F.col("bytes"), 256))
    v = verdicts.select(
        "url", "fetched", "not_modified", "http_status",
        h_new.alias("h_new"),
        F.col("etag").alias("etag_new"))
    # inner join: the fetcher emits one verdict row per candidate, so the
    # output covers exactly this round's candidates — a stored URL outside
    # the round is simply absent, never a phantom 'failed'
    j = stored.select("url", "content_hash", "etag").join(v, "url")
    verdict = (
        F.when(~F.coalesce(F.col("fetched"), F.lit(False)), F.lit("failed"))
        .when(F.col("not_modified"), F.lit("unchanged"))
        .when(F.col("h_new") == F.col("content_hash"), F.lit("refreshed"))
        .otherwise(F.lit("changed")))
    keep_stored_hash = verdict.isin("failed", "unchanged", "refreshed")
    keep_stored_etag = verdict.isin("failed", "unchanged")
    return j.select(
        "url", verdict.alias("verdict"), "http_status",
        F.when(keep_stored_hash, F.col("content_hash"))
        .otherwise(F.col("h_new")).alias("content_hash"),
        F.when(keep_stored_etag, F.col("etag"))
        .otherwise(F.coalesce(F.col("etag_new"), F.col("etag")))
        .alias("etag"))


def revalidation_fixture(documents: DataFrame) -> tuple[DataFrame,
                                                        DataFrame]:
    """Deterministic (stored, verdicts) pair for revalidate_merge, pure
    modular functions of doc_id so the SQL oracle restates them exactly:
    doc_id % 11 == 4 → the conditional GET failed; else % 3 == 0 → the
    server honored the validator (304); else % 5 == 0 → content moved
    ('[v2]' suffix); else a 200 re-serving identical content (refreshed).
    ETags are quoted 16-hex-char prefixes of the content hash — the
    strong-ETag shape a real server derives from content."""
    d = F.col("doc_id")
    url = F.concat(F.lit("https://h"),
                   F.lpad((d % 20).cast("string"), 4, "0"),
                   F.lit(".example.com/p/"), d.cast("string"))
    h_old = F.sha2(F.col("text"), 256)
    stored = documents.select(
        url.alias("url"),
        F.col("text").cast("binary").alias("bytes"),
        h_old.alias("content_hash"),
        F.concat(F.lit('"'), F.substring(h_old, 1, 16), F.lit('"'))
        .alias("etag"))
    failed = d % REVAL_FAIL_MOD == REVAL_FAIL_RES
    nm = d % REVAL_304_MOD == 0
    changed = d % REVAL_CHANGED_MOD == 0
    new_text = F.when(changed, F.concat(F.col("text"), F.lit(" [v2]"))) \
                .otherwise(F.col("text"))
    h_new = F.sha2(new_text, 256)
    verdicts = documents.select(
        url.alias("url"),
        (~failed).alias("fetched"),
        (~failed & nm).alias("not_modified"),
        F.when(failed, F.lit(None).cast("int"))
        .when(nm, F.lit(304)).otherwise(F.lit(200)).alias("http_status"),
        F.when(failed | nm, F.lit(None).cast("binary"))
        .otherwise(new_text.cast("binary")).alias("bytes"),
        F.when(failed | nm, F.lit(None).cast("string"))
        .otherwise(F.lit("text/html")).alias("content_type"),
        F.when(failed | nm, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit('"'), F.substring(h_new, 1, 16),
                            F.lit('"'))).alias("etag"),
        F.lit(None).cast("string").alias("last_modified"))
    return stored, verdicts


def sitemap_recrawl_candidates(candidates: DataFrame,
                               stored: DataFrame) -> DataFrame:
    """Close the discovery→recrawl loop: decide, per sitemap entry,
    whether it needs a (re)fetch against the pages already stored.

    `candidates` is `parse_sitemaps` output (host, url, lastmod,
    priority); `stored` is (url, last_fetch DATE) from the page store.
    Verdicts (sitemaps.org semantics — lastmod is advisory, absent
    means unknown):
      'new'      — URL never stored;
      'modified' — entry carries a lastmod strictly after last_fetch;
      'fresh'    — stored and not provably modified (incl. no lastmod).
    `fetch_needed` = verdict in (new, modified).

    Scale shape: ONE left join on the url key (at 10^10: a
    storage-partitioned join over url-bucketed stores) followed by a
    map-side when-chain; sitemap tables are discovery-grain, far below the page store, so AQE
    broadcasts them when small."""
    j = candidates.join(stored, "url", "left")
    verdict = (F.when(F.col("last_fetch").isNull(), F.lit("new"))
               .when(F.col("lastmod").isNotNull() &
                     (F.col("lastmod") > F.col("last_fetch")),
                     F.lit("modified"))
               .otherwise(F.lit("fresh")))
    return j.select(
        "host", "url", "lastmod", "priority", "last_fetch",
        verdict.alias("verdict"),
        verdict.isin("new", "modified").alias("fetch_needed"))
