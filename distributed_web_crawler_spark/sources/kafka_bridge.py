"""Kafka frontier interop: the CrawlRequest wire format as DataFrame
transforms.

The reference's frontier IS a Kafka topic of Jackson-serialized
CrawlRequest records keyed by URL (queue/KafkaUrlQueue.java:47-56;
record fields model/CrawlRequest.java:6-14: url, depth, parentUrl,
discoveredAt, priority, retryCount, scheduledFor — Instants as ISO-8601
strings, WRITE_DATES_AS_TIMESTAMPS disabled). This engine replaced the
queue with snapshot-committed frontier tables, but an organization with
an existing Kafka frontier needs a bridge both ways:

- ``frontier_to_json(frontier)`` → (key, value): the exact
  (ProducerRecord key = url, JSON value) rows a
  ``df.write.format("kafka")`` sink publishes. Timestamps are
  millisecond-precision ISO-8601 with a 'Z' offset (the Jackson form for
  UTC Instants); null parentUrl/scheduledFor are OMITTED from the JSON
  (Spark's to_json convention — Jackson writes explicit nulls; every
  JSON reader, including ``frontier_from_json``, treats the two
  identically).
- ``frontier_from_json(values, round_no)`` → FRONTIER_SCHEMA rows ready
  for ``Crawler.inject`` / a bootstrap frontier write: parses the
  CrawlRequest JSON (tolerating absent OR explicit-null optionals),
  derives the host partition key from the URL, and stamps the target
  round.

Both are pure Catalyst (to_json / from_json / regexp host extract — no
UDF), so on a cluster with the Kafka connector the full pipes are just

    spark.readStream.format("kafka")...  # value: binary
         .select(F.col("value").cast("string").alias("value"))
         .transform(frontier_from_json)

and ``frontier_to_json(next_frontier).write.format("kafka")`` — this
container has no Kafka jars, so the bridge is tested by round-trip
oracle (from_json ∘ to_json = identity) instead of a broker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import host_of

# ms-precision ISO-8601; session timezone is UTC (session.py), so XXX
# prints the literal 'Z' Jackson emits for Instants
_ISO_MS = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"

# the CrawlRequest JSON shape, field names as in the Java record
CRAWL_REQUEST_JSON_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("parentUrl", T.StringType()),
    T.StructField("discoveredAt", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("retryCount", T.IntegerType()),
    T.StructField("scheduledFor", T.StringType()),
])


def _iso(ms_col) -> Column:
    return F.date_format(F.timestamp_millis(ms_col), _ISO_MS)


def frontier_to_json(frontier: DataFrame) -> DataFrame:
    """FRONTIER_SCHEMA rows → (key, value) Kafka producer rows in the
    reference's CrawlRequest wire format (record field order)."""
    return frontier.select(
        F.col("url").alias("key"),
        F.to_json(F.struct(
            F.col("url"),
            F.col("depth"),
            F.col("parent_url").alias("parentUrl"),
            _iso(F.col("discovered_at_ms")).alias("discoveredAt"),
            F.col("priority"),
            F.col("retry_count").alias("retryCount"),
            _iso(F.col("scheduled_for_ms")).alias("scheduledFor"),
        )).alias("value"))


def frontier_from_json(values: DataFrame, round_no: int = 0,
                       value_col: str = "value") -> DataFrame:
    """CrawlRequest JSON strings → FRONTIER_SCHEMA rows. Absent and
    explicit-null optionals both parse to null; host re-derives from the
    URL (the frontier's partition key never rides the wire — the
    reference keys the ProducerRecord by URL for the same reason).
    Lines that yield no url (blank, malformed JSON, ``{}``) are dropped:
    a null-url row would pass URL-seen and the gates and then fail the
    round it is staged into on every resume."""
    r = F.from_json(F.col(value_col), CRAWL_REQUEST_JSON_SCHEMA)
    host = host_of(r["url"])  # X1, the engine's host extract

    def ms(s) -> Column:
        # Lenient on purpose: Jackson's ISO_INSTANT writes a VARIABLE
        # fraction — none for whole seconds ('...:20Z'), 6-9 digits for
        # Instant.now() — so a fixed .SSS pattern silently NULLs real
        # reference-produced records. Spark's default parser accepts
        # 0-9 fraction digits and 'Z'; unix_millis truncates to the
        # bridge's ms grain.
        return F.unix_millis(F.to_timestamp(s))

    return values.select(
        r["url"].alias("url"),
        host.alias("host"),
        r["depth"].alias("depth"),
        r["parentUrl"].alias("parent_url"),
        ms(r["discoveredAt"]).alias("discovered_at_ms"),
        r["priority"].alias("priority"),
        r["retryCount"].alias("retry_count"),
        ms(r["scheduledFor"]).alias("scheduled_for_ms"),
        F.lit(round_no).cast("int").alias("round"),
    ).where(F.col("url").isNotNull())


def wire_inject_stream(crawler, topic_dir: str,
                       checkpoint: str | None = None) -> int:
    """DRIVE the bridge end-to-end without a broker: a file-backed
    Structured Streaming source of CrawlRequest wire records (one JSON
    value per line — exactly the ``value`` column a
    ``readStream.format("kafka")`` source yields after the cast to
    string) is parsed by ``frontier_from_json`` and staged into the
    crawler via ``Crawler.inject_frontier`` per micro-batch. The
    ``availableNow`` trigger drains the backlog and returns, so a batch
    crawl can interleave: drain topic → run rounds → repeat — the same
    consume-then-schedule loop as the reference's @KafkaListener
    consumer (queue/KafkaUrlQueue.java:86-131), with the file source
    standing in for the Kafka connector this container lacks (swap
    ``readStream.text`` for ``readStream.format("kafka")`` + a value
    cast on a cluster with the connector jars).

    The checkpoint dir (default ``<topic_dir>_ckpt``) carries the
    stream's source offsets, so re-invoking after new files land
    consumes ONLY the new records — the committed-offset semantics of
    the reference's manual ``ack.acknowledge()``. Returns the number of
    wire records with a url injected by THIS invocation."""
    spark = crawler.spark
    injected = {"n": 0}

    def one_batch(df, _epoch_id) -> None:
        rows = frontier_from_json(df)
        injected["n"] += rows.count()
        crawler.inject_frontier(rows)

    q = (spark.readStream.text(topic_dir)
         .writeStream
         .foreachBatch(one_batch)
         .option("checkpointLocation",
                 checkpoint or topic_dir.rstrip("/") + "_ckpt")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return injected["n"]
