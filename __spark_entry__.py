"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship 3-round BSP crawl over the deterministic
                 synthetic web (distributed_web_crawler_spark/crawl/) plus a
                 sf0.001 corpus summary row; returns the lineage metrics
                 DataFrame (round, metric, value).
queries()      — one callable per crawl operator: each runs a package
                 function the crawl itself runs (gates, politeness,
                 robots, link extraction, discovery, Kafka wire format,
                 revalidation, the training-manifest image rungs, the
                 flagship crawl); (spark, sf_dir) → DataFrame.
oracle_sql()   — matching DuckDB SQL for every query. Hash-seeded /
                 Arrow-UDF / iterative ops that DuckDB cannot evaluate
                 directly get generated oracles: independent Python
                 mirrors (property-tested XXH64, the synthetic codec, the
                 golden crawl) compute the hash-dependent inputs as VALUES
                 and the relational part is restated in SQL
                 (distributed_web_crawler_spark/oracles.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from distributed_web_crawler_spark import queries as _q


def entry(spark: SparkSession) -> DataFrame:
    return _q.entry(spark)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return _q.resolve_oracles()
