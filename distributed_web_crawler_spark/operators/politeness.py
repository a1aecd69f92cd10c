"""Politeness budget F5 + deterministic priority order L3 + skew salting O7.

The reference throttles per host with an in-memory ``lastCrawled`` map and
RETRY_LATER decisions (core/WebCrawler.java:241-257,283-310) — per-process
state, not global (SURVEY.md §1.2 notes the gap). The batch-iterative
analog: each round a host may serve at most ``host_budget_per_round``
fetches; the rest are deferred to the next round with ``retry_count+1`` and
``scheduled_for = next round`` (the reference's withRetry,
model/CrawlRequest.java:21-23).

Selection must be deterministic for ordering parity with the golden model:
rows rank by (priority, url) within each host — the engine-defined total
order that replaces the reference's nondeterministic Kafka-partition FIFO
(SURVEY.md §2.5 L3).

Scale notes:
- the ranking window shuffles by host once; its output feeds the fetch
  stage directly so no second shuffle is needed;
- fetch-task skew (one mega-host dominating a task) is handled by explicit
  salting: a host with n selected rows splits across
  ceil(n / ``fetch_rows_per_salt``) salted sub-partitions, the count
  coming from a window over the politeness shuffle's own partitioning
  (BASELINE.json north_rule: "salted repartition-by-host with explicit
  skew splitting"). Budgets are applied *before* salting, so politeness is
  exact per host regardless of the split (SURVEY.md §7.2 hard part (c)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import CrawlConfig


def apply_politeness(frontier: DataFrame, cfg: CrawlConfig,
                     robots: DataFrame | None = None,
                     overrides: DataFrame | None = None) -> DataFrame:
    """Tag PASS rows beyond the per-host budget as DEFER_POLITENESS (or
    REJECT_POLITENESS when delay-retry is disabled, mirroring
    enableDelayRetry at core/WebCrawler.java:254).

    ``robots`` (optional, broadcast) carries a per-host ``crawl_delay``
    parsed from robots.txt; a host advertising a delay gets the override
    budget min(host_budget_per_round, ceil(round_seconds / delay)) — the
    batch analog of the reference's crawl_state.crawl_delay intent
    (schema.cql:19-24). Absent/invalid delay ⇒ the configured budget.

    ``overrides`` (optional, broadcast) carries per-host
    ``next_budget`` rows — the integration seam for a budget policy's
    output (e.g. an AIMD per-host controller). An override can only TIGHTEN the effective budget
    (least of the tiers, floored at 1): politeness layers compose by
    minimum, never relax each other. No caller in the crawl loop
    passes one yet, so flagship golden parity is untouched.

    Salted partial top-K, so no single task ever sorts a whole mega-host:
    stage 1 ranks PASS rows within (host, salt) — a row outside its salt's
    top-budget has ≥ budget rows above it in the host's total order, so it
    is over-budget with certainty. Stage 2 re-ranks only the ≤
    salts×budget survivors per host. The result is identical to a single
    per-host top-K by (priority, url); only the physical partitioning
    differs (the equivalence is pinned by the budget-exactness and
    golden-parity tests)."""
    over = F.lit("DEFER_POLITENESS" if cfg.enable_delay_retry
                 else "REJECT_POLITENESS")
    base = F.lit(cfg.host_budget_per_round)
    if robots is not None and "crawl_delay" in robots.columns:
        delay = robots.select("host", "crawl_delay").where(
            F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0))
        frontier = frontier.join(F.broadcast(delay), "host", "left")
        # max(1, ceil(...)): a finite delay always ceils to >=1, but a
        # non-finite delay smuggled into host state must throttle to
        # 1/round, never to a permanently starved 0 budget. The clamp is
        # guarded on isNotNull: Spark's greatest() SKIPS nulls, so an
        # unguarded greatest(1, null) would hand every delay-free host a
        # budget of 1 instead of the configured base.
        delay_budget = F.least(base, F.greatest(
            F.lit(1),
            F.ceil(F.lit(float(cfg.round_seconds))
                   / F.col("crawl_delay")).cast("int")))
        budget = F.when(F.col("crawl_delay").isNotNull(),
                        delay_budget).otherwise(base)
        frontier = (frontier.withColumn("_budget", budget)
                    .drop("crawl_delay"))
        budget = F.col("_budget")
    else:
        budget = base
    if overrides is not None:
        ov = overrides.select("host",
                              F.col("next_budget").alias("_ov_budget"))
        frontier = (frontier.join(F.broadcast(ov), "host", "left")
                    .withColumn(
                        "_budget",
                        F.when(F.col("_ov_budget").isNotNull(),
                               F.greatest(F.lit(1),
                                          F.least(budget,
                                                  F.col("_ov_budget")
                                                  .cast("int"))))
                        .otherwise(budget))
                    .drop("_ov_budget"))
        budget = F.col("_budget")
    return _enforce_budget(frontier, "host", budget, over,
                           cfg.politeness_salts).drop("_budget")


def apply_domain_cap(decided: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """Second politeness tier at registered-domain (eTLD+1) grain: after
    the per-host budget, at most ``cfg.pld_budget_per_round`` PASS rows
    per registered domain per round — a subdomain farm (*.blogspot.com)
    cannot multiply one site's budget by minting hosts. No-op at the
    default 0 (the reference throttles hostnames only).

    Composes with (never replaces) the host tier: rows the host budget
    already deferred stay deferred; the domain cap re-ranks the remaining
    PASS rows by the same (priority, url) total order within
    coalesce(eTLD+1, host) — suffix-only hosts cap individually. Same
    salted partial top-K machinery, so a 10^6-subdomain mega-domain
    never sorts in one task. Mirrored by golden.golden_crawl."""
    if cfg.pld_budget_per_round <= 0:
        return decided
    from ..functions.urls import registered_domain_of
    over = F.lit("DEFER_POLITENESS" if cfg.enable_delay_retry
                 else "REJECT_POLITENESS")
    tagged = decided.withColumn(
        "_pld", F.coalesce(registered_domain_of(F.col("host")),
                           F.col("host")))
    return _enforce_budget(tagged, "_pld",
                           F.lit(cfg.pld_budget_per_round), over,
                           cfg.politeness_salts).drop("_pld")


def _enforce_budget(frontier: DataFrame, key: str, budget,
                    over, salts: int) -> DataFrame:
    """Budget top-K core shared by the host and domain tiers: PASS rows
    ranked by (priority, url) within ``key``; rank > budget ⇒ decision
    ``over``. ``salts`` > 1 selects the two-stage salted partial top-K
    (provably equal to the single window — see apply_politeness)."""
    if salts <= 1:
        # single-window path: one shuffle, right when no key can dominate
        # a task (small crawls / tests). Non-PASS rows rank below PASS so
        # they never consume budget.
        w_pass = (Window.partitionBy(key)
                  .orderBy(F.col("is_pass").desc(), "priority", "url"))
        return (
            frontier
            .withColumn("is_pass", (F.col("decision") == "PASS").cast("int"))
            .withColumn("key_rank", F.row_number().over(w_pass))
            .withColumn(
                "decision",
                F.when((F.col("decision") == "PASS")
                       & (F.col("key_rank") > budget), over)
                .otherwise(F.col("decision")))
            .drop("is_pass", "key_rank")
        )
    rest = frontier.where(F.col("decision") != "PASS")
    passed = frontier.where(F.col("decision") == "PASS")

    w_salt = (Window.partitionBy(key, "_salt")
              .orderBy("priority", "url"))
    staged = (passed
              .withColumn("_salt", F.pmod(F.xxhash64("url"),
                                          F.lit(salts)))
              .withColumn("_sr", F.row_number().over(w_salt)))
    over_budget1 = (staged.where(F.col("_sr") > budget)
                    .drop("_salt", "_sr")
                    .withColumn("decision", over))
    w_key = Window.partitionBy(key).orderBy("priority", "url")
    survivors = (staged.where(F.col("_sr") <= budget)
                 .drop("_salt", "_sr")
                 .withColumn("_kr", F.row_number().over(w_key)))
    final_pass = survivors.where(F.col("_kr") <= budget).drop("_kr")
    over_budget2 = (survivors.where(F.col("_kr") > budget).drop("_kr")
                    .withColumn("decision", over))
    return (final_pass.unionByName(over_budget2)
            .unionByName(over_budget1).unionByName(rest))


def salted_repartition_for_fetch(selected: DataFrame, cfg: CrawlConfig,
                                 num_partitions: int) -> DataFrame:
    """O7: distribute this round's fetch set across executors with an
    explicit per-host skew split.

    Each host's selected-row count comes from a count window over the same
    `host` partitioning the politeness ranking already shuffled on — so
    the split is data-driven yet costs NO extra job, no driver collect,
    and no broadcast (the earlier aggregate+collect version added a full
    blocking job per round). A host with n selected rows splits into
    ceil(n / fetch_rows_per_salt) salts, bounding how much of any fetch
    task one hot host can occupy; AQE's skew handling does not cover UDF
    fetch stages, hence the explicit split."""
    n_sel = F.count("*").over(Window.partitionBy("host"))
    n_salts = F.greatest(
        F.lit(1), F.ceil(n_sel / F.lit(cfg.fetch_rows_per_salt)))
    return (
        selected
        .withColumn("salt", F.pmod(F.xxhash64("url"), n_salts))
        .repartition(num_partitions, F.col("host"), F.col("salt"))
        .drop("salt")
    )
