package graft.politeness

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Politeness layer (SURVEY.md §2.7 O2/O3).
  *
  * The reference is polite by construction: one thread, `time.sleep(1)` per
  * page (metro_markets_extract_product_urls.py:91), robots obedience
  * (bookscraper/bookscraper/settings.py:20). In a parallel engine the same
  * guarantees become data rules:
  *
  *  - robots: a broadcast-joined rules table (host, path_prefix, allow);
  *    longest matching prefix wins; unmatched hosts default-allow.
  *  - per-host budget: at most `per_round` URLs of one host are schedulable
  *    per round; ranking within a host is the deterministic priority key, so
  *    the SAME urls are chosen at any parallelism.
  */
object Politeness {

  /** Apply robots rules: keep rows whose (host, path) resolves to allow,
    * longest matching prefix wins, unmatched hosts default-allow.
    *
    * Shuffle-free: the rules dimension is pre-aggregated per host into an
    * array column, broadcast-joined, and the longest-prefix resolution is a
    * codegen'd `aggregate` fold over that array — no window, no exchange of
    * the frontier. (The previous formulation used a per-row window over the
    * whole frontier — a full extra shuffle per round.) */
  def applyRobots(frontier: DataFrame, robots: DataFrame,
      broadcastDim: Boolean = true): DataFrame = {
    val rulesByHost = robots
      .groupBy(col("host"))
      .agg(collect_list(struct(col("path_prefix"), col("allow"))).as("__rules"))
    val path = regexp_replace(col("url_norm"), "^[a-z][a-z0-9+.-]*://[^/?]*", "")
    // broadcastDim = false is the 10^8-host escape hatch: a rules dim too
    // big to broadcast joins as a shuffle join on host instead (identical
    // output, PolitenessSpec); the per-row longest-prefix fold is unchanged
    val dim = if (broadcastDim) broadcast(rulesByHost) else rulesByHost
    val joined = frontier
      .withColumn("__path", path)
      .join(dim, Seq("host"), "left_outer")
    // fold: keep the (longest prefix, allow) among matching rules; hosts
    // with no rules (__rules null) propagate null -> default allow
    val best = aggregate(
      filter(col("__rules"), r => col("__path").startsWith(r.getField("path_prefix"))),
      struct(lit(-1).as("len"), lit(true).as("allow")),
      (acc, r) => when(length(r.getField("path_prefix")) > acc.getField("len"),
        struct(length(r.getField("path_prefix")).as("len"), r.getField("allow").as("allow")))
        .otherwise(acc))
    joined
      .withColumn("__allow", coalesce(best.getField("allow"), lit(true)))
      .filter(col("__allow"))
      .drop("__path", "__rules", "__allow")
  }

  /** O2 — derive per-round host budgets from robots crawl delays (the
    * reference's 1 s/page pacing, metro_markets_extract_product_urls.py:91,
    * generalized: a host whose strictest rule says `crawl_delay_ms` can
    * absorb at most roundDurationMs / delay fetches per round). Hosts keep
    * their most conservative (max) delay across rules; budget >= 1 so a
    * polite host still drains. */
  def budgetsFromCrawlDelay(robots: DataFrame, roundDurationMs: Long): DataFrame =
    robots.groupBy(col("host"))
      .agg(max(col("crawl_delay_ms")).as("__delay"))
      .select(col("host"),
        greatest(lit(1L),
          floor(lit(roundDurationMs) / greatest(col("__delay"), lit(1))).cast("long"))
          .cast("int").as("per_round"))

  /** Per-host budget: rows ranked within host by the priority key; rank <=
    * budget are schedulable this round, the rest are deferred. Returns the
    * frontier with a boolean `scheduled_now`. Hosts without a budget row get
    * `defaultBudget`.
    *
    * Skew-proof two-phase top-K (a Zipf frontier puts ~half the URLs on one
    * host; a single per-host window would serialize that host onto one
    * reducer): phase 1 ranks within (host, salt) — a row outside its salt
    * bucket's top-B cannot be in the host's global top-B, so it is flagged
    * deferred without entering phase 2; phase 2 ranks the <= saltFactor*B
    * surviving candidates per host. Exact same result as the single
    * window, verified in SchedulerSpec/CrawlEngineSpec. */
  def applyBudgets(
      frontier: DataFrame,
      budgets: DataFrame,
      defaultBudget: Int,
      saltFactor: Int = 16,
      scope: graft.util.CacheScope = graft.util.CacheScope.unmanaged,
      broadcastDim: Boolean = true): DataFrame = {
    val dim = if (broadcastDim) broadcast(budgets) else budgets
    val joined = frontier
      .join(dim, Seq("host"), "left_outer")
      .withColumn("__budget", coalesce(col("per_round"), lit(defaultBudget)))
    val priority = Seq(col("host_rank"), col("depth"), col("discovered_seq"), col("url_hash"))
    val w1 = Window.partitionBy(col("host"), pmod(col("url_hash"), lit(saltFactor)))
      .orderBy(priority: _*)
    // persisted: both the candidates and overflow branches read it — without
    // this the whole upstream (scan + canon + dedup) executes twice
    val phase1 = scope.track(joined.withColumn("__rn1", row_number().over(w1)).persist())
    val candidates = phase1.filter(col("__rn1") <= col("__budget"))
    val overflow = phase1.filter(col("__rn1") > col("__budget"))
      .withColumn("scheduled_now", lit(false))
    val w2 = Window.partitionBy(col("host")).orderBy(priority: _*)
    val ranked = candidates
      .withColumn("__rn2", row_number().over(w2))
      .withColumn("scheduled_now", col("__rn2") <= col("__budget"))
      .drop("__rn2")
    ranked.drop("__rn1", "__budget", "per_round")
      .unionByName(overflow.drop("__rn1", "__budget", "per_round"))
  }
}
