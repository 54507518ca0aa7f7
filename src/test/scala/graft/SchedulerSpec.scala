package graft

import org.apache.spark.sql.functions._
import graft.gen.Synthetic
import graft.sched.Scheduler
import graft.oracle.WideScheduler

class SchedulerSpec extends SparkTestBase {

  test("withCrawlOrder: contiguous, parallelism-invariant, key-ordered") {
    val ref = collectOrder(numDataParts = 1, schedParts = 1)
    for ((dataParts, schedParts) <- Seq((4, 2), (8, 5), (2, 7))) {
      val got = collectOrder(dataParts, schedParts)
      assert(got == ref, s"order changed at dataParts=$dataParts schedParts=$schedParts")
    }
    // contiguity + ordering
    assert(ref.map(_._1) == (0L until ref.size))
  }

  private def collectOrder(numDataParts: Int, schedParts: Int): Seq[(Long, String)] = {
    val f = Synthetic.frontier(spark, 500, numDataParts).toDF()
      .filter(!col("is_processed"))
      .dropDuplicates("url_hash")
    val ordered = Scheduler.withCrawlOrder(
      f, Seq(col("host_rank"), col("depth"), col("discovered_seq"), col("url_hash")), schedParts)
    val rows = ordered.select("crawl_order", "url_norm")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    spark.catalog.clearCache()
    rows
  }

  test("scheduleRoundNarrow equals the wide formulation; replayed rows never fan out") {
    import org.apache.spark.sql.expressions.Window
    import graft.seen.UrlSeen
    val base = Synthetic.frontier(spark, 400, 4).toDF()
      .filter(!col("is_processed"))
    // at-least-once ingest: replay a slice of IDENTICAL rows (ADVICE r02 —
    // these must not fan out the narrow rejoin into duplicate scheduled rows)
    val pending = base.unionByName(base.filter(col("discovered_seq") % 7 === 0))
    val seen = base.filter(col("discovered_seq") % 5 === 0).select("url_hash")
    val robots = Synthetic.robots(spark).toDF()
    val budgets = Synthetic.budgets(spark, 30).toDF()

    val (narrowNow, narrowDef) = Scheduler.scheduleRoundNarrow(
      pending, robots, budgets, UrlSeen.antiJoin(_, seen, "url_hash", expectedSeen = 1000),
      defaultBudget = 30, numPartitions = 8)
    // wide straight-line: robots -> dedup window -> exact anti-join -> budget
    // -> order, all on full rows
    val allowed = graft.politeness.Politeness.applyRobots(pending, robots)
    val dedupW = Window.partitionBy(col("url_hash")).orderBy(col("discovered_seq"))
    val deduped = allowed
      .withColumn("__rn", row_number().over(dedupW)).filter(col("__rn") === 1).drop("__rn")
      .dropDuplicates("url_hash", "discovered_seq") // collapse replayed identical rows
    val unseen = UrlSeen.exactAntiJoin(deduped, seen, "url_hash")
    val (wideNow, wideDef) = WideScheduler.schedule(unseen, robots, budgets, 30, 8)

    def key(df: org.apache.spark.sql.DataFrame, withOrder: Boolean) = {
      val cols = (if (withOrder) Seq("crawl_order") else Nil) ++
        Seq("url_norm", "host", "category", "discovered_seq", "attempt")
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    assert(key(narrowNow, withOrder = true) == key(wideNow, withOrder = true))
    assert(key(narrowDef, withOrder = false) == key(wideDef, withOrder = false))
    // dedup + budget phase-1 share ONE full-frontier exchange: the executed
    // plan has no url_hash-only hashpartitioning (the old dedup shuffle)
    // (the rejoin's hashpartitioning(url_hash, discovered_seq) is fine; the
    // single-key url_hash form would be the old dedup shuffle)
    val plan = narrowNow.queryExecution.executedPlan.toString
    assert(!"hashpartitioning\\(url_hash#\\d+, \\d+\\)".r.findFirstIn(plan).isDefined,
      "narrow path re-grew a url_hash-only exchange")
    spark.catalog.clearCache()
  }

  test("schedule: per-host budget never exceeded, priority respected within host") {
    val f = Synthetic.frontier(spark, 800, 4).toDF()
      .filter(!col("is_processed")).dropDuplicates("url_hash")
    val budget = 20
    val (now, deferred) = WideScheduler.schedule(
      f, Synthetic.robots(spark).toDF(), Synthetic.budgets(spark, budget).toDF(),
      defaultBudget = budget, numPartitions = 4)
    val perHost = now.groupBy("host").count().collect()
    perHost.foreach(r => assert(r.getLong(1) <= budget, s"host ${r.getString(0)} over budget"))
    // every deferred row of a host must sort AFTER every scheduled row of
    // that host by the priority key
    val nowMax = now.groupBy("host")
      .agg(max(struct(col("host_rank"), col("depth"), col("discovered_seq"), col("url_hash"))).as("mx"))
    val defMin = deferred.groupBy("host")
      .agg(min(struct(col("host_rank"), col("depth"), col("discovered_seq"), col("url_hash"))).as("mn"))
    val bad = nowMax.join(defMin, "host").filter(col("mn") < col("mx")).count()
    assert(bad == 0, "a deferred row outranked a scheduled row")
    spark.catalog.clearCache()
  }

  test("schedule matches the straight-line oracle's first round") {
    val n = 600L
    val f = Synthetic.frontier(spark, n, 4).toDF().filter(!col("is_processed"))
    // oracle round 1
    val (oracleSched, _, _) = graft.oracle.CrawlOracle.run(n, n, perHostBudget = 30, maxRounds = 1)
    val r1 = oracleSched.filter(_.round == 1).sortBy(_.crawlOrder).map(_.urlNorm)
    // engine round 1: dedup + (no seen) + schedule
    import org.apache.spark.sql.expressions.Window
    val dedupW = Window.partitionBy(col("url_hash")).orderBy(col("discovered_seq"))
    val deduped = f.withColumn("__rn", row_number().over(dedupW))
      .filter(col("__rn") === 1).drop("__rn")
    // pre-processed rows are already "seen" (duplicates of processed urls
    // must be gated out, as CrawlEngine.init does)
    val preSeen = graft.oracle.CrawlOracle.preSeenHashes(n)
    val unseen = deduped.filter(!col("url_hash").isin(preSeen.toSeq: _*))
    val (now, _) = WideScheduler.schedule(
      unseen, Synthetic.robots(spark).toDF(), Synthetic.budgets(spark, 30).toDF(),
      defaultBudget = 30, numPartitions = 4)
    val got = now.select("crawl_order", "url_norm").collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).toSeq
    assert(got == r1)
    spark.catalog.clearCache()
  }

  test("saltedByHost spreads the hot host over saltFactor partitions") {
    val f = Synthetic.frontier(spark, 2000, 8).toDF().filter(!col("is_processed"))
    val salted = Scheduler.saltedByHost(f, numPartitions = 16, saltFactor = 8)
    val dist = salted
      .filter(col("host") === "shop0.example.com")
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").count().collect()
    assert(dist.length >= 4, s"hot host landed on only ${dist.length} partitions")
  }
}
