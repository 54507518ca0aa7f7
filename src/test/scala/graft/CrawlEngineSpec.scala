package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.app.CrawlEngine
import graft.gen.Synthetic
import graft.oracle.CrawlOracle

/** End-to-end engine semantics vs the straight-line oracle: exact crawl
  * order, exact URL-seen set, quarantine, byte-identical extracted text per
  * url, parallelism invariance, and kill/resume exactness (north_rule). */
class CrawlEngineSpec extends SparkTestBase {

  private val N = 300L        // frontier entries
  private val PagesN = 260L   // pages exist for ids < PagesN -> misses beyond
  private val Budget = 40
  private val MaxAttempts = 3

  private def freshDir(): String =
    Files.createTempDirectory("graft-engine").toString

  private def runEngine(numPartitions: Int, stateDir: String, rounds: Int = 100): CrawlEngine = {
    val engine = new CrawlEngine(spark, stateDir,
      numPartitions = numPartitions, defaultBudget = Budget, maxAttempts = MaxAttempts)
    engine.init(Synthetic.frontier(spark, N, 4).toDF())
    val pages = Synthetic.pages(spark, PagesN, 4).toDF()
    var r = 0
    var last = -1L
    while (last != 0 && r < rounds) {
      last = engine.runRound(pages, Synthetic.robots(spark).toDF(),
        Synthetic.budgets(spark, Budget).toDF())
      r += 1
    }
    engine
  }

  private def schedule(e: CrawlEngine): Seq[(Int, Long, String)] =
    e.scheduleTable.read().get
      .select("round", "crawl_order", "url_norm")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  private lazy val oracle = CrawlOracle.run(N, PagesN, Budget, MaxAttempts)

  private lazy val engine8 = runEngine(8, freshDir())

  test("crawl order matches the straight-line oracle exactly") {
    val got = schedule(engine8)
    val want = oracle._1.map(s => (s.round, s.crawlOrder, s.urlNorm))
    assert(got.size == want.size, s"scheduled ${got.size} vs oracle ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"mismatch: $g vs $w") }
  }

  test("URL-seen set matches the oracle exactly") {
    import spark.implicits._
    val got = engine8.seenTable.read().get.as[Long].collect().toSet
    assert(got == oracle._2)
  }

  test("quarantine holds exactly the oracle's dead urls at maxAttempts") {
    val got = engine8.quarantineTable.read().map(
      _.select("url_norm").collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    assert(got == oracle._3)
  }

  test("crawl order is parallelism-invariant (3 vs 8 partitions)") {
    val engine3 = runEngine(3, freshDir())
    assert(schedule(engine3) == schedule(engine8))
  }

  test("extracted text byte-identical per url (name_en/name_ar vs golden)") {
    val prods = engine8.productsTable.read().get
      .select("url", "name_en", "name_ar").collect()
    assert(prods.nonEmpty)
    prods.foreach { r =>
      val url = r.getString(0)
      "/p/(\\d+)$".r.findFirstMatchIn(url) match {
        case Some(m) =>
          val id = m.group(1).toLong
          // only pages that exist were extracted
          assert(r.getString(1) == Synthetic.expectedText(id, "en"), s"url=$url en")
          assert(r.getString(2) == Synthetic.expectedText(id, "ar"), s"url=$url ar")
        case None => fail(s"unexpected product url $url")
      }
    }
  }

  test("products carry the full 34-column sink schema, no nulls") {
    val prods = engine8.productsTable.read().get
    assert(prods.columns.toSeq == graft.model.Product.sinkOrder)
    val nullCounts = prods.select(
      graft.model.Product.sinkOrder.map(c => sum(when(col(c).isNull, 1).otherwise(0)).as(c)): _*)
      .collect().head
    graft.model.Product.sinkOrder.indices.foreach { i =>
      assert(nullCounts.getLong(i) == 0, s"nulls in ${graft.model.Product.sinkOrder(i)}")
    }
  }

  test("kill-and-resume: stopping after 2 rounds and resuming is exact") {
    val dir = freshDir()
    val pages = Synthetic.pages(spark, PagesN, 4).toDF()
    val robots = Synthetic.robots(spark).toDF()
    val budgets = Synthetic.budgets(spark, Budget).toDF()
    val e1 = new CrawlEngine(spark, dir,
      numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
    e1.init(Synthetic.frontier(spark, N, 4).toDF())
    e1.runRound(pages, robots, budgets)
    e1.runRound(pages, robots, budgets)
    // "kill": new engine object on the same state dir resumes from checkpoint
    val e2 = new CrawlEngine(spark, dir,
      numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
    assert(e2.readCheckpoint().get.round == 2)
    var last = -1L
    var r = 0
    while (last != 0 && r < 100) {
      last = e2.runRound(pages, robots, budgets); r += 1
    }
    assert(schedule(e2) == schedule(engine8))
    import spark.implicits._
    assert(e2.seenTable.read().get.as[Long].collect().toSet == oracle._2)
  }

  test("a checkpoint swap torn between delete and rename rolls forward exactly") {
    val dir = freshDir()
    val pages = Synthetic.pages(spark, PagesN, 4).toDF()
    val robots = Synthetic.robots(spark).toDF()
    val budgets = Synthetic.budgets(spark, Budget).toDF()
    val e1 = new CrawlEngine(spark, dir,
      numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
    e1.init(Synthetic.frontier(spark, N, 4).toDF())
    e1.runRound(pages, robots, budgets)
    tearPointerSwap(s"$dir/checkpoint.json")
    val e2 = new CrawlEngine(spark, dir,
      numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
    assert(e2.readCheckpoint().map(_.round) == Some(1))
    e2.runRound(pages, robots, budgets)
    val want = oracle._1.filter(_.round <= 2).map(s => (s.round, s.crawlOrder, s.urlNorm))
    assert(schedule(e2) == want)
  }

  test("kill BETWEEN table commits (torn round) resumes exactly, no duplication") {
    import spark.implicits._
    val pages = Synthetic.pages(spark, PagesN, 4).toDF()
    val robots = Synthetic.robots(spark).toDF()
    val budgets = Synthetic.budgets(spark, Budget).toDF()
    // tear points: after seen append (2), after products append (3), after
    // every table but before the checkpoint (6) — the cases where a chained
    // re-append would duplicate rows (ADVICE r01 high)
    Seq(2, 3, 6).foreach { tearAt =>
      val dir = freshDir()
      val e = new CrawlEngine(spark, dir,
        numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
      e.init(Synthetic.frontier(spark, N, 4).toDF())
      e.runRound(pages, robots, budgets) // clean round 1
      e.crashAfterCommit = tearAt
      intercept[RuntimeException] { e.runRound(pages, robots, budgets) }
      e.crashAfterCommit = -1
      // resume on a fresh engine object (the "restart")
      val e2 = new CrawlEngine(spark, dir,
        numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
      assert(e2.readCheckpoint().get.round == 1, s"tearAt=$tearAt")
      var last = -1L
      var r = 0
      while (last != 0 && r < 100) { last = e2.runRound(pages, robots, budgets); r += 1 }
      assert(schedule(e2) == schedule(engine8), s"tearAt=$tearAt schedule")
      assert(e2.seenTable.read().get.as[Long].collect().toSet == oracle._2, s"tearAt=$tearAt seen")
      // products must equal the uninterrupted run EXACTLY (incl. multiplicity)
      val got = e2.productsTable.read().get.select("url", "barcode")
        .collect().map(r0 => (r0.getString(0), r0.getString(1))).sorted.toSeq
      val want = engine8.productsTable.read().get.select("url", "barcode")
        .collect().map(r0 => (r0.getString(0), r0.getString(1))).sorted.toSeq
      assert(got == want, s"tearAt=$tearAt products")
    }
  }

  test("sketch seen gate LIVE above the broadcast limit: drain + torn resume exact") {
    import spark.implicits._
    // UrlSeenSpec proves the executor-built sketch gate standalone and
    // CrawlEngineSpec proves kill/resume under the broadcast gate — this
    // composes them: with the broadcast limit at -1 every round's seen
    // anti-join runs the pinned cuckoo sketch (production dispatches on the
    // Bloom's size from the manifest rowCount), through schedule -> fetch ->
    // sinks -> commit -> torn-round resume.
    val pages = Synthetic.pages(spark, PagesN, 4).toDF()
    val robots = Synthetic.robots(spark).toDF()
    val budgets = Synthetic.budgets(spark, Budget).toDF()
    // the reference run is built first, under the default limit
    val want = schedule(engine8)
    withBroadcastLimit("-1") {
      // full drain under the sketch gate
      val dirA = freshDir()
      val eA = new CrawlEngine(spark, dirA, numPartitions = 8, defaultBudget = Budget,
        maxAttempts = MaxAttempts)
      eA.init(Synthetic.frontier(spark, N, 4).toDF())
      var last = -1L
      var r = 0
      while (last != 0 && r < 100) { last = eA.runRound(pages, robots, budgets); r += 1 }
      assert(schedule(eA) == want, "sketch-gate schedule")
      assert(eA.seenTable.read().get.as[Long].collect().toSet == oracle._2, "sketch-gate seen")
      // torn round under the sketch gate (kill after the seen append, the
      // tear point that corrupts the gate's own input if resume is wrong)
      val dirB = freshDir()
      val eB = new CrawlEngine(spark, dirB, numPartitions = 8, defaultBudget = Budget,
        maxAttempts = MaxAttempts)
      eB.init(Synthetic.frontier(spark, N, 4).toDF())
      eB.runRound(pages, robots, budgets)
      eB.crashAfterCommit = 2
      intercept[RuntimeException] { eB.runRound(pages, robots, budgets) }
      eB.crashAfterCommit = -1
      val eB2 = new CrawlEngine(spark, dirB, numPartitions = 8, defaultBudget = Budget,
        maxAttempts = MaxAttempts)
      assert(eB2.readCheckpoint().get.round == 1)
      last = -1L; r = 0
      while (last != 0 && r < 100) { last = eB2.runRound(pages, robots, budgets); r += 1 }
      assert(schedule(eB2) == want, "sketch-gate torn-round schedule")
      assert(eB2.seenTable.read().get.as[Long].collect().toSet == oracle._2,
        "sketch-gate torn-round seen")
    }
  }

  test("a round releases only its own caches — an unrelated cached frame survives") {
    val unrelated = spark.range(1000).toDF("x").persist()
    assert(unrelated.count() == 1000)
    val dir = freshDir()
    val e = new CrawlEngine(spark, dir,
      numPartitions = 4, defaultBudget = Budget, maxAttempts = MaxAttempts)
    e.init(Synthetic.frontier(spark, 50, 4).toDF())
    e.runRound(Synthetic.pages(spark, 50, 4).toDF(),
      Synthetic.robots(spark).toDF(), Synthetic.budgets(spark, Budget).toDF())
    // the round's own persists are released at its commit barrier; the
    // session-level cache it did NOT create must survive (no clearCache)
    assert(unrelated.storageLevel.useMemory, "unrelated cache was evicted by the round")
    assert(unrelated.count() == 1000)
    unrelated.unpersist()
  }

  test("observed round metrics equal recomputed values (A3, zero extra jobs)") {
    val dir = freshDir()
    val e = new CrawlEngine(spark, dir,
      numPartitions = 8, defaultBudget = Budget, maxAttempts = MaxAttempts)
    e.init(Synthetic.frontier(spark, N, 4).toDF())
    val n = e.runRound(Synthetic.pages(spark, PagesN, 4).toDF(),
      Synthetic.robots(spark).toDF(), Synthetic.budgets(spark, Budget).toDF())
    assert(e.lastRoundMetrics("scheduled").asInstanceOf[Long] == n)
    val schedRows = e.scheduleTable.read().get
    assert(schedRows.count() == n)
    assert(e.lastRoundMetrics("max_attempt").asInstanceOf[Int] ==
      schedRows.agg(max(col("attempt"))).head.getInt(0))
  }
}
