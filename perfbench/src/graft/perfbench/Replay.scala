package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.app.CrawlEngine
import graft.extract.Extractors
import graft.politeness.Politeness
import graft.sched.Scheduler
import graft.seen.{SketchHandle, UrlSeen}
import graft.state.SnapshotTable
import graft.util.CacheScope

/** What a replayed round measured, besides its spans. */
final case class ReplayOut(scheduled: Long, probed: Long, unseen: Long, seenRows: Long,
    canonRows: Long, deferredRatio: Double, partitionSkew: Double, pages: Long,
    failedRatio: Double, stateBytes: Long, sketchBytes: Long)

/** Replays a crawl's next round from outside the engine, one public call
  * per span, each step materialised in its own job group, committing into
  * a scratch dir instead of the crawl's state. The composition follows
  * `CrawlEngine.runRound` and `Scheduler.scheduleRoundNarrow`: robots, seen
  * gate, first-wins dedup and budgets, crawl order, salted repartition,
  * page join and extraction, projection, link harvest, table commits. */
object Replay {
  private val SketchMeta = """sketch:b=(\d+);cap=(\d+);n=(\d+);seen=(\d+)""".r
  private val RunDate = "2024-11-10"
  /** `CrawlEngine`'s default Bloom false-positive rate. */
  private val BloomFpp = 0.03
  /** `scheduleRoundNarrow`'s default salt for dedup and budgets. */
  private val BudgetSalt = 16

  def apply(w: Workload, c: Crawl, tr: Tracer, scratch: String): ReplayOut = {
    val spark = w.spark
    val e = c.engine
    val m = w.merchant
    val P = w.partitions
    val scope = new CacheScope
    val handles = mutable.ListBuffer.empty[SketchHandle]
    // a step's output is materialised as a local checkpoint: its plan is cut
    // there, so later steps neither recompute it nor pay cache matching
    // against a growing set of persisted plans
    def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val ckpt = e.readCheckpoint().get
    val round = ckpt.round + 1
    val pages = w.pagesFor(round)

    var canonRows = 0L
    tr.span("streaming.ingest") {
      w.ingestRows(round).foreach { raw =>
        val enriched = tr.span("url.enrich")(mat(e.enrichSeeds(raw)))
        canonRows += enriched.count()
        e.ingestFrontierAppend(enriched)
      }
    }
    val pending = e.frontierTable.readAt(e.frontierTable.resolveBase(ckpt.frontier, "ingest")).get
    val seenBase = e.seenTable.resolveBase(ckpt.seen, "ingest")
    val seenRaw = e.seenTable.readAt(seenBase).get
    val seenCount = e.seenTable.snapshotAt(seenBase).map(_.rowCount).getOrElse(0L)
    val frontierCols = pending.columns.map(col).toSeq

    // re-crawl window: the checkpointed sketch, pinned as a steady round
    // finds it (a cold pin is what a resumed engine pays, timed apart)
    val recrawl = w.window.map { win =>
      val exactSeen = seenRaw.filter(col("seen_round") > round - win).select(col("url_hash"))
      val newlyExpired = seenRaw.filter(col("seen_round") === round - win)
        .select(col("url_hash")).join(exactSeen, Seq("url_hash"), "left_anti")
      val meta = e.sketchTable.snapshotAt(ckpt.sketch).map(_.lineageJson) match {
        case Some(SketchMeta(b, cap, n, covered)) if n.toLong <= b.toLong * cap.toLong =>
          Some((b.toInt, cap.toLong, covered.toInt))
        case _ => None
      }
      val pinned = meta.map { case (b, cap, covered) =>
        tr.span("seen.pin") {
          val h = SketchHandle.pin(e.sketchTable.readAt(ckpt.sketch).get, b, cap)
          h.rdd.count()
          handles += h
          e.seenTable.readDelta(covered, seenBase).map { d =>
            val f = SketchHandle.update(h, "url_hash", None, Some(d.select(col("url_hash"))))
            f.rdd.count(); handles += f; f
          }.getOrElse(h)
        }
      }
      (exactSeen, newlyExpired, pinned)
    }

    var out: ReplayOut = null
    var salted: DataFrame = null
    tr.span("round") {
      val pagesKeyed = tr.span("url.page_key")(mat(pages.withColumn("url_key", m.pageKey(col("url")))))
      canonRows += pagesKeyed.count()

      val allowed = tr.span("politeness.robots")(mat(Politeness.applyRobots(pending, w.robots)))
      val narrowCols = Seq("url_hash", "host", "depth", "host_rank", "discovered_seq", "attempt")
      val joinKeys = Seq("url_hash", "discovered_seq")
      val stringCols = allowed.columns.toSeq.filterNot(narrowCols.contains)
      val narrow = allowed.select(narrowCols.map(col): _*)
      val strings = allowed.groupBy(joinKeys.map(col): _*)
        .agg(min(struct(stringCols.map(col): _*)).as("__row"))
        .select(joinKeys.map(col) ++ stringCols.map(s => col("__row").getField(s).as(s)): _*)
      val probed = narrow.count()

      val unseen = recrawl match {
        case Some((exactSeen, _, pinned)) =>
          val handle = pinned.getOrElse(tr.span("seen.sketch_build") {
            val expect = math.max(2 * seenCount, 1024L)
            val b = UrlSeen.bucketCount(expect)
            val h = SketchHandle.pin(
              UrlSeen.buildCuckooFilters(exactSeen, "url_hash", expect, b), b, math.max(expect / b, 1L))
            h.rdd.count(); handles += h; h
          })
          tr.span("seen.gate")(mat(SketchHandle.gate(narrow, handle, exactSeen, "url_hash", scope)))
        case None =>
          // the engine's gate: the call itself runs what it builds eagerly
          // (the broadcast path's Bloom filter), materialising its result
          // runs the rest
          tr.span("seen.gate") {
            val gated = tr.span("seen.sketch_build")(UrlSeen.antiJoin(
              narrow, seenRaw.select(col("url_hash")), "url_hash", seenCount, BloomFpp, scope = scope))
            mat(gated)
          }
      }
      val unseenRows = unseen.count()

      val (now, deferred, deferredRatio) = tr.span("politeness.budget") {
        val salt = pmod(col("url_hash"), lit(BudgetSalt))
        val w1 = Window.partitionBy(col("host"), salt).orderBy(col("url_hash"), col("discovered_seq"))
        val deduped = unseen.repartition(P, col("host"), salt)
          .withColumn("__prev", lag(col("url_hash"), 1).over(w1))
          .filter(col("__prev").isNull || col("__prev") =!= col("url_hash")).drop("__prev")
        val budgeted = mat(Politeness.applyBudgets(deduped, w.budgets, w.defaultBudget, BudgetSalt, scope))
        val counts = budgeted.groupBy(col("scheduled_now")).count().collect()
          .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
        val total = counts.values.sum
        (budgeted.filter(col("scheduled_now")).drop("scheduled_now"),
          budgeted.filter(!col("scheduled_now")).drop("scheduled_now").join(strings, joinKeys),
          if (total == 0) 0.0 else counts.getOrElse(false, 0L).toDouble / total)
      }

      val ordered = tr.span("sched.order")(mat(
        Scheduler.withCrawlOrder(now, Scheduler.priorityColNames.map(col), P, scope)
          .join(strings, joinKeys)))
      val scheduled = tr.span("sched.salt")(mat(Scheduler.saltedByHost(ordered, P, w.saltFactor)))
      val scheduledCount = scheduled.count()
      salted = scheduled

      val joined = tr.span("extract.fetch_join")(mat(scheduled
        .select(col("url_norm"), col("url").as("frontier_url"), col("category"),
          col("crawl_order"), col("attempt"), col("host"))
        .join(pagesKeyed, col("url_key") === col("url_norm"), "inner")))
      val withFields = tr.span("extract.kernel")(mat(m.pageFields(joined)))
      val pageRows = withFields.count()

      val (products, failedKeys, failedRatio) = tr.span("extract.project") {
        val pivoted = mat(Extractors.pivotLangs(withFields, "url_norm")
          .join(scheduled.select(col("url_norm"), col("crawl_order"), col("category")), Seq("url_norm"))
          .withColumn("url_en", coalesce(col("url_en"), col("url_norm")))
          .withColumn("__extract_failed", m.extractionFailed))
        val failed = pivoted.filter(col("__extract_failed")).select(col("url_norm"))
        val ordered = m.project(pivoted.filter(!col("__extract_failed")), RunDate, Seq("crawl_order"))
        val deduped =
          if (m.dedupByBarcode) ordered
            .withColumn("__rn", row_number().over(
              Window.partitionBy(col("barcode")).orderBy(col("crawl_order"))))
            .filter(col("__rn") === 1).drop("__rn", "crawl_order")
          else ordered.drop("crawl_order")
        val gated =
          if (!m.barcodeRunGate) deduped
          else e.barcodeSeenTable.readAt(e.barcodeSeenTable.resolveBase(ckpt.barcodeSeen, "ingest"))
            .map(b => deduped.join(broadcast(b), Seq("barcode"), "left_anti")
              .select(deduped.columns.map(col).toSeq: _*))
            .getOrElse(deduped)
        val all = pivoted.count()
        val nFailed = failed.count()
        (mat(m.sinkRows(gated)), failed, if (all == 0) 0.0 else nFailed.toDouble / all)
      }

      val hasLinks = withFields.schema("fields").dataType match {
        case s: org.apache.spark.sql.types.StructType => s.fieldNames.contains("links")
        case _ => false
      }
      val newEntries =
        if (!hasLinks) pending.limit(0)
        else tr.span("extract.harvest") {
          val raw = withFields.filter(col("lang") === "en")
            .select(col("category"), col("crawl_order"),
              posexplode(col("fields.links")).as(Seq("link_idx", "href")))
          mat(m.absolutizeBase
            .map(b => raw.withColumn("href", graft.url.UrlCanon.absolutize(col("href"), b)))
            .getOrElse(raw)
            .filter(m.harvestFilter(col("href")) && col("link_idx") < CrawlEngine.LinkSeqMultiplier)
            .withColumn("url", col("href"))
            .withColumn("__cp", graft.plans.UrlCanonPartsExpr.canonParts(col("url")))
            .withColumn("url_norm", col("__cp.url_norm"))
            .withColumn("url_hash", xxhash64(col("url_norm")))
            .withColumn("host", col("__cp.host"))
            .withColumn("depth", col("__cp.depth"))
            .drop("__cp")
            .withColumn("host_rank", lit(round))
            .withColumn("is_processed", lit(false))
            .withColumn("discovered_seq", col("crawl_order") * CrawlEngine.LinkSeqMultiplier +
              col("link_idx") + lit(round.toLong * CrawlEngine.RoundSeqBase))
            .withColumn("attempt", lit(0))
            .select(frontierCols: _*))
        }

      val pageKeys = pagesKeyed.select(col("url_key")).distinct()
      val fetched = scheduled.join(pageKeys, col("url_key") === col("url_norm"), "left_semi")
        .join(failedKeys, Seq("url_norm"), "left_anti").select(col("url_hash"))
      val stateBytes = tr.span("state.commit") {
        val missed = scheduled.join(pageKeys, col("url_key") === col("url_norm"), "left_anti")
          .unionByName(scheduled.join(failedKeys, Seq("url_norm"), "left_semi"))
          .withColumn("attempt", col("attempt") + 1)
        val next = deferred.select(frontierCols: _*)
          .unionByName(missed.filter(col("attempt") < w.maxAttempts).select(frontierCols: _*))
          .unionByName(newEntries.join(fetched, Seq("url_hash"), "left_anti").select(frontierCols: _*))
        def table(n: String) = new SnapshotTable(spark, s"$scratch/$n")
        table("frontier").overwrite(next)
        table("seen").append(
          if (w.window.isDefined) fetched.withColumn("seen_round", lit(round)) else fetched)
        table("products").append(products)
        table("quarantine").append(
          missed.filter(col("attempt") >= w.maxAttempts).select(frontierCols: _*))
        table("schedule").append(scheduled.select(col("crawl_order"), lit(round).as("round"),
          col("host"), col("url_norm"), col("url"), col("category"), col("attempt")))
        Inputs.dirBytes(scratch)
      }
      val sketchBytes = recrawl.map { case (exactSeen, newlyExpired, pinned) =>
        val base = handles.last
        val updated = tr.span("seen.sketch_update") {
          val u = SketchHandle.update(base, "url_hash",
            if (pinned.isDefined) Some(newlyExpired) else None, Some(fetched))
          u.rdd.count(); handles += u; u
        }
        tr.span("state.sketch_write") {
          new SnapshotTable(spark, s"$scratch/seen_sketch").overwrite(SketchHandle.toDf(spark, updated))
          Inputs.dirBytes(s"$scratch/seen_sketch")
        }
      }.getOrElse(0L)

      out = ReplayOut(scheduledCount, probed, unseenRows, seenCount, canonRows, deferredRatio,
        0.0, pageRows, failedRatio, stateBytes, sketchBytes)
    }
    // max/mean rows per partition of the fetch stage's salted layout
    val counts = salted.groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
    val mean = counts.sum.toDouble / P
    scope.unpersistAll(blocking = true)
    handles.foreach(_.unpersist())
    out.copy(partitionSkew = if (mean == 0) 0.0 else counts.max / mean)
  }
}
