package graft.app

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extract.Extractors
import graft.sched.Scheduler
import graft.state.{SnapshotTable, TableIO}

/** The round-based crawl engine (SURVEY.md §3 "Spark shape", §7 module 8).
  *
  * Reference lifecycle per URL (carrefour_extract_data.py:123-203): fetch
  * en+ar -> extract 34 fields -> append Excel -> mark seen -> retry once on
  * failure; checkpoint after every row. The engine amortizes that into
  * rounds, each ONE Catalyst plan chain + ONE atomic snapshot commit:
  *
  *   pending frontier
  *     -> dedup (first-wins by discovered_seq)          [A1/J4]
  *     -> URL-seen anti-join (sketch + exact)           [J4]
  *     -> robots filter + per-host budget               [O2/O3]
  *     -> deterministic global crawl order              [O1]
  *     -> salted repartition by host                    [skew]
  *     -> join pages (the "fetch"), EN⋈AR pivot         [S4/J1]
  *     -> extraction kernel -> Product projection       [P1-P23]
  *     -> barcode dedup + barcode explode               [A1/G1]
  *     -> sinks: products/seen/frontier/quarantine      [K1-K7]
  *     -> harvest links -> next round's frontier        [S11/J5]
  *
  * Misses (frontier URL with no page) re-enter with attempt+1 and land in
  * quarantine at maxAttempts [O4/O5]. All state lives in SnapshotTables; the
  * checkpoint file commits LAST, so a kill at any point resumes exactly
  * [O6] — verified by CrawlEngineSpec.
  *
  * The URL-seen gate is picked per round: under a re-crawl window the
  * checkpointed pinned cuckoo sketch ([[graft.seen.SketchHandle.gate]]),
  * otherwise [[graft.seen.UrlSeen.antiJoin]] — a broadcast Bloom while it
  * fits Spark's broadcast limit, the executor-built pinned cuckoo sketch
  * above it. The scheduler applies the gate it is handed.
  */
final class CrawlEngine(
    spark: SparkSession,
    stateDir: String,
    runDate: String = "2024-11-10",
    numPartitions: Int = 32,
    saltFactor: Int = 8,
    defaultBudget: Int = 1000,
    maxAttempts: Int = 5,
    merchant: MerchantSpec = MerchantSpec.carrefour,
    /** RE-CRAWL WINDOW (J4b): when Some(w), a URL's seen entry EXPIRES w
      * rounds after the round it was fetched in — if the frontier
      * rediscovers the URL (link harvest or ingest append) at or after
      * expiry, the seen gate admits it again and the URL is re-fetched.
      * Seen rows then carry the round they were committed in
      * (`seen_round`), and the gate is the deletable cuckoo filter read
      * from the CHECKPOINTED `seen_sketch` snapshot and maintained
      * incrementally at each commit ([[graft.seen.SketchHandle.update]]
      * — deletes ∝ the stamps crossing the boundary this round, inserts =
      * the round's fetched hashes; [[graft.seen.SketchHandle.gate]]
      * computes frontier ANTI (seen ∖ expired), still exact end-to-end).
      * Steady-state per-round work is bounded by the window, never the
      * seen history. None (default) = `UrlSeen.antiJoin` (broadcast Bloom or,
      * above the broadcast limit, a per-call pinned sketch), single-column
      * seen table, never re-crawl. */
    recrawlAfterRounds: Option[Int] = None) {

  import spark.implicits._

  val frontierTable = new SnapshotTable(spark, s"$stateDir/frontier")
  /** The SECOND frontier (S8): Spinneys' discounted-products drain runs
    * after the catalog with its OWN resume cursor
    * (spinneys_extract_data.py:557-579 separate progress file, resume filter
    * :743-758 — note the reference's deals save actually writes the catalog
    * log and reprocesses the matched slug inclusively; both are artifacts of
    * slug-cursor resume that snapshot-based resume supersedes: each frontier
    * has an independent checkpointed snapshot id, resume is exact for both,
    * and the shared seen/barcode gates dedup across them). */
  val dealsFrontierTable = new SnapshotTable(spark, s"$stateDir/deals_frontier")
  val seenTable = new SnapshotTable(spark, s"$stateDir/seen")
  val productsTable = new SnapshotTable(spark, s"$stateDir/products")
  val quarantineTable = new SnapshotTable(spark, s"$stateDir/quarantine")
  val scheduleTable = new SnapshotTable(spark, s"$stateDir/schedule")
  val lineageTable = new SnapshotTable(spark, s"$stateDir/lineage")
  /** Run-global processed-barcodes set (seoudi:20 / spinneys:12) for
    * merchants with `barcodeRunGate` — spans rounds AND both frontiers. */
  val barcodeSeenTable = new SnapshotTable(spark, s"$stateDir/barcode_seen")
  /** Checkpointed cuckoo-filter state for the re-crawl window (J4b): one row
    * per bucket, `(__bucket, __filter)`, maintained INCREMENTALLY per round
    * (`SketchHandle.update` — deletes ∝ the stamps crossing the
    * expiry boundary this round, inserts = this round's fetched hashes)
    * instead of rebuilt from the full seen history. The manifest lineage
    * carries the sketch geometry (`sketch:b=..;cap=..;n=..`). */
  val sketchTable = new SnapshotTable(spark, s"$stateDir/seen_sketch")

  private val mapper = new ObjectMapper()
  private val ckptPath = new Path(s"$stateDir/checkpoint.json")
  private lazy val fs: FileSystem = ckptPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  final case class Checkpoint(round: Int, frontier: Int, seen: Int, products: Int,
      quarantine: Int, schedule: Int, lineage: Int, scheduledTotal: Long,
      deals: Int = 0, barcodeSeen: Int = 0, sketch: Int = 0)

  /** Observed (plan-attached) metrics of the most recent round: scheduled,
    * hosts (approx), max_attempt. Populated by the observe() on the
    * scheduled plan — zero extra jobs (A3). */
  @volatile var lastRoundMetrics: Map[String, Any] = Map.empty

  /** Test hook: crash the round after the Nth table commit (simulates a kill
    * between commits; CrawlEngineSpec proves resume exactness through every
    * tear point). -1 = never. */
  @volatile var crashAfterCommit: Int = -1
  private def maybeCrash(n: Int): Unit =
    if (crashAfterCommit == n)
      throw new RuntimeException(s"injected crash after commit $n")

  def readCheckpoint(): Option[Checkpoint] =
    TableIO.readPointer(fs, ckptPath)(in => mapper.readTree(in)).map(n =>
      Checkpoint(n.path("round").asInt(), n.path("frontier").asInt(), n.path("seen").asInt(),
        n.path("products").asInt(), n.path("quarantine").asInt(), n.path("schedule").asInt(),
        n.path("lineage").asInt(), n.path("scheduledTotal").asLong(),
        n.path("deals").asInt(), n.path("barcodeSeen").asInt(), n.path("sketch").asInt()))

  /** Streaming-ingest appends (FrontierStream) must parent from the RESUME-
    * RESOLVED base, not blind CURRENT: an append landing after a torn round
    * commit would otherwise chain onto the orphaned snapshot and be silently
    * lost with it when resume reverts to the checkpointed base (ADVICE r02).
    */
  def ingestFrontierAppend(df: DataFrame): Int = {
    val base = readCheckpoint().map(_.frontier).getOrElse(0)
    frontierTable.append(df, "ingest", frontierTable.resolveBase(base, "ingest"))
  }

  def ingestSeenAppend(df: DataFrame): Int = {
    val ckpt = readCheckpoint()
    val base = ckpt.map(_.seen).getOrElse(0)
    // recrawl mode: hashes ingested without a recency are stamped with the
    // current round, so they live a full window before expiring; the next
    // round folds them into the sketch via the uncovered-delta read
    val stamped =
      if (recrawlAfterRounds.isDefined && !df.columns.contains("seen_round"))
        df.withColumn("seen_round", lit(ckpt.map(_.round).getOrElse(0)))
      else df
    seenTable.append(stamped, "ingest", seenTable.resolveBase(base, "ingest"))
  }

  def ingestDealsAppend(df: DataFrame): Int = {
    val base = readCheckpoint().map(_.deals).getOrElse(0)
    dealsFrontierTable.append(df, "ingest", dealsFrontierTable.resolveBase(base, "ingest"))
  }

  private def writeCheckpoint(c: Checkpoint): Unit = {
    val node = mapper.createObjectNode()
    node.put("round", c.round); node.put("frontier", c.frontier); node.put("seen", c.seen)
    node.put("products", c.products); node.put("quarantine", c.quarantine)
    node.put("schedule", c.schedule); node.put("lineage", c.lineage)
    node.put("scheduledTotal", c.scheduledTotal)
    node.put("deals", c.deals); node.put("barcodeSeen", c.barcodeSeen)
    node.put("sketch", c.sketch)
    TableIO.replacePointer(fs, ckptPath, mapper.writeValueAsBytes(node))
  }

  /** Derive scheduling columns for raw (category, url, is_processed,
    * discovered_seq) seeds (helpers.py:104-117 semantics: the CSV row order
    * IS the crawl priority, so discovered_seq must be supplied by the
    * source — CSV readers provide it as the row index). */
  def enrichSeeds(raw: DataFrame): DataFrame =
    raw
      .withColumn("__cp", graft.plans.UrlCanonPartsExpr.canonParts(col("url")))
      .withColumn("url_norm", col("__cp.url_norm"))
      .withColumn("url_hash", xxhash64(col("url_norm")))
      .withColumn("host", col("__cp.host"))
      .withColumn("depth", col("__cp.depth"))
      .drop("__cp")
      .withColumn("host_rank", lit(0))
      .withColumn("attempt", lit(0))

  /** Initialize state from a frontier Dataset (FrontierEntry columns);
    * optionally a second DEALS frontier with its own independent cursor. */
  def init(frontier: DataFrame, dealsFrontier: Option[DataFrame] = None): Unit = {
    val pending = frontier.filter(!col("is_processed"))
    frontierTable.overwrite(pending)
    // pre-processed rows are already "seen" (reference: is_processed=True
    // rows are never re-fetched, helpers.py:113-114)
    val preSeen0 = frontier.filter(col("is_processed")).select(col("url_hash"))
    val preSeen = if (recrawlAfterRounds.isDefined)
      preSeen0.withColumn("seen_round", lit(0)) else preSeen0
    seenTable.overwrite(preSeen)
    val dealsId = dealsFrontier.map(d =>
      dealsFrontierTable.overwrite(d.filter(!col("is_processed")))).getOrElse(0)
    writeCheckpoint(Checkpoint(0,
      frontierTable.currentSnapshot.map(_.id).getOrElse(0),
      seenTable.currentSnapshot.map(_.id).getOrElse(0), 0, 0, 0, 0, 0L,
      deals = dealsId))
  }

  private def emptyFrontierLike(df: DataFrame): DataFrame = df.limit(0)

  /** Per-round view of the re-crawl gate: the checkpointed filters (with any
    * uncovered seen appends folded in), the window-bounded exact membership
    * and delete set, the sketch geometry (buckets/capacity fixed at build;
    * `inserted` drives the rebuild trigger), and whether THIS round rebuilt —
    * a rebuild's source (exactSeen) is disjoint from newlyExpired, so the
    * commit must skip the boundary deletes that round (deleting a
    * never-inserted key could evict a colliding live fingerprint). */
  private case class RecrawlState(handle: graft.seen.SketchHandle, exactSeen: DataFrame,
      newlyExpired: DataFrame, buckets: Int, capacity: Long, inserted: Long,
      rebuilt: Boolean)

  /** Executor-PINNED sketch filters keyed by the sketch snapshot id (VERDICT
    * r05 #1): as long as rounds advance through commits in this engine
    * instance, the ∝|seen| filter binaries are exchanged ONCE (at pin/rebuild)
    * and then neither re-read from parquet nor re-shuffled — the gate and the
    * incremental update zip-co-locate against the pinned RDD
    * ([[graft.seen.SketchHandle]]). A resume in a fresh process (or after a
    * torn round whose sketch commit didn't reach the checkpoint) misses the
    * cache and re-pins from the checkpointed parquet — cold but exact. */
  @volatile private var sketchCache: Option[(Int, graft.seen.SketchHandle)] = None

  private val SketchMeta = """sketch:b=(\d+);cap=(\d+);n=(\d+);seen=(\d+)""".r
  /** The sketch snapshot the checkpoint points at, with its geometry and the
    * seen snapshot it COVERS parsed from the manifest lineage; None when
    * absent or unparseable (→ rebuild). */
  private def sketchMetaAt(id: Int): Option[(DataFrame, Int, Long, Long, Int)] =
    sketchTable.snapshotAt(id).flatMap(s => s.lineageJson match {
      case SketchMeta(b, cap, n, covered) =>
        sketchTable.readAt(id).map(df => (df, b.toInt, cap.toLong, n.toLong, covered.toInt))
      case _ => None
    })

  /** Run one round against the pages table; `deals = true` drains the
    * second frontier (own snapshot cursor, shared seen/product/barcode
    * state). Returns #URLs scheduled. */
  def runRound(pages: DataFrame, robots: DataFrame, budgets: DataFrame,
      deals: Boolean = false): Long = {
    val ckpt = readCheckpoint().getOrElse(Checkpoint(0, 0, 0, 0, 0, 0, 0, 0L))
    val round = ckpt.round + 1
    val activeFrontier = if (deals) dealsFrontierTable else frontierTable
    val activeCursor = if (deals) ckpt.deals else ckpt.frontier

    // streaming-ingest appends on top of the checkpointed snapshot are
    // legitimate frontier content; a torn round commit is not (see
    // SnapshotTable.resolveBase) — reads AND this round's appends both
    // anchor on the resolved base so a kill between table commits leaves
    // the torn snapshot orphaned instead of chained (O6 exactness)
    val frontierBase = activeFrontier.resolveBase(activeCursor, "ingest")
    val seenBase = seenTable.resolveBase(ckpt.seen, "ingest")
    val pendingOpt = activeFrontier.readAt(frontierBase)
    val pending = pendingOpt.getOrElse(return 0L)
    if (pending.isEmpty) return 0L

    val frontierCols = pending.columns.map(col).toSeq

    // A1/J4/O1-O3 as ONE narrow-shuffle round: robots (shuffle-free fold on
    // wide rows), then dedup -> sketch+exact seen gate -> budgets -> global
    // order over the narrow (url_hash, host, depth, host_rank,
    // discovered_seq, attempt) projection; url/category strings rejoin once
    // at the end. Sketch sizing reads the seen cardinality from the snapshot
    // MANIFEST (rowCount maintained at every commit) — no count scan.
    // per-round cache scope: every frame the round persists (here and down
    // the scheduler/politeness/seen call chain) is released at the commit
    // barrier — NOT spark.catalog.clearCache(), which would evict unrelated
    // caches in a shared session (VERDICT r02)
    val scope = new graft.util.CacheScope
    // sketch generations pinned DURING this round (fold intermediates, a
    // rebuild pin, the commit's updated generation): released in the finally
    // below unless promoted to the cross-round sketchCache — without this,
    // idle rounds with uncovered seen deltas and torn rounds would each
    // leak one persisted ~|sketch|-sized RDD until driver GC
    val roundHandles = scala.collection.mutable.ListBuffer.empty[graft.seen.SketchHandle]
    try {
    val seenRaw = seenTable.readAt(seenBase).getOrElse {
      val e = Seq.empty[Long].toDF("url_hash")
      if (recrawlAfterRounds.isDefined) e.withColumn("seen_round", lit(0)) else e
    }
    val seen = seenRaw.select(col("url_hash"))
    val seenCount = seenTable.snapshotAt(seenBase).map(_.rowCount).getOrElse(0L)
    // J4b re-crawl window over the CHECKPOINTED cuckoo sketch. A hash is
    // EXPIRED iff its every seen_round is at or below (round - w); a
    // re-fetch re-stamps it with the later round, renewing the window. The
    // steady state never scans the full seen table:
    //  - exactSeen (the gate's verify side) = hashes with ANY stamp newer
    //    than the boundary — set-equal to "max stamp > boundary" without a
    //    groupBy, and each seen append dir holds one constant seen_round, so
    //    parquet min/max pruning reads only the last w rounds' dirs;
    //  - newlyExpired (this round's in-place deletes) = the rows stamped
    //    exactly AT the boundary, anti recent. Row-preserving: one delete
    //    per insert of that boundary round, so the multiset delete-safety
    //    invariant holds (deletes-per-hash never exceed inserts-per-hash,
    //    and the copy from a hash's LATEST stamp is only consumed by the
    //    episode at stamp+w — after which the stamp is no longer recent —
    //    so no-false-negative vs exactSeen holds unconditionally);
    //  - the filters come from the seen_sketch snapshot the checkpoint
    //    points at and are maintained incrementally at commit time
    //    (SketchHandle.update); a rebuild — from the recent window
    //    only, never the full history — happens when the sketch is absent
    //    or its cumulative inserts outgrew capacity (stale copies from
    //    skipped/duplicate stamps are shed there; they only ever cost
    //    verify-join work, never exactness).
    val recrawl: Option[RecrawlState] = recrawlAfterRounds.map { w =>
      require(seenRaw.columns.contains("seen_round"),
        "recrawlAfterRounds requires seen_round stamps — enable the window " +
          "from init(), not on a legacy single-column seen table")
      val boundary = round - w
      val exactSeen = seenRaw.filter(col("seen_round") > boundary).select(col("url_hash"))
      val newlyExpired = seenRaw.filter(col("seen_round") === boundary)
        .select(col("url_hash"))
        .join(exactSeen, Seq("url_hash"), "left_anti")
      val (handle, b, cap, inserted, rebuilt) = sketchMetaAt(ckpt.sketch) match {
        case Some((df, b0, cap0, n0, covered)) if n0 <= b0 * cap0 =>
          // reuse the executor-pinned filters when this engine committed the
          // checkpointed sketch itself — zero parquet re-read, zero sketch
          // re-shuffle; a cache miss (fresh process / torn round) re-pins
          // once from the checkpointed parquet
          val pinned = sketchCache match {
            case Some((id, h)) if id == ckpt.sketch => h
            case stale =>
              stale.foreach(_._2.unpersist())
              val h = graft.seen.SketchHandle.pin(df, b0, cap0)
              sketchCache = Some((ckpt.sketch, h))
              h
          }
          // fold in any seen appends the checkpointed sketch has not covered
          // (streaming-ingest stamps; rounds whose update was skipped) —
          // work ∝ the delta dirs straight off the manifest diff. This keeps
          // the sketch a SUPERSET of exactSeen for every source of seen rows
          // (without it, ingested pre-seen hashes are sketch-negative and
          // bypass the exact verify join) and makes every future boundary
          // delete provably inserted.
          val deltaRows = seenCount -
            seenTable.snapshotAt(covered).map(_.rowCount).getOrElse(0L)
          val folded = seenTable.readDelta(covered, seenBase) match {
            case Some(delta) =>
              val f = graft.seen.SketchHandle.update(
                pinned, "url_hash", deletes = None,
                inserts = Some(delta.select(col("url_hash"))))
              roundHandles += f
              f
            case None => pinned
          }
          (folded, b0, cap0, n0 + math.max(deltaRows, 0L), false)
        case _ => // absent or outgrown: rebuild from the recent window only.
          // 2x headroom over the seen rowCount (itself an over-approximation
          // of live membership) keeps rebuilds amortized — cumulative
          // inserts must double the history before the trigger re-fires; a
          // production deployment would size from the recent-window manifest
          // deltas instead to keep sketch bytes ∝ live set
          val expect = math.max(2 * seenCount, 1024L)
          val b0 = graft.seen.UrlSeen.bucketCount(expect)
          val cap0 = math.max(expect / b0, 1L)
          val built = graft.seen.SketchHandle.pin(
            graft.seen.UrlSeen.buildCuckooFilters(exactSeen, "url_hash", expect, b0),
            b0, cap0)
          roundHandles += built
          (built, b0, cap0, seenCount, true) // rowCount over-approximates the build's inserts
      }
      RecrawlState(handle, exactSeen, newlyExpired, b, cap, inserted, rebuilt)
    }
    val gate: DataFrame => DataFrame = recrawl match {
      case Some(st) => graft.seen.SketchHandle.gate(_, st.handle, st.exactSeen, "url_hash", scope)
      case None => graft.seen.UrlSeen.antiJoin(_, seen, "url_hash", seenCount, scope = scope)
    }
    val (scheduled0, deferred) = Scheduler.scheduleRoundNarrow(
      pending, robots, budgets, gate, defaultBudget, numPartitions, scope = scope)
    // A3: plan-attached observe metrics — the scheduled count and per-round
    // host stats ride the materializing action for free (the reference's
    // count barriers, spinneys_extract_data.py:216-238, re-expressed as
    // observed metrics instead of extra aggregation jobs)
    val roundObs = org.apache.spark.sql.Observation(s"round_$round")
    val scheduled = scope.track(Scheduler.saltedByHost(scheduled0, numPartitions, saltFactor)
      .observe(roundObs,
        count(lit(1)).as("scheduled"),
        approx_count_distinct(col("host")).as("hosts"),
        max(col("attempt")).as("max_attempt"))
      .persist())
    scheduled.count() // materialize once; all metrics land in roundObs
    val scheduledCount = roundObs.get("scheduled").asInstanceOf[Long]
    lastRoundMetrics = roundObs.get

    // S4/J1: "fetch" = join pages on the merchant's language-normalized
    // canonical key; extraction runs ONLY on joined (scheduled) pages.
    // persisted: both the products path (pivot) and the link harvest
    // (newEntries) read the extracted fields — without this the kernel UDF
    // would run twice per page per round.
    val pagesKeyed = pages.withColumn("url_key", merchant.pageKey(col("url")))
    val joined = scheduled
      .select(col("url_norm"), col("url").as("frontier_url"), col("category"),
        col("crawl_order"), col("attempt"), col("host"))
      .join(pagesKeyed, col("url_key") === col("url_norm"), "inner")
    val withFields = scope.track(merchant.pageFields(joined).persist())
    // persisted: products + extraction-failure keys both read the pivot
    val pivoted = scope.track(Extractors.pivotLangs(withFields, "url_norm")
      .join(scheduled.select(col("url_norm"), col("crawl_order"), col("category")), Seq("url_norm"))
      .withColumn("url_en", coalesce(col("url_en"), col("url_norm")))
      .withColumn("__extract_failed", merchant.extractionFailed)
      .persist())

    // The reference's except-path (e.g. Metro NameError when the ld+json
    // island is missing, metro:176-182): the URL yields no product, is NOT
    // marked seen, and re-enters the retry loop like a fetch miss.
    val failedKeys = pivoted.filter(col("__extract_failed")).select(col("url_norm"))

    // P*: Product projection; A1: first-wins barcode dedup by crawl order
    // (merchants with hard-coded '' barcodes skip it); G1: barcode explode
    val productsOrdered = merchant.project(
      pivoted.filter(!col("__extract_failed")), runDate, Seq("crawl_order"))
    val dedupedProducts =
      if (merchant.dedupByBarcode) {
        val barcodeW = Window.partitionBy(col("barcode")).orderBy(col("crawl_order"))
        productsOrdered
          .withColumn("__rn", row_number().over(barcodeW)).filter(col("__rn") === 1)
          .drop("__rn", "crawl_order")
      } else productsOrdered.drop("crawl_order")
    // run-global processed_barcodes gate (seoudi:359 / spinneys:510): a
    // barcode already sunk in ANY earlier round/frontier never sinks again
    val barcodeBase = barcodeSeenTable.resolveBase(ckpt.barcodeSeen, "ingest")
    // broadcast anti-join: a merchant catalog is bounded (~10^6 barcodes,
    // the in-memory set the reference holds), unlike the URL frontier —
    // if a merchant ever outgrew broadcast scale this becomes
    // UrlSeen.antiJoin over xxhash64(barcode)
    val gatedProducts = scope.track((
      if (merchant.barcodeRunGate) {
        val seenBarcodes = barcodeSeenTable.readAt(barcodeBase)
          .getOrElse(Seq.empty[String].toDF("barcode"))
        dedupedProducts.join(broadcast(seenBarcodes), Seq("barcode"), "left_anti")
          // the USING join hoists the key column first — restore sink order
          .select(dedupedProducts.columns.map(col).toSeq: _*)
      } else dedupedProducts).persist()) // sink rows + new-barcode set read it
    val products = merchant.sinkRows(gatedProducts)

    // O4/O5: misses (no page) and extraction failures -> retry or
    // quarantine. Only SUCCESSFUL extractions become "seen" (reference:
    // failures stay is_processed=False and re-enter,
    // carrefour_extract_data.py:198-203).
    val pageKeys = pagesKeyed.select(col("url_key")).distinct()
    val missed = scheduled.join(pageKeys, col("url_key") === col("url_norm"), "left_anti")
      .unionByName(scheduled.join(failedKeys, Seq("url_norm"), "left_semi"))
    val fetchedHashes = scheduled
      .join(pageKeys, col("url_key") === col("url_norm"), "left_semi")
      .join(failedKeys, Seq("url_norm"), "left_anti")
      .select(col("url_hash"))
    val retry = missed.filter(col("attempt") + 1 < maxAttempts)
      .withColumn("attempt", col("attempt") + 1)
      .select(frontierCols: _*)
    val quarantined = missed.filter(col("attempt") + 1 >= maxAttempts)
      .withColumn("attempt", col("attempt") + 1)
      .select(frontierCols: _*)

    // S11/J5/P14: harvest links from fetched EN pages -> next-generation
    // frontier entries; host_rank = round so later generations sort after
    // earlier ones (BFS frontier expansion). The merchant supplies the
    // keep-filter (F5, e.g. Oscar's `show_product`) and an optional base for
    // relative hrefs (oscar:33-36). discovered_seq is collision-free by
    // construction: link_idx < LinkSeqMultiplier (guarded), crawl_order *
    // multiplier stays under the round base — two pages can never mint the
    // same (url_hash, discovered_seq), so the narrow rejoin key is unique
    // (ADVICE r02). GraphQL merchants have no link field — no harvest.
    val hasLinks = withFields.schema("fields").dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames.contains("links")
      case _ => false
    }
    val newEntries = if (!hasLinks) emptyFrontierLike(pending) else {
      val raw = withFields
        .filter(col("lang") === "en")
        .select(col("category"), col("crawl_order"),
          posexplode(col("fields.links")).as(Seq("link_idx", "href")))
      val resolved = merchant.absolutizeBase
        .map(b => raw.withColumn("href", graft.url.UrlCanon.absolutize(col("href"), b)))
        .getOrElse(raw)
      resolved
        .filter(merchant.harvestFilter(col("href")) &&
          col("link_idx") < CrawlEngine.LinkSeqMultiplier)
        .withColumn("url", col("href"))
        .withColumn("__cp", graft.plans.UrlCanonPartsExpr.canonParts(col("url")))
        .withColumn("url_norm", col("__cp.url_norm"))
        .withColumn("url_hash", xxhash64(col("url_norm")))
        .withColumn("host", col("__cp.host"))
        .withColumn("depth", col("__cp.depth"))
        .drop("__cp")
        .withColumn("host_rank", lit(round))
        .withColumn("is_processed", lit(false))
        .withColumn("discovered_seq",
          col("crawl_order") * CrawlEngine.LinkSeqMultiplier + col("link_idx") +
            lit(round.toLong * CrawlEngine.RoundSeqBase))
        .withColumn("attempt", lit(0))
        .select(frontierCols: _*)
    }

    // next frontier = deferred ∪ retries ∪ new links (minus just-fetched)
    val nextFrontier = deferred.select(frontierCols: _*)
      .unionByName(retry)
      .unionByName(newEntries.join(fetchedHashes, Seq("url_hash"), "left_anti").select(frontierCols: _*))

    // per-partition lineage/metrics for this round
    val lineage = scheduled
      .groupBy(pmod(col("url_hash"), lit(numPartitions)).cast("int").as("partition_id"))
      .agg(countDistinct(col("host")).as("host_count"), count(lit(1)).as("url_count"),
        min(col("url_hash")).as("min_url_hash"), max(col("url_hash")).as("max_url_hash"))
      .withColumn("round", lit(round))
      .select(col("round"), col("partition_id"), col("host_count"), col("url_count"),
        col("min_url_hash"), col("max_url_hash"))

    // --- commit: tables first, checkpoint last (atomic resume point).
    // Every append parents from the CHECKPOINTED snapshot (via resolveBase),
    // so a kill between any two commits leaves the partial round orphaned —
    // the resumed round re-appends onto the same base with zero duplication.
    val fTid = activeFrontier.overwrite(nextFrontier, s"round:$round")
    maybeCrash(1)
    val seenAppendDf = if (recrawlAfterRounds.isDefined)
      fetchedHashes.withColumn("seen_round", lit(round)) else fetchedHashes
    val sTid = seenTable.append(seenAppendDf, s"round:$round", seenBase)
    maybeCrash(2)
    // incremental sketch maintenance: delete the stamps that crossed the
    // expiry boundary this round, insert this round's fetched hashes — work
    // ∝ the window, never a rescan of the seen history. A REBUILD round is
    // always persisted (else every idle round would redo the build) but
    // skips the boundary deletes: the rebuild's source (exactSeen) is
    // disjoint from newlyExpired, so those keys were never inserted and
    // deleting them could evict a colliding live fingerprint (the cuckoo
    // delete-only-inserted contract). A non-rebuild idle round skips the
    // write entirely: its deferred deletes linger as stale copies, which
    // cost verify-join candidates only and are shed at the next rebuild —
    // exactness never depends on the sketch being tight, only on it being a
    // superset of exactSeen (the uncovered-delta fold at round start).
    val skTid = recrawl match {
      case Some(st) if st.rebuilt || scheduledCount > 0 =>
        val updated = graft.seen.SketchHandle.update(
          st.handle, "url_hash",
          deletes = if (st.rebuilt) None else Some(st.newlyExpired),
          inserts = Some(fetchedHashes))
        roundHandles += updated
        val t = sketchTable.overwrite(
          graft.seen.SketchHandle.toDf(spark, updated),
          s"sketch:b=${st.buckets};cap=${st.capacity};" +
            s"n=${st.inserted + scheduledCount};seen=$sTid")
        // promote the just-committed generation to the pinned cache and
        // release superseded generations (the previous cache entry; the
        // round-local intermediates go with roundHandles in the finally)
        sketchCache.filter(_._2 ne updated).foreach(_._2.unpersist())
        sketchCache = Some((t, updated))
        maybeCrash(8)
        t
      case _ => ckpt.sketch
    }
    val pTid = productsTable.append(products, s"round:$round",
      productsTable.resolveBase(ckpt.products, "ingest"))
    maybeCrash(3)
    val qTid = quarantineTable.append(quarantined, s"round:$round",
      quarantineTable.resolveBase(ckpt.quarantine, "ingest"))
    maybeCrash(4)
    val schedTid = scheduleTable.append(
      scheduled.select(col("crawl_order"), lit(round).as("round"), col("host"),
        col("url_norm"), col("url"), col("category"), col("attempt"),
        lit(if (deals) "deals" else "catalog").as("frontier")),
      s"round:$round", scheduleTable.resolveBase(ckpt.schedule, "ingest"))
    maybeCrash(5)
    val lTid = lineageTable.append(lineage, s"round:$round",
      lineageTable.resolveBase(ckpt.lineage, "ingest"))
    maybeCrash(6)
    val bTid =
      if (merchant.barcodeRunGate) {
        val t = barcodeSeenTable.append(gatedProducts.select(col("barcode")).distinct(),
          s"round:$round", barcodeBase)
        maybeCrash(7)
        t
      } else ckpt.barcodeSeen
    writeCheckpoint(Checkpoint(round,
      if (deals) ckpt.frontier else fTid,
      sTid, pTid, qTid, schedTid, lTid,
      ckpt.scheduledTotal + scheduledCount,
      deals = if (deals) fTid else ckpt.deals,
      barcodeSeen = bTid, sketch = skTid))
    scheduledCount
    // release exactly the frames THIS round persisted (engine + scheduler +
    // politeness + seen-gate call chain) — never the whole session cache —
    // on success AND on a torn round (a long-lived driver retries rounds).
    // Round-local sketch generations go too, except the one promoted to the
    // cross-round cache at commit.
    } finally {
      scope.unpersistAll()
      roundHandles.filterNot(h => sketchCache.exists(_._2 eq h)).foreach(_.unpersist())
    }
  }

  /** Drain a frontier to exhaustion (or maxRounds). Returns total URLs
    * scheduled. */
  private def drain(pages: DataFrame, robots: DataFrame, budgets: DataFrame,
      maxRounds: Int, deals: Boolean): Long = {
    var total = 0L
    var rounds = 0
    var last = -1L
    while (last != 0L && rounds < maxRounds) {
      last = runRound(pages, robots, budgets, deals)
      total += last
      rounds += 1
    }
    total
  }

  /** Drain the catalog frontier, then the deals frontier (the reference's
    * run order: extract_all_spinneys_product_data then
    * extract_discounted_products, spinneys:778-788). Returns total URLs
    * scheduled across the run. */
  def run(pages: DataFrame, robots: DataFrame, budgets: DataFrame, maxRounds: Int = 100): Long = {
    var total = drain(pages, robots, budgets, maxRounds, deals = false)
    if (!dealsFrontierTable.isEmpty)
      total += drain(pages, robots, budgets, maxRounds, deals = true)
    total
  }
}

object CrawlEngine {
  /** discovered_seq minting for harvested links: seq = crawl_order * this +
    * link_idx + round * RoundSeqBase. link_idx is guarded < this, and
    * crawl_order * this stays far below RoundSeqBase, so the composite is
    * collision-free (the narrow-schedule rejoin keys on it). */
  val LinkSeqMultiplier: Long = 1000000L
  /** Room for 10^9 crawl_orders per round and 9000+ rounds under Long.Max. */
  val RoundSeqBase: Long = 1000000000000000L
}
