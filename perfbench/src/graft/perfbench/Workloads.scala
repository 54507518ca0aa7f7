package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.app.{CrawlEngine, MerchantSpec}
import graft.gen.Synthetic

/** One ingest + runRound: wall times in seconds, epoch-ms window. */
final case class RoundRec(round: Int, scheduled: Long, roundS: Double, ingestS: Double,
    startMs: Long, endMs: Long)

/** A crawl's state dir and the engine instance currently driving it. */
final class Crawl(val dir: String, var engine: CrawlEngine) {
  def round: Int = engine.readCheckpoint().map(_.round).getOrElse(0)
}

/** A workload: its seeded inputs, engine configuration, the per-round
  * driving (ingest + runRound), and the checks its outputs must pass.
  * `work` holds the crawl state dirs; `root` is the benchmark's work dir,
  * with the input cache (`inputs/`) and the recorded digests (`digests/`).
  * Only with `mayGenerate` are missing inputs generated; a measuring run
  * expects them prepared by an earlier process. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
    root: String, mayGenerate: Boolean) {
  import spark.implicits._

  def name: String
  /** Input size, part of the cache key. */
  def size: String
  /** Engine partitions: one per core of local[4]. */
  val partitions = 4
  val saltFactor = 8
  val maxAttempts = 2
  def merchant: MerchantSpec
  def window: Option[Int] = None
  val defaultBudget: Int = Int.MaxValue / 2
  /** Per-host budgets that differ from `defaultBudget`. */
  def hostBudgets: Map[String, Int] = Map.empty
  def budgetOf(host: String): Int = hostBudgets.getOrElse(host, defaultBudget)

  lazy val robots: DataFrame = Synthetic.robots(spark).toDF()
  lazy val budgets: DataFrame = hostBudgets.toSeq.toDF("host", "per_round")

  /** The input cache dir of `key`, generated by `gen` when missing. */
  protected def cachedInputs(workload: String, key: String)(gen: String => Unit): String =
    Inputs.cached(s"$root/inputs", workload, key) { dir =>
      require(mayGenerate, s"inputs $workload-$key are not prepared")
      gen(dir)
    }
  lazy val inputs: String = cachedInputs(name, s"s$seed-$size")(generate)
  protected def generate(dir: String): Unit
  /** Generates (or finds cached) every input of the run. */
  def prepare(): Unit = inputs

  def newEngine(dir: String): CrawlEngine = new CrawlEngine(spark, dir,
    numPartitions = partitions, saltFactor = saltFactor, defaultBudget = defaultBudget,
    maxAttempts = maxAttempts, merchant = merchant, recrawlAfterRounds = window)

  /** init plus pre-seeded ingest on a fresh state dir. */
  def init(e: CrawlEngine): Unit
  /** Raw frontier rows ingested before round r (none by default). */
  def ingestRows(r: Int): Option[DataFrame] = None
  def ingest(e: CrawlEngine, r: Int): Unit =
    ingestRows(r).foreach(raw => e.ingestFrontierAppend(e.enrichSeeds(raw)))
  /** Whether inputs for round r exist. */
  def hasRound(r: Int): Boolean = true
  def pagesFor(r: Int): DataFrame

  def newCrawl(tag: String): Crawl = {
    val dir = new File(work, tag).getPath
    Inputs.deleteTree(new File(dir))
    val c = new Crawl(dir, newEngine(dir))
    init(c.engine)
    c
  }

  /** The crawl's next round: its ingest (unless already done) and
    * runRound, timed. */
  def step(c: Crawl, withIngest: Boolean = true): RoundRec = {
    val r = c.round + 1
    val pages = pagesFor(r)
    val t0 = System.nanoTime()
    if (withIngest) ingest(c.engine, r)
    val t1 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    val n = c.engine.runRound(pages, robots, budgets)
    val t2 = System.nanoTime()
    RoundRec(r, n, (t2 - t1) / 1e9, (t1 - t0) / 1e9, ms0, System.currentTimeMillis())
  }

  /** Checks only this workload makes. */
  def extraChecks(c: Crawl, rows: Seq[Sched]): Seq[(String, Option[String])] = Nil
  /** Expected (name_en, name_ar) of a product id. */
  def expectedNames(id: Long): (String, String)

  /** Per-round digests of the schedule and products equal those recorded
    * by earlier crawls over the same inputs; new rounds' digests are
    * recorded. The store is keyed by (workload, seed, size, generator
    * version) and outlives the input cache. Not attempted (None) when no
    * earlier crawl recorded any of the same rounds. */
  def digestCheck(c: Crawl): Option[(String, Option[String])] = {
    val digests = Collect.digests(c.engine)
    val store = new File(s"$root/digests", s"$name-s$seed-$size-v${Inputs.Version}")
    val stored: Map[String, String] =
      if (!store.isFile) Map.empty
      else new String(Files.readAllBytes(store.toPath), UTF_8).linesIterator
        .map(_.split(" ", 2)).collect { case Array(k, v) => k -> v }.toMap
    val same = Checks.sameDigests(stored, digests)
    if (same.isEmpty && !digests.keySet.subsetOf(stored.keySet)) {
      store.getParentFile.mkdirs()
      Files.write(store.toPath, (stored ++ digests).toSeq.sorted
        .map { case (k, v) => s"$k $v\n" }.mkString.getBytes(UTF_8))
    }
    if (digests.keySet.exists(stored.contains)) Some("digests_repeat" -> same) else None
  }

  /** Every output check over the crawl's committed tables. */
  def check(c: Crawl): Seq[(String, Option[String])] = {
    val rows = Collect.scheduled(c.engine)
    digestCheck(c).toSeq ++ Seq(
      "order_contiguous" -> Checks.contiguous(rows),
      "order_priority" -> Checks.priorityOrder(rows),
      "no_double_schedule" -> Checks.noRepeats(rows, window),
      "host_budget" -> Checks.budgets(rows, budgetOf),
      "names_exact" -> Checks.names(Collect.productNames(c.engine), expectedNames)
    ) ++ extraChecks(c, rows)
  }
}

/** Carrefour with no re-crawl window and a seen table pre-loaded with
  * millions of hashes (broadcast-Bloom path): each round ingests a fresh
  * batch, half of it already seen; pages exist only for the new half. The
  * top host (about half of the URLs) has a per-round budget below its
  * share, so each round defers some of its URLs to the next. */
final class GateHeavy(spark: SparkSession, seed: Long, work: String, root: String,
    mayGenerate: Boolean) extends Workload(spark, seed, work, root, mayGenerate) {
  val name = "gate_heavy"
  val seenRows = 2000000L
  val batch = 10000L
  /** Rounds one run can reach: warm-up, loop, resume, replay. */
  val batches = 8
  def size = s"s$seenRows-b$batch"
  /** Harvest off: rounds measure the gate, not miss-retry traffic. */
  def merchant: MerchantSpec = MerchantSpec.carrefour.copy(harvestFilter = _ => lit(false))

  /** shop0's budget: 90% of the ~batch/4 new URLs it gets per round. */
  override def hostBudgets: Map[String, Int] = Map("shop0.example.com" -> (batch * 9 / 40).toInt)

  protected def generate(dir: String): Unit = {
    Inputs.gateBatches(spark, seed, batch, batches).write.partitionBy("batch")
      .parquet(s"$dir/batches")
    val rows = spark.read.parquet(s"$dir/batches")
    rows.filter(col("pre_seen"))
      .select(xxhash64(graft.plans.UrlCanonExpr.canon(col("url"))).as("url_hash"))
      .write.parquet(s"$dir/pre_seen")
    Inputs.htmlPages(spark, rows.filter(!col("pre_seen"))
      .select(col("discovered_seq").as("id"), col("batch")))
      .write.partitionBy("batch").parquet(s"$dir/pages")
  }
  /** Random hashes filling seen up to `seenRows`; the same for every seed. */
  lazy val filler: String = {
    val n = seenRows - batch * batches / 2
    cachedInputs("gate_filler", s"n$n") { dir =>
      Inputs.fillerHashes(spark, n).write.parquet(s"$dir/hashes")
    } + "/hashes"
  }
  def preSeen: DataFrame = spark.read.parquet(s"$inputs/pre_seen", filler)
  override def prepare(): Unit = { inputs; filler }
  def batchRows(r: Int): DataFrame = spark.read.parquet(s"$inputs/batches")
    .filter(col("batch") === r - 1)
    .select(col("category"), col("url"), col("is_processed"), col("discovered_seq"))
  def init(e: CrawlEngine): Unit = {
    e.init(e.enrichSeeds(batchRows(1)))
    e.ingestSeenAppend(preSeen)
  }
  override def ingestRows(r: Int): Option[DataFrame] = if (r > 1) Some(batchRows(r)) else None
  override def hasRound(r: Int): Boolean = r <= batches
  /** Pages of every batch ingested so far: deferred URLs are fetched later. */
  def pagesFor(r: Int): DataFrame =
    spark.read.parquet(s"$inputs/pages").filter(col("batch") < r).drop("batch")
  def expectedNames(id: Long): (String, String) =
    (Synthetic.expectedText(id, "en"), Synthetic.expectedText(id, "ar"))

  override def extraChecks(c: Crawl, rows: Seq[Sched]): Seq[(String, Option[String])] = {
    val hits = c.engine.scheduleTable.read().get
      .select(xxhash64(col("url_norm")).as("url_hash"))
      .join(preSeen, Seq("url_hash"), "left_semi").count()
    Seq("no_pre_seen_scheduled" -> Checks.noneScheduled(hits))
  }
}

/** Spinneys GraphQL under a 3-round re-crawl window: three batches rotate.
  * Seen is pre-loaded as if batches 0, 1, 2 were fetched in rounds -2, -1,
  * 0, so from the first round on each round re-admits exactly the batch
  * whose stamps expired (and deletes them from the sketch) while seen grows
  * by one batch per round. */
final class RecrawlWindow(spark: SparkSession, seed: Long, work: String, root: String,
    mayGenerate: Boolean) extends Workload(spark, seed, work, root, mayGenerate) {
  import spark.implicits._
  val name = "recrawl_window"
  val batch = 10000L
  def size = s"b$batch"
  override def window: Option[Int] = Some(3)
  lazy val merchant: MerchantSpec = MerchantSpec.spinneys(
    graft.extract.GraphQLExtract.spinneysBrandDim(
      Seq(("Brand 0", "https://img.example.com/b0.png", 0L)).toDF("name", "image_url", "fetch_seq")))
  override lazy val robots: DataFrame =
    Seq.empty[(String, String, Boolean, Int)].toDF("host", "path_prefix", "allow", "crawl_delay_ms")

  protected def generate(dir: String): Unit = {
    Inputs.recrawlBatches(spark, seed, batch).write.parquet(s"$dir/batches")
    spark.read.parquet(s"$dir/batches").select(
      xxhash64(graft.plans.UrlCanonExpr.canon(col("url"))).as("url_hash"),
      (col("batch") - 2).as("seen_round")).write.parquet(s"$dir/pre_seen")
    Inputs.recrawlPages(spark, spark.read.parquet(s"$dir/batches"))
      .write.partitionBy("batch").parquet(s"$dir/pages")
  }
  /** The documents of the batch round r crawls. */
  def pagesFor(r: Int): DataFrame =
    spark.read.parquet(s"$inputs/pages").filter(col("batch") === (r - 1) % 3).drop("batch")
  def batchRows(r: Int): DataFrame = spark.read.parquet(s"$inputs/batches")
    .filter(col("batch") === (r - 1) % 3)
    .select(col("category"), col("url"), col("is_processed"), col("discovered_seq"))
  def init(e: CrawlEngine): Unit = {
    e.init(e.enrichSeeds(batchRows(1)))
    e.ingestSeenAppend(spark.read.parquet(s"$inputs/pre_seen"))
  }
  override def ingestRows(r: Int): Option[DataFrame] = if (r > 1) Some(batchRows(r)) else None
  def expectedNames(id: Long): (String, String) = (Synthetic.nameEn(id), Synthetic.nameAr(id))

  override def extraChecks(c: Crawl, rows: Seq[Sched]): Seq[(String, Option[String])] =
    Seq("batch_per_round" -> Checks.exactPerRound(
      rows.groupBy(_.round).map { case (r, rs) => (r, rs.size.toLong) }.toSeq, 1, batch))
}

object Workload {
  val names: Seq[String] = Seq("gate_heavy", "recrawl_window")

  def apply(name: String, spark: SparkSession, seed: Long, work: String, root: String,
      mayGenerate: Boolean): Workload =
    name match {
      case "gate_heavy" => new GateHeavy(spark, seed, work, root, mayGenerate)
      case "recrawl_window" => new RecrawlWindow(spark, seed, work, root, mayGenerate)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; expected one of ${names.mkString(", ")}")
    }
}

/** Reads a crawl's committed tables back for the checks. */
object Collect {

  /** Every scheduled row, keyed with the priority key of the pending
    * frontier row it was scheduled from (first-wins by discovered_seq). */
  def scheduled(e: CrawlEngine): Seq[Sched] = {
    val spark = e.frontierTable.read().get.sparkSession
    val cur = e.frontierTable.currentSnapshot.map(_.id).getOrElse(0)
    // a round overwrites the frontier it read: the snapshot just below its
    // "round:r" commit is the pending frontier round r scheduled from
    val keys = (1 to cur).flatMap(id => e.frontierTable.snapshotAt(id)
      .filter(_.lineageJson.startsWith("round:"))
      .map(s => (s.lineageJson.stripPrefix("round:").toInt, s.id - 1)))
      .map { case (r, pending) =>
        e.frontierTable.readAt(pending).get
          .groupBy(col("url_hash"))
          .agg(min(struct(col("discovered_seq"), col("host_rank"), col("depth"))).as("k"))
          .select(lit(r).as("round"), col("url_hash"), col("k.discovered_seq"),
            col("k.host_rank"), col("k.depth"))
      }
    val sched = e.scheduleTable.read().map(_.select(col("round"), col("crawl_order"),
      xxhash64(col("url_norm")).as("url_hash"), col("host"), col("attempt")))
    (sched, keys.reduceOption(_ unionByName _)) match {
      case (Some(s), Some(k)) =>
        s.join(k, Seq("round", "url_hash"), "left").collect().toSeq.map { r =>
          Sched(r.getAs[Int]("round"), r.getAs[Long]("crawl_order"), r.getAs[Long]("url_hash"),
            r.getAs[String]("host"), r.getAs[Int]("attempt"),
            Option(r.getAs[Integer]("host_rank")).map(_.intValue).getOrElse(Int.MinValue),
            Option(r.getAs[Integer]("depth")).map(_.intValue).getOrElse(Int.MinValue),
            Option(r.getAs[java.lang.Long]("discovered_seq")).map(_.longValue).getOrElse(Long.MinValue))
        }
      case _ => Seq.empty
    }
  }

  /** Per `key` value: row count, XOR and low-word sum of the rows' hashes
    * (order-independent; equal tables give equal digests). */
  private def digests(df: DataFrame, key: String, prefix: String): Map[String, String] = {
    val h = xxhash64(df.columns.filter(_ != key).map(col).toSeq: _*)
    df.groupBy(col(key)).agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(0xFFFFFFFFL)))
      .collect().map { r =>
        s"$prefix:${r.getInt(0)}" ->
          s"${r.getLong(1)}:${java.lang.Long.toHexString(r.getLong(2))}:${r.getLong(3)}"
      }.toMap
  }

  /** Per round: digest of (round, crawl_order, url_norm) and of the
    * products the round committed. */
  def digests(e: CrawlEngine): Map[String, String] = {
    val sched = e.scheduleTable.read().map(s => digests(
      s.select(col("round"), col("crawl_order"), col("url_norm")).withColumn("__r", col("round")),
      "__r", "sched")).getOrElse(Map.empty)
    val cur = e.productsTable.currentSnapshot.map(_.id).getOrElse(0)
    val perRound = (1 to cur).flatMap(id => e.productsTable.snapshotAt(id)
      .filter(_.lineageJson.startsWith("round:"))
      .flatMap(s => e.productsTable.readDelta(s.parent, s.id)
        .map(_.withColumn("__r", lit(s.lineageJson.stripPrefix("round:").toInt)))))
    sched ++ perRound.reduceOption(_ unionByName _).map(digests(_, "__r", "products"))
      .getOrElse(Map.empty)
  }

  def productNames(e: CrawlEngine): Seq[(String, String, String)] =
    e.productsTable.read().map(_.select(col("product_id"), col("name_en"), col("name_ar"))
      .distinct().collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))
      .getOrElse(Seq.empty)
}
