package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Synthetic
import graft.model.Page

/** Seeded inputs. The seed offsets the `Synthetic` id range, so URL hashes
  * change from seed to seed while the host skew (a function of the id's
  * mix) and the share of pre-seen rows hold.
  * Generated tables are cached on disk keyed by (workload, seed, size) and
  * regenerated when the key or the generator version differs. */
object Inputs {
  val Version = 7
  /** Cached input sets kept per workload; older ones are deleted. */
  val Keep = 3

  def idBase(seed: Long): Long = 1000000L + seed * 100000000L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  /** The cache dir for `key`, generated by `gen(dir)` unless a complete
    * set with the same key and version is already there. */
  def cached(root: String, workload: String, key: String)(gen: String => Unit): String = {
    val dir = new File(root, s"$workload-$key")
    val marker = new File(dir, "_READY")
    val stamp = s"v$Version $workload $key"
    val fresh = marker.isFile && new String(Files.readAllBytes(marker.toPath), UTF_8) == stamp
    if (!fresh) {
      deleteTree(dir)
      dir.mkdirs()
      gen(dir.getPath)
      Files.write(marker.toPath, stamp.getBytes(UTF_8))
    }
    marker.setLastModified(System.currentTimeMillis())
    Option(new File(root).listFiles).getOrElse(Array.empty)
      .filter(d => d.getName.startsWith(s"$workload-") && d != dir)
      .sortBy(d => -new File(d, "_READY").lastModified())
      .drop(Keep - 1).foreach(deleteTree)
    dir.getPath
  }

  /** `Synthetic.pages` (EN and AR) for the given (id, batch) rows, with
    * their batch. */
  def htmlPages(spark: SparkSession, ids: DataFrame): DataFrame = {
    import spark.implicits._
    ids.as[(Long, Int)].flatMap { case (id, batch) =>
      Seq("en", "ar").map(lang => (Page(Synthetic.url(id, lang), Synthetic.warcTs(id),
        Synthetic.pageHtml(id, lang).getBytes(UTF_8), Synthetic.expectedText(id, lang), lang), batch))
    }.select(col("_1.*"), col("_2").as("batch"))
  }

  // ---------------- gate_heavy ----------------------------------------------

  /** Batch r of m raw frontier rows; odd rows are pre-seen. */
  def gateBatches(spark: SparkSession, seed: Long, m: Long, batches: Int): DataFrame = {
    val base = idBase(seed)
    spark.range(base, base + m * batches, 1, 8)
      .select(
        concat(lit("cat"), (col("id") % 8).cast("string")).as("category"),
        udf((id: Long) => Synthetic.url(id, "en")).apply(col("id")).as("url"),
        lit(false).as("is_processed"),
        col("id").as("discovered_seq"),
        ((col("id") - base) / m).cast("int").as("batch"),
        ((col("id") - base) % 2 === 1).as("pre_seen"))
  }

  /** n random 64-bit hashes standing in for a long crawl's seen history. */
  def fillerHashes(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 8)
      .select(udf((i: Long) => Synthetic.mix2(Synthetic.Seed, i)).apply(col("id")).as("url_hash"))

  // ---------------- recrawl_window ------------------------------------------

  def spinneysUrl(id: Column): Column = concat(lit("https://spinneys-egypt.com/en/item-"), id)

  /** Three rotating batches of b raw frontier rows. */
  def recrawlBatches(spark: SparkSession, seed: Long, b: Long): DataFrame = {
    val base = idBase(seed)
    spark.range(base, base + 3 * b, 1, 8).select(
      concat(lit("cat"), ((col("id") - base) / b).cast("int").cast("string")).as("category"),
      spinneysUrl(col("id")).as("url"),
      lit(false).as("is_processed"),
      col("id").as("discovered_seq"),
      ((col("id") - base) / b).cast("int").as("batch"))
  }

  /** Spinneys GraphQL detail documents; names are `Synthetic`'s fields. */
  def recrawlPages(spark: SparkSession, batches: DataFrame): DataFrame = {
    def doc(ar: Boolean) = udf { (id: Long) =>
      val name = if (ar) Synthetic.nameAr(id) else Synthetic.nameEn(id)
      s"""{"data":{"product":{"id":$id,"sku":"R$id","name":"$name","brand":null,""" +
        s""""thumbnail":{"url":"https://img.example.com/r$id.jpg"},""" +
        s""""categories":[{"name":"${Synthetic.category(id)}"}],"price_range":""" +
        """{"maximum_price":{"final_price":{"value":10.50},"regular_price":{"value":12.00}}}}}}"""
    }
    Seq(false, true).map { ar =>
      batches.select(
        col("url"),
        timestamp_millis(lit(1700000000000L) + col("discovered_seq") % 86400000L).as("warc_ts"),
        encode(doc(ar)(col("discovered_seq")), "UTF-8").as("html"),
        lit("").as("text"),
        lit(if (ar) "ar" else "en").as("lang"),
        col("batch"))
    }.reduce(_ unionByName _)
  }
}
