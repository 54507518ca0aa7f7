package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one JVM-wide session; suites run in
  * the forked test JVM sequentially). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep the session for later suites

  /** Leaves the on-disk state of a pointer replace (`TableIO.replacePointer`)
    * killed between its delete and its rename: `ptr` is gone and its closed
    * sibling `.<name>.tmp` holds the content `ptr` had. */
  protected def tearPointerSwap(ptr: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(ptr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")))
  }

  /** Runs `body` with Spark's broadcast limit
    * (`spark.sql.autoBroadcastJoinThreshold`) at `limit`, then restores it:
    * the session is shared by every suite. */
  protected def withBroadcastLimit[T](limit: String)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, limit)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
