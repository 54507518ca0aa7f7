package graft

import graft.queries.GraftQueries
import graft.util.CacheScope

/** VERDICT r03 #8: the catalog queries that persist() internally must not
  * leak cache in a long-lived session — running each through
  * GraftQueries.scoped and closing the scope leaves ZERO cached RDD blocks
  * behind (the Bench/Verify harnesses clear the whole session cache instead;
  * a user looping these in a shared session cannot).
  */
class CacheScopeQueriesSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("every persisting catalog query releases its caches via its scope") {
    // start clean so leftover caches from earlier suites don't mask a leak
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    GraftQueries.scoped.foreach { case (name, fn) =>
      val scope = new CacheScope
      try {
        val n = fn(spark, sfDir, scope).queryExecution.toRdd.count()
        assert(n >= 0, name)
      } finally scope.unpersistAll(blocking = true)
      // localCheckpoint blocks (connected components inside q_dedup_pipeline)
      // are lineage state, not user persists — they unpin once unreferenced;
      // exclude them from the leak check (isLocallyCheckpointed is
      // private[spark] to Scala but public in bytecode — reflect)
      val isLocalCp = classOf[org.apache.spark.rdd.RDD[_]].getMethod("isLocallyCheckpointed")
      val leaked = spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => isLocalCp.invoke(r).asInstanceOf[Boolean])
      assert(leaked.isEmpty,
        s"$name leaked ${leaked.size} cached RDD(s): ${leaked.map(_.name).mkString(", ")}")
    }
  }

  test("unscoped q_seen_antijoin_cuckoo leaves no pinned RDD behind") {
    // the unscoped catalog entry (what Verify/Bench/TimeQuery run) has only
    // the session-wide clearCache() to release with: a pinned sketch RDD is
    // a plain RDD persist that clearCache() does not reach. The results are
    // kept, as a caller holding them would: that keeps every RDD of their
    // lineage reachable, so a leaked persist cannot vanish by GC either.
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val before = spark.sparkContext.getPersistentRDDs.size
    val kept = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val after = (1 to 3).map { _ =>
      val df = SparkEntry.queries("q_seen_antijoin_cuckoo")(spark, sfDir)
      kept += df
      assert(df.queryExecution.toRdd.count() > 0)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.size
    }
    assert(after.forall(_ <= before), s"persistent RDDs: $before before, $after after each run")
  }
}
